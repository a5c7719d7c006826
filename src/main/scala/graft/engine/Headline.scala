package graft.engine

import java.io.{File, UncheckedIOException}
import java.nio.file.{NoSuchFileException, Files => JFiles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.core.Cart
import graft.sql.GraftFunctions._
import graft.world.{World, WorldSpec}

/** The headline benchmark job — the metric BASELINE.json commits to:
  * "tiles/sec for H3-encode + PIP spatial join + driver-class
  * assignment on the 10km global forest-loss tile grid".
  *
  * World at the reference's TRUE geometry: 1737 x 4008 = 6,961,896
  * cells — the exact global grid (`Supplemental_Data_1.R:54,117`,
  * asserted R:177-184) — and 85 predictor bands + the loss band
  * (reference: 85 GeoTIFF variables, R:142-166), as 28 x 63 = 1764
  * tiles of 64x64 (partial edge tiles NaN-padded, dropped by the
  * in-grid guard) in the Iceberg-shaped image+caption table,
  * materialized once to parquet so the timed job starts from a real
  * columnar scan.
  *
  * The timed pipeline is ONE kernel call per tile (TileZonal): no
  * pixel becomes a Spark row. Within the tile loop every band value is
  * read lazily from a binary payload, and the tile's zonal partials are
  * accumulated in dense per-parent slots, so the plan moves 5.7
  * partial rows per tile on average (39 at most) instead of up to 4096
  * pixel rows (the per-pixel explode + hash aggregate spent most of
  * the pass moving rows; the naive arrays_zip + posexplode formulation
  * before it was GC-bound).
  * The loss band has its own payload column (`loss`, 16 KB a tile)
  * beside the 86-band `bytes` (1.41 MB): the plan reads `bytes` only
  * when the forest has a split, so for a split-free forest the scan
  * neither decompresses nor copies the band payload. This is GeoBlocks'
  * shape (EDBT 2021): pre-aggregate per block, then merge the block
  * partials. Stages:
  *   scan (parquet; column pruning reads only tile_id + loss, and
  *      bytes when the forest has a split)
  *   -> TileZonal, per tile, per in-grid pixel (the in-grid guard
  *      skips edge padding):
  *        DriverClassifyAt's fused classify: block-covered PIP (97% of
  *        8x8 blocks are region-constant on this geometry, resolved by
  *        one broadcast array read; boundary blocks pay the exact
  *        banded ray-cast, ONCE per pixel) + packed 7x5 CART forest
  *        walk + vote (argmax, 0.5 confidence, 0.005 loss floor,
  *        R:362-411); -1 = outside every region, skipped
  *        -> H3 encode (Goode inverse projection + hierarchical encode)
  *        -> res-4 parent slot: n_cells, n_classified, loss_sum,
  *           max_class
  *   -> explode the tile's partials (one row per touched parent)
  *   -> salted zonal aggregation by H3 res-4 parent (Salted, salted by
  *      tile id): partial aggregate, then the merge.
  */
object Headline {

  val spec: WorldSpec = WorldSpec(rows = 1737, cols = 4008, tile = 64,
    nRegions = 7, nBands = 86)
  val H3Res = 9
  val SaltBuckets = 16
  /** Fixed slice count of the materialized table: the fleet scaling run
    * assigns one slice directory per executor (partition pruning). */
  val Slices = 4
  /** Region polygons densified to production-like vertex counts (256
    * subdivisions x 5 edges = 1280 edges/region): PIP over realistic
    * boundaries is the compute core of the metric. Bit-identical
    * region assignment to the coarse strips (dyadic densification). */
  val polys: Array[graft.core.Polygon] =
    World.densify(World.polygons(spec), 256)
  /** Block size (grid units) of the PIP covering (Pipeline.CoverB). */
  val CoverB = Pipeline.CoverB
  /** Block covering of the densified region layer (engine/Covering —
    * bit-equal to the exact ray-cast, proven by q72's oracle and
    * re-asserted over this exact geometry in CoreSpec). Built once per
    * JVM, plan-time; ~rows*cols/B^2 ints, carried by the plan as a
    * literal like the polygons themselves. */
  lazy val cover: Covering.Blocks =
    Covering.build(polys, spec.rows, spec.cols, CoverB)
  /** Files in the materialized table: 8 per slice directory, about 55
    * tiles (5.5 MiB) a file. Most of a pass's fixed cost is paid per
    * file and per task, not per tile: at local[1] a pass whose kernel
    * returns nothing still took 1.0-1.2 s of the 2.2 s full pass over
    * 256 files. Per file, the reader copies the Hadoop Configuration
    * (about 20% of executor samples in JFR), reads the footer and
    * builds a reader; per task, the plan's polygon, cover and H3
    * literals are deserialized (about 7 ms) and `Polygon.bands` is
    * rebuilt. Median headline pass on a 4-core VM at local[4] under
    * Bench's split settings (16 MB maxPartitionBytes, 1 MB
    * openCostInBytes), 21 passes a table in one JVM: 0.765 s at 256
    * files (27 scan tasks), 0.621 s at 128, 0.584 s at 64, 0.554 s at
    * 32 (16 scan tasks); 16 files was no faster than 32.
    * Splits in graft.Bench under the same settings: a file under 128 MB
    * is one row group, so a split holds whole files. A slice packs into 8 one-file splits on an
    * 8-core worker, as at 256 files, and into 4 two-file splits on a
    * 2- or 4-core worker, where 256 files gave 7. On the 4-core VM, in
    * a reduced ladder that runs the quarter workers two at a time,
    * every 2- and 4-core worker ran 41-65% more tiles/s at 32 files;
    * the quarter-to-full-grid rate ratio fell from 1.02 to 0.92 at 2
    * cores and rose from 1.00 to 1.10 at 4. Bench's own 32-core
    * ladders were not run at 32 files. */
  val Files = 32
  // Bench's largest slice worker has 8 cores and one whole file is one
  // split: fewer than 8 files a slice leaves its cores idle, and a file
  // count that does not divide into the slices puts one file index in
  // two slice directories.
  require(Files % Slices == 0 && Files / Slices >= 8,
    s"Files ($Files) must be a multiple of Slices ($Slices), 8 or more a slice")
  /** Tag of the table's column layout (World.tileSchema): a table
    * written with another layout sits at another path, so it is rebuilt,
    * never read. */
  val Layout = "loss"
  /** Spec- and layout-keyed path so a spec or schema change invalidates
    * the materialization. */
  val tilesPath: String = s"/tmp/graft_bench_tiles_${spec.rows}x" +
    s"${spec.cols}x${spec.nBands}_f${Files}_$Layout"

  /** Schema of the materialized table: the tile columns plus the
    * `slice` partition column. */
  val tableSchema: StructType =
    World.tileSchema.add(StructField("slice", IntegerType))

  /** The materialized tile table at `path`, read with its known schema
    * (no schema-inference job). A table without slice directories (a
    * cut-out of the full one) reads `slice` as null. */
  def readTiles(s: SparkSession, path: String = tilesPath): DataFrame =
    s.read.schema(tableSchema).parquet(path)

  /** Materialize the tile table to parquet once, after deleting the
    * complete tables an earlier spec, file count or layout left beside
    * it. */
  def ensureTiles(s: SparkSession): Unit = {
    deleteStaleTables(tilesPath)
    if (!new File(s"$tilesPath/_SUCCESS").exists())
      writeTiles(World.tilesDF(s, spec), spec.nTiles, tilesPath)
  }

  /** Write `tiles` (`nTiles` of them, `World.tileSchema`) as the
    * headline's table at `path`. Hive-style partitioning on a slice
    * directory (tile_id quarter): the executor-fleet scaling run reads
    * one slice per executor via partition PRUNING, directories that are
    * not touched at all, the mechanism a production table would use.
    * Shuffle partition k holds exactly the tiles of file index
    * k = floor(tile_id * Files / nTiles), whatever the input's
    * partitioning (no range sampling). The slice is
    * floor(k / (Files / Slices)), so each file is one contiguous tile_id
    * range inside one slice directory, and with nTiles >= Files every
    * slice directory holds exactly Files / Slices files. The partitioned
    * write needs its rows sorted by `slice` and would replace a
    * tile_id-only sort with its own, so the sort is (slice, tile_id). */
  def writeTiles(tiles: DataFrame, nTiles: Int, path: String): Unit =
    tiles
      .withColumn("slice", (col("tile_id") * Slices / nTiles).cast("int"))
      .repartitionById(Files, (col("tile_id") * Files / nTiles).cast("int"))
      .sortWithinPartitions("slice", "tile_id")
      .write.mode("overwrite").partitionBy("slice").parquet(path)

  /** The names `tilesPath` takes: `graft_bench_tiles_<R>x<C>x<B>_f<N>`
    * with an optional `_<tag>`. */
  private val TableName = """graft_bench_tiles_\d+x\d+x\d+_f\d+(_[A-Za-z0-9]+)?""".r

  /** Delete every complete table beside `current` whose name is another
    * `tilesPath`, with its `.trees.bin`. Complete means written through
    * (`_SUCCESS`) and sliced (`slice=0/`). The current table, other
    * names, cut-outs without slice directories (such as perfbench's
    * `<table>_model32`) and tables still being written are left alone.
    * Nothing marks a table as in use: a process of another checkout
    * that is reading a stale table loses it. Two processes deleting the
    * same table at once is no error. Returns the names deleted. */
  def deleteStaleTables(current: String): Seq[String] = {
    val cur = new File(current).getAbsoluteFile
    Option(cur.getParentFile.listFiles).toSeq.flatten
      .filter(f => f.getName != cur.getName &&
        TableName.matches(f.getName) &&
        new File(f, "_SUCCESS").isFile && new File(f, "slice=0").isDirectory)
      .map { f =>
        try {
          val walk = JFiles.walk(f.toPath)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => JFiles.deleteIfExists(p))
          finally walk.close()
        } catch {
          // another process deleted (part of) the table first
          case _: NoSuchFileException =>
          case e: UncheckedIOException
            if e.getCause.isInstanceOf[NoSuchFileException] =>
        }
        JFiles.deleteIfExists(new File(s"$f.trees.bin").toPath)
        f.getName
      }
  }

  private val treesPath = s"$tilesPath.trees.bin"

  /** Fitted trees, cached to disk so repeated bench workers skip the
    * (untimed) sample-collect + fit. */
  def loadOrFitTrees(s: SparkSession): Map[(Int, Int), Cart.Tree] = {
    val f = new java.io.File(treesPath)
    if (f.exists()) {
      val in = new java.io.ObjectInputStream(new java.io.FileInputStream(f))
      try in.readObject().asInstanceOf[Map[(Int, Int), Cart.Tree]]
      finally in.close()
    } else {
      // the ~1/37 tile sample: prep, not part of the timed job
      val trees = Pipeline.fit(
        readTiles(s).filter(col("tile_id") % 37 === 0), spec,
        polys, Pipeline.Config())
      val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(f))
      try out.writeObject(trees) finally out.close()
      trees
    }
  }

  /** Plan over input slice `slice` of `nSlices` (slice directories, so
    * the filter is pure partition pruning). slice 0 of 1 = the full
    * table; the executor-fleet scaling run gives each of the 4N-level
    * worker JVMs one of the $Slices slices. */
  def plan(s: SparkSession, trees: Map[(Int, Int), Cart.Tree],
      slice: Int = 0, nSlices: Int = 1): DataFrame = {
    require(nSlices == 1 || nSlices == Slices, s"nSlices must be 1 or $Slices")
    val tiles = readTiles(s)
    planFrom(if (nSlices == 1) tiles
      else tiles.filter(col("slice") === slice), trees)
  }

  /** Per-cell class frame over the full tile table: (cell_id,
    * final_class) with -1 = NoData (zero loss, or outside every region
    * — the reference's NA cells, absent from its rasters) — the input
    * to the Expand stage of the full model run. The same fused
    * single-ray-cast classify as the benchmark plan's tile kernel. */
  def cellClasses(s: SparkSession, trees: Map[(Int, Int), Cart.Tree]): DataFrame =
    Pipeline.classes(readTiles(s), spec, polys, cover, trees,
      Pipeline.Config())

  /** Per-cell loss (band 0) from the tile table's `loss` column. */
  def cellLoss(s: SparkSession): DataFrame =
    Pipeline.cellBands(readTiles(s), spec)

  /** The headline plan over a given tile table (parquet scan or a
    * cached/cluster-local source). */
  def planFrom(tiles: DataFrame, trees: Map[(Int, Int), Cart.Tree]): DataFrame = {
    val cfg = Pipeline.Config()
    val forest = Cart.PackedForest(trees, spec.nRegions, Pipeline.NumDrivers)
    val zones = tiles.select(col("tile_id"),
      explode(tile_zonal(col("tile_id"), col("loss"), col("bytes"), spec,
        H3Res, polys, forest, cover, cfg.lossFloor, cfg.confidenceFloor))
        .as("z"))
    Salted.aggregate(zones,
      keys = Seq("h3r4" -> col("z.h3r4")),
      saltSrc = col("tile_id"), salts = SaltBuckets,
      aggs = Seq(
        Salted.Agg("n_cells", "sum", col("z.n_cells")),
        Salted.Agg("n_classified", "sum", col("z.n_classified")),
        Salted.Agg("loss_sum", "sum", col("z.loss_sum")),
        Salted.Agg("max_class", "max", col("z.max_class"))))
  }
}
