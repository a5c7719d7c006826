package graft.engine

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
  /** Files in the materialized table: fine-grained input splits (64 per
    * 8-core slice worker = 8 waves) so a straggling task — host steal is
    * bursty on this box — costs ~1.5% of a pass, not 12% (16 splits per
    * slice measured raw scaling 0.71; granularity is the cheap half of
    * that gap, the rest is the shared-DRAM ceiling). */
  val Files = 256
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

  /** Materialize the tile table to parquet once. */
  def ensureTiles(s: SparkSession): Unit = {
    val done = new java.io.File(s"$tilesPath/_SUCCESS")
    if (!done.exists()) {
      // Hive-style partitioning on a slice directory (tile_id quarter):
      // the executor-fleet scaling run reads one slice per executor via
      // partition PRUNING — directories that are not touched at all —
      // the same mechanism a production table would use. Range
      // partitioning within a slice keeps files tile-contiguous.
      World.tilesDF(s, spec)
        .withColumn("slice",
          (col("tile_id") * Slices / spec.nTiles).cast("int"))
        .repartitionByRange(Files, col("tile_id"))
        .sortWithinPartitions("tile_id")
        .write.mode("overwrite").partitionBy("slice").parquet(tilesPath)
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
