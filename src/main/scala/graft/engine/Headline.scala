package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * The timed pipeline is FUSED: only the pixel index is exploded; every
  * band value is read lazily from a binary payload with the
  * zero-allocation `float_at` kernel. Within the single whole-stage-
  * codegen stage each payload stays one byte[] reference per tile — no
  * band arrays, no per-cell structs, no 86-field rows are ever
  * materialized (the naive arrays_zip + posexplode formulation was
  * measured GC-bound and scaled at ~0.5 efficiency; this shape is
  * compute-bound). The loss band has its own payload column (`loss`,
  * 16 KB a tile) beside the 86-band `bytes` (1.41 MB): the plan reads
  * `bytes` only when the forest has a split, so for a split-free
  * forest the scan neither decompresses nor copies the band payload.
  * Stages:
  *   scan (parquet; column pruning reads only tile_id + loss, and
  *      bytes when the forest has a split)
  *   -> explode pixel index (in-grid guard drops edge padding)
  *   -> grid_h3 (Goode inverse projection + hierarchical encode)
  *   -> DriverClassifyAt: block-covered PIP (97% of 8x8 blocks are
  *      region-constant on this geometry, resolved by one broadcast
  *      array read; boundary blocks pay the exact banded ray-cast,
  *      ONCE per pixel) + packed 7x5 CART forest walk + vote (argmax,
  *      0.5 confidence, 0.005 loss floor, R:362-411) in one kernel
  *      call; -1 = outside every region
  *   -> salted zonal aggregation by H3 res-4 parent (Salted), agg
  *      inputs gated on class >= 0 so no Filter re-evaluates the PIP
  *      (Catalyst pushes filter conditions through projections, which
  *      would ray-cast every pixel twice).
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

  /** H3 res-4 parent of a res-9 H3-lite id: pure bit arithmetic,
    * stays in codegen. Delegates to the shared generalized form so the
    * headline and the oracle-checked q75 chain can never diverge on
    * the id layout. */
  private def h3Parent4(h3: Column): Column =
    graft.sql.GraftFunctions.h3_parent_col(h3, 9, 4)

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
    * to the Expand stage of the full model run. Same fused
    * single-ray-cast projection as the benchmark plan. */
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
    // ONE projection: the PIP runs exactly once per pixel, inside
    // DriverClassifyAt (class = -1 marks no-region). No Filter touches
    // the expensive expression — a filter on a projected column is
    // pushed below the projection by Catalyst and re-evaluates it; the
    // no-region rows are instead excluded by gating every aggregate
    // input on class >= 0 and dropping all-padding zones post-agg
    // (a filter on tiny final-aggregate output).
    val classed = Pipeline.cells(tiles, spec)
      .select(col("cell_id"),
        grid_h3(col("cell_id"), spec.rows, spec.cols, H3Res).as("h3"),
        driver_classify_at_covered(col("loss"), col("bytes"), col("p"),
          Pipeline.px(spec), Pipeline.py(spec), polys, forest, cover.const,
          cover.nbx, CoverB, spec.pixPerTile, cfg.lossFloor,
          cfg.confidenceFloor).as("class"),
        Pipeline.band(spec, 0).as("loss"))
    val inRegion = col("class") >= 0
    Salted.aggregate(classed,
      keys = Seq("h3r4" -> h3Parent4(col("h3"))),
      saltSrc = col("cell_id"), salts = SaltBuckets,
      aggs = Seq(
        Salted.Agg("n_cells", "sum", when(inRegion, 1L).otherwise(0L)),
        Salted.Agg("n_classified", "sum",
          when(col("class") > 0, 1L).otherwise(0L)),
        Salted.Agg("loss_sum", "sum",
          when(inRegion, col("loss")).otherwise(lit(0.0))),
        Salted.Agg("max_class", "max", when(inRegion, col("class")))))
      .filter(col("n_cells") > 0)
  }
}
