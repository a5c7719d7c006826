package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cart, Polygon}
import graft.sql.GraftFunctions._
import graft.world.{World, WorldSpec}

/** The model pipeline (SURVEY.md §3.1 stages 4-13) over a tile table:
  * fit per-(region, driver) CART trees on the collected training
  * slice, score cells with the packed-forest vote, then Expand,
  * rasterize and write the per-class loss masks as checkpointed stages.
  *
  * Architecture notes (vs the reference):
  *  - the 85-fold join chain (R:209-228/249-269) is ONE pixel-index
  *    explode per tile (`cells`); every band is read lazily from the
  *    tile payload (`band`) — no join, no band arrays, no wide rows.
  *    The loss band has its own payload column (`loss`), so a plan
  *    that needs only the loss never scans the 86-band `bytes`;
  *  - training is ~5k rows (R:204-205): collected to the driver and fit
  *    there (SURVEY.md §2.9 M1); the 35 fitted trees ship back as one
  *    `Cart.PackedForest` referenced by a single codegen'd expression
  *    (M3), so inference needs no UDF, no broadcast variable and no
  *    extra shuffle, and the generated code does not grow with the
  *    trees: the region lookup, the tree walks and the argmax vote
  *    evaluate in one projection over the cell frame;
  *  - classes 6 and 7 are dropped from training by default (notebook
  *    cell 36 intent; the R script only drops 7 at R:204 — configurable
  *    via `dropClasses`).
  */
object Pipeline {

  val NumDrivers = 5
  /** Block size (grid units) of the PIP covering behind `classes`. At
    * B=8 on the real geometry the boundary fraction is a few percent
    * (~perimeter*B/area), so nearly every pixel resolves its region
    * from the block map in O(1) and the ray-cast survives only along
    * region boundaries. */
  val CoverB = 8

  final case class Config(
      dropClasses: Set[Int] = Set(6, 7),
      confidenceFloor: Double = 0.5, // strict < keeps the class (R:382)
      lossFloor: Double = 0.005, // R:407
      cartParams: Cart.Params = Cart.Params(),
      pruneCp: Double = 0.02) // R:313

  /** The fused cell frame: (cell_id, tile_id, bytes, loss, p), one row
    * per in-grid pixel of `tiles`, p its index in tile `tile_id`. Band
    * values are NOT decoded here; consumers read them lazily via
    * `band`, and a plan that reads only band 0 leaves `bytes`
    * unreferenced, so the scan drops it. The in-grid guard (two integer
    * compares, trivial beside the ray-cast) drops the NaN padding of
    * partial edge tiles. */
  def cells(tiles: DataFrame, spec: WorldSpec): DataFrame =
    tiles.select(col("tile_id"), col("bytes"), col("loss"),
        explode(sequence(lit(0), lit(spec.pixPerTile - 1))).as("p"))
      .filter(spec.inGridAt(col("tile_id"), col("p")))
      .select(spec.cellOf(col("tile_id"), col("p")).as("cell_id"),
        col("tile_id"), col("bytes"), col("loss"), col("p"))

  /** Band b of the current `cells` pixel, read straight from its
    * payload: band 0 (the loss) from `loss`, bands >= 1 from `bytes`. */
  def band(spec: WorldSpec, b: Int): Column =
    if (b == 0) float_at(col("loss"), col("p")).cast("double")
    else float_at(col("bytes"), col("p") + lit(b * spec.pixPerTile))
      .cast("double")

  /** `cells` with bands read out as doubles: (cell_id, loss, b<k> for
    * each k in `bands`) — the raster->vector scan (S3). */
  def cellBands(tiles: DataFrame, spec: WorldSpec,
      bands: Seq[Int] = Nil): DataFrame =
    cells(tiles, spec).select(col("cell_id") +: band(spec, 0).as("loss") +:
      bands.map(b => band(spec, b).as(s"b$b")): _*)

  /** Fit the (region x driver) tree matrix from the collected training
    * slice. Key: (region_id, driver) -> pruned tree. */
  def fitTrees(training: Array[(Int, Int, Array[Double])], nRegions: Int,
      cfg: Config): Map[(Int, Int), Cart.Tree] = {
    (1 to nRegions).flatMap { r =>
      val regional = training.filter(_._1 == r)
      (1 to NumDrivers).map { d =>
        val xs = regional.map(_._3)
        val y = regional.map(t => if (t._2 == d) 1.0 else 0.0)
        val tree =
          if (xs.isEmpty) Cart.Leaf(0.0, 0, 0.0)
          else Cart.prune(Cart.fit(xs, y, cfg.cartParams), cfg.pruneCp)
        (r, d) -> tree
      }
    }.toMap
  }

  /** Fit the tree matrix on the labeled cells of `tiles` (R:191-319):
    * region first (cells outside every polygon drop, R:273-274), label
    * from the training hash, excluded classes dropped (R:204-205 vs nb
    * cell 36); the slice is collected driver-side. */
  def fit(tiles: DataFrame, spec: WorldSpec, polys: Array[Polygon],
      cfg: Config): Map[(Int, Int), Cart.Tree] = {
    val nf = spec.nBands - 1
    val training = cells(tiles, spec)
      .select(col("*"),
        region_explode(spec.pxOf(col("cell_id")), spec.pyOf(col("cell_id")),
          polys).as("region_id"))
      .withColumn("tclass", World.trainingClassCol(col("cell_id")))
      .filter(col("tclass") > 0 &&
        !col("tclass").isInCollection(cfg.dropClasses))
      .select(col("region_id") +: col("tclass") +:
        (1 to nf).map(b => band(spec, b).as(s"b$b")): _*)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1),
        (2 until 2 + nf).map(r.getDouble).toArray))
    fitTrees(training, spec.nRegions, cfg)
  }

  /** Fit + vote over the synthetic world `spec` (stages 4-9,
    * R:191-411): (cell_id, region_id, class, confidence) for every
    * loss-bearing in-region cell, with the trees `fit` on every tile.
    * region_explode ray-casts once per cell and drops the no-region
    * cells; one ForestVote expression then yields class and confidence. */
  def fitPredictVote(s: SparkSession, spec: WorldSpec,
      cfg: Config = Config()): DataFrame = {
    val tiles = World.tilesDF(s, spec)
    val polys = World.polygons(spec)
    val forest = Cart.PackedForest(fit(tiles, spec, polys, cfg),
      spec.nRegions, NumDrivers)
    cells(tiles, spec)
      .select(col("cell_id"), col("bytes"), col("loss"), col("p"),
        region_explode(spec.pxOf(col("cell_id")), spec.pyOf(col("cell_id")),
          polys).as("region_id"))
      .filter(band(spec, 0) > 0)
      .select(col("cell_id"), col("region_id"),
        forest_vote(col("loss"), col("bytes"), col("p"), col("region_id"),
          forest, spec.pixPerTile, cfg.lossFloor, cfg.confidenceFloor)
          .as("vote"))
      .select(col("cell_id"), col("region_id"), col("vote.class"),
        col("vote.confidence"))
  }

  /** Per-cell class frame over every in-grid cell of `tiles`: (cell_id,
    * final_class) with -1 = NoData (zero loss, or outside every region
    * — the reference's NA cells, absent from its rasters). One
    * DriverClassifyAt per cell resolves the region from `cover` or by
    * one exact ray-cast, then votes; it reads `bytes` only when the
    * forest has a split. */
  def classes(tiles: DataFrame, spec: WorldSpec, polys: Array[Polygon],
      cover: Covering.Blocks, trees: Map[(Int, Int), Cart.Tree],
      cfg: Config): DataFrame = {
    val forest = Cart.PackedForest(trees, spec.nRegions, NumDrivers)
    cells(tiles, spec)
      .select(col("cell_id"),
        when(band(spec, 0) <= 0.0, -1L)
          .otherwise(driver_classify_at_covered(col("loss"), col("bytes"),
            col("p"), spec.pxOf(col("cell_id")), spec.pyOf(col("cell_id")),
            polys, forest, cover.const, cover.nbx, cover.b, spec.pixPerTile,
            cfg.lossFloor,
            cfg.confidenceFloor)).as("final_class"))
  }

  /** One stage of a model run: its snapshot and its wall seconds. */
  final case class StageRun(name: String, df: DataFrame, seconds: Double)

  /** The full model pipeline (stages 4-13 of SURVEY.md §3.1) as
    * RESUMABLE checkpointed stages under `dir`:
    *  - classified: `classes` (-1 = NoData);
    *  - expanded: exactly `expandIters` Expand rings (the ArcGIS
    *    analog's NumberCells, R:445-454); NoData stays untouched;
    *  - class_gtiff: the class map as georeferenced GeoTIFF tiles
    *    (rastOut, R:425-441);
    *  - loss_masks: the reference's deliverable (R:510-551) — each
    *    cell's loss joined to its final class (R:521), then the six
    *    per-class CSVs under `dir`/csv in one write and the six
    *    rasters. `cellBands` has one row per cell, so the reference's
    *    group/mean dedupe (R:516-520) is the identity and is skipped.
    * Each stage snapshots to parquet keyed by a fingerprint of its
    * upstream and its own configuration (classified: grid, polygons,
    * trees and `cfg`); rerunning after a kill reloads finished stages
    * and recomputes only the rest (see store.log). */
  def runModel(s: SparkSession, spec: WorldSpec, tiles: DataFrame,
      polys: Array[Polygon], trees: Map[(Int, Int), Cart.Tree], cfg: Config,
      dir: String, expandIters: Int = 8): (Checkpoint.Store, Seq[StageRun]) = {
    val store = new Checkpoint.Store(s, dir)
    val runs = Seq.newBuilder[StageRun]
    def stage(name: String, fp: String, inputs: String*)(
        body: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = store.stage(name, fp, inputs)(body)
      runs += StageRun(name, df, (System.nanoTime() - t0) / 1e9)
      df
    }

    val fpCls = Checkpoint.fingerprint("classified", spec,
      polys.toSeq.map(p => (p.regionId, p.xs.toSeq, p.ys.toSeq,
        p.ringStarts.toSeq)),
      trees.toSeq.sortBy(_._1), cfg)
    val classified = stage("classified", fpCls) {
      classes(tiles, spec, polys,
        Covering.build(polys, spec.rows, spec.cols, CoverB), trees, cfg)
    }

    val fpExp = Checkpoint.fingerprint("expanded", fpCls, expandIters)
    val expanded = stage("expanded", fpExp, "classified") {
      Expand.run(s, spec, classified, maxIters = expandIters,
        requireConvergence = false)
    }

    stage("class_gtiff", Checkpoint.fingerprint("class_gtiff", fpExp),
        "expanded") {
      Rasterize(spec, expanded.filter(col("final_class") >= 0),
        "final_class", fmt = "gtiff")
    }

    stage("loss_masks", Checkpoint.fingerprint("loss_masks", fpExp, "gtiff"),
        "expanded") {
      val loss = cellBands(tiles, spec)
        .select(col("cell_id"), col("loss").as("loss_mean"))
      val joined = loss.join(
        expanded.select("cell_id", "final_class"), Seq("cell_id"))
        .filter(col("final_class") >= 0)
      graft.sinks.Csv.writeClassMasks(joined, s"$dir/csv", "final_class",
        "loss_mean", classes = 0 to 5)
      Rasterize.byClass(spec, joined, "loss_mean", "final_class",
        fmt = "gtiff")
    }
    (store, runs.result())
  }
}
