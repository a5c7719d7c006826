package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cart, Codec, Geom, GoodeGrid, H3Lite, Igh}
import graft.engine.{Headline, Pipeline}
import graft.sql.GraftFunctions._

/** Layer measurements that need their own calls: the headline's
  * noop-sink cost ladder, its 1-core baseline, and the core kernels. */
object Layers {
  private val spec = Headline.spec

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Full-grid passes into a noop sink, each rung adding one layer of
    * the headline: scan -> pixel explode -> band read + H3 -> classify
    * -> `Headline.plan` itself (which adds the salted aggregate), one
    * pass each. The lower rungs use the same public GraftFunctions as
    * the plan. */
  def ladder(s: SparkSession, trees: Map[(Int, Int), Cart.Tree],
      tilesDir: String): Seq[(String, Double)] = {
    val T = spec.tile
    val cfg = Pipeline.Config()
    val forest = Cart.PackedForest(trees, spec.nRegions, Pipeline.NumDrivers)
    val cover = Headline.cover
    def tiles = s.read.parquet(tilesDir).select("tile_id", "bytes")
    def cells: DataFrame = {
      val gr = floor(col("tile_id") / spec.tilesX) * T + floor(col("p") / T)
      val gc = (col("tile_id") % spec.tilesX) * T + col("p") % T
      tiles.select(col("tile_id"), col("bytes"),
          explode(sequence(lit(0), lit(spec.pixPerTile - 1))).as("p"))
        .filter(gr < spec.rows && gc < spec.cols)
        .select((gr * spec.cols + gc + 1).cast("long").as("cell_id"),
          col("bytes"), col("p"))
    }
    val px: Column = ((col("cell_id") - 1) % spec.cols).cast("double") + 0.5
    val py: Column =
      floor((col("cell_id") - 1) / spec.cols).cast("double") + 0.5
    def bandsH3 = cells.select(col("cell_id"), col("bytes"), col("p"),
      grid_h3(col("cell_id"), spec.rows, spec.cols, Headline.H3Res).as("h3"),
      float_at(col("bytes"), col("p")).cast("double").as("loss"))
    def classify = bandsH3.select(col("h3"), col("loss"),
      driver_classify_at_covered(col("bytes"), col("p"), px, py,
        Headline.polys, forest, cover.const, cover.nbx, Headline.CoverB,
        spec.pixPerTile, cfg.lossFloor, cfg.confidenceFloor).as("class"))
    Seq(
      "sql.ladder.scan_s" -> noop(tiles),
      // length(bytes) keeps the payload column read, as every later rung
      // needs it
      "sql.ladder.explode_s" ->
        noop(cells.select(col("cell_id"), col("p"), length(col("bytes")))),
      "sql.ladder.bands_h3_s" -> noop(bandsH3.select("h3", "loss")),
      "sql.ladder.classify_s" -> noop(classify),
      "engine.Headline.plan_s" -> noop(Headline.plan(s, trees)))
  }

  /** One slice pass at `cores` task slots (slices are partition
    * directories, so this reads a quarter of the table). */
  def slicePass(s: SparkSession, trees: Map[(Int, Int), Cart.Tree],
      slice: Int): Double = {
    val t0 = System.nanoTime()
    Headline.plan(s, trees, slice, Headline.Slices).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def tilesInSlice(slice: Int): Int =
    (0 until spec.nTiles).count(t => t * Headline.Slices / spec.nTiles == slice)

  /** ns per call of the per-cell core kernels on `n` seeded cells of
    * the true grid, read from `tiles` payloads of the real table. */
  def kernels(s: SparkSession, trees: Map[(Int, Int), Cart.Tree],
      tilesDir: String, seed: Long, n: Int = 20000): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val nPix = spec.pixPerTile
    val tileIds = Seq.fill(8)(rnd.nextInt(spec.nTiles)).distinct
    val payload = s.read.parquet(tilesDir)
      .filter(col("tile_id").isin(tileIds: _*))
      .select("tile_id", "bytes").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val ids = tileIds.filter(payload.contains)
    val tIdx = Array.fill(n)(ids(rnd.nextInt(ids.size)))
    val pIdx = Array.tabulate(n) { i =>
      var p = rnd.nextInt(nPix)
      while (!spec.inGrid(tIdx(i), p)) p = rnd.nextInt(nPix)
      p
    }
    val cell = Array.tabulate(n)(i => spec.cellId(tIdx(i), pIdx(i)))
    val bytes = tIdx.map(payload)
    val px = cell.map(c => ((c - 1) % spec.cols).toDouble + 0.5)
    val py = cell.map(c => ((c - 1) / spec.cols).toDouble + 0.5)
    val g = GoodeGrid.reference
    val gx = cell.map(g.centroidX)
    val gy = cell.map(g.centroidY)
    val polys = Headline.polys
    val region = Array.tabulate(n)(i => Geom.regionOf(polys, px(i), py(i)))
    val cfg = Pipeline.Config()
    val pf = Cart.PackedForest(trees, spec.nRegions, Pipeline.NumDrivers)
    val cover = Headline.cover
    var sink = 0.0

    /** Warm once, then time whole sweeps over the sample for ~0.3 s. */
    def ns(name: String)(f: Int => Double): (String, Double) = {
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      var calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) {
        i = 0
        while (i < n) { sink += f(i); i += 1 }
        calls += n
      }
      name -> (System.nanoTime() - t0).toDouble / calls
    }
    val out = Seq(
      ns("core.Geom.regionOf_ns")(i => Geom.regionOf(polys, px(i), py(i))),
      ns("core.Cart.classify_ns") { i =>
        if (region(i) < 0) 0.0
        else Cart.PackedForest.classify(pf, bytes(i), pIdx(i), region(i),
          nPix, cfg.lossFloor, cfg.confidenceFloor).toDouble
      },
      ns("core.Cart.classifyAtCovered_ns")(i =>
        Cart.PackedForest.classifyAtCovered(pf, polys, cover.const, cover.nbx,
          Headline.CoverB, bytes(i), pIdx(i), px(i), py(i), nPix,
          cfg.lossFloor, cfg.confidenceFloor).toDouble),
      ns("core.H3Lite.gridCellToH3_ns")(i =>
        H3Lite.gridCellToH3(cell(i), spec.rows, spec.cols,
          Headline.H3Res).toDouble),
      ns("core.Igh.inverse_ns")(i => Igh.inverse(gx(i), gy(i))._1),
      ns("core.Codec.decodeF32Band_ns")(i =>
        Codec.decodeF32Band(bytes(i), nPix, 1 + i % (spec.nBands - 1))(0)))
    if (sink == 42.4242) println("") // keep the kernels' results live
    out
  }
}
