package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.core.Cart
import graft.engine.{Covering, Headline, Pipeline}
import graft.world.World

/** Codegen vs interpreted parity for every kernel GraftFunctions calls
  * through StaticInvoke. Each kernel runs in one query whose plans call
  * it, twice:
  *  - generated code with `spark.sql.codegen.fallback=false`, so a
  *    kernel without a static forwarder fails its compile loudly instead
  *    of silently running interpreted;
  *  - interpreted (`spark.sql.codegen.factoryMode=NO_CODEGEN`, no
  *    whole-stage codegen), where StaticInvoke reflects the method.
  * Rows are compared as multisets at sf0.001, as in AqeParitySpec, and
  * the plans each query executed must call its kernels, so the table
  * cannot go stale silently. */
class CodegenParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Kernel, as plans print the call -> a registry query that calls it:
    * the fewest cheap queries that cover every kernel. */
  private val registry: Seq[(String, String)] = Seq(
    "graft.core.S2Lite.encode" -> "q67_s2_cell",
    "graft.sql.S2Parent.eval" -> "q67_s2_cell",
    "graft.sql.ClipStatsS16.eval" -> "q82_audio_resample",
    "graft.sql.DecimateS16.eval" -> "q82_audio_resample",
    "graft.sql.DecodeBand.eval" -> "q74_image_resize",
    "graft.sql.Resize2x.eval" -> "q74_image_resize",
    "graft.core.H3Lite.encodeFromTable" -> "q75_goode_chain",
    "graft.sql.GridLatLng.eval" -> "q75_goode_chain",
    "graft.core.Codec.floatAt" -> "q29_tree_fit_predict",
    "graft.core.Geom.regionOf" -> "q29_tree_fit_predict",
    "graft.core.Geom.regionOfCovered" -> "q72_pip_covered",
    "graft.sql.ForestVote.eval" -> "q29_tree_fit_predict",
    "graft.sql.RectClipArea.eval" -> "q169_overlay_area",
    "graft.sql.BorderStats.eval" -> "q135_border_detect",
    "graft.sql.TileEncode.eval" -> "q135_border_detect",
    "graft.sql.D8Pick.eval" -> "q126_flow_dir",
    "graft.sql.PaClipArea.eval" -> "q171_tabulate_intersect",
    "graft.engine.Layout.zInterleave" -> "q146_geohash",
    "graft.sql.FrameStats.eval" -> "q79_frame_sample",
    "graft.sql.SimHash16.eval" -> "q46_simhash",
    "graft.sql.HistEqStats.eval" -> "q111_hist_equalize",
    "graft.sql.MinHashSigs.eval" -> "q54_jaccard_neardup",
    "graft.sql.Sh3Set.eval" -> "q54_jaccard_neardup",
    "graft.sql.SortedInterSize.eval" -> "q54_jaccard_neardup",
    "graft.sql.Edt.eval" -> "q175_distance_transform",
    "graft.sql.HaarStats.eval" -> "q168_haar_energy",
    "graft.sql.Mode3x3.eval" -> "q99_majority_filter",
    "graft.sql.GreedyNms.eval" -> "q148_box_nms",
    "graft.sql.MediaStats.eval" -> "q76_media_stats",
    "graft.sql.ConvexHull.eval" -> "q172_convex_hull",
    "graft.sql.AudioWindowStats.eval" -> "q81_audio_windows",
    "graft.sql.Lbp.eval" -> "q179_lbp_texture",
    "graft.sql.EdgeStats.eval" -> "q160_edge_density",
    "graft.sql.Sat.eval" -> "q147_integral_image",
    "graft.sql.Gauss5x5.eval" -> "q158_gaussian_blur",
    "graft.sql.RunStats.eval" -> "q167_rle_stats",
    "graft.sql.RepStats.eval" -> "q100_rep_filter",
    "graft.sql.MannKendall.eval" -> "q155_mann_kendall",
    "graft.sql.Upsample2x.eval" -> "q144_upsample2x",
    "graft.core.Geom.windRegionOf" -> "q194_fill_rules",
    "graft.sql.Focal3x3.eval" -> "q152_local_moran",
    "graft.sql.Median3x3.eval" -> "q163_median_filter",
    "graft.sql.Harris5x5.eval" -> "q156_harris_corners",
    "graft.sql.AutoCrop.eval" -> "q139_autocrop",
    "graft.engine.Bloom.mightContain" -> "q86_bloom_pruned_join",
    "graft.sql.Viewshed.eval" -> "q165_viewshed",
    "graft.sql.S2Neighbors.eval" -> "q69_s2_neighbor_join",
    "graft.sql.AudioFingerprint.eval" -> "q83_audio_neardup",
    "graft.sql.Sobel3x3.eval" -> "q98_sobel_gradient",
    "graft.sql.LapStats.eval" -> "q104_tile_sharpness",
    "graft.sql.FramePhash.eval" -> "q85_video_neardup",
    "graft.sql.Mirror.eval" -> "q130_image_flip",
    "graft.sql.ClumpLocal.eval" -> "q140_patch_clump")

  private val spec = World.tiny

  /** The kernels no registry query calls: the model run's fused
    * classify on the tiny world, and the headline's tile kernel over a
    * few true-grid tiles (a region-boundary tile, a padded edge tile,
    * the padded corner) with a forest that splits on band 1. */
  private val direct: Seq[(String, String, () => DataFrame)] = Seq(
    ("graft.sql.TileZonal.eval", "Headline.planFrom over three true-grid " +
      "tiles", () => {
      val hs = Headline.spec
      val tiles = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(13 * hs.tilesX + 8, 5 * hs.tilesX + 62, hs.nTiles - 1), 3)
          .map(World.tileRow(hs, _)), World.tileSchema)
      val trees = (for (r <- 1 to hs.nRegions; d <- 1 to 5) yield {
        val t: Cart.Tree =
          if (d == 2) Cart.Split(0, 128.0, Cart.Leaf(0.9, 1, 0.0),
            Cart.Leaf(0.1, 1, 0.0), 0.5, 2, 0.0)
          else Cart.Leaf(0.3, 1, 0.0)
        (r, d) -> t
      }).toMap
      Headline.planFrom(tiles, trees)
    }),
    ("graft.sql.DriverClassifyAt.eval", "Pipeline.classes on the tiny world",
      () => {
        val tiles = World.tilesDF(spark, spec)
        val polys = World.polygons(spec)
        val cfg = Pipeline.Config()
        Pipeline.classes(tiles, spec, polys,
          Covering.build(polys, spec.rows, spec.cols, Pipeline.CoverB),
          Pipeline.fit(tiles, spec, polys, cfg), cfg)
      }))

  private lazy val executed = {
    val plans = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    })
    plans
  }

  /** The sorted rows of `df()`, built and run under `confs`, and the
    * text of every plan that ran meanwhile. */
  private def run(confs: Map[String, String],
      df: () => DataFrame): (Seq[String], String) = {
    executed.clear()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val d = df()
      val rows = d.collect().map(_.toString).sorted.toSeq
      GraftSparkBridge.waitListenerEmpty(spark.sparkContext)
      (rows, (d.queryExecution.executedPlan.toString +:
        executed.toArray.map(_.toString)).mkString("\n"))
    } finally confs.keys.foreach(spark.conf.unset)
  }

  private val codegen = Map("spark.sql.codegen.fallback" -> "false")
  private val interpreted = Map(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private val cases: Seq[(String, Seq[String], () => DataFrame)] =
    registry.map(_._2).distinct.map { q =>
      (q, registry.filter(_._2 == q).map(_._1),
        () => SparkEntry.queries(q)(spark, sfDir))
    } ++ direct.map { case (k, label, df) => (label, Seq(k), df) }

  cases.foreach { case (label, kernels, df) =>
    test(s"$label: ${kernels.mkString(", ")} give the same rows " +
      "compiled and interpreted") {
      val (compiled, plans) = run(codegen, df)
      kernels.foreach { k =>
        assert(plans.contains(s"static_invoke($k("),
          s"$label ran no $k call:\n$plans")
      }
      val (reflected, _) = run(interpreted, df)
      assert(compiled.nonEmpty, s"$label returned no rows")
      assert(compiled == reflected,
        s"$label: rows differ compiled vs interpreted")
    }
  }
}
