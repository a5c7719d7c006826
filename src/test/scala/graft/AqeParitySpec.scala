package graft


/** AQE-on vs AQE-off result parity for the queries whose operator
  * internals round 6 touched (D8Pick, Components union-find seeding,
  * Expand's accumulator convergence, TopK.PairAgg, MannKendall): the
  * bench sweep runs AQE ON (Spark 4 default) while the scaling-ladder
  * workers run AQE OFF, so a result that depended on adaptive
  * re-planning (or on captured partitioning only one mode preserves)
  * would ship green in one surface and wrong in the other. Rows are
  * compared as multisets at sf0.001.
  */
class AqeParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val touched = Seq("q126_flow_dir", "q127_flow_accum",
    "q128_watershed", "q140_patch_clump", "q119_hotspot_clusters",
    "q56_dedup_components", "q53_ann_topk", "q155_mann_kendall",
    "q30_expand_fixpoint", "q115_pagerank")

  /** The 10 most shuffle-intensive UNTOUCHED queries by Exchange
    * mentions in their round-6 formatted plans (`Probe plan <name>`
    * prints one; q89 34, q121 34, q124 32, q52 22, q45 22,
    * q180 22, q125 22, q190 20, q103 20, q54 18), plus q59 whose
    * first-colliding-band gate this round added — VERDICT r05 next #4
    * asked for AQE parity over exactly this set. */
  private val shuffleHeavy = Seq("q89_ann_ivfpq", "q121_triangle_count",
    "q124_bm25_topk", "q52_ann_ivf", "q45_lsh_candidates",
    "q180_quadtree_agg", "q125_funnel", "q190_euler_characteristic",
    "q103_class_balance", "q54_jaccard_neardup", "q59_neardup_bucketed")

  private def assertParity(names: Seq[String]): Unit = {
    val all = SparkEntry.queries
    names.foreach { name =>
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val on = all(name)(spark, sfDir).collect().map(_.toString).sorted
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = all(name)(spark, sfDir).collect().map(_.toString).sorted
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(on.length == off.length, s"$name: row count differs on/off AQE")
      assert(on.sameElements(off), s"$name: rows differ with AQE on vs off")
    }
  }

  test("round-6-touched queries return identical rows with AQE on/off") {
    assertParity(touched)
  }

  test("10 most shuffle-intensive untouched queries (+ q59) return " +
    "identical rows with AQE on/off") {
    assertParity(shuffleHeavy)
  }
}
