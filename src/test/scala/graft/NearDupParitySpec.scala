package graft


/** q59's banded near-dup is licensed to return EXACTLY q49's brute
  * pairs (the DuckDB oracle for q59 is q49's SQL). This spec pins the
  * identity engine-side — including the first-colliding-band gate that
  * replaced the per-band duplicate verify + distinct(): every pair must
  * appear exactly once (no distinct() remains in the plan to hide a
  * double emission from the salted join). */
class NearDupParitySpec extends SparkSpec {

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"q59 banded pairs == q49 brute pairs, no duplicates ($sf)") {
      val dir = s"/root/testdata/$sf"
      val brute = SparkEntry.queries("q49_embed_neardup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val banded = SparkEntry.queries("q59_neardup_bucketed")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(banded == brute,
        s"banded pairs diverge from brute: ${banded.size} vs ${brute.size}")
      assert(banded.distinct.size == banded.size,
        "first-band gating must leave each pair exactly once")
    }
  }
}
