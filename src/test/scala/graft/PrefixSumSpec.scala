package graft

import org.apache.spark.sql.functions._
import graft.engine.PrefixSum

/** engine/PrefixSum: the two-phase distributed exclusive running sum
  * behind q96 sequence packing. Parity with a driver-side scan over a
  * deliberately shuffled, multi-partition input, and the plan
  * contract: the only single-partition stage is the window over the
  * per-partition TOTALS, never the data. */
class PrefixSumSpec extends SparkSpec {

  test("exclusive prefix sum over a shuffled 10k-row frame equals the " +
    "sequential scan; first row gets 0") {
    import spark.implicits._
    // weights w(k) = (k*2654435761) % 97, keys presented out of order
    val n = 10000
    val rows = (1 to n).map(k => (k.toLong, (k * 2654435761L) % 97))
    val shuffled = rows.sortBy(r => (r._1 * 40503L) % 65536)
    val df = shuffled.toDF("k", "w").repartition(8)
    val got = PrefixSum.exclusive(df, "k", col("w"), "ps")
      .select("k", "ps").as[(Long, Long)].collect().toMap
    var run = 0L
    rows.foreach { case (k, w) =>
      assert(got(k) == run, s"k=$k")
      run += w
    }
    assert(got(1L) == 0L)
  }

  test("weights of zero and repeated values keep exact offsets") {
    import spark.implicits._
    val df = Seq((1L, 0L), (2L, 5L), (3L, 0L), (4L, 5L), (5L, 0L))
      .toDF("k", "w").repartition(3)
    val got = PrefixSum.exclusive(df, "k", col("w"), "ps")
      .select("k", "ps").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 5L, 4L -> 5L, 5L -> 10L))
  }

  test("q96 plan: no single-partition window over the data — the only " +
    "SinglePartition exchange feeds the totals window (one row per " +
    "range partition)") {
    val df = graft.SparkEntry.queries("q96_seq_packing")(
      spark, TopKSpec.writeDocsFixture(spark))
    val plan = df.queryExecution.executedPlan.toString
    // the data-side windows must be partitioned by __pid; a global
    // `Window [sum(...) ... ORDER BY doc_id]` without PARTITION BY
    // would show windowspecdefinition without a partition column
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 1, s"more than one SinglePartition stage:\n$plan")
    assert(plan.contains("__pid"),
      s"expected per-partition windows over __pid:\n$plan")
    val rows = df.collect()
    assert(rows.length > 0)
    // offsets strictly consistent: tok_start(next) = tok_start + n_tok
    val sorted = rows.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) + a.getLong(1))
      case _ =>
    }
    // a doc straddling a window boundary exists (seq_last > seq_first)
    assert(sorted.exists(r => r.getLong(4) > r.getLong(3)))
  }
}
