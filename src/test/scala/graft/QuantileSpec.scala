package graft

import org.apache.spark.sql.functions._
import graft.engine.Quantile

/** engine/Quantile: exact distributed selection by histogram
  * refinement, cross-checked against a plain in-memory sort at every
  * tested rank, with tiny bins/caps forcing deep recursion, heavy
  * duplicates, negatives, NaN/null exclusion, and parameter +
  * partitioning invariance.
  */
class QuantileSpec extends SparkSpec {

  /** Deterministic pseudo-random doubles in a wide range, with a
    * negative tail. */
  private def mkValues(n: Int): Array[Double] =
    Array.tabulate(n) { i =>
      val h = graft.world.World.h(i.toLong * 31 + 7)
      (h % 100000).toDouble / 3.0 - 5000.0
    }

  test("matches the in-memory sort oracle at every rank, with tiny " +
    "bins forcing multi-pass refinement") {
    import spark.implicits._
    val vals = mkValues(10000)
    val sorted = vals.sorted
    val df = vals.toSeq.toDF("v").repartition(7)
    val ks = Seq(1L, 2L, 17L, 5000L, 9000L, 9900L, 9999L, 10000L)
    val got = Quantile.kthElements(df, "v", ks, bins = 16, collectCap = 20)
    ks.foreach { k =>
      assert(got(k) == sorted((k - 1).toInt), s"rank $k")
    }
  }

  test("heavy duplicates resolve immediately (equal-value bins never " +
    "ping-pong) and ties keep positional semantics") {
    import spark.implicits._
    // 50 distinct values, 200 copies each - every bin is eventually
    // all-equal and must resolve without hitting the collect cap
    val vals = Array.tabulate(10000)(i => (graft.world.World.h(i) % 50).toDouble)
    val sorted = vals.sorted
    val df = vals.toSeq.toDF("v").repartition(5)
    val ks = Seq(1L, 100L, 5000L, 9999L, 10000L)
    val got = Quantile.kthElements(df, "v", ks, bins = 8, collectCap = 10)
    ks.foreach(k => assert(got(k) == sorted((k - 1).toInt), s"rank $k"))
  }

  test("all-equal column, single row, and rank bounds") {
    import spark.implicits._
    val df = Seq.fill(100)(42.5).toDF("v")
    val got = Quantile.kthElements(df, "v", Seq(1L, 50L, 100L),
      bins = 4, collectCap = 2)
    assert(got == Map(1L -> 42.5, 50L -> 42.5, 100L -> 42.5))
    val one = Seq(7.0).toDF("v")
    assert(Quantile.kthElements(one, "v", Seq(1L)) == Map(1L -> 7.0))
    intercept[IllegalArgumentException] {
      Quantile.kthElements(one, "v", Seq(2L))
    }
  }

  test("NULL and NaN rows are excluded from ranking") {
    import spark.implicits._
    val df = Seq[java.lang.Double](3.0, null, Double.NaN, 1.0, 2.0)
      .toDF("v")
    val got = Quantile.kthElements(df, "v", Seq(1L, 2L, 3L),
      bins = 4, collectCap = 1)
    assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    intercept[IllegalArgumentException] {
      Quantile.kthElements(df, "v", Seq(4L))
    }
  }

  test("a value range whose span overflows double still converges " +
    "(midpoint split instead of the degenerate all-in-bin-0 histogram)") {
    import spark.implicits._
    val vals = Array(-1.7e308, -3.0e307, 0.0, 4.2, 1.1e308, 1.6e308,
      -1.6e308, 7.7, -2.2, 9.9e307)
    val sorted = vals.sorted
    val df = vals.toSeq.toDF("v").repartition(3)
    val ks = Seq(1L, 3L, 5L, 8L, 10L)
    val got = Quantile.kthElements(df, "v", ks, bins = 4, collectCap = 2)
    ks.foreach(k => assert(got(k) == sorted((k - 1).toInt), s"rank $k"))
  }

  test("quantilesAt: ranks derive from the selection's own filtered " +
    "count (one scan, NaN-consistent), labels preserved") {
    import spark.implicits._
    val vals = mkValues(1000)
    val sorted = vals.sorted
    val df = (vals.map(v => java.lang.Double.valueOf(v)) :+
      java.lang.Double.valueOf(Double.NaN)).toSeq.toDF("v")
    val got = Quantile.quantilesAt(df, "v",
      Seq(("min", 0.0), ("p50", 0.5), ("max", 1.0)),
      bins = 16, collectCap = 50)
    // n must be 1000 (NaN excluded), so max selects rank 1000
    assert(got == Seq(("min", 1L, sorted(0)), ("p50", 500L, sorted(499)),
      ("max", 1000L, sorted(999))), s"got $got")
  }

  test("grouped: every group's quantiles match its own in-memory sort, " +
    "groups with overlapping value ranges stay distinct, and answers " +
    "are parameter-invariant") {
    import spark.implicits._
    // 3 skewed groups over one overlapping value range: sizes 5000 /
    // 400 / 7 — the small group's ranks resolve in early passes while
    // the big one keeps refining, exercising mixed-lifetime state
    val rows = (0 until 5407).map { i =>
      val g = if (i < 5000) "A" else if (i < 5400) "B" else "C"
      val h = graft.world.World.h(i.toLong * 131 + 3)
      (g, (h % 90000).toDouble / 7.0 - 6000.0)
    }
    val fractions = Seq(("p10", 0.1), ("p50", 0.5), ("p99", 0.99))
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      fractions.map { case (l, q) =>
        val k = math.max(1L, math.floor(q * sorted.size).toLong)
        (g, l) -> ((k, sorted((k - 1).toInt)))
      }
    }
    Seq((16, 10), (4096, 1 << 20)).foreach { case (b, cap) =>
      val got = Quantile.groupedQuantilesAt(
          rows.toDF("g", "v").repartition(9), "g", "v", fractions,
          bins = b, collectCap = cap)
        .map { case (g, l, k, v) => (g, l) -> ((k, v)) }.toMap
      assert(got == want, s"at ($b, $cap)")
    }
  }

  test("grouped: the dimension-cardinality guard rejects key-like " +
    "group columns loudly") {
    import spark.implicits._
    val df = (0 until Quantile.MaxGroups + 1)
      .map(i => (i.toString, i.toDouble)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Quantile.groupedQuantilesAt(df, "g", "v", Seq(("p50", 0.5)))
    }
    assert(e.getMessage.contains("sketch"))
  }

  test("answers are invariant to bins/collectCap and partitioning") {
    import spark.implicits._
    val vals = mkValues(5000)
    val sorted = vals.sorted
    val ks = Seq(1L, 1250L, 2500L, 4999L, 5000L)
    val variants = Seq(
      (vals.toSeq.toDF("v").repartition(1), 16, 10),
      (vals.toSeq.toDF("v").repartition(13), 4096, 1 << 20),
      (vals.toSeq.toDF("v").repartition(3), 7, 3))
    variants.foreach { case (df, b, cap) =>
      val got = Quantile.kthElements(df, "v", ks, bins = b, collectCap = cap)
      ks.foreach(k =>
        assert(got(k) == sorted((k - 1).toInt), s"rank $k at ($b, $cap)"))
    }
  }
}
