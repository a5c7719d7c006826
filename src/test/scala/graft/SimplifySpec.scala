package graft

import org.apache.spark.sql.functions._

import graft.world.World

/** Independent anchor for q129 (distributed Douglas-Peucker): a plain
  * recursive scalar DP (shares no code with engine/Simplify) run to
  * FULL convergence must equal the synchronous split-round kernel, and
  * the 6-round operator contract must already be converged on the
  * fixture. Also pins partitioning invariance (the argmax tie-break is
  * a total order, so shuffle layout cannot change the kept set) and
  * that the fixture actually exercises both rules (interpolated
  * vertices dropped, lattice kinks kept).
  */
class SimplifySpec extends SparkSpec {

  private val Lines = 12
  private val Verts = 33
  private val Eps2 = 25L

  /** The q129 vertex fixture, regenerated scalar-side. */
  private def verts(lid: Long): Vector[(Long, Long, Long)] =
    (0 until Verts).map { s =>
      val j = s / 8; val f = s % 8
      def lat(jj: Int) = World.h2(lid * 13 + jj.toLong * 53 + 7) % 4000
      val y = lat(j) * (8 - f) + lat(j + 1) * f +
        (World.h(lid * 31 + s) % 5 - 2)
      (s.toLong, s.toLong * 4, y)
    }.toVector

  /** Textbook recursive DP on one line, run to convergence. */
  private def scalarDp(pts: Vector[(Long, Long, Long)]): Set[Long] = {
    val kept = scala.collection.mutable.Set[Long]()
    def rec(i: Int, j: Int): Unit = {
      kept += pts(i)._1; kept += pts(j)._1
      if (j - i < 2) return
      val (_, x0, y0) = pts(i); val (_, x1, y1) = pts(j)
      val dx = x1 - x0; val dy = y1 - y0
      var best = Long.MinValue; var bi = -1
      for (k <- i + 1 until j) {
        val cr = dx * (pts(k)._3 - y0) - dy * (pts(k)._2 - x0)
        val g = cr * cr - Eps2 * (dx * dx + dy * dy)
        if (g > best) { best = g; bi = k } // strict > = smallest-seq tie
      }
      if (best > 0) { rec(i, bi); rec(bi, j) }
    }
    rec(0, pts.length - 1)
    kept.toSet
  }

  private def keptOf(rounds: Int, parts: Int): Map[Long, Set[Long]] = {
    val rows = (0 until Lines).flatMap { l =>
      verts(l).map { case (s, x, y) => (l.toLong, s, x, y) }
    }
    val df = spark.createDataFrame(rows).toDF("lid", "seq", "x", "y")
      .repartition(parts)
    graft.engine.Simplify.dpRounds(spark, df, Eps2, rounds)
      .filter(col("kept")).select("lid", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (l, a) => l -> a.map(_._2).toSet }
  }

  test("q129 kernel equals scalar recursive DP at convergence; the " +
    "6-round contract is converged; partitioning-invariant") {
    val ref = (0 until Lines).map(l => l.toLong -> scalarDp(verts(l))).toMap
    val at6 = keptOf(6, 4)
    val at12 = keptOf(12, 7)
    assert(at12 === ref, "converged kernel vs scalar DP")
    assert(at6 === ref, "the 6-round contract already converged")
    assert(keptOf(6, 1) === at6, "partitioning invariance")
  }

  test("closed rings (coincident anchors) split by the point-distance " +
    "fallback instead of freezing at the two coincident endpoints") {
    import spark.implicits._
    // a 40x40 square ring: first and last vertex coincide, so the
    // anchor chord has len^2 = 0 and the perpendicular rule is useless;
    // the fallback must keep the corners (far beyond eps = 5)
    val ring = Seq(
      (0L, 0L, 0L, 0L), (0L, 1L, 40L, 0L), (0L, 2L, 40L, 40L),
      (0L, 3L, 0L, 40L), (0L, 4L, 0L, 0L))
    val got = graft.engine.Simplify
      .dpRounds(spark, ring.toDF("lid", "seq", "x", "y"), Eps2, 4)
      .filter(col("kept")).select("seq")
      .collect().map(_.getLong(0)).toSet
    // all three interior corners stand >eps from every anchor chord the
    // recursion produces, so the whole square survives
    assert(got == Set(0L, 1L, 2L, 3L, 4L),
      s"ring collapsed to $got — coincident-anchor fallback broken")
  }

  test("the fixture exercises both rules: jitter simplifies away, " +
    "kinks survive, and kept counts vary across lines") {
    val ref = (0 until Lines).map(l => scalarDp(verts(l)).size)
    assert(ref.forall(_ >= 2), "anchors always kept")
    assert(ref.sum < Lines * Verts / 2, "most vertices simplified away")
    assert(ref.exists(_ > 2), "some interior kinks survive")
    assert(ref.distinct.size > 1, "kept counts vary across lines")
  }
}
