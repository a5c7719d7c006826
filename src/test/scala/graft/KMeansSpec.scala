package graft


import graft.world.World

/** Independent scalar anchor for q132 / engine.KMeans: the distributed
  * Lloyd fit must equal a single-threaded replica EXACTLY (integer
  * centroid quantization + lowest-id tie-break make every round
  * deterministic), recover the generator's planted clusters, and be
  * converged within the contract rounds.
  */
class KMeansSpec extends SparkSpec {

  // scalar replica of the q132 fixture + integer Lloyd
  private val n = 2000
  private def pts: Seq[(Long, Long, Long, Int)] = (1 to n).map { i =>
    val g = (World.h2(i.toLong * 3) % 6).toInt
    val px = (g % 3) * 160L + 80 + World.h2(i.toLong * 5 + 1) % 81 - 40
    val py = (g / 3) * 160L + 80 + World.h2(i.toLong * 5 + 2) % 81 - 40
    (i.toLong, px, py, g)
  }
  private val init: Seq[(Int, Long, Long)] =
    (0 until 6).map(k => (k, (k % 3) * 160L + 40, (k / 3) * 160L + 40))

  private def assign(cs: Seq[(Int, Long, Long)], px: Long, py: Long): Int =
    cs.map { case (k, cx, cy) =>
      ((px - cx) * (px - cx) + (py - cy) * (py - cy), k)
    }.min._2

  private def lloyd(rounds: Int): Seq[(Int, Long, Long)] = {
    var cs = init
    for (_ <- 1 to rounds) {
      val byK = pts.groupBy(p => assign(cs, p._2, p._3))
      cs = cs.map { case (k, cx, cy) =>
        byK.get(k) match {
          case Some(ps) =>
            (k, ps.map(_._2).sum / ps.size, ps.map(_._3).sum / ps.size)
          case None => (k, cx, cy)
        }
      }
    }
    cs
  }

  test("q132 equals the scalar integer Lloyd replica, recovers the " +
    "planted clusters exactly, and is converged at the contract rounds") {
    val cs4 = lloyd(4)
    val got = SparkEntry.queries("q132_kmeans")(spark, "unused")
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.length == n)
    got.foreach { case (pid, k, cx, cy) =>
      val (_, px, py, g) = pts(pid.toInt - 1)
      assert(k == assign(cs4, px, py), s"assignment mismatch at pid $pid")
      assert((cx, cy) == ((cs4(k)._2, cs4(k)._3)),
        s"centroid mismatch at pid $pid")
      // blob spacing 160 vs jitter ±40: k-means must recover the
      // generator's cluster for every point, or the fit went wrong
      assert(k == g, s"pid $pid assigned $k, planted $g")
    }
    // the offset init must actually move (round 1 changes centroids)
    // and the fit must be a fixed point by the contract rounds
    assert(lloyd(1) != init, "round 1 did not move the centroids")
    assert(lloyd(5) == cs4, "not converged within the contract rounds")
    // every planted blob is non-empty, so no cluster ever starved
    assert(got.map(_._2).distinct.sorted.toSeq == (0 until 6),
      "some cluster ended empty")
  }
}
