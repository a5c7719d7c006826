package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Douglas-Peucker polyline simplification (the ArcGIS
  * Simplify Line / ST_Simplify op — the vector-side companion of the
  * reference's polygon layer handling, SURVEY §2 G-ops), as synchronous
  * SPLIT rounds over a vertex frame:
  *
  * every vertex row carries its current enclosing segment — the anchor
  * pair `(lo, hi)` plus both anchors' coordinates — so no round ever
  * needs a range join of vertices against segments. One round:
  *
  *  1. per segment, argmax of the squared anchor-line deviation over
  *     the interior vertices — ONE partial-aggregated exchange (each
  *     task reduces to at most one candidate per segment before the
  *     shuffle);
  *  2. segments whose max deviation exceeds eps split at the argmax:
  *     the winners frame (<= one row per active segment, i.e. bounded
  *     by the OUTPUT size, not the input) broadcasts back onto the
  *     vertex frame, which re-labels each vertex to its half — no
  *     exchange of the vertex frame itself.
  *
  * A chord of kept vertices resolves in depth-of-the-split-tree rounds
  * (typically O(log kept) — each round splits EVERY active segment in
  * parallel), vs one round per vertex for sequential DP. The fixed
  * round count is the operator contract (like Propagate's): two engines
  * running the same rounds agree on the kept set whether or not the
  * recursion has converged, and the spec separately proves convergence
  * to scalar DP on the fixture. The rounds run through
  * [[Checkpoint.iterate]].
  *
  * All-integer geometry keeps the compare exact: with integer
  * coordinates, `dist_perp(p, chord)^2 > eps^2` is equivalent to
  * `cross((hi-lo), (p-lo))^2 > eps2 * |hi-lo|^2` — both sides int64,
  * no sqrt, no division, so ties and near-threshold vertices cannot
  * drift between engines (the q112/q120 whole-unit discipline).
  * COINCIDENT anchors (closed rings) degenerate that compare to 0 > 0
  * for every vertex; there the deviation falls back to the squared
  * point distance to the anchor (`|p-lo|^2 > eps2`), the textbook DP
  * rule, still integer-exact.
  */
object Simplify {

  /** @param verts one row per vertex: `(lid: long, seq: long, x: long,
    *              y: long)` — seq contiguous-ordered within each line
    *              (gaps are fine; only the ordering is used)
    * @param eps2  squared tolerance (integer): a vertex survives where
    *              cross^2 > eps2 * len^2
    * @param rounds fixed synchronous split rounds (the contract)
    * @return the vertex frame with its final segment labels and a
    *         `kept` flag — callers filter `kept` for the simplified
    *         layer */
  def dpRounds(s: SparkSession, verts: DataFrame, eps2: Long,
               rounds: Int): DataFrame = {
    // per-line extremes + their coordinates in ONE aggregation: seq is
    // unique within a line, so min/max over struct(seq, x, y) orders by
    // seq and carries the anchor coordinates along — no self-joins.
    // `anchors` is one row per LINE — broadcast-sized by construction.
    val anchors = verts.groupBy("lid")
      .agg(min(struct(col("seq"), col("x"), col("y"))).as("l"),
        max(struct(col("seq"), col("x"), col("y"))).as("h"))
      .select(col("lid"), col("l.seq").as("lo"),
        col("l.x").as("lox"), col("l.y").as("loy"),
        col("h.seq").as("hi"),
        col("h.x").as("hix"), col("h.y").as("hiy"))

    val st0 = verts.join(broadcast(anchors), Seq("lid"))
      .select(col("lid"), col("seq"), col("x"), col("y"),
        col("lo"), col("lox"), col("loy"),
        col("hi"), col("hix"), col("hiy"),
        (col("seq") === col("lo") || col("seq") === col("hi")).as("kept"))

    Checkpoint.iterate(s, st0, rounds) { st =>
      val dx = col("hix") - col("lox")
      val dy = col("hiy") - col("loy")
      val cross = dx * (col("y") - col("loy")) - dy * (col("x") - col("lox"))
      val len2 = dx * dx + dy * dy
      // g > 0 iff the vertex lies beyond eps of its anchor chord; len^2
      // is constant within a segment, so ordering by g equals ordering
      // by cross^2 and the threshold rides INSIDE the argmax struct —
      // no second aggregate for the per-segment length. COINCIDENT
      // anchors (a closed ring's endpoints) have len^2 = 0 and cross=0
      // for every vertex, which would freeze the ring at its two
      // coincident endpoints — textbook DP falls back to the squared
      // POINT distance there (same integer-exact discipline, already in
      // the eps^2 scale rather than eps^2*len^2)
      val dpx = col("x") - col("lox")
      val dpy = col("y") - col("loy")
      val g = when(len2 === 0, dpx * dpx + dpy * dpy - eps2)
        .otherwise(cross * cross - lit(eps2) * len2)
      val win = st.filter(!col("kept"))
        .select(col("lid"), col("lo"), col("hi"),
          struct(g.as("g"), (-col("seq")).as("ns"),
            col("x").as("mx"), col("y").as("my")).as("c"))
        .groupBy("lid", "lo", "hi").agg(max("c").as("w"))
        .filter(col("w.g") > 0)
        .select(col("lid"), col("lo"), col("hi"),
          (-col("w.ns")).as("m"), col("w.mx").as("mx"), col("w.my").as("my"))
      // winners re-label each vertex to its half; the split vertex
      // itself becomes a kept anchor (its stale segment key can never
      // collide — segment intervals only ever narrow)
      st.join(broadcast(win), Seq("lid", "lo", "hi"), "left")
        .select(col("lid"), col("seq"), col("x"), col("y"),
          when(col("m").isNotNull && col("seq") > col("m"), col("m"))
            .otherwise(col("lo")).as("lo"),
          when(col("m").isNotNull && col("seq") > col("m"), col("mx"))
            .otherwise(col("lox")).as("lox"),
          when(col("m").isNotNull && col("seq") > col("m"), col("my"))
            .otherwise(col("loy")).as("loy"),
          when(col("m").isNotNull && col("seq") < col("m"), col("m"))
            .otherwise(col("hi")).as("hi"),
          when(col("m").isNotNull && col("seq") < col("m"), col("mx"))
            .otherwise(col("hix")).as("hix"),
          when(col("m").isNotNull && col("seq") < col("m"), col("my"))
            .otherwise(col("hiy")).as("hiy"),
          (col("kept") ||
            coalesce(col("seq") === col("m"), lit(false))).as("kept"))
    }
  }
}
