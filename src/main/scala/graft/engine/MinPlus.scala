package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous min-plus (Bellman-Ford) relaxation — the weighted
  * companion of the unweighted frontier expansion in [[Expand]] and the
  * fourth graph kernel beside [[Components]], [[PageRank]] and
  * [[Triangles]]. One round computes, for every node,
  * `d'(v) = min(d(v), min over in-edges (u,v,w) of d(u) + w)` —
  * exactly the cost-distance / multi-source-shortest-path step a raster
  * GIS runs to build travel-cost surfaces.
  *
  * Determinism: distances and weights are INTEGERS with an integer
  * `inf` sentinel instead of NULL-as-unreached — `min` over integers is
  * order-free under any partitioning and the sentinel survives
  * arithmetic (`inf + maxW` still compares above every real distance,
  * callers keep `inf` far below Long.MaxValue), so k rounds are
  * bit-reproducible in any engine with the same join/group semantics.
  *
  * Shape per round: distances join edges on the source key (the edge
  * side broadcasts or co-partitions), propose `d + w` to each
  * destination, and ONE partial-aggregated MIN over the union of the
  * running frame and the proposals folds everything — a single
  * exchange per round, no fold-back join. The rounds run through
  * [[Checkpoint.iterate]], whose lineage truncation keeps k rounds from
  * re-planning a k-deep tree.
  */
object MinPlus {

  /** @param dist0  initial frame `(node: long, d: long)` — 0 at
    *               sources, `inf` elsewhere; one row per node
    * @param edges  directed weighted edges `(src: long, dst: long,
    *               w: long)`, weights non-negative
    * @param rounds fixed synchronous round count (a convergence caller
    *               adds the q56 accumulator probe)
    * @param inf    integer unreached sentinel, `>=` any real distance
    *               plus `rounds * max(w)`
    * @return `(node, d)` after `rounds` relaxations */
  def relax(s: SparkSession, dist0: DataFrame, edges: DataFrame,
            rounds: Int, inf: Long): DataFrame = {
    // no per-round fold-back join means edges whose dst is outside
    // dist0's node set would grow the frame (and relax paths through
    // nodes the caller excluded) — restrict once, up front; truncated
    // so the semi-join is planned once, not inside every round
    val es = Checkpoint.truncateOnce(s,
      edges.join(dist0.select(col("node").as("dst")),
        Seq("dst"), "left_semi"))
    Checkpoint.iterate(s, dist0, rounds) { dist =>
      // d'(v) = min(d(v), proposals) as ONE aggregation over the union
      // of the running frame and the propagated d+w terms — no
      // per-round fold-back join, so each round is a single
      // partial-aggregated exchange (the edge join broadcasts or
      // co-partitions; it adds no exchange of dist itself)
      val prop = dist.join(es, col("node") === col("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist.unionByName(prop).groupBy("node").agg(min("d").as("d"))
    }
  }
}
