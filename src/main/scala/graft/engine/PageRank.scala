package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PageRank in FIXED-POINT integer arithmetic.
  *
  * Every rank is a BIGINT in micro-units (1e6 = mass 1.0) and every
  * per-iteration term is integer arithmetic only — contribution
  * `(r * 85) div (outdeg * 100)`, dangling share
  * `(sum_dangling * 85) div (100 * V)`, teleport a constant — so the
  * result is bit-identical regardless of partitioning, shuffle order,
  * or aggregation tree shape. That is the property a floating-point
  * PageRank cannot give a distributed engine: double contributions sum
  * in shuffle-arrival order and two runs of the same job disagree in
  * the last ulps, which poisons any exact downstream compare (and the
  * driver's hash oracle). The floor divisions leak ≤1 micro-unit per
  * edge per iteration of total mass — bounded, deterministic, and
  * identical in any SQL engine with integer floor division.
  *
  * Shape per iteration (the standard two-shuffle contract):
  *   1. ranks ⋈ edges on src (co-partitioned after the first pass),
  *   2. groupBy(dst) partial-aggregated sum of contributions,
  *   3. dangling mass folded in via a one-row cross join (broadcast).
  * The iterations run through [[Checkpoint.iterate]], which truncates
  * lineage every other iteration and after the last, so k iterations
  * never re-plan a k-deep join tree.
  */
object PageRank {

  /** @param edges (src: long, dst: long), self-loop-free and distinct
    * @param nodes (node: long), the full vertex set
    * @param iters fixed iteration count (deterministic, no convergence
    *              races — callers wanting convergence add the accumulator
    *              probe the q56 loop uses)
    * @return (node, r) — rank in micro-units after `iters` rounds */
  def run(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    val nV = nodes.count()
    require(nV > 0, "PageRank needs a non-empty vertex set")
    val outdeg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val deg = Checkpoint.truncate(s,
      nodes.join(outdeg, Seq("node"), "left")
        .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg")))
    // Pre-join the static out-degree onto the edge list ONCE (truncated,
    // partitioning captured) so each iteration joins ranks against a
    // single (src, dst, outdeg) frame instead of ranks ⋈ deg ⋈ edges —
    // one join per iteration saved, k times (guide §2.4). The dangling
    // probe reads deg (static) rather than the rd join for the same
    // reason, and `deg` doubles as the re-attach spine so `next` keeps
    // one left join.
    val edgesDeg = Checkpoint.truncate(s,
      edges.join(deg.filter(col("outdeg") > 0), edges("src") === deg("node"))
        .select(col("src"), col("dst"), col("outdeg")))
    val dangNodes = Checkpoint.truncate(s,
      deg.filter(col("outdeg") === 0).select(col("node")))
    Checkpoint.iterate(s, nodes.select(col("node"), lit(1000000L).as("r")),
        iters) { ranks =>
      val contrib = ranks
        .join(edgesDeg, col("node") === col("src"))
        .select(col("dst"),
          expr("(r * 85) div (outdeg * 100)").as("c"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("cs"))
      val dang = ranks.join(dangNodes, Seq("node"), "left_semi")
        .agg(coalesce(sum("r"), lit(0L)).as("ds"))
        .select(expr(s"(ds * 85) div (100 * $nV)").as("share"))
      nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(150000L) + coalesce(col("cs"), lit(0L)) + col("share"))
            .as("r"))
    }
  }
}
