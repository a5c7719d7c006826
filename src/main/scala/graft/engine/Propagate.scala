package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two generic propagation kernels over a functional graph / DAG,
  * completing the iterative family beside [[Expand]] (unweighted
  * frontier), [[MinPlus]] (weighted shortest path), [[Components]]
  * (min-label closure) and [[PageRank]] (normalized mass):
  *
  *  - [[sumRounds]]: synchronous in-flow accumulation
  *    `a'(v) = 1 + sum over in-edges (u,v) of a(u)` — after k rounds
  *    `a(v)` counts the directed PATHS into v of length <= k (v's empty
  *    path included). On a FUNCTIONAL graph (<= 1 out-edge per node,
  *    e.g. D8 drainage) paths and upstream nodes coincide, so on a
  *    functional DAG of depth <= k this is the full upstream-cell
  *    count (raster flow accumulation); on a general DAG a node
  *    reaching v by several routes is counted once per route. Integer
  *    sums are order-free under any partitioning, so k rounds are
  *    bit-reproducible.
  *
  *  - [[pointerDouble]]: path doubling `p'(v) = p(p(v))` — after k
  *    rounds every node points 2^k steps along its pointer chain, so a
  *    chain of depth D resolves to its terminal (a fixpoint node,
  *    `p(t) = t`) in ceil(log2 D) rounds instead of D. This is the
  *    at-scale shape for follow-the-chain queries (watershed basins,
  *    union-find halving, linked-list ranking): O(log D) shuffles
  *    total, vs one shuffle per hop for naive iteration.
  *
  * Both kernels run their rounds through [[Checkpoint.iterate]], whose
  * lineage truncation also re-leafs the frame so inherited size stats
  * cannot compound across rounds.
  */
object Propagate {

  /** @param nodes one row per node: `(node: long)`
    * @param edges directed edges `(src: long, dst: long)`; in-flows
    *              sum over all in-edges — callers wanting upstream
    *              NODE counts need a functional graph (see scaladoc)
    * @return `(node, acc)` after `rounds` synchronous accumulations,
    *         `acc = 1` where nothing flows in */
  def sumRounds(s: SparkSession, nodes: DataFrame, edges: DataFrame,
                rounds: Int): DataFrame = {
    // the union-fold below has no per-round join back onto the node
    // spine, so edges pointing OUTSIDE the node set would leak rows
    // (without the +1 base) into the output — restrict once, up front;
    // the one-shot truncation keeps the restricted list a LEAF so the
    // semi-join is planned once, not inside every round's lineage
    val es = Checkpoint.truncateOnce(s,
      edges.join(nodes, edges("dst") === nodes("node"), "left_semi"))
    Checkpoint.iterate(s, nodes.select(col("node"), lit(1L).as("acc")),
        rounds) { acc =>
      // a'(v) = 1 + sum of in-flows, computed as ONE aggregation over
      // the union of the per-node base (1) and the propagated terms —
      // no per-round left join back onto the node spine, so each round
      // is a single partial-aggregated exchange (the edge join
      // broadcasts or co-partitions; it adds no exchange of acc itself)
      val contrib = acc.join(es, col("node") === col("src"))
        .select(col("dst").as("node"), col("acc"))
      nodes.select(col("node"), lit(1L).as("acc"))
        .unionByName(contrib)
        .groupBy("node").agg(sum("acc").as("acc"))
    }
  }

  /** [[sumRounds]] specialized to a FUNCTIONAL graph (<= 1 out-edge per
    * node — D8 drainage, successor chains): identical result, built by
    * PATH DOUBLING instead of k synchronous rounds. On a functional
    * graph a length-j path into v exists from u iff u's j-th successor
    * is v, so `acc_k(v) = 1 + sum over j<=k of #{u : s_j(u) = v}`. The
    * successor columns s_1..s_k are assembled in ceil(log2 k) self-joins
    * (each join DOUBLES the known chain prefix: s_{m+i} = s_i o s_m),
    * then ONE explode + ONE partial-aggregated count replaces the k
    * per-round join+aggregate exchanges of the synchronous loop — for
    * k=8 that is 3 joins + 1 aggregation instead of 8 joins + 8
    * aggregations and no per-round lineage truncation at all (guide
    * §2.4 "remove shuffles outright"). A chain that reaches a sink
    * before j steps has NULL s_j (left joins) and contributes nothing,
    * exactly like the synchronous rounds.
    *
    * Caller contract: `edges` functional (one dst per src) — q127's D8
    * pick emits exactly one out-edge per non-sink cell by construction.
    * The generic-DAG [[sumRounds]] stays for non-functional callers
    * (where a node reaching v by several routes counts once per route).
    */
  def sumRoundsFunctional(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, rounds: Int): DataFrame = {
    // same up-front restriction as sumRounds: edges pointing outside
    // the node set must not mint output rows. Unlike sumRounds (which
    // joins es once PER ROUND and therefore truncates it), es feeds
    // exactly one join here — no materialization needed.
    val es = edges.join(nodes, edges("dst") === nodes("node"), "left_semi")
    var chain = nodes.join(es, nodes("node") === es("src"), "left")
      .select(col("node"), col("dst").as("s1"))
    var m = 1
    while (m < rounds) {
      val take = math.min(m, rounds - m)
      // truncate before a doubling join: it references chain on BOTH
      // sides, and an un-materialized self-reference re-evaluates the
      // whole prefix tree once per side per level
      chain = Checkpoint.truncate(s, chain)
      val right = chain.select(col("node").as("__j") +:
        (1 to take).map(i => col(s"s$i").as(s"s${m + i}")): _*)
      chain = chain.join(right, col(s"s$m") === col("__j"), "left")
        .drop("__j")
      m += take
    }
    val contrib = chain
      .select(explode(array((1 to rounds).map(i => col(s"s$i")): _*))
        .as("node"))
      .filter(col("node").isNotNull)
      .select(col("node"), lit(1L).as("acc"))
    nodes.select(col("node"), lit(1L).as("acc"))
      .unionByName(contrib)
      .groupBy("node").agg(sum("acc").as("acc"))
  }

  /** @param ptr0 one row per node: `(node: long, p: long)` with
    *             terminals self-pointing (`p = node`)
    * @return `(node, p)` after `rounds` doublings — p is the node
    *         2^rounds steps down the chain (the terminal, once the
    *         chain is exhausted) */
  def pointerDouble(s: SparkSession, ptr0: DataFrame,
                    rounds: Int): DataFrame =
    Checkpoint.iterate(s, ptr0, rounds) { ptr =>
      val hop = ptr.select(col("node").as("p"), col("p").as("pp"))
      ptr.join(hop, Seq("p")).select(col("node"), col("pp").as("p"))
    }
}
