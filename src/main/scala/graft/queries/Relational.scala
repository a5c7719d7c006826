package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator surface extracted from the reference
  * (`/root/reference/Supplemental_Data_1.R`, see SURVEY.md §2) and
  * exercised over the driver-provided TPC-H-ish parquet tables.
  *
  * Every query here is deterministic, every computed column is aliased
  * identically in the Spark plan and the DuckDB oracle SQL, and floating
  * point outputs are either exact (sums of integer-valued doubles,
  * divisions of exact values) or rounded to a stable precision.
  *
  * Operator coverage (SURVEY.md §2 ids in brackets):
  *  - group-by aggregates [A1,A2,A3]          q01, q11, q12
  *  - filter/project/cast/arith [P1,P3,P7,P8] q02, q18
  *  - left join + NA-fill/coalesce [J1,P9]    q03
  *  - multiway broadcast dim join [J2,J5]     q04
  *  - one-hot encode via when [P4]            q05 (R:197-201)
  *  - regex replace, first-occurrence [P5]    q06 (R:150-152)
  *  - stable row-id via window [P10]          q07 (R:192-196)
  *  - row-wise argmax vote + threshold [W1-4] q08 (R:362-389)
  *  - union-all [U1]                          q09 (R:348)
  *  - distinct [A4]                           q10 (R:230)
  *  - whole-column %-stats [A3]               q12 (R:459-476)
  *  - deterministic stratified sample [U3]    q13 (R:826-844)
  *  - per-group top-k [U4 extension]          q14
  *  - event-time window agg                   q15
  *  - single-pass pivot to wide table [J5]    q16 (R:209-228)
  *  - semi/anti join                          q17
  */
object Relational {
  import Tables.t

  private val knuth = 2654435761L // Knuth multiplicative hash constant

  def all: Seq[Q] = Seq(
    Q("q01_agg_sum", q01, Some(q01Sql)),
    Q("q02_filter_project", q02, Some(q02Sql)),
    Q("q03_left_join_nafill", q03, Some(q03Sql)),
    Q("q04_dim_join", q04, Some(q04Sql)),
    Q("q05_onehot", q05, Some(q05Sql)),
    Q("q06_regex", q06, Some(q06Sql)),
    Q("q07_rowid", q07, Some(q07Sql)),
    Q("q08_argmax_vote", q08, Some(q08Sql)),
    Q("q09_union", q09, Some(q09Sql)),
    Q("q10_distinct", q10, Some(q10Sql)),
    Q("q11_group_minmax", q11, Some(q11Sql)),
    Q("q12_stats_pct", q12, Some(q12Sql)),
    Q("q13_hash_sample", q13, Some(q13Sql)),
    Q("q14_topk_per_group", q14, Some(q14Sql)),
    Q("q15_time_window", q15, Some(q15Sql)),
    Q("q16_pivot_wide", q16, Some(q16Sql)),
    Q("q17_semi_anti", q17, Some(q17Sql)),
    Q("q18_stratified_exactn", q18, Some(q18Sql)),
    Q("q58_stratified_min40", q58, Some(q58Sql)),
    Q("q60_sessionize", q60, Some(q60Sql)),
    Q("q64_json_extract", q64, Some(q64Sql)),
    Q("q80_interval_join", q80, Some(q80Sql)),
    Q("q102_bbox_join", q102, Some(q102Sql)),
    Q("q86_bloom_pruned_join", q86, Some(q86Sql)),
    Q("q88_exact_quantiles", q88, Some(q88Sql)),
    Q("q105_robust_scale", q105, Some(q105Sql)),
    Q("q92_bucketed_join", q92, Some(q92Sql)),
    Q("q107_rollup_report", q107, Some(q107Sql)),
    Q("q108_snapshot_diff", q108, Some(q108Sql)),
    Q("q109_group_quantiles", q109, Some(q109Sql)),
    Q("q114_gapfill_locf", q114, Some(q114Sql)),
    Q("q115_pagerank", q115, Some(q115Sql)),
    Q("q116_weighted_sample", q116, Some(q116Sql)),
    Q("q117_skyline", q117, Some(q117Sql)),
    Q("q118_group_trend", q118, Some(q118Sql)),
    Q("q121_triangle_count", q121, Some(q121Sql)),
    Q("q125_funnel", q125, Some(q125Sql)),
    Q("q133_scd2_apply", q133, Some(q133Sql)),
    Q("q136_cube_report", q136, Some(q136Sql)),
    Q("q137_transitions", q137, Some(q137Sql)),
    Q("q138_retention", q138, Some(q138Sql)),
    Q("q155_mann_kendall", q155, Some(q155Sql)),
    Q("q195_unpivot", q195, Some(q195Sql)),
    Q("q196_grouping_sets", q196, Some(q196Sql)),
    Q("q197_rank_windows", q197, Some(q197Sql)),
    Q("q198_intersect_except", q198, Some(q198Sql)),
    Q("q199_heavy_hitters", q199, Some(q199Sql)),
    Q("q200_incremental_agg", q200, Some(q200Sql))
  )

  // --- q109: PER-GROUP exact quantiles — q88's histogram refinement
  // generalized to groups (engine/Quantile.groupedQuantilesAt): every
  // group's live ranges ride the SAME rid when-chain, so all groups
  // refine together in one job per pass — never a job per group, and
  // never the `PARTITION BY flag ORDER BY v` window that sorts each
  // group's full row set on one reducer (the oracle's formulation,
  // fine for DuckDB at sf0.01, a hot-key sort at 10^12 rows). The
  // small bins/collectCap force real refinement passes at this scale;
  // positional rank semantics keep the compare bit-exact. Group
  // cardinality contract: dimension-like only (state is O(groups x
  // ranks)) — the engine guards it at MaxGroups and points
  // key-cardinality callers at sketches. ------------------------------------
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.engine.Quantile.groupedQuantilesAt(
        t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99)),
        bins = 64, collectCap = 100)
      .map { case (g, l, k, v) => (g.asInstanceOf[String], l, k, v) }
      .toDF("flag", "label", "k", "value")
      .orderBy("flag", "k", "label")
  }

  private val q109Sql =
    """WITH s AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice) AS rn
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT flag, COUNT(*) AS n FROM s GROUP BY 1),
      |ks AS (
      |  SELECT flag, 'p25' AS label,
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.25 * n) AS BIGINT)) AS k
      |  FROM n
      |  UNION ALL SELECT flag, 'p50',
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.5 * n) AS BIGINT)) FROM n
      |  UNION ALL SELECT flag, 'p90',
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.9 * n) AS BIGINT)) FROM n
      |  UNION ALL SELECT flag, 'p99',
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.99 * n) AS BIGINT)) FROM n)
      |SELECT ks.flag, ks.label, ks.k, s.v AS value
      |FROM ks JOIN s ON s.flag = ks.flag AND s.rn = ks.k
      |ORDER BY ks.flag, ks.k, ks.label""".stripMargin

  // --- q108: SNAPSHOT DIFF (incremental-ingest CDC) — what changed
  // between two corpus snapshots: added / removed / changed /
  // unchanged per doc, in ONE full-outer join (the join family's last
  // uncovered member — left/inner/semi/anti are q03/q04/q17). The
  // content compare rides an 8-byte xxhash64 fingerprint computed
  // inside each side's scan projection, so the join carries (id, fp),
  // never two copies of the document text — at 10^12 docs the diff
  // shuffles ~16 bytes/row instead of the corpus, the same
  // fingerprint-not-payload rule as the q70 span keys; the 2^-64
  // collision odds mean a changed doc could in principle read
  // unchanged (n^2/2^65 over the corpus — the stated bound), which the
  // oracle (comparing text directly) would catch at fixture scale.
  // Snapshots derive deterministically from one table: old = id%5!=0,
  // new = id%5!=1, and new EDITS docs with id%7==2 — all four statuses
  // occur and the driver hash pins each doc's classification. --------------
  private def q108(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), xxhash64(col("text")).as("old_fp"))
    val neu = docs.filter(col("doc_id") % 5 =!= 1)
      .select(col("doc_id"), xxhash64(
        when(col("doc_id") % 7 === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("new_fp"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")
  }

  private val q108Sql =
    """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |n AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 <> 1)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.text <> n.text THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY 1""".stripMargin

  // --- q133: SCD2 / CDC APPLY-CHANGES — turn an upsert/delete change
  // log into slowly-changing-dimension HISTORY rows (the warehouse
  // "apply changes into" primitive; q108 DETECTS changes between
  // snapshots, this op MATERIALIZES a change stream into validity
  // intervals). Each upsert opens an interval at its ts; the NEXT
  // change of any kind (upsert or delete) closes it; an open interval
  // carries the 9999999999 sentinel (not NULL — the sentinel keeps
  // valid_to orderable and the row hashable) and is_current. Deletes
  // emit no row of their own, so an entity whose last change is a
  // delete correctly has NO current row. One window over
  // (entity_id, ts) = ONE exchange on the entity key — the CDC apply
  // at 10^12 rows is a single sort-within-partition pass, no join
  // against the current dimension needed because the log itself is
  // total. Fixture: 100 entities x 40 changes, ~1/8 deletes, ts
  // strictly increasing per entity by construction. --------------------------
  private val Scd2Sentinel = 9999999999L

  private def q133(s: SparkSession, dir: String): DataFrame = {
    val r = col("id")
    val log = s.range(0, 4000).select(
      (r % 100 + 1).as("entity_id"),
      (floor(r / 100).cast("long") * 100 +
        graft.world.World.h2Col(r * 7 + 1) % 90).as("ts"),
      when(graft.world.World.h2Col(r * 11 + 3) % 8 === 0, "D")
        .otherwise("U").as("op"),
      (graft.world.World.h2Col(r * 13 + 5) % 1000).as("value"))
    // ts alone is a total order on THIS fixture (strictly increasing
    // per entity), but the op is a general CDC primitive: (op, value)
    // tie-breaks pin duplicate-timestamp logs to one deterministic
    // history — deletes fold before upserts, upserts by ascending value
    val w = Window.partitionBy("entity_id").orderBy("ts", "op", "value")
    log.select(col("entity_id"), col("ts"), col("op"), col("value"),
        lead("ts", 1).over(w).as("nxt"))
      .filter(col("op") === "U")
      .select(col("entity_id"), col("ts").as("valid_from"),
        coalesce(col("nxt"), lit(Scd2Sentinel)).as("valid_to"),
        col("value"), col("nxt").isNull.as("is_current"))
      .orderBy("entity_id", "valid_from")
  }

  private def q133Sql: String = {
    val h2 = (k: String) => Spatial.h2Sql(k)
    s"""WITH log AS (SELECT r.range % 100 + 1 AS entity_id,
       |    (r.range // 100) * 100 + ${h2("r.range * 7 + 1")} % 90 AS ts,
       |    CASE WHEN ${h2("r.range * 11 + 3")} % 8 = 0
       |      THEN 'D' ELSE 'U' END AS op,
       |    ${h2("r.range * 13 + 5")} % 1000 AS value
       |  FROM range(4000) r),
       |x AS (SELECT log.*, LEAD(ts) OVER (
       |    PARTITION BY entity_id ORDER BY ts, op, value) AS nxt FROM log)
       |SELECT entity_id, ts AS valid_from,
       |  COALESCE(nxt, $Scd2Sentinel) AS valid_to, value,
       |  (nxt IS NULL) AS is_current
       |FROM x WHERE op = 'U' ORDER BY entity_id, valid_from""".stripMargin
  }

  // --- q107: HIERARCHICAL ROLLUP REPORT — the OLAP subtotal surface
  // (region -> nation -> grand total in ONE pass) via Spark's native
  // rollup(), which Catalyst plans as one Expand (L+1 level replicas)
  // feeding ONE aggregation: partial aggregation collapses every
  // replica to its level's groups per task before the single exchange,
  // so the subtotal levels cost one shuffle TOTAL, not one job per
  // level (what a naive UNION ALL of L+1 GROUP BYs pays — L+1 scans
  // and L+1 shuffles). At 100 TB the Expand factor matters only when
  // the finest level's cardinality is huge; with dimension-like keys
  // (here 5 regions x 25 nations) the replicated rows die in the
  // map-side hash, and the rule of thumb the comment pins: rollup for
  // dimension hierarchies, re-aggregate from the finest level when the
  // leaf cardinality is itself at data scale. Aggregates are count +
  // BIGINT sum + min/max — order-independent, so the oracle compare is
  // exact (a double SUM would hash-differ by reduction order). Levels
  // are disambiguated by explicit grouping() flags, not by the NULL
  // the Expand injects (dimension names could themselves be NULL). ---------
  private def q107(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      // grouping() is only resolvable INSIDE the rollup's agg clause
      .agg(grouping(col("r_name")).cast("int").as("g_region"),
        grouping(col("n_name")).cast("int").as("g_nation"),
        count(lit(1)).as("n_orders"),
        sum("o_custkey").as("sum_ckey"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("g_region"), col("g_nation"),
        col("n_orders"), col("sum_ckey").cast("long").as("sum_ckey"),
        col("min_price"), col("max_price"))
      .orderBy("g_region", "g_nation", "region", "nation")

  private val q107Sql =
    """SELECT COALESCE(r_name, 'ALL') AS region,
      |  COALESCE(n_name, 'ALL') AS nation,
      |  CAST(GROUPING(r_name) AS INT) AS g_region,
      |  CAST(GROUPING(n_name) AS INT) AS g_nation,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_ckey,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY g_region, g_nation, region, nation""".stripMargin

  // --- q92: BUCKETED CO-LOCATED JOIN (engine/Layout.writeBucketed) —
  // the third table-layout lever beside z-order (q87) and the bloom
  // prune (q86): orders and customer are persisted hash-bucketed by
  // the join key with the same bucket count, so the join needs NO
  // exchange — the shuffle is paid once at write time and amortized
  // over every subsequent join, which is what a 100 TB fact table
  // standardizes on. The fixture-scale write happens inside the query
  // (idempotent, temp-pathed, per-sf-dir table names); LayoutSpec
  // guards the plan property (zero Exchange under the join with
  // broadcast disabled). Oracle: the identical plain join on the
  // original parquet — bucketing must never change results. ------

  private def q92(s: SparkSession, dir: String): DataFrame = {
    val tag = (dir.hashCode.toLong & 0xFFFFFFFFL).toString
    val (to, tc) = (s"graft_b_orders_$tag", s"graft_b_customer_$tag")
    // the two bucketed writes are independent jobs — submit them from
    // two driver threads so the second write's tasks back-fill
    // executors freed by the first write's tail (guide §2.6: overlap
    // independent jobs; Spark's scheduler interleaves them FIFO)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fo = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = graft.engine.Layout.writeBucketed(
          t(s, dir, "orders").select("o_custkey", "o_totalprice"),
          to, graft.util.TempDirs.create(s"b_orders_$tag").toString,
          "o_custkey", 8)
      })
      val fc = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = graft.engine.Layout.writeBucketed(
          t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          tc, graft.util.TempDirs.create(s"b_customer_$tag").toString,
          "c_custkey", 8)
      })
      fo.get(); fc.get()
    } finally pool.shutdown()
    s.table(to).join(s.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
      .orderBy("c_nationkey")
  }

  private val q92Sql =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q88: EXACT distributed quantiles (engine/Quantile) — the true
  // min/p50/p90/p99/max of l_extendedprice by iterative histogram
  // refinement: a few narrow passes whose shuffles carry bin counts
  // (partial agg caps each task at `bins` rows), never values, with an
  // exact capped scan only inside the bins that hold the requested
  // ranks. No global sort anywhere. The small bins/collectCap below
  // deliberately force at least one refinement pass at sf0.01, proving
  // the recursion in the driver-checked path; parameters never change
  // the answer (QuantileSpec asserts parameter/partitioning
  // invariance). Rank semantics are positional (value at sorted index
  // k-1), so the oracle is DuckDB row_number() at identical ranks —
  // both engines return an actual element of the column, making the
  // double compare bit-exact. ------

  private def q88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // quantilesAt derives ranks from ITS one head scan's count, so no
    // separate pre-count pass (and no NaN-filter disagreement with the
    // selection's own base)
    val res = graft.engine.Quantile.quantilesAt(
      t(s, dir, "lineitem"), "l_extendedprice",
      Seq(("min", 0.0), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99),
        ("max", 1.0)),
      bins = 64, collectCap = 100)
    res.toDF("label", "k", "value").orderBy("k", "label")
  }

  private val q88Sql =
    """WITH s AS (SELECT l_extendedprice AS v,
      |    row_number() OVER (ORDER BY l_extendedprice) AS rn
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT COUNT(*) AS n FROM s),
      |ks AS (
      |  SELECT 'min' AS label, CAST(1 AS BIGINT) AS k FROM n
      |  UNION ALL SELECT 'p50',
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.5 * n) AS BIGINT)) FROM n
      |  UNION ALL SELECT 'p90',
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.9 * n) AS BIGINT)) FROM n
      |  UNION ALL SELECT 'p99',
      |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(0.99 * n) AS BIGINT)) FROM n
      |  UNION ALL SELECT 'max', n FROM n)
      |SELECT ks.label, ks.k, s.v AS value
      |FROM ks JOIN s ON s.rn = ks.k
      |ORDER BY ks.k, ks.label""".stripMargin

  // --- q105: ROBUST WINSORIZED SCALING — the RobustScaler
  // preprocessing op every feature pipeline runs before training:
  // clip a feature at its true p01/p99 (winsorize) and center/scale by
  // median and the p99−p01 spread. The fit is engine/Quantile's exact
  // distributed selection (bin counts shuffle, never values — q88's
  // machinery reused as a FIT step); the fitted cuts come back as
  // three driver doubles and enter the transform as plan literals, so
  // the per-row clip+scale is one codegen projection with ZERO
  // joins/shuffles — the fit-then-transform shape (CART q29, IVF q52)
  // applied to normalization. Positional rank semantics make the cuts
  // actual column elements, so the oracle's row_number() fit is
  // bit-identical and the double arithmetic (same values, same op
  // order) compares exact. -------------------------------------------------
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val cuts = graft.engine.Quantile.quantilesAt(
      t(s, dir, "lineitem"), "l_extendedprice",
      Seq(("p01", 0.01), ("p50", 0.5), ("p99", 0.99)),
      bins = 64, collectCap = 100)
      .map { case (l, _, v) => l -> v }.toMap
    val lo = cuts("p01")
    val mid = cuts("p50")
    val hi = cuts("p99")
    // degenerate fit (constant column, or one value covering >=98% of
    // rows) would silently scale every row to Infinity/NaN — fail the
    // fit loudly instead, like Quantile/TopK guard their contracts
    require(hi > lo,
      s"robust-scale fit degenerate: p99 ($hi) <= p01 ($lo) — the " +
        "feature has (near-)zero spread and cannot be scaled")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("v"))
      .withColumn("v_clip", least(greatest(col("v"), lit(lo)), lit(hi)))
      .withColumn("v_scaled", (col("v_clip") - lit(mid)) / lit(hi - lo))
      .withColumn("clipped",
        (col("v") < lo || col("v") > hi).cast("int"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val q105Sql =
    """WITH s AS (SELECT l_extendedprice AS v,
      |    row_number() OVER (ORDER BY l_extendedprice) AS rn
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT COUNT(*) AS n FROM s),
      |q AS (SELECT
      |  (SELECT v FROM s, n
      |     WHERE rn = GREATEST(1, CAST(FLOOR(0.01 * n) AS BIGINT))) AS lo,
      |  (SELECT v FROM s, n
      |     WHERE rn = GREATEST(1, CAST(FLOOR(0.5 * n) AS BIGINT))) AS mid,
      |  (SELECT v FROM s, n
      |     WHERE rn = GREATEST(1, CAST(FLOOR(0.99 * n) AS BIGINT))) AS hi)
      |SELECT l_orderkey, l_linenumber, l_extendedprice AS v,
      |  LEAST(GREATEST(l_extendedprice, lo), hi) AS v_clip,
      |  (LEAST(GREATEST(l_extendedprice, lo), hi) - mid) / (hi - lo)
      |    AS v_scaled,
      |  CAST(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
      |    THEN 1 ELSE 0 END AS INT) AS clipped
      |FROM lineitem, q ORDER BY 1, 2""".stripMargin

  // --- q86: BLOOM-PRUNED equi join (engine/Bloom) — the explicit
  // semi-join prune for the shape where the dim's key set fits in a
  // broadcastable bitmap but the dim rows do not fit a broadcast hash
  // table: fit a Bloom filter over the filtered dim's keys (typed
  // Aggregator, map-side partial = bitmap OR), probe the fact side
  // with the codegen bloom_might_contain BEFORE its shuffle, then join.
  // No false negatives, so the result is row-identical to the plain
  // join — the oracle below is the UNPRUNED join, and the hash compare
  // proves the prune dropped nothing. At this fixture scale Catalyst
  // broadcasts the dim anyway; the at-scale value (shuffle bytes cut
  // by ~the 1-segment selectivity) and the probe-below-Exchange plan
  // shape are guarded in BloomSpec with broadcast joins disabled.
  // Money output is SUM(ROUND(price*100)) as BIGINT cents — a
  // deterministic integer sum, immune to fp addition order. ------

  private def q86(s: SparkSession, dir: String): DataFrame = {
    import graft.sql.GraftFunctions.bloom_might_contain
    val dim = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_nationkey")
    // dim cardinality: one tiny count job on the already-filtered dim
    // (at scale this is table-stats metadata, not a scan)
    val bloom = graft.engine.Bloom.fit(dim, col("c_custkey"),
      math.max(1L, dim.count()), fpp = 0.01)
    val pruned = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
      .filter(bloom_might_contain(xxhash64(col("o_custkey")), bloom))
    pruned.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy("c_nationkey")
  }

  private val q86Sql =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q80: INTERVAL (range) JOIN — points to overlapping value bands
  // via the banded equi-join rewrite (engine/RangeJoin): lineitem
  // prices against 300 overlapping price bands (stride 347 < width
  // 500, so a price can fall in two bands — the multiplicity the
  // rewrite must reproduce exactly). The naive BETWEEN join would plan
  // a BroadcastNestedLoopJoin; the rewrite is an equi join on the
  // bucket key (plan-guarded in SparkEngineSpec), which is the shape
  // that survives two large sides. Oracle: DuckDB's native
  // non-equi BETWEEN join over the identical range()-built bands. ------
  private val BandN = 300
  private val BandLo0 = 900L
  private val BandStride = 347L
  private val BandWidth = 500L
  private val BandBucket = 256L

  private def q80(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(0, BandN)
      .select(col("id").as("band_id"),
        (lit(BandLo0) + col("id") * BandStride).as("lo"))
      .withColumn("hi", col("lo") + BandWidth)
    val pts = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    graft.engine.RangeJoin.bandedIntervalJoin(
        pts, "l_extendedprice", bands, "lo", "hi", BandBucket)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_items"),
        sum("l_orderkey").as("sum_okey"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("band_id")
  }

  private val q80Sql =
    s"""WITH bands AS (SELECT r.range AS band_id,
       |    $BandLo0 + r.range * $BandStride AS lo FROM range($BandN) r)
       |SELECT b.band_id, COUNT(*) AS n_items,
       |  CAST(SUM(l.l_orderkey) AS BIGINT) AS sum_okey,
       |  MIN(l.l_extendedprice) AS min_price,
       |  MAX(l.l_extendedprice) AS max_price
       |FROM bands b JOIN lineitem l
       |  ON l.l_extendedprice BETWEEN b.lo AND b.lo + $BandWidth
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q102: 2-D BBOX INTERSECTION JOIN — q80's 1-D banded rewrite
  // lifted to rectangles via grid binning + reference-point dedup
  // (engine/BboxJoin). Two synthetic rectangle layers derived from part
  // and customer keys by pure integer formulas (replicated verbatim in
  // the oracle); footprint 4096x4096, box edge 1..65, cell 128 — so a
  // box spans at most 2 cells per axis: replication factor <= 4,
  // stated and bounded. The naive plan is a BroadcastNestedLoopJoin
  // over the 4-way BETWEEN conjunction (3M candidate pairs here, n*m
  // always); BboxJoin's shape is one hash exchange per side on the
  // (cx,cy) cell key and zero dedup shuffles — the reference-point
  // filter emits each intersecting pair exactly once. Oracle: the
  // brute cross join with the raw predicate, affordable at sf0.01.
  // Outputs are integer ids + closed-interval overlap area (exact). ----
  private val BoxSpan = 4000L  // xmin/ymin range (+65 max edge < 4096)
  private val BoxCell = 128L
  private val BoxAx = 2654435761L // Knuth multiplicative hashes: the
  private val BoxAy = 1013904223L // two axes decorrelated from the key
  private val BoxW = 64L

  /** Deterministic rectangle layer from an integer key column. */
  private def boxLayer(df: DataFrame, key: String, id: String): DataFrame =
    df.select(col(key).cast("long").as(id))
      .withColumn("xmin", (col(id) * BoxAx) % BoxSpan)
      .withColumn("ymin", (col(id) * BoxAy) % BoxSpan)
      .withColumn("xmax", col("xmin") + lit(1L) + (col(id) * 97L) % BoxW)
      .withColumn("ymax", col("ymin") + lit(1L) + (col(id) * 53L) % BoxW)

  private def q102(s: SparkSession, dir: String): DataFrame =
    graft.engine.BboxJoin.join(
        boxLayer(t(s, dir, "part"), "p_partkey", "a_id"),
        "a_id",
        boxLayer(t(s, dir, "customer"), "c_custkey", "b_id"),
        "b_id", BoxCell)
      .select(col("a_id"), col("b_id"),
        ((least(col("a_xmax"), col("b_xmax")) -
          greatest(col("a_xmin"), col("b_xmin")) + lit(1L)) *
         (least(col("a_ymax"), col("b_ymax")) -
          greatest(col("a_ymin"), col("b_ymin")) + lit(1L))).as("ix_area"))
      .orderBy("a_id", "b_id")

  private val q102Sql =
    s"""WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS a_id,
       |    (p_partkey * $BoxAx) % $BoxSpan AS xmin,
       |    (p_partkey * $BoxAy) % $BoxSpan AS ymin,
       |    (p_partkey * $BoxAx) % $BoxSpan
       |      + 1 + (p_partkey * 97) % $BoxW AS xmax,
       |    (p_partkey * $BoxAy) % $BoxSpan
       |      + 1 + (p_partkey * 53) % $BoxW AS ymax
       |  FROM part),
       |b AS (SELECT CAST(c_custkey AS BIGINT) AS b_id,
       |    (c_custkey * $BoxAx) % $BoxSpan AS xmin,
       |    (c_custkey * $BoxAy) % $BoxSpan AS ymin,
       |    (c_custkey * $BoxAx) % $BoxSpan
       |      + 1 + (c_custkey * 97) % $BoxW AS xmax,
       |    (c_custkey * $BoxAy) % $BoxSpan
       |      + 1 + (c_custkey * 53) % $BoxW AS ymax
       |  FROM customer)
       |SELECT a_id, b_id,
       |  CAST((LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin) + 1)
       |     * (LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin) + 1)
       |    AS BIGINT) AS ix_area
       |FROM a, b
       |WHERE a.xmin <= b.xmax AND b.xmin <= a.xmax
       |  AND a.ymin <= b.ymax AND b.ymin <= a.ymax
       |ORDER BY a_id, b_id""".stripMargin

  // --- q64: JSON property extraction over the events.props column —
  // both Spark JSON APIs exercised: path-based get_json_object AND the
  // typed from_json(schema) struct, cross-checked against each other
  // in-plan (n_mismatch must be 0) and against DuckDB's json_extract
  // oracle. ---------------------------------------------------------------
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val kPath = get_json_object(col("props"), "$.k").cast("long")
    val kTyped = from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
      .getField("k")
    t(s, dir, "events")
      .select(col("event_type"), kPath.as("k"),
        // null-safe inequality: =!= would yield NULL (excluded from the
        // sum) when exactly one parser returns null — the very
        // divergence this check exists to catch
        (!(kPath <=> kTyped)).cast("long").as("mismatch"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
        min("k").as("k_min"), max("k").as("k_max"),
        sum("mismatch").as("n_mismatch"))
      .orderBy("event_type")
  }

  private val q64Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
      |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
      |  CAST(0 AS BIGINT) AS n_mismatch
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q60: batch event-time SESSIONIZATION (gap > 30 min starts a new
  // session) — the batch analog of streaming session windows over the
  // events table: lag + running flag-sum per user, then per-session
  // aggregate. Scale shape: every window partitions by user_id (no
  // global window), so the whole query shuffles once on the user key.
  // Determinism under ts ties: gaps depend only on the sorted ts
  // multiset, and both engines' default RANGE frame gives tied rows the
  // same running sum. ----------------------------------------------------
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id").orderBy(col("ts"))
    // pure timestamp arithmetic (ts is TIMESTAMP_NTZ: no epoch casts,
    // no session-timezone dependence on either engine)
    val prev = lag(col("ts"), 1).over(wUser)
    val newSession = prev.isNull ||
      col("ts") > prev + expr("INTERVAL 30 MINUTES")
    t(s, dir, "events")
      .select(col("user_id"), col("ts"))
      .withColumn("new_s", when(newSession, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_s").over(wUser))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("t_start"), max("ts").as("t_end"))
      .orderBy("user_id", "session_id")
  }

  private val q60Sql =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
      |      AS session_id
      |  FROM o)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS t_start, MAX(ts) AS t_end
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q58: the reference's min-40 ALLOCATION rule for stratified
  // sampling (the commented `num40` tail, R:764-770 + sample_n
  // R:826-844): per stratum, n = max(40, its proportional share of a
  // 100-row target), then draw exactly n deterministically — small
  // strata are floored UP to 40 so every class is represented (the
  // rule's point; the total therefore exceeds the target). Allocation
  // is a tiny per-stratum frame (counts -> broadcast); the draw reuses
  // q18's two-level salted top-k so no stratum funnels through one
  // task. Exact: any global top-n row is a top-n row of its own salt
  // bucket (n_alloc is constant within a stratum). -----------------------
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
    val counts = li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    // 100*cnt and total are exact in double (< 2^53), so floor of the
    // IEEE division matches DuckDB bit-for-bit
    val alloc = counts.crossJoin(broadcast(total))
      .select(col("l_returnflag"),
        greatest(lit(40L),
          floor(lit(100) * col("cnt") / col("total")).cast("long"))
          .as("n_alloc"))
    val key = col("l_orderkey") * 10 + col("l_linenumber")
    val h = (key * knuth) % 4294967296L
    val order = Seq(h.asc, col("l_orderkey").asc, col("l_linenumber").asc)
    val wLocal = Window.partitionBy(col("l_returnflag"), col("__salt"))
      .orderBy(order: _*)
    val wGlobal = Window.partitionBy("l_returnflag").orderBy(order: _*)
    li.join(broadcast(alloc), Seq("l_returnflag"))
      .withColumn("__salt", pmod(col("l_orderkey"), lit(16)))
      .withColumn("__rk1", row_number().over(wLocal))
      .filter(col("__rk1") <= col("n_alloc"))
      .withColumn("rk", row_number().over(wGlobal))
      .filter(col("rk") <= col("n_alloc"))
      .select("l_returnflag", "n_alloc", "rk", "l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "rk")
  }

  private val q58Sql =
    s"""WITH c AS (SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
       |tot AS (SELECT SUM(cnt) AS total FROM c),
       |alloc AS (
       |  SELECT l_returnflag,
       |    GREATEST(40, CAST(FLOOR(100 * cnt / CAST(total AS DOUBLE)) AS BIGINT)) AS n_alloc
       |  FROM c CROSS JOIN tot),
       |ranked AS (
       |  SELECT l.l_returnflag, a.n_alloc, l.l_orderkey, l.l_linenumber,
       |    ROW_NUMBER() OVER (PARTITION BY l.l_returnflag
       |      ORDER BY ((l.l_orderkey * 10 + l.l_linenumber) * $knuth) % 4294967296,
       |        l.l_orderkey, l.l_linenumber) AS rk
       |  FROM lineitem l JOIN alloc a ON l.l_returnflag = a.l_returnflag)
       |SELECT l_returnflag, n_alloc, rk, l_orderkey, l_linenumber
       |FROM ranked WHERE rk <= n_alloc ORDER BY 1, 3""".stripMargin

  // --- q18: exact-n-per-stratum sampling (U3, the reference's
  // sample_n at R:826-844): deterministic order by a Knuth hash of the
  // row key stands in for the RNG, row_number <= n keeps exactly n.
  // TWO-LEVEL top-k: a window partitioned by the 3-value stratum alone
  // would funnel the whole table through 3 tasks; instead each
  // (stratum, salt) bucket takes a local top-5, and the global top-5
  // per stratum is picked from the <= 16x5 salted survivors — exact
  // (any global top-5 row is a top-5 row of its own salt bucket). ------
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val key = col("l_orderkey") * 10 + col("l_linenumber")
    val h = (key * knuth) % 4294967296L
    val order = Seq(h.asc, col("l_orderkey").asc, col("l_linenumber").asc)
    val wLocal = Window.partitionBy(col("l_returnflag"), col("__salt"))
      .orderBy(order: _*)
    val wGlobal = Window.partitionBy("l_returnflag").orderBy(order: _*)
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("__salt", pmod(col("l_orderkey"), lit(16)))
      .withColumn("__rk1", row_number().over(wLocal))
      .filter(col("__rk1") <= 5)
      .withColumn("rk", row_number().over(wGlobal))
      .filter(col("rk") <= 5)
      .select("l_returnflag", "rk", "l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "rk")
  }

  private val q18Sql =
    s"""WITH ranked AS (
       |  SELECT l_returnflag, l_orderkey, l_linenumber,
       |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |      ORDER BY ((l_orderkey * 10 + l_linenumber) * $knuth) % 4294967296,
       |        l_orderkey, l_linenumber) AS rk
       |  FROM lineitem)
       |SELECT l_returnflag, rk, l_orderkey, l_linenumber
       |FROM ranked WHERE rk <= 5 ORDER BY 1, 2""".stripMargin

  // --- q01: the classic groupBy aggregate (A1/A3) -------------------------
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("cnt"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt,
      |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q02: filter + projection, pushed to the parquet scan (P1/P3) ------
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
        col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_quantity > 45
      |ORDER BY 1, 2""".stripMargin

  // --- q03: left join with misses + coalesce NA-fill (J1/P9, R:229).
  // No broadcast hint: the build side is a FILTERED FACT (customer),
  // unbounded at scale — size-based planning (or AQE at runtime) may
  // still broadcast it when it happens to be small, but hinting it
  // would force an OOM at 100 TB. Hints stay reserved for tables that
  // are dimensions BY SCHEMA (q04's nation/region). -----------------------
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select("c_custkey", "c_mktsegment")
    t(s, dir, "orders")
      .join(rich, col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
      .groupBy("segment").agg(count(lit(1)).as("n_orders"))
      .orderBy("segment")
  }

  private val q03Sql =
    """SELECT COALESCE(c.c_mktsegment, 'NONE') AS segment,
      |  COUNT(*) AS n_orders
      |FROM orders o LEFT JOIN
      |  (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
      |  ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q04: multiway broadcast dimension join (J2/J5) ---------------------
  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum("c_acctbal").as("sum_bal"))
      .orderBy("r_name", "n_name")

  private val q04Sql =
    """SELECT r_name, n_name, COUNT(*) AS n_cust, SUM(c_acctbal) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q05: one-hot encode (P4, the ifelse(Training.Class==k,1,0) of
  // R:197-201), then column-sum the indicator matrix (A3, R:352) ----------
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def hot(p: String): Column =
      when(col("o_orderpriority") === p, 1).otherwise(0)
    o.select(col("o_orderstatus"),
        hot("1-URGENT").as("is_urgent"), hot("2-HIGH").as("is_high"),
        hot("3-MEDIUM").as("is_medium"), hot("4-NOT SPECIFIED").as("is_notspec"),
        hot("5-LOW").as("is_low"))
      .groupBy("o_orderstatus")
      .agg(sum("is_urgent").as("n_urgent"), sum("is_high").as("n_high"),
        sum("is_medium").as("n_medium"), sum("is_notspec").as("n_notspec"),
        sum("is_low").as("n_low"))
      .orderBy("o_orderstatus")
  }

  private val q05Sql =
    """SELECT o_orderstatus,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
      |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
      |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
      |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q06: regex replace, first occurrence only (P5) — the reference's
  // str_replace("Goode_","") semantics (R:150-152) = anchored replace ------
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        regexp_replace(col("p_name"), "^[a-z]+ ", "").as("name_tail"),
        upper(col("p_brand")).as("brand_uc"),
        concat_ws("_", lit("Output"), col("p_type")).as("tagged"))
      .orderBy("p_partkey")

  private val q06Sql =
    """SELECT p_partkey, REGEXP_REPLACE(p_name, '^[a-z]+ ', '') AS name_tail,
      |  UPPER(p_brand) AS brand_uc,
      |  CONCAT_WS('_', 'Output', p_type) AS tagged
      |FROM part ORDER BY 1""".stripMargin

  // --- q07: stable contiguous row-id (P10, R:192-196) — never
  // monotonically_increasing_id, and never a global-order window (that
  // funnels the whole table through ONE task): two-phase range-
  // partitioned rank via StableRowId ----------------------------------
  private def q07(s: SparkSession, dir: String): DataFrame =
    graft.engine.StableRowId
      .assign(t(s, dir, "supplier"), "s_suppkey", "training_id")
      .select("training_id", "s_suppkey", "s_name")
      .orderBy("training_id")

  private val q07Sql =
    """SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS training_id,
      |  s_suppkey, s_name
      |FROM supplier ORDER BY 1""".stripMargin

  // --- q08: the vote — row-wise argmax over 5 probability columns with
  // which.max first-max tie-break and the strict <0.5 threshold
  // (W1-W4, R:362-389). Buckets of l_linenumber stand in for the 5
  // driver-probability columns; all divisions are of exact sums. ----------
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def bucket(i: Int): Column =
      sum(when(pmod(col("l_linenumber"), lit(5)) === i, col("l_quantity"))
        .otherwise(0.0))
    val agg = li.groupBy("l_orderkey")
      .agg(bucket(0).as("b0"), bucket(1).as("b1"), bucket(2).as("b2"),
        bucket(3).as("b3"), bucket(4).as("b4"),
        sum("l_quantity").as("tot"))
    val ps = (0 to 4).map(i => (col(s"b$i") / col("tot")).as(s"p$i"))
    val withP = agg.select((col("l_orderkey") +: ps): _*)
    val probs = (0 to 4).map(i => col(s"p$i"))
    val mx = greatest(probs: _*)
    withP.select(
        col("l_orderkey"),
        when(mx < 0.5, 0L)
          .otherwise(array_position(array(probs: _*), mx)).as("class"),
        mx.as("confidence"))
      .orderBy("l_orderkey")
  }

  private val q08Sql =
    """WITH agg AS (
      |  SELECT l_orderkey,
      |    SUM(CASE WHEN l_linenumber % 5 = 0 THEN l_quantity ELSE 0 END) AS b0,
      |    SUM(CASE WHEN l_linenumber % 5 = 1 THEN l_quantity ELSE 0 END) AS b1,
      |    SUM(CASE WHEN l_linenumber % 5 = 2 THEN l_quantity ELSE 0 END) AS b2,
      |    SUM(CASE WHEN l_linenumber % 5 = 3 THEN l_quantity ELSE 0 END) AS b3,
      |    SUM(CASE WHEN l_linenumber % 5 = 4 THEN l_quantity ELSE 0 END) AS b4,
      |    SUM(l_quantity) AS tot
      |  FROM lineitem GROUP BY 1),
      |p AS (
      |  SELECT l_orderkey, b0/tot AS p0, b1/tot AS p1, b2/tot AS p2,
      |    b3/tot AS p3, b4/tot AS p4,
      |    GREATEST(b0/tot, b1/tot, b2/tot, b3/tot, b4/tot) AS mx
      |  FROM agg)
      |SELECT l_orderkey,
      |  CAST(CASE WHEN mx < 0.5 THEN 0
      |    WHEN p0 >= p1 AND p0 >= p2 AND p0 >= p3 AND p0 >= p4 THEN 1
      |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 THEN 2
      |    WHEN p2 >= p3 AND p2 >= p4 THEN 3
      |    WHEN p3 >= p4 THEN 4 ELSE 5 END AS BIGINT) AS class,
      |  mx AS confidence
      |FROM p ORDER BY 1""".stripMargin

  // --- q09: union-all of the regional outputs pattern (U1, R:348) --------
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .select(col("s_nationkey").cast("int").as("nationkey"),
        col("s_acctbal").as("acctbal"), lit("supplier").as("side"))
    val cus = t(s, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nationkey"),
        col("c_acctbal").as("acctbal"), lit("customer").as("side"))
    sup.unionByName(cus)
      .groupBy("side", "nationkey")
      .agg(count(lit(1)).as("n"), max("acctbal").as("max_bal"))
      .orderBy("side", "nationkey")
  }

  private val q09Sql =
    """SELECT side, nationkey, COUNT(*) AS n, MAX(acctbal) AS max_bal
      |FROM (
      |  SELECT CAST(s_nationkey AS INT) AS nationkey, s_acctbal AS acctbal,
      |    'supplier' AS side FROM supplier
      |  UNION ALL
      |  SELECT CAST(c_nationkey AS INT) AS nationkey, c_acctbal AS acctbal,
      |    'customer' AS side FROM customer)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q10: distinct (A4, R:230-231) --------------------------------------
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nationkey"),
        col("c_mktsegment").as("segment"))
      .distinct()
      .orderBy("nationkey", "segment")

  private val q10Sql =
    """SELECT DISTINCT CAST(c_nationkey AS INT) AS nationkey,
      |  c_mktsegment AS segment
      |FROM customer ORDER BY 1, 2""".stripMargin

  // --- q11: group-by dedup with min/max/count (the R:516-520 pattern,
  // exact aggregates only — no order-dependent double sums) ----------------
  private def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"),
        max("value").as("max_v"))
      .orderBy("user_id", "event_type")

  private val q11Sql =
    """SELECT user_id, event_type, COUNT(*) AS n,
      |  MIN(value) AS min_v, MAX(value) AS max_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q12: whole-column %-classified stats (A3, R:459-476) ---------------
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.agg(
        sum("l_quantity").as("total_qty"),
        sum(when(col("l_returnflag") === "R", col("l_quantity"))
          .otherwise(0.0)).as("returned_qty"))
      .select(col("total_qty"), col("returned_qty"),
        (col("returned_qty") / col("total_qty") * 100.0).as("returned_pct"))
  }

  private val q12Sql =
    """SELECT SUM(l_quantity) AS total_qty,
      |  SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS returned_qty,
      |  SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
      |    / SUM(l_quantity) * 100.0 AS returned_pct
      |FROM lineitem""".stripMargin

  // --- q13: deterministic hash-based stratified sample (U3, R:826-844 —
  // rand() replaced by a splittable counter hash so the oracle agrees) -----
  private def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(pmod(pmod(col("o_orderkey") * knuth, lit(4294967296L)),
        lit(100L)) < 20)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("o_orderstatus")

  private val q13Sql =
    """SELECT o_orderstatus, COUNT(*) AS n_sampled
      |FROM orders
      |WHERE ((o_orderkey * 2654435761) % 4294967296) % 100 < 20
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q14: per-group top-k with deterministic tie-break ------------------
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    t(s, dir, "supplier")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("s_nationkey").cast("int").as("nationkey"),
        col("rk"), col("s_suppkey"), col("s_acctbal"))
      .orderBy("nationkey", "rk")
  }

  private val q14Sql =
    """SELECT CAST(s_nationkey AS INT) AS nationkey, CAST(rk AS INT) AS rk,
      |  s_suppkey, s_acctbal
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey
      |    ORDER BY s_acctbal DESC, s_suppkey) AS rk FROM supplier)
      |WHERE rk <= 2 ORDER BY 1, 2""".stripMargin

  // --- q15: event-time window aggregation (batch analog of a streaming
  // window; reference has no streaming — SURVEY.md §2.10) ------------------
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"))
      .orderBy("hour", "event_type")

  private val q15Sql =
    """SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n, MIN(value) AS min_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q16: single-pass pivot to the wide table — replaces the reference's
  // 85-fold left-join chain (J5, R:209-228) with one shuffle ---------------
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum("l_quantity"))
      .withColumnRenamed("A", "qty_a")
      .withColumnRenamed("N", "qty_n")
      .withColumnRenamed("R", "qty_r")
      .na.fill(0.0, Seq("qty_a", "qty_n", "qty_r"))
      .orderBy("l_linestatus")

  private val q16Sql =
    """SELECT l_linestatus,
      |  COALESCE(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0) AS qty_a,
      |  COALESCE(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0) AS qty_n,
      |  COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0) AS qty_r
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q17: semi/anti join (EXISTS / NOT EXISTS) ---------------------------
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_custkey")
    val c = t(s, dir, "customer")
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(lit("with_orders").as("side"), col("c_custkey"))
    val without = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(lit("without_orders").as("side"), col("c_custkey"))
    withO.unionByName(without)
      .groupBy("side").agg(count(lit(1)).as("n"))
      .orderBy("side")
  }

  private val q17Sql =
    """SELECT side, COUNT(*) AS n FROM (
      |  SELECT 'with_orders' AS side, c_custkey FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT 'without_orders' AS side, c_custkey FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q114: TIME-SERIES GAP-FILL + LOCF — the regularization step a
  // feature pipeline runs before any fixed-step model: bucket events to
  // hours, build each key's dense hour spine with sequence()/explode
  // (bounded by the key's own span — never a global calendar cross
  // join), left-join observations, and carry the last observation
  // forward with last(ignoreNulls) over a per-key window. The window
  // partitions by user_id — the natural key, parallel across keys at
  // any scale; the per-bucket observation is max(value) (order-free, so
  // the double survives the shuffle bit-exactly). The spine starts at
  // each key's first observation, so `filled` is never null. ---------------
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 8)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 3600L).cast("long").as("hb"),
        col("value"))
    val obs = ev.groupBy("user_id", "hb").agg(max("value").as("v_obs"))
    val spans = ev.groupBy("user_id").agg(min("hb").as("h0"), max("hb").as("h1"))
    val spine = spans.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"))).as("hb"))
    val w = Window.partitionBy("user_id").orderBy("hb")
    spine.join(obs, Seq("user_id", "hb"), "left")
      .select(col("user_id"), col("hb"),
        last("v_obs", ignoreNulls = true).over(w).as("filled"),
        col("v_obs").isNull.cast("int").as("is_gap"))
      .orderBy("user_id", "hb")
  }

  private val q114Sql =
    """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hb, value
      |  FROM events WHERE user_id < 8),
      |o AS (SELECT user_id, hb, MAX(value) AS v_obs FROM e GROUP BY 1, 2),
      |sp AS (SELECT user_id, UNNEST(generate_series(MIN(hb), MAX(hb))) AS hb
      |  FROM e GROUP BY user_id),
      |j AS (SELECT s.user_id, s.hb, o.v_obs
      |  FROM sp s LEFT JOIN o ON s.user_id = o.user_id AND s.hb = o.hb)
      |SELECT user_id, hb,
      |  LAST_VALUE(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      |  CAST(v_obs IS NULL AS INT) AS is_gap
      |FROM j ORDER BY user_id, hb""".stripMargin

  // --- q115: PAGERANK over a deterministic synthetic graph — the
  // iterative whole-graph op beyond connected components (q56): k=5
  // fixed rounds of engine/PageRank's integer fixed-point scheme, so
  // the distributed sum order can never perturb the result (see the
  // PageRank scaladoc for why a floating-point formulation cannot be
  // hash-oracled). The graph itself derives from the Knuth hash — both
  // engines regenerate edges from the same formula; the oracle unrolls
  // the 5 rounds as chained CTEs since recursive CTEs cannot aggregate
  // over their own recursive reference. -------------------------------------
  private val PrV = 64L
  private val PrE = 256L
  private val PrIters = 5

  private def q115(s: SparkSession, dir: String): DataFrame = {
    val raw = s.range(0, PrE).select(
      ((col("id") * 3 + 1) * knuth % 4294967296L % PrV).as("src"),
      ((col("id") * 3 + 2) * knuth % 4294967296L % PrV).as("dst"))
    val edges = raw.filter(col("src") =!= col("dst")).distinct()
    val nodes = s.range(0, PrV).toDF("node")
    graft.engine.PageRank.run(edges, nodes, PrIters)
      .orderBy("node")
  }

  private val q115Sql: String = {
    val h1 = s"(((r.range * 3 + 1) * $knuth) % 4294967296)"
    val h2 = s"(((r.range * 3 + 2) * $knuth) % 4294967296)"
    val iterCtes = (1 to PrIters).map { i =>
      val p = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node,
         |    CAST(SUM((p.r * 85) // (g.outdeg * 100)) AS BIGINT) AS cs
         |  FROM $p p JOIN deg g ON p.node = g.node AND g.outdeg > 0
         |  JOIN edges e ON e.src = p.node GROUP BY 1),
         |d$i AS (SELECT CAST((COALESCE(SUM(p.r), 0) * 85) // (100 * $PrV) AS BIGINT) AS share
         |  FROM $p p JOIN deg g ON p.node = g.node AND g.outdeg = 0),
         |r$i AS (SELECT n.node, 150000 + COALESCE(c.cs, 0) + d.share AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node CROSS JOIN d$i d)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT $h1 % $PrV AS src, $h2 % $PrV AS dst FROM range($PrE) r),
       |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |nodes AS (SELECT r.range AS node FROM range($PrV) r),
       |deg AS (SELECT n.node, COALESCE(d.c, 0) AS outdeg FROM nodes n
       |  LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY 1) d ON n.node = d.src),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT node, CAST(r AS BIGINT) AS r FROM r$PrIters ORDER BY node""".stripMargin
  }

  // --- q116: WEIGHTED sampling without replacement (Efraimidis-
  // Spirakis A-Res): each row draws a deterministic uniform from the
  // Knuth hash and the k rows maximizing ln(u)/w ARE an exact weighted
  // sample — expressed as a global top-k, which Spark executes as
  // TakeOrderedAndProject (per-partition heaps + a k-row driver merge,
  // never a full sort — the q14 scale shape applied to sampling). The
  // uniform is (h % 2^20 + 0.5) / 2^20: never 0 or 1, so ln(u) is
  // finite; the selection key is compared as a raw double in BOTH
  // engines, with o_orderkey breaking ties, and only the 1e-12-quantized
  // key is emitted. Complements q13 (uniform hash sample) and q18/q58
  // (stratified): this is the importance-weighted family. -------------------
  private val WsK = 100

  private def q116(s: SparkSession, dir: String): DataFrame = {
    val h = (col("o_orderkey") * 23L * knuth) % 4294967296L
    val u = (h % 1048576L + 0.5) / 1048576.0
    val key = log(u) / col("o_totalprice")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").as("w"),
        round(key * 1e12).cast("long").as("key_q12"), key.as("__k"))
      .orderBy(desc("__k"), asc("o_orderkey"))
      .limit(WsK)
      .drop("__k")
  }

  private val q116Sql =
    s"""WITH k AS (SELECT o_orderkey, o_totalprice AS w,
       |    ln(((o_orderkey * 23 * $knuth) % 4294967296 % 1048576 + 0.5) / 1048576.0)
       |      / o_totalprice AS key
       |  FROM orders)
       |SELECT o_orderkey, w, CAST(ROUND(key * 1e12) AS BIGINT) AS key_q12
       |FROM k ORDER BY key DESC, o_orderkey LIMIT $WsK""".stripMargin

  // --- q117: SKYLINE (Pareto frontier) — minimize (price, size) over
  // the distinct part points. The distributed shape is two-phase, the
  // GroupRank discipline applied to dominance: fixed-width x-buckets
  // give (1) a per-bucket running min of y over the (x, y)-ordered
  // window — parallel across buckets, each bucket one task's worth —
  // and (2) an EXCLUSIVE prefix min across bucket summaries (a frame
  // with one row per bucket, windowed globally only because it is
  // tiny, then broadcast back). A row survives iff y is strictly below
  // both — exactly the strict-dominance skyline on distinct points
  // (preceding same-x rows carry strictly smaller y, so `y < runmin`
  // encodes "no dominator" in one comparison; see the oracle's NOT
  // EXISTS for the definition being matched). ---------------------------------
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "part")
      .select(col("p_retailprice").as("x"), col("p_size").cast("long").as("y"))
      .distinct()
      .withColumn("b", floor(col("x") / 25.0).cast("long"))
    val wb = Window.partitionBy("b").orderBy("x", "y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = pts.withColumn("runmin", min("y").over(wb))
    val wp = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val pmins = pts.groupBy("b").agg(min("y").as("bm"))
      .select(col("b"), min("bm").over(wp).as("pmin"))
    local.join(broadcast(pmins), Seq("b"))
      .filter((col("runmin").isNull || col("y") < col("runmin")) &&
        (col("pmin").isNull || col("y") < col("pmin")))
      .select("x", "y")
      .orderBy("x", "y")
  }

  private val q117Sql =
    """WITH p AS (SELECT DISTINCT p_retailprice AS x, CAST(p_size AS BIGINT) AS y FROM part)
      |SELECT x, y FROM p a
      |WHERE NOT EXISTS (SELECT 1 FROM p b
      |  WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y))
      |ORDER BY x, y""".stripMargin

  // --- q118: GROUPED OLS TREND — per-user least-squares slope and
  // intercept of value over time, the per-entity trend fit an analytics
  // pipeline runs at every key in parallel (and the reference's
  // per-region model-fit loop R:293-342 re-expressed as a closed-form
  // grouped aggregate). Exactness discipline: y is centified to BIGINT
  // and x is each key's HOUR OFFSET from its own first observation
  // (min-join, broadcast — the offsets keep every moment sum within
  // ~2^41, far from both int64 and double-exact limits), so all five
  // sufficient statistics (n, Σx, Σy, Σxx, Σxy) are exact integer sums
  // — order-free under any partitioning. The only floating point is
  // the final slope/intercept division, written as the IDENTICAL
  // expression tree in both engines, then quantized. Degenerate keys
  // (all observations in one hour) are filtered by den > 0 on both
  // sides. -------------------------------------------------------------------
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      floor(unix_timestamp(col("ts")) / 3600L).cast("long").as("hb"),
      round(col("value") * 100).cast("long").as("y"))
    val base = ev.groupBy("user_id").agg(min("hb").as("h0"))
    val g = ev.join(broadcast(base), Seq("user_id"))
      .select(col("user_id"), (col("hb") - col("h0")).as("x"), col("y"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("double") / den.cast("double")
    g.filter(den > 0)
      .select(col("user_id"), col("n"),
        round(slope * 1e6).cast("long").as("slope_q6"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double") * 1e4).cast("long").as("icept_q4"))
      .orderBy("user_id")
  }

  private val q118Sql =
    """WITH e AS (SELECT user_id,
      |    CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hb,
      |    CAST(ROUND(value * 100) AS BIGINT) AS y FROM events),
      |b AS (SELECT user_id, MIN(hb) AS h0 FROM e GROUP BY 1),
      |g AS (SELECT e.user_id, COUNT(*) AS n,
      |    SUM(e.hb - b.h0) AS sx, SUM(e.y) AS sy,
      |    SUM((e.hb - b.h0) * (e.hb - b.h0)) AS sxx,
      |    SUM((e.hb - b.h0) * e.y) AS sxy
      |  FROM e JOIN b ON e.user_id = b.user_id GROUP BY 1)
      |SELECT user_id, n,
      |  CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT) AS slope_q6,
      |  CAST(ROUND((CAST(sy AS DOUBLE)
      |      - CAST(n * sxy - sx * sy AS DOUBLE)
      |        / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) * 1e4) AS BIGINT) AS icept_q4
      |FROM g WHERE n * sxx - sx * sx > 0 ORDER BY user_id""".stripMargin

  // --- q121: TRIANGLE PARTICIPATION COUNTS — the third graph primitive
  // beside connected components (q56/q78) and PageRank (q115), via
  // engine/Triangles' degree-ordered orientation (wedge work bounded by
  // E^1.5 regardless of skew; see its scaladoc). The graph regenerates
  // from the NONLINEAR World.h2 hash with decorrelated endpoint streams
  // (i*7+1 / i*11+2): a single multiplicative hash is affine mod 2^32,
  // so affine endpoint pairs would lie on torus lines and form ZERO
  // triangles — the fixture asserts 608 triangles with every vertex
  // participating. All-integer output; the oracle brute-forces the
  // canonical three-way join, which is feasible precisely because it
  // never pays the orientation trick it is checking. -------------------------
  private val TcV = 48L
  private val TcE = 512L

  private def q121(s: SparkSession, dir: String): DataFrame = {
    import graft.world.World
    val raw = s.range(0, TcE).select(
      (World.h2Col(col("id") * 7 + 1) % TcV).as("s"),
      (World.h2Col(col("id") * 11 + 2) % TcV).as("d"))
    val edges = raw.filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v"))
      .distinct()
    val nodes = s.range(0, TcV).toDF("node")
    graft.engine.Triangles.perNode(edges, nodes).orderBy("node")
  }

  private val q121Sql: String = {
    val h2a = Spatial.h2Sql(s"r.range * 7 + 1")
    val h2b = Spatial.h2Sql(s"r.range * 11 + 2")
    s"""WITH e0 AS (SELECT $h2a % $TcV AS s, $h2b % $TcV AS d
       |  FROM range($TcE) r),
       |edges AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v
       |  FROM e0 WHERE s <> d),
       |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
       |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
       |m AS (SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
       |cnt AS (SELECT node, COUNT(*) AS tri_cnt FROM m GROUP BY 1)
       |SELECT n.range AS node,
       |  CAST(COALESCE(c.tri_cnt, 0) AS BIGINT) AS tri_cnt
       |FROM range($TcV) n LEFT JOIN cnt c ON n.range = c.node
       |ORDER BY node""".stripMargin
  }

  // --- q125: FUNNEL ANALYSIS — per user, the strictly-ordered
  // view -> click -> purchase progression: t1 = first view, t2 = first
  // click AFTER t1, t3 = first purchase AFTER t2, and the step count
  // reached. The sequential dependency is resolved by THREE chained
  // filter-join-aggregate passes — each pass is one partial-aggregated
  // shuffle on user_id and the step frames only shrink (users who
  // reached step k), so the plan is three narrow exchanges, never a
  // per-user sort or a quadratic event self-join. Step comparisons run
  // on full-precision native timestamps (identical microsecond
  // semantics in both engines); only the emitted columns floor to epoch
  // seconds, with -1 for steps not reached. ----------------------------------
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val users = ev.select("user_id").distinct()
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    users.join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).cast("int").as("steps"),
        coalesce(unix_timestamp(col("t1")), lit(-1L)).as("t1_s"),
        coalesce(unix_timestamp(col("t2")), lit(-1L)).as("t2_s"),
        coalesce(unix_timestamp(col("t3")), lit(-1L)).as("t3_s"))
      .orderBy("user_id")
  }

  private val q125Sql =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      |SELECT u.user_id,
      |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |    WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS steps,
      |  COALESCE(CAST(FLOOR(epoch(t1)) AS BIGINT), -1) AS t1_s,
      |  COALESCE(CAST(FLOOR(epoch(t2)) AS BIGINT), -1) AS t2_s,
      |  COALESCE(CAST(FLOOR(epoch(t3)) AS BIGINT), -1) AS t3_s
      |FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
      |LEFT JOIN s2 ON u.user_id = s2.user_id
      |LEFT JOIN s3 ON u.user_id = s3.user_id
      |ORDER BY u.user_id""".stripMargin

  // --- q136: CUBE / GROUPING SETS — the full-lattice companion of
  // q107's rollup (region->nation is a HIERARCHY, so rollup; market
  // segment x order year are INDEPENDENT dimensions, so every subtotal
  // combination is wanted). Same engine economics as q107: Catalyst
  // plans cube() as ONE Expand (2^L level replicas) into ONE partial
  // aggregation — the four grouping sets cost one shuffle total, and
  // with dimension-like keys the replicas collapse in the map-side hash
  // before the exchange. grouping() flags disambiguate levels (a NULL
  // dimension value could be data); aggregates are count + BIGINT sum,
  // order-free, exact. -------------------------------------------------------
  private def q136(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      // the year is materialized as a plain column BEFORE the cube:
      // grouping() resolves grouping COLUMNS only — an aliased
      // expression inside cube() is invisible to it (analyzer rejects
      // both the alias and the re-stated expression)
      .withColumn("o_year", year(col("o_orderdate")))
      .cube(col("c_mktsegment"), col("o_year"))
      .agg(grouping(col("c_mktsegment")).cast("int").as("g_seg"),
        grouping(col("o_year")).cast("int").as("g_year"),
        count(lit(1)).as("n_orders"),
        sum("o_orderkey").as("sum_okey"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_year"), lit(-1)).cast("int").as("o_year"),
        col("g_seg"), col("g_year"), col("n_orders"), col("sum_okey"))
      .orderBy("g_seg", "g_year", "segment", "o_year")

  private val q136Sql =
    """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
      |  CAST(COALESCE(EXTRACT(year FROM o_orderdate), -1) AS INT) AS o_year,
      |  CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
      |  CAST(GROUPING(EXTRACT(year FROM o_orderdate)) AS INT) AS g_year,
      |  COUNT(*) AS n_orders, CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, EXTRACT(year FROM o_orderdate))
      |ORDER BY g_seg, g_year, segment, o_year""".stripMargin

  // --- q137: EVENT TRANSITION COUNTS — the first-order Markov view of
  // the event stream (what follows what, per user, in event time): the
  // behavioral-analytics primitive behind next-action prediction and
  // funnel discovery (q125 checks ONE ordered pattern; this counts ALL
  // adjacent pairs). One window over (user_id, ts, event_id) = ONE
  // exchange on the user key, then a partial-aggregated count on the
  // (src, dst) pair — the transition matrix is |types|^2 rows no matter
  // the input size. event_id breaks any equal-ts tie identically in
  // both engines. ------------------------------------------------------------
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .select(col("src"), lead("src", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .orderBy("src", "dst")
  }

  private val q137Sql =
    """WITH x AS (SELECT event_type AS src, LEAD(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events)
      |SELECT src, dst, COUNT(*) AS n FROM x WHERE dst IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q138: RETENTION COHORTS — the classic cohort x week-offset
  // activity matrix: users grouped by first-seen week, counted distinct
  // in each later week. Weeks are integer epoch // 604800 on both
  // sides (DATE_TRUNC-style calendar weeks differ cross-engine on week
  // start; the epoch bucket is the pinned contract). Two exchanges:
  // the per-user MIN(ts) aggregation, and the (cohort, offset)
  // count-distinct — both partial-aggregated; the join of first-week
  // back onto events broadcasts the per-user frame (users << events).
  // Counts are exact integers. The deterministic thinning filter exists
  // because the raw synthetic stream has every user active every week
  // (a constant cohort matrix proves nothing); thinned, the fixture
  // yields 4 cohorts with decaying per-offset retention. ---------------------
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val wk = (c: Column) => floor(unix_timestamp(c) / 604800).cast("long")
    val ev = t(s, dir, "events")
      .filter((col("event_id") * 13 + col("user_id") * 7) % 19 === 0)
      .select(col("user_id"), wk(col("ts")).as("w"))
    val first = ev.groupBy("user_id").agg(min("w").as("w0"))
    ev.join(broadcast(first), "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "offset")
  }

  private val q138Sql =
    """WITH ev AS (SELECT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS w FROM events
      |  WHERE (event_id * 13 + user_id * 7) % 19 = 0),
      |f AS (SELECT user_id, MIN(w) AS w0 FROM ev GROUP BY 1)
      |SELECT f.w0 AS cohort_week, ev.w - f.w0 AS "offset",
      |  COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN f ON ev.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q155: MANN-KENDALL TREND + SEN'S SLOPE per user — the standard
  // nonparametric trend test for environmental time series (is this
  // pixel/station's series rising?): S = Σ_{i<j} sgn(vⱼ−vᵢ) over the
  // time-ordered series, the tie-corrected variance numerator
  // var18 = n(n−1)(2n+5) − Σₖ tₖ(tₖ−1)(2tₖ+5) kept as its EXACT integer
  // (the /18 and the z-score are the caller's one-liner), and Sen's
  // slope = the median pairwise slope (vⱼ−vᵢ)/Δt. Scale shape: the
  // pairwise work is O(nᵤ²) per user BY DESIGN (the MK statistic is
  // pairwise; nᵤ here ≤ 86, and real deployments window the series
  // before testing) — but it runs in REGISTERS, not rows: one
  // collect_list aggregation per user (one exchange total), then the
  // codegen MannKendall expression computes S, the tie-corrected
  // variance and the Sen median scalar-side. The previous
  // formulation materialized the O(nᵤ²) pair frame as 4M rows at
  // sf0.1, shuffled it and SORTED it under a ranking window to pick
  // one median element per user (measured 5 s in the sweep); the
  // expression does the identical IEEE arithmetic on the collected
  // series (see MannKendall's scaladoc for the equivalence argument,
  // incl. the signed-zero and value-tie cases). -----------------------------
  private def q155(s: SparkSession, dir: String): DataFrame = {
    // ts arrives TIMESTAMP_NTZ from the driver's parquet; the cast
    // reads it in the session tz (Verify pins UTC), matching DuckDB's
    // naive-as-UTC epoch_us — and is a no-op on LTZ fixtures.
    val ev = t(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("tus"),
      col("event_id").as("eid"), col("value").as("v"))
    // sort_array orders by (tus, eid) — eid unique per user pins the
    // pair order the self-join condition expressed (tus < t2 OR
    // (tus = t2 AND eid < e2)); users with no positive-dt pair return
    // NULL and drop, exactly like the old inner join against the
    // filtered median frame.
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("tus"), col("eid"), col("v")))).as("e"))
      .select(col("user_id"), graft.sql.GraftFunctions
        .mann_kendall(col("e.tus"), col("e.v")).as("mk"))
      .filter(col("mk").isNotNull)
      .select(col("user_id"), col("mk.n").as("n"),
        col("mk.s_stat").as("s_stat"), col("mk.var18").as("var18"),
        col("mk.sen_slope").as("sen_slope"))
      .orderBy("user_id")
  }

  private val q155Sql =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id AS eid,
      |    value AS v FROM events),
      |pairs AS (SELECT a.user_id, CASE WHEN b.v > a.v THEN 1
      |    WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
      |    CASE WHEN b.tus > a.tus THEN (b.v - a.v) /
      |      (CAST(b.tus - a.tus AS DOUBLE) / 1000000.0) END AS slope,
      |    a.eid AS e1, b.eid AS e2
      |  FROM ev a JOIN ev b ON a.user_id = b.user_id
      |    AND (a.tus < b.tus OR (a.tus = b.tus AND a.eid < b.eid))),
      |s AS (SELECT user_id, SUM(sgn) AS s_stat FROM pairs GROUP BY 1),
      |sl AS (SELECT user_id, slope, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY slope, e1, e2) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS m
      |  FROM pairs WHERE slope IS NOT NULL),
      |sen AS (SELECT user_id, slope AS sen_slope FROM sl
      |  WHERE rn = (m + 1) // 2),
      |tg AS (SELECT user_id, v, COUNT(*) AS t FROM ev GROUP BY 1, 2),
      |ties AS (SELECT user_id, SUM(t) AS n,
      |    SUM(t) * (SUM(t) - 1) * (SUM(t) * 2 + 5)
      |      - SUM(t * (t - 1) * (t * 2 + 5)) AS var18
      |  FROM tg GROUP BY 1)
      |SELECT ties.user_id, CAST(n AS BIGINT) AS n,
      |  CAST(s_stat AS BIGINT) AS s_stat, CAST(var18 AS BIGINT) AS var18,
      |  sen_slope
      |FROM ties JOIN s ON ties.user_id = s.user_id
      |  JOIN sen ON ties.user_id = sen.user_id
      |ORDER BY 1""".stripMargin

  // --- q195: UNPIVOT/MELT — the wide→long dual of q16's pivot, via
  // Spark's NATIVE Dataset.unpivot (not a hand-rolled stack/explode):
  // lineitem's four measure columns melt to (measure, value) rows and
  // aggregate per (returnflag, measure). Aggregates are order-free on
  // doubles by construction — COUNT plus MIN/MAX only (a SUM over
  // melted cents would be association-dependent and driver-red). The
  // oracle reconstructs the melt as a UNION ALL of per-measure
  // selects — the pre-UNPIVOT formulation every warehouse migration
  // rewrites away. ----------------------------------------------------------
  private def q195(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_returnflag", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"), min(col("value")).as("mn"),
        max(col("value")).as("mx"))
      .orderBy("l_returnflag", "measure")

  // --- q196: explicit GROUPING SETS — the general form the q107
  // rollup and q136 cube are shorthands for, with a NON-hierarchical,
  // NON-power-set selection ((flag,status), (flag), (status)) that
  // neither shorthand can express (no grand total on purpose: its
  // absence proves the set list is honored, not expanded to a cube).
  // grouping_id() disambiguates which set produced each row — REQUIRED
  // for correctness because a NULL group key is otherwise ambiguous
  // with a real NULL. Engine: Spark 4's native Dataset.groupingSets.
  // Oracle: DuckDB GROUPING SETS with the same id arithmetic. ---------------
  private def q196(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  private val q196Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
      |    AS gid,
      |  COUNT(*) AS n, SUM(l_quantity) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), (l_linestatus))
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  // --- q197: the RANKING-WINDOW family in one frame — rank,
  // dense_rank, ntile(4), percent_rank, cume_dist over (nation,
  // ORDER BY acctbal DESC, custkey) on customer. The unique custkey
  // tie-break makes every function deterministic; percent_rank and
  // cume_dist are emitted as EXACT INTEGER numerators against the
  // group-size/rank denominators ((rank-1) and cume count vs (n-1), n)
  // so no float ratio enters the compare. A top-per-group filter keeps
  // the pinned surface small while still crossing ntile bucket
  // boundaries. Oracle: the identical windows in DuckDB. --------------------
  private def q197(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        (count(lit(1)).over(Window.partitionBy("c_nationkey")) - 1)
          .as("pr_den"),
        count(lit(1)).over(Window.partitionBy("c_nationkey"))
          .as("cd_den"),
        count(lit(1)).over(w.rangeBetween(Window.unboundedPreceding,
          Window.currentRow)).as("cd_num"))
      .withColumn("pr_num", col("rnk") - 1)
      .filter(col("rnk") <= 12)
      .select("c_nationkey", "c_custkey", "rnk", "drnk", "quartile",
        "pr_num", "pr_den", "cd_num", "cd_den")
      .orderBy("c_nationkey", "rnk")
  }

  private val q197Sql =
    """WITH w AS (SELECT c_nationkey, c_custkey,
      |    RANK() OVER win AS rnk,
      |    DENSE_RANK() OVER win AS drnk,
      |    NTILE(4) OVER win AS quartile,
      |    COUNT(*) OVER (PARTITION BY c_nationkey) - 1 AS pr_den,
      |    COUNT(*) OVER (PARTITION BY c_nationkey) AS cd_den,
      |    COUNT(*) OVER (win RANGE BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS cd_num
      |  FROM customer
      |  WINDOW win AS (PARTITION BY c_nationkey
      |    ORDER BY c_acctbal DESC, c_custkey))
      |SELECT c_nationkey, c_custkey, CAST(rnk AS INT) AS rnk,
      |  CAST(drnk AS INT) AS drnk, CAST(quartile AS INT) AS quartile,
      |  CAST(rnk - 1 AS INT) AS pr_num, CAST(pr_den AS BIGINT) AS pr_den,
      |  CAST(cd_num AS BIGINT) AS cd_num, CAST(cd_den AS BIGINT) AS cd_den
      |FROM w WHERE rnk <= 12
      |ORDER BY c_nationkey, rnk""".stripMargin

  // --- q198: INTERSECT / EXCEPT — the set operators SURVEY §2.7 marks
  // n/a in the reference, implemented anyway for engine completeness
  // (Spark's native INTERSECT [DISTINCT] and EXCEPT [DISTINCT]): the
  // customer-key sets of two disjoint order-priority slices, reported
  // as one tagged union of both set differences and the intersection —
  // counts pin the set algebra (|A∩B| + |A\B| = |A|distinct). --------------
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val b = o.filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_custkey"))
    a.intersect(b).withColumn("which", lit("both"))
      .unionByName(a.except(b).withColumn("which", lit("only_urgent")))
      .unionByName(b.except(a).withColumn("which", lit("only_high")))
      .groupBy("which")
      .agg(count(lit(1)).as("n"), min(col("o_custkey")).as("mn"),
        max(col("o_custkey")).as("mx"), sum(col("o_custkey")).as("s"))
      .orderBy("which")
  }

  private val q198Sql =
    """WITH a AS (SELECT o_custkey FROM orders
      |    WHERE o_orderpriority = '1-URGENT'),
      |b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
      |u AS (
      |  SELECT 'both' AS which, o_custkey FROM
      |    (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |  UNION ALL
      |  SELECT 'only_urgent', o_custkey FROM
      |    (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |  UNION ALL
      |  SELECT 'only_high', o_custkey FROM
      |    (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a))
      |SELECT which, COUNT(*) AS n, MIN(o_custkey) AS mn,
      |  MAX(o_custkey) AS mx, CAST(SUM(o_custkey) AS BIGINT) AS s
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q199: EXACT HEAVY HITTERS by the two-pass Misra-Gries shape —
  // the frequent-items operator count-min (q91) cannot close (CMS
  // answers point queries; it cannot ENUMERATE the heavy set): pass 1
  // runs the MG sketch as one typed aggregation (capacity = the
  // threshold denominator, so NO key with count > n/denom can be
  // evicted regardless of partitioning or merge order — the MG
  // invariant), pass 2 exact-counts only the ≤ k candidates through a
  // broadcast semi-join and applies the integer threshold
  // denom·count > n. Output = the exact heavy-hitter set, partition-
  // layout-invariant by the guarantee + re-filter. Oracle: the full
  // GROUP BY ... HAVING the sketch exists to avoid. ------------------------
  private val HhDenom = 1400

  private def q199(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = t(s, dir, "lineitem").select(col("l_partkey")).as[Long]
    val total = keys.count()
    val cands = keys
      .select(new graft.engine.HeavyHitters.MgAgg(HhDenom).toColumn)
      .head()
    keys.toDF("l_partkey")
      .join(broadcast(cands.toSeq.toDF("l_partkey")), Seq("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HhDenom > total)
      .orderBy("l_partkey")
  }

  private val q199Sql =
    s"""SELECT l_partkey, COUNT(*) AS cnt
      |FROM lineitem GROUP BY 1
      |HAVING COUNT(*) * $HhDenom > (SELECT COUNT(*) FROM lineitem)
      |ORDER BY 1""".stripMargin

  // --- q200: INCREMENTAL VIEW MAINTENANCE — merge a CDC delta into a
  // materialized aggregate WITHOUT rescanning the base (the streaming-
  // warehouse primitive behind every "refresh incrementally" claim):
  // the delta batch (deterministic h2-sampled deletes of existing rows
  // + modified-copy inserts) aggregates ALONE with ±1 signs and merges
  // with the base aggregate by one tiny grouped sum — additive
  // measures only (counts and integer-valued qty sums, so double
  // addition is exact and order-free). The ORACLE materializes the
  // post-change table instead — anti-join the deletes, union the
  // inserts, aggregate from scratch — so incremental-merge algebra is
  // checked against full recomputation, the IVM gold-standard test,
  // with zero shared shape. --------------------------------------------------
  private def q200(s: SparkSession, dir: String): DataFrame = {
    import graft.world.World
    val li = t(s, dir, "lineitem")
    val rowKey = col("l_orderkey") * 7 + col("l_linenumber")
    val base = li.select(col("l_returnflag"), col("l_quantity"))
    val deletes = li.filter(World.h2Col(rowKey) % 37 === 0)
      .select(col("l_returnflag"), col("l_quantity"),
        lit(-1L).as("sign"))
    val inserts = li.filter(World.h2Col(rowKey) % 41 === 0)
      .select(col("l_returnflag"), (col("l_quantity") + 5).as("l_quantity"),
        lit(1L).as("sign"))
    val baseAgg = base.groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
    val deltaAgg = deletes.unionByName(inserts).groupBy("l_returnflag")
      .agg(sum(col("sign") * col("l_quantity")).as("qty"),
        sum(col("sign")).as("n"))
    baseAgg.unionByName(deltaAgg)
      .groupBy("l_returnflag")
      .agg(sum(col("qty")).as("qty"), sum(col("n")).as("n"))
      .orderBy("l_returnflag")
  }

  private val q200Sql = {
    def h(k: String) = s"((($k) * 2654435761) % 4294967296)"
    def h2(k: String) = h(s"${h(k)} // 65536")
    val key = "(l_orderkey * 7 + l_linenumber)"
    s"""WITH post AS (
      |  SELECT l_returnflag, l_quantity FROM lineitem
      |    WHERE ${h2(key)} % 37 <> 0
      |  UNION ALL
      |  SELECT l_returnflag, l_quantity + 5 FROM lineitem
      |    WHERE ${h2(key)} % 41 = 0)
      |SELECT l_returnflag, SUM(l_quantity) AS qty,
      |  COUNT(*) AS n
      |FROM post GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val q195Sql =
    """WITH m AS (
      |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value
      |    FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice
      |    FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
      |SELECT l_returnflag, measure, COUNT(*) AS n,
      |  MIN(value) AS mn, MAX(value) AS mx
      |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
