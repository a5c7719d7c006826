package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Checkpoint
import graft.sql.GraftFunctions.dot_f64
import graft.sql.MinHashSigs.{Params => mhParams, Prime => MersennePrime}

/** Training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine), similarity search (brute-force
  * top-k + LSH-bucketed), and text analysis (language-ID heuristic,
  * quality scoring, token counting, fingerprinting).
  *
  * Parity discipline: all hash arithmetic is 64-bit integer (explicit
  * BIGINT casts in the oracle — DuckDB would otherwise overflow INT32 or
  * widen to HUGEINT); all ratios divide exact integers; similarity
  * outputs carry ids only (ordering ties are broken by id) so IEEE
  * noise cannot flip a compare.
  */
object TextOps {
  import Tables.t

  def all: Seq[Q] = Seq(
    Q("q40_dedup_exact", q40, Some(q40Sql)),
    Q("q41_shingle_stats", q41, Some(q41Sql)),
    Q("q42_token_quality", q42, Some(q42Sql)),
    Q("q43_langid", q43, Some(q43Sql)),
    Q("q44_minhash_sig", q44, Some(q44Sql)),
    Q("q45_lsh_candidates", q45, Some(q45Sql)),
    Q("q46_simhash", q46, Some(q46Sql)),
    Q("q47_ann_topk", q47, Some(q47Sql)),
    Q("q48_ann_lsh_bucketed", q48, Some(q48Sql)),
    Q("q49_embed_neardup", q49, Some(q49Sql)),
    Q("q50_fingerprint", q50, Some(q50Sql)),
    Q("q51_media_stub", q51, None),
    Q("q76_media_stats", q76, Some(q76Sql)),
    Q("q52_ann_ivf", q52, Some(q52Sql)),
    Q("q89_ann_ivfpq", q89, Some(q89Sql)),
    Q("q53_ann_topk", q53, Some(q53Sql)),
    Q("q54_jaccard_neardup", q54, Some(q54Sql)),
    Q("q55_ann_bucketed_topk", q55, Some(q55Sql)),
    Q("q56_dedup_components", q56, Some(q56Sql)),
    Q("q59_neardup_bucketed", q59, Some(q49Sql)),
    Q("q61_bpe_tokens", q61, Some(q61Sql)),
    Q("q62_salted_agg", q62, Some(q62Sql)),
    Q("q63_asof_join", q63, Some(q63Sql)),
    Q("q70_span_dedup", q70, Some(q70Sql)),
    Q("q71_span_scrub", q71, Some(q71Sql)),
    Q("q94_decontaminate", q94, Some(q94Sql)),
    Q("q77_phash_neardup", q77, Some(q77Sql)),
    Q("q78_phash_clusters", q78, Some(q78Sql)),
    Q("q90_caption_consolidate", q90, Some(q90Sql)),
    Q("q84_hll_registers", q84, Some(q84Sql)),
    Q("q91_cm_sketch", q91, Some(q91Sql)),
    Q("q95_domain_cap", q95, Some(q95Sql)),
    Q("q96_seq_packing", q96, Some(q96Sql)),
    Q("q97_token_budget", q97, Some(q97Sql)),
    Q("q100_rep_filter", q100, Some(q100Sql)),
    Q("q101_strat_split", q101, Some(q101Sql)),
    Q("q103_class_balance", q103, Some(q103Sql)),
    Q("q106_inverted_topk", q106, Some(q106Sql)),
    Q("q110_qsketch", q110, Some(q110Sql)),
    Q("q124_bm25_topk", q124, Some(q124Sql)),
    Q("q143_alpha_mix", q143, Some(q143Sql))
  )

  // --- q63: AS-OF JOIN — an operator Spark lacks natively, composed
  // from existing ops (preference (a) of the custom-operator ladder):
  // each click matches the latest view at-or-before its event time per
  // user. Formulation: union both sides tagged, ONE window per user
  // ordered by (ts, side) with a running last(ignoreNulls) — a single
  // shuffle on the user key, linear per partition. The naive theta join
  // (c.ts >= v.ts) explodes quadratically per user and is exactly what
  // this shape avoids at 100 TB. Views are deduped per (user, ts)
  // Tie-break (several views at one (user, ts)): the max value wins,
  // folded into the window ORDERING (value ascending -> the running
  // last is the max) instead of a pre-aggregation — a groupBy(user, ts)
  // dedup would add a whole extra Exchange before the window's own
  // user-key shuffle. Oracle: DuckDB's NATIVE ASOF LEFT JOIN over the
  // max-deduped views — an independent implementation of the same
  // semantics. -----------------------------------------------------------
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("value").as("view_val"), lit(null).cast("long").as("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("double").as("view_val"), col("event_id"))
    // side 0 < 1: a view AT the click's timestamp is matchable
    // (inclusive, DuckDB ASOF's ts >= semantics); among same-ts views
    // the ascending view_val puts the max last
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("view_val"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("asof_view_val",
        last(col("view_val"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_view_val"))
      .orderBy("event_id")
  }

  private val q63Sql =
    """WITH v AS (
      |  SELECT user_id, ts, MAX(value) AS view_val FROM events
      |  WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, c.ts, v.view_val AS asof_view_val
      |FROM c ASOF LEFT JOIN v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts
      |ORDER BY 1""".stripMargin

  // --- q61: BPE-ish regex tokenization (the GPT-2 pre-tokenizer shape,
  // lookahead-free so Java regex (Spark) and RE2 (DuckDB) agree:
  // contractions, space-prefixed letter runs, digit runs, punctuation
  // runs, whitespace runs; \s avoided — Java's \s includes \x0B, RE2's
  // does not). Both engines match alternations leftmost-first, so the
  // token streams are identical by construction. -------------------------
  private val BpePat =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r]+|[ \\t\\n\\r]+"

  private def q61(s: SparkSession, dir: String): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(BpePat), lit(0))
    t(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_bpe"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"))
      .orderBy("doc_id")
  }

  private val q61Sql = {
    // DuckDB regular strings are not backslash-escaped: only quotes
    // need doubling; \t etc. pass through to RE2 verbatim
    val pat = BpePat.replace("'", "''")
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '$pat') AS toks
       |  FROM documents)
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_bpe,
       |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
       |  toks[1] AS first_tok, toks[-1] AS last_tok
       |FROM d ORDER BY 1""".stripMargin
  }

  // --- q62: the explicit two-level skew-salted aggregation (the
  // Salted.aggregate utility the headline zonal stage runs on) against
  // a plain GROUP BY oracle — identical results by the decomposability
  // of sum/count/min/max; the salt level only changes the shuffle
  // topology. event_type is the hot-key-shaped key of the fixture. ------
  private def q62(s: SparkSession, dir: String): DataFrame =
    graft.engine.Salted.aggregate(
      t(s, dir, "events"),
      keys = Seq("event_type" -> col("event_type")),
      saltSrc = col("user_id"), salts = 8,
      aggs = Seq(
        graft.engine.Salted.Agg("n", "count", lit(1)),
        // value is a 2-decimal double: sum exact integer cents so the
        // two-level addition order cannot drift from the oracle's
        graft.engine.Salted.Agg("v_cents", "sum",
          round(col("value") * 100).cast("long")),
        graft.engine.Salted.Agg("v_min", "min", col("value")),
        graft.engine.Salted.Agg("v_max", "max", col("value"))))
      .orderBy("event_type")

  private val q62Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents,
      |  MIN(value) AS v_min, MAX(value) AS v_max
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q54: exact n-gram Jaccard over candidate near-dup pairs: docs
  // whose first two MinHash signatures agree are verified with the true
  // 3-gram-set Jaccard — the verify stage of the MinHash+LSH dedup
  // pipeline (candidates from q45, exact check here) --------------------
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val sig = graft.sql.GraftFunctions
      .minhash_sigs(col("text"), mhParams, MersennePrime)
    val docs = Checkpoint.truncate(s, t(s, dir, "documents")
      .select(col("doc_id"), sig.as("sig"),
        shPacked(col("text")).as("sh"))
      .select(col("doc_id"), col("sig").getItem(0).as("mh0"),
        col("sig").getItem(1).as("mh1"), col("sh")))
    val a = docs.select(col("mh0"), col("mh1"), col("doc_id").as("doc_a"),
      col("sh").as("sha"))
    val b = docs.select(col("mh0"), col("mh1"), col("doc_id").as("doc_b"),
      col("sh").as("shb"))
    val inter = graft.sql.GraftFunctions
      .sorted_inter_size(col("sha"), col("shb"))
    val union = size(col("sha")) + size(col("shb")) - inter
    // Shuffled equi-join on the signature key — at 10^12 docs neither
    // side fits in memory, so no data-side broadcast; a hot signature
    // bucket (boilerplate-heavy corpora) is salted across reducers.
    graft.engine.Salted
      .skewJoin(a, b, Seq("mh0", "mh1"), col("doc_a"),
        salts = 8, hotThreshold = 64)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") / union).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private def q54Sql =
    s"""WITH d AS (SELECT doc_id,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(0)._1} + ${mhParams(0)._2}) % $MersennePrime)) AS mh0,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(1)._1} + ${mhParams(1)._2}) % $MersennePrime)) AS mh1,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |FROM d a JOIN d b
       |  ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
       |ORDER BY 1, 2""".stripMargin

  // --- q40: exact dedup — hash group on full content ----------------------
  private def q40(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")
      .orderBy("keeper")

  private val q40Sql =
    """SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY 1""".stripMargin

  // --- shared shingle/code builders ---------------------------------------
  /** Character 3-gram list of `text` (private[graft]: the HLL golden
    * test rebuilds the exact-distinct reference through the identical
    * shingle/code pipeline the sketch hashes). */
  private[graft] def shingles(text: Column): Column =
    transform(sequence(lit(1), length(text) - 2),
      i => substr(text, i, lit(3)))

  /** 3-char polynomial code (exact in 64-bit both engines). */
  private[graft] def code3(g: Column): Column =
    (ascii(substring(g, 1, 1)).cast("long") * 961 +
      ascii(substring(g, 2, 1)).cast("long") * 31 +
      ascii(substring(g, 3, 1)).cast("long"))

  /** The distinct 3-gram SET as SORTED packed 63-bit longs (the Sh3Set
    * codegen expression): each of the three codepoints fits 21 bits
    * (Unicode max 0x10FFFF), so cp0·2^42 + cp1·2^21 + cp2 is INJECTIVE
    * over all 3-char strings — the packed set has exactly the string
    * set's cardinality and exactly its pairwise intersection sizes, so
    * any Jaccard computed from it is bit-identical to the string-list
    * formulation the oracle runs. Used by the q54/q56 verify joins: an
    * 8-byte long per gram instead of a 3-char UTF8String (~19 bytes
    * with offsets) both on the wire (the shingle sets ARE the shuffle
    * payload of the signature-bucket self-join) and in the per-pair
    * intersect, which becomes an allocation-free sorted merge-count
    * (SortedInterSize) instead of array_intersect's per-pair boxed hash
    * set — guide §2.3 "narrower types / shuffle fewer bytes" + §1.2
    * "per-task work". */
  private def shPacked(text: Column): Column =
    graft.sql.GraftFunctions.sh3_set(text)

  private val shinglesSql =
    "list_transform(generate_series(1, length(text) - 2), i -> substr(text, i, 3))"
  private def code3Sql(g: String) =
    s"(CAST(ascii(substr($g, 1, 1)) AS BIGINT) * 961 + CAST(ascii(substr($g, 2, 1)) AS BIGINT) * 31 + CAST(ascii(substr($g, 3, 1)) AS BIGINT))"

  // --- q41: n-gram shingle stats (the Jaccard-dedup building block) -------
  private def q41(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(array_distinct(shingles(col("text")))).as("n_shingles"),
        size(shingles(col("text"))).as("n_total"))
      .orderBy("doc_id")

  private val q41Sql =
    s"""SELECT doc_id,
       |  CAST(len(list_distinct($shinglesSql)) AS INT) AS n_shingles,
       |  CAST(len($shinglesSql) AS INT) AS n_total
       |FROM documents ORDER BY 1""".stripMargin

  // --- q42: token counting + quality scoring ------------------------------
  private val stops = Seq("the", "a", "data", "key", "row")

  private def q42(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isin(stops: _*)))
    t(s, dir, "documents")
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        nStop.as("n_stop"),
        (nStop.cast("double") / nTok).as("stop_ratio"),
        ((length(col("text")) - (nTok - 1)).cast("double") / nTok)
          .as("avg_tok_len"))
      .withColumn("quality_ok",
        (col("n_tokens") >= 20 && col("stop_ratio") < 0.5).cast("int"))
      .orderBy("doc_id")
  }

  private val q42Sql = {
    val inList = stops.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), tk -> tk IN ($inList))) AS INT) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_stop,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |  CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_tok_len,
       |  CAST(CASE WHEN n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
       |    THEN 1 ELSE 0 END AS INT) AS quality_ok
       |FROM d ORDER BY 1""".stripMargin
  }

  // --- q43: language-ID heuristic (marker-token votes, first-max) ---------
  private val markers = Seq(
    "grammar" -> Seq("the", "a", "of"),
    "engine" -> Seq("spark", "vector", "stream", "window"),
    "schema" -> Seq("customer", "line", "part", "orderkey"))

  private def q43(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scores = markers.map { case (name, ws) =>
      size(filter(toks, tk => tk.isin(ws: _*))).as(s"s_$name")
    }
    val d = t(s, dir, "documents").select((col("doc_id") +: scores): _*)
    d.select(col("doc_id"), col("s_grammar"), col("s_engine"), col("s_schema"),
        when(col("s_grammar") >= col("s_engine") &&
          col("s_grammar") >= col("s_schema"), "grammar")
          .when(col("s_engine") >= col("s_schema"), "engine")
          .otherwise("schema").as("pred"))
      .orderBy("doc_id")
  }

  private val q43Sql = {
    def sc(ws: Seq[String]) =
      s"CAST(len(list_filter(string_split(text, ' '), tk -> tk IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS INT)"
    s"""WITH d AS (SELECT doc_id,
       |    ${sc(markers(0)._2)} AS s_grammar,
       |    ${sc(markers(1)._2)} AS s_engine,
       |    ${sc(markers(2)._2)} AS s_schema
       |  FROM documents)
       |SELECT doc_id, s_grammar, s_engine, s_schema,
       |  CASE WHEN s_grammar >= s_engine AND s_grammar >= s_schema THEN 'grammar'
       |    WHEN s_engine >= s_schema THEN 'engine'
       |    ELSE 'schema' END AS pred
       |FROM d ORDER BY 1""".stripMargin
  }

  // --- q44: MinHash signatures over distinct 3-gram shingles --------------
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val sig = graft.sql.GraftFunctions
      .minhash_sigs(col("text"), mhParams, MersennePrime)
    t(s, dir, "documents")
      .select(col("doc_id"), sig.as("sig"))
      .select((col("doc_id") +:
        mhParams.indices.map(j => col("sig").getItem(j).as(s"mh$j"))): _*)
      .orderBy("doc_id")
  }

  private val q44Sql = {
    val sigs = mhParams.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * $a + $b) % $MersennePrime)) AS mh$j"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
       |  $sigs
       |FROM documents ORDER BY 1""".stripMargin
  }

  // --- q45: LSH banding — coarse band buckets -> candidate pairs ----------
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val sig = q44(s, dir)
    val banded = sig.select(col("doc_id"),
      ((col("mh0") % 64) * 64 + col("mh1") % 64).as("band0"),
      ((col("mh2") % 64) * 64 + col("mh3") % 64).as("band1"))
    val b0 = banded.select(col("doc_id"), lit(0).as("band"), col("band0").as("key"))
    val b1 = banded.select(col("doc_id"), lit(1).as("band"), col("band1").as("key"))
    // Materialize the (tiny) signature frame before self-joining: both
    // sides of the bucket join would otherwise recompute the full
    // minhash pipeline over every document.
    val all = Checkpoint.truncate(s, b0.unionByName(b1))
    val l = all.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val r = all.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    // Shuffled self-join on the (band, key) bucket — the bucket id IS
    // the shuffle key, so only same-bucket pairs materialize; a hot LSH
    // bucket (the skew case that motivates broadcast at toy scale, and
    // OOMs it at 10^12 docs) is salted across reducers instead.
    // No distinct needed: within a band each doc has exactly one key,
    // so a (doc_a, doc_b, band) triple can only be produced once — the
    // oracle's DISTINCT is a semantic no-op and a 4M-row shuffle here.
    graft.engine.Salted
      .skewJoin(l, r, Seq("band", "key"), col("doc_a"),
        salts = 8, hotThreshold = 64)
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        min(col("doc_a") * 100000 + col("doc_b")).as("first_pair"))
      .orderBy("band")
  }

  private val q45Sql =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(0)._1} + ${mhParams(0)._2}) % $MersennePrime)) AS mh0,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(1)._1} + ${mhParams(1)._2}) % $MersennePrime)) AS mh1,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(2)._1} + ${mhParams(2)._2}) % $MersennePrime)) AS mh2,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(3)._1} + ${mhParams(3)._2}) % $MersennePrime)) AS mh3
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id, 0 AS band, (mh0 % 64) * 64 + mh1 % 64 AS key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, (mh2 % 64) * 64 + mh3 % 64 AS key FROM sig)
       |, pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id)
       |SELECT band, COUNT(*) AS n_pairs,
       |  COUNT(DISTINCT doc_a) AS n_docs_a,
       |  MIN(doc_a * 100000 + doc_b) AS first_pair
       |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q46: 16-bit SimHash over token codes — a one-pass expression
  // (SimHash16) instead of 16 per-bit aggregate() folds: the fold
  // formulation allocates a lambda frame per token per bit and was 21x
  // slower than the comparable MinHashSigs pass --------------------------
  private def q46(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.sql.GraftFunctions.simhash16(col("text")).as("simhash"))
      .orderBy("doc_id")

  private val q46Sql = {
    val bitTerms = (0 until 16).map { b =>
      val p = 1L << b
      s"(CASE WHEN list_sum(list_transform(string_split(text, ' '), tk -> (CAST(FLOOR(${code3Sql("tk")} / $p.0) AS BIGINT) % 2) * 2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash
       |FROM documents ORDER BY 1""".stripMargin
  }

  // --- q47: brute-force cosine top-1 neighbor (ANN baseline) --------------
  // Scale shape: the n^2 pair loop runs inside ONE whole-stage-codegen'd
  // projection (DotF64 — no per-element lambda frames), and top-1 is a
  // partially-aggregable max(struct(sim, -nn_id)) instead of a window,
  // so the 4M-row pair frame is combined map-side and never shuffled.
  private def normedEmb(s: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    t(s, dir, "embeddings").select(col("vec_id"), v.as("v"),
      sqrt(dot_f64(v, v)).as("norm"))
  }

  private def q47(s: SparkSession, dir: String): DataFrame = {
    val e = Checkpoint.truncate(s, normedEmb(s, dir))
    val a = e.select(col("vec_id").as("vec_id"), col("v").as("va"),
      col("norm").as("na"))
    val b = e.select(col("vec_id").as("nn_id"), col("v").as("vb"),
      col("norm").as("nb"))
    val sim = dot_f64(col("va"), col("vb")) / (col("na") * col("nb"))
    a.crossJoin(broadcast(b))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"), sim.as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("nn_id")).as("neg_id"))).as("m"))
      .select(col("vec_id"), (-col("m.neg_id")).as("nn_id"))
      .orderBy("vec_id")
  }

  private val q47Sql =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_dot_product(embedding, embedding)) AS norm
      |  FROM embeddings),
      |p AS (SELECT a.vec_id, b.vec_id AS nn_id,
      |    list_dot_product(a.embedding, b.embedding) / (a.norm * b.norm) AS sim
      |  FROM e a JOIN e b ON a.vec_id != b.vec_id),
      |r AS (SELECT vec_id, nn_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rk
      |  FROM p)
      |SELECT vec_id, nn_id FROM r WHERE rk = 1 ORDER BY 1""".stripMargin

  // --- q48: LSH-bucketed ANN (the scale path: random-hyperplane sign
  // buckets; only same-bucket pairs are compared) ---------------------------
  private val NPlanes = 4

  /** Deterministic random-hyperplane weights (same formula as the SQL
    * oracle), materialized driver-side as a literal array so the
    * per-row work is one DotF64 codegen loop instead of a 64-step
    * higher-order fold. Summation order is identical (i = 0..63). */
  private def planeWeights(p: Int): Array[Double] =
    Array.tabulate(64)(i =>
      ((((i + p * 64) * 2654435761L) % 4294967296L) % 1024 - 512)
        .toDouble / 512.0)

  private def q48(s: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val bucketBits = (0 until NPlanes).map { p =>
      val dot = dot_f64(v, typedlit(planeWeights(p)))
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }
    val bucketed = t(s, dir, "embeddings")
      .select(col("vec_id"), bucketBits.reduce(_ + _).as("bucket"))
    bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec"))
      .orderBy("bucket")
  }

  private val q48Sql = {
    val bucketExpr = (0 until NPlanes).map { p =>
      s"(CASE WHEN list_sum(list_transform(generate_series(0, 63), i -> embedding[i + 1] * CAST((((i + ${p * 64}) * 2654435761) % 4294967296) % 1024 - 512 AS DOUBLE) / 512.0)) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, CAST($bucketExpr AS INT) AS bucket FROM embeddings)
       |SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- q49: embedding-cosine near-duplicate pairs --------------------------
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val e = Checkpoint.truncate(s, normedEmb(s, dir))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("norm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("norm").as("nb"))
    val sim = dot_f64(col("va"), col("vb")) / (col("na") * col("nb"))
    a.crossJoin(broadcast(b))
      .filter(col("vec_a") < col("vec_b") && sim > 0.4)
      .select("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  private val q49Sql =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_dot_product(embedding, embedding)) AS norm
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.embedding, b.embedding) / (a.norm * b.norm) > 0.4
      |ORDER BY 1, 2""".stripMargin

  // --- q59: near-dup pairs via BUCKETS — q49's exact output through the
  // scale path: an OR-construction of NdBands random-hyperplane bands
  // (candidate = same bucket in ANY band), salted shuffled self-join per
  // band bucket (no data broadcast), then EXACT cosine verify > 0.4.
  // Oracle: q49's brute-force SQL — rows must be IDENTICAL, so the
  // band/plane counts are chosen for recall 1.0 with wide margin at the
  // fixture's loose 0.4 threshold (miss prob/pair = (1 - p^k)^B with
  // p = 1 - acos(0.4)/pi = 0.63: ~5e-6 at k=2, B=24; verified against
  // q49 at sf0.01 and sf0.1). Production near-dup thresholds (>= 0.9)
  // raise p to ~0.86, so k grows (sharper buckets, fewer candidates)
  // and B shrinks — the knobs trade candidate volume against recall;
  // the replication factor of the banded frame is exactly B. --------------
  private val NdBands = 24
  private val NdPlanes = 2 // per band
  // sig packs each band's NdPlanes-bit key into a 2-bit field of one
  // long, and the first-band gate below reads those fields through
  // ndEvenBits: a retune past either width would drop bands silently
  require(NdPlanes <= 2 && 2 * NdBands <= 62,
    s"q59 sig cannot pack $NdBands bands of $NdPlanes planes")
  /** Bit 2b set for every band b: the even bit of each 2-bit sig field. */
  private val ndEvenBits =
    (0 until NdBands).map(b => 1L << (2 * b)).reduce(_ | _)

  /** Deterministic hyperplane (band b, plane j) from the Murmur3
    * 64-bit finalizer — NOT the linear Knuth formula the oracles mirror:
    * (i + s*64)*K mod 2^32 mod 1024 is linear in i with period 16 in s,
    * so "different" planes would be phase shifts of one sequence
    * (measured: 24 such bands behave like 8, and recall drops). The
    * avalanche mixer makes the planes actually independent. */
  private def ndPlane(b: Int, j: Int): Array[Double] = {
    val seed = (b * NdPlanes + j).toLong
    Array.tabulate(64) { i =>
      var x = (seed << 32) | i.toLong
      x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
      x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
      x = x ^ (x >>> 33)
      ((x & 1023) - 512).toDouble / 512.0
    }
  }

  private def q59(s: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val bucketCols = (0 until NdBands).map { b =>
      (0 until NdPlanes).map { j =>
        when(dot_f64(v, typedlit(ndPlane(b, j))) > 0, lit(1 << j))
          .otherwise(lit(0))
      }.reduce(_ + _).as(s"bk$b")
    }
    val e = Checkpoint.truncate(s, t(s, dir, "embeddings")
      .select(col("vec_id") +: v.as("v") +:
        sqrt(dot_f64(v, v)).as("norm") +: bucketCols: _*)
      // all 24 band keys packed 2 bits each into one long, carried
      // through the join so a pair colliding in SEVERAL bands (expected
      // ~B/2^k = 6 of 24 for a random pair) pays the 64-element dot
      // exactly once: the verify below is gated on band == the pair's
      // FIRST colliding band, a few ALU ops on sig_a XOR sig_b.
      .withColumn("sig", (0 until NdBands).map(b =>
        shiftleft(col(s"bk$b").cast("long"), 2 * b)).reduce(_ bitwiseOR _)))
    val banded = e.select(col("vec_id"), col("v"), col("norm"), col("sig"),
        explode(array((0 until NdBands).map(b =>
          struct(lit(b).as("band"), col(s"bk$b").as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("norm"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"),
      col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"),
      col("sig").as("siga"))
    val b = banded.select(col("band"), col("key"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"),
      col("sig").as("sigb"))
    val sim = dot_f64(col("va"), col("vb")) / (col("na") * col("nb"))
    // First-colliding-band gate: field b of (siga XOR sigb) is zero iff
    // the pair shares band b's bucket. y folds each 2-bit field to its
    // even bit; coll's even bit 2b is set iff band b collides (coll is
    // never 0 on a joined row — the join key guarantees band `band`
    // collides). The lowest set bit of coll sits at 2*firstBand, so
    // bit_count(lowbit - 1) == 2*firstBand. Each qualifying pair is
    // emitted from exactly one band, making the dot-verify run once per
    // pair instead of once per colliding band; the surviving rows (and
    // the distinct() output) are IDENTICAL — skewJoin produces each
    // (l, r) pair exactly once per band, and the kept band always
    // exists. The q49 brute oracle pins this independently.
    val evenBits = lit(ndEvenBits)
    val x = col("siga").bitwiseXOR(col("sigb"))
    val y = x.bitwiseOR(shiftright(x, 1)).bitwiseAND(evenBits)
    val coll = bitwise_not(y).bitwiseAND(evenBits)
    val firstBand =
      col("band") * 2 === bit_count(coll.bitwiseAND(lit(0L) - coll) - 1)
    graft.engine.Salted
      .skewJoin(a, b, Seq("band", "key"), col("vec_a"),
        salts = 8, hotThreshold = 64)
      .filter(col("vec_a") < col("vec_b") && firstBand && sim > 0.4)
      .select("vec_a", "vec_b")
      // no distinct(): first-band gating leaves each pair exactly once
      // (was: distinct() collapsing the per-band duplicates); the q49
      // brute oracle would flag any duplicate row as a rows-mismatch
      .orderBy("vec_a", "vec_b")
  }

  // --- q50: document fingerprint (order-insensitive shingle-code sum) -----
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val sh = array_distinct(shingles(col("text")))
    val fp = aggregate(sh, lit(0L),
      (acc, g) => (acc + code3(g) * code3(g)) % MersennePrime)
    t(s, dir, "documents")
      .select(col("doc_id"), fp.as("fingerprint"))
      .orderBy("doc_id")
  }

  // DuckDB's list_aggregate(..., 'sum') returns DOUBLE; the CAST pins the
  // oracle to BIGINT to match Spark's integer fold (identical values, the
  // round-1 hash mismatch was purely this type artifact). COALESCE pins
  // the empty-shingle case (list_aggregate of [] is NULL; Spark's
  // aggregate over an empty array returns the 0 seed) to 0 on both sides.
  private val q50Sql =
    s"""SELECT doc_id,
       |  CAST(COALESCE(list_aggregate(list_transform(list_distinct($shinglesSql), g -> ${code3Sql("g")} * ${code3Sql("g")}), 'sum'), 0) % $MersennePrime AS BIGINT) AS fingerprint
       |FROM documents ORDER BY 1""".stripMargin

  // --- q52: IVF-partitioned ANN (the scale path beside q48's LSH):
  // vectors are assigned to their nearest coarse centroid (a codebook
  // FITTED by seeded driver-side Lloyd's — the CART-fit pattern applied
  // to ANN quantization), and only same-cell pairs are compared — at
  // 10^12 scale the cell id is the shuffle/partition key and each
  // cell's search is local ---------------------------------------------
  private val NCentroids = 8

  /** Seeded driver-side spherical-k-means codebook fit: deterministic
    * sample (every `stride`-th vec_id, collected and sorted), init =
    * k evenly-spaced sample vectors, 5 Lloyd iterations of first-max
    * cosine assignment + componentwise-mean update (empty cells keep
    * their centroid). Deterministic: summation order is the sorted
    * sample order. Cached per dir; the DuckDB oracle's centroid
    * LITERALS regenerate from the same fit (Verify dumps oracle SQL
    * after the queries run), so engine and oracle always share the
    * codebook. Per-iteration cell occupancy is logged — no silent
    * empty-cell collapse. */
  private[queries] object IvfFit {
    val Iters = 5
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
    @volatile private var lastDir: Option[String] = None

    def centroidsFor(s: SparkSession, dir: String): Array[Array[Double]] = {
      val r = cache.computeIfAbsent(dir, d => fit(s, d))
      lastDir = Some(dir)
      r
    }

    /** Centroids of the most recent fit (the oracle's source). */
    def last: Option[Array[Array[Double]]] = lastDir.map(cache.get)

    private def fit(s: SparkSession, dir: String): Array[Array[Double]] = {
      val df = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      // deterministic driver-safe sample: every stride-th id, ~<=4096
      // vectors regardless of table size
      val stride = math.max(1L, df.count() / 4096L)
      val sample = df.filter(col("vec_id") % stride === 0)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      require(sample.length >= NCentroids,
        s"IVF fit needs >= $NCentroids sample vectors, got ${sample.length}")
      val dims = sample(0).length
      var cents = Array.tabulate(NCentroids)(c =>
        sample((c.toLong * sample.length / NCentroids).toInt).clone())
      (1 to Iters).foreach { it =>
        val sums = Array.fill(NCentroids, dims)(0.0)
        val counts = new Array[Long](NCentroids)
        val norms = cents.map(w => math.sqrt(w.map(x => x * x).sum))
        sample.foreach { v =>
          var best = Double.NegativeInfinity
          var bc = 0
          var c = 0
          while (c < NCentroids) {
            var dot = 0.0
            var i = 0
            while (i < dims) { dot += v(i) * cents(c)(i); i += 1 }
            val cos = dot / norms(c) // |v| constant across c: rank-free
            if (cos > best) { best = cos; bc = c }
            c += 1
          }
          counts(bc) += 1
          var i = 0
          while (i < dims) { sums(bc)(i) += v(i); i += 1 }
        }
        println(s"[ivf] $dir iter $it occupancy: ${counts.mkString(",")}")
        cents = Array.tabulate(NCentroids)(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c)))
      }
      cents
    }
  }

  private def q52(s: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val cents = IvfFit.centroidsFor(s, dir)
    // nearest centroid by max cosine — the SAME ivfCellCol q89 builds
    // its coarse stage from, so the two ANN paths can never drift on
    // normalization or the first-max tie-break
    val cells = Checkpoint.truncate(s, t(s, dir, "embeddings")
      .select(col("vec_id"), v.as("v"), ivfCellCol(cents, v).as("ivf_cell")))
    val a = cells.select(col("ivf_cell"), col("vec_id"), col("v").as("va"))
    val b = cells.select(col("ivf_cell"), col("vec_id").as("nn_id"),
      col("v").as("vb"))
    val sim = dot_f64(col("va"), col("vb")) /
      (sqrt(dot_f64(col("va"), col("va"))) * sqrt(dot_f64(col("vb"), col("vb"))))
    // The cell id is the shuffle key (both sides shuffled on ivf_cell —
    // no vector-set broadcast); populous cells are salted so one dense
    // Voronoi cell cannot pin its whole pairwise search on one task.
    graft.engine.Salted
      .skewJoin(a, b, Seq("ivf_cell"), col("vec_id"),
        salts = 8, hotThreshold = 64)
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("ivf_cell"), col("vec_id"), col("nn_id"), sim.as("sim"))
      .groupBy("ivf_cell", "vec_id")
      .agg(max(struct(col("sim"), (-col("nn_id")).as("neg_id"))).as("m"))
      .select(col("ivf_cell"), col("vec_id"), (-col("m.neg_id")).as("nn_id"))
      .orderBy("vec_id")
  }

  /** q52's oracle carries the FITTED centroids as list literals, so it
    * is a `def` resolved when Verify dumps oracle SQL — after the
    * queries ran and IvfFit cached the codebook. The pre-fit fallback
    * (registry construction evaluates every oracle string once before
    * any query runs) is a sentinel that is never the dumped artifact
    * unless q52 itself failed — in which case the driver marks q52 err
    * from the missing result regardless. Elements print via
    * Double.toString and are cast from STRINGS: a bare 17-digit decimal
    * literal routes through DuckDB's DECIMAL, whose ->DOUBLE conversion
    * double-rounds (1-ulp drift); VARCHAR->DOUBLE is the correctly-
    * rounded parse that round-trips exactly (the q29 finding). */
  /** Pre-fit placeholder, shared with tools.Probe so its `sql`
    * subcommand can detect a fit-dependent oracle and run the query
    * before printing. */
  private[graft] val PreFitSentinel =
    "SELECT 'q52 oracle needs the query to run first (IvfFit)' AS err"

  private def q52Sql: String = IvfFit.last match {
    case None => PreFitSentinel
    case Some(cents) => q52SqlWith(cents)
  }

  private def dlit(v: Double): String = s"CAST('${v.toString}' AS DOUBLE)"

  private def q52SqlWith(cents: Array[Array[Double]]): String = {
    def centSql(c: Int) =
      s"[${cents(c).map(dlit).mkString(", ")}]"
    val dots = (0 until NCentroids).map { c =>
      val w = cents(c)
      val wn = math.sqrt(w.map(x => x * x).sum)
      s"(list_dot_product(embedding, ${centSql(c)}) / (sqrt(list_dot_product(embedding, embedding)) * ${dlit(wn)})) AS d$c"
    }.mkString(",\n    ")
    val argmax = (0 until NCentroids).map { c =>
      val rest = (c + 1 until NCentroids).map(j => s"d$c >= d$j")
      if (rest.isEmpty) s"ELSE $c" else s"WHEN ${rest.mkString(" AND ")} THEN $c"
    }.mkString(" ")
    s"""WITH d AS (SELECT vec_id, embedding,
       |    $dots
       |  FROM embeddings),
       |cells AS (SELECT vec_id, embedding,
       |    CAST(CASE $argmax END AS BIGINT) AS ivf_cell FROM d),
       |p AS (SELECT a.ivf_cell, a.vec_id, b.vec_id AS nn_id,
       |    list_dot_product(a.embedding, b.embedding)
       |      / (sqrt(list_dot_product(a.embedding, a.embedding))
       |         * sqrt(list_dot_product(b.embedding, b.embedding))) AS sim
       |  FROM cells a JOIN cells b
       |    ON a.ivf_cell = b.ivf_cell AND a.vec_id != b.vec_id),
       |r AS (SELECT ivf_cell, vec_id, nn_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rk
       |  FROM p)
       |SELECT ivf_cell, vec_id, nn_id FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }

  // --- q89: IVF-PQ ANN — the production two-stage shape on top of
  // q52's coarse quantizer. Stage 1 (candidate generation) never
  // touches a vector: each embedding is PRODUCT-QUANTIZED into M=8
  // 4-bit codes (per-subspace K=16 codebooks fitted by the same
  // seeded driver-side Lloyd's as IvfFit, on 8-dim subvectors), and
  // same-IVF-cell pairs are ranked by SYMMETRIC distance — M lookups
  // into the driver-precomputed K x K inter-centroid tables. At 10^12
  // scale this is the whole point: the SDC pass shuffles 4 code bytes
  // per vector instead of 256 float bytes (~64x) and the distance is M
  // adds, no dot products. Stage 2 re-ranks only the top-R=8 SDC
  // candidates per vector with the exact cosine (joining the R
  // candidate ids back to the full vectors) and keeps the best —
  // PQ's approximation error is confined to candidate SELECTION, the
  // reported neighbor is exact-scored. Output carries the codes
  // (integer-exact) and ids only; the oracle regenerates codebooks,
  // assignment CASE chains, lookup-table VALUES and both rank stages
  // from the same fit (the q52 fit-dependent-oracle pattern). --------
  private val PqM = 8        // subspaces
  private val PqK = 16       // sub-centroids per subspace
  private val PqSubDim = 8   // 64 dims / M
  private val PqTopR = 8     // SDC candidates re-ranked exactly

  private[queries] object PqFit {
    /** (codebooks(m)(j) = 16-dim sub-centroid, sdc(m)(i*K+j) =
      * ||c_mi - c_mj||^2). */
    type Fit = (Array[Array[Array[Double]]], Array[Array[Double]])
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Fit]()
    @volatile private var lastDir: Option[String] = None

    def forDir(s: SparkSession, dir: String): Fit = {
      val r = cache.computeIfAbsent(dir, d => fit(s, d))
      lastDir = Some(dir)
      r
    }

    def last: Option[Fit] = lastDir.map(cache.get)

    /** Per-subspace seeded Lloyd's on the same deterministic sorted
      * sample as IvfFit: init = K evenly spaced sample subvectors,
      * 5 iterations of first-min L2 assignment + mean update. */
    private def fit(s: SparkSession, dir: String): Fit = {
      val df = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      val stride = math.max(1L, df.count() / 4096L)
      val sample = df.filter(col("vec_id") % stride === 0)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      require(sample.length >= PqK,
        s"PQ fit needs >= $PqK sample vectors, got ${sample.length}")
      val books = Array.tabulate(PqM) { m =>
        val subs = sample.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
        var cents = Array.tabulate(PqK)(j =>
          subs((j.toLong * subs.length / PqK).toInt).clone())
        (1 to IvfFit.Iters).foreach { it =>
          val sums = Array.fill(PqK, PqSubDim)(0.0)
          val counts = new Array[Long](PqK)
          subs.foreach { v =>
            var best = Double.PositiveInfinity
            var bj = 0
            var j = 0
            while (j < PqK) {
              var d = 0.0
              var i = 0
              while (i < PqSubDim) {
                val e = v(i) - cents(j)(i); d += e * e; i += 1
              }
              if (d < best) { best = d; bj = j }
              j += 1
            }
            counts(bj) += 1
            var i = 0
            while (i < PqSubDim) { sums(bj)(i) += v(i); i += 1 }
          }
          if (it == IvfFit.Iters)
            println(s"[pq] $dir subspace $m occupancy: ${counts.mkString(",")}")
          cents = Array.tabulate(PqK)(j =>
            if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j)))
        }
        cents
      }
      val sdc = Array.tabulate(PqM) { m =>
        Array.tabulate(PqK * PqK) { ij =>
          val (ci, cj) = (books(m)(ij / PqK), books(m)(ij % PqK))
          var d = 0.0
          var i = 0
          while (i < PqSubDim) { val e = ci(i) - cj(i); d += e * e; i += 1 }
          d
        }
      }
      (books, sdc)
    }
  }

  /** q52's coarse-cell assignment as reusable columns: (first-max
    * cosine vs the fitted IVF centroids). */
  private def ivfCellCol(cents: Array[Array[Double]], v: Column): Column = {
    val ds = cents.map { w =>
      val wn = math.sqrt(w.map(x => x * x).sum)
      dot_f64(v, typedlit(w)) / (sqrt(dot_f64(v, v)) * wn)
    }
    array_position(array(ds.map(c => c): _*), greatest(ds.map(c => c): _*)) - 1
  }

  private def q89(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (books, sdc) = PqFit.forDir(s, dir)
    val cents = IvfFit.centroidsFor(s, dir)
    val v = col("embedding").cast("array<double>")
    // PQ assignment: argmin_j (||c_mj||^2 - 2 <sub_m, c_mj>) — the
    // ||sub||^2 term is constant across j, dropped on BOTH engines
    val codeCols = (0 until PqM).map { m =>
      val sub = slice(v, m * PqSubDim + 1, PqSubDim)
      val ds = (0 until PqK).map { j =>
        val c = books(m)(j)
        val cSq = c.map(x => x * x).sum
        lit(cSq) - lit(2.0) * dot_f64(sub, typedlit(c))
      }
      (array_position(array(ds: _*), least(ds: _*)) - 1)
        .cast("int").as(s"c$m")
    }
    val coded = Checkpoint.truncate(s, t(s, dir, "embeddings")
      .select(Seq(col("vec_id"), v.as("v"),
        ivfCellCol(cents, v).cast("long").as("ivf_cell")) ++ codeCols: _*))
    // stage 1: SDC over codes only (the vector column is NOT carried)
    val codes = coded.select(Seq(col("ivf_cell"), col("vec_id")) ++
      (0 until PqM).map(m => col(s"c$m")): _*)
    val a = codes.select(col("ivf_cell") +: col("vec_id") +:
      (0 until PqM).map(m => col(s"c$m").as(s"a$m")): _*)
    val b = codes.select(col("ivf_cell") +: col("vec_id").as("nn_id") +:
      (0 until PqM).map(m => col(s"c$m").as(s"b$m")): _*)
    val sdcDist = (0 until PqM).map { m =>
      element_at(typedlit(sdc(m)), (col(s"a$m") * PqK + col(s"b$m") + 1))
    }.reduce(_ + _)
    val pairs = graft.engine.Salted
      .skewJoin(a, b, Seq("ivf_cell"), col("vec_id"),
        salts = 8, hotThreshold = 64)
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("ivf_cell"), col("vec_id"), col("nn_id"),
        sdcDist.as("sdc_dist"))
    val wSdc = Window.partitionBy("vec_id")
      .orderBy(col("sdc_dist"), col("nn_id"))
    val cand = pairs
      .withColumn("rk", row_number().over(wSdc))
      .filter(col("rk") <= PqTopR)
      .select("ivf_cell", "vec_id", "nn_id")
    // stage 2: exact cosine re-rank of the <= R candidates per vector
    val va = coded.select(col("vec_id"), col("v").as("va"))
    val vb = coded.select(col("vec_id").as("nn_id"), col("v").as("vb"))
    val sim = dot_f64(col("va"), col("vb")) /
      (sqrt(dot_f64(col("va"), col("va"))) * sqrt(dot_f64(col("vb"), col("vb"))))
    cand.join(va, "vec_id").join(vb, "nn_id")
      .select(col("ivf_cell"), col("vec_id"), col("nn_id"), sim.as("sim"))
      .groupBy("ivf_cell", "vec_id")
      .agg(max(struct(col("sim"), (-col("nn_id")).as("neg_id"))).as("m"))
      .select(col("ivf_cell"), col("vec_id"), (-col("m.neg_id")).as("nn_id"))
      .join(codes.select(Seq(col("vec_id")) ++
        (0 until PqM).map(m => col(s"c$m")): _*), "vec_id")
      .select(Seq(col("ivf_cell"), col("vec_id")) ++
        (0 until PqM).map(m => col(s"c$m")) :+ col("nn_id"): _*)
      .orderBy("vec_id")
  }

  private def q89Sql: String = (PqFit.last, IvfFit.last) match {
    case (Some(fitted), Some(cents)) => q89SqlWith(fitted, cents)
    case _ => PreFitSentinel
  }

  private def q89SqlWith(fitted: PqFit.Fit,
      cents: Array[Array[Double]]): String = {
    val (books, sdc) = fitted
    val ivfDots = cents.indices.map { c =>
      val w = cents(c)
      val wn = math.sqrt(w.map(x => x * x).sum)
      s"(list_dot_product(embedding, [${w.map(dlit).mkString(", ")}])" +
        s" / (sqrt(list_dot_product(embedding, embedding)) * ${dlit(wn)})) AS d$c"
    }.mkString(",\n    ")
    val ivfArgmax = cents.indices.map { c =>
      val rest = (c + 1 until cents.length).map(j => s"d$c >= d$j")
      if (rest.isEmpty) s"ELSE $c" else s"WHEN ${rest.mkString(" AND ")} THEN $c"
    }.mkString(" ")
    // per-subspace assignment distances + first-min CASE chains
    val subDists = (0 until PqM).flatMap { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      (0 until PqK).map { j =>
        val c = books(m)(j)
        val cSq = c.map(x => x * x).sum
        s"(${dlit(cSq)} - 2.0 * list_dot_product(embedding[$lo:$hi], " +
          s"[${c.map(dlit).mkString(", ")}])) AS s${m}_$j"
      }
    }.mkString(",\n    ")
    val codeCases = (0 until PqM).map { m =>
      val chain = (0 until PqK).map { j =>
        val rest = (j + 1 until PqK).map(i => s"s${m}_$j <= s${m}_$i")
        if (rest.isEmpty) s"ELSE $j"
        else s"WHEN ${rest.mkString(" AND ")} THEN $j"
      }.mkString(" ")
      s"CAST(CASE $chain END AS INT) AS c$m"
    }.mkString(",\n    ")
    val luts = (0 until PqM).map { m =>
      val rows = (0 until PqK * PqK).map(ij =>
        s"(${ij / PqK}, ${ij % PqK}, ${dlit(sdc(m)(ij))})").mkString(", ")
      s"t$m(i, j, d) AS (VALUES $rows)"
    }.mkString(",\n")
    val lutJoins = (0 until PqM).map(m =>
      s"  JOIN t$m ON t$m.i = a.c$m AND t$m.j = b.c$m").mkString("\n")
    val codeList = (0 until PqM).map(m => s"c$m").mkString(", ")
    s"""WITH d AS (SELECT vec_id, embedding,
       |    $ivfDots
       |  FROM embeddings),
       |iv AS (SELECT vec_id, embedding,
       |    CAST(CASE $ivfArgmax END AS BIGINT) AS ivf_cell FROM d),
       |sd AS (SELECT vec_id, embedding, ivf_cell,
       |    $subDists
       |  FROM iv),
       |coded AS (SELECT vec_id, embedding, ivf_cell,
       |    $codeCases
       |  FROM sd),
       |$luts,
       |p AS (SELECT a.ivf_cell, a.vec_id, b.vec_id AS nn_id,
       |    ${(0 until PqM).map(m => s"t$m.d").mkString(" + ")} AS sdc_dist
       |  FROM coded a JOIN coded b
       |    ON a.ivf_cell = b.ivf_cell AND a.vec_id != b.vec_id
       |$lutJoins),
       |cand AS (SELECT ivf_cell, vec_id, nn_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sdc_dist, nn_id) AS rk
       |  FROM p),
       |rr AS (SELECT c.ivf_cell, c.vec_id, c.nn_id,
       |    list_dot_product(ea.embedding, eb.embedding)
       |      / (sqrt(list_dot_product(ea.embedding, ea.embedding))
       |         * sqrt(list_dot_product(eb.embedding, eb.embedding))) AS sim
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_id
       |  JOIN embeddings eb ON eb.vec_id = c.nn_id
       |  WHERE c.rk <= $PqTopR),
       |best AS (SELECT ivf_cell, vec_id, nn_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, nn_id) AS rk
       |  FROM rr)
       |SELECT b.ivf_cell, b.vec_id, $codeList, b.nn_id
       |FROM best b JOIN coded USING (vec_id)
       |WHERE b.rk = 1 ORDER BY b.vec_id""".stripMargin
  }

  // --- q53: brute-force cosine top-k (k = 3) — the exhaustive ANN
  // baseline the bucketed/IVF variants are measured against -------------
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val e = Checkpoint.truncate(s, normedEmb(s, dir))
    val a = e.select(col("vec_id").as("vec_id"), col("v").as("va"),
      col("norm").as("na"))
    val b = e.select(col("vec_id").as("nn_id"), col("v").as("vb"),
      col("norm").as("nb"))
    val sim = dot_f64(col("va"), col("vb")) / (col("na") * col("nb"))
    // top-3 as a partial aggregation (TopK.PairAgg) instead of a
    // ROW_NUMBER window: the window materialized, shuffled and sorted
    // the full n² pair frame (4M rows at sf0.1, measured 4.4 s in one
    // job) to keep 3 rows per vector; the aggregator keeps at most 3
    // (sim, id) pairs per group map-side — same (sim DESC, nn_id ASC)
    // order, rank = position + 1, so rows are identical (the q47
    // scale-shape argument applied to k = 3).
    val top3 = udaf(new graft.engine.TopK.PairAgg(3))
    a.crossJoin(broadcast(b))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"), sim.as("sim"))
      .groupBy("vec_id")
      .agg(top3(col("sim"), col("nn_id")).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col").as("nn_id"))
      .orderBy("vec_id", "rk")
  }

  private val q53Sql =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_dot_product(embedding, embedding)) AS norm
      |  FROM embeddings),
      |p AS (SELECT a.vec_id, b.vec_id AS nn_id,
      |    list_dot_product(a.embedding, b.embedding) / (a.norm * b.norm) AS sim
      |  FROM e a JOIN e b ON a.vec_id != b.vec_id),
      |r AS (SELECT vec_id, nn_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rk
      |  FROM p)
      |SELECT vec_id, rk, nn_id FROM r WHERE rk <= 3 ORDER BY 1, 2""".stripMargin

  // --- q56: near-dup KEEPER SELECTION — connected components over the
  // verified candidate graph (the final stage of the dedup pipeline:
  // shingle -> MinHash -> LSH candidates -> exact-Jaccard verify ->
  // CLUSTER -> keep min doc per cluster). Components via iterative
  // min-label propagation: each round every doc adopts the smallest
  // label among itself and its neighbors; converges in graph-diameter
  // rounds; lineage truncated per round. At 10^12 docs this is the
  // standard large-CC shape (edges shuffle on the endpoint key; no
  // driver-side graph). Oracle: DuckDB recursive CTE transitive
  // closure, MIN label per doc. ------------------------------------------
  private val JacThreshold = 0.8

  private def q56(s: SparkSession, dir: String): DataFrame = {
    val sig = graft.sql.GraftFunctions
      .minhash_sigs(col("text"), mhParams, MersennePrime)
    val docs = Checkpoint.truncate(s, t(s, dir, "documents")
      .select(col("doc_id"), sig.as("sig"),
        shPacked(col("text")).as("sh"))
      .select(col("doc_id"), col("sig").getItem(0).as("mh0"),
        col("sig").getItem(1).as("mh1"), col("sh")))
    val a = docs.select(col("mh0"), col("mh1"), col("doc_id").as("doc_a"),
      col("sh").as("sha"))
    val b = docs.select(col("mh0"), col("mh1"), col("doc_id").as("doc_b"),
      col("sh").as("shb"))
    val inter = graft.sql.GraftFunctions
      .sorted_inter_size(col("sha"), col("shb"))
    val union = size(col("sha")) + size(col("shb")) - inter
    // SIZE GATE before the per-pair intersect: J = I/(|A|+|B|-I) with
    // I <= min(|A|,|B|) gives J <= min/max, so any pair with
    // 5*min(|A|,|B|) < 4*max(|A|,|B|) (exact integers, = min/max < 0.8)
    // cannot reach the 0.8 threshold and is dropped WITHOUT building
    // the intersection hash set — the conjuncts evaluate left-to-right
    // in codegen, so only size-compatible candidates pay the O(|A|+|B|)
    // intersect. Pure pruning: the kept pairs' Jaccard test is
    // unchanged, so the surviving edge set is identical.
    val sza = size(col("sha"))
    val szb = size(col("shb"))
    val verified = graft.engine.Salted
      .skewJoin(a, b, Seq("mh0", "mh1"), col("doc_a"),
        salts = 8, hotThreshold = 64)
      .filter(col("doc_a") < col("doc_b") &&
        least(sza, szb) * 5 >= greatest(sza, szb) * 4 &&
        inter.cast("double") / union >= JacThreshold)
      .select(col("doc_a"), col("doc_b"))
    // cluster + keeper selection via the shared min-label propagation
    // engine (Components.minLabel — the loop, its edge-count-sized
    // shuffle width, accumulator convergence and loud round accounting
    // moved there verbatim so q78's image clusters share one
    // implementation); isolated docs rejoin as their own cluster via
    // the left join + coalesce
    val labels = graft.engine.Components
      .minLabel(s, verified, "q56_dedup_components")
      .withColumnRenamed("node_id", "doc_id")
    t(s, dir, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id"))
          .cast("int").as("is_keeper"))
      .orderBy("doc_id")
  }

  private def q56Sql =
    s"""WITH RECURSIVE d AS (SELECT doc_id,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(0)._1} + ${mhParams(0)._2}) % $MersennePrime)) AS mh0,
       |    list_min(list_transform(list_distinct($shinglesSql), g -> (${code3Sql("g")} * ${mhParams(1)._1} + ${mhParams(1)._2}) % $MersennePrime)) AS mh1,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |cand AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM d a JOIN d b ON a.mh0 = b.mh0 AND a.mh1 = b.mh1
       |    AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |    >= $JacThreshold),
       |edges AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.lbl FROM edges e JOIN reach r ON e.a = r.doc_id)
       |SELECT doc_id, MIN(lbl) AS cluster,
       |  CAST(CASE WHEN MIN(lbl) = doc_id THEN 1 ELSE 0 END AS INT) AS is_keeper
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q55: LSH-bucketed top-k neighbor lists — the production ANN
  // search output shape (per query vector, its k best same-bucket
  // matches): bucket id is the shuffle key via the salted skew join
  // (no data broadcast), ranking is a bucket-local window ----------------
  private def q55(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col("embedding").cast("array<double>")
    val bucketBits = (0 until NPlanes).map { p =>
      val dot = dot_f64(v, typedlit(planeWeights(p)))
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }
    val bucketed = Checkpoint.truncate(s, t(s, dir, "embeddings")
      .select(col("vec_id"), v.as("v"), bucketBits.reduce(_ + _).as("bucket")))
    val a = bucketed.select(col("bucket"), col("vec_id"), col("v").as("va"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("nn_id"),
      col("v").as("vb"))
    val sim = dot_f64(col("va"), col("vb")) /
      (sqrt(dot_f64(col("va"), col("va"))) *
        sqrt(dot_f64(col("vb"), col("vb"))))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("nn_id"))
    graft.engine.Salted
      .skewJoin(a, b, Seq("bucket"), col("vec_id"),
        salts = 8, hotThreshold = 64)
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"), sim.as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("vec_id", "rk", "nn_id")
      .orderBy("vec_id", "rk")
  }

  private val q55Sql = {
    val bucketExpr = (0 until NPlanes).map { p =>
      s"(CASE WHEN list_sum(list_transform(generate_series(0, 63), i -> embedding[i + 1] * CAST((((i + ${p * 64}) * 2654435761) % 4294967296) % 1024 - 512 AS DOUBLE) / 512.0)) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS INT) AS bucket,
       |    sqrt(list_dot_product(embedding, embedding)) AS norm
       |  FROM embeddings),
       |p AS (SELECT a.vec_id, b2.vec_id AS nn_id,
       |    list_dot_product(a.embedding, b2.embedding) / (a.norm * b2.norm) AS sim
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id != b2.vec_id),
       |r AS (SELECT vec_id, nn_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rk
       |  FROM p)
       |SELECT vec_id, rk, nn_id FROM r WHERE rk <= 3 ORDER BY 1, 2""".stripMargin
  }

  // --- q51: multimodal binary columns — the CODEC-DEPENDENT formats
  // (png16 via ImageIO, baseline jpeg via the JDK codec), rows-only:
  // their payload bytes and round-trip stats depend on the codec
  // implementation, not on SQL-reproducible math; decoded stats are
  // asserted against the generator in SparkEngineSpec. The hash-
  // reproducible formats (f32, gtiff) moved to q76 under the full
  // DuckDB oracle. -------------------------------------------------------
  private def q51(s: SparkSession, dir: String): DataFrame =
    graft.engine.Multimodal.features(
        graft.engine.Multimodal.syntheticMedia(s))
      .filter(col("fmt").isin("png16", "jpeg"))
      .orderBy("image_id")

  // --- q76: media stats under the oracle — the same MediaStats
  // one-pass decode+feature expression over the f32 and LZW-GeoTIFF
  // payloads, whose band-0 pixels are pure functions of the cell hash:
  // the oracle regenerates mean/max per tile from the loss formula
  // (dyadic /1024 values: the f32 decode and the double sum are both
  // exact, so the compare is bit-exact). n_bytes/thumb_hash stay out —
  // compressed length and the 8x8 thumbnail hash are codec-layout
  // facts, covered by unit goldens (and the gtiff byte path by q73). --
  private def q76(s: SparkSession, dir: String): DataFrame =
    graft.engine.Multimodal.features(
        graft.engine.Multimodal.syntheticMedia(s))
      .filter(col("fmt").isin("f32", "gtiff"))
      .select(col("image_id"), col("fmt"), col("mean_px"), col("max_px"),
        col("n_frames"))
      .orderBy("image_id")

  private val q76Sql = {
    val spec = graft.world.World.tiny
    val nFrames = (spec.tile + 3) / 4 // MediaStats frameK = 4 over T pixel rows
    // Loss/tile formulas come from Spatial's shared oracle fragments
    // (same World.tiny spec) — one definition for engine, Spatial
    // oracles, and this one, so a world change cannot silently leave a
    // stale copy here.
    val tileSql = Spatial.tileSql("cell_id")
    val lossSql = Spatial.lossSql("cell_id")
    s"""WITH cells AS (SELECT r.range + 1 AS cell_id FROM range(${spec.nCells}) r),
       |t AS (SELECT $tileSql AS tile_id,
       |    SUM($lossSql) / COUNT(*) AS mean_px,
       |    MAX($lossSql) AS max_px
       |  FROM cells GROUP BY 1)
       |SELECT printf('tile_%05d', tile_id) AS image_id, 'f32' AS fmt,
       |  mean_px, max_px, CAST($nFrames AS INT) AS n_frames FROM t
       |UNION ALL
       |SELECT printf('tile_%05d_tif', tile_id), 'gtiff',
       |  mean_px, max_px, CAST($nFrames AS INT) FROM t
       |ORDER BY 1""".stripMargin
  }

  // ---- q70: k-gram SPAN dedup — the exact-substring boilerplate pass
  // of a pretraining corpus (remove/flag word spans repeated across
  // documents), at 8-gram granularity since the corpus has no line
  // structure. Per doc: total 8-gram count and how many of those gram
  // INSTANCES also occur in at least one other document.
  //
  // Scale shape: three shuffles — distinct on (doc_id, gram_hash) [the
  // partial-aggregate dedups map-side], document frequency groupBy on
  // gram_hash, and the join back on gram_hash (each instance matches
  // exactly one df row, so skew on hot grams only concentrates the
  // probe side; the df frame's >1 filter usually makes it
  // broadcastable: most grams are unique, duplicated ones are few).
  // The gram STRING never leaves the projection that builds it: every
  // shuffle/join key is xxhash64(gram) — 8 bytes instead of an 8-word
  // string (~10x shuffle-byte shrink). A hash collision would merge two
  // distinct grams' df counts; with n distinct grams the probability
  // any collision exists is ~n^2/2^65 (~3e-10 even at 10^9 grams per
  // partition-group), and the span pass is a flag/scrub heuristic, not
  // an exact-count contract.
  private val SpanK = 8

  /** documents -> (doc_id, w: array<string>) word frame. */
  private def spanDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))

  /** Sliding SpanK-gram HASHES with 0-based start positions: the gram
    * text is hashed inside the building lambda, so downstream plans
    * only ever carry the 8-byte key. */
  private def spanGrams(docs: DataFrame): DataFrame =
    docs.filter(size(col("w")) >= SpanK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $SpanK), " +
          s"i -> xxhash64(concat_ws(' ', slice(w, i + 1, $SpanK))))"))
        .as(Seq("start", "gh")))

  /** Gram hashes occurring in more than one distinct document — the
    * small frame both span queries join against: most grams are unique,
    * so this side stays broadcastable at scale. */
  private def spanDupGrams(grams: DataFrame): DataFrame =
    grams.select("doc_id", "gh").distinct()
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .select("gh")

  private def q70(s: SparkSession, dir: String): DataFrame = {
    val grams = spanGrams(spanDocs(s, dir))
    val dup = spanDupGrams(grams).withColumn("is_dup", lit(1))
    grams.join(dup, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("is_dup")).as("n_dup_grams"))
      .orderBy("doc_id")
  }

  /** Oracle prefix shared by every span query: docs -> sliding 8-grams
    * `g(doc_id, start, gram)` (mirrors spanDocs/spanGrams). */
  private val gramCte =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |gi AS (SELECT doc_id, w,
      |    unnest(generate_series(1, len(w) - 7)) AS i
      |  FROM docs WHERE len(w) >= 8),
      |g AS (SELECT doc_id, i - 1 AS start,
      |    array_to_string(w[i : i + 7], ' ') AS gram
      |  FROM gi)""".stripMargin

  /** gramCte + cross-document duplicated grams `f(gram)` (mirrors
    * spanDupGrams). */
  private val spanCte =
    s"""$gramCte,
      |d AS (SELECT DISTINCT doc_id, gram FROM g),
      |f AS (SELECT gram FROM d GROUP BY 1 HAVING COUNT(*) > 1)""".stripMargin

  private val q70Sql =
    s"""WITH $spanCte
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      |  COUNT(f.gram) AS n_dup_grams
      |FROM g LEFT JOIN f ON g.gram = f.gram
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q71: the REWRITE half of the span pass — q70 flags duplicated
  // spans, q71 emits the scrubbed corpus: every word position covered
  // by any cross-document 8-gram is dropped, the survivors re-assemble
  // in order. Positional anti-join + in-aggregate ordered re-assembly
  // (the U2 sort-inside-agg pattern the raster sink uses). Same shuffle
  // keys as q70 plus one word-level anti-join on (doc_id) and the final
  // per-doc aggregation; at scale the covered-positions frame is tiny
  // relative to the corpus (dup spans are rare), so the anti-join
  // broadcast-or-shuffles cheaply on doc_id.
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(s, dir)
    val words = docs.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "word")))
    val grams = spanGrams(docs)
    val covered = grams.join(spanDupGrams(grams), "gh")
      .select(col("doc_id"),
        explode(expr(s"sequence(start, start + ${SpanK - 1})")).as("pos"))
      .distinct()
    val kept = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr("transform(array_sort(" +
          "collect_list(struct(pos, word))), p -> p.word)")).as("clean_text"))
    // keep fully-scrubbed documents as explicit empty rows instead of
    // silently shrinking the corpus
    docs.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  private val q71Sql =
    s"""WITH $spanCte,
      |words AS (SELECT doc_id, unnest(generate_series(0, len(w) - 1)) AS pos,
      |    unnest(w) AS word
      |  FROM docs),
      |covered AS (SELECT DISTINCT doc_id, pos FROM (
      |  SELECT g.doc_id, unnest(generate_series(g.start, g.start + 7)) AS pos
      |  FROM g JOIN f ON g.gram = f.gram) c0),
      |kept AS (SELECT wd.doc_id, COUNT(*) AS n_kept,
      |    string_agg(wd.word, ' ' ORDER BY wd.pos) AS clean_text
      |  FROM words wd LEFT JOIN covered c
      |    ON wd.doc_id = c.doc_id AND wd.pos = c.pos
      |  WHERE c.doc_id IS NULL
      |  GROUP BY 1)
      |SELECT docs.doc_id, len(docs.w) AS n_words,
      |  COALESCE(k.n_kept, 0) AS n_kept,
      |  COALESCE(k.clean_text, '') AS clean_text
      |FROM docs LEFT JOIN kept k ON docs.doc_id = k.doc_id
      |ORDER BY 1""".stripMargin

  // ---- q94: benchmark DECONTAMINATION — the third consumer of the
  // span machinery: flag TRAINING documents that share any 8-gram with
  // a HELD-OUT evaluation set (train/test leakage is the
  // highest-stakes dedup pass a pretraining pipeline runs: a
  // contaminated benchmark invalidates the eval, not just a loss
  // curve). Held-out set = doc_id % 20 == 0 (a deterministic ~5%
  // split, standing in for the external benchmark corpus).
  //
  // Scale shape — the asymmetry IS the design: the benchmark side is
  // tiny and FIXED (thousands of docs) while the training side is the
  // 100 TB corpus, so the eval grams distinct-reduce on the small side
  // only and BROADCAST into the train scan; the train side's single
  // shuffle is its per-doc partial-aggregated gram counts (grams of
  // one doc are born colocated from one Generate, so the map-side
  // combine reduces to ONE row per doc before the exchange). No
  // train-side gram ever shuffles, and the keys are xxhash64(gram)
  // 8-byte hashes as everywhere in the span family. ---------------------
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(s, dir)
    val isEval = col("doc_id") % 20 === 0
    val evalGrams = spanGrams(docs.filter(isEval))
      .select("gh").distinct().withColumn("hit", lit(1))
    val flagged = spanGrams(docs.filter(!isEval))
      .join(broadcast(evalGrams), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contam"))
    // short docs (< 8 words) have no grams: explicit clean rows, the
    // corpus must not silently shrink
    docs.filter(!isEval).select("doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        (coalesce(col("n_contam"), lit(0L)) > 0).cast("int")
          .as("contaminated"))
      .orderBy("doc_id")
  }

  private val q94Sql =
    s"""WITH $gramCte,
      |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
      |fl AS (SELECT tg.doc_id, COUNT(*) AS n_grams,
      |    COUNT(eg.gram) AS n_contam
      |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0) tg
      |  LEFT JOIN eg ON tg.gram = eg.gram
      |  GROUP BY 1)
      |SELECT d.doc_id, COALESCE(fl.n_grams, 0) AS n_grams,
      |  COALESCE(fl.n_contam, 0) AS n_contam,
      |  CAST(CASE WHEN COALESCE(fl.n_contam, 0) > 0 THEN 1 ELSE 0 END
      |    AS INT) AS contaminated
      |FROM docs d LEFT JOIN fl ON d.doc_id = fl.doc_id
      |WHERE d.doc_id % 20 <> 0 ORDER BY 1""".stripMargin

  // ---- q77: image near-duplicate pairs over the input table's
  // perceptual-hash column — the 64-bit-fingerprint / hamming<=3 dedup
  // configuration of Manku, Jain & Das Sarma, "Detecting Near-Duplicates
  // for Web Crawling" (WWW'07, public), applied to the media table's
  // `phash` (input_hint column): split the 64-bit hash into 4 disjoint
  // 16-bit bands; by pigeonhole, ANY pair at hamming distance <= 3
  // matches on at least one band exactly, so an equi-join on
  // (band, chunk) finds every true pair with replication factor exactly
  // 4, and an exact popcount verify discards band collisions. No brute
  // O(n^2) anywhere.
  //
  // Scale shape: one shuffle on (band, chunk) for the self-join (both
  // sides partition identically — co-located SMJ), one distinct on the
  // candidate pair (dedups pairs matching in >1 band). At 10^12 images
  // a 16-bit chunk has ~10^7 rows per band value: production widens the
  // per-band key with extra permuted-bit tables (the paper's t-table
  // construction) or salts hot chunks exactly like Salted.agg — the
  // band key is already the shuffle key, so both drop in here.
  //
  // The oracle reproduces Codec.phash from the cell formulas (8x8
  // block-mean average hash over band 0 for f32/png16/gtiff rows, band
  // 1 for the jpeg row): every value is dyadic (/1024 loss, integer
  // predictor bands), so block means and the global mean are EXACT in
  // double on both engines and every bit compare is deterministic —
  // this is the first driver-side coverage of the phash column (q76
  // deliberately left thumb_hash out). The verify is brute-force in
  // DuckDB (6k comparisons at tiny scale) against the banded Spark
  // plan, so the compare also proves pigeonhole completeness end to
  // end. ---------------------------------------------------------------
  private val PhashBands = 4
  private val PhashHamK = 3

  /** Banded hamming near-dup pairs over (id, sig64): the reusable
    * operator — q77 applies it to the media table's phash. `alignCols`
    * (if any) join the shuffle key, so only rows agreeing on them are
    * candidates — q85 aligns video frames by passing `frame_idx`, and
    * the aligned columns ride through to the output (one pair row per
    * (a, b, align...)). */
  def hammingPairs(df: DataFrame, idCol: String,
      sigCol: String, maxDist: Int, bands: Int = PhashBands,
      alignCols: Seq[String] = Nil): DataFrame = {
    require(maxDist < bands, "pigeonhole needs more bands than flipped bits")
    val bits = 64 / bands
    val mask = (1L << bits) - 1
    val align = alignCols.map(col)
    val banded = df.select(Seq(col(idCol).as("id"), col(sigCol).as("sig")) ++
      align :+ posexplode(array((0 until bands).map(b =>
        shiftright(col(sigCol), b * bits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "chunk")): _*)
    val l = banded.select(Seq(col("id").as("a"), col("sig").as("pa"),
      col("band"), col("chunk")) ++ align: _*)
    val r = banded.select(Seq(col("id").as("b"), col("sig").as("pb"),
      col("band"), col("chunk")) ++ align: _*)
    l.join(r, alignCols ++ Seq("band", "chunk"))
      .filter(col("a") < col("b"))
      .select((Seq("a", "b") ++ alignCols ++ Seq("pa", "pb")).map(col): _*)
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS INT)"))
      .filter(col("hamming") <= maxDist)
      .select((Seq("a", "b") ++ alignCols ++ Seq("hamming")).map(col): _*)
  }

  private def q77(s: SparkSession, dir: String): DataFrame =
    hammingPairs(
      graft.engine.Multimodal.syntheticMedia(s).select("image_id", "phash"),
      "image_id", "phash", PhashHamK)
      .withColumnRenamed("a", "a_id").withColumnRenamed("b", "b_id")
      .orderBy("a_id", "b_id")

  /** CTE chain reconstructing every media row's phash from the cell
    * formulas — shared by the q77 pair oracle and the q78 cluster
    * oracle (single definition, so a world change cannot leave a stale
    * copy in one of them). */
  /** `1 << k` as a BIGINT literal per phash block index k — SHARED by
    * every oracle that rebuilds a 64-bit block-mean phash in SQL (the
    * image CTE below and Video.q85Sql): k = 63 prints as
    * Long.MinValue, which DuckDB parses via HUGEINT then casts back,
    * a caveat that must not fork across copies. */
  private[queries] lazy val phashBitvalSql: String =
    "CASE k " + (0 until 64).map(k =>
      s"WHEN $k THEN CAST(${1L << k} AS BIGINT)").mkString(" ") + " END"

  private lazy val phashImgsCte: String = {
    val spec = graft.world.World.tiny
    val C = spec.cols
    val T = spec.tile
    val blk = T / 8 // pixels per phash block side
    val bitval = phashBitvalSql
    s"""cells AS (SELECT r.range + 1 AS cell_id FROM range(${spec.nCells}) r),
       |px AS (SELECT ${Spatial.tileSql("cell_id")} AS tile_id,
       |   CAST(FLOOR((FLOOR((cell_id - 1) / $C) % $T) / $blk) AS BIGINT) AS by,
       |   CAST(FLOOR((((cell_id - 1) % $C) % $T) / $blk) AS BIGINT) AS bx,
       |   ${Spatial.lossSql("cell_id")} AS v0,
       |   ${Spatial.bandSql("cell_id", 1)} AS v1 FROM cells),
       |blk AS (SELECT tile_id, by * 8 + bx AS k,
       |   SUM(v0) / COUNT(*) AS m0, SUM(v1) / COUNT(*) AS m1
       | FROM px GROUP BY 1, 2),
       |gm AS (SELECT tile_id, SUM(v0) / COUNT(*) AS g0,
       |   SUM(v1) / COUNT(*) AS g1 FROM px GROUP BY 1),
       |ph AS (SELECT b.tile_id,
       |   CAST(SUM(CASE WHEN m0 > g0 THEN $bitval ELSE 0 END) AS BIGINT) AS ph0,
       |   CAST(SUM(CASE WHEN m1 > g1 THEN $bitval ELSE 0 END) AS BIGINT) AS ph1
       | FROM blk b JOIN gm USING (tile_id) GROUP BY 1),
       |imgs AS (
       | SELECT printf('tile_%05d', tile_id) AS image_id, ph0 AS phash FROM ph
       | UNION ALL SELECT printf('tile_%05d_png', tile_id), ph0 FROM ph
       | UNION ALL SELECT printf('tile_%05d_tif', tile_id), ph0 FROM ph
       | UNION ALL SELECT printf('tile_%05d_jpg', tile_id), ph1 FROM ph)""".stripMargin
  }

  private lazy val q77Sql =
    s"""WITH $phashImgsCte
       |SELECT a.image_id AS a_id, b.image_id AS b_id,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM imgs a JOIN imgs b ON a.image_id < b.image_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamK
       |ORDER BY 1, 2""".stripMargin

  // ---- q78: image near-dup CLUSTERS + keeper selection — the final
  // stage of the image dedup pipeline (what a 10^12-image table
  // actually ships: one canonical keeper per near-dup cluster). Edges =
  // the q77 banded pairs; clustering via the shared min-label
  // propagation engine (Components.minLabel, the q56 machinery
  // generalized over the id type — string image ids propagate through
  // `least` and compare identically in Spark and DuckDB under binary
  // collation). Isolated images are their own cluster (left join +
  // coalesce, never entering the loop). Oracle: the shared phash CTE,
  // brute-force pairs, recursive-CTE transitive closure, MIN label. ----
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val media = graft.engine.Multimodal.syntheticMedia(s)
      .select("image_id", "phash")
    val pairs = hammingPairs(media, "image_id", "phash", PhashHamK)
      .select("a", "b")
    val labels = graft.engine.Components
      .minLabel(s, pairs, "q78_phash_clusters")
      .withColumnRenamed("node_id", "image_id")
    media.select(col("image_id"))
      .join(labels, Seq("image_id"), "left")
      .select(col("image_id"),
        coalesce(col("lbl"), col("image_id")).as("cluster"),
        (coalesce(col("lbl"), col("image_id")) === col("image_id"))
          .cast("int").as("is_keeper"))
      .orderBy("image_id")
  }

  private lazy val q78Sql =
    s"""WITH RECURSIVE $phashImgsCte,
       |cand AS (
       |  SELECT a.image_id AS a, b.image_id AS b
       |  FROM imgs a JOIN imgs b ON a.image_id < b.image_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamK),
       |edges AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
       |reach(image_id, lbl) AS (
       |  SELECT image_id, image_id FROM imgs
       |  UNION
       |  SELECT e.b, r.lbl FROM edges e JOIN reach r ON e.a = r.image_id)
       |SELECT image_id, MIN(lbl) AS cluster,
       |  CAST(CASE WHEN MIN(lbl) = image_id THEN 1 ELSE 0 END AS INT) AS is_keeper
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q90: METADATA CONSOLIDATION on dedup clusters — what the
  // image+caption table actually ships after dedup (input_hint: rows
  // are image/caption PAIRS, so dropping near-dup images silently
  // drops caption signal): one row per q78 visual-dup cluster carrying
  // the keeper id, member count, and the members' DISTINCT captions
  // merged deterministically (sorted, ' | '-joined), plus a conflict
  // flag — the caption-noise audit (same pixels, disagreeing text)
  // that curation pipelines route to relabeling. Merge order is pinned
  // by sort_array / ORDER BY caption under binary collation on both
  // engines, so the concatenated string compares bit-exact. One extra
  // shuffle beyond q78 (the cluster-id groupBy); captions ride that
  // shuffle once, which at 10^12 rows is the reason consolidation
  // happens HERE and not as a per-member join downstream. ------------
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val media = graft.engine.Multimodal.syntheticMedia(s)
      .select("image_id", "phash", "caption")
    val pairs = hammingPairs(media.select("image_id", "phash"),
      "image_id", "phash", PhashHamK).select("a", "b")
    val labels = graft.engine.Components
      .minLabel(s, pairs, "q90_caption_consolidate")
      .withColumnRenamed("node_id", "image_id")
    media.join(labels, Seq("image_id"), "left")
      .select(col("caption"),
        coalesce(col("lbl"), col("image_id")).as("keeper"))
      .groupBy("keeper")
      .agg(count(lit(1)).as("n_members"),
        size(collect_set(col("caption"))).cast("int").as("n_captions"),
        concat_ws(" | ", sort_array(collect_set(col("caption"))))
          .as("captions"))
      .withColumn("caption_conflict",
        (col("n_captions") > 1).cast("int"))
      .orderBy("keeper")
  }

  private lazy val q90Sql = {
    val spec = graft.world.World.tiny
    val tx = spec.tilesX
    val t = spec.tile
    s"""WITH RECURSIVE $phashImgsCte,
       |caps AS (
       | SELECT printf('tile_%05d', tile_id) AS image_id,
       |   printf('tile r%d c%d ${t}x$t bands=${spec.nBands}',
       |     (tile_id // $tx) * $t, (tile_id % $tx) * $t) AS caption FROM ph
       | UNION ALL SELECT printf('tile_%05d_png', tile_id),
       |   printf('png16 of tile %d', tile_id) FROM ph
       | UNION ALL SELECT printf('tile_%05d_tif', tile_id),
       |   printf('gtiff of tile %d', tile_id) FROM ph
       | UNION ALL SELECT printf('tile_%05d_jpg', tile_id),
       |   printf('jpeg of tile %d band 1', tile_id) FROM ph),
       |cand AS (
       |  SELECT a.image_id AS a, b.image_id AS b
       |  FROM imgs a JOIN imgs b ON a.image_id < b.image_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamK),
       |edges AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
       |reach(image_id, lbl) AS (
       |  SELECT image_id, image_id FROM imgs
       |  UNION
       |  SELECT e.b, r.lbl FROM edges e JOIN reach r ON e.a = r.image_id),
       |cl AS (SELECT image_id, MIN(lbl) AS keeper FROM reach GROUP BY 1)
       |SELECT cl.keeper, COUNT(*) AS n_members,
       |  CAST(COUNT(DISTINCT c.caption) AS INT) AS n_captions,
       |  string_agg(DISTINCT c.caption, ' | ' ORDER BY c.caption) AS captions,
       |  CAST(CASE WHEN COUNT(DISTINCT c.caption) > 1 THEN 1 ELSE 0 END
       |    AS INT) AS caption_conflict
       |FROM cl JOIN caps c USING (image_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- q110: LOG-LINEAR QUANTILE SKETCH (HDR-histogram family) — the
  // MERGEABLE per-group quantile summary for KEY-cardinality groups,
  // the case engine/Quantile's MaxGroups guard explicitly points here
  // (q109 handles dimension-like groups exactly; a per-domain length
  // distribution over 10^8 crawl hosts cannot hold per-group driver
  // state). Bucket = (bit length of the value, next 3 bits after the
  // leading 1): exponent + 3-bit mantissa, so every bucket spans a
  // <= 2^-3 relative range — the estimator's error bound is 12.5% BY
  // CONSTRUCTION, independent of the data. Register = groupBy(group,
  // bucket) COUNT: partial aggregation IS the sketch merge (the
  // q84/q91 design rule), disjoint corpora union by adding registers,
  // and the shuffle carries <= 512 register rows per (task, group),
  // never values. Bit arithmetic stays libm-free on both engines
  // (Spark bin()/conv(), DuckDB printf('%b') + digit math), so the
  // oracle compares every register bit-for-bit; the float estimator
  // (`qsketchEstimate`) is a driver-side fold, golden-tested against
  // exact per-group quantiles within the bucket bound. -------------------
  /** Log-linear sketch bucket of a positive integral column: 8 × bit
    * length + the 3 bits after the leading 1. bin()/conv() keep the bit
    * arithmetic libm-free (no log2), hence oracle-bit-exact. */
  private def qsketchBucket(v: Column): Column = {
    val b = bin(v)
    (length(b) * 8 +
      conv(substring(rpad(b, 4, "0"), 2, 3), 2, 10).cast("int"))
      .cast("int")
  }

  private def q110(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("n_chars") > 0) // bin() of 0 has no leading 1
      .select(col("source"), qsketchBucket(col("n_chars")).as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "bucket")

  private val q110Sql =
    """WITH d AS (SELECT source, printf('%b', n_chars) AS b
      |  FROM documents WHERE n_chars > 0),
      |k AS (SELECT source,
      |    CAST(length(b) * 8
      |      + 4 * CAST(substr(rpad(b, 4, '0'), 2, 1) AS INT)
      |      + 2 * CAST(substr(rpad(b, 4, '0'), 3, 1) AS INT)
      |      + CAST(substr(rpad(b, 4, '0'), 4, 1) AS INT) AS INT) AS bucket
      |  FROM d)
      |SELECT source, bucket, COUNT(*) AS n
      |FROM k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Driver-side quantile estimate from q110's register rows (one
    * group): walk buckets ascending to the one holding rank
    * ceil(q * n) and return its LOWER edge 2^(e-1) · (1 + m/8) — a
    * value every member of the bucket is within a factor of 2^-3
    * above, so the relative error is <= 12.5% by construction. Lives
    * here so tests and users share one estimator (the cmEstimate /
    * hllEstimate pattern). */
  def qsketchEstimate(registers: Seq[(Int, Long)], q: Double): Double = {
    require(registers.nonEmpty && q >= 0.0 && q <= 1.0)
    val total = registers.map(_._2).sum
    val target = math.max(1L, math.ceil(q * total).toLong)
    var cum = 0L
    val sorted = registers.sortBy(_._1)
    val (bucket, _) = sorted.find { case (_, n) =>
      cum += n; cum >= target
    }.get
    val e = bucket / 8
    val m = bucket % 8
    math.pow(2.0, e - 1) * (1.0 + m / 8.0)
  }

  // --- q84: HLL DISTINCT-COUNT SKETCH — approximate distinct
  // fingerprints per language group, emitted as the sketch's 64 raw
  // REGISTERS (all-integer, so the DuckDB oracle compares them
  // bit-for-bit; the float estimator is a trivial driver-side fold
  // over the registers, golden-tested in ScalaTest against exact
  // distinct). Spark-first sketch design: bucket = 6 low bits of a
  // 32-bit re-mix of the q50 fingerprint, rank = leading-zero count
  // of the remaining 26 bits (+1), register = groupBy(lang, bucket)
  // MAX(rank) — `max` is associative, so Catalyst's partial
  // aggregation IS the sketch merge: each task reduces its partition
  // to <= 64*langs rows before the exchange (one shuffle of sketch
  // state, never of raw rows — the HLL property that matters at
  // 10^12 docs), and sketches of disjoint corpora union by the same
  // max. A custom TypedImperativeAggregate would re-implement exactly
  // this merge, outside codegen and with opaque state; the groupBy
  // form keeps the whole pipeline in Tungsten. Rank arithmetic stays
  // libm-free on both sides: floor(log2(w)) is the length of the
  // binary string (Spark `bin`, DuckDB printf('%b')). --------------
  private val HllBuckets = 64
  private val HllWBits = 26 // 32-bit mixed hash minus 6 bucket bits

  private def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = split(col("text"), " ")
    val sc = markers.map { case (_, ws) =>
      size(filter(toks, tk => tk.isin(ws: _*)))
    }
    val sh = array_distinct(shingles(col("text")))
    val fp = aggregate(sh, lit(0L),
      (acc, g) => (acc + code3(g) * code3(g)) % MersennePrime)
    // Single-eval staging via a Generate (the region_explode trick):
    // the marker scores and the fingerprint fold are higher-order
    // lambdas (CodegenFallback, no cross-reference CSE), and the
    // when-chain/bucket/rank each reference them 2-4 times. A plain
    // staged select gets collapsed back into one Project by Catalyst
    // (re-duplicating the lambdas), but a Project cannot be collapsed
    // through a Generate, so exploding a one-element struct array pins
    // every lambda to ONE evaluation per row (plan-guarded: the fold
    // appears once).
    val staged = t(s, dir, "documents")
      .select(explode(array(struct(
        sc(0).as("s0"), sc(1).as("s1"), sc(2).as("s2"),
        ((fp * lit(2654435761L)) % lit(4294967296L)).as("h2")))).as("r"))
      .select(col("r.s0").as("s0"), col("r.s1").as("s1"),
        col("r.s2").as("s2"), col("r.h2").as("h2"))
    val lang = when(col("s0") >= col("s1") && col("s0") >= col("s2"),
        markers(0)._1)
      .when(col("s1") >= col("s2"), markers(1)._1)
      .otherwise(markers(2)._1)
    val w = shiftright(col("h2"), 6)
    val rank = when(w === 0, HllWBits + 1)
      .otherwise(lit(HllWBits + 1) - length(bin(w))).cast("int")
    val regs = staged
      .select(lang.as("lang"),
        col("h2").bitwiseAND(lit(63L)).cast("int").as("bucket"),
        rank.as("rank"))
      .groupBy("lang", "bucket").agg(max("rank").as("register"))
    // dense spine: every (lang, bucket) row, empty buckets register 0
    // (the estimator needs the zero count; at scale this is a 192-row
    // literal frame broadcast against the aggregated sketch)
    val spine = markers.map(_._1).toDF("lang")
      .crossJoin(s.range(HllBuckets).select(col("id").cast("int")
        .as("bucket")))
    spine.join(regs, Seq("lang", "bucket"), "left")
      .select(col("lang"), col("bucket"),
        coalesce(col("register"), lit(0)).cast("int").as("register"))
      .orderBy("lang", "bucket")
  }

  // --- q91: COUNT-MIN SKETCH — the frequency twin of q84's
  // distinct-count HLL, completing the sketch pair a 10^12-row profile
  // pass needs (how many distinct / how often each). Same Spark-first
  // design: register(r, c) = COUNT of rows whose r-th hash lands in
  // column c, i.e. a groupBy(r, c) count — Catalyst's partial
  // aggregation IS the sketch merge (each task reduces to <= d*w rows
  // before the exchange; sketch state shuffles, never raw rows), and
  // sketches of disjoint inputs union by adding registers, which is
  // exactly what the final merge does. Row hashes are the nonlinear
  // World.h2 (affine-free, SQL-exact, zero libm); registers are
  // integers so the oracle compares bit-for-bit. The estimator
  // (`cmEstimate` = min over rows of the addressed register) is a
  // driver-side fold with the classic ONE-SIDED guarantee — never an
  // undercount — golden-tested beside hllEstimate; heavy-hitter
  // screening (est >= threshold has NO false negatives) rides that
  // guarantee deterministically. ------------------------------------
  private val CmDepth = 4
  private val CmWidth = 64

  private def q91(s: SparkSession, dir: String): DataFrame = {
    val cells = (0 until CmDepth).map { r =>
      struct(lit(r).as("r"),
        (graft.world.World.h2Col(col("user_id") * 31 + lit(r * 131))
          % CmWidth).cast("int").as("c"))
    }
    val regs = t(s, dir, "events")
      .select(explode(array(cells: _*)).as("rc"))
      .select(col("rc.r").as("r"), col("rc.c").as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    // dense spine: absent registers are TRUE ZEROS the estimator needs
    // (a key hashing into an untouched cell has exact count 0)
    val spine = s.range(CmDepth).select(col("id").cast("int").as("r"))
      .crossJoin(s.range(CmWidth).select(col("id").cast("int").as("c")))
    spine.join(regs, Seq("r", "c"), "left")
      .select(col("r"), col("c"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("r", "c")
  }

  private val q91Sql = {
    val h = (k: String) => Spatial.h2Sql(k)
    s"""WITH rc AS (SELECT rr.range AS r,
       |    (${h(s"user_id * 31 + rr.range * 131")} % $CmWidth) AS c
       |  FROM events, range($CmDepth) rr),
       |agg AS (SELECT r, c, COUNT(*) AS cnt FROM rc GROUP BY 1, 2),
       |spine AS (SELECT rr.range AS r, cc.range AS c
       |  FROM range($CmDepth) rr, range($CmWidth) cc)
       |SELECT CAST(s.r AS INT) AS r, CAST(s.c AS INT) AS c,
       |  CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt
       |FROM spine s LEFT JOIN agg a ON a.r = s.r AND a.c = s.c
       |ORDER BY 1, 2""".stripMargin
  }

  // --- q95: PER-DOMAIN DOCUMENT CAP — the mixture-balancing pass every
  // pretraining corpus runs: no crawl domain may contribute more than K
  // documents; keep the best K by length (ties to the smaller doc_id).
  //
  // Scale shape — the reason this is an engine/TopK Aggregator and not
  // `ROW_NUMBER() OVER (PARTITION BY source ...)` like the oracle: the
  // window sorts EVERY row of every domain after shuffling them all,
  // so one hot domain (the 10^9-page crawl host) becomes one task
  // sorting 10^9 rows. Here each row packs (n_chars, doc_id) into one
  // bigger-wins long, Catalyst's partial aggregation reduces every
  // task's rows into a size-K heap BEFORE the exchange, and only
  // K-sized buffers cross the wire: shuffle bytes O(tasks * K * 8),
  // per-task state O(K), the hot domain's cost spread over all its
  // input tasks. Packing contract (TopK.packDescSmallerId): n_chars in
  // the high 32 bits, 0xFFFFFFFF - doc_id in the low 32 so the SMALLER
  // id wins ties; the bounds (0 <= n_chars < 2^31, 0 <= doc_id < 2^32)
  // are guarded per row by an assert_true riding the pack projection. ---
  private val DomainCapK = 12

  private def q95(s: SparkSession, dir: String): DataFrame = {
    import graft.engine.TopK
    val docs = t(s, dir, "documents")
    val topk = udaf(new TopK.Agg(DomainCapK))
    docs
      .select(col("source"),
        TopK.packDescSmallerId(col("n_chars"), col("doc_id")).as("pk"))
      .groupBy("source")
      .agg(topk(col("pk")).as("tops"))
      .select(col("source"), posexplode(col("tops")).as(Seq("rk0", "pk")))
      .select(
        TopK.unpackId(col("pk")).as("doc_id"),
        col("source"),
        TopK.unpackScore(col("pk")).as("n_chars"),
        (col("rk0") + 1).cast("int").as("rk"))
      .orderBy("doc_id")
  }

  private val q95Sql =
    s"""SELECT doc_id, source, n_chars, CAST(rn AS INT) AS rk FROM (
       |  SELECT doc_id, source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $DomainCapK ORDER BY doc_id""".stripMargin

  // --- q106: INVERTED-INDEX RETRIEVAL (sparse top-k) — the lexical
  // complement of the dense ANN family (q47-q55/q89): given a small
  // set of token queries, retrieve each query's top-k documents by
  // DISTINCT-token overlap, ties to the smaller doc_id. This is the
  // BM25-retrieval shape with the integer-exact scoring core (overlap
  // count); idf/length weighting is a per-row rational factor on the
  // same plan and would add libm to the oracle surface, so the
  // registry pins the integer core.
  //
  // Scale shape: per-document token DEDUP is array_distinct INSIDE the
  // row (no shuffle — a distinct over the exploded postings would
  // shuffle |corpus tokens| rows); the query-term frame is a handful
  // of rows and BROADCASTS into the exploded scan, so the only
  // data-sized exchange is the groupBy (query, doc) count whose
  // partial aggregation collapses each task to <= |queries|·|its docs|
  // rows. The per-query top-k is engine/TopK again — scores heap-
  // reduce BEFORE their (tiny) exchange, so one query matching 10^9
  // docs costs O(k) shuffle bytes per task, never a global sort. -----------
  private val RetrK = 5
  // Query mix chosen against the corpus' df profile: q0/q3 are dense
  // terms (df ~380/500 — nearly every doc matches all terms, so the
  // ENTIRE top-k is score-tied and the smaller-doc_id rule is what the
  // hash compare pins); q1 carries 'dup' (df=25, the one rare token)
  // so its ranking genuinely discriminates; q2 carries an
  // out-of-vocabulary term, pinning that absent postings cost nothing
  // and cap the score below |terms|.
  private val RetrQueries = Seq(
    0 -> "spark join window agg batch",
    1 -> "dup key vector stream",
    2 -> "customer order line quantum",
    3 -> "slow fast filter data column")

  /** `(query_id, tok)` frame of the retrieval family's distinct query
    * terms — shared by q106 (overlap) and q124 (BM25) so the two
    * rankers can never silently diverge on tokenization. */
  private def retrQueryTokens(s: SparkSession): DataFrame = {
    val qRows = RetrQueries.map { case (id, tx) =>
      struct(lit(id).as("query_id"), lit(tx).as("qtext"))
    }
    s.range(1)
      .select(explode(array(qRows: _*)).as("q"))
      .select(col("q.query_id"),
        explode(array_distinct(split(col("q.qtext"), " "))).as("tok"))
  }

  private def q106(s: SparkSession, dir: String): DataFrame = {
    import graft.engine.TopK
    val qTok = retrQueryTokens(s)
    val dTok = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    val topk = udaf(new TopK.Agg(RetrK))
    dTok.join(broadcast(qTok), "tok")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("score"))
      .select(col("query_id"),
        TopK.packDescSmallerId(col("score"), col("doc_id")).as("pk"))
      .groupBy("query_id")
      .agg(topk(col("pk")).as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("rk0", "pk")))
      .select(col("query_id"), (col("rk0") + 1).cast("int").as("rk"),
        TopK.unpackId(col("pk")).as("doc_id"),
        TopK.unpackScore(col("pk")).as("score"))
      .orderBy("query_id", "rk")
  }

  private val q106Sql =
    s"""WITH q(query_id, qtext) AS (VALUES
       |    ${RetrQueries.map { case (i, tx) => s"($i, '$tx')" }
        .mkString(",\n    ")}),
       |qt AS (SELECT query_id,
       |    unnest(list_distinct(string_split(qtext, ' '))) AS tok FROM q),
       |dt AS (SELECT doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |sc AS (SELECT query_id, doc_id, COUNT(*) AS score
       |  FROM qt JOIN dt USING (tok) GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rk FROM sc)
       |SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS INT) AS rk,
       |  CAST(doc_id AS BIGINT) AS doc_id, CAST(score AS BIGINT) AS score
       |FROM r WHERE rk <= $RetrK ORDER BY query_id, rk""".stripMargin

  // --- q124: BM25 RANKED RETRIEVAL — q106's integer-overlap core
  // upgraded to the full Okapi BM25 weighting (k1=1.2, b=0.75, the
  // non-negative ln(1 + (N-df+0.5)/(df+0.5)) idf): term frequency,
  // document-length normalization against the corpus mean, and rarity
  // weighting — the production lexical ranker beside the dense ANN
  // family. Exactness discipline for the libm surface q106 declined:
  // idf's ln is the ONLY transcendental, every per-(doc,term) score is
  // quantized to 1e-7 units BEFORE the per-(query,doc) sum, so the only
  // order-sensitive reduction is an exact integer sum (the q113
  // quantize-then-reduce pattern), and the remaining float ops are
  // IEEE-exact divisions written as the identical expression tree in
  // both engines.
  //
  // Scale shape: tf is a partial-aggregated groupBy over ONLY the
  // postings matching the broadcast query-term list; doc lengths ride a
  // second data-sized partial agg; df and the 2-value corpus stats
  // frame reduce to a handful of rows and BROADCAST back; the top-k is
  // engine/TopK's heap (O(k) shuffle bytes per task). Quantized scores
  // stay < 2^31 by construction: score_t <= ln(1+2N)·(k1+1) ~ 16, times
  // 1e7, times <=5 query terms. -------------------------------------------
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.engine.TopK
    val qTok = retrQueryTokens(s)
    val dTok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = dTok.join(broadcast(qTok.select("tok").distinct()), "tok")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dlen = dTok.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"), sum("len").as("sum_len"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_len").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val num = col("tf").cast("double") * 2.2
    val den = col("tf").cast("double") +
      lit(1.2) * (lit(0.25) + lit(0.75) * col("len").cast("double") / avgdl)
    val topk = udaf(new TopK.Agg(RetrK))
    tf.join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(df), "tok")
      .select(col("doc_id"), col("tok"),
        round(idf * (num / den) * 1e7).cast("long").as("s_q7"))
      .join(broadcast(qTok), "tok")
      .groupBy("query_id", "doc_id")
      .agg(sum("s_q7").as("score_q7"))
      .select(col("query_id"),
        TopK.packDescSmallerId(col("score_q7"), col("doc_id")).as("pk"))
      .groupBy("query_id")
      .agg(topk(col("pk")).as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("rk0", "pk")))
      .select(col("query_id"), (col("rk0") + 1).cast("int").as("rk"),
        TopK.unpackId(col("pk")).as("doc_id"),
        TopK.unpackScore(col("pk")).as("score_q7"))
      .orderBy("query_id", "rk")
  }

  private val q124Sql =
    s"""WITH q(query_id, qtext) AS (VALUES
       |    ${RetrQueries.map { case (i, tx) => s"($i, '$tx')" }
        .mkString(",\n    ")}),
       |qt AS (SELECT query_id,
       |    unnest(list_distinct(string_split(qtext, ' '))) AS tok FROM q),
       |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM dt
       |  WHERE tok IN (SELECT DISTINCT tok FROM qt) GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS len FROM dt GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(len) AS sum_len FROM dl),
       |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.tok,
       |    CAST(ROUND(
       |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
       |        / (CAST(dfq.df AS DOUBLE) + 0.5))
       |      * ((CAST(tf.tf AS DOUBLE) * 2.2)
       |        / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25
       |          + 0.75 * CAST(dl.len AS DOUBLE)
       |            / (CAST(st.sum_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
       |      * 1e7) AS BIGINT) AS s_q7
       |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN st JOIN dfq ON tf.tok = dfq.tok),
       |agg AS (SELECT qt.query_id, sc.doc_id, SUM(sc.s_q7) AS score_q7
       |  FROM sc JOIN qt ON sc.tok = qt.tok GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score_q7,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_q7 DESC, doc_id) AS rk FROM agg)
       |SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS INT) AS rk,
       |  CAST(doc_id AS BIGINT) AS doc_id, CAST(score_q7 AS BIGINT) AS score_q7
       |FROM r WHERE rk <= $RetrK ORDER BY query_id, rk""".stripMargin

  // --- q96: SEQUENCE PACKING (concat-and-chunk) — the layout step
  // between a cleaned corpus and a training run: documents are
  // concatenated in a canonical order and the token stream is cut into
  // fixed-length windows (the GPT-style W-token context blocks); each
  // document needs its absolute token offset to know which sequences
  // it lands in. Emits per doc: token count, absolute start offset,
  // first/last sequence id, offset within the first sequence.
  //
  // Scale shape: the absolute offset is a GLOBAL running sum — as a
  // plain `SUM() OVER (ORDER BY doc_id)` (the oracle's formulation)
  // Spark plans ONE single-partition window task over the whole
  // corpus. engine/PrefixSum instead range-partitions by doc_id,
  // partial-sums per partition, prefix-sums only the ~hundreds of
  // per-partition totals, and finishes with per-partition windows —
  // every stage parallel, the single-point step is over the totals
  // table. Derived ids (seq_first/seq_last/off) are integer div/mod,
  // bit-exact under the oracle. -------------------------------------------
  private val PackWindow = 128L

  private def q96(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    graft.engine.PrefixSum.exclusive(d, "doc_id", col("n_tok"), "tok_start")
      // `div` = exact integer division — a double `/` would round past
      // 2^53 token offsets
      .select(col("doc_id"), col("n_tok"), col("tok_start"),
        expr(s"tok_start div $PackWindow").as("seq_first"),
        expr(s"(tok_start + n_tok - 1) div $PackWindow").as("seq_last"),
        (col("tok_start") % PackWindow).as("off"))
      .orderBy("doc_id")
  }

  private val q96Sql =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |p AS (SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_start FROM d)
       |SELECT doc_id, n_tok, tok_start,
       |  CAST(tok_start // $PackWindow AS BIGINT) AS seq_first,
       |  CAST((tok_start + n_tok - 1) // $PackWindow AS BIGINT) AS seq_last,
       |  CAST(tok_start % $PackWindow AS BIGINT) AS off
       |FROM p ORDER BY doc_id""".stripMargin

  // --- q97: PER-DOMAIN TOKEN BUDGET — the other half of mixture
  // balancing (q95 caps document COUNT; real mixtures cap TOKENS):
  // per domain, keep the maximal quality-ordered prefix of documents
  // whose cumulative token count stays within budget B. Quality =
  // n_chars, ties to the smaller doc_id; "maximal prefix" = keep iff
  // the running sum INCLUDING the doc is <= B (monotone, so the kept
  // set is a prefix by construction).
  //
  // Scale shape — the oracle's `SUM() OVER (PARTITION BY source ORDER
  // BY quality DESC, doc_id)` sorts every row of every domain in one
  // task per domain. The engine never sorts the docs: (1) aggregate
  // token sums per (domain, quality LEVEL) — a fine-grained two-column
  // key, so a hot domain spreads over its levels; (2) cumulate over
  // the LEVELS frame (tiny: domains x distinct scores) to find each
  // domain's single boundary level where the running sum crosses B —
  // levels fully inside the budget keep all their docs, levels past it
  // drop all; (3) only the boundary level's docs (one score value per
  // domain) pay a within-level running sum for the doc_id tie-break.
  // The same refine-the-boundary idea as q88's quantile histogram,
  // applied to a weighted selection. ---------------------------------------
  private val TokenBudget = 1000L

  private def q97(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // (1) per-level token totals — the only docs-sized shuffle
    val levels = d.groupBy("source", "n_chars")
      .agg(sum("n_tok").as("lv_tok"))
    // (2) running sum over the tiny levels frame, quality descending
    val wl = Window.partitionBy("source").orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val classed = levels
      .withColumn("cum_before", coalesce(sum("lv_tok").over(wl), lit(0L)))
      .withColumn("cum_through", col("cum_before") + col("lv_tok"))
    val docs = d.join(classed, Seq("source", "n_chars"))
    // (3) exactly the boundary level's docs get the in-level ordering;
    // one level per domain, so this frame is ~docs-per-score tiny
    val wb = Window.partitionBy("source", "n_chars").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = docs
      .filter(col("cum_before") < TokenBudget &&
        col("cum_through") > TokenBudget)
      .withColumn("in_cum", sum("n_tok").over(wb))
      .select(col("doc_id"),
        (col("cum_before") + col("in_cum") <= TokenBudget).cast("int")
          .as("kept_b"))
    docs.join(boundary, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_tok"),
        when(col("cum_through") <= TokenBudget, 1)
          .otherwise(coalesce(col("kept_b"), lit(0))).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  private val q97Sql =
    s"""WITH d AS (SELECT doc_id, source, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY source
       |    ORDER BY n_chars DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT doc_id, source, n_chars, n_tok,
       |  CAST(CASE WHEN cum <= $TokenBudget THEN 1 ELSE 0 END AS INT)
       |    AS kept
       |FROM c ORDER BY doc_id""".stripMargin

  // --- q100: INTRA-DOCUMENT REPETITION FILTER (Gopher-style) ------------
  // The quality rule MinHash-style cross-doc dedup cannot express: a
  // document that repeats ITSELF (boilerplate, scraper loops, template
  // spam) is low-quality even when globally unique. Signals follow
  // Rae et al. 2021 (arXiv:2112.11446 §A1.1): fraction of the token
  // stream covered by the single most frequent 2-gram, and fraction of
  // duplicate 3-grams. One pass per row via the codegen RepStats
  // expression — per-doc work is linear in tokens and NO shuffle exists
  // anywhere (each document judges itself), so the operator is
  // embarrassingly scan-parallel at 100 TB. All outputs are exact
  // integers; the keep-flag thresholds (top2/n2 <= 1/5, dup3/n3 <= 1/10)
  // are integer cross-multiplications, so the oracle compare is
  // bit-exact with zero float surface. The oracle recomputes each
  // gram's count by the O(tokens^2) list_filter scan — affordable at
  // sf0.01, and exactly the formulation the one-pass hash map replaces.
  // Probe docs appended to the corpus so BOTH failure modes actually
  // fire under the driver compare (the sf corpus itself has no
  // repetition — without these the keep-flag would be vacuously
  // all-1): 9001 tops the 2-gram rule (one pair = ~half the stream),
  // 9002 passes the 2-gram rule (12/71 < 1/5) but fails on duplicate
  // 3-grams (a 6-token cycle: ~91% of its 3-grams are repeats), 9003
  // is clean. Built from the same repeat() formula on both engines.
  private val repProbes = Seq(
    (9001L, ("buy now " * 50), "repeat('buy now ', 50)"),
    (9002L, ("lorem ipsum dolor sit amet consectetur " * 12),
      "repeat('lorem ipsum dolor sit amet consectetur ', 12)"),
    // 12 distinct tokens: the clean probe must clear n2 >= 5 — the
    // top-2-gram rule (top2*5 <= n2 with top2 >= 1) rejects any doc
    // shorter than 6 tokens, which is Gopher's min-length gate folded
    // into the same integer inequality.
    (9003L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'"))

  private def q100(s: SparkSession, dir: String): DataFrame = {
    val st = graft.sql.GraftFunctions.rep_stats(col("text"))
    val probes = repProbes.map { case (id, txt, _) =>
      struct(lit(id).as("doc_id"), lit(txt).as("text"))
    }
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .unionByName(s.range(1).select(
        explode(array(probes: _*)).as("p")).select("p.doc_id", "p.text"))
    docs
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n2"),
        col("st").getItem(1).as("top2"),
        col("st").getItem(2).as("dup2"),
        col("st").getItem(3).as("n3"),
        col("st").getItem(4).as("top3"),
        col("st").getItem(5).as("dup3"))
      .withColumn("rep_ok",
        (col("top2") * 5 <= col("n2") && col("dup3") * 10 <= col("n3"))
          .cast("int"))
      .orderBy("doc_id")
  }

  private lazy val q100Sql =
    s"""WITH docs AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT CAST(v.id AS BIGINT), v.text FROM (VALUES
      |    ${repProbes.map { case (id, _, sql) => s"($id, $sql)" }
        .mkString(",\n    ")}) v(id, text)),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM docs),
      |g AS (SELECT doc_id,
      |    list_transform(range(1, len(toks)),
      |      i -> toks[i] || chr(31) || toks[i+1]) AS g2,
      |    list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]) AS g3
      |  FROM d),
      |st AS (SELECT doc_id,
      |    CAST(len(g2) AS INT) AS n2,
      |    CAST(COALESCE(list_max(list_transform(list_distinct(g2),
      |      u -> len(list_filter(g2, x -> x = u)))), 0) AS INT) AS top2,
      |    CAST(len(g2) - len(list_distinct(g2)) AS INT) AS dup2,
      |    CAST(len(g3) AS INT) AS n3,
      |    CAST(COALESCE(list_max(list_transform(list_distinct(g3),
      |      u -> len(list_filter(g3, x -> x = u)))), 0) AS INT) AS top3,
      |    CAST(len(g3) - len(list_distinct(g3)) AS INT) AS dup3
      |  FROM g)
      |SELECT doc_id, n2, top2, dup2, n3, top3, dup3,
      |  CAST(CASE WHEN top2 * 5 <= n2 AND dup3 * 10 <= n3
      |    THEN 1 ELSE 0 END AS INT) AS rep_ok
      |FROM st ORDER BY doc_id""".stripMargin

  // --- q101: EXACT STRATIFIED TRAIN/VAL/TEST SPLIT + SHARD IDS ----------
  // Training-set assembly needs a split that is (a) deterministic (the
  // same corpus always splits the same way — reproducible runs), and
  // (b) EXACTLY stratified: per language the train/val/test counts are
  // within 1 of the 8/1/1 proportions, not merely in expectation as a
  // plain hash-mod split gives. Exactness needs a per-language rank —
  // and `row_number() OVER (PARTITION BY lang ...)` puts each language
  // on ONE reducer (5 languages = 5 tasks for the whole corpus). The
  // engine op is GroupRank: StableRowId's two-phase construction
  // generalized to grouped ranks, so every language's rank is computed
  // with full-width parallelism. Rank order is a SQL-exact LCG of
  // doc_id (not doc_id itself — ingestion order usually correlates
  // with source/time, which would leak ordering bias into the split).
  // Shards: train rows additionally get a 16-way shard id for
  // downstream parallel readers.
  private val SplitA = 1103515245L
  private val SplitB = 12345L
  private val SplitP = 2147483647L

  private def splitHash: Column =
    (col("doc_id") * lit(SplitA) + lit(SplitB)) % lit(SplitP)

  private def rankedByLang(s: SparkSession, dir: String): DataFrame =
    graft.engine.GroupRank.assign(
      t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .withColumn("h", splitHash),
      "lang", Seq("h", "doc_id"), "rk")

  private def q101(s: SparkSession, dir: String): DataFrame = {
    val slot = (col("rk") - 1) % 10
    rankedByLang(s, dir)
      .select(col("doc_id"), col("lang"), col("h"), col("rk"),
        when(slot < 8, "train").when(slot === 8, "val")
          .otherwise("test").as("split"),
        when(slot < 8, ((col("rk") - 1) % 16).cast("int"))
          .otherwise(lit(-1)).as("shard"))
      .orderBy("doc_id")
  }

  private val q101Sql =
    s"""WITH d AS (SELECT doc_id, lang,
       |    (doc_id * $SplitA + $SplitB) % $SplitP AS h
       |  FROM documents),
       |r AS (SELECT doc_id, lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
       |  FROM d)
       |SELECT doc_id, lang, CAST(h AS BIGINT) AS h, CAST(rk AS BIGINT) AS rk,
       |  CASE WHEN (rk - 1) % 10 < 8 THEN 'train'
       |    WHEN (rk - 1) % 10 = 8 THEN 'val' ELSE 'test' END AS split,
       |  CAST(CASE WHEN (rk - 1) % 10 < 8 THEN (rk - 1) % 16
       |    ELSE -1 END AS INT) AS shard
       |FROM r ORDER BY doc_id""".stripMargin

  // --- q103: EXACT CLASS-BALANCED OVERSAMPLING ---------------------------
  // Minority-class upweighting by replication: every language is
  // brought to EXACTLY the majority language's count (not approximately
  // — each doc gets floor(target/cnt) copies and the first target%cnt
  // docs in deterministic rank order get one more, so per-language
  // totals are all equal to target by construction). The per-language
  // counts frame is tiny (one row per language) and broadcast; the
  // replication itself is explode(sequence(1, reps)) — a narrow,
  // shuffle-free generator, so the operator adds ZERO exchanges beyond
  // GroupRank's own. Rows carry (doc_id, copy) so downstream shuffles
  // (e.g. q96 sequence packing) can treat copies as distinct documents.
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("cnt"))
    val target = counts.agg(max("cnt").as("target"))
    rankedByLang(s, dir)
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(target))
      .withColumn("reps",
        expr("target div cnt") +
          when(col("rk") <= col("target") % col("cnt"), 1L).otherwise(0L))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("reps"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  private val q103Sql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
       |m AS (SELECT MAX(cnt) AS target FROM c),
       |d AS (SELECT doc_id, lang,
       |    (doc_id * $SplitA + $SplitB) % $SplitP AS h
       |  FROM documents),
       |r AS (SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
       |  FROM d),
       |rep AS (SELECT doc_id, r.lang,
       |    (target // cnt) + CASE WHEN rk <= target % cnt THEN 1 ELSE 0 END
       |      AS reps
       |  FROM r JOIN c ON r.lang = c.lang CROSS JOIN m)
       |SELECT doc_id, lang,
       |  CAST(unnest(generate_series(1, CAST(reps AS BIGINT))) AS BIGINT)
       |    AS copy
       |FROM rep ORDER BY doc_id, copy""".stripMargin

  /** Driver-side count-min estimate of `key`'s frequency from q91's
    * register rows: min over sketch rows of the addressed register.
    * One-sided by construction — never an undercount — so a
    * heavy-hitter screen (est >= threshold) has no false negatives. */
  def cmEstimate(registers: Map[(Int, Int), Long], key: Long): Long =
    (0 until CmDepth).map { r =>
      val c = (graft.world.World.h2(key * 31 + r * 131) % CmWidth).toInt
      registers.getOrElse((r, c), 0L)
    }.min

  /** Driver-side HLL estimate from q84's register rows (per group):
    * the standard bias-corrected harmonic mean with the small-range
    * linear-counting correction. Lives here so tests and users share
    * one estimator definition. */
  def hllEstimate(registers: Seq[Int]): Double = {
    val m = registers.length.toDouble
    val alpha = 0.7213 / (1 + 1.079 / m)
    val raw = alpha * m * m / registers.map(r => math.pow(2.0, -r)).sum
    val zeros = registers.count(_ == 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
  }

  private def q84Sql = {
    val langCase =
      s"""CASE WHEN s0 >= s1 AND s0 >= s2 THEN '${markers(0)._1}'
         |     WHEN s1 >= s2 THEN '${markers(1)._1}'
         |     ELSE '${markers(2)._1}' END""".stripMargin
    def scoreSql(ws: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), tk -> tk IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    s"""WITH d AS (SELECT
       |    ${scoreSql(markers(0)._2)} AS s0,
       |    ${scoreSql(markers(1)._2)} AS s1,
       |    ${scoreSql(markers(2)._2)} AS s2,
       |    CAST(COALESCE(list_aggregate(list_transform(list_distinct($shinglesSql), g -> ${code3Sql("g")} * ${code3Sql("g")}), 'sum'), 0) % $MersennePrime AS BIGINT) AS fp
       |  FROM documents),
       |h AS (SELECT $langCase AS lang,
       |    ((fp * 2654435761) % 4294967296) AS h2 FROM d),
       |r AS (SELECT lang, CAST(h2 % $HllBuckets AS INT) AS bucket,
       |    CAST(CASE WHEN h2 // $HllBuckets = 0 THEN ${HllWBits + 1}
       |      ELSE ${HllWBits + 1} - length(printf('%b', h2 // $HllBuckets))
       |      END AS INT) AS rank
       |  FROM h),
       |regs AS (SELECT lang, bucket, MAX(rank) AS register
       |  FROM r GROUP BY 1, 2),
       |spine AS (SELECT l.lang, CAST(b.range AS INT) AS bucket
       |  FROM (VALUES ('${markers(0)._1}'), ('${markers(1)._1}'),
       |    ('${markers(2)._1}')) l(lang), range($HllBuckets) b)
       |SELECT s.lang, s.bucket,
       |  CAST(COALESCE(regs.register, 0) AS INT) AS register
       |FROM spine s LEFT JOIN regs USING (lang, bucket)
       |ORDER BY 1, 2""".stripMargin
  }

  // --- q143: ALPHA-TEMPERATURE DOMAIN MIX — the sub-linear domain
  // reweighting every multilingual/multi-source pretraining mix runs
  // (alpha-sampling: domain weight ∝ n^alpha with alpha < 1, so giant
  // domains are down-sampled and tiny ones kept whole). alpha = 1/2
  // with INTEGER weights w = floor(sqrt(n)) — the stated operator
  // contract, chosen so the whole threshold pipeline is integer-exact:
  // a doc of domain d (n docs, weight w, total weight W over all
  // domains, budget B) is kept iff
  //     hash20(doc_id) * W * n  <  2^20 * B * w
  // which is exactly hash20 < 2^20·B·w/(W·n) in exact rationals —
  // cross-multiplied, so there is NO division, NO float threshold, and
  // the min(1,·) cap is automatic (if the rational exceeds 1 every
  // hash20 passes). The fixture's own `source` column is uniform by
  // construction (useless for a reweighting op), so the domain is the
  // synthetic crawl-host field dom = floor(sqrt(doc_id)) — domain d
  // has ~2d+1 docs, a linear size skew: small domains saturate the
  // cap and are kept whole, large ones genuinely sample.
  //
  // Scale shape: ONE partial-aggregated exchange for the per-domain
  // counts (a tiny frame), the per-domain threshold columns broadcast
  // back into the corpus scan, and the inclusion test is a map-side
  // integer filter — no corpus-sized shuffle anywhere, which is the
  // 100-TB mixing pass. -----------------------------------------------------
  private val MixBudget = 300L

  private def q143(s: SparkSession, dir: String): DataFrame = {
    val dom = floor(sqrt(col("doc_id").cast("double"))).cast("long")
    val docs = t(s, dir, "documents").select(col("doc_id"), dom.as("dom"))
    val counts = docs.groupBy("dom").agg(count(lit(1)).as("n"))
      .select(col("dom"), col("n"),
        floor(sqrt(col("n").cast("double"))).cast("long").as("w"))
    val wtot = counts.agg(sum("w").as("wt"))
    val h20 = pmod(pmod(col("doc_id") * graft.world.World.Knuth,
      lit(4294967296L)), lit(1048576L))
    docs.join(broadcast(counts), Seq("dom"))
      .crossJoin(broadcast(wtot))
      .filter(h20 * col("wt") * col("n") <
        lit(1048576L) * MixBudget * col("w"))
      .select(col("doc_id"), col("dom"))
      .orderBy("doc_id")
  }

  private def q143Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(FLOOR(SQRT(CAST(doc_id AS DOUBLE))) AS BIGINT) AS dom
       |  FROM documents),
       |c AS (SELECT dom, COUNT(*) AS n,
       |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
       |  FROM d GROUP BY 1),
       |wt AS (SELECT SUM(w) AS wt FROM c)
       |SELECT d.doc_id, d.dom
       |FROM d JOIN c USING (dom), wt
       |WHERE ((doc_id * 2654435761) % 4294967296) % 1048576 * wt.wt * c.n
       |  < 1048576 * $MixBudget * c.w
       |ORDER BY doc_id""".stripMargin
}
