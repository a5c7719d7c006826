package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.TopK

/** engine/TopK: bounded per-group top-k via a size-k min-heap buffer.
  * Heap algebra vs brute force under adversarial reduce/merge splits,
  * and the q95 plan contract: partial aggregation BELOW the exchange
  * (only k-sized buffers shuffle — the reason this beats the window
  * formulation on a skewed domain). */
class TopKSpec extends SparkSpec {

  /** Hermetic documents.parquet (the shape q95 reads) — specs never
    * depend on the machine-local /root/testdata. */
  private lazy val dataDir: String = TopKSpec.writeDocsFixture(spark)

  // deterministic pseudo-random stream (LCG; no Math.random in tests
  // either — reproducible failures)
  private def stream(seed: Long, n: Int): Seq[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
      .drop(1).map(_ >>> 16).take(n).toSeq

  private def brute(xs: Seq[Long], k: Int): Seq[Long] =
    xs.sorted(Ordering[Long].reverse).take(k)

  test("reduce-only: top-k of a stream equals the sorted prefix, " +
    "duplicates retained multiset-style") {
    val agg = new TopK.Agg(7)
    for (seed <- 1L to 5L; n <- Seq(1, 6, 7, 8, 50)) {
      val xs = stream(seed, n) ++ stream(seed, math.min(n, 3)) // dups
      val buf = xs.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(buf).toSeq == brute(xs, 7), s"seed=$seed n=$n")
    }
  }

  test("merge: any split of the stream into partial buffers finishes " +
    "identically to the unsplit reduce") {
    val agg = new TopK.Agg(5)
    val xs = stream(42L, 40)
    val whole = agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).toSeq
    for (cut <- Seq(1, 5, 20, 39)) {
      val (a, b) = xs.splitAt(cut)
      val ba = a.foldLeft(agg.zero)(agg.reduce)
      val bb = b.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(agg.merge(ba, bb)).toSeq == whole, s"cut=$cut")
      // and the empty-buffer edges
      assert(agg.finish(agg.merge(agg.zero,
        xs.foldLeft(agg.zero)(agg.reduce))).toSeq == whole)
    }
  }

  test("k=1 degenerates to max") {
    val agg = new TopK.Agg(1)
    val xs = stream(7L, 30)
    assert(agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).toSeq ==
      Seq(xs.max))
  }

  test("pack bounds guard: an id outside [0, 2^32) fails the job " +
    "loudly instead of silently corrupting the ordering") {
    import spark.implicits._
    val bad = Seq((5000000000L, 10L)).toDF("doc_id", "n_chars")
      .select(graft.engine.TopK
        .packDescSmallerId(col("n_chars"), col("doc_id")).as("pk"))
    val e = intercept[Exception](bad.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("TopK pack bounds")),
      s"expected the guard's message, got: $e")
    // and in-range values pass the same projection untouched
    val ok = Seq((7L, 10L)).toDF("doc_id", "n_chars")
      .select(graft.engine.TopK
        .packDescSmallerId(col("n_chars"), col("doc_id")).as("pk"))
      .head().getLong(0)
    assert(ok == (10L << 32) + (0xFFFFFFFFL - 7L))
  }

  test("q95 plan: ObjectHashAggregate partial below ONE exchange; no " +
    "Window/Sort of the full input") {
    val df = graft.SparkEntry.queries("q95_domain_cap")(spark, dataDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).length
    assert(exchanges == 2, // agg + presentation sort
      s"expected agg + sort exchanges only, got $exchanges:\n$plan")
    assert(!plan.contains("Window"), s"window formulation crept in:\n$plan")
    // partial (ObjectHashAggregate) must appear below the exchange:
    // first aggregate in bottom-up string order is the partial one
    assert(plan.contains("ObjectHashAggregate"), s"no object agg:\n$plan")
    val rows = df.collect()
    // cap honored per domain, rank dense from 1
    val bySrc = rows.groupBy(_.getString(1))
    bySrc.foreach { case (src, rs) =>
      assert(rs.length <= 12, s"$src over cap")
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length),
        s"$src ranks not dense")
    }
  }

  test("q143 alpha mix equals the scalar integer replica; the smallest " +
    "domain saturates its cap, the largest genuinely samples") {
    val ids = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    def dom(id: Long): Long = math.floor(math.sqrt(id.toDouble)).toLong
    val byDom = ids.groupBy(dom)
    val w = byDom.view
      .mapValues(v => math.floor(math.sqrt(v.length.toDouble)).toLong).toMap
    val wt = w.values.sum
    def h20(id: Long): Long =
      ((id * graft.world.World.Knuth) % 4294967296L) % 1048576L
    val expected = ids.toSeq.filter { id =>
      val d = dom(id)
      h20(id) * wt * byDom(d).length < 1048576L * 300L * w(d)
    }.map(id => (id, dom(id)))
    val got = SparkEntry.queries("q143_alpha_mix")(spark, dataDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val sizes = byDom.view.mapValues(_.length).toMap
    val kept = got.groupBy(_._2).view.mapValues(_.size).toMap
    val smallest = sizes.minBy { case (d, n) => (n, d) }._1
    assert(kept.getOrElse(smallest, 0) == sizes(smallest),
      "smallest domain should be kept whole (saturated cap)")
    val largest = sizes.maxBy { case (d, n) => (n, -d) }._1
    assert(kept.getOrElse(largest, 0) < sizes(largest),
      "largest domain should be down-sampled")
  }

  test("TopK.PairAgg (double scores) equals the ROW_NUMBER window it " +
    "replaces in q53 — including score ties and negative scores") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // deterministic (group, score, id) rows with engineered ties:
    // score quantized to 1/8ths so equal doubles occur within groups
    val rows = (0 until 4000).map { i =>
      val g = i % 37L
      val score = (((i * 2654435761L) % 33L) - 16L).toDouble / 8.0
      (g, score, i.toLong)
    }
    val df = rows.toDF("g", "sim", "id")
    val w = Window.partitionBy("g").orderBy(col("sim").desc, col("id"))
    val expected = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("g", "rk", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val top3 = udaf(new graft.engine.TopK.PairAgg(3))
    val got = df.groupBy("g").agg(top3(col("sim"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("int").as("rk"), col("col"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected)
  }
}

object TopKSpec {
  /** 400 deterministic docs over 7 domains (Knuth-hash lengths so
    * in-domain n_chars ties occur), written as documents.parquet under
    * a self-deleting temp dir. Shared by PrefixSumSpec. */
  def writeDocsFixture(spark: SparkSession): String = {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_docs_fixture").toString
    (1L to 400L).map { i =>
      val nTok = 5 + ((i * 2654435761L) % 41L).toInt
      (i, s"src${i % 7}", 10L + (i * 40503L) % 90L,
        Seq.fill(nTok)("w").mkString(" "))
    }.toDF("doc_id", "source", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
