package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, min, when}
import graft.streaming.StreamDedup
import graft.streaming.StreamDedup.Doc

/** Sessionization test event (top-level: Encoders need a public
  * non-local case class). */
case class SessEv(user_id: Long, ts: Timestamp)

/** Streaming audio clip: opaque s16le payload + event time. */
case class ClipEv(audio_id: Long, bytes: Array[Byte], ts: Timestamp)

/** Streaming document with a source domain (domain-cap input). */
case class SrcDoc(doc_id: Long, text: String, source: String,
    ts: Timestamp)

/** Streaming sized event (quantile-sketch input): group + a positive
  * magnitude (doc length, payload bytes, latency micros, ...). */
case class SizeEv(source: String, n_chars: Long, ts: Timestamp)

/** Streaming video: opaque multi-frame f32 payload + event time. */
case class VidEv(video_id: Long, bytes: Array[Byte], fmt: String,
    ts: Timestamp)

/** Streaming image tile (focal halo-assembly input). */
case class FTile(tile_id: Int, bytes: Array[Byte], fmt: String,
    ts: Timestamp)

/** Streaming funnel event (q125's input shape). */
case class FunnelEv(user_id: Long, event_type: String, ts: Timestamp)

/** Stream-stream join input row (impression or click). */
case class KeyEv(key: Long, ts: Timestamp)

/** Structured Streaming surface: incremental exact dedup (state
  * bounded by watermark), near-dup flagging with custom per-bucket
  * state that PERSISTS ACROSS MICRO-BATCHES, and watermarked quality
  * windows — all driven through MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {

  // offset from a modern base: the initial watermark is epoch 0, and a
  // row whose event time IS the watermark is treated as late
  private val Base = 1700000400000L // 10-minute-aligned
  private def ts(min: Int): Timestamp = new Timestamp(Base + min * 60000L)

  test("exact dedup: repeated payloads are dropped ACROSS micro-batches " +
    "(engine dedup state, not per-batch distinct)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = StreamDedup.exactDedup(in.toDF())
      .writeStream.format("memory").queryName("g_exact")
      .outputMode("append").start()
    try {
      in.addData(Doc(1, "alpha beta gamma", ts(0)), Doc(2, "delta", ts(1)))
      q.processAllAvailable()
      // doc 3 duplicates doc 1 from the PREVIOUS batch
      in.addData(Doc(3, "alpha beta gamma", ts(2)), Doc(4, "epsilon", ts(3)))
      q.processAllAvailable()
      val got = spark.table("g_exact").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("near-dup flagging: per-bucket signature state persists across " +
    "micro-batches; dups point at the earliest keeper") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val text1 = "the quick brown fox jumps over the lazy dog"
    val text2 = "spark vectors stream through watermarked windows"
    val in = MemoryStream[Doc]
    val q = StreamDedup.nearDupVerdicts(in.toDF())
      .writeStream.format("memory").queryName("g_near")
      .outputMode("append").start()
    try {
      // batch 1: 10 and 11 share a text (same signatures, same bucket)
      in.addData(Doc(10, text1, ts(0)), Doc(11, text1, ts(1)),
        Doc(12, text2, ts(2)))
      q.processAllAvailable()
      // batch 2: 13 duplicates text1 — must point at 10 (state carried
      // over); 14 is new; 15 is too short for any signature
      in.addData(Doc(13, text1, ts(3)), Doc(14, "wholly novel words and tokens", ts(4)),
        Doc(15, "ab", ts(5)))
      q.processAllAvailable()
      val got = spark.table("g_near")
        .select("doc_id", "dup_of")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(10L) == -1L, "first of its signature is the keeper")
      assert(got(11L) == 10L, "same-batch dup points at the keeper")
      assert(got(12L) == -1L)
      assert(got(13L) == 10L, "cross-batch dup points at the batch-1 keeper")
      assert(got(14L) == -1L)
      assert(got(15L) == -1L, "unsigned (too-short) docs pass through")
      // horizon expiry: events ~50h ahead push the watermark (24h
      // delay) past the bucket's lease (last event + 24h horizon); the
      // idle bucket's state times out in the NEXT batch (timeouts fire
      // for groups without data), after which the same text is a
      // KEEPER again — horizon-scoped dedup, and the proof that state
      // does not live forever
      in.addData(Doc(16, "completely different filler words", ts(60 * 50)))
      q.processAllAvailable()
      in.addData(Doc(17, "another unrelated batch of text", ts(60 * 50 + 1)))
      q.processAllAvailable()
      in.addData(Doc(18, text1, ts(60 * 50 + 2)))
      q.processAllAvailable()
      val after = spark.table("g_near").select("doc_id", "dup_of")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after(18L) == -1L,
        "bucket state must expire one horizon past the watermark")
    } finally q.stop()
  }

  test("near-dup keeper state is pruned per keeper inside an ACTIVE " +
    "bucket: a keeper older than the horizon stops matching even " +
    "though the bucket keeps receiving data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val textX = "the quick brown fox jumps over the lazy dog"
    val in = MemoryStream[Doc]
    val q = StreamDedup.nearDupVerdicts(in.toDF())
      .writeStream.format("memory").queryName("g_prune")
      .outputMode("append").start()
    try {
      // A keeps; B (20h later, inside the horizon) is a dup AND
      // extends the bucket's lease to 44h — the bucket never idles out
      in.addData(Doc(30, textX, ts(0)))
      q.processAllAvailable()
      in.addData(Doc(31, textX, ts(20 * 60)))
      q.processAllAvailable()
      // an unrelated doc at 49h pushes the WATERMARK to 25h — past
      // keeper A's ts + 24h horizon, but NOT past the bucket's 44h
      // lease, so only per-keeper pruning can retire A
      in.addData(Doc(32, "entirely unrelated payload of words", ts(49 * 60)))
      q.processAllAvailable()
      in.addData(Doc(33, textX, ts(49 * 60 + 1)))
      q.processAllAvailable()
      val got = spark.table("g_prune").select("doc_id", "dup_of")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(30L) == -1L)
      assert(got(31L) == 30L, "in-horizon dup points at the keeper")
      assert(got(33L) == -1L,
        "the aged-out keeper must be pruned from the active bucket — " +
          "doc 33 re-keeps instead of matching 20h-stale state")
    } finally q.stop()
  }

  test("streaming phash near-dup (banded pigeonhole, q77 incremental): " +
    "exact recall vs brute force across micro-batches, min-prior " +
    "verdict after the per-image bucket reduce, horizon expiry") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val P = 0x0123456789ABCDEFL
    val batch1 = Seq(
      StreamDedup.Img(1, P, ts(0)),
      // 2 bit flips in bands 0 and 1: a same-batch dup of img 1,
      // findable only via the untouched bands 2,3
      StreamDedup.Img(2, P ^ ((1L << 5) | (1L << 20)), ts(1)),
      StreamDedup.Img(3, ~P, ts(2)))
    val batch2 = Seq(
      // hamming 1 vs img 1 (cross-micro-batch), 3 vs img 2 — the
      // reduced verdict must name the SMALLEST matching prior (1)
      StreamDedup.Img(4, P ^ 1L, ts(3)),
      // sign-bit flip vs img 3: found via the top band on negatives
      StreamDedup.Img(5, (~P) ^ (1L << 63), ts(4)),
      StreamDedup.Img(6, 0x5555555555555555L, ts(5)))
    val in = MemoryStream[StreamDedup.Img]
    val q = StreamDedup.phashDupVerdicts(in.toDF())
      .writeStream.format("memory").queryName("g_phash")
      .outputMode("append").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      // consumer-side reduce: per image, the smallest non-(-1) dup_of
      def reduced(): Map[Long, Long] = spark.table("g_phash")
        .groupBy("image_id")
        .agg(min(when(col("dup_of") =!= -1L, col("dup_of"))).as("d"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      // brute-force expectation over all priors (what batch q77 finds)
      val all = batch1 ++ batch2
      val want = all.map { m =>
        m.image_id -> all.iterator
          .filter(p => p.image_id < m.image_id &&
            java.lang.Long.bitCount(p.phash ^ m.phash) <= 3)
          .map(_.image_id).minOption.getOrElse(-1L)
      }.toMap
      assert(want.values.count(_ != -1L) == 3,
        "fixture must carry exactly the three crafted matches " +
          "(2->1 same-batch, 4->1 cross-batch, 5->3 sign-bit band)")
      assert(reduced() == want)
      // horizon expiry: push the watermark one horizon past every
      // prior, then repeat img 1's exact phash — it must re-keep
      in.addData(StreamDedup.Img(7, 0x00FF00FF00FF00FFL, ts(60 * 50)))
      q.processAllAvailable()
      in.addData(StreamDedup.Img(8, 0x0F0F0F0F0F0F0F0FL, ts(60 * 50 + 1)))
      q.processAllAvailable()
      in.addData(StreamDedup.Img(9, P, ts(60 * 50 + 2)))
      q.processAllAvailable()
      assert(reduced()(9L) == -1L,
        "state must expire one horizon past the watermark")
    } finally q.stop()
  }

  test("streaming sessionization (session_window) matches the batch " +
    "q60 gap rule on a fixture away from the exact-gap boundary") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[SessEv]
    val q = StreamDedup.sessionize(in.toDF())
      .writeStream.format("memory").queryName("g_sess")
      .outputMode("append").start()
    try {
      // user 1: 0,10,20 (one session), 60,65 (40-min gap -> new
      // session); user 2: lone event at 5
      in.addData(SessEv(1, ts(0)), SessEv(1, ts(10)), SessEv(1, ts(20)),
        SessEv(1, ts(60)), SessEv(1, ts(65)), SessEv(2, ts(5)))
      q.processAllAvailable()
      // a far-future event closes the watermark over every session
      in.addData(SessEv(99, ts(600)))
      q.processAllAvailable()
      val got = spark.table("g_sess")
        .collect().map { r =>
          (r.getLong(0), (r.getTimestamp(1).getTime - Base) / 60000,
            (r.getTimestamp(2).getTime - Base) / 60000, r.getLong(3))
        }.toSet
      // exactly the sessions the batch q60 rule (gap > 30 min) yields:
      // t_start/t_end are first/last EVENT times, not window edges
      assert(got == Set((1L, 0L, 20L, 3L), (1L, 60L, 65L, 2L),
        (2L, 5L, 5L, 1L)),
        s"got $got")
    } finally q.stop()
  }

  test("stream-stream interval join (attribution): matches the batch " +
    "predicate on in-watermark rows; late rows are dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[KeyEv]
    val clicks = MemoryStream[KeyEv]
    val q = StreamDedup.attributionJoin(imps.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("g_attr")
      .outputMode("append").start()
    def got(): Set[(Long, Long, Long)] = spark.table("g_attr").collect()
      .map { r =>
        (r.getLong(0), (r.getTimestamp(1).getTime - Base) / 60000,
          (r.getTimestamp(2).getTime - Base) / 60000)
      }.toSet
    try {
      // batch 1, deliberately out of order within the horizon:
      // key 1 impressions at 0 and 30; clicks at 5 (matches 0 only:
      // 5 <= 0+10, 5 < 30) and 12 (matches NEITHER: > 0+10, < 30);
      // key 2 impression 5 / click 6 (match)
      imps.addData(KeyEv(1, ts(0)), KeyEv(1, ts(30)), KeyEv(2, ts(5)))
      clicks.addData(KeyEv(1, ts(12)), KeyEv(1, ts(5)), KeyEv(2, ts(6)))
      q.processAllAvailable()
      assert(got() == Set((1L, 0L, 5L), (2L, 5L, 6L)), s"batch1: ${got()}")

      // batch 2: the click at 35 completes impression 30 (35 <= 40),
      // and disjoint far-future rows push both watermarks to ~280
      imps.addData(KeyEv(98, ts(300)))
      clicks.addData(KeyEv(1, ts(35)), KeyEv(99, ts(300)))
      q.processAllAvailable()
      assert(got() == Set((1L, 0L, 5L), (2L, 5L, 6L), (1L, 30L, 35L)),
        s"batch2: ${got()}")

      // batch 3: rows far behind the watermark (a click at 2 that would
      // have matched impression 0, and a brand-new matching pair at 50)
      // are DROPPED — the state for that horizon is already evicted
      clicks.addData(KeyEv(1, ts(2)))
      imps.addData(KeyEv(3, ts(50)))
      clicks.addData(KeyEv(3, ts(55)))
      q.processAllAvailable()
      assert(got() == Set((1L, 0L, 5L), (2L, 5L, 6L), (1L, 30L, 35L)),
        s"late rows must not join: ${got()}")
    } finally q.stop()

    // cross-check batches 1-2 against the identical BATCH predicate
    val bi = Seq(KeyEv(1, ts(0)), KeyEv(1, ts(30)), KeyEv(2, ts(5)),
      KeyEv(98, ts(300))).toDF().alias("i")
    val bc = Seq(KeyEv(1, ts(12)), KeyEv(1, ts(5)), KeyEv(2, ts(6)),
      KeyEv(1, ts(35)), KeyEv(99, ts(300))).toDF().alias("c")
    val batch = bi.join(bc, org.apache.spark.sql.functions.expr(
        "i.key = c.key AND c.ts >= i.ts AND " +
          "c.ts <= i.ts + INTERVAL '10 minutes'"))
      .select(col("i.key"), col("i.ts"), col("c.ts"))
      .collect().map { r =>
        (r.getLong(0), (r.getTimestamp(1).getTime - Base) / 60000,
          (r.getTimestamp(2).getTime - Base) / 60000)
      }.toSet
    assert(batch == Set((1L, 0L, 5L), (2L, 5L, 6L), (1L, 30L, 35L)),
      s"batch replica: $batch")
  }

  test("streaming funnel folds out-of-order events in event-time order " +
    "and converges to the batch q125 rows, emitting incremental progress") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // u1 completes (purchase@3 is before the click and must NOT count);
    // u2 clicks without viewing (steps 0); u3's click ties its view's
    // timestamp (strictly-after rule: steps 1); u4's purchase ties its
    // click (steps 2)
    val evs = Seq(
      FunnelEv(1, "view", ts(0)), FunnelEv(1, "click", ts(5)),
      FunnelEv(1, "purchase", ts(3)), FunnelEv(1, "purchase", ts(65)),
      FunnelEv(2, "click", ts(1)), FunnelEv(2, "purchase", ts(2)),
      FunnelEv(3, "view", ts(10)), FunnelEv(3, "click", ts(10)),
      FunnelEv(4, "view", ts(8)), FunnelEv(4, "click", ts(12)),
      FunnelEv(4, "purchase", ts(12)))
    val in = MemoryStream[FunnelEv]
    val q = StreamDedup.funnelByUser(in.toDF())
      .writeStream.format("memory").queryName("g_funnel")
      .outputMode("update").start()
    try {
      // deliberately disordered arrival — but WITHIN the watermark: u1's
      // click and too-early purchase land a batch before its view (the
      // qualifying purchase@65 rides the second batch, so the max event
      // time seen after batch 1 is only ts(10) and nothing is late)
      in.addData(FunnelEv(1, "click", ts(5)), FunnelEv(1, "purchase", ts(3)),
        FunnelEv(2, "click", ts(1)), FunnelEv(3, "view", ts(10)),
        FunnelEv(4, "view", ts(8)))
      q.processAllAvailable()
      in.addData(FunnelEv(1, "view", ts(0)), FunnelEv(1, "purchase", ts(65)),
        FunnelEv(2, "purchase", ts(2)), FunnelEv(3, "click", ts(10)),
        FunnelEv(4, "click", ts(12)), FunnelEv(4, "purchase", ts(12)))
      q.processAllAvailable()
      // watermark dance: noise events (filtered from the funnel but
      // advancing the source watermark) ripen the buffers in two stages,
      // timeouts firing on the batch AFTER each advance
      Seq(70, 71, 130, 131).foreach { m =>
        in.addData(FunnelEv(99, "noise", ts(m)))
        q.processAllAvailable()
      }
      val snaps = spark.table("g_funnel")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val finals = snaps.groupBy(_._1).map { case (u, rows) =>
        u -> rows.maxBy(_._2)
      }
      // the batch oracle on the identical events
      val dir = graft.util.TempDirs.create("graft_funnel").toString
      evs.toDF("user_id", "event_type", "ts").repartition(3)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("q125_funnel")(spark, dir)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))).toMap
      assert(finals.keySet == batch.keySet, s"user sets differ: $finals")
      finals.foreach { case (u, row) =>
        assert(row == batch(u), s"user $u: stream $row != batch ${batch(u)}")
      }
      // incrementality: u1 visibly progressed through a steps-2 snapshot
      // (view/click folded at the first watermark stage, the qualifying
      // purchase still buffered) before completing
      assert(snaps.exists(s => s._1 == 1L && s._2 == 2),
        s"no intermediate steps-2 snapshot for u1: ${snaps.toSeq}")
      assert(snaps.exists(s => s._1 == 1L && s._2 == 3), "u1 never completed")
      // noise user never entered the funnel
      assert(!snaps.exists(_._1 == 99L), "filtered event type leaked")
    } finally q.stop()
  }

  test("streaming stay-point detection folds shuffled pings in event-time " +
    "order and converges to exactly the batch q181 stays") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.{PingEv, StreamStay}
    import graft.world.World
    // the exact q181 walk, computed scalar-side (the fixture formulas)
    val pings = (for (e <- 0 until 20) yield {
      var x = 500L; var y = 500L
      (0 until 100).map { t =>
        val i = e * 100L + t
        if (t > 0) {
          val jump = World.h2(i * 19 + 2) % 17 == 0
          x += World.h2(i * 13 + 1) % 7 - 3 +
            (if (jump) World.h2(i * 23 + 3) % 81 - 40 else 0L)
          y += World.h2(i * 29 + 4) % 7 - 3 +
            (if (jump) World.h2(i * 31 + 5) % 81 - 40 else 0L)
        }
        PingEv(e, new Timestamp(Base + t * 1000L), x, y)
      }
    }).flatten
    val in = MemoryStream[PingEv]
    val q = StreamStay.stayPoints(in.toDF())
      .writeStream.format("memory").queryName("g_stays")
      .outputMode("append").start()
    try {
      // shuffled arrival (seeded), all within the 10-minute watermark
      // slack of the 100-second tick range — nothing is late
      val shuffled = new scala.util.Random(5).shuffle(pings)
      val (h1, h2batch) = shuffled.splitAt(shuffled.size / 2)
      in.addData(h1: _*)
      q.processAllAvailable()
      in.addData(h2batch: _*)
      q.processAllAvailable()
      // watermark dance: two sentinel stages ripen the buffers, then
      // fire the open-segment timeouts (sentinel entity's own 1-ping
      // segment stays silent: n < 5)
      Seq(5000, 5001, 9000, 9001).foreach { sec =>
        in.addData(PingEv(999, new Timestamp(Base + sec * 1000L), 0, 0))
        q.processAllAvailable()
      }
      val got = spark.table("g_stays").as[graft.streaming.StayRow]
        .collect().map(r => (r.e, r.t0 - Base / 1000, r.t1 - Base / 1000,
          r.n, r.sx, r.sy)).toSet
      val batch = SparkEntry
        .queries("q181_staypoints")(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(5), r.getLong(6),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got == batch,
        s"stream stays != batch q181: only-stream=${got -- batch} " +
          s"only-batch=${batch -- got}")
    } finally q.stop()
  }

  test("streaming co-location join (stream-stream spatial interval join) " +
    "finds exactly the batch q182 contacts from shuffled dual streams") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.{PingEv, StreamColocate}
    import graft.world.World
    // the q182 walk: scattered starts, 20 entities x 100 ticks
    val pings = (for (e <- 0 until 20) yield {
      var x = 1500L + World.h2(e * 1009L + 7) % 128
      var y = 1500L + World.h2(e * 1013L + 8) % 128
      (0 until 100).map { t =>
        val i = e * 100L + t
        if (t > 0) {
          val jump = World.h2(i * 19 + 2) % 17 == 0
          x += World.h2(i * 13 + 1) % 7 - 3 +
            (if (jump) World.h2(i * 23 + 3) % 81 - 40 else 0L)
          y += World.h2(i * 29 + 4) % 7 - 3 +
            (if (jump) World.h2(i * 31 + 5) % 81 - 40 else 0L)
        }
        PingEv(e, new Timestamp(Base + t * 1000L), x, y)
      }
    }).flatten
    val rnd = new scala.util.Random(11)
    val inA = MemoryStream[PingEv]
    val inB = MemoryStream[PingEv]
    val q = StreamColocate.contacts(inA.toDF(), inB.toDF())
      .writeStream.format("memory").queryName("g_coloc")
      .outputMode("append").start()
    try {
      val fa = rnd.shuffle(pings.filter(_.e < 10))
      val fb = rnd.shuffle(pings.filter(_.e >= 10))
      inA.addData(fa.take(500): _*); inB.addData(fb.take(500): _*)
      q.processAllAvailable()
      inA.addData(fa.drop(500): _*); inB.addData(fb.drop(500): _*)
      q.processAllAvailable()
      val got = spark.table("g_coloc")
        .groupBy("a_e", "b_e")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.min(
            (col("a_ts").cast("long") - Base / 1000)).as("first_t"),
          org.apache.spark.sql.functions.sum("d2").as("sum_d2"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val batch = SparkEntry
        .queries("q182_colocation_join")(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == batch,
        s"stream contacts != batch q182: only-stream=${got -- batch} " +
          s"only-batch=${batch -- got}")
    } finally q.stop()
  }

  test("watermarked quality windows aggregate per event-time window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val long = ("tok " * 25).trim // 25 tokens, quality-passing
    val in = MemoryStream[Doc]
    // complete mode: emit all windows each batch (no watermark wait)
    val q = StreamDedup.qualityByWindow(in.toDF())
      .writeStream.format("memory").queryName("g_qual")
      .outputMode("complete").start()
    try {
      in.addData(Doc(1, long, ts(1)), Doc(2, "short text", ts(2)),
        Doc(3, long, ts(11)))
      q.processAllAvailable()
      val got = spark.table("g_qual")
        .collect().map(r => (r.getTimestamp(0).getTime - Base) / 60000 ->
          (r.getLong(1), r.getDouble(3))).toMap
      assert(got.size == 2, "two 10-minute windows")
      assert(got(0L) == (2L, 0.5), "window 0: 2 docs, half quality-passing")
      assert(got(10L) == (1L, 1.0), "window 10: 1 doc, passing")
    } finally q.stop()
  }

  test("streaming domain cap (TopK heap as streaming agg state, q95 " +
    "incremental): per (window, source) leaderboard bounded at k, " +
    "updated across micro-batches, ties to the smaller doc_id") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def doc(id: Long, len: Int, src: String, min: Int) =
      SrcDoc(id, "x" * len, src, ts(min))
    val in = MemoryStream[SrcDoc]
    val q = StreamDedup.domainCapByWindow(in.toDF(), k = 2)
      .writeStream.format("memory").queryName("g_domcap")
      .outputMode("complete").start()
    try {
      in.addData(doc(1, 50, "a", 1), doc(2, 80, "a", 2),
        doc(3, 30, "b", 3), doc(10, 40, "a", 11))
      q.processAllAvailable()
      // a later micro-batch evicts doc 1 from window-0/a (len 70 > 50)
      // and ties doc 4 vs doc 7 at len 70 — smaller id wins rank 1
      in.addData(doc(7, 70, "a", 4), doc(4, 70, "a", 5))
      q.processAllAvailable()
      val got = spark.table("g_domcap").collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getString(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4)))
        .toMap
      assert(got(0L, "a", 1) == (2L, 80L), "window 0 src a rank 1")
      assert(got(0L, "a", 2) == (4L, 70L),
        "tie at len 70: smaller doc_id outranks; doc 1 evicted")
      assert(got(0L, "b", 1) == (3L, 30L))
      assert(got(10L, "a", 1) == (10L, 40L), "second window independent")
      assert(got.size == 4, s"exactly k-capped rows, got $got")
    } finally q.stop()
  }

  test("streaming focal stencil (stateful halo assembly, q93 " +
    "incremental): a tile emits exactly when its LAST neighbor lands, " +
    "out-of-order multi-batch arrival + a duplicate source converge to " +
    "the batch q93 rows exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sp = graft.world.World.tiny // 4x6 = 24 tiles of 16x16
    val tiles = graft.world.World.tilesDF(spark, sp).collect()
      .map(r => FTile(r.getInt(7), r.getAs[Array[Byte]](1), r.getString(4),
        ts(1)))
      .sortBy(t => (t.tile_id * 40503) % 64) // scrambled feed order
    val in = MemoryStream[FTile]
    val q = graft.streaming.StreamFocal.focalByTile(in.toDF(), sp)
      .writeStream.format("memory").queryName("g_focal")
      .outputMode("append").start()
    try {
      // batch 1: everything except tile 8 — its 3x3 tile neighborhood
      // (9 tiles) cannot complete, every other destination can
      in.addData(tiles.filterNot(_.tile_id == 8).toIndexedSeq)
      q.processAllAvailable()
      val partial = spark.table("g_focal").count()
      assert(partial == (24 - 9) * 256L,
        s"only destinations not adjacent to tile 8 may emit: $partial")
      // batch 2: the missing tile + a DUPLICATE of tile 7 (first
      // contribution wins; still-open groups must not double-count it)
      in.addData(tiles.find(_.tile_id == 8).get,
        tiles.find(_.tile_id == 7).get)
      q.processAllAvailable()
      val got = spark.table("g_focal").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getInt(3)))
      assert(got.length == sp.nCells.toInt, "every cell exactly once")
      val want = graft.queries.Spatial.focalHalo(spark, sp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getInt(3)))
        .toMap
      got.foreach { case (id, v) =>
        assert(want(id) == v, s"stencil mismatch at cell $id")
      }
    } finally q.stop()
  }

  test("streaming focal stencil: a never-completing neighborhood is " +
    "evicted at the horizon WITHOUT emitting a partial window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sp = graft.world.World.tiny
    val tiles = graft.world.World.tilesDF(spark, sp).collect()
      .map(r => FTile(r.getInt(7), r.getAs[Array[Byte]](1), r.getString(4),
        ts(1)))
    val in = MemoryStream[FTile]
    val q = graft.streaming.StreamFocal.focalByTile(in.toDF(), sp,
      watermark = "0 seconds", horizonMs = 60000L)
      .writeStream.format("memory").queryName("g_focal_evict")
      .outputMode("append").start()
    try {
      // tile 0 alone: its own destination needs 3 more neighbors
      in.addData(tiles.find(_.tile_id == 0).get)
      q.processAllAvailable()
      // far-future re-send advances the watermark way past the horizon
      // (duplicate contributions are ignored, the EVENT time counts);
      // one more trigger lets the due timeouts fire
      in.addData(tiles.find(_.tile_id == 0).get.copy(ts = ts(600)))
      q.processAllAvailable()
      in.addData(tiles.find(_.tile_id == 0).get.copy(ts = ts(601)))
      q.processAllAvailable()
      assert(spark.table("g_focal_evict").isEmpty,
        "no partial stencil may ever be emitted")
    } finally q.stop()
  }

  test("streaming audio near-dup (fingerprint through the banded phash " +
    "machinery, q83 incremental): verdicts equal the brute-force " +
    "min-prior rule over batch fingerprints, incl. variant-to-variant") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val n = graft.engine.Multimodal.AudioSamples
    def clip(t: Int, variant: Boolean): Array[Byte] =
      graft.core.Codec.encodeS16(Array.tabulate(n) { i =>
        val v = graft.world.World.aud(t, i) +
          (if (variant) graft.world.World.audPerturb(t, i) else 0)
        v.toShort
      })
    def fp(bytes: Array[Byte]): Long =
      graft.sql.AudioFingerprint.eval(bytes, n / 64, 64)
    // stream ids: base clip t -> id 2t, its variant -> id 2t+1 (so the
    // earlier base is always the smaller id = the expected keeper)
    val nClips = 6
    val in = MemoryStream[ClipEv]
    val q = StreamDedup.audioDupVerdicts(in.toDF(), n)
      .writeStream.format("memory").queryName("g_audio_dup")
      .outputMode("append").start()
    try {
      in.addData((0 until nClips).map(t => ClipEv(2L * t, clip(t, false), ts(t))): _*)
      q.processAllAvailable()
      // variants arrive in a LATER micro-batch: matching crosses batches
      in.addData((0 until nClips).map(t =>
        ClipEv(2L * t + 1, clip(t, true), ts(10 + t))): _*)
      q.processAllAvailable()
      val reduced = spark.table("g_audio_dup")
        .groupBy("audio_id")
        .agg(min(when(col("dup_of") =!= -1L, col("dup_of"))).as("dup_of"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      // brute-force oracle over the exact processing order (bases'
      // batch first; within a batch the bucket judge sorts by id):
      // every remembered prior within hamming 3 is a candidate — dups
      // included, so a variant may match an EARLIER VARIANT with a
      // smaller id than its own base (state keeps everything; that is
      // what makes pigeonhole recall exact)
      val fps = (0 until 2 * nClips).map(id =>
        id.toLong -> fp(clip(id / 2, id % 2 == 1))).toMap
      def processedBefore(p: Long, id: Long): Boolean =
        (p % 2 < id % 2) || (p % 2 == id % 2 && p < id)
      val expected = fps.keys.map { id =>
        id -> fps.keys.filter(p => processedBefore(p, id) &&
            java.lang.Long.bitCount(fps(p) ^ fps(id)) <= 3)
          .minOption.getOrElse(-1L)
      }.toMap
      assert(reduced == expected, s"got $reduced\nwant $expected")
      // the slice must exercise keeps, base matches AND a
      // variant-to-earlier-variant match (id 11 -> 1 at this fixture)
      assert(expected.values.exists(_ == -1L) &&
        expected.exists { case (id, d) => d != -1L && d % 2 == 1 },
        s"degenerate fixture slice: $expected")
    } finally q.stop()
  }

  test("streaming video near-dup (frame-aligned banded buckets, q85 " +
    "incremental): the >=2-of-3 distinct-frame vote over the verdict " +
    "stream equals the batch rule, matching crosses micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val spec = graft.world.World.tiny
    val nf = graft.engine.Multimodal.VideoFrames
    val frames = 0 until nf by 4
    def framePx(t: Int, f: Int, variant: Boolean): Array[Float] =
      Array.tabulate(spec.pixPerTile) { p =>
        val id = spec.cellId(t, p)
        (graft.world.World.vid(id, f) +
          (if (variant) graft.world.World.vidPerturb(id, f) else 0.0)).toFloat
      }
    def payload(t: Int, variant: Boolean): Array[Byte] =
      graft.core.Codec.encodeF32(
        Array.tabulate(nf)(f => framePx(t, f, variant)))
    def ph(t: Int, variant: Boolean, f: Int): Long =
      graft.core.Codec.phash(framePx(t, f, variant), spec.tile, spec.tile)
    // stream ids: base tile t -> id 2t, its variant -> id 2t+1; tiles
    // 0..7 are a non-degenerate slice (6 variants pass the vote, 2 fail)
    val nVids = 8
    val in = MemoryStream[VidEv]
    val q = StreamDedup.videoDupVerdicts(in.toDF(), nf, 4,
        spec.pixPerTile, spec.tile, spec.tile)
      .writeStream.format("memory").queryName("g_video_dup")
      .outputMode("append").start()
    try {
      in.addData((0 until nVids).map(t =>
        VidEv(2L * t, payload(t, false), "f32", ts(t))): _*)
      q.processAllAvailable()
      // variants arrive in a LATER micro-batch: matching crosses batches
      in.addData((0 until nVids).map(t =>
        VidEv(2L * t + 1, payload(t, true), "f32", ts(10 + t))): _*)
      q.processAllAvailable()
      // the consumer-side vote: video V is a near-dup of P when
      // verdicts for >=2 DISTINCT sampled frames carry dup_of = P
      val votes = spark.table("g_video_dup")
        .filter(col("dup_of") =!= -1L)
        .groupBy("video_id", "dup_of")
        .agg(org.apache.spark.sql.functions.countDistinct("frame_idx")
          .as("frames_matched"))
        .filter(col("frames_matched") >= 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val expected = (0 until nVids).flatMap { t =>
        val fm = frames.count(f => java.lang.Long.bitCount(
          ph(t, false, f) ^ ph(t, true, f)) <= 3)
        if (fm >= 2) Some((2L * t + 1, 2L * t, fm.toLong)) else None
      }.toSet
      assert(votes == expected, s"got $votes\nwant $expected")
      assert(expected.nonEmpty && expected.size < nVids,
        s"degenerate fixture slice: $expected")
    } finally q.stop()
  }

  test("streaming audio windowed stats match the batch AudioWindowStats " +
    "recompute per event-time window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val nS = 512
    val wS = 256
    def clip(seed: Long): Array[Byte] = graft.core.Codec.encodeS16(
      Array.tabulate(nS)(i => graft.world.World.aud(seed, i).toShort))
    def stats(seed: Long): (Long, Int) = {
      val b = clip(seed)
      val ws = (0 until nS / wS)
        .map(w => graft.sql.AudioWindowStats.eval(b, w, wS))
      (ws.map(_.getLong(0)).sum, ws.map(_.getInt(1)).max)
    }
    val in = MemoryStream[ClipEv]
    val q = StreamDedup.audioStatsByWindow(in.toDF(), nS, wS)
      .writeStream.format("memory").queryName("g_audio")
      .outputMode("complete").start()
    try {
      in.addData(ClipEv(1, clip(1), ts(1)), ClipEv(2, clip(2), ts(3)),
        ClipEv(3, clip(3), ts(12)))
      q.processAllAvailable()
      val got = spark.table("g_audio")
        .collect().map(r => (r.getTimestamp(0).getTime - Base) / 60000 ->
          (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
      val (e1, p1) = stats(1); val (e2, p2) = stats(2); val (e3, p3) = stats(3)
      assert(got == Map(
        0L -> (2L, e1 + e2, math.max(p1, p2)),
        10L -> (1L, e3, p3)), s"got $got")
    } finally q.stop()
  }

  test("streaming count-min registers match the batch q91 addressing " +
    "per event-time window, accumulating ACROSS micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.world.World.h2
    val in = MemoryStream[SessEv]
    val q = StreamDedup.cmSketchByWindow(in.toDF(), "user_id")
      .writeStream.format("memory").queryName("g_cm")
      .outputMode("complete").start()
    try {
      // two windows; window 0's counts build across TWO batches
      in.addData(SessEv(7, ts(1)), SessEv(7, ts(2)), SessEv(13, ts(4)))
      q.processAllAvailable()
      in.addData(SessEv(7, ts(8)), SessEv(99, ts(12)), SessEv(7, ts(13)))
      q.processAllAvailable()
      val got = spark.table("g_cm").collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
      // batch recompute: the same World.h2 addressing per window
      val events = Seq((7L, 0L), (7L, 0L), (13L, 0L), (7L, 0L),
        (99L, 10L), (7L, 10L))
      val want = events
        .flatMap { case (u, w) =>
          (0 until 4).map(r => (w, r, (h2(u * 31 + r * 131) % 64).toInt))
        }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"got $got\nwant $want")
      // estimator over window 0's registers: user 7 appeared 3x there,
      // and the one-sided guarantee holds per window
      val w0 = got.collect { case ((0L, r, c), n) => (r, c) -> n }.toMap
      assert(graft.queries.TextOps.cmEstimate(w0, 7L) >= 3L)
      assert(graft.queries.TextOps.cmEstimate(w0, 13L) >= 1L)
    } finally q.stop()
  }

  test("streaming quantile-sketch registers match the batch q110 bucket " +
    "formula per (window, group), accumulate across micro-batches, drop " +
    "non-positive values, and the 12.5% estimator bound holds per window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[SizeEv]
    val q = StreamDedup.qsketchByWindow(in.toDF(), "n_chars", "source")
      .writeStream.format("memory").queryName("g_qsk")
      .outputMode("complete").start()
    // independent re-derivation of the bucket rule (NOT qsketchBucket —
    // a second reading of "bit length + next 3 bits" guards the shared
    // builder itself)
    def bk(v: Long): Int = {
      val b = java.lang.Long.toBinaryString(v)
      b.length * 8 +
        Integer.parseInt(b.padTo(4, '0').slice(1, 4).mkString, 2)
    }
    try {
      // window 0 (min 0-9) builds across TWO batches; window 1 gets one
      // group; a zero-magnitude event must vanish (bin(0) has no lead 1)
      in.addData(SizeEv("a", 1, ts(1)), SizeEv("a", 5, ts(2)),
        SizeEv("b", 100, ts(3)), SizeEv("a", 0, ts(4)))
      q.processAllAvailable()
      in.addData(SizeEv("a", 9, ts(8)), SizeEv("a", 5, ts(9)),
        SizeEv("b", 1000, ts(12)))
      q.processAllAvailable()
      val got = spark.table("g_qsk").collect()
        .map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
      val events = Seq(("a", 1L, 0L), ("a", 5L, 0L), ("b", 100L, 0L),
        ("a", 9L, 0L), ("a", 5L, 0L), ("b", 1000L, 10L))
      val want = events.groupBy { case (g, v, w) => (w, g, bk(v)) }
        .map { case (k, vs) => k -> vs.size.toLong }
      assert(got == want, s"got $got\nwant $want")
      // per-window estimator: window 0 group a holds {1, 5, 5, 9} — the
      // median estimate must sit within the constructive 2^-3 bound of
      // the exact rank-2 value (5)
      val w0a = got.collect { case ((0L, "a", b), n) => (b, n) }.toSeq
      val est = graft.queries.TextOps.qsketchEstimate(w0a, 0.5)
      assert(est <= 5.0 + 1e-9 && 5.0 - est <= est / 8 + 1e-9,
        s"window-0 median estimate $est outside the bound around 5")
    } finally q.stop()
  }

  // ---- durable checkpoint restart (the north rule's "resumable from
  // checkpoint" applied to the STREAMING surface): stop the query
  // entirely, start a NEW query from the same checkpointLocation, and
  // prove the state store came back — not just the offsets. The memory
  // sink refuses append-mode recovery, so these use the fault-tolerant
  // file sink (exactly the production shape: file/table sink +
  // checkpoint dir). -------------------------------------------------------

  test("checkpoint restart: exact-dedup state survives a full query " +
    "stop/start — a duplicate of a PRE-restart doc is still dropped " +
    "by the restarted query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = graft.util.TempDirs.create("g_ckpt_exact_").toString
    val out = graft.util.TempDirs.create("g_out_exact_").toString
    val in = MemoryStream[Doc]
    def start() = StreamDedup.exactDedup(in.toDF())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(Doc(1, "alpha beta gamma", ts(0)), Doc(2, "delta", ts(1)))
      q1.processAllAvailable()
    } finally q1.stop()
    // doc 3 duplicates doc 1 from BEFORE the restart; doc 4 is fresh
    in.addData(Doc(3, "alpha beta gamma", ts(2)), Doc(4, "epsilon", ts(3)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 4L),
      s"dedup state store not restored across restart: got $got")
  }

  test("checkpoint restart: the CUSTOM per-bucket GroupState (near-dup " +
    "keeper signatures) is restored from the state store — a " +
    "cross-restart dup points at the pre-restart keeper") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog"
    val ckpt = graft.util.TempDirs.create("g_ckpt_near_").toString
    val out = graft.util.TempDirs.create("g_out_near_").toString
    val in = MemoryStream[Doc]
    def start() = StreamDedup.nearDupVerdicts(in.toDF())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(Doc(40, text, ts(0)),
        Doc(41, "spark vectors stream through watermarked windows", ts(1)))
      q1.processAllAvailable()
    } finally q1.stop()
    in.addData(Doc(42, text, ts(2)),
      Doc(43, "wholly novel words and tokens", ts(3)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select("doc_id", "dup_of")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(40L) == -1L && got(41L) == -1L && got(43L) == -1L)
    assert(got(42L) == 40L,
      "the restarted query must match against the PRE-restart keeper " +
        s"signature state, got dup_of=${got(42L)}")
  }

  test("streaming SCD2 apply folds a disordered CDC stream into exactly " +
    "the batch rule's CLOSED intervals; deletes close without reopening") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamDedup.CdcEv]
    def ev(e: Long, min: Int, op: String, v: Long) =
      StreamDedup.CdcEv(e, ts(min), op, v)
    val q = StreamDedup.scd2ByEntity(in.toDF())
      .writeStream.format("memory").queryName("g_scd2")
      .outputMode("append").start()
    try {
      // deliberately disordered within the 1h horizon: e1's second
      // upsert and delete arrive a batch before its FIRST upsert
      in.addData(ev(1, 5, "U", 11), ev(1, 9, "D", 0),
        ev(2, 4, "D", 0), ev(3, 1, "D", 0))
      q.processAllAvailable()
      in.addData(ev(1, 0, "U", 10), ev(1, 12, "U", 13),
        ev(2, 2, "U", 20), ev(3, 3, "U", 30))
      q.processAllAvailable()
      // watermark dance (the funnel discipline): deletes on an idle
      // entity push the watermark without opening anything
      Seq(70, 71).foreach { m =>
        in.addData(ev(99, m, "D", 0)); q.processAllAvailable()
      }
      def rows() = spark.table("g_scd2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val sec = (m: Int) => (Base + m * 60000L) / 1000
      // stage 1 (wm = 10 min): everything at/below 10 min has folded —
      // e1's two closed intervals and e2's delete-closed one; e1's
      // upsert@12 is still buffered, e3's lone upsert stays open forever
      val closed = Set(
        (1L, sec(0), sec(5), 10L), (1L, sec(5), sec(9), 11L),
        (2L, sec(2), sec(4), 20L))
      assert(rows() == closed, s"stage-1 closed set: ${rows()}")
      Seq(130, 131).foreach { m =>
        in.addData(ev(99, m, "D", 0)); q.processAllAvailable()
      }
      // e1's upsert@12 folded (wm = 71 min) but only OPENED an interval
      // — append mode must never emit an open row
      assert(rows() == closed,
        s"open intervals must not be emitted: ${rows()}")
    } finally q.stop()
  }
}
