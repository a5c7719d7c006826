package graft

import graft.core.Codec
import graft.engine.Multimodal
import graft.world.World

/** Audio modality: s16le codec round-trip, windowed-stats semantics vs
  * a direct recompute, resample round-trip byte layout, and the
  * codegen plan guards for q81/q82.
  */
class AudioSpec extends SparkSpec {

  test("s16le codec round-trips including boundary values") {
    val samples = Array[Short](0, 1, -1, 255, -256, 32767, -32768, 1234,
      -4321) ++ Array.tabulate(100)(i => World.aud(3, i).toShort)
    val bytes = Codec.encodeS16(samples)
    assert(bytes.length == 2 * samples.length)
    assert(Codec.decodeS16(bytes).toSeq == samples.toSeq)
    samples.indices.foreach { i =>
      assert(Codec.s16At(bytes, i) == samples(i).toInt,
        s"s16At($i) on sign-extended read")
    }
  }

  test("AudioWindowStats matches a direct recompute (zeros break " +
    "zero-cross flips; windows are independent)") {
    // a hand-built window exercising sign runs and zeros:
    // flips: +5->-3 (1), -3->+2 via 0? 0 breaks it; +2->-2 (1)
    val w = Array[Short](5, -3, 0, 2, -2, -7, 4, 4)
    val bytes = Codec.encodeS16(w)
    val r = graft.sql.AudioWindowStats.eval(bytes, 0, w.length)
    assert(r.getLong(0) == w.map(v => v.toLong * v).sum)
    assert(r.getInt(1) == 7)
    assert(r.getInt(2) == 3) // 5->-3, 2->-2, -7->4
    // fixture clips: every window vs recompute from the formula
    val n = Multimodal.AudioSamples
    val ws = Multimodal.AudioWindow
    (0 until 3).foreach { clip =>
      val samples = Array.tabulate(n)(i => World.aud(clip, i).toShort)
      val payload = Codec.encodeS16(samples)
      (0 until n / ws).foreach { win =>
        val slice = samples.slice(win * ws, (win + 1) * ws)
        val got = graft.sql.AudioWindowStats.eval(payload, win, ws)
        assert(got.getLong(0) == slice.map(v => v.toLong * v).sum)
        assert(got.getInt(1) == slice.map(v => math.abs(v.toInt)).max)
        val zc = slice.sliding(2).count(p => p(0) * p(1) < 0)
        assert(got.getInt(2) == zc, s"zero_cross clip=$clip win=$win")
      }
    }
  }

  test("DecimateS16 emits exactly every k-th sample re-encoded; " +
    "ClipStatsS16 wsum pins sample order") {
    val samples = Array.tabulate(101)(i => World.aud(7, i).toShort)
    val bytes = Codec.encodeS16(samples)
    (1 to 5).foreach { k =>
      val got = graft.sql.DecimateS16.eval(bytes, k)
      val want = Codec.encodeS16(
        samples.indices.collect { case i if i % k == 0 => samples(i) }.toArray)
      assert(java.util.Arrays.equals(got, want), s"k=$k")
    }
    val st = graft.sql.ClipStatsS16.eval(bytes)
    assert(st.getInt(0) == samples.length)
    assert(st.getLong(1) == samples.map(_.toLong).sum)
    val rev = graft.sql.ClipStatsS16.eval(Codec.encodeS16(samples.reverse))
    assert(st.getLong(1) == rev.getLong(1) && st.getLong(3) != rev.getLong(3),
      "wsum must distinguish orderings that plain sums cannot")
  }

  test("q81/q82 plan shape: the audio expressions ride whole-stage " +
    "codegen (no CodegenFallback projection in the hot path)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val audio = Multimodal.syntheticAudio(spark)
      // the op bodies, pre-presentation-sort: per-row work, no shuffle
      Seq(
        "q81" -> "AudioWindowStats.eval(" ->
          Multimodal.audioWindows(audio, Multimodal.AudioSamples,
            Multimodal.AudioWindow),
        "q82" -> "ClipStatsS16.eval(" ->
          Multimodal.audioResample(audio, Multimodal.AudioStride)
      ).foreach { case ((name, needle), df) =>
        val plan = df.queryExecution.executedPlan.toString
        val line = plan.linesIterator.find(_.contains(needle))
        assert(line.nonEmpty, s"no $needle in the $name plan:\n$plan")
        assert(line.get.contains("*("),
          s"$name audio projection fell out of codegen:\n${line.get}")
        assert(!plan.contains("Exchange"),
          s"$name is per-row work; a shuffle appeared:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("AudioFingerprint matches a direct recompute; variants stay " +
    "near their base; banded q83 pairs equal brute force (exact recall)") {
    val n = Multimodal.AudioSamples
    val w = n / 64
    def fp(samples: Array[Short]): Long = {
      val e = Array.tabulate(64)(k =>
        samples.slice(k * w, (k + 1) * w).map(v => v.toLong * v).sum)
      (0 until 64).foldLeft(0L)((acc, k) =>
        if (e(k) > e((k + 1) % 64)) acc | (1L << k) else acc)
    }
    val fps = (0 until World.tiny.nTiles).flatMap { t =>
      val base = Array.tabulate(n)(i => World.aud(t, i).toShort)
      val variant = Array.tabulate(n)(i =>
        (World.aud(t, i) + World.audPerturb(t, i)).toShort)
      val fb = fp(base)
      assert(graft.sql.AudioFingerprint.eval(
        Codec.encodeS16(base), w, 64) == fb, s"clip $t")
      val fv = fp(variant)
      assert(java.lang.Long.bitCount(fb ^ fv) <= 8,
        s"variant of clip $t drifted too far to be a near-dup fixture")
      Seq(f"aud_$t%05d" -> fb, f"audv_$t%05d" -> fv)
    }
    // the fixture must exercise kept AND dropped hamming distances
    val bv = (0 until World.tiny.nTiles).map(t =>
      java.lang.Long.bitCount(fps.toMap.apply(f"aud_$t%05d") ^
        fps.toMap.apply(f"audv_$t%05d")))
    assert(bv.exists(_ == 0) && bv.exists(h => h >= 1 && h <= 3) &&
      bv.exists(_ > 3), s"hamming spread degenerate: $bv")
    // exact recall: engine pairs == brute force over the fingerprints
    val brute = (for {
      (a, fa) <- fps; (b, fb2) <- fps
      if a < b && java.lang.Long.bitCount(fa ^ fb2) <= 3
    } yield (a, b, java.lang.Long.bitCount(fa ^ fb2))).sortBy(p => (p._1, p._2))
    val got = graft.SparkEntry.queries("q83_audio_neardup")(spark, "ignored")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == brute, s"banded pairs != brute force")
  }

  test("audioWindows rejects a window that does not divide the clip") {
    intercept[IllegalArgumentException] {
      Multimodal.audioWindows(Multimodal.syntheticAudio(spark), 4096, 100)
    }
  }
}
