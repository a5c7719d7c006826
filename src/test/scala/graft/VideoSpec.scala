package graft

import org.apache.spark.sql.functions.col
import graft.core.Codec
import graft.engine.Multimodal
import graft.world.World

/** Video near-dup (q85): FramePhash parity with the library phash,
  * the engine's banded+voted pairs vs an in-JVM brute force, and the
  * fixture-quality contract the constants were tuned for (a vote
  * split that exercises both sides of the cutoff, zero cross-tile
  * accidents).
  */
class VideoSpec extends SparkSpec {

  private val spec = World.tiny
  private val nf = Multimodal.VideoFrames
  private val frames = 0 until nf by 4

  /** Frame pixels straight from the world formulas. */
  private def framePx(t: Int, f: Int, variant: Boolean): Array[Float] =
    Array.tabulate(spec.pixPerTile) { p =>
      val id = spec.cellId(t, p)
      val v = World.vid(id, f) +
        (if (variant) World.vidPerturb(id, f) else 0.0)
      v.toFloat
    }

  /** All 48 fixture videos' sampled-frame phashes, brute-forced. */
  private lazy val brutePh: Map[(String, Int), Long] =
    (0 until spec.nTiles).flatMap { t =>
      frames.flatMap { f =>
        Seq(
          (f"vid_$t%05d", f) ->
            Codec.phash(framePx(t, f, variant = false), spec.tile, spec.tile),
          (f"vidv_$t%05d", f) ->
            Codec.phash(framePx(t, f, variant = true), spec.tile, spec.tile))
      }
    }.toMap

  test("FramePhash decodes one frame slice and equals Codec.phash of a " +
    "brute decode (base and variant payloads)") {
    val rows = Multimodal.syntheticVideo(spark)
      .unionByName(Multimodal.syntheticVideoVariants(spark))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    for (t <- Seq(0, 7, 23); f <- frames; id <- Seq(f"vid_$t%05d", f"vidv_$t%05d")) {
      val got = graft.sql.FramePhash.eval(rows(id),
        org.apache.spark.unsafe.types.UTF8String.fromString("f32"),
        spec.pixPerTile, f, spec.tile, spec.tile)
      assert(got == brutePh((id, f)), s"$id frame $f")
    }
  }

  test("q85 video near-dup equals the brute-force frame-aligned vote, " +
    "and the fixture exercises both sides of the >=2-of-3 cutoff with " +
    "zero cross-tile pairs") {
    val ids = brutePh.keys.map(_._1).toSeq.distinct.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      hams = frames.map(f =>
        java.lang.Long.bitCount(brutePh((a, f)) ^ brutePh((b, f))))
      matched = hams.count(_ <= 3)
      if matched >= 2
    } yield (a, b, matched, hams.filter(_ <= 3).min)).sorted
    val got = SparkEntry.queries("q85_video_neardup")(spark, "unused")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got == expected)
    // fixture-quality contract (what the vidPerturb constants were
    // tuned for): every surviving pair is a base + its own variant ...
    assert(expected.forall { case (a, b, _, _) =>
      a.startsWith("vid_") && b == "vidv_" + a.stripPrefix("vid_") })
    // ... the vote rejects some variants (both sides of the cutoff) ...
    assert(expected.size < spec.nTiles && expected.size >= spec.nTiles / 2,
      s"vote split degenerated: ${expected.size} of ${spec.nTiles}")
    // ... and NO cross-tile pair matches even on a single frame
    val crossSingle = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if b != "vidv_" + a.stripPrefix("vid_")
      if frames.exists(f =>
        java.lang.Long.bitCount(brutePh((a, f)) ^ brutePh((b, f))) <= 3)
    } yield (a, b)).toSeq
    assert(crossSingle.isEmpty, s"accidental cross pairs: $crossSingle")
  }

  test("q85 plan shape: the aligned banded self-join reuses ONE " +
    "exchange on (frame_idx, band, chunk); never a cartesian") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the 24-row fixture sits under the broadcast threshold (Catalyst
    // correctly broadcasts it); the guard pins the at-scale plan, where
    // a banded side of 10^12 videos can never be broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("q85_video_neardup")(spark, "unused")
        .queryExecution.executedPlan.toString()
      // node-line counting: a ReusedExchange line EMBEDS a textual
      // reference to the exchange it reuses (the q77 guard's caveat)
      def nodes(tok: String): Int = plan.linesIterator
        .count(_.replaceAll("""^[\s:+\-*()\d]*""", "").startsWith(tok))
      assert(nodes("ReusedExchange") == 1,
        s"the self-join's two sides must share one shuffle:\n$plan")
      assert(nodes("Exchange") == 4,
        s"band join + distinct + pair vote + sort = four exchanges:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"banding must never degrade to an O(n^2) join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }
}
