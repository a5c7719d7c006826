package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Codec, GeoTiff}
import graft.world.World

/** Multimodal-column plumbing: image/audio/video carried as opaque
  * `binary` columns with typed metadata, processed by one kernel
  * expression per row (decode + stats inside whole-stage codegen, no
  * pixel array column, no typed-row round trip).
  *
  * Decode is REAL for every format this engine carries: `f32` raw
  * tiles, `png16` (16-bit grayscale PNG via javax.imageio), `jpeg`
  * (baseline grayscale via the JDK's ImageIO JPEG codec) and `gtiff`
  * (the pure-JVM GeoTIFF reader) all decode actual bytes.
  */
object Multimodal {

  /** Synthetic media table: the world's tiles re-encoded in each real
    * format the codec layer supports (f32 multiband raw, png16, gtiff
    * with LZW, grayscale jpeg), one row per (tile, fmt). The jpeg row
    * carries band 1 (native 0..255 range — the natural 8-bit payload;
    * band 0 is a [0,1) loss fraction that would quantize to zeros). */
  def syntheticMedia(s: SparkSession): DataFrame = {
    import s.implicits._
    val spec = World.tiny
    val base = World.tilesDF(s, spec).drop("tile_id", "loss")
    val reEncoded = s.range(0, spec.nTiles).flatMap { t =>
      val ti = t.toInt
      val bands = World.tileBands(spec, ti)
      val band0 = bands(0)
      val ph = Codec.phash(band0, spec.tile, spec.tile)
      Seq(
        (f"tile_$ti%05d_png", Codec.encodePng16(band0, spec.tile, spec.tile),
          spec.tile, spec.tile, "png16", s"png16 of tile $ti", ph),
        (f"tile_$ti%05d_tif",
          GeoTiff.encode(band0, spec.tile, spec.tile, lzw = true),
          spec.tile, spec.tile, "gtiff", s"gtiff of tile $ti", ph),
        (f"tile_$ti%05d_jpg",
          Codec.encodeJpegGray(bands(1), spec.tile, spec.tile),
          spec.tile, spec.tile, "jpeg", s"jpeg of tile $ti band 1",
          Codec.phash(bands(1), spec.tile, spec.tile)))
    }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    base.unionByName(reEncoded)
  }

  /** Frames per synthetic video payload. A plan-time constant here
    * because the fixture table is homogeneous; a production table
    * carries n_frames per row and partitions by payload shape before
    * planning the sample. */
  val VideoFrames = 12

  /** Synthetic VIDEO table: one row per tile of the tiny world, the
    * payload = `VideoFrames` frames of tile x tile f32 pixels
    * concatenated frame-major — byte-identical to the multiband f32
    * tile layout, so the codec's seek-to-band slice decode is reused
    * as seek-to-frame. Pixel values evolve per frame via the dyadic
    * `World.vid` formula (SQL-reproducible, so the frame-sample query
    * sits under the full DuckDB oracle). */
  def syntheticVideo(s: SparkSession): DataFrame = {
    import s.implicits._
    val spec = World.tiny // unpadded: every pixel addresses a real cell
    val nf = VideoFrames
    s.range(0, spec.nTiles).map { t =>
      val ti = t.toInt
      val frames = Array.tabulate(nf) { f =>
        Array.tabulate(spec.pixPerTile) { p =>
          World.vid(spec.cellId(ti, p), f).toFloat
        }
      }
      (f"vid_$ti%05d", Codec.encodeF32(frames), spec.tile, spec.tile,
        "f32", nf)
    }.toDF("video_id", "bytes", "w", "h", "fmt", "n_frames")
  }

  /** VARIANT videos for the video near-dup fixture: one per base
    * video, same frames except ~1/9 of pixels shifted by a dyadic
    * delta (`World.vidPerturb`) — a transcode stand-in whose sampled
    * frames' phashes land hamming 0..6 from the base's, splitting the
    * >=2-of-3 frame vote both ways (see vidPerturb's doc for the tuned
    * spread). Ids sort AFTER their base (`vidv_` > `vid_`), so pair
    * output is (base, variant). */
  def syntheticVideoVariants(s: SparkSession): DataFrame = {
    import s.implicits._
    val spec = World.tiny
    val nf = VideoFrames
    s.range(0, spec.nTiles).map { t =>
      val ti = t.toInt
      val frames = Array.tabulate(nf) { f =>
        Array.tabulate(spec.pixPerTile) { p =>
          val id = spec.cellId(ti, p)
          (World.vid(id, f) + World.vidPerturb(id, f)).toFloat
        }
      }
      (f"vidv_$ti%05d", Codec.encodeF32(frames), spec.tile, spec.tile,
        "f32", nf)
    }.toDF("video_id", "bytes", "w", "h", "fmt", "n_frames")
  }

  /** Samples per synthetic audio clip / stats window size / resample
    * stride. Plan-time constants here because the fixture table is
    * homogeneous; a production table carries n_samples per row. */
  val AudioSamples = 4096
  val AudioWindow = 256
  val AudioStride = 4

  /** Synthetic AUDIO table: one clip per tile of the tiny world,
    * payload = `AudioSamples` mono s16le samples from the dyadic
    * `World.aud` formula (SQL-reproducible, so the windowed-stats and
    * resample queries sit under the full DuckDB oracle). sample_rate
    * is carried metadata, untouched by the integer ops. */
  def syntheticAudio(s: SparkSession): DataFrame = {
    import s.implicits._
    val spec = World.tiny
    val n = AudioSamples
    s.range(0, spec.nTiles).map { t =>
      val samples = Array.tabulate(n)(i => World.aud(t, i).toShort)
      (f"aud_$t%05d", Codec.encodeS16(samples), 16000, n, "s16le",
        s"clip of tile $t")
    }.toDF("audio_id", "bytes", "sample_rate", "n_samples", "fmt",
      "caption")
  }

  /** VARIANT clips for the audio near-dup fixture: one per base clip,
    * identical samples except every 13th shifted by [-512, 512]
    * (`World.audPerturb`) — a re-encode/transcode stand-in whose
    * energy-delta fingerprint lands hamming 0..5 from the base
    * clip's. Ids sort AFTER their base (`audv_` > `aud_`), so pair
    * output is (base, variant). */
  def syntheticAudioVariants(s: SparkSession): DataFrame = {
    import s.implicits._
    val spec = World.tiny
    val n = AudioSamples
    s.range(0, spec.nTiles).map { t =>
      val samples = Array.tabulate(n)(i =>
        (World.aud(t, i) + World.audPerturb(t, i)).toShort)
      (f"audv_$t%05d", Codec.encodeS16(samples), 16000, n, "s16le",
        s"variant clip of tile $t")
    }.toDF("audio_id", "bytes", "sample_rate", "n_samples", "fmt",
      "caption")
  }

  /** WINDOWED STATS — the audio op of the multimodal pipeline: split
    * each clip into fixed windows and emit one row per (clip, window)
    * with its integer stats. Window indices are plan-time constants,
    * so each becomes ONE codegen'd `AudioWindowStats` call touching
    * only its own byte slice; fan-out is a single inline explode — no
    * join, no shuffle (the exact shape of video frameSample). */
  def audioWindows(audio: DataFrame, nSamples: Int, winSize: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sql.GraftFunctions.audio_window_stats
    require(winSize > 0 && nSamples % winSize == 0,
      s"window $winSize must divide clip length $nSamples")
    val wins = (0 until nSamples / winSize).map { w =>
      struct(lit(w).as("window_idx"),
        audio_window_stats(col("bytes"), w, winSize).as("s"))
    }
    audio.select(col("audio_id"), explode(array(wins: _*)).as("wn"))
      .select(col("audio_id"), col("wn.window_idx").as("window_idx"),
        col("wn.s.sum_sq").as("sum_sq"), col("wn.s.peak").as("peak"),
        col("wn.s.zero_cross").as("zero_cross"))
  }

  /** RESAMPLE round-trip: stride-k decimation re-encoded as a real
    * s16le payload, verified by the order-pinning ClipStatsS16
    * checksum (the q73 decode-round-trip pattern applied to audio). */
  def audioResample(audio: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.sql.GraftFunctions.{clip_stats_s16, decimate_s16}
    audio.select(col("audio_id"),
        clip_stats_s16(decimate_s16(col("bytes"), k)).as("s"))
      .select(col("audio_id"), col("s.n").as("n_out"),
        col("s.sum_v").as("sum_v"), col("s.peak").as("peak"),
        col("s.wsum").as("wsum"))
  }

  /** FRAME-SAMPLE — the video op of the multimodal pipeline: keep
    * every `stride`-th frame of each payload and emit one row per
    * sampled frame with its decoded stats. The sampled indices are
    * plan-time constants, so each becomes ONE codegen'd `FrameStats`
    * call that decodes only that frame's byte slice — a stride-k
    * sample pays ~1/k of the decode work per payload (at real scale
    * the same constants become byte-range pushdown into the reader).
    * Fan-out is a single inline explode of the per-frame struct array:
    * no join, no shuffle; downstream aggregation shuffles on video_id
    * like any keyed op. */
  def frameSample(videos: DataFrame, nFrames: Int, stride: Int,
      nPixels: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sql.GraftFunctions.frame_stats
    require(stride > 0, "frame-sample stride must be positive")
    val sampled = (0 until nFrames by stride).map { f =>
      struct(lit(f).as("frame_idx"),
        frame_stats(col("bytes"), col("fmt"), nPixels, f).as("s"))
    }
    videos.select(col("video_id"), explode(array(sampled: _*)).as("fr"))
      .select(col("video_id"), col("fr.frame_idx").as("frame_idx"),
        col("fr.s.mean_px").as("mean_px"), col("fr.s.max_px").as("max_px"),
        col("fr.s.wsum").as("wsum"))
  }

  /** Feature extraction via the one-pass MediaStats expression: decode
    * + stats stay inside whole-stage codegen, no pixel array column and
    * no typed-row round trip. */
  def features(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sql.GraftFunctions.media_stats
    media.select(col("image_id"), col("fmt"),
        length(col("bytes")).as("n_bytes"),
        media_stats(col("bytes"), col("fmt"), col("w"), col("h"),
          frameK = 4).as("__s"))
      .select(col("image_id"), col("fmt"), col("n_bytes"),
        col("__s.mean_px").as("mean_px"), col("__s.max_px").as("max_px"),
        col("__s.thumb_hash").as("thumb_hash"),
        col("__s.n_frames").as("n_frames"))
  }
}
