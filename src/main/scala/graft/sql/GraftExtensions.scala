package graft.sql

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL surface for the engine's kernels: registers the parameter-free
  * (or literal-parameterized) GraftFunctions builders as SQL functions,
  * so `spark.sql("SELECT graft_simhash16(text) ...")` works next to the
  * Column API.
  *
  * Two wirings:
  *  - config: `spark.sql.extensions=graft.sql.GraftExtensions`
  *    (the standard SparkSessionExtensions injection point — applies
  *    to every session of the context);
  *  - runtime: `GraftExtensions.register(spark)` on a live session
  *    (what the tests use; also the shape for notebook users).
  *
  * Kernels needing driver-side objects (region_of_neg1's polygon array,
  * driver_classify_at_covered's packed forest) stay Column-API-only:
  * SQL has no literal syntax for them, and resolving layer names to
  * broadcast geometry belongs to a catalog, not a function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.entries.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {
  import GraftFunctions._
  import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  // the legacy 5-arg constructor carries the usage text (shown by
  // DESCRIBE FUNCTION) without the group/source whitelist validation
  // of the full constructor
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.sql.Exprs", null, name, usage, "")

  private type Builder = Seq[Expression] => Expression

  /** One SQL function over its GraftFunctions builder: `b` gets the
    * arguments as Columns and `lit(i, arg)` reads argument i as an
    * integer literal. */
  private def entry(name: String, usage: String, arity: Int)(
      b: (Seq[Column], (Int, String) => Int) => Column)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), info(name, usage), { args =>
      require(args.length == arity,
        s"$name expects $arity arguments, got ${args.length}")
      toExpression(b(args.map(toColumn), (i, arg) => intLit(args(i), name, arg)))
    })

  private[sql] val entries: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    Seq(
      entry("graft_simhash16",
        "graft_simhash16(text) - 16-bit SimHash over space-separated " +
          "tokens in one pass", 1) { (a, _) => simhash16(a(0)) },
      entry("graft_dot_f64",
        "graft_dot_f64(a, b) - sequential-order dot product of two " +
          "array<double> columns", 2) { (a, _) => dot_f64(a(0), a(1)) },
      entry("graft_minhash_sigs",
        "graft_minhash_sigs(text) - the 4 canonical MinHash signatures " +
          "over 3-char shingles in one pass", 1) { (a, _) =>
        minhash_sigs(a(0), MinHashSigs.Params, MinHashSigs.Prime)
      },
      entry("graft_decode_band",
        "graft_decode_band(bytes, fmt, nPixels, band) - decode one band " +
          "of a tile payload to array<float> (nPixels/band literals)", 4) {
        (a, lit) => decode_band(a(0), a(1), lit(2, "nPixels"), lit(3, "band"))
      },
      entry("graft_float_at",
        "graft_float_at(bytes, idx) - float element at flat index of an " +
          "f32 payload", 2) { (a, _) => float_at(a(0), a(1)) },
      entry("graft_grid_h3",
        "graft_grid_h3(cell_id, rows, cols, res) - H3-lite id of a grid " +
          "cell over the Goode extent (rows/cols/res literals)", 4) {
        (a, lit) => grid_h3(a(0), lit(1, "rows"), lit(2, "cols"),
          lit(3, "res"))
      },
      entry("graft_s2_cell",
        "graft_s2_cell(lat, lng, level) - S2 cell id of a lat/lng point " +
          "in degrees (level literal)", 3) { (a, lit) =>
        s2_cell(a(0), a(1), lit(2, "level"))
      },
      entry("graft_s2_parent",
        "graft_s2_parent(id, level) - ancestor of an S2 cell id at " +
          "coarser level (level literal)", 2) { (a, lit) =>
        s2_parent(a(0), lit(1, "level"))
      },
      entry("graft_s2_neighbors",
        "graft_s2_neighbors(id) - the four edge-adjacent S2 cells at " +
          "the id's own level (face-crossing), as array<long>", 1) {
        (a, _) => s2_neighbors(a(0))
      },
      entry("graft_media_stats",
        "graft_media_stats(bytes, fmt, w, h, frameK) - one-pass decode + " +
          "media feature stats (frameK literal)", 5) { (a, lit) =>
        media_stats(a(0), a(1), a(2), a(3), lit(4, "frameK"))
      },
      entry("graft_frame_stats",
        "graft_frame_stats(bytes, fmt, nPixels, frame) - one-pass stats " +
          "of one frame of a multi-frame payload (nPixels/frame literals)",
        4) { (a, lit) =>
        frame_stats(a(0), a(1), lit(2, "nPixels"), lit(3, "frame"))
      },
      entry("graft_audio_window_stats",
        "graft_audio_window_stats(bytes, win, winSize) - integer stats " +
          "(sum_sq, peak, zero_cross) of one window of an s16le audio " +
          "payload (win/winSize literals)", 3) { (a, lit) =>
        audio_window_stats(a(0), lit(1, "win"), lit(2, "winSize"))
      },
      entry("graft_decimate_s16",
        "graft_decimate_s16(bytes, k) - every k-th sample of an s16le " +
          "payload re-encoded (k literal)", 2) { (a, lit) =>
        decimate_s16(a(0), lit(1, "k"))
      },
      entry("graft_clip_stats_s16",
        "graft_clip_stats_s16(bytes) - whole-clip integer stats (n, " +
          "sum_v, peak, order-pinning wsum) of an s16le payload", 1) {
        (a, _) => clip_stats_s16(a(0))
      },
      entry("graft_z_interleave",
        "graft_z_interleave(x, y) - Morton z-value of two integer " +
          "coordinates (x on even bits, y on odd): the z-order " +
          "layout curve key", 2) { (a, _) =>
        z_interleave(a(0), a(1))
      },
      entry("graft_frame_phash",
        "graft_frame_phash(bytes, fmt, nPixels, frame, w, h) - 64-bit " +
          "block-mean perceptual hash of one frame of a multi-frame " +
          "payload (nPixels/frame/w/h literals)", 6) { (a, lit) =>
        frame_phash(a(0), a(1), lit(2, "nPixels"), lit(3, "frame"),
          lit(4, "w"), lit(5, "h"))
      },
      entry("graft_audio_fingerprint",
        "graft_audio_fingerprint(bytes, winSize, nWin) - 64-bit " +
          "circular energy-delta fingerprint of an s16le payload " +
          "(winSize/nWin literals)", 3) { (a, lit) =>
        audio_fingerprint(a(0), lit(1, "winSize"), lit(2, "nWin"))
      },
      entry("graft_convex_hull",
        "graft_convex_hull(points) - struct(area2, verts) convex hull " +
          "of distinct packed (x*65536+y) points in canonical lex-min " +
          "CCW order; exact integer shoelace. Serves both levels of " +
          "the partial-hull reduction", 1) { (a, _) =>
        convex_hull(a(0))
      },
      entry("graft_edt",
        "graft_edt(pixs, vs, tile, thresh) - per-tile exact squared " +
          "Euclidean distance transform to feature pixels (v >= " +
          "thresh); -1 when the tile has none (tile/thresh literals)",
        4) { (a, lit) =>
        edt(a(0), a(1), lit(2, "tile"), lit(3, "thresh"))
      },
      entry("graft_lbp",
        "graft_lbp(pixs, vs, tile) - per-pixel 8-bit local binary " +
          "pattern codes over a halo-padded tile patch; -1 for " +
          "out-of-grid cores (tile literal)", 3) { (a, lit) =>
        lbp(a(0), a(1), lit(2, "tile"))
      })

  /** Register on a live session (runtime alternative to the
    * spark.sql.extensions config). Idempotent: re-registration
    * replaces the same identifiers. */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (ident, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, inf, builder)
    }
}
