package graft.engine

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded per-group top-k selection — the at-scale replacement for
  * `ROW_NUMBER() OVER (PARTITION BY g ORDER BY ...) <= k` when groups
  * are huge or skewed (the per-DOMAIN document cap every pretraining
  * mixture applies: no single crawl domain may contribute more than K
  * documents, keep the best K by quality).
  *
  * The window formulation shuffles and SORTS every row of every group;
  * one hot domain with 10^9 rows becomes one task sorting 10^9 rows.
  * This aggregator's buffer is a size-k min-heap, so Catalyst's partial
  * aggregation reduces each task's rows into at most k survivors BEFORE
  * the exchange: shuffle bytes are O(tasks * k * 8), per-task state is
  * O(k), and the hot domain costs n * O(log k) comparisons spread
  * across all its input tasks instead of one n-log-n sort on one core.
  *
  * Contract: rows arrive PACKED into one long each, bigger-wins, the
  * caller folds its tie-break into the low bits (e.g. score in the high
  * 32, `0xFFFFFFFF - id` in the low 32 so the smaller id wins ties).
  * Packing keeps the buffer a primitive `Array[Long]` — zero boxing in
  * reduce/merge, same encoder shape as [[Bloom.Agg]].
  */
object TopK {

  /** Packs (score, id) into one bigger-wins long for [[Agg]]: score in
    * the high 32 bits, `0xFFFFFFFF - id` in the low 32 so the SMALLER
    * id wins ties. The contract's bounds (0 <= score < 2^31,
    * 0 <= id < 2^32) are guarded per row by `assert_true` — two
    * comparisons riding the same codegen projection as the pack — so
    * an out-of-range input fails the job loudly instead of silently
    * borrowing into the score bits and corrupting the ordering. */
  def packDescSmallerId(score: Column, id: Column): Column = {
    val ok = assert_true(
      score >= 0 && score < (1L << 31) && id >= 0 && id <= 0xFFFFFFFFL,
      lit("TopK pack bounds: 0 <= score < 2^31, 0 <= id < 2^32"))
    shiftleft(score.cast("long"), 32) + (lit(0xFFFFFFFFL) - id) +
      coalesce(ok.cast("long"), lit(0L)) // NULL on success: adds 0
  }

  /** Inverse of [[packDescSmallerId]], id half. */
  def unpackId(pk: Column): Column =
    lit(0xFFFFFFFFL) - pk.bitwiseAND(lit(0xFFFFFFFFL))

  /** Inverse of [[packDescSmallerId]], score half. */
  def unpackScore(pk: Column): Column = shiftright(pk, 32)

  /** Buffer layout: slot 0 = count n, slots 1..n = binary min-heap
    * (root at 1, children at 2i/2i+1). finish() returns the survivors
    * sorted descending (rank order). */
  final class Agg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 1, s"k must be >= 1, got $k")

    override def zero: Array[Long] = new Array[Long](k + 1)

    override def reduce(b: Array[Long], v: Long): Array[Long] = {
      val n = b(0).toInt
      if (n < k) {
        // grow: append then sift up
        var i = n + 1
        b(i) = v
        b(0) = n + 1
        while (i > 1 && b(i >> 1) > b(i)) {
          val t = b(i >> 1); b(i >> 1) = b(i); b(i) = t
          i >>= 1
        }
      } else if (v > b(1)) {
        // full and better than the current min: replace root, sift down
        b(1) = v
        var i = 1
        var done = false
        while (!done) {
          val l = i << 1
          val r = l + 1
          var s = i
          if (l <= k && b(l) < b(s)) s = l
          if (r <= k && b(r) < b(s)) s = r
          if (s == i) done = true
          else {
            val t = b(s); b(s) = b(i); b(i) = t
            i = s
          }
        }
      }
      b
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val nb = b(0).toInt
      var i = 1
      while (i <= nb) { reduce(a, b(i)); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = {
      val n = r(0).toInt
      val out = new Array[Long](n)
      System.arraycopy(r, 1, out, 0, n)
      java.util.Arrays.sort(out)
      // descending = rank order
      var i = 0
      while (i < n - 1 - i) {
        val t = out(i); out(i) = out(n - 1 - i); out(n - 1 - i) = t
        i += 1
      }
      out
    }

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = bufferEncoder
  }

  /** Per-group top-k of (score: double, id: long) under the window
    * order (score DESC, id ASC), as a partial aggregation — the [[Agg]]
    * economics for DOUBLE scores that cannot ride the 32-bit pack
    * (q53's cosine similarities): the window formulation materializes,
    * shuffles and sorts the full pair frame (4M rows at sf0.1) to keep
    * 3 rows per group; this buffer keeps at most k (score, id) pairs
    * per group map-side, so only O(groups * k) rows cross the wire.
    *
    * finish() returns the ids ALONE in rank order — callers derive
    * rank = position + 1 via posexplode, which is exactly the
    * row_number the window assigned: ties in score are broken by the
    * smaller id, and -0.0 is normalized to 0.0 on entry so score
    * equality agrees with SQL double equality (NaN scores are the
    * caller's contract to exclude, as the window form also assumed).
    * Buffer layout: [n, bits1, id1, ..., bitsk, idk] best-first
    * (raw double bits, compared as decoded doubles). */
  final class PairAgg(k: Int)
    extends Aggregator[(Double, Long), Array[Long], Array[Long]] {
    require(k >= 1, s"k must be >= 1, got $k")

    override def zero: Array[Long] = new Array[Long](1 + 2 * k)

    @inline private def better(s1: Double, i1: Long, s2: Double,
        i2: Long): Boolean = s1 > s2 || (s1 == s2 && i1 < i2)

    private def insert(b: Array[Long], s: Double, id: Long): Array[Long] = {
      val n = b(0).toInt
      if (n == k) {
        val ws = java.lang.Double.longBitsToDouble(b(1 + 2 * (n - 1)))
        val wi = b(2 + 2 * (n - 1))
        if (!better(s, id, ws, wi)) return b // reject vs current worst
      }
      // find slot (groups are small: k is 3-ish, linear scan)
      var pos = 0
      while (pos < n && !better(s, id,
        java.lang.Double.longBitsToDouble(b(1 + 2 * pos)),
        b(2 + 2 * pos))) pos += 1
      val keep = math.min(n + 1, k)
      var i = keep - 1
      while (i > pos) {
        b(1 + 2 * i) = b(1 + 2 * (i - 1))
        b(2 + 2 * i) = b(2 + 2 * (i - 1))
        i -= 1
      }
      b(1 + 2 * pos) = java.lang.Double.doubleToRawLongBits(s)
      b(2 + 2 * pos) = id
      b(0) = keep
      b
    }

    override def reduce(b: Array[Long], v: (Double, Long)): Array[Long] =
      insert(b, v._1 + 0.0, v._2) // + 0.0 folds -0.0 into 0.0

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val nb = b(0).toInt
      var i = 0
      while (i < nb) {
        insert(a, java.lang.Double.longBitsToDouble(b(1 + 2 * i)),
          b(2 + 2 * i))
        i += 1
      }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = {
      val n = r(0).toInt
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = r(2 + 2 * i); i += 1 }
      out
    }

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = bufferEncoder
  }
}
