package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed Bloom-filter build + probe — the classic at-scale
  * semi-join prune: when the join's small side is too large to
  * broadcast as a hash table but its KEY SET compresses into a few
  * hundred MB of bits, shipping the bits and filtering the fact side
  * BEFORE its shuffle removes (1 - selectivity) of the shuffle bytes.
  * At 100 TB that is the difference between shuffling the whole fact
  * table and shuffling only the ~matching fraction. Spark's own
  * runtime row-level filtering does this opportunistically; this
  * operator makes it explicit, plan-auditable, and usable where the
  * optimizer declines (e.g. a prune key that is an expression, or a
  * filter reused across several queries).
  *
  * Correctness contract: a Bloom filter has NO false negatives, so
  * `fact.filter(might_contain).join(dim)` is row-identical to
  * `fact.join(dim)` regardless of the false-positive rate — which is
  * why q86 can sit under the plain-join DuckDB oracle bit-for-bit.
  *
  * Design:
  *  - keys are pre-hashed with Spark's own `xxhash64` COLUMN (codegen,
  *    seed 42), so build and probe agree by construction and the
  *    filter itself only ever does integer double-hashing (Kirsch &
  *    Mitzenmacher: bit_i = h1 + i*h2) over a power-of-two bit count;
  *  - the build is a typed `Aggregator` whose buffer is the bitmap:
  *    Catalyst's partial aggregation means each task ORs its keys into
  *    a task-local bitmap and only bitmaps cross the wire — the build
  *    shuffles O(partitions * m/8) bytes, never the keys;
  *  - the probe is one codegen'd call of `mightContain`
  *    (`bloom_might_contain`) with the bitmap as a plan literal; Spark
  *    broadcasts the serialized task binary (TorrentBroadcast) once per
  *    executor, so the bits are shipped with broadcast economics, not
  *    per task.
  *
  * Sizing: m = -n ln(fpp) / (ln 2)^2 bits rounded up to a power of
  * two, k = round(m/n * ln 2). 10^8 dim keys at 1% fpp is ~2^30 bits
  * = 128 MB — broadcastable where the dim rows themselves (with
  * payload columns) are not.
  */
object Bloom {

  /** Immutable fitted filter: `bits.length * 64` bits (power of two),
    * `k` probes per key. */
  final case class Filter(bits: Array[Long], k: Int) {
    // Long arithmetic throughout: sizeFor permits up to 2^36 bits,
    // where `bits.length * 64` overflows Int
    def mBits: Long = bits.length.toLong * 64
    def mightContain(hash: Long): Boolean =
      Bloom.mightContain(bits, hash, k)
    /** Fraction of bits set — the load factor behind the fp rate. */
    def loadFactor: Double = {
      var pop = 0L
      var i = 0
      while (i < bits.length) { pop += java.lang.Long.bitCount(bits(i)); i += 1 }
      pop.toDouble / mBits
    }
  }

  /** (words, k) for an expected key count at a target fp rate. */
  def sizeFor(expectedN: Long, fpp: Double): (Int, Int) = {
    require(expectedN > 0 && fpp > 0 && fpp < 1, s"bad ($expectedN, $fpp)")
    val mIdeal = math.ceil(-expectedN * math.log(fpp) /
      (math.log(2) * math.log(2)))
    var mBits = 64L
    while (mBits < mIdeal) mBits <<= 1
    require(mBits <= (1L << 36), s"bloom over 8 GiB ($mBits bits) - " +
      "partition the dim and build per-partition filters instead")
    val k = math.max(1, math.round(mBits.toDouble / expectedN * math.log(2)).toInt)
    ((mBits / 64).toInt, math.min(k, 16))
  }

  /** SplitMix64 finalizer — derives the stride hash h2 from h1 so one
    * 64-bit input feeds all k probes. */
  @inline def mix(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Set the k probe bits of `hash` in `bits` (m = bits.length*64 must
    * be a power of two). Index math is Long: at the permitted 2^36-bit
    * maximum, Int `bits.length * 64` would wrap and silently address
    * only the low quarter of the bitmap. */
  def add(bits: Array[Long], hash: Long, k: Int): Unit = {
    val mask = bits.length.toLong * 64 - 1
    val h2 = mix(hash) | 1L
    var i = 0
    var h = hash
    while (i < k) {
      val idx = h & mask
      bits((idx >>> 6).toInt) |= 1L << (idx & 63)
      h += h2
      i += 1
    }
  }

  /** True iff all k probe bits of `hash` are set. */
  def mightContain(bits: Array[Long], hash: Long, k: Int): Boolean = {
    val mask = bits.length.toLong * 64 - 1
    val h2 = mix(hash) | 1L
    var i = 0
    var h = hash
    while (i < k) {
      val idx = h & mask
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      h += h2
      i += 1
    }
    true
  }

  /** Typed aggregator: buffer = the bitmap, reduce = set bits,
    * merge = OR. Partial aggregation makes the distributed build
    * shuffle bitmaps, not keys. */
  final class Agg(nWords: Int, k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](nWords)
    override def reduce(b: Array[Long], hash: Long): Array[Long] = {
      add(b, hash, k); b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = bufferEncoder
  }

  /** Fit a filter over `keys(df)`: hashes with Spark's `xxhash64`
    * column (probe side must hash the same way — use
    * [[graft.sql.GraftFunctions.bloom_might_contain]] over
    * `xxhash64(...)` of the fact key), aggregates map-side into
    * per-task bitmaps, ORs them on the driver. */
  def fit(df: DataFrame, key: Column, expectedN: Long,
      fpp: Double = 0.01): Filter = {
    val (nWords, k) = sizeFor(expectedN, fpp)
    val spark = df.sparkSession
    import spark.implicits._
    val bits = df.select(xxhash64(key).as("h")).as[Long]
      .select(new Agg(nWords, k).toColumn)
      .head()
    Filter(bits, k)
  }
}
