package graft

import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.engine.Bloom
import graft.sql.GraftFunctions

/** engine/Bloom: distributed Bloom-filter build (typed Aggregator,
  * bitmap-OR merge) + codegen probe, and the q86 semi-join-prune
  * contract — a pruned join is row-identical to the plain join (no
  * false negatives), the probe filter runs BELOW the fact side's
  * shuffle, and the false-positive rate matches the sizing math.
  */
class BloomSpec extends SparkSpec {

  test("sizeFor: power-of-two bit counts, sane k, 8 GiB guard") {
    val (w1, k1) = Bloom.sizeFor(1000, 0.01)
    assert(w1 * 64 >= 9585, "below the textbook m for 1k keys at 1%")
    assert((w1 & (w1 - 1)) == 0 && k1 >= 1 && k1 <= 16)
    val (w2, _) = Bloom.sizeFor(1, 0.5)
    assert(w2 == 1, "minimum one word")
    intercept[IllegalArgumentException] { Bloom.sizeFor(0, 0.01) }
    intercept[IllegalArgumentException] { Bloom.sizeFor(100L << 32, 0.0001) }
  }

  test("no false negatives, ever: every inserted key probes true, via " +
    "both the static eval and the codegen expression") {
    import spark.implicits._
    val n = 10000L
    val dim = spark.range(0, n).select((col("id") * 7 + 3).as("key"))
    val f = Bloom.fit(dim, col("key"), n, fpp = 0.01)
    // static path
    val hashes = dim.select(xxhash64(col("key")).as("h")).as[Long].collect()
    assert(hashes.forall(f.mightContain), "static probe missed a member")
    // expression path (the q86 filter shape)
    val kept = dim.filter(
      GraftFunctions.bloom_might_contain(xxhash64(col("key")), f)).count()
    assert(kept == n, s"codegen probe kept $kept of $n members")
  }

  test("false-positive rate on disjoint keys is within the design fpp " +
    "(power-of-two rounding only ever lowers it)") {
    import spark.implicits._
    val n = 10000L
    val dim = spark.range(0, n).select((col("id") * 7 + 3).as("key"))
    val f = Bloom.fit(dim, col("key"), n, fpp = 0.01)
    info(f"load factor ${f.loadFactor}%.4f, m=${f.mBits}, k=${f.k}")
    // probe keys disjoint from the dim's 7i+3 arithmetic progression
    val probes = spark.range(0, 100000).select((col("id") * 7 + 4).as("key"))
    val fp = probes.filter(
      GraftFunctions.bloom_might_contain(xxhash64(col("key")), f)).count()
    val rate = fp.toDouble / 100000
    info(f"measured fp rate $rate%.5f")
    assert(rate < 0.02, f"fp rate $rate%.5f blows the 1%% design point")
  }

  test("distributed build is partitioning-invariant: 1-partition and " +
    "8-partition fits produce the identical bitmap (merge = OR is " +
    "associative and the reduce is idempotent per key)") {
    val dim = spark.range(0, 5000).select((col("id") * 13 + 1).as("key"))
    val f1 = Bloom.fit(dim.repartition(1), col("key"), 5000, 0.01)
    val f8 = Bloom.fit(dim.repartition(8), col("key"), 5000, 0.01)
    assert(f1.k == f8.k && java.util.Arrays.equals(f1.bits, f8.bits))
  }

  test("q86 contract: bloom-pruned shuffle join is row-identical to the " +
    "plain join, and the probe filter sits BELOW the fact's Exchange " +
    "(pruning happens before shuffle bytes are paid)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a shuffle join: the at-scale shape where the prune matters
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dim = spark.range(0, 300)
        .select((col("id") * 11).as("c_key"), (col("id") % 25).as("nation"))
      val fact = spark.range(0, 20000)
        .select((col("id") % 3300).as("o_key"), (col("id") * 3 % 997).as("v"))
      val f = Bloom.fit(dim, col("c_key"), 300, 0.01)
      val pruned = fact
        .filter(GraftFunctions.bloom_might_contain(xxhash64(col("o_key")), f))
        .join(dim, col("o_key") === col("c_key"))
        .groupBy("nation").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val plain = fact.join(dim, col("o_key") === col("c_key"))
        .groupBy("nation").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty,
        "prune changed the join result")
      // selectivity: only ~300/3300 of fact keys survive (plus fps)
      val surviving = fact.filter(
        GraftFunctions.bloom_might_contain(xxhash64(col("o_key")), f)).count()
      assert(surviving < 20000 / 5, s"prune kept $surviving of 20000 rows")
      // plan shape: the probe Filter's subtree must contain NO exchange
      // (it runs in the scan stage), and some Exchange must sit above it
      val plan = pruned.queryExecution.executedPlan
      val probeFilter = plan.collectFirst {
        case fe: FilterExec
            if fe.condition.find {
              case si: StaticInvoke => si.functionName == "mightContain" &&
                si.staticObject == Bloom.getClass
              case _ => false
            }.isDefined =>
          fe
      }.getOrElse(fail(s"no bloom probe Filter in plan:\n$plan"))
      assert(probeFilter.find(_.isInstanceOf[ShuffleExchangeExec]).isEmpty,
        s"probe filter is above a shuffle - prune pays the bytes anyway:\n$plan")
      val exchangesAbove = plan.collect {
        case e: ShuffleExchangeExec if e.find(_ eq probeFilter).isDefined => e
      }
      assert(exchangesAbove.nonEmpty,
        s"no exchange above the probe - the guard proves nothing:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }
}
