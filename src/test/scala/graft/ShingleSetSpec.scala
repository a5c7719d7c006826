package graft

import org.apache.spark.sql.functions._

/** The r06 verify-join kernels (Sh3Set / SortedInterSize) must be
  * drop-in replacements for the string-list formulation the DuckDB
  * oracle runs: packed sets have the same cardinality as the distinct
  * string shingle sets and the merge-count equals
  * size(array_intersect). Checked against the naive column composition
  * on texts with duplicates, multi-byte code points, and short/edge
  * lengths. */
class ShingleSetSpec extends SparkSpec {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "aaaaaaaaaaaaaaaa",
    "abcabcabcabcabc",
    "abc",
    "ab c ab c ab c",
    "code point κόσμε κόσμε mixed ascii",
    "éééxééé",
    "tab\tand\nnewline mixed  spaces")

  /** Naive reference: distinct string 3-grams packed per the same
    * injective 21-bit-per-codepoint formula, sorted. */
  private def referenceSets: Seq[Seq[Long]] = texts.map { t =>
    val cps = t.codePoints().toArray
    cps.sliding(3).filter(_.length == 3)
      .map(w => (w(0).toLong << 42) | (w(1).toLong << 21) | w(2).toLong)
      .toSeq.distinct.sorted
  }

  test("sh3_set = sorted distinct packed 3-gram set (codepoint walk)") {
    import spark.implicits._
    val got = texts.toDF("text")
      .select(graft.sql.GraftFunctions.sh3_set(col("text")).as("sh"))
      .collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    texts.indices.foreach { i =>
      val ref = referenceSets(i)
      if (ref.isEmpty) assert(got(i) == null, s"text $i: expected null")
      else assert(got(i) == ref, s"text $i mismatch")
    }
  }

  test("sorted_inter_size = size(array_intersect) on every text pair") {
    import spark.implicits._
    val withSh = texts.toDF("text")
      .select(col("text"), graft.sql.GraftFunctions.sh3_set(col("text")).as("sh"))
      .filter(col("sh").isNotNull)
    val a = withSh.select(col("text").as("ta"), col("sh").as("sha"))
    val b = withSh.select(col("text").as("tb"), col("sh").as("shb"))
    val both = a.crossJoin(b).select(
      graft.sql.GraftFunctions.sorted_inter_size(col("sha"), col("shb"))
        .as("merge"),
      size(array_intersect(col("sha"), col("shb"))).as("ref"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("packing is injective on the shingle alphabet (cardinality)") {
    import spark.implicits._
    val got = texts.toDF("text")
      .select(size(graft.sql.GraftFunctions.sh3_set(col("text"))).as("n"))
      .collect().map(_.getInt(0))
    val refStrings = texts.map { t =>
      val cps = t.codePoints().toArray
      cps.sliding(3).filter(_.length == 3)
        .map(w => new String(w, 0, 3)).toSeq.distinct.size
    }
    texts.indices.filter(referenceSets(_).nonEmpty).foreach { i =>
      assert(got(i) == refStrings(i), s"text $i cardinality")
    }
  }
}
