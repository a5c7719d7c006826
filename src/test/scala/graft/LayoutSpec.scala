package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.engine.Layout

/** engine/Layout: Morton interleave round-trips, the codegen
  * z_interleave kernel call vs the static eval, and the clusterBy
  * write-layout contract — globally disjoint, internally sorted
  * per-partition curve ranges (what parquet min/max pruning needs) and
  * the locality win over a row-major layout.
  */
class LayoutSpec extends SparkSpec {

  test("z interleave/deinterleave round-trips across the full 32-bit " +
    "range, and orders quadrants before cells") {
    val probes = Seq(0L, 1L, 2L, 95L, 63L, 0xFFFFL, 0xFFFFFFFFL,
      0x12345678L, 0xDEADBEEFL)
    for (x <- probes; y <- probes) {
      val z = Layout.zInterleave(x, y)
      assert(Layout.zDeinterleave(z) == ((x, y)), s"round trip ($x, $y)")
    }
    // hand-checked small values: (x=1,y=0)->1, (x=0,y=1)->2, (x=1,y=1)->3,
    // (x=2,y=3)->14
    assert(Layout.zInterleave(1, 0) == 1L)
    assert(Layout.zInterleave(0, 1) == 2L)
    assert(Layout.zInterleave(1, 1) == 3L)
    assert(Layout.zInterleave(2, 3) == 14L)
    // quadrant property: all z of the low 2x2 block < any z of the
    // next block over
    val low = for (x <- 0 to 1; y <- 0 to 1) yield Layout.zInterleave(x, y)
    val next = for (x <- 2 to 3; y <- 0 to 1) yield Layout.zInterleave(x, y)
    assert(low.max < next.min)
  }

  test("ZInterleave expression (codegen and SQL registry) equals the " +
    "static eval") {
    import graft.sql.GraftFunctions.z_interleave
    graft.sql.GraftExtensions.register(spark)
    val df = spark.range(0, 1000)
      .select((col("id") % 97).as("x"), (col("id") / 97).cast("long").as("y"))
    val viaExpr = df.select(col("x"), col("y"),
      z_interleave(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    viaExpr.foreach { case (x, y, z) =>
      assert(z == Layout.zInterleave(x, y), s"expr mismatch at ($x, $y)")
    }
    df.createOrReplaceTempView("zt")
    val viaSql = spark.sql(
      "SELECT x, y, graft_z_interleave(x, y) AS z FROM zt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaSql.toSeq == viaExpr.toSeq)
  }

  test("clusterBy: per-partition curve ranges are disjoint and sorted " +
    "(the min/max pruning contract), and bucket bboxes beat row-major " +
    "locality") {
    import spark.implicits._
    val C = 96
    val grid = spark.range(0, 64L * C)
      .select((col("id") % C).as("x"), (col("id") / C).cast("long").as("y"))
      .withColumn("z", graft.sql.GraftFunctions.z_interleave(col("x"), col("y")))
    val n = 24
    val clustered = Layout.clusterBy(grid, col("z"), n)
    // per-partition (min z, max z, sorted?) without collecting rows
    val ranges = clustered.select("z").as[Long].mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        var prev = Long.MinValue
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var sorted = true
        it.foreach { z =>
          if (z < prev) sorted = false
          prev = z
          if (z < mn) mn = z
          if (z > mx) mx = z
        }
        Iterator.single((mn, mx, sorted))
      }
    }.collect().sortBy(_._1)
    assert(ranges.nonEmpty && ranges.forall(_._3), "a partition is unsorted")
    ranges.sliding(2).foreach {
      case Array((_, aMax, _), (bMin, _, _)) =>
        assert(aMax < bMin, s"overlapping file ranges: $aMax >= $bMin")
      case _ =>
    }
    // the metric that IS min/max pruning: how many 256-cell buckets
    // (file stand-ins) does a 16x16 window query touch? A row-major
    // stripe spans the full 96-cell grid width, so every stripe in the
    // query's y-range intersects (~7 of 24); a z-order bucket is a
    // 16x16 block, so only the blocks the window overlaps do (<= 4).
    def bucketsTouched(bucketed: org.apache.spark.sql.DataFrame): Long =
      bucketed.groupBy("b")
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .filter(col("x1") >= 40 && col("x0") <= 55 &&
          col("y1") >= 24 && col("y0") <= 39)
        .count()
    val zTouch = bucketsTouched(
      grid.withColumn("b", (col("z") / 256).cast("long")))
    val rowTouch = bucketsTouched(
      grid.withColumn("b", ((col("y") * C + col("x")) / 256).cast("long")))
    info(s"16x16 window touches $zTouch z-order buckets vs $rowTouch row-major")
    assert(zTouch <= 4 && rowTouch >= 6,
      s"z-order pruning win missing: $zTouch vs $rowTouch of 24 buckets")
  }

  test("writeBucketed: same-bucket-count tables join with ZERO exchange " +
    "(the write-once shuffle), and results equal the plain join") {
    import graft.engine.Layout
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.range(0, 5000)
        .select((col("id") % 700).as("k"), (col("id") * 7 % 97).as("v"))
      val dim = spark.range(0, 700)
        .select(col("id").as("dk"), (col("id") % 25).as("g"))
      Layout.writeBucketed(fact, "graft_t_fact",
        graft.util.TempDirs.create("bt_fact").toString, "k", 8)
      Layout.writeBucketed(dim, "graft_t_dim",
        graft.util.TempDirs.create("bt_dim").toString, "dk", 8)
      val joined = spark.table("graft_t_fact")
        .join(spark.table("graft_t_dim"), col("k") === col("dk"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.find(_.isInstanceOf[ShuffleExchangeExec]).isEmpty,
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.toString.contains("SortMergeJoin"),
        s"expected a sort-merge join over co-located buckets:\n$plan")
      // results identical to the unbucketed join
      val plain = fact.join(dim, col("k") === col("dk"))
      assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.sql("DROP TABLE IF EXISTS graft_t_fact")
      spark.sql("DROP TABLE IF EXISTS graft_t_dim")
    }
  }
}
