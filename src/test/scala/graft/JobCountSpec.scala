package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.engine.{Checkpoint, Headline}
import graft.world.World

/** Listener-counted Spark jobs, AQE off (with AQE on every shuffle
  * stage is a job of its own): the class fan-out is one write whatever
  * the class count, a computed checkpoint stage adds only its snapshot
  * write to its body's jobs, and reading the tile table runs none. */
class JobCountSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  /** Jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftSparkBridge.waitListenerEmpty(sc)
    sc.addSparkListener(l)
    try { body; GraftSparkBridge.waitListenerEmpty(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  private def masks(nClasses: Int): DataFrame = {
    import spark.implicits._
    (1L to 400L).map(id => (id, id % nClasses, id * 0.5))
      .toDF("cell_id", "final_class", "loss_mean").repartition(3)
  }

  test("Csv.writeClassMasks runs the same few jobs for 4 and 6 classes") {
    val counts = Seq(4, 6).map { n =>
      val dir = graft.util.TempDirs.create("graft_jobs_csv").toString
      jobs(graft.sinks.Csv.writeClassMasks(masks(n), dir, "final_class",
        "loss_mean", classes = 0 until n))
    }
    assert(counts(0) == counts(1) && counts(0) <= 2, counts.toString)
  }

  test("a computed Checkpoint.stage adds only the snapshot write to its " +
    "body's jobs") {
    val body = () => {
      val n = spark.range(0, 50).filter("id % 7 = 0").count()
      spark.range(0, 1000).selectExpr("id AS cell_id", s"id % $n AS k")
    }
    val bodyJobs = jobs(body())
    val store = new Checkpoint.Store(spark,
      graft.util.TempDirs.create("graft_jobs_ckpt").toString)
    val stageJobs = jobs(store.stage("s", "fp")(body()))
    assert(store.log.toList == List("s" -> "computed"))
    assert(bodyJobs == 1 && stageJobs == bodyJobs + 1,
      s"body $bodyJobs, stage $stageJobs")
  }

  test("Headline.readTiles runs no schema-inference job, on the sliced " +
    "table and on a cut-out without slice directories") {
    val spec = World.tiny
    val sliced = graft.util.TempDirs.create("graft_jobs_tiles").toString
    Headline.writeTiles(World.tilesDF(spark, spec), spec.nTiles, sliced)
    val cut = graft.util.TempDirs.create("graft_jobs_cut").toString
    spark.read.parquet(sliced).filter(col("tile_id") < 5).drop("slice")
      .write.mode("overwrite").parquet(cut)
    // the inferring read is what the known schema saves
    assert(jobs(spark.read.parquet(sliced)) >= 1)
    var tiles, cutTiles: DataFrame = null
    assert(jobs { tiles = Headline.readTiles(spark, sliced) } == 0)
    assert(jobs { cutTiles = Headline.readTiles(spark, cut) } == 0)
    assert(tiles.schema.fieldNames.toSeq == Headline.tableSchema.fieldNames.toSeq)
    assert(tiles.filter(col("slice") === 1).count() ==
      spec.nTiles / Headline.Slices)
    assert(cutTiles.filter(col("slice").isNull).count() == 5)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSet
    assert(rows(tiles.drop("slice")) == rows(World.tilesDF(spark, spec)))
  }
}
