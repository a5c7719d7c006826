package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Suite fixture for the Spark specs: one local[4] session (4 shuffle
  * partitions, UI off, a self-deleting warehouse dir), stopped after
  * the suite's last test so the next suite starts a fresh one. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      graft.util.TempDirs.create("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .appName(getClass.getSimpleName)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()
}
