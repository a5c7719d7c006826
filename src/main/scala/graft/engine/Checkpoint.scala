package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Stage-level checkpoint/resume with per-partition lineage + metrics
  * (north_rule: "resumable from checkpoint with per-partition lineage
  * and metrics"; the reference's ad-hoc CSV cache is
  * `Supplemental_Data_1.R:124-139`).
  *
  * Each pipeline stage is snapshotted to parquet under a name, keyed by
  * a FINGERPRINT of its inputs + configuration. On rerun, a stage whose
  * stored fingerprint matches is reloaded instead of recomputed —
  * killing the job after stage N and rerunning resumes at N+1. A
  * SparkListener captures per-task (= per output partition) record /
  * byte / wall-time metrics during the snapshot write; they are
  * persisted in the stage's meta record as its partition lineage, so an
  * operator can later audit exactly which partition wrote what.
  *
  * The meta records are themselves stored as single-row JSON datasets
  * (JSON lines in Spark's format, read back by Spark), avoiding any
  * bespoke JSON parsing. Beyond the stage body's own jobs, a computed
  * stage launches exactly one Spark job: the snapshot write.
  */
object Checkpoint {

  /** Per-output-partition write metrics — the partition lineage. */
  final case class PartitionMetric(partition: Int, records: Long,
      bytes: Long, wallMs: Long)

  final case class StageMeta(name: String, fingerprint: String,
      inputs: Seq[String], rows: Long, partitions: Seq[PartitionMetric])

  /** One resumable run rooted at `dir`. */
  final class Store(spark: SparkSession, dir: String) {
    import spark.implicits._

    /** (name -> loaded|computed) for this run, in execution order. */
    val log = scala.collection.mutable.ArrayBuffer[(String, String)]()

    private def dataPath(name: String) = s"$dir/stages/$name"
    private def metaPath(name: String) = s"$dir/meta/$name"

    private def readMeta(name: String): Option[StageMeta] =
      if (!Files.exists(Paths.get(metaPath(name)))) None
      else scala.util.Try(
        spark.read.schema(implicitly[org.apache.spark.sql.Encoder[StageMeta]]
            .schema)
          .json(metaPath(name)).as[StageMeta].head()).toOption

    /** The meta record as one JSON line in Spark's format (`to_json`
      * over the local one-row Dataset is evaluated locally, no job),
      * written with a `_SUCCESS` marker straight through the Hadoop
      * FileSystem: the same bytes `write.json` produced, which
      * `readMeta` still reads. */
    private def writeMeta(meta: StageMeta): Unit = {
      val json = Seq(meta).toDS().select(to_json(struct(col("*"))))
        .as[String].head()
      val out = new Path(metaPath(meta.name))
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(out, true)
      val w = fs.create(new Path(out, "part-00000.json"))
      try w.write(s"$json\n".getBytes(UTF_8)) finally w.close()
      fs.create(new Path(out, "_SUCCESS")).close()
    }

    /** Load stage `name` if its fingerprint matches the stored
      * snapshot; otherwise compute, snapshot, and record lineage. */
    def stage(name: String, fingerprint: String, inputs: Seq[String] = Nil)(
        compute: => DataFrame): DataFrame = {
      val existing = readMeta(name)
      val ok = existing.exists(_.fingerprint == fingerprint) &&
        Files.exists(Paths.get(s"${dataPath(name)}/_SUCCESS"))
      if (ok) {
        log += name -> "loaded"
        spark.read.parquet(dataPath(name))
      } else {
        // Evaluate the stage body FIRST: a stage may run side-effect
        // write jobs of its own (e.g. the loss-mask CSV fan-out), and
        // those must not be captured as the snapshot's lineage — the
        // listener dedups by partition index, so a stray single-task
        // CSV write would shadow the snapshot's partition 0.
        val df = compute
        // Scope the metrics capture to THIS write's jobs via a unique job
        // group: the listener bus is shared, so without the scope any
        // concurrently running job's write tasks (or this job's retried /
        // speculative attempts) would be misattributed to the stage.
        val group = s"graft-ckpt-$name-${java.util.UUID.randomUUID()}"
        val listener = new WriteMetricsListener(group)
        spark.sparkContext.addSparkListener(listener)
        try {
          spark.sparkContext.setJobGroup(group, s"checkpoint stage $name")
          df.write.mode("overwrite").parquet(dataPath(name))
        } finally {
          spark.sparkContext.clearJobGroup()
          GraftSparkBridge.waitListenerEmpty(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
        val parts = listener.partitions
        writeMeta(StageMeta(name, fingerprint, inputs,
          parts.map(_.records).sum, parts))
        log += name -> "computed"
        // the computed schema spares the read its schema-inference job
        spark.read.schema(df.schema).parquet(dataPath(name))
      }
    }

    def meta(name: String): Option[StageMeta] = readMeta(name)
  }

  /** Captures the file-write tasks of jobs in `group` only (those that
    * actually wrote bytes), keeping one SUCCESSFUL attempt per partition
    * index — retried/speculative attempts would otherwise duplicate
    * lineage entries and inflate the stage row count. */
  private final class WriteMetricsListener(group: String) extends SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap
      .newKeySet[Int]()
    private val byPartition =
      new java.util.concurrent.ConcurrentHashMap[Int, PartitionMetric]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (js.properties != null &&
          group == js.properties.getProperty("spark.jobGroup.id"))
        js.stageIds.foreach(stages.add(_))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (stages.contains(te.stageId) && te.taskInfo.successful &&
          m != null && m.outputMetrics != null &&
          m.outputMetrics.bytesWritten > 0) {
        byPartition.putIfAbsent(te.taskInfo.index,
          PartitionMetric(te.taskInfo.index,
            m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
            te.taskInfo.duration))
      }
    }
    def partitions: Seq[PartitionMetric] = {
      import scala.jdk.CollectionConverters._
      byPartition.values().iterator().asScala.toSeq.sortBy(_.partition)
    }
  }

  /** Lineage truncation for iterative/two-phase operators: a RELIABLE
    * checkpoint when the session has a checkpoint dir (on a real
    * cluster a localCheckpoint dies with any executor, killing a long
    * run), else localCheckpoint (single-JVM test/bench mode). Round
    * loops reach it through [[endRound]]; one-shot sites call it
    * directly. */
  def truncate(s: SparkSession, df: DataFrame): DataFrame =
    // Re-leaf: checkpoint keeps the child plan's STATS even though it
    // truncates lineage, so iterative callers would compound the
    // size-in-bytes estimate multiplicatively per round (BigInt bits
    // double each self-join round; by ~40 rounds one Catalyst stats
    // visit takes minutes of driver CPU). freshLeaf rebinds the same
    // RDD under a default-sized leaf (captured partitioning/ordering
    // kept) — AQE recovers true sizes at runtime, so no plan-quality
    // loss for the loop frame itself.
    org.apache.spark.sql.GraftColumnBridge.freshLeaf(reliableCk(s, df))

  /** The one round loop of the fixed-round iterative operators
    * (PageRank, MinPlus, Propagate, Simplify): `step` folded over
    * `init` for `rounds` rounds, each round's frame passed through
    * [[endRound]]. `rounds = 0` returns `init` untouched. */
  def iterate(s: SparkSession, init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init)((df, r) => endRound(s, step(df), r, rounds))

  /** The lineage-truncation cadence of every round loop, once: round
    * `r` of `rounds` (1-based) is truncated after every second round
    * and after the last, so the loop returns a leaf. A loop frame is
    * referenced two or three times per round (PageRank: contributions
    * and dangling mass; Expand: uncertain cells, positive neighbours,
    * fold join), so one deferred level costs re-reading materialized
    * leaves a few extra times, which is cheap, while it halves the
    * loop's eager checkpoint jobs. Deeper deferral would compound those
    * references per level, hence never more than one. Expand, which
    * stops early, calls this from its own loop. */
  private[engine] def endRound(s: SparkSession, next: DataFrame, r: Int,
      rounds: Int): DataFrame =
    if (r % 2 == 0 || r == rounds) truncate(s, next) else next

  /** The reliability policy, once: reliable checkpoint when a dir is
    * configured, else localCheckpoint (single-JVM test/bench mode). */
  private def reliableCk(s: SparkSession, df: DataFrame): DataFrame =
    if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** One-shot lineage truncation for frames that do NOT re-enter the
    * truncation loop (e.g. a derived edge list materialized once and
    * then joined in every iteration): keeps the checkpoint's inherited
    * SIZE STATISTICS (they cannot compound here, and losing them costs
    * the static planner its broadcast decision on every round's join)
    * while still dropping the inherited CONSTRAINTS (a checkpoint of a
    * deep expression tree carries the whole tree as constraints, and
    * every downstream join re-derives over it — the dominant per-round
    * driver cost when such a frame is joined inside a loop). */
  def truncateOnce(s: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.freshLeafKeepStats(
      reliableCk(s, df))

  /** Content fingerprint helper: SHA-256 (hex, 128 bits kept) over the
    * pieces that define a stage (upstream fingerprints, config values,
    * code tag). A real digest, not String.hashCode: a 32-bit collision
    * between two configs would silently resume from a stale snapshot. */
  def fingerprint(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(parts.map(_.toString).mkString("|").getBytes("UTF-8"))
    d.take(16).map(b => f"$b%02x").mkString
  }
}
