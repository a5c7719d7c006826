package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is -1 for a root;
  * spans of one operation share `run`. Times are epoch nanoseconds
  * (wall-clock aligned, so Spark's millisecond event times map in). */
final case class Span(id: Int, parent: Int, name: String, run: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records spans around the harness's calls into the engine. Spans stay
  * in memory until the run ends. With `enabled = false` every call is a
  * plain pass-through, so untraced windows carry no tracing cost.
  * Single caller thread, as in every workload here. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  var run = 0
  var sc: Option[SparkContext] = None

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, Tracer.now()) :: stack
      sc.foreach(_.setJobGroup(Tracer.group(id), name))
      try f
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, parent, name, run, start, Tracer.now())
        sc.foreach { c =>
          stack.headOption match {
            case Some((pid, pname, _)) => c.setJobGroup(Tracer.group(pid), pname)
            case None => c.clearJobGroup()
          }
        }
      }
    }
}

object Tracer {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = GroupPrefix + id

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The innermost span containing time `t` (epoch ns). */
  def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t < s.end).sortBy(_.start).lastOption
}

/** Per-task record of what Spark did. Times in ms since the epoch. */
final case class TaskRec(stage: Int, launch: Long, finish: Long,
    duration: Long, ok: Boolean, runMs: Long, schedDelayMs: Long,
    gcMs: Long, inBytes: Long, outBytes: Long, shufRead: Long,
    shufWrite: Long, fetchWaitMs: Long, spill: Long)

/** SparkListener collecting jobs, stages and tasks; each job is tied to
  * the span whose job group it carried, or, when engine code replaced
  * the group (Checkpoint.Store sets its own), to the innermost span open
  * at its submission. */
final class SparkProbe extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(Int, Option[Int], Long, Seq[Int])]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.drop(Tracer.GroupPrefix.length).toInt)
    jobs.add((e.jobId, g, e.time, e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null) {
      val ok = i.successful
      if (m == null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        i.duration, ok, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else {
        val sched = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
        val sr = m.shuffleReadMetrics
        tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, i.duration,
          ok, m.executorRunTime, sched, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, sr.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  /** Span id per stage id: the span of the first job that listed it. */
  def stageSpans(spans: Seq[Span]): Map[Int, Int] = {
    val out = scala.collection.mutable.Map[Int, Int]()
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, g, t, stageIds) =>
      g.orElse(Tracer.innermost(spans, t * 1000000L).map(_.id)).foreach { sp =>
        stageIds.foreach(st => if (!out.contains(st)) out(st) = sp)
      }
    }
    out.toMap
  }

  def jobSpans(spans: Seq[Span]): Seq[Int] =
    jobs.asScala.toSeq.flatMap { case (_, g, t, _) =>
      g.orElse(Tracer.innermost(spans, t * 1000000L).map(_.id))
    }
}

object SparkProbe {
  /** Spark's counts for a set of tasks (and the jobs/stages they ran in)
    * over a wall interval of `wallMs` on `cores` task slots. */
  def counts(ts: Seq[TaskRec], jobs: Int, stages: Int, wallMs: Double,
      cores: Int, codegen: CodegenCounter.Counts): Seq[(String, Double)] = {
    val busy = ts.map(_.duration).sum.toDouble
    val covered = Tracer.union(ts.map(t => (t.launch, t.finish))).toDouble
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.duration.toDouble)
      val med = Stats.median(d)
      (if (med > 0) d.max / med else 1.0, d.sum)
    }
    val skewW = skews.map(_._2).sum
    Seq(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_busy_s" -> busy / 1000,
      "spark.core_util" -> (if (wallMs > 0) busy / (wallMs * cores) else 0.0),
      "spark.driver_serial_s" -> math.max(0.0, wallMs - covered) / 1000,
      "spark.scheduler_delay_ms" -> ts.map(_.schedDelayMs).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shufWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shufRead).sum.toDouble,
      "spark.shuffle_fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "spark.output_bytes" -> ts.map(_.outBytes).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.task_skew" ->
        (if (skewW > 0) skews.map { case (k, w) => k * w }.sum / skewW else 1.0),
      "spark.failed_tasks" -> ts.count(!_.ok).toDouble,
      "spark.codegen_fallbacks" -> codegen.fallbacks.toDouble,
      "spark.codegen_compiles" -> codegen.compiles.toDouble,
      "spark.codegen_compile_ms" -> codegen.compileMs)
  }
}

/** Counts codegen events from Spark's own log lines: a log4j2 appender
  * on the code generator and whole-stage-codegen loggers. A plan that
  * falls back to interpreted execution (a Janino compile failure, a
  * method over the huge-method limit) is otherwise a single log line. */
object CodegenCounter {
  final case class Counts(fallbacks: Long, compiles: Long, compileMs: Double)

  private val CodeGen =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Wscg = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  private val ExprFallback =
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback"
  private val Loggers = Seq(CodeGen, Wscg, ExprFallback)
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  private val fallbacks = new AtomicLong
  private val compiles = new AtomicLong
  private val compileUs = new AtomicLong

  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private object Appender extends AbstractAppender("perfbench-codegen",
      null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      val name = e.getLoggerName
      if (name == CodeGen) msg match {
        case Generated(ms) =>
          compiles.incrementAndGet()
          compileUs.addAndGet((ms.toDouble * 1000).toLong)
        case _ =>
      }
      else if (name == ExprFallback ||
          msg.contains("codegen disabled") || msg.contains("too long generated"))
        fallbacks.incrementAndGet()
      // these loggers no longer reach the console appender; keep their
      // warnings visible
      if (e.getLevel.isMoreSpecificThan(Level.WARN))
        System.err.println(s"${e.getLevel} ${name.split('.').last}: " +
          msg.linesIterator.take(3).mkString(" | "))
    }
  }

  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def install(): Unit = {
    val cfg = ctx.getConfiguration
    if (!Appender.isStarted) Appender.start()
    cfg.addAppender(Appender)
    Loggers.foreach { n =>
      val lc = new LoggerConfig(n, Level.INFO, false)
      lc.addAppender(Appender, Level.INFO, null)
      cfg.addLogger(n, lc)
    }
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    val cfg = ctx.getConfiguration
    Loggers.foreach(cfg.removeLogger)
    ctx.updateLoggers()
  }

  def snapshot(): Counts =
    Counts(fallbacks.get, compiles.get, compileUs.get / 1000.0)

  def since(c: Counts): Counts = {
    val n = snapshot()
    Counts(n.fallbacks - c.fallbacks, n.compiles - c.compiles,
      n.compileMs - c.compileMs)
  }
}
