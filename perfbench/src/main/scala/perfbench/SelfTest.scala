package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.world.{World => GraftWorld}

/** Harness self-tests: the tail-percentile rule, span self-time
  * arithmetic, job-to-span attribution, and digest stability across two
  * in-process runs on `World.tiny` and the sweep's sf0.001 queries.
  * `perfbench.SelfTest --work <dir> --cores <n>` */
object SelfTest {
  private val failures = ArrayBuffer[String]()
  private def check(name: String)(ok: => Boolean): Unit = {
    val r = scala.util.Try(ok).getOrElse(false)
    println(s"${if (r) "PASS" else "FAIL"} $name")
    if (!r) failures += name
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val ctx = Ctx(a("work"), a.int("cores"), 7L)

    val xs = (1 to 1000).map(_.toDouble)
    check("tail: n < 20 reports nothing")(Stats.tail(xs.take(19)).isEmpty)
    check("tail: n = 20 reports p50 with 10 beyond")(
      Stats.tail(xs.take(20)) == Some((50.0, 10.0)))
    check("tail: n = 100 reports p90")(Stats.tail(xs.take(100)) == Some((90.0, 90.0)))
    check("tail: n = 199 reports p90, not p95")(
      Stats.tail(xs.take(199)).map(_._1) == Some(90.0))
    check("tail: n = 1000 reports p99")(Stats.tail(xs) == Some((99.0, 990.0)))
    check("tail: ten samples lie beyond the value") {
      Seq(20, 37, 100, 199, 450, 1000).forall { n =>
        val s = xs.take(n)
        Stats.tail(s).forall { case (_, v) => s.count(_ > v) >= 10 }
      }
    }

    val spans = Seq(Span(0, -1, "root", 1, 0, 100), Span(1, 0, "a", 1, 10, 30),
      Span(2, 0, "b", 1, 20, 50), Span(3, 0, "c", 1, 60, 70),
      Span(4, 3, "d", 1, 62, 64), Span(5, 0, "e", 1, 95, 120))
    val self = Tracer.selfTimes(spans)
    check("self time: overlapping children count once, clipped to parent")(
      self(0) == 100 - (40 + 10 + 5))
    check("self time: grandchildren subtract from their parent only")(
      self(3) == 8 && self(4) == 2)
    check("union of intervals")(Tracer.union(Seq((0L, 5L), (3L, 9L),
      (20L, 21L), (4L, 6L))) == 10)
    check("innermost span")(Tracer.innermost(spans, 63).map(_.id) == Some(4))

    check("digest: partial-sum order does not change a rounded double")(
      Digest.num(0.1 + 0.2 + 0.3) == Digest.num(0.3 + 0.2 + 0.1))
    check("digest: row order does not matter")(
      Digest.lines(Seq("a", "b", "c")) == Digest.lines(Seq("c", "a", "b")))

    val sweep = new SweepWorkload(ctx)
    sweep.setup()
    val s = sweep.session
    val tiny = (1 to 2).map(_ => Digest.rows(
      GraftWorld.tilesDF(s, GraftWorld.tiny).collect().toSeq))
    check("digest: World.tiny tile table is stable across two runs")(
      tiny(0) == tiny(1))
    val off = new Tracer(false)
    val runs = (1 to 2).map(_ => SweepWorkload.queries.map(q =>
      sweep.query(q)(off).obs.head))
    val unstable = runs(0).zip(runs(1)).filter { case (x, y) => x != y }
    unstable.foreach { case (x, y) => println(s"  unstable: $x vs $y") }
    check("digest: sf0.001 sweep queries are stable across two runs")(
      unstable.isEmpty)

    val tr = new Tracer(true)
    val probe = new SparkProbe
    tr.sc = Some(s.sparkContext)
    s.sparkContext.addSparkListener(probe)
    tr.span("outer") {
      tr.span("inner")(s.range(0, 1000, 1, 2).count())
      s.range(0, 10, 1, 3).count()
    }
    org.apache.spark.GraftSparkBridge.waitListenerEmpty(s.sparkContext)
    s.sparkContext.removeSparkListener(probe)
    val ids = tr.spans.map(sp => sp.name -> sp.id).toMap
    val jobSpans = probe.jobSpans(tr.spans.toSeq)
    println(s"  job spans $jobSpans, span ids $ids, tasks ${probe.tasks.size}")
    // each count() is one or more jobs (adaptive execution submits a job
    // per query stage); the range partitions give 2 + 3 scan tasks
    check("jobs attribute to the span that submitted them")(
      jobSpans.distinct.sorted == Seq(ids("outer"), ids("inner")).sorted &&
        jobSpans.size == probe.jobs.size)
    check("tasks attribute through their stage") {
      val stageSpan = probe.stageSpans(tr.spans.toSeq)
      val ts = probe.tasks.asScala.toSeq
      ts.size >= 5 && ts.forall(t => stageSpan.contains(t.stage)) &&
        ts.map(t => stageSpan(t.stage)).toSet == Set(ids("outer"), ids("inner"))
    }
    sweep.teardown()

    println(s"selftest: ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
