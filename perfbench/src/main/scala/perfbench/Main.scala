package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.engine.Headline

/** Expected outputs, pinned from the engine by `perfbench.Pin` into
  * `perfbench/expected/<workload>.tsv` (key, rows, digest). A digest of
  * "-" is not compared: the workload does not compute it (the model's
  * stage outputs carry a row count only). */
object Expect {
  def file(work: String, kind: String) =
    Paths.get(work).getParent.resolve(s"expected/$kind.tsv")

  def load(work: String, kind: String): Map[String, (String, String)] = {
    val f = file(work, kind)
    require(Files.exists(f), s"no pinned outputs at $f (run with --pin)")
    Files.readAllLines(f).asScala.filterNot(_.startsWith("#")).map { l =>
      val Array(k, r, d) = l.split("\t")
      k -> (r, d)
    }.toMap
  }

  /** Mismatches of `obs` against the pins; a missing pin is one too. */
  def check(pins: Map[String, (String, String)], obs: Seq[Obs]): Seq[String] =
    obs.flatMap { o =>
      pins.get(o.key) match {
        case None => Some(s"${o.key}: no pinned output")
        case Some((r, d)) =>
          if (r != o.rows.toString)
            Some(s"${o.key}: ${o.rows} rows, expected $r")
          else if (d != "-" && d != o.digest)
            Some(s"${o.key}: digest ${o.digest}, expected $d")
          else None
      }
    }
}

/** The measured process: `perfbench.Main --workload <headline|model|sweep>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>`.
  * Sets up once (timed from JVM start to the end of the warm-up), runs
  * an untraced window of whole passes for `--seconds`, and with
  * `--trace 1` a traced window plus the layer measurements. Prints a
  * summary, then one result JSON line. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val a = Args(args)
    val kind = a("workload")
    val seconds = a.int("seconds")
    val trace = a.int("trace") == 1
    val ctx = Ctx(a("work"), a.int("cores"), a("seed").toLong)
    val w = Workload(kind, ctx)
    val pins = Expect.load(ctx.work, kind)
    val problems = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    def account(ops: Seq[OpStat], pins: Map[String, (String, String)] = pins)
        : Unit = ops.foreach { o =>
      attempted += 1
      val bad = o.problem.toSeq ++ Expect.check(pins, o.obs)
      if (bad.nonEmpty) failed += 1
      problems ++= bad.map(p => s"${o.label}: $p")
    }
    val off = new Tracer(false)

    // set-up: session start, input load and the checked warm-up
    // operations, timed from JVM start to the first timed operation
    w.setup()
    val warm = (1 to w.warmups).map(_ => w.warmup(off))
    account(warm)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val j0 = cpuJiffies()
    val plain = window(w, seconds, off)
    val steal = stealRatio(j0, cpuJiffies())
    account(plain)
    val e2e = endToEnd(w, plain, setupS)
    val out: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val tr = new Tracer(true)
        val j1 = cpuJiffies()
        val traced = withProbe(w, tr, seconds)
        val tracedSteal = stealRatio(j1, cpuJiffies())
        account(traced._1)
        writeTrace(ctx, kind, tr, traced._2)
        val layers = perLayer(w, ctx, traced, tr, plain)
        // the model's trace also carries the queries layer (one pass of
        // the sweep's query set, checked against the sweep's pins)
        val (queries, queryCodegen) = w match {
          case _: SweepWorkload => (traced._1, traced._3)
          case _: ModelWorkload =>
            val (warm, qs, codegen) = queryPass(w, ctx)
            account(warm +: qs, Expect.load(ctx.work, "sweep"))
            (qs, codegen)
          case _ => (Nil, CodegenCounter.Counts(0, 0, 0))
        }
        layers ++ queryLayer(queries, queryCodegen) :+
          (("host.steal_ratio", tracedSteal, "ratio"))
      }
    summary(w, ctx, warm, plain, e2e, problems.toSeq, failed,
      attempted, steal)
    val correct = problems.isEmpty
    val metrics = out.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u) }
    val record = Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap(
        metrics: _*)))
    Files.createDirectories(Paths.get(s"${ctx.work}/results"))
    Files.writeString(Paths.get(
      s"${ctx.work}/results/$kind-seed${ctx.seed}-trace${a("trace")}.json"),
      record + "\n")
    w.teardown()
    println(record)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Whole passes until `seconds` have elapsed (at least one). */
  def window(w: Workload, seconds: Int, tr: Tracer): Seq[OpStat] = {
    val out = ArrayBuffer[OpStat]()
    val passes = w.passes()
    val t0 = System.nanoTime()
    while (out.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L)
      passes.next().foreach { op =>
        tr.run += 1
        out += attempt(op(tr))
      }
    out.toSeq
  }

  /** An operation; an exception makes it a failed one. */
  def attempt(op: => OpStat): OpStat = {
    val t1 = System.nanoTime()
    try op catch {
      case NonFatal(e) => OpStat("error", "", (System.nanoTime() - t1) / 1e9,
        0, Nil, Some(e.toString.linesIterator.next()))
    }
  }

  def passCount(w: Workload, ops: Seq[OpStat]): Double =
    ops.size.toDouble / w.opsPerPass

  /** Items of one pass over the median pass time. A pass is one
    * operation, or the whole query set of the sweep. */
  def throughput(w: Workload, ops: Seq[OpStat]): Double = {
    val per = w.opsPerPass
    val passTimes = ops.grouped(per).filter(_.size == per)
      .map(_.map(_.seconds).sum).toSeq
    ops.take(per).map(_.items).sum / Stats.median(passTimes)
  }

  def endToEnd(w: Workload, ops: Seq[OpStat], setupS: Double)
      : Seq[(String, Double, String)] = Seq(
    ("throughput", throughput(w, ops), "1/s"),
    ("op_p50_s", Stats.median(ops.map(_.seconds)), "s"),
    ("setup_s", setupS, "s"))

  /** Steal and total jiffies of all CPUs so far (/proc/stat): the
    * share of time the hypervisor ran something else. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }
  def stealRatio(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Traced window with the Spark listener and codegen counter on. */
  def withProbe(w: Workload, tr: Tracer, seconds: Int)
      : (Seq[OpStat], SparkProbe, CodegenCounter.Counts, Double) = {
    val sc = w.session.sparkContext
    val probe = new SparkProbe
    tr.sc = Some(sc)
    CodegenCounter.install()
    val c0 = CodegenCounter.snapshot()
    sc.addSparkListener(probe)
    val t0 = System.nanoTime()
    val ops = try window(w, seconds, tr) finally {
      org.apache.spark.GraftSparkBridge.waitListenerEmpty(sc)
      sc.removeSparkListener(probe)
      CodegenCounter.uninstall()
      tr.sc = None
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    (ops, probe, CodegenCounter.since(c0), wallMs)
  }

  /** The `queries` layer outside the sweep: one pass of the sweep's
    * query set (warm-up queries first) in a session of its own, with the
    * sweep's settings, after the workload's own measurements. Stops the
    * workload's session. Returns the warm-up, the queries and the
    * codegen events of the queries. */
  def queryPass(w: Workload, ctx: Ctx)
      : (OpStat, Seq[OpStat], CodegenCounter.Counts) = {
    World.stop(w.session)
    val sw = new SweepWorkload(ctx)
    sw.setup()
    val off = new Tracer(false)
    try {
      val warm = attempt(sw.warmup(off))
      CodegenCounter.install()
      val c0 = CodegenCounter.snapshot()
      val qs = try sw.passes().next().map(op => attempt(op(off)))
        finally CodegenCounter.uninstall()
      (warm, qs, CodegenCounter.since(c0))
    } finally sw.teardown()
  }

  /** Time per pass of the query set by module, plan vs execution, each
    * named query's median, and codegen fallbacks and compilations per
    * pass; all 0 without query operations. */
  def queryLayer(queries: Seq[OpStat], codegen: CodegenCounter.Counts)
      : Seq[(String, Double, String)] = {
    val qs = queries.filter(o =>
      SweepWorkload.modules.exists(_._1 == o.module))
    val passes = (qs.size.toDouble / SweepWorkload.queries.size).max(1)
    SweepWorkload.modules.map(_._1).map { mod =>
      (s"queries.${mod}_s",
        qs.filter(_.module == mod).map(_.seconds).sum / passes, "s")
    } ++ Seq(
      ("queries.plan_s", qs.map(_.planS).sum / passes, "s"),
      ("queries.exec_s", qs.map(_.execS).sum / passes, "s"),
      ("queries.codegen_fallbacks", codegen.fallbacks / passes, "count"),
      ("queries.codegen_compiles", codegen.compiles / passes, "count")) ++
    SweepWorkload.Named.map { q =>
      val xs = qs.filter(_.label.startsWith(q + "_")).map(_.seconds)
      (s"queries.${q}_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
    }
  }

  /** Every per-layer metric but the queries layer; those a workload does
    * not exercise are 0. */
  def perLayer(w: Workload, ctx: Ctx,
      traced: (Seq[OpStat], SparkProbe, CodegenCounter.Counts, Double),
      tr: Tracer, plain: Seq[OpStat]): Seq[(String, Double, String)] = {
    val (ops, probe, codegen, wallMs) = traced
    val passes = passCount(w, ops)
    val spans = tr.spans.toSeq
    val self = Tracer.selfTimes(spans)
    def total(name: String) =
      spans.filter(_.name == name).map(_.dur).sum / 1e9 / passes
    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(n: String, v: Double, u: String) = m(n) = (v, u)

    // core kernels: every workload (they do not depend on it)
    val headlineTrees = w match {
      case h: HeadlineWorkload => h.trees
      case m: ModelWorkload => m.trees
      case _ =>
        World.redirect(World.tilesDir(ctx.work), World.treesFile(ctx.work))
        Headline.loadOrFitTrees(w.session)
    }
    Layers.kernels(w.session, headlineTrees, World.tilesDir(ctx.work),
      ctx.seed).foreach { case (n, v) => put(n, v, "ns") }

    // sql ladder + 1-core baseline: headline only
    val ladderNames = Seq("sql.ladder.scan_s", "sql.ladder.explode_s",
      "sql.ladder.bands_h3_s", "sql.ladder.classify_s",
      "engine.Headline.plan_s")
    w match {
      case h: HeadlineWorkload =>
        Layers.ladder(h.session, h.trees, World.tilesDir(ctx.work))
          .foreach { case (n, v) => put(n, v, "s") }
        val slice = (ctx.seed % Headline.Slices).toInt
        val tiles = Layers.tilesInSlice(slice)
        val tN = Layers.slicePass(h.session, h.trees, slice)
        World.stop(h.session)
        val one = World.session("headline", 1, ctx.work)
        val t1 = try Layers.slicePass(one, h.trees, slice)
          finally World.stop(one)
        h.session = World.session("headline", ctx.cores, ctx.work)
        put("headline.tps_1core", tiles / t1, "1/s")
        put("headline.scaling_eff_1to4", t1 / tN / ctx.cores, "ratio")
      case _ =>
        ladderNames.foreach(put(_, 0.0, "s"))
        put("headline.tps_1core", 0.0, "1/s")
        put("headline.scaling_eff_1to4", 0.0, "ratio")
    }

    // model stages and the engine calls inside them
    Seq("classified", "expanded", "class_gtiff", "loss_masks").foreach { st =>
      put(s"model.${st}_s", total(s"model.$st"), "s")
    }
    put("engine.Expand.run_s", total("engine.Expand.run"), "s")
    put("sinks.Csv.writeClassMasks_s", total("sinks.Csv.writeClassMasks"), "s")
    put("engine.Checkpoint.stage_s", spans.filter(_.name ==
      "engine.Checkpoint.stage").map(s => self(s.id)).sum / 1e9 / passes, "s")

    // Spark, per pass (ratios as they are)
    val nJobs = probe.jobs.size
    val nStages = probe.stagesDone.size
    val sparkUnits = Map("spark.core_util" -> "ratio",
      "spark.task_skew" -> "ratio")
    SparkProbe.counts(probe.tasks.asScala.toSeq, nJobs, nStages, wallMs,
      ctx.cores, codegen).foreach { case (n, v) =>
      val ratio = sparkUnits.contains(n)
      val unit = sparkUnits.getOrElse(n,
        if (n.endsWith("_s")) "s" else if (n.endsWith("_ms")) "ms"
        else if (n.endsWith("_bytes")) "bytes" else "count")
      put(n, if (ratio) v else v / passes, unit)
    }

    // harness
    val prep = new String(Files.readAllBytes(Paths.get(
      World.prepareFile(ctx.work))))
    put("jvm.peak_rss_mb", peakRssMb(), "MB")
    put("world.tiles_materialize_s",
      Json.number(prep, "tiles_materialize_s").getOrElse(0.0), "s")
    put("bench.trace_overhead_ratio", throughput(w, ops) / throughput(w, plain),
      "ratio")
    m.toSeq.map { case (n, (v, u)) => (n, v, u) }
  }

  /** Spans (with self time and the Spark work attributed to each) as
    * JSON lines under work/trace/. */
  def writeTrace(ctx: Ctx, kind: String, tr: Tracer, probe: SparkProbe): Unit = {
    val spans = tr.spans.toSeq
    val self = Tracer.selfTimes(spans)
    val stageSpan = probe.stageSpans(spans)
    val bySpan = probe.tasks.asScala.toSeq.groupBy(t => stageSpan.getOrElse(t.stage, -1))
    val jobsBySpan = probe.jobSpans(spans).groupBy(identity).view.mapValues(_.size)
    val lines = spans.sortBy(_.start).map { s =>
      val ts = bySpan.getOrElse(s.id, Nil)
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> s.run, "start_ns" -> s.start, "end_ns" -> s.end,
        "dur_s" -> s.dur / 1e9, "self_s" -> self(s.id) / 1e9,
        "spark" -> scala.collection.immutable.ListMap(
          "jobs" -> jobsBySpan.getOrElse(s.id, 0),
          "stages" -> ts.map(_.stage).distinct.size,
          "tasks" -> ts.size,
          "task_busy_s" -> ts.map(_.duration).sum / 1000.0,
          "shuffle_write_bytes" -> ts.map(_.shufWrite).sum,
          "shuffle_read_bytes" -> ts.map(_.shufRead).sum,
          "input_bytes" -> ts.map(_.inBytes).sum,
          "output_bytes" -> ts.map(_.outBytes).sum,
          "spill_bytes" -> ts.map(_.spill).sum,
          "gc_ms" -> ts.map(_.gcMs).sum,
          "failed_tasks" -> ts.count(!_.ok))))
    }
    val dir = Paths.get(s"${ctx.work}/trace")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"$kind-seed${ctx.seed}.jsonl"),
      lines.mkString("", "\n", "\n"))
  }

  def summary(w: Workload, ctx: Ctx, warm: Seq[OpStat], ops: Seq[OpStat],
      e2e: Seq[(String, Double, String)], problems: Seq[String],
      failed: Int, attempted: Int, steal: Double): Unit = {
    val rt = Runtime.getRuntime
    val memKb = Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)
    val env = Seq("nproc" -> rt.availableProcessors, "cores" -> ctx.cores,
      "ram_mb" -> memKb / 1024, "heap_mb" -> rt.maxMemory / (1024 * 1024),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "sf_dir" -> "perfbench/data/sf0.001")
    println(s"env: ${Json.obj(env)}")
    println(s"workload ${w.kind}: ${ops.size} ops, " +
      f"${passCount(w, ops)}%.2f passes")
    println("  warm-up op seconds: " + warm.map(o => f"${o.seconds}%.2f")
      .mkString(" "))
    println("  op seconds: " + ops.map(o => f"${o.seconds}%.2f").mkString(" "))
    e2e.foreach { case (n, v, u) =>
      val shown = if (n == "throughput") s"${w.itemUnit}/s" else u
      println(f"  $n%-12s $v%.4f $shown")
    }
    Stats.tail(ops.map(_.seconds)) match {
      case Some((p, v)) => println(f"  op_tail_s    $v%.4f s (p$p%.1f of n=${ops.size})")
      case None => println(s"  op_tail_s    not reported (n=${ops.size} < 20)")
    }
    println(f"  peak_rss_mb  ${peakRssMb()}%.1f MB")
    println(f"  host steal   ${steal * 100}%.2f%% of CPU time in the window")
    println(f"  fail_ratio   ${failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted)")
    problems.take(20).foreach(p => println(s"  FAILED $p"))
  }
}
