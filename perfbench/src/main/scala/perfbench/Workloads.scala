package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Cart
import graft.engine.{Checkpoint, Expand, Headline, Rasterize}

/** What the harness knows about one run. */
final case class Ctx(work: String, cores: Int, seed: Long)

/** One checked output of an operation: a key, its row count and an
  * order-insensitive digest. */
final case class Obs(key: String, rows: Long, digest: String)

/** One timed operation: a headline pass, a model run or a query. */
final case class OpStat(label: String, module: String, seconds: Double,
    items: Long, obs: Seq[Obs], problem: Option[String] = None,
    planS: Double = 0, execS: Double = 0)

/** A closed-loop workload with one caller: the next operation starts
  * when the previous one has returned. */
trait Workload {
  def kind: String
  /** What `throughput` counts per second. */
  def itemUnit: String
  def ctx: Ctx
  def session: SparkSession
  /** Start a session and load the inputs (after `teardown`, if any). */
  def setup(): Unit
  def teardown(): Unit = World.stop(session)
  /** One operation run after set-up, before the window. */
  def warmup(tr: Tracer): OpStat
  /** Warm-up operations before the window. The first operation of a
    * JVM takes 3-4x as long as later ones and the next few still fall
    * while the JIT compiles; the window starts past the steep part. */
  def warmups: Int = 3
  /** Passes of operations; a window runs whole passes. */
  def passes(): Iterator[Seq[Tracer => OpStat]]
  def opsPerPass: Int = 1

  protected def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Workload {
  def apply(kind: String, ctx: Ctx): Workload = kind match {
    case "headline" => new HeadlineWorkload(ctx)
    case "model" => new ModelWorkload(ctx)
    case "sweep" => new SweepWorkload(ctx)
    case other => sys.error(s"unknown workload $other")
  }
}

/** Fresh-plan `Headline.plan` passes over the full 1737 x 4008 x 86-band
  * tile table, planning included, collecting the zonal aggregate. */
final class HeadlineWorkload(val ctx: Ctx) extends Workload {
  val kind = "headline"
  val itemUnit = "tiles"
  var session: SparkSession = _
  var trees: Map[(Int, Int), Cart.Tree] = _

  def setup(): Unit = {
    World.redirect(World.tilesDir(ctx.work), World.treesFile(ctx.work))
    session = World.session(kind, ctx.cores, ctx.work)
    trees = Headline.loadOrFitTrees(session)
  }

  def pass(tr: Tracer): OpStat = {
    val (rows, sec) = timed {
      tr.span("headline.pass") {
        val df = tr.span("engine.Headline.plan") {
          val d = Headline.plan(session, trees)
          d.queryExecution.executedPlan
          d
        }
        tr.span("exec") { df.collect().toSeq }
      }
    }
    OpStat("pass", "engine", sec, Headline.spec.nTiles,
      Seq(Obs("zonal", rows.size, Digest.rows(rows))))
  }

  def warmup(tr: Tracer): OpStat = pass(tr)
  def passes(): Iterator[Seq[Tracer => OpStat]] =
    Iterator.continually(Seq(pass _))
}

/** The four RunModel stages (classified -> expanded -> class_gtiff ->
  * loss_masks), composed from the same public calls, fingerprints and
  * session settings as `graft.RunModel`, over the first
  * `World.ModelTiles` tiles of the true grid. Each run uses a
  * fresh `Checkpoint.Store` directory and must compute every stage. */
final class ModelWorkload(val ctx: Ctx) extends Workload {
  val kind = "model"
  val itemUnit = "cells"
  var session: SparkSession = _
  var trees: Map[(Int, Int), Cart.Tree] = _
  private var runs = 0
  val Stages = Seq("classified", "expanded", "class_gtiff", "loss_masks")

  def setup(): Unit = {
    World.redirect(World.modelTilesDir(ctx.work), World.treesFile(ctx.work))
    session = World.session(kind, ctx.cores, ctx.work)
    trees = Headline.loadOrFitTrees(session)
  }

  def run(tr: Tracer): OpStat = {
    runs += 1
    val dir = s"${ctx.work}/model/run-$runs"
    Prepare.deleteTree(Paths.get(dir))
    val s = session
    val spec = Headline.spec
    val store = new Checkpoint.Store(s, dir)
    val counts = scala.collection.mutable.ArrayBuffer[Obs]()
    def stage(name: String, fp: String, inputs: Seq[String])(
        body: => DataFrame): DataFrame = tr.span("engine.Checkpoint.stage") {
      val df = store.stage(name, fp, inputs)(body)
      counts += Obs(s"stage:$name", df.count(), "-")
      df
    }
    val (_, sec) = timed {
      tr.span("model.run") {
        val fpCls = Checkpoint.fingerprint("classified", spec,
          "v2-banded-pip-row-tables")
        val classified = tr.span("model.classified") {
          stage("classified", fpCls, Nil)(Headline.cellClasses(s, trees))
        }
        val iters = 8
        val fpExp = Checkpoint.fingerprint("expanded", fpCls, iters)
        val expanded = tr.span("model.expanded") {
          stage("expanded", fpExp, Seq("classified")) {
            tr.span("engine.Expand.run") {
              Expand.run(s, spec, classified, maxIters = iters,
                requireConvergence = false)
            }
          }
        }
        val fpRast = Checkpoint.fingerprint("class_gtiff", fpExp)
        tr.span("model.class_gtiff") {
          stage("class_gtiff", fpRast, Seq("expanded")) {
            Rasterize(spec, expanded.filter(col("final_class") >= 0),
              "final_class", fmt = "gtiff")
          }
        }
        val fpMask = Checkpoint.fingerprint("loss_masks", fpExp, "gtiff")
        tr.span("model.loss_masks") {
          stage("loss_masks", fpMask, Seq("expanded")) {
            val loss = Headline.cellLoss(s)
              .groupBy("cell_id").agg(avg("loss").as("loss_mean"))
            val joined = loss.join(
              expanded.select("cell_id", "final_class"), Seq("cell_id"))
              .filter(col("final_class") >= 0)
            tr.span("sinks.Csv.writeClassMasks") {
              graft.sinks.Csv.writeClassMasks(joined, s"$dir/csv",
                "final_class", "loss_mean", classes = 0 to 5)
            }
            Rasterize.byClass(spec, joined, "loss_mean", "final_class",
              fmt = "gtiff")
          }
        }
      }
    }
    val log = store.log.toList
    val problem =
      if (log != Stages.map(_ -> "computed"))
        Some(s"stage log $log, expected every stage computed")
      else None
    val csv = (0 to 5).map { k =>
      val lines = csvLines(Paths.get(s"$dir/csv/LossMask_class$k.csv"))
      Obs(s"csv:class$k", lines.size, Digest.lines(lines))
    }
    Prepare.deleteTree(Paths.get(dir))
    OpStat("run", "engine", sec, World.modelCells, counts.toSeq ++ csv,
      problem)
  }

  /** Data lines of a single-file CSV output directory. */
  private def csvLines(dir: Path): Seq[String] = {
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq
    parts.flatMap(p => Files.readAllLines(p).asScala.drop(1))
  }

  def warmup(tr: Tracer): OpStat = run(tr)
  def passes(): Iterator[Seq[Tracer => OpStat]] =
    Iterator.continually(Seq(run _))

}

/** Registry queries at sf0.001, each a fresh plan plus an action, in a
  * fixed set and order (`SweepWorkload.queries`). The order is not
  * seeded: a query runs slower when it comes early, before the JIT has
  * compiled the planner, so a seeded order moved the per-run median by
  * 30% between seeds. */
final class SweepWorkload(val ctx: Ctx) extends Workload {
  val kind = "sweep"
  val itemUnit = "queries"
  var session: SparkSession = _
  val dir: String = World.sfDir(ctx.work)

  def setup(): Unit = session = World.session(kind, ctx.cores, ctx.work)

  /** Three small queries outside the measured set warm the planner. */
  def warmup(tr: Tracer): OpStat = {
    val ops = SweepWorkload.warmups.map(q => query(q)(tr))
    OpStat("warmup", "harness", ops.map(_.seconds).sum, ops.size,
      ops.flatMap(_.obs))
  }
  override def warmups: Int = 1

  /** One query: a fresh plan, forced to a physical plan, then collect. */
  def query(q: SweepWorkload.Entry)(tr: Tracer): OpStat = {
    val t0 = System.nanoTime()
    val (rows, planS, execS) = tr.span(s"queries.${q.module}") {
      tr.span(s"query ${q.name}") {
        val (df, p) = timed {
          tr.span("plan") {
            val d = q.run(session, dir)
            d.queryExecution.executedPlan
            d
          }
        }
        val (rs, e) = timed(tr.span("exec")(df.collect().toSeq))
        (rs, p, e)
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    OpStat(q.name, q.module, sec, 1,
      Seq(Obs(q.name, rows.size, Digest.rows(rows))), None, planS, execS)
  }

  def passes(): Iterator[Seq[Tracer => OpStat]] =
    Iterator.continually(SweepWorkload.queries.map(q => query(q) _))
  override def opsPerPass: Int = SweepWorkload.queries.size
}

object SweepWorkload {
  final case class Entry(name: String, module: String,
      run: (SparkSession, String) => DataFrame)

  /** Queries ROADMAP names as optimization targets. */
  val Named: Seq[String] = Seq("q24", "q29", "q30", "q53", "q56", "q59",
    "q88", "q109", "q122", "q129", "q192", "q199")

  val modules: Seq[(String, Seq[graft.queries.Q])] = Seq(
    "Relational" -> graft.queries.Relational.all,
    "Spatial" -> graft.queries.Spatial.all,
    "TextOps" -> graft.queries.TextOps.all,
    "Audio" -> graft.queries.Audio.all,
    "Video" -> graft.queries.Video.all)

  private val all = modules.flatMap { case (m, qs) =>
    qs.map(q => Entry(q.name, m, q.run)) }

  /** The fixed query set: the named queries plus the first query of
    * every module they miss (Audio, Video), in registry order. A full
    * registry pass takes over a minute on 4 cores, longer than a run. */
  val queries: Seq[Entry] = {
    def named(e: Entry) = Named.exists(n => e.name.startsWith(n + "_"))
    val picked = all.filter(named(_))
    val missing = modules.map(_._1).filterNot(m => picked.exists(_.module == m))
      .flatMap(m => all.find(_.module == m))
    val set = (picked ++ missing).map(_.name).toSet
    all.filter(e => set(e.name))
  }

  val warmups: Seq[Entry] = Seq("q01_agg_sum", "q02_filter_project",
    "q03_left_join_nafill").map(n => all.find(_.name == n).get)
}
