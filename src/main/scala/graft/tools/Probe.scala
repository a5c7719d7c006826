package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.matching.Regex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.SparkEntry
import graft.engine.Headline
import graft.queries.TextOps

/** Developer probe for single registry queries (the driver surfaces are
  * Verify, Bench and RunModel; headline and model timings live in the
  * perfbench harness):
  * {{{
  * sbt "runMain graft.tools.Probe <subcommand> <args>"
  *   plan <name|headline>...   formatted physical plan, AQE off, with
  *                             run-dependent ids renumbered
  *   sql <name>                oracle SQL (runs q52-style fits first)
  *   verify <name> [outDir]    parquet + one-entry oracle_sql.json
  *   time [k=v,...] <name>...  best-of-3 noop-sink seconds + job count
  * }}}
  * Every subcommand runs in one session shape: local[SPARK_GRAFT_CPUS]
  * (default: all cores) with as many shuffle partitions, UI off, UTC,
  * over the tables in SPARK_GRAFT_SF_DIR (default sf0.01).
  *
  * `time`'s job counts are reproducible only with AQE off: with AQE on
  * (the session default) the same code moves by a job or two from run
  * to run (q30: 59-61, q115: 46-47). Compare job counts with
  * `Probe time spark.sql.adaptive.enabled=false <name>...`. */
object Probe {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val code = try run(args)
      finally SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(code)
  }

  /** Runs one subcommand, printing results to stdout; returns the exit
    * code (2 = usage error). `spark` is only built by subcommands that
    * need a session. */
  def run(args: Array[String],
      sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.01"),
      spark: => SparkSession = session()): Int = {
    lazy val s = spark
    val queries = SparkEntry.queries
    def known(names: Seq[String], valid: String => Boolean): Boolean =
      names.nonEmpty && names.forall(valid)
    args.toList match {
      case "plan" :: names
          if known(names, n => n == "headline" || queries.contains(n)) =>
        s.conf.set("spark.sql.adaptive.enabled", "false")
        names.foreach { n =>
          val df =
            if (n == "headline") {
              Headline.ensureTiles(s)
              Headline.plan(s, Headline.loadOrFitTrees(s))
            } else queries(n)(s, sfDir)
          val plan = df.queryExecution.explainString(FormattedMode)
          println(s"## $n\n${canonical(plan)}")
        }
        0
      case List("sql", n) if SparkEntry.oracleSql.contains(n) =>
        // fit-dependent oracles (q52's IVF centroids) only exist once the
        // query has run in this JVM; its fit log goes to stderr so stdout
        // is exactly the SQL
        if (SparkEntry.oracleSql(n) == TextOps.PreFitSentinel)
          Console.withOut(Console.err)(queries(n)(s, sfDir).collect())
        println(SparkEntry.oracleSql(n))
        0
      case "verify" :: n :: out if out.size <= 1 && queries.contains(n) =>
        val outDir = out.headOption.getOrElse("/tmp/verify_one")
        queries(n)(s, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$n")
        val json = SparkEntry.oracleSql.get(n)
          .map(sql => s"{${jsonString(n)}: ${jsonString(sql)}}")
          .getOrElse("{}")
        Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
        println(s"wrote $outDir/$n and $outDir/oracle_sql.json")
        0
      case "time" :: rest =>
        val (confs, names) = rest.span(_.contains('='))
        val kvs = confs.flatMap(_.split(',')).filter(_.nonEmpty)
          .map(_.split("=", 2))
        if (confs.size > 1 || kvs.exists(_.length != 2) ||
            !known(names, queries.contains)) usage(queries.keys)
        else {
          kvs.foreach(kv => s.conf.set(kv(0), kv(1)))
          time(s, sfDir, names.map(n => n -> queries(n)))
          0
        }
      case _ => usage(queries.keys)
    }
  }

  /** `plan` with its run-dependent numbers renumbered by order of first
    * appearance: expression ids (`#123`), exchange `plan_id`s, RDD ids
    * and the JVM identity hashes of object literals (`[I@1ad83fd7`). Each
    * kind counts from 1, so two runs of one plan print the same text. */
  private def canonical(plan: String): String =
    Seq("(#)(\\d+)", "(plan_id=)(\\d+)", "(RDD\\[)(\\d+)",
      "([\\w;$\\]]@)([0-9a-f]+)\\b").foldLeft(plan) { (text, pattern) =>
      val seen = scala.collection.mutable.Map[String, Int]()
      pattern.r.replaceAllIn(text, m => Regex.quoteReplacement(
        m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size + 1)))
    }

  private def usage(names: Iterable[String]): Int = {
    Console.err.println(
      """usage: Probe plan <name|headline>...
        |       Probe sql <name>
        |       Probe verify <name> [outDir]
        |       Probe time [k=v,...] <name>...
        |job counts repeat only with AQE off:
        |       Probe time spark.sql.adaptive.enabled=false <name>...
        |registered queries:""".stripMargin)
    Console.err.println(names.toSeq.sorted.mkString("  ", "\n  ", ""))
    2
  }

  /** Best-of-3 noop-sink seconds per query (the noop sink computes every
    * column of every row with no sink cost) and the Spark job count of
    * the best pass, jobs launched while building the DataFrame included.
    * Job starts are tagged with the pass's job group; a marker job after
    * the passes guarantees the listener has seen every earlier start. */
  private def time(s: SparkSession, sfDir: String,
      named: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val sc = s.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    })
    // session and codegen init, as the sweep's warmup absorbs it
    s.read.parquet(s"$sfDir/region.parquet").groupBy("r_regionkey").count().count()
    def inGroup[T](g: String)(f: => T): T = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    named.foreach { case (n, query) =>
      val passes = (1 to 3).map { p =>
        val g = s"probe $n pass $p"
        inGroup(g) {
          val t0 = System.nanoTime()
          noop(query(s, sfDir))
          g -> (System.nanoTime() - t0) / 1e9
        }
      }
      inGroup("probe marker")(sc.parallelize(Seq(1), 1).count())
      while (!groups.contains("probe marker")) Thread.sleep(10)
      groups.remove("probe marker")
      val (g, best) = passes.minBy(_._2)
      val jobs = groups.toArray.count(_ == g)
      groups.clear() // a repeated name reuses the same pass groups
      println(f"[probe] $n: $best%.3f s, $jobs jobs")
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JSON string literal: quote, backslash and every control char
    * escaped, so `json.load` in check_oracle.py accepts any SQL. */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
