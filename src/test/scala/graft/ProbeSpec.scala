package graft

import java.io.ByteArrayOutputStream
import scala.sys.process._
import graft.tools.Probe

/** Probe's subcommands, run in-process on sf0.001 against this suite's
  * session, with stdout and stderr captured through Console. */
class ProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (exit code, stdout, stderr) of one Probe run. */
  private def probe(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Console.withOut(out)(Console.withErr(err)(
      Probe.run(args.toArray, sfDir, spark)))
    (code, out.toString, err.toString)
  }

  test("plan prints the formatted physical plan with AQE off") {
    val (code, out, _) = probe("plan", "q01_agg_sum")
    assert(code == 0)
    assert(out.contains("== Physical Plan =="), out)
    assert(!out.contains("AdaptiveSparkPlan"), out)
    // a second build of a plan gets fresh expression ids, plan ids, RDD
    // ids and forest/polygon arrays; the printed plans must not differ
    val q29 = "q29_tree_fit_predict"
    val (code2, twice, _) = probe("plan", q29, q29)
    assert(code2 == 0)
    val sections = twice.split(s"## $q29\n").toSeq.filter(_.nonEmpty)
    assert(sections.size == 2, twice)
    assert(sections(0) == sections(1), twice)
  }

  test("sql prints the registered oracle SQL") {
    val (code, out, _) = probe("sql", "q04_dim_join")
    assert(code == 0)
    assert(out == SparkEntry.oracleSql("q04_dim_join") + "\n")
  }

  test("sql runs a fit-dependent query before printing its oracle") {
    val (code, out, _) = probe("sql", "q52_ann_ivf")
    assert(code == 0)
    assert(!out.contains(graft.queries.TextOps.PreFitSentinel), out)
    assert(out == SparkEntry.oracleSql("q52_ann_ivf") + "\n")
  }

  test("verify writes the query's rows and a one-entry oracle_sql.json") {
    val name = "q04_dim_join"
    val dir = graft.util.TempDirs.create("probe_verify").toString
    val (code, _, _) = probe("verify", name, dir)
    assert(code == 0)
    val got = spark.read.parquet(s"$dir/$name")
    val want = SparkEntry.queries(name)(spark, sfDir)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // json.load must accept the file and map the name to the exact SQL
    val check = "import json, sys; a = sys.argv; " +
      "sys.exit(json.load(open(a[1])) != {a[2]: a[3]})"
    assert(Seq("python3", "-c", check, s"$dir/oracle_sql.json", name,
      SparkEntry.oracleSql(name)).! == 0)
  }

  test("time prints best-of-3 seconds and the best pass's job count") {
    val (code, out, _) = probe("time", "spark.sql.adaptive.enabled=false",
      "q01_agg_sum", "q01_agg_sum")
    assert(code == 0)
    val line = """\[probe\] q01_agg_sum: [0-9.]+ s, (\d+) jobs""".r
    val jobs = line.findAllMatchIn(out).map(_.group(1).toInt).toSeq
    // a repeated name counts only its own passes' jobs
    assert(jobs.size == 2 && jobs.head >= 1 && jobs.distinct.size == 1, out)
  }

  test("an unknown subcommand or query name exits 2 with the usage list " +
    "and no stack trace") {
    val bad = Seq(Seq(), Seq("explain", "q01_agg_sum"),
      Seq("plan", "q00_none"), Seq("sql", "q00_none"),
      Seq("verify", "q00_none"), Seq("time", "q00_none"),
      Seq("time", "spark.sql.adaptive.enabled=false,oops", "q01_agg_sum"))
    bad.foreach { args =>
      val (code, out, err) = probe(args: _*)
      assert(code == 2, args)
      assert(out.isEmpty, args)
      assert(err.contains("usage: Probe plan") && err.contains("q01_agg_sum"),
        err)
      assert(!err.contains("Exception") && !err.contains("\tat "), err)
    }
  }
}
