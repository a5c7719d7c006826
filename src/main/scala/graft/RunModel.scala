package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Checkpoint, Expand, Headline, Pipeline, Rasterize}
import graft.sql.GraftFunctions._

/** The COMPLETE model pipeline at the reference's true scale — stages
  * 4-13 of SURVEY.md §3.1 composed over the 1737x4008 world (6,961,896
  * cells, 86 bands) as resumable checkpointed stages, ending in the
  * reference's actual deliverables: the expanded class map as
  * georeferenced GeoTIFF tiles (R:425-441 + the ArcGIS Expand step
  * R:445-454) and the six per-class loss-mask CSVs + rasters
  * (R:510-551). Writes RUNMODEL.md with per-stage provenance.
  *
  * Scale shape: classification uses the FUSED per-pixel path (one
  * whole-stage-codegen stage, one ray-cast per pixel — same plan as the
  * benchmark); the wide feature table is never materialized. NA
  * semantics follow the reference: cells with zero loss or outside all
  * regions are NoData (-1) — Expand fills only uncertain (0) cells and
  * leaves NoData untouched.
  *
  * Run: `sbt "runMain graft.RunModel [dir]"`. Rerunning resumes from
  * the last completed stage (kill it mid-run to see).
  */
object RunModel {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_model_run")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.parquet.columnarReaderBatchSize", "32")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    val spec = Headline.spec
    Headline.ensureTiles(s)
    val trees = Headline.loadOrFitTrees(s)
    val store = new Checkpoint.Store(s, dir)
    val report = new StringBuilder
    report ++= "# RUNMODEL — full pipeline at reference scale\n\n"
    report ++= s"World: ${spec.rows} x ${spec.cols} = ${spec.nCells} cells, "
    report ++= s"${spec.nBands} bands, ${spec.nTiles} tiles of "
    report ++= s"${spec.tile}x${spec.tile} (true reference grid, R:54,117).\n\n"
    report ++= s"Session: local[$cores] (one JVM), 32 shuffle partitions.\n\n"
    report ++= "| stage | status | rows | seconds |\n|---|---|---|---|\n"

    def timed(name: String)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = f
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val how = store.log.toMap.getOrElse(name, "?")
      report ++= f"| $name | $how | $n | $sec%.1f |\n"
      df
    }

    // Stage A — per-cell classification (fused: decode + H3 + one
    // ray-cast PIP + packed-forest vote in a single codegen stage).
    // -1 = NoData (no loss or no region, the reference's NA cells).
    // the code tag invalidates snapshots when the classify path changes
    val fpCls = Checkpoint.fingerprint("classified", spec,
      "v2-banded-pip-row-tables")
    val classified = timed("classified") {
      store.stage("classified", fpCls) {
        Headline.cellClasses(s, trees)
      }
    }

    // Stage B — the Expand dilation (native ArcGIS-Expand analog;
    // distance-bounded by `iters` rings like Expand's NumberCells).
    val iters = 8
    val fpExp = Checkpoint.fingerprint("expanded", fpCls, iters)
    val expanded = timed("expanded") {
      store.stage("expanded", fpExp, Seq("classified")) {
        Expand.run(s, spec, classified, maxIters = iters,
          requireConvergence = false)
      }
    }

    // Stage C — the class map as georeferenced GeoTIFF tiles (rastOut).
    val fpRast = Checkpoint.fingerprint("class_gtiff", fpExp)
    timed("class_gtiff") {
      store.stage("class_gtiff", fpRast, Seq("expanded")) {
        Rasterize(spec,
          expanded.filter(col("final_class") >= 0), "final_class",
          fmt = "gtiff")
      }
    }

    // Stage D — per-class loss masks: dedup loss by cell, join final
    // class, then the six CSVs in one write (one shuffle on the class)
    // and the six rasters from a second pass over `joined` (R:510-551).
    val fpMask = Checkpoint.fingerprint("loss_masks", fpExp, "gtiff")
    timed("loss_masks") {
      store.stage("loss_masks", fpMask, Seq("expanded")) {
        val loss = Headline.cellLoss(s)
          .groupBy("cell_id").agg(avg("loss").as("loss_mean"))
        val joined = loss.join(
          expanded.select("cell_id", "final_class"), Seq("cell_id"))
          .filter(col("final_class") >= 0)
        graft.sinks.Csv.writeClassMasks(joined, s"$dir/csv", "final_class",
          "loss_mean", classes = 0 to 5)
        // georeferenced like the reference's six rastOut GTiff writes
        Rasterize.byClass(spec, joined, "loss_mean", "final_class",
          fmt = "gtiff")
      }
    }

    report ++= s"\nStage log: ${store.log.mkString(", ")}\n"
    report ++= s"Artifacts under $dir: stages/ (parquet snapshots), "
    report ++= "csv/LossMask_class{0..5}.csv, meta/ (fingerprint + "
    report ++= "per-partition write lineage per stage).\n"
    Files.writeString(Paths.get("RUNMODEL.md"), report.toString)
    println(report.toString)
    s.stop()
  }
}
