package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.engine.{Headline, Pipeline}

/** The COMPLETE model pipeline at the reference's true scale —
  * `Pipeline.runModel` (stages 4-13 of SURVEY.md §3.1) over the
  * 1737x4008 world (6,961,896 cells, 86 bands) as resumable
  * checkpointed stages, ending in the reference's actual deliverables:
  * the expanded class map as georeferenced GeoTIFF tiles (R:425-441 +
  * the ArcGIS Expand step R:445-454) and the six per-class loss-mask
  * CSVs + rasters (R:510-551). Writes `dir`/RUNMODEL.md with per-stage
  * provenance (seconds per stage exclude the row count).
  *
  * Scale shape: the classified stage is `Pipeline.classes` over the
  * fused cell frame, one whole-stage-codegen stage in which each pixel
  * takes its region from the block cover (`Covering`, a ray-cast only
  * in blocks a region boundary crosses) and votes the packed forest
  * (the headline benchmark instead makes one `TileZonal` call per
  * tile); the wide feature table is never materialized. NA
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
    val (store, stages) = Pipeline.runModel(s, spec,
      Headline.readTiles(s), Headline.polys, trees,
      Pipeline.Config(), dir)
    val report = new StringBuilder
    report ++= "# RUNMODEL — full pipeline at reference scale\n\n"
    report ++= s"World: ${spec.rows} x ${spec.cols} = ${spec.nCells} cells, "
    report ++= s"${spec.nBands} bands, ${spec.nTiles} tiles of "
    report ++= s"${spec.tile}x${spec.tile} (true reference grid, R:54,117).\n\n"
    report ++= s"Session: local[$cores] (one JVM), 32 shuffle partitions.\n\n"
    report ++= "| stage | status | rows | seconds |\n|---|---|---|---|\n"
    val how = store.log.toMap
    stages.foreach { st =>
      report ++= f"| ${st.name} | ${how(st.name)} | ${st.df.count()} | ${st.seconds}%.1f |\n"
    }

    report ++= s"\nStage log: ${store.log.mkString(", ")}\n"
    report ++= s"Artifacts under $dir: stages/ (parquet snapshots), "
    report ++= "csv/LossMask_class{0..5}.csv, meta/ (fingerprint + "
    report ++= "per-partition write lineage per stage).\n"
    Files.writeString(Paths.get(dir, "RUNMODEL.md"), report.toString)
    println(report.toString)
    s.stop()
  }
}
