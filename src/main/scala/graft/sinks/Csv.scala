package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CSV sink (SURVEY.md §2.2 K1) — the reference's only output format
  * (`write_csv`, R:354,393,503,525-550): headers on, rows in an
  * explicit sort order (Spark has no implicit order, SURVEY §2.7 U2),
  * one part file per report. */
object Csv {

  /** The per-class loss-mask CSV fan-out (R:524-550): one
    * `LossMask_class<k>.csv` per class value `k` in `classes`, each
    * holding the (cell_id, <valueCol>) rows of class k sorted by cell_id
    * under a header, in one part file beside a `_SUCCESS` marker —
    * byte for byte what a sorted `coalesce(1)` CSV write per class
    * gives.
    *
    * All classes come out of ONE pass over `df`: a hash repartition on
    * the class puts each class in one task, which writes it sorted into
    * its `<classCol>=<k>` directory of a temp dir under `dir`; each of
    * those directories is then renamed to its class file. Rows of
    * classes outside `classes` are dropped. A class with no rows gets a
    * header-only file, as the single-file write of an empty frame does. */
  def writeClassMasks(df: DataFrame, dir: String, classCol: String,
      valueCol: String, classes: Seq[Int]): Unit = {
    val tmp = new Path(dir, s"_class_masks-${java.util.UUID.randomUUID()}")
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    try {
      // the int cast names every class directory `<classCol>=<k>`,
      // whatever numeric type the class column has
      df.filter(col(classCol).isin(classes: _*))
        .select(col(classCol).cast("int").as(classCol), col("cell_id"),
          col(valueCol))
        .repartition(col(classCol))
        .sortWithinPartitions(classCol, "cell_id")
        .write.partitionBy(classCol).option("header", "true")
        .csv(tmp.toString)
      classes.distinct.foreach { k =>
        val out = new Path(dir, s"LossMask_class$k.csv")
        fs.delete(out, true)
        val written = new Path(tmp, s"$classCol=$k")
        if (fs.exists(written))
          require(fs.rename(written, out), s"cannot rename $written to $out")
        else {
          val header = fs.create(new Path(out, "part-00000.csv"))
          try header.write(s"cell_id,$valueCol\n".getBytes(UTF_8))
          finally header.close()
        }
        fs.create(new Path(out, "_SUCCESS")).close()
      }
    } finally fs.delete(tmp, true)
  }
}
