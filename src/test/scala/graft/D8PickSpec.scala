package graft

import org.apache.spark.sql.functions._

/** Pins sql/Exprs.D8Pick (the compact codegen D8 steepest-descent
  * expression) bit-for-bit against the ORIGINAL Column composition it
  * replaced (Spatial.d8Candidates + d8Pick — retained in main exactly
  * as the executable spec of this equivalence), over every cell of the
  * grid. The Column form is what the DuckDB oracles mirror, so green
  * here + green oracles means the swap cannot have changed q126/q127/
  * q128 results. */
class D8PickSpec extends SparkSpec {

  test("D8Pick equals the original Column composition on every cell") {
    val spec = graft.world.World.tiny
    val terrCX = spec.cols / 8 + 1
    val (best, dirC, dstC) = graft.queries.Spatial.d8Pick
    val legacy = graft.queries.Spatial.d8Candidates(spark)
      .select(col("cell_id"), best.as("wdrop"), dirC.as("dir"),
        dstC.as("dst"))
      .orderBy("cell_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val fused = spark.range(1, spec.nCells + 1).toDF("cell_id")
      .select(col("cell_id"), graft.sql.GraftFunctions
        .d8_pick(col("cell_id"), spec.rows, spec.cols, 8, terrCX).as("d8"))
      .select(col("cell_id"), col("d8.wdrop"), col("d8.dir"), col("d8.dst"))
      .orderBy("cell_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(legacy.length == spec.nCells)
    assert(fused.toSeq == legacy.toSeq)
  }
}
