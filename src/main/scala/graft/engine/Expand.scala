package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.world.WorldSpec

/** The nearest-neighbor "Expand" dilation (SURVEY.md §2.8 G4): the
  * reference pauses and runs ArcGIS's Expand tool by hand
  * (`Supplemental_Data_1.R:445-454`); here it is a native iterative
  * 8-neighborhood dilation: every uncertain cell (class 0) adopts the
  * minimum positive class among its 8 grid neighbors; repeated. Two
  * DOCUMENTED termination modes (never a silent cap):
  *  - `requireConvergence = true` (the fixed point): `maxIters` is an
  *    iteration BUDGET and a run that still adopts cells when it is
  *    exhausted fails loudly — partially-expanded classes must never
  *    masquerade as the fixed point;
  *  - `requireConvergence = false` (the ArcGIS analog): Expand is
  *    distance-bounded by construction (its NumberCells argument), so
  *    `maxIters` IS the semantic — exactly that many rings are filled,
  *    stopping early only when a round adopts nothing.
  * Tie-break (documented, deterministic — ArcGIS's is unspecified):
  * lowest class id wins.
  *
  * Scale design: each step is 8 derived-key equi-joins expressed as one
  * explode+join (shuffle on cell id, broadcast of the 8-offset table),
  * never a theta/range join; lineage is truncated every iteration —
  * with a RELIABLE checkpoint when the session has a checkpoint dir
  * (on a real cluster a localCheckpoint dies with any executor,
  * killing a long fixed-point run), falling back to localCheckpoint
  * otherwise (single-JVM test/bench mode); convergence = zero adopted
  * cells (a count on the adopted side only, not the full frame).
  */
object Expand {
  import Checkpoint.truncate

  /** @param cls DataFrame(cell_id: long, final_class: long) covering the
    *            grid (class 0 = uncertain).
    * @param requireConvergence fixed-point mode (fail loudly if the
    *            budget is exhausted while cells still adopt) vs
    *            fixed-distance mode (exactly `maxIters` rings)
    * @return DataFrame(cell_id, final_class, iters); iters = executed
    *         adoption rounds. */
  def run(s: SparkSession, spec: WorldSpec, cls: DataFrame,
      maxIters: Int, requireConvergence: Boolean): DataFrame = {
    import s.implicits._
    val C = spec.cols
    val offsets = for {
      dr <- Seq(-1, 0, 1); dc <- Seq(-1, 0, 1) if dr != 0 || dc != 0
    } yield (dr, dc)
    val offDF = broadcast(offsets.toDF("dr", "dc"))

    // Pin cur's partitioning to hash(cell_id) once, up front: truncate()
    // captures physical partitioning in the LogicalRDD, and every join
    // in the loop keys on cell_id — with static planning (AQE off, as
    // in the bench sessions) each iteration then shuffles only the
    // small derived sides (neighbor candidates, adopted cells), never
    // the full grid frame (plan-pinned in SparkEngineSpec). Under AQE
    // the adaptive re-planner does not see the captured partitioning
    // and re-exchanges — correct either way, just one exchange cheaper
    // without AQE.
    var cur = truncate(s, cls.select(col("cell_id"),
      col("final_class").cast("long").as("final_class"))
      .repartition(col("cell_id")))
    var iters = 0
    var converged = false
    // Adoption is detected by an accumulator counted DURING adoptedT's
    // materialization instead of a separate count() action per round
    // (the Components convergence discipline — one driver action fewer
    // per round). Exactness: only the zero/nonzero bit is consumed, and
    // that bit is retry-immune — the adopted partitions are
    // deterministic (a min-aggregate over deterministic inputs), so any
    // task attempt that counted a row saw a row the committed partition
    // also contains; over-counting can inflate the magnitude, never
    // turn an empty round nonzero.
    val adoptAcc = s.sparkContext.longAccumulator("expand_adopted")
    // (cell_id, nbr_id, nbr_class): every uncertain cell of `frame` with
    // each in-grid 8-neighbor that already has a class — one round's
    // adoption candidates
    def candidates(frame: DataFrame): DataFrame =
      frame.filter(col("final_class") === 0)
        .select(col("cell_id"),
          (spec.row0Of(col("cell_id")) + 1).as("row"),
          (spec.col0Of(col("cell_id")) + 1).as("col"))
        .crossJoin(offDF)
        .filter((col("row") + col("dr")).between(1, spec.rows) &&
          (col("col") + col("dc")).between(1, C))
        .select(col("cell_id"),
          ((col("row") + col("dr") - 1) * C + col("col") + col("dc"))
            .cast("long").as("nbr_id"))
        .join(frame.filter(col("final_class") > 0)
            .select(col("cell_id").as("nbr_id"),
              col("final_class").as("nbr_class")),
          Seq("nbr_id"))
    while (iters < maxIters && !converged) {
      val adopted = candidates(cur)
        .groupBy("cell_id").agg(min("nbr_class").as("adopted"))
      val before = adoptAcc.value
      val counted = adopted.mapPartitions { it =>
        it.map { r => adoptAcc.add(1L); r }
      }(org.apache.spark.sql.Encoders.row(adopted.schema))
      val adoptedT = truncate(s, counted)
      if (adoptAcc.value == before) converged = true
      else {
        val folded = cur.join(adoptedT, Seq("cell_id"), "left")
          .select(col("cell_id"),
            when(col("final_class") === 0, coalesce(col("adopted"), lit(0L)))
              .otherwise(col("final_class")).as("final_class"))
        // truncate every OTHER round: cur is referenced three times per
        // round (uncertain, positive neighbors, fold join), so one
        // deferred level costs re-reading materialized leaves a few
        // extra times — cheap — while halving the loop's eager
        // checkpoint actions; deeper deferral would compound 3^k
        // references, hence never more than one level
        cur = if (iters % 2 == 1 || iters == maxIters - 1) truncate(s, folded)
              else folded
        iters += 1
      }
    }
    if (requireConvergence && !converged) {
      // one more adoption probe would be needed to distinguish "budget
      // landed exactly on the fixed point" from "still adopting"; the
      // loop above already exits with converged=true in the former case
      // only when a zero-adoption round ran, so probe explicitly.
      val wouldAdopt = candidates(cur).limit(1).count()
      require(wouldAdopt == 0,
        s"Expand did not reach its fixed point within maxIters=$maxIters " +
          "rounds (cells would still adopt); raise the budget or use " +
          "requireConvergence=false for fixed-distance semantics")
    }
    cur.withColumn("iters", lit(iters))
  }
}
