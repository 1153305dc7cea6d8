package graft.ipf

import org.apache.spark.sql.DataFrame
import graft.matrix.{CooMatrix, Marginals}

/** Distributed Iterative Proportional Fitting (IPF / RAS / biproportional
  * fitting) over COO matrices — the reference engine's core algorithm
  * (`/root/reference/src/cost_allocation/core.clj:82-119`): alternately
  * rescale rows to the x-marginal and columns to the y-marginal until the
  * imputed marginals converge to the known ones.
  *
  * Spark shape of one iteration: the fit targets ride on the matrix as two
  * extra columns, so a sweep is two keyed window sums (rows, then columns)
  * plus projections — no joins inside the loop. Per-iteration
  * `localCheckpoint` truncates lineage so the plan does not grow
  * O(iterations) — the classic Spark iterative-algorithm pattern.
  */
object Ipf {

  final case class Result(matrix: CooMatrix, loss: Double, iterations: Int)

  /** Reference `converge` (`core.clj:99-119`) with its exact stopping
    * semantics: stop when loss < threshold (fit good enough), |Δloss| <
    * threshold (local minimum), or iterations exhausted. The loss is the
    * reference's `rmse` (L2 of residual, no mean, `core.clj:28-30`) of the
    * x-marginal vs the row sums of the matrix *before* the step — so the
    * reported loss lags the returned matrix by one step (`core.clj:115-117`).
    * Initial loss sentinels are Integer/MAX_VALUE (`core.clj:108-109`).
    *
    * `checkpointEvery` controls how often lineage is truncated; 1 is the
    * safe default, higher values trade driver round-trips for plan size
    * (q26 runs faster at 2; numbers in `Queries.ipfConverge`).
    *
    * `lossEvery` batches the convergence check (SURVEY.md §7.4 item 1):
    * the loss is a driver-side scalar collect — a full job plus a barrier
    * per iteration — so when far from convergence it is computed only at
    * every `lossEvery`-th iteration, and the stopping rule is evaluated
    * against those boundary losses (`lossDiff` then spans a batch rather
    * than one step). With the default 1 the reference's per-iteration
    * semantics (`core.clj:111-117`) hold exactly; with k > 1 a
    * threshold-stop can overshoot by up to k−1 steps, while an
    * iteration-capped run returns the identical matrix. Whatever the
    * batching, the returned `Result.loss` is always the reference-lag loss
    * of the *final* step (recomputed after the loop when the last boundary
    * check predates it), never a stale boundary value.
    */
  def converge(
      x: DataFrame, y: DataFrame, seed: CooMatrix,
      threshold: Double = 1e-15, maxIter: Int = 1000,
      verbose: Boolean = false, checkpointEvery: Int = 1,
      lossEvery: Int = 1): Result = {
    require(maxIter >= 0 && checkpointEvery >= 1 && lossEvery >= 1)
    import org.apache.spark.sql.functions._
    import CooMatrix.{Row, Col, Value, Idx}
    // The marginals are loop constants but each sweep's TWO broadcast
    // builds (and every loss check's join) re-executed their whole
    // source subtree — for the q26 inputs that is a lineitem scan+agg
    // per consumption. Marginals are one row per fitted index — tiny by
    // the fitRowsOnePass broadcast contract — so materialize each ONCE
    // (r21); every loss check reads the cached blocks.
    val xc = x.localCheckpoint()
    val yc = y.localCheckpoint()
    // Fused sweep (r22): the fit targets are loop constants, one value
    // per row/col key, so attach them to the matrix ONCE as two extra
    // columns. Each sweep then collapses to window-sum + project — ZERO
    // joins and ZERO broadcast builds inside the loop, where the r21
    // shape still ran two BroadcastExchange builds (each its own driver
    // job + barrier) per sweep in every checkpoint-segment execution.
    // LEFT joins + post-window filters reproduce fitRowsOnePass's exact
    // drop semantics: each fit sums over the CURRENT support first, then
    // drops keys with no marginal — the drop is group-atomic in the
    // summed dimension, so every surviving cell sees the same sum and
    // the value algebra `v * (target / sum)` is unchanged cell-for-cell.
    val Tx = "__tx"; val Ty = "__ty"
    val wr = org.apache.spark.sql.expressions.Window.partitionBy(Row)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(Col)
    def fusedStep(df: DataFrame): DataFrame = {
      val rowFit = df
        .withColumn("__rs", sum(col(Value)).over(wr))
        .where(col(Tx).isNotNull)
        .withColumn(Value, col(Value) * (col(Tx) / col("__rs")))
        .drop("__rs")
      rowFit
        .withColumn("__cs", sum(col(Value)).over(wc))
        .where(col(Ty).isNotNull)
        .withColumn(Value, col(Value) * (col(Ty) / col("__cs")))
        .drop("__cs")
    }
    // CooMatrix.checkpointed keeps every column, so the attached targets
    // survive the stats-resetting re-wrap.
    def ckpt(df: DataFrame): DataFrame = CooMatrix(df).checkpointed().df
    def asCoo(df: DataFrame): CooMatrix =
      CooMatrix(df.select(col(Row), col(Col), col(Value)))
    var fused = ckpt(seed.df
      .join(broadcast(xc.select(col(Idx).as(Row), col(Value).as(Tx))), Seq(Row), "left")
      .join(broadcast(yc.select(col(Idx).as(Col), col(Value).as(Ty))), Seq(Col), "left")
      .select(col(Row), col(Col), col(Value), col(Tx), col(Ty)))
    var prev = fused           // matrix before the most recent step
    var lastLoss = Int.MaxValue.toDouble
    var lossDiff = Int.MaxValue.toDouble
    var lossIsFinal = false    // lastLoss was computed for the last executed step
    var iteration = maxIter
    while (!(lastLoss < threshold || lossDiff < threshold || iteration == 0)) {
      var next = fusedStep(fused)
      val k = maxIter - iteration
      if (k % checkpointEvery == 0) next = ckpt(next)
      if (k % lossEvery == 0) {
        val loss = Marginals.rmse(xc, asCoo(fused).sumRows)
        lossDiff = math.abs(lastLoss - loss)
        lastLoss = loss
        lossIsFinal = true
        if (verbose) println(s"loss=$lastLoss diff=$lossDiff iter=$iteration")
      } else {
        lossIsFinal = false
        if (verbose) println(s"loss=<batched, next check in ${lossEvery - k % lossEvery}> iter=$iteration")
      }
      prev = fused
      fused = next; iteration -= 1
    }
    // With lossEvery > 1 the loop can exit on the iteration cap between
    // boundary checks; recompute so Result.loss is the final step's
    // reference-lag loss (rmse of x vs the pre-step row sums), not a value
    // up to lossEvery-1 steps stale.
    val finalLoss =
      if (iteration == maxIter || lossIsFinal) lastLoss
      else Marginals.rmse(xc, asCoo(prev).sumRows)
    Result(asCoo(fused), finalLoss, maxIter - iteration)
  }
}
