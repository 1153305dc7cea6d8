package graft.ipf

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.matrix.{CooMatrix, Marginals}

/** Iterative Proportional Fitting (IPF / RAS / biproportional fitting)
  * over COO matrices — the reference engine's core algorithm
  * (`/root/reference/src/cost_allocation/core.clj:82-119`): alternately
  * rescale rows to the x-marginal and columns to the y-marginal until the
  * imputed marginals converge to the known ones.
  *
  * Two execution paths share one stopping rule, chosen by the size of the
  * input alone. One intake job counts the seed, which picks the path, and
  * brings back the seed and both marginals for the driver path:
  *
  *  - Driver path, for seeds of at most [[DriverCells]] cells: the fit
  *    targets are attached to the seed's cells on the driver and every
  *    sweep runs on primitive arrays, keys interned to `Int` ids. The fit
  *    costs no job after the intake and returns a local relation. A Spark
  *    sweep costs 7 jobs of ~50 ms each however small the matrix, so on a
  *    reference-sized problem a distributed fit is all overhead (McSherry,
  *    Isard and Murray, "Scalability! But at what COST?", HotOS 2015).
  *  - Distributed path, above it: the fit targets ride on the matrix as
  *    two extra columns, so a sweep is two keyed window sums (rows, then
  *    columns) plus projections — no joins inside the loop. Every sweep
  *    ends in a `localCheckpoint`, which truncates lineage so the plan
  *    does not grow O(iterations) (the classic Spark iterative-algorithm
  *    pattern), and the next loss check reads that checkpoint. A sweep
  *    costs 7 Spark jobs: the checkpoint and the loss check with their
  *    AQE stage jobs (`IpfSpec` pins the figure).
  *
  * Checkpoint cadence, measured on a generated 12,000 × 168 seed
  * (2,016,000 cells, Zipf row masses, equal-mass marginals), 8 sweeps,
  * converge + count, 10 warm alternating pairs (4-vCPU VM, local[4]):
  * a checkpoint every sweep took median 21.2 s (quartiles 20.7-22.1),
  * every other sweep 22.3 s (21.7-23.4), and every other sweep was faster
  * in 1 pair of 10. Both ran 62 jobs: a state that is not checkpointed
  * is computed twice, by its loss check and again by the next checkpoint.
  */
object Ipf {

  final case class Result(matrix: CooMatrix, loss: Double, iterations: Int)

  /** Largest seed, in cells, that [[converge]] fits on the driver: a few
    * tens of MB of driver heap, far below `spark.driver.maxResultSize`'s
    * 1 GB default. At about a quarter of it the driver path wins by 2-6x,
    * so no crossover lies below it (4-vCPU VM, local[4], warm JVM):
    *  - `perfbench` `alloc_large`, 48,000 × 168 with ~240k cells to
    *    tolerance 1e-3, `op_p50_s` over two seeds: driver 2.25 and 2.45 s,
    *    distributed 14.25 and 14.24 s;
    *  - q26's converge + count at sf0.1 (220,214 cells, 8 sweeps), 7
    *    alternating pairs: driver median 2.97 s (quartiles 2.51-3.04),
    *    distributed 6.07 s (5.51-6.23), the driver faster in every pair.
    * The driver path also wins above it, on the cadence probe of the
    * [[Ipf]] scaladoc (2,016,000 cells, forced, 5 warm reps): median
    * 15.6 s (quartiles 15.4-16.0) against the distributed 21.2 s. */
  private val DriverCells = 1 << 20

  /** Reference `converge` (`core.clj:99-119`) with its exact stopping
    * semantics: stop when loss < threshold (fit good enough), |Δloss| <
    * threshold (local minimum), or iterations exhausted. The loss is the
    * reference's `rmse` (L2 of residual, no mean, `core.clj:28-30`) of the
    * x-marginal vs the row sums of the matrix *before* the step — so the
    * reported loss lags the returned matrix by one step (`core.clj:115-117`).
    * Initial loss sentinels are Integer/MAX_VALUE (`core.clj:108-109`).
    *
    * A seed of at most [[DriverCells]] cells is fitted on the driver (see
    * [[Ipf]]); the result is the same up to floating-point summation
    * order, in a DataFrame with the same schema.
    */
  def converge(
      x: DataFrame, y: DataFrame, seed: CooMatrix,
      threshold: Double = 1e-15, maxIter: Int = 1000,
      verbose: Boolean = false): Result =
    solve(x, y, seed, threshold, maxIter, verbose, _ <= DriverCells)

  /** [[converge]] with the path chosen by `onDriver(cells)`, the seed's
    * cell count; tests force either path with it. A seed with a partition
    * over its [[intake]] share runs distributed. */
  private[ipf] def solve(
      x: DataFrame, y: DataFrame, seed: CooMatrix,
      threshold: Double, maxIter: Int, verbose: Boolean,
      onDriver: Long => Boolean): Result = {
    require(maxIter >= 0)
    import org.apache.spark.sql.functions._
    import CooMatrix.{Row, Col, Value, Idx}
    // x, y and the seed are loop constants, materialized once, lazily, by
    // the intake job: x is read by every loss check (unmaterialized, each
    // check would re-run its source, for q26 a lineitem scan+agg), y and
    // the seed by the distributed path's fused seed.
    val (xc, yc) = (x.localCheckpoint(eager = false), y.localCheckpoint(eager = false))
    val cells = seed.df.select(col(Row), col(Col), col(Value)).localCheckpoint(eager = false)
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
    val spark = cells.sparkSession
    intake(cells, xc, yc, onDriver).map { case (seedRows, xRows, yRows) =>
      val d = new OnDriver(seedRows, xRows, yRows, spark.conf.get("spark.sql.ansi.enabled").toBoolean)
      val (s, loss, iterations) = drive(d.seed, threshold, maxIter, verbose)(d.sweep, d.loss)
      // A swept value, `value * (target / sum)`, is a nullable double.
      val value = if (iterations == 0) cells.schema(Value) else StructField(Value, DoubleType)
      val schema = StructType(Seq(cells.schema(Row), cells.schema(Col), value))
      Result(CooMatrix(spark.createDataFrame(d.rows(s), schema)), loss, iterations)
    }.getOrElse {
      val fused = ckpt(cells
        .join(broadcast(xc.select(col(Idx).as(Row), col(Value).as(Tx))), Seq(Row), "left")
        .join(broadcast(yc.select(col(Idx).as(Col), col(Value).as(Ty))), Seq(Col), "left")
        .select(col(Row), col(Col), col(Value), col(Tx), col(Ty)))
      val (m, loss, iterations) = drive(fused, threshold, maxIter, verbose)(
        df => ckpt(fusedStep(df)), df => Marginals.rmse(xc, asCoo(df).sumRows))
      Result(asCoo(m), loss, iterations)
    }
  }

  /** One job counts the seed `cells`, which picks the path, and brings the
    * driver path its cells and x's and y's rows, keys cast to the seed's
    * key types, values to doubles. A seed partition sends its cells only
    * within its share of [[DriverCells]], so no more reach the driver. */
  private def intake(cells: DataFrame, xc: DataFrame, yc: DataFrame, onDriver: Long => Boolean)
      : Option[(Array[Row], Array[Row], Array[Row])] = {
    import org.apache.spark.sql.functions.col
    import CooMatrix.{Col, Value, Idx}
    val seedRdd = cells.select(col(CooMatrix.Row), col(Col), col(Value).cast("double")).rdd
    def target(m: DataFrame, key: String) =
      m.select(col(Idx).cast(cells.schema(key).dataType), col(Value).cast("double")).rdd
    val (xRdd, yRdd) = (target(xc, CooMatrix.Row), target(yc, Col))
    val n = seedRdd.getNumPartitions
    val share = DriverCells / math.max(n, 1)
    val sc = cells.sparkSession.sparkContext
    val got = sc.runJob(sc.union(seedRdd, xRdd, yRdd), (ctx: TaskContext, it: Iterator[Row]) => {
      val keep = if (ctx.partitionId() < n) share else Int.MaxValue
      val rows = Array.newBuilder[Row]; var count = 0L
      it.foreach { r => count += 1; if (count <= keep) rows += r }
      (count, if (count <= keep) rows.result() else null)
    })
    val (seedParts, targets) = got.splitAt(n)
    val (xParts, yParts) = targets.splitAt(xRdd.getNumPartitions)
    if (seedParts.exists(_._2 == null) || !onDriver(seedParts.map(_._1).sum)) None
    else Some((seedParts.flatMap(_._2), xParts.flatMap(_._2), yParts.flatMap(_._2)))
  }

  /** The stopping rule both paths run: `step(state)` is one sweep and
    * must leave `state` intact, `loss(state)` the rmse of x against the
    * row sums of `state`. Returns the final state, its reference-lag loss
    * and the number of steps. */
  private def drive[S](init: S, threshold: Double, maxIter: Int, verbose: Boolean)(
      step: S => S, loss: S => Double): (S, Double, Int) = {
    var matrix = init
    var lastLoss = Int.MaxValue.toDouble
    var lossDiff = Int.MaxValue.toDouble
    var iteration = maxIter
    while (!(lastLoss < threshold || lossDiff < threshold || iteration == 0)) {
      val next = step(matrix)
      val l = loss(matrix)
      lossDiff = math.abs(lastLoss - l)
      lastLoss = l
      if (verbose) println(s"loss=$lastLoss diff=$lossDiff iter=$iteration")
      matrix = next; iteration -= 1
    }
    (matrix, lastLoss, maxIter - iteration)
  }

  /** The driver path's IPF over primitive arrays, with the distributed
    * sweep's semantics. `in` holds the seed's `(row, col, value)` rows, `x`
    * and `y` the marginals' `(idx, value)` rows, numbers as doubles. A null
    * value is left out of every sum, as SQL's SUM does; a zero sum under a
    * non-null value raises `DIVIDE_BY_ZERO` when `ansi` is set and makes
    * the value null otherwise, as SQL's `/` does. */
  private final class OnDriver(in: Array[Row], x: Array[Row], y: Array[Row], ansi: Boolean) {
    /** The fused seed (`row, col, value, tx, ty`) as the distributed path's
      * left joins build it: a cell once per x row of its row key and y row
      * of its column key, a missing target null. */
    private val cells = {
      def byKey(t: Array[Row]) =
        t.filterNot(_.isNullAt(0)).groupMap(_.get(0))(_.get(1)).withDefaultValue(Array[Any](null))
      val (tx, ty) = (byKey(x), byKey(y))
      for (c <- in; a <- tx(c.get(0)); b <- ty(c.get(1))) yield Row(c.get(0), c.get(1), c.get(2), a, b)
    }
    /** The cells `live` (indices into `cells`) still in the matrix, and
      * the values of all cells by index. */
    final class State(val live: Array[Int], val v: Array[Double], val isNull: Array[Boolean])

    private def intern(field: Int): (Array[Int], collection.mutable.HashMap[Any, Int]) = {
      val ids = collection.mutable.HashMap.empty[Any, Int]
      (cells.map(c => ids.getOrElseUpdate(c.get(field), ids.size)), ids)
    }
    private val (r, rowIds) = intern(0)
    private val (c, colIds) = intern(1)
    private def doubles(f: Int) = cells.map(c => if (c.isNullAt(f)) 0.0 else c.getDouble(f))
    private def nulls(f: Int) = cells.map(_.isNullAt(f))
    private val (tx, noTx, ty, noTy) = (doubles(3), nulls(3), doubles(4), nulls(4))

    def seed: State = new State(cells.indices.toArray, doubles(2), nulls(2))

    private def sums(s: State, ids: Array[Int], n: Int): Array[Double] = {
      val sum = new Array[Double](n)
      s.live.foreach(i => if (!s.isNull(i)) sum(ids(i)) += s.v(i))
      sum
    }

    /** One fit of the dimension `ids`: sum each group over the current
      * cells, drop the cells without a target, then `v * (t / sum)`. */
    private def fit(s: State, ids: Array[Int], n: Int, t: Array[Double],
        noTarget: Array[Boolean]): State = {
      val sum = sums(s, ids, n)
      val live = s.live.filterNot(noTarget(_))
      val v = s.v.clone(); val isNull = s.isNull.clone()
      live.foreach { i =>
        if (!isNull(i)) {
          val d = sum(ids(i))
          if (d != 0.0) v(i) = v(i) * (t(i) / d)
          // Spark's own ANSI division raises its DIVIDE_BY_ZERO error.
          else if (ansi) Divide(Literal(t(i)), Literal(d), EvalMode.ANSI).eval()
          else isNull(i) = true
        }
      }
      new State(live, v, isNull)
    }

    def sweep(s: State): State =
      fit(fit(s, r, rowIds.size, tx, noTx), c, colIds.size, ty, noTy)

    /** `Marginals.rmse(x, sumRows)`: over the union of x's keys and the
      * matrix's rows, a missing entry counting as 0 (a null key matches
      * nothing, as in the full outer join). */
    def loss(s: State): Double = {
      val n = rowIds.size
      val sum = sums(s, r, n)
      val inMatrix = new Array[Boolean](n)
      s.live.foreach(i => inMatrix(r(i)) = true)
      val matched = new Array[Boolean](n)
      var acc = 0.0
      x.foreach { e =>
        val xv = if (e.isNullAt(1)) 0.0 else e.getDouble(1)
        val id = if (e.isNullAt(0)) -1 else rowIds.getOrElse(e.get(0), -1)
        val d = if (id >= 0 && inMatrix(id)) { matched(id) = true; xv - sum(id) } else xv
        acc += d * d
      }
      for (id <- 0 until n if inMatrix(id) && !matched(id)) acc += sum(id) * sum(id)
      math.sqrt(acc)
    }

    def rows(s: State): java.util.List[Row] =
      java.util.Arrays.asList(s.live.map { i =>
        Row(cells(i).get(0), cells(i).get(1), if (s.isNull(i)) null else s.v(i))
      }: _*)
  }
}
