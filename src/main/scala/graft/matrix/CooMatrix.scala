package graft.matrix

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed matrix in COO (coordinate) form: a DataFrame with columns
  * `row`, `col` (any orderable key type — long indices, keyword strings,
  * hour ints, …) and `value` (double).
  *
  * This is the Spark-native re-expression of the reference engine's dense
  * vector-of-row-vectors matrix (reference `src/cost_allocation/core.clj:5-136`).
  * COO triples scale to 100 TB: transpose is a pure projection (no shuffle),
  * row/col reductions are hash aggregations with map-side partial combine,
  * and element-wise zips are equi-joins on (row, col) that AQE will broadcast
  * when one side is small.
  *
  * Absent cells are implicit zeros. Operators that must see zero cells
  * (e.g. Laplace smoothing of a seed, reference `core.clj:47-50`) should
  * first call [[CooMatrix.densify]] over the key space.
  */
final case class CooMatrix(df: DataFrame) {
  import CooMatrix._

  /** Swap axes. Reference `core.clj:32-35`. Pure projection — no shuffle. */
  def transpose: CooMatrix =
    CooMatrix(df.select(df(Col).as(Row), df(Row).as(Col), df(Value)))

  /** Row-sum marginal `(idx, value)`. Reference `core.clj:37-40`.
    * Partial aggregation happens map-side; one shuffle on `row`. */
  def sumRows: DataFrame =
    df.groupBy(Row).agg(sum(Value).as(Value)).select(col(Row).as(Idx), col(Value))

  /** Column-sum marginal. Reference `core.clj:42-45`. Unlike the reference
    * (which transposes first) this is a direct aggregation on `col`. */
  def sumCols: DataFrame =
    df.groupBy(Col).agg(sum(Value).as(Value)).select(col(Col).as(Idx), col(Value))

  /** Element-wise map over values (narrow, codegen'd). */
  def mapValues(f: Column => Column): CooMatrix =
    CooMatrix(df.select(df(Row), df(Col), f(df(Value)).cast("double").as(Value)))

  /** Add `alpha` to every *present* cell. Reference `core.clj:47-50`.
    * Combine with [[CooMatrix.densify]] to smooth true zero cells. */
  def laplaceSmooth(alpha: Double): CooMatrix = mapValues(_ + lit(alpha))

  def scale(k: Double): CooMatrix = mapValues(_ * lit(k))

  /** Each element divided by its row sum. Reference `weight-matrix`
    * (`core.clj:52-56`). Implemented as groupBy + equi-join rather than a
    * `Window.partitionBy(row)` so that a single dominant row (skew at
    * 100 TB) is handled by AQE skew-join splitting instead of funneling
    * through one window partition. */
  def weightMatrix: CooMatrix = {
    val sums = sumRows.withColumnRenamed(Value, RowSum)
    CooMatrix(
      df.join(sums, df(Row) === sums(Idx))
        .select(df(Row), df(Col), (df(Value) / col(RowSum)).as(Value)))
  }

  /** Scale row `i` by `rowSums(i)`. Reference `apply-weights`
    * (`core.clj:58-61`). `rowSums` is a marginal `(idx, value)`. */
  def applyWeights(rowSums: DataFrame): CooMatrix = {
    val m = rowSums.select(col(Idx), col(Value).as(RowSum))
    CooMatrix(
      df.join(m, df(Row) === m(Idx))
        .select(df(Row), df(Col), (df(Value) * col(RowSum)).as(Value)))
  }

  /** One-pass row fit: rescale each row so its sum equals `marginal(row)`.
    * Semantically `applyWeights(marginal) ∘ weightMatrix` — the inferred
    * meaning of the reference's `optimize-marginal` (`core.clj:82-87`,
    * which calls the undefined `ratio-matrix`/`apply-ratios`; see
    * SURVEY.md §0) — but fused into ONE aggregation and ONE join instead
    * of two joins, halving the shuffle volume of the IPF inner loop. */
  def fitRows(marginal: DataFrame): CooMatrix = {
    val factors = sumRows
      .join(marginal.select(col(Idx), col(Value).as(Target)), Idx)
      .select(col(Idx), (col(Target) / col(Value)).as(Factor))
    CooMatrix(
      df.join(factors, df(Row) === factors(Idx))
        .select(df(Row), df(Col), (df(Value) * col(Factor)).as(Value)))
  }

  /** [[fitRows]] computed in one pass (window row-sum + broadcast
    * marginal), the general-precision sibling of [[fitRowsExact]].
    * Double window sums and double hash-agg sums can differ in the last
    * ulps (combine order), so this is for paths checked by envelope or
    * tolerance, not the hash-certified chains. */
  def fitRowsOnePass(marginal: DataFrame): CooMatrix =
    fitRowsBy(sum(df(Value)).over(ByRow), marginal)

  /** [[fitRowsOnePass]] with order-independent row sums: the factor
    * denominator is a window sum through `DECIMAL(38, 6)`, so it is exact
    * (independent of partitioning, combine order and engine) whenever the
    * cell values carry at most 6 decimal places, and the factor keeps the
    * reference association (`target / rowsum`, then `value * factor`).
    * Use on fixed-precision cells when a fit must reproduce bit-identically
    * across engines or cluster layouts (the oracle-certified q76, q94,
    * q121 and q160 chains).
    *
    * One pass: the row sum comes from a window partitioned by `row`, and
    * the marginal (one row per fitted index, always the small side) is
    * broadcast. An agg + self-join fit consumes its input TWICE (agg
    * subtree + join probe), so an unrolled chain of k fits doubles the
    * logical plan per fit (2^k leaves); a window fit consumes it once, so
    * a k-fit chain stays a linear narrow plan: 2/4/8 unrolled sweeps
    * measured 0.99/1.13/1.06s at sf0.1 vs 2.2/6.1/10.2s for the
    * checkpointed agg+join chain.
    *
    * Scale tradeoff: WindowExec buffers one partition group at a time
    * through a spillable row array, so a fitted dimension whose
    * co-dimension is huge (billions of cells in one row) degrades to disk
    * spill where [[fitRows]]'s hash agg combines map-side; and the
    * broadcast needs the marginal to fit on the driver. */
  def fitRowsExact(marginal: DataFrame): CooMatrix =
    fitRowsBy(sum(df(Value).cast(DecimalType(38, 6))).over(ByRow).cast("double"), marginal)

  /** `value * (target / rowSum)` against the broadcast marginal. */
  private def fitRowsBy(rowSum: Column, marginal: DataFrame): CooMatrix =
    CooMatrix(df
      .withColumn(RowSum, rowSum)
      .join(broadcast(marginal.select(col(Idx).as(Row), col(Value).as(Target))), Row)
      .select(col(Row), col(Col),
        (col(Value) * (col(Target) / col(RowSum))).as(Value)))

  /** Element-wise combine on the intersection of supports (inner join on
    * (row, col)). Covers the reference's positional zips: `apply-weights`
    * products, `error-matrix` |p−q| (`core.clj:129-132`), safe division
    * (`core.clj:191-197`). */
  def zip(other: CooMatrix, f: (Column, Column) => Column): CooMatrix = {
    val a = df.alias("a")
    val b = other.df.alias("b")
    CooMatrix(
      a.join(b, col(s"a.$Row") === col(s"b.$Row") && col(s"a.$Col") === col(s"b.$Col"))
        .select(col(s"a.$Row").as(Row), col(s"a.$Col").as(Col),
          f(col(s"a.$Value"), col(s"b.$Value")).cast("double").as(Value)))
  }

  /** Element-wise combine over the union of supports; absent cells are 0. */
  def zipOuter(other: CooMatrix, f: (Column, Column) => Column): CooMatrix = {
    val a = df.alias("a")
    val b = other.df.alias("b")
    CooMatrix(
      a.join(b, col(s"a.$Row") === col(s"b.$Row") && col(s"a.$Col") === col(s"b.$Col"), "full_outer")
        .select(
          coalesce(col(s"a.$Row"), col(s"b.$Row")).as(Row),
          coalesce(col(s"a.$Col"), col(s"b.$Col")).as(Col),
          f(coalesce(col(s"a.$Value"), lit(0.0)), coalesce(col(s"b.$Value"), lit(0.0)))
            .cast("double").as(Value)))
  }

  def plus(other: CooMatrix): CooMatrix = zipOuter(other, _ + _)
  def minus(other: CooMatrix): CooMatrix = zipOuter(other, _ - _)

  /** |pᵢⱼ − qᵢⱼ| over the union of supports. Reference `error-matrix`
    * (`core.clj:129-132`). */
  def errorMatrix(other: CooMatrix): CooMatrix = zipOuter(other, (p, q) => abs(p - q))

  /** Zero-safe element-wise division (x/y, 0 where y=0). Reference
    * `cost-per-visit3` (`core.clj:191-197`). */
  def safeDivide(other: CooMatrix): CooMatrix =
    zip(other, (x, y) => when(y === 0.0, 0.0).otherwise(x / y))

  /** Matrix multiply (n×m)·(m×p). Reference `mmult` (`core.clj:71-76`,
    * a nested-loop dense multiply). Here: equi-join on the inner dimension
    * + hash aggregation on (row, col) — the relational SpGEMM that shuffles
    * each side once and lets AQE broadcast a small operand. */
  def multiply(other: CooMatrix): CooMatrix = {
    val a = df.alias("a")
    val b = other.df.alias("b")
    CooMatrix(
      a.join(b, col(s"a.$Col") === col(s"b.$Row"))
        .groupBy(col(s"a.$Row").as(Row), col(s"b.$Col").as(Col))
        .agg(sum(col(s"a.$Value") * col(s"b.$Value")).as(Value)))
  }

  /** Global min-max rescale to [0,1]. Reference `normalize-matrix`
    * (`core.clj:121-127` — dead code there, kept as an operator here).
    * Two-phase: tiny 2-value aggregate, broadcast back via crossJoin. */
  def minMaxNormalize: CooMatrix = {
    val stats = df.agg(min(Value).as("mn"), max(Value).as("mx"))
    CooMatrix(
      df.crossJoin(broadcast(stats))
        .select(col(Row), col(Col),
          ((col(Value) - col("mn")) / (col("mx") - col("mn"))).as(Value)))
  }

  def grandTotal: Double =
    df.agg(coalesce(sum(Value), lit(0.0))).head().getDouble(0)

  /** Materialize + truncate lineage (the iterative-algorithm pattern —
    * without this, `converge`'s plan grows O(iterations)).
    *
    * The re-wrap through `createDataFrame` is load-bearing: the
    * `LogicalRDD` that `localCheckpoint` produces carries the origin
    * plan's size-in-bytes statistic, so across IPF iterations the join
    * size estimates compound multiplicatively and Catalyst's stats math
    * degenerates into enormous-BigInteger multiplication on the driver
    * (observed: minutes per iteration by iteration ~30). A fresh
    * DataFrame over the checkpointed RDD resets stats to defaults. */
  def checkpointed(): CooMatrix = {
    val cp = df.localCheckpoint(true)
    CooMatrix(df.sparkSession.createDataFrame(cp.rdd, cp.schema))
  }
}

object CooMatrix {
  val Row = "row"; val Col = "col"; val Value = "value"; val Idx = "idx"
  private val RowSum = "__row_sum"; private val Target = "__target"; private val Factor = "__factor"
  private val ByRow = org.apache.spark.sql.expressions.Window.partitionBy(Row)

  /** Normalize an arbitrary 3-column DataFrame into COO shape. */
  def fromDF(df: DataFrame, row: String, col0: String, value: String): CooMatrix =
    CooMatrix(df.select(col(row).as(Row), col(col0).as(Col), col(value).cast("double").as(Value)))

  /** Outer product u·vᵀ of two marginals. Reference `seed-matrix`
    * (`core.clj:78-80`, built there via `mmult` of a column by a row).
    * Here: a crossJoin — broadcast the smaller side. */
  def outerProduct(u: DataFrame, v: DataFrame): CooMatrix = {
    val a = u.select(col(Idx).as(Row), col(Value).as("__u"))
    val b = v.select(col(Idx).as(Col), col(Value).as("__v"))
    CooMatrix(a.crossJoin(broadcast(b)).select(col(Row), col(Col), (col("__u") * col("__v")).as(Value)))
  }

  /** Expand a sparse COO to the full cross product of the given row and
    * column key sets, filling absent cells with `fill`. Needed before
    * ops that must observe zero cells (Laplace smoothing of a seed). */
  def densify(m: CooMatrix, rows: DataFrame, cols: DataFrame, fill: Double = 0.0): CooMatrix = {
    val keys = rows.select(col(Idx).as(Row)).crossJoin(cols.select(col(Idx).as(Col)))
    CooMatrix(
      keys.join(m.df, Seq(Row, Col), "left_outer")
        .select(col(Row), col(Col), coalesce(col(Value), lit(fill)).as(Value)))
  }
}

/** Marginal-vector (1-D) algebra: DataFrames of `(idx, value)`.
  * Reference `core.clj:11-30`. */
object Marginals {
  import CooMatrix.{Idx, Value}

  private def zipped(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col(Idx), col(Value).as("__a"))
    val r = b.select(col(Idx), col(Value).as("__b"))
    l.join(r, Seq(Idx), "full_outer")
      .select(col(Idx), coalesce(col("__a"), lit(0.0)).as("__a"),
        coalesce(col("__b"), lit(0.0)).as("__b"))
  }

  // Scalar reductions below coalesce the empty-input SUM to 0.0 (Σ over ∅
  // = 0): an all-empty matrix must flow through norms/loss/convergence as
  // the zero element, not surface SQL NULL into Row.getDouble.

  /** Σ xᵢ·yᵢ. Reference `dot` (`core.clj:11-16`). */
  def dot(a: DataFrame, b: DataFrame): Double =
    zipped(a, b).agg(coalesce(sum(col("__a") * col("__b")), lit(0.0))).head().getDouble(0)

  /** √(x·x). Reference `L2-norm` (`core.clj:23-26`). */
  def l2Norm(a: DataFrame): Double =
    math.sqrt(a.agg(coalesce(sum(col(Value) * col(Value)), lit(0.0))).head().getDouble(0))

  /** Element-wise a−b as a marginal. Reference `diff-vector` (`core.clj:18-21`). */
  def diffVector(a: DataFrame, b: DataFrame): DataFrame =
    zipped(a, b).select(col(Idx), (col("__a") - col("__b")).as(Value))

  /** L2 norm of (observed − predicted). The reference calls this `rmse`
    * but computes NO mean and NO ÷n (`core.clj:28-30`) — we preserve those
    * semantics exactly; do not "fix" to a true RMSE. */
  def rmse(observed: DataFrame, predicted: DataFrame): Double = {
    val d = zipped(observed, predicted)
    math.sqrt(d.agg(coalesce(sum(pow(col("__a") - col("__b"), 2)), lit(0.0))).head().getDouble(0))
  }

  def total(a: DataFrame): Double =
    a.agg(coalesce(sum(Value), lit(0.0))).head().getDouble(0)
}
