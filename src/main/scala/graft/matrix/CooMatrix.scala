package graft.matrix

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  private def spark: SparkSession = df.sparkSession

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

  /** [[fitRows]] with order-independent row sums: the factor denominator is
    * aggregated through `DECIMAL(38, sumScale)` so it is exact — independent
    * of partitioning and combine order — whenever the cell values carry at
    * most `sumScale` decimal places. Same plan shape as [[fitRows]] (one
    * aggregation + one join); the decimal partial aggregation still combines
    * map-side. Use on fixed-precision cells when a fit must reproduce
    * bit-identically across engines or cluster layouts (oracle parity,
    * deterministic replays); [[fitRows]] remains the general-precision
    * path. */
  def fitRowsExact(marginal: DataFrame, sumScale: Int = 6): CooMatrix = {
    val factors = df.groupBy(Row)
      .agg(sum(df(Value).cast(DecimalType(38, sumScale))).cast("double").as(Value))
      .select(col(Row).as(Idx), col(Value))
      .join(marginal.select(col(Idx), col(Value).as(Target)), Idx)
      .select(col(Idx), (col(Target) / col(Value)).as(Factor))
    CooMatrix(
      df.join(factors, df(Row) === factors(Idx))
        .select(df(Row), df(Col), (df(Value) * col(Factor)).as(Value)))
  }

  /** [[fitRows]] computed in one pass (window row-sum + broadcast
    * marginal), the general-precision sibling of [[fitRowsExactOnePass]].
    * Double window sums and double hash-agg sums can differ in the last
    * ulps (combine order), so this is for paths checked by envelope or
    * tolerance (the q26 convergence loop), not the hash-certified chains. */
  def fitRowsOnePass(marginal: DataFrame): CooMatrix = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(Row)
    CooMatrix(df
      .withColumn(RowSum, sum(df(Value)).over(w))
      .join(broadcast(marginal.select(col(Idx).as(Row), col(Value).as(Target))), Row)
      .select(col(Row), col(Col),
        (col(Value) * (col(Target) / col(RowSum))).as(Value)))
  }

  /** [[fitRowsExact]] computed in ONE pass over the matrix: the decimal
    * row-sum denominator comes from a window aggregate partitioned by
    * `row` instead of a groupBy + self-join, and the marginal (one row per
    * fitted index — always the small side) is broadcast. Bit-identical to
    * [[fitRowsExact]]: a decimal sum is order-independent, so window and
    * hash aggregation produce the same denominator, and the factor keeps
    * the same float association (`target / rowsum`, then `value * factor`).
    *
    * Why it exists: each [[fitRowsExact]] consumes its input TWICE (agg
    * subtree + join probe), so an unrolled chain of k fits doubles the
    * logical plan per fit — 2^k leaves, super-linear planning AND
    * execution that lineage checkpoints only cap at ~2s per truncation
    * barrier (measured). A window fit consumes its input once, so a k-fit
    * chain stays a linear narrow plan: 2/4/8 unrolled sweeps measured
    * 0.99/1.13/1.06s at sf0.1 vs 2.2/6.1/10.2s for the checkpointed
    * agg+join chain.
    *
    * Scale tradeoff, scaladoc'd deliberately: WindowExec buffers one
    * partition group at a time through a spillable row array, so a fitted
    * dimension whose co-dimension is huge (billions of cells in one row)
    * degrades to disk spill where [[fitRowsExact]]'s hash agg combines
    * map-side; and the broadcast needs the marginal to fit on the driver.
    * Iterative certification chains over bounded matrices (IPF sweeps:
    * |parts|×|months|) want THIS shape; one-shot fits on arbitrary
    * matrices keep the agg+join. */
  def fitRowsExactOnePass(marginal: DataFrame, sumScale: Int = 6): CooMatrix = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(Row)
    CooMatrix(df
      .withColumn(RowSum, sum(df(Value).cast(DecimalType(38, sumScale))).over(w).cast("double"))
      .join(broadcast(marginal.select(col(Idx).as(Row), col(Value).as(Target))), Row)
      .select(col(Row), col(Col),
        (col(Value) * (col(Target) / col(RowSum))).as(Value)))
  }

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
  def hadamard(other: CooMatrix): CooMatrix = zip(other, _ * _)

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

  /** Σ over rows of row-L2-norms (entrywise L2,1 norm). Reference
    * `matrix-norm` (`core.clj:134-136`). Two-level aggregation. */
  def l21Norm: Double =
    df.groupBy(Row).agg(sqrt(sum(col(Value) * col(Value))).as("n"))
      .agg(coalesce(sum("n"), lit(0.0))).head().getDouble(0)

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

  /** Collect to a local dense structure keyed by (row, col) — small
    * matrices / tests only. */
  def toLocalMap: Map[(Any, Any), Double] =
    df.collect().map(r => ((r.get(0), r.get(1)), r.getDouble(2))).toMap
}

object CooMatrix {
  val Row = "row"; val Col = "col"; val Value = "value"; val Idx = "idx"
  private val RowSum = "__row_sum"; private val Target = "__target"; private val Factor = "__factor"

  /** Normalize an arbitrary 3-column DataFrame into COO shape. */
  def fromDF(df: DataFrame, row: String, col0: String, value: String): CooMatrix =
    CooMatrix(df.select(col(row).as(Row), col(col0).as(Col), col(value).cast("double").as(Value)))

  /** Build from a local dense row-major matrix (tests / reference parity). */
  def fromDense(spark: SparkSession, m: Seq[Seq[Double]]): CooMatrix = {
    import spark.implicits._
    val triples = for {
      (r, i) <- m.zipWithIndex
      (v, j) <- r.zipWithIndex
    } yield (i.toLong, j.toLong, v)
    CooMatrix(triples.toDF(Row, Col, Value))
  }

  /** Marginal vector from local values (index = position). */
  def marginal(spark: SparkSession, v: Seq[Double]): DataFrame = {
    import spark.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF(Idx, Value)
  }

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
