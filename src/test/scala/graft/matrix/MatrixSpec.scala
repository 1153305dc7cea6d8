package graft.matrix

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.{TestCoo, TestSpark}

/** COO matrix algebra vs the local Dense oracle (which mirrors the
  * reference semantics 1:1 — see Dense.scala scaladoc citations). */
class MatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val m: Dense.Matrix = Vector(
    Vector(1.0, 2.0, 3.0),
    Vector(4.0, 5.0, 6.0))
  val n: Dense.Matrix = Vector(
    Vector(0.5, 1.0, 0.0),
    Vector(2.0, 0.0, 1.5))

  def coo(x: Dense.Matrix): CooMatrix = TestCoo.fromDense(spark, x)

  def assertSame(c: CooMatrix, d: Dense.Matrix, tol: Double = 1e-12): Unit = {
    val got = TestCoo.toLocalMap(c)
    val exp: Map[(Any, Any), Double] = (for {
      (r, i) <- d.zipWithIndex; (v, j) <- r.zipWithIndex
    } yield ((i.toLong: Any, j.toLong: Any), v)).toMap
    assert(got.keySet === exp.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - exp(k)) <= tol, s"cell $k: $v vs ${exp(k)}") }
  }

  test("transpose matches dense and is an involution") {
    assertSame(coo(m).transpose, Dense.transpose(m))
    assertSame(coo(m).transpose.transpose, m)
  }

  test("sumRows / sumCols match dense") {
    val rows = coo(m).sumRows.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Dense.sumRows(m).zipWithIndex.foreach { case (v, i) => assert(math.abs(rows(i.toLong) - v) < 1e-12) }
    val cols = coo(m).sumCols.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Dense.sumCols(m).zipWithIndex.foreach { case (v, i) => assert(math.abs(cols(i.toLong) - v) < 1e-12) }
  }

  test("weightMatrix rows sum to 1; applyWeights restores marginal") {
    val w = coo(m).weightMatrix
    assertSame(w, Dense.weightMatrix(m))
    val marginal = TestCoo.marginal(spark, Seq(10.0, 20.0))
    val fitted = coo(m).fitRows(marginal)
    val sums = fitted.sumRows.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(sums(0L) - 10.0) < 1e-9 && math.abs(sums(1L) - 20.0) < 1e-9)
    assertSame(fitted, Dense.fitRows(Vector(10.0, 20.0), m))
  }

  test("element-wise zips match dense") {
    assertSame(coo(m).plus(coo(n)), m.lazyZip(n).map((a, b) => a.lazyZip(b).map(_ + _).toVector).toVector)
    assertSame(coo(m).minus(coo(n)), m.lazyZip(n).map((a, b) => a.lazyZip(b).map(_ - _).toVector).toVector)
    assertSame(coo(m).errorMatrix(coo(n)), Dense.errorMatrix(m, n))
    assertSame(coo(m).safeDivide(coo(n)), Dense.safeDivide(m, n))
    assertSame(coo(m).laplaceSmooth(0.25), Dense.laplaceSmooth(m, 0.25))
  }

  test("mmult matches dense") {
    val a = coo(m) // 2x3
    val b = coo(Dense.transpose(n)) // 3x2
    assertSame(a.multiply(b), Dense.mmult(m, Dense.transpose(n)))
  }

  test("outer product matches dense seed-matrix") {
    val u = TestCoo.marginal(spark, Seq(1.0, 2.0, 3.0))
    val v = TestCoo.marginal(spark, Seq(4.0, 5.0))
    assertSame(CooMatrix.outerProduct(u, v), Dense.seedMatrix(Vector(1, 2, 3.0), Vector(4.0, 5)))
  }

  test("minMaxNormalize and norms match dense") {
    assertSame(coo(m).minMaxNormalize, Dense.normalizeMatrix(m))
    assert(math.abs(coo(m).grandTotal - m.flatten.sum) < 1e-9)
  }

  test("marginal ops: dot / l2 / rmse match dense") {
    val a = Seq(3.0, 4.0, 0.0); val b = Seq(1.0, 2.0, 2.0)
    val da = TestCoo.marginal(spark, a); val db = TestCoo.marginal(spark, b)
    assert(math.abs(Marginals.dot(da, db) - Dense.dot(a.toVector, b.toVector)) < 1e-12)
    assert(math.abs(Marginals.l2Norm(da) - 5.0) < 1e-12)
    // reference rmse = L2 of residual, NO mean (core.clj:28-30)
    assert(math.abs(Marginals.rmse(da, db) - Dense.rmse(a.toVector, b.toVector)) < 1e-12)
  }

  test("densify fills missing cells") {
    import spark.implicits._
    val sparse = CooMatrix(Seq((0L, 0L, 1.0)).toDF("row", "col", "value"))
    val rows = TestCoo.marginal(spark, Seq(1.0, 1.0))
    val dense = CooMatrix.densify(sparse, rows, rows, fill = 0.0)
    assert(dense.df.count() === 4)
    assert(math.abs(dense.grandTotal - 1.0) < 1e-12)
  }

  test("degenerate row skew: weightMatrix/fitRows stay groupBy+join (no Window funnel) and stay correct") {
    // SURVEY §7.4(5)'s rationale, demonstrated: one row holds ~all cells
    // (20k of 20,005). A Window.partitionBy(row) plan would funnel that row
    // through a single partition; the shipped groupBy+equi-join shape keeps
    // the per-row reduction a map-side-combined hash agg and lets AQE split
    // a skewed join key. Mirrors the dedup degenerate-skew test.
    import spark.implicits._
    val hot = (0 until 20000).map(j => (0L, j.toLong, 0.5))
    val cold = (1 to 5).map(i => (i.toLong, 0L, 2.0 * i))
    val m0 = CooMatrix((hot ++ cold).toDF("row", "col", "value"))

    val w = m0.weightMatrix
    val wPlan = w.df.queryExecution.executedPlan.toString
    assert(!wPlan.contains("Window"), s"weightMatrix planned a Window:\n$wPlan")
    assert(wPlan.contains("HashAggregate"), "row sums should be a hash aggregation")
    val wSums = w.sumRows.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wSums.size === 6)
    wSums.foreach { case (k, v) => assert(math.abs(v - 1.0) < 1e-9, s"row $k weights sum to $v") }
    // the hot row's cells each become 1/20000 of the row
    val hotCell = w.df.filter(col("row") === 0L && col("col") === 7L).head.getDouble(2)
    assert(math.abs(hotCell - 1.0 / 20000) < 1e-15)

    val marginal = TestCoo.marginal(spark, (0 to 5).map(_ => 100.0))
    val f = m0.fitRows(marginal)
    val fPlan = f.df.queryExecution.executedPlan.toString
    assert(!fPlan.contains("Window"), s"fitRows planned a Window:\n$fPlan")
    val fSums = f.sumRows.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 to 5).foreach(i => assert(math.abs(fSums(i.toLong) - 100.0) < 1e-6,
      s"row $i fitted sum ${fSums(i.toLong)} != 100"))
  }
}
