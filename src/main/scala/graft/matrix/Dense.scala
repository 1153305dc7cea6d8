package graft.matrix

/** Driver-local dense matrix algebra on `Vector[Vector[Double]]`: the
  * test oracle for `graft.ipf.Ipf` and `perfbench`'s parity reference
  * (every benchmarked allocation is checked against [[converge]]). It is
  * not a fast path: small problems take `Ipf.converge`'s driver path,
  * which keeps the COO keys, the drop semantics and a DataFrame result.
  *
  * Operator semantics mirror the reference exactly
  * (`/root/reference/src/cost_allocation/core.clj`), re-expressed in
  * idiomatic Scala.
  */
object Dense {
  type Matrix = Vector[Vector[Double]]
  type Marginal = Vector[Double]

  /** Reference `cmap` (`core.clj:5-9`): f over the cartesian product. */
  def cmap(f: (Double, Double) => Double, xs: Marginal, ys: Marginal): Matrix =
    xs.map(x => ys.map(y => f(x, y)))

  /** Reference `dot` (`core.clj:11-16`). */
  def dot(xs: Marginal, ys: Marginal): Double =
    xs.lazyZip(ys).map(_ * _).sum

  /** Reference `diff-vector` (`core.clj:18-21`). */
  def diffVector(a: Marginal, b: Marginal): Marginal =
    a.lazyZip(b).map(_ - _).toVector

  /** Reference `L2-norm` (`core.clj:23-26`). */
  def l2Norm(xs: Marginal): Double = math.sqrt(dot(xs, xs))

  /** Reference `rmse` (`core.clj:28-30`): L2 of the residual — the
    * reference computes no mean; preserved as-is. */
  def rmse(observed: Marginal, predicted: Marginal): Double =
    l2Norm(diffVector(observed, predicted))

  /** Reference `transpose` (`core.clj:32-35`). */
  def transpose(m: Matrix): Matrix = m.transpose.map(_.toVector).toVector

  /** Reference `sum-rows` (`core.clj:37-40`). */
  def sumRows(m: Matrix): Marginal = m.map(_.sum)

  /** Reference `sum-cols` (`core.clj:42-45`). */
  def sumCols(m: Matrix): Marginal = sumRows(transpose(m))

  /** Reference `laplace-smooth` (`core.clj:47-50`). */
  def laplaceSmooth(m: Matrix, alpha: Double): Matrix =
    m.map(_.map(_ + alpha))

  /** Reference `weight-matrix` (`core.clj:52-56`): element ÷ row sum. */
  def weightMatrix(m: Matrix): Matrix =
    m.map { r => val s = r.sum; r.map(_ / s) }

  /** Reference `apply-weights` (`core.clj:58-61`): scale row i by rowSums(i). */
  def applyWeights(rowSums: Marginal, weights: Matrix): Matrix =
    rowSums.lazyZip(weights).map((s, r) => r.map(_ * s)).toVector

  /** Reference `mmult` (`core.clj:71-76`). */
  def mmult(a: Matrix, b: Matrix): Matrix = {
    val bt = transpose(b)
    a.map(ar => bt.map(bc => dot(ar, bc)))
  }

  /** Reference `seed-matrix` (`core.clj:78-80`): outer product u·vᵀ. */
  def seedMatrix(u: Marginal, v: Marginal): Matrix =
    u.map(x => v.map(x * _))

  /** Reference `normalize-matrix` (`core.clj:121-127`): global min-max. */
  def normalizeMatrix(m: Matrix): Matrix = {
    val flat = m.flatten
    val mn = flat.min
    val span = flat.max - mn
    m.map(_.map(x => (x - mn) / span))
  }

  /** Reference `error-matrix` (`core.clj:129-132`): element-wise |p−q|. */
  def errorMatrix(p: Matrix, q: Matrix): Matrix =
    p.lazyZip(q).map((pr, qr) => pr.lazyZip(qr).map((x, y) => math.abs(x - y)).toVector).toVector

  /** Reference `matrix-norm` (`core.clj:134-136`): Σ of row L2 norms. */
  def matrixNorm(m: Matrix): Double = m.map(l2Norm).sum

  /** Zero-safe element-wise division. Reference `cost-per-visit3`
    * (`core.clj:191-197`). */
  def safeDivide(x: Matrix, y: Matrix): Matrix =
    x.lazyZip(y).map((xr, yr) =>
      xr.lazyZip(yr).map((a, b) => if (b == 0.0) 0.0 else a / b).toVector).toVector

  /** Inferred `optimize-marginal` (`core.clj:82-87`; calls the undefined
    * `ratio-matrix`/`apply-ratios` — see SURVEY.md §0): distribute
    * `marginal` across rows proportionally to the seed's row shape. */
  def fitRows(marginal: Marginal, seed: Matrix): Matrix =
    applyWeights(marginal, weightMatrix(seed))

  /** Reference `step` (`core.clj:89-97`): fit rows to x, then (via
    * transpose) columns to y, transpose back. */
  def step(x: Marginal, y: Marginal, m: Matrix): Matrix =
    transpose(fitRows(y, transpose(fitRows(x, m))))

  final case class Result(matrix: Matrix, loss: Double, iterations: Int)

  /** Reference `converge` (`core.clj:99-119`), semantics preserved:
    * stop when loss < threshold, or |Δloss| < threshold, or iterations
    * exhausted; the loss is computed on the matrix *before* the step, so
    * the reported loss lags the returned matrix by one step
    * (`core.clj:115-117`); initial sentinels are Integer/MAX_VALUE
    * (`core.clj:108-109`). */
  def converge(
      x: Marginal, y: Marginal, seed: Matrix,
      threshold: Double = 1e-15, maxIter: Int = 1000): Result = {
    var matrix = seed
    var lastLoss = Int.MaxValue.toDouble
    var lossDiff = Int.MaxValue.toDouble
    var iteration = maxIter
    while (!(lastLoss < threshold || lossDiff < threshold || iteration == 0)) {
      val next = step(x, y, matrix)
      val loss = rmse(x, sumRows(matrix))
      val diff = math.abs(lastLoss - loss)
      matrix = next; lastLoss = loss; lossDiff = diff; iteration -= 1
    }
    Result(matrix, lastLoss, maxIter - iteration)
  }
}
