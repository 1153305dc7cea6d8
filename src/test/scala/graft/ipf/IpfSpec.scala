package graft.ipf

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{TestCoo, TestSpark}
import graft.matrix.{CooMatrix, Dense}

class IpfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val x = Vector(30.0, 70.0)          // row marginal
  val y = Vector(40.0, 35.0, 25.0)    // col marginal (same total mass: 100)
  val seed = Vector(Vector(1.0, 2.0, 1.0), Vector(3.0, 1.0, 2.0))

  /** `Ipf.converge` forced onto the driver path or the distributed one. */
  def onPath(driver: Boolean, x: DataFrame, y: DataFrame, seed: CooMatrix,
      threshold: Double = 1e-15, maxIter: Int = 1000): Ipf.Result =
    Ipf.solve(x, y, seed, threshold, maxIter, false, _ => driver)

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  /** Cells by key; a null value is `None`. */
  def cells(m: CooMatrix): Map[(Any, Any), Option[Double]] =
    m.df.collect().map(r => (r.get(0), r.get(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap

  /** Runs both paths on the same inputs and checks that they agree: same
    * iterations and schema, every cell within 1e-12 relative, the loss
    * within 1e-12 relative to the larger of itself and |x|. Near
    * convergence the loss is a difference of nearly equal sums, so the
    * error summation order leaves in it scales with x, not with the loss. */
  def assertPathsAgree(x: DataFrame, y: DataFrame, seed: CooMatrix,
      threshold: Double = 1e-15, maxIter: Int = 1000): Ipf.Result = {
    val d = onPath(driver = true, x, y, seed, threshold, maxIter)
    val s = onPath(driver = false, x, y, seed, threshold, maxIter)
    assert(d.iterations === s.iterations)
    val scale = math.max(math.abs(s.loss), graft.matrix.Marginals.l2Norm(x))
    assert(d.loss == s.loss || math.abs(d.loss - s.loss) <= 1e-12 * scale,
      s"driver loss ${d.loss} != distributed loss ${s.loss}")
    assert(d.matrix.df.schema === s.matrix.df.schema)
    val (a, b) = (cells(d.matrix), cells(s.matrix))
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) =>
      assert(v.isDefined === b(k).isDefined && v.forall(close(_, b(k).get)), s"cell $k: $v != ${b(k)}")
    }
    d
  }

  def fixture(s: SparkSession, dense: Seq[Seq[Double]] = seed, dx: Seq[Double] = x,
      dy: Seq[Double] = y): (DataFrame, DataFrame, CooMatrix) =
    (TestCoo.marginal(s, dx), TestCoo.marginal(s, dy), TestCoo.fromDense(s, dense))

  test("ipfUnrolled: bit-exact vs a local BigDecimal replay of 2 chained sweeps") {
    import graft.relational.Queries
    val dir = TestSpark.sfDir
    // Inputs, collected once from the (independently oracle-proven) COO and
    // marginal builders; the replay below shares no Spark execution with the
    // query under test.
    val cells = Queries.cooExact(spark, dir, "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    import org.apache.spark.sql.functions._
    val xm = li.groupBy(col("l_partkey")).agg(Queries.dsum(col("l_quantity")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ym = li.groupBy(month(col("l_shipdate")).cast("long").as("m"))
      .agg(Queries.dsum(col("l_quantity")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // fitRowsExact replay: DECIMAL(38,6)-exact denominator per key, double
    // factor, double multiply, HALF_UP 6dp round — the contract both engines
    // implement.
    def fit(m: Map[(Long, Long), Double], keyOf: ((Long, Long)) => Long,
        marg: Map[Long, Double]): Map[(Long, Long), Double] = {
      val sums = m.toSeq.groupBy { case (k, _) => keyOf(k) }
        .map { case (g, kvs) =>
          g -> kvs.map { case (_, v) => BigDecimal(v).setScale(6) }.sum.toDouble }
      m.map { case (k, v) => k -> round6(v * (marg(keyOf(k)) / sums(keyOf(k)))) }
    }
    var local = cells
    for (_ <- 1 to 2) {
      local = fit(local, _._1, xm)   // row fit to x
      local = fit(local, _._2, ym)   // column fit to y
    }
    val got = Queries.ipfUnrolled(spark, dir, steps = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === local.keySet)
    val diverged = got.filter { case (k, v) => v != local(k) }
    assert(diverged.isEmpty,
      s"${diverged.size} cells diverged from the local replay, e.g. ${diverged.take(3)}")
  }

  test("dense converge reproduces both marginals") {
    val r = Dense.converge(x, y, seed, threshold = 1e-12, maxIter = 1000)
    Dense.sumRows(r.matrix).zip(x).foreach { case (got, want) => assert(math.abs(got - want) < 1e-6) }
    Dense.sumCols(r.matrix).zip(y).foreach { case (got, want) => assert(math.abs(got - want) < 1e-6) }
    assert(r.iterations > 0)
  }

  test("uniform seed converges to outer product of marginals / total") {
    val uniform = Vector.fill(2)(Vector.fill(3)(1.0))
    val r = Dense.converge(x, y, uniform, threshold = 1e-12, maxIter = 500)
    val expected = Dense.seedMatrix(x, y).map(_.map(_ / 100.0))
    r.matrix.zip(expected).foreach { case (gr, er) =>
      gr.zip(er).foreach { case (g, e) => assert(math.abs(g - e) < 1e-6) }
    }
  }

  test("distributed converge matches dense result") {
    // Driver path, distributed path and the Dense oracle on seeded random
    // equal-mass fixtures: the same per-sweep stopping rule must stop all
    // three after the same number of sweeps.
    val rnd = new scala.util.Random(5)
    (0 until 10).foreach { f =>
      val rows = 2 + rnd.nextInt(5); val cols = 2 + rnd.nextInt(5)
      val dseed = Vector.fill(rows, cols)(0.1 + 5.0 * rnd.nextDouble())
      val dx = Vector.fill(rows)(1.0 + 10.0 * rnd.nextDouble())
      val dy0 = Vector.fill(cols)(1.0 + 10.0 * rnd.nextDouble())
      val dy = dy0.map(_ * dx.sum / dy0.sum)
      val dense = Dense.converge(dx, dy, dseed, threshold = 1e-10, maxIter = 30)
      val (mx, my, mseed) = fixture(spark, dseed, dx, dy)
      for (driver <- Seq(true, false)) {
        val r = onPath(driver, mx, my, mseed, threshold = 1e-10, maxIter = 30)
        val at = s"fixture $f (${rows}x$cols), driver=$driver"
        assert(r.iterations === dense.iterations, at)
        assert(math.abs(r.loss - dense.loss) < 1e-8, at)
        val got = TestCoo.toLocalMap(r.matrix)
        assert(got.size === rows * cols, at)
        for { i <- 0 until rows; j <- 0 until cols }
          assert(math.abs(got((i.toLong, j.toLong)) - dense.matrix(i)(j)) < 1e-8, s"$at, cell ($i, $j)")
      }
    }
  }

  test("paths agree: 2x3 fixture") {
    val (mx, my, mseed) = fixture(spark)
    assert(assertPathsAgree(mx, my, mseed, threshold = 1e-10).iterations > 1)
  }

  test("paths agree: the reference CSVs (73 x 22)") {
    import graft.io.CsvSources
    import graft.pipeline.CostAllocation
    def kw = TestSpark.resource("keywords.csv")
    val rx = CostAllocation.keywordCosts(CsvSources.readKeywords(spark, kw))
    val ry = CostAllocation.hourCosts(CsvSources.readHours(spark, TestSpark.resource("hours.csv")))
    val visits = CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, TestSpark.resource("visits.csv")))
    val rseed = CostAllocation.padMissingKeywords(visits, rx).laplaceSmooth(1e-15)
    val r = assertPathsAgree(rx, ry, rseed, threshold = 1e-9, maxIter = 40)
    assert(r.iterations > 1 && r.matrix.df.count() === 73L * 22L)
  }

  test("paths agree: rows missing from x and columns missing from y are dropped") {
    import spark.implicits._
    // Row 2 has no x entry, column 3 no y entry; x key 9 has no seed row,
    // so it counts in every loss as a missing row sum.
    val dx = Seq((0L, 30.0), (1L, 70.0), (9L, 5.0)).toDF(CooMatrix.Idx, CooMatrix.Value)
    val dy = Seq((0L, 40.0), (1L, 35.0), (2L, 25.0)).toDF(CooMatrix.Idx, CooMatrix.Value)
    val dseed = TestCoo.fromDense(spark,
      Seq(Seq(1.0, 2.0, 1.0, 4.0), Seq(3.0, 1.0, 2.0, 1.0), Seq(5.0, 5.0, 5.0, 5.0)))
    val r = assertPathsAgree(dx, dy, dseed, threshold = 1e-12, maxIter = 20)
    assert(cells(r.matrix).keySet === (for (i <- 0L to 1L; j <- 0L to 2L) yield (i, j)).toSet)
  }

  test("paths agree: maxIter = 0 returns the seed with the sentinel loss") {
    val (mx, my, mseed) = fixture(spark)
    val r = assertPathsAgree(mx, my, mseed, maxIter = 0)
    assert(r.iterations === 0 && r.loss === Int.MaxValue.toDouble)
    assert(cells(r.matrix) === cells(mseed))
  }

  test("distributed loop: Spark jobs grow by the Ipf scaladoc's per-sweep figure") {
    // Every sweep checkpoints once and checks the loss once (see Ipf).
    val jobsPerSweep = 7
    val (mx, my, mseed) = fixture(spark)
    // Threshold 0 never stops the loop early, so it runs maxIter sweeps.
    val Seq((it4, j4), (it8, j8), (it12, j12)) = Seq(4, 8, 12).map(cap => TestSpark.countingJobs(
      onPath(driver = false, mx, my, mseed, threshold = 0.0, maxIter = cap).iterations))
    assert((it4, it8, it12) === ((4, 8, 12)))
    assert(j8 - j4 === 4 * jobsPerSweep && j12 - j8 === 4 * jobsPerSweep,
      s"jobs at 4/8/12 sweeps: $j4/$j8/$j12")
  }

  test("paths agree: empty seed") {
    val (mx, my, mseed) = fixture(spark)
    val r = assertPathsAgree(mx, my, CooMatrix(mseed.df.where("false")))
    assert(r.matrix.df.count() === 0L && close(r.loss, 100.0 * math.sqrt(0.58)))
  }

  test("paths agree on a zero-sum row: DIVIDE_BY_ZERO under ANSI, null cells without") {
    val zeroRow = Seq(Seq(1.0, 2.0, 1.0), Seq(0.0, 0.0, 0.0))
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    for (driver <- Seq(true, false)) {
      val (mx, my, mseed) = fixture(ansi, zeroRow)
      val e = intercept[Exception](onPath(driver, mx, my, mseed, maxIter = 5))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), e)
    }
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    val (mx, my, mseed) = fixture(legacy, zeroRow)
    val r = assertPathsAgree(mx, my, mseed, maxIter = 5)
    assert(cells(r.matrix).collect { case ((1L, _), v) => v }.toSet === Set(None))
  }

  test("reference stopping semantics: loss lags the returned matrix (core.clj:115-117)") {
    // With maxIter=1 the loop runs exactly one step but reports the seed's loss.
    val r = Dense.converge(x, y, seed, threshold = 1e-15, maxIter = 1)
    val seedLoss = Dense.rmse(x, Dense.sumRows(seed))
    assert(r.iterations === 1)
    assert(math.abs(r.loss - seedLoss) < 1e-12)
    // maxIter=0 returns the seed untouched with sentinel loss.
    val r0 = Dense.converge(x, y, seed, maxIter = 0)
    assert(r0.matrix === seed && r0.iterations === 0 && r0.loss === Int.MaxValue.toDouble)
  }

  test("property: one fitRows makes row sums equal the marginal; mass conserved") {
    val rnd = new scala.util.Random(42)
    (0 until 50).foreach { _ =>
      val rows = 1 + rnd.nextInt(5); val cols = 1 + rnd.nextInt(5)
      val mtx = Vector.fill(rows, cols)(0.1 + 10.0 * rnd.nextDouble())
      val marg = Vector.fill(rows)(0.5 + 20.0 * rnd.nextDouble())
      val fitted = Dense.fitRows(marg, mtx)
      Dense.sumRows(fitted).zip(marg).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
      assert(math.abs(fitted.flatten.sum - marg.sum) < 1e-9)
    }
  }

  test("property: IPF loss settles and never ends above the seed loss") {
    val rnd = new scala.util.Random(7)
    (0 until 30).foreach { _ =>
      val rows = 2 + rnd.nextInt(3); val cols = 2 + rnd.nextInt(3)
      val mtx = Vector.fill(rows, cols)(0.1 + 5.0 * rnd.nextDouble())
      val xm = Vector.fill(rows)(1.0 + 10.0 * rnd.nextDouble())
      val ym0 = Vector.fill(cols)(1.0 + 10.0 * rnd.nextDouble())
      val ym = ym0.map(_ * xm.sum / ym0.sum) // equal-mass precondition (README.md:7)
      var losses = Vector.empty[Double]
      var cur = mtx
      (0 until 30).foreach { _ =>
        losses :+= Dense.rmse(xm, Dense.sumRows(cur))
        cur = Dense.step(xm, ym, cur)
      }
      // IPF under the reference's L2 loss is not strictly monotone per
      // sweep, but it must settle: the final loss is no worse than the
      // seed's, and the tail flattens out.
      assert(losses.last <= losses.head + 1e-9)
      assert(math.abs(losses(29) - losses(28)) <= 1e-4 * (1.0 + losses.head))
    }
  }

  test("transpose twice is identity (property, dense)") {
    val rnd = new scala.util.Random(3)
    (0 until 20).foreach { _ =>
      val m = Vector.fill(1 + rnd.nextInt(6), 1 + rnd.nextInt(6))(rnd.nextDouble())
      assert(Dense.transpose(Dense.transpose(m)) === m)
    }
  }

  test("mmult associativity against itself (property, dense)") {
    val rnd = new scala.util.Random(11)
    (0 until 10).foreach { _ =>
      val (a, b, c) = (2 + rnd.nextInt(3), 2 + rnd.nextInt(3), 2 + rnd.nextInt(3))
      val m1 = Vector.fill(a, b)(rnd.nextDouble())
      val m2 = Vector.fill(b, c)(rnd.nextDouble())
      val m3 = Vector.fill(c, 2)(rnd.nextDouble())
      val l = Dense.mmult(Dense.mmult(m1, m2), m3)
      val r = Dense.mmult(m1, Dense.mmult(m2, m3))
      l.zip(r).foreach { case (lr, rr) =>
        lr.zip(rr).foreach { case (lv, rv) => assert(math.abs(lv - rv) < 1e-9) }
      }
    }
  }

  test("q286 3-way raking: the LAST-fit marginal is met exactly, totals conserve") {
    import org.apache.spark.sql.functions._
    val spark = graft.TestSpark.spark
    val dir = graft.TestSpark.sfDir
    val out = graft.relational.Queries.rake3Sweep(spark, dir)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // after fitting layers LAST, each layer's mass equals its target
    // marginal up to the per-cell 6dp rounding
    val gotLay = out.groupBy("mlay").agg(sum("mval").as("got")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val target = li.groupBy(col("l_returnflag").as("mlay"))
      .agg(graft.relational.Queries.dsum(col("l_quantity")).as("t")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotLay.keySet === target.keySet)
    gotLay.foreach { case (lay, got) =>
      val cells = out.filter(col("mlay") === lay).count()
      assert(math.abs(got - target(lay)) <= cells * 5e-7,
        s"layer $lay mass $got misses target ${target(lay)}")
    }
    // earlier-fit marginals are only approximate after later fits (the
    // raking property) but every cell stays positive
    assert(out.filter(col("mval") <= 0.0).count() === 0L)
  }
}
