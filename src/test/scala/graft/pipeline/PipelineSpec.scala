package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.io.CsvSources
import graft.matrix.{CooMatrix, Marginals}

/** End-to-end golden test on the reference's own CSVs
  * (src/test/resources/cost_allocation, copied from
  * /root/reference/resources — data fixtures, per SURVEY.md §5). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def kw = TestSpark.resource("keywords.csv")
  def hr = TestSpark.resource("hours.csv")
  def vs = TestSpark.resource("visits.csv")

  test("fixture invariants: marginal masses match (README.md:7)") {
    val k = CsvSources.readKeywords(spark, kw)
    val h = CsvSources.readHours(spark, hr)
    val kSum = k.agg(sum("TotalCost")).head.getLong(0)
    val hSum = h.agg(sum("HourlyCost")).head.getLong(0)
    assert(kSum === 569720000L && hSum === 569720000L)
    assert(k.agg(sum("TotalClicks")).head.getLong(0) === 238L)
    assert(h.agg(sum("HourlyClicks")).head.getLong(0) === 238L)
  }

  test("pipeline shapes: 73 keywords x 22 hours seed, 2 padded keywords") {
    val x = CostAllocation.keywordCosts(CsvSources.readKeywords(spark, kw))
    val y = CostAllocation.hourCosts(CsvSources.readHours(spark, hr))
    assert(x.count() === 73)
    assert(y.count() === 22)
    val visits = CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, vs))
    assert(visits.df.select("row").distinct().count() === 71)
    val padded = CostAllocation.padMissingKeywords(visits, x)
    assert(padded.df.select("row").distinct().count() === 73)
    assert(padded.df.count() === 73L * 22L)
  }

  test("end-to-end allocation reproduces both marginals") {
    val r = CostAllocation.run(spark, kw, hr, vs, threshold = 1e-9, maxIter = 40)
    val x = CostAllocation.keywordCosts(CsvSources.readKeywords(spark, kw))
    val y = CostAllocation.hourCosts(CsvSources.readHours(spark, hr))
    val total = Marginals.total(x)
    assert(math.abs(r.matrix.grandTotal - total) < 1e-6 * total)
    // row sums == keyword costs
    val rowErr = Marginals.rmse(x, r.matrix.sumRows)
    assert(rowErr < 1e-6 * total, s"row marginal error $rowErr")
    // col sums == hour costs (one fit behind; looser)
    val colErr = Marginals.rmse(y, r.matrix.sumCols)
    assert(colErr < 1e-3 * total, s"col marginal error $colErr")
    assert(r.iterations > 0 && r.iterations <= 40)
    // cost-per-visit is zero-safe and defined on the observed support
    assert(r.costPerVisit.df.count() === 71L * 22L)
  }

  test("labeled CSV sink round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString + "/out"
    val visits = CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, vs))
    CsvSources.writeLabeledCsv(visits, tmp)
    val back = spark.read.option("header", "true").csv(tmp)
    assert(back.count() === 71)
    assert(back.columns.length === 23) // Keyword + 22 hour columns
    // one part file, rows in keyword order
    val parts = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
    val keywords = scala.io.Source.fromFile(parts.head).getLines().drop(1)
      .map(_.takeWhile(_ != ',')).toSeq
    assert(keywords.size === 71 && keywords === keywords.sorted)
  }

  /** A visits CSV with the given header and rows, in a fresh temp dir. */
  def visitsCsv(lines: String*): String = {
    val f = java.nio.file.Files.createTempDirectory("graft-visits").resolve("visits.csv")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("visits melt: hour headers with a quote or a backtick") {
    val wide = CsvSources.readVisitsWide(spark, visitsCsv(
      "Keyword,O'Clock,`tick`,TotalClicks", "a,3,4,7", "b,0,1,1"))
    val got = CsvSources.visitsCoo(wide).df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got === Map(("a", "O'Clock") -> 3.0, ("a", "`tick`") -> 4.0,
      ("b", "O'Clock") -> 0.0, ("b", "`tick`") -> 1.0))
  }

  test("visits melt: no hour columns gives an empty COO and an empty allocation") {
    val noHours = visitsCsv("Keyword,TotalClicks", "a,7", "b,1")
    val coo = CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, noHours))
    assert(coo.df.columns.toSeq === Seq(CooMatrix.Row, CooMatrix.Col, CooMatrix.Value))
    assert(coo.df.count() === 0L)
    assert(CostAllocation.run(spark, kw, hr, noHours, maxIter = 5).matrix.df.count() === 0L)
  }

  test("regression guard: CostAllocation.run's Spark jobs do not grow with sweeps") {
    def run(maxIter: Int): (Int, Int) =
      TestSpark.countingJobs(CostAllocation.run(spark, kw, hr, vs, maxIter = maxIter).iterations)
    val ((it5, jobs5), (it40, jobs40)) = (run(5), run(40))
    assert(it5 === 5 && it40 === 40)
    assert(jobs5 === jobs40, s"$jobs5 jobs at 5 sweeps, $jobs40 at 40")
    assert(jobs40 <= 15, s"$jobs40 jobs")
  }
}
