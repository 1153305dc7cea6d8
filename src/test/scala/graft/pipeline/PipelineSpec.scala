package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.io.CsvSources
import graft.matrix.{CooMatrix, Dense, Marginals}

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
    // A request is `run` plus the sink. CostAllocation's scaladoc lists the
    // jobs: padMissingKeywords' two broadcasts, Ipf's intake and the write.
    // The visits header is read on the driver, without a job.
    val out = java.nio.file.Files.createTempDirectory("graft-guard")
    def jobsFor(maxIter: Int): (Int, Int) = TestSpark.countingJobs {
      val r = CostAllocation.run(spark, kw, hr, vs, maxIter = maxIter)
      CsvSources.writeLabeledCsv(r.matrix, out.resolve(s"sweeps$maxIter").toString)
      r.iterations
    }
    val ((it5, jobs5), (it40, jobs40)) = (jobsFor(5), jobsFor(40))
    assert(it5 === 5 && it40 === 40)
    assert(jobs5 === jobs40, s"$jobs5 jobs at 5 sweeps, $jobs40 at 40")
    assert(jobs40 <= 4, s"$jobs40 jobs")
  }

  test("visits header: the driver-read names and rows equal Spark's inferring read") {
    val path = visitsCsv("", "Keyword,\"Hour, 0\",\"say \\\"hi\\\"\",,O'Clock,1,1,TotalClicks",
      "a,3,4,5,6,7,8,33", "b,0,1,0,1,0,1,3")
    val inferred = spark.read.option("header", "true").csv(path)
    val (wide, jobs) = TestSpark.countingJobs(CsvSources.readVisitsWide(spark, path))
    assert(jobs === 0)
    assert(wide.schema === inferred.schema)
    assert(wide.columns.toSeq ===
      Seq("Keyword", "Hour, 0", "say \"hi\"", "_c3", "O'Clock", "15", "16", "TotalClicks"))
    assert(wide.collect().toSeq === inferred.collect().toSeq)
  }

  /** An allocation request's three CSVs in a fresh temp dir: the keyword
    * and hour rows under their fixed headers, and the visits lines as
    * given, header first. */
  def request(keywords: Seq[String], hours: Seq[String], visits: String*): (String, String, String) = {
    val d = java.nio.file.Files.createTempDirectory("graft-request")
    def write(name: String, lines: Seq[String]): String =
      java.nio.file.Files.write(d.resolve(name), lines.mkString("\n").getBytes("UTF-8")).toString
    (write("keywords.csv", "Keyword,TotalCost,TotalClicks" +: keywords),
      write("hours.csv", "HourOfDay,HourlyCost,HourlyClicks" +: hours),
      write("visits.csv", visits))
  }

  /** Keywords a, b and c (c without visits) and hours 0 and 1, equal mass. */
  val keywords = Seq("a,3000000,3", "b,5000000,4", "c,2000000,1")
  val hours = Seq("0,4000000,3", "1,6000000,5")
  val visitRows = Seq("a,2,1,3", "b,1,3,4")
  val visitCells = Seq(("a", "0", 2.0), ("a", "1", 1.0), ("b", "0", 1.0), ("b", "1", 3.0))

  def padded(req: (String, String, String)): Seq[(String, String, Double)] =
    CostAllocation.padMissingKeywords(
      CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, req._3)),
      CostAllocation.keywordCosts(CsvSources.readKeywords(spark, req._1)))
      .df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      .sortBy(_.toString)

  /** `CostAllocation.run` against `Dense.converge` on the layout the run
    * fits: the x keywords with a non-null name as rows, the visits hours
    * that y has as columns, a keyword without visits as a row of zeros,
    * the Laplace alpha added to every cell. Same sweeps, cells within 1e-8. */
  def assertDenseParity(req: (String, String, String), threshold: Double, maxIter: Int): Unit = {
    def rows(path: String) = scala.io.Source.fromFile(path).getLines().map(_.split(",", -1).toSeq).toSeq
    def marginal(path: String) =
      rows(path).tail.filter(r => r(0).nonEmpty && r(2) != "0").map(r => r(0) -> r(1).toLong * 1e-6).toMap
    val (x, y, visits) = (marginal(req._1), marginal(req._2), rows(req._3))
    val cols = visits.head.drop(1).dropRight(1).filter(y.contains).toVector
    val byKeyword = visits.tail.map(r => r.head -> visits.head.zip(r).toMap).toMap
    val rowKeys = x.keys.toVector.sorted
    val seed = rowKeys.map(k => cols.map(h => byKeyword.get(k).fold(0.0)(_(h).toDouble) + 1e-15))
    val dense = Dense.converge(rowKeys.map(x), cols.map(y), seed, threshold, maxIter)
    val r = CostAllocation.run(spark, req._1, req._2, req._3, threshold = threshold, maxIter = maxIter)
    assert(r.iterations === dense.iterations)
    val got = r.matrix.df.collect().map(c => (c.getString(0), c.getString(1)) -> c.getDouble(2)).toMap
    val want = (for ((k, i) <- rowKeys.zipWithIndex; (h, j) <- cols.zipWithIndex)
      yield (k, h) -> dense.matrix(i)(j)).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (cell, w) => assert(math.abs(got(cell) - w) < 1e-8, s"cell $cell") }
  }

  test("padding: a visits CSV with a header and no data rows pads nothing") {
    val req = request(keywords, hours, "Keyword,0,1,TotalClicks")
    assert(padded(req).isEmpty)
    assert(CostAllocation.run(spark, req._1, req._2, req._3, maxIter = 5).matrix.df.count() === 0L)
  }

  test("padding: a keyword in x without a visits row gets a zero cell per visits hour") {
    val req = request(keywords, hours, "Keyword,0,1,TotalClicks" +: visitRows: _*)
    assert(padded(req) === (visitCells ++ Seq(("c", "0", 0.0), ("c", "1", 0.0))).sortBy(_.toString))
    assertDenseParity(req, threshold = 1e-9, maxIter = 100)
  }

  test("padding: a visits hour absent from y is padded") {
    // Hour 2 has no clicks, so y drops it; the visits still have it.
    val req = request(keywords, hours :+ "2,0,0", "Keyword,0,1,2,TotalClicks", "a,2,1,0,3", "b,1,3,0,4")
    assert(padded(req) === (visitCells ++ Seq(("a", "2", 0.0), ("b", "2", 0.0),
      ("c", "0", 0.0), ("c", "1", 0.0), ("c", "2", 0.0))).sortBy(_.toString))
    assertDenseParity(req, threshold = 1e-9, maxIter = 100)
  }

  test("padding: a y hour absent from visits is not padded") {
    val req = request(keywords, hours :+ "3,1000000,1", "Keyword,0,1,TotalClicks" +: visitRows: _*)
    assert(padded(req) === (visitCells ++ Seq(("c", "0", 0.0), ("c", "1", 0.0))).sortBy(_.toString))
    assertDenseParity(req, threshold = 1e-9, maxIter = 100)
  }

  test("padding: a null keyword matches nothing, so it is padded and then dropped by the fit") {
    val req = request(keywords :+ ",1000000,1", hours, "Keyword,0,1,TotalClicks" +: visitRows: _*)
    assert(padded(req) === (visitCells ++ Seq(("c", "0", 0.0), ("c", "1", 0.0),
      (null, "0", 0.0), (null, "1", 0.0))).sortBy(_.toString))
    // The null keyword's cost stays in every loss, which the dense oracle
    // (no null row) does not see, so both run a fixed number of sweeps.
    assertDenseParity(req, threshold = 0.0, maxIter = 12)
  }

  /** The sink's part files, and the lines of the one there should be. */
  def sinkLines(path: String): (Int, Seq[String]) = {
    val parts = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
    (parts.length, scala.io.Source.fromFile(parts.head).getLines().toSeq)
  }

  /** The header `pivot` picks without given values: the distinct keys, sorted by Spark. */
  def pivotHeader(m: CooMatrix): Seq[String] =
    "Keyword" +: m.df.select(CooMatrix.Col).distinct().sort(CooMatrix.Col).collect().map(_.getString(0)).toSeq

  test("sink: a lazy COO with several partitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cells = Seq(Row("k2", "b", 1.0), Row("k1", "10", 2.0), Row("k3", "9", 3.0),
      Row("k1", "b", 4.0), Row("k2", "a", 5.0), Row("k1", "b", 0.5))
    val schema = StructType(Seq(StructField(CooMatrix.Row, StringType),
      StructField(CooMatrix.Col, StringType), StructField(CooMatrix.Value, DoubleType)))
    val m = CooMatrix(spark.createDataFrame(spark.sparkContext.parallelize(cells, 3), schema))
    assert(m.df.rdd.getNumPartitions === 3)
    val out = java.nio.file.Files.createTempDirectory("graft-sink").resolve("m").toString
    CsvSources.writeLabeledCsv(m, out)
    val (parts, lines) = sinkLines(out)
    assert(parts === 1)
    assert(lines.head.split(",").toSeq === pivotHeader(m))
    assert(lines.head === "Keyword,10,9,a,b")
    // Rows in keyword order; an absent cell is empty; a repeated cell sums.
    assert(lines.tail === Seq("k1,2.0,,,4.5", "k2,,,5.0,1.0", "k3,,3.0,,"))
  }

  test("sink: a driver-path result is written by one job") {
    val r = CostAllocation.run(spark, kw, hr, vs, threshold = 1e-9, maxIter = 40)
    val out = java.nio.file.Files.createTempDirectory("graft-sink").resolve("m").toString
    val (_, jobs) = TestSpark.countingJobs(CsvSources.writeLabeledCsv(r.matrix, out))
    assert(jobs === 1)
    val (parts, lines) = sinkLines(out)
    assert(parts === 1)
    assert(lines.head.split(",").toSeq === pivotHeader(r.matrix))
    val keywords = lines.tail.map(_.takeWhile(_ != ','))
    assert(keywords.size === 73 && keywords === keywords.sorted)
    assert(lines.tail.forall(l => !l.split(",", -1).contains("")))
  }

  test("the allocation path sets no session or SQL conf: its speed comes from its plans") {
    // perfbench's warm-up ops share one session concurrently, and other
    // workloads share the JVM, so a setting here would reach them too.
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("pipeline", "ipf").flatMap { d =>
      val walk = java.nio.file.Files.walk(main.resolve(d))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    } :+ main.resolve("io/Tables.scala") // CsvSources
    val setting = "conf\\.set|SQLConf|withSQLConf|setConf".r
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if setting.findFirstIn(line).isDefined
    } yield s"${f.getFileName}:${i + 1}: ${line.trim}"
    assert(files.size >= 3 && hits.isEmpty, s"settings found: $hits")
  }
}
