package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.univocity.parsers.csv.CsvParser
import graft.matrix.CooMatrix

/** Typed readers over the driver's parquet testdata (TESTDATA.md) and the
  * reference's CSV schema family (FIXTURES.md §1). Explicit schemas replace
  * the reference's positional-convention parsing
  * (`/root/reference/src/cost_allocation/core.clj:140-185`, `read-string`
  * per cell) so that Catalyst can prune columns and push filters into the
  * scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-path schema memo (r21, guide §1/§6): a schema-less
    * `spark.read.parquet` runs a one-task footer-inference JOB on every
    * DataFrame construction — a query touching several tables paid up to
    * 14 such driver round-trips per execution (measured: q213_fk_audit
    * spent 1.0s wall on 0.05s of executor time, most of it these jobs).
    * The testdata fixtures are immutable per path (TESTDATA.md:
    * "Read-only — do NOT regenerate"), so the first inference per
    * (JVM, path) is authoritative ([[TempDirs.once]]) and every later
    * read passes the explicit schema — the plan is bit-identical (the
    * memo holds exactly what inference would return), the inference job
    * just stops repeating. This memoizes METADATA only, never rows or
    * results. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = TempDirs.once(s"schema#$path") { spark.read.parquet(path).schema }
    spark.read.schema(schema).parquet(path)
  }

  /** Spread a low-parallelism scan across the session's shuffle
    * parallelism before CPU-dense per-row work (r21, guide §2.5 "input
    * skew"): the testdata corpus tables arrive as ONE small parquet file
    * (documents.parquet is ~600 KB compressed, a single row group), so
    * every tokenize/shingle/decode stage downstream of the scan ran as
    * ONE task while the other cores idled (measured: a 4.4 s single-task
    * explode stage inside q126; 1.1 s in q49; 0.73 s in q225). The gate
    * makes this scale-adaptive, not a local[32] constant: it fires only
    * when the scan has FEWER partitions than the configured shuffle
    * parallelism — at cluster scale a real corpus scan already carries
    * thousands of splits and the frame passes through untouched, so no
    * text-payload shuffle is ever introduced where it would hurt.
    * Hash-partitioned on a stable key (deterministic under task retries
    * — never round-robin on nondeterministic input, SPARK-38388); the
    * hash exchange itself moves only the small compressed rows once.
    *
    * The pinned width is capped at 16 (r22): REPARTITION_BY_NUM is
    * AQE-opaque, so a pin at the full core count is maximally exposed
    * when the host is oversubscribed (the r21
    * driver run measured q266 at 9.55 s in exactly that state). An
    * AQE-coalescible `repartition(col)` was measured and REJECTED — AQE
    * sizes partitions by bytes, these stages are CPU-dense at tiny bytes,
    * and the coalesce collapsed them back to ~1 task (q266 0.59 -> 4.28 s,
    * q49 0.87 -> 2.88 s). On a quiet host, caps 8/16/24/32 measure equal
    * (within the ±0.2-0.6 s noise band), so 16 trades nothing for half
    * the contention exposure. */
  def spread(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    val target = try { math.min(n.toInt, 16) }
      catch { case _: NumberFormatException => 0 }
    if (target > 0 && df.rdd.getNumPartitions < target)
      df.repartition(target, col(key))
    else df
  }
}

/** Schema-typed CSV I/O for the reference's resource family — replaces
  * `open-csv`/`save-csv` (`/root/reference/src/cost_allocation/data.clj:5-15`). */
object CsvSources {

  val keywordsSchema: StructType = StructType(Seq(
    StructField("Keyword", StringType),
    StructField("TotalCost", LongType),     // integer micro-units (core.clj:155)
    StructField("TotalClicks", LongType)))

  val hoursSchema: StructType = StructType(Seq(
    StructField("HourOfDay", StringType),   // string so it joins the melted visits hour keys
    StructField("HourlyCost", LongType),
    StructField("HourlyClicks", LongType)))

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def readKeywords(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, keywordsSchema)

  def readHours(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, hoursSchema)

  /** The wide visits table (Keyword, one column per hour, TotalClicks) read
    * as strings — hour column set is data-dependent (FIXTURES.md: hours 4
    * and 5 are absent). The header line is read on the driver and parsed
    * by the parser and naming rules of Spark's own CSV inference, so the
    * read gets the all-string schema inference would give without running
    * its job. A path that is not one file, or a file with no header line,
    * takes the inferring read. */
  def readVisitsWide(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.option("header", "true")
    val file = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val options = new CSVOptions(Map("header" -> "true"), columnPruning = false,
      spark.conf.get("spark.sql.session.timeZone"))
    val isFile = scala.util.Try(file.getFileSystem(conf).getFileStatus(file).isFile)
      .getOrElse(false)
    val header = if (!isFile) None else CSVUtils.readHeaderLine(file, options, conf)
      .flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line)))
    header match {
      case Some(row) =>
        val names = CSVUtils.makeSafeHeader(row,
          spark.conf.get("spark.sql.caseSensitive").toBoolean, options)
        reader.schema(StructType(names.toSeq.map(StructField(_, StringType)))).csv(path)
      case None => reader.csv(path)
    }
  }

  /** The hour names of the wide header that `visits` was melted from. */
  def headerHours(visits: CooMatrix): Seq[String] =
    visits.df.schema(CooMatrix.Col).metadata.getStringArray(HeaderHours).toSeq
  private val HeaderHours = "header_hours"

  /** Melt the wide visits table to COO: (Keyword, hourName, visits).
    * The wide form's explicit "0" cells become explicit COO zeros, which
    * Laplace smoothing must see (core.clj:187). The melt is built from
    * `Column`s, not SQL text, so any header name works; a table with no
    * hour columns melts to an empty COO. The `col` column's metadata
    * keeps the header's hour names for [[headerHours]]. */
  def visitsCoo(visitsWide: DataFrame): CooMatrix = {
    val hourCols = visitsWide.columns.drop(1).dropRight(1) // drop Keyword, TotalClicks
    val keyword = col("Keyword").as(CooMatrix.Row)
    val header = new MetadataBuilder().putStringArray(HeaderHours, hourCols).build()
    if (hourCols.isEmpty)
      CooMatrix(visitsWide.select(keyword, lit(null).cast(StringType).as(CooMatrix.Col, header),
        lit(null).cast(DoubleType).as(CooMatrix.Value)).where(lit(false)))
    else {
      val cells = hourCols.map(h => struct(lit(h).as(CooMatrix.Col, header),
        col("`" + h.replace("`", "``") + "`").cast(DoubleType).as(CooMatrix.Value)))
      CooMatrix(visitsWide.select(keyword, inline(array(cells.toIndexedSeq: _*))))
    }
  }

  /** Labeled-matrix CSV sink — reference `add-labels` + `save-csv`
    * (`core.clj:63-69`, `data.clj:11-15`). The COO already carries its
    * labels; we pivot back to the wide labeled form only at the sink.
    * One part file, rows sorted by keyword, a column per distinct column
    * key in Spark's ascending order. `pivot` is given those keys, from a
    * projection of the matrix that collects with no job from a local
    * relation (an `Ipf` driver-path result). The matrix is coalesced into
    * the file's one partition first, so the pivot's aggregations and the
    * sort add no exchange and the write is one job. */
  def writeLabeledCsv(m: CooMatrix, path: String): Unit = {
    val t = m.df.schema(CooMatrix.Col).dataType
    val values = m.df.select(CooMatrix.Col).collect().map(_.get(0)).distinct
      .sortBy(v => InternalRow(CatalystTypeConverters.convertToCatalyst(v)))(
        RowOrdering.createNaturalAscendingOrdering(Seq(t)))
    m.df.coalesce(1)
      .groupBy(CooMatrix.Row).pivot(CooMatrix.Col, values.toSeq).sum(CooMatrix.Value)
      .withColumnRenamed(CooMatrix.Row, "Keyword")
      .sortWithinPartitions("Keyword")
      .write.mode("overwrite").option("header", "true").csv(path)
  }
}
