package graft.relational

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.TestSpark
import graft.matrix.CooMatrix

/** Pins the r22 same-support aggregation fusions (q18/q20/q22/q23) and the
  * q272 window rewrite against in-test rebuilds of the OLD two-scan/join
  * chains, bit-exact (no tolerance): the fusions' equivalence argument is
  * decimal order-independence + identical group supports, so any drift is
  * a bug, not noise.
  */
class FusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private def cooExact(measure: String): DataFrame =
    graft.io.Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("mrow"), month(col("l_shipdate")).cast("long").as("mcol"))
      .agg(Queries.dsum(col(measure)).as("mval"))

  private def asMap(df: DataFrame): Map[(Any, Any), Double] =
    df.collect().map(r => ((r.get(0), r.get(1)), r.getDouble(2))).toMap

  test("q22/q23 fused zip == two-scan CooMatrix zip, bit-exact") {
    val p = CooMatrix.fromDF(cooExact("l_extendedprice"), "mrow", "mcol", "mval")
    val q = CooMatrix.fromDF(cooExact("l_quantity"), "mrow", "mcol", "mval")
    def named(m: CooMatrix): DataFrame =
      m.df.select(col(CooMatrix.Row).as("mrow"), col(CooMatrix.Col).as("mcol"),
        col(CooMatrix.Value).as("mval"))
    val oldDiv = asMap(named(p.safeDivide(q)))
    val newDiv = asMap(Queries.safeDivide(spark, dir))
    assert(newDiv == oldDiv)
    val oldErr = asMap(named(p.errorMatrix(q)))
    val newErr = asMap(Queries.errorMatrix(spark, dir))
    assert(newErr == oldErr)
  }

  test("q18/q20 fused marginal aggregates == two-scan join chains, bit-exact") {
    val li = graft.io.Tables(spark, dir, "lineitem")
    val a18 = li.groupBy(col("l_partkey").as("k")).agg(Queries.dsum(col("l_quantity")).as("av"))
    val b18 = li.groupBy(col("l_partkey").as("k")).agg(Queries.dsum(col("l_extendedprice")).as("bv"))
    val oldDot = a18.join(b18, "k")
      .agg(sum((col("av") * col("bv")).cast(DecimalType(38, 4))).cast("double"))
      .head().getDouble(0)
    assert(Queries.marginalDot(spark, dir).head().getDouble(0) == oldDot)

    val a20 = li.groupBy(col("l_partkey").as("k"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("av"))
    val b20 = li.filter(col("l_returnflag") === "A").groupBy(col("l_partkey").as("k"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("bv"))
    val oldRmse = a20.join(b20, Seq("k"), "left_outer")
      .select((col("av") - coalesce(col("bv"), lit(0).cast(DecimalType(18, 2)))).as("d"))
      .agg(sqrt(sum((col("d") * col("d")).cast(DecimalType(38, 4))).cast("double")))
      .head().getDouble(0)
    assert(Queries.marginalRmse(spark, dir).head().getDouble(0) == oldRmse)
  }

  test("q272 window first-appearance == groupBy+join first-appearance, bit-exact") {
    import graft.llmdata.{TextAnalysis, Ingest}
    val docs = graft.io.Tables(spark, dir, "documents")
    // old chain: presence -> groupBy(s).min(batch) -> join back -> rollup
    val present = docs.withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
        explode(array_distinct(TextAnalysis.shingles(col("toks"), 3))).as("s"))
      .groupBy(window(col("ingest_ts"), "100 seconds").as("w"), col("s"))
      .agg(count(lit(1)).as("_n"))
      .select(Ingest.batchIndex(col("w"), 100L).as("batch"), col("s"))
    val first = present.groupBy("s").agg(min("batch").as("first_batch"))
    val old = present.join(first, "s")
      .groupBy("batch")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L)).as("n_new"))
      .select(col("batch"), col("n_shingles"), col("n_new"),
        round(col("n_new").cast("double") / col("n_shingles"), 6).as("novelty"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val neu = TextAnalysis.shingleNovelty(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(neu == old)
    assert(neu.nonEmpty)
  }
}
