package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.CsvSources
import graft.ipf.Ipf
import graft.matrix.CooMatrix

/** The reference's end-to-end cost-allocation pipeline
  * (`/root/reference/src/cost_allocation/core.clj:140-197`, the scratch
  * ETL + `converge`) as one declarative DataFrame program:
  *
  *   read CSVs → filter zero-click rows → micros→currency → anti-join to
  *   find keywords missing from visits → zero-pad union → Laplace smooth →
  *   IPF converge → (optionally) cost-per-visit.
  *
  * Catalyst handles pushdown/pruning wholesale. The melt is narrow; the
  * shuffles are the two `distinct` key sets and the anti-join in
  * [[padMissingKeywords]], the cost-per-visit join when that matrix is
  * used, and the sink's pivot and its single-partition sort. A problem of
  * at most `Ipf`'s driver threshold, every reference-sized request among
  * them, is collected once and fitted on the driver with no job per
  * sweep; only a larger one runs the distributed loop (two window sums,
  * a checkpoint and a loss check per sweep).
  */
object CostAllocation {

  final case class Allocation(
      matrix: CooMatrix,        // (row = Keyword, col = hour name, value = allocated cost)
      costPerVisit: CooMatrix,  // allocated ÷ visits, zero-safe (core.clj:191-197)
      loss: Double,
      iterations: Int)

  /** x-marginal: per-keyword spend in currency units, zero-click rows
    * dropped (`core.clj:145-155`). */
  def keywordCosts(keywords: DataFrame): DataFrame =
    keywords.filter(col("TotalClicks") =!= 0L)
      .select(col("Keyword").as(CooMatrix.Idx),
        (col("TotalCost") * lit(1e-6)).as(CooMatrix.Value))

  /** y-marginal: per-hour spend in currency units (`core.clj:157-165`). */
  def hourCosts(hours: DataFrame): DataFrame =
    hours.filter(col("HourlyClicks") =!= 0L)
      .select(col("HourOfDay").as(CooMatrix.Idx),
        (col("HourlyCost") * lit(1e-6)).as(CooMatrix.Value))

  /** Zero-pad the visits matrix with one all-zero row per keyword that has
    * cost but no visits (`missing`/`visits'`, `core.clj:167-172`):
    * left-anti join for the missing keys, crossJoin with the hour set,
    * union into the COO. */
  def padMissingKeywords(visits: CooMatrix, kwCosts: DataFrame): CooMatrix = {
    val visitKeys = visits.df.select(col(CooMatrix.Row)).distinct()
    val missing = kwCosts.select(col(CooMatrix.Idx).as(CooMatrix.Row))
      .join(visitKeys, Seq(CooMatrix.Row), "left_anti")
    val hourKeys = visits.df.select(col(CooMatrix.Col)).distinct()
    val zeroRows = missing.crossJoin(broadcast(hourKeys))
      .select(col(CooMatrix.Row), col(CooMatrix.Col), lit(0.0).as(CooMatrix.Value))
    CooMatrix(visits.df.unionByName(zeroRows))
  }

  def run(
      spark: SparkSession,
      keywordsCsv: String, hoursCsv: String, visitsCsv: String,
      threshold: Double = 1e-15, maxIter: Int = 1000,
      alpha: Double = 1e-15): Allocation = {

    val x = keywordCosts(CsvSources.readKeywords(spark, keywordsCsv))
    val y = hourCosts(CsvSources.readHours(spark, hoursCsv))
    val visits = CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, visitsCsv))
    val padded = padMissingKeywords(visits, x)
    val seed = padded.laplaceSmooth(alpha) // core.clj:187
    val result = Ipf.converge(x, y, seed, threshold, maxIter)
    val cpv = result.matrix.safeDivide(visits) // core.clj:191-197 (observed cells only)
    Allocation(result.matrix, cpv, result.loss, result.iterations)
  }
}
