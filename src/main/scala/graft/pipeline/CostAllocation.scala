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
  * Catalyst handles pushdown/pruning wholesale. The melt is narrow and
  * the padding joins against two broadcasts, so the seed has no shuffle;
  * the cost-per-visit join has one, when that matrix is used. `Ipf` takes
  * the seed to the driver in one job when it is small (every
  * reference-sized request) and fits it there with no job per sweep. On
  * the reference CSVs, `run` plus `CsvSources.writeLabeledCsv` runs 5
  * Spark jobs: the visits header read, the two broadcasts, `Ipf`'s intake
  * and the write.
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
    * cost but no visits (`missing`/`visits'`, `core.clj:167-172`), a cell
    * per hour the visits have. The keywords left-anti-joined to the visits'
    * keywords are crossed with `CsvSources.headerHours`, known at plan
    * time, then semi-joined to the visits' hours, so a header with no
    * data rows pads nothing. Both build sides are the visits cells,
    * broadcast with no `distinct`, so the padding has no shuffle. */
  def padMissingKeywords(visits: CooMatrix, kwCosts: DataFrame): CooMatrix = {
    import CooMatrix.{Row, Col, Value}
    val zeroRows = kwCosts.select(col(CooMatrix.Idx).as(Row))
      .join(broadcast(visits.df.select(Row)), Seq(Row), "left_anti")
      .select(col(Row), explode(typedLit(CsvSources.headerHours(visits))).as(Col))
      .join(broadcast(visits.df.select(Col)), Seq(Col), "left_semi")
      .select(col(Row), col(Col), lit(0.0).as(Value))
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
