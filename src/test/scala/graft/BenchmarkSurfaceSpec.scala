package graft

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.TableProvider
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{CsvSources, GlprSource, TempDirs}
import graft.ipf.Ipf
import graft.llmdata.{Curation, Dedup, Similarity}
import graft.matrix.{CooMatrix, Dense}
import graft.pipeline.CostAllocation
import graft.streaming.Events

/** Compile-time guard on the engine surface the benchmark harness calls.
  * `perfbench/` is a separate sbt build that depends on this one, and the
  * tests of this build never compile it, so without this spec an engine
  * signature change breaks the benchmark only when the benchmark runs.
  * Each value binds one entry point, as a typed function value, in the
  * shape `perfbench/src/main/scala/perfbench/Workloads.scala` (and its
  * `Checks.scala` / `HarnessSpec.scala`) calls it; keep the two in step.
  * Compiling is the check; nothing here starts Spark. */
class BenchmarkSurfaceSpec extends AnyFunSuite {

  test("alloc workloads: CostAllocation.run, its traced steps, Ipf.converge, Dense parity") {
    val run: (SparkSession, String, String, String) => CostAllocation.Allocation =
      CostAllocation.run(_, _, _, _, threshold = 1e-6)
    val allocation: CostAllocation.Allocation => (CooMatrix, Double, Int) =
      a => (a.matrix, a.loss, a.iterations)
    val readKeywords: (SparkSession, String) => DataFrame = CsvSources.readKeywords
    val readHours: (SparkSession, String) => DataFrame = CsvSources.readHours
    val readVisitsWide: (SparkSession, String) => DataFrame = CsvSources.readVisitsWide
    val visitsCoo: DataFrame => CooMatrix = CsvSources.visitsCoo
    val writeLabeledCsv: (CooMatrix, String) => Unit = CsvSources.writeLabeledCsv
    val keywordCosts: DataFrame => DataFrame = CostAllocation.keywordCosts
    val hourCosts: DataFrame => DataFrame = CostAllocation.hourCosts
    val pad: (CooMatrix, DataFrame) => CooMatrix = CostAllocation.padMissingKeywords
    val smooth: CooMatrix => CooMatrix = _.laplaceSmooth(1e-15)
    val safeDivide: (CooMatrix, CooMatrix) => CooMatrix = _.safeDivide(_)
    val converge: (DataFrame, DataFrame, CooMatrix) => Ipf.Result =
      Ipf.converge(_, _, _, 1e-6, 1000, false)
    val convergeDefaults: (DataFrame, DataFrame, CooMatrix) => Ipf.Result =
      Ipf.converge(_, _, _, threshold = 1e-3)
    val result: Ipf.Result => (CooMatrix, Double, Int) = r => (r.matrix, r.loss, r.iterations)
    val coo: DataFrame => CooMatrix = CooMatrix(_)
    val marginals: CooMatrix => (DataFrame, DataFrame, DataFrame) = m => (m.sumRows, m.sumCols, m.df)
    val valueCol: String = CooMatrix.Value
    val dense: (Dense.Marginal, Dense.Marginal, Dense.Matrix) => (Dense.Matrix, Int) =
      (x, y, seed) => { val r = Dense.converge(x, y, seed, threshold = 1e-6); (r.matrix, r.iterations) }
  }

  test("corpus workloads: dedup, near-dup, curation, top-k and the GLPR write") {
    val dedup: DataFrame => DataFrame = Dedup.dedupKeepFirst
    val nearDup: DataFrame => DataFrame = Dedup.minhashNearDup(_)
    val curate: DataFrame => DataFrame = Curation.curationPipeline(_)
    val topK: (DataFrame, Int, Int) => DataFrame = Similarity.bruteForceTopK
    val write: (DataFrame, String) => Unit = GlprSource.write
    val deleteRecursively: Path => Unit = TempDirs.deleteRecursively
  }

  test("corpus workloads read back through the graft.io.GlprSource format name") {
    val cls = Class.forName("graft.io.GlprSource")
    assert(classOf[TableProvider].isAssignableFrom(cls))
  }

  test("events workloads: the four streaming settles and their batch twins") {
    val settles: Seq[(SparkSession, String) => DataFrame] = Seq(
      Events.streamingTumblingCounts, Events.streamingSessions(_, _),
      Events.streamingIntervalJoin(_, _), Events.streamingCdcCompact)
    val twins: Seq[(SparkSession, String) => DataFrame] = Seq(
      Events.tumblingCounts, Events.sessionize(_, _), Events.intervalJoin(_, _),
      Events.cdcCompact)
  }
}
