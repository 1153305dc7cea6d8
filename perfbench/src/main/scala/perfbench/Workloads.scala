package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{CsvSources, GlprSource}
import graft.ipf.Ipf
import graft.llmdata.{Curation, Dedup, Similarity}
import graft.matrix.CooMatrix
import graft.pipeline.CostAllocation
import graft.streaming.Events

final case class Ctx(spark: SparkSession, trace: Trace, work: Path, seed: Long, cores: Int)

/** What an op reports once its output is checked: the input rows it
  * processed, the failed checks, and counts for the traced run. */
final case class Outcome(rows: Long, failures: Seq[String], counts: Map[String, Double] = Map.empty)

/** One workload: set-up writes the inputs of every op the run may execute
  * (warm-up ops first), `run` is the timed part of op `i`, `check` the
  * untimed output check of its result. Op `i` reads inputs no other op
  * reads, so no per-(JVM, dir) memo cache of the engine ever hits. */
trait Workload {
  type Result
  def name: String
  def warmups: Int
  /** Ops the timed loop always completes; count metrics use exactly these. */
  def minOps: Int
  /** The timed loop stops only after a multiple of this many ops. */
  def round: Int = 1
  /** A lower bound on one op's latency, to size the inputs set-up writes. */
  def opFloorSeconds: Double
  def description(ctx: Ctx): String
  def prepare(ctx: Ctx, ops: Int): Unit
  def run(ctx: Ctx, i: Int): Result
  def check(ctx: Ctx, i: Int, r: Result): Outcome
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "alloc_small" => new AllocSmall
    case "alloc_large" => new AllocLarge
    case "curate_corpus" => new CurateCorpus
    case "events_stream" => new EventsStream
    case "corpus_events" => new CorpusEvents
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("alloc_small", "corpus_events", "alloc_large", "curate_corpus",
    "events_stream")
}

/** Independent small allocations through `CostAllocation.run`, each
  * allocation written with `CsvSources.writeLabeledCsv`. The lazily built
  * cost-per-visit matrix is planned but not written. */
final class AllocSmall extends Workload {
  type Result = (Int, Double)
  val name = "alloc_small"
  val warmups = 4
  val minOps = 8
  val opFloorSeconds = 1.5
  /** One micro-unit, the resolution of the inputs' integer costs. */
  val tol = 1e-6
  /** Every request needs exactly this many sweeps (dense reference). */
  val sweeps = 7
  private val sizes = Seq(60, 100, 150, 200)

  def description(ctx: Ctx) =
    s"keywords ${sizes.mkString("/")} (+10% without visits, +20% zero-click) x <=23 hours, " +
      s"$sweeps sweeps to tolerance $tol"

  private def dir(ctx: Ctx, i: Int) = ctx.work.resolve(s"alloc/$i")

  def prepare(ctx: Ctx, ops: Int): Unit =
    for (i <- 0 until ops) {
      val k = sizes(i % sizes.size)
      // Redraw until the dense reference needs exactly `sweeps` sweeps, so
      // every request asks the engine for the same number of barriers.
      val req = Iterator.range(0, 500).map { j =>
        Gen.allocRequest(Gen.rng(ctx.seed, 1, i * 1000 + j), k, k / 10, k / 5, 1 + i % 3)
      }.find { a =>
        Checks.denseSolve(Checks.allocInputs(a.keywordsCsv, a.hoursCsv, a.visitsCsv), tol)._2 == sweeps
      }.getOrElse(sys.error(s"no request of $k keywords needs $sweeps sweeps"))
      Gen.writeAlloc(dir(ctx, i), req)
    }

  def run(ctx: Ctx, i: Int): Result = {
    val d = dir(ctx, i)
    val (kw, hr, vi) = (d.resolve("keywords.csv").toString, d.resolve("hours.csv").toString,
      d.resolve("visits.csv").toString)
    val spark = ctx.spark
    val t = ctx.trace
    val (matrix, loss, iters) =
      if (!t.enabled) {
        val a = CostAllocation.run(spark, kw, hr, vi, threshold = tol)
        (a.matrix, a.loss, a.iterations)
      } else {
        // The same public calls, in the same order and with the same
        // arguments, that CostAllocation.run makes, each in its own span.
        val x = t.span("pipeline", "pipeline.keywordCosts")(
          CostAllocation.keywordCosts(t.span("io", "io.read")(CsvSources.readKeywords(spark, kw))))
        val y = t.span("pipeline", "pipeline.hourCosts")(
          CostAllocation.hourCosts(t.span("io", "io.read")(CsvSources.readHours(spark, hr))))
        val visits = t.span("io", "io.read")(CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, vi)))
        val padded = t.span("pipeline", "pipeline.padMissingKeywords")(
          CostAllocation.padMissingKeywords(visits, x))
        val seed = t.span("matrix", "matrix.laplaceSmooth")(padded.laplaceSmooth(1e-15))
        val r = t.span("ipf", "ipf.converge")(Ipf.converge(x, y, seed, tol, 1000, false))
        t.span("matrix", "matrix.safeDivide")(r.matrix.safeDivide(visits))
        (r.matrix, r.loss, r.iterations)
      }
    t.span("io", "io.write")(CsvSources.writeLabeledCsv(matrix, d.resolve("out/allocation").toString))
    (iters, loss)
  }

  def check(ctx: Ctx, i: Int, r: Result): Outcome = {
    val d = dir(ctx, i)
    val in = Checks.readAllocInputs(d)
    val got = Checks.readLabeledCsv(d.resolve("out/allocation"))
    val cells = in.x.size.toLong * in.y.size
    Outcome(cells, Checks.allocation(in, got, r._1, tol),
      Map("sweeps" -> r._1.toDouble, "cells" -> cells.toDouble))
  }
}

/** Repeated `Ipf.converge` with the shipped defaults, as
  * `CostAllocation.run` calls it, on a large keyword x hour COO. */
final class AllocLarge extends Workload {
  type Result = Ipf.Result
  val name = "alloc_large"
  val warmups = 1
  val minOps = 2
  val opFloorSeconds = 3.0
  val rows = 48000
  val cols = 168
  val meanLen = 8
  val tol = 1e-3

  def description(ctx: Ctx) =
    s"$rows keywords x $cols hour slots, Zipf row lengths (mean ~$meanLen), tolerance $tol"

  private def dir(ctx: Ctx, i: Int) = ctx.work.resolve(s"large/$i")

  def prepare(ctx: Ctx, ops: Int): Unit =
    for (i <- 0 until ops) {
      val c = Gen.largeCoo(Gen.rng(ctx.seed, 2, i), rows, cols, meanLen)
      ParquetOut.writeCoo(dir(ctx, i).resolve("coo.parquet"), c)
      ParquetOut.writeMarginal(dir(ctx, i).resolve("x.parquet"), c.x)
      ParquetOut.writeMarginal(dir(ctx, i).resolve("y.parquet"), c.y)
    }

  def run(ctx: Ctx, i: Int): Result = {
    val d = dir(ctx, i)
    val spark = ctx.spark
    val (seed, x, y) = ctx.trace.span("bench", "bench.read")((
      CooMatrix(spark.read.parquet(d.resolve("coo.parquet").toString)),
      spark.read.parquet(d.resolve("x.parquet").toString),
      spark.read.parquet(d.resolve("y.parquet").toString)))
    ctx.trace.span("ipf", "ipf.converge")(Ipf.converge(x, y, seed, threshold = tol))
  }

  def check(ctx: Ctx, i: Int, r: Result): Outcome = {
    val d = dir(ctx, i)
    val spark = ctx.spark
    def marginal(p: String) = spark.read.parquet(d.resolve(s"$p.parquet").toString).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).sortBy(_._1).map(_._2)
    val (x, y) = (marginal("x"), marginal("y"))
    val m = r.matrix
    val rowSums = m.sumRows.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    val colSums = m.sumCols.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    val stats = m.df.agg(min(CooMatrix.Value), count(lit(1))).head()
    Outcome(stats.getLong(1), Checks.cooFit(x, y, rowSums, colSums, stats.getDouble(0), tol),
      Map("sweeps" -> r.iterations.toDouble, "cells" -> stats.getLong(1).toDouble))
  }
}

/** One corpus batch through exact dedup, near-dup detection, the curation
  * chain and top-k similarity, written through the GLPR connector and read
  * back. */
final class CurateCorpus extends Workload {
  type Result = (DataFrame, DataFrame, Array[Row], Long)
  val name = "curate_corpus"
  val warmups = 2
  val minOps = 3
  val opFloorSeconds = 1.5
  val docs = 600
  val exactGroups = 30
  val nearPairs = 30
  val embeddings = 1000
  val queries = 10
  val k = 5
  /** Near-dup recall floor: found / planted near-duplicate pairs. */
  val recallFloor = 0.95

  def description(ctx: Ctx) =
    s"$docs docs per batch ($exactGroups exact and $nearPairs near-duplicate pairs planted), " +
      s"$embeddings embeddings x 64 ($queries queries, top-$k)"

  private def dir(ctx: Ctx, i: Int) = ctx.work.resolve(s"corpus/$i")
  private var planted = Map.empty[Int, (Gen.Corpus, Gen.Embeddings)]

  def prepare(ctx: Ctx, ops: Int): Unit =
    planted = (0 until ops).map { i =>
      val c = Gen.corpus(Gen.rng(ctx.seed, 3, i), i * 1000000L, docs, exactGroups, nearPairs)
      val e = Gen.embeddings(Gen.rng(ctx.seed, 4, i), embeddings, 64, queries)
      ParquetOut.writeDocuments(dir(ctx, i).resolve("documents.parquet"), c.rows)
      ParquetOut.writeEmbeddings(dir(ctx, i).resolve("embeddings.parquet"), e.rows)
      i -> (c, e)
    }.toMap

  def run(ctx: Ctx, i: Int): Result = {
    val spark = ctx.spark
    val t = ctx.trace
    val d = dir(ctx, i)
    val docsDf = spark.read.parquet(d.resolve("documents.parquet").toString)
    val emb = spark.read.parquet(d.resolve("embeddings.parquet").toString)
    val deduped = t.span("llmdata", "llmdata.exact_dedup")(Dedup.dedupKeepFirst(docsDf))
    val pairs = t.span("llmdata", "llmdata.neardup")(Dedup.minhashNearDup(deduped))
    val nearFree = deduped.join(pairs.select(col("doc_b").as("doc_id")), Seq("doc_id"), "left_anti")
    val curated = t.span("llmdata", "llmdata.filter")(Curation.curationPipeline(nearFree))
    val kept = nearFree.join(curated.select("doc_id"), Seq("doc_id"), "left_semi")
    val topk = t.span("llmdata", "llmdata.topk")(Similarity.bruteForceTopK(emb, queries, k).collect())
    val out = d.resolve("glpr").toString
    t.span("io", "io.write")(GlprSource.write(kept, out))
    val readBack = t.span("io", "io.read")(
      spark.read.format("graft.io.GlprSource").load(out).count())
    (pairs, kept, topk, readBack)
  }

  def check(ctx: Ctx, i: Int, r: Result): Outcome = {
    val (pairs, kept, topk, readBack) = r
    val (c, e) = planted(i)
    val fails = Seq.newBuilder[String]
    val keptIds = ctx.spark.read.format("graft.io.GlprSource").load(dir(ctx, i).resolve("glpr").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = c.exactDups.count { case (a, b) => keptIds(a) && keptIds(b) }
    if (survivors > 0) fails += s"$survivors planted exact duplicates survived"
    val found = pairs.select("doc_a", "doc_b").collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val recall = c.nearDups.count(found).toDouble / c.nearDups.length
    if (recall < recallFloor) fails += s"near-dup recall $recall < $recallFloor"
    val hits = topk.map(row => (row.getAs[Long]("query_id"), row.getAs[Long]("cand_id"))).toSet
    val missed = e.planted.count(p => !hits(p))
    if (missed > 0) fails += s"$missed planted neighbours missing from top-$k"
    val keptCount = kept.count()
    if (readBack != keptCount) fails += s"GLPR read back $readBack docs, $keptCount kept"
    Outcome(c.rows.length.toLong, fails.result(), Map(
      "neardup_pairs" -> found.size.toDouble, "neardup_recall" -> recall,
      "kept_ratio" -> keptCount.toDouble / c.rows.length))
  }
}

/** Streaming settles — tumbling counts, sessions, an interval join and CDC
  * compaction, in rotation — each on its own events batch. */
final class EventsStream extends Workload {
  type Result = Array[Row]
  val name = "events_stream"
  val warmups = 4
  val minOps = 8
  override val round = 4
  val opFloorSeconds = 0.8
  val events = 4000
  val users = 150
  val hours = 12

  def description(ctx: Ctx) =
    s"$events events per settle ($users users over $hours h), settles of tumbling counts, " +
      "sessions, interval join and CDC compaction in rotation"

  private def dir(ctx: Ctx, i: Int) = ctx.work.resolve(s"events/$i")

  def prepare(ctx: Ctx, ops: Int): Unit =
    for (i <- 0 until ops)
      ParquetOut.writeEvents(dir(ctx, i).resolve("events.parquet"),
        Gen.events(Gen.rng(ctx.seed, 5, i), i * 10000000L, events, users, hours))

  val kinds = Seq("tumbling", "sessions", "interval_join", "cdc")
  def kind(i: Int): String = kinds(i % kinds.size)

  def run(ctx: Ctx, i: Int): Result = settle(ctx, i, kind(i))

  def check(ctx: Ctx, i: Int, r: Result): Outcome = checkSettle(ctx, i, kind(i), r)

  /** Settles one stream of kind `k` over events batch `b`. */
  def settle(ctx: Ctx, b: Int, k: String): Array[Row] = {
    val (spark, d) = (ctx.spark, dir(ctx, b).toString)
    ctx.trace.span("streaming", s"streaming.$k")(k match {
      case "tumbling" => Events.streamingTumblingCounts(spark, d)
      case "sessions" => Events.streamingSessions(spark, d)
      case "interval_join" => Events.streamingIntervalJoin(spark, d)
      case "cdc" => Events.streamingCdcCompact(spark, d)
    }).collect()
  }

  /** Compares a settled frame with its batch twin. */
  def checkSettle(ctx: Ctx, b: Int, k: String, r: Array[Row]): Outcome = {
    val (spark, d) = (ctx.spark, dir(ctx, b).toString)
    val twin = (k match {
      case "tumbling" => Events.tumblingCounts(spark, d)
      case "sessions" => Events.sessionize(spark, d)
      case "interval_join" => Events.intervalJoin(spark, d)
      case "cdc" => Events.cdcCompact(spark, d)
    }).collect()
    def canon(rows: Array[Row]) = rows.map(_.toSeq.mkString("|")).sorted.toSeq
    val fails = if (canon(r) == canon(twin)) Nil
      else Seq(s"$k settle (${r.length} rows) differs from its batch twin (${twin.length} rows)")
    Outcome(events.toLong, fails, if (ctx.trace.enabled) progress(ctx) else Map.empty)
  }

  /** Streaming progress of the op's queries, for the traced run. */
  private def progress(ctx: Ctx): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    val t = StreamListener.take()
    Map("micro_batches" -> t.batches.toDouble, "trigger_s" -> t.triggerMs / 1e3,
      "planning_s" -> t.planningMs / 1e3, "commit_s" -> t.commitMs / 1e3,
      "state_rows" -> t.lastState.values.map(_._1).sum.toDouble,
      "state_bytes" -> t.lastState.values.map(_._2).sum.toDouble)
  }
}

/** One ingest tick of the data platform: a corpus batch through the
  * curation chain of [[CurateCorpus]], then one streaming settle of
  * [[EventsStream]] over that tick's own events batch, the settle kind
  * rotating by op. The four warm-up ops settle the four kinds once. */
final class CorpusEvents extends Workload {
  type Result = (CurateCorpus#Result, Array[Row])
  val name = "corpus_events"
  val warmups = 4
  val minOps = 4
  val opFloorSeconds = 3.0
  val curate = new CurateCorpus
  val stream = new EventsStream

  def description(ctx: Ctx) = s"${curate.description(ctx)}; ${stream.description(ctx)}"

  def prepare(ctx: Ctx, ops: Int): Unit = {
    curate.prepare(ctx, ops)
    stream.prepare(ctx, ops)
  }

  def run(ctx: Ctx, i: Int): Result = (curate.run(ctx, i), stream.run(ctx, i))

  def check(ctx: Ctx, i: Int, r: Result): Outcome = {
    val (c, st) = (curate.check(ctx, i, r._1), stream.check(ctx, i, r._2))
    Outcome(c.rows + st.rows, c.failures ++ st.failures, c.counts ++ st.counts)
  }
}
