package perfbench

import java.nio.file.Paths
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one process, `local[nproc]`, one closed-loop
  * client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (session start, input generation, untimed warm-up ops) is timed
  * from `main` entry to the first timed op. The timed loop then runs ops
  * until `--seconds` have passed (and at least the workload's `minOps`);
  * each op's output is checked outside its timed region. The last stdout
  * line is one JSON object; with `--trace 0` it carries the end-to-end
  * metrics, with `--trace 1` the per-layer metrics of a traced run.
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String)

  final case class OpRecord(i: Int, seconds: Double, outcome: Outcome)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    // Set-up writes the inputs without Spark, so they are generated while
    // the Spark session starts.
    val data = work.resolve("data")
    val ops = plannedOps(workload, seconds)
    val inputs = Future(workload.prepare(Ctx(null, Trace.off, data, seed, cores), ops))(ExecutionContext.global)
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) builder
      .config("spark.extraListeners", classOf[TaskListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    log(f"spark ${spark.version} started at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, new Trace(traced, spark.sparkContext), data, seed, cores)

    var status = 0
    try {
      Await.result(inputs, Duration.Inf)
      log(f"prepared inputs for $ops ops at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val (records, setupS, attempted, failed) = measure(ctx, workload, seconds, t0, ops)
      val metrics = if (traced) layerMetrics(ctx, workload, records) else endToEnd(records, setupS)
      if (traced) ctx.trace.writeJsonl(work.resolve(s"spans-${workload.name}-$seed.jsonl"))
      report(ctx, workload, metrics, records, attempted, failed, traced)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${workload.name} aborted: $e")
        e.printStackTrace()
        status = 1
    } finally spark.stop()
    sys.exit(status)
  }

  /** Warm-up ops plus as many timed ops as `seconds` can hold. */
  def plannedOps(w: Workload, seconds: Double): Int =
    w.warmups + w.round * math.ceil((w.minOps + seconds / w.opFloorSeconds) / w.round).toInt

  /** Warm-up ops, then the timed loop over the inputs of `ops` prepared
    * ops. Returns the timed ops, set-up seconds (from `mainStart` to the
    * first timed op), and the ops attempted and failed, warm-up included.
    *
    * The warm-up ops and their checks run side by side: they are untimed,
    * and an op leaves most cores idle, so four of them cost little more
    * wall time than one. */
  def measure(ctx: Ctx, w: Workload, seconds: Double, mainStart: Long, ops: Int)
      : (Seq[OpRecord], Double, Int, Int) = {
    val attempted = new AtomicInteger
    val failed = new AtomicInteger
    def attempt(i: Int): Option[OpRecord] = {
      attempted.incrementAndGet()
      ctx.trace.beginOp(i)
      val start = System.nanoTime()
      val result = try Right(w.run(ctx, i)) catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - start) / 1e9
      val outcome = result match {
        case Right(r) => try w.check(ctx, i, r) catch {
          case e: Exception => Outcome(0, Seq(s"check threw $e"))
        }
        case Left(e) => Outcome(0, Seq(s"op threw $e"))
      }
      log(f"op $i: $secs%.3f s, ${outcome.rows} rows, ${outcome.failures.size} failed checks")
      if (outcome.failures.nonEmpty) {
        failed.incrementAndGet()
        System.err.println(s"perfbench: op $i failed: ${outcome.failures.mkString("; ")}")
      }
      Some(OpRecord(i, secs, outcome)).filter(_ => result.isRight)
    }
    if (w.warmups > 0) {
      val pool = Executors.newFixedThreadPool(w.warmups)
      val ec = ExecutionContext.fromExecutor(pool)
      try (0 until w.warmups).map(i => Future(attempt(i))(ec)).foreach(Await.result(_, Duration.Inf))
      finally pool.shutdown()
    }
    if (ctx.trace.enabled) {
      // The warm-up streams' progress is not the timed ops'.
      org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
      StreamListener.take()
    }
    System.gc()
    val setupS = (System.nanoTime() - mainStart) / 1e9
    val records = mutable.ArrayBuffer[OpRecord]()
    val loopStart = System.nanoTime()
    var i = w.warmups
    def more = {
      val done = i - w.warmups
      done < w.minOps || done % w.round != 0 || (System.nanoTime() - loopStart) / 1e9 < seconds
    }
    while (more && i < ops) {
      attempt(i).foreach(records += _)
      i += 1
    }
    (records.toSeq, setupS, attempted.get, failed.get)
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    * it, as (percentile, value); None with fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))

  /** `rows_per_s` is a closed-loop client's throughput at the median
    * latency: the mean input rows of a timed op ÷ `op_p50_s`. */
  def endToEnd(records: Seq[OpRecord], setupS: Double): Seq[Metric] = {
    val p50 = median(records.map(_.seconds))
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_s", p50, "s"),
      Metric("rows_per_s", records.map(_.outcome.rows).sum.toDouble / records.size / p50, "rows/s"))
  }

  /** Layer metrics of the traced run, per op unless stated: times are the
    * median over timed ops of the layer's summed span self time; counts
    * of useful outcomes come from the `minOps` ops every run completes. */
  def layerMetrics(ctx: Ctx, w: Workload, records: Seq[OpRecord]): Seq[Metric] = {
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    val spans = ctx.trace.all
    val ops = records.map(_.i)
    val fixed = records.take(w.minOps)
    def perOp(f: Int => Double): Double = median(ops.map(f))
    def inOp(i: Int, layer: String, name: String = null) =
      spans.filter(s => s.op == i && s.layer == layer && (name == null || s.name == name))
    def self(i: Int, layer: String, name: String = null): Double =
      inOp(i, layer, name).map(ctx.trace.selfNanos).sum / 1e9
    def wall(i: Int, layer: String): Double = inOp(i, layer).map(s => s.end - s.start).sum / 1e9
    def counts(i: Int, layer: String): Trace.Counts = {
      val c = new Trace.Counts
      inOp(i, layer).foreach(s => c.add(TaskListener.of(s.id)))
      c
    }
    def busy(i: Int, layer: String): Double = {
      val wl = wall(i, layer)
      if (wl == 0.0) 0.0 else counts(i, layer).runMs / 1e3 / (wl * ctx.cores)
    }
    def outcome(r: OpRecord, k: String) = r.outcome.counts.getOrElse(k, 0.0)
    val sweeps = records.map(r => r.i -> outcome(r, "sweeps")).toMap
    def perSweep(i: Int, v: Double) = if (sweeps(i) == 0.0) 0.0 else v / sweeps(i)
    val stream = records.map(r => r.i -> r.outcome.counts).toMap
    Seq(
      Metric("ipf.converge_s", perOp(self(_, "ipf")), "s"),
      Metric("ipf.sweeps", median(fixed.map(outcome(_, "sweeps"))), "count"),
      Metric("ipf.s_per_sweep", perOp(i => perSweep(i, self(i, "ipf"))), "s"),
      Metric("ipf.jobs_per_sweep", perOp(i => perSweep(i, counts(i, "ipf").jobs.toDouble)), "count"),
      Metric("ipf.tasks_per_sweep", perOp(i => perSweep(i, counts(i, "ipf").tasks.toDouble)), "count"),
      Metric("ipf.cell_sweeps_per_s", perOp { i =>
        val s = self(i, "ipf")
        if (s == 0.0) 0.0 else records.find(_.i == i).map(outcome(_, "cells")).get * sweeps(i) / s
      }, "cell-sweeps/s"),
      Metric("ipf.executor_cpu_s", perOp(counts(_, "ipf").cpuNs / 1e9), "s"),
      Metric("ipf.shuffle_bytes", perOp { i => val c = counts(i, "ipf"); (c.shuffleRead + c.shuffleWrite).toDouble }, "bytes"),
      Metric("ipf.gc_s", perOp(counts(_, "ipf").gcMs / 1e3), "s"),
      Metric("ipf.core_busy_share", perOp(busy(_, "ipf")), "ratio"),
      Metric("ipf.failed_tasks", ops.map(counts(_, "ipf").failedTasks.toDouble).sum, "count"),
      Metric("io.read_s", perOp(self(_, "io", "io.read")), "s"),
      Metric("io.write_s", perOp(self(_, "io", "io.write")), "s"),
      Metric("io.bytes_written", perOp(counts(_, "io").bytesWritten.toDouble), "bytes"),
      Metric("io.jobs", perOp(counts(_, "io").jobs.toDouble), "count"),
      Metric("pipeline.plan_s", perOp(self(_, "pipeline")), "s"),
      Metric("pipeline.jobs", perOp(counts(_, "pipeline").jobs.toDouble), "count"),
      Metric("matrix.safe_divide_s", perOp(self(_, "matrix", "matrix.safeDivide")), "s"),
      Metric("matrix.jobs", perOp(counts(_, "matrix").jobs.toDouble), "count"),
      Metric("llmdata.exact_dedup_s", perOp(self(_, "llmdata", "llmdata.exact_dedup")), "s"),
      Metric("llmdata.neardup_s", perOp(self(_, "llmdata", "llmdata.neardup")), "s"),
      Metric("llmdata.filter_s", perOp(self(_, "llmdata", "llmdata.filter")), "s"),
      Metric("llmdata.topk_s", perOp(self(_, "llmdata", "llmdata.topk")), "s"),
      Metric("llmdata.executor_cpu_s", perOp(counts(_, "llmdata").cpuNs / 1e9), "s"),
      Metric("llmdata.core_busy_share", perOp(busy(_, "llmdata")), "ratio"),
      Metric("llmdata.shuffle_bytes", perOp { i => val c = counts(i, "llmdata"); (c.shuffleRead + c.shuffleWrite).toDouble }, "bytes"),
      Metric("llmdata.spill_bytes", perOp(counts(_, "llmdata").spill.toDouble), "bytes"),
      Metric("llmdata.failed_tasks", ops.map(counts(_, "llmdata").failedTasks.toDouble).sum, "count"),
      Metric("llmdata.neardup_pairs", fixed.map(outcome(_, "neardup_pairs")).sum, "count"),
      Metric("llmdata.neardup_recall",
        if (fixed.isEmpty) 0.0 else fixed.map(outcome(_, "neardup_recall")).sum / fixed.size, "ratio"),
      Metric("llmdata.kept_ratio",
        if (fixed.isEmpty) 0.0 else fixed.map(outcome(_, "kept_ratio")).sum / fixed.size, "ratio"),
      Metric("streaming.settle_s", perOp(self(_, "streaming")), "s"),
      Metric("streaming.micro_batches", perOp(i => stream(i).getOrElse("micro_batches", 0.0)), "count"),
      Metric("streaming.trigger_s", perOp(i => stream(i).getOrElse("trigger_s", 0.0)), "s"),
      Metric("streaming.planning_s", perOp(i => stream(i).getOrElse("planning_s", 0.0)), "s"),
      Metric("streaming.commit_s", perOp(i => stream(i).getOrElse("commit_s", 0.0)), "s"),
      Metric("streaming.state_rows", median(fixed.map(outcome(_, "state_rows"))), "count"),
      Metric("streaming.state_bytes", perOp(i => stream(i).getOrElse("state_bytes", 0.0)), "bytes"),
      Metric("streaming.executor_cpu_s", perOp(counts(_, "streaming").cpuNs / 1e9), "s"),
      Metric("streaming.core_busy_share", perOp(busy(_, "streaming")), "ratio"),
      Metric("trace.op_p50_s", median(records.map(_.seconds)), "s"))
  }

  def report(ctx: Ctx, w: Workload, metrics: Seq[Metric], records: Seq[OpRecord],
      attempted: Int, failed: Int, traced: Boolean): Unit = {
    val lat = records.map(_.seconds)
    println(s"perfbench workload=${w.name} seed=${ctx.seed} nproc=${ctx.cores} " +
      s"spark=${ctx.spark.version} trace=${if (traced) 1 else 0}")
    println(s"  inputs: ${w.description(ctx)}")
    println(f"  timed ops: ${records.size} (warm-up ops: ${w.warmups}), attempted $attempted, failed $failed, " +
      f"failed_ops_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f")
    tail(lat) match {
      case Some((p, v)) => println(f"  op_tail_s: p$p = $v%.4f s over ${lat.size} ops")
      case None => println(s"  op_tail_s: none (a tail needs >= 20 ops; this run timed ${lat.size})")
    }
    IssueNames.get(w.name).foreach { names =>
      if (!traced) names.foreach { case (issueName, m) => println(s"  $issueName = $m") }
    }
    metrics.foreach(m => println(f"  ${m.name}%-28s ${m.value}%.6f ${m.unit}"))
    if (traced) println("  note: a span around a lazy DataFrame call times driver planning only; " +
      "the jobs that execute it are charged to the call that submitted them.")
    val ok = failed == 0
    val body = metrics.map(m => s""""${m.name}": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  /** The per-workload names the end-to-end metrics carry in the docs. */
  private val IssueNames = Map(
    "alloc_small" -> Seq("alloc_p50_s" -> "op_p50_s"),
    "alloc_large" -> Seq("solve_s" -> "op_p50_s"),
    "curate_corpus" -> Seq("curate_p50_s" -> "op_p50_s", "docs_per_s" -> "rows_per_s"),
    "events_stream" -> Seq("settle_p50_s" -> "op_p50_s", "events_per_s" -> "rows_per_s"))

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
