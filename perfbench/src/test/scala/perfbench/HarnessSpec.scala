package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("perfbench-spec")
    d.toFile.deleteOnExit()
    d
  }

  /** sha-256 over every file under `dir`, keyed by relative path. */
  private def contentHashes(dir: Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map { p =>
        val h = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        dir.relativize(p).toString -> h.map("%02x".format(_)).mkString
      }.toMap

  /** Writes what set-up writes for every family, without Spark. */
  private def generate(seed: Long): Map[String, String] = {
    val dir = tempDir()
    val ctx = Ctx(null, Trace.off, dir, seed, 4)
    new AllocSmall().prepare(ctx, 2)
    new AllocLarge().prepare(ctx, 1)
    new CurateCorpus().prepare(ctx, 1)
    new EventsStream().prepare(ctx, 2)
    val hashes = contentHashes(dir)
    graft.io.TempDirs.deleteRecursively(dir)
    hashes
  }

  test("the same seed writes byte-identical inputs; another seed does not") {
    val a = generate(7L)
    val b = generate(7L)
    assert(a.size === 13)
    assert(a === b)
    val c = generate(8L)
    assert(c.keySet === a.keySet)
    assert(a.keySet.forall(k => a(k) != c(k)))
  }

  test("alloc inputs have equal cost totals, zero-click rows and keywords without visits") {
    val r = Gen.allocRequest(Gen.rng(3L, 1, 0), 100, 10, 20, 2)
    val in = Checks.allocInputs(r.keywordsCsv, r.hoursCsv, r.visitsCsv)
    val kwTotal = r.keywordsCsv.split("\n").drop(1).map(_.split(",")(1).toLong).sum
    val hrTotal = r.hoursCsv.split("\n").drop(1).map(_.split(",")(1).toLong).sum
    assert(kwTotal === hrTotal)
    assert(r.keywordsCsv.split("\n").count(_.endsWith(",0,0")) === 20)
    assert(in.x.keySet.diff(in.visits.keySet).size === 10)
    assert(in.hours.size === 22)
  }

  private def solvedRequest(): (Checks.AllocInputs, Map[String, Map[String, Double]], Int) = {
    val r = Gen.allocRequest(Gen.rng(5L, 1, 0), 60, 6, 12, 1)
    val in = Checks.allocInputs(r.keywordsCsv, r.hoursCsv, r.visitsCsv)
    val (m, iters) = Checks.denseSolve(in, 1e-6)
    (in, m, iters)
  }

  test("the allocation checker passes the reference solution") {
    val (in, m, iters) = solvedRequest()
    assert(Checks.allocation(in, m, iters, 1e-6).isEmpty)
  }

  test("the allocation checker fails corrupted allocations") {
    val (in, m, iters) = solvedRequest()
    val (k, row) = m.head
    val (h, v) = row.head
    val scaled = m.updated(k, row.updated(h, v * 1.01))
    assert(Checks.allocation(in, scaled, iters, 1e-6).nonEmpty)
    val negative = m.updated(k, row.updated(h, -v))
    assert(Checks.allocation(in, negative, iters, 1e-6).exists(_.contains("negative")))
    assert(Checks.allocation(in, m - k, iters, 1e-6).exists(_.startsWith("rows")))
    assert(Checks.allocation(in, m, iters + 1, 1e-6).exists(_.contains("sweeps")))
  }

  test("a corrupted allocation counts as a failed op") {
    val dir = tempDir()
    val ctx = Ctx(null, Trace.off, dir, 11L, 4)
    val alloc = new AllocSmall
    // Stands in for the engine: writes the reference solution as the
    // labeled CSV, with one cell off by 1%.
    val corrupted = new Workload {
      type Result = (Int, Double)
      val name = alloc.name; val warmups = 0; val minOps = 2; val opFloorSeconds = 1.0
      def description(c: Ctx) = "corrupted"
      def prepare(c: Ctx, ops: Int): Unit = alloc.prepare(c, ops)
      def run(c: Ctx, i: Int): Result = {
        val d = dir.resolve(s"alloc/$i")
        val (m, iters) = Checks.denseSolve(Checks.readAllocInputs(d), alloc.tol)
        val hours = m.values.head.keys.toSeq.sorted
        val rows = m.toSeq.sortBy(_._1).zipWithIndex.map { case ((k, row), n) =>
          (k +: hours.map(h => (if (n == 0 && h == hours.head) row(h) * 1.01 else row(h)).toString))
            .mkString(",")
        }
        Gen.write(d.resolve("out/allocation/part-00000.csv"),
          (("Keyword" +: hours).mkString(",") +: rows).mkString("", "\n", "\n"))
        (iters, 0.0)
      }
      def check(c: Ctx, i: Int, r: Result): Outcome = alloc.check(c, i, r)
    }
    corrupted.prepare(ctx, 2)
    val (records, _, attempted, failed) = Main.measure(ctx, corrupted, 0.0, System.nanoTime(), 2)
    assert(records.size === 2)
    assert(attempted === 2)
    assert(failed === 2)
    assert(records.forall(_.outcome.failures.exists(_.startsWith("row residual"))))
    graft.io.TempDirs.deleteRecursively(dir)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    assert(Main.tail(Seq.fill(19)(1.0)) === None)
    assert(Main.tail((1 to 20).map(_.toDouble)).map(_._1) === Some(50))
    assert(Main.tail((1 to 40).map(_.toDouble)).map(_._1) === Some(75))
    assert(Main.tail((1 to 100).map(_.toDouble)).map(_._1) === Some(90))
  }

  test("workloads.json records the sizes and tolerances the code runs") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("workloads.json")).get("workloads")
    val small = new AllocSmall
    val corpus = new CorpusEvents
    val large = new AllocLarge
    assert(root.get("alloc_small").get("tolerance").asDouble === small.tol)
    assert(root.get("alloc_small").get("sweeps_per_request").asInt === small.sweeps)
    assert(root.get("corpus_events").get("near_dup_recall_floor").asDouble === corpus.curate.recallFloor)
    assert(root.get("alloc_large").get("tolerance").asDouble === large.tol)
    for (w <- Seq(small, corpus, large, new CurateCorpus, new EventsStream)) {
      assert(root.get(w.name).get("warmup_ops").asInt === w.warmups, w.name)
      assert(root.get(w.name).get("min_timed_ops").asInt === w.minOps, w.name)
    }
    assert(root.fieldNames().asScala.toSet === Workloads.names.toSet)
  }
}
