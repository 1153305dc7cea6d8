package graft.io

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** [[TempDirs.once]], the engine's one result memo, [[TempDirs.scoped]],
  * and source guards that keep the memo and the GLPR row decoder one
  * each. */
class TempDirsSpec extends AnyFunSuite {

  test("once: 8 concurrent callers on one key run the build once and share its result") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        TempDirs.once("spec-concurrent") {
          builds.incrementAndGet()
          Thread.sleep(50)
          new Object
        }
      })
      start.countDown()
      val got = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get() === 1)
      assert(got.forall(_ eq got.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("once: a build that throws is not cached; the next call builds again") {
    val builds = new AtomicInteger(0)
    def call(): String = TempDirs.once("spec-retry") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](call())
    assert(call() === "built")
    assert(call() === "built")
    assert(builds.get() === 2)
  }

  test("once: a build may call once on another key") {
    val outer = TempDirs.once("spec-outer") {
      TempDirs.once("spec-inner")(20) + 1
    }
    assert(outer === 21)
    assert(TempDirs.once("spec-inner")(0) === 20)
  }

  test("scoped: the dir is deleted and unregistered when the body returns or throws") {
    val kept = TempDirs.scoped("graft-spec-scoped") { p =>
      java.nio.file.Files.writeString(p.resolve("f"), "x")
      assert(TempDirs.registered.contains(p))
      p
    }
    assert(!java.nio.file.Files.exists(kept))
    assert(!TempDirs.registered.contains(kept))
    var seen: java.nio.file.Path = null
    intercept[IllegalStateException](TempDirs.scoped("graft-spec-scoped") { p =>
      java.nio.file.Files.createDirectories(p.resolve("a/b"))
      seen = p
      throw new IllegalStateException("body fails")
    })
    assert(!java.nio.file.Files.exists(seen))
    assert(!TempDirs.registered.contains(seen))
  }

  test("path-staged GLPR scenarios leave no scratch behind, and their frames outlive the call") {
    import scala.jdk.CollectionConverters._
    val spark = graft.TestSpark.spark
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def glprDirs(): Set[String] =
      Option(tmp.list()).map(_.filter(_.startsWith("graft-glpr-")).toSet)
        .getOrElse(Set.empty)
    def registered(): Set[java.nio.file.Path] = TempDirs.registered.asScala.toSet
    val (registeredBefore, dirsBefore) = (registered(), glprDirs())
    val frames = for {
      _ <- 1 to 2
      scenario <- Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        graft.GlprScenarios.compactionPipeline, graft.GlprScenarios.rowDeletePipeline)
    } yield scenario(spark, graft.TestSpark.sfDir)
    assert(registered() === registeredBefore)
    assert(glprDirs() === dirsBefore)
    val rows = frames.map(_.collect().map(_.toString).sorted.toSeq)
    assert(rows.forall(_.nonEmpty))
    assert(rows(0) === rows(2) && rows(1) === rows(3))
  }

  /** (file name, previous line, line), trimmed, for every line of
    * `src/main/scala` that matches `pattern`. */
  private def sourceHits(pattern: scala.util.matching.Regex)
      : List[(String, String, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(i => pattern.findFirstIn(lines(i)).isDefined)
          .map(i => (f.getFileName.toString,
            if (i > 0) lines(i - 1).trim else "", lines(i).trim))
      }.toList
    } finally files.close()
  }

  test("one GLPR row decoder: only GlprRowReader and the sidecar-aggregate reader implement PartitionReader[InternalRow]") {
    val hits = sourceHits("(extends|with|new)\\s+PartitionReader\\[InternalRow\\]".r)
    val context = hits.map(h => h._2 + " " + h._3)
    assert(hits.map(_._1).toSet === Set("GlprSource.scala") && hits.length === 2 &&
      context.exists(_.contains("class GlprRowReader(")) &&
      context.exists(_.contains("GlprAggPartition")),
      "GLPR rows come from GlprColumnarReader's batches through GlprRowReader; " +
        s"a second row decoder duplicates its id gate, mask, cap and decode. Found $hits")
  }

  test("one MinHash near-dup stage: Dedup imports no spark.ml, persists nothing, and one builder makes band keys") {
    val dedup = sourceHits("org\\.apache\\.spark\\.ml|persist\\(".r).filter(_._1 == "Dedup.scala")
    assert(dedup.isEmpty,
      "near-dup callers share Dedup's shingle-set, band-key, band-join and verify " +
        s"stages; a second front end brings its own features and caches. Found $dedup")
    val keys = sourceHits("""\.as\("band_key"\)""".r)
    assert(keys.map(_._1) === List("Dedup.scala") && keys.head._3.contains("family.key("),
      s"band keys come from Dedup.bandKeys alone; found $keys")
  }

  test("GLPR scenarios live outside graft.io, and stage scratch only through once or their one scoped helper") {
    val io = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/io"))
    val inIo = try {
      import scala.jdk.CollectionConverters._
      io.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala
          .filter(l => "def \\w+Pipeline|catalogScenario".r.findFirstIn(l).isDefined)
          .map(l => s"${f.getFileName}: ${l.trim}")
      }.toList
    } finally io.close()
    assert(inIo.isEmpty, s"registry scenarios belong in graft.GlprScenarios; found $inIo")
    val scratch = sourceHits("TempDirs\\.scratch\\(".r).filter(_._1 == "GlprScenarios.scala")
    assert(scratch.nonEmpty && scratch.forall(_._2.contains("TempDirs.once(")),
      s"a per-call scenario root must come from the scoped scaffold; found $scratch")
    val scoped = sourceHits("TempDirs\\.scoped\\(".r).filter(_._1 == "GlprScenarios.scala")
    assert(scoped.length === 1 && scoped.head._2.contains("private def scenario("),
      s"GlprScenarios has one scoped helper, `scenario`; found $scoped")
  }

  test("no hand-rolled memo: only TempDirs and GlprSource.planEvents hold a ConcurrentHashMap") {
    val hits = sourceHits(
      "computeIfAbsent|new java\\.util\\.concurrent\\.ConcurrentHashMap".r)
      .map(h => (h._1, h._2))
    val (glpr, rest) = hits.partition(_._1 == "GlprSource.scala")
    assert(glpr === List(("GlprSource.scala", "private[graft] val planEvents =")),
      s"GlprSource may hold only the planEvents map; found $glpr")
    assert(rest.map(_._1).toSet === Set("TempDirs.scala"),
      "a new per-key memo belongs in TempDirs.once, and only once a second " +
        s"call site needs the shared result; found maps in ${rest.map(_._1).toSet}")
  }
}
