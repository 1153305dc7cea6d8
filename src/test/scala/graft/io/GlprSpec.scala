package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Contracts for the GLPR DataSource V2 connector (q284): byte-exact
  * round trip, REAL filter pushdown (visible in the plan AND correct),
  * column pruning down to the read schema, shard-per-partition planning,
  * and graceful empties. */
class GlprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def glpr = graft.GlprScenarios.documentsVia(spark, dir)
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "lang", "source", "text")

  test("round trip is byte-exact against the parquet originals") {
    val got = glpr.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val exp = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("doc_id range filters are PUSHED into the scan and stay correct") {
    val q = glpr.filter(col("doc_id") >= 100L && col("doc_id") < 200L)
    val plan = q.queryExecution.executedPlan.toString
    val pushedLine = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushedLine.contains("doc_id"),
      s"doc_id bounds not pushed into the GLPR scan:\n$pushedLine")
    val got = q.select("doc_id").collect().map(_.getLong(0)).toSet
    val exp = docs.filter(col("doc_id") >= 100L && col("doc_id") < 200L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === exp)
    assert(exp.nonEmpty)
    // non-pushable predicates remain residuals and stay correct too
    val mixed = glpr.filter(col("doc_id") >= 100L && col("lang") === "en")
    val gotMixed = mixed.count()
    val expMixed = docs.filter(col("doc_id") >= 100L && col("lang") === "en").count()
    assert(gotMixed === expMixed)
  }

  test("column pruning reaches the connector's read schema") {
    val q = glpr.select("doc_id", "lang")
    val plan = q.queryExecution.executedPlan.toString
    val rs = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("doc_id") && rs.contains("lang"),
      s"required columns missing from ReadSchema:\n$rs")
    assert(!rs.contains("text"),
      s"pruned 'text' still in the connector ReadSchema:\n$rs")
    // pruned read still returns the right values
    val got = q.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exp = docs.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === exp)
  }

  test("q359 concurrent appends: name-range reservations keep two jobs' shards apart") {
    val out = TempDirs.scratch("graft-glpr-reserve").toString
    new java.io.File(out).mkdirs()
    // the primitive: claims are disjoint and strictly increasing, even
    // when both claimants computed from the same committed state
    val b1 = GlprSource.reserveNameBase(out, 64L)
    val b2 = GlprSource.reserveNameBase(out, 64L)
    assert(b2 >= b1 + 64L, s"overlapping claims: $b1 / $b2")
    // racing claims from many threads never overlap — with UNEQUAL
    // spans (round-19 review: the (base, span)-keyed filename let two
    // same-base claims with different spans both win; keying the CAS on
    // the base alone makes them collide on one filename)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val spans = (1 to 16).map(i => 3L + (i % 5) * 7L)
      val claims = spans.map(sp => pool.submit(
        new java.util.concurrent.Callable[(Long, Long)] {
          override def call(): (Long, Long) =
            (GlprSource.reserveNameBase(out, sp), sp)
        })).map(_.get())
      val sorted = claims.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Seq((a, sa), (b, _)) =>
          assert(b >= a + sa, s"overlap: [$a +$sa) / $b")
        case _ => ()
      }
    } finally pool.shutdown()
    // legacy `_reserved-<lo>-<hi>` files from earlier rounds still
    // gate the number line, and an 11-digit claim stays visible (the
    // old fixed-width regex would silently hide it)
    val outL = TempDirs.scratch("graft-glpr-reserve-legacy").toString
    new java.io.File(outL).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(outL, "_reserved-0000000200-0000000299").toPath,
      "claimedAtMs=0".getBytes("UTF-8"))
    assert(GlprSource.reserveNameBase(outL, 4L) === 300L)
    // an 11-digit claim (a foreign writer's) stays VISIBLE to the
    // number line — the old fixed-width regex hid it — but minting
    // past the 10-digit boundary refuses LOUDLY: lexical name order
    // (the streaming offset contract) breaks past part-9999999999,
    // so crossing it would silently skip shards downstream
    val outW = TempDirs.scratch("graft-glpr-reserve-wide").toString
    new java.io.File(outW).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(outW, "_reserved-10000000000").toPath,
      "hi=10000000063\nclaimedAtMs=0".getBytes("UTF-8"))
    assert(GlprSource.nextReservedBase(outW) === 10000000064L,
      "an 11-digit reservation must stay visible to the number line")
    val eW = intercept[IllegalArgumentException](
      GlprSource.reserveNameBase(outW, 2L))
    assert(eW.getMessage.contains("10-digit"), eW.getMessage)
    // epoch-scheme claims (maintenance on streaming dirs) are disjoint
    // too, unequal spans included
    val outEp = TempDirs.scratch("graft-glpr-reserve-epoch").toString
    new java.io.File(outEp).mkdirs()
    val e1 = GlprSource.reserveEpochBase(outEp, 7L, 4L, 3L)
    val e2 = GlprSource.reserveEpochBase(outEp, 7L, 4L, 11L)
    assert(e1 === 5L && e2 >= e1 + 3L, s"epoch claims overlap: $e1/$e2")
    assert(GlprSource.reserveEpochBase(outEp, 8L, -1L, 2L) === 0L,
      "a new epoch starts its own partition number line")
    // end to end: two INTERLEAVED write jobs (factory created — names
    // chosen — before the other commits) land every row of both
    val outE = TempDirs.scratch("graft-glpr-reserve2").toString
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def mkWrite() = new GlprBatchWrite(outE, GlprSource.schema)
    val w1 = mkWrite(); val w2 = mkWrite()
    val pinfo = new PhysicalWriteInfo { override def numPartitions(): Int = 2 }
    val f1 = w1.createBatchWriterFactory(pinfo)
    val f2 = w2.createBatchWriterFactory(pinfo) // before w1 commits
    def run(f: org.apache.spark.sql.connector.write.DataWriterFactory,
        idBase: Long) = (0 until 2).map { p =>
      val wr = f.createWriter(p, 1000L + p)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](idBase + p,
          org.apache.spark.unsafe.types.UTF8String.fromString("en"),
          org.apache.spark.unsafe.types.UTF8String.fromString("s"),
          org.apache.spark.unsafe.types.UTF8String.fromString(s"t${idBase + p}")))
      wr.write(row)
      wr.commit()
    }.toArray
    val m1 = run(f1, 100L); val m2 = run(f2, 200L)
    w1.commit(m1.map(m => m: org.apache.spark.sql.connector.write.WriterCommitMessage))
    w2.commit(m2.map(m => m: org.apache.spark.sql.connector.write.WriterCommitMessage))
    val got = spark.read.format("graft.io.GlprSource").load(outE)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(100L, 101L, 200L, 201L),
      "both jobs' rows must survive — no same-name clobber")
  }

  test("a reservation vanishing mid-listing is a released claim, not corruption (r20 advice)") {
    val out = TempDirs.scratch("graft-glpr-reserve-vanish").toString
    new java.io.File(out).mkdirs()
    // A broken symlink stands in for the race window: listFiles() still
    // returns the name, but the read finds the file gone
    // (NoSuchFileException) — exactly what a concurrent post-win retreat
    // (reserveNameBase) or vacuum's retired-reservation fold produces
    // under supported write concurrency. Both parsers must SKIP it.
    java.nio.file.Files.createSymbolicLink(
      new java.io.File(out, "_reserved-0000000500").toPath,
      new java.io.File(out, "_gone").toPath)
    java.nio.file.Files.createSymbolicLink(
      new java.io.File(out, "_reserved-e0000000007-00005").toPath,
      new java.io.File(out, "_gone2").toPath)
    assert(GlprSource.reservations(out).isEmpty,
      "a vanished reservation is a released claim — skip, don't throw")
    assert(GlprSource.epochReservations(out).isEmpty,
      "a vanished epoch reservation is a released claim — skip, don't throw")
    assert(GlprSource.nextReservedBase(out) === 0L)
    // ...and a racing claimant minting through the same window succeeds
    assert(GlprSource.reserveNameBase(out, 4L) === 0L)
    // a file that still EXISTS but carries no parsable hi= line stays
    // the loud corrupt-metadata refusal — the vanished case must not
    // have widened into silently skipping real corruption
    java.nio.file.Files.write(
      new java.io.File(out, "_reserved-0000000600").toPath,
      "claimedAtMs=0".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](GlprSource.reservations(out))
    assert(e.getMessage.contains("corrupt"), e.getMessage)
  }

  test("vacuum folds retired name reservations, keeps claims ahead of the high-water mark") {
    val out = TempDirs.scratch("graft-glpr-reserve-vac").toString
    GlprSource.write(docs.limit(20), out)
    val maxUsed = GlprSource.usedShardNames(out)
      .filter(GlprSource.isBatchShardName)
      .map(_.stripPrefix("part-").stripSuffix(".glpr").toLong).max
    // a claim the committed high-water mark has passed (the write
    // job's own claim, if still present, qualifies too) vs one ahead
    java.nio.file.Files.write(
      new java.io.File(out, f"_reserved-${maxUsed + 100L}%010d").toPath,
      s"hi=${maxUsed + 163L}\nclaimedAtMs=0".getBytes("UTF-8"))
    Thread.sleep(20L)
    GlprMaintenance.vacuum(out): Unit
    val left = GlprSource.reservations(out)
    assert(left.forall(_._2 > maxUsed),
      s"retired reservations must fold: ${left.map(_._3.getName)}")
    assert(left.exists(_._1 == maxUsed + 100L),
      "a claim ahead of the high-water mark must survive vacuum")
    // and the surviving claim still gates the number line
    assert(GlprSource.reserveNameBase(out, 1L) === maxUsed + 164L)
  }

  test("DSv2 write path: two-phase commit leaves no temp files, appends take fresh names") {
    val out = TempDirs.scratch("graft-glpr-write").toString
    val small = docs.limit(50)
    small.write.format("graft.io.GlprSource").mode("append").save(out)
    val files = new java.io.File(out).listFiles()
    val shards = files.filter(_.getName.endsWith(".glpr"))
    assert(shards.nonEmpty &&
      files.forall(f => f.getName.endsWith(".glpr") || f.getName.endsWith(".glpr.meta")
        || f.getName == "_manifest" || f.getName.startsWith("_manifest.v")
        || f.getName.startsWith("_reserved-")))
    assert(!files.exists(_.getName.startsWith("_tmp")),
      "staged temp files must not survive a committed write")
    // the job commit published exactly the task-committed names
    assert(GlprSource.readManifest(out).get.toSet === shards.map(_.getName).toSet)
    // every committed shard carries its stats sidecar, and the counts add up
    val metas = shards.map(GlprSource.readMeta)
    assert(metas.forall(_.isDefined), "each shard must commit a .meta sidecar")
    assert(metas.flatMap(_.map(_.rows)).sum === 50L)
    def readBack() = spark.read.format("graft.io.GlprSource").load(out)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    val once = readBack()
    assert(once === small.collect().map(r => (r.getLong(0), r.getString(3))).toSet)
    // a second append lands under FRESH, strictly larger shard names and
    // accumulates — a same-name replace (the pre-round-16 behavior) could
    // swap bytes under a committed streaming offset unseen
    small.write.format("graft.io.GlprSource").mode("append").save(out)
    val after = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".glpr")).map(_.getName).sorted
    assert(after.length === 2 * shards.length,
      s"append must add shards, not replace: $after")
    assert(after.distinct.length === after.length)
    assert(spark.read.format("graft.io.GlprSource").load(out).count() === 100L,
      "appended rows accumulate (append semantics, like parquet append)")
  }

  test("q285 streaming source: shards arriving between triggers are read exactly once") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-stream-test").toString
    def shardOf(rows: Seq[(Long, String, String, String)], name: String): Unit = {
      val tmp = TempDirs.scratch("graft-glpr-shard").toString
      rows.toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".glpr")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(root, name).toPath)
    }
    shardOf(Seq((1L, "en", "a", "one"), (2L, "de", "a", "two")), "part-00000.glpr")
    val name = "graft_glpr_arrival_test"
    val q = spark.readStream.format("graft.io.GlprSource").load(root)
      .groupBy("lang").count()
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      def counts() = spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts() === Map("en" -> 1L, "de" -> 1L))
      // a LATER-SORTING shard lands between triggers: picked up exactly once
      shardOf(Seq((3L, "en", "b", "three")), "part-10000.glpr")
      q.processAllAvailable()
      assert(counts() === Map("en" -> 2L, "de" -> 1L),
        "the arriving shard must be read exactly once")
      q.processAllAvailable() // no new shards: nothing double-counts
      assert(counts() === Map("en" -> 2L, "de" -> 1L))
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }

  test("branch reads are batch-only: a streaming read of a branch refuses loudly (deliberate surface)") {
    // round-18 verdict #8, decided REFUSE: a branch is the write-audit-
    // publish AUDIT handle — a bounded, re-runnable batch inspection of
    // the staged state. A stream against a branch chain would need its
    // own offset log and would keep consuming a head that is expected
    // to be published-or-dropped imminently; if continuous consumption
    // is wanted, publish first and stream MAIN (where offsets, CDF and
    // retention are all defined). The refusal is the contract.
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-branch-stream").toString
    Seq((1L, "en", "s", "a")).toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    GlprSource.createBranch(root, "audit-b")
    // the refusal fires on the stream thread at first trigger; it
    // surfaces as the query's terminating exception
    val q = spark.readStream.format("graft.io.GlprSource")
      .option("branch", "audit-b").load(root)
      .writeStream.format("memory").queryName("graft_branch_stream_refuse")
      .start()
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Iterator[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage))
    assert(messages(e).exists(_.contains("batch-only")), e.toString)
  }

  test("streaming offsets round-trip their JSON, including quote-bearing names") {
    val o = GlprOffset("""part-"odd"\name.glpr""")
    val back = new GlprMicroBatchStream("/nonexistent", GlprSource.schema,
      GlprSource.IdRange(Long.MinValue, Long.MaxValue), None).deserializeOffset(o.json())
    assert(back === o)
    assert(new GlprMicroBatchStream("/nonexistent", GlprSource.schema,
      GlprSource.IdRange(Long.MinValue, Long.MaxValue), None)
      .deserializeOffset(GlprOffset("").json()) === GlprOffset(""))
  }

  test("filter compilation saturates at the Long extremes instead of wrapping") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan, LessThanOrEqual}
    // v+1 / v-1 at the extremes would wrap and silently widen a pushed
    // (residual-dropped) filter to the whole id space
    val (p1, _) = GlprSource.compileFilters(Array(GreaterThan("doc_id", Long.MaxValue)))
    assert(p1.isEmpty, "a wrapping strict bound must stay a residual")
    val (p2, _) = GlprSource.compileFilters(Array(LessThan("doc_id", Long.MinValue)))
    assert(p2.isEmpty)
    val (p3, r3) = GlprSource.compileFilters(
      Array(GreaterThan("doc_id", 10L), LessThanOrEqual("doc_id", 20L)))
    assert(p3.length === 2 && r3 === GlprSource.IdRange(11L, 20L))
  }

  test("a truncated shard fails with a diagnostic naming the file, never a silent short read") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-corrupt").toString
    Seq((1L, "en", "a", "a long enough text payload to truncate inside"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    val shard = new java.io.File(root).listFiles().filter(_.getName.endsWith(".glpr")).head
    val full = java.nio.file.Files.readAllBytes(shard.toPath)
    // cut inside the text field
    java.nio.file.Files.write(shard.toPath, full.take(full.length - 10))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.io.GlprSource").load(root).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse("") + e.getMessage
    assert(msg.contains("truncated") && msg.contains(".glpr"),
      s"corrupt shard must fail with a named diagnostic, got: $msg")
    // cut inside the 8-byte id of a (hypothetical) second record
    java.nio.file.Files.write(shard.toPath, full ++ Array[Byte](0, 0, 1))
    val e2 = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.io.GlprSource").load(root).collect()
    }
    val msg2 = Option(e2.getCause).map(_.getMessage).getOrElse("") + e2.getMessage
    assert(msg2.contains("inside a record id"), s"got: $msg2")
  }

  test("one input partition per shard; empty shard dir reads as empty") {
    // the staged write shards by writer partition: >= 1 .glpr files, and
    // the scan plans exactly one partition per shard
    val n = glpr.rdd.getNumPartitions
    assert(n >= 1)
    val empty = TempDirs.scratch("graft-glpr-empty").toString
    val e = spark.read.format("graft.io.GlprSource").load(empty)
    assert(e.count() === 0L)
    assert(e.schema === GlprSource.schema)
  }

  /** Drain a reader factory's row path (`createReader`, the DSv2 row
    * contract) and its columnar path over one partition, as (doc_id, text). */
  private def rowsAndBatches(f: GlprReaderFactory, p: GlprSource.GlprPartition)
      : (Vector[(Long, String)], Vector[(Long, String)]) = {
    val viaRows = {
      val r = f.createReader(p)
      try Iterator.continually(r).takeWhile(_.next())
        .map(x => (x.get().getLong(0), x.get().getUTF8String(1).toString)).toVector
      finally r.close()
    }
    val viaBatches = {
      val r = f.createColumnarReader(p)
      try Iterator.continually(r).takeWhile(_.next()).flatMap { x =>
        val b = x.get()
        (0 until b.numRows()).map { i =>
          val row = b.getRow(i)
          (row.getLong(0), row.getUTF8String(1).toString)
        }
      }.toVector
      finally r.close()
    }
    (viaRows, viaBatches)
  }
  private val idAndText = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))) // 'lang'/'source' pruned
  }

  test("row contract (createReader) equals the columnar reader on the same shard, pruned + filtered") {
    val root = graft.GlprScenarios.stagedPath(spark, dir)
    val shard = GlprSource.committedShards(root).head.getAbsolutePath
    val f = new GlprReaderFactory(idAndText, GlprSource.IdRange(50L, 300L)) // pushed id bounds
    val (viaRows, viaBatches) = rowsAndBatches(f, GlprSource.GlprPartition(shard))
    assert(viaRows === viaBatches, "row and columnar decode must agree exactly")
    assert(viaRows.nonEmpty && viaRows.forall { case (id, _) => id >= 50L && id <= 300L })
  }

  test("row contract under a delete-vector mask and a pushed limit stops at the cap across batches") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-rowcap").toString
    // one shard of 10,000 records: more than two 4096-row batches
    GlprSource.write(spark.range(10000).coalesce(1)
      .select($"id".as("doc_id"), lit("en").as("lang"), lit("s").as("source"),
        concat(lit("t"), $"id".cast("string")).as("text")), root)
    val shards = GlprSource.committedShards(root)
    assert(shards.length === 1)
    val mask = GlprSource.normalizeRanges(Seq((100L, 199L), (4000L, 4499L)))
    val cap = 5000 // past the first batch, short of the 9,400 live records
    val f = new GlprReaderFactory(idAndText,
      GlprSource.IdRange(Long.MinValue, Long.MaxValue), limit = Some(cap))
    val (viaRows, viaBatches) =
      rowsAndBatches(f, GlprSource.GlprPartition(shards.head.getAbsolutePath, dv = mask))
    val expected = (0L until 10000L)
      .filterNot(id => (id >= 100L && id <= 199L) || (id >= 4000L && id <= 4499L))
      .take(cap).map(id => (id, s"t$id")).toVector
    assert(viaRows === expected)
    assert(viaBatches === expected)
  }

  test("q292 ingest merge: duplicates split ACROSS micro-batches fold to the global keeper/count") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-ingest-test").toString
    // 5 shards, limit 2 => 3 micro-batches. The 'dup' text appears in
    // shards 0, 2 and 4 — every copy lands in a DIFFERENT micro-batch,
    // so only cross-batch merge state can produce keeper=11 / n=3.
    def shard(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = TempDirs.scratch("graft-glpr-ingest-shard").toString
      rows.map { case (id, t) => (id, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".glpr")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(root, name).toPath)
    }
    shard(Seq((13L, "dup"), (1L, "a")), "part-0000000000.glpr")
    shard(Seq((2L, "b")), "part-0000000001.glpr")
    shard(Seq((11L, "dup"), (3L, "c")), "part-0000000002.glpr")
    shard(Seq((4L, "d")), "part-0000000003.glpr")
    shard(Seq((12L, "dup"), (5L, "e")), "part-0000000004.glpr")
    val target = TempDirs.scratch("graft-glpr-ingest")
    graft.GlprScenarios.runIngestDedupMerge(spark, root, maxShardsPerTrigger = 2, target)
    val (lastId, snapshot) = graft.GlprScenarios.readSnapshotPointer(target).get
    assert(lastId >= 2, s"5 shards under limit 2 must commit >= 3 batches, got $lastId")
    val got = spark.read.parquet(snapshot).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Seq(("dup", 11L, 3L), ("a", 1L, 1L), ("b", 2L, 1L),
      ("c", 3L, 1L), ("d", 4L, 1L), ("e", 5L, 1L))
      .toDF("t", "keeper", "n")
      .select(md5(col("t")), col("keeper"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      "cross-batch fold must yield global min keeper and total count")
  }

  test("q295 runtime filtering: the DPP broadcast key set prunes range-disjoint shards") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-dpp").toString
    // 4 range-disjoint shards: [0,100), [100,200), [200,300), [300,400)
    GlprSource.write(
      (0L until 400L).map(i => (i, "en", "s", s"text-$i")).toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    assert(new java.io.File(root).listFiles().count(_.getName.endsWith(".glpr")) === 4)
    val facts = spark.read.format("graft.io.GlprSource").load(root)
    // dim filter on a NON-join column: invisible to static pushdown, so
    // any shard skip is attributable to the runtime key set alone. The
    // dim must be a real source scan (parquet), not a LocalRelation —
    // the optimizer folds filters into LocalRelations, and DPP requires
    // a surviving selective Filter on the filtering side.
    val dimPath = TempDirs.scratch("graft-glpr-dpp-dim").toString
    Seq((120L, "keep"), (150L, "keep"), (121L, "drop"))
      .toDF("dim_id", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val joined = facts.join(broadcast(dim), col("doc_id") === col("dim_id"))
      .select("doc_id")
    val got = joined.collect().map(_.getLong(0)).toSet
    assert(got === Set(120L, 150L))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"runtime filter missing from the plan:\n${plan.take(2000)}")
    val (kept, total) = GlprSource.planEvents.get(root)
    assert(total === 4 && kept === 1,
      s"both key values live in shard [100,200) — expected 1/4 shards planned, got $kept/$total")
  }

  test("runtime RANGE conjuncts prune shards; opaque conjuncts are ignored, Ors never partial") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-rt-range").toString
    GlprSource.write(
      (0L until 400L).map(i => (i, "en", "s", s"t$i")).toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, GreaterThanOrEqual => FGte, LessThan => FLt, Or => FOr}
    def freshScan() = new GlprScan(root, GlprSource.schema,
      GlprSource.IdRange(Long.MinValue, Long.MaxValue), Array.empty, None)
    // a min/max-style DPP range conjunct: [120, 180) lives in one shard
    val s1 = freshScan()
    s1.filter(Array[org.apache.spark.sql.sources.Filter](FAnd(FGte("doc_id", 120L), FLt("doc_id", 180L))))
    assert(s1.planInputPartitions().length === 1,
      "range conjuncts from runtime filtering must prune like static bounds")
    // an opaque conjunct rides along: the understood range still applies
    // (conjunct subsets are conservative), the opaque part is ignored
    val s2 = freshScan()
    s2.filter(Array[org.apache.spark.sql.sources.Filter](
      FAnd(FGte("doc_id", 120L), FEq("lang", "en")), FLt("doc_id", 180L)))
    assert(s2.planInputPartitions().length === 1,
      "an opaque sibling conjunct must not disable the understood range")
    // an Or is NEVER partially applied — no pruning at all
    val s3 = freshScan()
    s3.filter(Array[org.apache.spark.sql.sources.Filter](FOr(FLt("doc_id", 50L), FGte("doc_id", 350L))))
    assert(s3.planInputPartitions().length === 4,
      "disjunctions must be ignored wholesale, never half-applied")
    // range + key set compose: the intersection decides
    val s4 = freshScan()
    s4.filter(Array[org.apache.spark.sql.sources.Filter](FGte("doc_id", 100L),
      org.apache.spark.sql.sources.In("doc_id",
        Array[Any](java.lang.Long.valueOf(50L), java.lang.Long.valueOf(150L)))))
    assert(s4.planInputPartitions().length === 1,
      "id 50 is below the range floor; only shard [100,200) holds id 150")
  }

  test("q305 streaming shard pruning: pushed doc_id bounds skip disjoint shards per micro-batch") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-stream-prune").toString
    GlprSource.write(
      (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"t$i"))
        .toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    assert(GlprSource.committedShards(root).length === 4)
    val name = "graft_glpr_stream_prune"
    // bounds via reader option: streaming scans never run Catalyst
    // pushdown, so options are the pruning vehicle (scaladoc contract)
    val q = spark.readStream.format("graft.io.GlprSource")
      .option("maxDocId", "99").load(root)
      .groupBy("lang").count()
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val counts = spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map("en" -> 50L, "de" -> 50L))
      val (kept, total) = GlprSource.planEvents.get(root)
      assert(total === 4 && kept === 1,
        s"doc_id<100 lives in shard [0,100) — expected 1/4 planned, got $kept/$total")
    } finally { q.stop(); spark.catalog.dropTempView(name) }

    // langIn is a SHARD hint: these interleaved-lang shards are all
    // multi-valued... actually untracked (flat write), so nothing can be
    // pruned and every row still arrives — the decline side of the hint
    val name2 = "graft_glpr_stream_prune2"
    val q2 = spark.readStream.format("graft.io.GlprSource")
      .option("langIn", "en").load(root)
      .groupBy("lang").count()
      .writeStream.outputMode("complete").format("memory").queryName(name2).start()
    try {
      q2.processAllAvailable()
      val counts2 = spark.table(name2).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // hint never row-filters; untracked sidecars never shard-prune
      assert(counts2 === Map("en" -> 200L, "de" -> 200L))
      val (kept2, total2) = GlprSource.planEvents.get(root)
      assert(kept2 === total2, s"untracked shards must not be pruned: $kept2/$total2")
    } finally { q2.stop(); spark.catalog.dropTempView(name2) }
  }

  test("q309 compaction: byte-concat merge preserves rows, sidecar sums, bounds, pvals and blooms") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-compact-spec").toString
    // 8 range-disjoint small shards with tight bounds + blooms
    GlprSource.write(
      (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"text-$i"))
        .toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(8, col("doc_id")), root)
    val before = GlprSource.committedShards(root)
    assert(before.length === 8)
    val beforeRows = before.flatMap(GlprSource.readMeta).map(_.rows).sum
    // target ~half the total: expect a handful of merged groups
    val total = before.map(_.length).sum
    val report = GlprMaintenance.compact(root, targetBytes = total / 2 + 1)
    val after = GlprSource.committedShards(root)
    assert(after.length < 8 && report.nonEmpty,
      s"compaction must collapse files: ${after.length} of 8 left")
    // no stage wreckage; the first vacuum may fold the write/compact
    // jobs' retired name reservations, after which it is a no-op
    GlprMaintenance.vacuum(root): Unit
    assert(GlprMaintenance.vacuum(root) === 0)
    // sidecar sums survive the merge exactly
    val metas = after.flatMap(GlprSource.readMeta)
    assert(metas.length === after.length, "every merged shard recommits a sidecar")
    assert(metas.map(_.rows).sum === beforeRows)
    // merged bounds hold and STILL prune: [0,?] ranges live in the first shard
    val q = spark.read.format("graft.io.GlprSource").load(root)
      .filter(col("doc_id") < 40L)
    assert(q.count() === 40L)
    val (kept, totalShards) = GlprSource.planEvents.get(root)
    assert(kept < totalShards, s"merged bounds must still prune: $kept/$totalShards")
    // merged blooms still answer point lookups (no false negatives)
    metas.filter(_.rows > 0).foreach { m =>
      val words = m.bloom.get
      val (lo, hi) = m.bounds.get
      assert(GlprSource.bloomMightContain(words, words.length * 64, lo))
      assert(GlprSource.bloomMightContain(words, words.length * 64, hi))
    }
    // every row readable, exactly once
    val got = spark.read.format("graft.io.GlprSource").load(root)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("en" -> 200L, "de" -> 200L))
  }

  test("q307 end to end: the registry-form DPP join bloom-prunes the hash-staged corpus") {
    val joined = graft.GlprScenarios.bloomPrunedDimJoin(spark, dir)
    assert(joined.collect().nonEmpty)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"runtime filter missing from the q307 plan:\n${plan.take(1500)}")
    val (kept, total) = GlprSource.planEvents.get(graft.GlprScenarios.hashStagedPath(spark, dir))
    assert(kept < total,
      s"the broadcast key set must bloom-prune hash shards: kept $kept of $total")
  }

  test("q310 manifest: job commit is the visibility point; rebuildManifest adopts orphans") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-manifest-spec").toString
    Seq((1L, "en", "s", "a"), (2L, "de", "s", "b"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    assert(GlprSource.readManifest(root).isDefined)
    def visibleIds() = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(visibleIds() === Set(1L, 2L))
    // crashed foreign job: task commit (rename in) without job commit
    val w = new GlprWriter(root, GlprSource.schema, 7, 77L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(99L,
      org.apache.spark.unsafe.types.UTF8String.fromString("xx"),
      org.apache.spark.unsafe.types.UTF8String.fromString("s"),
      org.apache.spark.unsafe.types.UTF8String.fromString("orphan")))
    w.commit(); w.close()
    assert(new java.io.File(root, "part-0000000007.glpr").isFile,
      "the orphan shard is durable on disk")
    assert(visibleIds() === Set(1L, 2L),
      "a task-committed shard must stay invisible until its JOB commits")
    // statistics and streaming listings agree with the manifest view
    assert(GlprSource.committedShards(root).map(_.getName).toSet
      === GlprSource.readManifest(root).get.toSet)
    // recovery/attach: adopt everything on disk
    GlprSource.rebuildManifest(root)
    assert(visibleIds() === Set(1L, 2L, 99L))
    // a later real write folds in WITHOUT losing adopted history — and
    // numbers itself past EVERYTHING on disk (the orphan's part-7
    // included), so no existing shard's bytes are ever swapped
    Seq((3L, "fr", "s", "c")).toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    assert(new java.io.File(root, "part-0000000008.glpr").isFile,
      "append must take the first name past the on-disk maximum")
    assert(visibleIds() === Set(1L, 2L, 3L, 99L))
    // manifest-less dirs keep the plain-listing fallback
    val bare = TempDirs.scratch("graft-glpr-manifest-bare").toString
    val w2 = new GlprWriter(bare, GlprSource.schema, 0, 1L)
    w2.write(org.apache.spark.sql.catalyst.InternalRow(5L,
      org.apache.spark.unsafe.types.UTF8String.fromString("en"),
      org.apache.spark.unsafe.types.UTF8String.fromString("s"),
      org.apache.spark.unsafe.types.UTF8String.fromString("x")))
    w2.commit(); w2.close()
    assert(spark.read.format("graft.io.GlprSource").load(bare).count() === 1L)
  }

  test("manifest commits are CAS-serialized: concurrent merges lose no names") {
    // round-16 ADVICE: the old read-merge-swap could silently drop a
    // concurrent committer's shard names. The put-if-absent version
    // reservation (commitManifest) serializes writers: every name
    // survives, version numbers are strictly sequential, and each
    // version's content is a superset of its predecessor's.
    val root = TempDirs.scratch("graft-glpr-cas").toString
    new java.io.File(root).mkdirs()
    val names = (0 until 16).map(i => f"part-$i%010d.glpr")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = names.map { n =>
        pool.submit(new Runnable {
          override def run(): Unit = GlprSource.mergeIntoManifest(root, Seq(n))
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(GlprSource.readManifest(root).get.toSet === names.toSet,
      "every concurrently merged name must survive")
    val vs = GlprSource.listManifestVersions(root)
    assert(vs === (1L to names.length.toLong), s"sequential versions, got $vs")
    vs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(GlprSource.versionShardNames(root, a).toSet
          .subsetOf(GlprSource.versionShardNames(root, b).toSet),
          s"version $b must extend version $a")
      case _ => ()
    }
  }

  test("q311 time travel: versions snapshot the append history; rejections are loud") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-tt").toString
    def append(rows: (Long, String)*): Unit =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(1L -> "a", 2L -> "b") // version 1
    append(3L -> "c")            // version 2
    append(4L -> "d")            // version 3
    assert(GlprSource.listManifestVersions(root) === Seq(1L, 2L, 3L))
    def idsAsOf(v: Long) = spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", v.toString).load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idsAsOf(1) === Set(1L, 2L))
    assert(idsAsOf(2) === Set(1L, 2L, 3L))
    assert(idsAsOf(3) === Set(1L, 2L, 3L, 4L))
    // the un-pinned read follows the live manifest
    assert(spark.read.format("graft.io.GlprSource").load(root).count() === 4L)
    // replay-idempotent minting: a commit that changes nothing (rebuild
    // of a clean dir) mints no version
    GlprSource.rebuildManifest(root)
    assert(GlprSource.listManifestVersions(root) === Seq(1L, 2L, 3L))
    // unknown version: loud, and it names what exists
    val e1 = intercept[Exception] { idsAsOf(9) }
    assert(e1.getMessage.contains("versionAsOf=9") &&
      e1.getMessage.contains("1, 2, 3"), e1.getMessage)
    // unlinking a shard (what a later DELETE/compaction does) makes the
    // versions that referenced it fail LOUDLY — never silent partial
    // history; older versions stay exact
    val doomed = new java.io.File(root, "part-0000000002.glpr")
    assert(doomed.isFile)
    GlprSource.metaFile(doomed).delete(); assert(doomed.delete())
    assert(idsAsOf(2) === Set(1L, 2L, 3L))
    val e2 = intercept[Exception] { idsAsOf(3) }
    assert(e2.getMessage.contains("no longer exists"), e2.getMessage)
    // a stream never time-travels: versionAsOf is rejected at stream
    // materialization, before any micro-batch runs
    val q = spark.readStream.format("graft.io.GlprSource")
      .option("versionAsOf", "1").load(root)
      .writeStream.format("memory").queryName("glpr_tt_reject")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e3.getMessage.contains("batch-only"), e3.getMessage)
  }

  test("q312 incremental read: the version diff is exact; non-append histories refuse") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-changes-spec").toString
    def append(rows: (Long, String)*): Unit =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(1L -> "a", 2L -> "b") // version 1
    append(3L -> "c")            // version 2
    append(4L -> "d", 5L -> "e") // version 3
    def changed(from: Long, to: Option[Long]): Set[Long] = {
      val r = spark.read.format("graft.io.GlprSource")
        .option("changesFromVersion", from.toString)
      to.foreach(v => r.option("versionAsOf", v.toString))
      r.load(root).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(changed(1, Some(2)) === Set(3L))
    assert(changed(1, Some(3)) === Set(3L, 4L, 5L))
    assert(changed(2, None) === Set(4L, 5L)) // live upper bound
    assert(changed(3, Some(3)) === Set.empty[Long]) // empty diff
    // static pushdown composes on top of the diff
    val filtered = spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", "1").load(root)
      .filter(col("doc_id") >= 4L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(filtered === Set(4L, 5L))
    // a stream never takes the option: rejected at materialization
    val q = spark.readStream.format("graft.io.GlprSource")
      .option("changesFromVersion", "1").load(root)
      .writeStream.format("memory").queryName("glpr_changes_reject")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e0 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e0.getMessage.contains("batch-only"), e0.getMessage)
    // compaction between the versions makes the history non-append:
    // the change set can no longer be expressed as shards — LOUD
    GlprMaintenance.compact(root, targetBytes = Long.MaxValue / 2)
    val e1 = intercept[Exception] { changed(1, None) }
    assert(e1.getMessage.contains("not append-only"), e1.getMessage)
  }

  test("q313 restore: the live view rolls back, history stays intact and loud") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-restore-spec").toString
    def append(rows: (Long, String)*): Unit =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(1L -> "a", 2L -> "b") // v1: part-0
    append(3L -> "c")            // v2: + part-1
    append(4L -> "d")            // v3: + part-2
    def liveIds() = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    GlprSource.restoreToVersion(root, 2L)
    // live view = the first two appends; the restore MINTED version 4
    assert(liveIds() === Set(1L, 2L, 3L))
    assert(GlprSource.listManifestVersions(root) === Seq(1L, 2L, 3L, 4L))
    assert(GlprSource.versionShardNames(root, 4L) ===
      GlprSource.versionShardNames(root, 2L))
    // time travel ACROSS the restore still works: v3's shards are on disk
    val v3 = spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", "3").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v3 === Set(1L, 2L, 3L, 4L))
    // restore to the current content is a no-op: no version minted
    GlprSource.restoreToVersion(root, 4L)
    assert(GlprSource.listManifestVersions(root) === Seq(1L, 2L, 3L, 4L))
    // an append AFTER the restore numbers past EVERY name ever used —
    // part-2 is out of the live view but its name is burned
    append(5L -> "e")
    assert(new java.io.File(root, "part-0000000003.glpr").isFile,
      "post-restore append must not reuse the rolled-back shard's name")
    assert(liveIds() === Set(1L, 2L, 3L, 5L))
    // restore needs every target shard on disk: unlink one, refuse loudly
    val doomed = new java.io.File(root, "part-0000000002.glpr")
    GlprSource.metaFile(doomed).delete(); assert(doomed.delete())
    val e1 = intercept[IllegalArgumentException] {
      GlprSource.restoreToVersion(root, 3L)
    }
    assert(e1.getMessage.contains("no longer exist"), e1.getMessage)
    // unknown version: loud
    val e2 = intercept[IllegalArgumentException] {
      GlprSource.restoreToVersion(root, 99L)
    }
    assert(e2.getMessage.contains("versionAsOf=99"), e2.getMessage)
  }

  test("q328 CDF: the two-sided diff is row-exact; vacuumed removes turn loud") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-cdf-spec").toString
    def append(rows: (Long, String)*): Unit =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(1L -> "a", 2L -> "b") // version 1
    append(3L -> "c", 4L -> "d") // version 2
    // retire [3,4] (CoW delete, shard-aligned -> whole-shard retire) = v3
    GlprMaintenance.deleteIdRange(spark, root, 3L, 4L)
    append(5L -> "e")            // version 4
    def cdf(from: Long) = spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", from.toString)
      .option("changeMode", "cdf").load(root)
      .select("_change_type", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // from v2 to live: [3,4] deleted, [5] inserted
    assert(cdf(2) === Set(("delete", 3L), ("delete", 4L), ("insert", 5L)))
    // from v1: the never-seen [3,4] append cancels against its delete
    // at manifest grain? No — names: v1 lacks the [3,4] shard, live
    // lacks it too, so it is in NEITHER side: inserts [5] only
    assert(cdf(1) === Set(("insert", 5L)))
    // pushdown composes on the CDF plan
    assert(spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", "2").option("changeMode", "cdf").load(root)
      .filter(col("doc_id") >= 4L).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(4L, 5L))
    // plain (append-only) incremental read still refuses, naming cdf
    val e0 = intercept[IllegalStateException] {
      spark.read.format("graft.io.GlprSource")
        .option("changesFromVersion", "2").load(root).count()
    }
    assert(e0.getMessage.contains("changeMode=cdf"), e0.getMessage)
    // cdf without a from-version, and unknown modes, reject loudly
    intercept[Exception] { spark.read.format("graft.io.GlprSource")
      .option("changeMode", "cdf").load(root).count() }
    intercept[Exception] { spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", "1").option("changeMode", "bogus")
      .load(root).count() }
    // _change_type on an ORDINARY read is the constant 'insert'
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("insert"))
    // a physically reclaimed remove (external unlink of the retired
    // [3,4] shard): the CDF read refuses rather than under-reports
    assert(new java.io.File(root, "part-0000000001.glpr").delete())
    val e1 = intercept[IllegalStateException] { cdf(2) }
    assert(e1.getMessage.contains("vacuum"), e1.getMessage)
  }

  test("CDF over delete-vector generations: masked deltas emit row-exact delete/insert records") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-cdf-dv-spec").toString
    (0L until 100L).map(i => (i, "en", "s", s"t-$i"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    // v1 = the append; v2 = MoR delete [10,19] (one gen commit)
    GlprMaintenance.deleteIdRangeMergeOnRead(root, 10L, 19L)
    // v3 = a second MoR delete [40,44] (gen 2 on the same shard)
    GlprMaintenance.deleteIdRangeMergeOnRead(root, 40L, 44L)
    def cdf(from: Long, to: Option[Long] = None) = {
      val r = spark.read.format("graft.io.GlprSource")
        .option("changesFromVersion", from.toString)
        .option("changeMode", "cdf")
      to.foreach(v => r.option("versionAsOf", v.toString))
      r.load(root).select("_change_type", "doc_id").collect()
        .map(x => (x.getString(0), x.getLong(1))).toSet
    }
    // delta v1 -> v2: exactly the first range, as deletes
    assert(cdf(1, Some(2)) === (10L to 19L).map(("delete", _)).toSet)
    // delta v2 -> live: only the SECOND range (rows masked at v2 are
    // not re-reported — the two-mask gate is the difference of masks)
    assert(cdf(2) === (40L to 44L).map(("delete", _)).toSet)
    // delta v1 -> live: both ranges
    assert(cdf(1) === ((10L to 19L) ++ (40L to 44L)).map(("delete", _)).toSet)
    // RESTORE to v1 rolls the mask state back: the diff from v2 to the
    // restored live view emits the v2-masked rows as INSERTS
    GlprSource.restoreToVersion(root, 1L)
    assert(cdf(2) === (10L to 19L).map(("insert", _)).toSet)
    // and the full pre/post states agree with the masks
    assert(spark.read.format("graft.io.GlprSource").load(root).count() === 100L)
    assert(spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", "3").load(root).count() === 85L)
  }

  test("CDF across a compaction is physically faithful and row-multiset preserving") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-cdf-compact-spec").toString
    def append(rows: (Long, String)*): Unit =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(1L -> "a", 2L -> "b") // version 1
    append(3L -> "c")            // version 2
    GlprMaintenance.compact(root, targetBytes = Long.MaxValue / 2) // v3
    val cdf = spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", "2").option("changeMode", "cdf")
      .load(root).select("_change_type", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // a compaction reads as remove+insert of the SAME rows: physically
    // faithful, and the delete/insert multisets cancel exactly
    val dels = cdf.collect { case ("delete", id) => id }.sorted.toSeq
    val ins = cdf.collect { case ("insert", id) => id }.sorted.toSeq
    assert(dels === Seq(1L, 2L, 3L) && ins === Seq(1L, 2L, 3L), cdf.toSeq)
    // the live view and every version stay row-exact throughout
    assert(spark.read.format("graft.io.GlprSource").load(root).count() === 3L)
    assert(spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", "2").load(root).count() === 3L)
  }

  test("recluster over a masked corpus materializes the live delete vectors") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-recluster-dv-spec").toString
    GlprSource.write(
      (0L until 200L).map(i => (i, "en", "s", s"t-$i"))
        .toDF("doc_id", "lang", "source", "text").repartition(4), root)
    GlprMaintenance.deleteIdRangeMergeOnRead(root, 50L, 99L)
    def ids() = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids() === ((0L until 50L) ++ (100L until 200L)).toSet)
    val (oldN, newN) = GlprMaintenance.recluster(spark, root, nShards = 4)
    assert(oldN === 4 && newN === 4)
    // masked rows stayed deleted (the rewrite read applied the gens) and
    // the live manifest carries no masks afterwards
    assert(ids() === ((0L until 50L) ++ (100L until 200L)).toSet)
    assert(GlprSource.readManifest(root).get
      .forall(l => GlprSource.entryDvGen(l).isEmpty))
    // the reclustered shards prune by bounds now
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .filter(col("doc_id") < 40L).count() === 40L)
    val (kept, total) = GlprSource.planEvents.get(root)
    assert(kept < total, s"reclustered bounds must prune: $kept/$total")
  }

  test("q337 CDF stream: one version per micro-batch, commit order, restart-exact offsets") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-cdfstream-spec").toString
    def append(rows: (Long, String)*): Unit =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(1L -> "a", 2L -> "b") // v1
    append(3L -> "c")            // v2
    GlprMaintenance.deleteIdRange(spark, root, 2L, 2L)      // v3: CoW rewrite
    GlprMaintenance.deleteIdRangeMergeOnRead(root, 3L, 3L)  // v4: dv gen
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    // the stream's change multiset, plus how many micro-batches carried
    // rows (the per-version replay contract: one nonempty batch per
    // row-bearing version)
    def drain(startingVersion: Long): (Seq[(String, Long)], Int) = {
      val name = s"cdfspec_${startingVersion}_${System.nanoTime()}"
      val q = s2.readStream.format("graft.io.GlprSource")
        .option("changeMode", "cdf")
        .option("startingVersion", startingVersion.toString).load(root)
        .select(col("_change_type"), col("doc_id"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(); q.stop()
      val out = s2.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      s2.catalog.dropTempView(name)
      (out, q.recentProgress.count(_.numInputRows > 0))
    }
    // full replay from genesis: v1 inserts {1,2}, v2 insert {3},
    // v3 remove{1,2}+re-add{1} (the CoW rewrite's physical shape),
    // v4 dv-delta delete {3} — four row-bearing micro-batches
    val (full, fullBatches) = drain(0L)
    assert(full.sorted === Seq(
      ("delete", 1L), ("delete", 2L), ("delete", 3L),
      ("insert", 1L), ("insert", 1L), ("insert", 2L), ("insert", 3L)).sorted)
    assert(fullBatches === 4, s"one micro-batch per version, got $fullBatches")
    // and the stream multiset equals the sum of single-version batch
    // diffs (the windows never collapse)
    val perVersion = (0L until 4L).flatMap { v =>
      spark.read.format("graft.io.GlprSource")
        .option("changeMode", "cdf").option("changesFromVersion", v.toString)
        .option("versionAsOf", (v + 1).toString).load(root)
        .select(col("_change_type"), col("doc_id")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
    }
    assert(perVersion.sorted === full.sorted)
    // restart mid-history: startingVersion=2 replays only v3 and v4
    val (tail, tailBatches) = drain(2L)
    assert(tail.sorted ===
      Seq(("delete", 1L), ("delete", 2L), ("delete", 3L), ("insert", 1L)).sorted)
    assert(tailBatches === 2)
  }

  test("q314 row delete: metadata unlink / untouched / rewrite split is exact") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-rowdelete-spec").toString
    // 4 range-clustered shards: [0,99] [100,199] [200,299] [300,399]
    GlprSource.write(
      (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"t-$i"))
        .toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    val before = GlprSource.committedShards(root).map(_.getName)
    assert(before.length === 4)
    val versionsBefore = GlprSource.listManifestVersions(root).length
    val report = GlprMaintenance.deleteIdRange(spark, root, 150L, 349L)
    // [200,299] was fully inside: unlinked whole, zero bytes rewritten;
    // [100,199] and [300,399] straddled: rewritten; [0,99] untouched
    assert(report.unlinked.length === 1)
    assert(report.rewritten.size === 2 &&
      report.rewritten.values.forall(_.isDefined))
    assert(report.rowsDeleted === 200L)
    val after = GlprSource.committedShards(root).map(_.getName)
    assert(after.length === 3)
    // the untouched shard KEEPS its name; survivors took fresh names
    assert(after.contains(before.head), "disjoint shard must not be rewritten")
    report.rewritten.values.flatten.foreach(n =>
      assert(!before.contains(n), s"survivor $n must take a fresh name"))
    // row-exact: the range is gone, everything else survives
    val ids = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === ((0L until 150L) ++ (350L until 400L)).toSet)
    // sidecars of the survivors carry tightened bounds
    val metas = GlprSource.committedShards(root).flatMap(GlprSource.readMeta)
    assert(metas.map(_.rows).sum === 200L)
    // the delete was ONE mutating commit: exactly one version minted
    assert(GlprSource.listManifestVersions(root).length === versionsBefore + 1)
    // RETENTION: the deleted/rewritten shards were retired, not
    // unlinked — time travel to the pre-delete version still reads the
    // FULL table (Delta/Iceberg semantics)
    assert(spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", versionsBefore.toString).load(root)
      .count() === 400L)
    // expire the pre-delete history, vacuum reclaims the retired files,
    // and only then does the historical read turn loud
    GlprMaintenance.expireVersions(root, keepLast = 1)
    assert(GlprMaintenance.vacuum(root) > 0, "retired shards must reclaim")
    val e = intercept[Exception] {
      spark.read.format("graft.io.GlprSource")
        .option("versionAsOf", versionsBefore.toString).load(root).count()
    }
    assert(e.getMessage.contains("no such manifest version") ||
      e.getMessage.contains("no longer exists"), e.getMessage)
    // a bounds-less straddler (external writer) takes the rewrite path;
    // a fully-emptied one writes NO survivor shard
    val w = new GlprWriter(root, GlprSource.schema, 0, 77L,
      Some("part-0000000099.glpr"))
    w.write(org.apache.spark.sql.catalyst.InternalRow(4242L,
      org.apache.spark.unsafe.types.UTF8String.fromString("en"),
      org.apache.spark.unsafe.types.UTF8String.fromString("s"),
      org.apache.spark.unsafe.types.UTF8String.fromString("boundless")))
    w.commit()
    java.nio.file.Files.write( // strip the bounds from its sidecar
      GlprSource.metaFile(new java.io.File(root, "part-0000000099.glpr")).toPath,
      "rows=1 lang=2 source=1 text=9".getBytes("UTF-8"))
    GlprSource.mergeIntoManifest(root, Seq("part-0000000099.glpr"))
    val r2 = GlprMaintenance.deleteIdRange(spark, root, 4242L, 4242L)
    assert(r2.rewritten === Map("part-0000000099.glpr" -> None))
    assert(r2.rowsDeleted === 1L)
    assert(!spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).contains(4242L))
  }

  test("q322/q323 delete vectors: masked reads, metadata declines, materialization") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-dv-spec").toString
    // 4 range shards: [0,99] [100,199] [200,299] [300,399]
    GlprSource.write(
      (0L until 400L).map(i => (i, if (i % 3 == 0) "en" else "de", "s", s"t-$i"))
        .toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    val masked = GlprMaintenance.deleteIdRangeMergeOnRead(root, 150L, 349L)
    assert(masked.length === 3, s"three shards overlap [150,349]: $masked")
    // zero data bytes moved: same shard files; the masks are immutable
    // .dv.<gen> GENERATION files recorded in the manifest lines (one
    // versioned commit for the whole delete — round 17)
    val shards = GlprSource.committedShards(root)
    assert(shards.length === 4)
    def dvGenCount() = GlprSource.readManifest(root).get
      .count(l => GlprSource.entryDvGen(l).isDefined)
    assert(dvGenCount() === 3)
    masked.foreach(n => assert(
      new java.io.File(root, s"$n.dv.1").isFile, s"gen file for $n"))
    def ids() = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids() === ((0L until 150L) ++ (350L until 400L)).toSet)
    // pushdown composes with the mask: survivors >= 100 are [100,150) and
    // [350,400)
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .filter(col("doc_id") >= 100L).count() === 100L)
    // metadata aggregate pushdown DECLINES (sidecar counts lie under a
    // mask) and the ordinary plan stays row-exact
    val cnt = spark.read.format("graft.io.GlprSource").load(root)
      .groupBy().count()
    assert(!cnt.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(cnt.head().getLong(0) === 200L)
    // LIMIT still returns enough rows (shard capping disabled under masks)
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .limit(180).count() === 180L)
    // TIME TRAVEL over the masked history (q331): version 1 (pre-
    // delete) reads UNMASKED; version 2 (the MoR delete's own commit)
    // applies exactly the recorded generation
    def countAsOf(v: Long) = spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", v.toString).load(root).count()
    assert(countAsOf(1) === 400L, "pre-delete version reads unmasked")
    assert(countAsOf(2) === 200L, "the delete's version reads masked")
    // re-deleting the same range is idempotent: no mask changes, no gen
    // files written, NO version minted
    val vAfterDelete = GlprSource.listManifestVersions(root).length
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 150L, 349L) === Seq.empty)
    assert(GlprSource.listManifestVersions(root).length === vAfterDelete)
    assert(ids().size === 200)
    // materialization: masked shards rewritten under fresh names, the
    // fully-masked one vanishes, vectors unlinked, one version minted
    val vBefore = GlprSource.listManifestVersions(root).length
    val mat = GlprMaintenance.materializeDeletes(spark, root)
    assert(mat.size === 3)
    assert(mat.values.count(_.isEmpty) === 1, // [200,299] fully masked
      s"exactly one shard is emptied by its mask: $mat")
    mat.values.flatten.foreach(n => assert(!masked.contains(n)))
    assert(dvGenCount() === 0, "live manifest carries no masks after materialize")
    assert(ids() === ((0L until 150L) ++ (350L until 400L)).toSet)
    assert(GlprSource.listManifestVersions(root).length === vBefore + 1)
    // metadata paths re-arm: sidecar rows now equal the surviving rows
    assert(GlprSource.committedShards(root)
      .flatMap(GlprSource.readMeta).map(_.rows).sum === 200L)
    // idempotent: nothing left to materialize
    assert(GlprMaintenance.materializeDeletes(spark, root) === Map.empty)
    // compaction over fresh masks now FOLDS them in-flight (q348; the
    // round-17 never-merge rule is gone) — masked members merge, the
    // merged shard is mask-free, nothing resurrects
    def append(r: Range): Unit =
      r.map(i => (i.toLong, "en", "s", s"t-$i"))
        .toDF("doc_id", "lang", "source", "text")
        .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    append(500 until 550); append(550 until 600)
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 520L, 529L).nonEmpty)
    val merged = GlprMaintenance.compact(root, targetBytes = Long.MaxValue / 2)
    assert(merged.nonEmpty)
    assert(GlprSource.readManifest(root).get
      .forall(l => GlprSource.entryDvGen(l).isEmpty),
      "compaction must retire folded masks with their members")
    assert(ids() === ((0L until 150L) ++ (350L until 400L) ++
      (500L until 520L) ++ (530L until 600L)).toSet)
  }

  test("q324 redaction: matched shards rewrite in place, untouched shards keep their files") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-redact-spec").toString
    // two range shards: [0,1] holds hits, [100,101] is clean
    Seq((0L, "en", "s", "leak spark here"), (1L, "en", "s", "spark and spark"),
      (100L, "de", "s", "clean text"), (101L, "de", "s", "nothing"))
      .toDF("doc_id", "lang", "source", "text")
      .repartitionByRange(2, col("doc_id"))
      .write.format("graft.io.GlprSource").mode("append").save(root)
    val before = GlprSource.committedShards(root).map(_.getName).sorted
    assert(before.length === 2)
    val vBefore = GlprSource.listManifestVersions(root).length
    val swapped = GlprMaintenance.redactText(spark, root, Seq("spark"), "[X]")
    // only the hit-bearing shard was rewritten; the clean one kept its file
    assert(swapped.size === 1, s"one shard held hits: $swapped")
    val after = GlprSource.committedShards(root).map(_.getName).sorted
    assert(after.intersect(before).length === 1,
      "the untouched shard must keep its exact file")
    swapped.values.foreach(n => assert(!before.contains(n)))
    assert(GlprSource.listManifestVersions(root).length === vBefore + 1)
    // the STORAGE holds the redacted bytes
    val texts = spark.read.format("graft.io.GlprSource").load(root)
      .orderBy("doc_id").select("text").collect().map(_.getString(0))
    assert(texts.toSeq === Seq("leak [X] here", "[X] and [X]",
      "clean text", "nothing"))
    // idempotent: nothing left to redact, no version minted
    assert(GlprMaintenance.redactText(spark, root, Seq("spark"), "[X]") === Map.empty)
    assert(GlprSource.listManifestVersions(root).length === vBefore + 1)
  }

  test("shard names are never reused; OVERWRITE and compaction RETIRE, history stays readable") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-namereuse-spec").toString
    def df(rows: (Long, String)*) =
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text").coalesce(1)
    df(1L -> "a").write.format("graft.io.GlprSource").mode("append").save(root)
    // OVERWRITE must NOT re-mint part-0: version 1 recorded that name,
    // and a reused name would let versionAsOf=1 silently serve
    // post-overwrite bytes as history
    df(2L -> "b").write.format("graft.io.GlprSource").mode("overwrite").save(root)
    assert(new java.io.File(root, "part-0000000001.glpr").isFile,
      "overwrite must number past the version history, not reset to 0")
    // RETENTION: the overwritten shard was retired, not unlinked — time
    // travel ACROSS the overwrite reads the pre-overwrite rows
    assert(new java.io.File(root, "part-0000000000.glpr").isFile,
      "overwrite retires the old shard on disk for its versions")
    def idsAsOf(v: Long) = spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", v.toString).load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idsAsOf(1) === Set(1L))
    assert(idsAsOf(2) === Set(2L))
    // compaction mints FRESH names for merged shards and retires the
    // members — pre-compaction versions keep reading them
    df(3L -> "c").write.format("graft.io.GlprSource").mode("append").save(root)
    val merged = GlprMaintenance.compact(root, targetBytes = Long.MaxValue / 2)
    assert(merged.length === 1)
    assert(!Set("part-0000000001.glpr", "part-0000000002.glpr")
      .contains(merged.head.mergedName),
      s"merged shard must take a fresh name, got ${merged.head.mergedName}")
    assert(idsAsOf(3) === Set(2L, 3L), "pre-compaction version readable")
    // the live view is intact throughout
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // expire + vacuum is the ONLY path to physical removal, and it turns
    // exactly the expired history loud — never the live view
    GlprMaintenance.expireVersions(root, keepLast = 1)
    assert(GlprMaintenance.vacuum(root) > 0)
    assert(!new java.io.File(root, "part-0000000000.glpr").isFile,
      "vacuum reclaims shards no surviving version references")
    intercept[Exception] { idsAsOf(1) }
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("bloom fold is membership-exact; zero false negatives; FPR within envelope") {
    val ids = (0L until 1000L).map(i => i * 2654435761L + 17L) // arbitrary spread
    // build at max size, fold to the commit target
    val big = new Array[Long](GlprSource.BloomMaxBits / 64)
    ids.foreach(GlprSource.bloomSet(big, GlprSource.BloomMaxBits, _))
    val target = GlprSource.bloomTargetBits(ids.length)
    val folded = GlprSource.bloomFold(big, target)
    // THE fold claim: for power-of-two sizes, folding equals having
    // inserted at the target size directly (h mod m is the low bits)
    val direct = new Array[Long](target / 64)
    ids.foreach(GlprSource.bloomSet(direct, target, _))
    assert(folded.toSeq === direct.toSeq,
      "fold-from-max must be bit-identical to direct insertion at the target size")
    // no false negatives, ever
    assert(ids.forall(GlprSource.bloomMightContain(folded, target, _)))
    // false-positive rate at ~10 bits/key stays ~1% (envelope 5%)
    val absent = (1L to 20000L).map(i => i * 0x9e3779b97f4a7c15L + 3L)
      .filterNot(ids.contains)
    val fp = absent.count(GlprSource.bloomMightContain(folded, target, _))
    assert(fp.toDouble / absent.size < 0.05,
      s"bloom FPR ${fp.toDouble / absent.size} above envelope")
    // round-trip through the sidecar hex encoding
    assert(GlprSource.bloomFromHex(GlprSource.bloomHex(folded)).toSeq === folded.toSeq)
    // target sizing: floors at 512 bits, caps at BloomMaxBits
    assert(GlprSource.bloomTargetBits(1L) === 512)
    assert(GlprSource.bloomTargetBits(1000000000L) === GlprSource.BloomMaxBits)
  }

  test("q307 bloom pruning: runtime key sets skip unclustered shards; stripped blooms decline") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-bloom").toString
    // hash layout: every shard's min/max spans ~the whole id space, so
    // any skip below is the bloom's doing, not the bounds'
    GlprSource.write(
      (0L until 400L).map(i => (i, "en", "s", s"t$i")).toDF("doc_id", "lang", "source", "text")
        .repartition(4, col("doc_id")), root)
    val shards = GlprSource.committedShards(root)
    assert(shards.length === 4)
    assert(shards.flatMap(GlprSource.readMeta).forall(_.bloom.isDefined))
    // two probe keys from ONE hash partition (read back which shard id
    // 7 landed in, take two of that shard's ids) — a bloom-prunable set
    val byShard = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id", "_shard").collect()
      .map(r => r.getLong(0) -> r.getString(1)).groupBy(_._2)
    val (homeShard, pairs) = byShard.find(_._2.exists(_._1 == 7L)).get
    val keys = pairs.map(_._1).sorted.take(2)
    def keptWith(ids: Array[Long]): Int = {
      val scan = new GlprScan(root, GlprSource.schema,
        GlprSource.IdRange(Long.MinValue, Long.MaxValue), Array.empty, None)
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("doc_id",
          ids.map(java.lang.Long.valueOf(_): Any))))
      scan.planInputPartitions().length
    }
    val kept = keptWith(keys)
    assert(kept < 4, s"blooms must skip shards that provably lack the keys: kept $kept/4")
    assert(kept >= 1)
    // static point lookup: doc_id = 7 plans only shards whose bloom may hold it
    val scanEq = new GlprScan(root, GlprSource.schema,
      GlprSource.IdRange(7L, 7L), Array.empty, None)
    val keptEq = scanEq.planInputPartitions()
    assert(keptEq.length < 4 &&
      keptEq.map(_.asInstanceOf[GlprSource.GlprPartition].file)
        .exists(_.endsWith(homeShard)),
      s"point lookup must keep id 7's home shard and prune by bloom: ${keptEq.length}/4")
    // rows stay exact through the pruned plan
    val got = spark.read.format("graft.io.GlprSource").load(root)
      .filter(col("doc_id") === 7L).select("text").collect().map(_.getString(0)).toSet
    assert(got === Set("t7"))
    // stripped blooms AND bounds (external/pre-round-16 sidecars):
    // nothing left to prune on — every shard must be kept
    shards.foreach { f =>
      val meta = GlprSource.metaFile(f)
      val txt = new String(java.nio.file.Files.readAllBytes(meta.toPath))
      java.nio.file.Files.write(meta.toPath,
        txt.replaceAll(" bloom=[0-9a-f]+", "")
          .replaceAll(" idlo=\\d+ idhi=\\d+", "").getBytes)
    }
    assert(keptWith(keys) === 4, "a sidecar without bloom/bounds must never be pruned")
  }

  test("static doc_id bounds prune whole shards via sidecar min/max (no data bytes touched)") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-static-prune").toString
    GlprSource.write(
      (0L until 400L).map(i => (i, "en", "s", s"t$i")).toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    val facts = spark.read.format("graft.io.GlprSource").load(root)
    val got = facts.filter(col("doc_id") >= 120L && col("doc_id") <= 180L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === (120L to 180L).toSet)
    val (kept, total) = GlprSource.planEvents.get(root)
    assert(total === 4 && kept === 1,
      s"[120,180] lives in one shard — expected 1/4 planned, got $kept/$total")
  }

  test("a sidecar without id bounds (pre-round-15 / external writer) is NEVER pruned") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-compat-prune").toString
    GlprSource.write(
      (0L until 200L).map(i => (i, "en", "s", s"t$i")).toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(2, col("doc_id")), root)
    // strip the bounds from the FIRST shard's sidecar (the old format)
    val shard0 = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".glpr")).sortBy(_.getName).head
    val meta = GlprSource.metaFile(shard0)
    val stripped = new String(java.nio.file.Files.readAllBytes(meta.toPath))
      .replaceAll(" idlo=\\d+ idhi=\\d+", "")
    java.nio.file.Files.write(meta.toPath, stripped.getBytes)
    val facts = spark.read.format("graft.io.GlprSource").load(root)
    // bounds target ONLY the second shard; the stripped shard must be
    // kept anyway (row-level pushdown still filters it) and results hold
    val got = facts.filter(col("doc_id") >= 150L && col("doc_id") <= 160L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === (150L to 160L).toSet)
    val (kept, total) = GlprSource.planEvents.get(root)
    assert(total === 2 && kept === 2,
      s"boundless shard must never be pruned: got $kept/$total")
  }

  test("q296 aggregate pushdown: ungrouped count/min/max answered from sidecars with ZERO shards read") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-aggpush").toString
    GlprSource.write(
      (5L until 205L).map(i => (i, "en", "s", s"t$i")).toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    val facts = spark.read.format("graft.io.GlprSource").load(root)
    val agg = facts.agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
    val row = agg.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((200L, 5L, 204L)))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates (sidecar-only)"),
      s"aggregate not pushed into the scan:\n${plan.take(1500)}")
    assert(!plan.contains("HashAggregate"),
      s"COMPLETE pushdown must leave no aggregate exec in the plan:\n${plan.take(1500)}")
    val (kept, total) = GlprSource.planEvents.get(root)
    assert(total === 4 && kept === 0, s"metadata-only scan must plan 0 data shards, got $kept/$total")
  }

  test("aggregate pushdown DECLINES under filters, grouping, or a stats-less shard — and stays correct") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-aggdecline").toString
    GlprSource.write(
      (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"t$i"))
        .toDF("doc_id", "lang", "source", "text").repartitionByRange(2, col("doc_id")), root)
    val facts = spark.read.format("graft.io.GlprSource").load(root)
    // filtered: sidecars describe whole shards, so the pushdown must decline
    val f = facts.filter(col("doc_id") >= 50L).agg(count(lit(1)).as("n"))
    assert(f.collect().head.getLong(0) === 50L)
    assert(!f.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    // grouped: declined
    val g = facts.groupBy("lang").agg(count(lit(1)).as("n"))
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("en", 50L), ("de", 50L)))
    assert(!g.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    // a shard missing its sidecar: declined, full scan still answers
    val someMeta = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".glpr.meta")).head
    assert(someMeta.delete())
    val n = facts.agg(count(lit(1)).as("n"))
    assert(n.collect().head.getLong(0) === 100L)
    assert(!n.queryExecution.executedPlan.toString.contains("PushedAggregates"))
  }

  test("q297 limit pushdown: LIMIT plans only the shards its sidecar row counts need") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-limit").toString
    GlprSource.write(
      (0L until 400L).map(i => (i, "en", "s", s"t$i")).toDF("doc_id", "lang", "source", "text")
        .repartitionByRange(4, col("doc_id")), root)
    val facts = spark.read.format("graft.io.GlprSource").load(root)
    val got = facts.limit(10).collect()
    assert(got.length === 10)
    val (kept, total) = GlprSource.planEvents.get(root)
    assert(total === 4 && kept === 1,
      s"LIMIT 10 over 100-row shards must plan 1/4 shards, got $kept/$total")
    // a limit larger than one shard takes just enough shards
    assert(facts.limit(150).collect().length === 150)
    assert(GlprSource.planEvents.get(root) === ((2, 4)))
    // under a pushed doc_id filter the shard cap is DISABLED (surviving
    // rows unknowable from sidecars) but the result stays exact
    val filtered = facts.filter(col("doc_id") >= 390L).limit(20).collect()
    assert(filtered.length === 10, "only 10 rows survive the filter — all must appear")
  }

  test("q300 streaming sink: epoch-named shards, multiple epochs under admission control") {
    val dir2 = TestSpark.sfDir
    graft.GlprScenarios.streamRelayPipeline(spark, dir2).collect() // ensure relay ran
    // find the relay sink dir through a fresh run on a scratch copy is
    // overkill — inspect the epoch naming contract via a direct write
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-sink-epochs").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String, String)]
    val q = in.toDF().toDF("doc_id", "lang", "source", "text")
      .writeStream.format("graft.io.GlprSource")
      .option("path", root)
      .option("checkpointLocation", TempDirs.scratch("graft-glpr-sink-ckpt").toString)
      .start()
    try {
      in.addData((1L, "en", "s", "a"))
      q.processAllAvailable()
      in.addData((2L, "en", "s", "b"))
      q.processAllAvailable()
    } finally q.stop()
    val names = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.endsWith(".glpr")).sorted
    assert(names.forall(_.matches("part-\\d{10}-\\d{5}\\.glpr")),
      s"epoch-major shard names required: ${names.mkString(",")}")
    assert(names.map(_.take(15)).distinct.length >= 2,
      s"two micro-batches must land as two epochs: ${names.mkString(",")}")
    val got = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
  }

  test("q300 streaming sink: an at-least-once epoch REPLAY rewrites the same shard, no duplicates") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-sink-replay").toString
    val schema = GlprSource.schema
    def writeEpoch(epochId: Long, text: String): Unit = {
      val fac = new GlprStreamingWriterFactory(root, schema)
      val w = fac.createWriter(0, /*taskId=*/ epochId * 100, epochId)
      val row = org.apache.spark.sql.catalyst.InternalRow(
        7L, org.apache.spark.unsafe.types.UTF8String.fromString("en"),
        org.apache.spark.unsafe.types.UTF8String.fromString("s"),
        org.apache.spark.unsafe.types.UTF8String.fromString(text))
      w.write(row); w.commit(); w.close()
    }
    writeEpoch(3L, "first-delivery")
    writeEpoch(3L, "first-delivery") // the replay: same epoch, same content
    val shards = new java.io.File(root).listFiles().filter(_.getName.endsWith(".glpr"))
    assert(shards.length === 1, s"replay must not append a second shard: ${shards.mkString(",")}")
    val rows = spark.read.format("graft.io.GlprSource").load(root).collect()
    assert(rows.length === 1 && rows.head.getString(3) === "first-delivery")
  }

  test("batch scans never read uncommitted _tmp stage files (crashed-writer wreckage)") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-tmp-excl").toString
    Seq((1L, "en", "a", "one"), (2L, "de", "a", "two"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
    // a crashed/speculative task that never ran abort(): a partial stage
    // file whose bytes are mid-record garbage
    java.nio.file.Files.write(
      new java.io.File(root, "_tmp-99-part-0000000099.glpr").toPath,
      Array[Byte](0, 1, 2, 3, 4))
    val got = spark.read.format("graft.io.GlprSource").load(root).count()
    assert(got === 2L,
      "an uncommitted _tmp shard must be invisible to batch scans " +
        "(two-phase-commit contract)")
  }

  test("scan reports real statistics from the sidecars, pruning-aware, with a raw-bytes fallback") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-stats").toString
    val docs = (0L until 100L).map(i =>
      (i, "en", "src", "x" * 50)).toDF("doc_id", "lang", "source", "text")
    docs.coalesce(2).write.format("graft.io.GlprSource").mode("append").save(root)
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats
    val full = spark.read.format("graft.io.GlprSource").load(root)
    val fullStats = stats(full)
    assert(fullStats.rowCount.contains(BigInt(100)),
      s"sidecar row count must reach Catalyst, got ${fullStats.rowCount}")
    // ~100*(8 + 3*8 + 2+3+50) bytes — real corpus size, nowhere near
    // the defaultSizeInBytes sentinel a stat-less DSv2 relation reports
    assert(fullStats.sizeInBytes > 5000 && fullStats.sizeInBytes < 50000,
      s"sizeInBytes should be the real corpus size, got ${fullStats.sizeInBytes}")
    // pruning-aware: dropping the text column shrinks the estimate
    val pruned = stats(full.select("doc_id", "lang"))
    assert(pruned.sizeInBytes < fullStats.sizeInBytes / 2,
      s"pruned estimate ${pruned.sizeInBytes} should drop the text bytes " +
        s"(full ${fullStats.sizeInBytes})")
    // fallback: a shard missing its sidecar degrades to raw file lengths
    new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".meta")).foreach(_.delete())
    val fb = stats(spark.read.format("graft.io.GlprSource").load(root))
    assert(fb.rowCount.isEmpty && fb.sizeInBytes > 0 && fb.sizeInBytes < 50000,
      s"sidecar-less shards must fall back to file-length stats, got $fb")
  }

  test("sidecar stats reach Catalyst: attributeStats values + pushdown-aware size flips a join to broadcast") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-colstats").toString
    (0L until 2000L).map(i => (i, "en", "src", "x" * 60))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(4).write.format("graft.io.GlprSource").mode("append").save(root)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val corpus = s2.read.format("graft.io.GlprSource").load(root)
    // the sidecar column stats arrive as catalyst attributeStats
    val attr = corpus.queryExecution.optimizedPlan.stats.attributeStats
    val byName = attr.toSeq.map { case (a, st) => a.name -> st }.toMap
    val id = byName.getOrElse("doc_id",
      fail(s"doc_id column stats missing; have ${byName.keySet}"))
    assert(id.min.contains(0L) && id.max.contains(1999L) &&
      id.distinctCount.contains(BigInt(2000)) && id.nullCount.contains(BigInt(0)),
      s"doc_id stats wrong: $id")
    assert(byName.get("text").exists(_.avgLen.contains(60L)),
      s"text avgLen should come from the byte counters: ${byName.get("text")}")
    // ...and CHANGE a plan: the scan's estimate is PUSHDOWN-AWARE (the
    // pushed doc_id range scales each shard by its bounds overlap), so
    // a selectively-filtered corpus estimates ~20 rows (~2 KB) while
    // the unfiltered corpus (~150 KB) and the 20k-row facts side
    // (~160 KB) both sit above the 16 KB threshold: the FILTERED join
    // broadcasts the corpus, the UNFILTERED control stays a shuffle
    // join — the flip is attributable to the sidecar-driven estimate
    // alone (cbo off: nothing else can shrink either side).
    s2.conf.set("spark.sql.cbo.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (16 * 1024).toString)
    val stFiltered = corpus.filter(col("doc_id") < 20L)
      .select(col("doc_id"), col("text"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val stFull = corpus.select(col("doc_id"), col("text"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stFiltered < stFull / 20,
      s"pushed-range estimate must scale by bounds overlap: " +
        s"filtered=$stFiltered full=$stFull")
    val facts = s2.range(0, 20000).select(col("id").as("doc_id"),
      (col("id") % 7).as("grp"))
    def joined(c: org.apache.spark.sql.DataFrame) = facts.join(
      c.select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy("grp").agg(sum(octet_length(col("text"))).as("bytes"))
    val filteredPlan = joined(corpus.filter(col("doc_id") < 20L))
    assert(filteredPlan.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
      "the pushdown-aware estimate must broadcast the filtered corpus " +
        s"side:\n${filteredPlan.queryExecution.executedPlan}")
    // correctness unchanged
    assert(filteredPlan.collect().map(_.getLong(1)).sum === 20L * 60L)
    val controlPlan = joined(corpus)
    assert(!controlPlan.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
      "control: the unfiltered corpus must not broadcast at this threshold")
    s2.conf.set("spark.sql.cbo.enabled", "true")
  }

  test("column stats are POST-pushdown: statically pruned shards don't inflate NDV (round-18 ADVICE)") {
    val r2 = TempDirs.scratch("graft-glpr-ppstats").toString
    val s2 = spark.newSession()
    import s2.implicits._
    s2.conf.set("spark.sql.catalog.glpr_pp", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_pp.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.sql("CREATE TABLE glpr_pp.ns.t " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) PARTITIONED BY (lang)")
    (0L until 120L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"t-$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("pp_in")
    s2.sql("INSERT INTO glpr_pp.ns.t SELECT * FROM pp_in")
    // precondition: the clustered write produced single-lang shards
    val tdir = new java.io.File(r2, "ns/t").getAbsolutePath
    val metas = GlprSource.committedShards(tdir)
      .flatMap(GlprSource.readMeta).filter(_.rows > 0)
    assert(metas.forall(_.pvals.exists(_.size == 1)),
      s"expected single-lang shards, got ${metas.map(_.pvals)}")
    def langNdv(df: org.apache.spark.sql.DataFrame): Option[BigInt] = {
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.getOrElse(fail("no v2 scan relation in the plan"))
      rel.stats.attributeStats.toSeq
        .collectFirst { case (a, st) if a.name == "lang" => st }
        .flatMap(_.distinctCount)
    }
    // unfiltered: both langs' shards planned → NDV 2
    assert(langNdv(s2.sql("SELECT * FROM glpr_pp.ns.t")).contains(BigInt(2)))
    // lang='en' prunes the de shards statically — the scan's column
    // stats must describe the POST-pushdown output (NDV 1), not the
    // whole table: CBO reads these for selectivity
    assert(langNdv(s2.sql("SELECT * FROM glpr_pp.ns.t WHERE lang = 'en'"))
      .contains(BigInt(1)))
  }

  test("a small GLPR dimension auto-broadcasts against parquet facts — NO hint (q289's plan)") {
    val dim = glpr.select(col("doc_id"), col("lang"))
    val facts = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), (col("l_partkey") % 500).cast("long").as("k"))
    val joined = facts.join(dim, col("k") === col("doc_id"))
      .groupBy("lang").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a ~500-row GLPR dim with reported stats must auto-broadcast:\n$plan")
  }

  test("maxShardsPerTrigger bounds every micro-batch; AvailableNow drains the snapshot and stops") {
    import spark.implicits._
    val root = TempDirs.scratch("graft-glpr-admission").toString
    (0L until 50L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"text-$i"))
      .toDF("doc_id", "lang", "source", "text")
      .repartition(5).write.format("graft.io.GlprSource").mode("append").save(root)
    assert(GlprSource.committedShards(root).length === 5)
    val expected = Map("en" -> 25L, "de" -> 25L)

    // (a) live stream under the limit: processAllAvailable catches up in
    // ceil(5/2)=3 data-bearing micro-batches, never one giant batch
    val liveName = "graft_glpr_admission_live"
    val live = spark.readStream.format("graft.io.GlprSource")
      .option("maxShardsPerTrigger", "2").load(root)
      .groupBy("lang").count()
      .writeStream.outputMode("complete").format("memory").queryName(liveName).start()
    try {
      live.processAllAvailable()
      val counts = spark.table(liveName).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === expected)
      val dataBatches = live.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches === 3,
        s"5 shards under maxShardsPerTrigger=2 must take 3 data batches, got $dataBatches " +
          live.recentProgress.map(_.numInputRows).mkString("[", ",", "]"))
    } finally { live.stop(); spark.catalog.dropTempView(liveName) }

    // (b) Trigger.AvailableNow: snapshots the listing, drains it under the
    // same bound, then TERMINATES on its own — the backfill contract
    val anName = "graft_glpr_admission_an"
    val an = spark.readStream.format("graft.io.GlprSource")
      .option("maxShardsPerTrigger", "2").load(root)
      .groupBy("lang").count()
      .writeStream.outputMode("complete").format("memory").queryName(anName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(an.awaitTermination(120000),
        "AvailableNow must self-terminate once the snapshot is drained")
      val counts = spark.table(anName).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === expected)
      val dataBatches = an.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches === 3,
        s"AvailableNow backfill must respect the limit: got $dataBatches batches")
    } finally { an.stop(); spark.catalog.dropTempView(anName) }

    // (c) the unlimited path is unchanged: one batch takes everything
    val unName = "graft_glpr_admission_un"
    val un = spark.readStream.format("graft.io.GlprSource").load(root)
      .groupBy("lang").count()
      .writeStream.outputMode("complete").format("memory").queryName(unName).start()
    try {
      un.processAllAvailable()
      val counts = spark.table(unName).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === expected)
      val dataBatches = un.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches === 1,
        s"without the option everything-available stays one batch, got $dataBatches")
    } finally { un.stop(); spark.catalog.dropTempView(unName) }
  }

  test("batch and streaming writers refuse each other's directories (naming-scheme guard)") {
    import spark.implicits._
    // batch-named corpus → streaming write must refuse
    val batchDir = TempDirs.scratch("graft-glpr-mix-b").toString
    Seq((1L, "en", "s", "a")).toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(batchDir)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String, String)]
    val q = in.toDF().toDF("doc_id", "lang", "source", "text")
      .writeStream.format("graft.io.GlprSource")
      .option("path", batchDir)
      .option("checkpointLocation", TempDirs.scratch("graft-glpr-mix-ckpt").toString)
      .start()
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { in.addData((2L, "en", "s", "b")); q.processAllAvailable() }
      finally q.stop()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    assert(rootMsg(e1).contains("batch-named"), rootMsg(e1))
    // the refused stream left the batch corpus intact (no epoch shards)
    assert(GlprSource.committedShards(batchDir).forall(
      f => GlprSource.isBatchShardName(f.getName)))

    // epoch-named corpus → batch APPEND must refuse; OVERWRITE is allowed
    val streamDir = TempDirs.scratch("graft-glpr-mix-s").toString
    val fac = new GlprStreamingWriterFactory(streamDir, GlprSource.schema)
    val w = fac.createWriter(0, 0L, 5L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      9L, org.apache.spark.unsafe.types.UTF8String.fromString("en"),
      org.apache.spark.unsafe.types.UTF8String.fromString("s"),
      org.apache.spark.unsafe.types.UTF8String.fromString("t")))
    w.commit(); w.close()
    val df = Seq((3L, "de", "s", "c")).toDF("doc_id", "lang", "source", "text").coalesce(1)
    val e2 = intercept[Exception] {
      df.write.format("graft.io.GlprSource").mode("append").save(streamDir)
    }
    def anyMsg(t: Throwable): Boolean = {
      var c: Throwable = t
      while (c != null) {
        if (c.getMessage != null && c.getMessage.contains("epoch-named")) return true
        c = c.getCause
      }
      false
    }
    assert(anyMsg(e2), s"batch append into epoch-named dir must name the guard: ${e2.getMessage}")
    // overwrite truncates first, so the naming conflict vanishes with the data
    df.write.format("graft.io.GlprSource").mode("overwrite").save(streamDir)
    val got = spark.read.format("graft.io.GlprSource").load(streamDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(3L))
  }
}
