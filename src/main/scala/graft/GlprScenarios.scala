package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.{GlprMaintenance, GlprSource, GlprWriter, Tables, TempDirs}
import graft.io.GlprSource.{createBranch, dropBranch, listManifestVersions, publishBranch, write}

/** The GLPR registry scenarios: each stages a corpus through the
  * [[graft.io.GlprSource]] connector (a path write or a
  * [[graft.io.GlprCatalog]] table), changes it, and reads back a bounded
  * rollup the registry's DuckDB oracle recomputes from the documents
  * table.
  *
  * Two kinds of staging. A shared one (`stagedPath`, the time-travel,
  * CDF, partitioned and relay roots) is built once per dir
  * ([[graft.io.TempDirs.once]]) and only read, so its frames stay lazy.
  * A per-call one runs under [[scenario]]: the root lives only for the
  * call and the result is rematerialized before it is deleted, so
  * scratch does not grow with the number of calls. */
object GlprScenarios {

  private val Format = "graft.io.GlprSource"
  private val DocCols = "doc_id, lang, source, text"

  /** The documents table as the four GLPR columns. */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "lang", "source", "text")

  /** A batch GLPR read of `path` with reader `opts`. */
  private def glpr(spark: SparkSession, path: String, opts: (String, String)*): DataFrame =
    spark.read.format(Format).options(opts.toMap).load(path)

  /** Append `df` to the GLPR branch `branch` of `path`. */
  private def appendToBranch(df: DataFrame, path: String, branch: String): Unit =
    df.write.format(Format).option("branch", branch).mode("append").save(path)

  /** Write the documents to `root` as `n` range-clustered shards (tight
    * doc_id bounds per shard). */
  private def writeRanged(spark: SparkSession, dir: String, root: String, n: Int = 8): Unit =
    write(docs(spark, dir).repartitionByRange(n, col("doc_id")), root)

  /** A rollup by lang: the row count as `n_docs`, then `aggs`. */
  private def byLang(aggs: Column*)(df: DataFrame): DataFrame =
    df.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"), aggs: _*)

  /** The rollups' text bytes and doc_id sum. */
  private val TextBytes: Column = sum(octet_length(col("text")).cast("long")).as("n_bytes")
  private val IdSum: Column = sum(col("doc_id")).cast("long").as("id_sum")

  /** The documents parquet as a SQL source. */
  private def docsSql(dir: String): String = s"parquet.`$dir/documents.parquet`"

  /** `INSERT INTO table SELECT cols FROM` the documents parquet, then
    * `tail` (a WHERE, DISTRIBUTE BY or GROUP BY clause). */
  private def insertDocs(s2: SparkSession, table: String, dir: String,
      tail: String = "", cols: String = DocCols): Unit =
    s2.sql(s"INSERT INTO $table SELECT $cols FROM ${docsSql(dir)} $tail"): Unit

  /** The three doc_id slices `< 100`, `[100, 300)`, `>= 300` — nonempty
    * at every test SF. */
  private val Slices = Seq("doc_id < 100", "doc_id >= 100 AND doc_id < 300", "doc_id >= 300")

  /** Append `all` to `root` one slice per job commit: versions 1-3. */
  private def appendSlices(all: DataFrame, root: String): Unit =
    Slices.foreach(p => write(all.filter(p), root))

  /** INSERT the three slices into `table`, one commit each. With
    * `skipEmpty` an empty slice is counted and skipped: an empty slice
    * may or may not mint a version (0 input partitions → 0 tasks → no
    * manifest change), which would make the numbering SF-dependent, so
    * versions = nonempty slices, exactly what the oracles derive. Returns
    * the slice counts (-1 when not counted). */
  private def insertSlices(s2: SparkSession, table: String, dir: String,
      skipEmpty: Boolean): Seq[Long] =
    Slices.map { p =>
      val n = if (!skipEmpty) -1L
        else s2.sql(s"SELECT count(*) AS n FROM ${docsSql(dir)} WHERE $p").head().getLong(0)
      if (n != 0L) insertDocs(s2, table, dir, s"WHERE $p")
      n
    }

  /** The newest manifest version of `root`, 1 before any. */
  private def latestVersion(root: String): Long =
    listManifestVersions(root).lastOption.getOrElse(1L)

  /** Whether `body` throws an exception whose cause chain carries
    * `message`: a contract refusal must be the named one, since a blanket
    * catch lets any unrelated failure satisfy it. */
  private def refusesWith(message: String)(body: => Any): Boolean =
    try { body; false }
    catch {
      case e: Exception =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
          .exists(t => Option(t.getMessage).exists(_.contains(message)))
    }

  /** The fixed doc_id slice expression behind the DML pipelines (q301/
    * q303): three contiguous id ranges `[min,100) [100,300) [300,max]`,
    * used as a DISTRIBUTE BY / repartition key so each range lands
    * wholly in ONE writer partition — hence one shard with TIGHT sidecar
    * bounds per range. Hash assignment of the three slice values to
    * partitions is data-independent (Murmur3 of the constant), so the
    * layout — which shard holds which range — is deterministic across
    * runs and SFs: the precondition for a FIXED oracle predicate against
    * a shard-aligned DELETE. This is the miniature of real GLPR ingest
    * discipline: cluster by the prune key at write time so metadata-only
    * operations (pruning, DELETE) stay shard-aligned. */
  private val SliceSql =
    "(CASE WHEN doc_id < 100 THEN 0 WHEN doc_id < 300 THEN 1 ELSE 2 END)"

  /** One per-call scenario: `body` runs over a call-scoped scratch root
    * ([[graft.io.TempDirs.scoped]]), and its BOUNDED result is
    * [[rematerialize]]d onto `spark` before the root is deleted. */
  private def scenario(spark: SparkSession, prefix: String)(body: String => DataFrame): DataFrame =
    TempDirs.scoped(prefix)(root => rematerialize(spark, body(root.toString)))

  /** One catalog scenario ([[scenario]]): a fresh session with `catalog`
    * bound to the call's root and the caller's `confs` set, then
    * `body(session, root)`. The session is fresh per call because a
    * session's CatalogManager caches the catalog plugin instance after
    * first use: re-pointing `spark.sql.catalog.<name>.root` on the same
    * session would run DDL against the stale root. */
  private def catalogScenario(spark: SparkSession, catalog: String,
      confs: (String, String)*)(body: (SparkSession, String) => DataFrame): DataFrame =
    scenario(spark, "graft-" + catalog.replace('_', '-')) { root =>
      val s2 = freshCatalogSession(spark, catalog, root)
      confs.foreach { case (k, v) => s2.conf.set(k, v) }
      body(s2, root)
    }

  /** `CREATE TABLE <table>` with the GLPR documents columns, then
    * `extraCols` (schema-evolution extras such as `ts STRING`), and
    * `PARTITIONED BY (<partitionedBy>)` when that is set. */
  private def createDocs(s: SparkSession, table: String,
      partitionedBy: String = "", extraCols: String = ""): Unit =
    s.sql(s"CREATE TABLE $table " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING" +
      (if (extraCols.isEmpty) ")" else s", $extraCols)") +
      (if (partitionedBy.isEmpty) "" else s" PARTITIONED BY ($partitionedBy)")): Unit

  /** A child session of `spark` with 8 shuffle partitions. */
  private def childSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2
  }

  private def freshCatalogSession(spark: SparkSession,
      catalog: String, root: String): SparkSession = {
    val s2 = childSession(spark)
    s2.conf.set(s"spark.sql.catalog.$catalog", "graft.io.GlprCatalog")
    s2.conf.set(s"spark.sql.catalog.$catalog.root", root)
    s2
  }

  /** Detach a BOUNDED result frame from its torn-down child session or
    * scratch root by materializing it onto the caller's. The collect
    * routes through [[graft.streaming.Events.guardedSettleRows]] — the
    * ONE shared capped-collect guard. Every caller returns a keyed
    * rollup, never a per-row corpus projection; the cap trips long
    * before driver memory does. */
  private def rematerialize(spark: SparkSession, res: DataFrame): DataFrame = {
    val rows = graft.streaming.Events.guardedSettleRows(res)
    spark.createDataFrame(rows.toSeq.asJava, res.schema)
  }

  /** Settle the streaming aggregate `agg` in complete mode into a memory
    * table — drained by `processAllAvailable`, or under
    * `Trigger.AvailableNow` until the query terminates itself — and
    * rematerialize the settled rows onto `spark` (the
    * [[graft.streaming.Events]] settle shape and row-cap guard). */
  private def settle(spark: SparkSession, agg: DataFrame, availableNow: Boolean): DataFrame = {
    val s2 = agg.sparkSession
    val name = s"graft_glpr_stream_${streamCounter.incrementAndGet()}"
    val w = agg.writeStream.outputMode("complete").format("memory").queryName(name)
    if (availableNow) {
      val q = w.trigger(Trigger.AvailableNow()).start()
      // AvailableNow self-terminates once the snapshot is drained — the
      // await IS the termination contract under test
      try q.awaitTermination() finally q.stop()
    } else {
      val q = w.start()
      try q.processAllAvailable() finally q.stop()
    }
    val out = rematerialize(spark, s2.table(name))
    s2.catalog.dropTempView(name)
    out
  }
  private val streamCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- shared stagings (built once per dir, read-only) ------------------

  /** The documents table staged as GLPR once per dir: the batch read,
    * the streamed profiles, the relay and the ingest merge all read
    * these same shards. */
  private[graft] def stagedPath(spark: SparkSession, dir: String): String =
    TempDirs.once(s"glpr-staged#$dir") {
      val root = TempDirs.scratch("graft-glpr").toString
      write(docs(spark, dir), root)
      root
    }
  def documentsVia(spark: SparkSession, dir: String): DataFrame =
    glpr(spark, stagedPath(spark, dir))

  /** Range-disjoint staging for the pruning paths (q295): the corpus
    * written `repartitionByRange(8, doc_id)`, so every shard's sidecar
    * doc_id bounds are TIGHT and shard pruning (static ranges and the
    * DPP-style runtime key sets) can actually skip files. This is the
    * layout discipline a 100 TB GLPR corpus would be ingested with —
    * identical to clustering parquet files by a join key so min/max
    * indexes prune. */
  private def rangeStagedPath(spark: SparkSession, dir: String): String =
    TempDirs.once(s"glpr-ranged#$dir") {
      val root = TempDirs.scratch("graft-glpr-ranged").toString
      writeRanged(spark, dir, root)
      root
    }

  /** Hash-distributed staging — the ANTI-clustered layout (q307): every
    * shard holds a hash-spread slice of the id space, so its sidecar
    * min/max spans (almost) everything and BOUNDS can prune nothing;
    * only the sidecar blooms can. The unclustered case is what most
    * corpora look like before any layout discipline is applied. */
  private[graft] def hashStagedPath(spark: SparkSession, dir: String): String =
    TempDirs.once(s"glpr-hashed#$dir") {
      val root = TempDirs.scratch("graft-glpr-hashed").toString
      write(docs(spark, dir).repartition(8, col("doc_id")), root)
      root
    }

  /** The q311/q312 shared three-append staging ([[appendSlices]]).
    * APPEND-ONLY — both consumers only read it, so one staging serves
    * both. */
  private def timeTravelStagedRoot(spark: SparkSession, dir: String): String =
    TempDirs.once(s"glpr-timetravel#$dir") {
      val out = TempDirs.scratch("graft-glpr-timetravel").toString
      appendSlices(docs(spark, dir), out)
      out
    }

  /** The q328/q329/q337 shared staging: three slice appends (versions
    * 1-3), a shard-aligned CoW DELETE of the middle slice (version 4 —
    * the slice shards are RETIRED, not unlinked), then a re-append of
    * the first slice as fresh inserts (version 5). Read-only for every
    * consumer. */
  private def cdfStagedRoot(spark: SparkSession, dir: String): String =
    TempDirs.once(s"glpr-cdf#$dir") {
      val out = TempDirs.scratch("graft-glpr-cdf").toString
      val all = docs(spark, dir)
      appendSlices(all, out)
      // mutate ONLY when all three slices are nonempty (deterministic
      // from the source table, like q316's guard): the consumers detect
      // the mutated history by its version count (>= 5) and the oracles
      // gate on the same slice counts — exact at every SF
      if (Slices.forall(p => all.filter(p).limit(1).count() > 0)) {
        GlprMaintenance.deleteIdRange(spark, out, 100L, 299L) // version 4
        write(all.filter(col("doc_id") < 100), out) // version 5 (re-insert)
      }
      out
    }

  /** Shared staging for the partitioned-table entries (q304/q306):
    * CREATE ... PARTITIONED BY (lang) + one clustered INSERT, once per
    * dir; returns a fresh session with the catalog bound. AQE
    * partition coalescing is pinned off for the INSERT so the clustered
    * shards stay SINGLE-lang at test scale (at corpus scale lang
    * clusters dwarf the advisory size and never coalesce) — the
    * single-valued-shard invariant q306's metadata-only grouped count
    * needs. The whole staging is the build, so a failed INSERT is
    * retried by the next call instead of leaving an empty table. */
  private def partitionedTableSession(spark: SparkSession, dir: String): SparkSession = {
    val root = TempDirs.once(s"glpr-partitioned#$dir") {
      val root = TempDirs.scratch("graft-glpr-partitioned").toString
      val s2 = freshCatalogSession(spark, "glpr_part", root)
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      createDocs(s2, "glpr_part.corpus.docs", partitionedBy = "lang")
      insertDocs(s2, "glpr_part.corpus.docs", dir)
      root
    }
    freshCatalogSession(spark, "glpr_part", root)
  }

  // ---- catalog SQL front door ------------------------------------------

  /** q298 — the catalog SQL front door end to end
    * ([[graft.io.GlprCatalog]]): register the catalog, `CREATE TABLE`
    * through DDL, `INSERT INTO … SELECT` the documents corpus through the
    * two-phase-commit write path, then aggregate back with a plain
    * `SELECT` over the catalog identifier — not one DataFrame-API read or
    * write in the pipeline, the SQL-only-consumer contract a lakehouse
    * catalog exists for. */
  def catalogSqlPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_cat") { (s2, _) =>
      createDocs(s2, "glpr_cat.corpus.docs")
      insertDocs(s2, "glpr_cat.corpus.docs", dir)
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | min(doc_id) AS min_id, max(doc_id) AS max_id
          |FROM glpr_cat.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q315 — the DSv2 FunctionCatalog front door
    * ([[graft.io.GlprFunctions]]): `glpr_fn.sys.nfc_bytes` (MAGIC_METHOD
    * scalar — codegen'd Invoke, no row boxing) and the V2 aggregate
    * `glpr_fn.sys.bytes_sum` (V2Aggregator: map-side partials + merge),
    * both called from plain SQL by catalog-qualified name over the
    * documents view — no session registration, no UDF. The oracle
    * recomputes with DuckDB's OWN `nfc_normalize`/`strlen`: cross-engine
    * hash agreement certifies the normalization semantics AND the
    * function-resolution wiring. Listing, unknown-name/namespace
    * rejections, and arity checks are GlprCatalogSpec-pinned. */
  def functionCatalogPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_fn") { (s2, _) =>
      s2.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("fn_docs")
      s2.sql(
        """SELECT lang,
          | CAST(sum(glpr_fn.sys.nfc_bytes(text)) AS BIGINT) AS nfc_bytes,
          | glpr_fn.sys.bytes_sum(text) AS raw_bytes,
          | CAST(count(*) AS BIGINT) AS n_docs
          |FROM fn_docs GROUP BY lang""".stripMargin)
    }

  /** q316 — version HISTORY through `CALL <cat>.sys.history('ns.table')`
    * (the DESCRIBE HISTORY analogue, via Spark 4's ProcedureCatalog):
    * the corpus lands in three slice INSERTs — three manifest versions —
    * and the procedure reports one row per version with its CUMULATIVE
    * row count (what a `versionAsOf` read of that version returns). The
    * oracle recomputes the cumulative slice counts from the documents
    * table: agreement certifies the versions were minted exactly once
    * per commit and snapshot the right states. Shard counts are
    * partitioning-dependent bookkeeping and projected away. */
  def historyPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_hist") { (s2, _) =>
      createDocs(s2, "glpr_hist.corpus.docs")
      insertSlices(s2, "glpr_hist.corpus.docs", dir, skipEmpty = true)
      s2.sql("CALL glpr_hist.sys.history('corpus.docs')")
        .select("version", "n_rows")
    }

  /** q317 — the MAINTENANCE ladder through SQL `CALL`: three slice
    * INSERTs, `restore(2)` (roll the live view back to the first two),
    * `compact` (merge the survivors), `vacuum` (no-op on a clean dir),
    * then the live rollup. The oracle aggregates `documents WHERE
    * doc_id < 300`: hash agreement certifies restore dropped exactly the
    * third slice and compaction moved every surviving row exactly once —
    * the whole Iceberg-style `CALL catalog.system.proc(...)` surface,
    * effect-checked cross-engine. Per-procedure result sets and loud
    * rejections are GlprCatalogSpec-pinned. */
  def maintenanceSqlPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_maint") { (s2, root) =>
      createDocs(s2, "glpr_maint.corpus.docs")
      insertSlices(s2, "glpr_maint.corpus.docs", dir, skipEmpty = false)
      // an all-empty corpus mints fewer versions; clamp like q311
      val pin = math.min(2L, latestVersion(new java.io.File(root, "corpus/docs").getAbsolutePath))
      s2.sql(s"CALL glpr_maint.sys.restore('corpus.docs', $pin)").collect()
      s2.sql(s"CALL glpr_maint.sys.compact('corpus.docs', ${Long.MaxValue / 2})")
        .collect()
      s2.sql("CALL glpr_maint.sys.vacuum('corpus.docs')").collect()
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_maint.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q319 — STORAGE-PARTITIONED JOIN: two `PARTITIONED BY (lang)` GLPR
    * tables (the corpus and a per-lang dimension), joined on the
    * partition key with broadcast disabled and
    * `spark.sql.sources.v2.bucketing.enabled` on — both scans report
    * `KeyGroupedPartitioning(identity(lang))` with `HasPartitionKey`
    * shard partitions, so Spark lines the sides up by partition VALUE
    * and the whole plan (join AND the following per-lang aggregate)
    * runs with ZERO exchanges. The oracle recomputes the join+rollup
    * relationally; the no-Exchange plan shape and the
    * bucketing-disabled control (shuffles reappear) are
    * GlprCatalogSpec-pinned. This is the payoff of partitioned GLPR
    * ingest at 100 TB: corpus⋈corpus on the partition key moves zero
    * bytes between executors. */
  def storagePartitionedJoinPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_spj",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // the clustered-write contract (see q304): one lang per shard —
      // coalescing pinned off and enough write partitions that the five
      // lang constants hash apart (data-independent, verified by the
      // single-valued sidecars the scan's partitioning report requires)
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32") { (s2, _) =>
      createDocs(s2, "glpr_spj.corpus.docs", partitionedBy = "lang")
      insertDocs(s2, "glpr_spj.corpus.docs", dir)
      createDocs(s2, "glpr_spj.corpus.langdim", partitionedBy = "lang")
      insertDocs(s2, "glpr_spj.corpus.langdim", dir, "GROUP BY lang",
        cols = "min(doc_id) AS doc_id, lang, 'dim' AS source, " +
          "concat('meta-', lang) AS text")
      s2.sql(
        """SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(min(m.doc_id) AS BIGINT) AS dim_min_id
          |FROM glpr_spj.corpus.docs d JOIN glpr_spj.corpus.langdim m
          |ON d.lang = m.lang GROUP BY d.lang""".stripMargin)
    }

  /** q325 — DYNAMIC PARTITION OVERWRITE through SQL: the full corpus in
    * a `PARTITIONED BY (lang)` table, then `INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic` with the de/zh `doc_id < 300`
    * subset — ONLY the de/zh partitions are replaced (one manifest
    * flip), every other language keeps its full rows. The oracle
    * applies the same per-partition replacement relationally — a
    * surviving pre-overwrite de/zh row or a clipped en/es/fr row breaks
    * the hash. Straddler/unknown-value refusals pinned in
    * GlprCatalogSpec. */
  def dynamicOverwritePipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_dyn",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      // clustered-write contract: single-valued shards (q304/q319 note)
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32") { (s2, _) =>
      createDocs(s2, "glpr_dyn.corpus.docs", partitionedBy = "lang")
      insertDocs(s2, "glpr_dyn.corpus.docs", dir)
      s2.sql(s"INSERT OVERWRITE glpr_dyn.corpus.docs SELECT $DocCols FROM " +
        s"${docsSql(dir)} WHERE lang IN ('de', 'zh') AND doc_id < 300")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | max(doc_id) AS max_id
          |FROM glpr_dyn.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q301 — METADATA-ONLY DELETE through the SQL front door: the corpus
    * INSERTed slice-clustered (see [[SliceSql]]), then `DELETE FROM …
    * WHERE doc_id < 100` — accepted because the predicate is
    * shard-aligned by construction, executed as whole-shard unlinks
    * (zero data bytes rewritten; [[graft.io.GlprTable.canDeleteWhere]]),
    * then the survivor set aggregated back. The oracle is the same
    * rollup over `documents WHERE doc_id >= 100` — a hash match
    * certifies no under- or over-deletion. The straddling-decline side
    * of the contract is GlprCatalogSpec-pinned. */
  def deleteSqlPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_del",
      // AQE's partition coalescing would merge the small slice partitions
      // of the DISTRIBUTE BY into one task — producing a shard whose
      // bounds straddle the delete cut, which canDeleteWhere (correctly)
      // refuses. Shard-aligned ingest means the WRITER's partitioning is
      // the contract; pin it for this session.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, _) =>
      createDocs(s2, "glpr_del.corpus.docs")
      insertDocs(s2, "glpr_del.corpus.docs", dir, s"DISTRIBUTE BY $SliceSql")
      s2.sql("DELETE FROM glpr_del.corpus.docs WHERE doc_id < 100")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(octet_length(text)) AS BIGINT) AS n_bytes
          |FROM glpr_del.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q302 — INSERT OVERWRITE through the SQL front door
    * ([[graft.io.GlprWriteBuilder]] `SupportsTruncate`:
    * truncate-then-append for the unpartitioned table): the full corpus
    * INSERTed, then OVERWRITTEN by its de/zh subset, then aggregated
    * back. The oracle aggregates only the subset — any surviving
    * pre-overwrite row (an append masquerading as overwrite) or lost
    * subset row breaks the hash. Shard+sidecar truncation is
    * GlprCatalogSpec-pinned. */
  def overwriteSqlPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_ow") { (s2, _) =>
      createDocs(s2, "glpr_ow.corpus.docs")
      insertDocs(s2, "glpr_ow.corpus.docs", dir)
      s2.sql(s"INSERT OVERWRITE glpr_ow.corpus.docs SELECT $DocCols FROM " +
        s"${docsSql(dir)} WHERE lang IN ('de', 'zh')")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | min(doc_id) AS min_id, max(doc_id) AS max_id
          |FROM glpr_ow.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q303 — `_shard` provenance rollup: the corpus written
    * slice-clustered ([[SliceSql]] via `repartition`, same
    * deterministic three-shard layout as q301), read back with the
    * [[graft.io.GlprTable.metadataColumns]] `_shard` column, and rolled
    * up BY SHARD FILE — the quarantine/re-crawl inventory an ingest
    * pipeline keys on lineage. The shard names themselves are
    * partition-id bookkeeping, so the result drops them after grouping
    * and orders by `min_id`; because each slice is exactly one shard,
    * the oracle is the same rollup grouped by the slice expression —
    * agreement certifies that `_shard` really partitions records by
    * their file. */
  def shardProvenanceRollup(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-prov") { root =>
      write(docs(spark, dir).repartition(8, expr(SliceSql)), root)
      glpr(spark, root)
        .select(col("doc_id"), col("_shard"))
        .groupBy(col("_shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .select(col("n_docs"), col("min_id"), col("max_id"))
    }

  /** q304 — PARTITIONED catalog tables end to end: `CREATE TABLE …
    * PARTITIONED BY (lang)` (identity transform through the SQL front
    * door), an INSERT that Spark CLUSTERS by lang because the write
    * declares a required distribution ([[graft.io.GlprWriteBuilder]]),
    * commit sidecars carrying each shard's partition-value set, and a
    * `WHERE lang = 'en'` read that PRUNES non-en shards from the plan
    * ([[graft.io.GlprScan]] value pruning; shard-skip pinned via
    * [[graft.io.GlprSource.planEvents]] in GlprCatalogSpec). This is the
    * first DDL a lakehouse user runs after CREATE TABLE, composed with
    * the connector's existing sidecar pruning — the oracle certifies the
    * residual row filter still applies above the pruned scan. */
  def partitionedCatalogPipeline(spark: SparkSession, dir: String): DataFrame =
    rematerialize(spark, partitionedTableSession(spark, dir).sql(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(octet_length(text)) AS BIGINT) AS n_bytes
        |FROM glpr_part.corpus.docs WHERE lang = 'en'
        |GROUP BY source""".stripMargin))

  /** q306 — GROUPED metadata-only aggregate over the partitioned table:
    * `count(*) GROUP BY lang` answered ENTIRELY from the sidecar
    * (rows, partition-value) pairs — the hive-metastore partition-count
    * trick ([[graft.io.GlprScanBuilder]] grouped pushdown): zero shards
    * opened, no aggregate exec in the plan. Sound because the clustered
    * partitioned write left every shard single-valued in lang, which
    * the sidecar value sets certify per shard; any multi-valued shard
    * declines to the ordinary plan. Zero-shard pin in GlprCatalogSpec. */
  def partitionedMetadataCount(spark: SparkSession, dir: String): DataFrame =
    rematerialize(spark, partitionedTableSession(spark, dir).sql(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM glpr_part.corpus.docs GROUP BY lang""".stripMargin))

  /** q308 — PARTITION-VALUE metadata DELETE: a fresh PARTITIONED BY
    * (lang) table (own root — q304/q306's staging must stay
    * unmutated), the corpus INSERTed lang-clustered, then `DELETE FROM
    * … WHERE lang IN ('de','zh')` accepted because every data shard's
    * sidecar value set is entirely inside or outside the wanted set —
    * dropping partitions is unlinking their shards, zero bytes
    * rewritten ([[graft.io.GlprTable.canDeleteWhere]] value form).
    * Survivors hash-match `documents WHERE lang NOT IN (…)`; the
    * mixed-predicate and value-straddling declines are
    * GlprCatalogSpec-pinned. */
  def partitionDeletePipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_pdel",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, _) =>
      createDocs(s2, "glpr_pdel.corpus.docs", partitionedBy = "lang")
      insertDocs(s2, "glpr_pdel.corpus.docs", dir)
      s2.sql("DELETE FROM glpr_pdel.corpus.docs WHERE lang IN ('de', 'zh')")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(octet_length(text)) AS BIGINT) AS n_bytes
          |FROM glpr_pdel.corpus.docs GROUP BY lang""".stripMargin)
    }

  // ---- manifest, versions and retention --------------------------------

  /** q310 — MANIFEST commit-point visibility: the corpus written
    * through the job-committed path (manifest published), then a
    * CRASHED FOREIGN JOB simulated — a task-level writer renames its
    * shard in (task commit) but its job never reaches the manifest
    * commit. The orphan is on disk, invisible: the read lists shards
    * from the `_manifest` log, so the aggregate hash-matches the plain
    * corpus oracle WITHOUT the orphan row — exactly-once job
    * visibility, which the pre-manifest per-task-rename commit point
    * could not give. [[graft.io.GlprSource.rebuildManifest]] as the
    * recovery tool (adopt the orphan) is GlprSpec-pinned. */
  def manifestVisibilityPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-manifest") { root =>
      write(docs(spark, dir), root)
      val w = new GlprWriter(root, GlprSource.schema, 999999, 999999L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(-1L,
        org.apache.spark.unsafe.types.UTF8String.fromString("xx"),
        org.apache.spark.unsafe.types.UTF8String.fromString("orphan"),
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "ORPHAN ROW from a crashed job - must stay invisible")))
      w.commit(); w.close()
      glpr(spark, root)
        .transform(byLang(min(col("doc_id")).as("min_id"), TextBytes))
    }

  /** q311 — TIME TRAVEL over the append history: the corpus staged in
    * THREE successive batch appends ([[appendSlices]]), each job commit
    * snapshotting a manifest version (`_manifest.v<n>`), then read back
    * pinned to VERSION 2 — the state after the first two commits. The
    * oracle aggregates `documents WHERE doc_id < 300`: hash equality
    * certifies the historical read returns exactly the first two
    * appends, with rows appended LATER invisible — which also certifies
    * the append-numbering contract (a same-name replace would bleed
    * slice-3 bytes into version 2's shards). Version enumeration, the
    * SQL `VERSION AS OF` front door, loud unknown-version /
    * unlinked-shard / streaming rejections, read-only pinned tables, and
    * replay-idempotent version minting are GlprSpec /
    * GlprCatalogSpec-pinned. */
  def timeTravelPipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = timeTravelStagedRoot(spark, dir)
    // version 2 = "after the first two appends"; an all-empty corpus
    // mints only one (empty) version — appends that change nothing mint
    // nothing — so clamp to the latest available version there
    val pin = math.min(2L, latestVersion(root))
    glpr(spark, root, "versionAsOf" -> pin.toString)
      .transform(byLang(max(col("doc_id")).as("max_id"), TextBytes))
  }

  /** q312 — INCREMENTAL READ between versions (append-only change data
    * capture): `changesFromVersion=m` (+ optional `versionAsOf=n` upper
    * pin) plans ONLY the shards added after version m — the incremental
    * consumer's front door: "give me what landed since my last sync"
    * costs the NEW shards' bytes, never a corpus rescan, at any corpus
    * size. Runs over q311's shared three-append staging; changes 1→2
    * must be exactly the SECOND append, so the oracle is the documents
    * slice `[100, 300)` — a hash match certifies no old row leaks in
    * and no new row is missed. Non-append histories fail loudly
    * ([[graft.io.GlprSource.changeShards]]); composition with
    * pruning/stats and the loud rejections are GlprSpec-pinned. Chained
    * with the q292 MERGE this is exactly-once incremental ingest. */
  def changesPipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = timeTravelStagedRoot(spark, dir)
    val last = latestVersion(root)
    glpr(spark, root, "changesFromVersion" -> math.min(1L, last).toString,
      "versionAsOf" -> math.min(2L, last).toString)
      .transform(byLang(min(col("doc_id")).as("min_id"), TextBytes))
  }

  /** q313 — RESTORE TO VERSION: its own three-append staging (restore
    * MUTATES the manifest, so q311's shared staging can't be reused),
    * rolled back to version 2 — the third append's rows drop out of the
    * LIVE view while staying on disk, readable through version 3. The
    * oracle is the live read's twin, `documents WHERE doc_id < 300`.
    * Version minting (restore = version 4 with version 2's content),
    * restore-across-unlink refusal, and post-restore appends are
    * GlprSpec-pinned. */
  def restorePipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-restore") { root =>
      appendSlices(docs(spark, dir), root)
      GlprSource.restoreToVersion(root, math.min(2L, latestVersion(root)))
      glpr(spark, root)
        .transform(byLang(min(col("doc_id")).as("min_id")))
    }

  /** q328 — FULL change data capture ACROSS a DELETE (closed by
    * retention): `changeMode=cdf` + `changesFromVersion=3` over the
    * staged history (3 appends, a retiring DELETE of slice `[100,300)`,
    * a re-append of slice `< 100`) plans BOTH sides of the manifest diff
    * — the retired slice-2 shards as `_change_type='delete'` rows (still
    * readable: retention keeps them on disk for their versions) and the
    * re-appended slice-1 shards as `'insert'` rows. The oracle derives
    * the same change set relationally from the documents table; hash
    * agreement certifies the diff is row-exact on both sides. The loud
    * refusal now survives only where it must: a vacuumed (physically
    * reclaimed) removed shard. */
  def cdfPipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = cdfStagedRoot(spark, dir)
    // mutated history (delete v4 + re-append v5) diffs from the
    // pre-delete version 3; a degenerate (append-only) staging diffs
    // from its own tip — an exactly-empty change set
    val last = latestVersion(root)
    val fromV = if (last >= 5L) 3L else last
    glpr(spark, root, "changesFromVersion" -> fromV.toString, "changeMode" -> "cdf")
      .select(col("_change_type"), col("lang"), col("doc_id"))
      .groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), IdSum)
  }

  /** q329 — TIME TRAVEL ACROSS A DELETE (closed by retention): the q328
    * staging's pre-delete version still reads the FULL corpus — the
    * DELETE retired its shards instead of unlinking them, so
    * `versionAsOf=3` (all three appends, before the delete and the
    * re-append) reproduces the complete documents table byte-for-byte.
    * The oracle is the plain full rollup. */
  def timeTravelAcrossDeletePipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = cdfStagedRoot(spark, dir)
    // pre-delete pin on a mutated history; the tip of a degenerate
    // (append-only) one — either way the read is the FULL corpus
    val last = latestVersion(root)
    val pin = if (last >= 5L) 3L else last
    glpr(spark, root, "versionAsOf" -> pin.toString)
      .transform(byLang(max(col("doc_id")).as("max_id"), TextBytes))
  }

  /** q330 — the RETENTION HORIZON end to end: three slice appends, a
    * retiring DELETE of `[100,300)`, then `expireVersions(keepLast=1)`
    * + `vacuum` — the only path to physical removal. The staging
    * REQUIRES that vacuum actually reclaimed the retired slice shards
    * (when the slice was nonempty) and that a read of the expired
    * pre-delete version refuses as an unknown version; the oracle
    * certifies the live view was never touched by reclamation: the
    * complement rollup. */
  def expireVacuumPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-expire") { root =>
      val all = docs(spark, dir)
      appendSlices(all, root)
      val deletable = all.filter(col("doc_id") >= 100 && col("doc_id") < 300)
        .limit(1).count() > 0
      if (deletable) {
        GlprMaintenance.deleteIdRange(spark, root, 100L, 299L)
        GlprMaintenance.expireVersions(root, keepLast = 1)
        require(GlprMaintenance.vacuum(root) > 0,
          "vacuum must reclaim the retired slice shards once expired")
        require(refusesWith("GLPR versionAsOf=1: no such manifest version")(
          glpr(spark, root, "versionAsOf" -> "1").count()),
          "expired version must fail loudly after vacuum")
      }
      glpr(spark, root)
        .transform(byLang(min(col("doc_id")).as("min_id"), TextBytes))
    }

  // ---- merge-on-read and branches --------------------------------------

  /** q331 — TIME TRAVEL OVER DELETE-VECTOR MASKS (dv GENERATIONS): the
    * corpus staged range-clustered (version 1), then a merge-on-read
    * delete of `[150,349]` — one versioned commit (version 2) recording
    * each affected shard's new immutable `.dv.<gen>` file in its
    * manifest line. The entry reads BOTH versions: the pre-delete pin is
    * unmasked (full corpus), the delete's own version applies exactly
    * the recorded generation (complement). The oracle computes both
    * rollups relationally; at a degenerate SF where the range is empty
    * the delete mints nothing and both sides read the full (=
    * complement) corpus on both engines. */
  def dvTimeTravelPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-dvtt") { root =>
      writeRanged(spark, dir, root)
      GlprMaintenance.deleteIdRangeMergeOnRead(root, 150L, 349L): Unit
      val last = latestVersion(root)
      def rollup(v: Long, phase: String): DataFrame =
        glpr(spark, root, "versionAsOf" -> v.toString)
          .transform(byLang(IdSum))
          .withColumn("phase", lit(phase))
      rollup(math.min(1L, last), "pre").unionByName(rollup(last, "post"))
        .select("phase", "lang", "n_docs", "id_sum")
    }

  /** q344 — MERGE-ON-READ PREDICATE DELETE (`DELETE WHERE lang IN
    * (…)` at zero data movement): the staged corpus value-deleted
    * through [[graft.io.GlprMaintenance.deleteWhereMergeOnRead]] — one
    * distributed matching job, fresh immutable dv generations of the
    * matched ids, ONE versioned manifest commit — then the live view
    * rolled up: every read pays the mask at the id gate, so the oracle
    * (the complement rollup) certifies the mask is row-exact. The
    * capped-mask refusal toward COW and the time-travel/idempotence
    * contracts are GlprDvIntegritySpec-pinned. */
  def valueDeleteMorPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-valuedel") { root =>
      writeRanged(spark, dir, root)
      GlprMaintenance.deleteWhereMergeOnRead(
        spark, root, "lang", Set("de", "zh")): Unit
      glpr(spark, root)
        .transform(byLang(IdSum, TextBytes))
    }

  /** q361 — MERGE-ON-READ UPDATE: the staged corpus normalized (`UPDATE
    * SET lang = 'und' WHERE lang IN ('de', 'zh')`) through
    * [[graft.io.GlprMaintenance.updateWhereMergeOnRead]] — the matched
    * rows MASKED by fresh dv generations, their replacements (assignment
    * applied) appended distributed, ONE versioned manifest commit for
    * both — then the live view rolled up BY the updated column. Rows
    * move between groups, so a replacement lost, a victim unmasked, or a
    * double-appear all break the hash against the relational oracle.
    * COW-equality, bytes-bounded-by-matches, time-travel/CDF compose and
    * idempotent re-run are GlprDvIntegritySpec-pinned. */
  def updateMorPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-morupd") { root =>
      writeRanged(spark, dir, root)
      GlprMaintenance.updateWhereMergeOnRead(
        spark, root, "lang", Set("de", "zh"), "lang", "und"): Unit
      glpr(spark, root)
        .transform(byLang(IdSum, TextBytes))
    }

  /** q365 — MERGE-ON-READ MERGE (CDC-apply priced by the changeset):
    * the corpus `doc_id < 300` staged, then a source slice `[100, 500)`
    * with re-cased text upserted through
    * [[graft.io.GlprMaintenance.mergeMergeOnRead]] — `[100, 300)` are
    * MATCHED (masked + replaced), `[300, 500)` INSERT — in one versioned
    * commit. The oracle recomputes the merged state relationally; the
    * hash certifies matched rows appear exactly once (new text), kept
    * rows exactly once (old text), inserts exactly once. */
  def mergeMorPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-mormerge") { root =>
      val all = docs(spark, dir)
      write(all.filter(col("doc_id") < 300L)
        .repartitionByRange(6, col("doc_id")), root)
      GlprMaintenance.mergeMergeOnRead(spark, root,
        all.filter(col("doc_id") >= 100L && col("doc_id") < 500L)
          .withColumn("text", upper(col("text")))): Unit
      glpr(spark, root)
        .transform(byLang(IdSum, TextBytes))
    }

  /** q345 — WRITE-AUDIT-PUBLISH (the Iceberg WAP pattern at manifest
    * size): slice 1 INSERTed to main; a branch forked and slice 2
    * STAGED onto it (`branch` writer option — on disk, owned by the
    * branch chain, invisible to main readers); the AUDIT reads the
    * branch head (`branch` reader option) and finds zero out-of-domain
    * rows, so the branch PUBLISHES — one main commit adopting its
    * lines. A second branch staged with garbage (lang='xx') FAILS its
    * audit, is DROPPED, and vacuum reclaims its shards — main never saw
    * them. The oracle is the two published slices exactly: a staging
    * leak into main, a lost published row, or surviving garbage all
    * break the hash. Isolation/vacuum-safety/append-only pins live in
    * GlprDvIntegritySpec. */
  def wapPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-wap") { root =>
      val all = docs(spark, dir)
      write(all.filter(col("doc_id") < 100L).coalesce(2), root) // main
      createBranch(root, "staging")
      appendToBranch(all.filter(col("doc_id") >= 100L && col("doc_id") < 300L)
        .coalesce(2), root, "staging")
      def audit(b: String): Long =
        glpr(spark, root, "branch" -> b).filter(col("lang") === "xx").count()
      if (audit("staging") == 0L) publishBranch(root, "staging"): Unit
      createBranch(root, "reject")
      appendToBranch(all.filter(col("doc_id") < 50L)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          lit("xx").as("lang"), col("source"), col("text"))
        .coalesce(1), root, "reject")
      if (audit("reject") == 0L) publishBranch(root, "reject"): Unit
      else { dropBranch(root, "reject"); GlprMaintenance.vacuum(root): Unit }
      glpr(spark, root)
        .transform(byLang(IdSum, TextBytes))
    }

  /** q366 — WAP audit-FIX-publish with a branch-scoped MoR UPDATE:
    * slice 2 staged onto a branch with a planted mislabel (every 10th
    * doc lang='xx'), the AUDIT finds them, and the fix is an IN-PLACE
    * `update_where_mor(..., branch)` — victims masked in the branch's
    * dv namespace, relabeled replacements adopted onto the branch
    * chain, ONE branch commit — then the re-audit passes and the
    * branch PUBLISHES (masks translate to shared generations, the
    * replacement lines adopt, one main commit). q346 closed the loop
    * for deletes; this closes it for the far more common "fix the
    * label, keep the row". Oracle = slice 1 + the relabeled slice 2
    * exactly: a leaked mislabel, a lost replacement, or a double-appear
    * all break the hash. */
  def branchUpdateFixPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_bu") { (s2, root) =>
      createDocs(s2, "glpr_bu.ns.t")
      insertDocs(s2, "glpr_bu.ns.t", dir, "WHERE doc_id < 100")
      val path = new java.io.File(root, "ns/t").getAbsolutePath
      createBranch(path, "relabel")
      appendToBranch(docs(s2, dir)
        .filter(col("doc_id") >= 100L && col("doc_id") < 300L)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0L, lit("xx"))
            .otherwise(col("lang")).as("lang"),
          col("source"), col("text"))
        .coalesce(2), path, "relabel")
      def badCount(): Long = s2.sql(
        "SELECT count(*) FROM glpr_bu.ns.t VERSION AS OF 'relabel' " +
          "WHERE lang = 'xx'").collect()(0).getLong(0)
      // an all-empty corpus (RegistryEmptySpec) stages no mislabels —
      // the fix is then a no-op and publish adopts the slice as-is
      if (badCount() > 0L) {
        GlprMaintenance.updateWhereMergeOnRead(s2, path,
          "lang", Set("xx"), "lang", "und",
          branch = Some("relabel")): Unit
        require(badCount() == 0L, "q366 branch update left mislabels behind")
      }
      // the fix is invisible to main until publish
      require(glpr(spark, path).count() == s2.sql("SELECT count(*) FROM " +
          "glpr_bu.ns.t WHERE doc_id < 100").collect()(0).getLong(0),
        "q366 branch staging leaked into main before publish")
      publishBranch(path, "relabel"): Unit
      glpr(spark, path)
        .transform(byLang(IdSum, TextBytes))
    }

  /** q346 — the WAP AUDIT-FIX-PUBLISH loop: main holds slice 1; a
    * branch forked, slice 2 staged onto it WITH garbage (a lang='xx'
    * family and a corrupt out-of-domain id block). The SQL audit —
    * `VERSION AS OF 'fixup'` — FINDS the bad rows; instead of dropping
    * the whole branch (q345's only failed-audit exit), the branch is
    * FIXED IN PLACE: `CALL sys.delete_where_mor (…, branch)` masks the
    * lang garbage and a branch-scoped id-range MoR delete masks the
    * corrupt block — both in the branch's own delete-vector namespace
    * (`dvb=` tokens), invisible to main. The re-audit comes back clean,
    * the branch PUBLISHES (masks translated to shared dv generations in
    * the same flip), and the chain drops. Oracle = slice 1 + the FIXED
    * slice 2 exactly: a mask leak into main, a mask lost at publish, or
    * surviving garbage all break the hash. Isolation / translation /
    * phantom-apply pins live in GlprDvIntegritySpec. */
  def branchFixPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_fix") { (s2, root) =>
      createDocs(s2, "glpr_fix.ns.t")
      insertDocs(s2, "glpr_fix.ns.t", dir, "WHERE doc_id < 100")
      val path = new java.io.File(root, "ns/t").getAbsolutePath
      createBranch(path, "fixup")
      val all = docs(s2, dir)
      appendToBranch(all.filter(col("doc_id") >= 100L && col("doc_id") < 300L)
        .coalesce(2), path, "fixup")
      appendToBranch(all.filter(col("doc_id") < 40L)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          lit("xx").as("lang"), col("source"), col("text"))
        .coalesce(1), path, "fixup")
      appendToBranch(all.filter(col("doc_id") < 25L)
        .select((col("doc_id") + 9500000L).as("doc_id"), col("lang"),
          col("source"), lit("CORRUPT").as("text"))
        .coalesce(1), path, "fixup")
      def badCount(): Long = s2.sql(
        "SELECT count(*) FROM glpr_fix.ns.t VERSION AS OF 'fixup' " +
          "WHERE lang = 'xx' OR doc_id >= 9000000").collect()(0).getLong(0)
      // an all-empty corpus (RegistryEmptySpec) stages no garbage —
      // the fix loop is then a no-op and publish flips nothing
      if (badCount() > 0L) {
        s2.sql(
          "CALL glpr_fix.sys.delete_where_mor('ns.t', 'lang', 'xx', 'fixup')")
          .collect(): Unit
        GlprMaintenance.deleteIdRangeMergeOnRead(path, 9000000L,
          Long.MaxValue, Some("fixup")): Unit
        require(badCount() == 0L, "q346 branch fix left garbage behind")
      }
      // main must not have seen the staging OR the masks until publish
      require(glpr(spark, path).count() == s2.sql("SELECT count(*) FROM " +
          "glpr_fix.ns.t WHERE doc_id < 100").collect()(0).getLong(0),
        "q346 branch staging leaked into main before publish")
      publishBranch(path, "fixup"): Unit
      dropBranch(path, "fixup"): Unit
      glpr(spark, path)
        .transform(byLang(IdSum, max(col("doc_id")).cast("long").as("max_id")))
    }

  // ---- row-level SQL DML and schema evolution --------------------------

  /** q326 — SQL `UPDATE` through the row-level-operation front door:
    * the corpus in a catalog table, then plain `UPDATE … SET source =
    * 'curated', text = concat(text, ' [ok]') WHERE doc_id < 100` — Spark
    * rewrites it into a group-based copy-on-write ReplaceData over
    * [[graft.io.GlprRowLevelOperation]]: scanned shards are rewritten
    * under fresh names and swapped in ONE manifest flip. The oracle
    * applies the same assignments relationally; hash equality certifies
    * no row was lost (the classic COW bug: a replaced shard's
    * NON-matching rows must be copied — pinned by the group-prune-only
    * scan contract), none double-updated, none spuriously updated. */
  def sqlUpdatePipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_upd") { (s2, _) =>
      createDocs(s2, "glpr_upd.corpus.docs")
      insertDocs(s2, "glpr_upd.corpus.docs", dir)
      s2.sql("UPDATE glpr_upd.corpus.docs " +
        "SET source = 'curated', text = concat(text, ' [ok]') " +
        "WHERE doc_id < 100")
      s2.sql(
        """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(octet_length(text)) AS BIGINT) AS n_bytes
          |FROM glpr_upd.corpus.docs GROUP BY lang, source""".stripMargin)
    }

  /** q327 — SQL `MERGE INTO` (the lakehouse upsert): a deterministic
    * updates source derived from the documents table — rows
    * `[100, 300)` as matched updates (re-sourced + uppercased), rows
    * `< 50` re-keyed to `doc_id + 1000000` as not-matched inserts —
    * merged into the catalog table by plain SQL. The whole statement is
    * ONE group-based ReplaceData commit. The oracle recomputes the
    * merged state relationally: a missed/duplicated match, a lost
    * unmatched row, or a dropped insert all break the hash. */
  def sqlMergePipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_mrg") { (s2, _) =>
      createDocs(s2, "glpr_mrg.corpus.docs")
      insertDocs(s2, "glpr_mrg.corpus.docs", dir)
      s2.sql(
        s"""MERGE INTO glpr_mrg.corpus.docs t
           |USING (
           |  SELECT doc_id, lang, 'merged' AS source, upper(text) AS text
           |  FROM ${docsSql(dir)}
           |  WHERE doc_id >= 100 AND doc_id < 300
           |  UNION ALL
           |  SELECT doc_id + 1000000, lang, 'inserted', text
           |  FROM ${docsSql(dir)} WHERE doc_id < 50
           |) u
           |ON t.doc_id = u.doc_id
           |WHEN MATCHED THEN UPDATE SET t.source = u.source, t.text = u.text
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s2.sql(
        """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum,
          | CAST(sum(octet_length(text)) AS BIGINT) AS n_bytes
          |FROM glpr_mrg.corpus.docs GROUP BY source, lang""".stripMargin)
    }

  /** q338 — CDC-APPLY through ONE SQL MERGE, every clause class in one
    * statement (the first real MERGE a lakehouse user writes after
    * q327's upsert): the events changelog is split at its temporal
    * midpoint; the FIRST half is compacted relationally (latest change
    * per key) and INSERTed as the table's seed state — plus sentinel
    * rows the changelog never references — and the SECOND half,
    * compacted to one latest change per key, is applied as a single
    * `MERGE` with `WHEN MATCHED AND tombstone THEN DELETE`, `WHEN
    * MATCHED THEN UPDATE`, `WHEN NOT MATCHED AND non-tombstone THEN
    * INSERT`, and `WHEN NOT MATCHED BY SOURCE THEN DELETE` (purging the
    * sentinels — the snapshot-reconciliation idiom). Latest-wins makes
    * split-compact-apply equal to compacting the WHOLE changelog, so
    * the read-back hash-matches the q207 window-rank oracle exactly.
    * The CDC state is ENCODED into the fixed GLPR record layout
    * (user_id→doc_id, last_type→lang, last_event_id→source,
    * last_value→text; double→string→double round-trips exactly by
    * Double.toString's shortest-unique-decimal contract) and decoded on
    * read-back. The whole apply is ONE group-based ReplaceData commit. */
  def cdcMergeSqlPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_cdc",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") { (s2, _) =>
      val chg = graft.streaming.Events.convertTs(
          s2.read.parquet(s"$dir/events.parquet"))
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"), col("value"))
      chg.createOrReplaceTempView("glpr_cdc_changelog")
      val mm = chg.agg(min("ts_ms"), max("ts_ms"), max("user_id")).head()
      val mid = if (mm.isNullAt(0)) 0L else (mm.getLong(0) + mm.getLong(1)) / 2
      // sentinel keys land strictly past every real user_id at ANY
      // scale (a fixed base could collide with a larger fixture and
      // turn a sentinel into a duplicate real row)
      val sentinelBase =
        (if (mm.isNullAt(2)) 0L else math.max(mm.getLong(2), 0L)) + 1000L
      createDocs(s2, "glpr_cdc.state.compacted")
      s2.sql(
        s"""INSERT INTO glpr_cdc.state.compacted
           |SELECT user_id AS doc_id, last.event_type AS lang,
           |       CAST(last.event_id AS STRING) AS source,
           |       CAST(last.value AS STRING) AS text
           |FROM (SELECT user_id,
           |        max(struct(ts_ms, event_id, event_type, value)) AS last
           |      FROM glpr_cdc_changelog WHERE ts_ms <= $mid GROUP BY user_id)
           |WHERE last.event_type <> 'error'
           |UNION ALL
           |SELECT $sentinelBase + id, 'sentinel', '0', '0.0' FROM range(5)
           |""".stripMargin)
      s2.sql(
        s"""MERGE INTO glpr_cdc.state.compacted t
           |USING (
           |  SELECT user_id, last.event_id AS ev_id,
           |         last.event_type AS ev_type, last.value AS ev_value
           |  FROM (SELECT user_id,
           |          max(struct(ts_ms, event_id, event_type, value)) AS last
           |        FROM glpr_cdc_changelog WHERE ts_ms > $mid GROUP BY user_id)
           |) u
           |ON t.doc_id = u.user_id
           |WHEN MATCHED AND u.ev_type = 'error' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.lang = u.ev_type,
           |  t.source = CAST(u.ev_id AS STRING), t.text = CAST(u.ev_value AS STRING)
           |WHEN NOT MATCHED AND u.ev_type <> 'error' THEN
           |  INSERT (doc_id, lang, source, text)
           |  VALUES (u.user_id, u.ev_type, CAST(u.ev_id AS STRING),
           |          CAST(u.ev_value AS STRING))
           |WHEN NOT MATCHED BY SOURCE AND t.lang = 'sentinel' THEN DELETE
           |""".stripMargin)
      s2.sql(
        """SELECT doc_id AS user_id, CAST(source AS BIGINT) AS last_event_id,
          |       lang AS last_type, CAST(text AS DOUBLE) AS last_value
          |FROM glpr_cdc.state.compacted""".stripMargin)
    }

  /** q339 — TYPED SCHEMA EVOLUTION + METADATA-ONLY RENAME end to end:
    * the corpus INSERTed under the base schema, `ALTER TABLE ADD COLUMN
    * n_tokens BIGINT` + `ADD COLUMN score DOUBLE`, a second slice
    * INSERTed WITH typed values (BIGINT/DOUBLE ride the byte stream as
    * strings — `Long.toString`/`Double.toString` round-trip bit-exactly
    * — and readers parse to the declared type), then `RENAME COLUMN
    * n_tokens TO tok_count` — metadata-only: the marker token
    * re-labels, shard sidecars keep the immutable physical name. The
    * aggregate reads the MIXED layout under the renamed logical name:
    * pre-evolution shards surface typed NULLs, evolved shards surface
    * parsed values. Score values are exact binary fractions (quarters),
    * so the double sum is order-independent. The oracle rebuilds the
    * mixed typed table relationally. */
  def typedEvolutionPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_tev") { (s2, _) =>
      createDocs(s2, "glpr_tev.corpus.docs")
      insertDocs(s2, "glpr_tev.corpus.docs", dir)
      s2.sql("ALTER TABLE glpr_tev.corpus.docs ADD COLUMN n_tokens BIGINT")
      s2.sql("ALTER TABLE glpr_tev.corpus.docs ADD COLUMN score DOUBLE")
      insertDocs(s2, "glpr_tev.corpus.docs", dir, "WHERE doc_id < 100",
        cols = "doc_id + 1000000, lang, source, text, " +
          "CAST(octet_length(text) AS BIGINT) AS n_tokens, " +
          "CAST(doc_id + 1000000 AS DOUBLE) / 4.0 AS score")
      s2.sql("ALTER TABLE glpr_tev.corpus.docs RENAME COLUMN n_tokens TO tok_count")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(count(tok_count) AS BIGINT) AS n_typed,
          | coalesce(CAST(sum(tok_count) AS BIGINT), 0) AS tok_sum,
          | coalesce(round(sum(score), 6), CAST(0.0 AS DOUBLE)) AS score_sum
          |FROM glpr_tev.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q362 — TYPE-WIDENING `ALTER COLUMN` end to end (the Iceberg-safe
    * promotions): a table created with NARROW typed extras (`score
    * INT`, `conf FLOAT`), a narrow era INSERTed, `ALTER COLUMN score
    * TYPE BIGINT` + `ALTER COLUMN conf TYPE DOUBLE` — metadata-only: the
    * marker token's type changes, shard sidecars keep each shard's
    * write-time type — then a WIDE era INSERTed with values only the
    * wide types hold (score past 2³¹). The aggregate spans both eras:
    * readers bind decode kinds from the TABLE tokens
    * ([[graft.io.GlprSource.extraSlots]]), so narrow shards parse their
    * decimal text straight to the wide type. Conf values are exact
    * binary fractions (quarters/eighths), so the double sum is
    * order-independent and the float→double re-parse is value-exact.
    * The oracle rebuilds both eras relationally; unsafe-change
    * rejections are GlprCatalogSpec-pinned. */
  def typeWideningPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_tw") { (s2, _) =>
      createDocs(s2, "glpr_tw.corpus.docs", extraCols = "score INT, conf FLOAT")
      insertDocs(s2, "glpr_tw.corpus.docs", dir,
        cols = "doc_id, lang, source, text, " +
          "CAST(doc_id % 100 AS INT) AS score, " +
          "CAST(doc_id % 8 AS FLOAT) / 4 AS conf")
      s2.sql("ALTER TABLE glpr_tw.corpus.docs ALTER COLUMN score TYPE BIGINT")
      s2.sql("ALTER TABLE glpr_tw.corpus.docs ALTER COLUMN conf TYPE DOUBLE")
      insertDocs(s2, "glpr_tw.corpus.docs", dir, "WHERE doc_id < 100",
        cols = "doc_id + 1000000, lang, source, text, " +
          "doc_id + 4000000000 AS score, " +
          "CAST(doc_id % 16 AS DOUBLE) / 8 AS conf")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(score) AS BIGINT) AS score_sum,
          | CAST(sum(conf) AS DOUBLE) AS conf_sum
          |FROM glpr_tw.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q363 — `ADD COLUMN ... DEFAULT <literal>` end to end (the Iceberg
    * INITIAL-default): a three-era table — era 1 under the base schema;
    * `ADD COLUMN tier STRING` (default null, the q332 compat) then era 2
    * WITH tier values; `ADD COLUMN rank BIGINT DEFAULT 7` then era 3
    * WITH rank values. At read the marker-stored literal serves every
    * shard that PREDATES the column — era-1 and era-2 shards surface
    * rank 7 with zero shard touches, era-1 surfaces tier NULL (no
    * default stored) — while post-evolution rows carry their own bytes.
    * The aggregate spans all three eras; the oracle rebuilds them
    * relationally. Explicit NULL-stays-NULL and non-literal refusals are
    * GlprCatalogSpec-pinned. */
  def addDefaultPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_dflt") { (s2, _) =>
      createDocs(s2, "glpr_dflt.corpus.docs")
      insertDocs(s2, "glpr_dflt.corpus.docs", dir)
      s2.sql("ALTER TABLE glpr_dflt.corpus.docs ADD COLUMN tier STRING")
      insertDocs(s2, "glpr_dflt.corpus.docs", dir, "WHERE doc_id < 200",
        cols = "doc_id + 1000000, lang, source, text, " +
          "concat('t', CAST(doc_id % 3 AS STRING)) AS tier")
      s2.sql("ALTER TABLE glpr_dflt.corpus.docs " +
        "ADD COLUMN rank BIGINT DEFAULT 7")
      insertDocs(s2, "glpr_dflt.corpus.docs", dir, "WHERE doc_id < 100",
        cols = "doc_id + 2000000, lang, source, text, " +
          "concat('t', CAST(doc_id % 3 AS STRING)) AS tier, " +
          "doc_id % 5 AS rank")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(count(tier) AS BIGINT) AS n_tier,
          | CAST(sum(rank) AS BIGINT) AS rank_sum
          |FROM glpr_dflt.corpus.docs GROUP BY lang""".stripMargin)
    }

  /** q347 — `ALTER TABLE DROP COLUMN` as a METADATA TOMBSTONE: two
    * extras added (`note` STRING, `keep` BIGINT) and a slice INSERTed
    * with values for both; `DROP COLUMN note` then removes the extra's
    * marker token — one atomic metadata write, zero shard touches — and
    * BURNS its physical name in the tombstone list. Scans exclude the
    * column on MIXED shards (shards that still carry the bytes skip them
    * via their sidecar layout; the q339 physical-name indirection is
    * what makes the skip exact), a re-add of the same name REJECTS
    * (re-binding would resurrect the dead bytes), the surviving extra
    * keeps reading, and a post-drop slice INSERTs under the narrowed
    * schema. Base columns keep rejecting. The oracle rebuilds the
    * three-era table relationally; catalog pins (ifExists,
    * partition-column guard, rename-then-drop) live in GlprCatalogSpec. */
  def dropColumnPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_drop") { (s2, _) =>
      createDocs(s2, "glpr_drop.corpus.docs")
      insertDocs(s2, "glpr_drop.corpus.docs", dir)
      s2.sql("ALTER TABLE glpr_drop.corpus.docs ADD COLUMN note STRING")
      s2.sql("ALTER TABLE glpr_drop.corpus.docs ADD COLUMN keep BIGINT")
      insertDocs(s2, "glpr_drop.corpus.docs", dir, "WHERE doc_id < 100",
        cols = "doc_id + 1000000, lang, source, text, " +
          "concat('n-', lang) AS note, " +
          "CAST(octet_length(text) AS BIGINT) AS keep")
      s2.sql("ALTER TABLE glpr_drop.corpus.docs DROP COLUMN note")
      // the dropped name is BURNED: re-adding must refuse, or the old
      // shards' note bytes would re-bind under the new column
      require(refusesWith("dropped")(
        s2.sql("ALTER TABLE glpr_drop.corpus.docs ADD COLUMN note STRING")),
        "q347 contract: re-adding a dropped column must refuse")
      // post-drop inserts carry the NARROWED schema (base + keep)
      insertDocs(s2, "glpr_drop.corpus.docs", dir,
        "WHERE doc_id >= 100 AND doc_id < 200",
        cols = "doc_id + 2000000, lang, source, text, " +
          "CAST(doc_id AS BIGINT) AS keep")
      val res = s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(count(keep) AS BIGINT) AS n_keep,
          | coalesce(CAST(sum(keep) AS BIGINT), 0) AS keep_sum
          |FROM glpr_drop.corpus.docs GROUP BY lang""".stripMargin)
      require(!s2.table("glpr_drop.corpus.docs").columns.contains("note"),
        "q347 contract: the dropped column must leave the table schema")
      res
    }

  /** q332 — SCHEMA EVOLUTION end to end: the corpus INSERTed under the
    * base schema, `ALTER TABLE ADD COLUMN note STRING`, then a second
    * slice INSERTed WITH the new column — the directory now mixes
    * pre-evolution shards (no `note` field in their byte streams) and
    * post-evolution shards (appended nullable field). The aggregate
    * reads across both: old rows surface `note` as NULL (default-null
    * read compat via the sidecar `cols=` channel), new rows carry their
    * values. The oracle rebuilds the mixed table relationally — a
    * misread field boundary or a non-null default breaks the hash. */
  def addColumnPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_evo") { (s2, _) =>
      createDocs(s2, "glpr_evo.corpus.docs")
      insertDocs(s2, "glpr_evo.corpus.docs", dir)
      s2.sql("ALTER TABLE glpr_evo.corpus.docs ADD COLUMN note STRING")
      insertDocs(s2, "glpr_evo.corpus.docs", dir, "WHERE doc_id < 100",
        cols = "doc_id + 1000000, lang, source, text, " +
          "concat('tag-', source) AS note")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(count(note) AS BIGINT) AS n_notes,
          | CAST(sum(octet_length(coalesce(note, ''))) AS BIGINT) AS note_bytes,
          | CAST(sum(octet_length(text)) AS BIGINT) AS text_bytes
          |FROM glpr_evo.corpus.docs GROUP BY lang""".stripMargin)
    }

  // ---- statistics, partition transforms and layout ---------------------

  /** q340 — SIDECAR STATISTICS driving the broadcast decision: the
    * corpus staged as a GLPR table whose commit sidecars surface (a)
    * per-column stats — doc_id min/max/NDV, byte-counter avg lengths —
    * through the DSv2 `columnStats` channel into Catalyst
    * `attributeStats` (exact values GlprSpec-pinned), and (b) a
    * PUSHDOWN-AWARE `sizeInBytes`/`numRows`: the scan scales each shard
    * by its bounds overlap with the pushed doc_id range and drops
    * statically-pruned shards, so the estimate is the scan OUTPUT, not
    * the corpus total. The selective `doc_id < 50` probe estimates ~50
    * rows (~16 KB) — under the 32 KB broadcast threshold — while the
    * unfiltered corpus (~MBs at sf0.1) and the events fact side sit
    * above it, so the join plans as BroadcastHashJoin at EVERY SF —
    * asserted in-pipeline (the plan is the deliverable; the
    * filtered-vs-full estimate and the no-broadcast control are
    * GlprSpec-pinned). The oracle certifies the join result itself. */
  def cboStatsJoinPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-cbostats") { root =>
      write(docs(spark, dir).repartition(4), root)
      val s2 = childSession(spark)
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (32 * 1024).toString)
      val corpus = glpr(s2, root)
        .filter(col("doc_id") < 50L).select(col("doc_id"), col("lang"), col("text"))
      val ev = s2.read.parquet(s"$dir/events.parquet")
        .select(col("user_id").as("doc_id"))
      val res = ev.join(corpus, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_events"), TextBytes)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        "q340 contract: CBO + sidecar column stats must broadcast the " +
          s"range-filtered corpus side\n$plan")
      res
    }

  /** q333 — DATE PARTITIONING, `PARTITIONED BY (days(ts))` over an
    * ISO-8601 string column (the extra-column machinery supplies `ts`):
    * each document gets a deterministic day (`2024-01-0(1 + doc_id%7)`),
    * the INSERT self-clusters by day (the write's REQUIRED transform
    * distribution, resolved through the catalog's empty-namespace
    * transform functions; no manual DISTRIBUTE BY), and the query reads
    * a two-day window — the scan prunes to the window's shards via the
    * sidecar day sets (plan-pinned in GlprCatalogSpec). The oracle
    * derives the same days relationally. */
  def daysPartitionPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_days",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, _) =>
      createDocs(s2, "glpr_days.corpus.docs", partitionedBy = "days(ts)",
        extraCols = "ts STRING")
      insertDocs(s2, "glpr_days.corpus.docs", dir,
        cols = "doc_id, lang, source, text, " +
          "concat(date_format(date_add(to_date('2024-01-01'), " +
          "  CAST(doc_id % 7 AS INT)), 'yyyy-MM-dd'), 'T12:00:00') AS ts")
      s2.sql(
        """SELECT substr(ts, 1, 10) AS day, lang,
          | CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_days.corpus.docs
          |WHERE ts >= '2024-01-03' AND ts < '2024-01-05'
          |GROUP BY 1, 2""".stripMargin)
    }

  /** q341 — MONTH PARTITIONING, `PARTITIONED BY (months(ts))`: the same
    * prefix-transform channel as q333's days — month = the first 7 ISO
    * chars, tracked per shard at write time — with a one-month window
    * read pruning to the month's shards via the sidecar month sets
    * (prune pin in GlprCatalogSpec). Oracle derives the same
    * deterministic months. */
  def monthsPartitionPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_mon",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, _) =>
      createDocs(s2, "glpr_mon.corpus.docs", partitionedBy = "months(ts)",
        extraCols = "ts STRING")
      insertDocs(s2, "glpr_mon.corpus.docs", dir,
        cols = "doc_id, lang, source, text, " +
          "concat(date_format(date_add(to_date('2024-01-15'), " +
          "  CAST((doc_id % 4) * 20 AS INT)), 'yyyy-MM-dd'), 'T08:00:00') AS ts")
      s2.sql(
        """SELECT substr(ts, 1, 7) AS month, lang,
          | CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_mon.corpus.docs
          |WHERE ts >= '2024-02' AND ts <= '2024-02-29T23:59:59'
          |GROUP BY 1, 2""".stripMargin)
    }

  /** q349 — PARTITION-SPEC EVOLUTION: era 1 INSERTed under `days(ts)`;
    * `CALL sys.set_partition_spec('…', 'months(ts)')` mints the new spec
    * era — one atomic marker write; era 2 INSERTs then cluster and track
    * sidecar values under months(). ONE predicate window straddling both
    * eras prunes BOTH: shards keep their own recorded spec (`pcol`) and
    * the scan truncates the raw bounds to each shard's width (days-era
    * shards compare 10-char days, months-era shards 7-char months —
    * prefix images preserve string order at every width, so each era's
    * prune stays exact). Pruning is required in-pipeline via the plan
    * events; per-era skip counts and the straddling-boundary exactness
    * are GlprCatalogSpec-pinned. The oracle derives both eras
    * relationally. */
  def specEvolutionPipeline(spark: SparkSession, dir: String): DataFrame = {
    var tablePath = ""
    val out = catalogScenario(spark, "glpr_sev",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, root) =>
      createDocs(s2, "glpr_sev.corpus.docs", partitionedBy = "days(ts)",
        extraCols = "ts STRING")
      insertDocs(s2, "glpr_sev.corpus.docs", dir, "WHERE doc_id < 250",
        cols = "doc_id, lang, source, text, " +
          "concat(date_format(date_add(to_date('2024-01-01'), " +
          "  CAST(doc_id % 7 AS INT)), 'yyyy-MM-dd'), 'T12:00:00') AS ts")
      s2.sql("CALL glpr_sev.sys.set_partition_spec('corpus.docs', " +
        "'months(ts)')").collect(): Unit
      insertDocs(s2, "glpr_sev.corpus.docs", dir, "WHERE doc_id >= 250",
        cols = "doc_id, lang, source, text, " +
          "concat(date_format(date_add(to_date('2024-03-15'), " +
          "  CAST((doc_id % 4) * 20 AS INT)), 'yyyy-MM-dd'), 'T08:00:00') AS ts")
      tablePath = new java.io.File(root, "corpus/docs").getAbsolutePath
      s2.sql(
        """SELECT substr(ts, 1, 7) AS month,
          | CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_sev.corpus.docs
          |WHERE ts >= '2024-01-03' AND ts < '2024-04-20'
          |GROUP BY 1""".stripMargin)
    }
    // the scan recorded its prune under the (now deleted) table path;
    // an all-empty corpus (RegistryEmptySpec) has only empty shards,
    // which always keep — the prune contract only binds on data
    if (out.count() > 0)
      Option(GlprSource.planEvents.get(tablePath)).foreach { case (kept, total) =>
        // both eras contribute out-of-window shards (Jan 01/02 days,
        // the May month) — the straddling window must prune
        require(total < 2 || kept < total,
          s"q349 contract: the window must prune mixed-era shards " +
            s"(kept $kept of $total)")
      }
    out
  }

  /** q352 — AUTOMATIC per-shard value statistics: the corpus ingested as
    * four per-feed slices (each append holds a quarter of the sources)
    * with NO partition spec — the natural shape of multi-feed ingestion
    * — and a two-source probe still prunes ¾ of the shards: every writer
    * records its shard's distinct lang/source sets in the sidecar
    * (`vlang=`/`vsource=`, capped at 32 like the partition channel), the
    * per-file column statistics that make value predicates prune on ANY
    * layout that happened to cluster. The residual row filter keeps the
    * result exact either way (a mixed shard keeps), so the oracle
    * certifies rows; the prune is required in-pipeline and pinned (with
    * the legacy no-token fallback) in GlprCatalogSpec. */
  def valueStatsPipeline(spark: SparkSession, dir: String): DataFrame = {
    var root = ""
    val out = scenario(spark, "graft-glpr-valstats") { r =>
      root = r
      val all = docs(spark, dir)
      (0 until 4).foreach { g =>
        val srcs = (0 until 20).filter(_ % 4 == g).map(i => s"src$i")
        write(all.filter(col("source").isin(srcs: _*)).coalesce(2), r)
      }
      glpr(spark, r)
        .filter(col("source").isin("src2", "src6"))
        .transform(byLang(IdSum, TextBytes))
    }
    if (!out.isEmpty)
      Option(GlprSource.planEvents.get(root)).foreach { case (kept, total) =>
        require(total < 2 || kept < total,
          s"q352 contract: the source probe must prune un-partitioned " +
            s"per-feed shards via the automatic value sets ($kept of $total)")
      }
    out
  }

  /** q342 — TRUNCATE PARTITIONING, `PARTITIONED BY (truncate(4,
    * source))`: prefix width 4 over the src labels, tracked per shard;
    * an IN probe on the raw column relaxes to its prefix image and
    * prunes to the matching shards (residual keeps rows exact — 'src1'
    * covers src1 and src10-19). The last of the Iceberg transform
    * family on the same sidecar channel. */
  def truncatePartitionPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_trn",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, _) =>
      createDocs(s2, "glpr_trn.corpus.docs", partitionedBy = "truncate(4, source)")
      insertDocs(s2, "glpr_trn.corpus.docs", dir)
      s2.sql(
        """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_trn.corpus.docs
          |WHERE source IN ('src7', 'src12')
          |GROUP BY 1, 2""".stripMargin)
    }

  /** q334 — HASH-BUCKET PARTITIONING, `PARTITIONED BY (bucket(8,
    * doc_id))`: bucket id = floorMod(doc_id, 8), tracked per shard at
    * write time; a point-probe predicate (`doc_id IN (…)`) prunes to
    * the probed buckets' shards even though the id LAYOUT is
    * arbitrary — the lookup path hash layouts exist for. The oracle is
    * the same point lookup relationally; the shard-skip pin lives in
    * GlprCatalogSpec. */
  def bucketPartitionPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_bkt",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, _) =>
      createDocs(s2, "glpr_bkt.corpus.docs", partitionedBy = "bucket(8, doc_id)")
      insertDocs(s2, "glpr_bkt.corpus.docs", dir)
      s2.sql(
        """SELECT doc_id, lang, source
          |FROM glpr_bkt.corpus.docs
          |WHERE doc_id IN (0, 8, 17, 42, 97)""".stripMargin)
    }

  /** q335 — `TIMESTAMP AS OF` through the SQL front door: three slice
    * INSERTs, the version files' mtimes (the commit clock — immutable
    * once CAS-linked) pinned to a FIXED schedule (t0, t0+10s, t0+20s),
    * then a read pinned between the second and third commits — exactly
    * the first two slices. Pinning the clock is what makes a
    * wall-time-addressed read oracle-DETERMINISTIC; production Delta
    * reads the same clock off its log files. Degenerate SFs clamp like
    * q311 (empty slices mint nothing; the pin then resolves to the
    * newest committed state, and the oracle's slice gating matches). */
  def timestampAsOfPipeline(spark: SparkSession, dir: String): DataFrame = {
    val t0 = 1700000000000L
    catalogScenario(spark, "glpr_ts") { (s2, root) =>
      createDocs(s2, "glpr_ts.corpus.docs")
      insertSlices(s2, "glpr_ts.corpus.docs", dir, skipEmpty = true)
      val tdir = new java.io.File(root, "corpus/docs").getAbsolutePath
      // pin the DURABLE commit clock (header + mtime mirror) to the
      // fixed schedule the oracle's pin arithmetic assumes
      listManifestVersions(tdir).foreach { v =>
        GlprSource.pinVersionCommitMs(tdir, v, t0 + (v - 1) * 10000L)
      }
      // an all-empty corpus mints no versions: read the (empty) live view
      val pin = if (listManifestVersions(tdir).isEmpty) ""
        else s" TIMESTAMP AS OF timestamp_millis(${t0 + 15000L}L)"
      s2.sql(
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(max(doc_id) AS BIGINT) AS max_id
           |FROM glpr_ts.corpus.docs$pin
           |GROUP BY lang""".stripMargin)
    }
  }

  /** q336 — RECLUSTER (OPTIMIZE): the corpus staged HASH-distributed
    * (every shard's bounds straddle the whole id space — the layout
    * where bounds pruning is toothless), then
    * [[graft.io.GlprMaintenance.recluster]] — one shuffle job rewrites
    * it range-clustered behind one manifest flip — and a doc_id range
    * read afterwards PRUNES (plan-pinned in GlprCatalogSpec). The oracle
    * is the range rollup: hash equality certifies the rewrite moved
    * every row exactly once. */
  def reclusterPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-recluster") { root =>
      write(docs(spark, dir).repartition(8), root)
      GlprMaintenance.recluster(spark, root, nShards = 8): Unit
      glpr(spark, root)
        .filter(col("doc_id") >= 100 && col("doc_id") < 300)
        .transform(byLang(TextBytes))
    }

  // ---- streaming --------------------------------------------------------

  /** q337 — STREAMING CHANGE DATA CAPTURE
    * ([[graft.io.GlprCdfMicroBatchStream]]): the q328 staging's WHOLE
    * history consumed as a CDF stream under `Trigger.AvailableNow` — one
    * micro-batch per manifest version, in commit order (appends as
    * inserts, the retiring DELETE's shards as deletes, the re-append as
    * inserts), aggregated in complete mode and settled. The oracle
    * derives the same change totals relationally, gated on the q328
    * all-slices-nonempty condition; an append-only (degenerate) history
    * streams pure inserts. Per-version batch boundaries, offset restarts
    * and the CoW remove+re-add shape are GlprSpec-pinned. */
  def cdfStreamPipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = cdfStagedRoot(spark, dir)
    settle(spark, childSession(spark).readStream.format(Format)
      .option("changeMode", "cdf").load(root)
      .groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), IdSum), availableNow = true)
  }

  /** q343 — STREAMING MERGE through the SQL front door (the Delta
    * `readChangeFeed → foreachBatch MERGE` idiom): a SOURCE catalog
    * table builds a five-step history — three slice INSERTs, a CoW
    * DELETE of the middle slice (remove+re-add physics), a MoR
    * delete-vector delete (dv-delta physics) — and a CDF STREAM replays
    * it one version per micro-batch into a TARGET catalog table, each
    * batch applied by ONE SQL MERGE: the batch is first netted to one
    * row per key (a CoW rewrite emits remove+re-add of the same id in
    * one version — the insert side wins), then `WHEN MATCHED AND delete
    * THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND insert
    * THEN INSERT`. After the stream drains (AvailableNow), the target
    * must equal the source's LIVE view — incremental ingest end-to-end
    * SQL, certified by the batch oracle. Empty slices skip their INSERT
    * and gate off the deletes (the q335/q337 determinism guard),
    * mirrored by the oracle's `ok` gate. */
  def streamCdfMergePipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_scm") { (s2, root) =>
      createDocs(s2, "glpr_scm.state.source")
      createDocs(s2, "glpr_scm.state.target")
      val counts = insertSlices(s2, "glpr_scm.state.source", dir, skipEmpty = true)
      val srcPath = new java.io.File(root, "state/source").getAbsolutePath
      if (counts.forall(_ > 0)) {
        GlprMaintenance.deleteIdRange(s2, srcPath, 100L, 299L)       // CoW
        GlprMaintenance.deleteIdRangeMergeOnRead(srcPath, 0L, 49L): Unit // MoR
      }
      val stream = s2.readStream.format(Format)
        .option("changeMode", "cdf").load(srcPath)
      val q = stream.writeStream
        .option("checkpointLocation",
          new java.io.File(root, "ckpt").getAbsolutePath)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val s = b.sparkSession
          b.createOrReplaceTempView("glpr_scm_batch")
          s.sql(
            """MERGE INTO glpr_scm.state.target t
              |USING (
              |  SELECT doc_id, last.lang AS lang, last.source AS source,
              |         last.text AS text, last.ct AS ct
              |  FROM (SELECT doc_id, max(struct(
              |          CASE WHEN _change_type = 'insert' THEN 1 ELSE 0 END AS r,
              |          lang, source, text, _change_type AS ct)) AS last
              |        FROM glpr_scm_batch GROUP BY doc_id)
              |) u
              |ON t.doc_id = u.doc_id
              |WHEN MATCHED AND u.ct = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET t.lang = u.lang,
              |  t.source = u.source, t.text = u.text
              |WHEN NOT MATCHED AND u.ct <> 'delete' THEN
              |  INSERT (doc_id, lang, source, text)
              |  VALUES (u.doc_id, u.lang, u.source, u.text)
              |""".stripMargin): Unit
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_scm.state.target GROUP BY lang""".stripMargin)
    }

  /** q300 — GLPR-to-GLPR streaming relay: the staged corpus consumed
    * through the custom SOURCE (admission-controlled micro-batches),
    * filtered in flight (the schema-preserving gate an ingest relay
    * applies), and written through the custom streaming SINK
    * ([[graft.io.GlprStreamingWrite]], epoch-idempotent shards) under
    * `Trigger.AvailableNow` — custom source AND custom sink in one
    * streaming query, the full connector loop closed. The relayed corpus
    * is then read back through the batch scan and aggregated; the oracle
    * is the same filter + aggregate over the parquet originals. */
  def streamRelayPipeline(spark: SparkSession, dir: String,
      minTextBytes: Int = 50): DataFrame = {
    val sink = TempDirs.once(s"glpr-relay#$dir#$minTextBytes") {
      val out = TempDirs.scratch("graft-glpr-relay")
      val q = childSession(spark).readStream.format(Format)
        .option("maxShardsPerTrigger", "2").load(stagedPath(spark, dir))
        .filter(octet_length(col("text")) >= minTextBytes)
        .writeStream.format(Format)
        .option("path", out.resolve("data").toString)
        .option("checkpointLocation", out.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      out.resolve("data").toString
    }
    glpr(spark, sink)
      .transform(byLang(TextBytes))
  }

  /** q285: the staged shards consumed as a STREAM through the connector's
    * [[graft.io.GlprMicroBatchStream]] and rolled into a per-language
    * profile — certifying the custom streaming-source path (offsets,
    * per-trigger shard planning, the same pruning reader) against the
    * identical batch oracle. Complete-mode memory settle ([[settle]]). */
  def streamedLangProfile(spark: SparkSession, dir: String): DataFrame =
    settle(spark, childSession(spark).readStream.format(Format)
      .load(stagedPath(spark, dir)).transform(byLang(TextBytes)), availableNow = false)

  /** q288: the same settled profile via `Trigger.AvailableNow` under
    * `maxShardsPerTrigger` admission control — the "catch up then stop"
    * backfill: the stream snapshots the staged shards, drains them in
    * ⌈N/limit⌉ bounded micro-batches (never the whole corpus in one),
    * TERMINATES on its own, and still settles to the identical batch
    * oracle. The ⌈N/limit⌉-triggers contract itself is pinned in
    * GlprSpec with staged shard arrivals. */
  def backfillLangProfile(spark: SparkSession, dir: String,
      maxShardsPerTrigger: Int = 2): DataFrame =
    settle(spark, childSession(spark).readStream.format(Format)
      .option("maxShardsPerTrigger", maxShardsPerTrigger.toString)
      .load(stagedPath(spark, dir)).transform(byLang(TextBytes)), availableNow = true)

  /** q305 — SHARD-PRUNED STREAMING: the range-disjoint staged corpus
    * ([[rangeStagedPath]]) consumed as a stream with an OPTION-seeded
    * doc_id bound (`maxDocId` — streaming scans never see Catalyst
    * filter pushdown, so bounds ride reader options, the Kafka
    * startingOffsets idiom), so each micro-batch plans only the shards
    * whose sidecar bounds intersect the range
    * ([[graft.io.GlprMicroBatchStream.planInputPartitions]]) — the
    * streaming twin of q295's batch pruning: backfilling one id slice of
    * a 100 TB corpus reads the slice, not the corpus. The redundant
    * WHERE keeps the row semantics declared in the query itself. Settles
    * to the identical filtered batch oracle; the shard-skip itself is
    * GlprSpec-pinned. */
  def streamedPrunedProfile(spark: SparkSession, dir: String,
      maxId: Long = 250L): DataFrame =
    settle(spark, childSession(spark).readStream.format(Format)
      .option("maxDocId", (maxId - 1).toString).load(rangeStagedPath(spark, dir))
      .filter(col("doc_id") < maxId).transform(byLang(TextBytes)), availableNow = false)

  /** q307 — BLOOM runtime pruning on an UNCLUSTERED corpus: the same
    * selectively-filtered broadcast dim join as q295, but over the
    * hash-distributed staging where every shard's id bounds span the
    * corpus — so any shard skip is attributable to the sidecar BLOOMS
    * alone (the Delta/parquet bloom-index trick: membership pruning
    * where min/max is blind). Bloom-skip + stripped-bloom decline are
    * GlprSpec-pinned; the oracle is the plain parquet join. */
  def bloomPrunedDimJoin(spark: SparkSession, dir: String): DataFrame =
    nationDimJoin(spark, dir, hashStagedPath(spark, dir))

  /** q295 — runtime (DPP-style) shard pruning end to end: GLPR facts
    * joined on `doc_id` to a SELECTIVELY-FILTERED broadcast dimension
    * (suppliers of one nation). The dimension filter is opaque to static
    * pushdown (no doc_id bounds derivable from `s_nationkey = 3` at plan
    * time); only the materialized broadcast key set, handed to
    * [[graft.io.GlprScan.filter]] by Spark's runtime filtering, can prune
    * — so the shard-skip observed in [[graft.io.GlprSource.planEvents]]
    * is attributable to runtime pruning alone. Oracle is the plain
    * parquet join. */
  def runtimePrunedDimJoin(spark: SparkSession, dir: String): DataFrame =
    nationDimJoin(spark, dir, rangeStagedPath(spark, dir))

  /** GLPR facts at `path` ⋈ the broadcast suppliers of nation 3, rolled up by lang. */
  private def nationDimJoin(spark: SparkSession, dir: String, path: String): DataFrame = {
    val dim = Tables(spark, dir, "supplier")
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey").as("dim_id"))
    glpr(spark, path).join(broadcast(dim), col("doc_id") === col("dim_id"))
      .transform(byLang(TextBytes))
  }

  /** q292 — the INGEST FRONT DOOR capstone, composing admission control
    * with the idempotent-MERGE egress: GLPR shards streamed under
    * `maxShardsPerTrigger` (so the backlog arrives as MULTIPLE
    * micro-batches — the one thing q268's single-batch file source can
    * never exercise) through a `foreachBatch` keep-first dedup MERGE into
    * a versioned parquet target, then read back.
    *
    * Merge algebra (the [[graft.streaming.Events.mergeBatchInto]]
    * snapshot + atomic-pointer convention, with dedup state instead of
    * latest-wins): per content hash keep `min(keeper_doc_id)` and
    * `sum(n_docs)` — both folds associative and commutative, so ANY
    * partitioning of records into micro-batches compacts to the same
    * state, and the final snapshot equals the one-shot batch dedup (the
    * DuckDB oracle). batchId-pointer check makes at-least-once replays
    * no-ops (pinned by re-merging under the committed id); the snapshot
    * publishes by atomic `_meta` rename, so a crash never exposes a
    * half-written state. State is one row per distinct content — bounded
    * by corpus uniqueness, not stream length.
    *
    * Cross-batch keeper/count correctness (duplicates SPLIT across
    * batches must still fold to the global min/total) is pinned in
    * GlprSpec with a 5-shard staged corpus under limit 2. */
  def ingestDedupMerge(spark: SparkSession, dir: String,
      maxShardsPerTrigger: Int = 2): DataFrame = {
    val root = TempDirs.once(s"glpr-ingest#$dir#$maxShardsPerTrigger") {
      val root = TempDirs.scratch("graft-glpr-ingest")
      runIngestDedupMerge(spark, stagedPath(spark, dir), maxShardsPerTrigger, root)
      root
    }
    readSnapshotPointer(root) match {
      case Some((_, snapshot)) => spark.read.parquet(snapshot)
      case None => // empty corpus: no batch ever committed — typed empty
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("content_hash", StringType),
            StructField("keeper_doc_id", LongType),
            StructField("n_docs", LongType))))
    }
  }

  /** Drive one AvailableNow ingest over `path`'s shards into the merge
    * target `root`. Exposed for the GlprSpec staged-shards pin. */
  private[graft] def runIngestDedupMerge(spark: SparkSession, path: String,
      maxShardsPerTrigger: Int, root: java.nio.file.Path): Unit = {
    val src = childSession(spark).readStream.format(Format)
      .option("maxShardsPerTrigger", maxShardsPerTrigger.toString).load(path)
      .select(md5(col("text")).as("content_hash"),
        col("doc_id").as("keeper_doc_id"), lit(1L).as("n_docs"))
    val q = src.writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch((b: DataFrame, id: Long) => dedupMergeBatchInto(root, b, id))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // deliberate at-least-once replay under the committed batchId: the
    // pointer check must no-op it (delivery content is irrelevant once
    // the id is committed — replaying the WHOLE corpus is the stronger pin)
    readSnapshotPointer(root).foreach { case (lastId, _) =>
      val all = glpr(spark, path)
        .select(md5(col("text")).as("content_hash"),
          col("doc_id").as("keeper_doc_id"), lit(1L).as("n_docs"))
      dedupMergeBatchInto(root, all, lastId)
    }
  }

  /** One idempotent per-batch dedup MERGE (see [[ingestDedupMerge]]). */
  private def dedupMergeBatchInto(root: java.nio.file.Path,
      batch: DataFrame, batchId: Long): Unit = {
    val meta = readSnapshotPointer(root)
    if (meta.exists(_._1 >= batchId)) return // replayed batch: no-op
    val spark = batch.sparkSession
    val delta = batch.select("content_hash", "keeper_doc_id", "n_docs")
    val state = meta match {
      case Some((_, v)) => spark.read.parquet(v).unionByName(delta)
      case None => delta
    }
    val compacted = state.groupBy("content_hash")
      .agg(min(col("keeper_doc_id")).as("keeper_doc_id"),
        sum(col("n_docs")).as("n_docs"))
    val vdir = root.resolve(s"v$batchId")
    compacted.write.mode("overwrite").parquet(vdir.toString)
    val tmp = root.resolve("_meta.tmp")
    java.nio.file.Files.writeString(tmp, s"$batchId,$vdir")
    java.nio.file.Files.move(tmp, root.resolve("_meta"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Committed (lastBatchId, snapshot path) pointer, None before the
    * first commit — the Events.readMergeMeta convention. */
  private[graft] def readSnapshotPointer(root: java.nio.file.Path): Option[(Long, String)] = {
    val f = root.resolve("_meta")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val parts = java.nio.file.Files.readString(f).trim.split(",", 2)
      Some((parts(0).toLong, parts(1)))
    }
  }

  // ---- maintenance ------------------------------------------------------

  /** q314 — the row-level delete as a registry entry: the corpus staged
    * HASH-partitioned (every shard's bounds straddle everything — the
    * layout where metadata DELETE refuses outright), then
    * [[graft.io.GlprMaintenance.deleteIdRange]]`(100, 299)`, then read
    * back. The oracle aggregates `documents WHERE doc_id < 100 OR doc_id
    * > 299`: hash equality certifies row-exact deletion through the
    * rewrite path. Crash ordering, survivor naming, fully-emptied
    * shards, and the metadata/rewrite split are GlprSpec-pinned. */
  def rowDeletePipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-rowdelete") { root =>
      write(docs(spark, dir).repartition(8), root)
      GlprMaintenance.deleteIdRange(spark, root, 100L, 299L): Unit
      glpr(spark, root)
        .transform(byLang(max(col("doc_id")).as("max_id"), TextBytes))
    }

  /** q322 — the merge-on-read delete as a registry entry: range-
    * clustered staging, `deleteIdRangeMergeOnRead(150, 349)` (zero data
    * bytes moved — only `.dv` sidecars written), then read back THROUGH
    * the mask. Oracle = the complement rollup: hash equality certifies
    * both readers apply the vector row-exactly. Composition with
    * pushdown/pruning, metadata-path declines, historical-read refusal,
    * idempotent re-delete, and compact exclusion are GlprSpec-pinned. */
  def dvDeletePipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-dvdelete") { root =>
      writeRanged(spark, dir, root)
      GlprMaintenance.deleteIdRangeMergeOnRead(root, 150L, 349L): Unit
      glpr(spark, root)
        .transform(byLang(IdSum))
    }

  /** q323 — DV materialization: the q322 shape, then
    * [[graft.io.GlprMaintenance.materializeDeletes]] rewrites the masked
    * shards (fresh names, one manifest flip, vectors unlinked) —
    * afterwards the corpus reads identically but metadata paths and time
    * travel re-arm. Oracle = the same complement rollup; zero-DV state,
    * fresh survivor names, and the minted version are GlprSpec-pinned. */
  def dvMaterializePipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-dvmat") { root =>
      writeRanged(spark, dir, root)
      GlprMaintenance.deleteIdRangeMergeOnRead(root, 150L, 349L)
      GlprMaintenance.materializeDeletes(spark, root): Unit
      glpr(spark, root)
        .transform(byLang(min(col("doc_id")).as("min_id"), TextBytes))
    }

  /** q324 — the redaction as a registry entry: staging,
    * [[graft.io.GlprMaintenance.redactText]] with the q320 blocklist,
    * then the post-redaction rollup. The oracle computes the SAME
    * replace chain over the original documents — hash equality
    * certifies the storage really holds the redacted bytes (byte sums
    * would differ on any missed or extra replacement). Skip-untouched,
    * fresh names, minted version, and idempotence are GlprSpec-pinned. */
  def redactionPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-redact") { root =>
      writeRanged(spark, dir, root)
      GlprMaintenance.redactText(spark, root,
        graft.functions.MultiPatternCounts.BlocklistPatterns, "[REDACTED]"): Unit
      glpr(spark, root)
        .transform(byLang(TextBytes))
    }

  /** q309 — the compaction pipeline as a registry entry: the corpus
    * written as MANY deliberately-small shards, compacted to a handful
    * by byte concatenation + sidecar merge
    * ([[graft.io.GlprMaintenance.compact]]), then read back through the
    * connector and aggregated. The oracle is the plain documents rollup
    * — hash equality certifies compaction moved every row exactly once;
    * the file-count collapse, sidecar-sum preservation, and
    * post-compaction bloom/bounds pruning are GlprSpec-pinned. */
  def compactionPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-compact") { root =>
      writeRanged(spark, dir, root, 16)
      GlprMaintenance.compact(root, targetBytes = Long.MaxValue / 2): Unit // one merged shard per run
      glpr(spark, root)
        .transform(byLang(TextBytes))
    }

  /** q348 — compaction OVER LIVE DELETE-VECTOR MASKS: the corpus staged
    * as 16 range-clustered shards, an id-range MoR delete AND a value
    * MoR delete layered on (straddling, emptying, and value-scattered
    * masks across several shards), then ONE `compact()` — masked members
    * are rewritten with their mask folded in-flight, everything
    * concatenates under fresh names, and the same manifest flip retires
    * members WITH their dv tokens: the live view ends mask-free with zero
    * live generation references. The oracle is the double-complement
    * rollup — hash equality certifies the fold dropped exactly the
    * masked rows and moved every survivor exactly once.
    * Mask-free/retirement/race pins live in GlprDvIntegritySpec. */
  def maskedCompactionPipeline(spark: SparkSession, dir: String): DataFrame =
    scenario(spark, "graft-glpr-maskcompact") { root =>
      writeRanged(spark, dir, root, 16)
      GlprMaintenance.deleteIdRangeMergeOnRead(root, 100L, 219L): Unit
      GlprMaintenance.deleteWhereMergeOnRead(spark, root, "lang", Set("de")): Unit
      val entries = GlprSource.committedEntries(root)
      GlprMaintenance.compact(root, targetBytes = Long.MaxValue / 2): Unit
      if (entries.length > 1) {
        val live = GlprSource.committedEntries(root)
        require(live.length < entries.length,
          "q348 contract: compaction must shrink the live shard count")
        require(live.forall(l => GlprSource.entryDvGen(l).isEmpty),
          "q348 contract: the compacted live view must be mask-free " +
            s"(got ${live.mkString(", ")})")
      }
      glpr(spark, root)
        .transform(byLang(IdSum, TextBytes))
    }

  /** q350 — Z-ORDER RECLUSTER through the catalog: the corpus INSERTed
    * hash-scattered (every shard spans the full id range AND every lang
    * — nothing prunes), then `CALL sys.recluster('ns.t', 8, 'lang')`
    * rewrites it Morton-interleaved: each shard a compact rectangle in
    * (doc_id, lang) space, so a rectangular probe prunes on BOTH
    * channels at once (id bounds + sidecar lang sets) — required
    * in-pipeline via the plan events; the pre/post box comparison is
    * GlprCatalogSpec-pinned. The oracle is the FULL-table rollup: hash
    * equality certifies the rewrite moved every row exactly once. */
  def zorderReclusterPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_zo",
      // AQE coalescing would merge the clustered shuffles (both the
      // hash staging and the z-range rewrite) into one fat shard —
      // the layout IS the deliverable here
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { (s2, root) =>
      createDocs(s2, "glpr_zo.ns.t")
      insertDocs(s2, "glpr_zo.ns.t", dir, "DISTRIBUTE BY xxhash64(doc_id)")
      s2.sql("CALL glpr_zo.sys.recluster('ns.t', 8, 'lang')").collect(): Unit
      val tpath = new java.io.File(root, "ns/t").getAbsolutePath
      // the rectangle probe must prune post-recluster (it could not
      // pre-recluster: every hash shard intersected every box)
      val probe = s2.sql("SELECT count(*) FROM glpr_zo.ns.t " +
        "WHERE doc_id >= 100 AND doc_id < 200 AND lang = 'en'")
        .head().getLong(0)
      // an all-empty corpus (RegistryEmptySpec) has only empty shards,
      // which always keep — the prune contract only binds on data
      if (probe > 0)
        Option(GlprSource.planEvents.get(tpath)).foreach { case (kept, total) =>
          require(total < 2 || kept < total,
            s"q350 contract: the z-order layout must prune the rectangle " +
              s"probe (kept $kept of $total, matched $probe rows)")
        }
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum,
          | CAST(min(doc_id) AS BIGINT) AS min_id,
          | CAST(max(doc_id) AS BIGINT) AS max_id
          |FROM glpr_zo.ns.t GROUP BY lang""".stripMargin)
    }

  /** q351 — ZERO-COPY CLONE end to end: the corpus staged as a catalog
    * table, a MoR delete layered on (so the snapshot carries live dv
    * tokens — the clone must share MASKS, not just payloads), `CALL
    * sys.clone('ns.src', 'ns.dst')`, then a second MoR delete applied
    * to the CLONE ONLY. The result is both tables' rollups side by
    * side: the source must show exactly the pre-clone state (the
    * clone's delete touched shared bytes through its OWN manifest — a
    * leak breaks the hash) and the clone must show the further-deleted
    * state. Zero-copy itself (shared inodes, hard-link counts),
    * vacuum independence, and the dst-exists refusal are
    * GlprCatalogSpec-pinned. */
  def clonePipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_cl") { (s2, root) =>
      createDocs(s2, "glpr_cl.ns.src")
      insertDocs(s2, "glpr_cl.ns.src", dir, "DISTRIBUTE BY doc_id div 100")
      val srcPath = new java.io.File(root, "ns/src").getAbsolutePath
      GlprMaintenance.deleteIdRangeMergeOnRead(srcPath, 40L, 49L): Unit // pre-clone mask
      s2.sql("CALL glpr_cl.sys.clone('ns.src', 'ns.dst')").collect(): Unit
      // diverge the CLONE only
      s2.sql("CALL glpr_cl.sys.delete_where_mor('ns.dst', 'lang', 'de')")
        .collect(): Unit
      s2.sql(
        """SELECT 'src' AS side, lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum
          |FROM glpr_cl.ns.src GROUP BY 2
          |UNION ALL
          |SELECT 'clone', lang, CAST(count(*) AS BIGINT),
          | CAST(sum(doc_id) AS BIGINT)
          |FROM glpr_cl.ns.dst GROUP BY 2""".stripMargin)
    }

  /** q353 — BUCKET-TRANSFORM STORAGE-PARTITIONED JOIN, end to end: two
    * tables `PARTITIONED BY (bucket(8, doc_id))` (the writer's required
    * clustering + q353 shard rolling keeps every shard single-bucket),
    * then a `doc_id` equi-join planned with ZERO join exchanges — both
    * scans report `KeyGroupedPartitioning(bucket(8, doc_id))`, resolved
    * through the catalog's V2 bucket function, and Spark zips the bucket
    * classes. The corpus⋈corpus join that moves no bytes at 100 TB.
    * Shuffle-freeness is REQUIRED in-pipeline (broadcast disabled so
    * the exchange-free plan is the report, not a broadcast); the final
    * rollup's lang exchange is expected and untouched. Oracle = the
    * relational join rollup over the raw parquet. */
  def bucketSpjPipeline(spark: SparkSession, dir: String): DataFrame = {
    var q: DataFrame = null
    val out = catalogScenario(spark, "glpr_bj") { (s2, _) =>
      Seq("facts", "dims").foreach(t => createDocs(s2,
        s"glpr_bj.ns.$t", partitionedBy = "bucket(8, doc_id)"))
      insertDocs(s2, "glpr_bj.ns.facts", dir)
      insertDocs(s2, "glpr_bj.ns.dims", dir, "WHERE doc_id % 3 <> 0",
        cols = "doc_id, lang, 'dim', text")
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      q = s2.sql(
        """SELECT f.lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(f.doc_id) AS BIGINT) AS id_sum
          |FROM glpr_bj.ns.facts f JOIN glpr_bj.ns.dims d
          |ON f.doc_id = d.doc_id
          |GROUP BY 1""".stripMargin)
      q
    }
    // the shuffle-freeness contract holds whenever there is data to
    // join; an ALL-EMPTY corpus commits only rows=0 shards, which carry
    // no bucket value — the report declines by design and the fallback
    // plan (over zero rows) is fine. `q` ran inside the scenario, so its
    // executed plan is final.
    if (!out.isEmpty) {
      val plan = q.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning(doc_id"),
        s"q353 contract: the co-bucketed doc_id join must plan ZERO join " +
          s"exchanges (storage-partitioned join):\n$plan")
    }
    out
  }

  /** The live and the `shipped`-tagged rollups of `table`, side by side. */
  private def liveAndTagged(s2: SparkSession, table: String): DataFrame =
    s2.sql(
      s"""SELECT 'live' AS side, lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM $table GROUP BY 2
         |UNION ALL
         |SELECT 'tagged', lang, CAST(count(*) AS BIGINT),
         | CAST(sum(doc_id) AS BIGINT)
         |FROM $table VERSION AS OF 'shipped' GROUP BY 2""".stripMargin)

  /** q354 — IMMUTABLE TAGS as retention overrides, end to end: tag the
    * ingest snapshot, DELETE a slice (copy-on-write — a new version),
    * then run the FULL retention cycle (`expire_versions(keep=1)` +
    * `vacuum`). The tagged snapshot SURVIVES — expire skips tagged
    * versions, so vacuum keeps every shard the snapshot references —
    * and `VERSION AS OF 'shipped'` still reads the exact pre-delete
    * corpus while main reads the post-delete one. Oracle = both sides
    * derived relationally; immutability/name-space/drop-then-reclaim
    * pins in GlprCatalogSpec. */
  def tagsPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_tg") { (s2, _) =>
      createDocs(s2, "glpr_tg.ns.docs")
      insertDocs(s2, "glpr_tg.ns.docs", dir, "DISTRIBUTE BY doc_id div 100")
      s2.sql("CALL glpr_tg.sys.tag('ns.docs', 'shipped')").collect(): Unit
      s2.sql("DELETE FROM glpr_tg.ns.docs WHERE doc_id BETWEEN 100 AND 199")
      // the retention cycle that would have reclaimed the snapshot
      s2.sql("CALL glpr_tg.sys.expire_versions('ns.docs', 1)").collect(): Unit
      s2.sql("CALL glpr_tg.sys.vacuum('ns.docs')").collect(): Unit
      liveAndTagged(s2, "glpr_tg.ns.docs")
    }

  /** q364 — AGE-BASED RETENTION end to end: three commits pinned to a
    * fixed day-apart clock schedule (the q335 durable-clock staging tool
    * — deterministic oracles need a deterministic clock), the oldest
    * TAGGED; then `expire_versions(older_than_ms = T0 + 1.5 days)` +
    * `vacuum`. Exactly the middle version expires — the tagged snapshot
    * is exempt (q354), the young head survives on age — and the live
    * read, the tagged read, and the history length certify it. Oracle =
    * both sides derived relationally. Head-never-expires and
    * mode-exclusivity pins in GlprCatalogSpec. */
  def ageRetentionPipeline(spark: SparkSession, dir: String): DataFrame = {
    val T0 = 1700000000000L // fixed epoch instant; commits a day apart
    val day = 86400000L
    catalogScenario(spark, "glpr_age") { (s2, root) =>
      createDocs(s2, "glpr_age.ns.docs")
      insertDocs(s2, "glpr_age.ns.docs", dir, "DISTRIBUTE BY doc_id div 100")
      s2.sql("CALL glpr_age.sys.tag('ns.docs', 'shipped')").collect(): Unit
      s2.sql("DELETE FROM glpr_age.ns.docs WHERE doc_id BETWEEN 100 AND 199")
      insertDocs(s2, "glpr_age.ns.docs", dir, "WHERE doc_id < 50",
        cols = "doc_id + 1000000, lang, source, text")
      val path = new java.io.File(root, "ns/docs").getAbsolutePath
      val vs = listManifestVersions(path)
      vs.zipWithIndex.foreach { case (v, i) =>
        GlprSource.pinVersionCommitMs(path, v, T0 + i * day) }
      // cutoff between the 2nd and 3rd commit: the tagged v1 is exempt,
      // the middle version expires, the head survives on age. An
      // ALL-EMPTY corpus may collapse the schedule (no-op commits mint
      // no versions), so the staging sanity check only binds when the
      // three-commit history actually exists.
      val dropped = s2.sql("CALL glpr_age.sys.expire_versions('ns.docs', " +
        s"older_than_ms => ${T0 + day + day / 2})").head().getLong(0)
      require(vs.length < 3 || dropped >= 1L,
        s"q364 staging: expected the middle version to expire, dropped $dropped")
      s2.sql("CALL glpr_age.sys.vacuum('ns.docs')").collect(): Unit
      liveAndTagged(s2, "glpr_age.ns.docs")
    }
  }

  /** q355 — CHECK CONSTRAINTS end to end: admit `doc_id >= 0 AND text
    * IS NOT NULL` over the empty table, ingest the corpus under it
    * (every row evaluated in the writer), then REQUIRE in-pipeline that
    * a violating append refuses WHOLE (no partial commit — the count is
    * unchanged afterward). Oracle = the plain corpus rollup: a gate
    * that admits clean data must be invisible in the result. Lifecycle
    * pins (dirty-admit refusal, NULL-passes, DML enforcement, rename/
    * drop guards, token survival across ALTER) in GlprCatalogSpec. */
  def constraintsPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_ck") { (s2, _) =>
      createDocs(s2, "glpr_ck.ns.docs")
      s2.sql("CALL glpr_ck.sys.add_constraint('ns.docs', 'sane-doc', " +
        "'doc_id >= 0 AND text IS NOT NULL')").collect(): Unit
      insertDocs(s2, "glpr_ck.ns.docs", dir)
      val before = s2.sql("SELECT count(*) FROM glpr_ck.ns.docs")
        .head().getLong(0)
      // the refusal must be THE CHECK GATE's
      require(refusesWith("GLPR CHECK constraint 'sane-doc'")(
        s2.sql("INSERT INTO glpr_ck.ns.docs VALUES (-1, 'xx', 'bad', 'row')")),
        "q355 contract: the violating append must refuse WITH the " +
          "constraint diagnostic")
      val after = s2.sql("SELECT count(*) FROM glpr_ck.ns.docs")
        .head().getLong(0)
      require(after == before,
        s"q355 contract: a refused write must land NOTHING " +
          s"($before -> $after)")
      s2.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(doc_id) AS BIGINT) AS id_sum,
          | CAST(sum(octet_length(text)) AS BIGINT) AS n_bytes
          |FROM glpr_ck.ns.docs GROUP BY 1""".stripMargin)
    }

  /** q356 — `sys.files` shard introspection, certified against the
    * data: the pipeline ingests the corpus, reads the table's
    * SIDECAR-ONLY statistics through `CALL sys.files` (one row per live
    * shard: rows, bytes, doc_id bounds, spec, mask state — zero data
    * bytes opened), and returns the metadata-derived corpus invariants
    * (row count, id bounds). The oracle computes the same numbers FROM
    * THE DATA — hash equality certifies that the sidecar statistics the
    * planner prunes and estimates with are exactly right. */
  def filesPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_fl") { (s2, _) =>
      createDocs(s2, "glpr_fl.ns.docs")
      insertDocs(s2, "glpr_fl.ns.docs", dir, "DISTRIBUTE BY doc_id div 100")
      val files = s2.sql("CALL glpr_fl.sys.files('ns.docs')").collect()
      require(files.forall(r => !r.isNullAt(1)),
        "q356 contract: every connector-written shard carries a sidecar")
      require(files.forall(r => !r.getBoolean(7)),
        "q356 contract: a plain ingest is mask-free")
      val nRows = files.map(_.getLong(1)).sum
      val los = files.filter(!_.isNullAt(3)).map(_.getLong(3))
      val his = files.filter(!_.isNullAt(4)).map(_.getLong(4))
      val rows: Seq[Row] = Seq(
        Row("max_id", if (his.isEmpty) null else java.lang.Long.valueOf(his.max)),
        Row("min_id", if (los.isEmpty) null else java.lang.Long.valueOf(los.min)),
        Row("n_rows", java.lang.Long.valueOf(nRows)))
      s2.createDataFrame(rows.asJava, StructType(Seq(
        StructField("metric", StringType, nullable = false),
        StructField("value", LongType, nullable = true))))
    }

  /** q358 — ZERO-SHUFFLE EXACT-DEDUP AUDIT: `GROUP BY doc_id` over a
    * bucket-clustered table plans NO exchange at all — the scan's
    * `KeyGroupedPartitioning(bucket(n, doc_id))` (q353) already
    * satisfies the aggregate's clustered distribution, so both the
    * partial and final aggregates run in place over the bucket classes.
    * This is the other half of the SPJ dividend: the canonical
    * dedup-audit ("which ids appear more than once, across ingests?")
    * on a 100 TB bucketed corpus moves ZERO bytes between executors —
    * where the same audit on a hash-scattered layout shuffles the whole
    * key space. Shuffle-freeness required in-pipeline; the duplicate
    * slice is a second ingest, so the audit spans shards (a real
    * cross-file dedup, not a within-file one). */
  def dedupAuditPipeline(spark: SparkSession, dir: String): DataFrame = {
    var q: DataFrame = null
    val out = catalogScenario(spark, "glpr_da") { (s2, _) =>
      createDocs(s2, "glpr_da.ns.docs", partitionedBy = "bucket(8, doc_id)")
      insertDocs(s2, "glpr_da.ns.docs", dir)
      // the duplicate ingest: every fifth document lands again
      insertDocs(s2, "glpr_da.ns.docs", dir, "WHERE doc_id % 5 = 0")
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      q = s2.sql(
        """SELECT doc_id, CAST(count(*) AS BIGINT) AS copies
          |FROM glpr_da.ns.docs
          |GROUP BY doc_id HAVING count(*) > 1""".stripMargin)
      q
    }
    if (!out.isEmpty) {
      val plan = q.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"q358 contract: the dedup audit over a bucket-clustered table " +
          s"must plan ZERO exchanges:\n$plan")
    }
    out
  }

  /** q360 — METADATA TABLES from plain SQL: two ingests mint versions
    * 1 and 2, then `SELECT version, n_rows FROM cat.ns.docs.history`
    * reads the cumulative per-version row counts — sidecar-derived,
    * zero data bytes — as an ordinary table (the Iceberg
    * `db.table.history` idiom; filterable, joinable, aggregatable).
    * Oracle recomputes both snapshots' counts from the data, so hash
    * equality certifies the SQL-served history numbers exactly. */
  def metadataTablesPipeline(spark: SparkSession, dir: String): DataFrame =
    catalogScenario(spark, "glpr_md") { (s2, _) =>
      createDocs(s2, "glpr_md.ns.docs")
      insertDocs(s2, "glpr_md.ns.docs", dir, "WHERE doc_id % 2 = 0")
      insertDocs(s2, "glpr_md.ns.docs", dir, "WHERE doc_id % 2 <> 0")
      s2.sql(
        """SELECT version, n_rows FROM glpr_md.ns.docs.history
          |WHERE version <= 2 ORDER BY version""".stripMargin)
    }
}
