package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.GreaterThanOrEqual
import graft.TestSpark

/** Round-18 regression pins for the round-17 ADVICE items: every
  * manifest-rewriting operation must keep surviving shards' STATE
  * tokens (`dv=<gen>`) — dropping them silently resurrects
  * merge-on-read-deleted rows — plus the delete-vector generation CAS,
  * the loud CDF checkpoint refusal, and the append-mode incremental
  * read's actionable refusal when a removed shard was vacuumed. */
class GlprDvIntegritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def append(root: String, rows: Seq[(Long, String, String, String)]): Unit =
    rows.toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource").mode("append").save(root)
  /** A session with the GLPR catalog `name` rooted at `root`. */
  private def catalogSession(name: String, root: String) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set(s"spark.sql.catalog.$name", "graft.io.GlprCatalog")
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    s
  }
  private def liveIds(root: String): Set[Long] =
    spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("metadata-only deleteWhere keeps survivors' dv tokens (no row resurrection)") {
    val root = TempDirs.scratch("graft-glpr-dvkeep-delete").toString
    append(root, (0L until 100L).map(i => (i, "en", "s", s"a-$i")))   // shard A
    append(root, (100L until 200L).map(i => (i, "en", "s", s"b-$i"))) // shard B
    // MoR-mask [10,19] — bounds intersect shard A only
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 10L, 19L).size === 1)
    val maskedLine = GlprSource.readManifest(root).get
      .find(l => GlprSource.entryDvGen(l).nonEmpty).get
    // shard-aligned metadata DELETE of shard B (doc_id >= 100)
    val t = new GlprTable(root)
    val fs = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("doc_id", 100L))
    assert(t.canDeleteWhere(fs))
    t.deleteWhere(fs)
    // the survivor's manifest LINE is verbatim — state token intact —
    // and the MoR-deleted rows stay deleted
    val after = GlprSource.readManifest(root).get
    assert(after === Seq(maskedLine),
      s"deleteWhere must keep surviving lines verbatim, got $after")
    assert(liveIds(root) === ((0L until 10L) ++ (20L until 100L)).toSet,
      "MoR-deleted rows resurrected: the DELETE commit dropped the dv token")
  }

  test("dynamic partition overwrite keeps kept shards' dv tokens") {
    val root = TempDirs.scratch("graft-glpr-dvkeep-dynow").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.glpr_dvk", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_dvk.root", root)
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql("CREATE TABLE glpr_dvk.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING) PARTITIONED BY (lang)")
    s2.createDataFrame((0L until 50L).map(i => (i, "en", "s", s"en-$i"))
        ++ (50L until 100L).map(i => (i, "de", "s", s"de-$i")))
      .toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("dvk_in")
    s2.sql("INSERT INTO glpr_dvk.ns.t SELECT * FROM dvk_in")
    val path = new java.io.File(root, "ns/t").getAbsolutePath
    // MoR-mask [0,9] — intersects the en shard's bounds only
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(path, 0L, 9L).nonEmpty)
    val maskedLines = GlprSource.readManifest(path).get
      .filter(l => GlprSource.entryDvGen(l).nonEmpty)
    assert(maskedLines.nonEmpty)
    // dynamic overwrite of ONLY the de partition; en shards are KEPT
    s2.createDataFrame((200L until 220L).map(i => (i, "de", "s", s"de2-$i")))
      .toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("dvk_ow")
    s2.sql("INSERT OVERWRITE glpr_dvk.ns.t SELECT * FROM dvk_ow")
    val after = GlprSource.readManifest(path).get
    assert(maskedLines.forall(after.contains),
      s"dynamic overwrite must keep kept shards' lines verbatim, got $after")
    val ids = s2.sql("SELECT doc_id FROM glpr_dvk.ns.t")
      .collect().map(_.getLong(0)).toSet
    assert(ids === ((10L until 50L) ++ (200L until 220L)).toSet,
      "kept-partition MoR deletes resurrected or overwrite leaked rows")
  }

  test("delete-vector generations publish put-if-absent and union the newest on-disk mask") {
    val root = TempDirs.scratch("graft-glpr-dv-cas").toString
    append(root, (0L until 100L).map(i => (i, "en", "s", s"t-$i")))
    val name = GlprSource.readManifest(root).get.map(GlprSource.entryName).head
    // gen 1
    assert(GlprSource.writeDvGeneration(root, name, None, (10L, 19L)) === Some(1L))
    // idempotent re-delete against the committed gen: no new generation
    assert(GlprSource.writeDvGeneration(root, name, Some(1L), (12L, 15L)).isEmpty)
    // a RACING writer's uncommitted gen is ahead of the manifest
    // (curGen=None simulates a stale committed view): the next write
    // must land on gen 2 and its content must be a SUPERSET — union of
    // the newest on-disk mask and the new range, never a replace
    assert(GlprSource.writeDvGeneration(root, name, None, (30L, 39L)) === Some(2L))
    val g2 = GlprSource.resolveDv(root, name, Some(2L), pinned = true)
    assert(g2.toSeq === Seq(10L, 19L, 30L, 39L),
      s"gen 2 must union gen 1's ranges, got ${g2.toSeq}")
    // pre-existing target generation file (the createLink collision
    // path): the writer may not overwrite it — it retries onto the
    // NEXT gen, again as a superset of the colliding content
    val g3 = GlprSource.dvGenFile(root, name, 3L)
    java.nio.file.Files.write(g3.toPath, "70 79".getBytes("UTF-8"))
    assert(GlprSource.writeDvGeneration(root, name, Some(2L), (50L, 59L)) === Some(4L))
    assert(new String(java.nio.file.Files.readAllBytes(g3.toPath), "UTF-8")
      .trim === "70 79", "collision must never overwrite an existing generation")
    val g4 = GlprSource.resolveDv(root, name, Some(4L), pinned = true)
    assert(g4.toSeq === Seq(10L, 19L, 30L, 39L, 50L, 59L, 70L, 79L),
      s"gen 4 must union the colliding gen 3 and the committed mask, got ${g4.toSeq}")
  }

  test("q344 predicate MoR delete: row-exact masks, one version, idempotent, capped toward COW") {
    val root = TempDirs.scratch("graft-glpr-valuemor").toString
    append(root, (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "de" else "en", "s", s"t-$i")))   // shard A
    append(root, (60L until 120L).map(i =>
      (i, "en", "s", s"t-$i")))                             // shard B: no de
    val v0 = GlprSource.listManifestVersions(root).last
    val changed = GlprMaintenance.deleteWhereMergeOnRead(
      spark, root, "lang", Set("de"))
    // only the shard that held matching rows gets a generation, the
    // whole delete is ONE minted version, and reads are row-exact
    assert(changed.size === 1)
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
    assert(liveIds(root) === (0L until 120L).filter(_ % 3 != 0).toSet
      ++ (60L until 120L).filter(_ % 3 == 0))
    // time travel: the pre-delete version still reads unmasked
    assert(spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", v0.toString).load(root).count() === 120L)
    // idempotence: the masked rows no longer match (the matching job
    // reads THROUGH the mask), so a re-delete mints nothing
    assert(GlprMaintenance.deleteWhereMergeOnRead(
      spark, root, "lang", Set("de")) === Seq.empty)
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
    // CDF emits exactly the value-deleted rows as deletes (dv-delta)
    val cdf = spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", v0.toString)
      .option("changeMode", "cdf").load(root)
      .select("_change_type", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cdf === (0L until 60L).filter(_ % 3 == 0)
      .map(("delete", _)).toSet)
    // the cap refuses loudly toward the COW path
    val e = intercept[IllegalArgumentException] {
      GlprMaintenance.deleteWhereMergeOnRead(
        spark, root, "lang", Set("en"), cap = 10L)
    }
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
    // …and a refused delete left no trace (no gens, no version)
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
  }

  test("q361 MoR update: equals COW, bytes bounded by matches, one version, TT/CDF compose, idempotent, capped") {
    val root = TempDirs.scratch("graft-glpr-morupdate").toString
    append(root, (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "de" else "en", "s", s"t-$i")))   // shard A
    append(root, (60L until 120L).map(i =>
      (i, "en", "s", s"t-$i")))                             // shard B: no de
    val v0 = GlprSource.listManifestVersions(root).last
    val dataBefore = GlprSource.listShardFiles(root)
      .map(f => f.getName -> f.length()).toMap
    val (masked, appended) = GlprMaintenance.updateWhereMergeOnRead(
      spark, root, "lang", Set("de"), "lang", "und")
    // only the shard holding matches is masked; replacements appended;
    // the WHOLE update is ONE minted version
    assert(masked.size === 1 && appended.nonEmpty)
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
    // bytes-rewritten bounded by the matches: every pre-update data
    // file is still on disk, byte-identical in length — nothing was
    // copy-on-write rewritten
    val dataAfter = GlprSource.listShardFiles(root)
      .map(f => f.getName -> f.length()).toMap
    assert(dataBefore.forall { case (n, len) => dataAfter.get(n).contains(len) },
      "MoR update must not rewrite existing shards")
    assert((dataAfter.keySet -- dataBefore.keySet) === appended.toSet)
    // the live view equals the COW result: same rows through the SQL
    // UPDATE (SupportsRowLevelOperations group-based rewrite)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val cowRoot = TempDirs.scratch("graft-glpr-morupdate-cow").toString
    val s2 = catalogSession("glpr_muc", cowRoot)
    s2.sql("CREATE TABLE glpr_muc.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING)")
    append(s"$cowRoot/ns/t", (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "de" else "en", "s", s"t-$i")))
    append(s"$cowRoot/ns/t", (60L until 120L).map(i => (i, "en", "s", s"t-$i")))
    s2.sql("UPDATE glpr_muc.ns.t SET lang = 'und' WHERE lang IN ('de')")
    assert(rows(spark.read.format("graft.io.GlprSource").load(root))
      === rows(s2.table("glpr_muc.ns.t")),
      "merge-on-read UPDATE must hash-match the copy-on-write result")
    // time travel: the pre-update version still reads the old values
    assert(spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", v0.toString).load(root)
      .filter($"lang" === "de").count() === 20L)
    // CDF across the flip: the victims as deletes, replacements as
    // inserts, in the SAME version step
    val cdf = spark.read.format("graft.io.GlprSource")
      .option("changesFromVersion", v0.toString)
      .option("changeMode", "cdf").load(root)
      .select("_change_type", "doc_id", "lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val victims = (0L until 60L).filter(_ % 3 == 0)
    assert(cdf === (victims.map(i => ("delete", i, "de"))
      ++ victims.map(i => ("insert", i, "und"))).toSet)
    // idempotence: nothing matches any more (the predicate column was
    // the assigned column), so a re-run mints nothing
    assert(GlprMaintenance.updateWhereMergeOnRead(
      spark, root, "lang", Set("de"), "lang", "und") === ((Seq.empty, Seq.empty)))
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
    // the cap refuses loudly toward COW and leaves no trace
    val e = intercept[IllegalArgumentException] {
      GlprMaintenance.updateWhereMergeOnRead(
        spark, root, "lang", Set("en"), "source", "x", cap = 10L)
    }
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
    // materialize composes: masks fold, the live view is unchanged
    val before = rows(spark.read.format("graft.io.GlprSource").load(root))
    GlprMaintenance.materializeDeletes(spark, root): Unit
    assert(rows(spark.read.format("graft.io.GlprSource").load(root)) === before)
  }

  test("q365 MoR merge: upsert-by-key, duplicate source keys refuse, procedures reachable") {
    val root = TempDirs.scratch("graft-glpr-mormerge-spec").toString
    append(root, (0L until 100L).map(i => (i, "en", "s", s"old-$i")))
    val v0 = GlprSource.listManifestVersions(root).last
    val src = (50L until 150L).map(i => (i, "en", "cdc", s"new-$i"))
      .toDF("doc_id", "lang", "source", "text")
    val (masked, appended) = GlprMaintenance.mergeMergeOnRead(spark, root, src)
    assert(masked.nonEmpty && appended.nonEmpty)
    assert(GlprSource.listManifestVersions(root).last === v0 + 1)
    val got = spark.read.format("graft.io.GlprSource").load(root)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === ((0L until 50L).map(i => (i, s"old-$i"))
      ++ (50L until 150L).map(i => (i, s"new-$i"))).toSet,
      "matched keys must carry the NEW row exactly once, inserts once")
    // SQL MERGE's cardinality rule: duplicate source keys refuse
    val dup = intercept[IllegalArgumentException] {
      GlprMaintenance.mergeMergeOnRead(spark, root,
        Seq((1L, "en", "x", "a"), (1L, "en", "x", "b"))
          .toDF("doc_id", "lang", "source", "text"))
    }
    assert(dup.getMessage.contains("duplicate doc_id"), dup.getMessage)
    // the SQL front door: CALL sys.update_where_mor / sys.merge_mor
    val pRoot = TempDirs.scratch("graft-glpr-morproc").toString
    val s3 = catalogSession("glpr_mor", pRoot)
    s3.sql("CREATE TABLE glpr_mor.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING)")
    s3.sql("CREATE TABLE glpr_mor.ns.src (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING)")
    append(s"$pRoot/ns/t", (0L until 40L).map(i =>
      (i, if (i < 10L) "de" else "en", "s", s"t-$i")))
    append(s"$pRoot/ns/src", (30L until 60L).map(i => (i, "en", "c", s"n-$i")))
    val upd = s3.sql(
      "CALL glpr_mor.sys.update_where_mor('ns.t', 'lang', 'de', 'lang', 'und')")
      .head()
    assert(upd.getLong(0) >= 1L && upd.getLong(1) >= 1L, upd.toString)
    assert(s3.sql("SELECT count(*) FROM glpr_mor.ns.t WHERE lang = 'und'")
      .head().getLong(0) === 10L)
    val mrg = s3.sql("CALL glpr_mor.sys.merge_mor('ns.t', 'ns.src')").head()
    assert(mrg.getLong(0) >= 1L && mrg.getLong(1) >= 1L, mrg.toString)
    assert(s3.sql("SELECT count(*) FROM glpr_mor.ns.t").head().getLong(0) === 60L)
    assert(s3.sql("SELECT count(*) FROM glpr_mor.ns.t WHERE source = 'c'")
      .head().getLong(0) === 30L, "matched rows must carry the source version")
    // CHECK constraints gate the MoR DML write path like every other
    // (round-20 review: the staged replacement write compiles the
    // table marker's constraints; a violating assignment refuses WHOLE)
    s3.sql("CALL glpr_mor.sys.add_constraint('ns.t', 'langs', " +
      "'lang IN (''en'', ''und'')')").collect(): Unit
    val ck = intercept[Exception](s3.sql(
      "CALL glpr_mor.sys.update_where_mor('ns.t', 'lang', 'en', 'lang', 'xx')")
      .collect())
    assert(ck.getMessage.contains("langs") || ck.getMessage.contains("CHECK"),
      ck.getMessage)
    assert(s3.sql("SELECT count(*) FROM glpr_mor.ns.t WHERE lang = 'xx'")
      .head().getLong(0) === 0L, "a refused MoR update must land NOTHING")
    // the changeset cap fires BEFORE the key-set broadcast (round-20
    // review), bounding appended bytes and executor memory alike
    val big = (0L until 50L).map(i => (i, "en", "x", s"b-$i"))
      .toDF("doc_id", "lang", "source", "text")
    val capE = intercept[IllegalArgumentException] {
      GlprMaintenance.mergeMergeOnRead(spark, root, big, cap = 10L)
    }
    assert(capE.getMessage.contains("source"), capE.getMessage)
    // PARTITIONED tables refuse toward COW: staged replacements would
    // carry no partition values and silently void the q353/q358
    // zero-exchange contracts (the compaction-fix posture)
    s3.sql("CREATE TABLE glpr_mor.ns.pt (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING) PARTITIONED BY (bucket(4, doc_id))")
    s3.sql("INSERT INTO glpr_mor.ns.pt SELECT doc_id, lang, source, text " +
      "FROM glpr_mor.ns.t")
    val pe = intercept[Exception](s3.sql(
      "CALL glpr_mor.sys.update_where_mor('ns.pt', 'lang', 'en', 'lang', 'de')")
      .collect())
    assert(pe.getMessage.contains("partitioned"), pe.getMessage)
    val pm = intercept[Exception](
      GlprMaintenance.mergeMergeOnRead(spark,
        new java.io.File(pRoot, "ns/pt").getAbsolutePath, big))
    assert(pm.getMessage.contains("partitioned"), pm.getMessage)
  }

  test("q366 branch-scoped MoR update: invisible to main, publish adopts the fix, drop discards it") {
    val root = TempDirs.scratch("graft-glpr-branchmorupd").toString
    append(root, (0L until 40L).map(i => (i, "en", "s", s"m-$i")))
    val mainRows = spark.read.format("graft.io.GlprSource").load(root)
      .collect().map(_.toSeq).toSet
    // branch A: staged mislabels fixed in place, then PUBLISHED
    GlprSource.createBranch(root, "fx")
    (100L until 120L).map(i =>
      (i, if (i % 2 == 0) "xx" else "de", "s", s"b-$i"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource")
      .option("branch", "fx").mode("append").save(root)
    val (masked, appended) = GlprMaintenance.updateWhereMergeOnRead(
      spark, root, "lang", Set("xx"), "lang", "und", branch = Some("fx"))
    assert(masked.nonEmpty && appended.nonEmpty)
    // the fix is a branch-chain commit: main sees NOTHING of it
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .collect().map(_.toSeq).toSet === mainRows,
      "branch-scoped update leaked into main before publish")
    // the branch head reads the fix (masks + replacements)
    val branchLangs = spark.read.format("graft.io.GlprSource")
      .option("branch", "fx").load(root)
      .filter($"doc_id" >= 100L).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(branchLangs === (100L until 120L)
      .map(i => (i, if (i % 2 == 0) "und" else "de")).toSet)
    GlprSource.publishBranch(root, "fx"): Unit
    val pubLangs = spark.read.format("graft.io.GlprSource").load(root)
      .filter($"doc_id" >= 100L).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pubLangs === branchLangs,
      "publish must adopt the branch fix exactly (masks translated)")
    // branch B: same shape, DROPPED — the fix (masks + replacement
    // shards) discards whole, and vacuum reclaims the orphans
    GlprSource.createBranch(root, "junk")
    (200L until 210L).map(i => (i, "xx", "s", s"j-$i"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.format("graft.io.GlprSource")
      .option("branch", "junk").mode("append").save(root)
    GlprMaintenance.updateWhereMergeOnRead(
      spark, root, "lang", Set("xx"), "lang", "und",
      branch = Some("junk")): Unit
    val afterPublish = spark.read.format("graft.io.GlprSource").load(root)
      .collect().map(_.toSeq).toSet
    GlprSource.dropBranch(root, "junk"): Unit
    assert(GlprMaintenance.vacuum(root) >= 1,
      "dropped-branch staging + replacements must vacuum away")
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .collect().map(_.toSeq).toSet === afterPublish,
      "dropping the branch must leave main byte-identical")
    // merge completes the branch DML trio: a branch-scoped UPSERT
    // (matched keys re-rowed, new keys inserted) stays invisible to
    // main until publish, exactly like the update and the deletes
    GlprSource.createBranch(root, "ups")
    val beforeUps = spark.read.format("graft.io.GlprSource").load(root)
      .collect().map(_.toSeq).toSet
    val (m2, a2) = GlprMaintenance.mergeMergeOnRead(spark, root,
      ((30L until 35L).map(i => (i, "en", "cdc", s"upd-$i"))
        ++ (300L until 305L).map(i => (i, "de", "cdc", s"ins-$i")))
        .toDF("doc_id", "lang", "source", "text"),
      branch = Some("ups"))
    assert(m2.nonEmpty && a2.nonEmpty)
    assert(spark.read.format("graft.io.GlprSource").load(root)
      .collect().map(_.toSeq).toSet === beforeUps,
      "branch-scoped merge leaked into main before publish")
    GlprSource.publishBranch(root, "ups"): Unit
    val upsRows = spark.read.format("graft.io.GlprSource").load(root)
      .filter($"doc_id".isin((30L until 35L) ++ (300L until 305L): _*))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(upsRows === ((30L until 35L).map(i => (i, s"upd-$i"))
      ++ (300L until 305L).map(i => (i, s"ins-$i"))).toSet,
      "published upsert: matched keys re-rowed once, inserts once")
  }

  test("concurrent MoR deletes serialize: no lost masks, generations are supersets") {
    // the round-18 CAS protocol under real contention: 8 threads race
    // disjoint merge-on-read deletes against ONE shard — put-if-absent
    // generation files (losers re-union the newest on-disk mask) plus
    // the higher-gen-wins commit closure must lose NOTHING
    val root = TempDirs.scratch("graft-glpr-dv-race").toString
    append(root, (0L until 1000L).map(i => (i, "en", "s", s"t-$i")))
    val ranges = (0 until 8).map(i => (i * 100L, i * 100L + 9L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val fs = ranges.map { case (lo, hi) =>
        pool.submit(new Runnable {
          override def run(): Unit =
            GlprMaintenance.deleteIdRangeMergeOnRead(root, lo, hi): Unit
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    // every delete landed — the resurrection the ADVICE pair warned of
    val doomed = ranges.flatMap { case (lo, hi) => lo to hi }.toSet
    assert(liveIds(root) === (0L until 1000L).toSet -- doomed,
      "a concurrent MoR delete was lost")
    // the committed generation's mask covers every range, and every
    // generation is a superset of its predecessor (the CAS invariant
    // the commit closure's max() relies on)
    val line = GlprSource.readManifest(root).get.head
    val name = GlprSource.entryName(line)
    val gen = GlprSource.entryDvGen(line).get
    val finalMask = GlprSource.resolveDv(root, name, Some(gen), pinned = true)
    assert(doomed.forall(id => GlprSource.dvMasked(finalMask, id)))
    (1L until gen).foreach { g =>
      val a = GlprSource.resolveDv(root, name, Some(g), pinned = true)
      val b = GlprSource.resolveDv(root, name, Some(g + 1), pinned = true)
      val idsA = a.grouped(2).flatMap(r => r(0) to r(1)).toSet
      val idsB = b.grouped(2).flatMap(r => r(0) to r(1)).toSet
      assert(idsA.subsetOf(idsB), s"generation ${g + 1} must extend $g")
    }
    // the pre-delete version reads unmasked through the churn
    assert(spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", "1").load(root).count() === 1000L)
  }

  test("MoR delete post-commit guard: a gen lost to a concurrent rewrite fails loudly (round-18 ADVICE)") {
    val root = TempDirs.scratch("graft-glpr-toctou").toString
    append(root, (0L until 100L).map(i => (i, "en", "s", s"a-$i")))
    // the normal path runs the guard and passes
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 0L, 5L).size === 1)
    val name = GlprSource.committedEntries(root).map(GlprSource.entryName).head
    // a shard retired between matching and commit: its line vanished,
    // so the written gen was silently dropped — the guard must refuse
    val e = intercept[IllegalArgumentException] {
      GlprMaintenance.requireGensCommitted(root,
        Map("part-0000009999.glpr" -> 1L))
    }
    assert(e.getMessage.contains("concurrent"), e.getMessage)
    // a committed gen BELOW the written one (line replaced by a stale
    // rewrite) is the same data-loss shape
    val e2 = intercept[IllegalArgumentException] {
      GlprMaintenance.requireGensCommitted(root, Map(name -> 99L))
    }
    assert(e2.getMessage.contains(name), e2.getMessage)
  }

  test("q345 write-audit-publish: branch staging is invisible, publish is one commit, drop reclaims") {
    val root = TempDirs.scratch("graft-glpr-wap").toString
    append(root, (0L until 50L).map(i => (i, "en", "s", s"base-$i"))) // main v1
    GlprSource.createBranch(root, "audit")
    intercept[IllegalArgumentException](GlprSource.createBranch(root, "audit"))
    // stage a good batch onto the audit branch, later a bad batch onto
    // a second branch — the helper takes the branch explicitly so the
    // published 'audit' chain stays clean (round-18 ADVICE)
    def stage(branch: String, rows: Seq[(Long, String, String, String)]): Unit = {
      import spark.implicits._
      rows.toDF("doc_id", "lang", "source", "text").coalesce(1)
        .write.format("graft.io.GlprSource").option("branch", branch)
        .mode("append").save(root)
    }
    stage("audit", (100L until 150L).map(i => (i, "en", "s", s"good-$i")))
    // MAIN is untouched: live readers see none of the staging
    assert(liveIds(root) === (0L until 50L).toSet,
      "branch staging leaked into the live view")
    assert(GlprSource.listManifestVersions(root).size === 1)
    // the AUDIT read sees fork + staging
    def branchIds(): Set[Long] = spark.read.format("graft.io.GlprSource")
      .option("branch", "audit").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(branchIds() === ((0L until 50L) ++ (100L until 150L)).toSet)
    // vacuum must NOT reclaim branch-owned staging; rebuild must not
    // adopt it into main
    GlprMaintenance.vacuum(root): Unit
    GlprSource.rebuildManifest(root)
    assert(liveIds(root) === (0L until 50L).toSet,
      "rebuild adopted unpublished branch staging into main")
    assert(branchIds() === ((0L until 50L) ++ (100L until 150L)).toSet,
      "vacuum reclaimed branch-owned staging")
    // PUBLISH: one main commit adopts the branch head
    assert(GlprSource.publishBranch(root, "audit") === 2)
    assert(liveIds(root) === ((0L until 50L) ++ (100L until 150L)).toSet)
    // idempotent re-publish of the untouched branch: main already
    // equals the branch head, so the no-op flip is allowed and mints
    // nothing
    val versionsAfterPublish = GlprSource.listManifestVersions(root).size
    assert(GlprSource.publishBranch(root, "audit") === 2)
    assert(GlprSource.listManifestVersions(root).size === versionsAfterPublish)
    // a FAILED audit: stage garbage on a second branch, drop it, vacuum
    GlprSource.createBranch(root, "bad")
    stage("bad", (900L until 950L).map(i => (i, "xx", "s", s"junk-$i")))
    GlprSource.dropBranch(root, "bad"): Unit
    val reclaimed = GlprMaintenance.vacuum(root)
    assert(reclaimed >= 1, "dropped-branch staging must vacuum away")
    // main never saw the garbage; the published view is intact
    assert(liveIds(root) === ((0L until 50L) ++ (100L until 150L)).toSet)
    // FAST-FORWARD guard: 'audit' forked at main v1, main is now at v2
    // (the publish) — staging more onto the stale branch and
    // re-publishing must REFUSE, not adopt (a verbatim adopt would also
    // be how junk staged post-publish could leak into main)
    stage("audit", (500L until 510L).map(i => (i, "en", "s", s"late-$i")))
    val ff = intercept[IllegalArgumentException] {
      GlprSource.publishBranch(root, "audit")
    }
    assert(ff.getMessage.contains("main advanced"), ff.getMessage)
    assert(liveIds(root) === ((0L until 50L) ++ (100L until 150L)).toSet,
      "refused publish must leave main untouched")
    // overwrite semantics on a branch refuse loudly
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, "en", "s", "x")).toDF("doc_id", "lang", "source", "text")
        .write.format("graft.io.GlprSource").option("branch", "audit")
        .mode("overwrite").save(root)
    }
    assert(e.getMessage.contains("APPEND-only"), e.getMessage)
    // all-digit branch names are unreachable from SQL VERSION AS OF —
    // refused at creation (round-18 ADVICE)
    val digits = intercept[IllegalArgumentException] {
      GlprSource.createBranch(root, "2024")
    }
    assert(digits.getMessage.contains("all-digit"), digits.getMessage)
  }

  test("q346 branch-scoped MoR delete: invisible to main, publish translates masks, drop discards them") {
    val root = TempDirs.scratch("graft-glpr-branchmor").toString
    append(root, (0L until 50L).map(i => (i, "en", "s", s"base-$i")))   // main v1
    // a pre-existing MAIN mask, so fork lines carry dv= tokens too
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 0L, 4L).nonEmpty) // v2
    GlprSource.createBranch(root, "fix")
    (100L until 150L).map(i => (i, if (i < 140) "en" else "xx", "s", s"staged-$i"))
      .toDF("doc_id", "lang", "source", "text").coalesce(1)
      .write.format("graft.io.GlprSource").option("branch", "fix")
      .mode("append").save(root)
    def branchIds(): Set[Long] = spark.read.format("graft.io.GlprSource")
      .option("branch", "fix").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // BRANCH range delete hits staged rows AND fork rows; main untouched
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 120L, 129L,
      Some("fix")).nonEmpty)
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 40L, 44L,
      Some("fix")).nonEmpty)
    // idempotent branch re-delete: nothing changes, no new chain version
    val chainLen = GlprSource.listBranchVersions(root, "fix").size
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 120L, 129L,
      Some("fix")) === Seq.empty)
    assert(GlprSource.listBranchVersions(root, "fix").size === chainLen)
    // BRANCH predicate delete (the q344 shape, branch-scoped)
    assert(GlprMaintenance.deleteWhereMergeOnRead(spark, root, "lang",
      Set("xx"), branch = Some("fix")).nonEmpty)
    val expectBranch = ((5L until 40L) ++ (45L until 50L) ++
      (100L until 120L) ++ (130L until 140L)).toSet
    assert(branchIds() === expectBranch)
    // MAIN saw none of it — live view AND its mask state are untouched
    assert(liveIds(root) === (5L until 50L).toSet,
      "branch-scoped MoR delete leaked into the live view")
    assert(GlprSource.readManifest(root).get
      .forall(l => GlprSource.entryDvbGen(l).isEmpty))
    // PUBLISH translates dvb masks into shared dv generations
    GlprSource.publishBranch(root, "fix"): Unit
    assert(liveIds(root) === expectBranch)
    assert(GlprSource.readManifest(root).get
      .forall(l => GlprSource.entryDvbGen(l).isEmpty),
      "no dvb token may leak into main")
    // time travel: the pre-publish main version still reads its own mask
    val v2 = spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", "2").load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v2 === (5L until 50L).toSet)
    // re-publish of the untouched (already-translated) branch is an
    // explicit no-op — not a fast-forward refusal, not a new version
    val nVersions = GlprSource.listManifestVersions(root).size
    GlprSource.publishBranch(root, "fix"): Unit
    assert(GlprSource.listManifestVersions(root).size === nVersions)
    assert(liveIds(root) === expectBranch)
    GlprSource.dropBranch(root, "fix"): Unit
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.contains(".dv.b-fix.")),
      "dropBranch must reclaim the branch dv namespace")
    // an ABANDONED branch's masks must never phantom-apply to main:
    // branch-delete rows, drop the branch, then a main MoR delete —
    // the branch-deleted rows stay live
    GlprSource.createBranch(root, "aband")
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 10L, 14L,
      Some("aband")).nonEmpty)
    GlprSource.dropBranch(root, "aband"): Unit
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 30L, 31L).nonEmpty)
    assert((10L until 15L).toSet.subsetOf(liveIds(root)),
      "dropped-branch masks phantom-applied to a later main delete")
  }

  test("q348 compaction folds live masks: merged shard mask-free, history exact, no resurrection") {
    val root = TempDirs.scratch("graft-glpr-maskfold").toString
    append(root, (0L until 100L).map(i => (i, "en", "s", s"a-$i")))   // v1
    append(root, (100L until 200L).map(i => (i, "de", "s", s"b-$i"))) // v2
    append(root, (200L until 300L).map(i => (i, "en", "s", s"c-$i"))) // v3
    // masks: straddles shard B/C; B also value-masked via the where path
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(root, 150L, 249L).size === 2) // v4
    val merged = GlprMaintenance.compact(root, Long.MaxValue / 2)
    assert(merged.length === 1 && merged.head.memberNames.length === 3)
    // the fold: merged rows = survivors only; live manifest mask-free
    assert(merged.head.rows === 200L)
    val live = GlprSource.readManifest(root).get
    assert(live === Seq(merged.head.mergedName))
    assert(GlprSource.entryDvGen(live.head).isEmpty)
    assert(liveIds(root) === ((0L until 150L) ++ (250L until 300L)).toSet)
    // merged sidecar is exact post-mask (bounds cover survivors)
    val m = GlprSource.readMeta(new java.io.File(root, merged.head.mergedName)).get
    assert(m.rows === 200L && m.bounds.contains((0L, 299L)))
    // history: pre-delete version reads unmasked, the delete's own
    // version applies the recorded generations, across the compaction
    def idsAt(v: Long): Set[Long] = spark.read.format("graft.io.GlprSource")
      .option("versionAsOf", v.toString).load(root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idsAt(3L) === (0L until 300L).toSet)
    assert(idsAt(4L) === ((0L until 150L) ++ (250L until 300L)).toSet)
    // retention: expire + vacuum reclaims the members AND their dv
    // generations; the merged shard keeps reading — and nothing
    // resurrects through a rebuild
    GlprMaintenance.expireVersions(root, keepLast = 1): Unit
    assert(GlprMaintenance.vacuum(root) >= 3)
    assert(!new java.io.File(root).listFiles().exists(_.getName.contains(".dv.")),
      "retired members' dv generations must vacuum away")
    GlprSource.rebuildManifest(root)
    assert(liveIds(root) === ((0L until 150L) ++ (250L until 300L)).toSet)
    // a racing MoR delete that lands a NEWER generation between fold
    // and commit refuses loudly instead of silently dropping the delete
    // (simulated through the commit-closure guard: the folded gen is
    // stale the moment a fresh gen is written for a member)
    val root2 = TempDirs.scratch("graft-glpr-maskfold-race").toString
    append(root2, (0L until 50L).map(i => (i, "en", "s", s"x-$i")))
    append(root2, (50L until 100L).map(i => (i, "en", "s", s"y-$i")))
    GlprMaintenance.deleteIdRangeMergeOnRead(root2, 10L, 19L): Unit
    // fold+commit normally succeeds; to pin the guard, advance the gen
    // concurrently via a hand-built closure race: write gen, then compact
    // must either fold the NEW gen or refuse — both keep the delete
    GlprMaintenance.deleteIdRangeMergeOnRead(root2, 30L, 34L): Unit
    GlprMaintenance.compact(root2, Long.MaxValue / 2): Unit
    assert(liveIds(root2) === ((0L until 10L) ++ (20L until 30L) ++
      (35L until 100L)).toSet, "compaction lost a MoR delete")
  }

  test("a corrupted CDF checkpoint offset refuses loudly instead of rewinding") {
    val root = TempDirs.scratch("graft-glpr-cdf-offset").toString
    append(root, Seq((1L, "en", "s", "a")))
    val stream = new GlprCdfMicroBatchStream(root, GlprSource.schema, 0L)
    // well-formed offsets round-trip
    assert(stream.deserializeOffset("""{"v":7}""")
      .asInstanceOf[GlprCdfOffset].v === 7L)
    // corrupted / foreign checkpoint content must not silently rewind
    // the cursor to startingVersion (duplicate re-delivery of history)
    val e = intercept[IllegalArgumentException] {
      stream.deserializeOffset("""{"logOffset":3}""")
    }
    assert(e.getMessage.contains("refusing to rewind"), e.getMessage)
    intercept[IllegalArgumentException] { stream.deserializeOffset("garbage") }
  }

  test("append-mode incremental read names vacuumed removes in the cdf-refusal, not a CDF read error") {
    val root = TempDirs.scratch("graft-glpr-append-vacuumed").toString
    append(root, Seq((1L, "en", "s", "a"), (2L, "en", "s", "b"))) // v1
    append(root, Seq((3L, "en", "s", "c")))                       // v2
    GlprMaintenance.deleteIdRange(spark, root, 1L, 2L)            // v3 retires shard 1
    // simulate vacuum: the retired shard's bytes are gone
    val retired = GlprSource.versionShardNames(root, 1L).head
    assert(new java.io.File(root, retired).delete())
    val e = intercept[IllegalStateException] {
      spark.read.format("graft.io.GlprSource")
        .option("changesFromVersion", "1").load(root).count()
    }
    // the actionable append-only refusal — NOT the CDF planner's
    // "delete records cannot be reconstructed" (this read never needed
    // the removed file's bytes)
    assert(e.getMessage.contains("changeMode=cdf"), e.getMessage)
    assert(!e.getMessage.contains("cannot be reconstructed"), e.getMessage)
  }
}
