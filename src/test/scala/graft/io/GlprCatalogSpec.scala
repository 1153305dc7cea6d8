package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[GlprCatalog]] DDL/DML lifecycle over SQL — the contracts q298's
  * oracle (a single pipeline) cannot see: table listing, drop, rename,
  * alter gating, identifier hygiene, schema gating, external-shard
  * attach, and write-read parity through catalog identifiers.
  */
class GlprCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = {
    val r = TempDirs.scratch("graft-glpr-catspec").toString
    spark.conf.set("spark.sql.catalog.glpr_spec", "graft.io.GlprCatalog")
    spark.conf.set("spark.sql.catalog.glpr_spec.root", r)
    r
  }
  // touching `ddl` registers the catalog confs (root is lazy)
  private lazy val ddl = { root; "(doc_id BIGINT, lang STRING, source STRING, text STRING)" }

  test("CREATE / INSERT / SELECT round-trips through catalog identifiers only") {
    spark.sql(s"CREATE TABLE glpr_spec.ns1.t1 $ddl")
    Seq((1L, "en", "s", "hello"), (2L, "de", "s", "hallo"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("cat_in")
    spark.sql("INSERT INTO glpr_spec.ns1.t1 SELECT * FROM cat_in")
    val got = spark.sql("SELECT doc_id, lang, text FROM glpr_spec.ns1.t1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "en", "hello"), (2L, "de", "hallo")))
    // and the shard files really are GLPR, with sidecars
    val dir = new java.io.File(root, "ns1/t1")
    assert(dir.listFiles().exists(_.getName.endsWith(".glpr")))
    assert(dir.listFiles().exists(_.getName.endsWith(".glpr.meta")))
    spark.catalog.dropTempView("cat_in")
  }

  test("SHOW TABLES lists only marker-bearing dirs; DROP removes; rename moves data") {
    spark.sql(s"CREATE TABLE glpr_spec.ns2.a $ddl")
    spark.sql(s"CREATE TABLE glpr_spec.ns2.b $ddl")
    // a bare directory in the namespace is NOT a table
    new java.io.File(root, "ns2/not_a_table").mkdirs()
    val listed = spark.sql("SHOW TABLES IN glpr_spec.ns2")
      .select("tableName").as[String].collect().toSet
    assert(listed === Set("a", "b"))
    Seq((7L, "en", "s", "x")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("cat_in2")
    spark.sql("INSERT INTO glpr_spec.ns2.a SELECT * FROM cat_in2")
    spark.sql("ALTER TABLE glpr_spec.ns2.a RENAME TO ns2.a2")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns2.a2").head().getLong(0) === 1L)
    spark.sql("DROP TABLE glpr_spec.ns2.a2")
    assert(!new java.io.File(root, "ns2/a2").exists())
    assert(spark.sql("SHOW TABLES IN glpr_spec.ns2")
      .select("tableName").as[String].collect().toSet === Set("b"))
    spark.catalog.dropTempView("cat_in2")
  }

  test("CREATE TABLE rejects a non-GLPR schema and duplicate creation") {
    val e = intercept[Exception](
      spark.sql("CREATE TABLE glpr_spec.ns3.bad (a INT, b STRING)"))
    assert(e.getMessage.toLowerCase.contains("fixed schema")
      || e.getMessage.contains("glpr"), e.getMessage)
    spark.sql(s"CREATE TABLE glpr_spec.ns3.ok $ddl")
    intercept[Exception](spark.sql(s"CREATE TABLE glpr_spec.ns3.ok $ddl"))
  }

  test("identifier components that could escape the root are rejected") {
    ddl
    val e = intercept[Exception](
      new GlprCatalog {
        initialize("x", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("root", root)))
      }.tableExists(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array(".."), "evil")))
    assert(e.getMessage.contains("illegal"), e.getMessage)
  }

  test("ALTER: typed ADD COLUMN + RENAME on extras; drops/base-renames/type-changes reject") {
    spark.sql(s"CREATE TABLE glpr_spec.ns4.t $ddl")
    spark.sql("ALTER TABLE glpr_spec.ns4.t SET TBLPROPERTIES ('k'='v')")
    // round-17 schema evolution: appended nullable STRING is accepted;
    // round 18 adds the typed classes
    spark.sql("ALTER TABLE glpr_spec.ns4.t ADD COLUMN extra STRING")
    spark.sql("ALTER TABLE glpr_spec.ns4.t ADD COLUMN n BIGINT")
    spark.sql("ALTER TABLE glpr_spec.ns4.t ADD COLUMN score DOUBLE")
    assert(spark.table("glpr_spec.ns4.t").schema.map(f =>
      (f.name, f.dataType.simpleString)) === Seq(
      ("doc_id", "bigint"), ("lang", "string"), ("source", "string"),
      ("text", "string"), ("extra", "string"), ("n", "bigint"),
      ("score", "double")))
    // typed values round-trip through the string byte layout bit-exactly
    Seq((1L, "en", "s", "a", "x", 42L, 2.5),
        (2L, "en", "s", "b", null.asInstanceOf[String], 7L, 1.0E-7))
      .toDF("doc_id", "lang", "source", "text", "extra", "n", "score")
      .createOrReplaceTempView("alter_in")
    spark.sql("INSERT INTO glpr_spec.ns4.t SELECT * FROM alter_in")
    // RENAME COLUMN on an extra is metadata-only: the sidecar keeps the
    // physical name, reads under the new logical name stay exact
    spark.sql("ALTER TABLE glpr_spec.ns4.t RENAME COLUMN n TO n_tokens")
    val got = spark.sql(
      "SELECT doc_id, extra, n_tokens, score FROM glpr_spec.ns4.t")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(got === Set((1L, "x", 42L, 2.5), (2L, null, 7L, 1.0E-7)))
    // writes AFTER the rename land under the immutable physical name
    // (the sidecar token never changes) and read back with the rest
    Seq((3L, "de", "s", "c", "y", 9L, 0.5))
      .toDF("doc_id", "lang", "source", "text", "extra", "n_tokens", "score")
      .createOrReplaceTempView("alter_in2")
    spark.sql("INSERT INTO glpr_spec.ns4.t SELECT * FROM alter_in2")
    assert(spark.sql("SELECT sum(n_tokens) FROM glpr_spec.ns4.t")
      .head().getLong(0) === 58L)
    // drops, base-column renames, unsupported types still reject loudly
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.ns4.t ADD COLUMN d DECIMAL(10,2)"))
    assert(e1.getMessage.contains("STRING, BIGINT, DOUBLE"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.ns4.t DROP COLUMN text"))
    assert(e2.getMessage.contains("base column"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.ns4.t RENAME COLUMN text TO body"))
    assert(e3.getMessage.contains("base column"), e3.getMessage)
    spark.catalog.dropTempView("alter_in")
    spark.catalog.dropTempView("alter_in2")
  }

  test("q347 DROP COLUMN: tombstone excludes on mixed shards, burns names, guards the partition column") {
    spark.sql(s"CREATE TABLE glpr_spec.nsd.t $ddl")
    spark.sql("ALTER TABLE glpr_spec.nsd.t ADD COLUMN note STRING")
    spark.sql("ALTER TABLE glpr_spec.nsd.t ADD COLUMN keep BIGINT")
    Seq((1L, "en", "s", "a", "x", 10L), (2L, "de", "s", "b", "y", 20L))
      .toDF("doc_id", "lang", "source", "text", "note", "keep")
      .createOrReplaceTempView("drop_in")
    spark.sql("INSERT INTO glpr_spec.nsd.t SELECT * FROM drop_in")
    // rename THEN drop: the tombstone burns the dropped logical name
    // AND the original physical name the shard bytes live under
    spark.sql("ALTER TABLE glpr_spec.nsd.t RENAME COLUMN note TO memo")
    spark.sql("ALTER TABLE glpr_spec.nsd.t DROP COLUMN memo")
    assert(spark.table("glpr_spec.nsd.t").columns.toSeq ===
      Seq("doc_id", "lang", "source", "text", "keep"))
    // the carrying shard byte-skips the dead field; the surviving
    // extra stays exact
    val got = spark.sql("SELECT doc_id, keep FROM glpr_spec.nsd.t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 20L)))
    // re-adding either burned name refuses; a fresh name is fine
    val r1 = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.nsd.t ADD COLUMN memo STRING"))
    assert(r1.getMessage.contains("dropped"), r1.getMessage)
    val r2 = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.nsd.t ADD COLUMN note STRING"))
    assert(r2.getMessage.contains("dropped"), r2.getMessage)
    spark.sql("ALTER TABLE glpr_spec.nsd.t ADD COLUMN note2 STRING")
    // ...and a burned name may not re-enter through RENAME either
    val r2b = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.nsd.t RENAME COLUMN note2 TO memo"))
    assert(r2b.getMessage.contains("dropped"), r2b.getMessage)
    // post-drop inserts carry the narrowed (then re-widened) schema
    Seq((3L, "fr", "s", "c", 30L, "z"))
      .toDF("doc_id", "lang", "source", "text", "keep", "note2")
      .createOrReplaceTempView("drop_in2")
    spark.sql("INSERT INTO glpr_spec.nsd.t SELECT * FROM drop_in2")
    assert(spark.sql("SELECT sum(keep) FROM glpr_spec.nsd.t")
      .head().getLong(0) === 60L)
    // unknown column: plain DROP errors, IF EXISTS no-ops
    intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.nsd.t DROP COLUMN nosuch")): Unit
    spark.sql("ALTER TABLE glpr_spec.nsd.t DROP COLUMN IF EXISTS nosuch")
    // the partition-driving column refuses to drop
    spark.sql("CREATE TABLE glpr_spec.nsd.p (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING, day STRING) PARTITIONED BY (days(day))")
    val r4 = intercept[Exception](
      spark.sql("ALTER TABLE glpr_spec.nsd.p DROP COLUMN day"))
    assert(r4.getMessage.contains("partition transform"), r4.getMessage)
    spark.catalog.dropTempView("drop_in")
    spark.catalog.dropTempView("drop_in2")
  }

  test("INSERT OVERWRITE truncates committed shards and sidecars, then writes fresh") {
    spark.sql(s"CREATE TABLE glpr_spec.ns6.ow $ddl")
    Seq((1L, "en", "s", "old-a"), (2L, "en", "s", "old-b"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("ow_in1")
    spark.sql("INSERT INTO glpr_spec.ns6.ow SELECT * FROM ow_in1")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns6.ow").head().getLong(0) === 2L)
    Seq((9L, "de", "s", "new-only"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("ow_in2")
    spark.sql("INSERT OVERWRITE glpr_spec.ns6.ow SELECT * FROM ow_in2")
    val got = spark.sql("SELECT doc_id, text FROM glpr_spec.ns6.ow")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((9L, "new-only")), s"overwrite must replace, not append: $got")
    // stale sidecars are gone too — the metadata-only count agrees
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns6.ow").head().getLong(0) === 1L)
    spark.catalog.dropTempView("ow_in1"); spark.catalog.dropTempView("ow_in2")
  }

  test("metadata-only DELETE retires shard-aligned ranges; straddling predicates fail loudly") {
    spark.sql(s"CREATE TABLE glpr_spec.ns7.del $ddl")
    (0L until 200L).map(i => (i, "en", "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text")
      .repartitionByRange(2, col("doc_id")) // shards [0,100), [100,200)
      .createOrReplaceTempView("del_in")
    spark.sql("INSERT INTO glpr_spec.ns7.del SELECT * FROM del_in")
    val dir = new java.io.File(root, "ns7/del")
    assert(dir.listFiles().count(_.getName.endsWith(".glpr")) === 2)
    // straddling predicate (refused until round 17): routes to the
    // group-based copy-on-write rewrite — non-matching rows of the
    // rewritten shard are COPIED, nothing else is touched
    spark.sql("DELETE FROM glpr_spec.ns7.del WHERE doc_id < 50")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns7.del").head().getLong(0) === 150L)
    assert(spark.sql("SELECT min(doc_id) FROM glpr_spec.ns7.del").head().getLong(0) === 50L)
    // shard-aligned predicate: whole-shard RETIRE — dropped from the
    // live manifest in one commit, files kept for the older versions
    spark.sql("DELETE FROM glpr_spec.ns7.del WHERE doc_id < 100")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns7.del").head().getLong(0) === 100L)
    assert(dir.listFiles().count(_.getName.endsWith(".glpr")) === 3,
      "retired shards (2 originals + the COW survivor) stay on disk")
    assert(spark.sql("SELECT min(doc_id) FROM glpr_spec.ns7.del").head().getLong(0) === 100L)
    // time travel ACROSS both deletes: version 1 = the original insert
    assert(spark.sql(
      "SELECT count(*) FROM glpr_spec.ns7.del VERSION AS OF 1")
      .head().getLong(0) === 200L)
    // expire + vacuum reclaims every retired file, live view untouched
    spark.sql("CALL glpr_spec.sys.expire_versions('ns7.del', 1)").collect()
    assert(spark.sql("CALL glpr_spec.sys.vacuum('ns7.del')").head().getLong(0) >= 1L)
    assert(dir.listFiles().count(_.getName.endsWith(".glpr")) === 1)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns7.del").head().getLong(0) === 100L)
    spark.catalog.dropTempView("del_in")
  }

  test("SQL UPDATE and MERGE INTO: group-based copy-on-write, row-exact, one flip each") {
    spark.sql(s"CREATE TABLE glpr_spec.ns10.dml $ddl")
    (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "de", "s", s"t-$i"))
      .toDF("doc_id", "lang", "source", "text")
      .repartitionByRange(2, col("doc_id"))
      .createOrReplaceTempView("dml_in")
    spark.sql("INSERT INTO glpr_spec.ns10.dml SELECT * FROM dml_in")
    val dir = new java.io.File(root, "ns10/dml")
    // UPDATE: only the matching rows change; the replaced shard's
    // non-matching rows are copied (the COW data-loss pin)
    spark.sql("UPDATE glpr_spec.ns10.dml SET source = 'u', " +
      "text = concat(text, '!') WHERE doc_id < 30")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns10.dml")
      .head().getLong(0) === 200L, "non-matching rows of replaced shards survive")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns10.dml WHERE source = 'u'")
      .head().getLong(0) === 30L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns10.dml " +
      "WHERE doc_id < 30 AND text NOT LIKE '%!'").head().getLong(0) === 0L)
    // the UPDATE was ONE commit; time travel reads the pre-update state
    val vs = GlprSource.listManifestVersions(dir.getAbsolutePath)
    assert(spark.sql(s"SELECT count(*) FROM glpr_spec.ns10.dml " +
      s"VERSION AS OF ${vs.length - 1} WHERE source = 'u'")
      .head().getLong(0) === 0L)
    // MERGE: matched update + not-matched insert, one commit
    (190L until 210L).map(i => (i, "fr", "m", s"m-$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("dml_up")
    spark.sql("""MERGE INTO glpr_spec.ns10.dml t USING dml_up u
      ON t.doc_id = u.doc_id
      WHEN MATCHED THEN UPDATE SET t.source = 'merged', t.text = u.text
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns10.dml")
      .head().getLong(0) === 210L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns10.dml WHERE source = 'merged'")
      .head().getLong(0) === 10L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns10.dml WHERE source = 'm'")
      .head().getLong(0) === 10L)
    // a version-pinned table stays read-only for row-level DML too
    val e = intercept[Exception](spark.sql(
      "UPDATE glpr_spec.ns10.dml VERSION AS OF 1 SET source = 'x'"))
    assert(e.getMessage.toLowerCase.contains("read-only") ||
      e.getMessage.toLowerCase.contains("syntax") ||
      e.getMessage.toLowerCase.contains("error"), e.getMessage)
    spark.catalog.dropTempView("dml_in"); spark.catalog.dropTempView("dml_up")
  }

  test("_shard metadata column exposes per-record provenance through both readers") {
    spark.sql(s"CREATE TABLE glpr_spec.ns8.prov $ddl")
    (0L until 100L).map(i => (i, "en", "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text")
      .repartitionByRange(2, col("doc_id"))
      .createOrReplaceTempView("prov_in")
    spark.sql("INSERT INTO glpr_spec.ns8.prov SELECT * FROM prov_in")
    val got = spark.sql("SELECT doc_id, _shard FROM glpr_spec.ns8.prov")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 100)
    assert(got.forall(_._2.matches("part-\\d{10}\\.glpr")), got.take(3).mkString(","))
    // records in different range shards carry different shard names
    val byShard = got.groupBy(_._2)
    assert(byShard.size === 2, s"two shards expected: ${byShard.keys.mkString(",")}")
    // provenance joins back: every shard's ids are contiguous ranges
    val r0 = byShard.values.map(_.map(_._1).toSet).toSeq
    assert(r0.exists(_ == (0L until 50L).toSet) || r0.forall(_.nonEmpty))
    // _shard is NOT part of SELECT * (metadata columns are opt-in)
    assert(!spark.sql("SELECT * FROM glpr_spec.ns8.prov").columns.contains("_shard"))
    spark.catalog.dropTempView("prov_in")
  }

  test("PARTITIONED BY (lang): clustered write, sidecar value sets, shard pruning on read") {
    // dedicated session: the prune pin needs the writer's partitioning
    // intact (AQE coalescing would merge the tiny clustered partitions
    // into multi-lang shards — correct, just unpinnable at this size)
    val s2 = spark.newSession()
    val r2 = TempDirs.scratch("graft-glpr-partspec").toString
    s2.conf.set("spark.sql.catalog.glpr_ps", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_ps.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.sql("CREATE TABLE glpr_ps.ns.t " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) PARTITIONED BY (lang)")
    val langs = Seq("en", "de", "fr", "es", "zh", "pt")
    import s2.implicits._
    (0L until 120L).map(i => (i, langs((i % 6).toInt), "s", s"text-$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("part_in")
    s2.sql("INSERT INTO glpr_ps.ns.t SELECT * FROM part_in")
    val dir = new java.io.File(r2, "ns/t")
    val shards = GlprSource.committedShards(dir.getAbsolutePath)
    val nonEmpty = shards.flatMap(GlprSource.readMeta).filter(_.rows > 0)
    assert(nonEmpty.length >= 2, s"clustered write should spread langs over shards")
    // every data shard committed its partition-value set
    assert(nonEmpty.forall(m => m.pcol.contains("lang") && m.pvals.exists(_.nonEmpty)))
    assert(nonEmpty.flatMap(_.pvals.get).toSet === langs.toSet)
    // pruned read: shards without 'en' never planned; rows still exact
    val got = s2.sql("SELECT doc_id FROM glpr_ps.ns.t WHERE lang = 'en'")
      .collect().map(_.getLong(0)).toSet
    assert(got === (0L until 120L).filter(_ % 6 == 0).toSet)
    val (kept, total) = GlprSource.planEvents.get(dir.getAbsolutePath)
    assert(total === shards.length)
    assert(kept < total, s"lang='en' should prune shards: kept $kept of $total")
    // IN across two langs: both shards kept, count exact (hint, not filter)
    val got2 = s2.sql("SELECT count(*) FROM glpr_ps.ns.t WHERE lang IN ('en', 'de')")
      .head().getLong(0)
    assert(got2 === 40L)
    // partitioning is visible through table metadata
    val ps = s2.sql("DESCRIBE TABLE EXTENDED glpr_ps.ns.t").collect()
      .map(_.getString(0))
    assert(ps.exists(_.contains("Part")), ps.mkString("|"))

    // q306: grouped count answered from the sidecars alone — ZERO data
    // shards planned, no aggregate exec in the plan (every shard is
    // single-valued in lang, certified above)
    val grouped = s2.sql("SELECT lang, count(*) AS n FROM glpr_ps.ns.t GROUP BY lang")
    val gotG = grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotG === langs.map(_ -> 20L).toMap)
    val (keptG, totalG) = GlprSource.planEvents.get(dir.getAbsolutePath)
    assert(keptG === 0 && totalG === shards.length,
      s"grouped metadata count must plan zero data shards, got $keptG/$totalG")
    val planG = grouped.queryExecution.executedPlan.toString
    assert(planG.contains("PushedAggregates"), s"missing pushed-agg scan:\n$planG")
    assert(!planG.contains("HashAggregate"),
      s"COMPLETE grouped pushdown must leave no aggregate exec:\n$planG")
    // grouped min/max ride the same sidecar fold
    val gmm = s2.sql("SELECT lang, min(doc_id) AS lo, max(doc_id) AS hi " +
      "FROM glpr_ps.ns.t GROUP BY lang").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expMm = (0L until 120L).groupBy(i => langs((i % 6).toInt))
      .view.mapValues(is => (is.min, is.max)).toMap
    assert(gmm === expMm)
    s2.catalog.dropTempView("part_in")
  }

  test("q304 staging that fails at its INSERT is retried by the next call, not read as empty") {
    val dir = TempDirs.scratch("graft-glpr-retry")
    // no documents.parquet yet: CREATE TABLE commits, the INSERT throws
    intercept[Exception](graft.GlprScenarios.partitionedCatalogPipeline(spark, dir.toString))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/documents.parquet"),
      dir.resolve("documents.parquet"))
    def rows(d: String) = graft.GlprScenarios.partitionedCatalogPipeline(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val got = rows(dir.toString)
    assert(got.nonEmpty, "the retried staging must hold the corpus")
    assert(got === rows(TestSpark.sfDir))
  }

  test("partition-value DELETE unlinks whole-partition shards; mixed and straddling decline") {
    val s2 = spark.newSession()
    val r2 = TempDirs.scratch("graft-glpr-pdelspec").toString
    s2.conf.set("spark.sql.catalog.glpr_pd", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_pd.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.sql("CREATE TABLE glpr_pd.ns.t " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) PARTITIONED BY (lang)")
    import s2.implicits._
    (0L until 90L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt), "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("pd_in")
    s2.sql("INSERT INTO glpr_pd.ns.t SELECT * FROM pd_in")
    val dir = new java.io.File(r2, "ns/t")
    val dataShardsBefore = GlprSource.committedShards(dir.getAbsolutePath)
      .flatMap(GlprSource.readMeta).count(_.rows > 0)
    assert(dataShardsBefore === 3)
    // mixed id+value predicate (refused before round 17): routes to the
    // copy-on-write rewrite — value pruning keeps the rewrite scoped to
    // the de shard, and its non-matching rows are copied
    s2.sql("DELETE FROM glpr_pd.ns.t WHERE lang = 'de' AND doc_id < 10")
    assert(s2.sql("SELECT count(*) FROM glpr_pd.ns.t").head().getLong(0) === 87L)
    assert(s2.sql("SELECT count(*) FROM glpr_pd.ns.t WHERE lang = 'de'")
      .head().getLong(0) === 27L, "non-matching de rows are copied")
    // the COW survivor is still single-valued in lang (the rewrite keeps
    // the clustered-write distribution), so an aligned partition drop
    // below stays METADATA-ONLY: it mints no new shard names
    val namesBefore = GlprSource.committedShards(dir.getAbsolutePath)
      .map(_.getName).toSet
    s2.sql("DELETE FROM glpr_pd.ns.t WHERE lang IN ('de', 'fr')")
    val got = s2.sql("SELECT lang, count(*) FROM glpr_pd.ns.t GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("en" -> 30L))
    val after = GlprSource.committedShards(dir.getAbsolutePath).map(_.getName).toSet
    assert(after.subsetOf(namesBefore), "partition drop is metadata-only: no rewrite")
    val dataShardsAfter = GlprSource.committedShards(dir.getAbsolutePath)
      .flatMap(GlprSource.readMeta).count(_.rows > 0)
    assert(dataShardsAfter === 1, "de/fr shards retired, en untouched")
    s2.catalog.dropTempView("pd_in")
  }

  test("grouped aggregate pushdown DECLINES on mixed-value shards and stays correct") {
    ddl
    import spark.implicits._
    spark.sql(s"CREATE TABLE glpr_spec.ns10.flatagg $ddl")
    // ONE shard holding both langs: the automatic vlang set is
    // multi-valued, so the single-value-per-shard invariant grouped
    // pushdown needs does not hold — ordinary scan-and-aggregate
    Seq((1L, "en", "s", "a"), (2L, "de", "s", "b"), (3L, "en", "s", "c"))
      .toDF("doc_id", "lang", "source", "text").coalesce(1)
      .createOrReplaceTempView("fa_in")
    spark.sql("INSERT INTO glpr_spec.ns10.flatagg " +
      "SELECT /*+ COALESCE(1) */ * FROM fa_in")
    val q = spark.sql("SELECT lang, count(*) AS n FROM glpr_spec.ns10.flatagg GROUP BY lang")
    assert(q.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("en" -> 2L, "de" -> 1L))
    spark.catalog.dropTempView("fa_in")
  }

  test("partitioning transforms: only identity on lang/source is accepted") {
    ddl
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE glpr_spec.ns9.p1 " +
        "(doc_id BIGINT, lang STRING, source STRING, text STRING) PARTITIONED BY (doc_id)"))
    assert(e1.getMessage.contains("string column"), e1.getMessage)
    // bucket is accepted since round 17 — but only over doc_id
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE glpr_spec.ns9.p2 " +
        "(doc_id BIGINT, lang STRING, source STRING, text STRING) " +
        "PARTITIONED BY (bucket(4, lang))"))
    assert(e2.getMessage.contains("doc_id"), e2.getMessage)
    // AUTOMATIC value statistics (round 19): even WITHOUT a partition
    // spec every shard records its lang/source value sets (vlang/
    // vsource sidecar tokens — per-file column stats), so an ingest
    // that happened to cluster prunes on value predicates; a
    // mixed-value shard keeps (its set intersects), and rows stay exact
    // either way. Pre-round-19 sidecars have no sets → never pruned.
    spark.sql(s"CREATE TABLE glpr_spec.ns9.flat $ddl")
    import spark.implicits._
    Seq((1L, "en", "s", "a")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("flat_en")
    Seq((2L, "de", "s", "b")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("flat_de")
    spark.sql("INSERT INTO glpr_spec.ns9.flat SELECT * FROM flat_en")
    spark.sql("INSERT INTO glpr_spec.ns9.flat SELECT * FROM flat_de")
    val dir = new java.io.File(root, "ns9/flat")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns9.flat WHERE lang = 'en'")
      .head().getLong(0) === 1L)
    val (kept, total) = GlprSource.planEvents.get(dir.getAbsolutePath)
    assert(kept < total,
      s"incidentally-clustered flat shards must value-prune: $kept of $total")
    // legacy sidecars (no vlang token) never prune
    new java.io.File(dir, "_x").getParentFile.listFiles()
      .filter(_.getName.endsWith(".meta")).foreach { m =>
        val txt = new String(java.nio.file.Files.readAllBytes(m.toPath))
        java.nio.file.Files.write(m.toPath,
          txt.split("\\s+").filterNot(t => t.startsWith("vlang=") ||
            t.startsWith("vsource=")).mkString(" ").getBytes)
      }
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns9.flat WHERE lang = 'en'")
      .head().getLong(0) === 1L)
    val (kept2, total2) = GlprSource.planEvents.get(dir.getAbsolutePath)
    assert(kept2 === total2,
      s"legacy sidecars without value sets must never prune: $kept2 of $total2")
    spark.catalog.dropTempView("flat_en")
    spark.catalog.dropTempView("flat_de")
  }

  test("q332 schema evolution: mixed shards read exactly; UPDATE carries extras") {
    spark.sql(s"CREATE TABLE glpr_spec.ns11.evo $ddl")
    Seq((1L, "en", "s", "old-a"), (2L, "de", "s", "old-b"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("evo1")
    spark.sql("INSERT INTO glpr_spec.ns11.evo SELECT * FROM evo1")
    spark.sql("ALTER TABLE glpr_spec.ns11.evo ADD COLUMN note STRING")
    // post-evolution insert, including an explicit NULL note
    Seq((3L, "fr", "s", "new-a", "n3"), (4L, "en", "s", "new-b", null))
      .toDF("doc_id", "lang", "source", "text", "note")
      .createOrReplaceTempView("evo2")
    spark.sql("INSERT INTO glpr_spec.ns11.evo SELECT * FROM evo2")
    val got = spark.sql(
      "SELECT doc_id, note FROM glpr_spec.ns11.evo ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got === Seq((1L, None), (2L, None), (3L, Some("n3")), (4L, None)),
      "old shards read null, new shards carry values and explicit nulls")
    // projections that SKIP the extra still byte-skip correctly
    assert(spark.sql("SELECT sum(octet_length(text)) FROM glpr_spec.ns11.evo")
      .head().getLong(0) === 20L)
    // row-level DML carries the full evolved schema through the rewrite
    spark.sql("UPDATE glpr_spec.ns11.evo SET note = 'filled' WHERE doc_id = 1")
    val got2 = spark.sql(
      "SELECT doc_id, note FROM glpr_spec.ns11.evo ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got2 === Seq((1L, Some("filled")), (2L, None),
      (3L, Some("n3")), (4L, None)))
    spark.catalog.dropTempView("evo1"); spark.catalog.dropTempView("evo2")
  }

  test("q333/q334 transformed partitions prune: day windows and bucket probes skip shards") {
    // days(ts): one shard per day via DISTRIBUTE BY, window reads skip
    val s2 = spark.newSession()
    val r2 = TempDirs.scratch("graft-glpr-trspec").toString
    s2.conf.set("spark.sql.catalog.glpr_tr", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_tr.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.sql("CREATE TABLE glpr_tr.ns.byday " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING, ts STRING) " +
      "PARTITIONED BY (days(ts))")
    s2.sql("INSERT INTO glpr_tr.ns.byday " +
      "SELECT id, 'en', 's', concat('t', id), " +
      "concat('2024-01-0', CAST(1 + id % 4 AS STRING), 'T08:00:00') " +
      "FROM range(0, 80) DISTRIBUTE BY CAST(id % 4 AS INT)")
    val dayDir = new java.io.File(r2, "ns/byday").getAbsolutePath
    assert(s2.sql("SELECT count(*) FROM glpr_tr.ns.byday " +
      "WHERE ts >= '2024-01-02' AND ts < '2024-01-04'").head().getLong(0) === 40L)
    val (dayKept, dayTotal) = GlprSource.planEvents.get(dayDir)
    assert(dayKept < dayTotal, s"day window must prune: $dayKept/$dayTotal")
    // equality on the ts column prunes to one day's shards
    assert(s2.sql("SELECT count(*) FROM glpr_tr.ns.byday " +
      "WHERE ts = '2024-01-03T08:00:00'").head().getLong(0) === 20L)
    val (eqKept, eqTotal) = GlprSource.planEvents.get(dayDir)
    assert(eqKept < eqTotal, s"day equality must prune: $eqKept/$eqTotal")
    // bucket(8, doc_id): a point probe prunes to the probed buckets
    s2.sql("CREATE TABLE glpr_tr.ns.bybkt " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) " +
      "PARTITIONED BY (bucket(8, doc_id))")
    s2.sql("INSERT INTO glpr_tr.ns.bybkt " +
      "SELECT id, 'en', 's', concat('t', id) FROM range(0, 160) " +
      "DISTRIBUTE BY CAST(id % 8 AS INT)")
    val bktDir = new java.io.File(r2, "ns/bybkt").getAbsolutePath
    assert(s2.sql("SELECT count(*) FROM glpr_tr.ns.bybkt " +
      "WHERE doc_id IN (3, 11, 42)").head().getLong(0) === 3L)
    val (bKept, bTotal) = GlprSource.planEvents.get(bktDir)
    assert(bKept < bTotal, s"bucket probe must prune: $bKept/$bTotal")
    // a single-id equality prunes too
    assert(s2.sql("SELECT count(*) FROM glpr_tr.ns.bybkt WHERE doc_id = 42")
      .head().getLong(0) === 1L)
    val (b1Kept, b1Total) = GlprSource.planEvents.get(bktDir)
    assert(b1Kept < b1Total, s"bucket equality must prune: $b1Kept/$b1Total")
  }

  test("TIMESTAMP AS OF resolves to the newest version committed at or before the pin") {
    spark.sql(s"CREATE TABLE glpr_spec.ns12.tt $ddl")
    def insert(lo: Long, hi: Long): Unit = {
      (lo until hi).map(i => (i, "en", "s", s"t$i"))
        .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("tt_in")
      spark.sql("INSERT INTO glpr_spec.ns12.tt SELECT * FROM tt_in")
    }
    insert(0, 10); insert(10, 30); insert(30, 60) // versions 1-3
    val dir = new java.io.File(root, "ns12/tt").getAbsolutePath
    // pin deterministic commit times on the DURABLE clock (the in-file
    // committedAtMs header): v1=t0, v2=t0+10s, v3=t0+20s
    val t0 = 1700000000000L
    GlprSource.listManifestVersions(dir).foreach { v =>
      GlprSource.pinVersionCommitMs(dir, v, t0 + (v - 1) * 10000L)
    }
    def countAsOf(millis: Long): Long = spark.sql(
      "SELECT count(*) FROM glpr_spec.ns12.tt TIMESTAMP AS OF " +
        s"timestamp_millis(${millis}L)").head().getLong(0)
    assert(countAsOf(t0) === 10L, "exactly at the first commit")
    assert(countAsOf(t0 + 15000L) === 30L, "between v2 and v3")
    assert(countAsOf(t0 + 60000L) === 60L, "after the last commit = live")
    val e = intercept[Exception](countAsOf(t0 - 1L))
    assert(e.getMessage.contains("before the first commit"), e.getMessage)
  }

  test("q336 recluster: bounds pruning re-arms after the OPTIMIZE rewrite; history survives") {
    spark.sql(s"CREATE TABLE glpr_spec.ns13.opt $ddl")
    (0L until 400L).map(i => (i, "en", "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text")
      .repartition(8) // hash layout: every shard straddles the id space
      .createOrReplaceTempView("opt_in")
    spark.sql("INSERT INTO glpr_spec.ns13.opt SELECT * FROM opt_in")
    val dir = new java.io.File(root, "ns13/opt").getAbsolutePath
    // pre-recluster: a range read plans EVERY shard (no prunable bounds)
    assert(spark.sql(
      "SELECT count(*) FROM glpr_spec.ns13.opt WHERE doc_id < 50")
      .head().getLong(0) === 50L)
    val (preKept, preTotal) = GlprSource.planEvents.get(dir)
    assert(preKept === preTotal, s"hash layout must not prune: $preKept/$preTotal")
    // OPTIMIZE through SQL
    val rep = spark.sql("CALL glpr_spec.sys.recluster('ns13.opt', 4)").head()
    assert(rep.getLong(0) === 8L && rep.getLong(1) === 4L, rep.toString)
    // row-exact, and the range read now prunes
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns13.opt")
      .head().getLong(0) === 400L)
    assert(spark.sql(
      "SELECT count(*) FROM glpr_spec.ns13.opt WHERE doc_id < 50")
      .head().getLong(0) === 50L)
    val (postKept, postTotal) = GlprSource.planEvents.get(dir)
    assert(postKept < postTotal, s"reclustered bounds must prune: $postKept/$postTotal")
    // the rewrite was ONE commit; the pre-recluster version stays readable
    val vs = GlprSource.listManifestVersions(dir)
    assert(spark.sql(
      s"SELECT count(*) FROM glpr_spec.ns13.opt VERSION AS OF ${vs.length - 1}")
      .head().getLong(0) === 400L)
    spark.catalog.dropTempView("opt_in")
  }

  test("CREATE TABLE over an existing external shard dir ATTACHES the shards") {
    val dir = new java.io.File(root, "ns5/ext")
    dir.mkdirs()
    GlprSource.write(Seq((11L, "en", "s", "pre-existing"))
      .toDF("doc_id", "lang", "source", "text"), dir.getAbsolutePath)
    spark.sql(s"CREATE TABLE glpr_spec.ns5.ext $ddl")
    assert(spark.sql("SELECT text FROM glpr_spec.ns5.ext").head().getString(0)
      === "pre-existing")
  }

  test("q315 FunctionCatalog: sys functions resolve, compute, and reject the unknown loudly") {
    root: Unit // register the catalog confs (lazy)
    // catalog-qualified scalar + aggregate over an ordinary temp view
    Seq(("héllo", "en"), ("wörld", "en"), (null, "de"), ("ok", "de"))
      .toDF("t", "lang").createOrReplaceTempView("fn_spec_docs")
    val got = spark.sql(
      """SELECT lang, sum(glpr_spec.sys.nfc_bytes(t)) AS nfc,
        | glpr_spec.sys.bytes_sum(t) AS raw, count(*) AS n
        |FROM fn_spec_docs GROUP BY lang ORDER BY lang""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // "héllo"/"wörld" are 6 UTF-8 bytes each (already NFC); null
    // contributes nothing; "ok" is 2
    assert(got.toSeq === Seq(("de", 2L, 2L, 2L), ("en", 12L, 12L, 2L)))
    // scalar null-propagation end to end
    assert(spark.sql("SELECT glpr_spec.sys.nfc_bytes(CAST(NULL AS STRING))")
      .head().isNullAt(0))
    // NFC actually normalizes: decomposed e + COMBINING ACUTE (3 bytes)
    // composes to é (2 bytes)
    assert(spark.sql("SELECT glpr_spec.sys.nfc_bytes('é')")
      .head().getLong(0) === 2L)
    // SHOW FUNCTIONS lists the sys namespace
    val listed = spark.sql("SHOW FUNCTIONS IN glpr_spec.sys").collect()
      .map(_.getString(0)).toSet
    assert(listed.exists(_.endsWith("nfc_bytes")) &&
      listed.exists(_.endsWith("bytes_sum")), listed.toString)
    // unknown function and wrong arity both fail loudly at analysis
    val e1 = intercept[Exception](spark.sql(
      "SELECT glpr_spec.sys.no_such_fn(1)").collect())
    assert(e1.getMessage.toLowerCase.contains("no_such_fn"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "SELECT glpr_spec.sys.nfc_bytes('a', 'b')").collect())
    assert(e2.getMessage.contains("exactly one STRING"), e2.getMessage)
    spark.catalog.dropTempView("fn_spec_docs")
  }

  test("q316/q317 ProcedureCatalog: CALL history/restore/compact/vacuum through SQL") {
    root: Unit // register the catalog confs (lazy)
    spark.sql(s"CREATE TABLE glpr_spec.ns7.pt $ddl")
    def insert(lo: Long, hi: Long): Unit = {
      (lo until hi).map(i => (i, "en", "s", s"t$i"))
        .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("proc_in")
      spark.sql("INSERT INTO glpr_spec.ns7.pt SELECT * FROM proc_in")
      spark.catalog.dropTempView("proc_in")
    }
    insert(0, 10)  // version 1
    insert(10, 30) // version 2
    insert(30, 40) // version 3
    // history = DESCRIBE HISTORY: cumulative row counts per version
    val hist = spark.sql("CALL glpr_spec.sys.history('ns7.pt')")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(hist.toSeq === Seq((1L, 10L), (2L, 30L), (3L, 40L)))
    // restore through SQL rolls the live view back and mints version 4
    val restored = spark.sql("CALL glpr_spec.sys.restore('ns7.pt', 2)").head()
    assert(restored.getLong(0) === 2L && restored.getLong(1) === 4L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns7.pt").head().getLong(0) === 30L)
    // compact everything into one group; rows preserved through the read
    val merged = spark.sql(
      s"CALL glpr_spec.sys.compact('ns7.pt', ${Long.MaxValue / 2})").head()
    assert(merged.getLong(1) === 30L, s"merged_rows: $merged")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns7.pt").head().getLong(0) === 30L)
    // the first vacuum may fold retired name reservations; a clean dir
    // then removes nothing
    spark.sql("CALL glpr_spec.sys.vacuum('ns7.pt')").collect(): Unit
    assert(spark.sql("CALL glpr_spec.sys.vacuum('ns7.pt')").head().getLong(0) === 0L)
    // rebuild_manifest re-adopts the compacted state idempotently
    assert(spark.sql("CALL glpr_spec.sys.rebuild_manifest('ns7.pt')").head().getLong(0) >= 1L)
    // unknown procedure and unknown table fail loudly
    // (Spark wraps the catalog's rejection in FAILED_TO_LOAD_ROUTINE)
    val e1 = intercept[Exception](spark.sql("CALL glpr_spec.sys.nope('x')").collect())
    assert(e1.getMessage.contains("Failed to load routine") &&
      e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("CALL glpr_spec.sys.history('ns7.missing')").collect())
    assert(e2.getMessage.contains("no GLPR table"), e2.getMessage)
  }

  test("q319 storage-partitioned join: co-partitioned GLPR tables join with ZERO exchanges") {
    root: Unit
    def mk(table: String, rows: Seq[(Long, String, String, String)]): Unit = {
      spark.sql(s"CREATE TABLE glpr_spec.ns8.$table $ddl PARTITIONED BY (lang)")
      rows.toDF("doc_id", "lang", "source", "text")
        .createOrReplaceTempView("spj_in")
      spark.sql(s"INSERT INTO glpr_spec.ns8.$table SELECT * FROM spj_in")
      spark.catalog.dropTempView("spj_in")
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // single-valued shards need the clustered write to survive AQE
      // partition coalescing (the q304 contract), and enough write
      // partitions that the three lang constants hash apart
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      mk("facts", Seq((1L, "en", "s", "a"), (2L, "en", "s", "b"),
        (3L, "de", "s", "c"), (4L, "de", "s", "d"), (5L, "zh", "s", "e")))
      mk("dims", Seq((100L, "en", "dim", "EN"), (200L, "de", "dim", "DE"),
        (300L, "zh", "dim", "ZH")))
      val q = spark.sql(
        """SELECT f.lang, count(*) AS n, min(d.text) AS dim
          |FROM glpr_spec.ns8.facts f JOIN glpr_spec.ns8.dims d
          |ON f.lang = d.lang GROUP BY f.lang""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-partitioned join must plan ZERO exchanges:\n$plan")
      // the ordering report (single-valued partitions are trivially
      // sorted by the key) removes the Sorts too: a pure zipper merge
      assert(!plan.contains("Sort ["),
        s"ordering report must remove the SMJ Sorts:\n$plan")
      val got = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(got === Set(("en", 2L, "EN"), ("de", 2L, "DE"), ("zh", 1L, "ZH")))
      // control: with v2 bucketing OFF the same join shuffles — the
      // zero-exchange plan above is the connector report, not luck
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = spark.sql(
        """SELECT f.lang, count(*) AS n FROM glpr_spec.ns8.facts f
          |JOIN glpr_spec.ns8.dims d ON f.lang = d.lang
          |GROUP BY f.lang""".stripMargin)
      assert(shuffled.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(shuffled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        === Map("en" -> 2L, "de" -> 2L, "zh" -> 1L))
      // a FILTERED scan of the same table declines the report (and keeps
      // pruning): correctness never rides on KeyGroupedPartitioning
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val filtered = spark.sql(
        "SELECT doc_id FROM glpr_spec.ns8.facts WHERE lang = 'en' AND doc_id >= 2")
      assert(filtered.collect().map(_.getLong(0)).toSet === Set(2L))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition-aware compaction: OPTIMIZE never merges across bucket values, SPJ stays zero-exchange") {
    root: Unit
    // two ingest waves per table → several small shards per bucket
    // class; compaction must fold WITHIN classes (across waves), never
    // across values (round-19 verdict #2: a multi-valued merged shard
    // would silently void the q353/q358 zero-exchange contracts)
    def mk(table: String, waves: Seq[Seq[(Long, String, String, String)]]): Unit = {
      spark.sql(s"CREATE TABLE glpr_spec.ns20.$table $ddl " +
        "PARTITIONED BY (bucket(4, doc_id))")
      waves.foreach { rows =>
        rows.toDF("doc_id", "lang", "source", "text")
          .createOrReplaceTempView("pcomp_in")
        spark.sql(s"INSERT INTO glpr_spec.ns20.$table SELECT * FROM pcomp_in")
        spark.catalog.dropTempView("pcomp_in")
      }
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      def rows(lo: Long, hi: Long, src: String) =
        (lo until hi).map(i => (i, s"l${i % 5}", src, s"$src-$i"))
      mk("cfacts", Seq(rows(0L, 40L, "f"), rows(40L, 80L, "f")))
      mk("cdims", Seq(rows(0L, 40L, "d"), rows(40L, 80L, "d")))
      def nonEmpty(t: String) = GlprSource.committedShards(
        new java.io.File(root, s"ns20/$t").toString)
        .flatMap(GlprSource.readMeta).filter(_.rows > 0L)
      val beforeF = nonEmpty("cfacts").length
      assert(beforeF > 4, s"need several shards per class, got $beforeF")
      Seq("cfacts", "cdims").foreach { t =>
        spark.sql(s"CALL glpr_spec.sys.compact('ns20.$t', ${Long.MaxValue / 2})")
          .collect(): Unit
      }
      // compaction folded the waves — but every surviving data shard is
      // STILL single-valued on its bucket class
      val afterF = nonEmpty("cfacts")
      assert(afterF.length < beforeF && afterF.length >= 4,
        s"expected per-class folding, got ${afterF.length} of $beforeF")
      Seq("cfacts", "cdims").foreach { t =>
        nonEmpty(t).foreach(m => assert(m.pvals.exists(_.size == 1),
          s"a compacted shard of $t went multi-valued: ${m.pvals}"))
      }
      // the zero-exchange SPJ contract survives OPTIMIZE
      val q = spark.sql(
        """SELECT count(*) AS n, sum(f.doc_id) AS ids
          |FROM glpr_spec.ns20.cfacts f JOIN glpr_spec.ns20.cdims d
          |ON f.doc_id = d.doc_id""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"post-OPTIMIZE co-bucketed join must still plan ZERO join exchanges:\n$plan")
      val r = q.head()
      assert((r.getLong(0), r.getLong(1)) === (80L, (0L until 80L).sum))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q362 widening ALTER COLUMN: INT->BIGINT / FLOAT->DOUBLE only, mixed eras read wide") {
    root: Unit
    spark.sql("CREATE TABLE glpr_spec.ns21.w (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING, score INT, conf FLOAT)")
    spark.sql("INSERT INTO glpr_spec.ns21.w VALUES " +
      "(1, 'en', 's', 'a', 7, CAST(0.5 AS FLOAT)), " +
      "(2, 'en', 's', 'b', -3, CAST(1.25 AS FLOAT))")
    // narrow era reads narrow
    assert(spark.table("glpr_spec.ns21.w").schema("score").dataType ===
      org.apache.spark.sql.types.IntegerType)
    spark.sql("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN score TYPE BIGINT")
    spark.sql("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN conf TYPE DOUBLE")
    assert(spark.table("glpr_spec.ns21.w").schema("score").dataType ===
      org.apache.spark.sql.types.LongType)
    // wide era takes values only the wide type holds
    spark.sql("INSERT INTO glpr_spec.ns21.w VALUES " +
      "(3, 'en', 's', 'c', 5000000000, CAST(2.75 AS DOUBLE))")
    val r = spark.sql("SELECT sum(score), sum(conf), count(*) " +
      "FROM glpr_spec.ns21.w").head()
    assert((r.getLong(0), r.getDouble(1), r.getLong(2)) ===
      ((5000000004L, 4.5, 3L)),
      "mixed narrow/wide shards must aggregate under the widened type")
    // filters over the widened column stay row-exact on narrow shards
    assert(spark.sql("SELECT doc_id FROM glpr_spec.ns21.w WHERE score = -3")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // FLOAT->DOUBLE widening is VALUE-preserving (round-20 review):
    // the narrow shard's "0.3" text parses as the write-time float and
    // widens — (double) 0.3f = 0.30000001192092896 — NOT as the double
    // 0.3 would, so pre- and post-ALTER reads are bit-identical and a
    // metadata-only DDL can never flip a filter
    spark.sql("CREATE TABLE glpr_spec.ns21.f (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING, c FLOAT)")
    spark.sql("INSERT INTO glpr_spec.ns21.f VALUES " +
      "(1, 'en', 's', 'a', CAST(0.3 AS FLOAT))")
    val preWiden = spark.sql("SELECT CAST(c AS DOUBLE) FROM glpr_spec.ns21.f")
      .head().getDouble(0)
    spark.sql("ALTER TABLE glpr_spec.ns21.f ALTER COLUMN c TYPE DOUBLE")
    val postWiden = spark.sql("SELECT c FROM glpr_spec.ns21.f")
      .head().getDouble(0)
    assert(postWiden === preWiden && postWiden === 0.3f.toDouble,
      s"widened float must keep the write-time value: $postWiden vs $preWiden")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns21.f WHERE c > 0.3")
      .head().getLong(0) === 1L,
      "the widened read must not flip the float's filter outcome")
    // narrowing, cross-family, and base-column changes all reject
    def rejects(sqlText: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sqlText).collect())
      assert(e.getMessage.contains(frag), s"$sqlText => ${e.getMessage}")
    }
    // narrowing / cross-family: Spark's analyzer up-cast gate rejects
    // these before the catalog ever sees them (NOT_SUPPORTED_CHANGE_COLUMN)
    rejects("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN score TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    rejects("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN conf TYPE BIGINT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    rejects("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN text TYPE BIGINT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    // an analyzer-LEGAL up-cast that is not Iceberg-safe reaches the
    // catalog guard: INT -> DOUBLE rejects there (only INT -> BIGINT
    // and FLOAT -> DOUBLE are sanctioned promotions)
    spark.sql("ALTER TABLE glpr_spec.ns21.w ADD COLUMN score2 INT")
    rejects("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN score2 TYPE DOUBLE",
      "WIDENING only")
    // idempotent re-widening is a no-op, not an error
    spark.sql("ALTER TABLE glpr_spec.ns21.w ALTER COLUMN score TYPE BIGINT")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns21.w").head().getLong(0) === 3L)
    // the stored initial-DEFAULT literal widens value-preservingly too
    // (r20 ADVICE): a FLOAT column's default text was written via
    // Float.toString, so after ALTER it must serve (double) 0.3f =
    // 0.30000001192092896 to pre-evolution shards, never the re-parsed
    // double 0.3 — same invariant the kind-5 shard decode enforces
    spark.sql("CREATE TABLE glpr_spec.ns21.fd (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING)")
    spark.sql("INSERT INTO glpr_spec.ns21.fd VALUES (1, 'en', 's', 'a')")
    spark.sql("ALTER TABLE glpr_spec.ns21.fd ADD COLUMN c FLOAT " +
      "DEFAULT CAST(0.3 AS FLOAT)")
    val preDflt = spark.sql("SELECT CAST(c AS DOUBLE) FROM glpr_spec.ns21.fd")
      .head().getDouble(0)
    spark.sql("ALTER TABLE glpr_spec.ns21.fd ALTER COLUMN c TYPE DOUBLE")
    val postDflt = spark.sql("SELECT c FROM glpr_spec.ns21.fd")
      .head().getDouble(0)
    assert(postDflt === preDflt && postDflt === 0.3f.toDouble,
      s"widened FLOAT default must keep the write-time value: $postDflt vs $preDflt")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns21.fd WHERE c > 0.3")
      .head().getLong(0) === 1L,
      "a metadata-only widen must not flip the default's filter outcome")
  }

  test("q363/q364: initial defaults serve pre-evolution shards only; age expiry guards") {
    root: Unit
    spark.sql(s"CREATE TABLE glpr_spec.ns22.d $ddl")
    spark.sql("INSERT INTO glpr_spec.ns22.d VALUES (1, 'en', 's', 'a')")
    spark.sql("ALTER TABLE glpr_spec.ns22.d ADD COLUMN rank BIGINT DEFAULT 7")
    // explicit NULL stays NULL (initial defaults are read-time for
    // PRE-evolution shards, never write-time fill)
    spark.sql("INSERT INTO glpr_spec.ns22.d VALUES " +
      "(2, 'en', 's', 'b', CAST(NULL AS BIGINT))")
    spark.sql("INSERT INTO glpr_spec.ns22.d VALUES (3, 'en', 's', 'c', 9)")
    val got = spark.sql("SELECT doc_id, rank FROM glpr_spec.ns22.d")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))).toMap
    assert(got === Map(1L -> java.lang.Long.valueOf(7L), 2L -> null,
      3L -> java.lang.Long.valueOf(9L)),
      s"pre-evolution row must read the default, explicit NULL stays: $got")
    // ...and the default survives a RENAME (metadata carries it)
    spark.sql("ALTER TABLE glpr_spec.ns22.d RENAME COLUMN rank TO grade")
    assert(spark.sql(
      "SELECT grade FROM glpr_spec.ns22.d WHERE doc_id = 1")
      .head().getLong(0) === 7L)
    // CREATE TABLE with a DEFAULT refuses toward the ALTER path
    val ec = intercept[Exception](spark.sql(
      s"CREATE TABLE glpr_spec.ns22.bad (doc_id BIGINT, lang STRING, " +
        "source STRING, text STRING, r BIGINT DEFAULT 5)"))
    assert(ec.getMessage.contains("ALTER TABLE"), ec.getMessage)
    // age-based expiry: exactly one retention mode per call
    val e0 = intercept[Exception](spark.sql(
      "CALL glpr_spec.sys.expire_versions('ns22.d')").collect())
    assert(e0.getMessage.contains("exactly ONE"), e0.getMessage)
    val e1 = intercept[Exception](spark.sql(
      "CALL glpr_spec.sys.expire_versions('ns22.d', keep => 1, " +
        "older_than_ms => 5)").collect())
    assert(e1.getMessage.contains("exactly ONE"), e1.getMessage)
    // the live head NEVER expires on age, no matter how old
    val path = new java.io.File(root, "ns22/d").getAbsolutePath
    GlprSource.listManifestVersions(path).foreach(v =>
      GlprSource.pinVersionCommitMs(path, v, 1000L))
    val dropped = spark.sql("CALL glpr_spec.sys.expire_versions('ns22.d', " +
      s"older_than_ms => ${System.currentTimeMillis()})").head().getLong(0)
    assert(dropped >= 1L)
    assert(GlprSource.listManifestVersions(path).length === 1,
      "age expiry must keep exactly the live head here")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns22.d")
      .head().getLong(0) === 3L, "the head must stay fully readable")
  }

  test("q353 bucket SPJ: co-bucketed GLPR tables join on doc_id with ZERO exchanges") {
    root: Unit
    def mk(table: String, rows: Seq[(Long, String, String, String)]): Unit = {
      spark.sql(
        s"CREATE TABLE glpr_spec.ns19.$table $ddl PARTITIONED BY (bucket(4, doc_id))")
      rows.toDF("doc_id", "lang", "source", "text")
        .createOrReplaceTempView("bspj_in")
      spark.sql(s"INSERT INTO glpr_spec.ns19.$table SELECT * FROM bspj_in")
      spark.catalog.dropTempView("bspj_in")
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // ids cover all 4 buckets on both sides; shard values differ so
      // the join is doing real work, not echoing a co-located copy
      mk("bfacts", (1L to 12L).map(i => (i, s"l$i", "f", s"fact-$i")))
      mk("bdims", (1L to 12L).filter(_ % 3 != 0)
        .map(i => (i, s"l$i", "d", s"dim-$i")))
      val q = spark.sql(
        """SELECT count(*) AS n, sum(f.doc_id) AS ids, min(d.text) AS lo
          |FROM glpr_spec.ns19.bfacts f JOIN glpr_spec.ns19.bdims d
          |ON f.doc_id = d.doc_id""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      // the global rollup still needs its SinglePartition gather; the
      // JOIN must plan no shuffle
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must plan ZERO join exchanges:\n$plan")
      val r = q.head()
      assert((r.getLong(0), r.getLong(1), r.getString(2)) ===
        (8L, (1L to 12L).filter(_ % 3 != 0).sum, "dim-1"))
      // control: with v2 bucketing OFF the same join shuffles — the
      // zero-exchange plan is the connector report, not luck
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val ctl = spark.sql(
        """SELECT count(*) AS n FROM glpr_spec.ns19.bfacts f
          |JOIN glpr_spec.ns19.bdims d ON f.doc_id = d.doc_id""".stripMargin)
      assert(ctl.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(ctl.head().getLong(0) === 8L)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // a live delete-vector mask declines the report (keyed partitions
      // carry no mask) — the fallback shuffling plan applies the mask,
      // so the join stays row-exact with one fewer dim row
      GlprMaintenance.deleteIdRangeMergeOnRead(
        new java.io.File(root, "ns19/bdims").toString, 2L, 2L)
      val masked = spark.sql(
        """SELECT count(*) AS n FROM glpr_spec.ns19.bfacts f
          |JOIN glpr_spec.ns19.bdims d ON f.doc_id = d.doc_id""".stripMargin)
      assert(masked.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "a masked table must decline the key-grouped report")
      assert(masked.head().getLong(0) === 7L)
      // a FILTERED scan declines too, and still prunes/filters exactly
      val filtered = spark.sql(
        "SELECT doc_id FROM glpr_spec.ns19.bfacts WHERE doc_id IN (4, 5)")
      assert(filtered.collect().map(_.getLong(0)).toSet === Set(4L, 5L))
      // DML rewrites keep the bucket discipline (round-19 review): the
      // UPDATE's group rewrite re-clusters + rolls by the transform, so
      // every surviving shard stays single-bucket and the key-grouped
      // report SURVIVES the update — pinned with a zero-exchange
      // self-join over the updated table
      spark.sql("UPDATE glpr_spec.ns19.bfacts SET text = 'u7' WHERE doc_id = 7")
      val post = spark.sql(
        """SELECT count(*) AS n FROM glpr_spec.ns19.bfacts a
          |JOIN glpr_spec.ns19.bfacts b ON a.doc_id = b.doc_id""".stripMargin)
      assert(!post.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "the SPJ report must survive a row-level UPDATE")
      assert(post.head().getLong(0) === 12L)
      assert(spark.sql(
        "SELECT text FROM glpr_spec.ns19.bfacts WHERE doc_id = 7")
        .head().getString(0) === "u7")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q354 tags: immutable named snapshots, retention-protected, one name space with branches") {
    root: Unit
    spark.sql(s"CREATE TABLE glpr_spec.ns20.tg $ddl")
    def ins(rows: Seq[(Long, String)]): Unit = {
      rows.map { case (i, t) => (i, "en", "s", t) }
        .toDF("doc_id", "lang", "source", "text")
        .createOrReplaceTempView("tg_in")
      spark.sql("INSERT INTO glpr_spec.ns20.tg SELECT * FROM tg_in")
      spark.catalog.dropTempView("tg_in")
    }
    ins(Seq((1L, "a"), (2L, "b")))
    // tag the live head (v1), then diverge
    assert(spark.sql("CALL glpr_spec.sys.tag('ns20.tg', 'shipped')")
      .head().getLong(0) === 1L)
    ins(Seq((3L, "c")))
    spark.sql("DELETE FROM glpr_spec.ns20.tg WHERE doc_id = 1")
    // the tag still reads the EXACT snapshot it pinned
    assert(spark.sql(
      "SELECT doc_id FROM glpr_spec.ns20.tg VERSION AS OF 'shipped'")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns20.tg")
      .head().getLong(0) === 2L)
    // a tagged pin is read-only, like any version pin
    val e = intercept[Exception] {
      spark.sql("INSERT INTO glpr_spec.ns20.tg VERSION AS OF 'shipped' " +
        "VALUES (9, 'en', 's', 'x')")
    }
    assert(e.getMessage != null)
    // tags() lists it; a second tag at an explicit version works
    spark.sql("CALL glpr_spec.sys.tag('ns20.tg', 'v2-audit', 2)")
    val listed = spark.sql("CALL glpr_spec.sys.tags('ns20.tg')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(listed === Map("shipped" -> 1L, "v2-audit" -> 2L))
    // immutable: re-tagging refuses; branch/tag name space is shared
    assertThrows[Exception] {
      spark.sql("CALL glpr_spec.sys.tag('ns20.tg', 'shipped')") }
    assertThrows[Exception] {
      spark.sql("CALL glpr_spec.sys.create_branch('ns20.tg', 'shipped')") }
    spark.sql("CALL glpr_spec.sys.create_branch('ns20.tg', 'wap')")
    assertThrows[Exception] {
      spark.sql("CALL glpr_spec.sys.tag('ns20.tg', 'wap')") }
    // RETENTION OVERRIDE: expire_versions keeps tagged versions, and
    // vacuum keeps the shards their snapshots reference
    spark.sql("CALL glpr_spec.sys.expire_versions('ns20.tg', 1)")
    spark.sql("CALL glpr_spec.sys.vacuum('ns20.tg')")
    assert(spark.sql(
      "SELECT doc_id FROM glpr_spec.ns20.tg VERSION AS OF 'shipped'")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "expire+vacuum must not touch a tagged snapshot")
    // UNTAGGED intermediate versions DID expire (v2 was tagged; the
    // delete's v3 .. whatever isn't the head or tagged is gone);
    // drop_tag releases the snapshot and the next expire reclaims it
    spark.sql("CALL glpr_spec.sys.drop_tag('ns20.tg', 'shipped')")
    spark.sql("CALL glpr_spec.sys.expire_versions('ns20.tg', 1)")
    spark.sql("CALL glpr_spec.sys.vacuum('ns20.tg')")
    val e2 = intercept[Exception] {
      spark.sql("SELECT count(*) FROM glpr_spec.ns20.tg " +
        "VERSION AS OF 'shipped'").head()
    }
    assert(e2.getMessage.contains("no such manifest version, tag or branch"),
      s"dropped tag must fail loudly, got: ${e2.getMessage}")
    // the dropped tag's version file went with it; live stays exact
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns20.tg")
      .head().getLong(0) === 2L)
  }

  test("q355 CHECK constraints: admitted over clean data, enforced on every write, atomic refusal") {
    root: Unit
    spark.sql(s"CREATE TABLE glpr_spec.ns21.ck $ddl")
    def ins(rows: Seq[(Long, String, String, String)]): Unit = {
      rows.toDF("doc_id", "lang", "source", "text")
        .createOrReplaceTempView("ck_in")
      spark.sql("INSERT INTO glpr_spec.ns21.ck SELECT * FROM ck_in")
      spark.catalog.dropTempView("ck_in")
    }
    ins(Seq((1L, "en", "s", "hello"), (2L, "de", "s", "welt")))
    // admit: all existing rows satisfy it
    spark.sql("CALL glpr_spec.sys.add_constraint('ns21.ck', 'pos-id', " +
      "'doc_id > 0 AND length(text) >= 2')")
    assert(spark.sql("CALL glpr_spec.sys.constraints('ns21.ck')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("pos-id", "doc_id > 0 AND length(text) >= 2")))
    // a constraint the data violates refuses, and leaves no trace
    val e0 = intercept[Exception] {
      spark.sql("CALL glpr_spec.sys.add_constraint('ns21.ck', 'en-only', " +
        "\"lang = 'en'\")") }
    assert(e0.getMessage.contains("1 existing row"), e0.getMessage)
    assert(spark.sql("CALL glpr_spec.sys.constraints('ns21.ck')").count() === 1L)
    // enforcement: a violating append fails WHOLE — the good row in the
    // same batch does not land either (the manifest never flips)
    val before = spark.sql("SELECT count(*) FROM glpr_spec.ns21.ck")
      .head().getLong(0)
    val e1 = intercept[Exception] { ins(Seq(
      (3L, "fr", "s", "bon"), (-4L, "fr", "s", "mal"))) }
    assert(e1.getMessage != null)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns21.ck")
      .head().getLong(0) === before, "a refused write must land NOTHING")
    // NULL passes (SQL standard): length(NULL) is NULL -> row admitted —
    // exercised through the extras path, which also pins that DML
    // rewrites carry enforcement
    spark.sql("ALTER TABLE glpr_spec.ns21.ck ADD COLUMN note STRING")
    spark.sql("CALL glpr_spec.sys.add_constraint('ns21.ck', 'note-len', " +
      "'length(note) >= 3')")
    spark.sql("INSERT INTO glpr_spec.ns21.ck VALUES (5, 'en', 's', 'ok', NULL)")
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO glpr_spec.ns21.ck VALUES (6, 'en', 's', 'ok', 'xy')") }
    assert(e2.getMessage != null)
    // UPDATE minting a violating value refuses too (RLO rewrite path)
    val e3 = intercept[Exception] {
      spark.sql("UPDATE glpr_spec.ns21.ck SET note = 'no' WHERE doc_id = 5") }
    assert(e3.getMessage != null)
    // ...and a PASSING update works, carrying the constraint forward
    spark.sql("UPDATE glpr_spec.ns21.ck SET note = 'fine' WHERE doc_id = 5")
    assert(spark.sql(
      "SELECT note FROM glpr_spec.ns21.ck WHERE doc_id = 5")
      .head().getString(0) === "fine")
    // RENAME/DROP of a constrained column refuse; drop_constraint lifts
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE glpr_spec.ns21.ck RENAME COLUMN note TO memo") }
    assert(e4.getMessage.contains("referenced by CHECK constraint"),
      e4.getMessage)
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE glpr_spec.ns21.ck DROP COLUMN note") }
    assert(e5.getMessage.contains("referenced by CHECK constraint"),
      e5.getMessage)
    spark.sql("CALL glpr_spec.sys.drop_constraint('ns21.ck', 'note-len')")
    spark.sql("ALTER TABLE glpr_spec.ns21.ck RENAME COLUMN note TO memo")
    // the surviving constraint still lives (ALTER preserved the token)
    assert(spark.sql("CALL glpr_spec.sys.constraints('ns21.ck')")
      .collect().map(_.getString(0)).toSeq === Seq("pos-id"))
    val e6 = intercept[Exception] {
      spark.sql("INSERT INTO glpr_spec.ns21.ck VALUES (0, 'en', 's', 'zz', NULL)") }
    assert(e6.getMessage != null)
  }

  test("q356 sys.files: per-shard sidecar stats, spec/values era, mask flag") {
    root: Unit
    spark.sql(s"CREATE TABLE glpr_spec.ns22.fl $ddl PARTITIONED BY (lang)")
    Seq((1L, "en", "s", "a"), (2L, "en", "s", "b"), (10L, "de", "s", "c"))
      .toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("fl_in")
    spark.sql("INSERT INTO glpr_spec.ns22.fl SELECT * FROM fl_in")
    spark.catalog.dropTempView("fl_in")
    def files() = spark.sql("CALL glpr_spec.sys.files('ns22.fl')").collect()
      .filter(r => !r.isNullAt(1) && r.getLong(1) > 0)
    val f0 = files()
    // one single-valued shard per lang (the q353 roll discipline), each
    // carrying its own spec era and exact bounds
    assert(f0.map(r => (r.getString(5), r.getString(6))).toSet ===
      Set(("lang", "de"), ("lang", "en")))
    assert(f0.map(_.getLong(1)).sum === 3L)
    val en = f0.find(_.getString(6) == "en").get
    assert((en.getLong(3), en.getLong(4)) === (1L, 2L))
    assert(f0.forall(!_.getBoolean(7)), "plain ingest is mask-free")
    assert(f0.forall(_.getLong(2) > 0L), "bytes are real file lengths")
    // a MoR delete flips the masked flag on exactly the gated shard
    GlprMaintenance.deleteIdRangeMergeOnRead(
      new java.io.File(root, "ns22/fl").toString, 10L, 10L)
    val masked = files().filter(_.getBoolean(7))
    assert(masked.map(_.getString(6)).toSeq === Seq("de"))
  }

  test("q360 metadata tables: ns.t.files/history/tags compose with SQL; real tables shadow") {
    root: Unit
    spark.sql(s"CREATE TABLE glpr_spec.ns23.md $ddl")
    Seq((1L, "en", "s", "aa"), (2L, "de", "s", "bb"))
      .toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("md_in")
    spark.sql("INSERT INTO glpr_spec.ns23.md SELECT * FROM md_in")
    spark.catalog.dropTempView("md_in")
    spark.sql("CALL glpr_spec.sys.tag('ns23.md', 'first')")
    // files: WHERE/aggregate work like any table; sums match the data
    val fr = spark.sql(
      """SELECT sum(rows) AS r, min(id_lo) AS lo, max(id_hi) AS hi
        |FROM glpr_spec.ns23.md.files WHERE rows > 0""".stripMargin).head()
    assert((fr.getLong(0), fr.getLong(1), fr.getLong(2)) === (2L, 1L, 2L))
    // history and tags serve through SQL, and JOIN each other
    val j = spark.sql(
      """SELECT t.name, h.n_rows FROM glpr_spec.ns23.md.tags t
        |JOIN glpr_spec.ns23.md.history h ON t.version = h.version""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(j === Seq(("first", 2L)))
    // a REAL table named 'files' under ns23.md-as-namespace shadows the
    // metadata resolution — metadata only fills the gap
    spark.sql(s"CREATE TABLE glpr_spec.ns23.md2 $ddl")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM glpr_spec.ns23.md2.nope").collect())
    assert(e.getMessage != null) // unknown kind on a real parent fails
    // constraints table lists what sys.constraints lists
    spark.sql("CALL glpr_spec.sys.add_constraint('ns23.md', 'pos', 'doc_id > 0')")
    assert(spark.sql("SELECT name FROM glpr_spec.ns23.md.constraints")
      .collect().map(_.getString(0)).toSeq === Seq("pos"))
  }

  test("q325 dynamic partition overwrite: only incoming partitions swap; straddlers refuse") {
    root: Unit
    val confs = Seq(
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql(s"CREATE TABLE glpr_spec.ns9.dyn $ddl PARTITIONED BY (lang)")
      Seq((1L, "en", "s", "e1"), (2L, "en", "s", "e2"),
        (3L, "de", "s", "d1"), (4L, "de", "s", "d2"), (5L, "zh", "s", "z1"))
        .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("dyn_in")
      spark.sql("INSERT INTO glpr_spec.ns9.dyn SELECT * FROM dyn_in")
      val dir = new java.io.File(root, "ns9/dyn").getAbsolutePath
      val vBefore = GlprSource.listManifestVersions(dir).length
      // dynamic overwrite with ONLY a de row: de is replaced wholesale,
      // en and zh keep every row
      Seq((30L, "de", "s", "d-new"))
        .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("dyn_ow")
      spark.sql("INSERT OVERWRITE glpr_spec.ns9.dyn SELECT * FROM dyn_ow")
      val got = spark.sql("SELECT doc_id, lang FROM glpr_spec.ns9.dyn")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "en"), (2L, "en"), (5L, "zh"), (30L, "de")))
      // one atomic manifest flip = exactly one minted version
      assert(GlprSource.listManifestVersions(dir).length === vBefore + 1)
      // a straddling shard (values inside AND outside the incoming set)
      // refuses loudly instead of deleting other partitions' rows
      val w = new GlprWriter(dir, GlprSource.schema, 0, 99L,
        Some("part-0000000099.glpr"), Some("lang"))
      Seq((50L, "en"), (51L, "fr")).foreach { case (id, l) =>
        w.write(org.apache.spark.sql.catalyst.InternalRow(id,
          org.apache.spark.unsafe.types.UTF8String.fromString(l),
          org.apache.spark.unsafe.types.UTF8String.fromString("s"),
          org.apache.spark.unsafe.types.UTF8String.fromString("x")))
      }
      w.commit()
      GlprSource.mergeIntoManifest(dir, Seq("part-0000000099.glpr"))
      Seq((60L, "en", "s", "e-new"))
        .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("dyn_ow2")
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE glpr_spec.ns9.dyn SELECT * FROM dyn_ow2")
      }
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("mix replaced and surviving"), msg)
      // the refused overwrite left the table untouched (orphans invisible)
      assert(spark.sql("SELECT count(*) FROM glpr_spec.ns9.dyn")
        .head().getLong(0) === 6L)
      Seq("dyn_in", "dyn_ow", "dyn_ow2").foreach(spark.catalog.dropTempView)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q311 SQL time travel: VERSION AS OF resolves manifest versions; pinned tables are read-only") {
    spark.sql(s"CREATE TABLE glpr_spec.ns6.tt $ddl")
    Seq((1L, "en", "s", "first")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("tt_in1")
    spark.sql("INSERT INTO glpr_spec.ns6.tt SELECT * FROM tt_in1") // version 1
    Seq((2L, "de", "s", "second")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("tt_in2")
    spark.sql("INSERT INTO glpr_spec.ns6.tt SELECT * FROM tt_in2") // version 2
    // the SQL front door: VERSION AS OF n → loadTable(ident, "n") → a
    // table pinned to manifest version n
    val v1 = spark.sql("SELECT doc_id FROM glpr_spec.ns6.tt VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet
    assert(v1 === Set(1L), s"VERSION AS OF 1 must see only the first insert: $v1")
    val v2 = spark.sql("SELECT doc_id FROM glpr_spec.ns6.tt VERSION AS OF 2")
      .collect().map(_.getLong(0)).toSet
    assert(v2 === Set(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns6.tt").head().getLong(0) === 2L)
    // a non-numeric pin resolves as a TAG (q354) or BRANCH name
    // (round 18); unknown names and unknown versions both fail loudly
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM glpr_spec.ns6.tt VERSION AS OF 'nope'").collect())
    assert(e1.getMessage.contains("no such manifest version, tag or branch"),
      e1.getMessage)
    // ...and a real branch IS addressable as the SQL audit surface:
    // staged rows are visible through the pin, invisible to main, and
    // the pinned handle is read-only
    val ttDir = new java.io.File(root, "ns6/tt").getAbsolutePath
    GlprSource.createBranch(ttDir, "audit")
    Seq((99L, "en", "s", "staged")).toDF("doc_id", "lang", "source", "text")
      .write.format("graft.io.GlprSource").option("branch", "audit")
      .mode("append").save(ttDir)
    assert(spark.sql(
      "SELECT count(*) FROM glpr_spec.ns6.tt VERSION AS OF 'audit'")
      .head().getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns6.tt")
      .head().getLong(0) === 2L, "staging leaked into the live view")
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM glpr_spec.ns6.tt VERSION AS OF 99").collect())
    assert(e2.getMessage.contains("versionAsOf=99"), e2.getMessage)
    // a version-pinned table refuses writes (historical snapshots are
    // read-only; the guard sits in newWriteBuilder)
    val pinned = new GlprTable(new java.io.File(root, "ns6/tt").getAbsolutePath,
      None, Some(1L))
    val e3 = intercept[Exception] {
      pinned.newWriteBuilder(null)
    }
    assert(e3.getMessage.contains("read-only"), e3.getMessage)
    spark.catalog.dropTempView("tt_in1")
    spark.catalog.dropTempView("tt_in2")
  }

  test("TIMESTAMP AS OF resolves on the durable in-file commit clock, not mtimes") {
    spark.sql(s"CREATE TABLE glpr_spec.ns15.clk $ddl")
    Seq((1L, "en", "s", "a")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("clk_in1")
    Seq((2L, "en", "s", "b")).toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("clk_in2")
    spark.sql("INSERT INTO glpr_spec.ns15.clk SELECT * FROM clk_in1") // v1
    spark.sql("INSERT INTO glpr_spec.ns15.clk SELECT * FROM clk_in2") // v2
    val path = new java.io.File(root, "ns15/clk").getAbsolutePath
    val t0 = 1700000000000L
    GlprSource.pinVersionCommitMs(path, 1L, t0)
    GlprSource.pinVersionCommitMs(path, 2L, t0 + 10000L)
    def countAt(ms: Long): Long = spark.sql(
      s"SELECT count(*) FROM glpr_spec.ns15.clk " +
        s"TIMESTAMP AS OF timestamp_millis(${ms}L)").head().getLong(0)
    assert(countAt(t0 + 5000L) === 1L)
    assert(countAt(t0 + 15000L) === 2L)
    // TOUCH the version files' mtimes (a copy/restore would): the
    // in-file header is the clock, resolution must not move
    Seq(1L, 2L).foreach(v => java.nio.file.Files.setLastModifiedTime(
      GlprSource.versionFile(path, v).toPath,
      java.nio.file.attribute.FileTime.fromMillis(t0 + 999999L)))
    assert(countAt(t0 + 5000L) === 1L,
      "TIMESTAMP AS OF must read the in-file commit clock, not mtimes")
    assert(GlprSource.versionCommitMs(path, 1L) === t0)
    // legacy fallback: a version file WITHOUT a header (pre-round-18)
    // resolves by its mtime
    val v2 = GlprSource.versionFile(path, 2L)
    val stripped = new String(java.nio.file.Files.readAllBytes(v2.toPath), "UTF-8")
      .linesIterator.filterNot(_.trim.startsWith("#")).mkString("\n")
    java.nio.file.Files.write(v2.toPath, stripped.getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(v2.toPath,
      java.nio.file.attribute.FileTime.fromMillis(t0 + 20000L))
    assert(GlprSource.versionCommitMs(path, 2L) === t0 + 20000L)
    assert(countAt(t0 + 15000L) === 1L) // v2 now stamps t0+20s: excluded
    spark.catalog.dropTempView("clk_in1")
    spark.catalog.dropTempView("clk_in2")
  }

  test("q341/q342 months/truncate partitions prune: month windows and prefix probes skip shards") {
    val s2 = spark.newSession()
    val r2 = TempDirs.scratch("graft-glpr-pfxspec").toString
    s2.conf.set("spark.sql.catalog.glpr_pfx", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_pfx.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // months(ts): one shard per month via DISTRIBUTE BY, window reads skip
    s2.sql("CREATE TABLE glpr_pfx.ns.bymonth " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING, ts STRING) " +
      "PARTITIONED BY (months(ts))")
    s2.sql("INSERT INTO glpr_pfx.ns.bymonth " +
      "SELECT id, 'en', 's', concat('t', id), " +
      "concat('2024-0', CAST(1 + id % 3 AS STRING), '-10T08:00:00') " +
      "FROM range(0, 60) DISTRIBUTE BY CAST(id % 3 AS INT)")
    val monDir = new java.io.File(r2, "ns/bymonth").getAbsolutePath
    assert(s2.sql("SELECT count(*) FROM glpr_pfx.ns.bymonth " +
      "WHERE ts >= '2024-02' AND ts <= '2024-02-28'").head().getLong(0) === 20L)
    val (mKept, mTotal) = GlprSource.planEvents.get(monDir)
    assert(mKept < mTotal, s"month window must prune: $mKept/$mTotal")
    // truncate(4, source): raw-column probes relax to their prefix image
    s2.sql("CREATE TABLE glpr_pfx.ns.bypfx " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) " +
      "PARTITIONED BY (truncate(4, source))")
    s2.sql("INSERT INTO glpr_pfx.ns.bypfx " +
      "SELECT id, 'en', concat('src', CAST(id % 12 AS STRING)), " +
      "concat('t', id) FROM range(0, 120) DISTRIBUTE BY substr(" +
      "concat('src', CAST(id % 12 AS STRING)), 1, 4)")
    val pfxDir = new java.io.File(r2, "ns/bypfx").getAbsolutePath
    assert(s2.sql("SELECT count(*) FROM glpr_pfx.ns.bypfx " +
      "WHERE source = 'src7'").head().getLong(0) === 10L)
    val (pKept, pTotal) = GlprSource.planEvents.get(pfxDir)
    assert(pKept < pTotal, s"prefix equality must prune: $pKept/$pTotal")
    // the prefix is an OVER-KEEP, never an under-read: 'src1' covers
    // src1, src10 and src11 — the residual row filter keeps it exact
    assert(s2.sql("SELECT count(*) FROM glpr_pfx.ns.bypfx " +
      "WHERE source IN ('src3', 'src11')").head().getLong(0) === 20L)
    val (iKept, iTotal) = GlprSource.planEvents.get(pfxDir)
    assert(iKept < iTotal, s"prefix IN probe must prune: $iKept/$iTotal")
  }

  test("q349 spec evolution: days-era and months-era shards both prune under their own recorded spec") {
    val r2 = TempDirs.scratch("graft-glpr-specevo-pin").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.glpr_pse", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_pse.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.sql("CREATE TABLE glpr_pse.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING, ts STRING) PARTITIONED BY (days(ts))")
    import s2.implicits._
    // era 1: 4 distinct DAYS (clustered write → single-day shards)
    (0L until 40L).map(i => (i, "en", "s", s"t-$i",
        s"2024-01-0${1 + i % 4}T12:00:00"))
      .toDF("doc_id", "lang", "source", "text", "ts")
      .createOrReplaceTempView("pse_era1")
    s2.sql("INSERT INTO glpr_pse.ns.t SELECT * FROM pse_era1")
    // EVOLVE: one marker write mints the months() era
    s2.sql("CALL glpr_pse.sys.set_partition_spec('ns.t', 'months(ts)')")
      .collect(): Unit
    // era 2: 3 distinct MONTHS
    (100L until 130L).map(i => (i, "en", "s", s"t-$i",
        s"2024-0${3 + i % 3}-10T08:00:00"))
      .toDF("doc_id", "lang", "source", "text", "ts")
      .createOrReplaceTempView("pse_era2")
    s2.sql("INSERT INTO glpr_pse.ns.t SELECT * FROM pse_era2")
    val tdir = new java.io.File(r2, "ns/t").getAbsolutePath
    val metas = GlprSource.committedShards(tdir)
      .flatMap(GlprSource.readMeta).filter(_.rows > 0)
    // preconditions: each shard is single-valued under ITS OWN spec,
    // and the two eras recorded different specs
    assert(metas.forall(_.pvals.exists(_.size == 1)),
      s"expected single-value shards, got ${metas.toSeq.map(_.pvals)}")
    assert(metas.flatMap(_.pcol).toSet ===
      Set("days(ts)", "months(ts)"))
    val total = metas.length
    assert(total === 7, s"expected 4 day + 3 month shards, got $total: " +
      metas.toSeq.map(m => (m.rows, m.pcol, m.pvals)).mkString("; "))
    // ONE window straddling both eras: era 1 keeps days 02-04 (prunes
    // day 01), era 2 keeps month 03 (prunes months 04 and 05 — the raw
    // upper bound truncates to '2024-03' at the months width)
    val got = s2.sql("SELECT doc_id FROM glpr_pse.ns.t " +
      "WHERE ts >= '2024-01-02' AND ts <= '2024-03-31T23:59:59'")
      .collect().map(_.getLong(0)).toSet
    val exp = (0L until 40L).filter(i => i % 4 != 0).toSet ++
      (100L until 130L).filter(i => i % 3 == 0).toSet
    assert(got === exp)
    // planEvents counts every committed shard (empty clustered-write
    // shards always keep); the straddling window prunes 1 day shard +
    // 2 month shards — one from EACH era's own spec
    val (kept, totalPlanned) = GlprSource.planEvents.get(tdir)
    assert(totalPlanned === GlprSource.committedShards(tdir).length)
    assert(kept === totalPlanned - 3,
      s"both eras must prune under their own spec: kept $kept of $totalPlanned")
    // the reverse window: all 4 day shards AND month 03 prune (the raw
    // lower bound truncates to '2024-04' at the months width)
    val gotHi = s2.sql("SELECT count(*) FROM glpr_pse.ns.t " +
      "WHERE ts >= '2024-04-01' AND ts < '2024-05-01'").head().getLong(0)
    assert(gotHi === (100L until 130L).count(_ % 3 == 1))
    val (kept2, _) = GlprSource.planEvents.get(tdir)
    assert(kept2 === totalPlanned - 5,
      s"the April window must prune every day shard + month 03, got kept $kept2")
    s2.catalog.dropTempView("pse_era1"): Unit
    s2.catalog.dropTempView("pse_era2"): Unit
  }

  test("q350 z-order recluster: the hash layout prunes nothing, the z layout prunes BOTH dimensions") {
    val r2 = TempDirs.scratch("graft-glpr-zorder-pin").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.glpr_zop", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_zop.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.sql("CREATE TABLE glpr_zop.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING)")
    import s2.implicits._
    val langs = Seq("en", "de", "fr", "es")
    (0L until 800L).map(i => (i, langs((i % 4).toInt), "s", s"t-$i"))
      .toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("zo_in")
    s2.sql("INSERT INTO glpr_zop.ns.t SELECT * FROM zo_in " +
      "DISTRIBUTE BY xxhash64(doc_id)")
    val tdir = new java.io.File(r2, "ns/t").getAbsolutePath
    def rect(): Set[Long] = s2.sql("SELECT doc_id FROM glpr_zop.ns.t " +
      "WHERE doc_id >= 200 AND doc_id < 400 AND lang = 'en'")
      .collect().map(_.getLong(0)).toSet
    val exp = (200L until 400L).filter(_ % 4 == 0).toSet
    // PRE: every hash shard spans the full id range and all langs —
    // the rectangle keeps everything
    assert(rect() === exp)
    val (preKept, preTotal) = GlprSource.planEvents.get(tdir)
    assert(preKept === preTotal, "hash layout should have nothing to prune")
    assert(preTotal >= 4)
    // Z-ORDER rewrite through the SQL front door
    s2.sql("CALL glpr_zop.sys.recluster('ns.t', 8, 'lang')").collect(): Unit
    // post: shards carry tight id bounds AND small tracked lang sets
    val metas = GlprSource.committedShards(tdir)
      .flatMap(GlprSource.readMeta).filter(_.rows > 0)
    assert(metas.forall(m => m.pcol.contains("lang") && m.pvals.isDefined))
    assert(metas.map(_.pvals.get.size).max <= 2,
      s"z shards should hold few langs, got ${metas.toSeq.map(_.pvals)}")
    val spans = metas.flatMap(_.bounds).map { case (lo, hi) => hi - lo }
    assert(spans.min < 400L,
      s"z shards should hold compact id ranges, got spans ${spans.toSeq}")
    // the same rectangle now prunes, and stays row-exact
    assert(rect() === exp)
    val (kept, total) = GlprSource.planEvents.get(tdir)
    assert(kept < total, s"z layout must prune the rectangle: $kept of $total")
    // each single-dimension probe prunes too
    assert(s2.sql("SELECT count(*) FROM glpr_zop.ns.t WHERE doc_id < 100")
      .head().getLong(0) === 100L)
    val (keptId, totalId) = GlprSource.planEvents.get(tdir)
    assert(keptId < totalId, s"id probe must prune: $keptId of $totalId")
    assert(s2.sql("SELECT count(*) FROM glpr_zop.ns.t WHERE lang = 'de'")
      .head().getLong(0) === 200L)
    val (keptL, totalL) = GlprSource.planEvents.get(tdir)
    assert(keptL < totalL, s"lang probe must prune: $keptL of $totalL")
    s2.catalog.dropTempView("zo_in"): Unit
  }

  test("transform-clustered writes need NO manual DISTRIBUTE BY (required distribution)") {
    val s2 = spark.newSession()
    val r2 = TempDirs.scratch("graft-glpr-reqdist").toString
    s2.conf.set("spark.sql.catalog.glpr_rd", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_rd.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    def pvalsTracked(dir: String): Boolean = {
      val shards = GlprSource.committedShards(dir)
      shards.nonEmpty && shards.filter(f =>
        GlprSource.readMeta(f).exists(_.rows > 0)).forall(f =>
        GlprSource.readMeta(f).exists(_.pvals.isDefined))
    }
    // bucket(4, doc_id): plain INSERT, the connector's required
    // distribution inserts the clustering shuffle itself
    s2.sql("CREATE TABLE glpr_rd.ns.bkt " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) " +
      "PARTITIONED BY (bucket(4, doc_id))")
    s2.sql("INSERT INTO glpr_rd.ns.bkt " +
      "SELECT id, 'en', 's', concat('t', id) FROM range(0, 100)")
    val bktDir = new java.io.File(r2, "ns/bkt").getAbsolutePath
    assert(pvalsTracked(bktDir),
      "bucket write must self-cluster: every shard tracks its value set")
    assert(s2.sql("SELECT count(*) FROM glpr_rd.ns.bkt WHERE doc_id IN (3, 7)")
      .head().getLong(0) === 2L)
    val (bKept, bTotal) = GlprSource.planEvents.get(bktDir)
    assert(bKept < bTotal, s"bucket probe must prune a self-clustered " +
      s"write: $bKept/$bTotal")
    // months(ts): same, via the prefix-transform function
    s2.sql("CREATE TABLE glpr_rd.ns.mon " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING, ts STRING) " +
      "PARTITIONED BY (months(ts))")
    s2.sql("INSERT INTO glpr_rd.ns.mon " +
      "SELECT id, 'en', 's', concat('t', id), " +
      "concat('2024-0', CAST(1 + id % 3 AS STRING), '-10T08:00:00') " +
      "FROM range(0, 60)")
    val monDir = new java.io.File(r2, "ns/mon").getAbsolutePath
    assert(pvalsTracked(monDir),
      "months write must self-cluster: every shard tracks its value set")
    assert(s2.sql("SELECT count(*) FROM glpr_rd.ns.mon " +
      "WHERE ts >= '2024-02' AND ts <= '2024-02-28'").head().getLong(0) === 20L)
    val (mKept, mTotal) = GlprSource.planEvents.get(monDir)
    assert(mKept < mTotal, s"month window must prune a self-clustered " +
      s"write: $mKept/$mTotal")
    // truncate(4, source): same
    s2.sql("CREATE TABLE glpr_rd.ns.trn " +
      "(doc_id BIGINT, lang STRING, source STRING, text STRING) " +
      "PARTITIONED BY (truncate(4, source))")
    s2.sql("INSERT INTO glpr_rd.ns.trn " +
      "SELECT id, 'en', concat('src', CAST(id % 12 AS STRING)), " +
      "concat('t', id) FROM range(0, 120)")
    val trnDir = new java.io.File(r2, "ns/trn").getAbsolutePath
    assert(pvalsTracked(trnDir),
      "truncate write must self-cluster: every shard tracks its value set")
    assert(s2.sql("SELECT count(*) FROM glpr_rd.ns.trn WHERE source = 'src7'")
      .head().getLong(0) === 10L)
    val (tKept, tTotal) = GlprSource.planEvents.get(trnDir)
    assert(tKept < tTotal, s"prefix probe must prune a self-clustered " +
      s"write: $tKept/$tTotal")
  }

  test("CALL sys.delete_where_mor masks rows through the SQL front door") {
    spark.sql(s"CREATE TABLE glpr_spec.ns16.md $ddl")
    (0L until 30L).map(i => (i, if (i % 3 == 0) "de" else "en", "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("md_in")
    spark.sql("INSERT INTO glpr_spec.ns16.md SELECT * FROM md_in")
    val rep = spark.sql(
      "CALL glpr_spec.sys.delete_where_mor('ns16.md', 'lang', 'de')").head()
    assert(rep.getLong(0) >= 1L, s"masked_shards: $rep")
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns16.md")
      .head().getLong(0) === 20L)
    // idempotent re-call: nothing new masked, count stable
    assert(spark.sql(
      "CALL glpr_spec.sys.delete_where_mor('ns16.md', 'lang', 'de')")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns16.md")
      .head().getLong(0) === 20L)
    spark.catalog.dropTempView("md_in")
  }

  test("CALL sys.delete_range_mor + sys.branches: the branch fix loop through SQL only") {
    spark.sql(s"CREATE TABLE glpr_spec.ns17.rd $ddl")
    (0L until 30L).map(i => (i, "en", "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("rd_in")
    spark.sql("INSERT INTO glpr_spec.ns17.rd SELECT * FROM rd_in")
    // main-scoped range MoR delete through the procedure
    assert(spark.sql(
      "CALL glpr_spec.sys.delete_range_mor('ns17.rd', 5, 9)")
      .head().getLong(0) >= 1L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns17.rd")
      .head().getLong(0) === 25L)
    // branch-scoped: mask on the branch, main untouched, refs visible
    spark.sql("CALL glpr_spec.sys.create_branch('ns17.rd', 'fix-a')").collect()
    assert(spark.sql(
      "CALL glpr_spec.sys.delete_range_mor('ns17.rd', 20, 24, 'fix-a')")
      .head().getLong(0) >= 1L)
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns17.rd")
      .head().getLong(0) === 25L, "branch delete leaked into main")
    assert(spark.sql(
      "SELECT count(*) FROM glpr_spec.ns17.rd VERSION AS OF 'fix-a'")
      .head().getLong(0) === 20L)
    val refs = spark.sql("CALL glpr_spec.sys.branches('ns17.rd')").collect()
    assert(refs.length === 1)
    assert(refs.head.getString(0) === "fix-a")
    assert(refs.head.getInt(1) === 2, s"chain length: ${refs.head}") // fork + delete
    assert(!refs.head.isNullAt(3), "fork_main_version must be recorded")
    spark.sql("CALL glpr_spec.sys.publish_branch('ns17.rd', 'fix-a')").collect()
    assert(spark.sql("SELECT count(*) FROM glpr_spec.ns17.rd")
      .head().getLong(0) === 20L)
    spark.sql("CALL glpr_spec.sys.drop_branch('ns17.rd', 'fix-a')").collect()
    assert(spark.sql("CALL glpr_spec.sys.branches('ns17.rd')").collect().isEmpty)
    spark.catalog.dropTempView("rd_in")
  }

  test("bucket-count evolution: mixed bucket eras each prune a point probe under their own modulus") {
    val r2 = TempDirs.scratch("graft-glpr-bucketevo").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.glpr_bev", "graft.io.GlprCatalog")
    s2.conf.set("spark.sql.catalog.glpr_bev.root", r2)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.sql("CREATE TABLE glpr_bev.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, text STRING) PARTITIONED BY (bucket(4, doc_id))")
    import s2.implicits._
    (0L until 80L).map(i => (i, "en", "s", s"t-$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("bev1")
    s2.sql("INSERT INTO glpr_bev.ns.t SELECT * FROM bev1")
    s2.sql("CALL glpr_bev.sys.set_partition_spec('ns.t', 'bucket(8,doc_id)')")
      .collect(): Unit
    (100L until 180L).map(i => (i, "en", "s", s"t-$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("bev2")
    s2.sql("INSERT INTO glpr_bev.ns.t SELECT * FROM bev2")
    val tdir = new java.io.File(r2, "ns/t").getAbsolutePath
    val metas = GlprSource.committedShards(tdir)
      .flatMap(GlprSource.readMeta).filter(_.rows > 0)
    assert(metas.flatMap(_.pcol).toSet ===
      Set("bucket(4,doc_id)", "bucket(8,doc_id)"))
    // a point probe keeps ONE bucket per era: id 13 -> bucket 1 (mod 4)
    // and bucket 5 (mod 8)
    val got = s2.sql("SELECT text FROM glpr_bev.ns.t WHERE doc_id = 13")
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("t-13"))
    val (kept, total) = GlprSource.planEvents.get(tdir)
    // empty clustered-write shards always keep; among DATA shards the
    // probe keeps at most one per era (era 1: the shard whose bucket set
    // holds 13 mod 4; era 2: bounds prune everything — ids start at 100)
    val nEmpty = GlprSource.committedShards(tdir)
      .flatMap(GlprSource.readMeta).count(_.rows == 0)
    assert(kept <= nEmpty + 2,
      s"point probe must keep <= one data shard per era: kept $kept of " +
        s"$total with $nEmpty empty shards")
    s2.catalog.dropTempView("bev1"): Unit
    s2.catalog.dropTempView("bev2"): Unit
  }

  test("q351 zero-copy clone: shared inodes, independent divergence, vacuum isolation") {
    spark.sql(s"CREATE TABLE glpr_spec.ns18.src $ddl")
    (0L until 60L).map(i => (i, "en", "s", s"t$i"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("cl_in")
    // three appends = three shard groups (AQE coalescing folds a single
    // clustered INSERT of this size into one shard)
    spark.sql("INSERT INTO glpr_spec.ns18.src SELECT * FROM cl_in WHERE doc_id < 20")
    spark.sql("INSERT INTO glpr_spec.ns18.src " +
      "SELECT * FROM cl_in WHERE doc_id >= 20 AND doc_id < 40")
    spark.sql("INSERT INTO glpr_spec.ns18.src SELECT * FROM cl_in WHERE doc_id >= 40")
    val srcPath = new java.io.File(root, "ns18/src").getAbsolutePath
    val dstPath = new java.io.File(root, "ns18/dst").getAbsolutePath
    // a live mask BEFORE the clone: the snapshot must share it
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(srcPath, 5L, 9L).nonEmpty)
    val rep = spark.sql("CALL glpr_spec.sys.clone('ns18.src', 'ns18.dst')").head()
    assert(rep.getLong(0) >= 1L)
    // ZERO-COPY: the payload files are the same inodes (hard links)
    val shared = GlprSource.committedShards(srcPath).head
    val nlink = java.nio.file.Files.getAttribute(
      shared.toPath, "unix:nlink").asInstanceOf[Number].intValue
    assert(nlink >= 2, s"clone must hard-link, not copy (nlink=$nlink)")
    def count(t: String): Long =
      spark.sql(s"SELECT count(*) FROM glpr_spec.ns18.$t").head().getLong(0)
    assert(count("src") === 55L && count("dst") === 55L)
    // diverge each side independently over the shared bytes
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(dstPath, 20L, 29L).nonEmpty)
    assert(GlprMaintenance.deleteIdRangeMergeOnRead(srcPath, 50L, 54L).nonEmpty)
    assert(count("src") === 50L, "clone DML leaked into the source")
    assert(count("dst") === 45L, "source DML leaked into the clone")
    // retention isolation: fold + retire + physically reclaim the
    // CLONE's members — the source keeps reading every byte (links are
    // per-directory names onto shared inodes)
    GlprMaintenance.compact(dstPath, Long.MaxValue / 2): Unit
    GlprMaintenance.expireVersions(dstPath, keepLast = 1): Unit
    assert(GlprMaintenance.vacuum(dstPath) >= 1)
    assert(count("src") === 50L, "clone-side vacuum pulled source bytes")
    assert(count("dst") === 45L)
    // an existing destination refuses
    val e = intercept[Exception](
      spark.sql("CALL glpr_spec.sys.clone('ns18.src', 'ns18.dst')").collect())
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // the clone is a real catalog table (marker copied)
    assert(spark.sql("SHOW TABLES IN glpr_spec.ns18").collect()
      .map(_.getString(1)).toSet === Set("src", "dst"))
    spark.catalog.dropTempView("cl_in")
  }

  test("MERGE clause completeness: MATCHED DELETE, NOT MATCHED BY SOURCE UPDATE/DELETE") {
    spark.sql(s"CREATE TABLE glpr_spec.ns14.m $ddl")
    Seq((1L, "en", "s", "a"), (2L, "en", "s", "b"), (3L, "en", "s", "c"),
        (4L, "stale", "s", "d"), (5L, "en", "s", "e"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("m_target")
    spark.sql("INSERT INTO glpr_spec.ns14.m SELECT * FROM m_target")
    // changelog: update 2, tombstone 3, insert 6 — the CDC-apply shape
    Seq((2L, "U", "B2"), (3L, "D", ""), (6L, "U", "f"))
      .toDF("doc_id", "op", "text").createOrReplaceTempView("m_changes")
    spark.sql(
      """MERGE INTO glpr_spec.ns14.m t USING m_changes u ON t.doc_id = u.doc_id
        |WHEN MATCHED AND u.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.text = u.text
        |WHEN NOT MATCHED AND u.op <> 'D' THEN
        |  INSERT (doc_id, lang, source, text) VALUES (u.doc_id, 'en', 'ins', u.text)
        |WHEN NOT MATCHED BY SOURCE AND t.lang = 'stale' THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.doc_id = 5 THEN UPDATE SET t.source = 'kept'
        |""".stripMargin)
    val got = spark.sql("SELECT doc_id, source, text FROM glpr_spec.ns14.m")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      (1L, "s", "a"),      // untouched (no clause matched)
      (2L, "s", "B2"),     // MATCHED UPDATE
      (5L, "kept", "e"),   // NOT MATCHED BY SOURCE UPDATE
      (6L, "ins", "f")),   // NOT MATCHED INSERT; 3 tombstoned, 4 purged
      s"MERGE clause routing broke: $got")
    // the whole statement was ONE manifest commit (atomicity): initial
    // write = v1, merge = v2
    val path = new java.io.File(root, "ns14/m").getAbsolutePath
    assert(GlprSource.listManifestVersions(path).size === 2)
    spark.catalog.dropTempView("m_target")
    spark.catalog.dropTempView("m_changes")
  }

  test("a catalog scenario deletes its scratch root: three calls, identical results, no dir left") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def glprDirs(): Set[String] =
      Option(tmp.list()).map(_.filter(_.startsWith("graft-glpr-")).toSet)
        .getOrElse(Set.empty)
    val before = glprDirs()
    val runs = (1 to 3).map(_ =>
      graft.GlprScenarios.catalogSqlPipeline(spark, TestSpark.sfDir).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq)
    assert(runs.head.nonEmpty)
    assert(runs.forall(_ == runs.head))
    val left = glprDirs() -- before
    assert(left.isEmpty, s"catalog scenario calls left scratch dirs behind: $left")
  }
}
