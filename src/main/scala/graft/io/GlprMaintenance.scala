package graft.io

/** Maintenance operations over a GLPR shard directory — the OPTIMIZE /
  * VACUUM rung of the connector's lakehouse ladder (q309).
  *
  * '''Compaction''' (the small-files problem): streaming ingest under
  * admission control, per-task batch writes, and partitioned inserts all
  * produce many small shards; at 100 TB the per-file open/plan overhead
  * and the task-count explosion dominate. `compact` greedily groups
  * lexically-consecutive committed shards until each group reaches
  * `targetBytes`, then merges each group by BYTE CONCATENATION — the
  * GLPR record stream is self-delimiting, so concatenating shard
  * payloads IS a valid shard; no decode, no re-encode, no Spark job.
  * The merged sidecar is computed from the group's sidecars alone:
  * rows/field-bytes sum, id bounds take min/max, partition-value sets
  * union (dropped if any member lacks them or columns disagree), and
  * doc_id blooms OR-merge after folding to the smallest member size
  * (power-of-two folding is membership-exact, so the merged bloom
  * never false-negatives).
  *
  * '''Naming & visibility contract''': each merged shard takes a FRESH
  * name past every name the directory ever used
  * ([[GlprSource.usedShardNames]]) — name reuse would let a
  * `_manifest.v<n>` snapshot silently resolve to post-compaction bytes
  * (q311's phantom history). Members are RETIRED by the manifest flip,
  * never unlinked (round-17 retention): the pre-compaction versions
  * keep reading them until expire+vacuum. Compaction is for QUIESCENT
  * corpora: it invalidates in-flight streaming checkpoints — a
  * name-offset reader would re-deliver the merged rows under their new
  * name (a production system makes this atomic with a manifest/snapshot
  * layer; this format's documented scope is name-interval offsets over
  * append-only dirs). Crash ordering: the merged shard is staged
  * invisibly (`_tmp-`), renamed in (still invisible — not in the
  * manifest), and the manifest commit LAST swaps members for the merged
  * name; a crash before the commit leaves the table untouched plus one
  * orphan for vacuum, never a gap and never duplication.
  *
  * '''Vacuum & retention''' (round 17): DELETE / OVERWRITE / rewrites /
  * compaction all RETIRE shards — drop them from the live manifest,
  * keep the files for the versions that own them — so storage reclaim
  * is an explicit two-step maintenance horizon, the Delta/Iceberg
  * model: [[expireVersions]] drops old `_manifest.v<n>` snapshots, then
  * [[vacuum]] unlinks `_tmp-` stage wreckage AND any shard (+sidecars)
  * referenced by neither the live manifest nor a surviving version,
  * older than a grace period (default 0 here — the sandbox has no
  * concurrent writers; production would use hours, like Delta's VACUUM
  * horizon). Historical reads of expired state then fail loudly.
  */
object GlprMaintenance {

  /** The shard's LIVE delete-vector mask per its manifest line (gen
    * file, or legacy bare `.dv`); empty = unmasked. */
  private def liveMaskOf(path: String, line: String): Array[Long] =
    GlprSource.resolveDv(path, GlprSource.entryName(line),
      GlprSource.entryDvGen(line), pinned = false)

  /** One compacted group's bookkeeping, for reports/tests. */
  final case class CompactGroup(mergedName: String, memberNames: Seq[String],
      rows: Long, bytes: Long)

  /** Merge groups of small committed shards up to `targetBytes` each.
    * Returns the groups actually merged (singletons are untouched and
    * not reported). Byte-level concatenation; sidecars merged from
    * sidecars — see the object doc for the exact fold rules.
    *
    * MASKED members fold their mask IN-FLIGHT (round-18 verdict #3): a
    * delete-vector-carrying shard is rewritten through the standard
    * reader (mask applied) into an invisible stage file, the STAGE
    * bytes join the byte concat, and the member's line — dv token and
    * all — retires in the same manifest flip, so the merged shard is
    * mask-free and the old generations drop out of the live view
    * (vacuum reclaims them with the retired member after expiry). No
    * separate materializeDeletes pass needed. Masked shards carrying
    * schema-evolution extras still act as group boundaries (the fold
    * reads the base schema only, like every path-level rewrite). */
  def compact(path: String, targetBytes: Long): Seq[CompactGroup] = {
    // retention needs the manifest as the visibility point (members are
    // RETIRED by the flip, never unlinked): pin one now, adopting any
    // legacy listing
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val dir = new java.io.File(path)
    val entries = GlprSource.committedEntries(path)
    val lineOf: Map[String, String] =
      entries.map(l => GlprSource.entryName(l) -> l).toMap
    val shards0 = entries.map(l => new java.io.File(dir, GlprSource.entryName(l)))
      .filter(_.isFile)
    val metaOf: Map[String, Option[GlprSource.ShardMeta]] =
      shards0.map(f => f.getName -> GlprSource.readMeta(f)).toMap
    // PARTITION-CLASS key (round-19 verdict #2): on a partitioned/
    // bucketed table, merging shards with different recorded
    // (pcol, pvals) would turn single-valued shards into multi-valued
    // ones — sound for pruning (the sidecar unions the sets) but it
    // silently voids the zero-exchange contracts built on
    // every-shard-single-valued layouts (q306 grouped metadata
    // aggregates, q319/q353 storage-partitioned joins, the q358 dedup
    // audit) until a recluster. OPTIMIZE must never cost the SPJ
    // dividend: groups stay inside one (pcol, pvals) class. Sorting by
    // (class, name) makes same-class shards from DIFFERENT ingest
    // waves adjacent so they still fold; unpartitioned shards all key
    // to "" and keep the original lexical (= id/epoch) order exactly.
    def classKey(f: java.io.File): String = metaOf(f.getName)
      .map(m => m.pcol.getOrElse("") + "|" +
        m.pvals.map(_.toSeq.sorted.mkString(",")).getOrElse(""))
      .getOrElse("")
    val shards = shards0.sortBy(f => (classKey(f), f.getName))
    val maskedNames = entries.filter(l => liveMaskOf(path, l).nonEmpty)
      .map(GlprSource.entryName).toSet
    // greedy consecutive grouping within each class, so each merged
    // shard covers a contiguous name interval of its class
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[java.io.File]]
    var cur = Vector.empty[java.io.File]
    var curBytes = 0L
    var curCols: Seq[String] = Seq.empty
    var curPart = ""
    shards.foreach { f =>
      // a schema-evolution boundary also breaks the group: byte concat
      // needs ONE field layout per merged shard (q332)
      val cols = metaOf(f.getName).map(_.cols).getOrElse(Seq.empty)
      val part = classKey(f)
      if (maskedNames(f.getName) && cols.nonEmpty) {
        // masked + extras: unfoldable here — boundary, like round 17
        if (cur.nonEmpty) { groups += cur; cur = Vector.empty; curBytes = 0L }
      } else {
        if (cur.nonEmpty && (curBytes + f.length > targetBytes ||
            cols != curCols || part != curPart)) {
          groups += cur; cur = Vector.empty; curBytes = 0L
        }
        cur :+= f; curBytes += f.length; curCols = cols; curPart = part
      }
    }
    if (cur.nonEmpty) groups += cur
    val toMerge = groups.toSeq.filter(_.length > 1)
    // fold masked members' masks into stage rewrites (only for groups
    // that actually merge — untouched singletons keep their masks)
    val foldedGens = scala.collection.mutable.Map.empty[String, Long]
    val prepared: Seq[Vector[(java.io.File, java.io.File)]] = toMerge.map(
      _.map { f =>
        if (maskedNames(f.getName)) {
          val line = lineOf(f.getName)
          GlprSource.entryDvGen(line).foreach(g =>
            foldedGens(f.getName) = g)
          (f, foldMask(path, f, liveMaskOf(path, line)))
        } else (f, f)
      })
    val merged = prepared.zip(mintNames(path, prepared.length))
      .map { case (g, n) => mergeGroup(path, g, n) }
    // the manifest commit is the visibility flip: members out (their dv
    // tokens with them), fresh merged names in (and a minted version —
    // compaction is one atomic history step to time travel)
    if (merged.nonEmpty) {
      val dropped = merged.flatMap(_.memberNames).toSet
      var committed = false
      try {
        GlprSource.commitManifest(path)(base => {
          // a racing MoR delete may have advanced ANY member's mask past
          // the generation we folded — including landing the FIRST
          // generation on a member that was unmasked at scan time
          // (folded gen 0). Dropping such a line would lose that delete
          // into the already-concatenated raw bytes; refuse loudly (the
          // same posture as the MoR deletes' post-commit guard).
          base.foreach { l =>
            val n = GlprSource.entryName(l)
            if (dropped(n) &&
                GlprSource.entryDvGen(l).exists(_ > foldedGens.getOrElse(n, 0L)))
              throw new IllegalStateException(
                s"GLPR compact in '$path': shard '$n' grew a newer " +
                  s"delete-vector generation than the one folded " +
                  s"(${foldedGens.getOrElse(n, 0L)}) — a concurrent MoR " +
                  "delete raced the compaction; re-run")
          }
          base.filterNot(l => dropped(GlprSource.entryName(l))) ++
            merged.map(_.mergedName)
        })
        committed = true
      } finally {
        // stage rewrites served the concat only; drop them always. On a
        // REFUSED commit also unlink the merged payloads: they carry
        // real batch names, so leaving them would let a later
        // rebuild_manifest adopt them as 'true orphans' and double-count
        // every member row.
        prepared.flatten.foreach { case (orig, data) =>
          if (data ne orig) { GlprSource.metaFile(data).delete(); data.delete() }
          (): Unit
        }
        if (!committed) merged.foreach { g =>
          val f = new java.io.File(path, g.mergedName)
          GlprSource.metaFile(f).delete(); f.delete(): Unit
        }
      }
    }
    merged
  }

  /** Every base-schema row of one shard that its delete-vector `mask`
    * leaves live: the read side of the shard rewrites. */
  private def liveRows(file: String, mask: Array[Long]): GlprRowReader =
    new GlprRowReader(new GlprColumnarReader(file, GlprSource.schema,
      GlprSource.IdRange(Long.MinValue, Long.MaxValue), None, "insert", mask))

  private val foldCounter = new java.util.concurrent.atomic.AtomicLong()
  /** Rewrite one masked shard into an invisible `_tmp-` stage file with
    * its delete-vector mask APPLIED (standard reader → standard writer,
    * so the stage carries an exact sidecar: post-mask rows/bounds/bytes/
    * bloom). The stage is named inside the `_tmp` namespace: never
    * adopted by rebuild, reclaimed by vacuum if a crash strands it. */
  private def foldMask(path: String, shard: java.io.File,
      mask: Array[Long]): java.io.File = {
    val stageName = s"_tmp-compactfold-${foldCounter.incrementAndGet()}-" +
      shard.getName
    val reader = liveRows(shard.getAbsolutePath, mask)
    // carry the member's recorded partition spec through the rewrite:
    // without it the stage sidecar has no pcol/pvals, mergeGroup's
    // value-set fold (all-members-or-nothing) then drops the MERGED
    // shard's set and partition-value pruning dies for the group. The
    // spec reads base columns only here — masked shards carrying extras
    // never fold (group boundary), and extra-column partition specs
    // imply extras.
    val pcol = GlprSource.readMeta(shard).flatMap(_.pcol)
    val writer = new GlprWriter(path, GlprSource.schema, 0,
      Thread.currentThread().getId, Some(stageName), pcol)
    try {
      while (reader.next()) writer.write(reader.get())
    } finally reader.close()
    writer.commit(): Unit
    new java.io.File(path, stageName)
  }

  /** Fresh never-used names for `n` merged shards, in the directory's
    * naming scheme. Batch dirs take the next batch numbers; epoch
    * (streaming-sink) dirs stay INSIDE the maximum epoch with partition
    * numbers past that epoch's maximum — lexically after every existing
    * shard, and no future epoch (which starts a higher prefix) can ever
    * collide with them. */
  private def mintNames(path: String, n: Int): Seq[String] = {
    val used = GlprSource.usedShardNames(path)
    if (used.exists(GlprSource.isEpochShardName)) {
      val parsed = used.filter(GlprSource.isEpochShardName).map { s =>
        val core = s.stripPrefix("part-").stripSuffix(".glpr").split("-")
        (core(0).toLong, core(1).toLong)
      }
      val maxEpoch = parsed.map(_._1).max
      // claimed via the epoch-scoped reservation CAS (round-19 review:
      // a bare max+1 here left concurrent compactions on a streaming
      // dir the same same-name clobber window reserveNameBase closes
      // for batch dirs); racing a LIVE stream stays single-writer-only
      val base = GlprSource.reserveEpochBase(path, maxEpoch,
        parsed.filter(_._1 == maxEpoch).map(_._2).max, n.toLong.max(1L))
      (0 until n).map(i => f"part-$maxEpoch%010d-${base + i}%05d.glpr")
    } else {
      val base = GlprSource.reserveNameBase(path, n.toLong.max(1L))
      (0 until n).map(i => f"part-${base + i}%010d.glpr")
    }
  }

  /** One group merge: `group` pairs each ORIGINAL member (the manifest
    * name to retire) with the DATA file to concatenate (the member
    * itself, or its mask-folded stage rewrite). */
  private def mergeGroup(path: String, group: Vector[(java.io.File, java.io.File)],
      name: String): CompactGroup = {
    val metas = group.map(p => GlprSource.readMeta(p._2))
    // --- merged sidecar from member sidecars (None if any is missing:
    // the merged shard then rides the raw-size fallback, like any
    // externally-written shard) ---
    val mergedMeta: Option[String] = if (metas.forall(_.isDefined)) {
      val ms = metas.map(_.get)
      val rows = ms.map(_.rows).sum
      val base = s"rows=$rows lang=${ms.map(_.lang).sum} " +
        s"source=${ms.map(_.source).sum} text=${ms.map(_.text).sum}"
      val nonEmpty = ms.filter(_.rows > 0)
      val bounds =
        if (nonEmpty.nonEmpty && nonEmpty.forall(_.bounds.isDefined)) {
          val bs = nonEmpty.flatMap(_.bounds)
          s" idlo=${bs.map(_._1).min} idhi=${bs.map(_._2).max}"
        } else ""
      val pvals = {
        val cols = nonEmpty.flatMap(_.pcol).distinct
        if (nonEmpty.nonEmpty && cols.length == 1 &&
            nonEmpty.forall(_.pvals.isDefined)) {
          val union = nonEmpty.flatMap(_.pvals.get).toSet
          if (union.size <= 32)
            s" pcol=${cols.head} pvals=${union.toSeq.sorted.map(GlprSource.encodePval).mkString(",")}"
          else ""
        } else ""
      }
      val bloom =
        if (nonEmpty.nonEmpty && nonEmpty.forall(_.bloom.isDefined)) {
          val blooms = nonEmpty.flatMap(_.bloom)
          val minBits = blooms.map(_.length * 64).min
          val merged = new Array[Long](minBits / 64)
          blooms.foreach { b =>
            val folded = GlprSource.bloomFold(b, minBits)
            var i = 0
            while (i < merged.length) { merged(i) |= folded(i); i += 1 }
          }
          s" bloom=${GlprSource.bloomHex(merged)}"
        } else ""
      // the group shares one field layout by construction (cols is a
      // compaction group boundary); carry it forward
      val colsKv = ms.head.cols match {
        case Seq() => ""
        case cs => s" cols=${cs.map(GlprSource.encodePval).mkString(",")}"
      }
      // base-column value sets (vlang/vsource): union when every
      // non-empty member tracked the column and the union stays capped
      def valsKv(c: String): String = {
        val sets = nonEmpty.map(_.vals.get(c))
        if (nonEmpty.nonEmpty && sets.forall(_.isDefined)) {
          val union = sets.flatMap(_.get).toSet
          if (union.size <= 32)
            s" v$c=${union.toSeq.sorted.map(GlprSource.encodePval).mkString(",")}"
          else ""
        } else ""
      }
      Some(base + bounds + pvals + bloom + colsKv +
        valsKv("lang") + valsKv("source"))
    } else None

    // --- stage the concatenated payload invisibly ---
    val stage = new java.io.File(path, s"_tmp-compact-$name")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(stage))
    try group.foreach(p => java.nio.file.Files.copy(p._2.toPath, out))
    finally out.close()
    val stageMeta = new java.io.File(path, s"_tmp-compact-$name.meta")
    mergedMeta.foreach(m => java.nio.file.Files.write(stageMeta.toPath,
      m.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

    // --- rename the stage in; members stay on disk (RETIRED by the
    // caller's manifest flip — the versions that recorded them keep
    // them readable). Until the flip the merged shard is an invisible
    // orphan, so a crash here leaves the table untouched and vacuum
    // reclaims the orphan — the round-16 unlink-before-rename crash
    // window (visibility gap) is gone. ---
    val dest = new java.io.File(path, name)
    if (mergedMeta.isDefined)
      java.nio.file.Files.move(stageMeta.toPath,
        GlprSource.metaFile(dest).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(stage.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    CompactGroup(name, group.map(_._1.getName),
      mergedMeta.flatMap(_ => metas.flatMap(_.map(_.rows)).reduceOption(_ + _))
        .getOrElse(-1L),
      dest.length)
  }

  /** One row-level delete's bookkeeping, for reports/tests: shards
    * unlinked whole (metadata-only), straddlers rewritten (old name →
    * survivor name, or None when no row survived), rows removed. */
  final case class RowDeleteReport(unlinked: Seq[String],
      rewritten: Map[String, Option[String]], rowsDeleted: Long)

  /** COPY-ON-WRITE row-level DELETE (q314) — completes the connector's
    * delete ladder. SQL `DELETE … WHERE` stays METADATA-ONLY by contract
    * ([[GlprTable.canDeleteWhere]] refuses anything not shard-aligned:
    * zero data bytes is the lakehouse fast path, and refusing loudly
    * beats rewriting by surprise); THIS is the documented fallback for
    * the refusal. Per shard, by sidecar bounds: fully inside `[lo, hi]`
    * → unlinked whole (still metadata-only); provably disjoint →
    * untouched; STRADDLING (or bounds-less with rows) → rewritten by a
    * distributed job, one task per shard, each decoding through the
    * chunk-cursor reader and re-writing survivors through the two-phase
    * [[GlprWriter]] under a FRESH name past the directory maximum (the
    * append naming contract; a fully-emptied straddler writes nothing).
    * VISIBILITY is one manifest commit after every survivor is staged:
    * readers see the old state or the new state, never half — and the
    * commit mints a version, so time travel observes the delete as one
    * atomic history step (pre-delete versions then fail loudly, per the
    * q311 vanished-over-phantom rule). Crash before the commit leaves
    * invisible fresh-named orphans (vacuum/rebuild territory); crash
    * after it leaves unlinked old shards on disk — gap/garbage over
    * duplication, the q309 ordering. At 100 TB the rewrite cost is the
    * STRADDLING working set, not the corpus: on a range-clustered
    * layout that is ≤2 shards; only a hash layout (the q314 registry
    * staging, deliberately) pays a full rewrite. */
  def deleteIdRange(spark: org.apache.spark.sql.SparkSession, path: String,
      lo: Long, hi: Long): RowDeleteReport = {
    require(lo <= hi, s"empty GLPR delete range [$lo, $hi]")
    // rewrites mint batch-named survivors; refuse epoch-named (stream-
    // written) straddlers rather than break the one-naming-scheme rule
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val dir0 = new java.io.File(path)
    val entries = GlprSource.committedEntries(path)
    val lineOf: Map[String, String] =
      entries.map(l => GlprSource.entryName(l) -> l).toMap
    val shards = entries.map(l => new java.io.File(dir0, GlprSource.entryName(l)))
      .filter(_.isFile).sortBy(_.getName).toArray
    def classify(f: java.io.File): Int = { // 0 keep, 1 unlink, 2 rewrite
      val m = GlprSource.readMeta(f)
      if (m.exists(_.rows == 0)) 0
      else m.flatMap(_.bounds) match {
        case Some((slo, shi)) =>
          if (slo >= lo && shi <= hi) 1
          else if (shi < lo || slo > hi) 0
          else 2
        case None => 2 // no bounds: only the rows themselves can tell
      }
    }
    val doomed = shards.filter(classify(_) == 1)
    val straddle = shards.filter(classify(_) == 2)
    require(!straddle.exists(f =>
        GlprSource.readMeta(f).exists(_.cols.nonEmpty)),
      s"GLPR row delete in '$path' refused: a straddling shard carries " +
        "schema-evolution extra columns; the path-level rewrite reads the " +
        "base schema only — use the SQL row-level DML (which carries the " +
        "full table schema) instead")
    require(!straddle.exists(f => GlprSource.isEpochShardName(f.getName)),
      s"GLPR row delete in '$path' refused: a straddling shard is " +
        "epoch-named (streaming sink); its batch-named survivor would mix " +
        "naming schemes and break the lexical offset contract")
    val nameBase: Long =
      GlprSource.reserveNameBase(path, straddle.length.toLong.max(1L))
    val jobs = straddle.map(_.getName).zipWithIndex.map { case (n, i) =>
      (n, f"part-${nameBase + i}%010d.glpr", liveMaskOf(path, lineOf(n)))
    }
    val results = rewriteJob(spark, path, jobs.toSeq, lo, hi)
    // one manifest commit = the visibility flip (and a minted version);
    // kept LINES survive verbatim, so a kept shard keeps its dv state
    val doomedNames = doomed.map(_.getName).toSet
    val straddleNames = straddle.map(_.getName).toSet
    val keepLines = entries
      .filterNot(l => doomedNames(GlprSource.entryName(l)) ||
        straddleNames(GlprSource.entryName(l)))
    GlprSource.writeManifest(path,
      (keepLines ++ results.flatMap(_._2)).toSeq)
    val doomedRows = doomed.flatMap(f => GlprSource.readMeta(f).map(_.rows)).sum
    // the doomed and straddling shards are RETIRED, not unlinked: their
    // files stay on disk owned by the pre-delete versions, so time
    // travel across the delete keeps working until expire+vacuum
    RowDeleteReport(doomedNames.toSeq.sorted,
      results.map(r => r._1 -> r._2).toMap,
      doomedRows + results.map(_._3).sum)
  }

  /** The shared distributed rewrite: one task per (old, fresh-named)
    * shard, decoding through the standard reader with the shard's LIVE
    * delete-vector mask applied (resolved driver-side, shipped in the
    * job tuple), dropping ids in `[lo, hi]` (pass an empty range to
    * drop nothing extra), two-phase-committing survivors. Returns
    * (oldName, survivorName or None-if-emptied, rowsDropped — the RANGE
    * drops only; DV-masked rows never reach the counter). */
  private def rewriteJob(spark: org.apache.spark.sql.SparkSession,
      path: String, jobs: Seq[(String, String, Array[Long])],
      lo: Long, hi: Long): Array[(String, Option[String], Long)] =
    if (jobs.isEmpty) Array.empty
    else spark.sparkContext.parallelize(jobs, jobs.length)
      .map { case (oldName, newName, mask) =>
        val reader = liveRows(new java.io.File(path, oldName).getAbsolutePath, mask)
        val taskId = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val writer = new GlprWriter(path, GlprSource.schema, 0, taskId,
          Some(newName))
        var kept = 0L; var dropped = 0L
        try {
          while (reader.next()) {
            val row = reader.get()
            val id = row.getLong(0)
            if (id >= lo && id <= hi) dropped += 1
            else { writer.write(row); kept += 1 }
          }
        } finally reader.close()
        if (kept > 0) { writer.commit(); (oldName, Some(newName), dropped) }
        else { writer.abort(); (oldName, None, dropped) }
      }.collect()

  /** MERGE-ON-READ row delete (q322): zero data bytes moved — every
    * shard whose sidecar bounds may hold ids in `[lo, hi]` gets a fresh
    * immutable delete-vector GENERATION (current mask ∪ range), all
    * recorded in ONE manifest commit: the delete is a single versioned
    * history step (see the [[GlprSource.dvFile]] contract scaladoc).
    * Readers apply the mask at the id gate; the metadata paths that
    * would lie under it decline. The complement of q314: DELETE costs
    * one tiny sidecar per affected shard instead of a rewrite, reads
    * pay the filter until [[materializeDeletes]]. Returns the names
    * whose mask CHANGED (empty for an idempotent re-delete).
    *
    * BRANCH-scoped (round 19, q346): with `branch` set, the delete
    * applies to the BRANCH head instead of main — masks go to the
    * branch's own delete-vector namespace (`dvb=` tokens, translated to
    * shared generations at publish), recorded by one branch-chain
    * commit, invisible to main readers, and discarded whole with
    * [[GlprSource.dropBranch]]. This completes the write-audit-publish
    * loop: an audit that FINDS bad rows can now fix the branch in place
    * and re-audit instead of dropping everything and restarting. */
  def deleteIdRangeMergeOnRead(path: String, lo: Long, hi: Long,
      branch: Option[String] = None): Seq[String] = {
    require(lo <= hi, s"empty GLPR delete range [$lo, $hi]")
    branch match {
      case Some(b) => return deleteRangeMergeOnReadBranch(path, b, lo, hi)
      case None =>
    }
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val dir = new java.io.File(path)
    // per affected shard: write the next immutable delete-vector
    // GENERATION (current live mask ∪ the range), then record every new
    // gen in ONE manifest commit — the whole MoR delete is one atomic,
    // VERSIONED history step (round 17; pre-gen deletes were per-shard
    // visible and invisible to time travel). An idempotent re-delete
    // changes no mask, writes no gen, mints no version.
    val newGens: Map[String, Long] = GlprSource.committedEntries(path)
      .flatMap { l =>
        val n = GlprSource.entryName(l)
        val f = new java.io.File(dir, n)
        val m = GlprSource.readMeta(f)
        val affected =
          if (m.exists(_.rows == 0)) false
          else m.flatMap(_.bounds) match {
            case Some((slo, shi)) => shi >= lo && slo <= hi
            case None => true // unknown bounds: mask is a predicate, safe
          }
        if (!affected) None
        else GlprSource.writeDvGeneration(path, n,
          GlprSource.entryDvGen(l), (lo, hi)).map(n -> _)
      }.toMap
    if (newGens.nonEmpty)
      GlprSource.commitManifest(path)(base => base.map { l =>
        val n = GlprSource.entryName(l)
        newGens.get(n) match {
          // a racing MoR delete may have committed a NEWER gen for the
          // same shard between our gen write and this commit (the CAS
          // closure re-runs on a fresh base after a version collision);
          // published generations are supersets of all lower ones
          // ([[GlprSource.writeDvGeneration]]), so the higher number is
          // always the complete mask — never step a line's gen back
          case Some(g) => GlprSource.entryLine(n,
            Some(math.max(g, GlprSource.entryDvGen(l).getOrElse(0L))))
          case None => l
        }
      })
    requireGensCommitted(path, newGens)
    newGens.keys.toSeq.sorted
  }

  /** Post-commit guard for the MoR deletes (round-18 ADVICE TOCTOU):
    * between the matching job / gen writes and the manifest commit, a
    * concurrent COW rewrite or compaction may RETIRE a matched shard —
    * its line vanishes from the base, the commit closure has nothing to
    * update, and the freshly-written generation is silently dropped
    * while the matched rows live on in the replacement shards. Verify
    * every written gen landed (its shard still committed with gen >=
    * ours) and fail LOUDLY otherwise — the delete must be retried
    * against the rewritten layout, never reported as success. */
  private[io] def requireGensCommitted(path: String,
      newGens: Map[String, Long]): Unit = {
    if (newGens.isEmpty) return
    val committed = GlprSource.committedEntries(path)
      .map(l => GlprSource.entryName(l) -> GlprSource.entryDvGen(l)).toMap
    val lost = newGens.filter { case (n, g) =>
      !committed.get(n).flatten.exists(_ >= g) }
    require(lost.isEmpty,
      s"GLPR merge-on-read delete in '$path' lost shard(s) " +
        s"${lost.keys.toSeq.sorted.mkString(", ")} to a concurrent " +
        "rewrite/compaction between matching and commit — the written " +
        "delete-vector generation(s) were dropped with the retired " +
        "line(s); retry the delete against the current layout")
  }

  /** [[deleteIdRangeMergeOnRead]]'s branch path: masks written to the
    * branch's own dv namespace, recorded by ONE branch-chain commit. */
  private def deleteRangeMergeOnReadBranch(path: String, b: String,
      lo: Long, hi: Long): Seq[String] = {
    val dir = new java.io.File(path)
    val newGens: Map[String, Long] = GlprSource.branchEntries(path, b)
      .flatMap { l =>
        val n = GlprSource.entryName(l)
        val m = GlprSource.readMeta(new java.io.File(dir, n))
        val affected =
          if (m.exists(_.rows == 0)) false
          else m.flatMap(_.bounds) match {
            case Some((slo, shi)) => shi >= lo && slo <= hi
            case None => true
          }
        if (!affected) None
        else GlprSource.writeDvbGenerationRanges(path, b, n, l,
          Seq((lo, hi))).map(n -> _)
      }.toMap
    commitBranchGens(path, b, newGens)
    newGens.keys.toSeq.sorted
  }

  /** Record freshly-written branch dv generations in ONE branch-chain
    * commit (max-gen rule, like main's closure), then run the branch
    * edition of the post-commit TOCTOU guard. */
  private def commitBranchGens(path: String, b: String,
      newGens: Map[String, Long]): Unit = {
    if (newGens.isEmpty) return
    GlprSource.commitBranch(path, b)(base => base.map { l =>
      val n = GlprSource.entryName(l)
      newGens.get(n) match {
        case Some(g) => GlprSource.withDvbToken(l,
          math.max(g, GlprSource.entryDvbGen(l).getOrElse(0L)))
        case None => l
      }
    })
    val committed = GlprSource.branchEntries(path, b)
      .map(l => GlprSource.entryName(l) -> GlprSource.entryDvbGen(l)).toMap
    val lost = newGens.filter { case (n, g) =>
      !committed.get(n).flatten.exists(_ >= g) }
    require(lost.isEmpty,
      s"GLPR branch '$b' merge-on-read delete in '$path' lost shard(s) " +
        s"${lost.keys.toSeq.sorted.mkString(", ")} between matching and " +
        "commit — retry the delete against the current branch head")
  }

  /** MERGE-ON-READ PREDICATE delete (q344): `DELETE WHERE col IN
    * (values)` at zero data movement — the Iceberg equality-delete
    * trade, materialized to POSITION masks at delete time: one
    * distributed job reads the corpus (existing dv masks applied, so
    * re-deletes are naturally idempotent) and returns the matching
    * doc_ids per shard, each affected shard gets a fresh immutable
    * delete-vector generation (current mask ∪ matched ids), and ONE
    * manifest commit publishes the whole delete as a single versioned
    * history step — reads, time travel, CDF dv-deltas and
    * materialization compose exactly like the id-range MoR delete.
    * Scattered ids normalize to singleton ranges (~16 B of mask per
    * row), so the delete is CAPPED: matching more than `cap` rows
    * refuses loudly toward the COW path (SQL `DELETE`, which moves data
    * once instead of carrying megabytes of mask on every subsequent
    * read) — the honest cost boundary between the two delete families.
    * Returns the shard names whose mask changed. */
  def deleteWhereMergeOnRead(spark: org.apache.spark.sql.SparkSession,
      path: String, column: String, values: Set[String],
      cap: Long = MoRDeleteCap,
      branch: Option[String] = None): Seq[String] = {
    import org.apache.spark.sql.functions.{col, collect_list}
    require(Set("lang", "source")(column),
      s"GLPR merge-on-read predicate delete reads a base value column " +
        s"(lang/source), got '$column'")
    require(values.nonEmpty, "empty GLPR delete value set")
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    // branch-scoped (q346): match against the BRANCH head (its own dv
    // masks applied, so re-deletes stay idempotent), mask in the
    // branch's dv namespace, record in one branch-chain commit
    def matching = branch
      .foldLeft(spark.read.format("graft.io.GlprSource"))(
        (r, b) => r.option("branch", b))
      .load(path)
      .filter(col(column).isin(values.toSeq: _*))
    // enforce the cap BEFORE anything lands on the driver: the count is
    // a distributed aggregate; only an under-cap match set is collected
    val total = matching.count()
    require(total <= cap,
      s"GLPR merge-on-read predicate delete in '$path' matches $total " +
        s"rows (> $cap): a mask that large costs more at every read than " +
        "one copy-on-write rewrite — use the SQL DELETE (COW) path instead")
    if (total == 0L) return Seq.empty
    val matched = matching
      .groupBy(col("_shard"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
    val byName = matched.toMap
    branch match {
      case Some(b) =>
        val lineOf: Map[String, String] = GlprSource.branchEntries(path, b)
          .map(l => GlprSource.entryName(l) -> l).toMap
        val newGens: Map[String, Long] = byName.flatMap { case (n, ids) =>
          GlprSource.writeDvbGenerationRanges(path, b, n,
            lineOf.getOrElse(n, n), ids.sorted.map(id => (id, id))).map(n -> _)
        }
        commitBranchGens(path, b, newGens)
        newGens.keys.toSeq.sorted
      case None =>
        val gens: Map[String, Option[Long]] = GlprSource.committedEntries(path)
          .map(l => GlprSource.entryName(l) -> GlprSource.entryDvGen(l)).toMap
        val newGens: Map[String, Long] = byName.flatMap { case (n, ids) =>
          GlprSource.writeDvGenerationRanges(path, n, gens.getOrElse(n, None),
            ids.sorted.map(id => (id, id))).map(n -> _)
        }
        if (newGens.nonEmpty)
          GlprSource.commitManifest(path)(base => base.map { l =>
            val n = GlprSource.entryName(l)
            newGens.get(n) match {
              // same higher-gen-wins closure as [[deleteIdRangeMergeOnRead]]
              case Some(g) => GlprSource.entryLine(n,
                Some(math.max(g, GlprSource.entryDvGen(l).getOrElse(0L))))
              case None => l
            }
          })
        requireGensCommitted(path, newGens)
        newGens.keys.toSeq.sorted
    }
  }
  /** Row ceiling for [[deleteWhereMergeOnRead]] — past this, the
    * accumulated mask bytes (≈16 B/row, re-read by every scan) cost
    * more than one COW rewrite. */
  val MoRDeleteCap: Long = 1000000L

  /** Stage-write `rows` into `path` DISTRIBUTED (the connector's own
    * DSv2 write into a `_tmp-` subdirectory of the table — same
    * filesystem, invisible to every listing), then adopt the staged
    * shards under freshly-reserved batch names. The table MARKER is
    * copied into the stage first, so the staged write compiles and
    * enforces the table's CHECK constraints exactly like every other
    * write path (q355 — round-20 review: without it, MoR DML rows
    * would land unchecked). Returns the adopted names; the caller
    * publishes them in its own manifest commit. The adopted files are
    * invisible until that commit, and a crash before it leaves only
    * orphans for [[vacuum]]. */
  private def adoptStagedRows(path: String,
      rows: org.apache.spark.sql.DataFrame): Seq[String] = {
    val stage = new java.io.File(path,
      s"_tmp-upd-${java.util.UUID.randomUUID()}")
    stage.mkdirs(): Unit
    val marker = new java.io.File(path, "_glpr_table")
    if (marker.isFile)
      java.nio.file.Files.copy(marker.toPath,
        new java.io.File(stage, "_glpr_table").toPath): Unit
    GlprSource.write(rows, stage.getAbsolutePath)
    val staged = GlprSource.listShardFiles(stage.getAbsolutePath)
      .filter(f => GlprSource.readMeta(f).forall(_.rows > 0L))
    val base = GlprSource.reserveNameBase(path, staged.length.toLong.max(1L))
    val names = staged.zipWithIndex.map { case (f, i) =>
      val nn = f"part-${base + i}%010d.glpr"
      val meta = new java.io.File(stage, f.getName + ".meta")
      if (meta.isFile)
        java.nio.file.Files.move(meta.toPath,
          new java.io.File(path, nn + ".meta").toPath): Unit
      java.nio.file.Files.move(f.toPath,
        new java.io.File(path, nn).toPath): Unit
      nn
    }.toSeq
    // the stage dir now holds only its own manifest/reservation/marker
    Option(stage.listFiles()).getOrElse(Array.empty)
      .foreach(_.delete(): Unit)
    stage.delete(): Unit
    names
  }

  /** Shared refusal gate for the MoR DML ops: epoch-named (streaming)
    * dirs, schema-evolved (extra-column) dirs, and PARTITIONED tables —
    * the staged replacement shards would carry no pcol/pvals, silently
    * voiding the single-valued layout the q306/q319/q353/q358
    * zero-exchange contracts ride on (round-20 review: the exact
    * silent contract void the partition-aware compaction fix closes
    * for OPTIMIZE) — all refuse toward the COW SQL path, which keeps
    * the table's clustering through the catalog's required write
    * distribution. */
  private def requireMorDmlEligible(path: String, what: String,
      entries: Seq[String]): Unit = {
    val dir = new java.io.File(path)
    require(!entries.exists(l =>
        GlprSource.isEpochShardName(GlprSource.entryName(l))),
      s"GLPR merge-on-read $what in '$path' refused: epoch-named " +
        s"(streaming sink) shards; use the COW SQL ${what.toUpperCase}")
    require(!entries.exists(l => GlprSource.readMeta(new java.io.File(dir,
        GlprSource.entryName(l))).exists(_.cols.nonEmpty)),
      s"GLPR merge-on-read $what in '$path' refused: schema-evolution " +
        "extra columns present; the replacement write carries the base " +
        s"schema only — use the COW SQL ${what.toUpperCase}")
    require(GlprSource.markerTokenOf(path, "partitioned_by").isEmpty,
      s"GLPR merge-on-read $what in '$path' refused: the table is " +
        "partitioned, and staged replacement shards would carry no " +
        "partition values — voiding the storage-partitioned-join / " +
        "zero-shuffle contracts until a recluster; use the COW SQL " +
        s"${what.toUpperCase}, which keeps the clustering")
  }

  /** The ONE commit both MoR DML ops share (round-20 review: the two
    * tails must stay identical for the one-commit atomicity and
    * CAS-retry idempotence invariants to hold in both): write a fresh
    * dv generation per victim shard, publish gen bumps (max-gen rule)
    * AND the adopted replacement lines in a single manifest commit,
    * then run both post-commit guards. Returns (maskedShards,
    * newShards). */
  private def commitMaskAndAppend(path: String, what: String,
      entries0: Seq[String], matched: Seq[(String, Seq[Long])],
      newNames: Seq[String]): (Seq[String], Seq[String]) = {
    val gens: Map[String, Option[Long]] = entries0
      .map(l => GlprSource.entryName(l) -> GlprSource.entryDvGen(l)).toMap
    val newGens: Map[String, Long] = matched.flatMap { case (n, ids) =>
      GlprSource.writeDvGenerationRanges(path, n, gens.getOrElse(n, None),
        ids.sorted.map(id => (id, id))).map(n -> _)
    }.toMap
    // ONE commit: gen bumps + replacement lines together (CAS retries
    // re-run the closure on a fresh base — never double-append)
    GlprSource.commitManifest(path) { base =>
      val present = base.map(GlprSource.entryName).toSet
      base.map { l =>
        val n = GlprSource.entryName(l)
        newGens.get(n) match {
          case Some(g) => GlprSource.entryLine(n,
            Some(math.max(g, GlprSource.entryDvGen(l).getOrElse(0L))))
          case None => l
        }
      } ++ newNames.filterNot(present).map(n => GlprSource.entryLine(n, None))
    }
    requireGensCommitted(path, newGens)
    val live = GlprSource.committedEntries(path)
      .map(GlprSource.entryName).toSet
    require(newNames.forall(live),
      s"GLPR merge-on-read $what in '$path' lost appended shard(s) " +
        s"${newNames.filterNot(live).mkString(", ")} to a concurrent " +
        "commit — retry against the current layout")
    (newGens.keys.toSeq.sorted, newNames)
  }

  /** MERGE-ON-READ UPDATE (q361, round-19 verdict #1): `UPDATE SET
    * setColumn = setValue WHERE column IN (values)` priced by the
    * MATCHED rows, not the touched-shard bytes — the COW path (q326
    * `SupportsRowLevelOperations`) rewrites every scanned shard whole,
    * which on a 100 TB corpus makes a selective update cost the table.
    * This is the Iceberg/Delta MoR-update shape: one distributed
    * matching job (existing masks applied, persisted so the cap count,
    * the replacement write and the victim collect share ONE table
    * scan) finds the victims; each affected shard gets a fresh
    * immutable delete-vector GENERATION masking them; the REPLACEMENT
    * rows (victims with the assignment applied) are written distributed
    * through the connector — CHECK constraints enforced like any write
    * — and adopted under reserved batch names; and ONE manifest commit
    * publishes masks + replacements together, an atomic versioned step
    * that time travel, CDF (dv-deltas + inserts) and
    * [[materializeDeletes]] compose with. Bytes written are bounded by
    * the matched rows; the same 1M cap as the MoR deletes refuses
    * loudly toward COW. Epoch-named, schema-evolved and PARTITIONED
    * dirs refuse ([[requireMorDmlEligible]]); DML is single-writer
    * like the rest of the maintenance surface. Returns (maskedShards,
    * replacementShards). */
  def updateWhereMergeOnRead(spark: org.apache.spark.sql.SparkSession,
      path: String, column: String, values: Set[String],
      setColumn: String, setValue: String,
      cap: Long = MoRDeleteCap,
      branch: Option[String] = None): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, collect_list, lit}
    require(Set("lang", "source")(column),
      s"GLPR merge-on-read update matches on a base value column " +
        s"(lang/source), got '$column'")
    require(Set("lang", "source", "text")(setColumn),
      s"GLPR merge-on-read update assigns a base string column " +
        s"(lang/source/text), got '$setColumn'")
    require(values.nonEmpty, "empty GLPR update value set")
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    // BRANCH-scoped (q366, completing the WAP audit-FIX-publish loop
    // for updates like q346 did for deletes): matching reads the
    // branch head (its own masks applied), victims mask in the
    // branch's dv namespace (dvb tokens), replacements adopt onto the
    // BRANCH chain, all in ONE branch-chain commit — invisible to main
    // until publish (which translates the masks and adopts the lines),
    // discarded whole with the chain on drop.
    val entries0 = branch match {
      case Some(b) => GlprSource.branchEntries(path, b)
      case None => GlprSource.committedEntries(path)
    }
    requireMorDmlEligible(path, "update", entries0)
    val matching = branch
      .foldLeft(spark.read.format("graft.io.GlprSource"))(
        (r, b) => r.option("branch", b))
      .load(path)
      .filter(col(column).isin(values.toSeq: _*))
      .persist()
    try {
      // cap BEFORE anything lands on the driver, like the MoR deletes
      val total = matching.count()
      require(total <= cap,
        s"GLPR merge-on-read update in '$path' matches $total rows " +
          s"(> $cap): a mask that large costs more at every read than " +
          "one copy-on-write rewrite — use the SQL UPDATE (COW) path instead")
      if (total == 0L) return (Seq.empty, Seq.empty)
      // replacements first (distributed; invisible until the flip) …
      val newNames = adoptStagedRows(path, matching
        .withColumn(setColumn, lit(setValue))
        .select("doc_id", "lang", "source", "text"))
      // … then the per-shard victim ids (only (shard, id) pairs ever
      // reach the driver, never row payloads)
      val matched = matching
        .groupBy(col("_shard"))
        .agg(collect_list(col("doc_id")).as("ids"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq
      branch match {
        case Some(b) =>
          commitMaskAndAppendBranch(path, b, matched, newNames)
        case None =>
          commitMaskAndAppend(path, "update", entries0, matched, newNames)
      }
    } finally matching.unpersist(): Unit
  }

  /** [[commitMaskAndAppend]]'s branch edition: victims mask in the
    * branch's own dv namespace, replacement lines join the branch
    * head, ONE branch-chain commit, then the branch TOCTOU guard. */
  private def commitMaskAndAppendBranch(path: String, b: String,
      matched: Seq[(String, Seq[Long])],
      newNames: Seq[String]): (Seq[String], Seq[String]) = {
    val lineOf: Map[String, String] = GlprSource.branchEntries(path, b)
      .map(l => GlprSource.entryName(l) -> l).toMap
    val newGens: Map[String, Long] = matched.flatMap { case (n, ids) =>
      GlprSource.writeDvbGenerationRanges(path, b, n,
        lineOf.getOrElse(n, n), ids.sorted.map(id => (id, id))).map(n -> _)
    }.toMap
    GlprSource.commitBranch(path, b) { base =>
      val present = base.map(GlprSource.entryName).toSet
      base.map { l =>
        val n = GlprSource.entryName(l)
        newGens.get(n) match {
          case Some(g) => GlprSource.withDvbToken(l,
            math.max(g, GlprSource.entryDvbGen(l).getOrElse(0L)))
          case None => l
        }
      } ++ newNames.filterNot(present)
    }
    val committed = GlprSource.branchEntries(path, b)
    val gensNow = committed
      .map(l => GlprSource.entryName(l) -> GlprSource.entryDvbGen(l)).toMap
    val lost = newGens.filter { case (n, g) =>
      !gensNow.get(n).flatten.exists(_ >= g) }
    require(lost.isEmpty,
      s"GLPR branch '$b' merge-on-read update in '$path' lost shard(s) " +
        s"${lost.keys.toSeq.sorted.mkString(", ")} between matching and " +
        "commit — retry against the current branch head")
    val names = committed.map(GlprSource.entryName).toSet
    require(newNames.forall(names),
      s"GLPR branch '$b' merge-on-read update in '$path' lost " +
        s"replacement shard(s) ${newNames.filterNot(names).mkString(", ")}")
    (newGens.keys.toSeq.sorted, newNames)
  }

  /** MERGE-ON-READ MERGE/upsert (q365): apply `source` (base-schema
    * rows keyed by doc_id) to the table as `WHEN MATCHED THEN UPDATE
    * SET * / WHEN NOT MATCHED THEN INSERT *` at merge-on-read cost —
    * matched target rows are MASKED (fresh dv generations), every
    * source row appends (constraints enforced), ONE manifest commit
    * publishes both. This is the CDC-apply primitive priced by the
    * changeset, not the touched-shard bytes (the COW q327/q338 MERGE
    * rewrites every shard a match lands in). The CHANGESET itself is
    * capped BEFORE the key set is broadcast (round-20 review: the
    * match cap alone fired only after an unbounded source had already
    * shipped to every executor); same refusal posture as
    * [[updateWhereMergeOnRead]]. Returns (maskedShards, newShards). */
  def mergeMergeOnRead(spark: org.apache.spark.sql.SparkSession,
      path: String, source: org.apache.spark.sql.DataFrame,
      cap: Long = MoRDeleteCap,
      branch: Option[String] = None): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, collect_list}
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    // BRANCH-scoped like the update (q366) and the deletes (q346):
    // match against the branch head, mask in the branch dv namespace,
    // append the changeset onto the branch chain, one branch commit —
    // the WAP upsert ("re-ingest the corrected slice") primitive.
    val entries0 = branch match {
      case Some(b) => GlprSource.branchEntries(path, b)
      case None => GlprSource.committedEntries(path)
    }
    requireMorDmlEligible(path, "merge", entries0)
    val src = source.select("doc_id", "lang", "source", "text").persist()
    try {
      // changeset cap FIRST — it bounds the appended bytes, the key-set
      // broadcast, and (transitively) the match mask
      val srcN = src.count()
      require(srcN <= cap,
        s"GLPR merge-on-read merge in '$path' takes a $srcN-row source " +
          s"(> $cap): past the cap the changeset should move through the " +
          "SQL MERGE (COW) path instead")
      val srcIds = src.select(col("doc_id")).distinct()
      require(srcIds.count() == srcN,
        s"GLPR merge-on-read merge in '$path' refused: duplicate doc_id " +
          "in the merge source — upsert-by-key needs one row per key " +
          "(the SQL MERGE cardinality rule)")
      // distributed match: target ⋈ source keys (the key set is now
      // PROVEN ≤ cap, so the broadcast is bounded; only (shard, id)
      // pairs reach the driver)
      val matching = branch
        .foldLeft(spark.read.format("graft.io.GlprSource"))(
          (r, b) => r.option("branch", b))
        .load(path)
        .select(col("_shard"), col("doc_id"))
        .join(org.apache.spark.sql.functions.broadcast(srcIds), "doc_id")
        .persist()
      try {
        val newNames = adoptStagedRows(path, src)
        val matched = matching
          .groupBy(col("_shard"))
          .agg(collect_list(col("doc_id")).as("ids"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq
        branch match {
          case Some(b) =>
            commitMaskAndAppendBranch(path, b, matched, newNames)
          case None =>
            commitMaskAndAppend(path, "merge", entries0, matched, newNames)
        }
      } finally matching.unpersist(): Unit
    } finally src.unpersist(): Unit
  }

  /** MATERIALIZE delete vectors (q323): rewrite every DV-carrying shard
    * through the standard reader (which applies the mask), commit the
    * survivors under fresh names behind ONE manifest flip (mints a
    * version — history sees the materialization as an atomic step), then
    * unlink the masked shards and their vectors. After this, time travel
    * works again and every metadata path (aggregate pushdown, limit
    * capping) re-arms. Returns oldName → survivor (None if the mask
    * emptied the shard). */
  def materializeDeletes(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[String, Option[String]] = {
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val entries = GlprSource.committedEntries(path)
    val masked = entries.map(l => l -> liveMaskOf(path, l))
      .filter(_._2.nonEmpty)
    if (masked.isEmpty) return Map.empty
    require(!masked.exists(p => GlprSource.readMeta(new java.io.File(path,
        GlprSource.entryName(p._1))).exists(_.cols.nonEmpty)),
      s"GLPR materialize in '$path' refused: a masked shard carries " +
        "schema-evolution extra columns; the path-level rewrite reads the " +
        "base schema only")
    require(!masked.exists(p =>
        GlprSource.isEpochShardName(GlprSource.entryName(p._1))),
      s"GLPR materialize in '$path' refused: a masked shard is epoch-named " +
        "(streaming sink); its batch-named survivor would mix naming schemes")
    val nameBase = GlprSource.reserveNameBase(path, masked.length.toLong.max(1L))
    val jobs = masked.zipWithIndex.map { case ((l, mask), i) =>
      (GlprSource.entryName(l), f"part-${nameBase + i}%010d.glpr", mask)
    }
    // [0, -1] is empty: the rewrite drops nothing beyond the DV mask
    val results = rewriteJob(spark, path, jobs.toSeq, 0L, -1L)
    val maskedNames = jobs.map(_._1).toSet
    val keepLines = entries
      .filterNot(l => maskedNames(GlprSource.entryName(l)))
    GlprSource.writeManifest(path, (keepLines ++ results.flatMap(_._2)).toSeq)
    // masked originals (and their dv generations) are RETIRED with the
    // flip, not unlinked — history stays readable until expire+vacuum
    results.map(r => r._1 -> r._2).toMap
  }

  /** COPY-ON-WRITE row-level UPDATE, redaction form (q324) — completes
    * the connector's CRUD ladder: every data shard is rewritten by a
    * distributed per-shard job replacing each blocklist pattern in
    * `text` with the mask token (literal, left-to-right non-overlapping,
    * patterns folded IN ORDER — `replace`-chain semantics, which is
    * exactly what the q324 DuckDB oracle computes). Shards in which
    * nothing matched are detected by the task (zero replaced rows) and
    * KEPT — no write, no swap, so the rewrite cost is the matching
    * working set, not the corpus. Survivors take fresh names; one
    * manifest flip (a minted version) publishes the redaction
    * atomically; sidecar stats/bounds/blooms recompute from the
    * rewritten rows automatically ([[GlprWriter]]). This is the PII
    * remediation path a corpus pipeline runs when content must be
    * REMOVED FROM STORAGE, not just filtered at read ("right to be
    * forgotten" at shard grain). Returns oldName → survivor for the
    * rewritten shards only. */
  def redactText(spark: org.apache.spark.sql.SparkSession, path: String,
      patterns: Seq[String], mask: String): Map[String, String] = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty), "empty pattern set")
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val dir0 = new java.io.File(path)
    val entries = GlprSource.committedEntries(path).filter { l =>
      val f = new java.io.File(dir0, GlprSource.entryName(l))
      f.isFile && !GlprSource.readMeta(f).exists(_.rows == 0)
    }
    if (entries.isEmpty) return Map.empty
    require(!entries.exists(l => GlprSource.readMeta(new java.io.File(path,
        GlprSource.entryName(l))).exists(_.cols.nonEmpty)),
      s"GLPR redaction in '$path' refused: a shard carries schema-evolution " +
        "extra columns; the path-level rewrite reads the base schema only — " +
        "use SQL UPDATE (full table schema) instead")
    require(!entries.exists(l =>
        GlprSource.isEpochShardName(GlprSource.entryName(l))),
      s"GLPR redaction in '$path' refused: epoch-named (streaming sink) " +
        "shards would take batch-named survivors and mix naming schemes")
    val nameBase = GlprSource.reserveNameBase(path, entries.length.toLong.max(1L))
    // each task reads through the shard's LIVE delete-vector mask, so a
    // redacted survivor also materializes the mask in passing
    val jobs = entries.zipWithIndex.map { case (l, i) =>
      (GlprSource.entryName(l), f"part-${nameBase + i}%010d.glpr",
        liveMaskOf(path, l))
    }
    val pats = patterns.toArray
    val results: Array[(String, Option[String])] =
      spark.sparkContext.parallelize(jobs.toSeq, jobs.length)
        .map { case (oldName, newName, dvm) =>
          val reader = liveRows(new java.io.File(path, oldName).getAbsolutePath, dvm)
          val taskId = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val writer = new GlprWriter(path, GlprSource.schema, 0, taskId,
            Some(newName))
          var changed = 0L
          try {
            while (reader.next()) {
              val row = reader.get()
              val text = row.getUTF8String(3).toString
              val red = pats.foldLeft(text)((t, p) => t.replace(p, mask))
              if (red != text) changed += 1
              writer.write(new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(Array[Any](row.getLong(0),
                  row.getUTF8String(1).copy(), row.getUTF8String(2).copy(),
                  org.apache.spark.unsafe.types.UTF8String.fromString(red))))
            }
          } finally reader.close()
          if (changed > 0) { writer.commit(); (oldName, Some(newName)) }
          else { writer.abort(); (oldName, None) } // untouched: keep as-is
        }.collect()
    val swapped = results.collect { case (o, Some(n)) => o -> n }.toMap
    if (swapped.nonEmpty) {
      GlprSource.commitManifest(path)(base => base.map { l =>
        val n = GlprSource.entryName(l)
        // a swapped survivor already materialized its mask: bare line
        swapped.getOrElse(n, l)
      })
      // pre-redaction shards are RETIRED with the flip, not unlinked.
      // NOTE the remediation contract: "removed from the LIVE corpus"
      // happens here; "removed from STORAGE" — the right-to-be-forgotten
      // bar — additionally needs expireVersions + vacuum to reclaim the
      // retired files, exactly like Delta/Iceberg PII guidance.
    }
    swapped
  }

  /** EXPIRE old manifest versions (Iceberg's `expire_snapshots`): keep
    * the newest `keepLast` `_manifest.v<n>` files, unlink the rest.
    * Expiry alone frees nothing — it releases the expired versions'
    * claim on their retired shards so [[vacuum]] can reclaim them; time
    * travel to an expired version then fails loudly (unknown version).
    * Returns the expired version numbers. */
  def expireVersions(path: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1,
      s"expireVersions keepLast must be >= 1 (the newest version IS the " +
        s"live manifest), got $keepLast")
    val vs = GlprSource.listManifestVersions(path)
    // TAGGED versions are retention-PROTECTED (q354): a tag is an
    // explicit "keep this snapshot" marker, so expire skips it — and
    // because the version FILE survives, vacuum keeps every shard it
    // references (reachability is computed from the remaining version
    // files). Dropping the tag re-exposes the version to expiry.
    val tagged = GlprSource.listTags(path).values.toSet
    val doomed = vs.dropRight(keepLast).filterNot(tagged)
    doomed.foreach(v => GlprSource.versionFile(path, v).delete(): Unit)
    doomed
  }

  /** AGE-BASED retention (q364, round-19 verdict #7): expire every
    * version whose DURABLE COMMIT TIME (the q335 clock — written into
    * the version header, so it survives copies/restores; mtime
    * fallback for legacy files) is strictly older than `cutoffMs` —
    * the "retain 7 days" operators actually think in, vs
    * [[expireVersions]]'s count rule. The LIVE HEAD never expires
    * regardless of age (the newest version IS the table); TAGGED
    * versions are exempt like the count path (q354); branch chains own
    * their versions in a separate file namespace and are untouched —
    * publish/drop governs their lifecycle. Physical reclaim stays the
    * explicit [[vacuum]], exactly like the count path. Returns the
    * versions dropped. */
  def expireVersionsOlderThan(path: String, cutoffMs: Long): Seq[Long] = {
    require(cutoffMs >= 0L,
      s"expireVersionsOlderThan cutoff must be an epoch-ms instant, got $cutoffMs")
    val vs = GlprSource.listManifestVersions(path)
    if (vs.isEmpty) return Seq.empty
    val tagged = GlprSource.listTags(path).values.toSet
    val doomed = vs.dropRight(1).filterNot(tagged)
      .filter(v => GlprSource.versionCommitMs(path, v) < cutoffMs)
    doomed.foreach(v => GlprSource.versionFile(path, v).delete(): Unit)
    doomed
  }

  /** RECLUSTER (the OPTIMIZE / `CLUSTER BY` maintenance op, q336):
    * rewrite the LIVE table range-clustered by doc_id into `nShards`
    * tight-bounds shards — the layout discipline that makes bounds
    * pruning, shard-aligned metadata DELETE and streaming range options
    * effective on a corpus that was ingested hash- or
    * arrival-ordered. The rewrite is a real Spark shuffle job
    * (`repartitionByRange`) writing through the two-phase
    * [[GlprWriter]] into an invisible staging SUBDIR; the staged shards
    * are renamed in under fresh batch names (still invisible — the
    * manifest is the visibility point) and ONE commit swaps the entire
    * live membership for them. Live delete-vector masks are applied by
    * the read and therefore MATERIALIZED in passing; old shards are
    * retired for their versions (expire+vacuum reclaims). Refuses
    * epoch-named (streaming) dirs and schema-evolved shards like the
    * other path-level rewrites. Returns (oldLiveCount, newShardCount). */
  def recluster(spark: org.apache.spark.sql.SparkSession, path: String,
      nShards: Int): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    require(nShards >= 1, s"recluster needs >= 1 target shards, got $nShards")
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val entries = GlprSource.committedEntries(path)
    require(!entries.exists(l =>
        GlprSource.isEpochShardName(GlprSource.entryName(l))),
      s"GLPR recluster in '$path' refused: epoch-named (streaming sink) " +
        "shards would take batch-named survivors and mix naming schemes")
    require(!entries.exists(l => GlprSource.readMeta(new java.io.File(path,
        GlprSource.entryName(l))).exists(_.cols.nonEmpty)),
      s"GLPR recluster in '$path' refused: a shard carries schema-evolution " +
        "extra columns; the path-level rewrite reads the base schema only")
    val staging = new java.io.File(path, "_tmp-recluster")
    if (staging.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(staging) // wreckage of a crashed prior attempt
    }
    // the connector read applies live dv masks (manifest generations or
    // legacy bare) — the reclustered shards are mask-free by construction
    GlprSource.write(
      spark.read.format("graft.io.GlprSource").load(path)
        .repartitionByRange(nShards, col("doc_id")),
      staging.getAbsolutePath)
    val staged = GlprSource.committedShards(staging.getAbsolutePath)
    val base = GlprSource.reserveNameBase(path, staged.length.toLong.max(1L))
    val fresh = staged.zipWithIndex.map { case (f, i) =>
      val name = f"part-${base + i}%010d.glpr"
      // meta first (same stage discipline as GlprWriter.commit)
      java.nio.file.Files.move(GlprSource.metaFile(f).toPath,
        GlprSource.metaFile(new java.io.File(path, name)).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(f.toPath,
        new java.io.File(path, name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      name
    }
    staging.listFiles().foreach(_.delete()); staging.delete()
    // the atomic flip: the whole old membership retires at once
    GlprSource.commitManifest(path)(_ => fresh.toSeq)
    (entries.length, fresh.length)
  }

  /** Z-ORDER RECLUSTER (q350, round-18 verdict #5) — `CALL
    * sys.recluster(t, shards, 'lang')`: rewrite the LIVE table clustered
    * by the MORTON INTERLEAVE of (doc_id, dim2) instead of doc_id alone
    * ([[graft.io.ZOrder]]'s codegen'd bit-spread — the Delta OPTIMIZE
    * ZORDER / Iceberg sort-order layout move). Each output shard then
    * covers a compact z-range = a small rectangle in (id, dim2) space,
    * so BOTH prune channels come out tight at once: sidecar id bounds
    * (~1/√shards of the global span) AND the dim2 value set (tracked
    * per shard through the pcol/pvals channel — the writer runs with an
    * identity spec on dim2), where a doc_id sort leaves dim2 sets at
    * full cardinality and a dim2 sort leaves id bounds at full span.
    * doc_id quantizes onto a 16-bit grid scaled by the live extent
    * (driver-side 2-value action); dim2 codes through a 16-bit hash
    * (locality in code space = same-value grouping, which is all a
    * VALUE-SET prune needs). Same refusals, staging discipline and
    * atomic flip as [[recluster]]. Returns (oldLiveCount, newCount). */
  def zorderRecluster(spark: org.apache.spark.sql.SparkSession,
      path: String, nShards: Int, dim2: String): (Int, Int) = {
    import org.apache.spark.sql.functions._
    require(nShards >= 1, s"zorder recluster needs >= 1 target shards, got $nShards")
    require(Set("lang", "source")(dim2),
      s"GLPR zorder recluster interleaves doc_id with a base value " +
        s"column (lang/source), got '$dim2'")
    if (GlprSource.readManifest(path).isEmpty) GlprSource.rebuildManifest(path)
    val entries = GlprSource.committedEntries(path)
    require(!entries.exists(l =>
        GlprSource.isEpochShardName(GlprSource.entryName(l))),
      s"GLPR zorder recluster in '$path' refused: epoch-named (streaming " +
        "sink) shards would take batch-named survivors and mix naming schemes")
    require(!entries.exists(l => GlprSource.readMeta(new java.io.File(path,
        GlprSource.entryName(l))).exists(_.cols.nonEmpty)),
      s"GLPR zorder recluster in '$path' refused: a shard carries schema-" +
        "evolution extra columns; the path-level rewrite reads the base " +
        "schema only")
    val staging = new java.io.File(path, "_tmp-zorder")
    if (staging.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(staging)
    }
    staging.mkdirs(): Unit
    val df = spark.read.format("graft.io.GlprSource").load(path)
      .select("doc_id", "lang", "source", "text")
    val extent = df.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (extent.isNullAt(1)) return (entries.length, entries.length) // empty
    val (lo, hi) = (extent.getLong(0), extent.getLong(1))
    val span = math.max(1L, hi - lo)
    // 16-bit grid coordinates: id scaled by the live extent (DIVIDE by a
    // precomputed cell width, never multiply first — (id-lo)*65535
    // overflows Long past a ~2^47 extent and would scramble the layout
    // silently), dim2 hashed
    val cell = math.max(1L, span / 65535L + (if (span % 65535L == 0) 0L else 1L))
    val xq = expr(s"(doc_id - ${lo}L) div ${cell}L") // integer div: exact at any extent
    val yq = pmod(xxhash64(col(dim2)), lit(65536L))
    val zdf = df.withColumn("__z", graft.io.ZOrder.zValue(xq, yq))
      .repartitionByRange(nShards, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    // distributed write through the two-phase GlprWriter, with dim2 as
    // the writer's identity value-tracking spec → per-shard pvals
    val stagingPath = staging.getAbsolutePath
    val schema = GlprSource.schema
    zdf.queryExecution.toRdd.foreachPartition { it =>
      val tc = org.apache.spark.TaskContext.get()
      val writer = new GlprWriter(stagingPath, schema, tc.partitionId(),
        tc.taskAttemptId(), None, Some(dim2))
      var any = false
      try {
        while (it.hasNext) { writer.write(it.next()); any = true }
      } catch { case t: Throwable => writer.abort(); throw t }
      if (any) writer.commit(): Unit else writer.abort()
    }
    val staged = GlprSource.listShardFiles(stagingPath).sortBy(_.getName)
    val base = GlprSource.reserveNameBase(path, staged.length.toLong.max(1L))
    val fresh = staged.zipWithIndex.map { case (f, i) =>
      val name = f"part-${base + i}%010d.glpr"
      java.nio.file.Files.move(GlprSource.metaFile(f).toPath,
        GlprSource.metaFile(new java.io.File(path, name)).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(f.toPath,
        new java.io.File(path, name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      name
    }
    staging.listFiles().foreach(_.delete()); staging.delete(): Unit
    GlprSource.commitManifest(path)(_ => fresh.toSeq)
    (entries.length, fresh.length)
  }

  /** ZERO-COPY CLONE (q351) — the Delta "shallow clone" / Iceberg
    * snapshot-table move: materialize an independent table from the
    * source's LIVE state without copying a data byte. Shards (and their
    * sidecars: meta, live dv masks/generations) are immutable by the
    * format's never-reuse contract, so the clone HARD-LINKS them into
    * the destination directory and writes a fresh manifest v1 carrying
    * the source's live lines verbatim (dv tokens included). From that
    * point the tables are fully independent: each side's
    * DML/compaction/retention writes only its own directory, and
    * because links are per-directory names onto shared immutable
    * inodes, one side's vacuum can never pull bytes out from under the
    * other. The clone starts with NO history (its v1 IS the snapshot —
    * time travel into pre-clone states belongs to the source) and no
    * branches (chains are working state, not table content). The
    * source's marker (schema extras, partition spec, tombstones) copies
    * verbatim so the clone reads/writes under identical rules.
    * At 100 TB this is the dev-on-production-data move: O(shards)
    * metadata, zero data I/O. Returns the number of linked shards. */
  def cloneTable(srcDir: java.io.File, dstDir: java.io.File): Int = {
    val src = srcDir.getAbsolutePath
    require(!dstDir.exists() ||
        Option(dstDir.listFiles()).getOrElse(Array.empty).isEmpty,
      s"GLPR clone destination '${dstDir.getAbsolutePath}' already exists")
    if (GlprSource.readManifest(src).isEmpty) GlprSource.rebuildManifest(src)
    dstDir.mkdirs(): Unit
    val entries = GlprSource.committedEntries(src)
    val liveNames = entries.map(GlprSource.entryName).toSet
    // every file OWNED by a live shard: the payload, its meta sidecar,
    // its bare legacy mask and every dv GENERATION (pinned/live reads of
    // the clone resolve the same gen files) — but never a branch-
    // namespace mask (".dv.b-<branch>." — branches are not cloned)
    def owner(n: String): Option[String] = {
      val i = n.indexOf(".glpr")
      if (i < 0 || n.startsWith("_tmp")) None else Some(n.take(i + 5))
    }
    Option(srcDir.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      if (owner(n).exists(liveNames) && !n.contains(".dv.b-"))
        java.nio.file.Files.createLink(
          new java.io.File(dstDir, n).toPath, f.toPath): Unit
    }
    // marker copy: identical schema/partition/tombstone rules
    val srcMarker = new java.io.File(srcDir, "_glpr_table")
    if (srcMarker.isFile)
      java.nio.file.Files.copy(srcMarker.toPath,
        new java.io.File(dstDir, "_glpr_table").toPath): Unit
    GlprSource.writeManifest(dstDir.getAbsolutePath, entries)
    liveNames.size
  }

  /** Unlink `_tmp-` stage wreckage older than `graceMillis`, plus — on
    * manifest-bearing directories — RETIRED shards no surviving version
    * references (run [[expireVersions]] first to release them; a shard
    * named by the live manifest or any `_manifest.v<n>` is never
    * touched). Manifest-less dirs reclaim stage wreckage only: their
    * listing IS the table, so every data file is live by definition.
    * Returns the number of files removed. */
  def vacuum(path: String, graceMillis: Long = 0L): Int = {
    val horizon = System.currentTimeMillis() - graceMillis
    val all = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
    val stage = all.filter(f =>
      f.getName.startsWith("_tmp") && f.lastModified() < horizon)
    val retiredReclaim: Array[java.io.File] =
      GlprSource.readManifest(path) match {
        case Some(live) =>
          val referenced = live.map(GlprSource.entryName).toSet ++
            GlprSource.versionReferencedNames(path)
          // the owning shard name of any data/sidecar file:
          // x.glpr | x.glpr.meta | x.glpr.dv | x.glpr.dv.<gen>
          def baseShard(n: String): Option[String] = {
            val i = n.indexOf(".glpr")
            if (i < 0 || n.startsWith("_tmp")) None else Some(n.take(i + 5))
          }
          val orphanShards = all.filter { f =>
            f.getName.endsWith(".glpr") && !f.getName.startsWith("_tmp") &&
              !referenced(f.getName) && f.lastModified() < horizon
          }
          val orphanNames = orphanShards.map(_.getName).toSet
          // every sidecar (meta, bare dv, dv generations) goes with its
          // reclaimed shard; sidecars whose shard is already gone AND
          // unreferenced sweep too
          val sidecars = all.filter { f =>
            baseShard(f.getName).exists { b =>
              b != f.getName && f.lastModified() < horizon &&
                (orphanNames(b) ||
                  (!referenced(b) && !new java.io.File(f.getParentFile, b).isFile))
            }
          }
          orphanShards ++ sidecars
        case None => Array.empty
      }
    // fold RETIRED name reservations (round-19 review: one file per
    // write job forever grows every directory listing): a claim whose
    // hi sits at or below the committed batch high-water mark no longer
    // moves nextBatchNameBase — new claims start past the max EVER-used
    // name regardless — so the file is dead weight. Claims still ahead
    // of the high-water mark (in-flight or dead-job holes) are kept.
    val retiredReservations: Array[java.io.File] = {
      val used = GlprSource.usedShardNames(path)
      val maxUsed = used.iterator.filter(GlprSource.isBatchShardName)
        .map(_.stripPrefix("part-").stripSuffix(".glpr").toLong)
        .foldLeft(-1L)(math.max)
      val batch = GlprSource.reservations(path).iterator.collect {
        case (_, hi, f) if hi <= maxUsed && f.lastModified() < horizon => f
      }.toArray
      // epoch claims retire once a LATER epoch commits (epochs only
      // grow) or the claimed pnums fall at/below their epoch's
      // committed max
      val epochUsed = used.iterator.filter(GlprSource.isEpochShardName)
        .map { s =>
          val core = s.stripPrefix("part-").stripSuffix(".glpr").split("-")
          (core(0).toLong, core(1).toLong)
        }.toSeq
      val maxEpoch = epochUsed.iterator.map(_._1).foldLeft(-1L)(math.max)
      val epoch = GlprSource.epochReservations(path).iterator.collect {
        case (ep, _, hi, f) if f.lastModified() < horizon &&
            (ep < maxEpoch || (ep == maxEpoch && hi <= epochUsed.iterator
              .collect { case (e, p) if e == ep => p }
              .foldLeft(-1L)(math.max))) => f
      }.toArray
      batch ++ epoch
    }
    val doomed = (stage ++ retiredReclaim ++ retiredReservations)
      .filter(_.isFile).distinct
    doomed.foreach(_.delete(): Unit)
    doomed.length
  }
}
