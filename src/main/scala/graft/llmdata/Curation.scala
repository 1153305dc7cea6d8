package graft.llmdata

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * before anything touches a trainer: deterministic sampling, train/val/test
  * splitting, per-key quota capping, and length profiling. All of them are
  * narrow, stateless or bounded-state plans that survive a 100× scale-up:
  * sampling/splitting are pure filters/projections on an md5 prefix (no
  * shuffle, trivially pushdown-composable), quota capping is a typed
  * Aggregator with a constant ≤N buffer that partial-combines map-side (no
  * per-key window funnel), and the quantile profile is one hash aggregation.
  *
  * Hash-based decisions use `md5(key || salt)` — identical output on any
  * engine (the DuckDB oracles run the same expression), stable across runs
  * and cluster layouts, and decorrelated between uses by the salt. A
  * lexicographic comparison on the hex prefix implements "keep fraction
  * k/256" without any engine-specific hash or RNG.
  */
object Curation {

  /** Deterministic ~16% sample (md5-prefix < 0x29 = 41/256): every engine,
    * run, and partitioning selects the same rows — the property a pipeline
    * needs for reproducible subsets and join-consistent side tables. The
    * payload column is untouched (narrow projection; at scale the filter
    * rides the scan and `text` is never materialized for rejected rows). */
  def hashSample(docs: DataFrame, hexThreshold: String = "29"): DataFrame =
    docs.filter(
        substring(md5(concat(col("doc_id").cast("string"), lit(":sample"))), 1, 2)
          < lit(hexThreshold))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** Deterministic train/val/test assignment by hash bucket: ~80/10/10 via
    * hex-prefix thresholds (0xcd=205, 0xe6=230 of 256). The split is a pure
    * projection — no shuffle, no state, stable under re-runs and appends
    * (a new document's split never depends on the rest of the corpus). */
  def assignSplits(docs: DataFrame): DataFrame = {
    val p = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
    docs.select(col("doc_id"),
      when(p < "cd", "train").when(p < "e6", "val").otherwise("test").as("split"))
  }

  /** Bounded keep-N-smallest typed Aggregator: the buffer holds at most `n`
    * ids sorted ascending, so partial aggregation combines map-side with
    * constant state — the scale-correct exact top-N-per-key, vs a
    * `Window.partitionBy(key)` that funnels every row of a hot key through
    * one partition (same rationale as the COO skew design, SURVEY §7.4(5)). */
  final class KeepNSmallest(n: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(n >= 1)
    override def zero: Array[Long] = Array.empty
    // Buffer invariant: sorted ascending, length <= n. The hot path is one
    // branch + no allocation (row rejected); an accepted row costs a binary
    // search + one arraycopy into place — no O(n log n) re-sort per row as
    // the earlier `(b :+ a).sorted` form paid. Measured (n=50, 2M rows,
    // single thread): random input is a wash (rejects dominate in both
    // forms), but the all-accept worst case — descending ingest order, the
    // realistic "newest rows first" scan — runs ~4x faster
    // (1.6s -> 0.35s). The structural buffer encoder (vs kryo) also drops
    // the serialized partial size (8 bytes/element + offsets vs kryo's
    // object envelope) on every map-side combine spill/exchange.
    override def reduce(b: Array[Long], a: Long): Array[Long] =
      if (b.length >= n && a >= b(b.length - 1)) b
      else {
        var lo = 0; var hi = b.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (b(mid) <= a) lo = mid + 1 else hi = mid
        }
        val outLen = math.min(b.length + 1, n)
        val out = new Array[Long](outLen)
        System.arraycopy(b, 0, out, 0, lo)
        out(lo) = a
        if (outLen - lo - 1 > 0) System.arraycopy(b, lo, out, lo + 1, outLen - lo - 1)
        out
      }
    // Linear merge of two sorted runs, truncated at n — O(n), allocation-free
    // beyond the output buffer.
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      val out = new Array[Long](math.min(n, b1.length + b2.length))
      var i = 0; var j = 0; var k = 0
      while (k < out.length) {
        out(k) =
          if (j >= b2.length || (i < b1.length && b1(i) <= b2(j))) { val v = b1(i); i += 1; v }
          else { val v = b2(j); j += 1; v }
        k += 1
      }
      out
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoderHelper.longArray
  }

  /** Per-source quota: keep the `n` lowest doc_ids of each source (the
    * deterministic stand-in for "first N by ingest order") — the
    * domain-balancing cap every corpus mix applies. One hash aggregation
    * with the bounded [[KeepNSmallest]] state, then a posexplode back to
    * rows with 1-based ranks. */
  def quotaCap(docs: DataFrame, n: Int = 3): DataFrame = {
    val keepN = udaf(new KeepNSmallest(n), Encoders.scalaLong)
    docs.groupBy("source").agg(keepN(col("doc_id")).as("ids"))
      .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"), col("doc_id"))
  }

  /** Length profile: exact interpolated quantiles of `n_chars` per lang —
    * Spark's `percentile` and DuckDB's `quantile_cont` share the same
    * linear-interpolation definition, so the oracle comparison is exact
    * (rounded to 6dp to absorb last-ulp arithmetic order). One hash
    * aggregation; the quantile buffer is per-group-bounded at this
    * cardinality (for unbounded groups switch to approx_percentile and a
    * rows-only check). */
  def lengthQuantiles(docs: DataFrame,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame =
    docs.groupBy("lang")
      .agg(percentile(col("n_chars"), typedlit(qs)).as("quants"))
      .select(col("lang"), posexplode(col("quants")).as(Seq("pos", "quantile")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("q_pos"),
        round(col("quantile"), 6).as("quantile"))

  /** Sequence packing — the pretraining data-layout step: concatenate each
    * source's token stream in doc_id order and assign every document the
    * training-sequence index its first token lands in
    * (`seq_id = start_offset / budget`; documents straddle sequence
    * boundaries, exactly like packed-pretraining batches).
    *
    * Scale shape — a two-phase distributed prefix sum, never a single
    * per-source running-sum window (which would stream a hot source's entire
    * token history through one partition):
    *
    *  1. Shard each source's doc_id range into order-preserving buckets
    *     (`shard = doc_id / shardSpan` — all of shard s precedes shard s+1).
    *  2. Intra-shard running sum: a window over `(source, shard)` — each
    *     window partition is a bounded span of one source, so hot sources
    *     spread across many partitions and the plan parallelizes with the
    *     data.
    *  3. Shard base offsets: per-(source, shard) token totals (an agg that
    *     reuses the phase-2 exchange — the grouping keys match the window
    *     partitioning, so no extra shuffle of document rows), then a
    *     cumulative sum over shards *within a source* — one row per shard,
    *     tiny by construction.
    *  4. Broadcast-join the shard offsets back: `start = intra + base`.
    *
    * The result is identical to the sequential window for any `shardSpan`
    * (CurationSpec pins parity against [[packSequencesWindow]]), so the
    * DuckDB oracle stays the simple single-window SQL. `shardSpan` only
    * tunes parallelism: ≈ target-rows-per-window-partition; at 100 TB pick
    * span ≈ (rows per source / desired parallelism).
    *
    * Density precondition: the shard-offset table has one row per occupied
    * `doc_id / shardSpan` bucket, so "tiny" assumes doc_ids are reasonably
    * dense relative to `shardSpan` (the testdata's are sequential). With
    * sparse/random 64-bit ids each document lands in its own shard and the
    * offset table approaches one row per document — re-densify first (a
    * `zipWithIndex`-style rank) or raise `shardSpan` toward the id spread.
    * The offsets join deliberately carries NO broadcast hint: when the
    * table really is tiny AQE broadcasts it at runtime from observed size,
    * and when the precondition is violated it falls back to a shuffle join
    * instead of OOMing the driver on a forced broadcast. */
  def packSequences(docs: DataFrame, budget: Long = 2048L,
      shardSpan: Long = 1L << 16): DataFrame = {
    require(shardSpan >= 1)
    val toks = size(TextAnalysis.tokens(col("text"))).cast("long")
    val base = docs.select(col("doc_id"), col("source"), toks.as("n_tokens"),
      floor(col("doc_id") / shardSpan).cast("long").as("shard"))
    val wIntra = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "shard").orderBy("doc_id")
    val intra = base
      .withColumn("local_offset", sum("n_tokens").over(wIntra) - col("n_tokens"))
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("shard")
    val offsets = intra.groupBy("source", "shard")
      .agg(sum("n_tokens").as("shard_tokens"))
      .withColumn("shard_offset", sum("shard_tokens").over(wShard) - col("shard_tokens"))
      .select(col("source"), col("shard"), col("shard_offset"))
    val start = col("local_offset") + col("shard_offset")
    intra.join(offsets, Seq("source", "shard"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        start.as("start_offset"),
        floor(start / budget).cast("long").as("seq_id"))
  }

  /** The sequential single-window form of [[packSequences]] — one running-sum
    * window per source stream, the textbook shape that does NOT survive a
    * hot source at 100 TB. Kept as the parity/teaching baseline the
    * distributed form is tested against (CurationSpec). */
  def packSequencesWindow(docs: DataFrame, budget: Long = 2048L): DataFrame = {
    val toks = size(TextAnalysis.tokens(col("text"))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    docs.select(col("doc_id"), col("source"), toks.as("n_tokens"))
      .withColumn("start_offset", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("start_offset"),
        floor(col("start_offset") / budget).cast("long").as("seq_id"))
  }

  /** Corpus mixture: per-group sampling weights, the up/downsampling step
    * that sets a training mix ("halve en, 2.25× de"). A weight w yields
    * ⌊w⌋ full copies of every row plus one extra copy kept when the row's
    * md5-prefix falls under the fractional remainder — so the realized rate
    * is exactly w in expectation, deterministic per row (stable across
    * runs/engines/layouts, like [[hashSample]]), and upsampled copies are
    * explicit numbered rows a trainer can shuffle. Pure projection +
    * explode: no shuffle, no state. Weights must be < 16 (copies explode
    * linearly; a larger factor is a config smell, not a scale problem). */
  def mixCorpus(docs: DataFrame,
      weights: Map[String, Double] = Map("en" -> 0.5, "de" -> 2.25)): DataFrame = {
    require(weights.values.forall(w => w >= 0 && w < 16), "weights must be in [0, 16)")
    def hexThreshold(w: Double): String = f"${math.round((w - w.floor) * 256)}%02x"
    val base = weights.foldLeft(lit(1L)) { case (acc, (k, w)) =>
      when(col("lang") === k, lit(w.toLong)).otherwise(acc)
    }
    val extraThreshold = weights.foldLeft(lit("00")) { case (acc, (k, w)) =>
      when(col("lang") === k, lit(hexThreshold(w))).otherwise(acc)
    }
    val prefix = substring(md5(concat(col("doc_id").cast("string"), lit(":mix"))), 1, 2)
    val nCopies = base + when(prefix < extraThreshold, 1L).otherwise(0L)
    docs.select(col("doc_id"), col("lang"), col("source"), nCopies.as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  /** Temperature-scaled mixture weights — the multilingual-pretraining
    * sampling rule (sample source s with p_s ∝ n_s^α, α < 1 flattens the
    * distribution toward uniform so small sources aren't drowned). Returns
    * per-source document count, sampling probability, and the boost factor
    * over natural sampling (boost > 1 = upsampled).
    *
    * α is fixed at 0.5 so the power is `sqrt` — correctly rounded per
    * IEEE-754, hence bit-identical on any engine (general `pow` is libm-
    * dependent and can drift a ulp; the oracle comparison is exact). The
    * per-source table is one map-side-combined count agg; the normalizing
    * sums ride a single-row cross-joined aggregate of that tiny table —
    * nothing heavier than the counts ever shuffles. */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val scaled = counts.withColumn("sc", sqrt(col("n").cast("double")))
    val totals = scaled.agg(sum(col("sc")).as("z"), sum(col("n")).as("tot"))
    scaled.crossJoin(totals)
      .select(col("source"), col("n"),
        round(col("sc") / col("z"), 6).as("p"),
        round((col("sc") / col("z")) /
          (col("n").cast("double") / col("tot").cast("double")), 6).as("boost"))
  }

  /** Length-outlier filter: keep documents whose `n_chars` falls inside the
    * per-lang [lo, hi] interpolated-percentile band — the tail-trimming
    * gate that drops truncation stubs and concatenation monsters before
    * training. Returns the surviving (doc_id, lang, n_chars) rows.
    *
    * Shape: the bounds table is one row per lang (exact `percentile`, the
    * [[lengthQuantiles]] cross-engine-exact form), joined back to the
    * corpus — tiny by construction, so AQE broadcasts it and the corpus
    * never shuffles; the filter itself is then a narrow per-row predicate.
    * Integer `n_chars` against interpolated double bounds compares safely:
    * a bound only equals an integer when the interpolation is exact (zero
    * or dyadic fraction), which both engines compute identically. */
  def lengthOutlierFilter(docs: DataFrame,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val bounds = docs.groupBy("lang")
      .agg(percentile(col("n_chars"), typedlit(Seq(lo, hi))).as("qs"))
      .select(col("lang"), element_at(col("qs"), 1).as("lo"),
        element_at(col("qs"), 2).as("hi"))
    docs.join(bounds, "lang")
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Per-source length-percentile deciles — rank-based calibration across
    * sources: a raw length threshold means different things in different
    * sources (tweets vs books), so curation policies select on each doc's
    * WITHIN-SOURCE percentile instead. `percent_rank` over a
    * source-partitioned window (ties broken by doc_id, so ranks are
    * distinct and both engines agree bit-for-bit: pr = (rank−1)/(n−1) on
    * identical integers), bucketed into deciles with the pr=1.0 row folded
    * into decile 9. The window partitions by source, so the work
    * parallelizes across sources; a single pathologically hot source would
    * shard the same way [[packSequences]] does, or switch to the
    * approx-quantile path ([[approxLengthQuantiles]]) where rank exactness
    * isn't required. */
  def lengthDeciles(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("pr", percent_rank().over(w))
      .select(col("doc_id"), col("source"), col("n_chars"),
        least(lit(9L), floor(col("pr") * 10).cast("long")).as("decile"))
  }

  /** Mixture rebalancing by biproportional fitting — the reference's IPF
    * algorithm (reference `step`, core.clj:89-97) applied to the
    * curation problem it was built for at this engine's scale: given the
    * observed (source × lang) document counts, compute per-cell sampling
    * weights whose weighted corpus hits UNIFORM source and lang marginals
    * simultaneously — the "rebalance the mix without hand-tuning 100
    * knobs" step a multilingual/multi-source training run wants. One full
    * IPF sweep (row fit to the source target, column fit to the lang
    * target) on the tiny count matrix, with the q76 cross-engine
    * determinism recipe: the row fit's output is rounded to 6dp before the
    * column fit consumes it, and the column fit is
    * [[graft.matrix.CooMatrix.fitRowsExact]] (DECIMAL(38,6) denominator —
    * order-independent). Targets are derived distributively (distinct
    * sources/langs crossJoin one broadcast totals row) — no driver-side
    * scalar. Returns per (source, lang): observed count, fitted count, and
    * the sampling weight fitted/observed, feeding [[mixCorpus]]-style
    * per-row replication. The matrix is |sources|·|langs| cells regardless
    * of corpus size — the heavy work is the one counting aggregation. */
  def rebalanceMixture(docs: DataFrame): DataFrame = {
    import graft.matrix.CooMatrix
    val counts = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
    val m = CooMatrix(counts.select(col("source").as(CooMatrix.Row),
      col("lang").as(CooMatrix.Col), col("n_docs").cast("double").as(CooMatrix.Value)))
    val tot = docs.agg(count(lit(1)).cast("double").as("n_tot"),
      countDistinct(col("source")).cast("double").as("n_src"),
      countDistinct(col("lang")).cast("double").as("n_lang"))
    val x = docs.select(col("source").as(CooMatrix.Idx)).distinct()
      .crossJoin(broadcast(tot))
      .select(col(CooMatrix.Idx), (col("n_tot") / col("n_src")).as(CooMatrix.Value))
    val y = docs.select(col("lang").as(CooMatrix.Idx)).distinct()
      .crossJoin(broadcast(tot))
      .select(col(CooMatrix.Idx), (col("n_tot") / col("n_lang")).as(CooMatrix.Value))
    val sweep1 = m.fitRows(x).mapValues(round(_, 6))
    val fitted = sweep1.transpose.fitRowsExact(y).transpose
    fitted.df
      .select(col(CooMatrix.Row).as("source"), col(CooMatrix.Col).as("lang"),
        round(col(CooMatrix.Value), 6).as("fitted"))
      .join(counts, Seq("source", "lang"))
      .select(col("source"), col("lang"), col("n_docs"), col("fitted"),
        round(col("fitted") / col("n_docs").cast("double"), 6).as("weight"))
  }

  /** Robust per-source length outliers — median/MAD instead of mean/stddev,
    * the outlier rule that survives the very outliers it hunts (one
    * pathological 100 MB document shifts a mean+3σ gate enough to hide its
    * siblings; the median and MAD barely move). Flags docs with
    * |n_chars − median| > c · 1.4826 · MAD (1.4826 scales MAD to σ under
    * normality) and reports the per-source count. Two exact interpolated
    * percentiles (the q81 `percentile` ≡ DuckDB `quantile_cont` dyadic-
    * exactness rule) + two equi-joins of a tiny per-source frame; the
    * comparison runs on identical doubles both engines, so the whole
    * report hash-checks. */
  def robustLengthOutliers(docs: DataFrame, c: Double = 2.0): DataFrame = {
    val med = docs.groupBy("source")
      .agg(percentile(col("n_chars"), lit(0.5)).as("med"))
    val dev = docs.select(col("source"), col("n_chars")).join(med, "source")
      .withColumn("adev", abs(col("n_chars") - col("med")))
    val mad = dev.groupBy("source").agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(mad, "source")
      .groupBy("source")
      .agg(round(max(col("med")), 6).as("median_chars"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(col("mad") > 0 &&
            abs(col("n_chars") - col("med")) > lit(c * 1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** The documents table's lang values — pinned so the pivot schema is
    * static (a pivot without explicit values triggers an eager distinct
    * scan AND makes the output schema data-dependent; a fixed vocabulary
    * is the deployment-correct form for a known label set). */
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Source × lang corpus profile as a wide pivot — the composition matrix
    * a mixture designer reads (one row per source, one `n_<lang>` column
    * per language, zero-filled). Pivot with pinned values is a single hash
    * aggregation (each partition holds one counter per (source, lang) —
    * map-side combined); no per-lang scan, no join. */
  def sourceLangProfile(docs: DataFrame): DataFrame =
    docs.groupBy("source").pivot("lang", Langs).agg(count(lit(1)))
      .na.fill(0L, Langs)
      .select(col("source") +: Langs.map(l => col(l).as(s"n_$l")): _*)

  /** Corpus composition CUBE: doc counts and total characters for every
    * (lang, source) combination PLUS per-lang, per-source, and grand-total
    * subtotal rows — the full composition report a mixture designer reads,
    * in one aggregation pass (grouping-set expansion is map-side; one
    * shuffle, the [[graft.relational.Queries.rollupRevenue]] rationale
    * extended to the complete lattice). Null grouping keys are
    * sentinel-coalesced so the oracle comparison is collation-stable;
    * character totals are exact integer sums. */
  def corpusCube(docs: DataFrame): DataFrame =
    docs.cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .select(coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("n_docs"), col("total_chars"))

  /** End-to-end curation capstone — the composed pipeline a corpus actually
    * runs: exact dedup keep-first ([[Dedup.dedupKeepFirst]]) → token-length
    * quality gate (the standard min/max filter; this corpus has no
    * punct/digit noise, so the ratio-based [[TextAnalysis.qualityScore]]
    * would pass everything) → deterministic train-split selection
    * ([[assignSplits]]) → training-sequence packing ([[packSequences]]).
    * Every stage is the registry operator itself, composed — the point is
    * that the pieces chain into one lazy plan: the doc_id joins are
    * semi-joins over monotonically shrinking sets that AQE broadcasts, and
    * Catalyst collapses the stacked projections. */
  def curationPipeline(docs: DataFrame, minTokens: Long = 20L, maxTokens: Long = 85L,
      budget: Long = 2048L): DataFrame = {
    val deduped = Dedup.dedupKeepFirst(docs)
    val gated = deduped.filter(
      size(TextAnalysis.tokens(col("text"))).cast("long").between(minTokens, maxTokens))
    val train = assignSplits(gated).filter(col("split") === "train").select("doc_id")
    packSequences(gated.join(train, "doc_id"), budget)
  }

  /** Quality-stack capstone (q192) — the round-12 stack composed the way a
    * production curation run chains it: model-based quality score
    * ([[graft.ml.QualityClassifier.scoreDocs]], q186) → keep-threshold
    * gate → NEAR-dup dedup over the kept subset (q99's shared component
    * labels; the representative is the min-doc_id KEPT member of each
    * cluster, so filtering before dedup never resurrects a dropped
    * representative's duplicates) → training-sequence packing
    * ([[packSequences]], q84). Everything downstream of the two cached
    * model artifacts (LR scores, component labels — both eager by nature,
    * like q186/q101 themselves) is ONE lazy plan: two left-semi joins on
    * monotonically shrinking doc_id sets that AQE broadcasts, then the
    * packing's two-phase prefix sum. Rows-only registry surface (the
    * score gate inherits q186's iterative-float scores); Round13OpsSpec
    * pins the stage-composition contract — the capstone's survivor set
    * and offsets equal the stepwise composition of the public pieces. */
  def qualityCurationPipeline(spark: SparkSession, dir: String,
      threshold: Double = 0.5, budget: Long = 2048L): DataFrame = {
    val docs = graft.io.Tables(spark, dir, "documents")
    val keepIds = graft.ml.QualityClassifier.scoreDocs(spark, dir, threshold)
      .filter(col("keep")).select("doc_id")
    val kept = docs.join(keepIds, Seq("doc_id"), "left_semi")
    val reps = kept.select("doc_id")
      .join(Dedup.componentLabelsOn(spark, dir), "doc_id")
      .groupBy("component").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    packSequences(kept.join(reps, Seq("doc_id"), "left_semi"), budget)
  }

  /** Quarantine router with reason codes (q203) — the governance surface a
    * production curation pipeline must emit: every document gets a
    * DECISION (keep/drop) and the FIRST-MATCHING REASON under a fixed rule
    * priority, so an auditor can answer "why is this document not in the
    * training set" without re-running the pipeline. Filters that silently
    * drop rows (q87's gates) are fine for the trainer; the router is the
    * same predicate set expressed as a total function over the corpus —
    * nothing vanishes, everything is labeled.
    *
    * Rule priority (first match wins — priority IS the semantics, since a
    * doc can be both an exact-dup loser and too short):
    *  1. `exact_dup`   — not the keeper (min doc_id) of its sha2 group
    *  2. `lang_blocked`— language not in the allowlist
    *  3. `too_short` / `too_long` — token count outside [minTokens, maxTokens]
    *  else `ok`, decision keep.
    *
    * One scan + the keeper hash-agg broadcast back (the [[Dedup
    * .dedupKeepFirst]] skew-safe shape); the router is a projection over
    * it — no extra shuffle at any scale. */
  def quarantineRouter(docs: DataFrame,
      minTokens: Long = 20L, maxTokens: Long = 85L,
      langAllow: Seq[String] = Seq("en", "de", "es", "fr")): DataFrame = {
    val keepers = docs.select(sha2(col("text"), 256).as("__ch"), col("doc_id"))
      .groupBy("__ch").agg(min(col("doc_id")).as("keeper_id"))
    val toks = size(TextAnalysis.tokens(col("text"))).cast("long")
    docs.withColumn("__ch", sha2(col("text"), 256))
      .join(keepers, "__ch")
      .withColumn("__nt", toks)
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keeper_id"), "exact_dup")
          .when(!col("lang").isInCollection(langAllow), "lang_blocked")
          .when(col("__nt") < minTokens, "too_short")
          .when(col("__nt") > maxTokens, "too_long")
          .otherwise("ok").as("reason"))
      .withColumn("decision",
        when(col("reason") === "ok", "keep").otherwise("drop"))
      .select(col("doc_id"), col("decision"), col("reason"))
  }

  /** Stratified fixed-N sample: exactly `n` documents per stratum (lang),
    * selected uniformly-at-random but deterministically — each document's
    * priority is a 60-bit integer parsed from its salted md5 prefix, and
    * the `n` smallest priorities win per stratum. Same engine-free
    * determinism as [[hashSample]], but with an exact per-group count
    * (hashSample's threshold keeps a fraction, not a count).
    *
    * Scale shape: the priorities aggregate through the bounded
    * [[KeepNSmallest]] buffer (map-side combine, constant <=n state per
    * stratum — no per-stratum Window funnel), then a semi-join on
    * (stratum, priority) recovers the winning rows. Priority collisions
    * would need two equal 60-bit md5 prefixes inside one stratum
    * (~corpus^2 / 2^61) — and both engines compute the identical md5, so
    * the comparison cannot diverge even then. */
  def stratifiedSample(docs: DataFrame, n: Int = 50): DataFrame = {
    val priority = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(":strat"))), 1, 15),
      16, 10).cast("long")
    val keepN = udaf(new KeepNSmallest(n), Encoders.scalaLong)
    val prio = docs.select(col("lang"), col("doc_id"), priority.as("priority"))
    val winners = prio.groupBy("lang").agg(keepN(col("priority")).as("ps"))
      .select(col("lang"), explode(col("ps")).as("priority"))
    prio.join(winners, Seq("lang", "priority"), "left_semi")
      .select(col("lang"), col("priority"), col("doc_id"))
  }

  /** Weighted sample WITHOUT replacement — Efraimidis–Spiliopoulos A-ES
    * keys ("Weighted random sampling with a reservoir", IPL 97(5), 2006):
    * each document draws a deterministic uniform u ∈ (0, 1] from a salted
    * 60-bit md5 prefix (the [[stratifiedSample]] integer-parity trick) and
    * competes with key ln(u) / w; the k LARGEST keys form an exact
    * weight-proportional-without-replacement sample. Weight here is
    * `n_chars` — token-proportional inclusion, the curation choice that
    * makes the sampled corpus's CHARACTER mass representative rather than
    * its document count. Classically the key is u^(1/w); ln is monotone,
    * so ranking by ln(u)/w selects the identical sample while replacing
    * the cross-engine-fragile pow with one log and one divide, rounded to
    * 6dp for the hash comparison (the q154 rounded-ordering rule;
    * adjacent keys at the k-boundary are ~1e-5 apart on this corpus,
    * 10 000× the rounding grain).
    *
    * Scale shape: key assignment is a pure projection riding the scan;
    * selection is `orderBy.limit(k)` = TakeOrderedAndProject — every
    * partition keeps its own top-k (constant memory, map-side), only
    * k-row heaps reach the driver-side merge. No RNG state anywhere: the
    * sample is reproducible across runs, engines, and partitionings, and
    * appending documents never reshuffles earlier draws (each doc's key
    * is its own). Zero-weight docs are excluded up front (their inclusion
    * probability is 0; dividing by 0 would make round() engine-visible). */
  def weightedSample(docs: DataFrame, k: Int = 100): DataFrame = {
    val uInt = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(":wsamp"))), 1, 15),
      16, 10).cast("long")
    val u = (uInt.cast("double") + lit(1.0)) / lit((1L << 60).toDouble)
    docs.filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        round(log(u) / col("n_chars").cast("double"), 6).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-stratum weighted sample without replacement: [[weightedSample]]'s
    * Efraimidis–Spiliopoulos keys, selected per `source` through the
    * bounded [[KeepNSmallest]] aggregator instead of a global top-k — the
    * corpus-mix form ("n char-weighted representatives of every source").
    *
    * The A-ES key is a DOUBLE (ln(u)/w) but [[KeepNSmallest]]'s buffer is
    * integer-only, so the key rides [[graft.functions.DoubleSortableBits]]:
    * an exact total-order-preserving bits embedding of `-key` (ascending
    * embedded long ⟺ descending key — the n smallest embeddings ARE the n
    * largest keys, no fixed-point scaling, no precision loss). That keeps
    * the per-group selection a hash aggregation with constant ≤n state and
    * map-side combine — no per-source Window funnel, the same scale
    * argument as [[stratifiedSample]] — while an external oracle ordering
    * by the raw double agrees exactly. Selection uses the UNROUNDED key
    * (both engines compute identical doubles from identical md5 integers);
    * the displayed `es_key` is rounded per the q154 rule. A rank collision
    * inside one source would need two bit-identical ln(u)/w doubles
    * (distinct doc_ids → distinct 60-bit u; ~corpus²/2⁶¹) — and both
    * engines would then agree on the collision too. `pos`+1 in the sorted
    * buffer is the rank: ascending embedding = descending es_key. */
  def weightedStratified(docs: DataFrame, n: Int = 20): DataFrame = {
    val uInt = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(":wstrat"))), 1, 15),
      16, 10).cast("long")
    val u = (uInt.cast("double") + lit(1.0)) / lit((1L << 60).toDouble)
    val esRaw = log(u) / col("n_chars").cast("double")
    val prio = docs.filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        esRaw.as("es_raw"),
        graft.functions.VectorOps.sortableBits(-esRaw).as("priority"))
    val keepN = udaf(new KeepNSmallest(n), Encoders.scalaLong)
    val winners = prio.groupBy("source").agg(keepN(col("priority")).as("ps"))
      .select(col("source"), posexplode(col("ps")).as(Seq("pos", "priority")))
    winners.join(prio, Seq("source", "priority"))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("doc_id"), col("n_chars"), round(col("es_raw"), 6).as("es_key"))
      .orderBy("source", "rank")
  }

  /** Contrastive importance weighting — the data-selection scorer of
    * importance-resampling pipelines (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023, simplified
    * to unigram features): score every document by the mean
    * log-likelihood ratio of its tokens under a TARGET distribution
    * (here: the `targetLang` slice of the corpus) versus the RAW corpus
    * distribution, both Laplace-smoothed over the corpus vocabulary.
    * Documents that look like the target score high; train-data selection
    * keeps the top slice. Self-contained by design: the target is a slice
    * of the same frame, so the oracle certifies the full pipeline
    * (vocabulary, smoothing, ratio, aggregation) without an external
    * reference table — swap `docs.filter` for a real target corpus.
    *
    * Shape: token counts per distribution are two hash aggregations over
    * the exploded token stream; the per-TERM log-ratio frame (vocabulary
    * grain, with the three scalar totals broadcast via the 1-row
    * crossJoin) joins the (doc, term, tf) pre-aggregate — the q119 rule:
    * aggregate to term grain BEFORE the join so the join input is |vocab|
    * per doc, not |tokens|. Per-term ratios are cast to DECIMAL(28,12) and
    * multiplied by integer tf, so the per-doc sum is order-independent and
    * engine-exact (the dsum rule); one final divide + round at the end. */
  def importanceWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val raw = tok.groupBy("term").agg(count(lit(1)).as("n_r"))
    val tgt = tok.filter(col("lang") === targetLang)
      .groupBy("term").agg(count(lit(1)).as("n_t"))
    val consts = raw.agg(sum("n_r").as("nr_tot"), count(lit(1)).as("v"))
      .crossJoin(tgt.agg(coalesce(sum("n_t"), lit(0L)).as("nt_tot")))
    val lr = raw.join(tgt, Seq("term"), "left").crossJoin(broadcast(consts))
      .select(col("term"),
        (log((coalesce(col("n_t"), lit(0L)).cast("double") + lit(1.0)) /
             (col("nt_tot") + col("v")).cast("double")) -
         log((col("n_r").cast("double") + lit(1.0)) /
             (col("nr_tot") + col("v")).cast("double")))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12))
          .as("llr"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf casts to DECIMAL(9,0) so the product is DECIMAL(38,12) — precision
    // exactly at the cap, scale preserved, NO precision-loss rounding (a
    // long operand would be DECIMAL(20,0) -> precision 49 -> lossy). The
    // q119 recipe: the product then equals the oracle's per-instance
    // decimal sum term for term.
    tf.join(lr, "term")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        round(sum(col("llr") *
            col("tf").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(9, 0)))
          .cast("double") / sum("tf"), 6).as("importance"))
      .orderBy("doc_id")
  }

  /** Training-shard assignment + balance audit: every document lands in a
    * shard by content-free deterministic hash (md5 mod `nShards` — the
    * same salt-keyed assignment family as [[assignSplits]], so shards are
    * reproducible, disjoint, and independent of [[hashSample]]'s keys),
    * and each shard is scored with the χ² statistic of its source
    * composition against the corpus mixture — the check that data-parallel
    * workers all see the same distribution (a skewed shard = a worker
    * whose gradient distribution drifts). χ² = Σ_src (obs − exp)²/exp
    * over the DENSIFIED shard × source grid (zero cells included — an
    * absent source in a shard is exactly the signal); obs/exp derive from
    * integer counts and the per-term ratio rides the DECIMAL(28,12) sum
    * (the q119 rule), so the statistic is engine-exact.
    *
    * Shape: two hash aggs (shard×source observed, source totals) plus a
    * 1-row corpus total; the grid is |shards| × |sources| rows built by a
    * broadcast crossJoin of two TINY aggregate frames — never the corpus. */
  def shardBalance(docs: DataFrame, nShards: Int = 16): DataFrame = {
    val sharded = docs.select(col("source"),
      pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":shard"))),
        1, 15), 16, 10).cast("long"), lit(nShards.toLong)).as("shard"))
    val obs = sharded.groupBy("shard", "source").agg(count(lit(1)).as("obs"))
    val srcTot = sharded.groupBy("source").agg(count(lit(1)).as("n_src"))
    val shardTot = sharded.groupBy("shard").agg(count(lit(1)).as("n_shard"))
    val total = sharded.agg(count(lit(1)).as("n_total"))
    val expCol = col("n_shard").cast("double") * col("n_src").cast("double") /
      col("n_total").cast("double")
    shardTot.crossJoin(broadcast(srcTot)).crossJoin(broadcast(total))
      .join(obs, Seq("shard", "source"), "left")
      .select(col("shard"), col("n_shard"),
        ((coalesce(col("obs"), lit(0L)).cast("double") - expCol) *
         (coalesce(col("obs"), lit(0L)).cast("double") - expCol) / expCol)
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12))
          .as("term"))
      .groupBy("shard", "n_shard")
      .agg(round(sum("term").cast("double"), 6).as("chi2"))
      .select(col("shard"), col("n_shard"), col("chi2"))
      .orderBy("shard")
  }

  /** The scale path of [[lengthQuantiles]]: Greenwald-Khanna approximate
    * quantiles via `approx_percentile`, whose sketch is CONSTANT-size per
    * group (vs `percentile`'s per-group value buffer — fine at this
    * stratum cardinality, unbounded for arbitrary group-bys) and combines
    * map-side. `accuracy` trades sketch size for rank error 1/accuracy.
    * Sketch internals are engine-specific, so this is rows-only for the
    * driver; CurationSpec pins the estimates inside the rank-error
    * envelope against the exact interpolated quantiles. */
  def approxLengthQuantiles(docs: DataFrame,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      accuracy: Int = 1000): DataFrame =
    docs.groupBy("lang")
      .agg(percentile_approx(col("n_chars"), typedlit(qs), lit(accuracy)).as("quants"))
      .select(col("lang"), posexplode(col("quants")).as(Seq("pos", "quantile")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("q_pos"),
        col("quantile").cast("double").as("quantile"))

  /** Sliding-window token chunking — the context-window layout step: split
    * each document into overlapping chunks of `chunkTokens` tokens at
    * `stride`-token steps (stride < chunkTokens ⇒ overlap, the standard
    * long-document encoding for embedding and eval pipelines). Chunk starts
    * are every stride-th token position up to the document length, so the
    * final chunks may run short — length = min(chunkTokens, n - start + 1)
    * — and every token belongs to ≥1 chunk. Emits the chunk's token count
    * and content digest, not the chunk text itself (the downstream join key
    * a pipeline actually ships; the text is re-sliceable from (doc_id,
    * start_pos)).
    *
    * Scale shape: one narrow projection + a per-row bounded explode
    * (≤ n/stride chunks per doc) — no shuffle, no state; the token array is
    * a named column so the slice lambda does not re-tokenize per chunk
    * (the q85 HOF-CSE lesson). */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1)
    docs.withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(1), col("n"), lit(stride))).as(Seq("chunk_id", "start_pos")))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("start_pos").cast("long").as("start_pos"),
        least(lit(chunkTokens), col("n") - col("start_pos") + 1).cast("long")
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("start_pos"), lit(chunkTokens))))
          .as("chunk_md5"))
  }

  /** Corpus cardinality estimate: HyperLogLog++ distinct-text count per
    * lang next to the exact row count. The approximate path is the one
    * that scales (constant sketch per group, map-side combine, no
    * shuffle of distinct values); LlmDataSpec pins the estimate within
    * rsd of the exact answer. Rows-only for the driver — HLL internals
    * are engine-specific by nature. */
  def approxDistinctTexts(docs: DataFrame, rsd: Double = 0.02): DataFrame =
    docs.groupBy("lang")
      .agg(approx_count_distinct(col("text"), rsd).as("approx_distinct_texts"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** q212: deterministic stride-scheduling interleave — the training-data
    * ORDERING operator. Each doc gets a schedule position
    * `(r − 0.5) / n_src` (r = its rank within its source): reading the
    * corpus by ascending position interleaves sources proportionally to
    * their size with the stride-scheduler's fairness bound — any prefix of
    * the order contains each source's proportional share ±1 (pinned in
    * CurationSpec). Deterministic (rank by doc_id, no RNG), so the
    * schedule is reproducible across runs/engines and the frame is
    * hash-certifiable; the position arithmetic is one correctly-rounded
    * IEEE division both engines execute identically.
    *
    * Scale note: the per-source `row_number` window is the fixture-size
    * spelling; a source with billions of docs would compute r by the
    * q144 two-phase prefix-sum (per-partition counts → broadcast offsets)
    * — grouping-key-only swap, the output contract is unchanged. No
    * global window anywhere: the schedule is an ORDER, not a rank — a
    * consumer sorts by (sched_pos, doc_id), which Spark executes as a
    * range-partitioned sort, not a single-reducer funnel. */
  def interleaveSchedule(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = docs.select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(w).cast("long"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    ranked.join(counts, Seq("source"))
      .select(col("doc_id"), col("source"),
        round((col("r") - lit(0.5)) / col("n_src"), 9).as("sched_pos"))
  }

  /** Component-aware k-fold assignment (q217): every document receives
    * the fold of its near-dup COMPONENT (md5 of the component
    * representative, mod k), so near-duplicates can never straddle a
    * fold boundary — the group-aware cross-validation split that
    * prevents eval leakage by construction, where q79's per-doc hash
    * split needs the q140 leakage audit after the fact. Composes the
    * per-(dir, threshold) cached component labels (one LSH front end
    * shared with q99/q101/q140...); the fold gate is the q176 md5→mod
    * idiom on the component id instead of the doc id.
    *
    * Scale: one broadcast-able join of the label frame (|docs| rows,
    * two longs) onto a map-side md5 — no new shuffle beyond the label
    * derivation itself; leakage-freedom is STRUCTURAL (fold is a
    * function of component), certified on the fixture in CurationSpec. */
  def groupAwareFolds(spark: org.apache.spark.sql.SparkSession, dir: String,
      nFolds: Int = 5): DataFrame = {
    require(nFolds >= 2)
    val labels = Dedup.componentLabelsOn(spark, dir)
    labels.select(col("doc_id"), col("component"),
      pmod(conv(substring(md5(concat(col("component").cast("string"), lit(":fold"))),
        1, 15), 16, 10).cast("long"), lit(nFolds.toLong)).as("fold"))
  }

  /** Corpus snapshot diff (q218): the version-to-version change report a
    * lakehouse publishes between corpus releases — per key, `added` /
    * `removed` / `changed` / `unchanged` from ONE full-outer join of the
    * two snapshots. Content equality compares md5 digests computed
    * BEFORE the join, so the shuffle carries 32-byte keys, never
    * document bodies (at 100 TB the text column dominates; the digest
    * projection drops it at the scan).
    *
    * `oldDf`/`newDf` need (doc_id, text). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val o = oldDf.select(col("doc_id"), md5(col("text")).as("old_md5"))
    val n = newDf.select(col("doc_id"), md5(col("text")).as("new_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_md5"), col("new_md5"))
  }

  /** Curation drop-waterfall (q250): the stage-by-stage accounting every
    * pipeline publishes next to its cleaned corpus — docs surviving each
    * gate (exact dedup → near-dup representatives → length gate → token
    * floor) and how many each stage dropped. The capstones (q87/q192)
    * certify the composed OUTPUT; this certifies the ATTRIBUTION, which
    * is what gets debugged when a release shrinks unexpectedly. Stage
    * order is part of the contract (dedup before content gates, so a
    * gate never resurrects a duplicate's twin). Five 1-row aggregates
    * over monotonically shrinking frames + a 5-row lag window. */
  def curationWaterfall(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.io.Tables(spark, dir, "documents")
    val keep1 = docs.select(col("doc_id"), md5(col("text")).as("m"))
      .groupBy("m").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val d1 = docs.join(keep1, Seq("doc_id"), "left_semi")
    val labels = Dedup.componentLabelsOn(spark, dir)
    val reps = d1.select("doc_id").join(labels, "doc_id")
      .groupBy("component").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val d2 = d1.join(reps, Seq("doc_id"), "left_semi")
    val d3 = d2.filter(col("n_chars").between(100, 2000))
    val d4 = d3.filter(size(TextAnalysis.tokens(col("text"))) >= 20)
    val stages = Seq(
      (0, "all", docs), (1, "exact_dedup", d1), (2, "near_dedup", d2),
      (3, "length_gate", d3), (4, "min_tokens", d4))
    val counts = stages.map { case (i, nm, df) =>
      df.agg(count(lit(1)).as("n"))
        .select(lit(i.toLong).as("stage_idx"), lit(nm).as("stage"), col("n"))
    }.reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage_idx")
    counts
      .withColumn("n_dropped_here",
        coalesce(lag(col("n"), 1).over(w) - col("n"), lit(0L)).cast("long"))
      .select(col("stage_idx"), col("stage"), col("n").cast("long").as("n_docs"),
        col("n_dropped_here"))
  }

  /** Largest-remainder (Hamilton) apportionment (q236): split an integer
    * sample budget across sources exactly proportionally — floor the
    * ideal quota, then hand the leftover units to the largest fractional
    * remainders (count-desc, source-asc tiebreak), so allocations sum to
    * EXACTLY the budget with each source within 1 of its ideal share.
    * This is how a curation run turns "take 10k docs, keep the mixture"
    * into per-source integer quotas without RNG or drift; q80's quota
    * cap then enforces the numbers. Exact integer/decimal arithmetic
    * end to end (ideal quotas compare as budget·n_src — engine-exact
    * cross-multiplication, never a float share); one window over the
    * |sources|-row aggregate frame. */
  def apportionBudget(docs: DataFrame, budget: Long = 100L): DataFrame = {
    require(budget >= 0)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val total = counts.agg(sum("n_src").as("n_total"))
    val base = counts.crossJoin(broadcast(total))
      // floor(budget * n_src / n_total) and the exact integer remainder
      // budget*n_src mod n_total — the fractional part scaled by n_total
      .withColumn("floor_q", expr(s"$budget * n_src div n_total"))
      .withColumn("rem", expr(s"$budget * n_src % n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    val floorSum = base.agg(sum(col("floor_q")).as("floor_sum"))
    base.crossJoin(broadcast(floorSum))
      .withColumn("rank", row_number().over(w))
      .withColumn("extra",
        when(col("rank") <= lit(budget) - col("floor_sum"), 1L).otherwise(0L))
      .select(col("source"), col("n_src"),
        (col("floor_q") + col("extra")).cast("long").as("quota"))
  }

  /** Incremental aggregate maintenance (q230): the per-source
    * (doc count, char sum) aggregate of the NEW corpus release computed
    * WITHOUT rescanning unchanged rows — base aggregate of the old
    * release, plus deltas derived from the [[snapshotDiff]] change set
    * only (removed/changed subtract their old contribution, added/
    * changed add their new one). This is materialized-view incremental
    * maintenance: at 100 TB the change set is typically ≪1% of the
    * table, so the maintenance cost is proportional to the CHANGES. The
    * q218 oracle twin recomputes the aggregate directly from the new
    * release — hash equality certifies the delta algebra is exact
    * (count and sum are Abelian-group aggregates; max/min would need a
    * different story, which is why they're not here). */
  def incrementalAggMaintenance(docs: DataFrame): DataFrame = {
    // the two deterministic releases of [[corpusSnapshotDiff]], with the
    // release-specific body LENGTH ('OLD ' adds 4 chars)
    val oldRows = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, col("n_chars") + 4)
          .otherwise(col("n_chars")).as("len"))
    val newRows = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("source"), col("n_chars").as("len"))
    val base = oldRows.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("sum_chars"))
    val diff = corpusSnapshotDiff(docs).filter(col("status") =!= "unchanged")
      .select("doc_id", "status")
    val minus = diff.filter(col("status").isin("removed", "changed"))
      .join(oldRows, "doc_id")
      .select(col("source"), lit(-1L).as("dn"), (-col("len")).as("dlen"))
    val plus = diff.filter(col("status").isin("added", "changed"))
      .join(newRows, "doc_id")
      .select(col("source"), lit(1L).as("dn"), col("len").as("dlen"))
    val delta = minus.unionAll(plus).groupBy("source")
      .agg(sum("dn").as("dn"), sum("dlen").as("dlen"))
    base.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .cast("long").as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dlen"), lit(0L)))
          .cast("long").as("sum_chars"))
      .filter(col("n_docs") > 0L)
  }

  /** [[snapshotDiff]] wired to two deterministic synthetic releases of
    * the documents fixture (the registry/oracle twin): the "old"
    * snapshot drops doc_id ≡ 0 (mod 5) and carries a pre-edit body
    * (`'OLD ' || text`) for doc_id ≡ 0 (mod 7); the "new" snapshot
    * drops doc_id ≡ 0 (mod 3). Every status class is populated and both
    * engines derive the identical pair of versions from one table. */
  def corpusSnapshotDiff(docs: DataFrame): DataFrame = {
    val old = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
          .otherwise(col("text")).as("text"))
    val neu = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    snapshotDiff(old, neu)
  }

  /** UniMax token-budget allocation (q259) — the language/source-balanced
    * sampling rule of Chung et al. 2023 ("UniMax: Fairer and More
    * Effective Language Sampling"), with the repetition ceiling motivated
    * by Muennighoff et al. 2023 (data-constrained scaling: value decays
    * fast past ~4 epochs): split a total training-token budget as
    * UNIFORMLY as possible across sources, except no source may be
    * repeated past `maxEpochs` — small sources saturate at their cap and
    * the freed budget waterfills to the rest.
    *
    * The exact waterfill is a sequential loop; like the reference's IPF
    * (`converge`) it is certified here as a FINITE UNROLLED form — one
    * uniform round plus one redistribution round, the same
    * unrolled-sweep idiom as q94/q121/q187. Invariants (pinned in the
    * spec): every grant respects its cap, round 2 only ever raises a
    * round-1 grant, and the total stays within budget.
    *
    * All arithmetic is INTEGER token counts (floor-div fair shares) until
    * the final epochs ratio, so both engines agree bit-for-bit with no
    * quantization step. One corpus scan computes per-source token counts
    * (a codegen'd `size(split(..))` — the text column never shuffles);
    * everything after runs on the K-row source frame, with the global
    * scalars broadcast back as 1-row crosses. Budget = `budgetNum/
    * budgetDen` of the corpus token count (default 1.5 epochs' worth). */
  def unimaxAllocation(docs: DataFrame, budgetNum: Int = 3,
      budgetDen: Int = 2, maxEpochs: Int = 2): DataFrame = {
    require(budgetNum >= 1 && budgetDen >= 1 && maxEpochs >= 1)
    val tok = docs.groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = tok.agg(sum("n_tokens").as("n"), count(lit(1)).as("k"))
    val base = tok.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens") * maxEpochs).as("cap"),
        expr(s"(n * $budgetNum) div $budgetDen").as("b"),
        expr(s"((n * $budgetNum) div $budgetDen) div k").as("fair1"))
    val g1 = base.withColumn("grant1", least(col("cap"), col("fair1")))
    val r = g1.agg(sum("grant1").as("granted_r1"),
      sum(when(col("cap") > col("fair1"), 1L).otherwise(0L)).as("n_open"))
    g1.crossJoin(broadcast(r))
      .select(col("source"), col("n_tokens"), col("cap"), col("grant1"),
        when(col("n_open") > 0L && col("cap") > col("fair1"),
            least(col("cap"),
              col("grant1") + expr("(b - granted_r1) div n_open")))
          .otherwise(col("grant1")).as("granted"))
      .select(col("source"), col("n_tokens"), col("cap"), col("grant1"),
        col("granted"),
        round(col("granted").cast("double") / col("n_tokens").cast("double"), 6)
          .as("epochs"),
        (col("granted") === col("cap")).as("saturated"))
  }
}

/** `Encoders.scalaLong` exists but there is no public primitive-array
  * encoder factory; the implicit `newLongArrayEncoder` lives on
  * SQLImplicits, which needs a session. `ExpressionEncoder` derives it
  * structurally without one. */
private[llmdata] object ExpressionEncoderHelper {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  val longArray: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  val intArray: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
  val stringLongMap: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
  val stringArray: Encoder[Array[String]] = ExpressionEncoder[Array[String]]()
}
