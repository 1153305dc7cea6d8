package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for a training-data pipeline, over `documents`.
  *
  * Scale design: exact dedup is a hash-partitioned groupBy on a 256-bit
  * content hash (no full-text shuffle — only the 32-byte key + doc_id
  * move). Near-dup is MinHash+LSH: shingle → minhash signature → band →
  * bucket-join, so candidate generation is an equi-join on band hashes
  * instead of an O(n²) cross product.
  */
object Dedup {

  /** [[graft.io.Tables.spread]] keyed on doc_id — parallelism insurance
    * for the CPU-dense tokenize/shingle explodes below when a caller
    * hands in a raw single-file scan (the registry's docs() accessor
    * already spreads, and the gate makes re-spreading a no-op). */
  private[llmdata] def spreadScan(df: DataFrame): DataFrame =
    graft.io.Tables.spread(df, "doc_id")

  /** Exact duplicate groups keyed by sha2-256 of the raw text. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc_id"))

  /** Keep-first exact dedup: survivors only, deterministic keeper = lowest
    * doc_id per content hash. Implemented as hash-agg min + semi-join
    * rather than a `row_number` window: the aggregation combines map-side,
    * so a degenerate corpus (millions of copies of one text) never funnels
    * through a single window partition — the skew-safe shape at 100 TB. */
  def dedupKeepFirst(docs: DataFrame): DataFrame = {
    val hashed = docs.withColumn("__ch", sha2(col("text"), 256))
    val keepers = hashed.groupBy(col("__ch")).agg(min(col("doc_id")).as("doc_id"))
    hashed.join(keepers, Seq("__ch", "doc_id"), "left_semi").drop("__ch")
  }

  /** The canonical text form (q208): NFC-normalize (composed/decomposed
    * Unicode variants unify — [[graft.functions.NfcNormalize]], a native
    * codegen'd expression), casefold, trim, collapse whitespace runs.
    * Byte-level dedup keys computed on this form catch the re-encodings
    * and case/spacing variants that raw-sha2 exact dedup misses — the
    * normalization step every production pipeline runs BEFORE hashing.
    * Pure narrow projection: codegen end to end, no exchange. */
  def canonicalText(text: Column): Column =
    regexp_replace(trim(lower(graft.functions.NfcNormalize.normalize(text))),
      "\\s+", " ")

  /** Canonical-form duplicate groups: every doc tagged with its canonical
    * md5 and the size of its canonical group — one hash-agg plus an
    * equi-join back (the q40 exact-groups shape, on the normalized key). */
  def canonicalDedupGroups(docs: DataFrame): DataFrame = {
    val c = docs.select(col("doc_id"),
      md5(canonicalText(col("text"))).as("canon_md5"))
    val g = c.groupBy(col("canon_md5")).agg(count(lit(1)).as("group_size"))
    c.join(g, Seq("canon_md5"))
      .select(col("doc_id"), col("canon_md5"), col("group_size"))
  }

  /** Trust-ranked exact dedup (q197): keep the copy from the MOST TRUSTED
    * source per content hash, not the first-arrived — the production rule
    * when the same text appears in both a curated dump and a raw crawl
    * ("prefer wiki over CC"): arrival order is an accident of crawl
    * scheduling; provenance is a quality signal. Trust here is the
    * fixture's source index DESCENDING (src19 ≻ … ≻ src0 — a stand-in for
    * the curator's ranked source list), tie-broken by doc_id so the keeper
    * stays deterministic within one source.
    *
    * Same skew-safe shape as [[dedupKeepFirst]]: per-hash argmin via a
    * hash-agg `min(struct(rank, doc_id))` (map-side combinable — no
    * row_number window funnel on a degenerate million-copy hash), then a
    * semi-join recovers the keeper rows. */
  def dedupKeepTrusted(docs: DataFrame): DataFrame = {
    val rank = -substring(col("source"), 4, 10).cast("long")
    val hashed = docs.withColumn("__ch", sha2(col("text"), 256))
      .withColumn("__rk", rank)
    val keepers = hashed.groupBy(col("__ch"))
      .agg(min(struct(col("__rk"), col("doc_id"))).as("k"))
      .select(col("__ch"), col("k.doc_id").as("doc_id"))
    hashed.join(keepers, Seq("__ch", "doc_id"), "left_semi")
      .drop("__ch", "__rk")
  }

  /** Duplication centrality (q200): PageRank over the verified near-dup
    * graph, two power iterations unrolled — the graph-centrality signal a
    * curation pipeline uses to find BOILERPLATE: text that near-duplicates
    * many other documents (license headers, templates, navigation chrome)
    * sits at the center of a dense dup cluster and accumulates rank mass,
    * where a one-off pairwise duplicate barely moves. Complements the
    * component machinery (q99 tells you WHICH docs cluster; this ranks how
    * structurally central each doc is inside the cluster).
    *
    * PR_{k+1}(v) = 0.15 + 0.85 · Σ_{u~v} PR_k(u)/deg(u) over the
    * symmetrized verified-pair edges (the per-(JVM, dir) cached md5-family
    * frame shared with q124/q140/q151); isolated documents settle at 0.15.
    * Two iterations unrolled is the q94/q121/q185 chained-certification
    * pattern: a hash match certifies the iterated composition (edge
    * derivation → degree normalization → mass propagation, twice), which
    * is what a loop repeats.
    *
    * Scale shape: the textbook distributed PageRank — edges equi-join the
    * rank frame on src, contributions shuffle once per iteration on dst
    * into a hash agg, degrees are one hash agg; k iterations = k shuffles
    * of |E| rows, never materializing anything denser than the edge list.
    * Cross-engine exactness: per-edge contributions are rounded to 12dp
    * and summed as DECIMAL(28,12) (order-independent), and every rank is
    * rebuilt from identical doubles by identical ops — the q126 rule
    * applied to an iterated graph kernel. */
  def dupCentrality(spark: org.apache.spark.sql.SparkSession, dir: String,
      iterations: Int = 2): DataFrame =
    dupCentralityFrom(minhashMd5PairsOn(spark, dir),
      graft.io.Tables(spark, dir, "documents"), iterations)

  /** [[dupCentrality]] on a precomputed verified-pair frame (the fan-out
    * form — see [[componentLabelsOn]]); pairs carry (doc_a, doc_b). */
  def dupCentralityFrom(pairs: DataFrame, docs: DataFrame,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ids = docs.select(col("doc_id"))
    var pr = ids.withColumn("pr", lit(1.0))
    for (_ <- 1 to iterations) {
      val contrib = edges.join(deg, "src")
        .join(pr.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"),
          round(col("pr") / col("deg"), 12).cast(DecimalType(28, 12)).as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("s"))
      pr = ids.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(0.15) + lit(0.85) *
            coalesce(col("s").cast("double"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** Contrastive negative sampling (q201) — the triplet-dataset
    * construction step for training an embedding/similarity model from
    * dedup labels: each VERIFIED near-dup pair is a (anchor, positive)
    * example, and `negsPerPair` negatives are drawn per pair,
    * deterministically, by the md5-gate idiom: neg_i = parse60(md5(
    * "neg:a:b:i")) mod N over the dense doc_id space. Accidental
    * degenerates (the draw landing on the anchor/positive themselves, or
    * on a doc that near-duplicates the anchor — a false negative that
    * would poison the contrastive loss) are FLAGGED, not silently
    * re-drawn: re-draw loops are engine-dependent, a flag is
    * reproducible, and the trainer drops flagged rows for free.
    *
    * Scale shape: |pairs| × k rows from a projection over the tiny cached
    * pair frame (the q124/q140/q151/q200 shared derivation); the
    * degeneracy check is one left-semi-style join back against the same
    * pair frame on (anchor, neg) — never a corpus join; N arrives as a
    * 1-row count broadcast (whitelisted). */
  def contrastiveNegatives(spark: org.apache.spark.sql.SparkSession,
      dir: String, negsPerPair: Int = 3): DataFrame =
    contrastiveNegativesFrom(minhashMd5PairsOn(spark, dir),
      graft.io.Tables(spark, dir, "documents"), negsPerPair)

  /** [[contrastiveNegatives]] on a precomputed verified-pair frame (the
    * fan-out form — see [[componentLabelsOn]]). */
  def contrastiveNegativesFrom(pairsIn: DataFrame, docs: DataFrame,
      negsPerPair: Int = 3): DataFrame = {
    val pairs = pairsIn.select("doc_a", "doc_b")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val drawn = pairs.crossJoin(broadcast(n))
      .select(col("doc_a"), col("doc_b"), col("n_docs"),
        explode(sequence(lit(1), lit(negsPerPair))).as("neg_rank"))
      .withColumn("neg_id",
        pmod(conv(substring(md5(concat(lit("neg:"), col("doc_a"), lit(":"),
          col("doc_b"), lit(":"), col("neg_rank"))), 1, 15), 16, 10).cast("long"),
          col("n_docs")))
    // a negative is degenerate if it IS one of the pair, or if (anchor,
    // neg) is itself a verified near-dup pair (either orientation)
    val dupEdge = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    drawn
      .join(dupEdge.withColumnRenamed("u", "doc_a")
          .withColumnRenamed("v", "neg_id").withColumn("is_dup", lit(true)),
        Seq("doc_a", "neg_id"), "left")
      .select(col("doc_a"), col("doc_b"), col("neg_rank").cast("long").as("neg_rank"),
        col("neg_id"),
        (col("neg_id") === col("doc_a") || col("neg_id") === col("doc_b") ||
          coalesce(col("is_dup"), lit(false))).as("is_degenerate"))
  }

  // ---- MinHash near-dup: one shingle stage, one band builder, one band
  // join, one exact verify (Leskovec, Rajaraman and Ullman, "Mining of
  // Massive Datasets", ch. 3). Every near-dup caller below is built from
  // these four stages; they differ only in hash family (with its band
  // layout) and in which pairs the band join may emit.

  /** Distinct word-3-shingle set per document, `(doc_id, ss)`. Documents
    * with fewer than 3 tokens have no shingle and no row. */
  private def shingleSets(docs: DataFrame): DataFrame = docs
    .withColumn("toks", TextAnalysis.tokens(col("text")))
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"),
      array_distinct(TextAnalysis.shingles(col("toks"), 3)).as("ss"))

  /** A MinHash hash family with its band layout: `bands` OR'd bands of
    * `rows` AND'd per-seed minima over seeds `0 until bands * rows`. A pair
    * at Jaccard J shares one seed's minimum with probability J, so it
    * escapes every band with probability (1 − J^rows)^bands. */
  private sealed abstract class MinHashFamily(val bands: Int, val rows: Int) {
    /** The hash of shingle `s` under `seed`. */
    def hash(seed: Int, s: Column): Column
    /** One band's join key from its `(seed, minimum)` rows. */
    def key(minima: Seq[(Int, Column)]): Column
  }

  /** md5 family, 4 bands of 2 rows: the hash is the 60-bit integer parse
    * of the hex prefix of `md5(seed || "|" || s)` (the [[simhashMd5]]
    * trick — 15 hex chars stay inside a signed long), bytes any engine with
    * md5 reproduces (q123/q124/q162 hash-check them), and the band key is
    * the seed-ordered `"seed:minhash|seed:minhash"` string. Misses a pair
    * with probability (1 − J²)^4 — ≈1.3e-3 at J = 0.9, 0.32 at J = 0.5;
    * the two-row bands prune low-Jaccard candidates hard, which keeps the
    * oracle-checked chain's verify small. */
  private object Md5Family extends MinHashFamily(bands = 4, rows = 2) {
    def hash(seed: Int, s: Column): Column =
      conv(substring(md5(concat(lit(s"$seed|"), s)), 1, 15), 16, 10).cast("long")
    def key(minima: Seq[(Int, Column)]): Column =
      concat_ws("|", minima.map { case (sd, m) => concat(lit(s"$sd:"), m.cast("string")) }: _*)
  }

  /** Native family, 8 bands of 1 row: codegen'd `xxhash64(s, seed)`,
    * about a tenth of md5's cost per shingle, and the band key is the
    * band's one minimum. Misses a pair with probability (1 − J)^8 — 1e-8
    * at J = 0.9, 3.9e-3 at J = 0.5. Its values are engine-private, which
    * is fine for callers whose output is the exactly verified pair list. */
  private object NativeFamily extends MinHashFamily(bands = 8, rows = 1) {
    def hash(seed: Int, s: Column): Column = xxhash64(s, lit(seed))
    def key(minima: Seq[(Int, Column)]): Column = minima.head._2
  }

  /** The minimum of `family`'s hash under `seed` over the doc's own `ss`
    * array: one MinHash signature entry, computed map-side. */
  private def minhash(family: MinHashFamily, seed: Int): Column =
    array_min(transform(col("ss"), s => family.hash(seed, s)))

  /** Per-band `(band_id, band_key)` structs from a document's own `ss`
    * array — a pure projection (no signature aggregation, no shuffle), so
    * batch and streaming documents band the same way. */
  private def bandKeys(family: MinHashFamily): Column =
    array((0 until family.bands).map { b =>
      val minima = (b * family.rows until (b + 1) * family.rows).map(sd => sd -> minhash(family, sd))
      struct(lit(b.toLong).as("band_id"), family.key(minima).as("band_key"))
    }: _*)

  /** `sets` (any columns plus `ss`) with one row per band: `ss` replaced by
    * `band_id` and `band_key`. */
  private def banded(sets: DataFrame, family: MinHashFamily): DataFrame =
    sets.withColumn("bk", explode(bandKeys(family)))
      .select(col("*"), col("bk.*")).drop("bk", "ss")

  /** Candidate pairs `(doc_a, doc_b)`: documents of two banded frames `a`
    * and `b` (`doc_id`, `band_id`, `band_key`) that agree on some band and
    * satisfy `pair` (over `a.doc_id` and `b.doc_id`), once per pair. Any
    * other column of `b` rides along. */
  private def bandJoin(a: DataFrame, b: DataFrame, pair: Column): DataFrame = {
    val carried = b.columns.filterNot(Set("doc_id", "band_id", "band_key")).map(c => col(s"b.$c"))
    a.as("a").join(b.as("b"), col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") && pair)
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +: carried: _*)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Exact Jaccard of candidate pairs carrying both shingle sets (`ss_a`,
    * `ss_b`), kept at `jaccard >= simThreshold`: `(doc_a, doc_b, n_common,
    * jaccard)`. The sets are distinct, so the integer union
    * `n_a + n_b − n_common` is |A ∪ B| and the ratio is the same double an
    * `array_union` or a shingle-join count gives.
    *
    * `n_common` comes out of a one-row `inline`: the threshold filter reads
    * a generator output, so the optimizer cannot push it into the join
    * condition, where `array_intersect` would run again per candidate
    * (sf0.1 on 4 cores, 82k candidates: 3.7–4.8 s per `minhashNearDup`
    * call against 4.8–7.3 s with the filter pushed). */
  private def verify(cand: DataFrame, simThreshold: Double): DataFrame =
    cand.select(col("doc_a"), col("doc_b"), inline(array(struct(
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("n_common"),
        (size(col("ss_a")) + size(col("ss_b"))).cast("long").as("n_ab")))))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_ab") - col("n_common")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= simThreshold)

  /** Verified near-dup pairs between two shingle-set frames: band both
    * sides, band-join them under `pair`, join the sets back onto the
    * candidates and verify. Both joins read their sides as aliases of the
    * same frames, so in a self-join (`a eq b`) the band exchange and the
    * set broadcast are each computed once and reused. The band join is a
    * shuffled hash join for that reason: a broadcast band join computes
    * the streamed side's band keys a second time (measured at sf0.1 on
    * 4 cores, md5 family: 7.3–8.5 s per call broadcast, 3.4–5.7 s
    * shuffled). */
  private def nearDupPairs(a: DataFrame, b: DataFrame, family: MinHashFamily,
      pair: Column, simThreshold: Double): DataFrame = {
    def keys(sets: DataFrame) = banded(sets.select("doc_id", "ss"), family)
    val cand = bandJoin(keys(a), keys(b).hint("shuffle_hash"), pair)
    verify(cand
      .join(a.as("a"), col("doc_a") === col("a.doc_id"))
      .join(b.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("a.ss").as("ss_a"), col("b.ss").as("ss_b")),
      simThreshold)
  }

  /** Near-duplicate pairs with *exact* output: MinHash banded candidates
    * (native family, 8 one-row bands — an equi-join on band keys, never an
    * all-pairs product) verified by exact Jaccard on the shingle sets.
    * Returns `(doc_a, doc_b, jaccard)` with doc_a < doc_b and
    * jaccard >= `simThreshold`.
    *
    * Recall: a qualifying pair at Jaccard J escapes all 8 bands with
    * probability (1 − J)^8 — 1e-8 at J = 0.9, where this corpus's
    * near-dups sit (nothing lies between 0.2 and 0.9). This is a MARGIN
    * claim: a pair exactly at J = 0.5 still misses with probability
    * 0.5^8 ≈ 0.4%.
    *
    * The result is localCheckpoint'ed eagerly: callers reuse it (an
    * anti-join and a collect, or the component sweeps), and without the
    * checkpoint each reuse would re-run the band join. */
  def minhashNearDup(docs: DataFrame, simThreshold: Double = 0.5): DataFrame = {
    val sets = shingleSets(docs)
    nearDupPairs(sets, sets, NativeFamily, col("a.doc_id") < col("b.doc_id"), simThreshold).select("doc_a", "doc_b", "jaccard").localCheckpoint(true)
  }

  /** Two-sided fuzzy decontamination — the near-dup generalization of the
    * exact-shingle-overlap check ([[TextAnalysis.contaminationCheck]]):
    * flag (corpus doc, probe doc) pairs whose word-3-shingle sets are
    * near-duplicates (exact Jaccard >= `simThreshold`), catching the
    * paraphrased benchmark leakage exact overlap misses. Returns
    * `(doc_id, probe_doc_id, jaccard)`.
    *
    * The [[minhashNearDup]] stage with the corpus as one side of the band
    * join and the probe as the other (O(corpus + probe) bucketing — never a
    * cross product), so the miss bound is the same (1 − J)^8. The probe
    * side (a benchmark suite) is tiny next to the corpus; the band join
    * builds its hash table on it, and only the corpus' band keys shuffle. */
  def fuzzyContamination(corpus: DataFrame, probe: DataFrame,
      simThreshold: Double = 0.5): DataFrame =
    nearDupPairs(shingleSets(corpus), shingleSets(probe), NativeFamily, lit(true), simThreshold)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("probe_doc_id"), col("jaccard"))
      .localCheckpoint(true)

  /** Near-duplicate cluster assignment: connected components over the
    * [[minhashNearDup]] pair graph, labeling every document (singletons
    * included) with the minimum doc_id reachable through near-dup edges —
    * the cluster id a keep-one-representative dedup then filters on
    * (`doc_id === component` keeps exactly one doc per cluster).
    *
    * Algorithm: distributed min-label propagation — each iteration pushes
    * every node's current label across the (undirected) edge set and takes
    * the per-node min; a fixpoint is reached in O(component diameter)
    * sweeps, and near-dup components are tight cliques (diameter 1-2), so
    * the loop settles in 2-3 sweeps regardless of corpus size. Per sweep:
    * one labels⋈edges join (edges are the near-dup pairs — vanishingly
    * small next to the corpus, broadcastable), one min-agg (map-side
    * combined — a hot cluster's labels collapse before the shuffle), one
    * labels-level join. Labels are localCheckpoint'ed each sweep: the
    * iterative-lineage rule from the IPF loop (CooMatrix.scala) — without
    * it sweep k replays sweeps 1..k-1.
    *
    * The driver-side `while` mirrors the reference's converge loop shape
    * (iterate → compare → stop); the per-sweep data path is fully
    * distributed and the only driver value is the changed-row count —
    * computed as a `__changed` flag FOLDED INTO the sweep's own select, so
    * the convergence test is a count over the blocks the checkpoint just
    * materialized (no second labels-level join, no extra shuffle, no
    * per-sweep barrier beyond the checkpoint itself). Deep components are
    * exercised by DedupSkewSpec's 6-node path graph (diameter 5).
    *
    * Termination contract: exiting at `maxSweeps` with changes still
    * flowing would silently return unconverged labels — and
    * [[nearDupRepresentatives]] would then keep >1 representative for the
    * affected cluster — so it throws instead; a corpus with near-dup
    * chains deeper than `maxSweeps` must raise it explicitly (sweeps cost
    * O(diameter), and real near-dup graphs are clique-like, so 20 covers
    * everything short of an adversarial chain). */
  def nearDupComponents(docs: DataFrame, simThreshold: Double = 0.5,
      maxSweeps: Int = 20): DataFrame = {
    val edges = minhashNearDup(docs, simThreshold).select(col("doc_a"), col("doc_b"))
    val und = edges
      .unionByName(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint(true)
    var labels = docs.select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint(true)
    var changed = 1L
    var sweep = 0
    while (changed > 0 && sweep < maxSweeps) {
      val pushed = labels.join(und, labels("doc_id") === und("doc_a"))
        .groupBy(col("doc_b").as("doc_id")).agg(min(col("component")).as("nbr_min"))
      val next = labels.join(pushed, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          (col("nbr_min") < col("component")).as("__changed"))
        .localCheckpoint(true)
      changed = next.filter(col("__changed")).count()
      labels = next.drop("__changed")
      sweep += 1
    }
    require(changed == 0L,
      s"nearDupComponents did not converge in $maxSweeps sweeps " +
        s"($changed labels still changing) — component diameter exceeds " +
        s"maxSweeps; raise it for chain-shaped near-dup graphs")
    labels
  }

  /** One label propagation per (JVM, dir, threshold)
    * ([[graft.io.TempDirs.once]]). A production dedup
    * pipeline computes component labels ONCE and fans out (representatives,
    * keep-longest, per-source retention all read the same label table);
    * without the memo each consumer re-ran the full LSH front end + sweep
    * loop (~3s each at sf0.1). The memo is safe because the testdata
    * dirs are read-only, the stored frame is [[nearDupComponents]]'s final
    * localCheckpoint — settled blocks with no live lineage, and the
    * near-dup stage persists nothing — so each entry holds one tiny
    * (doc_id, component) frame and nothing else. */
  def componentLabelsOn(spark: org.apache.spark.sql.SparkSession, dir: String,
      simThreshold: Double = 0.5): DataFrame =
    graft.io.TempDirs.once(f"dedup-labels#$dir#$simThreshold%.6f") {
      nearDupComponents(spreadScan(graft.io.Tables(spark, dir, "documents")), simThreshold)
    }

  /** One md5-family LSH pair derivation per (JVM, dir, threshold): the
    * verified pair frame is shared by the pair listing itself (q124) and
    * the split-leakage audit (q140). Same contract as [[componentLabelsOn]];
    * the checkpoint settles the pipeline into its tiny result blocks so a
    * memo hit re-runs nothing. */
  def minhashMd5PairsOn(spark: org.apache.spark.sql.SparkSession, dir: String,
      simThreshold: Double = 0.5): DataFrame =
    graft.io.TempDirs.once(f"dedup-md5pairs#$dir#$simThreshold%.6f") {
      minhashMd5Pairs(spreadScan(graft.io.Tables(spark, dir, "documents")),
        simThreshold = simThreshold).localCheckpoint(true)
    }

  /** Cross-source contamination matrix (q270): the verified near-dup
    * pair list ([[minhashMd5PairsOn]]'s shared memo) rolled up to
    * unordered (source, source) cells — pair counts and mean verified
    * Jaccard. This is the between-dataset overlap report a corpus
    * assembler publishes before mixing sources (two crawl snapshots with
    * a hot off-diagonal cell are largely re-buying the same documents;
    * a hot diagonal is within-source boilerplate). The mean sums
    * ROUNDED jaccards as DECIMAL(18,6) (order-independent, exact) and
    * divides once.
    *
    * Shape: two broadcast-sized joins from the pair list (≪ corpus) to
    * the (doc_id, source) projection, `least/greatest` canonicalization
    * so each unordered source pair lands in ONE cell, then a single
    * hash agg over ≤ |sources|² rows. The expensive stage is the cached
    * band-join derivation shared with q124/q140/q200/q255. */
  def sourceContamination(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val pairs = minhashMd5PairsOn(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val src = graft.io.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("avg_jaccard"))
  }

  /** Near-dup graph triangle census (q255): per-node triangle counts and
    * local clustering coefficients over the verified-pair graph — the
    * graph-density diagnostic that separates CHAIN-shaped dup clusters
    * (A≈B≈C but A̸≈C: transitive-closure components overstate duplication;
    * clustering ≈ 0) from CLIQUE-shaped ones (template families where
    * every member matches every other; clustering ≈ 1). Components (q99)
    * count reachability; this measures cohesion, which is what decides
    * whether keep-one-per-component is safe or too aggressive.
    *
    * Shape: edges carry doc_a < doc_b, so each triangle a<b<c materializes
    * exactly once as edges (a,b)+(b,c) closed by (a,c) — two equi-joins on
    * the EDGE list (size E of the near-dup graph, ≪ corpus²), the
    * compact-oriented triangle enumeration whose join-input is Σ wedges
    * over ordered adjacency. No row ever touches the documents table.
    * Clustering = 2T / (deg·(deg−1)), rounded 6dp; integer T and deg are
    * engine-exact so only the final ratio rounds. */
  def dupTrianglesOn(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    dupTrianglesFrom(minhashMd5PairsOn(spark, dir))

  /** [[dupTrianglesOn]] on a precomputed (doc_a < doc_b) pair frame. */
  def dupTrianglesFrom(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a"), col("doc_b"))
    val ab = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val bc = e.select(col("doc_a").as("b"), col("doc_b").as("c"))
    val ac = e.select(col("doc_a").as("a"), col("doc_b").as("c"))
    val tri = ab.join(bc, "b").join(ac, Seq("a", "c"))
    val perNode = tri.select(col("a").as("doc_id"))
      .unionAll(tri.select(col("b").as("doc_id")))
      .unionAll(tri.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("t"))
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** MinHash estimator-quality audit: for every VERIFIED near-dup pair,
    * the sketch's own Jaccard estimate (fraction of agreeing signature
    * rows — the unbiased MinHash estimator) next to the exact shingle-set
    * Jaccard, with the absolute error. This is the calibration report a
    * dedup pipeline publishes when choosing `numHashes`: the observed
    * error distribution against the 1/√k theoretical band (k=8 → σ≈0.17
    * at J=0.5). Entirely on the md5 family, so estimate, exact value,
    * and error are all cross-engine reproducible.
    *
    * Shape: the (tiny, verified) pair frame joins the signature frame
    * twice on (doc, seed) — cost is |pairs| × numHashes rows, dwarfed by
    * the LSH front end that produced the pairs; the pair frame itself is
    * the per-(dir, threshold) cached derivation shared with q124/q140. */
  def minhashErrorAuditOn(spark: org.apache.spark.sql.SparkSession, dir: String,
      numHashes: Int = 8, simThreshold: Double = 0.5): DataFrame =
    minhashErrorAuditFrom(minhashMd5PairsOn(spark, dir, simThreshold),
      graft.io.Tables(spark, dir, "documents"), numHashes)

  /** [[minhashErrorAuditOn]] on a precomputed verified-pair frame. */
  def minhashErrorAuditFrom(pairs: DataFrame, docs: DataFrame,
      numHashes: Int = 8): DataFrame = {
    val sig = minhashMd5Signatures(docs, numHashes)
    pairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(sig.select(col("doc_id").as("doc_a"), col("seed"),
        col("minhash").as("ma")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("seed"),
        col("minhash").as("mb")), Seq("doc_b", "seed"))
      .groupBy("doc_a", "doc_b", "jaccard")
      .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).cast("double") /
        lit(numHashes.toDouble)).as("est"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(col("est"), 6).as("est_jaccard"),
        round(abs(col("est") - col("jaccard")), 6).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-duplicate corpus dedup: keep exactly one representative per
    * [[nearDupComponents]] cluster — the minimum doc_id, so the choice is
    * deterministic and the composition with exact keep-first dedup
    * ([[dedupKeepFirst]]) is stable. The end-to-end fuzzy-dedup operator a
    * training pipeline actually runs: q43's pair list and q99's labels are
    * its diagnostics; this is the filtered corpus.
    *
    * Shape: the component labels (one row per doc) semi-join the corpus on
    * doc_id — representatives are `doc_id === component` rows, a filter on
    * the label frame, so no extra shuffle beyond [[nearDupComponents]]'s
    * own. Text is returned as its md5 digest: the survivors' identity and
    * content witness without re-shipping full text through the oracle
    * compare. */
  def nearDupRepresentatives(docs: DataFrame, simThreshold: Double = 0.5): DataFrame =
    nearDupRepresentativesFrom(nearDupComponents(docs, simThreshold), docs)

  /** [[nearDupRepresentatives]] on precomputed component labels (the
    * fan-out form every consumer of a shared label table uses — see
    * [[componentLabelsOn]]). */
  def nearDupRepresentativesFrom(labels: DataFrame, docs: DataFrame): DataFrame = {
    val reps = labels.filter(col("doc_id") === col("component")).select("doc_id")
    docs.join(reps, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("text_md5"))
  }

  /** Source-overlap matrix: exact Jaccard similarity between each pair of
    * sources' distinct word-3-shingle sets — the corpus-level duplication
    * report (which crawls/dumps overlap, and by how much) that decides
    * de-duplication order and mixture double-counting corrections.
    *
    * Scale shape: one distinct (source, shingle-hash) projection — 8-byte
    * xxhash64 keys, the [[graft.llmdata.TextAnalysis.contaminationCheck]]
    * rule — then a self-equi-join ON THE SHINGLE (never a source cross
    * product): each shingle contributes its own source-pair list, bounded
    * by #sources² per shingle, and the (src_a, src_b) intersection counts
    * aggregate map-side. Set sizes join back onto the tiny pair frame;
    * |A∪B| = |A|+|B|−|A∩B|. Pairs with zero intersection are absent (a
    * full matrix would add a cross join of the 1-row-per-source frame —
    * deliberately omitted; absent = 0.0). */
  def sourceOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("source"),
        explode(array_distinct(TextAnalysis.shingles(col("toks"), k))).as("s"))
      .select(col("source"), xxhash64(col("s")).as("sh"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("source").as("src_a"), col("sh"))
      .join(sh.select(col("source").as("src_b"), col("sh")), "sh")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6).as("jaccard"))
  }

  /** Exact pairwise Jaccard similarity on distinct-token sets for a bounded
    * candidate set (the verification stage after LSH candidate generation,
    * or a direct small-corpus near-dup pass). Pairs come from the
    * hash-partitioned block-pair join ([[Pairs.blockedSelfPairs]]), never a
    * nested-loop theta join. `scope` has no default — Ω(n²) semantics make
    * input size an explicit caller decision ([[PairScope]]). */
  def jaccardPairs(docs: DataFrame, scope: PairScope, numBlocks: Int = 8): DataFrame = {
    val d = scope.bound(docs, "doc_id")
      .select(col("doc_id"), array_distinct(TextAnalysis.tokens(col("text"))).as("toks"))
    Pairs.blockedSelfPairs(d, "doc_id", numBlocks)
      .select(least(col("doc_id_a"), col("doc_id_b")).as("doc_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_b"),
        round(size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"), 6).as("jaccard"))
  }

  /** 64-bit SimHash aggregator: per-token 64-bit hashes vote per bit
    * position; the sign of each vote total becomes the signature bit.
    * A `TypedImperativeAggregate`-style typed Aggregator — constant-size
    * buffer, map-side partial aggregation for free. */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { b(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      b
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Int]): Long = {
      var out = 0L; var i = 0
      while (i < 64) { if (b(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    /** Structural primitive-array encoder (the KeepNSmallest rule,
      * [[ExpressionEncoderHelper]]): the vote buffer serializes per group
      * at the partial→final exchange and on every sort-based-fallback
      * spill (ObjectHashAggregate falls back beyond 128 in-memory keys,
      * so at corpus cardinality the buffer rides the sorter constantly).
      * Measured on this buffer: serialized row 288 B structural vs 280 B
      * kryo, and end-to-end aggregation time at parity (0.91 s vs 0.98 s
      * min-of-5 interleaved, 5M rows / 100k groups — inside noise). The swap buys no
      * measured speed at this scale; it standardizes both typed
      * Aggregators on the flat in-format Tungsten layout and removes the
      * kryo reflective-dispatch dependency from the hottest aggregation
      * loop (q44/q49/q117), where an opaque binary blob also defeats any
      * future columnar/codegen handling of the exchange. */
    override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoderHelper.intArray
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Per-document 64-bit SimHash over xxhash64 token hashes — the
    * production hash family (codegen'd, non-cryptographic, the right cost
    * at corpus scale). The signature values are engine-specific
    * (xxhash64), so this is rows-only at the driver; the vote/signature
    * logic itself is hash-checked cross-engine via [[simhashMd5]]. */
  def simhash(docs: DataFrame): DataFrame =
    simhashOf(spreadScan(docs).select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h")))

  /** [[simhash]] with a cross-engine hash family: each token's 60-bit
    * hash is its md5-prefix parsed as an integer (the [[graft.llmdata.
    * Curation.stratifiedSample]] trick — 15 hex chars stay inside a
    * signed long), so DuckDB can reproduce the identical signatures and
    * the per-bit vote logic gets a real oracle. NOT the scale path —
    * md5 is ~10× xxhash64 per token — but votes/ties/bit-packing are
    * hash-family-independent, so green here certifies [[simhash]]'s
    * aggregator too (bits 60-63 are constant-zero votes on both
    * engines). */
  def simhashMd5(docs: DataFrame): DataFrame =
    simhashOf(spreadScan(docs).select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h")))

  /** The shared vote aggregation over any (doc_id, h) token-hash frame. */
  private def simhashOf(hashed: DataFrame): DataFrame = {
    val sim = udaf(SimHashAgg, Encoders.scalaLong)
    hashed.groupBy("doc_id").agg(sim(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ `maxHamming` over a bounded
    * candidate set (bit_count of xor — codegen'd built-ins). Test/verify
    * baseline; the scale path is [[simhashBandedPairs]]. `scope` has no
    * default — Ω(n²) semantics make input size an explicit caller decision
    * ([[PairScope]]). */
  def simhashPairs(docs: DataFrame, scope: PairScope, maxHamming: Int = 8): DataFrame = {
    val s = simhash(scope.bound(docs, "doc_id"))
    Pairs.blockedSelfPairs(s, "doc_id", numBlocks = 8)
      .select(least(col("doc_id_a"), col("doc_id_b")).as("doc_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs at scale, with *perfect recall* by pigeonhole
    * banding: the 64-bit signature is split into `numBands` contiguous bit
    * bands; a pair with hamming distance ≤ maxHamming < numBands differs in
    * at most maxHamming bands, so it must agree exactly on at least one —
    * an equi-join on (band_id, band_bits) therefore generates every
    * qualifying pair without an all-pairs product. Exact `bit_count(xor)`
    * verification then filters candidates. Mirrors [[minhashNearDup]]'s
    * candidates→verify shape for the hamming metric. */
  def simhashBandedPairs(docs: DataFrame, maxHamming: Int = 8, numBands: Int = 9): DataFrame =
    simhashBandedPairsOf(simhash(docs), maxHamming, numBands)

  /** [[simhashBandedPairs]] over precomputed `(doc_id, simhash)` signatures —
    * split out so the pigeonhole-recall property is checkable against
    * arbitrary signatures (DedupPropertySpec pins it with scalacheck over
    * random (numBands, maxHamming, signatures)). */
  def simhashBandedPairsOf(s: DataFrame, maxHamming: Int, numBands: Int): DataFrame = {
    require(numBands > maxHamming && numBands <= 64,
      "pigeonhole recall needs maxHamming < numBands <= 64")
    val width = 64 / numBands
    val bands = (0 until numBands).map { i =>
      val lo = i * width
      val w = if (i == numBands - 1) 64 - lo else width
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit(mask))
    }
    val banded = s.select(col("doc_id"), col("simhash"),
      posexplode(array(bands: _*)).as(Seq("band_id", "band_bits")))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
      col("band_id"), col("band_bits"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("band_id").as("band_id_b"), col("band_bits").as("band_bits_b"))
    a.join(b, col("band_id") === col("band_id_b") &&
        col("band_bits") === col("band_bits_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- md5-family MinHash: the cross-engine-certifiable chain ----

  /** Per-document MinHash signatures from the md5 family: entry `seed` is
    * the min of [[Md5Family]]'s hash over the document's DISTINCT word-3-shingles.
    * Long format `(doc_id, seed, minhash)` — the shape the DuckDB oracle
    * (q123) and the estimator audit ([[minhashErrorAuditFrom]]) consume.
    * Every byte is reproducible in any engine with md5, so the
    * min-over-set signature algebra gets a real hash-checked oracle.
    *
    * Scale shape: map-side — one `array_min` per seed over the doc's own
    * shingle array, then an explode to `numHashes` rows per document; no
    * aggregation, no shuffle. */
  def minhashMd5Signatures(docs: DataFrame, numHashes: Int = 8): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(minhash(Md5Family, _)): _*))
          .as(Seq("seed", "minhash")))
      .select(col("doc_id"), col("seed").cast("long").as("seed"), col("minhash"))

  /** Verified near-dup pairs on the md5 family — every stage of the
    * MinHash → band → bucket-join → exact-verify pipeline with an exact
    * DuckDB mirror (q124). Band keys are the seed-ordered
    * `"seed:minhash|seed:minhash"` strings of [[Md5Family]]'s 4 two-row
    * bands (`string_agg(... ORDER BY seed)` on the oracle side); candidates
    * are an equi-join on (band_id, band_key), never an all-pairs product.
    * Returns `(doc_a, doc_b, n_common, jaccard)` with doc_a < doc_b.
    *
    * Recall: a pair at Jaccard J escapes all 4 bands with probability
    * (1 − J²)^4 — ≈1.3e-3 per pair at J = 0.9. */
  def minhashMd5Pairs(docs: DataFrame, simThreshold: Double = 0.5): DataFrame = {
    val sets = shingleSets(docs)
    nearDupPairs(sets, sets, Md5Family, col("a.doc_id") < col("b.doc_id"), simThreshold)
  }

  /** Cross-split near-dup leakage report: how many verified near-dup
    * pairs straddle the train/val/test assignment — the check that
    * certifies "dedup before split" actually held (a near-dup of a test
    * doc inside train is benchmark leakage). Composes
    * [[minhashMd5Pairs]] (the certifiable LSH pipeline) with
    * [[Curation.assignSplits]]'s hash assignment; the tiny pair frame
    * joins the split map twice and rolls up by the UNORDERED split pair
    * (least/greatest). A healthy pipeline shows only same-split rows;
    * off-diagonal rows are the leaks, counted per split boundary. */
  def splitLeakage(docs: DataFrame, simThreshold: Double = 0.5): DataFrame =
    splitLeakageFrom(minhashMd5Pairs(docs, simThreshold = simThreshold), docs)

  /** [[splitLeakage]] on precomputed verified pairs (see
    * [[minhashMd5PairsOn]]). */
  def splitLeakageFrom(pairs0: DataFrame, docs: DataFrame): DataFrame = {
    val pairs = pairs0.select("doc_a", "doc_b")
    val sp = Curation.assignSplits(docs)
    pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .groupBy(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Near-dup dedup keeping the LONGEST document per component (ties →
    * smallest doc_id) — the quality-aware retention policy: among
    * near-duplicates the longest variant usually dominates (truncations
    * and boilerplate-stripped copies are the shorter ones), where
    * [[nearDupRepresentatives]] keeps the min-id witness. One window over
    * component partitions (bounded by component size) on top of the same
    * label frame. */
  def keepLongestRepresentatives(docs: DataFrame, simThreshold: Double = 0.5): DataFrame =
    keepLongestRepresentativesFrom(nearDupComponents(docs, simThreshold), docs)

  /** [[keepLongestRepresentatives]] on precomputed component labels. */
  def keepLongestRepresentativesFrom(labels: DataFrame, docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("n_chars").desc, col("doc_id"))
    labels.join(docs.select("doc_id", "n_chars"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("kept_doc"), col("n_chars"))
  }

  /** Per-source dedup retention report: documents before vs after
    * near-dup dedup (min-id representatives), with the retention ratio —
    * the per-crawl/per-dump health metric that shows which sources are
    * mostly duplicates of others. Kept docs are counted under the
    * REPRESENTATIVE's own source, so a source whose docs all collapse
    * into another source's representatives reports 0 kept (left join +
    * zero-fill keeps it visible). Two tiny per-source aggs on top of the
    * [[nearDupComponents]] labels. */
  def dedupRateBySource(docs: DataFrame, simThreshold: Double = 0.5): DataFrame =
    dedupRateBySourceFrom(nearDupComponents(docs, simThreshold), docs)

  /** [[dedupRateBySource]] on precomputed component labels. */
  def dedupRateBySourceFrom(labels: DataFrame, docs: DataFrame): DataFrame = {
    val total = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val kept = labels
      .filter(col("doc_id") === col("component"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    total.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_docs").cast("double"), 6).as("retention"))
  }

  /** Near-dup component size histogram — the dedup health report's
    * headline distribution (how much of the corpus sits in clusters, and
    * how big the worst ones are; a fat tail means template/boilerplate
    * explosion upstream). Two map-side-combinable hash aggs over the
    * label frame: sizes per component, then components per size — output
    * bounded by the largest cluster, never corpus-scale. */
  def componentSizeHistogramFrom(labels: DataFrame): DataFrame =
    labels.groupBy("component").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))

  /** Against-history duplication report — the INCREMENTAL dedup form every
    * rolling ingestion pipeline runs: for each ingestion batch, how many of
    * its documents near-duplicate a document from any STRICTLY EARLIER
    * batch (batch key = a real tumbling event-time window over the derived
    * ingestion clock — the [[TextAnalysis.sourceEntropyByBatch]] /
    * [[Ingest]] contract; tumbling `window()` is a row-level struct
    * projection, so the pairs side tags batches without a grouping
    * context). Because doc_ids are
    * assigned in arrival order, every verified pair's older side is doc_a
    * (doc_a < doc_b), so "this batch duplicates history" is exactly
    * `batch(doc_a) < batch(doc_b)` — one filter + distinct over the tiny
    * verified-pair frame, then a zero-filled join against per-batch totals.
    * A batch whose dup_rate spikes is re-crawl/replay noise to quarantine
    * before it dilutes the mixture. */
  def historyDupRateFrom(pairs: DataFrame, docs: DataFrame,
      batchSize: Long = 100L): DataFrame = {
    val stale = pairs
      .select(Ingest.batchOf(col("doc_a"), batchSize).as("batch_a"),
        Ingest.batchOf(col("doc_b"), batchSize).as("ingest_batch"), col("doc_b"))
      .filter(col("batch_a") < col("ingest_batch"))
      .select(col("ingest_batch"), col("doc_b")).distinct()
      .groupBy("ingest_batch").agg(count(lit(1)).as("n_dup"))
    val totals = docs
      .select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"))
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"))
      .agg(count(lit(1)).as("n_docs"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("ingest_batch"),
        col("n_docs"))
    totals.join(stale, Seq("ingest_batch"), "left")
      .select(col("ingest_batch"), col("n_docs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_of_history"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))
  }

  /** Document-similarity pairs by exact TF-cosine over word-k-shingle
    * vectors, with a df-pruned inverted index as the candidate generator:
    * only shingles appearing in 2..maxDf documents propose pairs (a
    * shingle in half the corpus proposes Ω(n²) pairs and carries no
    * discrimination — the classic inverted-index similarity-search prune),
    * then the exact dot product is computed ONLY for proposed pairs by
    * joining them back onto the full TF frame. All counts are integers:
    * dot and the squared norms are integer-exact, the only float ops are
    * two sqrts and one divide — bit-identical cross-engine, so the whole
    * operator hash-checks (q126).
    *
    * Unlike [[jaccardPairs]] (all-pairs under [[PairScope]]) this never
    * materializes a cross product: candidate volume is Σ_rare df², bounded
    * by maxDf × the rare-postings count. Recall contract: exact for any
    * pair sharing ≥ `minSharedRare` rare shingles. The AND-amplification
    * (default 2) is what makes the exact phase affordable on a
    * low-discrimination corpus: on the sf0.1 fixture (small synthetic
    * vocabulary — nearly every shingle is "rare" yet shared by unrelated
    * docs) one shared rare shingle proposes 1.12M pairs, two shared cut
    * that to 110k (10×) while a 1-shared pair's cosine on ~50-shingle
    * docs is ≤ ~0.03 — far under any useful threshold, so the pruned
    * pairs are exactly the ones the threshold would discard anyway.
    * Pairs whose overlap is entirely ubiquitous-shingles are by
    * construction low-signal (sim from stop-shingles alone). At 100 TB
    * the same plan holds: the df frame is a shuffle-free re-aggregation
    * of tf, and the pair join is band-bounded exactly like
    * [[minhashMd5Pairs]]. */
  /** Near-CONTAINMENT pairs — the subset/quote detector Jaccard structurally
    * misses: a 100-shingle document fully embedded in a 1000-shingle one
    * scores Jaccard ≈ 0.1 (invisible to [[minhashNearDup]]'s 0.5 gate) but
    * containment |A∩B| / min(|A|,|B|) = 1.0. Training pipelines run this
    * pass to catch truncations, quote-expansions and doc-inside-doc
    * boilerplate after symmetric near-dup dedup has done its work.
    *
    * Same df-pruned inverted-index candidate generator as
    * [[invertedCosinePairs]] (and the same recall contract: exact for any
    * pair sharing ≥ `minSharedRare` rare shingles — the right contract for
    * containment too, since a contained doc shares ALL its shingles, rare
    * ones included, with its container); verification is pure integers
    * (distinct-shingle intersection and set sizes) plus one divide. */
  def containmentPairs(docs: DataFrame, k: Int = 3, maxDf: Int = 20,
      containThreshold: Double = 0.8, minSharedRare: Int = 2): DataFrame = {
    // Materialize the distinct-shingle frame ONCE (r21, guide §1/§5):
    // `sets` feeds the df prune, both posting sides, both verify sides
    // and the size frame — six consumers whose tokenize+explode subtrees
    // Spark plans independently (the final adaptive plan showed 8 scans
    // of documents.parquet on the q126 sibling, zero ReusedExchange —
    // alias-dependent IsNotNull pushdowns break exchange canonical
    // equality). One localCheckpoint turns six corpus scans into one;
    // at 100 TB this is the guide's "fingerprints only once" move — the
    // shingle frame is the lightweight proxy, the text never re-reads.
    val sets = spreadScan(docs)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.shingles(col("toks"), k))).as("s"))
      .localCheckpoint()
    val rare = sets.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val posting = sets.join(rare.select("s"), "s")
    val cand = posting.select(col("doc_id").as("doc_a"), col("s"))
      .join(posting.select(col("doc_id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSharedRare)
      .select("doc_a", "doc_b")
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("n_common").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("containment"))
      .filter(col("containment") >= containThreshold)
  }

  def invertedCosinePairs(docs: DataFrame, k: Int = 3, maxDf: Int = 20,
      simThreshold: Double = 0.3, minSharedRare: Int = 2): DataFrame = {
    // Materialize the TF frame ONCE (r21, guide §1/§5): it feeds the df
    // prune, both posting sides, the norms, and both exact-dot verify
    // sides — the unmaterialized form re-planned the scan+explode+agg
    // subtree 8 times (measured: 8 FileScans of documents.parquet in the
    // FINAL adaptive plan, zero ReusedExchange). One localCheckpoint
    // makes every consumer read the 3-column integer TF proxy instead of
    // re-reading and re-shingling the corpus — at 100 TB the difference
    // between one text pass and eight.
    val tf = spreadScan(docs)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(TextAnalysis.shingles(col("toks"), k)).as("s"))
      .groupBy("doc_id", "s").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val rare = tf.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val posting = tf.join(rare.select("s"), "s").select("doc_id", "s")
    val cand = posting.select(col("doc_id").as("doc_a"), col("s"))
      .join(posting.select(col("doc_id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSharedRare)
      .select("doc_a", "doc_b")
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    cand
      .join(tf.select(col("doc_id").as("doc_a"), col("s"), col("tf").as("tf_a")), "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("s"), col("tf").as("tf_b")),
        Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(sum(col("tf_a") * col("tf_b")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("dot"),
        round(col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))), 6)
          .as("cosine"))
      .filter(col("cosine") >= simThreshold)
  }

  private val docStreamCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Driver-side ceilings for the q162 history-index fixture (round-19
    * verdict #5) — the [[graft.streaming.Events]] `SettleRowCap` idea
    * applied to the ONE other corpus-linear collect: row caps on both
    * collected frames, plus a total-shingle cap because the set frame's
    * rows are fat arrays (rows alone understate bytes). Generous vs
    * sf0.1 (~6k docs, ~1.1M shingles) yet far below driver harm. */
  private[graft] val HistoryIndexRowCap: Long = 2000000L
  private[graft] val HistoryIndexShingleCap: Long = 50000000L

  /** Run a streaming `build` over `incoming` (staged to scratch parquet so a
    * file-source stream replays it) through an append-mode memory sink to
    * completion, then re-materialize the settled rows on the caller's
    * session — the [[graft.streaming.Events]] settle shape for document
    * streams. The cloned session keeps streaming state-store partitioning
    * (8) away from the caller's conf. */
  private def settleDocs(spark: org.apache.spark.sql.SparkSession, incoming: DataFrame,
      build: DataFrame => DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val staged = graft.io.TempDirs.scratch("graft-docstream")
    incoming.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val name = s"graft_docstream_${docStreamCounter.incrementAndGet()}"
    val stream = s2.readStream.schema(incoming.schema).parquet(staged.toString)
    val q = build(stream).writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val settled = s2.table(name)
    val outSchema = settled.schema
    // ONE settle guard engine-wide (Events.guardedSettleRows, one cap
    // constant): memory-sink settles exist ONLY for bounded aggregate
    // frames — per-batch dup verdicts here, never a per-document corpus
    // projection; per-event output takes the file-sink egress instead.
    // (Round-15 verdict: this path carried its own inline duplicate of
    // the cap, and parallel settle guards drift.)
    val rows = graft.streaming.Events.guardedSettleRows(settled)
    s2.catalog.dropTempView(name)
    spark.createDataFrame(rows.toSeq.asJava, outSchema)
  }

  /** Streaming near-dup detection against a STATIC history — the shape a
    * rolling ingestion pipeline actually runs: the corpus so far is indexed
    * once (band keys + shingle sets), and each arriving micro-batch of new
    * documents is checked against that index without touching history
    * again. The newest ingest batch (batch key = `doc_id div batchSize`,
    * the [[historyDupRateFrom]] contract) plays the live stream; all
    * earlier batches are the static history.
    *
    * The [[minhashMd5Pairs]] stage with history as one side of the band
    * join and the stream as the other. Stream side is MAP-ONLY: distinct
    * shingles → [[bandKeys]] (per-seed `array_min` over the doc's own
    * shingle array — no signature aggregation, no shuffle), then two
    * STATELESS stream-static equi-joins: band keys against the history
    * band index (candidates), and candidate pairs against the history
    * shingle-set frame (the exact verify — per-pair work). The only
    * stateful operator is the band join's `dropDuplicates` collapsing
    * multi-band candidate hits; its state is one (doc_a, doc_b) key per
    * candidate. In production that dedup runs
    * `dropDuplicatesWithinWatermark` on ingest time so state evicts with
    * the watermark; this drain-and-stop harness discards the ephemeral
    * checkpoint anyway (the [[graft.streaming.Events]] settle rationale).
    * Both static frames are broadcast: at fixture scale they ship once per
    * executor; a 100 TB history instead pre-partitions the band index by
    * `band_key` and the join becomes a per-micro-batch shuffled hash join
    * — the plan shape Spark picks once the broadcast hint is dropped.
    *
    * Settles equal to the batch twin: [[minhashMd5Pairs]] restricted to
    * pairs whose older side is history and newer side is the final batch
    * (band keys are per-document — min over the doc's OWN shingles — so
    * indexing history separately from the full corpus changes nothing).
    *
    * COST ENVELOPE (round 12, sf0.1, local[32], warm min-of-3):
    * end-to-end 3.99s = 0.21s staging write + 0.44s micro-batch harness
    * (null-drain floor) + ~3.3s query logic, dominated by building and
    * broadcasting the history index (minhash signatures + shingle sets
    * over ~99% of the corpus). Attribute future drift by phase — only the
    * residual is this operator's plan. */
  def streamingHistoryNearDup(spark: org.apache.spark.sql.SparkSession, dir: String,
      batchSize: Long = 100L, simThreshold: Double = 0.5,
      historyRowCap: Long = HistoryIndexRowCap,
      historyShingleCap: Long = HistoryIndexShingleCap): DataFrame = {
    val all = graft.io.Tables(spark, dir, "documents")
    val maxRow = all.agg(max(expr(s"doc_id div $batchSize"))).head()
    val maxB = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val incoming = all.filter(expr(s"doc_id div $batchSize") === maxB)
    // The HISTORY INDEX (band keys + shingle sets over ~99% of the
    // corpus) is the operator's one-time ingest-side artifact — "the
    // corpus so far is indexed once" is the contract above — so it is
    // staged once per (JVM, dir, params) by TempDirs.once (a round-12
    // settle breakdown attributed ~3.3s of the 4s settle to rebuilding
    // it on every call). At 100 TB this index is a maintained
    // TABLE (pre-partitioned by band_key); here the materialized rows
    // re-enter each settle session as local frames.
    val (bRows, bSchema, sRows, sSchema) = graft.io.TempDirs.once(
      s"dedup-history#$dir|$batchSize|$historyRowCap|$historyShingleCap") {
        val history = spreadScan(spark.read.parquet(s"$dir/documents.parquet")
          .filter(expr(s"doc_id div $batchSize") < maxB))
        val hs = shingleSets(history)
        val hb = banded(hs, Md5Family)
        // CAP BEFORE COLLECT (round-19 verdict #5): this fixture is the
        // one collect in graft that is linear in corpus size with FAT
        // array rows, and it had no guard while every settle path did
        // (the exact parallel-path drift the settle cap exists for).
        // Both dimensions are checked DISTRIBUTED — row counts for both
        // frames, total shingle volume (the bytes driver) for the set
        // frame — before a single row lands on the driver. Every set row
        // bands into exactly one row per band, so one aggregation over
        // the sets gives both row counts. Past the cap, the refusal
        // points at the documented contract: at production scale the
        // history index is a maintained TABLE pre-partitioned by
        // band_key, joined distributed, never a driver-staged local frame.
        val setStats = hs.agg(count(lit(1)), sum(size(col("ss")))).head()
        val setRowsN = setStats.getLong(0)
        val bandRowsN = setRowsN * Md5Family.bands
        val shingleN = if (setStats.isNullAt(1)) 0L else setStats.getLong(1)
        require(bandRowsN <= historyRowCap && setRowsN <= historyRowCap &&
            shingleN <= historyShingleCap,
          s"history index for '$dir' is $bandRowsN band rows / " +
            s"$setRowsN set rows / $shingleN shingles (caps " +
            s"$historyRowCap rows, $historyShingleCap shingles): the " +
            "driver-staged fixture is for test-scale corpora — maintain " +
            "the index as a TABLE pre-partitioned by band_key and join " +
            "the incoming batch against it distributed")
        val hsA = hs.select(col("doc_id").as("doc_a"), col("ss").as("ss_a"))
        (hb.collect(), hb.schema, hsA.collect(), hsA.schema)
      }
    settleDocs(spark, incoming, stream => {
      import scala.jdk.CollectionConverters._
      val s = stream.sparkSession
      val histBands = s.createDataFrame(bRows.toSeq.asJava, bSchema)
      val histSets = s.createDataFrame(sRows.toSeq.asJava, sSchema)
      val live = shingleSets(stream).withColumn("ss_b", col("ss"))
      val cand = bandJoin(broadcast(histBands), banded(live, Md5Family), lit(true))
      verify(cand.join(broadcast(histSets), "doc_a"), simThreshold)
    })
  }

  /** Exact substring-level dedup (the Lee et al. 2022 "exact substring"
    * modality): find runs of ≥ `minSpanTokens` consecutive tokens whose
    * every `windowTokens`-sized window occurs verbatim in at least one
    * OTHER document — the memorization driver the document-grain
    * modalities (exact sha2, shingle-Jaccard, SimHash, containment,
    * SemDeDup) cannot see, because a 50-token quote inside two
    * otherwise-unrelated documents moves document similarity barely at all.
    * Precision caveat: because adjacent duplicated windows may be shared
    * with DIFFERENT partner documents, a merged span is duplicated at the
    * window grain throughout, but the FULL span need not occur verbatim in
    * any single other document (it can stitch runs from several partners).
    *
    * Dataflow, all bucketed — never all-pairs:
    *  1. stride-1 `windowTokens`-token window digests per document (the
    *     md5-of-joined-slice digest [[graft.llmdata.Curation.chunkDocuments]]
    *     uses, at stride 1) — the corpus-size × doc-length row explosion is
    *     the intended posting volume, exactly MinHash's shingle stage;
    *  2. a hash-agg keeps digests seen in >1 DISTINCT document (the df>1
    *     pruning shape of q164's dup-shingle ratio) and a semi-join filters
    *     each doc's windows to the duplicated ones;
    *  3. per-document gaps-and-islands (start_pos − row_number is constant
    *     on a consecutive run) merges overlapping/adjacent duplicated
    *     windows into maximal spans; the window function partitions by
    *     doc_id, so no global funnel — per-doc work at any corpus size.
    * A cross-doc-duplicated run of L ≥ windowTokens tokens yields exactly
    * L − windowTokens + 1 consecutive duplicated start positions, so
    * span_tokens = last − first + windowTokens is the exact length of the
    * window-grain-duplicated run (for the pigeonhole converse: every
    * ≥ minSpanTokens duplicated run contains a duplicated window at every
    * in-run position, so no span is missed — perfect recall at the window
    * grain, no probabilistic step; precision caveat above).
    *
    * 100 TB notes: stage 2's digest agg combines map-side (32-byte keys);
    * at petabyte scale the window digest would move to a fixed-width
    * 8-byte rolling hash (q35's machinery) and the HAVING>1 agg to a
    * bloom-pre-filtered two-pass — the plan shape is unchanged. */
  def duplicatedSpans(docs: DataFrame, windowTokens: Int = 8,
      minSpanTokens: Int = 50): DataFrame = {
    require(windowTokens >= 2 && minSpanTokens >= windowTokens)
    val w = docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= windowTokens)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - windowTokens + 1)).as("i"),
        col("toks"))
      .select(col("doc_id"), col("i").cast("long").as("start_pos"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(windowTokens)))).as("h"))
    spansFromWindows(w, windowTokens, minSpanTokens)
  }

  /** The shared tail of both substring-dedup variants: cross-doc window
    * prune (df>1 hash agg + semi-join) → per-doc gaps-and-islands merge of
    * consecutive duplicated windows into maximal spans. `w` is a
    * (doc_id, start_pos, h) window-digest frame; `h`'s type is free (md5
    * string in q184, packed rolling long in q198). */
  private def spansFromWindows(w: DataFrame, windowTokens: Int,
      minSpanTokens: Int): DataFrame = {
    val dupHashes = w.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1)
      .select("h")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start_pos")
    w.join(dupHashes, Seq("h"), "left_semi")
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("grp", col("start_pos") - col("rn"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("start_pos")).as("span_start"),
        max(col("start_pos")).as("span_last"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("span_last") - col("span_start") + windowTokens)
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_id"), col("span_start"), col("span_tokens"), col("n_windows"))
  }

  /** [[duplicatedSpans]] with the promised petabyte-scale digest stage
    * (q198): window digests come from the codegen'd rolling Karp–Rabin
    * expression ([[graft.functions.WindowHashes]]) — one O(len) pass per
    * document emits ALL stride-1 window hashes as 8-byte packed longs,
    * replacing q184's md5 + concat per window and its 32-byte shuffle
    * keys. Same prune + islands tail, same output schema; span parity
    * with the md5 variant is pinned in WindowHashesSpec (identical spans
    * on the fixture — a digest collision would have to strike inside one
    * corpus to diverge, odds ~1e-18 per pair). Measured (sf0.1,
    * local[32], cold): q184 8.45 s → q198 1.80 s, identical 259
    * spans — 4.7× from dropping the per-window md5 + concat and shrinking
    * the shuffle key 32 B → 8 B. */
  def duplicatedSpansRolling(docs: DataFrame, windowTokens: Int = 8,
      minSpanTokens: Int = 50): DataFrame = {
    require(windowTokens >= 2 && minSpanTokens >= windowTokens)
    val w = docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= windowTokens)
      .select(col("doc_id"),
        posexplode(graft.functions.VectorOps.windowHashes(col("toks"), windowTokens))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("start_pos"), col("h"))
    spansFromWindows(w, windowTokens, minSpanTokens)
  }

  /** Substring-dedup APPLY path (q241): turn [[duplicatedSpans]]'
    * findings into the per-document removal report — duplicated-token
    * coverage as a UNION of intervals (adjacent maximal islands can
    * overlap by up to windowTokens−1 tokens; naively summing span
    * lengths double-counts that shoulder), kept-token counts, and the
    * removal ratio. This is the "what does the cleaned corpus look
    * like" accounting a Lee-et-al dedup run publishes before the
    * destructive rewrite. The interval union is one running-max window
    * over each doc's (tiny) span list; everything upstream is the
    * shared span derivation. */
  def spanRemovalReport(docs: DataFrame, windowTokens: Int = 8,
      minSpanTokens: Int = 50): DataFrame = {
    // rolling-digest span stage (q198's scale path; 4.7x the md5 stage) —
    // span parity with the md5 derivation is pinned in WindowHashesSpec,
    // so the md5-based oracle remains the valid mirror
    val spans = duplicatedSpansRolling(docs, windowTokens, minSpanTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("span_start")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withEnd = spans
      .withColumn("e", col("span_start") + col("span_tokens") - 1)
      .withColumn("pmax", max(col("e")).over(w))
    val effStart = greatest(col("span_start"),
      coalesce(col("pmax") + 1, col("span_start")))
    val covered = withEnd
      .withColumn("c", greatest(lit(0L), col("e") - effStart + 1))
      .groupBy("doc_id").agg(sum("c").as("dup_tokens"))
    val nt = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    covered.join(nt, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("dup_tokens").cast("long").as("dup_tokens"),
        (col("n_tokens") - col("dup_tokens")).cast("long").as("kept_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6).as("dup_ratio"))
  }

  /** Duplicate-class triage (q243): every verified near-dup pair labeled
    * with the ACTION-determining taxonomy a dedup pipeline branches on —
    * `exact` (byte-identical text; drop one side blindly), else
    * `containment` (overlap ≥ 90% of the SMALLER shingle set — a quote/
    * truncation; keep the superset), else `near` (Jaccard ≥ 0.7; merge
    * candidates for review), else `weak`. Priority order matters: an
    * exact pair also scores containment 1.0, and misrouting it to the
    * "keep the superset" rule would keep both. One pass over the cached
    * verified pairs + a sizes join; exact integer ratios compared by
    * cross-multiplication (n_common·10 ≥ 9·min — no float boundary). */
  def dupTriage(spark: org.apache.spark.sql.SparkSession, dir: String,
      simThreshold: Double = 0.5): DataFrame =
    dupTriageFrom(minhashMd5PairsOn(spark, dir, simThreshold),
      graft.io.Tables(spark, dir, "documents"))

  /** [[dupTriage]] on a precomputed (doc_a, doc_b, n_common, jaccard)
    * verified-pair frame. */
  def dupTriageFrom(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val sizes = shingleSets(docs).select(col("doc_id"), size(col("ss")).cast("long").as("n"))
    val hashes = docs.select(col("doc_id"), md5(col("text")).as("tm"))
    broadcast(pairs)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .join(hashes.select(col("doc_id").as("doc_a"), col("tm").as("ma")), "doc_a")
      .join(hashes.select(col("doc_id").as("doc_b"), col("tm").as("mb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(col("n_common").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("containment"),
        when(col("ma") === col("mb"), "exact")
          .when(col("n_common") * 10 >= least(col("n_a"), col("n_b")) * 9, "containment")
          .when(col("jaccard") >= 0.7, "near")
          .otherwise("weak").as("dup_class"))
  }

  /** Character-level edit-distance verification tier over the LSH
    * near-dup pairs (q215): for every VERIFIED md5-family pair
    * ([[minhashMd5PairsOn]] — the per-(dir, threshold) cached chain),
    * the Levenshtein distance between the two documents' fixed-length
    * prefixes and the normalized edit similarity
    * `1 − lev/max(len)`. Shingle-set Jaccard is order-insensitive (a
    * shuffled bag of the same 3-grams scores 1.0); edit distance is the
    * ORDER-sensitive second opinion a dedup pipeline consults before
    * destructive merging. Cross-engine certifiable because both engines
    * implement the identical unit-cost DP (Spark `levenshtein`, DuckDB
    * `levenshtein`).
    *
    * Scale: Levenshtein is O(L²) per pair, so it never runs corpus-wide —
    * only on the (tiny, banded + Jaccard-verified) pair frame, and only
    * on `prefixLen`-char prefixes, bounding each comparison at a constant
    * prefixLen² cell grid. The pair frame broadcasts into two
    * doc-prefix lookups; the documents scan reads (doc_id, text) only. */
  def editDistanceAuditOn(spark: org.apache.spark.sql.SparkSession, dir: String,
      prefixLen: Int = 256, simThreshold: Double = 0.5): DataFrame =
    editDistanceAuditFrom(minhashMd5PairsOn(spark, dir, simThreshold),
      graft.io.Tables(spark, dir, "documents"), prefixLen)

  /** Content-defined chunking dedup report (q251) — the rsync/restic/
    * CDC-storage primitive at token grain: chunk boundaries fall where
    * the rolling w-token hash ≡ 0 (mod `modulus`), so boundaries are a
    * function of CONTENT, not offsets — an insertion early in a document
    * shifts fixed-size blocks but re-synchronizes content-defined chunks
    * within one window, which is what makes cross-document chunk-level
    * dedup work. Per document: chunk count, chunks whose exact content
    * recurs in ANOTHER document, and the tokens those shared chunks
    * cover (the dedup-able mass a chunk store would not re-write).
    *
    * Shape: the codegen'd [[graft.functions.WindowHashes]] rolling
    * digests (one O(len) pass) mark boundaries; chunk membership is a
    * per-doc running count of boundary flags (per-key window, bounded by
    * doc length); chunk identity is the md5 of the reassembled token
    * span; sharing is one hash agg on the chunk digest. Docs shorter
    * than the window are excluded (no rolling hash exists — mirrored by
    * the oracle). Expected chunk length is `modulus` tokens — the knob
    * trading dedup granularity against per-chunk overhead. */
  def contentChunkReport(docs: DataFrame, w: Int = 4, modulus: Int = 64): DataFrame = {
    require(w >= 2 && modulus >= 2)
    val toksed = docs.withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= w)
    val boundaries = toksed
      .select(col("doc_id"),
        posexplode(graft.functions.VectorOps.windowHashes(col("toks"), w))
          .as(Seq("p0", "h")))
      .filter(pmod(col("h"), lit(modulus.toLong)) === 0L)
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        lit(1L).as("is_boundary"))
      .filter(col("pos") > 1L)
    val toks = toksed
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val assigned = toks.join(boundaries, Seq("doc_id", "pos"), "left")
      .withColumn("chunk_seq", sum(coalesce(col("is_boundary"), lit(0L))).over(wdoc))
    val chunks = assigned.groupBy("doc_id", "chunk_seq")
      .agg(count(lit(1)).as("chunk_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")))).as("chunk_md5"))
    val sharing = chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    chunks.join(sharing, "chunk_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs_with") > 1L, 1L).otherwise(0L)).as("n_shared_chunks"),
        sum(when(col("n_docs_with") > 1L, col("chunk_tokens")).otherwise(0L))
          .cast("long").as("shared_tokens"))
      .select(col("doc_id"), col("n_chunks"),
        col("n_shared_chunks").cast("long").as("n_shared_chunks"),
        col("shared_tokens"))
  }

  /** Dedup threshold-calibration sweep (q247): how many verified pairs
    * fall into each Jaccard band, with the cumulative count at-or-above
    * each band's floor — the curve an engineer reads to place the dedup
    * threshold (a knee in the cumulative curve separates the true-dup
    * mass from the long similarity tail). ONE pass over the cached
    * 0.3-floor pair frame (shared with q235); bands are tenths, counts
    * exact. The cumulative comes from a descending-band running sum over
    * the ≤7-row band frame — a bounded window, not a data-sized one. */
  def thresholdSweep(spark: org.apache.spark.sql.SparkSession, dir: String,
      floor: Double = 0.3): DataFrame = {
    // band = integer tenth index (7 = [0.7, 0.8)); derived from the
    // 6dp-rounded jaccard through exact integer micro-units, so the
    // banding has no float-boundary ambiguity in either engine
    val band = expr("CAST(round(jaccard * 1000000) AS BIGINT) div 100000")
    val bands = minhashMd5PairsOn(spark, dir, simThreshold = floor)
      .groupBy(band.as("band"))
      .agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bands.withColumn("n_pairs_at_or_above", sum(col("n_pairs")).over(w))
      .select(col("band"), col("n_pairs"), col("n_pairs_at_or_above"))
  }

  /** Borderline-pair audit queue (q235): the verified pairs whose exact
    * Jaccard sits CLOSEST to the dedup threshold — the uncertainty-
    * sampling batch a human (or a stronger model) reviews first, because
    * threshold-adjacent pairs are where a dedup pipeline's false
    * keep/drop decisions live. Runs the md5 LSH chain at a LOWER floor
    * so both sides of the decision boundary are present, then takes the
    * k pairs minimizing |jaccard − threshold| (TakeOrderedAndProject —
    * bounded top-k, never a global sort), deterministic (dist, doc_a,
    * doc_b) tiebreak. */
  def borderlinePairs(spark: org.apache.spark.sql.SparkSession, dir: String,
      threshold: Double = 0.5, floor: Double = 0.3, k: Int = 20): DataFrame = {
    require(floor < threshold && k >= 1)
    minhashMd5PairsOn(spark, dir, simThreshold = floor)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(abs(col("jaccard") - threshold), 6).as("dist_to_threshold"))
      .orderBy(col("dist_to_threshold"), col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** Prefix-filtered set-similarity join (q290): all document pairs
    * sharing ≥ `minOverlap` distinct word tokens — EXACT output through
    * LOSSLESS algorithmic candidate pruning, the classic prefix-filter
    * discipline (Chaudhuri/Ganti/Kaushik, "A Primitive Operator for
    * Similarity Joins", ICDE 2006; Xiao et al., "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW 2008 — the ppjoin family).
    * A third candidate-generation family beside MinHash-LSH (q43,
    * probabilistic) and the inverted-index df-prune (q126, threshold on
    * weighted cosine): prefix filtering is deterministic AND lossless,
    * so no verify-miss envelope is needed.
    *
    * The lemma: order every document's distinct tokens by one GLOBAL
    * total order (ascending document frequency, token as tie-break — the
    * rarest-first order that makes prefixes selective). If
    * |A ∩ B| ≥ c, the first `|A| − c + 1` tokens of A and the first
    * `|B| − c + 1` of B must share a token (fewer than c tokens remain
    * outside either prefix). So an equi-join on PREFIX tokens generates
    * every qualifying pair; the exact overlap count then verifies each
    * candidate. Measured at sf0.01: 438 candidates vs 124,745 all-pairs
    * token-join pairs — 285× fewer pairs into the verify stage, zero
    * missed (the oracle is the unfiltered exact join).
    *
    * Scale shape: the per-doc rank window partitions by doc_id (bounded
    * by tokens-per-document, never corpus-skewed); the prefix join is an
    * equi-join on rare tokens (df-ascending order caps bucket sizes);
    * the verify is two hash joins keyed on the candidate pair. No cross
    * product anywhere. */
  def prefixFilterOverlapJoin(docs: DataFrame, minOverlap: Int = 30): DataFrame = {
    require(minOverlap >= 1)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok")).distinct()
    val dfCount = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val ordered = toks.join(dfCount, "tok")
      .select(col("doc_id"), col("tok"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")).as("n"))
    val prefix = ordered.filter(col("rn") <= col("n") - lit(minOverlap) + lit(1))
      .select("doc_id", "tok")
    val cand = prefix.select(col("doc_id").as("da"), col("tok"))
      .join(prefix.select(col("doc_id").as("db"), col("tok")), "tok")
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    // exact verify: count the shared distinct tokens of each candidate
    cand
      .join(toks.select(col("doc_id").as("da"), col("tok")), "da")
      .join(toks.select(col("doc_id").as("db"), col("tok")), Seq("db", "tok"))
      .groupBy("da", "db").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** [[editDistanceAuditOn]] on a precomputed verified-pair frame. */
  def editDistanceAuditFrom(pairs0: DataFrame, docs: DataFrame,
      prefixLen: Int = 256): DataFrame = {
    require(prefixLen >= 1)
    val pre = docs.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("prefix"))
    val lev = levenshtein(col("pa"), col("pb"))
    broadcast(pairs0.select("doc_a", "doc_b", "jaccard"))
      .join(pre.select(col("doc_id").as("doc_a"), col("prefix").as("pa")), "doc_a")
      .join(pre.select(col("doc_id").as("doc_b"), col("prefix").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        lev.cast("long").as("lev_prefix"),
        round(lit(1.0) - lev.cast("double") /
          greatest(length(col("pa")), length(col("pb"))).cast("double"), 6)
          .as("edit_sim"))
  }
}
