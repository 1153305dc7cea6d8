package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table (doc_id, text, lang, source, n_chars). All are
  * narrow per-row projections built from codegen'd built-ins — they scale
  * linearly and shuffle nothing.
  */
object TextAnalysis {

  /** Whitespace tokens (single-space convention of the synthetic corpus). */
  def tokens(text: Column): Column = split(text, " ")

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Token / character counting. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_obs"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_alpha_chars"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(toks).cast("double")).as("avg_token_len"))
  }

  /** Heuristic quality scoring: punctuation / digit / stopword ratios and a
    * composite score. Expression shapes are kept identical to the DuckDB
    * oracle SQL so double arithmetic matches bit-for-bit. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("double")
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val digits = (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    val toks = tokens(col("text"))
    val nTokens = size(toks).cast("double")
    val stops = size(filter(toks, w => w.isin(stopwords: _*))).cast("double")
    val punctRatio = punct / nChars
    val digitRatio = digits / nChars
    val stopRatio = stops / nTokens
    docs.select(
      col("doc_id"),
      punctRatio.as("punct_ratio"),
      digitRatio.as("digit_ratio"),
      stopRatio.as("stopword_ratio"),
      (lit(1.0) - punctRatio - digitRatio).as("quality_score"))
  }

  /** Gopher-style rule-based quality gate with per-rule attribution
    * (q260) — the document-filter rule family of Rae et al. 2021
    * (Gopher, Appendix A1.1), reported the way a pipeline operator
    * actually consumes it: not one opaque verdict but a per-rule failure
    * census (how many documents each rule rejects, and how many any rule
    * rejects) — the knob-tuning view next to q250's sequential waterfall
    * (which attributes drops to a STAGE ORDER; this is the
    * order-independent per-rule marginal) and q31's scalar score.
    *
    * Shipped rules are the word-statistics core of the Gopher set,
    * adapted honestly to the punctuation-free single-space fixture (the
    * symbol/ellipsis/bullet-line rules need punctuation the corpus does
    * not contain): word-count range, mean-word-length range, top-token
    * share (the "fraction of most common word" repetition rule),
    * type-token-ratio floor, and ≥2 distinct stop words. Every threshold
    * compares CROSS-MULTIPLIED INTEGERS (`chars < 3·words`, not
    * `chars/words < 3.0`) so no float boundary can disagree between
    * engines.
    *
    * Scale shape: one narrow doc-grain projection + one explode/count
    * token-grain agg (both map-side-combinable), equi-joined on doc_id,
    * folded to a single row and unpivoted with `stack` — the q216
    * constraint-gate shape. Nothing is corpus² and the text column never
    * shuffles (only per-doc counters do). */
  def gopherRuleReport(docs: DataFrame, minWords: Int = 40,
      maxWords: Int = 10000): DataFrame = {
    require(minWords >= 1 && maxWords > minWords)
    val toks = tokens(col("text"))
    val base = docs.select(col("doc_id"),
      size(toks).cast("long").as("words"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("chars"),
      size(array_intersect(toks, typedLit(stopwords))).cast("long").as("n_stop"))
    val tf = docs.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max_tok"), count(lit(1)).as("n_types"))
    val f = base.join(tf, "doc_id").select(
      (col("words") < minWords || col("words") > maxWords).as("f1"),
      (col("chars") < col("words") * 3 || col("chars") > col("words") * 10).as("f2"),
      (col("max_tok") * 5 > col("words")).as("f3"),
      (col("n_types") * 5 < col("words")).as("f4"),
      (col("n_stop") < 2).as("f5"))
    def v(c: Column) = sum(when(c, 1L).otherwise(0L))
    val one = f.agg(count(lit(1)).as("n_docs"),
      v(col("f1")).as("v1"), v(col("f2")).as("v2"), v(col("f3")).as("v3"),
      v(col("f4")).as("v4"), v(col("f5")).as("v5"),
      v(col("f1") || col("f2") || col("f3") || col("f4") || col("f5")).as("vany"))
    one.select(col("n_docs"), expr("stack(6, " +
        "'word_count', v1, 'mean_word_len', v2, 'top_token_share', v3, " +
        "'type_token_ratio', v4, 'stopword_types', v5, 'any_rule', vany" +
        ") AS (rule, n_fail)"))
      .select(col("rule"), col("n_docs"),
        col("n_fail").cast("long").as("n_fail"),
        round(col("n_fail").cast("double") / col("n_docs").cast("double"), 6)
          .as("fail_share"))
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "das"))

  /** Marker-word language-ID heuristic: per-language score = number of
    * marker words present; argmax with a fixed tie-break order. (A real
    * deployment would use char-n-gram profiles; the scoring plumbing — a
    * narrow projection — is identical.) */
  def langId(docs: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    def score(ws: Seq[String]): Column =
      ws.map(w => when(padded.contains(s" $w "), 1).otherwise(0)).reduce(_ + _).cast("long")
    val scored = docs.select(
      (Seq(col("doc_id"), col("lang")) ++
        markers.map { case (l, ws) => score(ws).as(s"score_$l") }): _*)
    scored.withColumn("lang_pred",
      when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de"), "en")
        .when(col("score_es") >= col("score_de"), "es")
        .otherwise("de"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text —
    * the cheap exact-after-normalization dedup key. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fingerprint"))

  /** Rolling polynomial (Karp–Rabin) hash over the text, computed as a
    * left fold on the character array, mod a large prime (keeps the
    * accumulator in range — Spark 4's ANSI mode rejects silent long
    * wraparound). Not SQL-expressible; covered by ScalaTest. */
  def rollingHash(docs: DataFrame): DataFrame = {
    val prime = 1000000007L
    val chars = split(col("text"), "")
    val h = aggregate(chars, lit(0L),
      (acc, c) => (acc * lit(31L) + ascii(c).cast("long")) % lit(prime))
    docs.select(col("doc_id"), h.as("rolling_hash"))
  }

  /** BPE-style pre-tokenization counts: the GPT-2-ish split into letter
    * runs, digit runs, and single non-alphanumeric marks — the byte-pair
    * tokenizer's input segmentation (the merges themselves are
    * vocabulary-dependent; the pre-split is what a counting pipeline
    * needs). Pattern kept to the regex intersection Spark and the oracle
    * both support. */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def bpeTokenStats(docs: DataFrame): DataFrame = {
    val pieces = regexp_extract_all(col("text"), lit(bpePattern), lit(0))
    docs.select(
      col("doc_id"),
      size(pieces).cast("long").as("n_bpe_pieces"),
      size(filter(pieces, p => p.rlike("^[A-Za-z]+$"))).cast("long").as("n_word_pieces"),
      size(filter(pieces, p => p.rlike("^[0-9]+$"))).cast("long").as("n_digit_pieces"),
      size(array_distinct(pieces)).cast("long").as("n_distinct_pieces"))
  }

  /** Exact BPE trainer iterations, unrolled to `steps` merges — the
    * vocabulary-learning step that [[bpeTokenStats]]' pre-split feeds. Each
    * iteration is the textbook algorithm: count adjacent symbol pairs
    * weighted by word frequency, pick the most frequent pair (deterministic
    * tiebreak: count desc, then lexicographic sym_a, sym_b), replace its
    * adjacent occurrences left-to-right non-overlapping in every word, and
    * recount. Returns the merge table — one row per step with the chosen
    * pair and its count — which certifies the whole chain exactly the way
    * q94 certifies chained IPF sweeps: step k's argmax is a function of
    * every preceding merge application over the full vocabulary.
    *
    * Representation: a word's symbol sequence is a single space-joined
    * string (symbols never contain spaces — [[bpePattern]] pieces exclude
    * them), so the left-to-right merge is a string fold both engines run
    * identically: if the fold's last emitted symbol equals sym_a and the
    * next symbol is sym_b, rewrite the tail, else append. Greedy
    * non-overlap falls out of the fold — after "a a a" merges its first
    * two symbols under (a,a), the new last symbol "aa" no longer equals
    * "a", so the third survives (standard BPE replace semantics).
    *
    * Scale: trainer state is the VOCABULARY (distinct pieces + counts),
    * never the corpus — the classic reason BPE training is cheap next to
    * the scan that produced the counts. Per step: one vocab-sized
    * hash-agg, a 1-row argmax broadcast back (whitelisted tiny-side cross
    * join), and a per-word O(len) fold. */
  def bpeMerges(docs: DataFrame, steps: Int = 2): DataFrame =
    bpeChain(docs, steps)._2.reduce(_ union _)

  /** The learned vocabulary (piece → merged symbol sequence) after `steps`
    * merges, plus the per-step merge table — the shared core of
    * [[bpeMerges]] (the trainer certification) and [[bpeEncode]] (the
    * tokenizer application). */
  private def bpeChain(docs: DataFrame, steps: Int): (DataFrame, Seq[DataFrame]) = {
    require(steps >= 1)
    // Each merge step embeds the prior vocab plan TWICE (pair-count agg +
    // crossJoin probe) — the same 2^k leaf-doubling measured for agg+join
    // IPF chains (CooMatrix.fitRowsExact scaladoc). A lineage
    // checkpoint every few steps caps the doubling (values unchanged —
    // truncation only); the shipped steps=2..3 certification paths never
    // hit it and stay fully lazy.
    val checkpointEvery = 4
    var vocab = docs
      .select(explode(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("freq"))
      // "abc" -> "a b c": one spaced symbol per character
      .withColumn("symstr", trim(regexp_replace(col("piece"), "(.)", "$1 ")))
    val merges = (1 to steps).map { k =>
      val s = split(col("symstr"), " ")
      val best = vocab
        .select(col("freq"),
          explode(when(size(s) >= 2,
            transform(sequence(lit(1), size(s) - 1),
              i => struct(element_at(s, i).as("sym_a"), element_at(s, i + 1).as("sym_b"))))
            .otherwise(array().cast("array<struct<sym_a:string,sym_b:string>>"))).as("p"))
        .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(desc("pair_count"), col("sym_a"), col("sym_b"))
        .limit(1)
      vocab = vocab.crossJoin(broadcast(best))
        .withColumn("symstr", expr(
          """aggregate(split(symstr, ' '), '', (acc, x) ->
            |  CASE WHEN acc = '' THEN x
            |       WHEN substring_index(acc, ' ', -1) = sym_a AND x = sym_b
            |         THEN concat(substring(acc, 1,
            |                length(acc) - length(substring_index(acc, ' ', -1))),
            |              sym_a, sym_b)
            |       ELSE concat(acc, ' ', x) END)""".stripMargin))
        .select("piece", "freq", "symstr")
      if (k % checkpointEvery == 0 && k < steps)
        vocab = vocab.localCheckpoint(true)
      best.withColumn("step", lit(k.toLong))
        .select("step", "sym_a", "sym_b", "pair_count")
    }
    (vocab, merges)
  }

  /** Tokenizer APPLICATION: encode every document with the vocabulary
    * [[bpeMerges]] learned — per doc, the pre-split piece count and the
    * post-merge BPE token count (Σ symbols over its pieces). The encode is
    * a vocab equi-join, not a re-fold per occurrence: the trainer already
    * computed each DISTINCT piece's merged form, so scoring the corpus is
    * one join + one hash agg — the vocab-sized/corpus-sized asymmetry that
    * makes BPE encoding cheap at 100 TB. n_bpe_tokens strictly decreases
    * as merges apply; q111's unmerged piece counts are the steps=0
    * baseline. */
  def bpeEncode(docs: DataFrame, steps: Int = 2): DataFrame = {
    val (vocab, _) = bpeChain(docs, steps)
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).as("piece"))
      .join(vocab.select(col("piece"),
        size(split(col("symstr"), " ")).cast("long").as("n_syms")), "piece")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pieces"), sum("n_syms").as("n_bpe_tokens"))
  }

  /** Tokenizer fertility report per language (q262) — the
    * tokenizer-quality statistic a multilingual corpus release publishes
    * (cf. the fertility analyses in the mT5/BLOOM tokenizer papers):
    * with the LEARNED q185 BPE vocabulary applied to the corpus (q188's
    * encode), per language: BPE tokens per word ("fertility" — how many
    * subword pieces an average word fragments into) and characters per
    * BPE token (compression). A tokenizer trained on skewed language
    * mixes shows inflated fertility on the underrepresented languages —
    * exactly what this frame surfaces.
    *
    * Shape: q188's per-doc encode (vocab equi-join + hash agg) joined
    * back to the doc's language — one extra narrow projection and a
    * |langs|-row rollup; sums stay exact integers until the two final
    * divisions. */
  def bpeFertility(docs: DataFrame, steps: Int = 2): DataFrame = {
    val perDoc = bpeEncode(docs, steps)
    docs.select(col("doc_id"), col("lang"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("chars"))
      .join(perDoc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_pieces").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        sum("chars").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))
  }

  /** Distinct word-k-shingle count per document (the MinHash front end). */
  def shingleStats(docs: DataFrame, k: Int = 3): DataFrame =
    // Tokens in a named column: element_at inside the shingle lambda
    // re-evaluates its input per element (no CSE in HOF eval), so an
    // inlined split() would re-tokenize the text k times per shingle.
    docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(shingles(col("toks"), k))).cast("long")
          .as("n_distinct_shingles"))

  /** Gopher-style repetition metrics (q271; Rae et al. 2021 A1.1's
    * repetition table — the complement of q260's word-statistics rules):
    * per document, the duplicate-2-gram and duplicate-3-gram fractions
    * (1 − distinct/total — machine-generated and boilerplate text repeats
    * n-grams far above natural-language rates) and the most-frequent-
    * 2-gram occupancy share, plus the gate verdict. Thresholds are BASIS
    * POINTS compared by integer cross-multiplication (the q260 rule — no
    * float boundary can flip a verdict between engines); the fraction
    * columns themselves round from one double division at the end.
    *
    * Shape: one explode per n-gram order into a (doc, gram) hash agg,
    * then a per-doc rollup — map-side combinable throughout, no windows.
    * At 100 TB the gram frames shuffle (doc_id, gram) pairs, linear in
    * token count. */
  def repetitionMetrics(docs: DataFrame, dup3MaxBp: Long = 2500L,
      topShareMaxBp: Long = 2000L): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
    def gramStats(k: Int, nName: String, dName: String,
        topName: Option[String]): DataFrame = {
      val perGram = base
        .select(col("doc_id"), explode(shingles(col("toks"), k)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val aggs = Seq(sum(col("c")).as(nName),
        count(lit(1)).as(dName)) ++ topName.map(t => max(col("c")).as(t))
      perGram.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }
    val g2 = gramStats(2, "n2", "d2", Some("top2"))
    val g3 = gramStats(3, "n3", "d3", None)
    g2.join(g3, "doc_id")
      .select(col("doc_id"),
        col("n2").as("n_2grams"),
        round((col("n2") - col("d2")).cast("double") / col("n2"), 6)
          .as("dup_2gram_frac"),
        col("n3").as("n_3grams"),
        round((col("n3") - col("d3")).cast("double") / col("n3"), 6)
          .as("dup_3gram_frac"),
        round(col("top2").cast("double") / col("n2"), 6).as("top_2gram_share"),
        ((col("n3") - col("d3")) * 10000L <= lit(dup3MaxBp) * col("n3") &&
          col("top2") * 10000L <= lit(topShareMaxBp) * col("n2")).as("pass"))
  }

  /** Shingle-novelty curve across ingest batches (q272): per arrival
    * batch, how many of its distinct word-3-shingles were never seen in
    * any EARLIER batch — the diminishing-returns signal a crawl pipeline
    * watches to decide when a source is mined out (novelty falling toward
    * the near-dup floor means new data is re-paying for old data).
    * Batches are real `window(ingest_ts, …)` groups over the [[Ingest]]
    * arrival-order convention, so the oracle's `doc_id // batchSize`
    * arithmetic is exact.
    *
    * Shape: (batch, shingle) presence from one explode + hash agg; first
    * appearance = `min(batch) OVER (PARTITION BY s)` attached by a window
    * on the presence frame. The former groupBy + self-join consumed the
    * presence frame TWICE, and Spark re-planned — and re-executed — the
    * whole tokenize/shingle-explode subtree for each consumption
    * (measured r22: the two duplicate 16-wide explode stages were 33 s of
    * the query's CPU; the window halves that by construction). The window
    * is bit-identical to the join: integer `min` per shingle key attached
    * to every presence row, and each shingle's partition is ≤ |batches|
    * rows, so no window group ever funnels (the q94 one-pass-fit
    * argument). Everything is linear in distinct (batch, shingle) volume;
    * integer counts until one final division. */
  def shingleNovelty(docs: DataFrame, batchSize: Long = 100L): DataFrame = {
    val present = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
        explode(array_distinct(shingles(col("toks"), 3))).as("s"))
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"), col("s"))
      .agg(count(lit(1)).as("_n"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("batch"), col("s"))
    present
      .withColumn("first_batch", min("batch").over(Window.partitionBy("s")))
      .groupBy("batch")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L)).as("n_new"))
      .select(col("batch"), col("n_shingles"), col("n_new"),
        round(col("n_new").cast("double") / col("n_shingles"), 6).as("novelty"))
  }

  /** Heaps'-law vocabulary-growth fit per source (q278): V(N) ≈ k·N^β,
    * estimated by closed-form least squares on (ln cum_tokens,
    * ln cum_vocab) across ingest batches — the scaling-law companion to
    * q272's novelty curve (β well below the corpus norm means a source's
    * vocabulary is saturating: more data, same words). Points come from
    * the [[Ingest]] batch grain: per-batch token counts plus
    * first-appearance distinct-term counts (the q272 min-batch agg),
    * cumulated by a window over the ≤|batches|-row frame. Determinism:
    * ln() points and their squares/products quantize to DECIMAL(30,12)
    * before the per-source sums (q219 rule), so the normal-equation
    * sums are order-independent; slope and intercept are scalar double
    * expressions both engines evaluate identically, rounded 6dp. */
  def heapsLawFit(docs: DataFrame, batchSize: Long = 100L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val toks = docs.select(col("source"),
      Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
      explode(tokens(col("text"))).as("t"))
    val perBatch = toks
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"), col("source"))
      .agg(count(lit(1)).as("n_toks"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("batch"),
        col("source"), col("n_toks"))
    val newTerms = toks
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"),
        col("source"), col("t"))
      .agg(count(lit(1)).as("_n"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("batch"),
        col("source"), col("t"))
      .groupBy("source", "t").agg(min("batch").as("batch"))
      .groupBy("source", "batch").agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy("source").orderBy("batch")
    val pts = perBatch.join(newTerms, Seq("source", "batch"), "left")
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .withColumn("cum_vocab", sum(coalesce(col("n_new"), lit(0L))).over(w))
      .select(col("source"),
        log(col("cum_toks").cast("double")).as("x"),
        log(col("cum_vocab").cast("double")).as("y"))
    val sums = pts.select(col("source"),
        col("x").cast(dec).as("xq"), col("y").cast(dec).as("yq"),
        (col("x") * col("x")).cast(dec).as("xxq"),
        (col("x") * col("y")).cast(dec).as("xyq"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_points"), sum("xq").as("sx"), sum("yq").as("sy"),
        sum("xxq").as("sxx"), sum("xyq").as("sxy"))
    val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val sxxd = col("sxx").cast("double")
    val sxyd = col("sxy").cast("double")
    val betaRaw = (col("n_points") * sxyd - sxd * syd) /
      (col("n_points") * sxxd - sxd * sxd)
    sums.select(col("source"), col("n_points"),
      round(betaRaw, 6).as("beta"),
      round(exp((syd - betaRaw * sxd) / col("n_points")), 6).as("k"))
  }

  /** Word k-shingles as an array column (1-based `element_at` windows). */
  def shingles(toks: Column, k: Int): Column =
    transform(sequence(lit(1), size(toks) - lit(k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + lit(j))): _*))

  /** Benchmark decontamination: count, per corpus document, the distinct
    * word-k-shingles it shares with a probe ("benchmark") set — the overlap
    * check every training corpus runs against eval suites before training.
    * The probe here is the deterministic md5-prefix subset (stand-in for a
    * real benchmark table; swap the membership predicate for one). Shape:
    * per-doc distinct shingles (narrow explode), the probe's shingle set
    * distinct-collapsed (small next to the corpus — broadcastable), one
    * equi-join on the shingle string and a count-distinct per document. At
    * 100 TB the join key would be a shingle hash (8 bytes instead of the
    * string) — same plan. Only contaminated documents are returned. */
  def contaminationCheck(docs: DataFrame, k: Int = 3,
      probeHexThreshold: String = "15"): DataFrame = {
    val isProbe =
      substring(md5(concat(col("doc_id").cast("string"), lit(":probe"))), 1, 2)
        .<(lit(probeHexThreshold))
    // Per-doc distinct shingles, shuffled as 8-byte xxhash64 keys instead of
    // the ~10x-wider shingle strings; the probe membership filter runs BEFORE
    // the explode so the probe branch scans ~8% of documents instead of
    // exploding everything and discarding 92%. Both join inputs are distinct
    // (array_distinct per doc, .distinct() on the probe set), so the join
    // emits each (doc_id, shingle) at most once and a plain count replaces
    // the two-phase count_distinct. Hash-key equality stands in for string
    // equality with collision odds ~(#shingles)^2 / 2^65 — immaterial next
    // to the md5-prefix probe sampling this check is built on.
    //
    // The tokens land in a NAMED column before the shingle lambda touches
    // them: each element_at(toks, i) inside the transform re-evaluates its
    // input expression (no CSE in HOF eval), so inlining split() here means
    // re-tokenizing the document 3x per shingle — measured 6x slower at
    // sf0.1. CollapseProject keeps a multiply-referenced non-trivial alias
    // materialized, so the named column is evaluated once per row.
    def shingleKeys(df: DataFrame): DataFrame =
      df.withColumn("toks", tokens(col("text")))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"),
          explode(array_distinct(shingles(col("toks"), k))).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("sh"))
    val probeKeys = shingleKeys(docs.filter(isProbe)).select("sh").distinct()
    shingleKeys(docs.filter(!isProbe))
      .join(probeKeys, "sh")
      .groupBy("doc_id")
      .agg(count(col("sh")).as("n_overlap"))
      .select(col("doc_id"), col("n_overlap"))
  }

  /** Cross-document duplicated-shingle ratio — the per-document boilerplate
    * signal of n-gram-level dedup (the "how much of this document appears
    * elsewhere in the corpus" fraction that drives span-level dedup
    * decisions, cf. Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — here at document grain): for each
    * document, the fraction of its DISTINCT word-k-shingles that occur in
    * at least one other document. Complements [[repetitionScore]] (which
    * is within-document) — a doc can be internally non-repetitive yet 90%
    * template.
    *
    * Shape: per-doc distinct shingles (narrow explode), one hash agg to
    * document frequency, filtered to df>1 — the duplicated-shingle set,
    * typically a small fraction of the vocabulary — then a LEFT join of
    * the (doc, shingle) pairs against that set and ONE per-doc agg
    * computing both the denominator (count) and the numerator (sum of
    * match flags). The df-filter is the pruning step: unique shingles
    * (the long tail) never enter the join build side. At 100 TB the join
    * key becomes xxhash64(shingle) as in [[contaminationCheck]]; kept as
    * the string here so the DuckDB oracle certifies exactly. */
  def dupShingleRatio(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(array_distinct(shingles(col("toks"), k))).as("s"))
    val dup = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select(col("s"), lit(1L).as("is_dup"))
    sh.join(dup, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles").cast("double"), 6)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Cross-language shared-shingle ratio — the translated/templated
    * boilerplate detector: for each document, the fraction of its
    * distinct word-k-shingles that also occur in at least one document of
    * a DIFFERENT language. Natural text shares almost nothing verbatim
    * across languages; a high ratio means untranslated template chrome,
    * code, or boilerplate riding inside multiple language buckets —
    * content that inflates every per-language statistic and double-counts
    * in per-lang dedup. The cross-lang twin of [[dupShingleRatio]].
    *
    * Shape: identical pruning argument to dupShingleRatio — the flag
    * frame is `count(DISTINCT lang) ≥ 2` per shingle (a hash agg whose
    * map-side distinct is bounded by |langs| per shingle), typically a
    * small fraction of the shingle vocabulary, so the LEFT join's build
    * side stays thin; a shingle seen in ≥2 languages is by definition
    * cross-shared for EVERY document holding it. */
  def crossLangShingleRatio(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(shingles(col("toks"), k))).as("s"))
    val multi = sh.groupBy("s").agg(countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_langs") >= 2).select(col("s"), lit(1L).as("is_x"))
    sh.join(multi, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_x"), lit(0L))).as("n_crosslang"))
      .select(col("doc_id"), col("n_shingles"), col("n_crosslang"),
        round(col("n_crosslang").cast("double") / col("n_shingles").cast("double"), 6)
          .as("xlang_ratio"))
      .orderBy("doc_id")
  }

  /** Repetition score — the boilerplate/degenerate-text quality signal
    * (fraction of repeated word-k-shingles): 1 - distinct/total shingles.
    * Template pages, keyboard mash, and copy-paste loops score high;
    * natural prose scores near 0. A narrow per-row projection (no shuffle,
    * no explode — the shingle arrays never leave the row), linear at any
    * scale. Tokens ride a named column for the HOF-CSE reason documented
    * on [[shingleStats]]. */
  def repetitionScore(docs: DataFrame, k: Int = 3): DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .withColumn("sh", shingles(col("toks"), k))
      .select(
        col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct_shingles"),
        round(lit(1.0) - size(array_distinct(col("sh"))).cast("double") /
          size(col("sh")).cast("double"), 6).as("repetition"))

  /** Vocabulary build: the top-`k` terms by document frequency with dense
    * 1-based token ids — the tokenizer-vocab / coverage-analysis front end.
    * Ties broken by term so the id assignment is total and deterministic.
    *
    * Scale shape: the heavy work is the per-doc-distinct explode + term
    * aggregation (map-side combined hash agg — the wordcount plan); the
    * top-k itself is `TakeOrdered` (per-partition heaps + a k-row driver
    * merge, never a global sort), and the id-assigning window runs over the
    * k surviving rows only — a bounded single partition by construction,
    * same rationale as the k-row driver merge it follows. */
  def vocabTopK(docs: DataFrame, k: Int = 100): DataFrame = {
    val terms = docs.select(explode(array_distinct(tokens(col("text")))).as("term"))
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val top = dfreq.orderBy(col("df").desc, col("term")).limit(k)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("df").desc, col("term"))
    top.withColumn("token_id", row_number().over(w).cast("long"))
      .select(col("token_id"), col("term"), col("df"))
  }

  /** Vocabulary coverage / OOV profiling: with [[vocabTopK]]'s top-`k`
    * terms as the vocabulary, the fraction of each document's token
    * OCCURRENCES the vocabulary covers — the tokenizer-coverage statistic
    * that decides whether a vocab is big enough for a corpus (1 - coverage
    * = OOV rate).
    *
    * Shape: the vocabulary is k rows — broadcast to the exploded token
    * stream (a broadcast hash join, never a shuffle of the corpus), then
    * one per-doc agg with map-side combine. The heavy operand moves once;
    * the plan scales with the token count linearly. */
  def vocabCoverage(docs: DataFrame, k: Int = 100): DataFrame = {
    val vocab = vocabTopK(docs, k).select(col("term"), lit(1L).as("in_vocab"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_tokens").cast("double"), 6)
          .as("coverage"))
  }

  /** N-gram vocabulary: [[vocabTopK]] generalized to word n-grams — the
    * top-`k` n-grams by document frequency with dense 1-based ids (the
    * phrase-vocabulary / collocation front end). Same scale shape as the
    * unigram form: per-doc-distinct explode into a map-side-combined hash
    * agg, `TakeOrdered` top-k (never a global sort), id window over k rows
    * only. Tokens ride a named column for the HOF-CSE reason documented on
    * [[shingleStats]]. */
  def ngramVocab(docs: DataFrame, n: Int = 2, k: Int = 100): DataFrame = {
    val grams = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= n)
      .select(explode(array_distinct(shingles(col("toks"), n))).as("gram"))
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val top = dfreq.orderBy(col("df").desc, col("gram")).limit(k)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("df").desc, col("gram"))
    top.withColumn("gram_id", row_number().over(w).cast("long"))
      .select(col("gram_id"), col("gram"), col("df"))
  }

  /** Token frequency spectrum (frequency-of-frequencies): how many distinct
    * terms occur exactly `occurrences` times in the corpus — the Zipf
    * diagnostic that sizes vocabularies and Good-Turing smoothing, and the
    * cheapest corpus-drift fingerprint between crawls. Two hash aggs: the
    * wordcount (heavy, map-side combined) and the count-of-counts over one
    * row per distinct term (tiny). The output is at most #distinct
    * frequencies — always driver-safe. */
  def tokenSpectrum(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("occ"))
      .groupBy("occ").agg(count(lit(1)).as("n_terms"))
      .select(col("occ").as("occurrences"), col("n_terms"))

  /** Unigram cross-entropy quality score: each document's mean token
    * log-probability under the corpus unigram distribution — the
    * perplexity-style fluency/outlier filter (garbage and off-distribution
    * documents score very negative). Two passes: the corpus wordcount
    * (map-side-combined hash agg + a 1-row total), then per-document term
    * frequencies joined to their probabilities and reduced as Σ tf·ln p.
    *
    * Skew/scale shape (the [[tfIdfTopK]] rule): the `term` join operates on
    * the PRE-AGGREGATED (doc_id, term, tf) frame, not the exploded
    * token-occurrence stream — so when the vocabulary-sized `wc` frame is
    * small enough to broadcast (any real vocabulary; AQE picks this up),
    * the heavy side never shuffles at all, and when a pathological
    * vocabulary does force a shuffle-hash join, the shuffled rows are
    * distinct (doc, term) pairs, not token occurrences: a Zipf-skewed term
    * like "the" contributes one row per document instead of one row per
    * occurrence, so the hot-key funnel collapses map-side at the tf
    * aggregation (keyed on (doc_id, term) — never skewed) before any
    * term-keyed movement happens.
    *
    * Cross-engine exactness: each term's `ln(n_tok / N)` is one IEEE
    * divide + one `ln` (bit-identical libm results — verified for ln on
    * these engines); the per-document sum is Σ tf·lp computed in exact
    * decimal arithmetic — lp cast to DECIMAL(28,12) then multiplied by the
    * integer tf (decimal × integer is exact), so it equals the
    * per-occurrence sum the oracle computes, term for term, and partition
    * order can't perturb it (the [[graft.relational.Queries.dsum]] rule).
    * The final mean is one double divide, rounded 6dp. Every token in the
    * corpus has n ≥ 1 — the probability is never 0, the log never -inf. */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val wc = tf.groupBy("term").agg(sum(col("tf")).as("n_tok"))
    val total = wc.agg(sum(col("n_tok")).as("n_total"))
    val lp = ln(col("n_tok").cast("double") / col("n_total").cast("double"))
    tf.join(wc, "term").crossJoin(broadcast(total))
      .groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        sum(lp.cast(org.apache.spark.sql.types.DecimalType(28, 12)) *
            col("tf").cast(org.apache.spark.sql.types.DecimalType(9, 0)))
          .cast("double").as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lp") / col("n_tokens").cast("double"), 6).as("avg_logprob"))
  }

  /** Per-document average bigram log-likelihood under the corpus bigram LM
    * with add-1 (Laplace) smoothing: avg over a doc's (w_{i-1}, w_i) pairs
    * of ln((c(a,b) + 1) / (c(a) + V)) — the first-order upgrade of
    * [[unigramLogprob]]'s bag model, sensitive to word ORDER (scrambled
    * text scores low even when its unigrams are common; the perplexity
    * filter CCNet's 5-gram LM approximates). Docs with < 2 tokens have no
    * bigrams and are absent.
    *
    * Determinism: each ln passes through DECIMAL(28,12) before the sum
    * (the q119 rule) so the reduction is order-independent and the 12dp
    * quantization absorbs last-ulp libm differences across engines.
    * Shape: bigram explode → two hash aggs (c_ab, then c_a derived from
    * c_ab — never a second corpus pass) → equi-joins back + a 1-row
    * vocab-size broadcast. All map-side-combining aggs; bigram volume ≈
    * token volume, never V². */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val toks = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
    val bg = toks.select(col("doc_id"),
        explode(transform(sequence(lit(2), size(col("toks"))),
          i => struct(element_at(col("toks"), i - 1).as("a"),
            element_at(col("toks"), i).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("a").agg(sum(col("c_ab")).as("c_a"))
    val vocab = docs.select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    bg.join(cab, Seq("a", "b")).join(ca, "a").crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("c_ab") + lit(1.0)) / (col("c_a") + col("v")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double").as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_lp") / col("n_bigrams").cast("double"), 6).as("avg_logprob"))
  }

  /** DoReMi-style one-step domain reweighting (q265) — the
    * excess-loss exponentiated-gradient update of Xie et al. 2023
    * ("DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"), certified at ONE unrolled step (the q94/q121/q259
    * finite-unroll idiom; the full algorithm loops this update while
    * retraining the proxy): per source, token-weighted mean bigram NLL
    * under the q189 corpus LM stands in for the proxy-model loss, the
    * corpus-wide mean is the reference, and the new mixture weight is
    * w'_s ∝ w_s · exp(η · excess_s), normalized — sources whose text the
    * LM finds HARDER than average gain weight.
    *
    * Determinism: per-bigram ln() quantizes to DECIMAL(28,12) before the
    * per-source sums (the q119/q189 rule), the exp() scores quantize to
    * DECIMAL(30,18) before the normalizing sum (the q219 rule — the
    * reduction is order-independent and last-ulp libm differences are
    * absorbed by the final 6dp rounding), and every count is an exact
    * integer. Shape: the q189 bigram plan grouped by source instead of
    * doc (same two hash aggs + equi-joins), then K-row frames with 1-row
    * broadcast crosses. */
  def doremiStep(docs: DataFrame, eta: Double = 1.0): DataFrame = {
    val dec2812 = org.apache.spark.sql.types.DecimalType(28, 12)
    val toks = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
    val bg = toks.select(col("source"),
        explode(transform(sequence(lit(2), size(col("toks"))),
          i => struct(element_at(col("toks"), i - 1).as("a"),
            element_at(col("toks"), i).as("b")))).as("p"))
      .select(col("source"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("a").agg(sum(col("c_ab")).as("c_a"))
    val vocab = docs.select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val scored = bg.join(cab, Seq("a", "b")).join(ca, "a")
      .crossJoin(broadcast(vocab))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("c_ab") + lit(1.0)) / (col("c_a") + col("v")))
          .cast(dec2812)).as("lp"))
    val tot = scored.agg(sum("n_bigrams").as("n_all"), sum("lp").as("lp_all"))
    val loss = -col("lp").cast("double") / col("n_bigrams").cast("double")
    val lossAll = -col("lp_all").cast("double") / col("n_all").cast("double")
    val share = col("n_bigrams").cast("double") / col("n_all").cast("double")
    val base = scored.crossJoin(broadcast(tot))
      .select(col("source"), col("n_bigrams"), loss.as("loss"),
        (loss - lossAll).as("excess"), share.as("w_old"),
        (share * exp(lit(eta) * (loss - lossAll)))
          .cast(DecimalType(30, 18)).as("score"))
    val z = base.agg(sum("score").as("z"))
    base.crossJoin(broadcast(z))
      .select(col("source"), col("n_bigrams"),
        round(col("loss"), 6).as("loss"),
        round(col("excess"), 6).as("excess"),
        round(col("w_old"), 6).as("weight_old"),
        round(col("score").cast("double") / col("z").cast("double"), 6)
          .as("weight_new"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    * split each language's documents into head/middle/tail terciles by
    * language-model score — CCNet keeps head+middle and drops tail; here
    * the LM is the corpus unigram model ([[unigramLogprob]]) and the
    * output is the per-(lang, bucket) profile a curation pipeline
    * thresholds on. Tercile = ntile(3) over (avg_logprob DESC, doc_id) —
    * rank-based, so both engines agree exactly (ntile's group sizes are
    * the standard earlier-groups-larger split).
    *
    * The per-lang ntile is a per-language sort — fine while each
    * language's doc list fits a sort spill; the 100 TB path replaces the
    * window with approx_percentile cutpoints per lang (two fixed
    * boundaries, join + compare — no global sort), trading the exact
    * tercile edge for constant memory. Bucket stats are min/max/count/sum
    * — order-independent, no double summation. */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("avg_logprob").desc, col("doc_id"))
    unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("t", ntile(3).over(w))
      .groupBy(col("lang"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        round(min("avg_logprob"), 6).as("min_lp"),
        round(max("avg_logprob"), 6).as("max_lp"))
      .orderBy("lang", "bucket")
  }

  /** Log2-bucketed length histogram per lang: bucket = ⌊log2 n_chars⌋
    * computed as binary-digit count (pure integer arithmetic — a libm
    * log2 could drift a ulp exactly at the power-of-two boundaries where
    * the floor flips). One map-side-combined hash agg over ≤ 64 buckets
    * per lang. */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        (length(conv(col("n_chars"), 10, 2)) - 1).cast("long").as("bucket"),
        col("n_chars"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Email-address shape shared by Java regex and RE2 (no backrefs or
    * lookaround, so Spark and the oracle match the same spans). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (≥4) — the phone/SSN/account-number catch-all. */
  val longDigitPattern = "[0-9]{4,}"

  /** PII redaction — the scrubbing pass a corpus runs before anything is
    * retained: replace email addresses with `<EMAIL>` (first, so their
    * digits are gone) then long digit runs with `<NUM>`, and report match
    * counts (counted on the ORIGINAL text — the audit numbers) plus the
    * digest of the redacted text. A narrow per-row projection of codegen'd
    * regexp built-ins — no shuffle, linear at any scale. Both patterns sit
    * in the Java-regex ∩ RE2 dialect so the oracle replaces identical
    * spans; on a clean corpus the oracle degenerates to "no false
    * positives" (digest equals the original's), and RedactionSpec pins the
    * positive path on a synthetic fixture. */
  def redactPii(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(col("text"), emailPattern, "<EMAIL>"),
      longDigitPattern, "<NUM>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailPattern), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(longDigitPattern), lit(0))).cast("long")
        .as("n_long_digit_runs"),
      md5(redacted).as("redacted_md5"))
  }

  /** Per-source token-distribution shift: KL(P_source ‖ P_corpus) — the
    * mixture-monitoring statistic that flags a source drifting from the
    * corpus mix (0 = indistinguishable; every source term also appears in
    * the corpus distribution by construction, so the divergence is always
    * finite). Shape: one (source, term) hash agg (map-side combined), a
    * term-level join against the corpus distribution (vocabulary-sized —
    * broadcastable for real vocabularies), and a per-source sum.
    *
    * The per-term contribution P·ln(P/Q) is a double — identical on both
    * engines given the identical expression tree — but a SUM of doubles is
    * addition-order-dependent, so contributions are cast to
    * DECIMAL(30,18) first: decimal addition is exact and commutative,
    * making the aggregate independent of partitioning (the repo-standard
    * order-independent-sum trick, cf. q01's revenue decimals). */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val termCounts = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val srcTotals = termCounts.groupBy("source").agg(sum("tf").as("n_src"))
    val corpus = termCounts.groupBy("term").agg(sum("tf").as("ctf"))
    val corpusTotal = corpus.agg(sum("ctf").as("n_corpus"))
    val p = col("tf").cast("double") / col("n_src").cast("double")
    val q = col("ctf").cast("double") / col("n_corpus").cast("double")
    termCounts
      .join(srcTotals, "source")
      .join(corpus, "term")
      .crossJoin(broadcast(corpusTotal))
      .select(col("source"), (p * log(p / q)).cast("decimal(30,18)").as("contrib"))
      .groupBy("source").agg(
        round(sum(col("contrib")).cast("double"), 6).as("kl_divergence"))
  }

  /** TF-IDF top-k terms per document — the classic distinctive-term scoring
    * a curation pipeline uses for topic profiling and boilerplate
    * detection. Shape: the wordcount explode+groupBy (map-side combined)
    * for term frequency, a vocabulary-sized aggregation for document
    * frequency (joined back on `term` — broadcastable for real
    * vocabularies), the corpus size as a broadcast 1-row crossJoin, and a
    * per-document window for the top-k (partition key count scales with
    * the corpus, so no funnel). Score = tf · ln(N/df) with the natural-log
    * arithmetic identical on both engines; ties broken by term so the
    * ranking is total and deterministic. */
  def tfIdfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(total))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  /** Zipf-law fit over the corpus bigram spectrum: OLS slope/intercept of
    * ln(freq) against ln(rank) for the top `topN` bigrams (rank by freq
    * desc, bigram asc — a total order, so both engines pick and number the
    * same rows). The slope is the corpus's Zipf exponent (natural text
    * ≈ −1; synthetic/templated corpora flatten toward 0) — a one-number
    * naturalness check a curation pipeline runs per source or per crawl.
    *
    * Bigrams rather than unigrams because a unigram fit over this
    * fixture's ~31-word vocabulary has no tail to regress on; for a real
    * corpus both spectra work (the operator takes the frame it's given).
    *
    * Determinism: ln() is bit-identical cross-engine; the four OLS moments
    * Σx, Σy, Σxy, Σx² ride DECIMAL(38,18) so partial-aggregation order
    * can't move a ulp (the repo's order-independent-sum rule); the final
    * slope/intercept are a handful of double ops rounded to 6dp. The
    * aggregation input is topN rows — a single-partition window feeding a
    * scalar agg, negligible next to the corpus-wide bigram count that
    * precedes it (map-side combined, the q110 shape). */
  def zipfSlope(docs: DataFrame, topN: Int = 100): DataFrame = {
    val bg = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(explode(shingles(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
    // Top-N via orderBy+limit (TakeOrderedAndProject — per-partition heaps,
    // never a global sort of the vocabulary); the rank window then runs
    // over ≤ topN rows. Ranking the full frame and filtering rank <= topN
    // would funnel the entire bigram vocabulary through one window
    // partition — same result, unbounded plan.
    val top = bg.orderBy(col("n").desc, col("bigram")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("bigram"))
    val ranked = top.withColumn("rank", row_number().over(w).cast("long"))
      .select(log(col("rank").cast("double")).as("x"), log(col("n").cast("double")).as("y"))
    val d = (c: Column) => c.cast(DecimalType(38, 18))
    // Moments summed in decimal (order-independent), then ONE cast to
    // double each before the slope arithmetic: decimal division/product
    // rounding rules differ across engines, double ops don't.
    val moments = ranked.agg(
      count(lit(1)).as("n_points"),
      sum(d(col("x"))).cast("double").as("sx"), sum(d(col("y"))).cast("double").as("sy"),
      sum(d(col("x") * col("y"))).cast("double").as("sxy"),
      sum(d(col("x") * col("x"))).cast("double").as("sxx"))
    val np = col("n_points").cast("double")
    val slope = (np * col("sxy") - col("sx") * col("sy")) /
      (np * col("sxx") - col("sx") * col("sx"))
    moments.select(col("n_points"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / np, 6).as("intercept"))
  }

  /** Per-source Shannon entropy of the unigram distribution — the
    * diversity statistic curation dashboards track per source/crawl (a
    * collapsing-entropy source is templated or looping output). Computed
    * as H = ln(T) − (Σ n·ln n)/T over per-term counts n and source total
    * T: per-term ln(n) is one bit-identical libm call, n·ln(n) rides the
    * exact decimal×integer product (the q119 rule) so the source sum is
    * order-independent, and the corpus-scale work is one (source, term)
    * hash agg, map-side combined — no joins at all. */
  def sourceEntropy(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
      .groupBy("source").agg(
        sum(col("n")).as("n_tokens"),
        sum(log(col("n").cast("double")).cast(DecimalType(28, 12)) *
          col("n").cast(DecimalType(9, 0))).as("snln"))
      .select(col("source"), col("n_tokens"),
        round(log(col("n_tokens").cast("double")) -
          (col("snln").cast("double") / col("n_tokens").cast("double")), 6)
          .as("entropy"))

  /** [[sourceEntropy]] at the (ingestion-batch, source) grain — the
    * curation-dashboard TIME-SERIES form: a collapsing entropy in one
    * batch of one source flags the specific dump that went templated,
    * where the corpus-level q128 number only drifts. The batch key is a
    * REAL event-time tumbling window over the derived ingestion clock
    * ([[Ingest]]): `window(ingest_ts, "batchSize seconds")` — the exact
    * grouping a pipeline with a native ingest_ts column runs — with the
    * batch ordinal recovered from the window start (losslessly; see
    * [[Ingest.batchIndex]]), so the output schema and the arrival-order
    * oracle (`doc_id // batchSize`) are unchanged. Same single (batch,
    * source, term) hash agg → rollup shape as [[sourceEntropy]]; the
    * grain multiplies group count, not data volume, and both aggs stay
    * map-side combinable. */
  def sourceEntropyByBatch(docs: DataFrame, batchSize: Long = 100L): DataFrame =
    docs.select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
        col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"),
        col("source"), col("term")).agg(count(lit(1)).as("n"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("ingest_batch"),
        col("source"), col("term"), col("n"))
      .groupBy("ingest_batch", "source").agg(
        sum(col("n")).as("n_tokens"),
        sum(log(col("n").cast("double")).cast(DecimalType(28, 12)) *
          col("n").cast(DecimalType(9, 0))).as("snln"))
      .select(col("ingest_batch"), col("source"), col("n_tokens"),
        round(log(col("n_tokens").cast("double")) -
          (col("snln").cast("double") / col("n_tokens").cast("double")), 6)
          .as("entropy"))

  /** [[typeTokenRatio]] at the (ingestion-batch, source) grain — the
    * companion time-series diagnostic to [[sourceEntropyByBatch]] (same
    * real-window batch key contract; same one-hash-agg shape). */
  def typeTokenRatioByBatch(docs: DataFrame, batchSize: Long = 100L): DataFrame =
    docs.select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
        col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"),
        col("source"), col("term")).agg(count(lit(1)).as("n"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("ingest_batch"),
        col("source"), col("term"), col("n"))
      .groupBy("ingest_batch", "source").agg(
        sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"))
      .select(col("ingest_batch"), col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))

  /** Incremental corpus stats by partial-merge (q205) — the BACKFILL
    * design certified: per-source token and type counts computed by
    * rolling up per-ingest-batch PARTIALS (the (batch, source, term)
    * grain a real pipeline persists per increment), not by scanning the
    * corpus flat. The point at 100 TB: when one batch is re-crawled, the
    * pipeline re-derives THAT batch's partial and re-merges — this query
    * is the re-merge path, and its hash equality with the direct oracle
    * proves the decomposition is exact for both the sum-mergeable stat
    * (n_tokens) and the set-mergeable one (n_types — term-grain partials
    * merge by key, never by adding distinct counts, which do not add).
    * Batch grain = the real event-time window over the derived ingestion
    * clock (the [[Ingest]] contract). */
  def incrementalSourceStats(docs: DataFrame, batchSize: Long = 100L): DataFrame = {
    val partials = docs
      .select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
        col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"),
        col("source"), col("term"))
      .agg(count(lit(1)).as("n"))
    partials
      .groupBy("source", "term").agg(sum(col("n")).as("n_term"))
      .groupBy("source").agg(
        sum(col("n_term")).as("n_tokens"),
        count(lit(1)).as("n_types"))
      .select(col("source"), col("n_tokens"), col("n_types"))
  }

  /** Melt the per-document counting metrics to long (doc_id, metric,
    * value) form — `Dataset.unpivot`, the relational UNPIVOT/MELT
    * operator (the inverse of q108's pivot). Unpivot is a local Expand —
    * each row fans out to its three metric rows map-side, no shuffle, no
    * UNION-of-scans (the oracle runs the UNION ALL form; equality
    * certifies the single-scan rewrite). */
  def tokenStatsLong(docs: DataFrame): DataFrame =
    tokenStats(docs)
      .select(col("doc_id"), col("n_tokens"), col("n_chars_obs"), col("n_alpha_chars"))
      .unpivot(Array(col("doc_id")),
        Array(col("n_tokens"), col("n_chars_obs"), col("n_alpha_chars")),
        "metric", "value")

  /** Token-budget planning curve: documents ranked best-first by the
    * [[unigramLogprob]] naturalness score (ties → doc_id), with the
    * cumulative token count — "take documents in quality order until the
    * training budget is hit" as one frame (read the rank where
    * cum_tokens crosses the budget). The running sum is integer (token
    * counts), so the curve is engine-exact at every rank.
    *
    * Scale shape — the [[graft.llmdata.Curation.packSequences]] two-phase
    * prefix sum applied to a corpus-wide total order (which has no
    * pre-existing shard key, so one is derived from the score itself):
    *
    *  1. Bucket by a monotone coarsening of the sort key:
    *     `bucket = ⌊−avg_logprob · bucketScale⌋`. Higher scores map to
    *     lower buckets, and equal (pre-rounded) scores can never straddle
    *     a bucket boundary, so bucket order refines to exactly the
    *     (score desc, doc_id) total order.
    *  2. Intra-bucket rank + running token sum: a window PARTITIONED by
    *     bucket — each partition holds one score stratum, so the
    *     document-scale work parallelizes with the data (no
    *     single-partition frame anywhere in the plan; the spec pins
    *     this via WindowExec.partitionSpec).
    *  3. Bucket offsets (rows and tokens preceding each bucket): the
    *     per-bucket summary is one row per OCCUPIED bucket — bounded by
    *     score-range · bucketScale, a config constant, not the corpus —
    *     and is cumulated with a broadcast triangular self-join
    *     (b.bucket < a.bucket) instead of a global window, keeping even
    *     the tiny centralized step off the single-partition path. O(B²)
    *     pairs at B ≈ a few hundred is noise; the join is whitelisted in
    *     PlanLintSpec like the other deliberate tiny-side crosses.
    *  4. `rank = row_offset + local_rank`,
    *     `cum_tokens = token_offset + local_cum` — pure integer adds,
    *     bit-identical to the sequential window for any bucketScale
    *     (TextAnalysisSpec pins parity against
    *     [[tokenBudgetCurveWindow]], the q84 pattern).
    *
    * `bucketScale` only tunes parallelism granularity: larger → more,
    * smaller buckets. Skew bound: one bucket holds at most the documents
    * within a 1/bucketScale score band (pathological only if the corpus
    * has a point mass of identical scores — which is itself a dedup
    * signal upstream of budgeting). */
  def tokenBudgetCurve(docs: DataFrame, bucketScale: Double = 64.0): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val scored = unigramLogprob(docs)
      .withColumn("bucket", floor(-col("avg_logprob") * bucketScale).cast("long"))
    val wIntra = W.partitionBy("bucket").orderBy(col("avg_logprob").desc, col("doc_id"))
    val intra = scored
      .withColumn("local_rank", row_number().over(wIntra).cast("long"))
      .withColumn("local_cum",
        sum(col("n_tokens")).over(wIntra.rowsBetween(W.unboundedPreceding, 0)))
    // Grouping key equals the window partitioning key, so this agg reuses
    // the phase-2 exchange — no extra shuffle of document rows.
    val perBucket = intra.groupBy("bucket")
      .agg(count(lit(1)).as("b_rows"), sum(col("n_tokens")).as("b_tokens"))
    val offsets = perBucket.as("a")
      .join(broadcast(perBucket.as("b")), col("b.bucket") < col("a.bucket"), "left")
      .groupBy(col("a.bucket").as("bucket"))
      .agg(coalesce(sum(col("b.b_rows")), lit(0L)).as("row_offset"),
        coalesce(sum(col("b.b_tokens")), lit(0L)).as("tok_offset"))
    intra.join(offsets, Seq("bucket"))
      .select((col("row_offset") + col("local_rank")).as("rank"),
        col("doc_id"), col("avg_logprob"), col("n_tokens"),
        (col("tok_offset") + col("local_cum")).as("cum_tokens"))
  }

  /** The sequential single-window form of [[tokenBudgetCurve]] — one
    * corpus-wide running-sum frame, the textbook shape that streams the
    * entire ranked corpus through one partition. Kept as the
    * parity/teaching baseline the distributed form is tested against
    * (TextAnalysisSpec), mirroring
    * [[graft.llmdata.Curation.packSequencesWindow]]. */
  def tokenBudgetCurveWindow(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val scored = unigramLogprob(docs)
    val w = W.orderBy(col("avg_logprob").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(w.rowsBetween(W.unboundedPreceding, 0)))
      .select(col("rank"), col("doc_id"), col("avg_logprob"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** Per-document novelty: the fraction of a document's DISTINCT bigrams
    * whose first appearance (min doc_id over the corpus) is this document
    * — an incremental-contribution score under ingestion order. A
    * near-duplicate of an earlier document scores ~0, boilerplate-heavy
    * docs score low, genuinely new content scores high; curation uses it
    * to rank an incoming dump's marginal value. Shape: one distinct
    * (doc, bigram) projection, a bigram-keyed min agg (the first-seen
    * index, map-side combined), one join back on the bigram, and a
    * per-doc count ratio — integers plus a single divide. */
  def docNovelty(docs: DataFrame): DataFrame = {
    val bg = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(array_distinct(shingles(col("toks"), 2))).as("bigram"))
    val firstSeen = bg.groupBy("bigram").agg(min(col("doc_id")).as("first_doc"))
    bg.join(firstSeen, "bigram")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("novelty"))
  }

  /** Per-source type-token ratio (the Heaps'-law point estimate): distinct
    * terms vs total tokens. A collapsing TTR flags templated or looping
    * output — the companion diagnostic to [[sourceEntropy]]. One
    * (source, term) hash agg feeding a source-level rollup: n_types is a
    * COUNT over the agg (exact distinct without a distinct-shuffle),
    * n_tokens its sum. */
  def typeTokenRatio(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
      .groupBy("source").agg(
        sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))

  /** Top-k bigram PMI — the collocation detector vocabulary construction
    * and tokenizer-merge audits read (a high-PMI pair is a unit the
    * tokenizer should learn; a LOW-PMI high-count pair is boilerplate
    * glue). PMI = ln( p(ab) / (p(a)·p(b)) ) with p from corpus unigram and
    * bigram totals; pairs below `minCount` are noise-floored out BEFORE
    * the expensive join (the classic count-then-threshold order), and the
    * top-k rides orderBy+limit (TakeOrderedAndProject — the zipfSlope
    * lesson, never a full-corpus rank). Two hash aggs + two equi-joins
    * against the unigram counts + two 1-row broadcast totals; ordering is
    * on the ROUNDED pmi (ties → bigram) so the oracle's order is
    * reproduced exactly. */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("toks"))
    val uc = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n1 = uc.agg(sum(col("c")).as("n1"))
    val bg = toks.filter(size(col("toks")) >= 2)
      .select(explode(shingles(col("toks"), 2)).as("bigram"))
    val n2 = bg.agg(count(lit(1)).as("n2"))
    val bc = bg.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val parts = split(col("bigram"), " ")
    bc.withColumn("w_a", parts.getItem(0)).withColumn("w_b", parts.getItem(1))
      .join(uc.select(col("w").as("w_a"), col("c").as("c_a")), "w_a")
      .join(uc.select(col("w").as("w_b"), col("c").as("c_b")), "w_b")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("bigram"), col("c_ab"),
        round(log((col("c_ab").cast("double") / col("n2").cast("double")) /
          ((col("c_a").cast("double") / col("n1").cast("double")) *
           (col("c_b").cast("double") / col("n1").cast("double")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(k)
  }

  /** Keyword retrieval scoring — the search primitive over the corpus: for
    * a fixed query-term set, score every matching document by
    * Σ tf(term, doc) · ln(N / df(term)) (classic TF-IDF with raw tf) and
    * return the top-k. The query terms are a broadcast frame joined into
    * the (doc, term, tf) aggregate — the inverted-index probe shape: only
    * postings of the query terms ever leave the scan, so cost scales with
    * the query's posting lists, not the corpus. Per-term weights are one
    * ln each (bit-identical libm); the per-doc sum rides the
    * decimal×integer product (the q119 rule) so it is order-independent;
    * top-k is orderBy+limit on the ROUNDED score (ties → doc_id). */
  def tfidfSearch(docs: DataFrame,
      terms: Seq[String] = Seq("spark", "shuffle", "hash"), k: Int = 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val q = docs.sparkSession.createDataFrame(terms.map(Tuple1(_))).toDF("term")
    tf.join(broadcast(q), "term").join(df, "term").crossJoin(broadcast(n))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_matched"),
        sum(col("tf").cast(DecimalType(9, 0)) *
          log(col("n").cast("double") / col("df").cast("double"))
            .cast(DecimalType(28, 12))).cast("double").as("score"))
      .select(col("doc_id"), col("n_matched"), round(col("score"), 6).as("score"))
      .orderBy(round(col("score"), 6).desc, col("doc_id")).limit(k)
  }

  /** Okapi BM25 ranking (Robertson & Walker's probabilistic weighting, the
    * default lexical scorer of every production search stack) for a fixed
    * query-term probe — [[tfidfSearch]]'s retrieval shape with the two
    * refinements BM25 adds: tf SATURATION (k1 — a term's 50th occurrence
    * adds almost nothing) and LENGTH NORMALIZATION (b — long documents
    * don't win by volume). idf is the Lucene-style ln(1 + (N-df+0.5)/
    * (df+0.5)), positive for any df.
    *
    * Same scale shape as [[tfidfSearch]]: the tiny query frame broadcasts
    * into the (doc, term, tf) aggregate so only query-term postings
    * survive the scan; per-doc length joins on doc_id; the two corpus
    * scalars (N, avgdl) ride a broadcast 1-row crossJoin. Cross-engine
    * exactness: every per-(doc,term) score is ONE double expression over
    * exact integers and the shared avgdl scalar — identical operand order
    * in both engines — then cast to DECIMAL(28,12) so the ≤|query|-term
    * per-doc sum is order-independent; top-k ranks by the ROUNDED score
    * with doc_id tiebreak (the q154/q158 rule). */
  def bm25Search(docs: DataFrame,
      terms: Seq[String] = Seq("spark", "shuffle", "hash"),
      k1: Double = 1.2, b: Double = 0.75, k: Int = 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    val consts = docs.agg(count(lit(1)).as("n"),
      (sum(size(tokens(col("text"))).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    val q = docs.sparkSession.createDataFrame(terms.map(Tuple1(_))).toDF("term")
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val scoreT = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    tf.join(broadcast(q), "term").join(df, "term").join(dl, "doc_id")
      .crossJoin(broadcast(consts))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_matched"),
        sum(scoreT.cast(DecimalType(28, 12))).cast("double").as("score"))
      .select(col("doc_id"), col("n_matched"), round(col("score"), 6).as("score"))
      .orderBy(round(col("score"), 6).desc, col("doc_id")).limit(k)
  }

  /** Per-source Pearson correlation between character length and token
    * count — the metadata-consistency audit of a corpus profile: a source
    * whose n_chars decouples from its real token count has broken
    * metadata, mixed scripts, or stuffing (exactly the columns quota and
    * mixture decisions key on). Computed from the five exact-integer
    * moment sums (n, Σx, Σy, Σxy, Σx², Σy² — one map-side-combined hash
    * agg, BIGINT-exact at any corpus size that fits a long), with ONE
    * double expression at the end:
    * (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²) · √(nΣy²−(Σy)²)) — identical operand
    * order in both engines, so the rounded value is engine-exact (the
    * reason this is not `corr()`: both engines implement single-pass
    * covariance over DOUBLES, whose accumulation order is
    * partition-dependent). */
  def sourceLengthTokenCorr(docs: DataFrame): DataFrame = {
    val t = docs.select(col("source"), col("n_chars").cast("long").as("x"),
      size(tokens(col("text"))).cast("long").as("y"))
    t.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n_docs"),
        round((col("n_docs") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n_docs") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n_docs") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("corr"))
      .orderBy("source")
  }

  /** Ranker agreement: overlap@k between the [[tfidfSearch]] and
    * [[bm25Search]] top lists for the same query — the regression gate a
    * search stack runs when swapping scorers (how much of the serving
    * top-k actually changes?). Emits, for each cutoff k, the two list
    * sizes, the intersection size, and the Jaccard of the two top-k sets.
    *
    * Both ranked lists are ≤ max(ks) rows by construction (the upstream
    * retrievals do the heavy lifting and already end in a top-k), so the
    * rank-assignment window and the cutoff crossJoin here run on
    * O(k)-row frames — driver-scale data, deliberately exempt from the
    * single-partition-window rule that applies to corpus-grain frames.
    * Ranks are recomputed from the ROUNDED scores with doc_id tiebreak
    * (the exact ordering the retrievals certify), so agreement is
    * engine-exact. */
  def rankerAgreement(docs: DataFrame, ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val t = tfidfSearch(docs, k = ks.max)
      .select(col("doc_id"), row_number().over(w).as("r_t"))
    val b = bm25Search(docs, k = ks.max)
      .select(col("doc_id"), row_number().over(w).as("r_b"))
    val kdf = docs.sparkSession.createDataFrame(ks.map(Tuple1(_))).toDF("k")
    t.join(b, Seq("doc_id"), "full")
      .crossJoin(broadcast(kdf))
      .groupBy("k")
      .agg(
        sum(when(col("r_t") <= col("k"), 1L).otherwise(0L)).as("n_tfidf"),
        sum(when(col("r_b") <= col("k"), 1L).otherwise(0L)).as("n_bm25"),
        sum(when(col("r_t") <= col("k") && col("r_b") <= col("k"), 1L)
          .otherwise(0L)).as("n_common"))
      .select(col("k").cast("long").as("k"), col("n_tfidf"), col("n_bm25"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_tfidf") + col("n_bm25") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("k")
  }

  /** Reciprocal-rank fusion of the [[tfidfSearch]] and [[bm25Search]]
    * lists (Cormack, Clarke & Buettcher, SIGIR 2009 — the standard
    * score-free way to merge rankers, used by every hybrid lexical+vector
    * search stack): rrf(d) = Σ_r 1/(K + rank_r(d)) over the rankers that
    * retrieved d, K = 60. Rank-based, so no score calibration is needed —
    * and cross-engine exact: each contribution is one double division,
    * a document has at most TWO contributions (addition of two doubles is
    * commutative, so even the sum is order-independent), absent ranks are
    * a 0 sentinel. Completes the retrieval suite: q158/q166 certify the
    * rankers, q172 their agreement, this their fusion.
    *
    * Same O(k)-row frames as [[rankerAgreement]] (the upstream retrievals
    * do the corpus-scale work), so the rank windows are driver-scale by
    * construction. */
  def rrfFusion(docs: DataFrame, k: Int = 20, kRrf: Int = 60,
      top: Int = 10): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val t = tfidfSearch(docs, k = k)
      .select(col("doc_id"), row_number().over(w).as("r_t"))
    val b = bm25Search(docs, k = k)
      .select(col("doc_id"), row_number().over(w).as("r_b"))
    val contrib = (r: Column) =>
      when(r > 0, lit(1.0) / (lit(kRrf.toDouble) + r.cast("double"))).otherwise(lit(0.0))
    t.join(b, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("r_t"), lit(0)).cast("long").as("r_tfidf"),
        coalesce(col("r_b"), lit(0)).cast("long").as("r_bm25"))
      .select(col("doc_id"), col("r_tfidf"), col("r_bm25"),
        round(contrib(col("r_tfidf")) + contrib(col("r_bm25")), 6).as("rrf"))
      .orderBy(round(contrib(col("r_tfidf")) + contrib(col("r_bm25")), 6).desc,
        col("doc_id"))
      .limit(top)
  }

  /** Per-source vocabulary-health profile — the term-distribution vitals a
    * corpus dashboard tracks per source: token and distinct-term counts,
    * hapax ratio (fraction of terms occurring exactly once — collapses
    * when a source is template spam), and the top term's share of all
    * tokens (spikes under keyword stuffing). All ratios are exact-integer
    * counts with one double division each (max is order-independent), so
    * the profile is engine-exact. Shape: one (source, term, tf) hash agg,
    * then one per-source roll-up — both map-side combined. */
  def vocabHealth(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("source").agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max("tf").as("max_tf"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        round(col("n_hapax").cast("double") / col("n_terms").cast("double"), 6)
          .as("hapax_ratio"),
        round(col("max_tf").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_term_share"))
      .orderBy("source")
  }

  /** Per-ingestion-batch length-distribution drift: the two-sample
    * Kolmogorov–Smirnov statistic between each batch's n_chars ECDF and
    * the REST of the corpus — the distribution-shift alarm a curation
    * dashboard hangs on every incoming dump (a KS spike means the new
    * batch's length profile changed: truncation bug, new content type,
    * crawler loop). Batch key = a real tumbling event-time window over the
    * derived ingestion clock (the [[sourceEntropyByBatch]] / [[Ingest]]
    * contract), ordinal-recovered so the oracle stays `doc_id // N`.
    *
    * Shape (no global window, no per-batch scan of the corpus): counts
    * per (batch, length) → a complete batch×length grid (both sides tiny:
    * #batches × #distinct lengths) → per-batch cumulative counts via a
    * window PARTITIONED by batch → and the corpus-wide cumulative at each
    * length recovered by SUMMING the per-batch cumulatives across the
    * complete grid (c_all(x) = Σ_b c_batch(b,x)) — the trick that avoids
    * any single-partition window. KS_b = max_x |c_b(x)/n_b −
    * (c_all(x)−c_b(x))/(N−n_b)|: exact integer counts into one identical
    * double expression per grid cell, max before round, so cross-engine
    * bit-equality holds (the q152 argument). */
  def lengthDriftKs(docs: DataFrame, batchSize: Long = 100L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // Real event-time tumbling window over the derived ingestion clock
    // (the [[Ingest]] contract); ordinal recovered losslessly for output.
    val d = docs.select(Ingest.ingestTs(col("doc_id")).as("ingest_ts"),
        col("n_chars"))
      .groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"),
        col("n_chars")).agg(count(lit(1)).as("cc"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("b"),
        col("n_chars"), col("cc"))
    // d is already one row per (batch, length) — the windowed pre-agg IS
    // the count frame; totals roll up from it without re-scanning docs.
    val cnt = d.select(col("b"), col("n_chars"), col("cc").as("c"))
    val batches = d.groupBy("b").agg(sum(col("cc")).as("n_b"))
    val ntot = d.agg(sum(col("cc")).as("n_tot"))
    val xs = d.select("n_chars").distinct()
    val grid = batches.crossJoin(broadcast(xs))
    val cum = grid.join(cnt, Seq("b", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("c_batch", sum(col("c")).over(W.partitionBy("b").orderBy("n_chars")))
    val call = cum.groupBy("n_chars").agg(sum(col("c_batch")).as("c_all"))
    cum.join(call, "n_chars").crossJoin(broadcast(ntot))
      .groupBy(col("b").as("ingest_batch"))
      .agg(round(max(abs(
        col("c_batch").cast("double") / col("n_b").cast("double") -
          (col("c_all") - col("c_batch")).cast("double") /
            (col("n_tot") - col("n_b")).cast("double"))), 6).as("ks_stat"))
  }

  /** Corpus profile at three grains in one pass — GROUPING SETS
    * ((lang, source), (lang), ()) — the "by language × source, by
    * language, grand total" report without three scans or a full CUBE's
    * unwanted (source)-only grain (q115 covers CUBE; this pins the
    * arbitrary-subset form). Spark expands grouping sets into a single
    * Expand + one hash agg — each input row fans out only to its three
    * grains map-side; no shuffle multiplier. Null grouping keys are
    * labeled "ALL" (the fixture has no null lang/source, so the label is
    * unambiguous), and `grouping_id` disambiguates grain membership the
    * same way on both engines (Spark's bit order matches DuckDB's
    * GROUPING(lang, source)). */
  def corpusGroupingSets(docs: DataFrame): DataFrame =
    docs.groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq()),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        grouping_id().cast("long").as("grain"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("grain"), col("n_docs"), col("sum_chars"))

  // ---- heavy hitters (q209) ---------------------------------------------

  /** Misra–Gries frequent-items summary as a mergeable typed Aggregator:
    * at most `k-1` counters; a row for a tracked term increments it, a row
    * for an untracked term either claims a free counter or decrements ALL
    * counters (one decrement round "spends" k occurrences, so a term's
    * undercount after N rows is at most N/k). The merge is the Agarwal et
    * al. mergeable-summaries rule — sum counters, subtract the k-th
    * largest combined count, drop non-positives — which preserves the same
    * N/k error bound, so partial summaries combine MAP-SIDE and the global
    * aggregation moves at most k-1 counters per partition regardless of
    * data volume: the sketch shape that finds heavy hitters over 100 TB in
    * one narrow pass, where an exact groupBy would shuffle the full term
    * universe.
    *
    * GUARANTEE (pinned in MisraGriesSpec): every term with true count
    * > N/k survives in the summary. WHICH low-count terms also survive
    * depends on partitioning — so the summary itself is a candidate set,
    * not a deterministic result; [[heavyHitters]] restores determinism by
    * exact-verifying the candidates. The immutable-Map buffer favors
    * clarity at the shipped k (decrement rounds are rare — they cost
    * k-1 updates but fire at most N/k times); a production tuning for
    * large k would use the open-addressed array layout KeepNSmallest
    * demonstrates. */
  final class MisraGries(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, Map[String, Long], Array[String]] {
    require(k >= 2, "k must be >= 2")
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], term: String): Map[String, Long] =
      b.get(term) match {
        case Some(c) => b.updated(term, c + 1L)
        case None if b.size < k - 1 => b.updated(term, 1L)
        case None => b.collect { case (t, c) if c > 1L => t -> (c - 1L) }
      }
    override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
      val comb = b2.foldLeft(b1) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (comb.size <= k - 1) comb
      else {
        // subtract the k-th largest count; at most k-1 strictly exceed it
        val d = comb.valuesIterator.toArray.sorted(Ordering[Long].reverse).apply(k - 1)
        comb.collect { case (t, c) if c - d > 0L => t -> (c - d) }
      }
    }
    override def finish(b: Map[String, Long]): Array[String] =
      b.keysIterator.toArray.sorted
    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      ExpressionEncoderHelper.stringLongMap
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[String]] =
      ExpressionEncoderHelper.stringArray
  }

  /** The MG candidate set over the whitespace-token stream — superset of
    * every term with frequency > 1/k (see [[MisraGries]]); membership of
    * rarer terms is partitioning-dependent. */
  def heavyHitterCandidates(docs: DataFrame, k: Int = 16): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(new MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    docs.select(explode(split(col("text"), " ")).as("term"))
      .agg(mg(col("term")).as("terms"))
      .select(explode(col("terms")).as("term"))
  }

  /** q209: deterministic heavy hitters — MG candidates exact-verified.
    * Because the sketch can never DROP a true heavy hitter, semi-joining
    * the exact term counts against the candidates and filtering
    * `n·k > N` yields EXACTLY the frequency-> 1/k term set — the result an
    * all-exact computation produces, which is what the DuckDB oracle
    * checks. At scale the exact counting runs only for candidate terms
    * (≤ k-1 of them) via the semi-join pushdown; the full-universe groupBy
    * here keeps the oracle's shape at fixture size. */
  def heavyHitters(docs: DataFrame, k: Int = 16): DataFrame = {
    val tok = docs.select(explode(split(col("text"), " ")).as("term"))
    val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("n_occurrences"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    counts.join(heavyHitterCandidates(docs, k), Seq("term"), "left_semi")
      .crossJoin(broadcast(total))
      .filter(col("n_occurrences") * k > col("n_total"))
      .select(col("term"), col("n_occurrences"))
  }

  /** Dataset card (q244) — the one-artifact corpus report an LLM data
    * release ships (HuggingFace dataset-card statistics block): corpus
    * size, token counts, vocabulary size, type–token ratio, hapax
    * ratio, exact-duplicate count, source count, mean document length,
    * and per-language shares, as a uniform (metric, value) frame every
    * metric of which is independently hash-certified elsewhere in the
    * registry. Three scans total — doc-grain aggregate, token-grain
    * aggregate, language shares — not one per metric; each branch is a
    * single hash agg, and the metric names for language shares derive
    * from the data (`lang_share_<lang>`), so the card adapts to the
    * corpus without code changes. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val base = docs.select(col("lang"), col("source"), md5(col("text")).as("tm"),
      size(tokens(col("text"))).cast("long").as("ntok"))
    val docGrain = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("ntok")).as("n_tokens"),
      countDistinct(col("tm")).as("n_distinct_texts"),
      countDistinct(col("source")).as("n_sources"))
      .select(expr("stack(5, " +
        "'n_docs', CAST(n_docs AS DOUBLE), " +
        "'n_tokens', CAST(n_tokens AS DOUBLE), " +
        "'exact_dup_docs', CAST(n_docs - n_distinct_texts AS DOUBLE), " +
        "'n_sources', CAST(n_sources AS DOUBLE), " +
        "'mean_doc_tokens', round(CAST(n_tokens AS DOUBLE) / n_docs, 6)" +
        ") AS (metric, value)"))
    val tf = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val tokGrain = tf.agg(count(lit(1)).as("n_types"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("n")).as("n_tok"))
      .select(expr("stack(3, " +
        "'n_types', CAST(n_types AS DOUBLE), " +
        "'hapax_ratio', round(CAST(n_hapax AS DOUBLE) / n_types, 6), " +
        "'type_token_ratio', round(CAST(n_types AS DOUBLE) / n_tok, 6)" +
        ") AS (metric, value)"))
    val total = base.agg(count(lit(1)).as("n_total"))
    val langShares = base.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .crossJoin(broadcast(total))
      .select(concat(lit("lang_share_"), col("lang")).as("metric"),
        round(col("n_lang").cast("double") / col("n_total"), 6).as("value"))
    docGrain.unionAll(tokGrain).unionAll(langShares)
  }

  /** Population stability index between two corpus cohorts (q219) — the
    * standard model-monitoring drift statistic: per source,
    * PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref) over fixed-width
    * document-length bins, with +0.5 Laplace smoothing (so a bin present
    * in only one cohort contributes a finite term instead of ±∞).
    * Cohorts here are the deterministic even/odd doc_id halves — the
    * engine-side shape is what matters: one conditional-count hash agg
    * builds BOTH cohort histograms in a single pass (a bin missing from
    * one cohort zero-fills for free — no join), the tiny per-source bin
    * frames close the formula, and per-bin contributions quantize to
    * DECIMAL(30,18) before the sum (the q100 KL rule) so the reduction
    * is order-independent. Fixed-width bins are the 100 TB choice:
    * quantile bins need a per-cohort percentile pass first. */
  def psiBySource(docs: DataFrame, binWidth: Int = 100): DataFrame = {
    require(binWidth >= 1)
    val binned = docs.select(col("source"),
      floor(col("n_chars") / binWidth).as("bin"),
      (col("doc_id") % 2 === 0).as("is_ref"))
    val perBin = binned.groupBy("source", "bin").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
      sum(when(col("is_ref"), 0L).otherwise(1L)).as("cc"))
    val perSrc = perBin.groupBy("source").agg(
      sum("cr").as("nr"), sum("cc").as("nc"), count(lit(1)).as("n_bins"))
    val pr = (col("cr").cast("double") + 0.5) /
      (col("nr").cast("double") + col("n_bins").cast("double") * 0.5)
    val pc = (col("cc").cast("double") + 0.5) /
      (col("nc").cast("double") + col("n_bins").cast("double") * 0.5)
    perBin.join(perSrc, "source")
      .select(col("source"), col("n_bins"),
        ((pc - pr) * log(pc / pr))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(30, 18))
          .as("contrib"))
      .groupBy("source", "n_bins")
      .agg(round(sum("contrib").cast("double"), 6).as("psi"))
      .select("source", "n_bins", "psi")
  }

  /** Count–min sketch with exact verification (q220) — the OTHER classic
    * mergeable frequency sketch next to Misra–Gries (q209): depth md5
    * hash rows × width buckets of summed counts; a term's point estimate
    * is the MIN over its depth counters and can only OVER-estimate
    * (collisions add, never subtract — the one-sided error bound that
    * makes CMS safe for "at least this frequent" gates). Counters build
    * from the term-frequency agg, not the raw token stream, so the
    * sketch pass touches |vocab| rows; the whole structure is
    * depth×width rows and broadcasts. The report joins the estimates
    * back to exact counts for the q209 heavy set — overcount per term is
    * the width-sizing diagnostic (ε = e/width of total mass, w.h.p.).
    * Entirely md5-keyed, so both engines derive identical buckets. */
  def countMinEstimates(docs: DataFrame, depth: Int = 4, width: Int = 64,
      k: Int = 32): DataFrame = {
    require(depth >= 1 && width >= 2)
    val tok = docs.select(explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("term").agg(count(lit(1)).as("n"))
    val hashed = tf.select(col("term"), col("n"),
        explode(array((0 until depth).map(lit(_)): _*)).as("r"))
      .withColumn("bucket", pmod(conv(substring(
        md5(concat(col("r").cast("string"), lit(":cms:"), col("term"))), 1, 15),
        16, 10).cast("long"), lit(width.toLong)))
    val counters = hashed.groupBy("r", "bucket").agg(sum("n").as("c"))
    val total = tf.agg(sum("n").as("n_total"))
    val heavy = tf.crossJoin(broadcast(total))
      .filter(col("n") * k > col("n_total"))
      .select(col("term"), col("n").as("exact_count"))
    heavy.join(hashed.select("term", "r", "bucket"), "term")
      .join(broadcast(counters), Seq("r", "bucket"))
      .groupBy("term", "exact_count")
      .agg(min("c").as("cms_estimate"))
      .select(col("term"), col("exact_count"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overcount"))
  }
}
