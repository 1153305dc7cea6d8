package graft.llmdata

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorOps

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>[64], label).
  *
  * Scale design: brute-force cosine top-k is the exact baseline — a
  * broadcast of the (small) query set against a full scan of the corpus,
  * no shuffle of the corpus itself, then a per-query top-k. The scale path
  * buckets candidates with random-hyperplane LSH so each query probes a
  * bucket instead of the corpus.
  */
object Similarity {

  /** Exact cosine top-k: queries = rows with vec_id < nQueries, ranked by
    * cosine rounded to 6dp (ties broken by candidate id — deterministic
    * across engines and FP summation orders). */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorOps.cosine(col("qe"), col("ce")), 6).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
  }

  /** Exact cosine-threshold self-join (near-duplicate pairs) as a
    * distributed block-pair equi-join.
    *
    * Why not LSH candidate generation + exact verify: an *exact* threshold
    * join must retrieve every pair at the boundary. On this corpus the
    * cosine distribution is isotropic noise (≈N(0, 1/√d); the minimum
    * qualifying pair at threshold 0.35 sits at 0.35008 with hundreds of
    * pairs within ±0.05), so any metric bucketing either misses boundary
    * pairs (loses exactness) or admits essentially all pairs (no pruning):
    * exact output on unstructured data is information-theoretically Ω(n²).
    * The scalable *approximate* path for clustered real-world corpora is
    * [[lshTopK]] (q46).
    *
    * What this fixes instead: the naive `a.join(b, va < vb)` theta join
    * executes as a BroadcastNestedLoopJoin — one broadcast of the whole
    * corpus and no shuffle parallelism. Here each vector gets a block id
    * (`vec_id mod numBlocks`); the driver-side block-pair table {(i,j): i≤j}
    * is broadcast onto both sides, and the n²/2 candidate pairs materialize
    * through a hash-partitioned equi-join on (bi, bj) — B(B+1)/2 join keys
    * spread evenly over the cluster, each task an (n/B)² micro cross
    * product. Per-vector norms are computed once (n, not n²) and each pair
    * costs exactly one codegen'd [[VectorOps.dot]].
    *
    * `scope` has no default: the Ω(n²) pair count makes input size an
    * explicit caller decision ([[PairScope]]) — pass
    * `PairScope.Unbounded` to deliberately run all pairs of the input.
    */
  def cosineNearDupPairs(emb: DataFrame, scope: PairScope,
      threshold: Double = 0.9, numBlocks: Int = 16): DataFrame = {
    val d = scope.bound(emb, "vec_id")
      .select(col("vec_id"), col("embedding"),
        sqrt(VectorOps.dot(col("embedding"), col("embedding"))).as("nrm"))
    // pinWidth: the exact dot over EVERY pair is the CPU-dense case the
    // pair-join width pin exists for (measured r22: 0.88 -> 0.62 s across
    // two full bench runs; the light-eval callers regressed and stay off).
    Pairs.blockedSelfPairs(d, "vec_id", numBlocks, pinWidth = true)
      .select(least(col("vec_id_a"), col("vec_id_b")).as("vec_a"),
        greatest(col("vec_id_a"), col("vec_id_b")).as("vec_b"),
        round(VectorOps.dot(col("embedding_a"), col("embedding_b")) /
          (col("nrm_a") * col("nrm_b")), 6).as("cosine"))
      .filter(col("cosine") > threshold)
  }

  /** Approximate NN via random-hyperplane (bucketed random projection) LSH
    * — the scale path: O(n) bucketing instead of O(n²) scoring. Euclidean
    * buckets on L2-normalized vectors ≈ cosine buckets. */
  def lshTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      bucketLength: Double = 2.0, numHashTables: Int = 4): DataFrame = {
    // Empty-corpus guard: MLlib's LSH fit reads the first row to size its
    // hyperplanes and throws on zero rows; an empty corpus means an empty
    // (but well-typed) result. The head(1) probe is one limit-1 task —
    // noise next to the fit that follows.
    if (emb.head(1).isEmpty) {
      val spark = emb.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "cand_id", "cosine_approx", "rank")
    }
    val normed = emb.select(col("vec_id"), col("label"),
      array_to_vector(VectorOps.scale(col("embedding"),
        lit(1.0) / VectorOps.l2Norm(col("embedding")))).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(normed)
    val queries = normed.filter(col("vec_id") < nQueries)
    // euclidean distance on unit vectors: d² = 2 − 2·cos
    model.approxSimilarityJoin(queries, normed, math.sqrt(2.0), "dist")
      .select(
        col("datasetA.vec_id").as("query_id"),
        col("datasetB.vec_id").as("cand_id"),
        round(lit(1.0) - col("dist") * col("dist") / lit(2.0), 6).as("cosine_approx"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine_approx").desc, col("cand_id"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) approximate NN — the index-side scale path
    * complementing [[lshTopK]]: a KMeans coarse quantizer partitions the
    * L2-normalized corpus into `nCells` inverted lists; each query scores
    * exact cosine only against the `nProbe` cells whose centroids are
    * nearest. Index build is O(n·nCells); query cost is
    * ~(nProbe/nCells)·n exact evaluations instead of n. On clustered
    * real-world embeddings the probed fraction captures the true
    * neighbors; recall is asserted against [[bruteForceTopK]] in tests.
    *
    * Small-corpus correction (round-15 verdict: 0.64 recall at 500
    * vectors): a coarse quantizer needs tens of points per cell before
    * its Voronoi regions mean anything — under-filled cells scatter a
    * query's true neighbors across many cells and STARVE a fixed
    * `nProbe` (the published IVF training heuristics say the same: cell
    * counts are chosen ∝ √n with a minimum training-points-per-cell
    * floor). The effective cell count is therefore capped so cells
    * average ≥ 64 points; at corpus scale the cap is inert
    * (`effCells == nCells`) and the user's cost knob is untouched —
    * only the regime where probing was cheap anyway gets wider probes. */
  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Empty-corpus guard, as in [[lshTopK]]: KMeans cannot quantize zero
    // points; an empty corpus yields an empty well-typed result.
    if (emb.head(1).isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rank", "cand_id", "cosine")
    val minPointsPerCell = 64L
    val n = emb.count() // metadata-only count for a parquet-backed corpus
    val effCells = math.max(1L, math.min(nCells.toLong, n / minPointsPerCell)).toInt
    val effProbe = math.min(nProbe, effCells)
    val normed = emb.select(col("vec_id"), col("embedding"),
      VectorOps.scale(col("embedding"), lit(1.0) / VectorOps.l2Norm(col("embedding"))).as("narr"))
      .withColumn("features", array_to_vector(col("narr")))
    val km = new KMeans().setK(effCells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(normed)
    val corpus = model.transform(normed)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("cell"))
    // tiny centroid table, broadcast to rank cells per query:
    // on the unit sphere ||q−c||² = 1 + ||c||² − 2·q·c
    val cent = broadcast(model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray, c.toArray.map(x => x * x).sum) }
      .toSeq.toDF("cell", "cvec", "cnorm2"))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        VectorOps.scale(col("embedding"), lit(1.0) / VectorOps.l2Norm(col("embedding"))).as("qnarr"))
      .crossJoin(cent)
      .withColumn("cdist2",
        lit(1.0) + col("cnorm2") - lit(2.0) * VectorOps.dot(col("qnarr"), col("cvec")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist2"), col("cell"))))
      .filter(col("crank") <= effProbe)
      .select(col("query_id"), col("qe"), col("cell"))
    probes.join(corpus, "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorOps.cosine(col("qe"), col("ce")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
  }

  /** Per-label centroid, element-wise: posexplode + two-key aggregation —
    * partial aggregation map-side; shuffles only (label, pos) pairs. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label").cast("long").as("label"),
        posexplode(VectorOps.asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg("v"), 6).as("centroid_v"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("centroid_v"))

  /** Nearest-centroid assignment + confusion matrix — the label-quality
    * audit over an embedded corpus: assign every vector to its max-cosine
    * [[labelCentroids]] centroid and cross-tabulate against the stored
    * label. A clean labeling is diagonal-dominant; an off-diagonal hot
    * cell is a label pair the embedding space cannot separate (merge
    * candidates, or mislabeled data). Shape: the 10-row centroid frame
    * (arrays re-assembled pos-ordered from the centroid table) broadcasts
    * into a vectors × centroids scored frame — n·|labels| rows, never
    * n² — ranked per vector by a window over the ROUNDED cosine
    * (c_label ties), then one confusion hash agg. Each cosine is one
    * codegen'd [[graft.functions.ArrayDotProduct]] against a broadcast
    * array (the q45 idiom). */
  def centroidConfusion(emb: DataFrame): DataFrame = {
    val cent = labelCentroids(emb)
      .groupBy(col("label").as("c_label"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("centroid_v")))),
        x => x("centroid_v")).as("ce"))
    val scored = emb
      .select(col("vec_id"), col("label").cast("long").as("label"),
        VectorOps.asDouble(col("embedding")).as("qe"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("c_label"),
        round(VectorOps.cosine(col("qe"), col("ce")), 6).as("cosine"))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("c_label"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("label"), col("c_label").as("assigned"))
      .agg(count(lit(1)).as("n"))
  }

  /** One Lloyd sweep of k-means (assignment + centroid update) from
    * DETERMINISTIC seeds — the oracle-certifiable twin of the iterative
    * k-means inside [[ivfIndex]]: seeds are the first `kClusters` vectors
    * by vec_id (no RNG), every vector assigns to its max-cosine seed
    * (rounded cosine, c_id tiebreak — the q159 assignment rule), and the
    * new centroids are per-cluster element-wise means. Certifying one
    * sweep end-to-end (assignment, tie handling, mean update) pins the
    * exact logic the multi-sweep training loop repeats; the loop itself
    * stays rows-only for the same reason q26's live IPF does.
    *
    * Shape: the seed frame (kClusters rows) broadcasts into an
    * n × kClusters scored frame — never n²; the per-vector argmax window
    * carries only (vec_id, c_id, cosine), and the winning vectors are
    * re-joined by vec_id for the posexplode → (cluster, pos) hash agg
    * (map-side combined, shuffles cluster×dim cells, not vectors). Each
    * cosine is one codegen'd [[graft.functions.ArrayDotProduct]]. */
  def lloydStep(emb: DataFrame, kClusters: Int = 8): DataFrame =
    centroidUpdate(emb, assignToSeeds(emb, kClusters)).orderBy("cluster", "pos")

  /** Nearest-deterministic-seed assignment shared by [[lloydStep]] and
    * [[semanticDedup]]: seeds = the first `kClusters` vectors by vec_id,
    * every vector goes to its max-cosine seed (rounded cosine, c_id
    * tiebreak — the q159 rule). The seed frame broadcasts; the per-vector
    * argmax window carries only (vec_id, c_id, cosine). */
  private def assignToSeeds(emb: DataFrame, kClusters: Int): DataFrame =
    assignTo(emb, emb.filter(col("vec_id") < kClusters)
      .select(col("vec_id").cast("long").as("c_id"),
        VectorOps.asDouble(col("embedding")).as("ce")))

  /** Max-cosine assignment against an arbitrary (c_id, ce) centroid frame
    * (broadcast — k rows); the argmax rule of [[assignToSeeds]]. */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    val scored = emb
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        round(VectorOps.cosine(col("qe"), col("ce")), 6).as("cosine"))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("vec_id"), col("c_id"))
  }

  /** Per-cluster element-wise mean centroids of an assignment, with member
    * counts — [[lloydStep]]'s update half, shared with [[lloydTwoStep]]. */
  private def centroidUpdate(emb: DataFrame, assigned: DataFrame): DataFrame = {
    val members = assigned.groupBy("c_id").agg(count(lit(1)).as("n_members"))
    assigned
      .join(emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("qe")), "vec_id")
      .select(col("c_id"), posexplode(col("qe")).as(Seq("pos0", "v")))
      .groupBy("c_id", "pos0").agg(round(avg("v"), 6).as("centroid_v"))
      .join(members, "c_id")
      .select(col("c_id").as("cluster"), (col("pos0") + 1).cast("long").as("pos"),
        col("centroid_v"), col("n_members"))
  }

  /** TWO chained Lloyd sweeps, hash-certified — the q94-pattern unroll of
    * the k-means training loop that [[lloydStep]] certifies one sweep of:
    * sweep 2 re-assigns every vector to sweep 1's (6dp-rounded) centroids
    * and recomputes the means, so a hash match certifies the REPEATED
    * composition — assignment against learned (non-seed) centroids,
    * cluster membership churn, empty-cluster dropout — that the live loop
    * ([[ivfIndex]]'s k-means) iterates. Both engines re-enter sweep 2 from
    * identical 6dp-representable centroids; the sweep-1-to-2 pack of
    * (cluster, pos, v) rows into dense centroid arrays is an order-pinned
    * `array_sort(collect_list(struct(pos, v)))`.
    *
    * Shape: same as [[lloydStep]] twice — k-row centroid frames broadcast
    * into n×k scored frames (never n²), map-side-combined mean aggs. */
  def lloydTwoStep(emb: DataFrame, kClusters: Int = 8): DataFrame = {
    val c1 = centroidUpdate(emb, assignToSeeds(emb, kClusters))
    val cents1 = c1
      .groupBy(col("cluster").as("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid_v")))),
        x => x.getField("centroid_v")).as("ce"))
    centroidUpdate(emb, assignTo(emb, cents1)).orderBy("cluster", "pos")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding space, then compare pairs ONLY within a cluster and drop
    * every vector that has a higher-similarity-than-threshold neighbor
    * with a smaller vec_id — the keep-lowest-id retention rule, applied
    * cluster-locally. This is the embedding-space complement of
    * MinHash/SimHash dedup: it removes SEMANTIC duplicates (same content,
    * different words) that no lexical signature catches.
    *
    * Scale design — the whole point of the algorithm: the O(n²) cosine
    * comparison is confined to cluster-local blocks (the paper's exact
    * argument for web scale), so cost is Σ|cluster|², never n². The
    * cluster assignment is [[assignToSeeds]] (broadcast seed frame, one
    * codegen'd dot per (vector, seed)); the within-cluster pair join is an
    * equi-join on c_id (shuffle co-partitions each cluster's members);
    * oversized clusters at production scale get recursively re-split
    * before pairing (here k seeds bound the fixture's clusters directly).
    * Deterministic seeds keep the whole pipeline — assignment, pairing,
    * drop rule — hash-certifiable against the external oracle.
    *
    * Output: one row per DROPPED vector (its cluster, the smallest-id
    * above-threshold neighbor it duplicates, and the max cosine that
    * condemned it — both order-independent aggregates). */
  def semanticDedup(emb: DataFrame, kClusters: Int = 8,
      threshold: Double = 0.35): DataFrame = {
    val m = assignToSeeds(emb, kClusters)
      .join(emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("qe")),
        "vec_id")
    val a = m.select(col("c_id"), col("vec_id").as("va"), col("qe").as("ea"))
    val b = m.select(col("c_id"), col("vec_id").as("vb"), col("qe").as("eb"))
    a.join(b, Seq("c_id")).filter(col("va") < col("vb"))
      .select(col("c_id"), col("va"), col("vb"),
        round(VectorOps.cosine(col("ea"), col("eb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("c_id"), col("vb"))
      .agg(min("va").as("dup_of"), max("cosine").as("max_cos"))
      .select(col("c_id").as("cluster"), col("vb").as("vec_id"),
        col("dup_of"), col("max_cos"))
      .orderBy("vec_id")
  }

  /** Int8 quantization reconstruction-error report — the QA gate shipped
    * next to [[quantizeEmbeddings]]: per vector, the max and mean absolute
    * error of the round-trip x → round(x·scale) → q/scale, against the
    * theoretical half-step bound mx/254 (error ≤ 1/(2·scale)). A vector
    * whose max_err exceeds the bound would mean the quantizer is broken;
    * a pipeline gates on the corpus max before swapping the serving index
    * to int8. Replays quantizeEmbeddings' EXACT expressions (same scale,
    * same floor(x·scale + 0.5)) so the report certifies the real
    * quantizer, not a re-derivation.
    *
    * Shape: one narrow projection + posexplode + per-vector hash agg
    * (map-side combined). max is order-independent; the mean rides the
    * per-element DECIMAL(28,12) cast (the q119 rule). Errors are rounded
    * at 9dp (they live at 1e-3 scale — 6dp would quantize the signal). */
  def quantizationError(emb: DataFrame): DataFrame = {
    val m = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("xs"))
      .withColumn("mx", array_max(transform(col("xs"), x => abs(x))))
      .withColumn("scale", when(col("mx") > 0, lit(127.0) / col("mx"))
        .otherwise(lit(0.0)))
    m.select(col("vec_id"), col("mx"), col("scale"),
        posexplode(col("xs")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("mx"),
        when(col("scale") > 0,
          abs(col("x") - floor(col("x") * col("scale") + lit(0.5)) / col("scale")))
          .otherwise(abs(col("x"))).as("err"))
      .groupBy("vec_id")
      .agg(round(max(col("mx")), 6).as("mx"),
        round(max(col("err")), 9).as("max_err"),
        round(sum(col("err").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)).cast("double"), 9).as("mean_err"))
      .orderBy("vec_id")
  }

  /** Per-ingestion-batch embedding drift: cosine between each batch's
    * centroid and the corpus centroid — the representation-space twin of
    * [[graft.llmdata.TextAnalysis.lengthDriftKs]] (a batch whose centroid
    * swings away from the corpus is topically different content: new
    * domain, crawler drift, or an upstream embedding-model change). Batch
    * key = a real tumbling event-time window over the derived ingestion
    * clock on vec_id (the [[Ingest]] contract), ordinal-recovered so the
    * output and oracle stay `vec_id // N`.
    *
    * Shape: one posexplode → a (batch, pos) hash agg (map-side combined;
    * shuffles only batch×dim cells, never vectors) → the dim-sized
    * centroid frames join on pos and reduce to one cosine per batch.
    * Cross-engine exactness: centroids are rounded to 6dp THEN cast to
    * DECIMAL(12,6), so the dot/norm sums are exact decimal arithmetic on
    * identical operands — order-independent — and the only float ops are
    * two sqrts and one divide on identical doubles (the q126 rule). */
  def batchCentroidDrift(emb: DataFrame, batchSize: Long = 100L): DataFrame = {
    val pts = emb.select(Ingest.ingestTs(col("vec_id")).as("ingest_ts"),
      posexplode(VectorOps.asDouble(col("embedding"))).as(Seq("pos", "v")))
    val cb = pts.groupBy(window(col("ingest_ts"), s"$batchSize seconds").as("w"),
        col("pos"))
      .agg(round(avg("v"), 6).cast(DecimalType(12, 6)).as("cb"))
      .select(Ingest.batchIndex(col("w"), batchSize).as("b"), col("pos"), col("cb"))
    val ca = pts.groupBy("pos")
      .agg(round(avg("v"), 6).cast(DecimalType(12, 6)).as("ca"))
    cb.join(ca, "pos")
      .groupBy(col("b").as("ingest_batch"))
      .agg(round(sum(col("cb") * col("ca")).cast("double") /
        (sqrt(sum(col("cb") * col("cb")).cast("double")) *
          sqrt(sum(col("ca") * col("ca")).cast("double"))), 6).as("centroid_cosine"))
  }

  /** Symmetric int8 quantization — the storage/bandwidth step before an
    * ANN index is built or embeddings are shipped to a trainer: per vector,
    * scale = 127 / max|x| and q_i = floor(x_i * scale + 0.5). The floor
    * form (not round()) keeps the half-way rule identical across engines
    * (round() is half-even vs half-away depending on engine/type); the
    * extrema map to exactly ±127, so the int8 range is never exceeded.
    * A narrow per-row projection; the output rides posexplode so the
    * quantized values are flat (vec_id, pos, q) rows — the oracle-
    * comparable form, and the layout a columnar sink wants anyway. Vectors
    * with max|x| = 0 quantize to all-zero with scale 0 (guarded divide). */
  /** L2 normalization to unit vectors — the preprocessing step that turns
    * every downstream dot product into a cosine similarity (the form ANN
    * indexes and dedup thresholds assume). Emits the per-position unit
    * values and the original norm; zero vectors map to zero (the
    * [[quantizeEmbeddings]] guard rule). Cross-engine exactness: the
    * squared-sum is a sequential left fold in both engines (Spark
    * `aggregate`, DuckDB `list_aggregate 'sum'`), so the double result is
    * bit-identical and the 6dp round only absorbs display noise. Pure
    * narrow projection — no shuffle at any scale. `xs`/`nrm` ride named
    * columns (the HOF-CSE rule: lambdas re-evaluate inlined expressions
    * per element). */
  def normalizeEmbeddings(emb: DataFrame): DataFrame =
    emb.withColumn("xs", VectorOps.asDouble(col("embedding")))
      .withColumn("nrm", sqrt(aggregate(col("xs"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"), col("nrm"),
        posexplode(transform(col("xs"),
          x => when(col("nrm") > 0.0, x / col("nrm")).otherwise(lit(0.0))))
          .as(Seq("pos", "unit")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        round(col("unit"), 6).as("unit"), round(col("nrm"), 6).as("norm"))

  /** Johnson–Lindenstrauss signed random projection (q194) — the
    * DETERMINISTIC, hash-certifiable dimensionality reduction next to PCA
    * (q190): reduced_j = Σ_i x_i · s(i,j) / √k with s(i,j) ∈ {±1} drawn
    * from the parity of an md5 hex digit of "jl:i:j" — Achlioptas'
    * database-friendly ±1 construction ("Database-friendly random
    * projections", PODS 2001), with the hash replacing the RNG so both
    * engines derive the identical matrix (the [[graft.llmdata.Curation]]
    * md5-gate idiom applied to a projection). Unlike PCA it needs no fit,
    * no pass over the data, no driver eigensolve — and since round 13 the
    * implementation is the narrow codegen'd
    * [[graft.functions.SignedProjection]] expression: ALL k components per
    * vector in one map-side pass, NO exchange anywhere in the plan (the
    * relational twin below shuffles n·k rows; Round13OpsSpec pins frame
    * equality between the two). The distortion bound is data-independent
    * (JL lemma).
    *
    * Cross-engine exactness: inputs are rounded to 6dp and quantized to
    * DECIMAL(12,6), the ±1 multiply stays decimal-exact, the sum is an
    * order-independent decimal reduction, and the single float op is one
    * divide by √k on identical operands (k=16 → exactly 4.0; the q126
    * rule). Default k=16 keeps √k a power of two, so the divide is an
    * exact exponent shift and the output needs NO final round — a 6dp
    * round here would hit the half-way digit (an exact-decimal÷4 ends in
    * …5 whenever the sum's last digits ≡ 2 mod 4) where Spark rounds
    * half-up and DuckDB half-even. */
  def jlProject(emb: DataFrame, k: Int = 16): DataFrame =
    emb.select(col("vec_id"),
        posexplode(VectorOps.signedProject(col("embedding"), k))
          .as(Seq("p0", "value")))
      .select(col("vec_id"), col("p0").cast("long").as("component"), col("value"))

  /** The relational formulation of [[jlProject]] — posexplode → broadcast
    * sign join → (vec, component) hash agg. Kept as the cross-check twin
    * of the narrow [[graft.functions.SignedProjection]] expression (the
    * [[graft.functions.VectorOps.hofDot]] pattern at operator scale):
    * Round13OpsSpec pins frame equality. The narrow form wins at scale —
    * this one shuffles n·k rows; the expression shuffles nothing. */
  private[graft] def jlProjectRelational(emb: DataFrame, k: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    val pts = emb.select(col("vec_id"),
      posexplode(VectorOps.asDouble(col("embedding"))).as(Seq("pos", "v")))
    val comps = spark.range(k).select(col("id").cast("int").as("component"))
    // d×k sign matrix (tiny — dims × components), derived not stored
    val signs = pts.select("pos").distinct()
      .crossJoin(broadcast(comps))
      .withColumn("sign",
        when(conv(substring(md5(concat(lit("jl:"), col("pos"), lit(":"),
          col("component"))), 1, 1), 16, 10).cast("int") % 2 === 0, 1)
          .otherwise(-1))
    pts.join(broadcast(signs), "pos")
      .groupBy("vec_id", "component")
      .agg(sum(round(col("v"), 6).cast(DecimalType(12, 6)) * col("sign")).as("s"))
      .select(col("vec_id"), col("component").cast("long").as("component"),
        (col("s").cast("double") / lit(math.sqrt(k.toDouble))).as("value"))
  }

  def quantizeEmbeddings(emb: DataFrame): DataFrame =
    // xs/scale ride named columns: referenced from inside the transform
    // lambda, an inlined expression would be re-evaluated per element
    // (no CSE in HOF eval — the array_max alone would make it O(dim^2)
    // per row). CollapseProject keeps multiply-referenced aliases put.
    emb.withColumn("xs", VectorOps.asDouble(col("embedding")))
      .withColumn("mx", array_max(transform(col("xs"), x => abs(x))))
      .withColumn("scale",
        when(col("mx") > 0.0, lit(127.0) / col("mx")).otherwise(lit(0.0)))
      .select(col("vec_id"), col("scale"),
        posexplode(transform(col("xs"),
          x => floor(x * col("scale") + lit(0.5)).cast("long"))).as(Seq("pos", "q")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("q"),
        round(col("scale"), 6).as("scale"))

  /** Matryoshka truncation fidelity (q231): how faithfully do PREFIX
    * slices of the embedding preserve full-dimension cosine — the
    * evaluation behind MRL-style dimension reduction, where a pipeline
    * serves d/8 or d/4 prefixes to cut index cost and needs the recall
    * evidence first. For each prefix length k, over the (query ×
    * candidate) grid of [[bruteForceTopK]]'s query set: the mean
    * absolute cosine error vs the full dimension, and how many queries
    * keep the SAME top-1 neighbor under truncation.
    *
    * One exploded pass computes the full AND every prefix dot/norm as
    * conditional sums in a single hash agg (pos < k gates — no
    * re-scan per prefix); error sums are DECIMAL(28,12)-quantized
    * (order-independent); the top-1 argmax uses the rounded cosine with
    * a smallest-cand tiebreak so both engines pick identical winners. */
  def matryoshkaFidelity(emb: DataFrame, prefixes: Seq[Int] = Seq(8, 16, 32),
      nQueries: Int = 10): DataFrame = {
    require(prefixes.nonEmpty)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), VectorOps.asDouble(col("embedding")).as("qe"))
    val c = emb.select(col("vec_id").as("cand_id"), VectorOps.asDouble(col("embedding")).as("ce"))
    val px = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("ce"),
        posexplode(col("qe")).as(Seq("pos", "qv")))
      .select(col("query_id"), col("cand_id"), col("pos"), col("qv"),
        element_at(col("ce"), col("pos") + 1).as("cv"))
    def cos(dp: org.apache.spark.sql.Column, nq2: org.apache.spark.sql.Column,
        nc2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(dp / (sqrt(nq2) * sqrt(nc2)), 6)
    val prefixAggs = prefixes.flatMap { k =>
      Seq(sum(when(col("pos") < k, col("qv") * col("cv")).otherwise(0.0)).as(s"dp_$k"),
        sum(when(col("pos") < k, col("qv") * col("qv")).otherwise(0.0)).as(s"nq_$k"),
        sum(when(col("pos") < k, col("cv") * col("cv")).otherwise(0.0)).as(s"nc_$k"))
    }
    val allAggs = Seq(sum(col("qv") * col("cv")).as("dp_f"),
      sum(col("qv") * col("qv")).as("nq_f"),
      sum(col("cv") * col("cv")).as("nc_f")) ++ prefixAggs
    // The per-pair moment frame is consumed once per prefix by BOTH the
    // error and the top-1 branch (union branches get no cross-branch CSE
    // — unmaterialized, the exploded agg re-runs 2·|prefixes| times);
    // it is |queries|·|corpus| rows of scalars, so materialize it once.
    val dots = px.groupBy("query_id", "cand_id")
      .agg(allAggs.head, allAggs.tail: _*).localCheckpoint(true)
    val perK = prefixes.map { k =>
      dots.select(lit(k.toLong).as("prefix_dim"), col("query_id"), col("cand_id"),
        cos(col(s"dp_$k"), col(s"nq_$k"), col(s"nc_$k")).as("cos_k"),
        cos(col("dp_f"), col("nq_f"), col("nc_f")).as("cos_f"))
    }.reduce(_.unionAll(_))
    val err = perK.groupBy("prefix_dim")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(abs(col("cos_k") - col("cos_f"))
          .cast(DecimalType(28, 12))).cast("double") / count(lit(1)), 6)
          .as("mean_abs_err"))
    val top1 = perK.groupBy("prefix_dim", "query_id")
      .agg(max(struct(col("cos_k"), (-col("cand_id")).as("nc"))).as("wk"),
        max(struct(col("cos_f"), (-col("cand_id")).as("nc"))).as("wf"))
      .groupBy("prefix_dim")
      .agg(sum(when(col("wk.nc") === col("wf.nc"), 1L).otherwise(0L))
        .as("n_top1_agree"))
    err.join(top1, "prefix_dim")
      .select("prefix_dim", "n_pairs", "mean_abs_err", "n_top1_agree")
  }

  /** Margin-based bitext mining (q254) — the ratio-margin criterion of
    * Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings" (ACL 2019), the alignment rule
    * behind CCMatrix-scale parallel-corpus construction. Two embedding
    * sets (here: `label == srcLabel` vs `label == tgtLabel` as stand-ins
    * for two languages) are scored pairwise by cosine; each pair's score
    * is normalized by the mean of its BOTH-SIDED k-NN neighborhoods:
    *
    *   margin(x, y) = cos(x, y) / ((avgTopK(x, ·) + avgTopK(·, y)) / 2)
    *
    * which suppresses hubness (a vector globally close to everything gets
    * a high denominator) far better than a raw cosine cutoff. Output: per
    * source vector its best-margin target, kept when margin > threshold.
    *
    * Plan: pair scores come from [[Pairs.blockedCrossPairs]] (B² equi-join
    * keys, never a BNLJ); the two neighborhood frames are per-side hash
    * aggs over the rank-gated scores; the final argmax is one per-source
    * window. Determinism across engines: cosines round to 6dp before any
    * aggregation, neighborhood sums ride DECIMAL(18,6) (order-independent,
    * exact), ranks tie-break on the partner id, margins round to 6dp.
    *
    * Scale: exact bilateral neighborhoods are Ω(n·m) by definition —
    * production mining replaces the exact score grid with an ANN
    * neighborhood list (the [[ivfTopK]] path) and keeps THIS margin
    * arithmetic unchanged; the grid stage is the only part that swaps. */
  def bitextMarginMining(emb: DataFrame, srcLabel: Int = 0, tgtLabel: Int = 1,
      k: Int = 4, marginThreshold: Double = 1.0, numBlocks: Int = 8): DataFrame = {
    require(k >= 1)
    def sideOf(label: Int, idName: String): DataFrame =
      emb.filter(col("label") === label)
        .select(col("vec_id").as(idName), col("embedding"),
          sqrt(VectorOps.dot(col("embedding"), col("embedding"))).as("nrm"))
    val scored = Pairs.blockedCrossPairs(
        sideOf(srcLabel, "src_id"), sideOf(tgtLabel, "tgt_id"), "src_id", "tgt_id",
        numBlocks)
      .select(col("src_id_a").as("src_id"), col("tgt_id_b").as("tgt_id"),
        round(VectorOps.dot(col("embedding_a"), col("embedding_b")) /
          (col("nrm_a") * col("nrm_b")), 6).as("cosine"))
    marginFromScores(scored, k, marginThreshold)
  }

  /** The Artetxe–Schwenk margin arithmetic over a (src_id, tgt_id,
    * cosine) pair-score frame — shared verbatim by the exact grid
    * ([[bitextMarginMining]]) and the ANN candidate list
    * ([[bitextMarginMiningAnn]]); only the grid stage swaps.
    *
    * Bilateral k-NN neighborhood means sum the ROUNDED cosines as
    * DECIMAL(18,6) so the k-term sum is exact in any order on both
    * engines; the division back to double is a scalar op both engines
    * evaluate identically. */
  private def marginFromScores(scored: DataFrame, k: Int,
      marginThreshold: Double): DataFrame = {
    def hoodMean(keyCol: String, partnerCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy(keyCol).orderBy(col("cosine").desc, col(partnerCol))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .groupBy(keyCol)
        .agg((sum(col("cosine").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as(outCol))
    }
    val fwd = hoodMean("src_id", "tgt_id", "fwd_mean")
    val bwd = hoodMean("tgt_id", "src_id", "bwd_mean")
    val margins = scored
      .join(fwd, "src_id").join(bwd, "tgt_id")
      .withColumn("margin",
        round(col("cosine") / ((col("fwd_mean") + col("bwd_mean")) / 2.0), 6))
    val best = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    margins.withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1 && col("margin") > marginThreshold)
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"))
  }

  /** IVF candidate pairs for one probe direction: KMeans coarse-quantize
    * the corpus side on the unit sphere, let each query score exact
    * cosine against the `nProbe` nearest cells only — the [[ivfTopK]]
    * shape parameterized over arbitrary query/corpus frames (each with
    * `(id, embedding, nrm)`). Candidate volume per query is
    * ~(nProbe/nCells)·|corpus| instead of |corpus|. */
  private def ivfCandidates(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, nCells: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val normedCorpus = corpus.select(col(cId), col("embedding").as("ce"),
      col("nrm").as("cnrm"),
      array_to_vector(VectorOps.scale(col("embedding"), lit(1.0) / col("nrm")))
        .as("features"))
    val km = new KMeans().setK(nCells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(normedCorpus)
    val cells = model.transform(normedCorpus)
      .select(col(cId), col("ce"), col("cnrm"), col("cell"))
    val cent = broadcast(model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray, c.toArray.map(x => x * x).sum) }
      .toSeq.toDF("cell", "cvec", "cnorm2"))
    val probes = queries
      .select(col(qId), col("embedding").as("qe"), col("nrm").as("qnrm"),
        VectorOps.scale(col("embedding"), lit(1.0) / col("nrm")).as("qnarr"))
      .crossJoin(cent)
      .withColumn("cdist2",
        lit(1.0) + col("cnorm2") - lit(2.0) * VectorOps.dot(col("qnarr"), col("cvec")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(qId).orderBy(col("cdist2"), col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col(qId), col("qe"), col("qnrm"), col("cell"))
    probes.join(cells, "cell")
      .select(col(qId), col(cId),
        round(VectorOps.dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 6)
          .as("cosine"))
  }

  /** ANN-backed bitext margin mining (q269) — the PRODUCTION form
    * [[bitextMarginMining]]'s scaladoc promises: the exact Ω(n·m) score
    * grid is replaced by IVF neighborhoods probed in BOTH directions
    * (sources probe target cells for the forward k-NN, targets probe
    * source cells for the backward k-NN; the union, deduplicated, is the
    * candidate pair list), and the margin arithmetic
    * ([[marginFromScores]]) is kept unchanged. Per-query cost drops from
    * |corpus| exact cosines to ~(nProbe/nCells)·|corpus| — the swap that
    * makes margin mining feasible when each side is 10⁸ sentences.
    *
    * Rows-only in the registry (KMeans centroids are iterative floats);
    * the agreement envelope vs the exact q254 output — selected-pair
    * agreement and margin deltas on agreeing pairs — is pinned in
    * Round14OpsSpec. */
  def bitextMarginMiningAnn(emb: DataFrame, srcLabel: Int = 0, tgtLabel: Int = 1,
      k: Int = 4, marginThreshold: Double = 1.0, nCells: Int = 16,
      nProbe: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    def sideOf(label: Int, idName: String): DataFrame =
      emb.filter(col("label") === label)
        .select(col("vec_id").as(idName), col("embedding"),
          sqrt(VectorOps.dot(col("embedding"), col("embedding"))).as("nrm"))
    val src = sideOf(srcLabel, "src_id")
    val tgt = sideOf(tgtLabel, "tgt_id")
    // Empty-side guard (the [[ivfTopK]] rule): KMeans cannot quantize
    // zero points; a dry side yields a well-typed empty result.
    if (src.head(1).isEmpty || tgt.head(1).isEmpty)
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("src_id", "tgt_id", "cosine", "margin")
    val fwdCands = ivfCandidates(src, tgt, "src_id", "tgt_id", nCells, nProbe)
    val bwdCands = ivfCandidates(tgt, src, "tgt_id", "src_id", nCells, nProbe)
      .select(col("src_id"), col("tgt_id"), col("cosine"))
    // A pair probed from both directions scores the identical rounded
    // cosine (dot is commutative), so distinct() is an exact dedup.
    val scored = fwdCands.unionByName(bwdCands).distinct()
    marginFromScores(scored, k, marginThreshold)
  }
}
