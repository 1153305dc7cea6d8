package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape lint across the whole registry: the 100 TB contract says no
  * accidental cross products. A BroadcastNestedLoopJoin or CartesianProduct
  * may appear ONLY where a tiny side is deliberately broadcast into a cross
  * join (outer products, global-stats joins, probe tables). Everything else
  * must plan as hash/sort-merge equi-joins.
  */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Queries whose construction runs jobs (streams settle, models fit, IPF
    * iterates, CSV sink writes) — their plan shapes are pinned in their own
    * specs; executing them here would re-run those jobs. */
  private val eager = Set(
    "q26_ipf_converge", "q43_minhash_neardup", "q46_ann_lsh", "q62_ann_ivf",
    "q52_streaming_tumbling", "q54_streaming_sessionize", "q58_stateful_user_stats",
    "q57_csv_labeled_roundtrip", "q60_als_recommend", "q61_als_eval",
    "q88_bucketed_join",  // writes the bucketed tables on construction; plan pinned in BucketingSpec
    "q95_fuzzy_contamination",  // near-dup stage's localCheckpoint on construction
    "q99_neardup_components",   // label-propagation loop runs on construction; shape pinned in DedupSpec
    "q101_neardup_dedup",       // composes q99's eager loop
    "q113_stream_enrich",       // streaming settle on construction
    "q257_tws_user_stats",      // transformWithState settle on construction
    "q264_tws_timer_sessions",  // transformWithState + event-time timers
                                // settle on construction
    "q267_stream_outer_join",   // stream-stream left-outer settle on
                                // construction; eviction pin in StreamingSpec
    "q299_stream_join_then_window", // chained join->window settle on
                                // construction; window-flush pin in
                                // StreamingSpec
    "q294_stream_full_outer_join", // stream-stream full-outer settle on
                                // construction; two-sided eviction pin in
                                // StreamingSpec
    "q273_tws_rolling_context", // transformWithState ListState settle on
                                // construction; carry pin in StreamingSpec
    "q283_streaming_pit",       // stream-static PIT settle on construction;
                                // parity with q223 via the shared oracle
    "q300_glpr_stream_relay",   // source->sink streaming relay on
                                // construction (cached); epoch pins in
                                // GlprSpec
    "q298_glpr_catalog_sql",    // catalog CREATE/INSERT on construction;
                                // DDL pins in GlprCatalogSpec
    "q301_glpr_delete",         // catalog CREATE/INSERT/DELETE on
                                // construction; straddle-decline
                                // pin in GlprCatalogSpec
    "q302_glpr_overwrite",      // catalog CREATE/INSERT/OVERWRITE on
                                // construction; truncate pin in
                                // GlprCatalogSpec
    "q303_glpr_shard_provenance", // slice-clustered GLPR staging write on
                                // construction; _shard pin in
                                // GlprCatalogSpec
    "q304_glpr_partitioned",    // partitioned catalog CREATE/INSERT on
                                // construction (cached); shard-prune pin
                                // in GlprCatalogSpec
    "q305_glpr_stream_pruned",  // pruned-streaming settle on construction
                                // (range staging cached); shard-skip pin
                                // in GlprSpec
    "q306_glpr_partitioned_count", // partitioned catalog staging on
                                // construction (cached, shared with
                                // q304); zero-shard grouped-agg pin in
                                // GlprCatalogSpec
    "q307_glpr_bloom_prune",    // hash-distributed GLPR staging write on
                                // construction (cached); bloom-skip pin
                                // in GlprSpec
    "q308_glpr_partition_delete", // partitioned catalog CREATE/INSERT/
                                // DELETE on construction;
                                // value-delete pins in GlprCatalogSpec
    "q309_glpr_compact",        // small-shard staging write + compaction
    "q348_glpr_masked_compact", // staging write + MoR deletes + compaction
    "q350_glpr_zorder_recluster", // staging INSERT + recluster + collected rollup
    "q351_glpr_clone",          // staging INSERT + clone + MoR delete + collected union
    "q352_glpr_value_stats",    // staged per-feed writes + collected probe rollup
                                // on construction; merge pins
                                // in GlprSpec
    "q310_glpr_manifest",       // manifest staging write + orphan plant
                                // on construction; visibility
                                // pins in GlprSpec
    "q311_glpr_time_travel",    // three staged appends on construction
                                // (cached); version pins in GlprSpec/
                                // GlprCatalogSpec
    "q312_glpr_changes",        // shares q311's staging (cached);
                                // version-diff pins in GlprSpec
    "q313_glpr_restore",        // three appends + restore on
                                // construction; GlprSpec pins
    "q314_glpr_row_delete",     // staging write + rewrite job on
                                // construction;
                                // GlprSpec pins
    "q315_glpr_sql_functions",  // rematerialized catalog-function SQL
                                // (collects on construction); pins in
                                // GlprCatalogSpec
    "q316_glpr_history",        // catalog CREATE/INSERT + CALL history
                                // on construction; procedure
                                // pins in GlprCatalogSpec
    "q317_glpr_sql_maintenance", // CALL restore/compact/vacuum on
                                // construction; procedure
                                // pins in GlprCatalogSpec
    "q318_observed_metrics",    // the observed action runs on
                                // construction (observe/Observation);
                                // value-exactness via its oracle
    "q319_glpr_spj",            // partitioned CREATE/INSERT on
                                // construction; zero-exchange
                                // pin in GlprCatalogSpec
    "q322_glpr_dv_delete",      // staging write + DV sidecars on
                                // construction; GlprSpec pins
    "q323_glpr_dv_materialize", // staging + DV + rewrite job on
                                // construction; GlprSpec pins
    "q324_glpr_redact",         // staging + redaction rewrite job on
                                // construction; GlprSpec pins
    "q325_glpr_dynamic_overwrite", // catalog CREATE/INSERT/OVERWRITE on
                                // construction; swap pins in
                                // GlprCatalogSpec
    "q328_glpr_cdf",            // three appends + retiring delete +
                                // re-append on construction (cached);
                                // CDF pins in GlprSpec
    "q329_glpr_tt_across_delete", // shares q328's staging (cached)
    "q330_glpr_expire_vacuum",  // appends + delete + expire + vacuum on
                                // construction; reclaim pins
                                // in GlprSpec
    "q331_glpr_dv_time_travel", // staging write + MoR delete on
                                // construction; gen pins in
                                // GlprSpec
    "q326_glpr_sql_update",     // catalog CREATE/INSERT/UPDATE (COW
                                // ReplaceData) on construction;
                                // DML pins in GlprCatalogSpec
    "q327_glpr_sql_merge",      // catalog CREATE/INSERT/MERGE INTO on
                                // construction; DML pins in
                                // GlprCatalogSpec
    "q332_glpr_add_column",     // catalog CREATE/INSERT/ALTER/INSERT on
                                // construction; evolution pins
                                // in GlprCatalogSpec
    "q333_glpr_days_partition", // days-partitioned CREATE/INSERT on
                                // construction; day-prune pin
                                // in GlprCatalogSpec
    "q334_glpr_bucket_partition", // bucket-partitioned CREATE/INSERT on
                                // construction; bucket-prune
                                // pin in GlprCatalogSpec
    "q335_glpr_timestamp_as_of", // catalog CREATE/INSERT + commit-clock
                                // pinning on construction;
                                // TIMESTAMP AS OF pin in GlprCatalogSpec
    "q336_glpr_recluster",      // staging write + recluster shuffle job
                                // on construction; prune pin
                                // in GlprCatalogSpec
    "q337_glpr_cdf_stream",     // CDF stream settle on construction
    "q338_glpr_cdc_merge",      // seeds + MERGE-applies the changelog table
    "q339_glpr_typed_evolution", // staged DDL+INSERTs on construction
    "q347_glpr_drop_column",    // staged DDL+INSERTs+DROP on construction
    "q340_glpr_cbo_stats_join", // staging write + collected join result
    "q341_glpr_months_partition", // staged DDL+clustered INSERT
    "q349_glpr_spec_evolution", // staged DDL+INSERT+spec evolution+INSERT
    "q342_glpr_truncate_partition", // staged DDL+clustered INSERT
    "q343_glpr_stream_merge",   // CDF stream drained into MERGEs on construction
    "q344_glpr_value_mor_delete", // staging write + matching job on construction
    "q345_glpr_wap",            // branch staging + audit + publish on construction
    "q346_glpr_branch_fix",     // branch staging + MoR fix + publish on construction
                                // (shares q328's staging); per-version
                                // replay pins in GlprSpec
    "q297_glpr_limit_pushdown", // GLPR staging write on construction
                                // (cached, shared with q284); shard-cap
                                // pin in GlprSpec
    "q296_glpr_agg_pushdown",   // GLPR staging write on construction
                                // (cached, shared with q284); zero-shard
                                // plan pin in GlprSpec
    "q295_glpr_runtime_prune",  // range-sharded GLPR staging write on
                                // construction (cached); runtime shard-skip
                                // pin in GlprSpec
    "q284_glpr_source",         // GLPR shard write on construction (cached);
                                // pushdown/pruning plans pinned in GlprSpec
    "q285_glpr_stream",         // GLPR MicroBatchStream settle on
                                // construction; arrival pin in GlprSpec
    "q288_glpr_backfill",       // GLPR AvailableNow backfill settle on
                                // construction; trigger-count pin in GlprSpec
    "q292_glpr_ingest_merge",   // GLPR admission-controlled foreachBatch
                                // MERGE ingest on construction (cached);
                                // cross-batch pin in GlprSpec
    "q268_foreachbatch_merge",  // foreachBatch MERGE stream on construction
                                // (cached); replay pin in StreamingSpec
    "q269_bitext_ann",          // two KMeans IVF fits on construction;
                                // agreement envelope in Round14OpsSpec
    "q270_source_contamination", // consumes the cached md5-pair
                                // derivation (localCheckpoint on first touch)
    "q186_quality_classifier",  // LR fit on construction; AUC envelope in
                                // QualityClassifierSpec
    "q190_embedding_pca",       // PCA fit on construction; contracts in
                                // EmbeddingPcaSpec
    "q191_pca_ann",             // PCA + k-means fits on construction;
                                // recall envelope in EmbeddingPcaSpec
    "q195_jsonl_roundtrip",     // JSONL sink write on construction;
                                // round-trip certified by its oracle
    "q196_orc_roundtrip",       // ORC sink write on construction
    "q204_text_roundtrip",      // text sink write on construction
    "q192_quality_pipeline",    // composes q186's LR fit and q99's eager
                                // label loop; composition contract in
                                // Round13OpsSpec
    "q199_streaming_file_sink", // streaming parquet-sink write on
                                // construction (cached)
    "q211_streaming_cdc",       // streaming settle on construction;
                                // parity with q207 pinned in Round13OpsSpec
    "q215_editdist_verify",     // consumes the cached md5-pair derivation
                                // (localCheckpoint on first touch)
    "q217_group_folds",         // consumes q99's eager label loop
    "q225_ahash_neardup",       // materializes the tiny hash table before
                                // the band self-join (one codec pass)
    "q231_matryoshka",          // materializes the per-pair moment frame
                                // (consumed 2x per prefix; no cross-branch CSE)
    "q234_streaming_heavy_users") // streaming settle on construction;
                                  // batch parity pinned in StreamingSpec

  /** Deliberate tiny-side broadcast cross products. */
  private val allowedCross = Set(
    "q321_kmv_set_algebra",   // two 1-row sketch frames, broadcast cross
    "q13_outer_product",      // u × v outer product, v broadcast
    "q24_minmax_normalize",   // 1-row global min/max broadcast back
    "q37_densify",            // part × 12-month key expansion
    "q45_cosine_topk",        // small query set broadcast against the corpus
    "q83_tfidf_topk",         // 1-row corpus-size aggregate broadcast back
    "q100_source_divergence", // 1-row corpus-total aggregate broadcast back
    "q106_temperature_mix",   // 1-row normalizing-sums aggregate broadcast back
    "q119_unigram_logprob",   // 1-row corpus-total aggregate broadcast back
    "q144_token_budget",      // composes q119's 1-row total broadcast, plus the
                              // deliberate broadcast triangular self-join over the
                              // tiny per-bucket offset table (two-phase prefix sum)
    "q153_length_drift_ks",   // batches × distinct-lengths grid (both tiny) + 1-row total
    "q154_pmi_bigrams",       // two 1-row corpus-total aggregates broadcast back
    "q158_tfidf_search",      // 1-row corpus-size aggregate broadcast back
    "q159_centroid_confusion", // |labels|-row centroid frame broadcast against the corpus
    "q160_rebalance_mixture",  // 1-row totals broadcast into the tiny target marginals
    "q165_importance_weights", // 1-row (nr_tot, v, nt_tot) scalar frame broadcast back
    "q166_bm25_search",        // 1-row (N, avgdl) scalar frame broadcast back
    "q167_lloyd_step",         // kClusters-row seed frame broadcast against the corpus
    "q187_lloyd_two_step",     // the same k-row broadcast, twice (chained sweeps)
    "q168_semantic_dedup",     // kClusters-row seed frame broadcast against the corpus
    "q169_perplexity_buckets", // composes q119's 1-row corpus-total broadcast
    "q172_ranker_agreement",   // 1-row scalar broadcasts in both rankers + the
                               // 3-row cutoff grid against the ≤40-row rank join
    "q220_count_min",          // 1-row corpus-total aggregate broadcast back
                               // (heavy-set gate, the q209 rule)
    "q229_zorder_pruning",     // 1-row extent/box + 1-row match-count frames
                               // broadcast into the bucket stats
    "q236_budget_apportion",   // 1-row corpus-total + 1-row floor-sum frames
                               // broadcast into the |sources|-row quota calc
    "q239_join_estimate",      // 1-row estimate x 1-row actual-count frames
    "q240_type_lift",          // 1-row distinct-user total broadcast back
    "q244_dataset_card",       // 1-row corpus total into the lang shares
    "q252_layout_comparison",  // 1-row extent/box frames into both layouts
    "q256_temporal_split",     // 1-row corpus-total then 1-row cutoff-day
                               // frames broadcast onto the day histogram /
                               // fact stream
    "q176_shard_balance",      // |shards| x |sources| grid from two tiny
                               // aggregate frames + the 1-row corpus total
    "q181_rrf_fusion",         // 1-row scalar broadcasts in both upstream rankers
    "q185_bpe_merges",         // 1-row argmax-pair frame broadcast into each
                               // vocab-sized merge application (2 steps)
    "q188_bpe_encode",         // composes q185's 1-row argmax broadcasts
    "q189_bigram_logprob",     // 1-row vocab-size aggregate broadcast back
    "q193_quality_labels",     // composes q119's 1-row corpus-total broadcast
    "q201_contrastive_negatives", // 1-row corpus-count + k-row rank grid
                                  // broadcast into the tiny pair frame
    "q206_bloom_join",            // 1-row bloom word-map frame broadcast
                                  // against the fact side (the prune stage)
    "q209_heavy_hitters",         // 1-row corpus-total aggregate broadcast
                                  // into the candidate-verify filter
    "q210_zorder_layout",         // 1-row grid-extent aggregate broadcast
                                  // back for the cell quantization
    "q258_t_closeness",           // 1-row corpus-total broadcast into the
                                  // (class x source) cell frame
    "q259_unimax_budget",         // 1-row totals + 1-row waterfill-round
                                  // frames broadcast into the K-row grants
    "q262_bpe_fertility",         // composes q185's 1-row argmax-pair
                                  // broadcasts (vocab merge steps)
    "q265_doremi_step",           // q189's 1-row vocab broadcast + 1-row
                                  // totals / normalizer broadcasts into
                                  // the |sources|-row frame
    "q275_windowed_funnel")       // three 1-row stage-count frames crossed
                                  // for the per-stage conversion ratios

  test("no unintended BroadcastNestedLoopJoin / CartesianProduct in any registry plan") {
    val offenders = Registry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !eager.contains(name) =>
        val plan = fn(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
        val hasCross = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
        (name, hasCross)
    }.filter { case (name, hasCross) => hasCross != allowedCross.contains(name) }
    assert(offenders.isEmpty,
      s"plan-shape drift: ${offenders.map { case (n, c) => s"$n(cross=$c)" }.mkString(", ")}")
  }

  test("filters reach the parquet scan (pushdown spot checks)") {
    def pushed(name: String): String =
      Registry.queries(name)(spark, TestSpark.sfDir)
        .queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    val q02 = pushed("q02_filter_project")
    assert(q02.contains("GreaterThanOrEqual(l_shipdate") || q02.contains("IsNotNull(l_shipdate"),
      s"q02 shipdate filter not pushed:\n$q02")
    val q07 = pushed("q07_anti_join_customers")
    assert(q07.contains("GreaterThan(o_totalprice"), s"q07 totalprice filter not pushed:\n$q07")
  }

  test("partitioned sink scan prunes to the predicate partition") {
    val plan = Registry.queries("q74_partition_pruned_scan")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("mcol"), s"no partition filter on mcol:\n$pf")
    assert(!pf.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"partition filters empty — scan reads every partition:\n$pf")
  }

  test("scans prune to the read columns (projection spot check)") {
    val plan = Registry.queries("q10_sort_customers")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("c_custkey") && readSchema.contains("c_acctbal"))
    assert(!readSchema.contains("c_comment") && !readSchema.contains("c_address"),
      s"q10 reads more columns than projected:\n$readSchema")
  }
}
