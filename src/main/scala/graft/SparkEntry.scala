package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.engine.InceptionEngine

/** Analytics gate entry object (SURVEY.md §7), being deleted in stages
  * (ROADMAP item 3).
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (parity pipeline
  * over `documents`) or a relational/extension operator over the TPC-H-ish
  * tables.
  *
  * Determinism rules used throughout (results hash-identically across
  * cluster layouts):
  *   - double aggregates accumulate via exact DECIMAL then cast to double
  *     (associativity-proof under any partial-aggregation order);
  *   - timestamps are emitted as epoch microseconds (bigint);
  *   - every query ends in a total ORDER BY on a unique key.
  */
object SparkEntry
    extends SparkEntryParity
    with SparkEntryTextDedup
    with SparkEntryRelational
    with SparkEntryStatBatteries {

  private[graft] val engine = new InceptionEngine(EngineConfig.default)

  /** Session-scoped metrics-wired engine (O13): one Metrics per live
    * SparkSession so accumulators register against the right context.
    * Endpoint-shaped queries run through this engine, so REQUEST_COUNT /
    * CHUNK_COUNT / ERROR_COUNT / PROCESSING_TIME accumulate during the
    * gate runs exactly as the reference's Prometheus counters
    * accumulate in serving.
    */
  // WEAK keys: a strong SparkSession-keyed cache would retain every
  // stopped session (and its accumulator-registered Metrics) for the JVM
  // lifetime in multi-session processes (test suites, services)
  private[graft] val enginesWithMetrics =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, InceptionEngine]())
  private[graft] def engineFor(s: SparkSession): InceptionEngine =
    enginesWithMetrics.synchronized {
      enginesWithMetrics.computeIfAbsent(
        s,
        k => new InceptionEngine(
          EngineConfig.default,
          Some(new graft.engine.Metrics(k.sparkContext))))
    }

  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Guarantee at least the cluster's default parallelism ahead of a
    * compute-amplifying narrow stage (a ×200 explode, a per-row digest,
    * an all-pairs fold). Parquet sizes scan tasks by INPUT bytes and a
    * row group is the atomic split unit, so a small single-row-group
    * file pins the whole downstream stage to ONE task no matter how
    * much work the stage fans out (guide §2.5 "input skew — repartition
    * immediately after the read"). No-op whenever the scan already has
    * enough splits — at real scale inputs arrive in many row groups and
    * no shuffle is added; when it does fire it shuffles only the small
    * PRE-amplification rows (guide §8: move lightweight proxies, let
    * the heavy work happen after placement).
    *
    * r17 (VERDICT "what's wrong" #4): the split-count probe no longer
    * forces physical planning + RDD materialization per call
    * (`df.rdd.getNumPartitions`) — it estimates scan splits the same
    * way Spark's own FilePartition packing does, bytes ÷
    * maxPartitionBytes, from the optimizer's size estimate. At real
    * scale the estimate is ≫ parallelism and the happy path costs one
    * stats lookup; the conservative direction (an underestimate fires
    * a repartition of small pre-amplification rows) is harmless.
    */
  private[graft] def fanout(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val maxPB = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val estSplits =
      (df.queryExecution.optimizedPlan.stats.sizeInBytes / maxPB) + 1
    if (estSplits >= p) df else df.repartition(p)
  }

  /** Exact decimal sum of a double column, emitted as double. */
  private[graft] def dsum(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** DETERMINISTIC fixed-point rounding — floor(x·10^k + 0.5)/10^k in
    * pure IEEE double ops: floor of a double is exact on every engine,
    * so unlike `round(double, k)` there is NO rounding mode left to
    * disagree about when x·10^k lands exactly on a .5 tie (Spark
    * HALF_UPs the decimal rendering; DuckDB nearbyints the scaled
    * product, with tie behavior that has differed across DuckDB
    * versions — the r12/r13 red-row class). Used for every readout
    * found tie-sensitive at sf0.01; see BASELINE.md "rounding
    * determinism".
    */
  private[graft] def rndDet(c: Column, k: Int): Column = {
    val s = math.pow(10, k)
    floor(c * lit(s) + lit(0.5d)) / lit(s)
  }

  /** Canonical word tokenization shared by the text-corpus queries:
    * lowercase, split on non-[a-z0-9_] runs, drop empties. One
    * definition — a tokenization change must touch exactly here.
    */
  private[graft] val tokensSql =
    "filter(split(lower(text), '[^a-z0-9_]+'), w -> w <> '')"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full embed pipeline: validate → chunk → embed → per-doc reassembly —
    * zero-shuffle narrow plan (see InceptionEngine.embedDocuments).
    */
  def entry(spark: SparkSession): DataFrame =
    engine
      .embedDocuments(tbl(spark, "/root/testdata/sf0.001", "documents"))
      .toDF()


  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clean_text" -> qCleanText,
    "validate_text" -> qValidateText,
    "validate_length" -> qValidateLength,
    "decode_utf8" -> qDecodeUtf8,
    "sentence_stats" -> qSentenceStats,
    "sentence_chunks" -> qSentenceChunks,
    "chunk_counts" -> qChunkCounts,
    "chunk_packing" -> qChunkPacking,
    "doc_embeddings" -> qDocEmbeddings,
    "doc_reassembly" -> qDocReassembly,
    "query_embedding" -> qQueryEmbedding,
    "q1_agg" -> qQ1Agg,
    "q4_priority" -> qQ4Priority,
    "q7_volume" -> qQ7Volume,
    "q8_share" -> qQ8Share,
    "q9_profit" -> qQ9Profit,
    "q10_returns" -> qQ10Returns,
    "q11_important" -> qQ11Important,
    "q13_custdist" -> qQ13Custdist,
    "q14_promo" -> qQ14Promo,
    "q16_suppcnt" -> qQ16SuppCnt,
    "q18_bigorders" -> qQ18BigOrders,
    "q19_disjunct" -> qQ19Disjunct,
    "q22_idle" -> qQ22Idle,
    "q6_filter" -> qQ6Filter,
    "q3_topk" -> qQ3TopK,
    "q5_join" -> qQ5Join,
    "q_window_running" -> qWindowRunning,
    "q_percentiles" -> qPercentiles,
    "q_grouping_sets" -> qGroupingSets,
    "q_approx_distinct" -> qApproxDistinct,
    "q_rollup" -> qRollup,
    "q_semijoin" -> qSemiJoin,
    "q_antijoin" -> qAntiJoin,
    "q_setop" -> qSetOp,
    "q_except" -> qExcept,
    "q_left_outer" -> qLeftOuter,
    "q_word_topk" -> qWordTopK,
    "events_tumbling" -> qEventsTumbling,
    "q_ts_native" -> qTsNative,
    "events_sessions" -> qEventsSessions,
    "events_hopping" -> qEventsHopping,
    "q_asof_join" -> qAsofJoin,
    "q_asof_tolerance" -> qAsofTolerance,
    "q_rolling_median" -> qRollingMedian,
    "q_pareto" -> qPareto,
    "q_skyline" -> qSkyline,
    "q_conversion_lag" -> qConversionLag,
    "q_ab_lift" -> qAbLift,
    "q_twap" -> qTwap,
    "q_asof_join_native" -> qAsofJoinNative,
    "q_centroids" -> qCentroids,
    "events_stream_tumbling" -> qEventsStreamTumbling,
    "q_having" -> qHaving,
    "q_conditional_agg" -> qConditionalAgg,
    "q_pivot" -> qPivot,
    "q_salted_agg" -> qSaltedAgg,
    "q_scalar_subquery" -> qScalarSubquery,
    "q_union_distinct" -> qUnionDistinct,
    "validate_query" -> qValidateQuery,
    "q_cube" -> qCube,
    "q_distinct_agg" -> qDistinctAgg,
    "q_topk_per_group" -> qTopKPerGroup,
    "q_scalar_funcs" -> qScalarFuncs,
    "text_stats" -> qTextStats,
    "dedup_exact" -> qDedupExact,
    "dedup_minhash" -> qDedupMinhash,
    "dedup_simhash" -> qDedupSimhash,
    "dedup_ngram" -> qDedupNgram,
    "neardup_embedding" -> qNearDupEmbedding,
    "ann_bruteforce" -> qAnnBruteForce,
    "ann_lsh" -> qAnnLsh,
    "ann_lsh_indexed" -> qAnnLshIndexed,
    "ann_post_delete" -> qAnnPostDelete,
    "ann_lsh_multiprobe" -> qAnnLshMultiprobe,
    "ann_ivf" -> qAnnIvf,
    "ann_ivf_indexed" -> qAnnIvfIndexed,
    "lang_id" -> qLangId,
    "quality_score" -> qQualityScore,
    "text_profile" -> qTextProfile,
    "fingerprint_stats" -> qFingerprintStats,
    "q_winnowing_pairs" -> qWinnowingPairs,
    "multimodal_images" -> qMultimodalImages,
    "multimodal_frames" -> qMultimodalFrames,
    "q_window_frames" -> qWindowFrames,
    "q_window_ranks" -> qWindowRanks,
    "q_window_range" -> qWindowRange,
    "q_range_join" -> qRangeJoin,
    "q_stats_agg" -> qStatsAgg,
    "q_date_funcs" -> qDateFuncs,
    "q_string_fuzzy" -> qStringFuzzy,
    "q_array_funcs" -> qArrayFuncs,
    "q_exists_subquery" -> qExistsSubquery,
    "q_full_outer" -> qFullOuter,
    "q_json_funcs" -> qJsonFuncs,
    "events_stream_sessions" -> qEventsStreamSessions,
    "q_sample_hash" -> qSampleHash,
    "q_merge_upsert" -> qMergeUpsert,
    "q_tfidf" -> qTfidf,
    "dedup_clusters" -> qDedupClusters,
    "q_interval_join" -> qIntervalJoin,
    "q_vec_quantize" -> qVecQuantize,
    "pipeline_e2e" -> qPipelineE2e,
    "dedup_fuzzy" -> qDedupFuzzy,
    "q_string_agg" -> qStringAgg,
    "q_sample_stratified" -> qSampleStratified,
    "events_stream_hopping" -> qEventsStreamHopping,
    "events_stream_interval_join" -> qEventsStreamIntervalJoin,
    "events_stream_left_join" -> qEventsStreamLeftJoin,
    "events_stream_join_agg" -> qEventsStreamJoinAgg,
    "q_psi_drift" -> qPsiDrift,
    "q_embed_drift" -> qEmbedDrift,
    "q_shingle_gen" -> qShingleGen,
    "q_null_semantics" -> qNullSemantics,
    "q_unpivot" -> qUnpivot,
    "q_crossjoin" -> qCrossJoin,
    "q_grouping_flags" -> qGroupingFlags,
    "q_setop_all" -> qSetopAll,
    "q_lateral_topk" -> qLateralTopk,
    "q_first_last" -> qFirstLast,
    "q_histogram" -> qHistogram,
    "q_minmax_norm" -> qMinmaxNorm,
    "q_zscore" -> qZscore,
    "q_ngram_bigrams" -> qNgramBigrams,
    "q_bm25" -> qBm25,
    "q_pii_redact" -> qPiiRedact,
    "q_gapfill" -> qGapfill,
    "events_stream_dedup" -> qEventsStreamDedup,
    "q_funnel" -> qFunnel,
    "q_retention" -> qRetention,
    "dedup_keep_best" -> qDedupKeepBest,
    "q_not_in_null" -> qNotInNull,
    "q_percentile_disc" -> qPercentileDisc,
    "q_map_funcs" -> qMapFuncs,
    "q_session_window" -> qSessionWindow,
    "q_supplier_stats" -> qSupplierStats,
    "q_props_json" -> qPropsJson,
    "q_recursive_cte" -> qRecursiveCte,
    "q_filter_agg" -> qFilterAgg,
    "events_stream_static_join" -> qEventsStreamStaticJoin,
    "q_rate_stream" -> qRateStream,
    "q_contamination" -> qContamination,
    "q_variant" -> qVariant,
    "q_seq_packing" -> qSeqPacking,
    "q_token_budget" -> qTokenBudget,
    "q_union_by_name" -> qUnionByName,
    "q_repetition" -> qRepetition,
    "dedup_incremental" -> qDedupIncremental,
    "dedup_post_delete" -> qDedupPostDelete,
    "q_perplexity" -> qPerplexity,
    "q_boilerplate" -> qBoilerplate,
    "q_scd2" -> qScd2,
    "q_attribution" -> qAttribution,
    "q21_waiting" -> qQ21Waiting,
    "q12_priority" -> qQ12Priority,
    "q20_excess" -> qQ20Excess,
    "q_table_restore" -> qTableRestore,
    "q_table_sql_delete" -> qTableSqlDelete,
    "q_table_sql_update" -> qTableSqlUpdate,
    "q_table_sql_merge" -> qTableSqlMerge,
    "q_table_bucket_join" -> qTableBucketJoin,
    "q_table_part_bucket" -> qTablePartBucket,
    "q_table_bucket_join2" -> qTableBucketJoin2,
    "q_table_bucket_prune" -> qTableBucketPrune,
    "q_table_dyn_prune" -> qTableDynPrune,
    "q_table_sql_insert" -> qTableSqlInsert,
    "q_table_sql_ctas" -> qTableSqlCtas,
    "q_table_null_agg" -> qTableNullAgg,
    "q_table_null_prune" -> qTableNullPrune,
    "q_table_compact_small" -> qTableCompactSmall,
    "q_table_compact_policy" -> qTableCompactPolicy,
    "q_table_sql_truncate" -> qTableSqlTruncate,
    "q_table_sql_restore" -> qTableSqlRestore,
    "q_table_sql_changes" -> qTableSqlChanges,
    "q_bool_bit_agg" -> qBoolBitAgg,
    "q_order_offset" -> qOrderOffset,
    "q_posexplode" -> qPosexplode,
    "multimodal_audio" -> qMultimodalAudio,
    "q_knn_eval" -> qKnnEval,
    "q_kmeans" -> qKmeans,
    "q_weighted_sample" -> qWeightedSample,
    "q_inverted_index" -> qInvertedIndex,
    "q_snapshot" -> qSnapshot,
    "ann_incremental" -> qAnnIncremental,
    "q_explode_outer" -> qExplodeOuter,
    "q_try_funcs" -> qTryFuncs,
    "q_split_assign" -> qSplitAssign,
    "q_leakage_safe_split" -> qLeakageSafeSplit,
    "q_kmv_overlap" -> qKmvOverlap,
    "ann_matryoshka" -> qAnnMatryoshka,
    "q_curriculum_mix" -> qCurriculumMix,
    "docs_stream_kmv" -> qDocsStreamKmv,
    "docs_stream_neardup" -> qDocsStreamNeardup,
    "q_contamination_fuzzy" -> qContaminationFuzzy,
    "q_domain_mix" -> qDomainMix,
    "q_epoch_shuffle" -> qEpochShuffle,
    "q_semdedup" -> qSemDedup,
    "q_gopher_rules" -> qGopherRules,
    "q_blocklist_filter" -> qBlocklistFilter,
    "q_hard_negatives" -> qHardNegatives,
    "docs_stream_curation" -> qDocsStreamCuration,
    "q_span_dedup" -> qSpanDedup,
    "q_unicode_norm" -> qUnicodeNorm,
    "q_incr_stats" -> qIncrStats,
    "q_hybrid_rrf" -> qHybridRrf,
    "docs_stream_incr_stats" -> qDocsStreamIncrStats,
    "q_bpe_pairs" -> qBpePairs,
    "q_bpe_train" -> qBpeTrain,
    "q_bpe_encode" -> qBpeEncode,
    "q_salted_join" -> qSaltedJoin,
    "q_compaction" -> qCompaction,
    "q_zorder" -> qZorder,
    "q_corrupt_json" -> qCorruptJson,
    "q_bpe_doc_tokens" -> qBpeDocTokens,
    "q_dsir_score" -> qDsirScore,
    "q_table_snapshot" -> qTableSnapshot,
    "q_table_bloom" -> qTableBloom,
    "q_table_merge_full" -> qTableMergeFull,
    "q_table_fast_stats" -> qTableFastStats,
    "q_table_agg_pushdown" -> qTableAggPushdown,
    "q_table_limit" -> qTableLimit,
    "q_table_dsv2_timetravel" -> qTableDsv2Timetravel,
    "q_group_by_all" -> qGroupByAll,
    "q_table_mor_delete" -> qTableMorDelete,
    "q_table_clone" -> qTableClone,
    "q_table_timetravel" -> qTableTimetravel,
    "q_table_cdc" -> qTableCdc,
    "q_table_history" -> qTableHistory,
    "q_table_prune" -> qTablePrune,
    "q_table_schema_evo" -> qTableSchemaEvo,
    "q_table_merge_scoped" -> qTableMergeScoped,
    "docs_stream_table" -> qDocsStreamTable,
    "q_table_stream_read" -> qTableStreamRead,
    "q_table_cdf_stream" -> qTableCdfStream,
    "q_cdf_stream_agg" -> qCdfStreamAgg,
    "q_table_sql_timetravel" -> qTableSqlTimetravel,
    "q_table_rename_drop" -> qTableRenameDrop,
    "q_table_sql_addcol" -> qTableSqlAddcol,
    "q_table_cow_pruned" -> qTableCowPruned,
    "q_table_stream_paced" -> qTableStreamPaced,
    "q_table_stream_sink" -> qTableStreamSink,
    "q_table_stream_evolve" -> qTableStreamEvolve,
    "q_table_sql_history" -> qTableSqlHistory,
    "q_table_stream_agg" -> qTableStreamAgg,
    "q_table_timetravel_ts" -> qTableTimetravelTs,
    "q_embed_dim_stats" -> qEmbedDimStats,
    "q_pca_project" -> qPcaProject,
    "q_collocations" -> qCollocations,
    "q_pagerank" -> qPageRank,
    "q_ppr" -> qPpr,
    "q_harmonic_centrality" -> qHarmonicCentrality,
    "q_adamic_adar" -> qAdamicAdar,
    "q_cdf_incremental_agg" -> qCdfIncrementalAgg,
    "q_sentence_dedup" -> qSentenceDedup,
    "q_quality_classifier" -> qQualityClassifier,
    "q_corpus_drift" -> qCorpusDrift,
    "q_vec_pq" -> qVecPq,
    "q_ann_pq" -> qAnnPq,
    "ann_ivf_pq" -> qAnnIvfPq,
    "q_mad_outliers" -> qMadOutliers,
    "q_min_cost_supplier" -> qMinCostSupplier,
    "q_revenue_view" -> qRevenueView,
    "q_small_order_revenue" -> qSmallOrderRevenue,
    "q_islands" -> qIslands,
    "q_heavy_hitters" -> qHeavyHitters,
    "q_rel_division" -> qRelDivision,
    "q_null_safe_join" -> qNullSafeJoin,
    "ann_filtered" -> qAnnFiltered,
    "q_data_profile" -> qDataProfile,
    "q_expectations" -> qExpectations,
    "q_domain_cap" -> qDomainCap,
    "q_triangle_count" -> qTriangleCount,
    "q_k_anonymity" -> qKAnonymity,
    "q_quantile_sketch" -> qQuantileSketch,
    "q_log_rank" -> qLogRank,
    "q_wilcoxon_signed" -> qWilcoxonSigned,
    "q_rake_keywords" -> qRakeKeywords,
    "q_textrank" -> qTextrank,
    "q_silhouette" -> qSilhouette,
    "q_ktruss" -> qKtruss,
    "q_sortino" -> qSortino,
    "q_fisher_exact" -> qFisherExact,
    "q_gumbel_maxima" -> qGumbelMaxima,
    "q_dispersion" -> qDispersion,
    "q_hodges_lehmann" -> qHodgesLehmann,
    "q_cohens_d" -> qCohensD,
    "q_cramers_v" -> qCramersV,
    "q_permutation_test" -> qPermutationTest,
    "q_ols_multi" -> qOlsMulti,
    "q_ridge_path" -> qRidgePath,
    "q_vif" -> qVif,
    "q_mahalanobis" -> qMahalanobis,
    "q_perm_entropy" -> qPermEntropy,
    "q_sample_entropy" -> qSampleEntropy,
    "q_periodogram" -> qPeriodogram,
    "q_chow_test" -> qChowTest,
    "q_friedman" -> qFriedman,
    "q_wasserstein" -> qWasserstein,
    "q_cvm_uniform" -> qCvmUniform,
    "q_cochran_q" -> qCochranQ,
    "q_katz" -> qKatz,
    "q_markov_stationary" -> qMarkovStationary,
    "q_jonckheere" -> qJonckheere,
    "q_page_trend" -> qPageTrend,
    "q_bartlett" -> qBartlett,
    "q_breusch_pagan" -> qBreuschPagan,
    "q_cooks_distance" -> qCooksDistance,
    "q_icc" -> qIcc,
    "q_variance_ratio" -> qVarianceRatio,
    "q_spectral_entropy" -> qSpectralEntropy,
    "q_turning_points" -> qTurningPoints,
    "q_mantel_haenszel" -> qMantelHaenszel,
    "q_atkinson" -> qAtkinson,
    "q_rich_club" -> qRichClub,
    "q_brier_ece" -> qBrierEce,
    "q_mcc" -> qMcc,
    "q_siegel_slopes" -> qSiegelSlopes,
    "q_qn_scale" -> qQnScale,
    "q_fisher_index" -> qFisherIndex,
    "q_pacf" -> qPacf,
    "q_seasonal_strength" -> qSeasonalStrength,
    "q_moods_median" -> qMoodsMedian,
    "q_entropy_rate" -> qEntropyRate,
    "q_abc_analysis" -> qAbcAnalysis,
    "q_cointegration" -> qCointegration,
    "q_pot_tail" -> qPotTail,
    "q_pettitt" -> qPettitt,
    "q_cliffs_delta" -> qCliffsDelta,
    "q_median_polish" -> qMedianPolish,
    "q_seasonal_mk" -> qSeasonalMk,
    "q_hoover" -> qHoover,
    "q_palma" -> qPalma
  )
}
