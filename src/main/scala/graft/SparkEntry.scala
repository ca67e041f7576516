package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, GraphOps, Multimodal, Relational, Similarity, TextAnalysis, Windows}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (one entry per implemented
  * operator from SURVEY.md §2); `oracleSql` carries the DuckDB-dialect
  * equivalent for every SQL-expressible query. Column names and types are
  * aligned pairwise (the driver sorts columns by name and hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.starJoin(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  /** Relational core (SURVEY §2.a–§2.h). */
  private val relational: Map[String, Q] = Map(
    "q01_scan_count"        -> (Relational.scanCount _),
    "q02_scan_filter_count" -> (Relational.scanFilterCount _),
    "q03_project_filter"    -> (Relational.projectFilter _),
    "q04_groupby_hash"      -> (Relational.groupByHash _),
    "q05_groupby_dense"     -> (Relational.groupByDense _),
    "q06_hashjoin_sum"      -> (Relational.hashJoinSum _),
    "q07_shuffle_join_agg"  -> (Relational.shuffleJoinAgg _),
    "q08_star_join"         -> (Relational.starJoin _),
    "q09_semi_join"         -> (Relational.semiJoin _),
    "q10_anti_join"         -> (Relational.antiJoin _),
    "q11_topk"              -> (Relational.topK _),
    "q12_sort_limit"        -> (Relational.sortLimit _),
    "q13_setops"            -> (Relational.setOps _),
    "q14_distinct"          -> (Relational.distinctKeys _),
    "q15_agg_stats"         -> (Relational.aggStats _),
    "q16_rollup"            -> (Relational.rollupAgg _),
    "q17_cube"              -> (Relational.cubeAgg _),
    "q18_casewhen_agg"      -> (Relational.caseWhenAgg _),
    "q19_scalar_funcs"      -> (Relational.scalarFuncs _),
    "q20_date_funcs"        -> (Relational.dateFuncs _),
    "q21_json_funcs"        -> (Relational.jsonFuncs _),
    "q27_asof_join"         -> (graft.operators.Joins.asofJoin _),
    "q28_range_join_binned" -> (graft.operators.Joins.rangeJoinBinned _),
    "q203_interval_join"    -> (graft.operators.Joins.intervalOverlapJoin _),
    "q204_hierarchy_rollup" -> (Relational.hierarchyRollup _),
    "q249_zorder_layout"    -> (graft.operators.Layout.zorderLayout _),
    "q163_point_in_time"    -> (graft.operators.Joins.pointInTime _),
    "q29_dense_groupby"     -> (Relational.denseGroupBy _),
    "q54_approx_distinct"   -> (Relational.approxDistinct _),
    "q55_array_funcs"       -> (Relational.arrayFuncs _),
    "q57_pivot"             -> (Relational.pivotAgg _),
    "q58_setops_multiset"   -> (Relational.setOpsMultiset _),
    "q59_left_outer_join"   -> (Relational.leftOuterJoin _),
    "q73_minmax_by"         -> (Relational.minMaxBy _),
    "q74_string_funcs"      -> (Relational.stringFuncs _),
    "q75_full_outer_join"   -> (Relational.fullOuterJoin _),
    "q76_grouping_sets"     -> (Relational.groupingSetsAgg _),
    "q77_percentiles"       -> (Relational.percentiles _),
    "q78_stats_agg"         -> (Relational.statsAgg _),
    "q79_histogram"         -> (Relational.histogram _),
    "q80_null_handling"     -> (Relational.nullHandling _),
    "q81_regex_funcs"       -> (Relational.regexFuncs _),
    "q82_date_arith"        -> (Relational.dateArith _),
    "q83_typed_pipeline"    -> (Relational.typedPipeline _),
    "q84_firstwins_join"    -> (Relational.firstWinsJoin _),
    "q85_approx_percentile" -> (Relational.approxPercentile _),
    "q86_bloom_membership"  -> (Relational.bloomMembership _),
    "q88_variant_json"      -> (Relational.variantJson _),
    "q89_from_json_struct"  -> (Relational.fromJsonStruct _),
    "q90_bool_bit_agg"      -> (Relational.boolBitAgg _),
    "q65_bulk_write"        -> (graft.operators.Sources.bulkWrite _),
    "q66_cached_reuse"      -> (graft.operators.Sources.cachedReuse _),
    "q69_parse_timestamps"  -> (graft.operators.Sources.parseTimestamps _),
    "q161_malformed_ingest" -> (graft.operators.Sources.malformedIngest _),
    "q171_integrity_audit"  -> (Relational.integrityAudit _),
    "q149_event_funnel"     -> (graft.operators.Behavioral.eventFunnel _),
    "q150_cohort_retention" ->
      (graft.operators.Behavioral.cohortRetention _),
    "q176_event_transitions" ->
      (graft.operators.Behavioral.eventTransitions _),
  )

  /** Window / analytic functions (SURVEY §2.e). */
  private val windows: Map[String, Q] = Map(
    "q22_window_rank"        -> (Windows.windowRank _),
    "q23_window_running_sum" -> (Windows.windowRunningSum _),
    "q24_window_lag"         -> (Windows.windowLag _),
    "q25_window_moving_avg"  -> (Windows.windowMovingAvg _),
    "q26_window_ranking"     -> (Windows.windowRanking _),
    "q87_window_range_frame" -> (Windows.windowRangeFrame _),
    "q206_scd2_build"        -> (Windows.scd2Build _),
  )

  /** Graph analytics (SURVEY §2.i). */
  private val graph: Map[String, Q] = Map(
    "q30_adjacency_build" -> (GraphOps.adjacencyBuild _),
    "q31_degrees"         -> (GraphOps.degrees _),
    "q32_bfs"             -> ((s: SparkSession, d: String) => GraphOps.bfs(s, d)),
    "q33_sssp"            -> ((s: SparkSession, d: String) => GraphOps.sssp(s, d)),
    "q34_triangle_count"  -> (GraphOps.triangleCount _),
    "q35_connected_components" -> (GraphOps.connectedComponents _),
    "q36_pagerank"        -> ((s, d) => GraphOps.pageRank(s, d)),
    "q37_bfs_frontier"    -> ((s: SparkSession, d: String) => GraphOps.bfsFrontier(s, d)),
    "q38_label_propagation" -> ((s, d) => GraphOps.labelPropagation(s, d)),
    "q39_scc"             -> (GraphOps.stronglyConnectedComponents _),
    "q91_sssp_paths"      -> ((s: SparkSession, d: String) => GraphOps.ssspPaths(s, d)),
    "q124_p2p_routing"    -> ((s: SparkSession, d: String) => GraphOps.p2pRouting(s, d)),
    "q125_landmark_bounds" -> ((s: SparkSession, d: String) => GraphOps.landmarkBounds(s, d)),
    "q126_multi_source_bfs" -> ((s: SparkSession, d: String) => GraphOps.multiSourceBfs(s, d)),
    "q127_multi_source_paths" -> ((s: SparkSession, d: String) => GraphOps.multiSourcePaths(s, d)),
    "q132_data_weighted_routing" -> ((s: SparkSession, d: String) => GraphOps.dataWeightedRouting(s, d)),
    "q134_closeness_centrality" -> ((s: SparkSession, d: String) => GraphOps.closenessCentrality(s, d)),
    "q147_clustering_coeff" -> (GraphOps.clusteringCoefficient _),
    "q152_degree_assortativity" -> (GraphOps.degreeAssortativity _),
    "q153_kcore" -> ((s: SparkSession, d: String) => GraphOps.kCore(s, d)),
    "q156_personalized_pagerank" ->
      ((s: SparkSession, d: String) => GraphOps.personalizedPageRank(s, d)),
    "q165_two_hop_counts" -> (GraphOps.twoHopCounts _),
    "q172_reciprocity" -> (GraphOps.reciprocity _),
    "q175_ktruss" -> ((s: SparkSession, d: String) => GraphOps.kTruss(s, d)),
    "q178_ktruss4" -> ((s: SparkSession, d: String) => GraphOps.kTrussDense(s, d, k = 4)),
    "q180_hits" -> (GraphOps.hits _),
    "q181_eccentricity_sample" ->
      ((s: SparkSession, d: String) => GraphOps.eccentricitySample(s, d)),
    "q182_temperature_mixture" ->
      (graft.operators.CorpusOps.temperatureMixture _),
    "q183_edit_linkage" -> (graft.operators.Dedup.editLinkage _),
    "q184_degree_histogram" -> (GraphOps.degreeHistogram _),
    "q205_betweenness" ->
      ((s: SparkSession, d: String) => GraphOps.betweennessSample(s, d)),
    "q185_source_vocab_overlap" ->
      (graft.operators.CorpusOps.sourceVocabOverlap _),
  )

  /** SQL front door: TPC-H-shaped queries via spark.sql; the query text is
    * its own oracle (ANSI subset valid in both engines). */
  private val sqlFrontDoor: Map[String, Q] = Map(
    "q70_tpch_q1_sql" -> (graft.operators.SqlQueries.tpchQ1 _),
    "q71_tpch_q3_sql" -> (graft.operators.SqlQueries.tpchQ3 _),
    "q72_tpch_q6_sql" -> (graft.operators.SqlQueries.tpchQ6 _),
    "q56_skew_salted_join" -> (graft.operators.Skew.saltedJoinAgg _),
  ) ++ graft.operators.SqlQueries.battery2.map { case (name, sql) =>
    name -> ((s: SparkSession, d: String) => graft.operators.SqlQueries.run(sql)(s, d))
  }

  /** LLM-data-pipeline operators (SURVEY §2.l / BASELINE.json north star). */
  private val pipeline: Map[String, Q] = Map(
    "q40_exact_dedup"        -> (Dedup.exactDedup _),
    "q41_ngram_jaccard_topk" -> (Dedup.ngramJaccardTopK _),
    "q42_minhash_lsh_dedup"  -> (Dedup.minhashLshSummary _),
    "q43_fingerprints"       -> (Dedup.fingerprints _),
    "q44_simhash_neardup"    -> (Dedup.simhashNearDupSummary _),
    "q128_semantic_dedup"    -> (Similarity.semanticDedup _),
    "q129_fuzzy_dedup_keep"  -> (Dedup.fuzzyDedupKeep _),
    "q130_semantic_dedup_2l" -> (Similarity.semanticDedup2l _),
    "q136_semantic_keep_list" -> (Similarity.semanticKeepList _),
    "q45_cosine_topk_pairs"  -> (Similarity.cosineTopKPairs _),
    "q46_ann_bruteforce_topk" -> (Similarity.annBruteForceTopK _),
    "q47_ann_lsh_topk"       -> (Similarity.annLshTopK _),
    "q67_embedding_neardup"  -> (Similarity.embeddingNearDupSummary _),
    "q68_ann_ivf_topk"       -> (Similarity.annIvfTopK _),
    "q48_text_stats"         -> (TextAnalysis.textStats _),
    "q49_token_stats"        -> (TextAnalysis.tokenStats _),
    "q50_language_id"        -> (TextAnalysis.languageId _),
    "q51_binary_metadata"    -> (Multimodal.binaryMetadata _),
    "q52_frame_sample"       -> (Multimodal.frameSample _),
    "q53_decode_features"    -> (Multimodal.decodeFeatures _),
    "q111_token_budget_select" -> (graft.operators.CorpusOps.tokenBudgetSelect _),
    "q112_stratified_sample"   -> (graft.operators.CorpusOps.stratifiedSample _),
    "q113_sequence_pack"       -> (graft.operators.CorpusOps.sequencePack _),
    "q239_length_batching"     -> (graft.operators.CorpusOps.lengthBatching _),
    "q242_full_pipeline_lm"    -> (graft.operators.CorpusOps.fullPipelineLm _),
    "q114_quality_deciles"     -> (graft.operators.CorpusOps.qualityDeciles _),
    "q115_corpus_pipeline"     -> (graft.operators.CorpusOps.corpusPipeline _),
    "q116_group_topk"          -> (graft.operators.CorpusOps.groupTopK _),
    "q117_decontaminate"       -> (TextAnalysis.decontaminate _),
    "q120_winnow_fingerprints" -> (Dedup.winnowFingerprints _),
    "q121_full_pipeline"       -> (graft.operators.CorpusOps.fullPipeline _),
    "q122_cms_heavy_hitters"   -> (TextAnalysis.cmsHeavyHitters _),
    "q123_resize_stride"       -> (Multimodal.resizePayload _),
    "q187_image_phash"         -> (Multimodal.imagePhashGroups _),
    "q188_image_neardup"       -> (Multimodal.imageNearDup _),
    "q201_audio_energy"        -> (Multimodal.audioEnergy _),
    "q238_audio_segments"      -> (Multimodal.audioSegments _),
    "q202_streaming_spans"     ->
      (graft.streaming.StreamingDedup.streamingRepeatedSpans _),
    "q118_repetition_stats"    -> (TextAnalysis.repetitionStats _),
    "q119_ngram_topk"          -> (TextAnalysis.ngramTopK _),
    "q137_repeated_segment_removal" -> (Dedup.repeatedSegmentRemoval _),
    "q138_pii_redaction"       -> (TextAnalysis.piiRedact _),
    "q139_tfidf_topk"          ->
      ((s: SparkSession, d: String) => TextAnalysis.tfidfTopK(s, d)),
    "q140_jaccard_join"        -> (Dedup.jaccardJoin _),
    "q141_shard_assignment"    ->
      ((s: SparkSession, d: String) =>
        graft.operators.CorpusOps.shardAssignment(s, d)),
    "q142_kmeans_cells"        -> (Similarity.kmeansCells _),
    "q143_unigram_surprisal"   -> (TextAnalysis.unigramSurprisal _),
    "q228_bigram_surprisal"    -> (TextAnalysis.bigramSurprisal _),
    "q235_lm_quality_buckets"  -> (TextAnalysis.lmQualityBuckets _),
    "q229_bm25_topk"           -> (TextAnalysis.bm25TopK _),
    "q230_hybrid_rrf"          -> (Similarity.hybridRrf _),
    "q144_chunk_windows"       ->
      ((s: SparkSession, d: String) =>
        graft.operators.CorpusOps.chunkWindows(s, d)),
    "q145_domain_mixture"      ->
      (graft.operators.CorpusOps.domainMixture _),
    "q146_contamination_score" -> (TextAnalysis.contaminationScore _),
    "q148_pq_adc_topk"         -> (Similarity.pqAdcTopK _),
    "q151_corpus_diff"         -> (graft.operators.CorpusOps.corpusDiff _),
    "q155_corpus_report"       -> (graft.operators.CorpusOps.corpusReport _),
    "q166_dedup_savings"       -> (Dedup.dedupSavings _),
    "q168_agreement_histogram" -> (Dedup.agreementHistogram _),
    "q170_quality_drift"       ->
      (graft.operators.CorpusOps.qualityDrift _),
    "q157_grouped_deciles"     ->
      (graft.operators.CorpusOps.groupedDeciles _),
    "q158_pq_recall_eval"      -> (Similarity.pqRecallEval _),
    "q173_hash_sampling"       ->
      (graft.operators.CorpusOps.hashSampling _),
    "q174_cross_source_duplicates" ->
      (graft.operators.CorpusOps.crossSourceDuplicates _),
    "q177_vocabulary_spectrum" ->
      (TextAnalysis.vocabularySpectrum _),
    "q159_ivfadc_topk"         -> (Similarity.ivfAdcTopK _),
    "q179_ivfadc_recall"       -> (Similarity.ivfAdcRecallEval _),
  )

  /** Streaming-equivalent window aggregations (SURVEY §2.j): same transform
    * bodies run as true streams in StreamingSpec. */
  private val streamingQ: Map[String, Q] = Map(
    "q60_tumbling_window"  -> (graft.streaming.EventStreams.tumblingWindow _),
    "q61_sliding_window"   -> (graft.streaming.EventStreams.slidingWindow _),
    "q62_session_window"   -> (graft.streaming.EventStreams.sessionWindow _),
    "q63_first_occurrence" -> (graft.streaming.EventStreams.firstOccurrence _),
    "q64_stream_stream_join" -> (graft.streaming.EventStreams.streamStreamJoin _),
    "q133_streaming_keep_list" -> (graft.streaming.StreamingDedup.streamingKeepList _),
    "q135_streaming_semantic_dedup" -> (graft.streaming.StreamingDedup.streamingSemanticDedup _),
    "q154_streaming_funnel" -> (graft.streaming.EventStreams.streamingFunnel _),
    "q160_late_data_audit" ->
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStreams.lateDataAudit(s, d)),
    "q162_streaming_mv" -> (graft.streaming.StreamingMv.streamingMv _),
    "q186_streaming_transitions" ->
      (graft.streaming.EventStreams.streamingTransitions _),
    "q189_streaming_sampling" ->
      (graft.streaming.StreamingMv.streamingSampleMonitor _),
    "q190_robust_outliers" -> (graft.operators.Behavioral.robustOutliers _),
    "q207_trend_slopes"    -> (graft.operators.Behavioral.trendSlopes _),
    "q208_daily_correlations" ->
      (graft.operators.Behavioral.dailyCorrelations _),
    "q191_weighted_sample" -> (graft.operators.CorpusOps.weightedSample _),
    "q192_repeated_spans"  -> (Dedup.repeatedSpans _),
    "q193_span_dedup_clean" -> (Dedup.spanDedupClean _),
    "q194_span_decontaminate" -> (TextAnalysis.spanDecontaminate _),
    "q195_leakage_safe_split" -> (Dedup.leakageSafeSplit _),
    "q196_dsir_importance" -> (graft.operators.CorpusOps.dsirImportance _),
    "q197_streaming_contamination" ->
      (graft.streaming.StreamingMv.streamingContamination _),
    "q198_ivfadc_rerank"   -> (Similarity.ivfAdcRerankTopK _),
    "q236_hard_negatives"  -> (Similarity.hardNegatives _),
    "q199_containment_join" -> (Dedup.containmentJoin _),
    "q200_cluster_balanced_sample" ->
      (Similarity.clusterBalancedSample _),
    "q209_bpe_merges"      -> (graft.operators.Bpe.bpeMerges _),
    "q210_bpe_token_stats" -> (graft.operators.Bpe.bpeTokenStats _),
    "q211_modularity_communities" ->
      ((s, d) => GraphOps.modularityCommunities(s, d)),
    "q212_span_units"      -> (Dedup.spanUnits _),
    "q213_novelty_scores"  -> (TextAnalysis.noveltyScores _),
    "q214_bpe_sequence_pack" ->
      (graft.operators.CorpusOps.bpeSequencePack _),
    "q215_louvain_two_level" -> (GraphOps.louvainTwoLevel _),
    "q216_streaming_token_drift" ->
      (graft.streaming.StreamingMv.streamingTokenDrift _),
    "q217_video_neardup"   -> (Multimodal.videoNearDup _),
    "q218_quality_perceptron" ->
      (graft.operators.Classifier.qualityPerceptron _),
    "q219_dup_graph_communities" -> (Dedup.dupGraphCommunities _),
    "q220_streaming_classifier" ->
      (graft.streaming.StreamingClassifier.streamingClassifier _),
    "q221_streaming_novelty" ->
      (graft.streaming.StreamingMv.streamingNovelty _),
    "q222_classifier_heldout" ->
      (graft.streaming.StreamingClassifier.streamingClassifierHeldout _),
    "q223_rag_retrieval" -> (Similarity.ragRetrieval _),
    "q224_rag_mmr" -> (Similarity.ragRetrievalMmr _),
    "q225_rag_context_pack" -> (Similarity.ragContextPack _),
    "q226_streaming_index" ->
      (graft.streaming.StreamingIndex.streamingIndexServe _),
    "q227_streaming_index_drift" ->
      (graft.streaming.StreamingIndex.streamingIndexDrift _),
    "q231_rag_serve" -> (Similarity.ragServe _),
    "q232_retrieval_eval" -> (Similarity.retrievalEval _),
    "q240_retrieval_eval_lex" -> (Similarity.retrievalEvalLex _),
    "q241_mrl_prefix_recall" -> (Similarity.mrlPrefixRecall _),
    "q243_bm25_prune_report" -> (TextAnalysis.bm25PruneReport _),
    "q244_mrl_prefix_ivfadc" -> (Similarity.mrlPrefixIvfAdc _),
    "q245_video_perceptual_neardup" -> (Multimodal.videoPerceptualNearDup _),
    "q246_streaming_lex_compact" ->
      (graft.streaming.StreamingIndex.streamingLexCompactServe _),
    "q247_mrl_prefix_ivfadc2" -> (Similarity.mrlPrefixIvfAdc2 _),
    "q248_ivfadc_sampletrain" -> (Similarity.ivfAdcSampleTrainRecall _),
    "q233_streaming_lex_index" ->
      (graft.streaming.StreamingIndex.streamingLexServe _),
    "q234_index_compaction" ->
      (graft.streaming.StreamingIndex.streamingIndexCompact _),
    "q237_index_refresh" ->
      (graft.streaming.StreamingIndex.streamingIndexRefresh _),
    "q164_error_sessions" ->
      (graft.streaming.EventStreams.errorSessions _),
    "q167_session_paths" ->
      (graft.streaming.EventStreams.sessionPaths _),
    "q169_return_gaps" ->
      (graft.streaming.EventStreams.returnGaps _),
  )

  def queries: Map[String, Q] =
    relational ++ windows ++ graph ++ pipeline ++ streamingQ ++ sqlFrontDoor

  private val relationalOracles: Map[String, String] = Map(
    "q01_scan_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "q02_scan_filter_count" ->
      "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity > 30.0",
    "q03_project_filter" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_discount > 0.08 AND l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_groupby_hash" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_pct
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q05_groupby_dense" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_hashjoin_sum" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_shuffle_join_agg" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fp4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_star_join" ->
      """SELECT r_name, count(*) AS cnt,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fp4
        |FROM lineitem
        |JOIN orders   ON l_orderkey  = o_orderkey
        |JOIN customer ON o_custkey   = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q10_anti_join" ->
      """SELECT count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q11_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY price DESC, o_orderkey LIMIT 25""".stripMargin,
    "q12_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |ORDER BY o_orderstatus, o_custkey, o_orderkey LIMIT 100""".stripMargin,
    "q13_setops" ->
      """SELECT op, n FROM (
        |  SELECT 'union' AS op, count(*) AS n FROM (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    UNION
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'intersect' AS op, count(*) AS n FROM (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'except' AS op, count(*) AS n FROM (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |) ORDER BY op""".stripMargin,
    "q14_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin,
    "q15_agg_stats" ->
      """SELECT round(min(l_extendedprice), 2) AS min_price,
        |       round(max(l_extendedprice), 2) AS max_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem""".stripMargin,
    "q16_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q17_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |       coalesce(o_orderpriority, 'ALL') AS pri,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    "q18_casewhen_agg" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_scalar_funcs" ->
      """SELECT p_partkey,
        |       upper(substring(p_name, 1, 8)) AS name8,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       concat_ws('|', p_brand, p_type) AS brand_type,
        |       abs(p_size - 25) AS size_dev,
        |       round(p_retailprice * 1.1, 2) AS price_up,
        |       p_partkey % 7 AS k_mod7
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q20_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mo,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q21_json_funcs" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,
    "q90_bool_bit_agg" ->
      """SELECT l_returnflag,
        |       bool_and(l_quantity > 1.0) AS all_qty_gt1,
        |       bool_or(l_discount > 0.09) AS any_disc_gt9,
        |       bit_and(l_partkey) AS band,
        |       bit_or(l_partkey) AS bor,
        |       bit_xor(l_partkey) AS bxor
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q88_variant_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,
    "q89_from_json_struct" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,
    "q27_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |l AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, p.user_id,
        |       coalesce(epoch_us(l.ts), -1) AS signup_ts_us
        |FROM p ASOF LEFT JOIN l
        |  ON p.user_id = l.user_id AND p.ts >= l.ts
        |ORDER BY p.event_id""".stripMargin,
    // q163: latest-at-or-before probe per (user, probe) — the row picked
    // by (ts DESC, event_id DESC) is the max_by tie-break exactly.
    "q163_point_in_time" ->
      """WITH probes AS (
        |  SELECT unnest(['2024-01-08', '2024-01-15',
        |                 '2024-01-22', '2024-01-29']) AS probe_date),
        |cand AS (
        |  SELECT e.user_id, p.probe_date, e.event_id, e.value, e.ts
        |  FROM events e JOIN probes p
        |    ON e.ts <= CAST(p.probe_date AS TIMESTAMP))
        |SELECT user_id, probe_date, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, probe_date
        |    ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM cand)
        |WHERE rk = 1 ORDER BY user_id, probe_date""".stripMargin,
    "q28_range_join_binned" ->
      """SELECT o_orderkey, count(*) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |WHERE o_orderkey < 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q203: the definitional interval-overlap theta join — the binned
    // owning-bin plan must reproduce it row-for-row; closed intervals,
    // overlap length inclusive of both endpoints.
    "q203_interval_join" ->
      """WITH a AS (
        |  SELECT l_orderkey, l_linenumber, l_shipdate AS a_start,
        |         l_shipdate + l_linenumber * 10 * INTERVAL 1 DAY AS a_end
        |  FROM lineitem WHERE l_quantity >= 49),
        |b AS (
        |  SELECT o_orderkey, o_orderdate AS b_start,
        |         o_orderdate + INTERVAL 14 DAY AS b_end
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT a.l_orderkey, a.l_linenumber, b.o_orderkey,
        |  CAST(date_diff('day', greatest(a_start, b_start),
        |    least(a_end, b_end)) + 1 AS BIGINT) AS overlap_days
        |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
        |ORDER BY 1, 2, 3""".stripMargin,
    // q204: the definitional recursive parent-walk over the implicit
    // heap hierarchy parent(p) = (p-1)//2 — the engine's closed-form
    // ancestor explode must agree row-for-row. n_desc excludes self;
    // subtree totals include self, in exact cents.
    "q204_hierarchy_rollup" ->
      """WITH RECURSIVE anc(node, a) AS (
        |  SELECT p_partkey, p_partkey FROM part
        |  UNION ALL
        |  SELECT node, (a - 1) // 2 FROM anc WHERE a >= 1
        |)
        |SELECT a AS p_partkey, CAST(count(*) - 1 AS BIGINT) AS n_desc,
        |  CAST(sum(CAST(round(v.p_retailprice * 100) AS BIGINT)) AS BIGINT)
        |    AS subtree_cents
        |FROM anc JOIN part v ON v.p_partkey = anc.node
        |WHERE a < 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q249: the definitional per-bucket bounding boxes under the two
    // layouts — fixed-width linear ck buckets vs the top-6-bit Morton
    // buckets; the interleave SQL is emitted by the same Scala code the
    // engine expression is built from, so a bit-order drift
    // hash-mismatches immediately. All-integer quantization (DuckDB
    // `//` == Spark `div` on non-negative BIGINTs).
    "q249_zorder_layout" ->
      s"""WITH o AS (
        |  SELECT o_custkey AS ck,
        |    date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS dy
        |  FROM orders),
        |b AS (SELECT min(ck) AS minck, max(ck) AS maxck,
        |             min(dy) AS mindy, max(dy) AS maxdy FROM o),
        |q AS (
        |  SELECT ck, dy,
        |    ((ck - minck) * ${(1L << operators.Layout.ZBits) - 1})
        |      // greatest(maxck - minck, 1) AS xq,
        |    ((dy - mindy) * ${(1L << operators.Layout.ZBits) - 1})
        |      // greatest(maxdy - mindy, 1) AS yq,
        |    ((ck - minck) * ${1 << operators.Layout.ZBucketBits})
        |      // greatest(maxck - minck + 1, 1) AS lb
        |  FROM o CROSS JOIN b),
        |z AS (SELECT ck, dy, lb,
        |  ${operators.Layout.zInterleaveSql("xq", "yq")} AS zv FROM q),
        |pairs AS (
        |  SELECT 'linear' AS layout, lb AS bucket, ck, dy FROM z
        |  UNION ALL
        |  SELECT 'zorder' AS layout,
        |    zv >> ${2 * operators.Layout.ZBits - operators.Layout.ZBucketBits}
        |      AS bucket, ck, dy FROM z)
        |SELECT layout, bucket, count(*) AS n_rows,
        |  min(ck) AS min_ck, max(ck) AS max_ck,
        |  min(dy) AS min_day, max(dy) AS max_day
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q29_dense_groupby" ->
      """SELECT CAST(l_linenumber AS BIGINT) AS linenumber, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q57_pivot" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_setops_multiset" ->
      """SELECT op, n FROM (
        |  SELECT 'except_all' AS op, count(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT 'intersect_all' AS op, count(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |) ORDER BY op""".stripMargin,
    "q59_left_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q73_minmax_by" ->
      """WITH v AS (
        |  SELECT l_returnflag, l_orderkey,
        |         l_extendedprice * 1e10 + l_orderkey * 10 + l_linenumber AS v
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       min_by(l_orderkey, v) AS cheapest_order,
        |       max_by(l_orderkey, v) AS priciest_order
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q74_string_funcs" ->
      """SELECT c_custkey,
        |       lpad(c_mktsegment, 12, '*') AS seg_lpad,
        |       rpad(c_mktsegment, 12, '-') AS seg_rpad,
        |       trim('  pad  ') AS trimmed,
        |       reverse(c_name) AS name_rev,
        |       repeat(substring(c_name, 1, 2), 3) AS rep2x3,
        |       right(c_name, 3) AS name_last3,
        |       starts_with(c_name, 'Customer') AS is_cust,
        |       contains(c_name, '00') AS has_00
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q75_full_outer_join" ->
      """WITH o AS (SELECT o_custkey AS k, count(*) AS n_open FROM orders
        |           WHERE o_orderstatus = 'O' GROUP BY 1),
        |f AS (SELECT o_custkey AS k, count(*) AS n_fin FROM orders
        |      WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT coalesce(o.k, f.k) AS custkey,
        |       CAST(coalesce(n_open, 0) AS BIGINT) AS n_open,
        |       CAST(coalesce(n_fin, 0) AS BIGINT) AS n_fin
        |FROM o FULL OUTER JOIN f ON o.k = f.k
        |ORDER BY custkey""".stripMargin,
    "q76_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS s,
        |       coalesce(o_orderpriority, 'ALL') AS p,
        |       count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY s, p""".stripMargin,
    "q77_percentiles" ->
      """SELECT o_orderstatus,
        |       CAST(round(quantile_cont(o_totalprice, 0.5) * 1000) AS BIGINT) AS p50_mills,
        |       CAST(round(quantile_cont(o_totalprice, 0.9) * 1000) AS BIGINT) AS p90_mills
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact-moment statistics: BIGINT second moments (order-independent),
    // then the same IEEE double expression as the Spark side — bit-exact,
    // no round(). `//` is DuckDB floor division ≡ Spark DIV on positives.
    "q78_stats_agg" ->
      """WITH v AS (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS p,
        |         CAST(round(l_discount * 100) AS BIGINT) AS d
        |  FROM lineitem),
        |m AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq,
        |         CAST(sum(p) AS BIGINT) AS sp, CAST(sum(p * p) AS BIGINT) AS spp,
        |         CAST(sum(q * p) AS BIGINT) AS sqp,
        |         CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d * d) AS BIGINT) AS sdd
        |  FROM v)
        |SELECT
        |  (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
        |    AS corr_qp,
        |  sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |    AS sd_qty,
        |  (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0
        |    AS var_disc,
        |  (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |    AS cov_qp
        |FROM m""".stripMargin,
    "q79_histogram" ->
      """SELECT CAST(floor(o_totalprice / 30000.0) AS BIGINT) AS bucket,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_null_handling" ->
      """SELECT o_orderpriority,
        |       count(nullif(o_orderstatus, 'P')) AS n_not_p,
        |       CAST(sum(CASE WHEN o_orderstatus IS NOT DISTINCT FROM 'P'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q81_regex_funcs" ->
      """SELECT c_custkey,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS id_str,
        |       CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS id_num,
        |       regexp_matches(c_name, '[0-9]+$') AS ends_num,
        |       regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q82_date_arith" ->
      """SELECT o_orderkey,
        |       date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95,
        |       CAST(year(o_orderdate + INTERVAL 3 MONTH) * 10000
        |            + month(o_orderdate + INTERVAL 3 MONTH) * 100
        |            + day(o_orderdate + INTERVAL 3 MONTH) AS BIGINT) AS plus3m_ymd,
        |       CAST(year(last_day(CAST(o_orderdate AS DATE))) * 10000
        |            + month(last_day(CAST(o_orderdate AS DATE))) * 100
        |            + day(last_day(CAST(o_orderdate AS DATE))) AS BIGINT) AS eom_ymd,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q83_typed_pipeline" ->
      """SELECT o_custkey AS custkey, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_firstwins_join" ->
      """WITH build AS (
        |  SELECT o_custkey AS k, min_by(o_totalprice, o_orderkey) AS first_price
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, count(*) AS cnt,
        |       round(sum(first_price), 2) AS sum_first_price
        |FROM orders JOIN build ON o_custkey = k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q54/q85/q122: the oracle pins EXACT values only — the sketch-side
    // error bounds are asserted in PropertySpec against the *Funnel /
    // cmsTopEstimates surfaces, so a Spark-internal sketch change can
    // never fail hash verification for a correct sketch.
    "q54_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts
        |FROM lineitem""".stripMargin,
    "q85_approx_percentile" ->
      """SELECT CAST(round(quantile_cont(o_totalprice, 0.5) * 1000) AS BIGINT) AS p50_mills,
        |       CAST(round(quantile_cont(o_totalprice, 0.9) * 1000) AS BIGINT) AS p90_mills
        |FROM orders""".stripMargin,
    "q86_bloom_membership" ->
      """SELECT count(*) AS n_exact, true AS no_false_negatives
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_totalprice > 300000.0)""".stripMargin,
    "q65_bulk_write" ->
      "SELECT count(*) AS n_rows FROM lineitem",
    // q161: the corruption rule (every 97th record's numeric field
    // mangled) replayed directly — good rows aggregate, bad rows only
    // count.
    "q161_malformed_ingest" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_good,
        |  CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad,
        |  CAST(sum(CASE WHEN event_id % 97 <> 0
        |           THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q171: each relationship = one anti-join count against the parent
    // key set.
    "q171_integrity_audit" ->
      """SELECT * FROM (
        |  SELECT 'lineitem->orders' AS relationship,
        |    (SELECT count(*) FROM lineitem) AS n_rows,
        |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |       ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderkey IS NULL) AS n_dangling
        |  UNION ALL
        |  SELECT 'orders->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders x LEFT JOIN customer c
        |       ON x.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'customer->nation',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer x LEFT JOIN nation n
        |       ON x.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        |  UNION ALL
        |  SELECT 'nation->region',
        |    (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM nation x LEFT JOIN region r
        |       ON x.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)
        |  UNION ALL
        |  SELECT 'supplier->nation',
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier x LEFT JOIN nation n
        |       ON x.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL))
        |ORDER BY relationship""".stripMargin,
    // q149: strict-ordering funnel — each stage's timestamp is the
    // earliest occurrence AFTER the previous stage; stages chain via
    // min-joins, so the replay is definitional.
    "q149_event_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS view_ts FROM events
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
        |SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    // q150: Monday-based week cohorts; the offset is exact integer day
    // arithmetic (datediff div 7 ≡ date_diff('day') // 7 on
    // non-negatives).
    "q150_cohort_retention" ->
      """WITH fs AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events)
        |SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT)
        |    AS week_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM act a JOIN fs f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q176: first-order Markov transition matrix — adjacency in the
    // per-user (ts, event_id) order, exact integer counts, permille
    // quantized AFTER the counts (1000·n div row-total ≡ //).
    "q176_event_transitions" -> transitionsOracle,
    // q186: the streaming sibling must land on the batch matrix exactly
    // — its oracle IS q176's replay (the cross-batch last-event state
    // makes boundary-straddling adjacency identical to the window).
    "q186_streaming_transitions" -> transitionsOracle,
    // q69 parses STRING timestamps/numerics (the reference's
    // types_utils.cpp format "%Y-%m-%dT%H:%M:%S"); the CSV text hop is
    // value-exact (ISO seconds; shortest-roundtrip doubles), so the oracle
    // reproduces it as strftime→strptime on the parquet source.
    "q69_parse_timestamps" ->
      """SELECT CAST(year(t) AS BIGINT) AS y, CAST(month(t) AS BIGINT) AS m,
        |       CAST(day(t) AS BIGINT) AS d,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM (SELECT strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'),
        |                      '%Y-%m-%dT%H:%M:%S') AS t,
        |             CAST(CAST(value AS VARCHAR) AS DOUBLE) AS v
        |      FROM events)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q66_cached_reuse" ->
      """WITH hot AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT 'all' AS metric, count(*) AS n,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents FROM hot
        |UNION ALL
        |SELECT 'repeat' AS metric, count(*) AS n,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents
        |FROM hot WHERE n_orders >= 2
        |ORDER BY metric""".stripMargin,
    "q55_array_funcs" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  string_split(text, ' ')[1] AS first_word,
        |  string_split(text, ' ')[-1] AS last_word,
        |  array_to_string(list_slice(list_sort(string_split(text, ' ')), 1, 3), ',') AS sorted3,
        |  list_contains(string_split(text, ' '), 'the') AS has_the,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_words
        |FROM documents ORDER BY doc_id""".stripMargin,
  )

  private val windowOracles: Map[String, String] = Map(
    "q22_window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,
    "q23_window_running_sum" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events ORDER BY event_id""".stripMargin,
    "q24_window_lag" ->
      """SELECT event_id, user_id,
        |  CAST(epoch_us(ts) - coalesce(lag(epoch_us(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id), epoch_us(ts))
        |    AS BIGINT) AS gap_us
        |FROM events ORDER BY event_id""".stripMargin,
    // q206: the SCD2 dimension build — one validity row per observation,
    // valid_to = next observation per user ((ts, event_id) order), -1
    // open-ended sentinel (the q27 convention).
    "q206_scd2_build" ->
      """SELECT user_id, event_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
        |  CAST(coalesce(lead(epoch_us(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id), -1)
        |    AS BIGINT) AS valid_to_us,
        |  value
        |FROM events ORDER BY user_id, valid_from_us, event_id""".stripMargin,
    "q25_window_moving_avg" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(floor(
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w * 1.0
        |    / count(*) OVER w) AS BIGINT) AS mavg_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q26_window_ranking" ->
      """SELECT c_custkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS prank
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
  )

  private val windowOracles2: Map[String, String] = Map(
    "q87_window_range_frame" ->
      """WITH c AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey,
        |       CAST(sum(cents) OVER (PARTITION BY o_orderstatus ORDER BY cents
        |         RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS near_sum_cents
        |FROM c ORDER BY o_orderkey""".stripMargin,
  )

  /** Shared edge-derivation CTEs for the graph oracles: `e` is the directed
    * deduped edge list, `ue` its symmetrization — identical semantics to
    * GraphOps.directedEdges/undirectedEdges. */
  private val edgeCte: String =
    """e AS (
      |  SELECT DISTINCT o_custkey AS src,
      |         1 + (o_orderkey % (SELECT max(c_custkey) FROM customer)) AS dst
      |  FROM orders
      |), ue AS (
      |  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
      |)""".stripMargin

  /** q91 oracle: the bounded Bellman-Ford DP unrolled to maxHops=8 levels.
    * Each level keeps the best (cost, path) per node — cost first, then
    * lexicographically smallest path, encoded as a zero-padded sort key so
    * string order == elementwise numeric order (and a strict prefix sorts
    * first, matching GraphOps.better's shorter-path rule). A naive
    * recursive CTE carrying paths would enumerate every distinct walk
    * (exponential); the per-level argmin keeps it at O(nodes + edges) rows
    * per level — exactly one Pregel superstep. */
  /** q205 oracle: Brandes' two passes unrolled over BFS levels — forward
    * path-count levels f1..f4 (settledness via NOT EXISTS against every
    * prior level), then the fixed-point dependency back-propagation
    * d3..d1, each contribution floor-divided per (v, w) edge BEFORE its
    * sum (the exact rule GraphOps.betweennessFrom states). */
  private def betweennessOracle: String = {
    val L = 4
    val fwd = (1 to L).map { k =>
      val prior = (0 until k)
        .map(j => s"SELECT origin, node FROM f$j").mkString(" UNION ALL ")
      s"""f$k AS MATERIALIZED (
         |  SELECT origin, node, CAST(sum(sigma) AS BIGINT) AS sigma FROM (
         |    SELECT p.origin, ue.dst AS node, p.sigma
         |    FROM f${k - 1} p JOIN ue ON ue.src = p.node) c
         |  WHERE NOT EXISTS (SELECT 1 FROM ($prior) x
         |                    WHERE x.origin = c.origin AND x.node = c.node)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val bwd = (L to 2 by -1).map { l =>
      val dPrev = if (l == L) "CAST(0 AS BIGINT)"
                  else s"coalesce(d$l.delta, 0)"
      val dJoin = if (l == L) ""
                  else s"\n  LEFT JOIN d$l ON d$l.origin = w.origin" +
                       s" AND d$l.node = w.node"
      s"""d${l - 1} AS MATERIALIZED (
         |  SELECT v.origin, v.node,
         |    CAST(sum(v.sigma * (1000000 + $dPrev) // w.sigma) AS BIGINT)
         |      AS delta
         |  FROM f${l - 1} v JOIN ue ON ue.src = v.node
         |  JOIN f$l w ON w.origin = v.origin AND w.node = ue.dst$dJoin
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val union = (1 until L)
      .map(j => s"SELECT * FROM d$j").mkString(" UNION ALL ")
    s"""WITH $edgeCte,
       |seeds AS (SELECT DISTINCT
       |    1 + (i * 41) % (SELECT max(c_custkey) FROM customer) AS s
       |  FROM range(0, 8) t(i)),
       |f0 AS MATERIALIZED (
       |  SELECT s AS origin, s AS node, CAST(1 AS BIGINT) AS sigma
       |  FROM seeds),
       |$fwd,
       |$bwd
       |SELECT node, CAST(sum(delta) AS BIGINT) AS bc_q
       |FROM ($union)
       |GROUP BY 1 HAVING sum(delta) > 0 ORDER BY 1""".stripMargin
  }

  /** Unrolled (cost, path, pk) level DP shared by the q91 (single-source)
    * and q127 (multi-source) path oracles — the exact shape of
    * GraphOps.multiSourcePaths, with `origin` carried through every level
    * and the per-level argmin partitioned by (origin, node). */
  private def pathsOracle(origins: Seq[Long], emitOrigin: Boolean): String = {
    val levels = (1 to 8).map { k =>
      // MATERIALIZED is load-bearing: each level is referenced twice
      // (carry-over + expansion), and DuckDB would otherwise inline the
      // whole chain — exponential plan blowup, OOM at sf0.1
      s"""l$k AS MATERIALIZED (
         |  SELECT origin, node, cost, path, pk FROM (
         |    SELECT origin, node, cost, path, pk,
         |           row_number() OVER (PARTITION BY origin, node
         |                              ORDER BY cost, pk) AS rn
         |    FROM (
         |      SELECT origin, node, cost, path, pk FROM l${k - 1}
         |      UNION ALL
         |      SELECT p.origin, ue.dst AS node,
         |             p.cost + (((ue.src % 7) * 3 + ue.dst % 7) % 7) + 1 AS cost,
         |             p.path || '->' || CAST(ue.dst AS VARCHAR) AS path,
         |             p.pk || '.' || lpad(CAST(ue.dst AS VARCHAR), 19, '0') AS pk
         |      FROM l${k - 1} p JOIN ue ON ue.src = p.node) cand
         |  ) ranked WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val seeds = origins
      .map(s => s"(CAST($s AS BIGINT))").mkString(", ")
    val outCols =
      if (emitOrigin) "origin, node, CAST(cost AS BIGINT) AS cost, path"
      else "node, CAST(cost AS BIGINT) AS cost, path"
    val ord = if (emitOrigin) "origin, node" else "node"
    s"""WITH $edgeCte,
       |l0 AS (SELECT s.s AS origin, s.s AS node, CAST(0 AS BIGINT) AS cost,
       |              CAST(s.s AS VARCHAR) AS path,
       |              lpad(CAST(s.s AS VARCHAR), 19, '0') AS pk
       |       FROM (VALUES $seeds) s(s)),
       |$levels
       |SELECT $outCols
       |FROM l8 ORDER BY $ord""".stripMargin
  }

  private val ssspPathsOracle: String = pathsOracle(Seq(1L), emitOrigin = false)

  /** q36 oracle: the integer fixed-point PageRank recurrence unrolled to
    * 10 levels — BIGINT sums and `//` (floor division ≡ Spark `div` on
    * positives) make every level bit-identical to GraphOps.pageRank. */
  /** q156 oracle: the q36 unrolled iteration with teleport mass pinned
    * to source node 1 (r0 = 10⁶·e₁, per-round CASE teleport). */
  private val pprOracle: String = {
    val levels = (1 to 10).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |         CAST((CASE WHEN n.node = 1 THEN 150000 ELSE 0 END)
         |           + (85 * CAST(coalesce(sum(r.rank // d.out_deg), 0) AS BIGINT)) // 100
         |           AS BIGINT) AS rank
         |  FROM nodes n
         |  LEFT JOIN e ON e.dst = n.node
         |  LEFT JOIN r${k - 1} r ON r.node = e.src
         |  LEFT JOIN outdeg d ON d.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCte,
       |outdeg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node,
       |  CAST(CASE WHEN node = 1 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
       |  FROM nodes),
       |$levels
       |SELECT node, rank AS ppr_micro FROM r10 ORDER BY node""".stripMargin
  }

  private val pageRankOracle: String = {
    val levels = (1 to 10).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |         CAST(150000 + (85 * CAST(coalesce(sum(r.rank // d.out_deg), 0) AS BIGINT)) // 100
         |           AS BIGINT) AS rank
         |  FROM nodes n
         |  LEFT JOIN e ON e.dst = n.node
         |  LEFT JOIN r${k - 1} r ON r.node = e.src
         |  LEFT JOIN outdeg d ON d.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCte,
       |outdeg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$levels
       |SELECT node, rank AS rank_micro FROM r10 ORDER BY node""".stripMargin
  }

  /** The aHash fingerprint CTE chain shared by q187 (exact groups) and
    * q188 (hamming funnel): text-byte framing (8 px wide, h = bytes//24
    * rows, h ≥ 8), 8×8 block-average grid in floor-integer grayscale,
    * bit = cell > floor mean, 64-char '0'/'1' hash. Ends at `ph`.
    * The strlen = length guard mirrors the Spark side's
    * byte-transparency requirement (Multimodal.imagePhashes): only
    * pure-ASCII payloads enter the image tier, so the per-character
    * ascii() here and the engine's byte framing cannot diverge. */
  private def phashCtes: String =
    """cs AS (
      |  SELECT doc_id,
      |    list_transform(list_filter(string_split(text, ''), c -> c != ''),
      |      c -> ascii(c)) AS bs,
      |    strlen(text) // 24 AS h
      |  FROM documents
      |  WHERE strlen(text) // 24 >= 8 AND strlen(text) = length(text)),
      |cells AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 64), k ->
      |      list_sum(list_transform(
      |        range((k // 8) * h // 8, ((k // 8) + 1) * h // 8),
      |        r -> (bs[24*r + 3*(k % 8) + 1] + bs[24*r + 3*(k % 8) + 2]
      |            + bs[24*r + 3*(k % 8) + 3]) // 3))
      |      // (((k // 8) + 1) * h // 8 - (k // 8) * h // 8)) AS cl
      |  FROM cs),
      |ph AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(cl, x ->
      |      CASE WHEN x > list_sum(cl) // 64 THEN '1' ELSE '0' END), '')
      |      AS phash
      |  FROM cells)""".stripMargin

  /** q173/q189 oracle: the content-addressed sampling readout — shared
    * verbatim by the batch query and the streaming monitor (additive
    * integer counts land the stream on the one-shot aggregate for any
    * batching). */
  private def hashSamplingOracle: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN substr(md5(text), 1, 2) < '29'
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CAST(1000 * CAST(sum(CASE WHEN substr(md5(text), 1, 2) < '29'
      |                       THEN 1 ELSE 0 END) AS BIGINT)
      |       // count(*) AS BIGINT) AS realized_pm
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** q176/q186 oracle: first-order Markov transition matrix — adjacency
    * in the per-user (ts, event_id) order, exact integer counts,
    * permille quantized AFTER the counts (1000·n div row-total ≡ //).
    * The streaming q186 shares it verbatim: the batch window and the
    * cross-batch state machine must produce the same matrix. */
  private def transitionsOracle: String =
    """WITH nx AS (
      |  SELECT event_type AS prev_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |p AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      |      FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
      |      FROM p GROUP BY 1)
      |SELECT p.prev_type, p.next_type, p.n,
      |  CAST(1000 * p.n // t.row_total AS BIGINT) AS p_pm
      |FROM p JOIN t USING (prev_type)
      |ORDER BY 1, 2""".stripMargin

  /** q180 oracle: the HITS mutual-reinforcement recurrence unrolled to 5
    * rounds — auth = in-edge hub sums, hub = out-edge auth sums, each
    * side max-normalized to 10⁶ ppm per round, all BIGINT floor
    * division (`//` ≡ Spark `div` on non-negatives), bit-identical to
    * GraphOps.hits. */
  private val hitsOracle: String = {
    val levels = (1 to 5).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT n.node, CAST(coalesce(sum(s.hub), 0) AS BIGINT) AS ar
         |  FROM nodes n
         |  LEFT JOIN e ON e.dst = n.node
         |  LEFT JOIN hs${k - 1} s ON s.node = e.src
         |  GROUP BY n.node),
         |a$k AS MATERIALIZED (
         |  SELECT node,
         |    (1000000 * ar) // (SELECT greatest(max(ar), 1) FROM ar$k) AS auth
         |  FROM ar$k),
         |hr$k AS MATERIALIZED (
         |  SELECT n.node, CAST(coalesce(sum(a.auth), 0) AS BIGINT) AS hr
         |  FROM nodes n
         |  LEFT JOIN e ON e.src = n.node
         |  LEFT JOIN a$k a ON a.node = e.dst
         |  GROUP BY n.node),
         |hs$k AS MATERIALIZED (
         |  SELECT node,
         |    (1000000 * hr) // (SELECT greatest(max(hr), 1) FROM hr$k) AS hub
         |  FROM hr$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCte,
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |hs0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
       |$levels
       |SELECT n.node, CAST(h.hub AS BIGINT) AS hub_ppm,
       |  CAST(a.auth AS BIGINT) AS auth_ppm
       |FROM nodes n JOIN hs5 h ON h.node = n.node JOIN a5 a ON a.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** q38 oracle: synchronous min-tie-break label propagation unrolled to
    * 5 rounds — per-round neighbor-label counts + per-node argmax with
    * (cnt DESC, label ASC) ordering, identical to GraphOps
    * .labelPropagation's deterministic rule. */
  private val labelPropOracle: String = {
    val levels = (1 to 5).map { k =>
      s"""l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |             ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (
         |      SELECT ue.src AS node, l.label, count(*) AS cnt
         |      FROM ue JOIN l${k - 1} l ON l.node = ue.dst
         |      GROUP BY ue.src, l.label) c
         |  ) ranked WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCte,
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM ue),
       |$levels
       |SELECT node, label AS community FROM l5 ORDER BY node""".stripMargin
  }

  /** q211 oracle: the synchronous modularity-greedy local-move phase
    * unrolled to [[operators.GraphOps.LouvainRounds]] rounds — per
    * round the integer gain 2m·k_{i,c} − k_i·(Σtot_c − [c=own]·k_i)
    * over neighbor communities plus the stay option, argmax with
    * (gain DESC, stay-first, c ASC) ordering, applied only to the
    * round's node-id parity class (the deterministic 2-coloring
    * schedule that breaks synchronous swap cycles). Identical rule to
    * GraphOps.modularityCommunitiesFrom. */
  /** One Louvain move-phase CTE block over `edgeRel` (src, dst, w),
    * CTE names prefixed `pfx` so two phases compose in one query —
    * generated from the same rule as GraphOps.louvainMovePhase:
    * weighted kic EXCLUDING self-loops, degrees including them,
    * integer gains, (gain DESC, stay-first, c ASC) argmax, node-parity
    * schedule. */
  private def louvainPhaseCtes(pfx: String, edgeRel: String,
      rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""${pfx}k$r AS (
         |  SELECT e.src AS node, l.label AS c,
         |    CAST(sum(e.w) AS BIGINT) AS kic
         |  FROM $edgeRel e JOIN ${pfx}lv${r - 1} l ON l.node = e.dst
         |  WHERE e.src <> e.dst GROUP BY 1, 2),
         |${pfx}t$r AS (
         |  SELECT l.label AS c, CAST(sum(d.deg) AS BIGINT) AS tot
         |  FROM ${pfx}lv${r - 1} l JOIN ${pfx}deg d USING (node)
         |  GROUP BY 1),
         |${pfx}c$r AS (
         |  SELECT node, c, max(kic) AS kic FROM (
         |    SELECT node, c, kic FROM ${pfx}k$r
         |    UNION ALL SELECT node, label AS c, 0 FROM ${pfx}lv${r - 1})
         |  GROUP BY 1, 2),
         |${pfx}g$r AS (
         |  SELECT x.node, x.c, li.label AS own,
         |    CAST(m.m2 AS HUGEINT) * x.kic - CAST(d.deg AS HUGEINT) *
         |      (t.tot - CASE WHEN x.c = li.label THEN d.deg ELSE 0 END)
         |      AS gain
         |  FROM ${pfx}c$r x JOIN ${pfx}t$r t USING (c)
         |  JOIN ${pfx}lv${r - 1} li ON li.node = x.node
         |  JOIN ${pfx}deg d ON d.node = x.node CROSS JOIN ${pfx}mm m),
         |${pfx}lv$r AS MATERIALIZED (
         |  SELECT node,
         |    CASE WHEN node % 2 = ${r % 2} THEN c ELSE own END AS label
         |  FROM (
         |    SELECT node, c, own, row_number() OVER (PARTITION BY node
         |      ORDER BY gain DESC, CASE WHEN c = own THEN 0 ELSE 1 END, c)
         |      AS rk
         |    FROM ${pfx}g$r) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}deg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS deg
       |  FROM $edgeRel GROUP BY 1),
       |${pfx}mm AS (SELECT CAST(sum(deg) AS BIGINT) AS m2
       |  FROM ${pfx}deg),
       |${pfx}lv0 AS MATERIALIZED (
       |  SELECT node, node AS label FROM ${pfx}deg),
       |$rs""".stripMargin
  }

  private val modularityOracle: String =
    s"""WITH $edgeCte,
       |uew AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM ue),
       |${louvainPhaseCtes("", "uew", operators.GraphOps.LouvainRounds)}
       |SELECT node, label AS community
       |FROM lv${operators.GraphOps.LouvainRounds} ORDER BY node"""
      .stripMargin

  /** q215 oracle: the q211 phase, community contraction (intra mass on
    * the (c, c) self-loop), and a second move phase over the weighted
    * contracted relation — label maps composed. */
  private val louvainTwoLevelOracle: String = {
    val n = operators.GraphOps.LouvainRounds
    s"""WITH $edgeCte,
       |uew AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM ue),
       |${louvainPhaseCtes("", "uew", n)},
       |ce AS MATERIALIZED (
       |  SELECT a.label AS src, b.label AS dst,
       |    CAST(sum(e.w) AS BIGINT) AS w
       |  FROM uew e JOIN lv$n a ON a.node = e.src
       |             JOIN lv$n b ON b.node = e.dst
       |  GROUP BY 1, 2),
       |${louvainPhaseCtes("x", "ce", n)}
       |SELECT l.node, l.label AS community_l1, x.label AS community
       |FROM lv$n l JOIN xlv$n x ON x.node = l.label
       |ORDER BY l.node""".stripMargin
  }

  /** Shared CTE chain for the online-classifier oracles (q220/q222):
    * hashed features x, labels y with the ordered-feed chunk
    * assignment bt (generated from FileFeed.StreamChunks), and the
    * inherited-weight relations w0..wN — one q218-style update block
    * per chunk. Both the chunk arithmetic and the unroll derive from
    * the same constants the Spark entries use. */
  private lazy val onlineClfCtes: String = {
    val b = operators.Classifier.PerceptronBuckets
    val nc = streaming.FileFeed.StreamChunks
    val rounds = (1 to nc).map { r =>
      val c = r - 1
      s"""m$r AS (
         |  SELECT x.doc_id, y.y,
         |    CAST(sum(x.n * w.wv) AS BIGINT) AS margin
         |  FROM x JOIN w${r - 1} w USING (b)
         |  JOIN y ON y.doc_id = x.doc_id
         |  WHERE y.is_train AND y.bt = $c GROUP BY 1, 2),
         |d$r AS (
         |  SELECT x.b, CAST(sum(y.y * x.n) AS BIGINT) AS d
         |  FROM x JOIN y ON y.doc_id = x.doc_id
         |  SEMI JOIN (SELECT doc_id FROM m$r WHERE y * margin <= 0) mm
         |    ON mm.doc_id = x.doc_id
         |  WHERE y.is_train AND y.bt = $c GROUP BY 1),
         |w$r AS MATERIALIZED (
         |  SELECT w.b, CAST(w.wv + coalesce(d.d, 0) AS BIGINT) AS wv
         |  FROM w${r - 1} w LEFT JOIN d$r d USING (b))""".stripMargin
    }.mkString(",\n")
    s"""bounds AS (
      |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |tk AS (
      |  SELECT doc_id, (${fnvSql("term", "14695981039346656037")}) % $b
      |    AS b
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  WHERE term <> ''),
      |x AS MATERIALIZED (
      |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
      |  FROM tk GROUP BY 1, 2
      |  UNION ALL
      |  SELECT doc_id, $b, CAST(1 AS BIGINT) FROM documents),
      |y AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN list_contains(string_split(text, ' '), 'spark')
      |         THEN 1 ELSE -1 END AS y,
      |    doc_id % 3 <> 1 AS is_train,
      |    CAST((doc_id - lo) // ((hi - lo) // $nc + 1) AS BIGINT) AS bt
      |  FROM documents, bounds),
      |w0 AS MATERIALIZED (
      |  SELECT unnest(range(0, ${b + 1})) AS b,
      |    CAST(0 AS BIGINT) AS wv),
      |$rounds""".stripMargin
  }

  private val graphOracles: Map[String, String] = Map(
    "q211_modularity_communities" -> modularityOracle,
    "q215_louvain_two_level" -> louvainTwoLevelOracle,
    "q91_sssp_paths" -> ssspPathsOracle,
    // q127: the batched form — 5 origins through the same unrolled DP,
    // argmin per (origin, node)
    "q127_multi_source_paths" ->
      pathsOracle(Seq(1L, 2L, 3L, 4L, 5L), emitOrigin = true),
    "q36_pagerank" -> pageRankOracle,
    "q156_personalized_pagerank" -> pprOracle,
    "q38_label_propagation" -> labelPropOracle,
    "q30_adjacency_build" ->
      s"""WITH $edgeCte,
        |adj AS (
        |  SELECT src, count(*) AS degree,
        |         string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS nbrs
        |  FROM ue GROUP BY src)
        |SELECT src,
        |  CAST(coalesce(sum(degree) OVER (ORDER BY src
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS first_nbr,
        |  CAST(degree AS BIGINT) AS degree, nbrs
        |FROM adj ORDER BY src""".stripMargin,
    "q31_degrees" ->
      s"""WITH $edgeCte,
        |o AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1)
        |SELECT coalesce(o.node, i.node) AS node,
        |       CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
        |       CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
        |FROM o FULL OUTER JOIN i ON o.node = i.node
        |ORDER BY node""".stripMargin,
    "q32_bfs" ->
      s"""WITH RECURSIVE $edgeCte,
        |walk(node, d) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION
        |  SELECT ue.dst, w.d + 1 FROM walk w JOIN ue ON ue.src = w.node
        |  WHERE w.d < 10
        |)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    // q124: multi-source hop-capped walk; same weight/cap as q33 — the
    // seed VALUES row set is the origin batch, the IN list the dst batch.
    "q124_p2p_routing" ->
      s"""WITH RECURSIVE $edgeCte,
        |walk(origin, node, hops, cost) AS (
        |  SELECT s.s, s.s, 0, CAST(0 AS BIGINT)
        |  FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |               (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT)),
        |               (CAST(5 AS BIGINT))) s(s)
        |  UNION
        |  SELECT w.origin, ue.dst, w.hops + 1,
        |         w.cost + (((ue.src % 7) * 3 + ue.dst % 7) % 7) + 1
        |  FROM walk w JOIN ue ON ue.src = w.node
        |  WHERE w.hops < 8
        |)
        |SELECT origin AS src, node AS dst, CAST(min(cost) AS BIGINT) AS cost
        |FROM walk WHERE node IN (10, 20, 30, 40, 50)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q132: the q124 walk shape with edge weights READ FROM THE DATA —
    // the toll is the originating order's totalprice in cents mod 9 + 1,
    // min-reduced per (src, dst) over contributing orders and over both
    // directions of the symmetrized edge (a well-defined undirected
    // weight), proving the sweep is weight-agnostic end to end.
    "q132_data_weighted_routing" ->
      s"""WITH RECURSIVE we AS (
        |  SELECT src, dst, min(w) AS w FROM (
        |    SELECT o_custkey AS src,
        |           1 + (o_orderkey % (SELECT max(c_custkey) FROM customer)) AS dst,
        |           1 + (CAST(round(o_totalprice * 100) AS BIGINT) % 9) AS w
        |    FROM orders
        |    UNION ALL
        |    SELECT 1 + (o_orderkey % (SELECT max(c_custkey) FROM customer)),
        |           o_custkey,
        |           1 + (CAST(round(o_totalprice * 100) AS BIGINT) % 9)
        |    FROM orders)
        |  GROUP BY src, dst),
        |walk(origin, node, hops, cost) AS (
        |  SELECT s.s, s.s, 0, CAST(0 AS BIGINT)
        |  FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |               (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT)),
        |               (CAST(5 AS BIGINT))) s(s)
        |  UNION
        |  SELECT w.origin, we.dst, w.hops + 1, w.cost + we.w
        |  FROM walk w JOIN we ON we.src = w.node
        |  WHERE w.hops < 8
        |)
        |SELECT origin AS src, node AS dst, CAST(min(cost) AS BIGINT) AS cost
        |FROM walk WHERE node IN (10, 20, 30, 40, 50)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q134: sampled weighted closeness over the SAME data-derived edge
    // relation as q132 — one batched hop-capped sweep from the k=16
    // stride-53 rule sources, then per-origin (reached-1)/sum_cost. The
    // closeness division is one BIGINT/BIGINT double op, IEEE-identical
    // across engines; isolated source (sum_cost=0) reports 0.0.
    "q134_closeness_centrality" ->
      s"""WITH RECURSIVE we AS (
        |  SELECT src, dst, min(w) AS w FROM (
        |    SELECT o_custkey AS src,
        |           1 + (o_orderkey % (SELECT max(c_custkey) FROM customer)) AS dst,
        |           1 + (CAST(round(o_totalprice * 100) AS BIGINT) % 9) AS w
        |    FROM orders
        |    UNION ALL
        |    SELECT 1 + (o_orderkey % (SELECT max(c_custkey) FROM customer)),
        |           o_custkey,
        |           1 + (CAST(round(o_totalprice * 100) AS BIGINT) % 9)
        |    FROM orders)
        |  GROUP BY src, dst),
        |srcs AS (
        |  SELECT DISTINCT
        |    1 + (CAST(v.i AS BIGINT) * 53) % (SELECT max(c_custkey) FROM customer) AS s
        |  FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),
        |               (12),(13),(14),(15)) v(i)),
        |walk(origin, node, hops, cost) AS (
        |  SELECT s, s, 0, CAST(0 AS BIGINT) FROM srcs
        |  UNION
        |  SELECT w.origin, we.dst, w.hops + 1, w.cost + we.w
        |  FROM walk w JOIN we ON we.src = w.node
        |  WHERE w.hops < 8
        |),
        |mc AS (SELECT origin, node, min(cost) AS cost FROM walk GROUP BY 1, 2)
        |SELECT origin, CAST(count(*) AS BIGINT) AS reached,
        |       CAST(sum(cost) AS BIGINT) AS sum_cost,
        |       CASE WHEN sum(cost) = 0 THEN CAST(0.0 AS DOUBLE)
        |            ELSE CAST(count(*) - 1 AS DOUBLE) / CAST(sum(cost) AS DOUBLE)
        |       END AS closeness
        |FROM mc GROUP BY origin ORDER BY origin""".stripMargin,
    // q172: edges with an existing reverse / all edges; ratio is one
    // double division over exact longs.
    "q172_reciprocity" ->
      s"""WITH $edgeCte,
        |r AS (SELECT count(*) AS n_reciprocated FROM e
        |      SEMI JOIN (SELECT dst AS src, src AS dst FROM e) x
        |      USING (src, dst))
        |SELECT (SELECT count(*) FROM e) AS n_edges, r.n_reciprocated,
        |  CAST(r.n_reciprocated AS DOUBLE)
        |    / CAST((SELECT count(*) FROM e) AS DOUBLE) AS reciprocity
        |FROM r""".stripMargin,
    // q147: per-vertex triangles via the plain unoriented wedge join
    // (the Spark side's degree orientation changes the enumeration
    // order, not the per-corner counts); coefficient in exact integer
    // per-mille.
    "q147_clustering_coeff" ->
      s"""WITH $edgeCte,
        |ce AS (SELECT src AS a, dst AS b FROM ue WHERE src < dst),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM ce e1
        |  JOIN ce e2 ON e2.a = e1.b
        |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
        |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT d.node, d.deg,
        |  CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN d.deg >= 2
        |            THEN 2000 * coalesce(t.n_tri, 0) // (d.deg * (d.deg - 1))
        |            ELSE 0 END AS BIGINT) AS cc_pm
        |FROM deg d LEFT JOIN tn t USING (node) ORDER BY d.node""".stripMargin,
    // q165: friend-of-friend pool — wedge join, distinct, direct
    // neighbors and self excluded; zero-pool nodes kept. Mids with
    // degree above the wired hub cap (256, = GraphOps.TwoHopMidDegCap)
    // generate no wedges; their skipped mass is reported in the two
    // summary columns (0 on the fixture, whose max degree is ~34).
    "q165_two_hop_counts" ->
      s"""WITH $edgeCte,
        |deg AS (SELECT src AS b, CAST(count(*) AS BIGINT) AS mdeg
        |        FROM ue GROUP BY 1),
        |hot AS (SELECT b, mdeg FROM deg WHERE mdeg > 256),
        |capped AS (SELECT CAST(count(*) AS BIGINT) AS n_capped_mids,
        |                  CAST(coalesce(sum(mdeg * (mdeg - 1)), 0) AS BIGINT)
        |                    AS n_capped_wedges
        |           FROM hot),
        |two AS (SELECT DISTINCT e1.src AS a, e2.dst AS c
        |        FROM ue e1 JOIN ue e2 ON e1.dst = e2.src
        |        WHERE e2.dst <> e1.src
        |          AND e1.dst NOT IN (SELECT b FROM hot)),
        |fof AS (SELECT t.a, t.c FROM two t
        |        ANTI JOIN ue d ON d.src = t.a AND d.dst = t.c),
        |n AS (SELECT DISTINCT src AS node FROM ue)
        |SELECT n.node, CAST(coalesce(f.cnt, 0) AS BIGINT) AS n_two_hop,
        |       capped.n_capped_mids, capped.n_capped_wedges
        |FROM n LEFT JOIN (SELECT a, count(*) AS cnt FROM fof GROUP BY 1) f
        |  ON f.a = n.node
        |CROSS JOIN capped
        |ORDER BY n.node""".stripMargin,
    // q152: endpoint-degree Pearson over the symmetrized edge list; the
    // moment sums are exact integers, the coefficient one double
    // expression over them (identical operation order in both engines).
    "q152_degree_assortativity" ->
      s"""WITH $edgeCte,
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM ue GROUP BY 1),
        |wd AS (SELECT dx.deg AS x, dy.deg AS y FROM ue
        |       JOIN deg dx ON ue.src = dx.node
        |       JOIN deg dy ON ue.dst = dy.node)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(x*x) AS BIGINT) AS sum_x2,
        |  CAST(sum(y*y) AS BIGINT) AS sum_y2,
        |  CAST(sum(x*y) AS BIGINT) AS sum_xy,
        |  CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE)
        |    / sqrt(CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE))
        |    / sqrt(CAST(count(*) * sum(y*y) - sum(y) * sum(y) AS DOUBLE))
        |    AS assortativity
        |FROM wd""".stripMargin,
    // q153: the k=2 run-to-fixpoint peel — each round drops nodes with
    // residual degree < 2 and keeps only edges between survivors. The
    // Spark side iterates until no node drops; the oracle unrolls the
    // fixture's realized round count plus slack (post-fixpoint rounds
    // are the identity, so the longer unroll is exact).
    "q153_kcore" ->
      s"""WITH $edgeCte,
        |${kCoreUnrollCtes(operators.GraphOps.KCoreOracleUnroll)}
        |SELECT src AS node, CAST(count(*) AS BIGINT) AS residual_deg
        |FROM e${operators.GraphOps.KCoreOracleUnroll} GROUP BY 1 ORDER BY 1"""
        .stripMargin,
    // q175: the k=3 truss peel run past its fixpoint (unroll depth =
    // GraphOps.KTrussOracleUnroll, which the operator fail-fast-guards
    // against its realized round count — unroll exhaustion surfaces as a
    // named error, never a hash mismatch) — surviving canonical edges
    // with their converged triangle-support counts.
    "q175_ktruss" ->
      s"""WITH $edgeCte,
        |${kTrussUnrollCtes(operators.GraphOps.KTrussOracleUnroll, 1)}
        |SELECT e.a AS src, e.b AS dst,
        |  CAST(coalesce(s.sup, 0) AS BIGINT) AS support
        |FROM e${operators.GraphOps.KTrussOracleUnroll} e
        |LEFT JOIN sf s ON s.u = e.a AND s.v = e.b
        |ORDER BY 1, 2""".stripMargin,
    // q178: the k=4 peel (support ≥ 2) over the mod-folded edge
    // relation (the raw fixture graph holds no 4-truss — every edge
    // would peel, a trivially-empty gate) — proves the truss loop
    // generalizes past the registered k=3 gate; same unroll generator
    // at minSup=2, same fail-fast unroll guard. The fold constant is
    // GraphOps.TrussDenseMod, interpolated here so the two sides cannot
    // desynchronize.
    "q178_ktruss4" ->
      s"""WITH $edgeCte,
        |uf AS MATERIALIZED (
        |  SELECT DISTINCT src % ${operators.GraphOps.TrussDenseMod} AS src,
        |         dst % ${operators.GraphOps.TrussDenseMod} AS dst
        |  FROM ue
        |  WHERE src % ${operators.GraphOps.TrussDenseMod}
        |     <> dst % ${operators.GraphOps.TrussDenseMod}),
        |${kTrussUnrollCtes(operators.GraphOps.KTrussOracleUnroll, 2, "uf")}
        |SELECT e.a AS src, e.b AS dst,
        |  CAST(coalesce(s.sup, 0) AS BIGINT) AS support
        |FROM e${operators.GraphOps.KTrussOracleUnroll} e
        |LEFT JOIN sf s ON s.u = e.a AND s.v = e.b
        |ORDER BY 1, 2""".stripMargin,
    // q180: the HITS recurrence unrolled — per round an in-edge hub sum,
    // a max-normalize to 10⁶ ppm, an out-edge auth sum, and its
    // normalize, all BIGINT floor division like q36.
    "q180_hits" -> hitsOracle,
    // q181: the q126 multi-source walk from 16 deterministic sources,
    // folded to per-origin max distance + reached count, with the
    // sample max as a diameter lower bound on every row.
    "q181_eccentricity_sample" ->
      s"""WITH RECURSIVE $edgeCte,
        |srcs AS (
        |  SELECT DISTINCT CAST(1 + (t.i * 41) %
        |    (SELECT max(c_custkey) FROM customer) AS BIGINT) AS s
        |  FROM range(0, 16) t(i)),
        |walk(origin, node, d) AS (
        |  SELECT s, s, 0 FROM srcs
        |  UNION
        |  SELECT w.origin, ue.dst, w.d + 1
        |  FROM walk w JOIN ue ON ue.src = w.node
        |  WHERE w.d < 10),
        |md AS (SELECT origin, node, min(d) AS d FROM walk GROUP BY 1, 2),
        |per AS (
        |  SELECT origin, CAST(max(d) AS BIGINT) AS eccentricity,
        |    CAST(count(*) AS BIGINT) AS n_reached
        |  FROM md GROUP BY 1)
        |SELECT origin, eccentricity, n_reached,
        |  (SELECT max(eccentricity) FROM per) AS diameter_lb
        |FROM per ORDER BY origin""".stripMargin,
    // q183: blocked edit-distance linkage — 16-char prefix blocks with
    // the >cap blocks excluded AND reported (mirrored cap), levenshtein
    // ≤ 8 over the 80-char slice; levenshtein is the same exact integer
    // DP in both engines.
    "q183_edit_linkage" ->
      s"""WITH keyed AS (
        |  SELECT doc_id, substring(text, 1, 16) AS bk,
        |         substring(text, 1, ${operators.Dedup.LinkageSliceLen})
        |           AS slice
        |  FROM documents),
        |hot AS (
        |  SELECT bk, count(*) AS bsz FROM keyed GROUP BY 1
        |  HAVING count(*) > ${operators.Dedup.LinkageBlockCap}),
        |skipped AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_skipped_blocks,
        |         CAST(coalesce(sum(bsz), 0) AS BIGINT) AS n_skipped_docs
        |  FROM hot),
        |inplay AS (SELECT k.* FROM keyed k ANTI JOIN hot h USING (bk)),
        |pairs AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(levenshtein(a.slice, b.slice) AS BIGINT) AS dist
        |  FROM inplay a
        |  JOIN inplay b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |  WHERE levenshtein(a.slice, b.slice) <= 8)
        |SELECT p.ia, p.ib, p.dist, s.n_skipped_blocks, s.n_skipped_docs
        |FROM pairs p CROSS JOIN skipped s
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), s.n_skipped_blocks, s.n_skipped_docs
        |FROM skipped s WHERE NOT EXISTS (SELECT 1 FROM pairs)
        |ORDER BY 1, 2""".stripMargin,
    // q199: containment join — distinct word-8-gram sets (raw grams
    // here; the Spark side's md5 digests are injective on them), the
    // literal hot-gram cap replay, directed shared counts over the
    // contained side's full set size, τ = 1/2, integer floor per-mille;
    // skipped mass rides every row, sentinel when no pair verifies.
    "q199_containment_join" ->
      s"""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS h
        |  FROM w),
        |sz AS (SELECT doc_id, count(*) AS size_a FROM grams GROUP BY 1),
        |hot AS (SELECT h, count(*) AS df FROM grams GROUP BY 1
        |        HAVING count(*) > ${operators.Dedup.ContainmentGramCap}),
        |skipped AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_skipped_grams,
        |         CAST(coalesce(sum(df), 0) AS BIGINT) AS n_skipped_rows
        |  FROM hot),
        |inplay AS (SELECT g.* FROM grams g ANTI JOIN hot USING (h)),
        |pairs AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM inplay a JOIN inplay b
        |    ON a.h = b.h AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |cpairs AS (
        |  SELECT p.ia, p.ib, p.shared, CAST(s.size_a AS BIGINT) AS size_a,
        |    CAST(p.shared * 1000000 // s.size_a AS BIGINT) AS containment_ppm
        |  FROM pairs p JOIN sz s ON s.doc_id = p.ia
        |  WHERE p.shared * 2 >= s.size_a)
        |SELECT c.*, s.n_skipped_grams, s.n_skipped_rows
        |FROM cpairs c CROSS JOIN skipped s
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  s.n_skipped_grams, s.n_skipped_rows
        |FROM skipped s WHERE NOT EXISTS (SELECT 1 FROM cpairs)
        |ORDER BY 1, 2""".stripMargin,
    // q217: video temporal near-dup — the q199 chain over frame-digest
    // "words" (ordered 64-byte-frame md5s) with 3-gram temporal
    // shingles; byte-transparency gate, same cap/sentinel contract.
    "q217_video_neardup" -> frameContainmentOracle(
      """ft AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT)),
        |      i -> md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64))),
        |      ' ') AS text
        |  FROM documents
        |  WHERE strlen(text) = length(text))""".stripMargin),
    // q245: perceptual video near-dup — the same temporal containment
    // chain with each frame's word swapped from md5 to its aHash (the
    // q187 list-lambda replay per 192-byte 8×8 frame: pixel gray =
    // floor-mean of its 3 bytes, bit = gray > the frame's floor-mean),
    // so re-encode noise that stays on one side of each frame's own
    // mean leaves every shingle intact.
    "q245_video_perceptual_neardup" -> frameContainmentOracle(
      s"""fb AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(string_split(text, ''),
        |      c -> c != ''), c -> ascii(c)) AS bs,
        |    strlen(text) // ${operators.Multimodal.VideoFrameBytes} AS nf
        |  FROM documents
        |  WHERE strlen(text) = length(text)),
        |fg AS (
        |  SELECT doc_id, f,
        |    list_transform(range(0, 64), k ->
        |      (bs[f*${operators.Multimodal.VideoFrameBytes} + 3*k + 1]
        |       + bs[f*${operators.Multimodal.VideoFrameBytes} + 3*k + 2]
        |       + bs[f*${operators.Multimodal.VideoFrameBytes} + 3*k + 3])
        |      // 3) AS g
        |  FROM (SELECT doc_id, bs, unnest(range(0, nf)) AS f FROM fb)),
        |ft AS (
        |  SELECT doc_id, array_to_string(list(fh ORDER BY f), ' ') AS text
        |  FROM (
        |    SELECT doc_id, f,
        |      array_to_string(list_transform(g, x ->
        |        CASE WHEN x > list_sum(g) // 64 THEN '1' ELSE '0' END),
        |        '') AS fh
        |    FROM fg)
        |  GROUP BY doc_id)""".stripMargin),
    // q219: the q129 funnel's verified dup pairs (agree ≥ 32 ∪
    // escalated exacts) symmetrized into the near-dup graph, then the
    // q211 move-phase unroll over it — composition of two generated
    // oracle chains.
    "q219_dup_graph_communities" ->
      s"""WITH $minhashAgreeCtes,
        |dpairs AS (SELECT ia, ib FROM withagree WHERE agree >= 32
        |           UNION SELECT ia, ib FROM escpairs),
        |uew AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM (
        |  SELECT ia AS src, ib AS dst FROM dpairs
        |  UNION SELECT ib, ia FROM dpairs)),
        |${louvainPhaseCtes("", "uew", operators.GraphOps.LouvainRounds)}
        |SELECT node AS doc_id, label AS community
        |FROM lv${operators.GraphOps.LouvainRounds}
        |ORDER BY doc_id""".stripMargin,
    // q220: the ONLINE perceptron — one q218-style update block per
    // ordered-feed chunk (chunk assignment replayed arithmetically,
    // the q216 rule), final weights score the whole corpus.
    "q220_streaming_classifier" -> {
      val b = operators.Classifier.PerceptronBuckets
      val nc = streaming.FileFeed.StreamChunks
      s"""WITH $onlineClfCtes
        |SELECT x.doc_id, CAST(y.y AS BIGINT) AS label, y.is_train,
        |  CAST(sum(x.n * w.wv) AS BIGINT) AS margin,
        |  CAST(CASE WHEN sum(x.n * w.wv) > 0 THEN 1 ELSE -1 END
        |    AS BIGINT) AS predicted
        |FROM x JOIN w$nc w USING (b) JOIN y ON y.doc_id = x.doc_id
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
    },
    // q222: the held-out trajectory — each chunk's held-out docs scored
    // under the INHERITED weight relation w{c} (the weights that had
    // not yet seen the chunk), correct ⟺ sign-prediction equals label.
    "q222_classifier_heldout" -> {
      val nc = streaming.FileFeed.StreamChunks
      val blocks = (0 until nc).map { c =>
        s"""h$c AS (
           |  SELECT CAST($c AS BIGINT) AS batch_id,
           |    CAST(coalesce(sum(CASE WHEN
           |      (CASE WHEN margin > 0 THEN 1 ELSE -1 END) = y
           |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS held_correct,
           |    CAST(count(*) AS BIGINT) AS held_total
           |  FROM (
           |    SELECT x.doc_id, y.y, sum(x.n * w.wv) AS margin
           |    FROM x JOIN w$c w USING (b)
           |    JOIN y ON y.doc_id = x.doc_id
           |    WHERE NOT y.is_train AND y.bt = $c GROUP BY 1, 2))"""
          .stripMargin
      }.mkString(",\n")
      val sel = (0 until nc).map(c => s"SELECT * FROM h$c")
        .mkString("\n| UNION ALL ")
      s"""WITH $onlineClfCtes,
        |$blocks
        |$sel
        |ORDER BY batch_id""".stripMargin
    },
    // q218: batch-perceptron training replay — FNV-hashed unigram
    // buckets (+bias 64), integer weights, per-round (margins →
    // misclassified → delta → weight merge) blocks generated from
    // PerceptronRounds; y·margin ≤ 0 is the update rule, ties to −1 on
    // prediction.
    "q218_quality_perceptron" -> {
      val b = operators.Classifier.PerceptronBuckets
      val n = operators.Classifier.PerceptronRounds
      val rounds = (1 to n).map { r =>
        s"""m$r AS (
           |  SELECT x.doc_id, y.y,
           |    CAST(sum(x.n * w.wv) AS BIGINT) AS margin
           |  FROM x JOIN w${r - 1} w USING (b)
           |  JOIN y ON y.doc_id = x.doc_id
           |  WHERE y.is_train GROUP BY 1, 2),
           |d$r AS (
           |  SELECT x.b, CAST(sum(y.y * x.n) AS BIGINT) AS d
           |  FROM x JOIN y ON y.doc_id = x.doc_id
           |  SEMI JOIN (SELECT doc_id FROM m$r WHERE y * margin <= 0) mm
           |    ON mm.doc_id = x.doc_id
           |  WHERE y.is_train GROUP BY 1),
           |w$r AS MATERIALIZED (
           |  SELECT w.b, CAST(w.wv + coalesce(d.d, 0) AS BIGINT) AS wv
           |  FROM w${r - 1} w LEFT JOIN d$r d USING (b))""".stripMargin
      }.mkString(",\n")
      s"""WITH tk AS (
        |  SELECT doc_id, (${fnvSql("term", "14695981039346656037")}) % $b
        |    AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  WHERE term <> ''),
        |x AS MATERIALIZED (
        |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
        |  FROM tk GROUP BY 1, 2
        |  UNION ALL
        |  SELECT doc_id, $b, CAST(1 AS BIGINT) FROM documents),
        |y AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN list_contains(string_split(text, ' '), 'spark')
        |         THEN 1 ELSE -1 END AS y,
        |    doc_id % 3 <> 1 AS is_train
        |  FROM documents),
        |w0 AS MATERIALIZED (
        |  SELECT unnest(range(0, ${b + 1})) AS b,
        |    CAST(0 AS BIGINT) AS wv),
        |$rounds
        |SELECT x.doc_id, CAST(y.y AS BIGINT) AS label, y.is_train,
        |  CAST(sum(x.n * w.wv) AS BIGINT) AS margin,
        |  CAST(CASE WHEN sum(x.n * w.wv) > 0 THEN 1 ELSE -1 END
        |    AS BIGINT) AS predicted
        |FROM x JOIN w$n w USING (b) JOIN y ON y.doc_id = x.doc_id
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
    },
    // q205: sampled bounded-radius Brandes betweenness — unrolled
    // forward path-count levels (f1..f4) + unrolled fixed-point
    // dependency back-propagation (d3..d1), floor-divided per edge
    // before each sum; endpoints excluded, positive rows only.
    "q205_betweenness" -> betweennessOracle,
    // q184: log-binned degree histogram — bin = bit length of the
    // degree via length(bin(deg)), exact in both engines.
    "q184_degree_histogram" ->
      s"""WITH $edgeCte,
        |deg AS (SELECT src, count(*) AS deg FROM ue GROUP BY 1)
        |SELECT CAST(length(bin(deg)) AS BIGINT) AS deg_bin,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(deg) AS BIGINT) AS min_deg,
        |  CAST(max(deg) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    // q185: per-source top-100 term sets ((count DESC, term ASC) total
    // order) → pairwise shared counts + exact per-mille Jaccard over
    // the realized set sizes.
    "q185_source_vocab_overlap" ->
      s"""WITH tc AS (
        |  SELECT source, term, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT source, term FROM (
        |    SELECT source, term,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY c DESC, term ASC) AS rn
        |    FROM tc)
        |  WHERE rn <= ${operators.CorpusOps.VocabTopN}),
        |sizes AS (SELECT source, count(*) AS n FROM top GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM top a JOIN top b
        |    ON a.term = b.term AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared,
        |  CAST(1000 * p.n_shared // (sa.n + sb.n - p.n_shared) AS BIGINT)
        |    AS jaccard_pm
        |FROM pairs p
        |JOIN sizes sa ON sa.source = p.source_a
        |JOIN sizes sb ON sb.source = p.source_b
        |ORDER BY 1, 2""".stripMargin,
    // q191: priority sampling with the Knuth-hash uniform (carry-split,
    // knuthHash32Sql) and the integer floor priority — both sides replay
    // the exact order. The weight is the shared qualityScoreSql fragment
    // (the DuckDB mirror of TextFunctions.qualityScore), stated once and
    // interpolated into both positions.
    "q191_weighted_sample" ->
      s"""SELECT doc_id, weight, priority FROM (
        |  SELECT doc_id,
        |    greatest(1, ${qualityScoreSql("text")}) AS weight,
        |    ((${knuthHash32Sql("doc_id")}) + 1) * 1000000
        |      // greatest(1, ${qualityScoreSql("text")}) AS priority
        |  FROM documents)
        |ORDER BY priority, doc_id LIMIT 64""".stripMargin,
    // q196: DSIR importance replay — unseeded FNV unigram buckets
    // (mod 256 of the unsigned hash ≡ Spark's pmod of the signed one,
    // since 2⁶⁴ ≡ 0 mod 256), add-one smoothed per-bucket LLR quantized
    // floor(ln·1e4) BEFORE the integer per-doc sum (the q143 rule), and
    // the derandomized top-64 order (dsir_q DESC, doc_id).
    "q196_dsir_importance" ->
      s"""WITH toks AS (
        |  SELECT doc_id, (${fnvSql("term", "14695981039346656037")}) % 256 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)),
        |tgt AS (SELECT b, count(*) AS ct FROM toks WHERE doc_id % 5 = 0
        |        GROUP BY 1),
        |tt AS (SELECT count(*) AS t FROM toks WHERE doc_id % 5 = 0),
        |rawb AS (SELECT doc_id, b FROM toks WHERE doc_id % 5 <> 0),
        |rc AS (SELECT b, count(*) AS cr FROM rawb GROUP BY 1),
        |rt AS (SELECT count(*) AS r FROM rawb),
        |scores AS (
        |  SELECT rc.b,
        |    CAST(floor(ln(
        |      (CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(t + 256 AS DOUBLE))
        |      / (CAST(cr + 1 AS DOUBLE) / CAST(r + 256 AS DOUBLE))) * 1e4)
        |      AS BIGINT) AS score_q
        |  FROM rc LEFT JOIN tgt USING (b) CROSS JOIN tt CROSS JOIN rt),
        |pd AS (SELECT doc_id, b, count(*) AS n FROM rawb GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(n * score_q) AS BIGINT) AS dsir_q
        |FROM pd JOIN scores USING (b)
        |GROUP BY doc_id
        |ORDER BY dsir_q DESC, doc_id LIMIT 64""".stripMargin,
    // q182: temperature mixture — ⌊√n⌋ weights (exact in IEEE for any
    // representable count) and floor-division shares/quotas; the epoch
    // budget is interpolated from the same constant the Spark side uses.
    "q182_temperature_mixture" ->
      s"""WITH w AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, weight,
        |  CAST(1000 * weight // tw AS BIGINT) AS mix_pm,
        |  CAST((${operators.CorpusOps.MixtureEpochBudget} * weight) // tw
        |    AS BIGINT) AS quota_docs
        |FROM w, t ORDER BY source""".stripMargin,
    // q125: landmark index (lwalk) + od batch (swalk), both hop-capped
    // like q33; the upper bound is a min-plus join over the index.
    "q125_landmark_bounds" ->
      s"""WITH RECURSIVE $edgeCte,
        |lwalk(lm, node, hops, cost) AS (
        |  SELECT s.s, s.s, 0, CAST(0 AS BIGINT)
        |  FROM (VALUES (CAST(7 AS BIGINT)), (CAST(77 AS BIGINT))) s(s)
        |  UNION
        |  SELECT w.lm, ue.dst, w.hops + 1,
        |         w.cost + (((ue.src % 7) * 3 + ue.dst % 7) % 7) + 1
        |  FROM lwalk w JOIN ue ON ue.src = w.node WHERE w.hops < 8
        |),
        |swalk(origin, node, hops, cost) AS (
        |  SELECT s.s, s.s, 0, CAST(0 AS BIGINT)
        |  FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |               (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT)),
        |               (CAST(5 AS BIGINT))) s(s)
        |  UNION
        |  SELECT w.origin, ue.dst, w.hops + 1,
        |         w.cost + (((ue.src % 7) * 3 + ue.dst % 7) % 7) + 1
        |  FROM swalk w JOIN ue ON ue.src = w.node WHERE w.hops < 8
        |),
        |lidx AS (SELECT lm, node, min(cost) AS cost FROM lwalk GROUP BY 1, 2),
        |ub AS (
        |  SELECT s.node AS src, t.node AS dst,
        |         min(s.cost + t.cost) AS lm_upper
        |  FROM lidx s JOIN lidx t ON s.lm = t.lm
        |  WHERE s.node IN (1, 2, 3, 4, 5) AND t.node IN (10, 20, 30, 40, 50)
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT origin AS src, node AS dst, CAST(min(cost) AS BIGINT) AS cost
        |  FROM swalk WHERE node IN (10, 20, 30, 40, 50) GROUP BY 1, 2)
        |SELECT ex.src, ex.dst, ex.cost, CAST(ub.lm_upper AS BIGINT) AS lm_upper
        |FROM ex LEFT JOIN ub ON ex.src = ub.src AND ex.dst = ub.dst
        |ORDER BY 1, 2""".stripMargin,
    // q126: the reference's flagship regtest shape (100 randomized-source
    // BFS over one loaded CSR) — the source set is regenerated by the SAME
    // arithmetic rule 1+(i*37)%max(c_custkey) with the same DISTINCT, then
    // one batched unweighted walk with the same hop cap (10) as the Spark
    // sweep. Unreached (origin, node) pairs are absent in both engines.
    "q126_multi_source_bfs" ->
      s"""WITH RECURSIVE $edgeCte,
        |srcs AS (
        |  SELECT DISTINCT CAST(1 + (t.i * 37) %
        |    (SELECT max(c_custkey) FROM customer) AS BIGINT) AS s
        |  FROM range(0, 100) t(i)
        |),
        |walk(origin, node, d) AS (
        |  SELECT s, s, 0 FROM srcs
        |  UNION
        |  SELECT w.origin, ue.dst, w.d + 1
        |  FROM walk w JOIN ue ON ue.src = w.node
        |  WHERE w.d < 10
        |)
        |SELECT origin, node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q33_sssp" ->
      s"""WITH RECURSIVE $edgeCte,
        |walk(node, hops, cost) AS (
        |  SELECT CAST(1 AS BIGINT), 0, CAST(0 AS BIGINT)
        |  UNION
        |  SELECT ue.dst, w.hops + 1,
        |         w.cost + (((ue.src % 7) * 3 + ue.dst % 7) % 7) + 1
        |  FROM walk w JOIN ue ON ue.src = w.node
        |  WHERE w.hops < 8
        |)
        |SELECT node, CAST(min(cost) AS BIGINT) AS cost
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    "q34_triangle_count" ->
      s"""WITH $edgeCte,
        |ce AS (SELECT src AS a, dst AS b FROM ue WHERE src < dst)
        |SELECT count(*) AS n_triangles
        |FROM ce e1
        |JOIN ce e2 ON e2.a = e1.b
        |JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "q37_bfs_frontier" ->
      s"""WITH RECURSIVE $edgeCte,
        |walk(node, d) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION
        |  SELECT ue.dst, w.d + 1 FROM walk w JOIN ue ON ue.src = w.node
        |  WHERE w.d < 10
        |)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    "q39_scc" ->
      s"""WITH RECURSIVE $edgeCte,
        |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |fwd(node, reach) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT f.node, e.dst FROM fwd f JOIN e ON e.src = f.reach
        |)
        |SELECT a.node, CAST(min(a.reach) AS BIGINT) AS scc
        |FROM fwd a JOIN fwd b ON a.node = b.reach AND a.reach = b.node
        |GROUP BY a.node ORDER BY a.node""".stripMargin,
    "q35_connected_components" ->
      s"""WITH RECURSIVE $edgeCte,
        |walk(node, reach) AS (
        |  SELECT DISTINCT src, src FROM ue
        |  UNION
        |  SELECT w.node, ue.dst FROM walk w JOIN ue ON ue.src = w.reach
        |)
        |SELECT node, CAST(min(reach) AS BIGINT) AS component
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
  )

  // The minhash universal-family constants (splitmix64-derived), rendered
  // as DuckDB UBIGINT literal arrays split into 32-bit halves — the q42
  // oracle replays (a_i*h + b_i) mod 2^64 in carry-split UBIGINT
  // arithmetic (native 64-bit, ~300x faster than HUGEINT in DuckDB).
  // Sourcing them from MinHashSig.familyA/B keeps oracle and aggregate
  // pinned to the same family by construction.
  private def ulist(xs: Array[Long]): String =
    xs.map(java.lang.Long.toUnsignedString).mkString("[", ", ", "]")
  private lazy val mhAhi = ulist(graft.functions.MinHashSig.familyA(64).map(_ >>> 32))
  private lazy val mhAlo = ulist(graft.functions.MinHashSig.familyA(64).map(_ & 0xFFFFFFFFL))
  private lazy val mhBhi = ulist(graft.functions.MinHashSig.familyB(64).map(_ >>> 32))
  private lazy val mhBlo = ulist(graft.functions.MinHashSig.familyB(64).map(_ & 0xFFFFFFFFL))

  // Shared 64-bit FNV-1a replay fragment: folds the char codes of `expr`
  // (empty chars filtered — DuckDB splits '' into ['']) into the seeded
  // basis `init`, state carried as an unsigned HUGEINT. The 64-bit wrap
  // multiply splits the state into 32-bit halves: (h*P) mod 2^64 =
  // ((h_hi*P) mod 2^32)*2^32 + h_lo*P (mod 2^64), and the byte XOR only
  // touches h_lo (bytes < 256), so it runs on BIGINT halves.
  // ANSI-safe Knuth hash replay: (c * 2654435761) mod 2^32 via carry-split
  // 16-bit limbs, mirroring CorpusOps.knuthHash32 exactly (keep in sync).
  // The naive BIGINT multiply overflows both engines once c > ~3.47e9 —
  // DuckDB errors and Spark's ANSI mode throws — so both sides split:
  // (x*A) mod 2^32 = (((x mod 2^32 // 2^16)*A mod 2^16)*2^16
  //                   + (x mod 2^16)*A) mod 2^32, every term < 2^49.
  private def knuthHash32Sql(c: String): String =
    s"((((($c % 4294967296) // 65536) * 2654435761) % 65536) * 65536" +
      s" + ($c % 65536) * 2654435761) % 4294967296"

  // Shared quality-score replay fragment — the DuckDB translation of
  // TextFunctions.qualityScore (keep in sync with that definition):
  // 200 + words + 10*floor(avg word len) - 2*non-[a-z ] chars, clamped to
  // [0, 1000]. Interpolated wherever an oracle needs the score so the
  // formula lives in exactly one place per engine.
  private def qualityScoreSql(t: String): String =
    s"""greatest(0, least(1000,
       |      200 + CAST(len(string_split($t, ' ')) AS BIGINT)
       |          + 10 * CAST(floor((length($t) - len(string_split($t, ' ')) + 1.0)
       |                            / len(string_split($t, ' '))) AS BIGINT)
       |          - 2 * CAST(length($t) - length(regexp_replace($t, '[^a-z ]', '', 'g')) AS BIGINT)
       |    ))""".stripMargin

  private def fnvSql(expr: String, init: String): String =
    s"""list_reduce(
       |  list_prepend($init::HUGEINT,
       |    list_transform(list_filter(string_split($expr, ''), c -> c != ''),
       |      c -> ascii(c)::HUGEINT)),
       |  (h, c) -> ((xor(CAST(h % 4294967296 AS BIGINT), CAST(c AS BIGINT))::HUGEINT
       |              + (h // 4294967296) * 4294967296::HUGEINT)
       |             * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  // 64-bit simhash replay: space-split tokens, each FNV-1a hashed with
  // seed 7 (basis 7 ^ 0xcbf29ce484222325 = 14695981039346656034), then
  // per-bit +/-1 votes; the fingerprint is rebuilt MSB-first by the
  // outer reduce (s*2 + bit), which avoids any lossy DOUBLE power.
  private def simhashSql(textExpr: String): String =
    s"""(SELECT list_reduce(
       |  list_prepend(0::HUGEINT, list_transform(range(63, -1, -1), b ->
       |    CASE WHEN list_sum(list_transform(hashes, h ->
       |      CASE WHEN (h // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN 1::HUGEINT ELSE 0::HUGEINT END)),
       |  (acc, bit) -> acc * 2 + bit)
       | FROM (SELECT list_transform(string_split($textExpr, ' '), tk ->
       |         ${fnvSql("tk", "14695981039346656034")}) AS hashes))""".stripMargin

  // Strict left-to-right double-precision fold — the exact summation
  // order of the codegen'd DotProduct expression. Float-typed operands
  // widen exactly to double in both engines, +/-1.0 multiplies and IEEE
  // adds are deterministic given the order, and sqrt/divide are
  // correctly rounded — so dot products, norms and LSH bucket signs
  // replay BIT-exactly (a GROUP-BY sum would reassociate and could flip
  // a near-zero projection's sign).
  private def dotSql(a: String, b: String, castB: Boolean = true): String = {
    val bb = if (castB) s"CAST($b[i] AS DOUBLE)" else s"$b[i]"
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), " +
      s"i -> CAST($a[i] AS DOUBLE) * $bb)), (acc, x) -> acc + x)"
  }

  // LSH signature fragment shared by the q47/q67 oracles: 6 signed
  // projections against the splitmix-derived +/-1 hyperplanes (inlined
  // from Similarity.planesSqlLiteral), packed into a 6-bit bucket id.
  // Expects `embedding` in scope, `c.pl` bound to the planes, `t` to the
  // table index.
  private val lshBucketSql: String =
    """list_sum(list_transform(range(0, 6), b ->
      |      CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
      |          i -> c.pl[t*6 + b + 1][i] * CAST(embedding[i] AS DOUBLE))), (acc, x) -> acc + x) >= 0
      |      THEN 1 << b ELSE 0 END))""".stripMargin

  // IVF cell-assignment CTE block shared by the q68 and q128 oracles:
  // the coarse quantizer (16 lowest-id vectors, driver-normalized in
  // Spark, normalized the same way here) and the per-vector cell-score
  // array, all in strict-fold double arithmetic.
  /** The q153 peel unroll: one (survivor filter → edge restriction)
    * block per round, MATERIALIZED so DuckDB evaluates each round once
    * instead of inlining the doubly-referenced chain exponentially.
    * Rounds past the fixpoint are the identity, so the caller passes
    * realized-rounds-plus-slack. */
  private def kCoreUnrollCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) "ue" else s"e${i - 1}"
      s"""k$i AS MATERIALIZED (SELECT src AS node FROM $prev
         |  GROUP BY 1 HAVING count(*) >= 2),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
         |  JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)"""
        .stripMargin
    }.mkString(",\n")

  /** The q175 k-truss peel unroll: per round, enumerate a<b<c triangles
    * over the surviving canonical edge set, explode each onto its three
    * edges for support counts, keep edges with support ≥ `minSup`
    * (= k−2: q175 passes 1, q178 passes 2).
    * MATERIALIZED for the same doubly-referenced-chain reason as
    * the q153 unroll; rounds past the fixpoint are the identity, so the
    * caller passes realized-rounds-plus-slack. Emits e0..e$rounds plus a
    * FINAL support block (tf/sf) over the converged edge set. */
  private def kTrussUnrollCtes(rounds: Int, minSup: Int,
      edgeRel: String = "ue"): String = {
    def triBlock(t: String, s: String, prev: String): String =
      s"""$t AS MATERIALIZED (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM $prev e1
         |  JOIN $prev e2 ON e2.a = e1.b
         |  JOIN $prev e3 ON e3.a = e1.a AND e3.b = e2.b),
         |$s AS MATERIALIZED (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT a AS u, b AS v FROM $t
         |    UNION ALL SELECT a, c FROM $t
         |    UNION ALL SELECT b, c FROM $t) x
         |  GROUP BY 1, 2)""".stripMargin
    val roundBlocks = (1 to rounds).map { i =>
      s"""${triBlock(s"t$i", s"s$i", s"e${i - 1}")},
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN s$i s ON s.u = e.a AND s.v = e.b
         |  WHERE s.sup >= $minSup)""".stripMargin
    }
    (Seq(s"""e0 AS MATERIALIZED (
           |  SELECT src AS a, dst AS b FROM $edgeRel WHERE src < dst)"""
        .stripMargin)
      ++ roundBlocks
      ++ Seq(triBlock("tf", "sf", s"e$rounds"))).mkString(",\n")
  }

  /** The q158 trained-codebook CTE unroll: one (distance → argmin →
    * floor-mean update → codeword merge) block per Lloyd round,
    * GENERATED from the same [[operators.Similarity.PqTrainIters]]
    * constant the Spark side trains with — the iteration count cannot
    * desynchronize between the operator and its oracle. Each block is
    * exactly the q142 replay shape restricted to one sub-space's 16
    * components; empty codewords carry the previous round's forward. */
  private def pqLloydUnrollCtes: String = pqLloydUnrollCtes("", 16)

  /** Same, with every CTE name prefixed and the sub-space WIDTH
    * parameterized (the q244 two-chain composition uses 16; q247's
    * finer prefix quantizer uses 8). */
  private def pqLloydUnrollCtes(pfx: String, sub: Int): String =
    pqLloydUnrollCtes(pfx, sub, s"${pfx}sv")

  /** Same, training over an arbitrary sub-vector relation — the q248
    * sampled rung unrolls over the sampled sub-vectors while the
    * final encode covers the full `sv`. */
  private def pqLloydUnrollCtes(pfx: String, sub: Int,
      trainSv: String): String =
    (1 to operators.Similarity.PqTrainIters).map { i =>
      s"""${pfx}d$i AS MATERIALIZED (
         |  SELECT v.vec_id, v.m, v.sv, c.j,
         |    CAST(list_sum(list_transform(range(1, ${sub + 1}),
         |      i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i]))) AS BIGINT) AS d
         |  FROM $trainSv v JOIN ${pfx}cb${i - 1} c ON c.m = v.m),
         |${pfx}a$i AS MATERIALIZED (SELECT vec_id, m, sv, j FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |     ORDER BY d, j) AS rk FROM ${pfx}d$i) WHERE rk = 1),
         |${pfx}u$i AS MATERIALIZED (
         |  SELECT m, j, i.i AS comp,
         |    CAST(floor(CAST(CAST(sum(sv[i.i]) AS BIGINT) AS DOUBLE)
         |      / count(*)) AS BIGINT) AS v
         |  FROM ${pfx}a$i CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS i) i
         |  GROUP BY m, j, i.i),
         |${pfx}cb$i AS MATERIALIZED (
         |  SELECT p.m, p.j, coalesce(u.c, p.c) AS c FROM ${pfx}cb${i - 1} p
         |  LEFT JOIN (SELECT m, j, list(v ORDER BY comp) AS c
         |             FROM ${pfx}u$i GROUP BY m, j) u USING (m, j))""".stripMargin
    }.mkString(",\n")

  /** The BPE training replay shared by q209/q210 — generated from the
    * same [[operators.Bpe.BpeMerges]] constant the Spark side trains
    * with. Per round r: adjacent-pair counts over the sentinel-wrapped
    * symbol strings (p_r), the deterministic winner (b_r — count desc,
    * then lexicographic (pa, pb)), and the merged strings (s_r) via the
    * SAME left-to-right non-overlapping `replace` the Spark side runs.
    * An empty round (every word fully merged) leaves b_r empty and s_r
    * = s_{r-1} via the LEFT JOIN CASE — mirroring the trainer's early
    * stop. The `strlen = length` gate is the q201 byte-transparency
    * rule: only ASCII words train, so the U+0001/U+0002 sentinels
    * cannot collide and per-code-point slicing agrees cross-engine. */
  private def bpeTrainCtes: String = bpeTrainCtesFrom("documents")

  /** Same, trained on an arbitrary (…, text) relation — q216 trains on
    * the chunk-0 slice only (the frozen-tokenizer posture). */
  private def bpeTrainCtesFrom(docRel: String): String = {
    val rounds = (1 to operators.Bpe.BpeMerges).map { r =>
      s"""p$r AS (
         |  SELECT arr[i] AS pa, arr[i+1] AS pb,
         |    CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT cnt, string_split(s[2:len(s)-1],
         |          chr(2)||chr(1)) AS arr FROM s${r - 1}),
         |       LATERAL (SELECT unnest(range(1, len(arr))) AS i) ix
         |  GROUP BY 1, 2),
         |b$r AS (SELECT $r AS merge_rank, pa, pb, n FROM p$r
         |  ORDER BY n DESC, pa, pb LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT w, cnt,
         |    CASE WHEN b.pa IS NULL THEN s
         |         ELSE replace(s, chr(1)||b.pa||chr(2)||chr(1)||b.pb||chr(2),
         |                      chr(1)||b.pa||b.pb||chr(2)) END AS s
         |  FROM s${r - 1} LEFT JOIN b$r b ON true)""".stripMargin
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM $docRel)
       |  WHERE w <> '' AND strlen(w) = length(w)
       |  GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w, cnt,
       |    array_to_string(list_transform(range(1, len(w)+1),
       |      i -> chr(1) || w[i:i] || chr(2)), '') AS s
       |  FROM wc),
       |$rounds""".stripMargin
  }

  private def ivfCellCtes: String =
    s"""cent AS (
       |  SELECT list(cl ORDER BY vec_id) AS cents FROM (
       |    SELECT vec_id,
       |      CASE WHEN sqrt(${dotSql("embedding", "embedding")}) = 0
       |           THEN list_transform(embedding, x -> 0.0::DOUBLE)
       |           ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(${dotSql("embedding", "embedding")})) END AS cl
       |    FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16))),
       |n AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |ca AS (
       |  SELECT vec_id, embedding, nrm,
       |    list_transform(range(1, 17), k ->
       |      CASE WHEN nrm > 0 THEN
       |        list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
       |          i -> CAST(embedding[i] AS DOUBLE) * c.cents[k][i])), (acc, x) -> acc + x) / nrm
       |      ELSE 0.0 END) AS cells
       |  FROM n, cent c
       |  WHERE nrm > 0)""".stripMargin

  /** The coarse-quantizer Lloyd unroll for the IVFADC chain — the
    * full-dimension sibling of [[pqLloydUnrollCtes]], generated from
    * the same `IvfCoarseIters` constant the Spark side trains with
    * (Similarity.trainQuantizedCents): per round, corpus×K integer
    * squared-L2 distances, (d, j) argmin assignment, per-(cell,
    * component) floor-mean update, empty cells carrying forward. */
  private def coarseLloydUnrollCtes: String = coarseLloydUnrollCtes(64, "")

  /** Same, parameterized for re-rooted chains: `dim` is the vector
    * width and `pfx` prefixes every CTE name so two chains (q244's
    * full + prefix indexes) coexist in one WITH. Defaults reproduce
    * the shared 64-dim chain byte-for-byte. */
  private def coarseLloydUnrollCtes(dim: Int, pfx: String): String =
    coarseLloydUnrollCtes(dim, pfx, s"${pfx}eq")

  /** Same, training over an arbitrary relation — the q248 sampled
    * rung unrolls over the `vec_id % sampleMod = 0` subset while the
    * final assignment still covers the full `eq`. */
  private def coarseLloydUnrollCtes(dim: Int, pfx: String,
      trainRel: String): String =
    (1 to operators.Similarity.IvfCoarseIters).map { i =>
      s"""${pfx}kd$i AS MATERIALIZED (
         |  SELECT v.vec_id, v.e, c.j,
         |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
         |      i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))) AS BIGINT) AS d
         |  FROM $trainRel v CROSS JOIN ${pfx}kc${i - 1} c),
         |${pfx}ka$i AS MATERIALIZED (SELECT vec_id, e, j FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY d, j) AS rk FROM ${pfx}kd$i) WHERE rk = 1),
         |${pfx}ku$i AS MATERIALIZED (
         |  SELECT j, i.i AS comp,
         |    CAST(floor(CAST(CAST(sum(e[i.i]) AS BIGINT) AS DOUBLE)
         |      / count(*)) AS BIGINT) AS v
         |  FROM ${pfx}ka$i CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) i
         |  GROUP BY j, i.i),
         |${pfx}kc$i AS MATERIALIZED (
         |  SELECT p.j, coalesce(u.c, p.c) AS c FROM ${pfx}kc${i - 1} p
         |  LEFT JOIN (SELECT j, list(v ORDER BY comp) AS c
         |             FROM ${pfx}ku$i GROUP BY j) u USING (j))""".stripMargin
    }.mkString(",\n")

  /** The IVFADC CTE chain shared by q159 (top-k), q179 (recall) and
    * q198 (re-rank): the TRAINED coarse quantizer (kc0..kcN — the q142
    * fixed-point Lloyd rule over the full 64 dims, integer-L2 corpus
    * assignment + query nprobe=4 probes with (d, j) tie-breaks), the
    * RESIDUAL relation (res: x − centroid(cell(x)) — the Jégou IVFADC
    * rule the Spark side's `residualize` applies), the TRAINED PQ
    * codebook over residual sub-vectors (cb0..cbN, generated from the
    * same `PqTrainIters` constant the Spark side trains with),
    * per-(query, probed cell) residual LUTs (qsv → lut — one LUT per
    * probed cell, since the query's residual differs per cell), and
    * the probed-cell ADC aggregate. Ends at `adc`; callers append
    * their own final ranking/overlap blocks (also exposes `eq` for the
    * exact side). */
  /** The trained-coarse-cell assignment prefix (eq → kc unroll → kd →
    * corpus) shared by the IVFADC chain and q200's cluster-balanced
    * sample — one replay of the coarse quantizer, so a drift in the
    * Lloyd rule hash-mismatches every consumer together. */
  private def coarseAssignCtes: String = coarseAssignCtesOver("embeddings")

  /** q144's chunk windows as a CTE (cw keeps the word array — q225
    * reads token counts and q229 reads chunk terms off it). */
  /** The q217/q245 shared temporal-containment tail: given CTEs ending
    * at `ft(doc_id, text)` (the per-video frame-WORD sequence — exact
    * digests for q217, perceptual hashes for q245), runs the q199
    * 3-gram containment chain verbatim: distinct temporal shingles,
    * hot-gram cap + sentinel report, directed ppm containment. */
  private def frameContainmentOracle(frameCtes: String): String =
    s"""WITH $frameCtes,
      |w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM ft),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ws) - 3 + 2),
      |    i -> array_to_string(ws[i:i+2], ' ')))) AS h
      |  FROM w),
      |sz AS (SELECT doc_id, count(*) AS size_a FROM grams GROUP BY 1),
      |hot AS (SELECT h, count(*) AS df FROM grams GROUP BY 1
      |        HAVING count(*) > ${operators.Dedup.ContainmentGramCap}),
      |skipped AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_skipped_grams,
      |         CAST(coalesce(sum(df), 0) AS BIGINT) AS n_skipped_rows
      |  FROM hot),
      |inplay AS (SELECT g.* FROM grams g ANTI JOIN hot USING (h)),
      |pairs AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib,
      |    CAST(count(*) AS BIGINT) AS shared
      |  FROM inplay a JOIN inplay b
      |    ON a.h = b.h AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |cpairs AS (
      |  SELECT p.ia, p.ib, p.shared, CAST(s.size_a AS BIGINT) AS size_a,
      |    CAST(p.shared * 1000000 // s.size_a AS BIGINT)
      |      AS containment_ppm
      |  FROM pairs p JOIN sz s ON s.doc_id = p.ia
      |  WHERE p.shared * 2 >= s.size_a)
      |SELECT c.*, s.n_skipped_grams, s.n_skipped_rows
      |FROM cpairs c CROSS JOIN skipped s
      |UNION ALL
      |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  s.n_skipped_grams, s.n_skipped_rows
      |FROM skipped s WHERE NOT EXISTS (SELECT 1 FROM cpairs)
      |ORDER BY 1, 2""".stripMargin

  /** The q235 reference-LM bucket chain (CTE names lm-prefixed so the
    * chain composes with q121's inside q242) — ends at
    * `lmb(doc_id, n_bigrams, surprisal_q, mean_surprisal_q, bucket)`. */
  private def lmBucketCtes: String =
    s"""lmw AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |lmpp AS (
      |  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
      |    FROM lmw)),
      |lmrp AS (SELECT * FROM lmpp
      |         WHERE doc_id % ${operators.TextAnalysis.LmRefMod} = 0),
      |lmcb AS (SELECT w1, w2, count(*) AS cb FROM lmrp GROUP BY 1, 2),
      |lmcp AS (SELECT w1, count(*) AS cp FROM lmrp GROUP BY 1),
      |lmvv AS (SELECT greatest(count(DISTINCT w2), 1) AS v FROM lmrp),
      |lmtfd AS (SELECT doc_id, w1, w2, count(*) AS tf
      |          FROM lmpp GROUP BY 1, 2, 3),
      |lmsc AS (
      |  SELECT f.doc_id, f.tf,
      |    CAST(floor(ln(CAST(COALESCE(lmcp.cp, 0) + lmvv.v AS DOUBLE)
      |      / (COALESCE(lmcb.cb, 0) + 1)) * 1e4) AS BIGINT) AS q
      |  FROM lmtfd f
      |  LEFT JOIN lmcb ON lmcb.w1 = f.w1 AND lmcb.w2 = f.w2
      |  LEFT JOIN lmcp ON lmcp.w1 = f.w1
      |  CROSS JOIN lmvv),
      |lmds AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |    CAST(sum(tf * q) AS BIGINT) AS surprisal_q,
      |    CAST(CAST(sum(tf * q) AS BIGINT) // CAST(sum(tf) AS BIGINT)
      |      AS BIGINT) AS mean_surprisal_q
      |  FROM lmsc GROUP BY doc_id),
      |lmb AS (
      |  SELECT doc_id, n_bigrams, surprisal_q, mean_surprisal_q,
      |    CAST(ntile(${operators.TextAnalysis.LmQualityTiles}) OVER (
      |      ORDER BY mean_surprisal_q, doc_id) AS BIGINT) AS bucket
      |  FROM lmds)""".stripMargin

  private def chunkCwCte: String =
    s"""cw AS (
      |  SELECT doc_id, w, unnest(range(0,
      |      1 + greatest(0, (len(w) - 40 + 19) // 20))) AS chunk_idx
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w
      |        FROM documents))""".stripMargin

  /** The q223/q225 chunk-vector relation: the chunk windows and the
    * deterministic embed-fixture borrow, the chain's index source. */
  private def ragCvCtes: String =
    s"""$chunkCwCte,
      |cv AS MATERIALIZED (
      |  SELECT c.doc_id * 1048576 + c.chunk_idx AS vec_id, e.embedding
      |  FROM cw c JOIN embeddings e
      |    ON e.vec_id = ((c.doc_id * 1048576 + c.chunk_idx) * 37 + 11)
      |               % (SELECT max(vec_id) + 1 FROM embeddings))""".stripMargin

  /** The q229 BM25 scoring chain over `cw` — idf quantized per term,
    * per-(term, candidate) contributions floored before the integer
    * per-pair sum; shared by q229 (final rank) and q230 (fusion
    * input). Ends at `bpair(query_id, cand, score_q)`. */
  private def bm25Ctes: String =
    s"""ct AS (
      |  SELECT doc_id * 1048576 + chunk_idx AS cid,
      |    len(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40]) AS len,
      |    unnest(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40]) AS t
      |  FROM cw),
      |ccb AS (SELECT cid, len, t, count(*) AS tf
      |        FROM ct GROUP BY 1, 2, 3),
      |bstats AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(len(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40]))
      |      AS DOUBLE) / count(*) AS avgdl
      |  FROM cw),
      |idf AS (
      |  SELECT t, CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
      |    * 1e4) AS BIGINT) AS idf_q
      |  FROM (SELECT t, count(*) AS df FROM ccb GROUP BY 1)
      |  CROSS JOIN bstats),
      |qsel AS (
      |  SELECT query_id, t FROM (
      |    SELECT q.cid AS query_id, i.t,
      |      row_number() OVER (PARTITION BY q.cid
      |        ORDER BY i.idf_q DESC, i.t) AS trk
      |    FROM (SELECT DISTINCT cid, t FROM ccb WHERE cid % 50 = 0) q
      |    JOIN idf i USING (t))
      |  WHERE trk <= ${operators.TextAnalysis.Bm25QueryTermBound}),
      |pkept AS (
      |  SELECT t, cid, impact FROM (
      |    SELECT c.t, c.cid,
      |      CAST(floor(i.idf_q * ((c.tf * CAST(2.2 AS DOUBLE))
      |        / (c.tf + 1.2 * (0.25 + 0.75 * c.len / s.avgdl))))
      |        AS BIGINT) AS impact,
      |      row_number() OVER (PARTITION BY c.t
      |        ORDER BY CAST(floor(i.idf_q * ((c.tf * CAST(2.2 AS DOUBLE))
      |          / (c.tf + 1.2 * (0.25 + 0.75 * c.len / s.avgdl))))
      |          AS BIGINT) DESC, c.cid) AS prk
      |    FROM ccb c JOIN idf i USING (t) CROSS JOIN bstats s)
      |  WHERE prk <= ${operators.TextAnalysis.Bm25PostingBound}),
      |bpair AS (
      |  SELECT q.query_id, p.cid AS cand,
      |    CAST(sum(p.impact) AS BIGINT) AS score_q
      |  FROM qsel q
      |  JOIN pkept p USING (t)
      |  WHERE p.cid <> q.query_id
      |  GROUP BY 1, 2)""".stripMargin

  /** q229/q233's shared oracle: the BM25 chain over the chunk
    * windows, final rank by (score desc, candidate). Shared verbatim
    * because per-batch posting appends reconstruct the one-shot
    * posting relation exactly (q233's whole point). */
  private def bm25TopkOracle: String =
    s"""WITH $chunkCwCte,
      |$bm25Ctes
      |SELECT query_id, CAST(rk AS BIGINT) AS rk,
      |  cand // 1048576 AS doc_id, cand % 1048576 AS chunk_idx, score_q
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_q DESC, cand) AS rk FROM bpair)
      |WHERE rk <= ${operators.TextAnalysis.Bm25TopK}
      |ORDER BY query_id, rk""".stripMargin

  /** The q230 RRF fusion CTEs over `adc` (dense) and `bpair` (BM25):
    * each ranker cut to RrfDepth ranks, the pure-integer reciprocal-
    * rank sum — shared by q230 (final fused rank) and q232 (quality
    * gate). Ends at `fused(query_id, cand, rrf_q)`. */
  private def rrfFusedCtes: String =
    s"""dr AS (
      |  SELECT query_id, neighbor_id AS cand,
      |    ${Similarity.RrfScale} // (${Similarity.RrfK} + rk) AS c
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
      |  WHERE rk <= ${Similarity.RrfDepth}),
      |lr AS (
      |  SELECT query_id, cand,
      |    ${Similarity.RrfScale} // (${Similarity.RrfK} + rk) AS c
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_q DESC, cand) AS rk FROM bpair)
      |  WHERE rk <= ${Similarity.RrfDepth}),
      |fused AS (
      |  SELECT query_id, cand, CAST(sum(c) AS BIGINT) AS rrf_q
      |  FROM (SELECT * FROM dr UNION ALL SELECT * FROM lr)
      |  GROUP BY 1, 2)""".stripMargin

  /** q223/q231's shared oracle: the FULL q159 IVFADC chain re-rooted
    * on the chunk-vector relation, served with (doc_id, chunk_idx)
    * provenance decoded from the composite chunk id. Shared verbatim
    * because the store-backed serve (q231) equals the one-shot
    * build+serve (q223) row-for-row — the q226 frozen-quantizer
    * parity. */
  private def ragRetrievalOracle: String =
    s"""WITH $ragCvCtes,
      |${ivfAdcOracleChainOver("cv")}
      |SELECT query_id, CAST(rk AS BIGINT) AS rk,
      |  neighbor_id // 1048576 AS doc_id,
      |  neighbor_id % 1048576 AS chunk_idx, adc_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
      |WHERE rk <= ${Similarity.AnnTopK} ORDER BY query_id, rk""".stripMargin

  /** The q224 greedy MMR rounds, unrolled from the same MmrSelect the
    * Spark loop runs: sel_t = s1 ∪ … ∪ s(t−1); r_t scores unselected
    * candidates exact_dist − min pairwise-d to sel_t; s_t is the
    * (score, neighbor) minimum per query. */
  private def mmrGreedyCtes: String =
    (2 to Similarity.MmrSelect).map { t =>
      val selPrev = (1 until t)
        .map(i => s"SELECT query_id, neighbor_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""sel$t AS ($selPrev),
        |r$t AS (
        |  SELECT query_id, neighbor_id, exact_dist - mind AS score FROM (
        |    SELECT c.query_id, c.neighbor_id, c.exact_dist,
        |      min(p.d) AS mind
        |    FROM cand c
        |    JOIN pw p ON p.query_id = c.query_id
        |      AND p.ca = c.neighbor_id
        |    JOIN sel$t s ON s.query_id = p.query_id
        |      AND s.neighbor_id = p.cb
        |    LEFT JOIN sel$t x ON x.query_id = c.query_id
        |      AND x.neighbor_id = c.neighbor_id
        |    WHERE x.neighbor_id IS NULL
        |    GROUP BY c.query_id, c.neighbor_id, c.exact_dist)),
        |s$t AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score, neighbor_id) AS rn FROM r$t)
        |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** The s1..sN union with selection ranks, the q224 final relation. */
  private def mmrSelUnion: String =
    (1 to Similarity.MmrSelect)
      .map(t => s"SELECT query_id, neighbor_id, CAST($t AS BIGINT) " +
        s"AS sel_rk FROM s$t")
      .mkString(" UNION ALL ")

  /** Same chain over an arbitrary (vec_id, embedding) relation/CTE —
    * the q223 RAG rung feeds it the chunk-vector fixture. */
  private def coarseAssignCtesOver(src: String): String =
    coarseAssignCtesOver(src, 64, "")

  private def coarseAssignCtesOver(src: String, dim: Int,
      pfx: String): String = coarseAssignCtesOver(src, dim, pfx, "")

  /** Same, with the TRAINING relation restricted to `trainPred` (the
    * q248 sampled-train rung): seeds and every Lloyd round run over
    * `treq` = the sample; the final corpus assignment (`kd`) is
    * unchanged over the full `eq` — exactly the Spark side's
    * trainQuantizedCents(sampleMod) split. Empty pred reproduces the
    * shared chain byte-for-byte. */
  private def coarseAssignCtesOver(src: String, dim: Int,
      pfx: String, trainPred: String): String = {
    val sampled = trainPred.nonEmpty
    val trainRel = if (sampled) s"${pfx}treq" else s"${pfx}eq"
    val trainCte = if (sampled)
      s"""|${pfx}treq AS MATERIALIZED (
          |  SELECT * FROM ${pfx}eq WHERE $trainPred),
          |""".stripMargin.stripPrefix("|")
    else ""
    s"""${pfx}eq AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(x * 1e6) AS BIGINT)) AS e
      |  FROM $src),
      |$trainCte${pfx}kc0 AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, e AS c
      |  FROM $trainRel ORDER BY vec_id LIMIT 16),
      |${coarseLloydUnrollCtes(dim, pfx, trainRel)},
      |${pfx}kd AS (
      |  SELECT v.vec_id, c.j,
      |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
      |      i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))) AS BIGINT) AS d
      |  FROM ${pfx}eq v CROSS JOIN ${pfx}kc${operators.Similarity.IvfCoarseIters} c),
      |${pfx}corpus AS (
      |  SELECT vec_id AS nid, j AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d, j) AS rk FROM ${pfx}kd)
      |  WHERE rk = 1)""".stripMargin
  }

  private def ivfAdcOracleChain: String = ivfAdcOracleChainOver("embeddings")

  /** q159's full top-k SQL — shared verbatim by q226 (streaming index
    * ingest), whose serving parity with the one-shot index is the
    * point of the rung. */
  private def ivfAdcTopkOracle: String =
    s"""WITH $ivfAdcOracleChain
      |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, adc_dist
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
      |WHERE rk <= ${Similarity.AnnTopK} ORDER BY query_id, rk""".stripMargin

  private def ivfAdcOracleChainOver(src: String): String =
    ivfAdcOracleChainOver(src, 64, 4, "")

  private def ivfAdcOracleChainOver(src: String, dim: Int, m: Int,
      pfx: String): String = ivfAdcOracleChainOver(src, dim, m, pfx, 16)

  /** Same, parameterized: `dim` = vector width, `m` = sub-space count,
    * `sub` = sub-space width (dim must be m·sub), `pfx` prefixes every
    * CTE name so two chains coexist in one WITH (q244's full + prefix
    * indexes). Defaults reproduce the shared chain byte-for-byte. */
  private def ivfAdcOracleChainOver(src: String, dim: Int, m: Int,
      pfx: String, sub: Int): String =
    ivfAdcOracleChainOver(src, dim, m, pfx, sub, "")

  /** Same, with BOTH quantizers trained on the `trainPred` subset
    * (q248's sampled-train rung): the coarse unroll runs over `treq`,
    * the PQ seeds and Lloyd rounds over the sampled residual
    * sub-vectors (`trsv`), while corpus assignment, encoding and the
    * probe/LUT/ADC tail are unchanged over the full relations —
    * exactly the Spark side's sampleMod split. Empty pred reproduces
    * the shared chain byte-for-byte. */
  private def ivfAdcOracleChainOver(src: String, dim: Int, m: Int,
      pfx: String, sub: Int, trainPred: String): String = {
    val sampled = trainPred.nonEmpty
    val trainSv = if (sampled) s"${pfx}trsv" else s"${pfx}sv"
    val trsvCte = if (sampled)
      s"""|${pfx}trsv AS MATERIALIZED (
          |  SELECT * FROM ${pfx}sv WHERE $trainPred),
          |""".stripMargin.stripPrefix("|")
    else ""
    val seedSrc =
      if (sampled) s"${pfx}res WHERE $trainPred" else s"${pfx}res"
    s"""${coarseAssignCtesOver(src, dim, pfx, trainPred)},
      |${pfx}qprobe AS (
      |  SELECT vec_id AS query_id, j AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d, j) AS pr FROM ${pfx}kd WHERE vec_id % 50 = 0)
      |  WHERE pr <= ${Similarity.AnnNprobe}),
      |${pfx}res AS MATERIALIZED (
      |  SELECT v.vec_id, co.cell,
      |    list_transform(range(1, ${dim + 1}), i -> v.e[i] - kc.c[i]) AS re
      |  FROM ${pfx}eq v JOIN ${pfx}corpus co ON co.nid = v.vec_id
      |  JOIN ${pfx}kc${Similarity.IvfCoarseIters} kc ON kc.j = co.cell),
      |${pfx}sv AS MATERIALIZED (
      |  SELECT vec_id, m.m AS m, re[m.m*$sub+1 : m.m*$sub+$sub] AS sv
      |  FROM ${pfx}res CROSS JOIN (SELECT unnest(range(0, $m)) AS m) m),
      |$trsvCte${pfx}cb0 AS MATERIALIZED (
      |  SELECT s.m, q.j, s.sv AS c
      |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
      |        FROM $seedSrc ORDER BY vec_id LIMIT 16) q
      |  JOIN ${pfx}sv s ON s.vec_id = q.vec_id),
      |${pqLloydUnrollCtes(pfx, sub, trainSv)},
      |${pfx}cd AS (
      |  SELECT v.vec_id, v.m, c.j,
      |    CAST(list_sum(list_transform(range(1, ${sub + 1}),
      |      i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i]))) AS BIGINT) AS d
      |  FROM ${pfx}sv v JOIN ${pfx}cb${Similarity.PqTrainIters} c ON c.m = v.m),
      |${pfx}codes AS (
      |  SELECT vec_id, m, j AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY d, j) AS rk FROM ${pfx}cd)
      |  WHERE rk = 1),
      |${pfx}qsv AS (
      |  SELECT qp.query_id, qp.cell, m.m AS m,
      |    list_transform(range(1, ${sub + 1}),
      |      i -> q.e[m.m*$sub + i] - kc.c[m.m*$sub + i]) AS sv
      |  FROM ${pfx}qprobe qp
      |  JOIN ${pfx}eq q ON q.vec_id = qp.query_id
      |  JOIN ${pfx}kc${Similarity.IvfCoarseIters} kc ON kc.j = qp.cell
      |  CROSS JOIN (SELECT unnest(range(0, $m)) AS m) m),
      |${pfx}lut AS (
      |  SELECT r.query_id, r.cell, r.m, c.j,
      |    CAST(list_sum(list_transform(range(1, ${sub + 1}),
      |      i -> (r.sv[i] - c.c[i]) * (r.sv[i] - c.c[i]))) AS BIGINT) AS d
      |  FROM ${pfx}qsv r JOIN ${pfx}cb${Similarity.PqTrainIters} c ON c.m = r.m),
      |${pfx}adc AS (
      |  SELECT qp.query_id, x.vec_id AS neighbor_id,
      |    CAST(sum(l.d) AS BIGINT) AS adc_dist
      |  FROM ${pfx}codes x
      |  JOIN ${pfx}corpus co ON co.nid = x.vec_id
      |  JOIN ${pfx}qprobe qp ON qp.cell = co.cell
      |  JOIN ${pfx}lut l ON l.query_id = qp.query_id AND l.cell = co.cell
      |    AND l.m = x.m AND l.j = x.code
      |  WHERE x.vec_id <> qp.query_id
      |  GROUP BY 1, 2)""".stripMargin
  }

  // SemDeDup decision-table replay shared by q128 (batch) and q135
  // (streaming): the q68 cell assignment, the within-cell pairwise
  // compare with the conservative hot-cell guard, the keep-lowest-id
  // drop rule, and the exact-embedding escalation inside hot cells.
  private def semanticDecisionOracle: String =
    s"""WITH $ivfCellCtes,
      |asg AS (
      |  SELECT vec_id, embedding, nrm,
      |    list_position(cells, list_aggregate(cells, 'max')) AS cell
      |  FROM ca),
      |hot AS (SELECT cell FROM asg GROUP BY cell HAVING count(*) > 1000),
      |inplay AS (SELECT a.* FROM asg a ANTI JOIN hot h USING (cell)),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM inplay a JOIN inplay b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35),
      |hotrows AS (SELECT a.* FROM asg a SEMI JOIN hot h USING (cell)),
      |esccanon AS (
      |  SELECT cell, embedding, min(vec_id) AS canon FROM hotrows GROUP BY ALL),
      |escdropped AS (
      |  SELECT h.vec_id FROM hotrows h
      |  JOIN esccanon e ON h.cell = e.cell AND h.embedding = e.embedding
      |  WHERE h.vec_id != e.canon),
      |alldropped AS (
      |  SELECT vec_id FROM dropped UNION SELECT vec_id FROM escdropped)
      |SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
      |       (d.vec_id IS NULL) AS kept,
      |       (h.cell IS NOT NULL) AS escalated
      |FROM asg LEFT JOIN alldropped d ON asg.vec_id = d.vec_id
      |         LEFT JOIN hot h ON asg.cell = h.cell
      |ORDER BY asg.vec_id""".stripMargin

  // Keep-list replay shared by q129 (batch) and q133 (streaming): the q42
  // candidate chain, the agree >= 32 dup rule, then min-reachable-id
  // connected components via the same recursive-CTE pattern as the q35
  // oracle; docs outside every dup pair are their own canonical.
  private def keepListOracle: String =
    s"""WITH RECURSIVE $minhashAgreeCtes,
      |pairs AS (SELECT ia, ib FROM withagree WHERE agree >= 32
      |          UNION SELECT ia, ib FROM escpairs),
      |ue AS (SELECT ia AS src, ib AS dst FROM pairs
      |       UNION ALL SELECT ib, ia FROM pairs),
      |walk(node, reach) AS (
      |  SELECT DISTINCT src, src FROM ue
      |  UNION
      |  SELECT w.node, ue.dst FROM walk w JOIN ue ON ue.src = w.reach
      |),
      |comp AS (SELECT node, min(reach) AS canonical FROM walk GROUP BY node)
      |SELECT d.doc_id, CAST(coalesce(c.canonical, d.doc_id) AS BIGINT) AS canonical_id
      |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q166 oracle: the q129 keep-list chain (same CTEs) joined to token
    * counts and rolled up per duplicate cluster. */
  // Arbitrary-span repeated-substring replay shared by q192 (batch) and
  // q202 (streaming): corpus-wide 8-token window counts, duplicated
  // windows run-merged per doc into maximal spans with exact boundaries.
  private def repeatedSpansOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(ws) - 8 + 2)) AS pos,
      |    unnest(list_transform(range(1, len(ws) - 8 + 2),
      |      i -> array_to_string(ws[i:i+7], ' '))) AS g
      |  FROM w),
      |rep AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
      |m AS (SELECT doc_id, pos FROM sh SEMI JOIN rep USING (g)),
      |runs AS (
      |  SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM m)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(count(*) + 7 AS BIGINT) AS span_tokens,
      |  CAST(count(*) AS BIGINT) AS n_windows
      |FROM runs GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin

  // Contamination-gate replay shared by q117 (batch) and q197
  // (streaming): distinct word-8-gram overlap counts of the corpus
  // slice against the held-out doc_id%5 benchmark set.
  private def decontaminateOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ws) - 8 + 2),
      |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
      |  FROM w),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0)
      |SELECT c.doc_id, count(*) AS n_shared
      |FROM grams c JOIN bench USING (g)
      |WHERE c.doc_id % 5 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q195 oracle: the q129 keep-list chain (same CTEs), then the split
    * CASE on the Knuth uniform of the CANONICAL id — the replay of
    * Dedup.leakageSafeSplitFrom's 90/5/5 rule. Sharing the component
    * chain with q129/q166 means a drift in the funnel or the CC labels
    * hash-mismatches all three together. */
  private def leakageSplitOracle: String =
    s"""WITH RECURSIVE $minhashAgreeCtes,
      |pairs AS (SELECT ia, ib FROM withagree WHERE agree >= 32
      |          UNION SELECT ia, ib FROM escpairs),
      |ue AS (SELECT ia AS src, ib AS dst FROM pairs
      |       UNION ALL SELECT ib, ia FROM pairs),
      |walk(node, reach) AS (
      |  SELECT DISTINCT src, src FROM ue
      |  UNION
      |  SELECT w.node, ue.dst FROM walk w JOIN ue ON ue.src = w.reach
      |),
      |comp AS (SELECT node, min(reach) AS canonical FROM walk GROUP BY node),
      |kl AS (SELECT d.doc_id,
      |         CAST(coalesce(c.canonical, d.doc_id) AS BIGINT) AS canonical_id
      |       FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
      |SELECT doc_id, canonical_id,
      |  CASE WHEN (${knuthHash32Sql("canonical_id")}) % 100 < 90 THEN 'train'
      |       WHEN (${knuthHash32Sql("canonical_id")}) % 100 < 95
      |         THEN 'validation'
      |       ELSE 'test' END AS split
      |FROM kl ORDER BY doc_id""".stripMargin

  private def dedupSavingsOracle: String =
    s"""WITH RECURSIVE $minhashAgreeCtes,
      |pairs AS (SELECT ia, ib FROM withagree WHERE agree >= 32
      |          UNION SELECT ia, ib FROM escpairs),
      |ue AS (SELECT ia AS src, ib AS dst FROM pairs
      |       UNION ALL SELECT ib, ia FROM pairs),
      |walk(node, reach) AS (
      |  SELECT DISTINCT src, src FROM ue
      |  UNION
      |  SELECT w.node, ue.dst FROM walk w JOIN ue ON ue.src = w.reach
      |),
      |comp AS (SELECT node, min(reach) AS canonical FROM walk GROUP BY node),
      |kl AS (SELECT d.doc_id,
      |         CAST(coalesce(c.canonical, d.doc_id) AS BIGINT) AS canonical_id
      |       FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
      |tok AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT)
      |    AS t FROM documents)
      |SELECT kl.canonical_id, count(*) AS n_docs,
      |  CAST(sum(tok.t) AS BIGINT) AS sum_tokens,
      |  CAST(sum(CASE WHEN kl.doc_id <> kl.canonical_id THEN tok.t
      |           ELSE 0 END) AS BIGINT) AS tokens_saved
      |FROM kl JOIN tok USING (doc_id)
      |GROUP BY kl.canonical_id HAVING count(*) > 1
      |ORDER BY canonical_id""".stripMargin

  // Minhash funnel CTE chain shared by the q42 and q129 oracles: the
  // char-8-gram FNV hashes, the carry-split UBIGINT family signatures,
  // the slot-tuple band buckets with the BucketGuard replay, and the
  // candidate pairs with their signature agreement counts.
  private def minhashAgreeCtes: String =
    s"""consts AS (
       |  SELECT $mhAhi::UBIGINT[] AS ahi, $mhAlo::UBIGINT[] AS alo,
       |         $mhBhi::UBIGINT[] AS bhi, $mhBlo::UBIGINT[] AS blo),
       |ghash AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, length(lower(text)) - 6),
       |      i -> ${fnvSql("substr(lower(text), i, 8)", "14695981039346656037")})) AS h
       |  FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= 8),
       |gsplit AS (
       |  SELECT doc_id, CAST(h % 4294967296 AS UBIGINT) AS glo,
       |         CAST(h // 4294967296 AS UBIGINT) AS ghi
       |  FROM ghash),
       |slots AS (
       |  SELECT doc_id, i, min(
       |      xor((((c.ahi[i]*glo) % 4294967296 + (c.alo[i]*ghi) % 4294967296
       |            + (c.alo[i]*glo) // 4294967296 + c.bhi[i]
       |            + ((c.alo[i]*glo) % 4294967296 + c.blo[i]) // 4294967296) % 4294967296),
       |          2147483648::UBIGINT) * 4294967296
       |      + ((c.alo[i]*glo) % 4294967296 + c.blo[i]) % 4294967296) AS vb
       |  FROM gsplit, (SELECT unnest(range(1, 65)) AS i), consts c
       |  GROUP BY doc_id, i),
       |sigs AS (
       |  SELECT doc_id,
       |    list(CAST(vb::HUGEINT - 9223372036854775808::HUGEINT AS BIGINT) ORDER BY i) AS sig
       |  FROM slots GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, band_idx,
       |    sig[4*band_idx + 1] AS s1, sig[4*band_idx + 2] AS s2,
       |    sig[4*band_idx + 3] AS s3, sig[4*band_idx + 4] AS s4
       |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band_idx FROM sigs)),
       |hot AS (
       |  SELECT band_idx, s1, s2, s3, s4, count(*) AS bsz FROM bands
       |  GROUP BY ALL HAVING count(*) > 1000),
       |kept AS (SELECT b.* FROM bands b ANTI JOIN hot h USING (band_idx, s1, s2, s3, s4)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
       |  FROM kept x JOIN kept y
       |    ON x.band_idx = y.band_idx AND x.s1 = y.s1 AND x.s2 = y.s2
       |   AND x.s3 = y.s3 AND x.s4 = y.s4 AND x.doc_id < y.doc_id),
       |withagree AS (
       |  SELECT ia, ib,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS agree
       |  FROM cand JOIN sigs sa ON cand.ia = sa.doc_id
       |            JOIN sigs sb ON cand.ib = sb.doc_id),
       |eschot AS (
       |  SELECT b.band_idx, b.s1, b.s2, b.s3, b.s4, b.doc_id, md5(d.text) AS mh
       |  FROM (SELECT b.* FROM bands b SEMI JOIN hot h
       |          USING (band_idx, s1, s2, s3, s4)) b
       |  JOIN documents d USING (doc_id)),
       |esccanon AS (
       |  SELECT band_idx, s1, s2, s3, s4, mh, min(doc_id) AS canon
       |  FROM eschot GROUP BY ALL),
       |escpairs AS (
       |  SELECT DISTINCT e.canon AS ia, h.doc_id AS ib
       |  FROM eschot h JOIN esccanon e USING (band_idx, s1, s2, s3, s4, mh)
       |  WHERE h.doc_id != e.canon)""".stripMargin

  private val pipelineOracles: Map[String, String] = Map(
    // q47: full replay of the LSH-bucketed ANN path. Bucket assignment
    // reproduces the signed projections bit-exactly via the strict fold
    // (see dotSql); from there the funnel — candidate union over 4
    // tables, dedup, exact cosine, per-query top-5 — is plain SQL.
    "q47_ann_lsh_topk" ->
      s"""WITH consts AS (SELECT ${graft.operators.Similarity.planesSqlLiteral}::DOUBLE[][] AS pl),
        |n AS (
        |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings),
        |sigs AS (
        |  SELECT vec_id, embedding, nrm, t AS table_idx, $lshBucketSql AS bucket
        |  FROM n, range(0, 4) r(t), consts c),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS neighbor_id,
        |    q.embedding AS qe, q.nrm AS qn, s.embedding AS ce, s.nrm AS cn
        |  FROM sigs s JOIN sigs q
        |    ON s.table_idx = q.table_idx AND s.bucket = q.bucket
        |  WHERE q.vec_id < 10 AND q.vec_id != s.vec_id),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(${dotSql("qe", "ce")} / (qn * cn), 4) AS cos4
        |  FROM cand),
        |rk AS (
        |  SELECT query_id, neighbor_id, cos4,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cos4
        |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // q67: the embedding near-dup funnel — same bucket replay, then
    // BucketGuard (> 1000 excluded + reported), distinct pairs, and the
    // UNROUNDED cosine threshold: safe to replay because both engines
    // compute the identical IEEE operation sequence.
    "q67_embedding_neardup" ->
      s"""WITH consts AS (SELECT ${graft.operators.Similarity.planesSqlLiteral}::DOUBLE[][] AS pl),
        |n AS (
        |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings),
        |sigs AS (
        |  SELECT vec_id, embedding, nrm, t AS table_idx, $lshBucketSql AS bucket
        |  FROM n, range(0, 4) r(t), consts c),
        |hot AS (
        |  SELECT table_idx, bucket, count(*) AS bsz FROM sigs
        |  GROUP BY 1, 2 HAVING count(*) > 1000),
        |kept AS (SELECT s.* FROM sigs s ANTI JOIN hot h USING (table_idx, bucket)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib,
        |    a.embedding AS ea, a.nrm AS na, b.embedding AS eb, b.nrm AS nb
        |  FROM kept a JOIN kept b
        |    ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |cs AS (SELECT ${dotSql("ea", "eb")} / (na * nb) AS cos FROM cand),
        |hotrows AS (SELECT s.* FROM sigs s SEMI JOIN hot h USING (table_idx, bucket)),
        |esccanon AS (
        |  SELECT table_idx, bucket, embedding, min(vec_id) AS canon
        |  FROM hotrows GROUP BY ALL),
        |escdrop AS (
        |  SELECT DISTINCT h.vec_id FROM hotrows h
        |  JOIN esccanon e ON h.table_idx = e.table_idx AND h.bucket = e.bucket
        |   AND h.embedding = e.embedding
        |  WHERE h.vec_id != e.canon)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM n) AS n_vecs,
        |  CAST(count(*) AS BIGINT) AS n_candidate_pairs,
        |  CAST(coalesce(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hot) AS n_skipped_buckets,
        |  (SELECT CAST(coalesce(sum(bsz), 0) AS BIGINT) FROM hot) AS n_skipped_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM escdrop) AS n_escalated
        |FROM cs""".stripMargin,
    // q68: IVF replay — the coarse quantizer (16 lowest-id vectors,
    // driver-normalized in Spark, normalized the same way here), argmax
    // cell assignment via exact double equality (identical values both
    // sides), nprobe=4 query cells, then the same top-5 shape. The
    // unnest is kept in its own CTE: DuckDB rejects window functions
    // inside a LATERAL unnest context.
    "q68_ann_ivf_topk" ->
      s"""WITH $ivfCellCtes,
        |corpus AS (
        |  SELECT vec_id AS neighbor_id, embedding AS ce, nrm AS cn,
        |    list_position(cells, list_aggregate(cells, 'max')) AS cell
        |  FROM ca),
        |qexp AS (
        |  SELECT vec_id, embedding, nrm, unnest(cells) AS cos_c,
        |         generate_subscripts(cells, 1) AS i
        |  FROM ca WHERE vec_id < 10),
        |qprobe AS (
        |  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, i AS cell
        |  FROM (SELECT vec_id, embedding, nrm, i,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, i ASC) AS pr
        |        FROM qexp)
        |  WHERE pr <= 4),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(${dotSql("qe", "ce")} / (qn * cn), 4) AS cos4
        |  FROM corpus JOIN qprobe USING (cell)
        |  WHERE query_id != neighbor_id),
        |rk AS (
        |  SELECT query_id, neighbor_id, cos4,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cos4
        |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // q128: SemDeDup replay — same cell assignment as q68, then the
    // within-cell pairwise compare with the conservative hot-cell guard
    // and the keep-lowest-id drop rule; output is the full decision
    // table. The cosine threshold compares UNROUNDED doubles — safe for
    // the same reason as q67 (identical IEEE operation sequence).
    "q128_semantic_dedup" -> semanticDecisionOracle,
    // q135: the STREAMING semantic dedup must land on the identical
    // decision table — the oracle is literally q128's replay; any
    // divergence between the micro-batched incremental compare and the
    // one-shot within-cell compare hash-mismatches here. (Sound because
    // the drop rule is per-PAIR — drop the higher id of any tau-pair —
    // which is feed-order-independent.)
    "q135_streaming_semantic_dedup" -> semanticDecisionOracle,
    // q136: keep-one-per-GROUP SemDeDup — the q128 pair evidence chain
    // composed with the q129 connected-components action (same recursive
    // min-reachable-id walk as the q35/q129 oracles); every assigned
    // vector appears, canonical = component minimum.
    "q136_semantic_keep_list" ->
      s"""WITH RECURSIVE $ivfCellCtes,
        |asg AS (
        |  SELECT vec_id, embedding, nrm,
        |    list_position(cells, list_aggregate(cells, 'max')) AS cell
        |  FROM ca),
        |hot AS (SELECT cell FROM asg GROUP BY cell HAVING count(*) > 1000),
        |inplay AS (SELECT a.* FROM asg a ANTI JOIN hot h USING (cell)),
        |pairs AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM inplay a JOIN inplay b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35),
        |hotrows AS (SELECT a.* FROM asg a SEMI JOIN hot h USING (cell)),
        |esccanon AS (
        |  SELECT cell, embedding, min(vec_id) AS canon FROM hotrows GROUP BY ALL),
        |escpairs AS (
        |  SELECT e.canon AS ia, h.vec_id AS ib FROM hotrows h
        |  JOIN esccanon e ON h.cell = e.cell AND h.embedding = e.embedding
        |  WHERE h.vec_id != e.canon),
        |allpairs AS (SELECT ia, ib FROM pairs UNION SELECT ia, ib FROM escpairs),
        |ue AS (SELECT ia AS src, ib AS dst FROM allpairs
        |       UNION ALL SELECT ib, ia FROM allpairs),
        |walk(node, reach) AS (
        |  SELECT DISTINCT src, src FROM ue
        |  UNION
        |  SELECT w.node, ue.dst FROM walk w JOIN ue ON ue.src = w.reach
        |),
        |comp AS (SELECT node, min(reach) AS canonical FROM walk GROUP BY node)
        |SELECT asg.vec_id,
        |       CAST(coalesce(c.canonical, asg.vec_id) AS BIGINT) AS canonical_id
        |FROM asg LEFT JOIN comp c ON c.node = asg.vec_id
        |ORDER BY asg.vec_id""".stripMargin,
    // q130: the two-level SemDeDup replay. Stage 1 is driver metadata in
    // Spark, plain SQL here: each of the 16 centroids maps to the first-
    // max of its dots against the first ceil(√16)=4 super-directions
    // (c2s); supers that received no centroid are excluded from the
    // vector-side argmax (plist — mirrors the `present` restriction in
    // withTwoLevelCell). Stage 2: each vector picks its super by
    // first-max over the present supers, then its GLOBAL cell by a
    // windowed argmax over only that super's centroids (score desc, cell
    // asc — the exact Spark window). All dots are the strict left-to-
    // right double folds of the q68 replay; from the assignment on, the
    // decision table is the q128 chain verbatim.
    "q130_semantic_dedup_2l" ->
      s"""WITH cent AS (
        |  SELECT list(cl ORDER BY vec_id) AS cents FROM (
        |    SELECT vec_id,
        |      CASE WHEN sqrt(${dotSql("embedding", "embedding")}) = 0
        |           THEN list_transform(embedding, x -> 0.0::DOUBLE)
        |           ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(${dotSql("embedding", "embedding")})) END AS cl
        |    FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16))),
        |c2s AS (
        |  SELECT k AS cell, list_position(ss, list_aggregate(ss, 'max')) AS sup
        |  FROM (
        |    SELECT k, list_transform(range(1, 5), j ->
        |      list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
        |        i -> c.cents[k][i] * c.cents[j][i])), (acc, x) -> acc + x)) AS ss
        |    FROM range(1, 17) t(k), cent c)),
        |plist AS (
        |  SELECT list(sup ORDER BY sup) AS ps FROM (SELECT DISTINCT sup FROM c2s)),
        |n AS (
        |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings),
        |vsup AS (
        |  SELECT vec_id, embedding, nrm,
        |    p.ps[list_position(ss, list_aggregate(ss, 'max'))] AS sup
        |  FROM (
        |    SELECT vec_id, embedding, nrm,
        |      list_transform(p2.ps, j ->
        |        CASE WHEN nrm > 0 THEN
        |          list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
        |            i -> CAST(embedding[i] AS DOUBLE) * c.cents[j][i])), (acc, x) -> acc + x) / nrm
        |        ELSE 0.0 END) AS ss
        |    FROM n CROSS JOIN plist p2 CROSS JOIN cent c
        |    WHERE nrm > 0) q CROSS JOIN plist p),
        |asg AS (
        |  SELECT vec_id, embedding, nrm, cell FROM (
        |    SELECT v.vec_id, v.embedding, v.nrm, m.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
        |          i -> CAST(v.embedding[i] AS DOUBLE) * c.cents[m.cell][i])), (acc, x) -> acc + x) / v.nrm DESC,
        |        m.cell ASC) AS rn
        |    FROM vsup v JOIN c2s m ON v.sup = m.sup CROSS JOIN cent c)
        |  WHERE rn = 1),
        |hot AS (SELECT cell FROM asg GROUP BY cell HAVING count(*) > 1000),
        |inplay AS (SELECT a.* FROM asg a ANTI JOIN hot h USING (cell)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM inplay a JOIN inplay b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35),
        |hotrows AS (SELECT a.* FROM asg a SEMI JOIN hot h USING (cell)),
        |esccanon AS (
        |  SELECT cell, embedding, min(vec_id) AS canon FROM hotrows GROUP BY ALL),
        |escdropped AS (
        |  SELECT h.vec_id FROM hotrows h
        |  JOIN esccanon e ON h.cell = e.cell AND h.embedding = e.embedding
        |  WHERE h.vec_id != e.canon),
        |alldropped AS (
        |  SELECT vec_id FROM dropped UNION SELECT vec_id FROM escdropped)
        |SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
        |       (d.vec_id IS NULL) AS kept,
        |       (h.cell IS NOT NULL) AS escalated
        |FROM asg LEFT JOIN alldropped d ON asg.vec_id = d.vec_id
        |         LEFT JOIN hot h ON asg.cell = h.cell
        |ORDER BY asg.vec_id""".stripMargin,
    // q53: real-codec replay. The Spark side frames each document's
    // bytes as a valid netpbm P6 image (8 px wide, ⌊bytes/24⌋ rows) and
    // PARSES it with the PpmDecoder; the oracle replays the framing +
    // per-channel means directly from the text bytes (ASCII corpus, so
    // ascii(char) == payload byte; R/G/B are byte positions ≡ 1/2/0 mod
    // 3 of the h*24-byte raster). Documents shorter than one pixel row
    // fall out on both sides (decoder None branch vs h >= 1 filter).
    "q53_decode_features" ->
      """WITH cs AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(string_split(text, ''), c -> c != ''),
        |      c -> ascii(c)) AS bs
        |  FROM documents),
        |img AS (
        |  SELECT doc_id, len(bs) // 24 AS h, bs FROM cs
        |  WHERE len(bs) // 24 >= 1),
        |ch AS (
        |  SELECT doc_id, h,
        |    list_sum(list_transform(range(0, h*8), k -> bs[3*k+1])) AS sr,
        |    list_sum(list_transform(range(0, h*8), k -> bs[3*k+2])) AS sg,
        |    list_sum(list_transform(range(0, h*8), k -> bs[3*k+3])) AS sb
        |  FROM img)
        |SELECT doc_id, 8::BIGINT AS width, CAST(h AS BIGINT) AS height,
        |  255::BIGINT AS maxval,
        |  round(CAST(sr AS DOUBLE) / (h*8), 4) AS r_mean,
        |  round(CAST(sg AS DOUBLE) / (h*8), 4) AS g_mean,
        |  round(CAST(sb AS DOUBLE) / (h*8), 4) AS b_mean
        |FROM ch ORDER BY doc_id""".stripMargin,
    // q43: bit-exact replay of both codegen fingerprint expressions —
    // PolyHash (seed 0, basis 0xcbf29ce484222325 = 14695981039346656037)
    // over the whole lowercased text, and SimHash64 over its space-split
    // tokens. Unsigned HUGEINT state is converted to Spark's signed long
    // at the end (u - 2^64 when u >= 2^63); the band columns are 16-bit
    // slices of the unsigned form, matching shiftrightunsigned + mask.
    "q43_fingerprints" ->
      s"""WITH d AS (SELECT doc_id, lower(text) AS s FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    CASE WHEN s IS NULL THEN NULL ELSE ${fnvSql("s", "14695981039346656037")} END AS ufp,
        |    CASE WHEN s IS NULL THEN NULL ELSE ${simhashSql("s")} END AS ush
        |  FROM d)
        |SELECT doc_id,
        |  CAST(CASE WHEN ufp >= (1::HUGEINT << 63) THEN ufp - (1::HUGEINT << 64) ELSE ufp END AS BIGINT) AS fingerprint,
        |  CAST(CASE WHEN ush >= (1::HUGEINT << 63) THEN ush - (1::HUGEINT << 64) ELSE ush END AS BIGINT) AS simhash,
        |  CAST(ush % 65536 AS BIGINT) AS band0,
        |  CAST((ush // 65536) % 65536 AS BIGINT) AS band1,
        |  CAST((ush // 4294967296) % 65536 AS BIGINT) AS band2,
        |  CAST(ush // 281474976710656 AS BIGINT) AS band3
        |FROM hashed ORDER BY doc_id""".stripMargin,
    // q44: the banded-Hamming funnel over the q43 simhash — 4 16-bit
    // bands per doc, BucketGuard replay (buckets > 1000 excluded and
    // reported), distinct candidate pairs, Hamming <= 12 verification
    // via bit_count(xor()) on the signed two's-complement longs (same
    // bit pattern both engines). NULL-text docs flow through with NULL
    // bands, matching Spark: they can land in `hot` (never here — the
    // fixtures have no NULL text) but never join as candidates.
    "q44_simhash_neardup" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${simhashSql("lower(text)")} AS ush FROM documents),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN ush >= (1::HUGEINT << 63) THEN ush - (1::HUGEINT << 64) ELSE ush END AS BIGINT) AS simhash,
        |    CAST(ush % 65536 AS BIGINT) AS band0,
        |    CAST((ush // 65536) % 65536 AS BIGINT) AS band1,
        |    CAST((ush // 4294967296) % 65536 AS BIGINT) AS band2,
        |    CAST(ush // 281474976710656 AS BIGINT) AS band3
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS band_idx,
        |         unnest([band0, band1, band2, band3]) AS band_val
        |  FROM fp),
        |hot AS (
        |  SELECT band_idx, band_val, count(*) AS bsz FROM bands
        |  GROUP BY 1, 2 HAVING count(*) > 1000),
        |kept AS (SELECT b.* FROM bands b ANTI JOIN hot h USING (band_idx, band_val)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib,
        |                  x.simhash AS sa, y.simhash AS sb
        |  FROM kept x JOIN kept y
        |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
        |   AND x.doc_id < y.doc_id),
        |hotrows AS (SELECT b.* FROM bands b SEMI JOIN hot h USING (band_idx, band_val)),
        |esccanon AS (
        |  SELECT band_idx, band_val, simhash, min(doc_id) AS canon
        |  FROM hotrows GROUP BY ALL),
        |escdrop AS (
        |  SELECT DISTINCT h.doc_id FROM hotrows h
        |  JOIN esccanon e USING (band_idx, band_val, simhash)
        |  WHERE h.doc_id != e.canon)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_candidate_pairs,
        |  CAST(coalesce(sum(CASE WHEN bit_count(xor(sa, sb)) <= 12 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_near_dup_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hot) AS n_skipped_buckets,
        |  (SELECT CAST(coalesce(sum(bsz), 0) AS BIGINT) FROM hot) AS n_skipped_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM escdrop) AS n_escalated
        |FROM cand""".stripMargin,
    // q42: full replay of the minhash-LSH funnel. Char 8-gram FNV hashes
    // (the MinHashSig input) are stretched through the splitmix64 family
    // (a_i*h + b_i) mod 2^64 — computed in carry-split UBIGINT (32-bit
    // halves, every intermediate < 2^64, no overflow) with the +2^63
    // bias folded in as a top-bit XOR so unsigned min == Spark's signed
    // min. Band buckets stand on the 4 signature slots themselves rather
    // than xxhash64 of them (equal slots <=> equal band key, modulo a
    // 2^-64 hash collision); BucketGuard, candidates and the agree >= 32
    // dup rule replay as in q44. Docs shorter than 8 chars produce no
    // shingles and fall out of the funnel in both engines.
    "q42_minhash_lsh_dedup" ->
      s"""WITH $minhashAgreeCtes
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM sigs) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_candidate_pairs,
        |  CAST(coalesce(sum(CASE WHEN agree >= 32 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hot) AS n_skipped_buckets,
        |  (SELECT CAST(coalesce(sum(bsz), 0) AS BIGINT) FROM hot) AS n_skipped_rows,
        |  (SELECT CAST(count(DISTINCT ib) AS BIGINT) FROM escpairs) AS n_escalated
        |FROM withagree""".stripMargin,
    // q129: the keep-list replay — the q42 candidate chain, the agree
    // >= 32 dup rule, then min-reachable-id connected components via the
    // same recursive-CTE pattern as the q35 oracle; docs outside every
    // dup pair are their own canonical.
    "q129_fuzzy_dedup_keep" -> keepListOracle,
    // q133: the STREAMING keep-list must land on the identical table —
    // the oracle is literally q129's replay; any divergence between the
    // micro-batched incremental funnel and the one-shot batch funnel
    // hash-mismatches here.
    "q133_streaming_keep_list" -> keepListOracle,
    // q137: repeated-segment removal — consecutive 10-word segments, a
    // segment in >= 2 distinct docs is removed everywhere, survivors
    // reassembled in order. DuckDB list slicing w[a:b] is 1-based
    // inclusive and end-clamped, exactly Spark's slice(w, a, 10).
    "q137_repeated_segment_removal" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE text IS NOT NULL),
        |idx AS (
        |  SELECT doc_id, w,
        |    unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS seg_idx
        |  FROM words),
        |segs AS (
        |  SELECT doc_id, seg_idx,
        |    array_to_string(w[seg_idx * 10 + 1 : seg_idx * 10 + 10], ' ') AS seg
        |  FROM idx),
        |hot AS (SELECT seg FROM segs GROUP BY seg
        |        HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT s.* FROM segs s ANTI JOIN hot h USING (seg)),
        |tot AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned_text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(t.n_segments, 0) AS BIGINT) AS n_segments,
        |  CAST(coalesce(t.n_segments, 0) - coalesce(a.n_kept, 0) AS BIGINT)
        |    AS n_dropped,
        |  coalesce(a.cleaned_text, '') AS cleaned_text
        |FROM documents d
        |LEFT JOIN tot t USING (doc_id)
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q192: arbitrary-span repeated-substring detection — every 8-token
    // window counted corpus-wide (Spark shuffles md5 digests; counting
    // the gram text is the same multiset), positions with duplicated
    // windows run-merged per doc into maximal spans. Parallel unnests
    // zip in DuckDB, pairing each position with its gram.
    "q192_repeated_spans" -> repeatedSpansOracle,
    // q214: the q113 pack-index map over BPE token counts — the
    // bpeTrainCtes replay feeds per-word token counts, the cumulative
    // sum and div/% run in exact integers.
    "q214_bpe_sequence_pack" ->
      s"""WITH $bpeTrainCtes,
        |wt AS (SELECT w, CAST(len(string_split(s[2:len(s)-1],
        |    chr(2)||chr(1))) AS BIGINT) AS n_tok
        |  FROM s${operators.Bpe.BpeMerges}),
        |toks AS (
        |  SELECT doc_id, CAST(sum(coalesce(n_tok, 1)) AS BIGINT)
        |    AS n_tokens
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  LEFT JOIN wt USING (w)
        |  WHERE w <> ''
        |  GROUP BY doc_id),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS start_tok
        |  FROM toks)
        |SELECT doc_id, n_tokens, start_tok,
        |  start_tok // 2048 AS pack_id,
        |  start_tok % 2048 AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // q216: the streaming drift monitor — chunking replayed
    // arithmetically (the ordered feed's doc_id-range bins), merges
    // trained on chunk 0, the FULL vocabulary encoded under the frozen
    // table (unrolled e0..eN), per-chunk token mass.
    "q216_streaming_token_drift" -> {
      val n = operators.Bpe.BpeMerges
      val nc = streaming.FileFeed.StreamChunks
      val encRounds = (1 to n).map { r =>
        s"""e$r AS MATERIALIZED (
           |  SELECT w, CASE WHEN b.pa IS NULL THEN s
           |    ELSE replace(s, chr(1)||b.pa||chr(2)||chr(1)||b.pb||chr(2),
           |                 chr(1)||b.pa||b.pb||chr(2)) END AS s
           |  FROM e${r - 1} LEFT JOIN b$r b ON true)""".stripMargin
      }.mkString(",\n")
      s"""WITH bounds AS (
        |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |ch AS MATERIALIZED (
        |  SELECT doc_id, text,
        |    CAST((doc_id - lo) // ((hi - lo) // $nc + 1) AS BIGINT) AS b
        |  FROM documents, bounds),
        |train AS (SELECT doc_id, text FROM ch WHERE b = 0),
        |${bpeTrainCtesFrom("train")},
        |va AS MATERIALIZED (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM ch)
        |  WHERE w <> '' AND strlen(w) = length(w)),
        |e0 AS MATERIALIZED (
        |  SELECT w, array_to_string(list_transform(range(1, len(w)+1),
        |    i -> chr(1) || w[i:i] || chr(2)), '') AS s FROM va),
        |$encRounds,
        |wt AS (SELECT w, CAST(len(string_split(s[2:len(s)-1],
        |    chr(2)||chr(1))) AS BIGINT) AS n_tok FROM e$n),
        |nd AS (SELECT b, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM ch GROUP BY 1)
        |SELECT b AS batch_id, nd.n_docs,
        |  CAST(count(*) AS BIGINT) AS n_ws_tokens,
        |  CAST(sum(coalesce(n_tok, 1)) AS BIGINT) AS n_bpe_tokens
        |FROM (SELECT b, unnest(string_split(text, ' ')) AS w FROM ch) x
        |JOIN nd USING (b)
        |LEFT JOIN wt USING (w)
        |WHERE w <> ''
        |GROUP BY b, nd.n_docs ORDER BY b""".stripMargin
    },
    // q213: per-doc novelty — distinct 8-grams with corpus df = 1 as a
    // fraction of the doc's distinct grams (the q117 gram fragment).
        // q221: the streaming novelty monitor lands on the identical table
    // — the oracle is literally q213's SQL (the q202/q192 doctrine).
    "q221_streaming_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w),
        |dfq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS novelty_pm
        |FROM grams JOIN dfq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
"q213_novelty_scores" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w),
        |dfq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS novelty_pm
        |FROM grams JOIN dfq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q212: the q192 runs plus the verbatim-unit check — span digest =
    // md5 of member-window digests in position order, unit count over
    // span rows; verbatim ⟺ the maximal run repeats as a unit.
    "q212_span_units" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(ws) - 8 + 2)) AS pos,
        |    unnest(list_transform(range(1, len(ws) - 8 + 2),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM w),
        |rep AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos, g FROM sh SEMI JOIN rep USING (g)),
        |runs AS (
        |  SELECT doc_id, pos, g,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |    CAST(count(*) AS BIGINT) AS n_windows,
        |    md5(string_agg(md5(g), '|' ORDER BY pos)) AS span_digest
        |  FROM runs GROUP BY doc_id, grp),
        |units AS (
        |  SELECT span_digest, CAST(count(*) AS BIGINT) AS n_unit_copies
        |  FROM spans GROUP BY 1)
        |SELECT doc_id, span_start,
        |  CAST(n_windows + 7 AS BIGINT) AS span_tokens, n_windows,
        |  span_digest, n_unit_copies, n_unit_copies >= 2 AS verbatim
        |FROM spans JOIN units USING (span_digest)
        |ORDER BY doc_id, span_start""".stripMargin,
    // q202: the STREAMING span monitor must land on the identical
    // table — the oracle is literally q192's replay; any divergence
    // between the ingest-time window index + summed count deltas and
    // the one-shot batch detector hash-mismatches here.
    "q202_streaming_spans" -> repeatedSpansOracle,
    // q193: repeated-span cleaning — every duplicated 8-token window
    // keeps its lexicographically-first (doc_id, pos) occurrence; tokens
    // covered only by non-canonical duplicated windows drop; survivors
    // reassemble in order. The canonical pick is the two-step
    // min(doc_id)-then-min(pos), ≡ Spark's min(struct) lexicographic min.
    "q193_span_dedup_clean" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(ws) - 8 + 2)) AS pos,
        |    unnest(list_transform(range(1, len(ws) - 8 + 2),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM w),
        |rep AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
        |cd AS (
        |  SELECT s.g, min(s.doc_id) AS cd FROM sh s SEMI JOIN rep r
        |  USING (g) GROUP BY s.g),
        |canon AS (
        |  SELECT s.g, c.cd, min(s.pos) AS cp
        |  FROM sh s JOIN cd c ON s.g = c.g AND s.doc_id = c.cd
        |  GROUP BY s.g, c.cd),
        |masked AS (
        |  SELECT s.doc_id, s.pos FROM sh s JOIN canon c ON s.g = c.g
        |  WHERE NOT (s.doc_id = c.cd AND s.pos = c.cp)),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos + t.t AS ti
        |  FROM masked CROSS JOIN (SELECT unnest(range(0, 8)) AS t) t),
        |toks AS (
        |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS ti,
        |    unnest(ws) AS tok
        |  FROM w),
        |kept AS (SELECT k.* FROM toks k ANTI JOIN covered c
        |         USING (doc_id, ti)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY ti) AS cleaned_text
        |  FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(w.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped,
        |  coalesce(a.cleaned_text, '') AS cleaned_text
        |FROM w LEFT JOIN agg a USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    // q194: span-level decontamination — corpus tokens covered by any
    // benchmark-overlapping 8-token window drop (ALL occurrences — no
    // canonical-survivor rule), survivors reassemble in order. The
    // corpus/benchmark split is q117's doc_id % 5 rule.
    "q194_span_decontaminate" ->
      """WITH cw AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id % 5 != 0),
        |bw AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id % 5 = 0),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM bw),
        |csh AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(ws) - 8 + 2)) AS pos,
        |    unnest(list_transform(range(1, len(ws) - 8 + 2),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM cw),
        |masked AS (SELECT doc_id, pos FROM csh SEMI JOIN bsh USING (g)),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos + t.t AS ti
        |  FROM masked CROSS JOIN (SELECT unnest(range(0, 8)) AS t) t),
        |toks AS (
        |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS ti,
        |    unnest(ws) AS tok
        |  FROM cw),
        |kept AS (SELECT k.* FROM toks k ANTI JOIN covered c
        |         USING (doc_id, ti)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY ti) AS cleaned_text
        |  FROM kept GROUP BY doc_id)
        |SELECT cw.doc_id, CAST(len(cw.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(cw.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped,
        |  coalesce(a.cleaned_text, '') AS cleaned_text
        |FROM cw LEFT JOIN agg a USING (doc_id)
        |ORDER BY cw.doc_id""".stripMargin,
    // q138: PII redaction — counts per class on the raw text, then the
    // sequential email→ip→phone replace. Patterns are interpolated from
    // the SAME Scala constants the operator compiles, and stay in the
    // regex subset Java and RE2 agree on (classes, bounded quantifiers,
    // \b; no lookaround/backrefs), so both engines match identically.
    "q138_pii_redaction" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS clean_text
         |FROM documents ORDER BY doc_id""".stripMargin,
    // q139: per-doc TF-IDF top-3. The score column is fixed-point
    // (floor(tf·ln(N/df)·1e4) AS BIGINT) and the rank orders by the
    // QUANTIZED score — ulp-level ln() differences between engines
    // cannot flip either the value or the ranking (see tfidfTopKFrom).
    "q139_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    CAST(floor(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) * 1e4)
        |      AS BIGINT) AS tfidf_q
        |  FROM tfc t JOIN dfc d USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf_q FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_q DESC, term) AS rk FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin,
    // q140: exact τ-Jaccard set-similarity self-join. The operator runs
    // the prefix-filtered (PPJoin-family) algorithm; the oracle is the
    // definitional all-pairs replay — exactness of the prefix filter
    // means the two must coincide row-for-row. All decisions are integer
    // (tauDen·inter ≥ tauNum·union with τ=4/5); jac_pm's double floor is
    // exact for these magnitudes.
    "q140_jaccard_join" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
        |it AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        |  FROM toks a JOIN toks b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia, ib, inter, sa.n AS size_a, sb.n AS size_b,
        |  CAST(floor(inter * 1000000.0 / (sa.n + sb.n - inter)) AS BIGINT)
        |    AS jac_pm
        |FROM it
        |JOIN sz sa ON sa.doc_id = it.ia
        |JOIN sz sb ON sb.doc_id = it.ib
        |WHERE 5 * inter >= 4 * (sa.n + sb.n - inter)
        |ORDER BY ia, ib""".stripMargin,
    // q141: training-shard assignment — the q112 Knuth-hash permutation,
    // shard = hkey % 32, and per-shard position/exclusive token offset
    // as shard-partitioned windows. Integer end to end.
    "q141_shard_assignment" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]'))
        |      AS BIGINT) AS n_tokens,
        |    (${knuthHash32Sql("doc_id")}) AS hkey
        |  FROM documents)
        |SELECT doc_id, hkey % 32 AS shard,
        |  CAST(row_number() OVER sw AS BIGINT) AS pos, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (sw ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |FROM d
        |WINDOW sw AS (PARTITION BY hkey % 32 ORDER BY hkey, doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q142: fixed-point k-means — 3 Lloyd iterations unrolled, every
    // quantity integer (floor-quantized components, integer squared-L2,
    // argmin tie-broken to the lowest cell, floor(sum/count) centroid
    // updates, empty cells carrying forward), so the replay is exact.
    // Output = assignment under the centroids AFTER the third update.
    "q142_kmeans_cells" ->
      """WITH eq AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x * 1e6) AS BIGINT)) AS e
        |  FROM embeddings),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, e AS c
        |  FROM eq ORDER BY vec_id LIMIT 8),
        |d1 AS (
        |  SELECT q.vec_id, q.e, c.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))) AS BIGINT) AS d
        |  FROM eq q CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, e, j AS cell, d FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
        |     AS rk FROM d1) WHERE rk = 1),
        |m1 AS (
        |  SELECT cell, i.i AS comp,
        |    CAST(floor(CAST(CAST(sum(a.e[i.i]) AS BIGINT) AS DOUBLE)
        |      / count(*)) AS BIGINT) AS m
        |  FROM a1 a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        |  GROUP BY cell, i.i),
        |c1 AS (
        |  SELECT p.j, coalesce(u.c, p.c) AS c FROM c0 p
        |  LEFT JOIN (SELECT cell AS j, list(m ORDER BY comp) AS c
        |             FROM m1 GROUP BY cell) u USING (j)),
        |d2 AS (
        |  SELECT q.vec_id, q.e, c.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))) AS BIGINT) AS d
        |  FROM eq q CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, e, j AS cell, d FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
        |     AS rk FROM d2) WHERE rk = 1),
        |m2 AS (
        |  SELECT cell, i.i AS comp,
        |    CAST(floor(CAST(CAST(sum(a.e[i.i]) AS BIGINT) AS DOUBLE)
        |      / count(*)) AS BIGINT) AS m
        |  FROM a2 a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        |  GROUP BY cell, i.i),
        |c2 AS (
        |  SELECT p.j, coalesce(u.c, p.c) AS c FROM c1 p
        |  LEFT JOIN (SELECT cell AS j, list(m ORDER BY comp) AS c
        |             FROM m2 GROUP BY cell) u USING (j)),
        |d3 AS (
        |  SELECT q.vec_id, q.e, c.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))) AS BIGINT) AS d
        |  FROM eq q CROSS JOIN c2 c),
        |a3 AS (SELECT vec_id, e, j AS cell, d FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
        |     AS rk FROM d3) WHERE rk = 1),
        |m3 AS (
        |  SELECT cell, i.i AS comp,
        |    CAST(floor(CAST(CAST(sum(a.e[i.i]) AS BIGINT) AS DOUBLE)
        |      / count(*)) AS BIGINT) AS m
        |  FROM a3 a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        |  GROUP BY cell, i.i),
        |c3 AS (
        |  SELECT p.j, coalesce(u.c, p.c) AS c FROM c2 p
        |  LEFT JOIN (SELECT cell AS j, list(m ORDER BY comp) AS c
        |             FROM m3 GROUP BY cell) u USING (j)),
        |d4 AS (
        |  SELECT q.vec_id, c.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))) AS BIGINT) AS d
        |  FROM eq q CROSS JOIN c3 c)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, d AS dist_q FROM
        |  (SELECT vec_id, j AS cell, d,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
        |   FROM d4) WHERE rk = 1
        |ORDER BY vec_id""".stripMargin,
    // q143: unigram-LM surprisal — per-token floor(ln(T/cnt)·1e4)
    // quantized BEFORE the integer sums, so accumulation order cannot
    // matter; // is DuckDB's integer division (≡ Spark div on positives).
    "q143_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM toks),
        |tfd AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |sc AS (
        |  SELECT f.doc_id, f.tf,
        |    CAST(floor(ln(CAST(t AS DOUBLE) / c) * 1e4) AS BIGINT) AS q
        |  FROM tfd f JOIN cnt USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf * q) AS BIGINT) AS surprisal_q,
        |  CAST(CAST(sum(tf * q) AS BIGINT) // CAST(sum(tf) AS BIGINT)
        |    AS BIGINT) AS mean_surprisal_q
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q228: bigram-LM conditional surprisal — q143's rule one model
    // rung up: quantize floor(ln(c(w1·)/c(w1w2))·1e4) per adjacent
    // pair, integer-sum per document; cb ≤ cp keeps every quantum ≥ 0
    // so div == //. range(1, len) is [1, len) — empty for 1-token docs,
    // matching the Spark guard.
    "q228_bigram_surprisal" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pp AS (
        |  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
        |    FROM w)),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM pp GROUP BY 1, 2),
        |cp AS (SELECT w1, count(*) AS cp FROM pp GROUP BY 1),
        |tfd AS (SELECT doc_id, w1, w2, count(*) AS tf
        |        FROM pp GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT f.doc_id, f.tf,
        |    CAST(floor(ln(CAST(cp AS DOUBLE) / cb) * 1e4) AS BIGINT) AS q
        |  FROM tfd f JOIN cb USING (w1, w2) JOIN cp USING (w1))
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  CAST(sum(tf * q) AS BIGINT) AS surprisal_q,
        |  CAST(CAST(sum(tf * q) AS BIGINT) // CAST(sum(tf) AS BIGINT)
        |    AS BIGINT) AS mean_surprisal_q
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q235: reference-LM perplexity buckets — the bigram model trains
    // on the doc_id % LmRefMod slice only (add-one smoothed over the
    // reference continuation alphabet V), every document scores under
    // it (LEFT joins: unseen pairs/prefixes hit the smoothing floor),
    // and the tercile is SQL-spec ntile(3) of the global
    // (mean, doc_id) order — the GlobalOrder.ntileFromRank formula.
    "q235_lm_quality_buckets" ->
      s"""WITH $lmBucketCtes
        |SELECT doc_id, n_bigrams, surprisal_q, mean_surprisal_q, bucket
        |FROM lmb ORDER BY doc_id""".stripMargin,
    // q229: BM25 lexical retrieval over the q223 chunk corpus — idf
    // quantized per term, each (term, candidate) contribution floored
    // before the integer per-pair sum (the q143 rule); every double op
    // in between shares the Spark expression shape, so the ranking is
    // bit-stable.
    "q229_bm25_topk" -> bm25TopkOracle,
    // q243: the posting-prune audit — kept(t) = min(df(t), P) by
    // construction of the (impact desc, cid) rank prune, so the report
    // derives from the vocabulary-scale df relation alone.
    "q243_bm25_prune_report" -> {
      val p = operators.TextAnalysis.Bm25PostingBound
      s"""WITH $chunkCwCte,
        |ct AS (
        |  SELECT doc_id * 1048576 + chunk_idx AS cid,
        |    len(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40]) AS len,
        |    unnest(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40]) AS t
        |  FROM cw),
        |dfs AS (
        |  SELECT t, count(*) AS df FROM (
        |    SELECT cid, len, t, count(*) AS tf FROM ct GROUP BY 1, 2, 3)
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(CASE WHEN df > $p THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pruned_terms,
        |  CAST(sum(df) AS BIGINT) AS n_postings,
        |  CAST(sum(least(df, $p)) AS BIGINT) AS n_kept_postings,
        |  CAST(sum(greatest(df - $p, 0)) AS BIGINT) AS n_skipped_postings
        |FROM dfs""".stripMargin
    },
    // q233: streaming lexical-index ingest — per-batch posting
    // appends reconstruct the one-shot posting relation exactly (tf
    // and len are within-chunk facts; df/N/avgdl are sums over the
    // union), so the served ranking IS q229's and the oracle is
    // shared verbatim.
    "q233_streaming_lex_index" -> bm25TopkOracle,
    // q246: lexical posting compaction + stored-rank serve — dedup and
    // the impact-rank prefix materialized into one rewrite; the served
    // ranking equals q229's for any batching/replay, so the oracle is
    // again q229's SQL verbatim.
    "q246_streaming_lex_compact" -> bm25TopkOracle,
    // q230: hybrid RRF fusion — the q223 dense chain and the q229 BM25
    // chain (both over the shared cw), each cut to RrfDepth ranks, the
    // pure-integer reciprocal-rank sum, fused rank by (score desc,
    // candidate). All knobs generated from the shared Similarity
    // constants.
    "q230_hybrid_rrf" ->
      s"""WITH $ragCvCtes,
        |${ivfAdcOracleChainOver("cv")},
        |$bm25Ctes,
        |$rrfFusedCtes
        |SELECT query_id, CAST(rk AS BIGINT) AS rk,
        |  cand // 1048576 AS doc_id, cand % 1048576 AS chunk_idx, rrf_q
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf_q DESC, cand) AS rk FROM fused)
        |WHERE rk <= ${Similarity.RrfTopK}
        |ORDER BY query_id, rk""".stripMargin,
    // q232: retrieval-quality gate — exact full-dimension integer-L2
    // top-5 over the chunk vectors as ground truth (the q179 truth
    // side re-rooted on cv's eq), each ranker (dense adc / lexical
    // bpair / fused) cut to the same depth, per-query overlap counts.
    // All three ranker chains and the truth side are the oracle
    // fragments already green under q223/q229/q230.
    "q232_retrieval_eval" ->
      s"""WITH $ragCvCtes,
        |${ivfAdcOracleChainOver("cv")},
        |$bm25Ctes,
        |$rrfFusedCtes,
        |dtop AS (
        |  SELECT query_id, neighbor_id AS cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth}),
        |ltop AS (
        |  SELECT query_id, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, cand) AS rk FROM bpair)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth}),
        |ftop AS (
        |  SELECT query_id, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_q DESC, cand) AS rk FROM fused)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth}),
        |ed AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS dd
        |  FROM eq q JOIN eq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |truth AS (
        |  SELECT query_id, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dd, cand) AS rk FROM ed)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth})
        |SELECT q.query_id,
        |  CAST(coalesce(dh.c, 0) AS BIGINT) AS dense_r5,
        |  CAST(coalesce(lh.c, 0) AS BIGINT) AS lex_r5,
        |  CAST(coalesce(fh.c, 0) AS BIGINT) AS fused_r5
        |FROM (SELECT vec_id AS query_id FROM eq WHERE vec_id % 50 = 0) q
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM dtop
        |           JOIN truth USING (query_id, cand) GROUP BY 1) dh
        |  USING (query_id)
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM ltop
        |           JOIN truth USING (query_id, cand) GROUP BY 1) lh
        |  USING (query_id)
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM ftop
        |           JOIN truth USING (query_id, cand) GROUP BY 1) fh
        |  USING (query_id)
        |ORDER BY q.query_id""".stripMargin,
    // q241: the Matryoshka prefix-dimension gate — exact top-3 on the
    // first 16/32 dims overlapped with the full-dim integer-L2 truth.
    "q241_mrl_prefix_recall" ->
      s"""WITH eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(x * 1e6) AS BIGINT)) AS e
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS d64,
        |    CAST(list_sum(list_transform(range(1,
        |      ${Similarity.MrlPrefixA + 1}),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS da,
        |    CAST(list_sum(list_transform(range(1,
        |      ${Similarity.MrlPrefixB + 1}),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS db
        |  FROM eq q JOIN eq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |truth AS (SELECT query_id, cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY d64, cand) AS rk FROM p) WHERE rk <= 3),
        |ta AS (SELECT query_id, cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY da, cand) AS rk FROM p) WHERE rk <= 3),
        |tb AS (SELECT query_id, cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY db, cand) AS rk FROM p) WHERE rk <= 3)
        |SELECT q.query_id,
        |  CAST(coalesce(ha.c, 0) AS BIGINT)
        |    AS r3_p${Similarity.MrlPrefixA},
        |  CAST(coalesce(hb.c, 0) AS BIGINT)
        |    AS r3_p${Similarity.MrlPrefixB}
        |FROM (SELECT vec_id AS query_id FROM eq WHERE vec_id % 50 = 0) q
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM ta
        |           JOIN truth USING (query_id, cand) GROUP BY 1) ha
        |  USING (query_id)
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM tb
        |           JOIN truth USING (query_id, cand) GROUP BY 1) hb
        |  USING (query_id)
        |ORDER BY q.query_id""".stripMargin,
    // q244: truncate-BEFORE-training MRL serving — the planted-prefix
    // corpus (cluster offsets confined to dims 1..16, exact doubles),
    // TWO full IVFADC chains (64-dim/4-sub vs 16-dim/1-sub, CTE names
    // f-/p-prefixed), exact planted-space truth, per-query recall +
    // LUT-read mass (probed-cell candidates × sub-space lookups).
    "q244_mrl_prefix_ivfadc" -> {
      val a = Similarity.MrlPrefixA
      val kcl = Similarity.MrlPlantClusters
      s"""WITH pemb AS MATERIALIZED (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN i <= $a THEN CAST(embedding[i] AS DOUBLE)
        |      + (((vec_id % $kcl) * 31 + i * 17) % 7 - 3) * 4.0
        |      ELSE CAST(embedding[i] AS DOUBLE)
        |        * ${Similarity.MrlTailScale} END) AS embedding
        |  FROM embeddings),
        |ppemb AS (SELECT vec_id, embedding[1 : $a] AS embedding
        |          FROM pemb),
        |${ivfAdcOracleChainOver("pemb", 64, 4, "f")},
        |${ivfAdcOracleChainOver("ppemb", a, 1, "p")},
        |sfull AS (SELECT query_id, neighbor_id AS cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist, neighbor_id) AS rk FROM fadc)
        |  WHERE rk <= ${Similarity.AnnTopK}),
        |spref AS (SELECT query_id, neighbor_id AS cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist, neighbor_id) AS rk FROM padc)
        |  WHERE rk <= ${Similarity.AnnTopK}),
        |tp AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS dd
        |  FROM feq q JOIN feq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |truth AS (SELECT query_id, cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dd, cand) AS rk FROM tp) WHERE rk <= 3),
        |fsz AS (SELECT cell, count(*) AS n FROM fcorpus GROUP BY 1),
        |psz AS (SELECT cell, count(*) AS n FROM pcorpus GROUP BY 1),
        |fread AS (SELECT qp.query_id,
        |    CAST((sum(n) - 1) * 4 AS BIGINT) AS lut_reads_full
        |  FROM fqprobe qp JOIN fsz USING (cell) GROUP BY 1),
        |pread AS (SELECT qp.query_id,
        |    CAST((sum(n) - 1) * 1 AS BIGINT) AS lut_reads_prefix
        |  FROM pqprobe qp JOIN psz USING (cell) GROUP BY 1)
        |SELECT q.query_id,
        |  CAST(coalesce(hf.c, 0) AS BIGINT) AS r3_full,
        |  CAST(coalesce(hp.c, 0) AS BIGINT) AS r3_prefix,
        |  fread.lut_reads_full, pread.lut_reads_prefix
        |FROM (SELECT vec_id AS query_id FROM feq WHERE vec_id % 50 = 0) q
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM sfull
        |           JOIN truth USING (query_id, cand) GROUP BY 1) hf
        |  USING (query_id)
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM spref
        |           JOIN truth USING (query_id, cand) GROUP BY 1) hp
        |  USING (query_id)
        |LEFT JOIN fread USING (query_id)
        |LEFT JOIN pread USING (query_id)
        |ORDER BY q.query_id""".stripMargin
    },
    // q247: the finer-sub-quantization prefix rung — the SAME planted
    // corpus, prefix, truth and query batch as q244, the 16-dim index
    // split into 2×8-dim sub-spaces (chain generated with sub=8).
    "q247_mrl_prefix_ivfadc2" -> {
      val a = Similarity.MrlPrefixA
      val kcl = Similarity.MrlPlantClusters
      s"""WITH pemb AS MATERIALIZED (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN i <= $a THEN CAST(embedding[i] AS DOUBLE)
        |      + (((vec_id % $kcl) * 31 + i * 17) % 7 - 3) * 4.0
        |      ELSE CAST(embedding[i] AS DOUBLE)
        |        * ${Similarity.MrlTailScale} END) AS embedding
        |  FROM embeddings),
        |ppemb AS (SELECT vec_id, embedding[1 : $a] AS embedding
        |          FROM pemb),
        |${ivfAdcOracleChainOver("ppemb", a, 2, "p", 8)},
        |spref AS (SELECT query_id, neighbor_id AS cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist, neighbor_id) AS rk FROM padc)
        |  WHERE rk <= ${Similarity.AnnTopK}),
        |teq AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(x * 1e6) AS BIGINT)) AS e
        |  FROM pemb),
        |tp AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS dd
        |  FROM teq q JOIN teq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |truth AS (SELECT query_id, cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dd, cand) AS rk FROM tp) WHERE rk <= 3),
        |psz AS (SELECT cell, count(*) AS n FROM pcorpus GROUP BY 1),
        |pread AS (SELECT qp.query_id,
        |    CAST((sum(n) - 1) * 2 AS BIGINT) AS lut_reads_prefix2
        |  FROM pqprobe qp JOIN psz USING (cell) GROUP BY 1)
        |SELECT q.query_id,
        |  CAST(coalesce(hp.c, 0) AS BIGINT) AS r3_prefix2,
        |  pread.lut_reads_prefix2
        |FROM (SELECT vec_id AS query_id FROM teq WHERE vec_id % 50 = 0) q
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM spref
        |           JOIN truth USING (query_id, cand) GROUP BY 1) hp
        |  USING (query_id)
        |LEFT JOIN pread USING (query_id)
        |ORDER BY q.query_id""".stripMargin
    },
    // q240: the lexical-truth complement of q232 — same three rankers
    // cut at the same depth, truth replaced by exact token-set Jaccard
    // over the chunk texts ((∩·10⁶) // ∪, (score desc, cand) ties).
    "q240_retrieval_eval_lex" ->
      s"""WITH $ragCvCtes,
        |${ivfAdcOracleChainOver("cv")},
        |$bm25Ctes,
        |$rrfFusedCtes,
        |dtop AS (
        |  SELECT query_id, neighbor_id AS cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth}),
        |ltop AS (
        |  SELECT query_id, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, cand) AS rk FROM bpair)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth}),
        |ftop AS (
        |  SELECT query_id, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_q DESC, cand) AS rk FROM fused)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth}),
        |dtok AS (SELECT DISTINCT cid, t FROM ct),
        |tsz AS (SELECT cid, count(*) AS sz FROM dtok GROUP BY 1),
        |jint AS (
        |  SELECT q.cid AS query_id, x.cid AS cand, count(*) AS i
        |  FROM dtok q JOIN dtok x USING (t)
        |  WHERE q.cid % 50 = 0 AND x.cid <> q.cid
        |  GROUP BY 1, 2),
        |jsc AS (
        |  SELECT j.query_id, j.cand,
        |    (j.i * 1000000) // (qs.sz + cs.sz - j.i) AS jac_q
        |  FROM jint j
        |  JOIN tsz qs ON qs.cid = j.query_id
        |  JOIN tsz cs ON cs.cid = j.cand),
        |truth AS (
        |  SELECT query_id, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY jac_q DESC, cand) AS rk FROM jsc)
        |  WHERE rk <= ${Similarity.RetrievalEvalDepth})
        |SELECT q.query_id,
        |  CAST(coalesce(dh.c, 0) AS BIGINT) AS dense_r5,
        |  CAST(coalesce(lh.c, 0) AS BIGINT) AS lex_r5,
        |  CAST(coalesce(fh.c, 0) AS BIGINT) AS fused_r5
        |FROM (SELECT DISTINCT cid AS query_id FROM dtok
        |      WHERE cid % 50 = 0) q
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM dtop
        |           JOIN truth USING (query_id, cand) GROUP BY 1) dh
        |  USING (query_id)
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM ltop
        |           JOIN truth USING (query_id, cand) GROUP BY 1) lh
        |  USING (query_id)
        |LEFT JOIN (SELECT query_id, count(*) AS c FROM ftop
        |           JOIN truth USING (query_id, cand) GROUP BY 1) fh
        |  USING (query_id)
        |ORDER BY q.query_id""".stripMargin,
    // q144: overlapping-window chunking (size 40, stride 20). DuckDB
    // list slicing w[a:b] is 1-based inclusive and end-clamped, exactly
    // Spark's slice(w, a, 40); // after greatest(0, ·) matches div on
    // the possibly-negative numerator because both clamp to 0.
    "q144_chunk_windows" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (
        |  SELECT doc_id, w,
        |    unnest(range(0, 1 + greatest(0, (len(w) - 40 + 19) // 20)))
        |      AS chunk_idx
        |  FROM words)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  array_to_string(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40], ' ')
        |    AS chunk_text
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,
    // q145: per-source quota spend — the oracle states the semantics as
    // one per-source cumsum window; the Spark side is the grouped
    // GlobalOrder two-pass (unique (quality DESC, doc_id) order ⇒
    // identical cumulative sums).
    "q145_domain_mixture" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS quality_pm,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS weight
        |  FROM (SELECT DISTINCT source FROM documents)),
        |b AS (
        |  SELECT source, weight,
        |    CAST(weight * (SELECT sum(n_tokens) FROM scored)
        |         // (2 * (SELECT sum(weight) FROM w)) AS BIGINT) AS budget_tok
        |  FROM w),
        |r AS (
        |  SELECT doc_id, source, quality_pm, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality_pm DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM scored)
        |SELECT r.doc_id, r.source, b.weight, r.quality_pm, r.n_tokens,
        |  r.cum_tokens, b.budget_tok,
        |  r.cum_tokens <= b.budget_tok AS selected
        |FROM r JOIN b USING (source) ORDER BY r.doc_id""".stripMargin,
    // q146: graded contamination — per-doc distinct-8-gram overlap share
    // against the q117 benchmark split, zero-hit docs kept by the left
    // join.
    "q146_contamination_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0)
        |SELECT c.doc_id, count(*) AS n_grams, count(b.g) AS n_shared,
        |  1000 * count(b.g) // greatest(count(*), 1) AS contamination_pm
        |FROM grams c LEFT JOIN bench b ON c.g = b.g
        |WHERE c.doc_id % 5 <> 0
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // q148: PQ replay — fixed-point sub-vector distances d(v, m, j) for
    // every (vector, sub-space, codeword) triple serve as BOTH the
    // encoding argmin (rk = 1) and the query-side ADC lookup table
    // (l.vec_id is a query); ADC(q, x) = Σ_m d(q, m, code_x(m)).
    "q148_pq_adc_topk" ->
      """WITH eq AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x * 1e6) AS BIGINT)) AS e
        |  FROM embeddings),
        |cd AS (
        |  SELECT v.vec_id, m.m, s.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> (v.e[m.m*16+i] - s.e[m.m*16+i])
        |         * (v.e[m.m*16+i] - s.e[m.m*16+i]))) AS BIGINT) AS d
        |  FROM eq v
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS m) m
        |  CROSS JOIN (SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |              FROM eq ORDER BY vec_id LIMIT 16) s),
        |codes AS (
        |  SELECT vec_id, m, j AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d, j) AS rk FROM cd)
        |  WHERE rk = 1),
        |adc AS (
        |  SELECT l.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    CAST(sum(l.d) AS BIGINT) AS adc_dist
        |  FROM codes x JOIN cd l ON l.m = x.m AND l.j = x.code
        |  WHERE l.vec_id % 50 = 0 AND x.vec_id <> l.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, adc_dist
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // q170: per-source exact quality sums per snapshot; drift as an
    // exact rational (num/den) — integer division on negatives is the
    // one div/floor divergence between the engines, so none is taken.
    "q170_quality_drift" ->
      """WITH olddocs AS (
        |  SELECT source, text FROM documents WHERE doc_id % 5 <> 4),
        |newdocs AS (
        |  SELECT source, CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
        |                      ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |qa AS (SELECT source,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS q FROM olddocs),
        |qb AS (SELECT source,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS q FROM newdocs),
        |a AS (SELECT source, count(*) AS old_n,
        |        CAST(sum(q) AS BIGINT) AS old_q_sum FROM qa GROUP BY 1),
        |b AS (SELECT source, count(*) AS new_n,
        |        CAST(sum(q) AS BIGINT) AS new_q_sum FROM qb GROUP BY 1)
        |SELECT coalesce(a.source, b.source) AS source,
        |  CAST(coalesce(old_n, 0) AS BIGINT) AS old_n,
        |  CAST(coalesce(new_n, 0) AS BIGINT) AS new_n,
        |  CAST(coalesce(old_q_sum, 0) AS BIGINT) AS old_q_sum,
        |  CAST(coalesce(new_q_sum, 0) AS BIGINT) AS new_q_sum,
        |  CAST(coalesce(new_q_sum, 0) * coalesce(old_n, 0)
        |     - coalesce(old_q_sum, 0) * coalesce(new_n, 0) AS BIGINT)
        |    AS drift_num,
        |  CAST(coalesce(old_n, 0) * coalesce(new_n, 0) AS BIGINT) AS drift_den
        |FROM a FULL OUTER JOIN b ON a.source = b.source
        |ORDER BY source""".stripMargin,
    // q151: snapshot diff by content digest — version A drops
    // doc_id%5==4, version B drops %5==0 and revises %7==0; status from
    // null-ness and digest equality across the full-outer join.
    "q151_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
        |           WHERE doc_id % 5 <> 4),
        |b AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
        |                 ELSE text END) AS new_md5
        |      FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.old_md5 = b.new_md5 THEN 'same'
        |       ELSE 'changed' END AS status,
        |  a.old_md5, b.new_md5
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY 1""".stripMargin,
    // q166: the q129 keep-list replay re-aggregated per canonical with
    // exact per-member token sums.
    "q166_dedup_savings" -> dedupSavingsOracle,
    // q195: the keep-list replay plus the canonical-id Knuth split rule —
    // near-dup components land on one side of the eval boundary whole.
    "q195_leakage_safe_split" -> leakageSplitOracle,
    // q173: content-addressed deterministic sampling — first two md5
    // hex chars under '29' (≈16%); identical digests in both engines.
    "q173_hash_sampling" -> hashSamplingOracle,
    // q190: exact lower medians (rank (n+1)//2 of the unique
    // (cents, event_id) order) for value and absolute deviation per
    // q207: per-type OLS slope over the DAILY value-total series —
    // exact integer sums, one IEEE double division under the floor
    // (identical operands → identical quotient in both engines).
    "q207_trend_slopes" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * 1e6
        |    / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope_pm
        |FROM s WHERE n >= 2 ORDER BY 1""".stripMargin,
    // q209: BPE merge table — the unrolled training replay (p/b/s CTE
    // blocks generated from Bpe.BpeMerges), union of the per-round
    // winners. Both engines run the identical sentinel-string
    // replace-all greedy merge (see Bpe's docstring).
    "q209_bpe_merges" ->
      s"""WITH $bpeTrainCtes
        |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pa, pb, n FROM (
        |  ${(1 to operators.Bpe.BpeMerges)
             .map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")})
        |ORDER BY merge_rank""".stripMargin,
    // q210: whitespace-vs-BPE token accounting — the trained final
    // symbol strings' token counts joined back onto the corpus word
    // explosion; non-ASCII words (excluded from training) count 1.
    "q210_bpe_token_stats" ->
      s"""WITH $bpeTrainCtes,
        |wt AS (SELECT w, CAST(len(string_split(s[2:len(s)-1],
        |    chr(2)||chr(1))) AS BIGINT) AS n_tok
        |  FROM s${operators.Bpe.BpeMerges})
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
        |       CAST(sum(coalesce(n_tok, 1)) AS BIGINT) AS n_bpe_tokens
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |      FROM documents)
        |LEFT JOIN wt USING (w)
        |WHERE w <> ''
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q208: pairwise Pearson over the shared daily series — integer
    // sums, variance factors cast to double before their product, one
    // sqrt + division on identical IEEE operands under the floor.
    "q208_daily_correlations" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |         a.y AS ya, b.y AS yb
        |  FROM daily a JOIN daily b
        |    ON a.x = b.x AND a.event_type < b.event_type),
        |s AS (
        |  SELECT ta, tb, count(*) AS n,
        |    sum(ya) AS sa, sum(yb) AS sb, sum(ya * yb) AS sab,
        |    sum(ya * ya) AS saa, sum(yb * yb) AS sbb
        |  FROM j GROUP BY 1, 2)
        |SELECT ta, tb, CAST(n AS BIGINT) AS n_days,
        |  CAST(floor(CAST(n * sab - sa * sb AS DOUBLE) * 1e6
        |    / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
        |         * CAST(n * sbb - sb * sb AS DOUBLE))) AS BIGINT)
        |    AS corr_pm
        |FROM s WHERE n >= 2 ORDER BY 1, 2""".stripMargin,
    // type, then the |x−med| > 3·MAD flag — all integer.
    "q190_robust_outliers" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1),
        |r1 AS (SELECT event_type, cents, row_number() OVER (
        |    PARTITION BY event_type ORDER BY cents, event_id) AS rn
        |  FROM c),
        |med AS (SELECT r1.event_type, r1.cents AS med_cents
        |  FROM r1 JOIN n USING (event_type) WHERE r1.rn = (n.n + 1) // 2),
        |d AS (SELECT c.event_type, c.event_id,
        |    abs(c.cents - m.med_cents) AS dev, m.med_cents
        |  FROM c JOIN med m USING (event_type)),
        |r2 AS (SELECT event_type, dev, row_number() OVER (
        |    PARTITION BY event_type ORDER BY dev, event_id) AS rn
        |  FROM d),
        |mad AS (SELECT r2.event_type, r2.dev AS mad_cents
        |  FROM r2 JOIN n USING (event_type) WHERE r2.rn = (n.n + 1) // 2)
        |SELECT d.event_type, CAST(n.n AS BIGINT) AS n_events,
        |  CAST(max(d.med_cents) AS BIGINT) AS med_cents,
        |  CAST(max(m.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > 3 * m.mad_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CAST(1000 * sum(CASE WHEN d.dev > 3 * m.mad_cents
        |                  THEN 1 ELSE 0 END) // n.n AS BIGINT)
        |    AS outlier_pm
        |FROM d JOIN mad m USING (event_type) JOIN n USING (event_type)
        |GROUP BY d.event_type, n.n
        |ORDER BY d.event_type""".stripMargin,
    // q189: the monitor's additive counts land on q173's one-shot
    // readout exactly for any batching — the oracle is its replay.
    "q189_streaming_sampling" -> hashSamplingOracle,
    // q174: digest-level overlap between every ordered source pair,
    // over the corpus plus the simulated zz_mirror republisher (every
    // fourth doc verbatim — the q151-style production stand-in).
    "q174_cross_source_duplicates" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'zz_mirror' AS source, text FROM documents
        |  WHERE doc_id % 4 = 0),
        |d AS (SELECT DISTINCT md5(text) AS h, source FROM corpus)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_digests
        |FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q177: frequency-of-frequencies over whitespace terms; class 11
    // is the 11+ tail bucket.
    "q177_vocabulary_spectrum" ->
      """WITH tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents) x
        |  GROUP BY 1)
        |SELECT CAST(CASE WHEN c <= 10 THEN c ELSE 11 END AS BIGINT)
        |    AS freq_class,
        |  CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(c) AS BIGINT) AS n_tokens
        |FROM tc GROUP BY 1 ORDER BY 1""".stripMargin,
    // q168: the q42 funnel's candidate relation rolled up by exact
    // agreement count — the threshold-tuning readout.
    "q168_agreement_histogram" ->
      s"""WITH $minhashAgreeCtes
        |SELECT CAST(agree AS BIGINT) AS agree, count(*) AS n_pairs
        |FROM withagree GROUP BY 1 ORDER BY 1""".stripMargin,
    // q155: the health-report cross-tab — q114's ntile deciles + q40's
    // md5 canonical rule + q117's contamination set, composed; status
    // priority duplicate > contaminated > clean.
    "q155_corpus_report" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS quality_pm
        |  FROM documents),
        |dec AS (SELECT doc_id,
        |  CAST(ntile(10) OVER (ORDER BY quality_pm DESC, doc_id) AS BIGINT)
        |    AS decile FROM sc),
        |canon AS (SELECT md5(text) AS h, min(doc_id) AS canonical_id
        |          FROM documents GROUP BY 1),
        |dup AS (SELECT d.doc_id, d.doc_id <> c.canonical_id AS is_dup
        |        FROM documents d JOIN canon c ON md5(d.text) = c.h),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0),
        |contam AS (SELECT DISTINCT c.doc_id FROM grams c JOIN bench USING (g)
        |           WHERE c.doc_id % 5 <> 0),
        |tok AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT)
        |    AS n_tokens FROM documents)
        |SELECT dec.decile,
        |  CASE WHEN dup.is_dup THEN 'duplicate'
        |       WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
        |       ELSE 'clean' END AS status,
        |  count(*) AS n_docs, CAST(sum(tok.n_tokens) AS BIGINT) AS sum_tokens
        |FROM tok JOIN dec USING (doc_id) JOIN dup USING (doc_id)
        |LEFT JOIN contam ON contam.doc_id = tok.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q157: per-language ntile — the oracle states the semantics as one
    // partitioned ntile window; the Spark side is the grouped GlobalOrder
    // two-pass (unique order ⇒ identical per-lang ranks ⇒ identical
    // tiles by the SQL-spec ntile formula).
    "q157_grouped_deciles" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS quality_pm
        |  FROM documents)
        |SELECT doc_id, lang, quality_pm,
        |  CAST(ntile(10) OVER (PARTITION BY lang
        |    ORDER BY quality_pm DESC, doc_id) AS BIGINT) AS decile
        |FROM sc ORDER BY doc_id""".stripMargin,
    // q158: PQ recall vs the exact integer L2 top-3 — the approx side
    // encodes with the TRAINED codebook (Similarity.PqTrainIters
    // per-sub-space fixed-point Lloyd rounds from the seed codebook,
    // unrolled below exactly like q142's CTE replay — the unroll is
    // GENERATED from the same constant the Spark side trains with), the
    // truth side is the full-dim fixed-point ranking, overlap counted
    // per query.
    "q158_pq_recall_eval" ->
      s"""WITH eq AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x * 1e6) AS BIGINT)) AS e
        |  FROM embeddings),
        |sv AS MATERIALIZED (
        |  SELECT vec_id, m.m AS m, e[m.m*16+1 : m.m*16+16] AS sv
        |  FROM eq CROSS JOIN (SELECT unnest(range(0, 4)) AS m) m),
        |cb0 AS MATERIALIZED (
        |  SELECT s.m, q.j, s.sv AS c
        |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |        FROM eq ORDER BY vec_id LIMIT 16) q
        |  JOIN sv s ON s.vec_id = q.vec_id),
        |$pqLloydUnrollCtes,
        |cd AS (
        |  SELECT v.vec_id, v.m, c.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i]))) AS BIGINT) AS d
        |  FROM sv v JOIN cb${Similarity.PqTrainIters} c ON c.m = v.m),
        |codes AS (
        |  SELECT vec_id, m, j AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d, j) AS rk FROM cd)
        |  WHERE rk = 1),
        |adc AS (
        |  SELECT l.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    CAST(sum(l.d) AS BIGINT) AS adc_dist
        |  FROM codes x JOIN cd l ON l.m = x.m AND l.j = x.code
        |  WHERE l.vec_id % 50 = 0 AND x.vec_id <> l.vec_id
        |  GROUP BY 1, 2),
        |appx AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist, neighbor_id) AS rk FROM adc) WHERE rk <= 3),
        |ed AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT) AS d
        |  FROM eq q JOIN eq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY d, neighbor_id) AS rk FROM ed) WHERE rk <= 3)
        |SELECT q.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS recall3
        |FROM (SELECT DISTINCT query_id FROM ed) q
        |LEFT JOIN (SELECT a.query_id, count(*) AS hits FROM appx a
        |           JOIN ex USING (query_id, neighbor_id) GROUP BY 1) h
        |  USING (query_id)
        |ORDER BY q.query_id""".stripMargin,
    // q159: IVFADC — q68's strict-fold cell assignment (corpus argmax +
    // query nprobe=4 probes) composed with q158's TRAINED PQ encode/LUT
    // (the Lloyd unroll is generated from the same PqTrainIters constant
    // the Spark side trains with); ADC candidates restricted to probed
    // cells.
    "q159_ivfadc_topk" -> ivfAdcTopkOracle,
    // q226: streaming index ingest — batch-wise encoding under the
    // frozen snapshot-trained quantizer is the one-shot encode exactly
    // (same integer assign/residualize/argmin), so the top-k served
    // from the accumulated store is q159's output for ANY batching and
    // the oracle is LITERALLY q159's SQL.
    "q226_streaming_index" -> ivfAdcTopkOracle,
    // q234: store compaction — q226's ingest + an overlapping replay,
    // one dedup rewrite, then the same serve; deterministic encoding
    // makes the compacted store equal the one-shot index, so the
    // oracle is again q159's SQL.
    "q234_index_compaction" -> ivfAdcTopkOracle,
    // q237: drift-triggered refresh — the planted q227 shift makes the
    // monitor fire, so the policy retrains on the accumulated
    // (drifted) corpus and rebuilds; deterministic training + encoding
    // make the refreshed serve equal the one-shot index built on the
    // drifted relation, so the oracle is q159's chain re-rooted on a
    // drifted CTE replaying the feed's own bin arithmetic.
    "q237_index_refresh" ->
      s"""WITH bounds AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi
        |           FROM embeddings),
        |params AS (
        |  SELECT lo + (${graft.streaming.FileFeed.StreamChunks} - 1)
        |    * ((hi - lo) // ${graft.streaming.FileFeed.StreamChunks} + 1)
        |    AS dl
        |  FROM bounds),
        |drifted AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)
        |      * (CASE WHEN vec_id >= p.dl THEN 2 ELSE 1 END))
        |    AS embedding
        |  FROM embeddings CROSS JOIN params p),
        |${ivfAdcOracleChainOver("drifted")}
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, adc_dist
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |WHERE rk <= ${Similarity.AnnTopK} ORDER BY query_id, rk""".stripMargin,
    // q198: IVFADC + exact re-rank — the q159 chain's top-12 ADC
    // shortlist re-scored with exact full-dimension integer L2 (the
    // same distance as q179's truth side) and served by the exact rank.
    // q236: hard-negative mining — q198's re-ranked shortlist minus
    // the exact top-HardNegPositives (the q232 planted-relevance
    // convention), served in exact-distance order at depth HardNegK.
    "q236_hard_negatives" ->
      s"""WITH $ivfAdcOracleChain,
        |short AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= ${Similarity.RerankShortlist}),
        |re AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS exact_dist
        |  FROM short s JOIN eq q ON q.vec_id = s.query_id
        |               JOIN eq x ON x.vec_id = s.neighbor_id),
        |ed AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT) AS d
        |  FROM eq q JOIN eq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |pos AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY d, neighbor_id) AS rk FROM ed)
        |  WHERE rk <= ${Similarity.HardNegPositives})
        |SELECT query_id, CAST(neg_rk AS BIGINT) AS neg_rk, neighbor_id,
        |  exact_dist
        |FROM (SELECT r.*, row_number() OVER (PARTITION BY r.query_id
        |        ORDER BY r.exact_dist, r.neighbor_id) AS neg_rk
        |      FROM re r
        |      WHERE NOT EXISTS (SELECT 1 FROM pos p
        |        WHERE p.query_id = r.query_id
        |          AND p.neighbor_id = r.neighbor_id))
        |WHERE neg_rk <= ${Similarity.HardNegK}
        |ORDER BY query_id, neg_rk""".stripMargin,
    "q198_ivfadc_rerank" ->
      s"""WITH $ivfAdcOracleChain,
        |short AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= ${Similarity.RerankShortlist}),
        |re AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS exact_dist
        |  FROM short s JOIN eq q ON q.vec_id = s.query_id
        |               JOIN eq x ON x.vec_id = s.neighbor_id)
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, exact_dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY exact_dist, neighbor_id) AS rk FROM re)
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // q200: cluster-balanced sample — the shared trained-coarse-cell
    // assignment, then up to quota members per cell by the carry-split
    // Knuth uniform of vec_id with id tie-break.
    "q200_cluster_balanced_sample" ->
      s"""WITH $coarseAssignCtes
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(rk AS BIGINT) AS rk
        |FROM (
        |  SELECT nid AS vec_id, cell,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY (${knuthHash32Sql("nid")}), nid) AS rk
        |  FROM corpus)
        |WHERE rk <= ${Similarity.ClusterSampleQuota}
        |ORDER BY cell, rk""".stripMargin,
    // q179: IVFADC recall — the q159 chain's top-3 overlapped with the
    // exact full-dimension integer L2 top-3 (q158's truth side): the
    // per-query number an ANN deployment reads before picking nprobe.
    "q179_ivfadc_recall" ->
      s"""WITH $ivfAdcOracleChain,
        |appx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= 3),
        |ed AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT) AS d
        |  FROM eq q JOIN eq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY d, neighbor_id) AS rk FROM ed) WHERE rk <= 3)
        |SELECT q.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS recall3
        |FROM (SELECT vec_id AS query_id FROM eq WHERE vec_id % 50 = 0) q
        |LEFT JOIN (SELECT a.query_id, count(*) AS hits FROM appx a
        |           JOIN ex USING (query_id, neighbor_id) GROUP BY 1) h
        |  USING (query_id)
        |ORDER BY q.query_id""".stripMargin,
    // q248: sampled-train IVFADC recall — the q179 gate with both
    // quantizers trained on the vec_id % sampleMod = 0 quarter (the
    // Jegou fixed-size-sample deployment posture): train CTEs filtered
    // to the sample, assignment/encoding/probing/truth over the full
    // corpus — the Spark side's trainQuantizedCents/pqTrainCodebook
    // sampleMod split replayed exactly.
    "q248_ivfadc_sampletrain" ->
      s"""WITH ${ivfAdcOracleChainOver("embeddings", 64, 4, "", 16,
          s"vec_id % ${operators.Similarity.IvfTrainSampleMod} = 0")},
        |appx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= 3),
        |ed AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT) AS d
        |  FROM eq q JOIN eq x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY d, neighbor_id) AS rk FROM ed) WHERE rk <= 3)
        |SELECT q.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS recall3
        |FROM (SELECT vec_id AS query_id FROM eq WHERE vec_id % 50 = 0) q
        |LEFT JOIN (SELECT a.query_id, count(*) AS hits FROM appx a
        |           JOIN ex USING (query_id, neighbor_id) GROUP BY 1) h
        |  USING (query_id)
        |ORDER BY q.query_id""".stripMargin,
    // q223: RAG retrieval — q144's chunk windows as retrieval units,
    // the deterministic embed fixture (vec(chunk) = embeddings[(cid·37
    // + 11) mod nv]), and the FULL q159 IVFADC chain re-rooted on the
    // chunk-vector relation (coarseAssignCtesOver/ivfAdcOracleChainOver
    // — same trained unrolls, so a Lloyd-rule drift hash-mismatches
    // q159 and q223 together); served with (doc_id, chunk_idx)
    // provenance decoded from the composite chunk id.
    "q223_rag_retrieval" -> ragRetrievalOracle,
    // q231: store-backed RAG serving — q223's build/serve split. Batch
    // encoding under the frozen quantizer equals the one-shot encode
    // row-for-row (the q226 parity), so the served top-k IS q223's and
    // the oracle is shared verbatim: a serving-path drift
    // hash-mismatches both rungs together.
    "q231_rag_serve" -> ragRetrievalOracle,
    // q225: context assembly — q223's retrieval at depth ContextTopK,
    // the q144 chunk token counts joined back on, and the greedy
    // rank-order packing rule as one per-query cumulative-sum window
    // against the ContextBudgetTokens budget (both constants shared
    // with the Spark side).
    "q225_rag_context_pack" ->
      s"""WITH $ragCvCtes,
        |${ivfAdcOracleChainOver("cv")},
        |ranked AS (
        |  SELECT query_id, rk, neighbor_id // 1048576 AS doc_id,
        |    neighbor_id % 1048576 AS chunk_idx
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |          ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= ${Similarity.ContextTopK}),
        |tok AS (
        |  SELECT doc_id, chunk_idx,
        |    CAST(len(w[chunk_idx * 20 + 1 : chunk_idx * 20 + 40])
        |      AS BIGINT) AS n_chunk_tokens
        |  FROM cw),
        |packed AS (
        |  SELECT r.query_id, CAST(r.rk AS BIGINT) AS rk, r.doc_id,
        |    r.chunk_idx, t.n_chunk_tokens,
        |    CAST(sum(t.n_chunk_tokens) OVER (PARTITION BY r.query_id
        |      ORDER BY r.rk) AS BIGINT) AS cum_tokens
        |  FROM ranked r JOIN tok t USING (doc_id, chunk_idx))
        |SELECT query_id, rk, doc_id, chunk_idx, n_chunk_tokens,
        |  cum_tokens,
        |  cum_tokens <= ${Similarity.ContextBudgetTokens} AS in_context
        |FROM packed ORDER BY query_id, rk""".stripMargin,
    // q224: MMR-diversified retrieval — q198's exact-re-ranked pool on
    // the chunk corpus, then the greedy MMR rounds unrolled (generated
    // from MmrSelect, so the Spark loop and the oracle share the
    // constant): round t scores every unselected candidate
    // exact_dist − min pairwise distance to the selected set and takes
    // the (score, neighbor) minimum.
    "q224_rag_mmr" ->
      s"""WITH $ragCvCtes,
        |${ivfAdcOracleChainOver("cv")},
        |short AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rk FROM adc)
        |  WHERE rk <= ${Similarity.RerankShortlist}),
        |re AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS BIGINT)
        |      AS exact_dist
        |  FROM short s JOIN eq q ON q.vec_id = s.query_id
        |               JOIN eq x ON x.vec_id = s.neighbor_id),
        |cand AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, exact_dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY exact_dist, neighbor_id) AS rk FROM re)
        |  WHERE rk <= ${Similarity.MmrShortlist}),
        |pw AS MATERIALIZED (
        |  SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (xa.e[i] - xb.e[i]) * (xa.e[i] - xb.e[i]))) AS BIGINT)
        |      AS d
        |  FROM cand a JOIN cand b ON b.query_id = a.query_id
        |    AND b.neighbor_id <> a.neighbor_id
        |  JOIN eq xa ON xa.vec_id = a.neighbor_id
        |  JOIN eq xb ON xb.vec_id = b.neighbor_id),
        |s1 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY exact_dist, neighbor_id) AS rn FROM cand)
        |  WHERE rn = 1),
        |$mmrGreedyCtes
        |SELECT u.query_id, u.sel_rk,
        |  c.neighbor_id // 1048576 AS doc_id,
        |  c.neighbor_id % 1048576 AS chunk_idx, c.exact_dist
        |FROM ($mmrSelUnion) u
        |JOIN cand c USING (query_id, neighbor_id)
        |ORDER BY u.query_id, u.sel_rk""".stripMargin,
    // q227: index-staleness monitor — the trained-coarse-cell unroll
    // over the UNDRIFTED snapshot (shared coarseAssignCtes, so the
    // quantizer replay is q159/q200's), the calibration threshold
    // (snapshot max assignment distance from the chain's own kd), the
    // planted 2× drift on the top id quarter (exact in float, replayed
    // as a double multiply), and per-chunk stats with the chunk id from
    // the FileFeed bin arithmetic (generated from StreamChunks).
    "q227_streaming_index_drift" ->
      s"""WITH $coarseAssignCtes,
        |bounds AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi
        |           FROM embeddings),
        |params AS (
        |  SELECT lo, (hi - lo) // ${graft.streaming.FileFeed.StreamChunks}
        |      + 1 AS w,
        |    lo + (${graft.streaming.FileFeed.StreamChunks} - 1)
        |      * ((hi - lo) // ${graft.streaming.FileFeed.StreamChunks} + 1)
        |      AS dl
        |  FROM bounds),
        |thr AS (
        |  SELECT max(md) AS t FROM (
        |    SELECT vec_id, min(d) AS md FROM kd GROUP BY 1)),
        |deq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * f * 1e6) AS BIGINT)) AS e
        |  FROM (SELECT vec_id, embedding,
        |          CASE WHEN vec_id >= p.dl THEN 2 ELSE 1 END AS f
        |        FROM embeddings CROSS JOIN params p)),
        |dd AS (
        |  SELECT v.vec_id, min(CAST(list_sum(list_transform(range(1, 65),
        |    i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))) AS BIGINT)) AS d
        |  FROM deq v CROSS JOIN kc${Similarity.IvfCoarseIters} c
        |  GROUP BY 1)
        |SELECT CAST((d.vec_id - p.lo) // p.w AS BIGINT) AS batch_id,
        |  count(*) AS n_vecs,
        |  CAST(sum(d.d) AS BIGINT) AS sum_dist,
        |  max(d.d) AS max_dist,
        |  CAST(sum(CASE WHEN d.d > (SELECT t FROM thr)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_far
        |FROM dd d CROSS JOIN params p
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q121: the full cleaning pipeline — exact dedup, decontamination,
    // quality + repetition gates, mixture rollup — composed from the
    // same SQL fragments as q115/q117/q118 (each independently green).
    "q121_full_pipeline" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0),
        |contam AS (SELECT DISTINCT c.doc_id FROM grams c JOIN bench USING (g)
        |           WHERE c.doc_id % 5 <> 0),
        |words AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |wc AS (SELECT doc_id, max(c) AS maxc FROM
        |       (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2)
        |       GROUP BY 1),
        |rep AS (SELECT w.doc_id,
        |          1000 * wc.maxc // greatest(len(ws), 1) AS tw,
        |          1000 * (len(bi) - len(list_distinct(bi)))
        |            // greatest(len(bi), 1) AS db
        |        FROM (SELECT doc_id, ws, list_transform(range(1, len(ws) - 2 + 2),
        |                i -> array_to_string(ws[i:i+1], ' ')) AS bi FROM w) w
        |        JOIN wc USING (doc_id)),
        |corpus AS (SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        |           WHERE d.doc_id % 5 <> 0),
        |sig AS (
        |  SELECT c.lang, c.source,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(c.text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(c.text) - len(string_split(c.text, ' ')) + 1.0)
        |                            / len(string_split(c.text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(c.text) - length(regexp_replace(c.text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS q,
        |    CAST(len(regexp_extract_all(c.text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS t,
        |    rep.tw, rep.db
        |  FROM corpus c
        |  JOIN rep ON c.doc_id = rep.doc_id
        |  LEFT JOIN contam ct ON c.doc_id = ct.doc_id
        |  WHERE ct.doc_id IS NULL)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS sum_tokens,
        |  CAST(sum(q) AS BIGINT) AS sum_quality
        |FROM sig WHERE q >= 300 AND t >= 50 AND tw <= 200 AND db <= 100
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // q242: q121's chain with the q235 LM tail-drop composed in — the
    // lm-prefixed bucket CTEs plus one doc-keyed semi-join on the
    // survivor relation (JOIN lmkeep).
    "q242_full_pipeline_lm" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |$lmBucketCtes,
        |lmkeep AS (SELECT doc_id FROM lmb
        |           WHERE bucket < ${operators.TextAnalysis.LmQualityTiles}),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws) - 8 + 2),
        |    i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0),
        |contam AS (SELECT DISTINCT c.doc_id FROM grams c JOIN bench USING (g)
        |           WHERE c.doc_id % 5 <> 0),
        |words AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |wc AS (SELECT doc_id, max(c) AS maxc FROM
        |       (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2)
        |       GROUP BY 1),
        |rep AS (SELECT w.doc_id,
        |          1000 * wc.maxc // greatest(len(ws), 1) AS tw,
        |          1000 * (len(bi) - len(list_distinct(bi)))
        |            // greatest(len(bi), 1) AS db
        |        FROM (SELECT doc_id, ws, list_transform(range(1, len(ws) - 2 + 2),
        |                i -> array_to_string(ws[i:i+1], ' ')) AS bi FROM w) w
        |        JOIN wc USING (doc_id)),
        |corpus AS (SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        |           WHERE d.doc_id % 5 <> 0),
        |sig AS (
        |  SELECT c.lang, c.source,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(c.text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(c.text) - len(string_split(c.text, ' ')) + 1.0)
        |                            / len(string_split(c.text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(c.text) - length(regexp_replace(c.text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS q,
        |    CAST(len(regexp_extract_all(c.text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS t,
        |    rep.tw, rep.db
        |  FROM corpus c
        |  JOIN rep ON c.doc_id = rep.doc_id
        |  JOIN lmkeep lk ON c.doc_id = lk.doc_id
        |  LEFT JOIN contam ct ON c.doc_id = ct.doc_id
        |  WHERE ct.doc_id IS NULL)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS sum_tokens,
        |  CAST(sum(q) AS BIGINT) AS sum_quality
        |FROM sig WHERE q >= 300 AND t >= 50 AND tw <= 200 AND db <= 100
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // q122: exact heavy-hitter counts only; the CMS over-count band
    // (never under-counts; over-count ≤ ceil(eps*N) since
    // CountMinSketch.create(eps=0.001) gives width ceil(2/eps)=2000 >>
    // word domain) is asserted spec-side on cmsTopEstimates, not hashed.
    "q122_cms_heavy_hitters" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |words AS (SELECT unnest(ws) AS g FROM w)
        |SELECT g, count(*) AS cnt
        |FROM words GROUP BY g ORDER BY cnt DESC, g LIMIT 20""".stripMargin,
    // q117: word 8-gram overlap against the held-out benchmark subset
    // (every 5th doc). DuckDB list slicing is 1-based inclusive:
    // ws[i:i+7] is 8 words; starts run 1..len-7.
    "q117_decontaminate" -> decontaminateOracle,
    // q197: the STREAMING contamination monitor must land on the
    // identical table — the oracle is literally q117's replay; any
    // divergence between the micro-batched additive merge and the
    // one-shot batch gate hash-mismatches here.
    "q197_streaming_contamination" -> decontaminateOracle,
    // q118: the oracle states the top-word share via the direct
    // unnest + group-by formulation; the Spark side computes the same
    // count as the longest equal-run in the sorted word array (no shuffle).
    "q118_repetition_stats" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, len(ws) AS n_words,
        |        list_transform(range(1, len(ws) - 2 + 2),
        |          i -> array_to_string(ws[i:i+1], ' ')) AS bi
        |      FROM w),
        |tw AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |topw AS (SELECT doc_id, max(c) AS maxc FROM
        |         (SELECT doc_id, word, count(*) AS c FROM tw GROUP BY 1, 2)
        |         GROUP BY 1)
        |SELECT g.doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(1000 * maxc // greatest(n_words, 1) AS BIGINT) AS topword_pm,
        |  CAST(1000 * (len(bi) - len(list_distinct(bi)))
        |       // greatest(len(bi), 1) AS BIGINT) AS dup_bigram_pm
        |FROM g JOIN topw USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q119_ngram_topk" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |grams AS (SELECT unnest(list_transform(range(1, len(ws) - 3 + 2),
        |            i -> array_to_string(ws[i:i+2], ' '))) AS g FROM w)
        |SELECT g, count(*) AS cnt FROM grams GROUP BY g
        |ORDER BY cnt DESC, g LIMIT 20""".stripMargin,
    // q120: bit-exact replay of the winnow (char codes → 16-gram poly
    // hash mod 1e9+7 → window-8 min → distinct → per-doc summary).
    // list_reduce has no initial accumulator, so 0 is prepended; list
    // slicing is 1-based inclusive; list_sum of an empty list is NULL
    // (Spark's aggregate starts at 0), hence the coalesce.
    "q120_winnow_fingerprints" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |c AS (SELECT doc_id, list_transform(string_split(t, ''),
        |        s -> CAST(ascii(s) AS BIGINT)) AS cs FROM d),
        |h AS (SELECT doc_id, list_transform(range(1, len(cs) - 16 + 2),
        |        i -> list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i:i+15]),
        |          (a, x) -> (a * 31 + x) % 1000000007)) AS hs FROM c),
        |w AS (SELECT doc_id, list_distinct(list_transform(
        |        range(1, len(hs) - 8 + 2), i -> list_min(hs[i:i+7]))) AS fps
        |      FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |       list_min(fps) AS fp_min, list_max(fps) AS fp_max,
        |       CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum
        |FROM w ORDER BY doc_id""".stripMargin,
    // q40 groups by the md5 content hash (16-byte shuffle key, not the
    // document) — both engines compute the identical digest.
    "q40_exact_dedup" ->
      """SELECT canonical_id, n_copies FROM (
        |  SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |  FROM documents GROUP BY md5(text))
        |ORDER BY canonical_id""".stripMargin,
    "q41_ngram_jaccard_topk" ->
      """WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 100),
        |sh AS (SELECT DISTINCT doc_id, substring(t, CAST(i AS INTEGER), 8) AS s
        |       FROM docs CROSS JOIN range(1, 4001) r(i) WHERE i <= length(t) - 7),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ninter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT ia, ib,
        |       CAST(floor(1000.0 * ninter / (sa.n + sb.n - ninter)) AS BIGINT) AS jacc_pm
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = ia
        |JOIN sizes sb ON sb.doc_id = ib
        |ORDER BY jacc_pm DESC, ia, ib LIMIT 20""".stripMargin,
    "q45_cosine_topk_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
        |el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |              generate_subscripts(embedding, 1) AS i FROM e),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM el GROUP BY 1),
        |dots AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS d
        |         FROM el a JOIN el b ON a.i = b.i AND a.vec_id < b.vec_id
        |         GROUP BY 1, 2)
        |SELECT ia, ib, round(d / (na.n * nb.n), 4) AS cos4
        |FROM dots
        |JOIN nrm na ON na.vec_id = ia
        |JOIN nrm nb ON nb.vec_id = ib
        |ORDER BY cos4 DESC, ia, ib LIMIT 20""".stripMargin,
    "q46_ann_bruteforce_topk" ->
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                   generate_subscripts(embedding, 1) AS i FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM el GROUP BY 1),
        |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                sum(q.x * c.x) AS d
        |         FROM el q JOIN el c ON q.i = c.i
        |         WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
        |         GROUP BY 1, 2),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(d / (nq.n * nc.n), 4) AS cos4,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY round(d / (nq.n * nc.n), 4) DESC, neighbor_id) AS rn
        |  FROM dots
        |  JOIN nrm nq ON nq.vec_id = query_id
        |  JOIN nrm nc ON nc.vec_id = neighbor_id)
        |SELECT query_id, CAST(rn AS BIGINT) AS rnk, neighbor_id, cos4
        |FROM scored WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q48_text_stats" ->
      """WITH d AS (
        |  SELECT lang, source, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        |         CAST(length(text) AS BIGINT) AS nc,
        |         CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT) AS n_punct
        |  FROM documents),
        |q AS (
        |  SELECT lang, source, n_chars, n_words, n_tokens,
        |         greatest(0, least(1000,
        |           200 + n_words
        |               + 10 * CAST(floor((nc - n_words + 1.0) / n_words) AS BIGINT)
        |               - 2 * n_punct)) AS quality_pm
        |  FROM d)
        |SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS sum_words,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(sum(quality_pm) AS BIGINT) AS sum_quality,
        |       max(n_chars) AS max_chars
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q49_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured,
        |  greatest(0, least(1000,
        |    200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |        + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                          / len(string_split(text, ' '))) AS BIGINT)
        |        - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |  )) AS quality_pm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q50_language_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS lang_claimed, text AS t FROM documents),
        |sc AS (
        |  SELECT doc_id, lang_claimed,
        |    CAST((length(t) - length(replace(t, ' der ', ''))) / 5 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' und ', ''))) / 5 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' die ', ''))) / 5 AS BIGINT) AS score_de,
        |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' and ', ''))) / 5 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS score_en,
        |    CAST((length(t) - length(replace(t, ' el ', ''))) / 4 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' los ', ''))) / 5 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' de ', ''))) / 4 AS BIGINT) AS score_es,
        |    CAST((length(t) - length(replace(t, ' le ', ''))) / 4 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' les ', ''))) / 5 AS BIGINT)
        |      + CAST((length(t) - length(replace(t, ' des ', ''))) / 5 AS BIGINT) AS score_fr
        |  FROM s)
        |SELECT doc_id, lang_claimed,
        |  CASE
        |    WHEN score_de = greatest(score_de, score_en, score_es, score_fr)
        |         AND score_de > 0 THEN 'de'
        |    WHEN score_en = greatest(score_de, score_en, score_es, score_fr)
        |         AND score_en > 0 THEN 'en'
        |    WHEN score_es = greatest(score_de, score_en, score_es, score_fr)
        |         AND score_es > 0 THEN 'es'
        |    WHEN score_fr = greatest(score_de, score_en, score_es, score_fr)
        |         AND score_fr > 0 THEN 'fr'
        |    ELSE 'und' END AS lang_pred,
        |  score_de, score_en, score_es, score_fr
        |FROM sc ORDER BY doc_id""".stripMargin,
    // q111: the running token sum is Spark-side distributed (two-pass
    // bucket prefix sum); the oracle states the same semantics as one
    // global SUM() OVER — integer tokens + a unique tiebreaker make the
    // cumsum engine-order-independent. Budget = floor(total/2): Spark
    // Long division ≡ DuckDB // on positives.
    "q111_token_budget_select" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS quality_pm,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, quality_pm, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality_pm DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM scored)
        |SELECT doc_id, quality_pm, n_tokens, cum_tokens,
        |  cum_tokens <= (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 FROM scored) AS selected
        |FROM ranked ORDER BY doc_id""".stripMargin,
    // q112: Knuth multiplicative hash folded to [0,1000) — pure BIGINT
    // arithmetic, bit-identical in any dialect (no RNG, no engine hash).
    // Carry-split multiply (knuthHash32Sql) so it replays without
    // overflow at any doc_id, matching the Spark side.
    "q112_stratified_sample" ->
      s"""SELECT doc_id, lang,
        |  (${knuthHash32Sql("doc_id")}) % 1000 AS bucket_pm,
        |  CAST(CASE WHEN lang = 'en' THEN 100 WHEN lang = 'fr' THEN 250
        |            WHEN lang = 'de' THEN 500 ELSE 750 END AS BIGINT) AS rate_pm,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        |  (${knuthHash32Sql("doc_id")}) % 1000 <
        |    CASE WHEN lang = 'en' THEN 100 WHEN lang = 'fr' THEN 250
        |         WHEN lang = 'de' THEN 500 ELSE 750 END AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q113: integer div/% only — the pack index map must be exact at any
    // corpus size (DuckDB // ≡ Spark div on positives).
    "q113_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS start_tok
        |  FROM toks)
        |SELECT doc_id, n_tokens, start_tok,
        |  start_tok // 2048 AS pack_id,
        |  start_tok % 2048 AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // q239: length-bucketed dynamic batching — the Spark side ranks
    // within each length class via the grouped two-pass; the oracle
    // states the semantics as one per-class rank window (unique
    // (len, doc_id) order ⇒ identical batch layout); whitespace token
    // rule, all integers.
    "q239_length_batching" ->
      s"""WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS l
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, l,
        |    (l - 1) // ${graft.operators.CorpusOps.LenBucketWidth} AS lb,
        |    row_number() OVER (
        |      PARTITION BY (l - 1) // ${graft.operators.CorpusOps.LenBucketWidth}
        |      ORDER BY l, doc_id) AS rn
        |  FROM s)
        |SELECT lb AS len_bucket,
        |  CAST((rn - 1) // ${graft.operators.CorpusOps.BatchSeqs} AS BIGINT)
        |    AS batch_idx,
        |  CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(max(l) AS BIGINT) AS max_len,
        |  CAST(sum(l) AS BIGINT) AS token_mass,
        |  CAST(count(*) * max(l) - sum(l) AS BIGINT) AS padding
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q114: Spark side is the distributed two-pass ntile; the oracle
    // states the semantics as one global ntile(10) (unique tiebreaker ⇒
    // identical assignment).
    "q114_quality_deciles" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS quality_pm
        |  FROM documents)
        |SELECT doc_id, quality_pm,
        |  CAST(ntile(10) OVER (ORDER BY quality_pm DESC, doc_id) AS BIGINT) AS decile
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q116_group_topk" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS quality_pm
        |  FROM documents)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, quality_pm FROM (
        |  SELECT lang, doc_id, quality_pm,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY quality_pm DESC, doc_id) AS rk
        |  FROM sc)
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "q115_corpus_pipeline" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |dd AS (SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
        |sc AS (
        |  SELECT lang, source,
        |    greatest(0, least(1000,
        |      200 + CAST(len(string_split(text, ' ')) AS BIGINT)
        |          + 10 * CAST(floor((length(text) - len(string_split(text, ' ')) + 1.0)
        |                            / len(string_split(text, ' '))) AS BIGINT)
        |          - 2 * CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT)
        |    )) AS q,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS t
        |  FROM dd)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS sum_tokens,
        |  CAST(sum(q) AS BIGINT) AS sum_quality
        |FROM sc WHERE q >= 300 AND t >= 50
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q123_resize_stride" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(strlen(regexp_replace(text, '(.).', '\1', 'g')) AS BIGINT) AS resized_bytes,
        |       md5(regexp_replace(text, '(.).', '\1', 'g')) AS resized_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q187: aHash replay from the raw text bytes (the q53 framing — 8
    // px wide, h = bytes//24 rows, h ≥ 8): per 8×8 grid cell the floor
    // mean of floor-gray values over its row band, bit = cell > floor
    // mean of the 64 cells, emitted as the same 64-char '0'/'1' string.
    "q187_image_phash" ->
      s"""WITH $phashCtes
        |SELECT phash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS canonical_id
        |FROM ph GROUP BY 1 ORDER BY 1""".stripMargin,
    // q188: the hamming funnel over the same fingerprints — 8 bands of
    // 8 bits (pigeonhole-exact at τ=7), >64-member bands excluded and
    // reported, exact hamming verify.
    "q188_image_neardup" ->
      s"""WITH $phashCtes,
        |bands AS (
        |  SELECT doc_id, phash, b AS band_idx,
        |         substring(phash, CAST(b * 8 + 1 AS INTEGER), 8) AS band_val
        |  FROM ph CROSS JOIN range(0, 8) r(b)),
        |hot AS (
        |  SELECT band_idx, band_val, count(*) AS bsz FROM bands
        |  GROUP BY 1, 2 HAVING count(*) > 64),
        |skipped AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_skipped_bands,
        |         CAST(coalesce(sum(bsz), 0) AS BIGINT) AS n_skipped_rows
        |  FROM hot),
        |ip AS (SELECT x.* FROM bands x ANTI JOIN hot h
        |       USING (band_idx, band_val)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
        |         a.phash AS pa, b.phash AS pb
        |  FROM ip a JOIN ip b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |   AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT ia, ib,
        |    CAST(len(list_filter(range(1, 65), i -> pa[i] != pb[i]))
        |      AS BIGINT) AS hamming
        |  FROM cand
        |  WHERE len(list_filter(range(1, 65), i -> pa[i] != pb[i]))
        |        BETWEEN 1 AND 7)
        |SELECT p.ia, p.ib, p.hamming, s.n_skipped_bands, s.n_skipped_rows
        |FROM pairs p CROSS JOIN skipped s
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), s.n_skipped_bands, s.n_skipped_rows
        |FROM skipped s WHERE NOT EXISTS (SELECT 1 FROM pairs)
        |ORDER BY 1, 2""".stripMargin,
    // q201: 16-bit little-endian PCM interpretation of the (ASCII,
    // byte-transparent) payload — integer DC offset via floor division,
    // mean-crossing count over adjacent centered products, per-64-sample
    // frame centered energies, argmax peak with first-position tie-break.
    "q201_audio_energy" ->
      s"""WITH d AS (
        |  SELECT doc_id, text, strlen(text) // 2 AS ns FROM documents
        |  WHERE strlen(text) = length(text)
        |    AND strlen(text) // 2 >= ${operators.Multimodal.AudioFrameSamples}),
        |s AS (
        |  SELECT doc_id, ns,
        |    list_transform(range(1, CAST(ns + 1 AS INTEGER)),
        |      i -> CAST(ascii(substr(text, CAST(2 * i - 1 AS INTEGER), 1))
        |        + 256 * ascii(substr(text, CAST(2 * i AS INTEGER), 1))
        |        AS BIGINT)) AS smp
        |  FROM d),
        |c AS (
        |  SELECT doc_id, ns, smp,
        |    CAST(list_sum(smp) // ns AS BIGINT) AS dc FROM s),
        |z AS (
        |  SELECT doc_id, ns, smp, dc,
        |    CAST(len(list_filter(
        |      list_transform(range(1, CAST(ns AS INTEGER)),
        |        i -> (smp[i] - dc) * (smp[i + 1] - dc)),
        |      p -> p < 0)) AS BIGINT) AS zero_crossings
        |  FROM c),
        |f AS (
        |  SELECT doc_id, ns, dc, zero_crossings,
        |    list_transform(
        |      range(0, CAST(ns // ${operators.Multimodal.AudioFrameSamples}
        |        AS INTEGER)),
        |      f -> CAST(list_sum(list_transform(
        |        smp[f * ${operators.Multimodal.AudioFrameSamples} + 1
        |          : f * ${operators.Multimodal.AudioFrameSamples}
        |            + ${operators.Multimodal.AudioFrameSamples}],
        |        x -> (x - dc) * (x - dc))) AS BIGINT)) AS fe
        |  FROM z)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
        |  CAST(ns // ${operators.Multimodal.AudioFrameSamples} AS BIGINT)
        |    AS n_frames,
        |  dc AS dc_offset, zero_crossings,
        |  CAST(list_position(fe, list_aggregate(fe, 'max')) - 1 AS BIGINT)
        |    AS peak_frame,
        |  CAST(list_aggregate(fe, 'max') AS BIGINT) AS peak_energy
        |FROM f ORDER BY doc_id""".stripMargin,
    // q238: energy-threshold activity segmentation — q201's framing
    // chain, a per-doc integer mean-energy threshold, and the
    // gaps-and-islands run grouping (frame − per-doc rank), all exact.
    "q238_audio_segments" ->
      s"""WITH d AS (
        |  SELECT doc_id, text, strlen(text) // 2 AS ns FROM documents
        |  WHERE strlen(text) = length(text)
        |    AND strlen(text) // 2 >= ${operators.Multimodal.AudioFrameSamples}),
        |s AS (
        |  SELECT doc_id, ns,
        |    list_transform(range(1, CAST(ns + 1 AS INTEGER)),
        |      i -> CAST(ascii(substr(text, CAST(2 * i - 1 AS INTEGER), 1))
        |        + 256 * ascii(substr(text, CAST(2 * i AS INTEGER), 1))
        |        AS BIGINT)) AS smp
        |  FROM d),
        |c AS (
        |  SELECT doc_id, ns, smp,
        |    CAST(list_sum(smp) // ns AS BIGINT) AS dc FROM s),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(
        |      range(0, CAST(ns // ${operators.Multimodal.AudioFrameSamples}
        |        AS INTEGER)),
        |      f -> CAST(list_sum(list_transform(
        |        smp[f * ${operators.Multimodal.AudioFrameSamples} + 1
        |          : f * ${operators.Multimodal.AudioFrameSamples}
        |            + ${operators.Multimodal.AudioFrameSamples}],
        |        x -> (x - dc) * (x - dc))) AS BIGINT)) AS fe
        |  FROM c),
        |m AS (
        |  SELECT doc_id, fe,
        |    CAST(list_sum(fe) // len(fe) AS BIGINT) AS mean_e FROM f),
        |fr AS (
        |  SELECT doc_id, mean_e,
        |    CAST(p['f'] AS BIGINT) AS frame, CAST(p['e'] AS BIGINT) AS e
        |  FROM (
        |    SELECT doc_id, mean_e,
        |      unnest(list_transform(range(1, CAST(len(fe) + 1 AS INTEGER)),
        |        i -> struct_pack(f := i - 1, e := fe[i]))) AS p
        |    FROM m)),
        |isl AS (
        |  SELECT doc_id, frame, e,
        |    frame - row_number() OVER (PARTITION BY doc_id
        |      ORDER BY frame) AS g
        |  FROM fr WHERE e > mean_e),
        |seg AS (
        |  SELECT doc_id, g, CAST(min(frame) AS BIGINT) AS start_frame,
        |    CAST(max(frame) AS BIGINT) AS end_frame,
        |    CAST(count(*) AS BIGINT) AS n_active_frames,
        |    CAST(sum(e) AS BIGINT) AS seg_energy
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY start_frame) AS BIGINT) AS seg_idx,
        |  start_frame, end_frame, n_active_frames, seg_energy
        |FROM seg ORDER BY doc_id, seg_idx""".stripMargin,
    "q51_binary_metadata" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5,
        |       CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q52_frame_sample" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |       md5(substring(text, CAST(f * 64 + 1 AS INTEGER), 64)) AS frame_md5,
        |       CAST(least(strlen(text) - f * 64, 64) AS BIGINT) AS frame_len
        |FROM documents CROSS JOIN range(0, 20) r(f)
        |WHERE f <= ceil(strlen(text) / 64.0) - 1
        |ORDER BY doc_id, frame_idx""".stripMargin,
  )

  private val streamingOracles: Map[String, String] = Map(
    // q154: the streaming state machine must land on the batch funnel
    // exactly — its oracle IS q149's min-chain replay.
    "q154_streaming_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS view_ts FROM events
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
        |SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    // q169: per-user lag over the islands' session starts.
    "q169_return_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS eus FROM events),
        |l AS (SELECT *, lag(eus) OVER (PARTITION BY user_id ORDER BY eus)
        |             AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR eus - prev >= 300000000
        |                     THEN 1 ELSE 0 END AS new_s FROM l),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY eus
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f),
        |sess AS (SELECT user_id, CAST(min(eus) AS BIGINT) AS session_start_us,
        |                count(*) AS n_events
        |         FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start_us, n_events,
        |  CAST(coalesce(session_start_us - lag(session_start_us)
        |    OVER (PARTITION BY user_id ORDER BY session_start_us), -1)
        |    AS BIGINT) AS gap_us
        |FROM sess ORDER BY user_id, session_start_us""".stripMargin,
    // q167: the islands replay with an ordered string_agg — the
    // (eus, event_id) order matches the Spark sort_array canon.
    "q167_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS eus,
        |                  event_type FROM events),
        |l AS (SELECT *, lag(eus) OVER (PARTITION BY user_id ORDER BY eus)
        |             AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR eus - prev >= 300000000
        |                     THEN 1 ELSE 0 END AS new_s FROM l),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY eus
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, CAST(min(eus) AS BIGINT) AS session_start_us,
        |  count(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY eus, event_id) AS path
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // q164: the q62 gaps-and-islands replay with per-session error
    // counts; flag rule in exact integer per-mille.
    "q164_error_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS eus, event_type FROM events),
        |l AS (SELECT user_id, eus, event_type,
        |             lag(eus) OVER (PARTITION BY user_id ORDER BY eus) AS prev
        |      FROM e),
        |f AS (SELECT user_id, eus, event_type,
        |             CASE WHEN prev IS NULL OR eus - prev >= 300000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM l),
        |s AS (SELECT user_id, eus, event_type,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY eus
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, CAST(min(eus) AS BIGINT) AS session_start_us,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_errors,
        |  CAST(1000 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |       // count(*) AS BIGINT) AS error_pm,
        |  1000 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    // count(*) >= 500 AS flagged
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // q162: the MV invariant — the incrementally-merged snapshot must
    // equal the one-shot aggregate over everything ingested.
    "q162_streaming_mv" ->
      """SELECT CAST(epoch_us(ts) // 600000000 * 600 AS BIGINT) AS win_start,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q160: the audit's rule replayed definitionally — per-arrival-batch
    // exclusive running max minus delay, window-end ≤ watermark.
    "q160_late_data_audit" ->
      """WITH bs AS (SELECT max(event_id) // 8 + 1 AS sz FROM events),
        |wb AS (SELECT event_id, ts, event_id // (SELECT sz FROM bs) AS batch
        |       FROM events),
        |bm AS (SELECT batch, max(epoch_us(ts)) AS mx FROM wb GROUP BY 1),
        |wm AS (SELECT batch,
        |  max(mx) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    - 30*60*1000000 AS wm_us
        |  FROM bm),
        |f AS (SELECT w.batch, w.event_id,
        |        (epoch_us(w.ts) // 600000000 + 1) * 600000000 AS win_end_us,
        |        m.wm_us
        |      FROM wb w JOIN wm m USING (batch))
        |SELECT batch, count(*) AS n_events,
        |  CAST(sum(CASE WHEN wm_us IS NOT NULL AND win_end_us <= wm_us
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(coalesce(any_value(wm_us), -1) AS BIGINT) AS wm_us
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q60_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q61_sliding_window" ->
      """SELECT win_start, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT CAST((floor(epoch(ts) / 600) - k) * 600 AS BIGINT) AS win_start,
        |         value
        |  FROM events CROSS JOIN range(0, 3) r(k))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS eus, value FROM events),
        |l AS (SELECT user_id, eus, value,
        |             lag(eus) OVER (PARTITION BY user_id ORDER BY eus) AS prev
        |      FROM e),
        |f AS (SELECT user_id, eus, value,
        |             CASE WHEN prev IS NULL OR eus - prev >= 300000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM l),
        |s AS (SELECT user_id, eus, value,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY eus
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, CAST(min(eus) AS BIGINT) AS session_start_us,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    "q64_stream_stream_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
        |pairs AS (
        |  SELECT p.event_id AS pid, count(*) AS n
        |  FROM p JOIN s ON p.user_id = s.user_id
        |    AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 24 HOUR
        |  GROUP BY 1)
        |SELECT p.event_id, CAST(coalesce(n, 0) AS BIGINT) AS n_signups_24h
        |FROM p LEFT OUTER JOIN pairs ON p.event_id = pid
        |ORDER BY p.event_id""".stripMargin,
    "q63_first_occurrence" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
  )

  private val sqlFrontDoorOracles: Map[String, String] = Map(
    "q70_tpch_q1_sql" -> graft.operators.SqlQueries.q1Sql,
    "q71_tpch_q3_sql" -> graft.operators.SqlQueries.q3Sql,
    "q72_tpch_q6_sql" -> graft.operators.SqlQueries.q6Sql,
  ) ++ graft.operators.SqlQueries.battery2 ++ Map(
    "q56_skew_salted_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN user_id % 50 < 25 THEN CAST(0 AS BIGINT)
        |              ELSE user_id END AS k,
        |         value
        |  FROM events),
        |dim AS (SELECT DISTINCT k, k % 7 AS w FROM fact)
        |SELECT f.k, count(*) AS cnt, round(sum(f.value), 2) AS sum_value,
        |       CAST(max(d.w) AS BIGINT) AS w
        |FROM fact f JOIN dim d ON f.k = d.k
        |GROUP BY f.k ORDER BY f.k""".stripMargin,
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    relationalOracles ++ windowOracles ++ windowOracles2 ++ graphOracles ++
      pipelineOracles ++ streamingOracles ++ sqlFrontDoorOracles

  /** Queries intentionally shipped without a SQL oracle (non-SQL-expressible
    * semantics — the driver records a weaker rows-only check for these). */
  def rowsOnlyQueries: Set[String] = Set(
    // Empty since round 6 — every registered query carries a full DuckDB
    // oracle. History: rounds 2-3 converted q54/q85/q86 (exact-value
    // projections; sketch error bounds asserted spec-side since round 6),
    // q91 (unrolled Bellman-Ford DP), q36 (integer fixed-point PageRank),
    // q38 (synchronous min-tie-break label propagation). Round 6
    // converted the rest: q42/q43/q44 (FNV-1a / splitmix64 / simhash
    // integer hashes replayed in HUGEINT + carry-split UBIGINT),
    // q47/q67/q68 (LSH/IVF float geometry replayed via strict
    // left-to-right double folds, see dotSql), and q53 (byte statistics
    // of the then-stub decoder; since round 7 q53 is a real netpbm P6
    // parse whose oracle replays the framing + channel means).
  )

  /** Headline queries timed by Bench (one per operator family). */
  def benchQueries: Seq[String] = Seq(
    "q02_scan_filter_count", "q04_groupby_hash", "q06_hashjoin_sum",
    "q07_shuffle_join_agg", "q08_star_join", "q11_topk", "q16_rollup",
    "q23_window_running_sum", "q32_bfs", "q42_minhash_lsh_dedup",
    "q46_ann_bruteforce_topk", "q60_tumbling_window", "q65_bulk_write",
    // round 4: track the GlobalOrder corpus family round-over-round
    "q113_sequence_pack",
    // round 4: track the interpreted higher-order text path (winnowing).
    // q124 (batched routing) is deliberately NOT here: at sf0.1 its 8
    // fixed supersteps measure per-round scheduler overhead, not operator
    // cost (q32 already tracks iterative-graph trends); its scale
    // behavior is measured in ScaleSmoke instead.
    "q120_winnow_fingerprints",
    // round 6: the composed corpus-cleaning pipeline is the showcase
    // LLM-data query — its end-to-end cost belongs in the round-over-
    // round trend line.
    "q121_full_pipeline",
    // round 6: the dedup ACTION tier (funnel + pair-graph components +
    // canonical ids) — the other composite the pipeline runs per epoch.
    // q128 is not separately tracked: its cost profile is the tracked
    // q46/q47 shape (cell dots + bounded self-join).
    "q129_fuzzy_dedup_keep",
    // round 7: the two-level semantic dedup — the SCALE path of the
    // marquee SemDeDup operator (hierarchical quantizer + within-cell
    // compare + escalation); tracked so quantizer regressions show in
    // the trend line, not just in ScaleSmoke.
    "q130_semantic_dedup_2l",
    // round 11: segment-granular exact dedup (the CCNet repeated-line
    // cleaning shape) — explode + digest-keyed frequency shuffle +
    // anti-join + ordered reassembly; a distinct cost profile from both
    // the whole-doc hash (q40) and the LSH funnels (q42).
    "q137_repeated_segment_removal",
    // round 14: one representative per round-12/13 family so the new
    // tiers get a round-over-round trend line.
    // exact τ-Jaccard self-join (PPJoin prefix filter):
    "q140_jaccard_join",
    // the production IVFADC composition (trained coarse cells + codes):
    "q159_ivfadc_topk",
    // the degree-oriented k-truss peel (iterative graph cohesion):
    "q175_ktruss",
    // the image perceptual-hash hamming funnel (multimodal dedup):
    "q188_image_neardup",
    // round 14: one representative per round-14 family.
    // arbitrary-span repeated-substring CLEANING (the Lee et al. tier —
    // detection + canonical-survivor masking + reassembly):
    "q193_span_dedup_clean",
    // DSIR importance selection (hashed-ngram LLR scoring):
    "q196_dsir_importance",
    // IVFADC + exact re-rank (the served production ANN posture):
    "q198_ivfadc_rerank",
    // directed shingle-containment join (quote-inclusion dedup):
    "q199_containment_join",
    // round 15: one representative per round-15 family (q211 modularity
    // is deliberately NOT here — 6 fixed supersteps at sf0.1 measure
    // per-round scheduler overhead, the q124 argument; ScaleSmoke owns
    // its scale row).
    // BPE train + token accounting (vocabulary-scale merge loop; the
    // trained slot makes iterations 2+ measure the encode pass):
    "q210_bpe_token_stats",
    // span-tier verbatim-unit check (q192 funnel + digest aggregate):
    "q212_span_units",
    // round 16: the end-to-end RAG serving composition (chunk → embed
    // fixture → trained IVFADC probe → provenance-decoded top-k):
    "q223_rag_retrieval",
    // round 17: the build/serve split — what REPEATED serving costs
    // once the encoded store is persisted (q223 minus the per-call
    // corpus re-encode; the steady-state row is the serving number):
    "q231_rag_serve",
    // round 17: the reference-LM quality split — the round's corpus-
    // scale text representative (pair explode + held-out model join +
    // the GlobalOrder tercile), tracked round-over-round:
    "q235_lm_quality_buckets",
    // round 18: the flagship LM-gated pipeline composition (q121's
    // dedup→decontaminate→gate chain + the q235 tail-drop semi-join) —
    // the judge asked for a round-over-round trend line on the full
    // composition, not just its newest stage:
    "q242_full_pipeline_lm",
    // round 18: BM25 lexical serving under BOTH enforced bounds (the
    // top-16-idf query-term window + the top-128-impact posting
    // prune) — the round's serving-tier representative, so the
    // impact-ordered read path gets a trend line:
    "q229_bm25_topk",
    // round 19: data-layout management (Morton/z-order bucketing +
    // per-bucket bounding boxes) — the layout audit is metadata-cheap
    // by design, so its row doubles as a regression tripwire for the
    // codegen'd 32-term interleave projection:
    "q249_zorder_layout")
}
