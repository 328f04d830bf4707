package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` is an operator id from SURVEY.md §2; Oracle=yes
  * ids also appear in `oracleSql` with DuckDB SQL over the same parquet
  * tables, deterministically ordered and decimal-normalized so the driver's
  * hash compare is exact.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricingSummary(spark, "/root/testdata/sf0.001")

  /** Final-output normalization: every DECIMAL output column is cast to
    * DOUBLE (exact here: all declared outputs carry ≤ 15 significant
    * digits). Internal math stays DECIMAL — that is what makes the sums
    * order-independent — but the serialized result is float64 on both the
    * Spark and DuckDB sides, so the driver's stringified hash compare sees
    * one canonical repr ("2.5", never "2.50"). */
  private[graft] def normalizeDecimals(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[DecimalType])) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case _              => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** A query's board family: its name up to the first `_`. Bench and
    * Verify run the queries family by family, with cache and checkpoint
    * hygiene at each family boundary. */
  private[graft] def family(name: String): String = name.takeWhile(_ != '_')

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every query first installs [[org.apache.spark.sql.graft.GraftExtensions]]
    * on the session it is handed, so a bare session plans like a
    * configured one. That includes the default-on
    * [[org.apache.spark.sql.graft.FirstRowPerKeyRule]]: any
    * `row_number()=1`/`<=k` dedup whose rank column is projected away
    * plans as the bounded-heap operator instead of a full per-group sort.
    * The oracle gate doubles as the rewrite's no-semantic-change proof. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        org.apache.spark.sql.graft.GraftExtensions.install(s)
        normalizeDecimals(fn(s, dir))
      })
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- aggregation
    "agg_pricing_summary" -> Relational.aggPricingSummary _,
    "agg_having"          -> Relational.aggHaving _,
    "agg_count_distinct"  -> Relational.aggCountDistinct _,
    "agg_minmax_first"    -> Relational.aggMinmaxFirst _,
    "agg_conditional"     -> Relational.aggConditional _,
    "agg_rollup"          -> Relational.aggRollup _,
    "agg_cube"            -> Relational.aggCube _,
    "agg_grouping_sets"   -> Relational.aggGroupingSets _,
    "agg_approx_distinct" -> Relational.aggApproxDistinct _,
    "agg_percentile"      -> Relational.aggPercentile _,
    "agg_array_sorted"    -> Relational.aggArraySorted _,
    "agg_pivot"           -> ((s: SparkSession, d: String) => Relational.aggPivot(s, d)),
    "agg_mode_deterministic" -> Relational.aggModeDeterministic _,
    "agg_heavy_hitters"   -> Sketches.aggHeavyHitters _,
    "text_ngram_novelty"  -> TextSim.textNgramNovelty _,
    "agg_weighted_median"    -> Analytics.aggWeightedMedian _,
    "ts_theilsen"            -> Analytics.tsTheilsen _,
    "ts_mann_kendall"        -> Analytics.tsMannKendall _,
    "ts_quota_reset"         -> Analytics.tsQuotaReset _,
    "ts_decay_sum"           -> Analytics.tsDecaySum _,
    "ts_ohlc"                -> Analytics.tsOhlc _,
    "ts_decompose"           -> Analytics.tsDecompose _,
    "agg_log_histogram"      -> Analytics.aggLogHistogram _,
    "ts_periodogram"         -> Analytics.tsPeriodogram _,
    "agg_benford"            -> Analytics.aggBenford _,
    "win_pareto"             -> Analytics.winPareto _,
    "ts_winsorize"           -> Analytics.tsWinsorize _,
    "ts_anomaly_spc"         -> Analytics.tsAnomalySpc _,
    "win_rolling_zscore"     -> Windows.winRollingZscore _,
    "agg_geomean_exact"      -> Analytics.aggGeomeanExact _,
    "join_bucketed"       -> Relational.joinBucketed _,
    "agg_unpivot"         -> Relational.aggUnpivot _,
    // -- joins
    "join_inner_equi"  -> Relational.joinInnerEqui _,
    "join_broadcast"   -> Relational.joinBroadcast _,
    "join_left_outer"  -> Relational.joinLeftOuter _,
    "join_full_outer"  -> Relational.joinFullOuter _,
    "join_left_semi"   -> Relational.joinLeftSemi _,
    "join_left_anti"   -> Relational.joinLeftAnti _,
    "join_cross_theta" -> Relational.joinCrossTheta _,
    "join_range"       -> Relational.joinRange _,
    "join_interval_overlap" -> Relational.joinIntervalOverlap _,
    "join_self"        -> Relational.joinSelf _,
    "join_asof"        -> Relational.joinAsof _,
    "join_asof_forward" -> Relational.joinAsofForward _,
    "join_asof_tolerance" -> Relational.joinAsofTolerance _,
    "join_asof_nearest" -> Relational.joinAsofNearest _,
    "join_asof_variant" -> Relational.joinAsofVariant _,
    // -- reference ingestion pack (§2.A)
    "scan_csv_header"     -> Ingest.scanCsvHeader _,
    "scan_csv_file"       -> Ingest.scanCsvFile _,
    "scan_line_count"     -> Ingest.scanLineCount _,
    "proj_trim"           -> Ingest.projTrim _,
    "pred_arity"          -> Ingest.predArity _,
    "pred_nonempty"       -> Ingest.predNonempty _,
    "cast_int_validate"   -> Ingest.castIntValidate _,
    "cast_date_validate"  -> Ingest.castDateValidate _,
    "classify_error"      -> Ingest.classifyError _,
    "split_valid_invalid" -> Ingest.splitValidInvalid _,
    "dedup_anti_existing" -> Ingest.dedupAntiExisting _,
    "dedup_first_wins"    -> Ingest.dedupFirstWins _,
    "proj_entity_cast"    -> Ingest.projEntityCast _,
    "proj_key_only"       -> Ingest.projKeyOnly _,
    "clean_comma_strip"   -> Ingest.cleanCommaStrip _,
    "agg_error_histogram" -> Ingest.aggErrorHistogram _,
    "agg_job_counters"    -> Ingest.aggJobCounters _,
    "lookup_eq"           -> Ingest.lookupEq _,
    "pred_exists"         -> Ingest.predExists _,
    "filter_bool"         -> Ingest.filterBool _,
    // -- UDF / UDAF surface (§2.C)
    "udf_classify"        -> Udfs.udfClassify _,
    "udaf_upload_result"  -> Udfs.udafUploadResult _,
    // -- windows
    "win_row_number"  -> Windows.winRowNumber _,
    "win_rank_dense"  -> Windows.winRankDense _,
    "win_ntile"       -> Windows.winNtile _,
    "win_lag_lead"    -> Windows.winLagLead _,
    "win_running_sum" -> Windows.winRunningSum _,
    "win_range_frame" -> Windows.winRangeFrame _,
    "win_first_last"  -> Windows.winFirstLast _,
    "win_topk_group"  -> Windows.winTopkGroup _,
    "win_percent_rank" -> Windows.winPercentRank _,
    "win_nth_value"    -> Windows.winNthValue _,
    "win_time_range"   -> Windows.winTimeRange _,
    // -- scalar function packs
    "fn_string"      -> Functions.fnString _,
    "fn_date"        -> Functions.fnDate _,
    "fn_math"        -> Functions.fnMath _,
    "fn_conditional" -> Functions.fnConditional _,
    "fn_cast"        -> Functions.fnCast _,
    "fn_array"       -> Functions.fnArray _,
    "fn_map_json"    -> Functions.fnMapJson _,
    "fn_variant"     -> Functions.fnVariant _,
    "fn_bitwise"     -> Functions.fnBitwise _,
    "fn_json_malformed" -> Functions.fnJsonMalformed _,
    "fn_hash"        -> Functions.fnHash _,
    // -- text analysis / document dedup
    "dedup_exact_docs"       -> TextSim.dedupExactDocs _,
    "dedup_docs_keep_longest" -> TextSim.dedupDocsKeepLongest _,
    "text_wordcount"         -> TextSim.textWordcount _,
    "text_doc_stats"         -> TextSim.textDocStats _,
    "text_ngram"             -> TextSim.textNgram _,
    "text_langid"            -> TextSim.textLangid _,
    "text_quality_score"     -> TextSim.textQualityScore _,
    "text_token_count"       -> TextSim.textTokenCount _,
    "text_fingerprint"       -> TextSim.textFingerprint _,
    "text_line_dedup"        -> TextSim.textLineDedup _,
    "text_span_dedup"        -> TextSim.textSpanDedup _,
    "text_compression_ratio" -> TextSim.textCompressionRatio _,
    "text_langid_confusion"  -> TextSim.textLangidConfusion _,
    "profile_corr_matrix"    -> Quality.profileCorrMatrix _,
    "stat_bootstrap_ci"      -> Quality.statBootstrapCi _,
    "agg_ks_test"            -> Quality.aggKsTest _,
    "agg_gini"               -> Quality.aggGini _,
    "sim_ann_recall"         -> Similarity.simAnnRecall _,
    "text_tfidf"             -> TextSim.textTfidf _,
    "text_keyword_extract"   -> TextSim.textKeywordExtract _,
    "text_pii_scrub"         -> TextSim.textPiiScrub _,
    "text_curation_filter"   -> TextSim.textCurationFilter _,
    "text_repetition"        -> TextSim.textRepetition _,
    "dedup_gram_corpus"      -> TextSim.dedupGramCorpus _,
    "text_lm_score"          -> TextSim.textLmScore _,
    "text_lm2_score"         -> TextSim.textLm2Score _,
    "text_bm25"              -> TextSim.textBm25 _,
    "text_entropy"           -> TextSim.textEntropy _,
    "text_zipf_fit"          -> TextSim.textZipfFit _,
    "text_burstiness"        -> TextSim.textBurstiness _,
    "text_template_mine"     -> TextSim.textTemplateMine _,
    // -- similarity search / near-dup detection
    "sim_cosine_probe"       -> Similarity.simCosineProbe _,
    "sim_knn_per_label"      -> Similarity.simKnnPerLabel _,
    "sim_ann_lsh"            -> Similarity.simAnnLsh _,
    "sim_ivf_probe"          -> Similarity.simIvfProbe _,
    "sim_ivf_nprobe"         -> Similarity.simIvfNprobe _,
    "sim_ivfpq_search"       -> Similarity.simIvfpqSearch _,
    "sim_mrl_rerank"         -> Similarity.simMrlRerank _,
    "embed_kmeans"           -> Similarity.embedKmeans _,
    "dedup_embedding_cosine" -> Similarity.dedupEmbeddingCosine _,
    "dedup_minhash_lsh"      -> Similarity.dedupMinhashLsh _,
    "dedup_incremental_minhash" -> Similarity.dedupIncrementalMinhash _,
    "dedup_simhash"          -> Similarity.dedupSimhash _,
    "dedup_simhash_pairs"    -> Similarity.dedupSimhashPairs _,
    "dedup_ngram_jaccard"    -> Similarity.dedupNgramJaccard _,
    "dedup_containment"      -> Similarity.dedupContainment _,
    "dedup_minhash_containment" -> Similarity.dedupMinhashContainment _,
    "dedup_lsh_recall"       -> Similarity.dedupLshRecall _,
    "dedup_cluster"          -> Similarity.dedupCluster _,
    "dedup_edit_distance"    -> Similarity.dedupEditDistance _,
    "embed_normalize"        -> Similarity.embedNormalize _,
    "embed_rand_proj"        -> Similarity.embedRandProj _,
    "embed_quantize"         -> Similarity.embedQuantize _,
    "embed_pq_quantize"      -> Similarity.embedPqQuantize _,
    "dedup_pq_codes"         -> Similarity.dedupPqCodes _,
    "embed_centroid_distance" -> Similarity.embedCentroidDistance _,
    // -- data-quality gates / incremental maintenance
    "quality_expectations" -> Quality.qualityExpectations _,
    "incr_agg_merge"       -> Quality.incrAggMerge _,
    // -- event / product analytics
    "agg_corr_exact"    -> Analytics.aggCorrExact _,
    "funnel_conversion" -> Analytics.funnelConversion _,
    "funnel_window"     -> Analytics.funnelWindow _,
    "cohort_retention"  -> Analytics.cohortRetention _,
    "agg_histogram"     -> Analytics.aggHistogram _,
    "graph_degree"      -> Analytics.graphDegree _,
    "graph_triangle_count" -> Analytics.graphTriangleCount _,
    "graph_pagerank"    -> Analytics.graphPagerank _,
    "graph_common_neighbors" -> Analytics.graphCommonNeighbors _,
    "graph_label_propagation" -> Analytics.graphLabelPropagation _,
    "graph_kcore"             -> Analytics.graphKcore _,
    "path_transitions"  -> Analytics.pathTransitions _,
    "ts_ewma"           -> Analytics.tsEwma _,
    "ts_resample"       -> Analytics.tsResample _,
    "ts_interpolate"    -> Analytics.tsInterpolate _,
    "ts_regression"     -> Analytics.tsRegression _,
    "ts_seasonal_baseline" -> Analytics.tsSeasonalBaseline _,
    "ts_cusum"          -> Analytics.tsCusum _,
    "ts_holt"           -> Analytics.tsHolt _,
    "ts_autocorr"       -> Analytics.tsAutocorr _,
    "ts_crosscorr"      -> Analytics.tsCrosscorr _,
    "ts_calendar_spine"    -> Analytics.tsCalendarSpine _,
    "fn_regex"             -> Functions.fnRegex _,
    "impute_missing"       -> Curation.imputeMissing _,
    "sql_api_q5"           -> Relational.sqlApiQ5 _,
    "sql_api_q7"           -> Relational.sqlApiQ7 _,
    "sql_api_q21"          -> Relational.sqlApiQ21 _,
    "sql_api_q2"           -> Relational.sqlApiQ2 _,
    "sql_api_q16"          -> Relational.sqlApiQ16 _,
    "sql_api_q11"          -> Relational.sqlApiQ11 _,
    "sql_api_q14"          -> Relational.sqlApiQ14 _,
    // TPC-H completion pack (ops/TpchSql.scala): with these eleven, every
    // TPC-H query number 1-22 has a declared query (q1 = agg_pricing_summary)
    "sql_api_q4"           -> TpchSql.q4 _,
    "sql_api_q6"           -> TpchSql.q6 _,
    "sql_api_q8"           -> TpchSql.q8 _,
    "sql_api_q9"           -> TpchSql.q9 _,
    "sql_api_q12"          -> TpchSql.q12 _,
    "sql_api_q13"          -> TpchSql.q13 _,
    "sql_api_q15"          -> TpchSql.q15 _,
    "sql_api_q17"          -> TpchSql.q17 _,
    "sql_api_q19"          -> TpchSql.q19 _,
    "sql_api_q20"          -> TpchSql.q20 _,
    "sql_api_q22"          -> TpchSql.q22 _,
    "join_existence_flag"  -> Relational.joinExistenceFlag _,
    "agg_approx_quantile"  -> Relational.aggApproxQuantile _,
    "win_streak"           -> Analytics.winStreak _,
    "agg_bitwise_group"    -> Relational.aggBitwiseGroup _,
    "fn_array_setops"      -> Functions.fnArraySetops _,
    "fn_struct"            -> Functions.fnStruct _,
    "win_session_running_sum" -> Windows.winSessionRunningSum _,
    "win_moving_median" -> Windows.winMovingMedian _,
    "win_ratio_to_report" -> Windows.winRatioToReport _,
    "win_cumulative_distinct" -> Windows.winCumulativeDistinct _,
    "win_pattern_match"   -> Windows.winPatternMatch _,
    "agg_hll_mergeable" -> Relational.aggHllMergeable _,
    "agg_hll_intersect" -> Relational.aggHllIntersect _,
    "agg_moments_exact" -> Analytics.aggMomentsExact _,
    // -- source/sink formats beyond parquet+csv
    "scan_json_roundtrip" -> Sources.scanJsonRoundtrip _,
    "scan_orc_roundtrip"  -> Sources.scanOrcRoundtrip _,
    "scan_xml_roundtrip"  -> Sources.scanXmlRoundtrip _,
    "scan_schema_merge"   -> Sources.scanSchemaMerge _,
    "scan_partition_prune" -> Sources.scanPartitionPrune _,
    "join_dpp"             -> Sources.joinDpp _,
    "scan_csv_delim"       -> Sources.scanCsvDelim _,
    "fn_url"               -> Functions.fnUrl _,
    "fn_collation"         -> Functions.fnCollation _,
    "pipeline_dedup_e2e"   -> Curation.pipelineDedupE2e _,
    "dedup_sorted_neighborhood" -> Similarity.dedupSortedNeighborhood _,
    "embed_whitening"      -> Similarity.embedWhitening _,
    "embed_pca_power"      -> Similarity.embedPcaPower _,
    "sample_kcenter"       -> Similarity.sampleKcenter _,
    "sim_maxsim"           -> Similarity.simMaxsim _,
    "sim_binary_hamming"   -> Similarity.simBinaryHamming _,
    "sim_threshold_sweep"  -> Similarity.simThresholdSweep _,
    "embed_cluster_purity" -> Similarity.embedClusterPurity _,
    "sim_rrf_fusion"       -> Similarity.simRrfFusion _,
    "scan_jdbc_partitioned" -> Sources.scanJdbcPartitioned _,
    "scan_nested_prune"    -> Sources.scanNestedPrune _,
    "scan_csv_charset"     -> Sources.scanCsvCharset _,
    "scan_binaryfile"     -> Sources.scanBinaryfile _,
    "scan_csv_multiline"  -> Sources.scanCsvMultiline _,
    // -- training-data curation / pipeline maintenance
    "sample_stratified"   -> ((s: SparkSession, d: String) => Curation.sampleStratified(s, d)),
    "sample_mixture"      -> Curation.sampleMixture _,
    "sample_temperature"  -> Curation.sampleTemperature _,
    "scd2_lookup"         -> Curation.scd2Lookup _,
    "sim_hybrid_search"   -> Similarity.simHybridSearch _,
    "profile_drift"       -> Quality.profileDrift _,
    "profile_psi"         -> Quality.profilePsi _,
    "profile_skew"        -> Quality.profileSkew _,
    "profile_mix_entropy" -> Quality.profileMixEntropy _,
    "profile_dup_classes" -> TextSim.profileDupClasses _,
    "sample_weighted"     -> Curation.sampleWeighted _,
    "sample_weighted_reservoir" -> Curation.sampleWeightedReservoir _,
    "win_sessionize"      -> Windows.winSessionize _,
    "win_gap_islands"     -> Windows.winGapIslands _,
    "win_sliding_distinct" -> Windows.winSlidingDistinct _,
    "dedup_keep_best"     -> TextSim.dedupKeepBest _,
    "diff_snapshots"      -> Curation.diffSnapshots _,
    "profile_mass_coverage" -> Quality.profileMassCoverage _,
    "sql_api_q18"         -> Relational.sqlApiQ18 _,
    "sql_api_q10"         -> Relational.sqlApiQ10 _,
    "agg_count_min"       -> Relational.aggCountMin _,
    "agg_cms_point"       -> Relational.aggCmsPoint _,
    "stream_foreach_upsert" -> Streaming.streamForeachUpsert _,
    "dedup_bloom_prefilter" -> TextSim.dedupBloomPrefilter _,
    "dedup_semantic"        -> Similarity.dedupSemantic _,
    "dedup_first_wins_heap" -> Ingest.dedupFirstWinsHeap _,
    "merge_cdc_delete"      -> Curation.mergeCdcDelete _,
    "merge_scd2_apply"      -> Curation.mergeScd2Apply _,
    "multimodal_dedup"      -> Multimodal.payloadDedup _,
    "multimodal_shard_pack" -> Multimodal.shardPack _,
    "scan_csv_dropmalformed" -> Ingest.scanCsvDropMalformed _,
    "agg_listagg"           -> Relational.aggListagg _,
    "join_lateral_top1"     -> Relational.joinLateralTop1 _,
    "pipeline_curation_e2e" -> Curation.pipelineCurationE2e _,
    "join_null_safe"        -> Relational.joinNullSafe _,
    "agg_percentile_disc"   -> Relational.aggPercentileDisc _,
    "sample_group_topk"   -> Curation.sampleGroupTopk _,
    "sample_balanced"     -> Curation.sampleBalanced _,
    "split_train_holdout" -> Curation.splitTrainHoldout _,
    "pack_sequences"      -> Curation.packSequences _,
    "text_decontaminate"  -> Curation.textDecontaminate _,
    "merge_upsert"        -> Curation.mergeUpsert _,
    "scd2_intervals"      -> Curation.scd2Intervals _,
    "agg_salted"          -> Curation.aggSalted _,
    "join_salted"         -> Curation.joinSalted _,
    "join_skew_adaptive"  -> Curation.joinSkewAdaptive _,
    "join_runtime_filter" -> Curation.joinRuntimeFilter _,
    "profile_table"       -> Curation.profileTable _,
    "zorder_cluster"      -> Curation.zorderCluster _,
    "outlier_zscore"      -> Curation.outlierZscore _,
    "anomaly_mad"         -> Curation.anomalyMad _,
    // -- streaming (batch-declared oracle forms + true streaming runners)
    "stream_tumbling"       -> Streaming.streamTumbling _,
    "stream_update_windows" -> Streaming.streamUpdateWindows _,
    "stream_sliding"        -> Streaming.streamSliding _,
    "stream_session"        -> Streaming.streamSession _,
    "stream_latest_status"  -> Streaming.streamLatestStatus _,
    "stream_watermark_late" -> Streaming.streamWatermarkLate _,
    "stream_dedup_state"    -> Streaming.streamDedupState _,
    "stream_keyed_state"    -> Streaming.streamKeyedState _,
    "stream_join_static"    -> Streaming.streamJoinStatic _,
    "stream_stream_join"    -> Streaming.streamStreamJoin _,
    "stream_join_left_outer" -> Streaming.streamJoinLeftOuter _,
    "stream_join_full_outer" -> Streaming.streamJoinFullOuter _,
    "stream_join_right_outer" -> Streaming.streamJoinRightOuter _,
    "stream_csv_ingest"     -> Streaming.streamCsvIngest _,
    "stream_tws_state"      -> Streaming.streamTwsState _,
    "stream_tws_topk"       -> Streaming.streamTwsTopk _,
    "stream_timer_sessions" -> Streaming.streamTimerSessions _,
    "stream_tws_mapstate"   -> Streaming.streamTwsMapstate _,
    "stream_tws_ttl"        -> Streaming.streamTwsTtl _,
    "stream_tws_init"       -> Streaming.streamTwsInit _,
    "scan_state_store"      -> Streaming.scanStateStore _,
    "scan_state_map"        -> Streaming.scanStateMap _,
    "scan_state_list"       -> Streaming.scanStateList _,
    "scan_state_timers"     -> Streaming.scanStateTimers _,
    "scan_state_changes"    -> Streaming.scanStateChanges _,
    "scan_state_asof"       -> Streaming.scanStateAsof _,
    "scan_state_join"       -> Streaming.scanStateJoin _,
    "scan_state_join_left"  -> Streaming.scanStateJoinLeft _,
    "scan_state_window"     -> Streaming.scanStateWindow _,
    "scan_state_dedup"      -> Streaming.scanStateDedup _,
    "scan_state_session"    -> Streaming.scanStateSession _,
    "scan_state_meta"       -> Streaming.scanStateMeta _,
    "scan_state_snapshot"   -> Streaming.scanStateSnapshot _,
    "scan_state_feed_bounded" -> Streaming.scanStateFeedBounded _,
    "scan_state_sliding"    -> Streaming.scanStateSliding _,
    "quality_gate_observe"  -> Quality.qualityGateObserve _,
    "scan_parquet_bloom"    -> Sources.scanParquetBloom _,
    "stream_resume"         -> Streaming.streamResume _,
    "stream_quota_reset"    -> Streaming.streamQuotaReset _,
    // -- SQL API entry point
    "sql_api_q3"            -> Relational.sqlApiQ3 _,
    // -- custom whole-operator stack (§2.C)
    "topk_per_key_native"   -> Relational.topkPerKeyNative _,
    // -- multimodal plumbing + synthetic source
    "multimodal_binary_meta" -> Multimodal.multimodalBinaryMeta _,
    // oracle-able projection (r18): exact integer stats over DECODED
    // pixels — DuckDB replays them from the pure pixel formula, so the
    // codec round-trip is hash-matched (byte_len, a PNG-encoder output
    // no SQL engine can replay, stays spec-covered in MultimodalSpec)
    "multimodal_features"    -> ((s: SparkSession, d: String) =>
      Multimodal.extractFeatures(s, d)
        .select(col("asset_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("min_lum"), col("max_lum"))
        .orderBy(col("asset_id"))),
    "multimodal_frame_sample" -> ((s: SparkSession, d: String) =>
      Multimodal.frameSample(s, d)),
    "multimodal_resize"      -> Multimodal.resizePool _,
    "multimodal_phash_pairs" -> Multimodal.phashPairs _,
    "gen_synthetic" -> ((s: SparkSession, _: String) =>
      Sinks.genSynthetic(s, 10000).orderBy(col("externalId"))),
    // -- sort / limit / set ops
    "sort_multi_null"    -> Relational.sortMultiNull _,
    "topk_global"        -> Relational.topkGlobal _,
    "set_union_all"      -> Relational.setUnionAll _,
    "set_union_distinct" -> Relational.setUnionDistinct _,
    "set_intersect"      -> Relational.setIntersect _,
    "set_except"         -> Relational.setExcept _,
    "set_except_all"     -> Relational.setExceptAll _,
    "set_intersect_all"  -> Relational.setIntersectAll _,
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracle.all
}
