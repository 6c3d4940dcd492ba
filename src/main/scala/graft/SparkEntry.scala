package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one has a matching `oracleSql` entry with identical
  * output column names (the driver sorts columns by name and hashes
  * values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Views.genreRatings(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ETL core (reference transform/load semantics)
    "ingest_normalize"    -> (EtlOps.ingestNormalize _),
    "dedup_latest_by_key" -> (EtlOps.dedupLatestByKey _),
    "dup_report"          -> (EtlOps.dupReport _),
    "cap_topn_per_group"  -> ((s, d) => EtlOps.capTopNPerGroup(s, d)),
    "upsert_merge"        -> (EtlOps.upsertMerge _),
    "junction_build"      -> (EtlOps.junctionBuild _),
    "cdc_apply"           -> (EtlOps.cdcApply _),
    "cdc_cascade_delete"  -> (EtlOps.cdcCascadeDelete _),
    "agg_incremental"     -> (EtlOps.aggIncremental _),
    "scd2_build"          -> (EtlOps.scd2Build _),
    "scd2_point_in_time"  -> (EtlOps.scd2PointInTime _),
    "ingest_quarantine"   -> (EtlOps.ingestQuarantine _),
    "backfill_column"     -> (EtlOps.backfillColumn _),
    // Data quality / table lifecycle
    "table_diff"      -> ((s, d) => QualityOps.tableDiff(s, d)),
    "fk_orphans"      -> (QualityOps.fkOrphans _),
    "profile_columns" -> (QualityOps.profileColumns _),
    "profile_columns_approx" -> (QualityOps.profileColumnsApprox _),
    "dq_expectations" -> (QualityOps.dqExpectations _),
    "profile_drift"   -> ((s, d) => QualityOps.profileDrift(s, d)),
    "dq_freshness"    -> ((s, d) => QualityOps.dqFreshness(s, d)),
    "customer_rfm"    -> ((s, d) => Analytics.customerRfm(s, d)),
    "stream_topk_trending" -> ((s, d) => Analytics.streamTopkTrending(s, d)),
    "gap_fill_locf"   -> ((s, d) => Analytics.gapFillLocf(s, d)),
    "user_ewma_spend" -> ((s, d) => Analytics.userEwmaSpend(s, d)),
    "rolling_median_spend" -> ((s, d) => Analytics.rollingMedianSpend(s, d)),
    // Analytics views (reference sql/03_views.sql)
    "v_top_actors"           -> (Views.topActors _),
    "v_top_genres"           -> (Views.topGenres _),
    "v_genre_ratings"        -> (Views.genreRatings _),
    "v_top_actors_by_rating" -> (Views.topActorsByRating _),
    // Relational / analytic core
    "q1_pricing_summary"    -> (Analytics.q1PricingSummary _),
    "q3_top_unshipped"      -> (Analytics.q3TopUnshipped _),
    "q_filter_pushdown"     -> (Analytics.filterPushdown _),
    "rollup_flag_status"    -> (Analytics.rollupFlagStatus _),
    "pivot_event_types"     -> (Analytics.pivotEventTypes _),
    "window_running"        -> (Analytics.windowRunning _),
    "window_time_range"     -> (Analytics.windowTimeRange _),
    "window_lag_features"   -> (Analytics.windowLagFeatures _),
    "sessionize_events"     -> (Analytics.sessionizeEvents _),
    "cohort_retention"      -> (Analytics.cohortRetention _),
    "rolling_active_users"  -> ((s, d) => Analytics.rollingActiveUsers(s, d)),
    "anomaly_zscore"        -> ((s, d) => Analytics.anomalyZscore(s, d)),
    "anomaly_mad"           -> ((s, d) => Analytics.anomalyMad(s, d)),
    "anomaly_tukey"         -> ((s, d) => Analytics.anomalyTukey(s, d)),
    "funnel_steps"          -> ((s, d) => Analytics.funnelSteps(s, d)),
    "conversion_lag_histogram" -> (Analytics.conversionLagHistogram _),
    "attribution_last_touch" -> ((s, d) => Analytics.attributionLastTouch(s, d)),
    "funnel_window_depth"   -> ((s, d) => Analytics.funnelWindowDepth(s, d)),
    "percentile_value"      -> (Analytics.percentileValue _),
    "window_percentile_rank" -> (Analytics.windowPercentileRank _),
    "quantile_bins"         -> ((s, d) => Analytics.quantileBins(s, d)),
    "quantile_bins_approx"  -> ((s, d) => Analytics.quantileBinsApprox(s, d)),
    "quantile_bins_sampled" -> ((s, d) => Analytics.quantileBinsSampled(s, d)),
    "value_histogram"       -> ((s, d) => Analytics.valueHistogram(s, d)),
    "skyline_pareto"        -> (Analytics.skylinePareto _),
    "time_weighted_avg"     -> (Analytics.timeWeightedAvg _),
    "approx_distinct_users" -> (Analytics.approxDistinctUsers _),
    "merge_intervals"       -> (Analytics.mergeIntervals _),
    "gap_fill_days"         -> (Analytics.gapFillDays _),
    "event_transitions"     -> (Analytics.eventTransitions _),
    "skew_report"           -> ((s, d) => Analytics.skewReport(s, d)),
    "topk_heavy_hitters"    -> ((s, d) => Analytics.topkHeavyHitters(s, d)),
    "hll_states"            -> (Analytics.hllStates _),
    "bitmap_distinct"       -> (Analytics.bitmapDistinct _),
    "bitmap_distinct_sparse" -> (Analytics.bitmapDistinctSparse _),
    "bitmap_overlap"        -> (Analytics.bitmapOverlap _),
    "backlog_over_time"     -> (Analytics.backlogOverTime _),
    "cube_flag_status"      -> (Analytics.cubeFlagStatus _),
    "seasonality_profile"   -> (Analytics.seasonalityProfile _),
    "stream_windowed_counts"-> (Analytics.streamWindowedCounts _),
    "stream_heavy_hitters"  -> ((s, d) => Analytics.streamHeavyHitters(s, d)),
    "stream_dedup_ids"      -> (Analytics.streamDedupIds _),
    "stream_cdc_apply"      -> (Analytics.streamCdcApply _),
    "stream_enrich"         -> (Analytics.streamEnrich _),
    "stream_interval_join"  -> ((s, d) => Analytics.streamIntervalJoin(s, d)),
    "stream_session_window" -> (Analytics.streamSessionWindows _),
    "stream_sliding_counts" -> (Analytics.streamSlidingCounts _),
    "stream_quarantine"     -> (Analytics.streamQuarantine _),
    "graph_pagerank"        -> ((s, d) => GraphOps.pageRank(s, d)),
    "graph_triangles"       -> (GraphOps.graphTriangles _),
    "graph_degree_stats"    -> (GraphOps.graphDegreeStats _),
    "graph_similar_parts"   -> ((s, d) => GraphOps.graphSimilarParts(s, d)),
    "graph_components"      -> (GraphOps.graphComponents _),
    "graph_kcore"           -> ((s, d) => GraphOps.graphKcore(s, d)),
    "assoc_rules"           -> ((s, d) => GraphOps.assocRules(s, d)),
    "graph_label_prop"      -> ((s, d) => GraphOps.labelPropagation(s, d)),
    // the opt-in delta-frontier road under the driver gate: tracking
    // on, switch from round 2 (|changed| <= |nodes| always holds)
    "graph_label_prop_delta" -> ((s, d) => GraphOps.labelPropagation(s, d, 5, 1)),
    "graph_modularity"      -> ((s, d) => GraphOps.graphModularity(s, d)),
    "graph_bfs_hops"        -> ((s, d) => GraphOps.graphBfsHops(s, d)),
    // Join operators
    "asof_join_events"   -> (Joins.asofJoinEvents _),
    "asof_join_nearest"  -> (Joins.asofJoinNearest _),
    "range_join_buckets" -> (Joins.rangeJoinBuckets _),
    "salted_join_skew"   -> ((s, d) => Joins.saltedJoinSkew(s, d)),
    "temporal_join_scd2" -> (Joins.temporalJoinScd2 _),
    "q4_priority_exists" -> (Analytics.q4PriorityExists _),
    "q5_region_volume"   -> (Analytics.q5RegionVolume _),
    "q10_returned_revenue" -> (Analytics.q10ReturnedRevenue _),
    "q7_nation_volume"     -> (Analytics.q7NationVolume _),
    "q18_large_orders"   -> ((s, d) => Analytics.q18LargeOrders(s, d)),
    "q6_forecast_revenue"   -> (Analytics.q6ForecastRevenue _),
    "q14_promo_share"       -> (Analytics.q14PromoShare _),
    "q15_top_supplier"      -> (Analytics.q15TopSupplier _),
    "q19_discounted_revenue" -> (Analytics.q19DiscountedRevenue _),
    "q8_market_share"       -> ((s, d) => Analytics.q8MarketShare(s, d)),
    "q22_untapped_customers" -> ((s, d) => Analytics.q22UntappedCustomers(s, d)),
    "q13_order_distribution" -> (Analytics.q13OrderDistribution _),
    "q17_small_qty_revenue"  -> (Analytics.q17SmallQuantityRevenue _),
    "q2_min_cost_supplier"   -> (Analytics.q2MinCostSupplier _),
    "q9_profit_by_nation"    -> (Analytics.q9ProfitByNationYear _),
    "q11_important_parts"    -> (Analytics.q11ImportantParts _),
    "q16_supplier_variety"   -> (Analytics.q16SupplierVariety _),
    "q12_late_shipments"     -> ((s, d) => Analytics.q12LateShipments(s, d)),
    "q20_dominant_suppliers" -> (Analytics.q20DominantSuppliers _),
    "q21_waiting_suppliers"  -> (Analytics.q21WaitingSuppliers _),
    "anomaly_cusum"          -> (Analytics.anomalyCusum _),
    "stream_cusum"           -> (Analytics.streamCusum _),
    "stream_attribution"     -> ((s, d) => Analytics.streamAttribution(s, d)),
    // Dedup family (LLM-data pipeline)
    "dedup_exact_hash"       -> (Dedup.dedupExactHash _),
    "dedup_minhash_lsh"      -> ((s, d) => Dedup.dedupMinhashLsh(s, d)),
    "dedup_simhash"          -> ((s, d) => Dedup.dedupSimhash(s, d)),
    "dedup_ngram_jaccard"    -> ((s, d) => Dedup.dedupNgramJaccard(s, d)),
    "dedup_embedding_cosine" -> ((s, d) => Dedup.dedupEmbeddingCosine(s, d)),
    "dedup_clusters"         -> ((s, d) => Dedup.dedupClusters(s, d)),
    "dedup_soft_weight"      -> ((s, d) => Dedup.dedupSoftWeight(s, d)),
    "dedup_rate_by_source"   -> ((s, d) => Dedup.dedupRateBySource(s, d)),
    "split_leakage"          -> ((s, d) => Dedup.splitLeakage(s, d)),
    "dedup_semantic_clusters" -> ((s, d) => Dedup.dedupSemanticClusters(s, d)),
    "semdedup_keep_central"   -> ((s, d) => Dedup.semdedupKeepCentral(s, d)),
    "dedup_paragraphs"        -> ((s, d) => Dedup.dedupParagraphs(s, d)),
    "corpus_overlap_matrix"   -> ((s, d) => Dedup.corpusOverlapMatrix(s, d)),
    "dedup_lsh_eval"          -> ((s, d) => Dedup.dedupLshEval(s, d)),
    "dedup_bloom_probe"       -> ((s, d) => Dedup.dedupBloomProbe(s, d)),
    "dedup_substring"        -> ((s, d) => Dedup.dedupSubstring(s, d)),
    "dedup_containment"      -> ((s, d) => Dedup.dedupContainment(s, d)),
    "dedup_edit_distance"    -> ((s, d) => Dedup.dedupEditDistance(s, d)),
    // Similarity search (LLM-data pipeline)
    "ann_bruteforce_topk" -> ((s, d) => Similarity.annBruteforceTopK(s, d)),
    "ann_filtered_topk"   -> ((s, d) => Similarity.annFilteredTopK(s, d)),
    "ann_filtered_ivf"    -> ((s, d) => {
      dynamicOracles("ann_filtered_ivf") = () => annFilteredIvfOracle(s, d)
      Similarity.annFilteredIvf(s, d)
    }),
    "doc_embedding_pool"  -> ((s, d) => Similarity.docEmbeddingPool(s, d)),
    "ann_recall_report"   -> ((s, d) => {
      dynamicOracles("ann_recall_report") = () => annRecallReportOracle(s, d)
      Similarity.annRecallReport(s, d)
    }),
    "ann_lsh_topk"        -> ((s, d) => Similarity.annLshTopK(s, d)),
    "ann_ivf_topk"        -> ((s, d) => {
      dynamicOracles("ann_ivf_topk") = () => annIvfOracle(s, d)
      Similarity.annIvfTopK(s, d)
    }),
    // hybrid lexical+semantic retrieval: RRF fusion of the bm25 top-k
    // and the IVF tier's top-k for the canonical query vector —
    // integral rank arithmetic, so the whole fusion hash-verifies
    "hybrid_rank_rrf"     -> ((s, d) => {
      dynamicOracles("hybrid_rank_rrf") = () => hybridRankRrfOracle(s, d)
      Similarity.hybridRankRrf(s, d)
    }),
    // the hybrid tier's quality monitor: IVF-vs-exact recall of the
    // semantic half AND overlap@k of the served fusion vs the fusion
    // over the exact semantic list — both sides replayable
    "hybrid_recall_report" -> ((s, d) => {
      dynamicOracles("hybrid_recall_report") = () => hybridRecallReportOracle(s, d)
      Similarity.hybridRecallReport(s, d)
    }),
    // online vector search over the substrate-persisted IVF index:
    // bit-equal to ann_ivf_topk at the same dial (only where the index
    // bytes come from differs), so it shares the quantizer-literal
    // oracle; StreamingSpec proves foreachBatch == this twin.
    "stream_ann_probe"    -> ((s, d) => {
      dynamicOracles("stream_ann_probe") = () => annIvfOracle(s, d)
      Similarity.streamAnnProbe(s, d)
    }),
    "ann_pq_topk"         -> ((s, d) => {
      // the oracle needs the trained codebooks as literals; stash a
      // thunk (memoized model → instant at dump time) for oracleSql
      dynamicOracles("ann_pq_topk") = () => annPqOracle(s, d)
      Similarity.annPqTopK(s, d)
    }),
    "ann_ivfpq_topk"      -> ((s, d) => {
      dynamicOracles("ann_ivfpq_topk") = () => annIvfPqOracle(s, d)
      Similarity.annIvfPqTopK(s, d)
    }),
    // probe-every-cell IVF-PQ == plain PQ bit-for-bit (cells partition
    // the corpus; the scorer is identical) — the hash-witnessed
    // identity that certifies the IVF-PQ plumbing, like the other
    // *_allprobe keys. Shares ann_pq_topk's codebook-literal oracle.
    "ann_ivfpq_allprobe"  -> ((s, d) => {
      dynamicOracles("ann_ivfpq_allprobe") = () => annPqOracle(s, d)
      Similarity.annIvfPqTopK(s, d, nProbeCells = 16)
    }),
    "knn_graph"           -> ((s, d) => Similarity.knnGraph(s, d)),
    "knn_graph_ivf"       -> ((s, d) => {
      dynamicOracles("knn_graph_ivf") = () => knnGraphIvfOracle(s, d)
      Similarity.knnGraphIvf(s, d)
    }),
    "embedding_quantize"  -> (Similarity.embeddingQuantize _),
    "embedding_centroids" -> (Similarity.embeddingCentroids _),
    "embedding_outliers"  -> ((s, d) => Similarity.embeddingOutliers(s, d)),
    "kmeans_step"         -> ((s, d) => Similarity.kmeansStep(s, d)),
    // greedy k-center (maxmin) diversity selection — the "pick the
    // spread" counterpart of semdedup_keep_central; all-integral
    // driver-synced rounds under the kmeans_fit contract
    "diversity_kcenter"   -> ((s, d) => Similarity.diversityKcenter(s, d)),
    "kmeans_fit"          -> ((s, d) => {
      dynamicOracles("kmeans_fit") = () => kmeansFitOracle(s, d)
      Similarity.kmeansFit(s, d)
    }),
    "ann_ivf_allprobe"    -> ((s, d) =>
      Similarity.annIvfTopK(s, d, nProbeCells = 16)),
    "ann_filtered_allprobe" -> ((s, d) =>
      Similarity.annFilteredIvf(s, d, nProbeCells = 16)),
    "knn_graph_allprobe"  -> ((s, d) =>
      Similarity.knnGraphIvf(s, d, nProbeCells = 16)),
    "ann_sq8_topk"        -> ((s, d) => Similarity.annSq8TopK(s, d)),
    "embedding_top_pc"    -> ((s, d) => Similarity.embeddingTopPc(s, d)),
    // ABTT: remove the hash-verified top PC from every centered
    // embedding — the eigensolver's output made load-bearing
    "embedding_whiten"    -> ((s, d) => Similarity.embeddingWhiten(s, d)),
    // Training-data assembly (LLM-data pipeline)
    "sample_split_hash" -> ((s, d) => TrainingOps.sampleSplitHash(s, d)),
    "pack_sequences"    -> ((s, d) => TrainingOps.packSequences(s, d)),
    // the streaming packer's hash-verified batch twin: the delta slice
    // through the same shard-cumsum plan; the stateful stream form
    // (EventStreams.packSequencesStateful) is proven == this in
    // StreamingSpec across micro-batch splits
    "stream_pack_sequences" -> ((s, d) => TrainingOps.streamPackSequences(s, d)),
    // the Spark 4.x transformWithState road, run as a REAL streaming
    // query per invocation (RocksDB state store, AvailableNow trigger,
    // parquet sink) — load-bearing CI for the stateful-API migration;
    // shares the delta-slice oracle with stream_pack_sequences
    "stream_pack_tws"   -> ((s, d) => TrainingOps.streamPackSequencesTwsRun(s, d)),
    "sample_stratified" -> ((s, d) => TrainingOps.sampleStratified(s, d)),
    "sample_reservoir"  -> ((s, d) => TrainingOps.sampleReservoir(s, d)),
    "mix_weighted"      -> ((s, d) => TrainingOps.mixWeighted(s, d)),
    "decontaminate_ngram" -> ((s, d) => TrainingOps.decontaminate(s, d)),
    "corpus_manifest"   -> (TrainingOps.corpusManifest _),
    "seq_len_histogram" -> (TrainingOps.seqLenHistogram _),
    "pretrain_corpus"   -> ((s, d) => TrainingOps.pretrainCorpus(s, d)),
    "bpe_train"         -> ((s, d) => TrainingOps.bpeTrain(s, d)),
    "bpe_apply"         -> ((s, d) => TrainingOps.bpeApply(s, d)),
    "sample_importance" -> (TrainingOps.sampleImportance _),
    "curriculum_order"  -> (TrainingOps.curriculumOrder _),
    "corpus_shuffle"    -> ((s, d) => TrainingOps.corpusShuffle(s, d)),
    "mix_temperature"   -> ((s, d) => TrainingOps.mixTemperature(s, d)),
    "corpus_budget_select" -> ((s, d) => TrainingOps.corpusBudgetSelect(s, d)),
    "shard_assign_balanced" -> ((s, d) => TrainingOps.shardAssignBalanced(s, d)),
    "corpus_epochs"        -> ((s, d) => TrainingOps.corpusEpochs(s, d)),
    "contamination_report" -> ((s, d) => TrainingOps.contaminationReport(s, d)),
    // Data layout
    "zorder_key"        -> ((s, d) => LayoutOps.zorderKey(s, d)),
    "hilbert_key"       -> ((s, d) => LayoutOps.hilbertKey(s, d)),
    "compaction_plan"   -> ((s, d) => LayoutOps.compactionPlan(s, d)),
    "partition_stats"   -> ((s, d) => LayoutOps.partitionStats(s, d)),
    "vacuum_plan"       -> ((s, d) => LayoutOps.vacuumPlan(s, d)),
    // Multimodal (LLM-data pipeline; decode stage stubbed — no codecs in container)
    "mm_extract_meta" -> (graft.multimodal.Multimodal.mmExtractMeta _),
    "mm_frame_sample" -> ((s, d) => graft.multimodal.Multimodal.mmFrameSample(s, d)),
    "mm_chunk_text"   -> ((s, d) => graft.multimodal.Multimodal.mmChunkText(s, d)),
    "mm_chunk_roundtrip" -> ((s, d) => graft.multimodal.Multimodal.mmChunkRoundtrip(s, d)),
    "mm_payload_dedup" -> (graft.multimodal.Multimodal.mmPayloadDedup _),
    // Multimodal REAL-codec loop (JDK-native PNG / WAV; deterministic
    // pixels/samples so the arithmetic oracle certifies encode→decode)
    "mm_image_decode" -> (graft.multimodal.Multimodal.mmImageDecode _),
    "mm_jpeg_decode"  -> ((s, d) => graft.multimodal.Multimodal.mmJpegDecode(s, d)),
    "mm_image_resize" -> ((s, d) => graft.multimodal.Multimodal.mmImageResize(s, d)),
    "mm_audio_decode" -> (graft.multimodal.Multimodal.mmAudioDecode _),
    "mm_image_phash"  -> (graft.multimodal.Multimodal.mmImagePhash _),
    "mm_phash_pairs"  -> ((s, d) => graft.multimodal.Multimodal.mmPhashPairs(s, d)),
    "mm_audio_segments" -> ((s, d) => graft.multimodal.Multimodal.mmAudioSegments(s, d)),
    // Text analysis (LLM-data pipeline)
    "text_lang_id"       -> (TextOps.textLangId _),
    "text_quality_score" -> (TextOps.textQualityScore _),
    "text_token_count"   -> (TextOps.textTokenCount _),
    "token_fertility_by_lang" -> (TextOps.tokenFertilityByLang _),
    "text_fingerprint"   -> (TextOps.textFingerprint _),
    "winnowing_fingerprint" -> ((s, d) => TextOps.winnowingFingerprint(s, d)),
    "langid_confusion"   -> (TextOps.langidConfusion _),
    "top_ngrams"         -> ((s, d) => TextOps.topNgrams(s, d)),
    "text_pii_redact"    -> (TextOps.textPiiRedact _),
    "text_gopher_filter" -> ((s, d) => TextOps.textGopherFilter(s, d)),
    "doc_top_terms"      -> ((s, d) => TextOps.docTopTerms(s, d)),
    "bm25_rank"          -> ((s, d) => TextOps.bm25Rank(s, d)),
    "text_bigram_fluency" -> ((s, d) => TextOps.textBigramFluency(s, d)),
    "inverted_index"     -> ((s, d) => TextOps.invertedIndex(s, d)),
    "text_repetition_filter" -> ((s, d) => TextOps.textRepetitionFilter(s, d)),
    "vocab_encode"       -> ((s, d) => TextOps.vocabEncode(s, d)),
    "dedup_incremental"  -> ((s, d) => Dedup.dedupIncremental(s, d)),
    "stream_dedup_incremental" -> ((s, d) => Dedup.streamDedupIncremental(s, d)),
    "stream_dedup_persisted"  -> ((s, d) => Dedup.streamDedupPersisted(s, d)),
    "dedup_incremental_minhash" -> ((s, d) => Dedup.dedupIncrementalMinhash(s, d)),
    "stream_dedup_minhash" -> ((s, d) => Dedup.streamDedupMinhash(s, d)),
    "dedup_incremental_embedding" -> ((s, d) => Dedup.dedupIncrementalEmbedding(s, d)),
    "dedup_keep_best"    -> ((s, d) => Dedup.dedupKeepBest(s, d)),
    // Extract stage (reference 02_etl.py:55-67 page loop): land a paged
    // API to JSONL with retry/resume, then read the landing dir back.
    "paged_extract"      -> ((s, d) => graft.sources.PagedExtract.demoExtract(s, d)),
    // Keyed detail-fetch (reference 02_etl.py:136-140 per-movie
    // credits): per-parent fan-out with the same landing contract.
    "keyed_extract"      -> ((s, d) => graft.sources.PagedExtract.demoKeyedExtract(s, d)),
    "ranged_extract"     -> ((s, d) => graft.sources.PagedExtract.demoRangedExtract(s, d)),
    "incremental_extract" -> ((s, d) => graft.sources.PagedExtract.demoIncrementalExtract(s, d)),
  )

  // DuckDB-dialect helpers used below (kept textual so the driver can
  // run them verbatim):
  //   sum2(x)  = CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
  //   avg2(x)  = FLOOR((2*CAST(SUM(CAST(x AS DECIMAL(18,2)))*100 AS BIGINT)
  //                     + COUNT(*)) / (2.0*COUNT(*))) / 100.0
  //   epochS(t)= epoch_ns(t)//1000000000

  /** Generated oracle for `embedding_top_pc`: the power iteration
    * UNROLLED — one (project, trunc-rescale, weighted-sum, L∞
    * renormalize) CTE block per round, exactly the integral arithmetic
    * the operator runs (HUGEINT where the engine uses DECIMAL(38),
    * CASE-trunc where it uses `div`/BigInt `/`). Generated because 8
    * rounds of 5 CTEs is mechanical — the zorder/hilbert precedent.
    */
  private def topPcChainSql(iters: Int): String = {
    val b = new StringBuilder
    b ++= """WITH p AS (SELECT unnest(range(1, 65)) AS pos),
         xqr AS MATERIALIZED (SELECT vec_id, p.pos AS pos,
                   CAST(FLOOR(1000000 * CAST(embedding[p.pos] AS DOUBLE)) AS BIGINT) AS xq
                 FROM embeddings CROSS JOIN p),
         mu AS MATERIALIZED (SELECT pos, CAST(CASE WHEN SUM(xq) >= 0 THEN SUM(xq) // COUNT(*)
                                 ELSE -((-SUM(xq)) // COUNT(*)) END AS BIGINT) AS mu
                FROM xqr GROUP BY pos),
         xm AS MATERIALIZED (SELECT x.vec_id, x.pos, x.xq - m.mu AS xd FROM xqr x JOIN mu m USING (pos)),
         v0 AS MATERIALIZED (SELECT pos, CAST(1000000 AS HUGEINT) AS v FROM p)"""
    for (k <- 1 to iters) {
      b ++= s""",
         d$k AS MATERIALIZED (SELECT x.vec_id, SUM(x.xd * v.v) AS dot
                 FROM xm x JOIN v${k - 1} v USING (pos) GROUP BY x.vec_id),
         w$k AS MATERIALIZED (SELECT vec_id, CASE WHEN dot >= 0 THEN dot // 1000000
                                ELSE -((-dot) // 1000000) END AS w FROM d$k),
         s$k AS MATERIALIZED (SELECT x.pos, SUM(x.xd * w.w) AS s
                 FROM xm x JOIN w$k w USING (vec_id) GROUP BY x.pos),
         m$k AS MATERIALIZED (SELECT MAX(ABS(s)) AS mx FROM s$k),
         v$k AS MATERIALIZED (SELECT pos, CASE WHEN s >= 0 THEN (s * 1000000) // mx
                             ELSE -(((-s) * 1000000) // mx) END AS v FROM s$k, m$k)"""
    }
    b.toString
  }

  private def topPcOracleSql(iters: Int): String =
    s"""${topPcChainSql(iters)}
         SELECT CAST(pos AS BIGINT) AS pos, CAST(v AS BIGINT) AS v_micro
         FROM v$iters ORDER BY pos"""

  /** ABTT whitening fully replayed off the SAME unrolled power-
    * iteration chain (no model state embedded): per-vector projection
    * c = Σ xd·v (HUGEINT), removed component trunc(c·vᵢ / Σv²) via
    * the engines' shared toward-zero division, whitened per-dim rows.
    */
  private def embeddingWhitenOracle(iters: Int): String =
    s"""${topPcChainSql(iters)},
         vden AS (SELECT SUM(v * v) AS d FROM v$iters),
         cf AS MATERIALIZED (SELECT x.vec_id, SUM(x.xd * v.v) AS c
                FROM xm x JOIN v$iters v USING (pos) GROUP BY x.vec_id)
         SELECT x.vec_id, CAST(x.pos AS BIGINT) AS pos,
                CAST(x.xd - (CASE WHEN cf.c * v.v >= 0 THEN (cf.c * v.v) // vd.d
                                  ELSE -((-(cf.c * v.v)) // vd.d) END) AS BIGINT) AS whitened_micro
         FROM xm x
         JOIN v$iters v USING (pos)
         JOIN cf ON cf.vec_id = x.vec_id
         CROSS JOIN vden vd
         ORDER BY x.vec_id, x.pos"""

  /** Oracles whose SQL embeds TRAINED MODEL STATE as literals (the PQ
    * codebooks): the query closure stashes a generator thunk when it
    * runs, and [[oracleSql]] folds the generated SQL in. The thunk
    * reads the session-memoized model (Caches.model), so evaluation at
    * dump time — Verify runs every query first — is a string build,
    * not a fit. A key whose query never ran in this JVM simply stays
    * rows-only, the pre-round-16 behavior.
    */
  private val dynamicOracles =
    scala.collection.concurrent.TrieMap.empty[String, () => String]

  /** [[graft.operators.Analytics.quantileBinsSampled]] fully
    * replayed: the xxhash64(event_id) sample filter rides the
    * XXH64.hashLong CTE chain ([[SqlU64.xxh64Long]], seed 42 — the
    * band-fold machinery re-aimed at one long column), sample ranks
    * are a ROW_NUMBER over (value, event_id), cuts are the rows at
    * ranks (m·j)//k for j in 1..k−1 (guarded m ≥ k, distinct ranks
    * since m ≥ k ⇒ consecutive cut ranks differ), and every corpus
    * row counts cuts strictly below its (value, event_id) pair —
    * the same lexicographic tie-break the engine's HOF uses. Pure
    * set function end to end; no sketch, no merge shape.
    */
  private def quantileBinsSampledOracle(k: Int, sampleMod: Int): String = {
    import SqlU64._
    val steps = xxh64Long("eu", "CAST(42 AS HUGEINT)", "h")
    // MATERIALIZED per step: unlike the shingle oracles (whose chains
    // hang off an already-MATERIALIZED exploded base), this chain's
    // base is a plain projection of events — DuckDB inlines the
    // single-use CTEs and the nested mul/xor expressions blow up
    // exponentially (measured: COUNT(*) over the plain chain never
    // returned at sf0.01; materialized it's instant).
    val ctes = steps.zipWithIndex.map { case ((name, ex), i) =>
      val prev = if (i == 0) "qs0" else s"qsx_${i - 1}"
      s"qsx_$i AS MATERIALIZED (SELECT *, $ex AS $name FROM $prev)"
    }.mkString(",\n        ")
    val last = s"qsx_${steps.size - 1}"
    s"""WITH e AS (SELECT event_type, event_id, value FROM events),
        qs0 AS (SELECT event_type, event_id, value,
                       ${toUnsigned("event_id")} AS eu FROM e),
        $ctes,
        samp AS MATERIALIZED (
          SELECT event_type, event_id, value FROM $last
          WHERE ((${toSigned("h")} % $sampleMod) + $sampleMod) % $sampleMod = 0),
        ranked AS MATERIALIZED (
          SELECT event_type, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
                 COUNT(*) OVER (PARTITION BY event_type) AS m
          FROM samp),
        cuts AS MATERIALIZED (
          SELECT rk.event_type, rk.value AS cv, rk.event_id AS cid
          FROM ranked rk JOIN (SELECT unnest(range(1, $k)) AS j) js
            ON rk.m >= $k AND (rk.m * js.j) // $k = rk.r),
        binned AS (
          SELECT e.event_type, e.event_id, e.value, 1 + COUNT(c.cv) AS bin
          FROM e LEFT JOIN cuts c
            ON c.event_type = e.event_type
           AND (c.cv < e.value OR (c.cv = e.value AND c.cid < e.event_id))
          GROUP BY e.event_type, e.event_id, e.value)
        SELECT event_type, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_rows,
               CAST(FLOOR(100.0*MIN(value)) AS BIGINT) AS min_val_x100,
               CAST(FLOOR(100.0*MAX(value)) AS BIGINT) AS max_val_x100
        FROM binned GROUP BY event_type, bin ORDER BY event_type, bin"""
  }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    staticOracleSql ++ dynamicOracles.flatMap { case (k, f) =>
      // a generator failure must degrade THAT key to rows-only, not
      // kill the whole oracle dump (one bad thunk would otherwise
      // zero the round's correctness)
      scala.util.Try(k -> f()).toOption
    }

  /** The k-core peel UNROLLED — the [[topPcOracleSql]] road applied to
    * the last rows-only graph key: each MATERIALIZED round restricts
    * the symmetric co-purchase edges (same substrate CTE as
    * graph_components/triangles) to both-endpoints-alive and re-filters
    * degree >= k; past the fixpoint every extra round is idempotent, so
    * unrolling beyond the measured sf0.01 depth (10 rounds) is safe —
    * and the final cross-joined WITNESS makes that safety checked, not
    * assumed: if the last two rounds differ (not converged), the oracle
    * ERRORS instead of hashing a wrong answer.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val b = new StringBuilder
    b ++= s"""WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b
                FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                   AND x.l_partkey < y.l_partkey
                GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
                UNION ALL SELECT b AS src, a AS dst FROM e0),
         r0 AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
                FROM sym GROUP BY src HAVING COUNT(*) >= $k)"""
    for (i <- 1 to rounds) {
      b ++= s""",
         r$i AS MATERIALIZED (SELECT s.src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
                FROM sym s JOIN r${i - 1} a1 ON a1.node = s.src
                           JOIN r${i - 1} a2 ON a2.node = s.dst
                GROUP BY s.src HAVING COUNT(*) >= $k)"""
    }
    b ++= s"""
         , chk AS (SELECT CASE WHEN (SELECT COUNT(*) FROM r$rounds) =
                                    (SELECT COUNT(*) FROM r${rounds - 1})
                        THEN true ELSE error('kcore oracle: peel not converged in $rounds rounds') END AS ok)
         SELECT node AS part_key, core_degree FROM r$rounds, chk WHERE chk.ok
         ORDER BY part_key"""
    b.toString
  }

  private def staticOracleSql: Map[String, String] = Map(
    "embedding_top_pc" -> topPcOracleSql(8),
    "embedding_whiten" -> embeddingWhitenOracle(8),
    "diversity_kcenter" -> diversityKcenterOracle(8),
    "graph_kcore" -> kcoreOracleSql(3, 16),
    "ann_lsh_topk" -> annLshOracle,
    "bpe_train" -> bpeTrainOracle,
    "winnowing_fingerprint" -> winnowingOracle,
    "dedup_simhash" -> dedupSimhashOracle,
    "dedup_bloom_probe" -> bloomProbeOracle,
    "dedup_lsh_eval" -> lshEvalOracle,
    "approx_distinct_users" -> approxDistinctOracle,
    "profile_columns_approx" -> profileColumnsApproxOracle,
    "bpe_apply" -> bpeApplyOracle,
    "ingest_normalize" ->
      """SELECT event_id, lower(event_type) AS event_type,
         TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS INT) AS prop_k,
         CAST(ts AS DATE) AS event_date, value
         FROM events ORDER BY event_id""",
    "dedup_latest_by_key" ->
      """SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                            ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",
    "dup_report" ->
      """SELECT user_id, event_type, COUNT(*) AS occurrences
         FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
         ORDER BY user_id, event_type""",
    "cap_topn_per_group" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rank_in_order
         FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
                      ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_extendedprice DESC, l_linenumber) AS rank_in_order
               FROM lineitem)
         WHERE rank_in_order <= 3 ORDER BY l_orderkey, rank_in_order""",
    "upsert_merge" ->
      """SELECT user_id, event_id AS latest_event_id, event_type AS latest_event_type,
                value AS latest_value
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "junction_build" ->
      """SELECT l_orderkey, l_partkey, MIN(l_linenumber) AS cast_order,
                COUNT(*) AS n_lines
         FROM lineitem GROUP BY l_orderkey, l_partkey
         ORDER BY l_orderkey, l_partkey""",
    "cdc_apply" ->
      """WITH base AS (
           SELECT c_custkey AS user_id, c_mktsegment AS segment
           FROM customer WHERE c_custkey >= 8),
         latest AS (
           SELECT user_id, event_id,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
           FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) = 1),
         m AS (
           SELECT COALESCE(b.user_id, l.user_id) AS user_id, b.segment,
                  l.event_id, l.op, l.value
           FROM base b FULL OUTER JOIN latest l ON b.user_id = l.user_id)
         SELECT user_id, segment, event_id AS last_event_id, value AS last_value,
                CASE WHEN op IS NULL THEN 'base'
                     WHEN segment IS NULL THEN 'inserted'
                     ELSE 'updated' END AS row_source
         FROM m WHERE op IS NULL OR op <> 'D'
         ORDER BY user_id""",
    "cdc_cascade_delete" ->
      """WITH j AS (
           SELECT l_orderkey, l_partkey, MIN(l_linenumber) AS cast_order,
                  COUNT(*) AS n_lines
           FROM lineitem GROUP BY l_orderkey, l_partkey),
         d1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 7),
         d2 AS (SELECT p_partkey FROM part WHERE p_partkey % 10 = 3)
         SELECT j.l_orderkey, j.l_partkey, j.cast_order, j.n_lines,
                (d1.o_orderkey IS NULL AND d2.p_partkey IS NULL) AS is_live,
                CASE
                  WHEN d1.o_orderkey IS NOT NULL AND d2.p_partkey IS NOT NULL
                    THEN 'l_orderkey,l_partkey'
                  WHEN d1.o_orderkey IS NOT NULL THEN 'l_orderkey'
                  WHEN d2.p_partkey IS NOT NULL THEN 'l_partkey'
                END AS cascade_source
         FROM j LEFT JOIN d1 ON j.l_orderkey = d1.o_orderkey
                LEFT JOIN d2 ON j.l_partkey = d2.p_partkey
         ORDER BY j.l_orderkey, j.l_partkey""",
    "scd2_build" ->
      """SELECT user_id,
                CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_seq,
                event_id, event_type,
                epoch_ns(ts)//1000000000 AS valid_from_s,
                LEAD(epoch_ns(ts)//1000000000) OVER w AS valid_to_s,
                LEAD(ts) OVER w IS NULL AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, version_seq""",
    "scd2_point_in_time" ->
      """WITH t AS (
           SELECT ((MIN(epoch_ns(ts)) + MAX(epoch_ns(ts))) // 2) // 1000000000 AS asof_s
           FROM events),
         v AS (
           SELECT user_id, event_id, event_type,
                  epoch_ns(ts)//1000000000 AS valid_from_s,
                  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_seq,
                  LEAD(epoch_ns(ts)//1000000000) OVER w AS valid_to_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT v.user_id, v.version_seq, v.event_id, v.event_type,
                v.valid_from_s, t.asof_s
         FROM v, t
         WHERE v.valid_from_s <= t.asof_s
           AND (v.valid_to_s IS NULL OR t.asof_s < v.valid_to_s)
         ORDER BY v.user_id""",
    // same deterministic mangle as the engine (every 7th event loses
    // its closing brace); json_valid gates the parse verdict — every
    // intact payload carries `k`, so field-level and document-level
    // validity agree
    "ingest_quarantine" ->
      """WITH m AS (
           SELECT event_type, event_id,
                  CASE WHEN event_id % 7 = 0
                       THEN substring(props, 1, length(props) - 1)
                       ELSE props END AS payload
           FROM events),
         p AS (SELECT event_type, event_id, json_valid(payload) AS ok FROM m)
         SELECT event_type, COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
                CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
                MIN(CASE WHEN NOT ok THEN event_id END) AS first_quarantined_id,
                MAX(CASE WHEN NOT ok THEN event_id END) AS last_quarantined_id
         FROM p GROUP BY event_type ORDER BY event_type""",
    // Backfill: delta wins, non-delta keys keep base NULLs; flag only
    // rows the delta actually filled. FLOOR(x*100) on the same IEEE
    // double both sides; every output column CAST (dtype-stable hash).
    "backfill_column" ->
      """WITH base AS (
           SELECT event_id, user_id, event_type,
                  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
           FROM events),
         delta AS (
           SELECT event_id, value AS new_value FROM events
           WHERE event_id % 7 = 0 AND event_id % 3 = 0)
         SELECT b.event_id, b.user_id, b.event_type,
                CAST(FLOOR(COALESCE(d.new_value, b.value) * 100) AS BIGINT) AS value_cents,
                CAST(CASE WHEN d.new_value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS backfilled
         FROM base b LEFT JOIN delta d ON d.event_id = b.event_id
         ORDER BY b.event_id""",
    "conversion_lag_histogram" ->
      """WITH s AS (
           SELECT user_id, MIN(epoch_ns(ts)) AS s_ns
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         p AS (
           SELECT e.user_id, MIN(epoch_ns(e.ts)) AS p_ns, MIN(s.s_ns) AS s_ns
           FROM events e JOIN s USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s.s_ns
           GROUP BY e.user_id),
         d AS (SELECT user_id, (p_ns - s_ns) // 1000000000 AS delta_s FROM p),
         b AS (
           SELECT delta_s,
                  CASE WHEN delta_s = 0 THEN 0
                       ELSE CAST(length(bin(delta_s)) AS BIGINT) END AS lag_bucket
           FROM d)
         SELECT lag_bucket, COUNT(*) AS n_users,
                MIN(delta_s) AS min_lag_s, MAX(delta_s) AS max_lag_s
         FROM b GROUP BY lag_bucket ORDER BY lag_bucket""",
    "attribution_last_touch" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         w AS (
           SELECT *,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
               OVER win AS lt_type,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN ts_ns END IGNORE NULLS)
               OVER win AS lt_ns
           FROM e
           WINDOW win AS (PARTITION BY user_id ORDER BY ts_ns, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         p AS (
           SELECT COALESCE(CASE WHEN lt_ns >= ts_ns - 604800000000000 THEN lt_type END,
                           'none') AS channel,
                  cents
           FROM w WHERE event_type = 'purchase'),
         a AS (
           SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
                  CAST(SUM(cents) AS BIGINT) AS revenue_cents
           FROM p GROUP BY channel)
         SELECT channel, n_purchases, revenue_cents,
                CAST(1000000 * n_purchases // (SELECT SUM(n_purchases) FROM a) AS BIGINT) AS share_ppm
         FROM a ORDER BY channel""",
    "funnel_window_depth" ->
      """WITH s1 AS (
           SELECT user_id, MIN(epoch_ns(ts)) AS s_ns
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, MIN(epoch_ns(e.ts)) AS v_ns
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view'
             AND epoch_ns(e.ts) > s1.s_ns
             AND epoch_ns(e.ts) <= s1.s_ns + 604800000000000
           GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, MIN(epoch_ns(e.ts)) AS p_ns
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase'
             AND epoch_ns(e.ts) > s2.v_ns
             AND epoch_ns(e.ts) <= s2.v_ns + 604800000000000
           GROUP BY e.user_id),
         d AS (
           SELECT s1.user_id,
                  CASE WHEN s3.user_id IS NOT NULL THEN 3
                       WHEN s2.user_id IS NOT NULL THEN 2
                       ELSE 1 END AS depth
           FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
         SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_users
         FROM d GROUP BY depth ORDER BY depth""",
    "funnel_steps" ->
      """WITH s1 AS (
           SELECT user_id, MIN(ts) AS t1
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts > s1.t1
           GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
           GROUP BY e.user_id)
         SELECT s1.user_id,
                epoch_ns(t1)//1000000000 AS t1_s,
                epoch_ns(t2)//1000000000 AS t2_s,
                epoch_ns(t3)//1000000000 AS t3_s,
                CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END) +
                     (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) +
                     (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS completed_steps
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""",
    // mean/std/z are double expressions over EXACT decimal sums, with
    // the operation order written identically on both engines, so
    // floor(100*z) is bit-identical (same trick as the ANN oracle).
    "anomaly_zscore" ->
      """WITH st AS (
           SELECT event_type,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
                  CAST(SUM(CAST(value * value AS DECIMAL(27,4))) AS DOUBLE) AS s2
           FROM events GROUP BY event_type),
         m AS (
           SELECT event_type, s1 / n AS mean,
                  CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                       THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) ELSE 0 END AS std
           FROM st),
         z AS (
           SELECT e.event_id, e.event_type,
                  CASE WHEN m.std > 0
                       THEN CAST(FLOOR(100.0 * (e.value - m.mean) / m.std) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS z_x100
           FROM events e JOIN m USING (event_type))
         SELECT event_id, event_type, z_x100, abs(z_x100) >= 300 AS is_outlier
         FROM z ORDER BY event_id""",
    // discrete medians in exact cents (quantile_disc == the engine's
    // rank-(n+1)div2 element at every group size), integral flag
    "anomaly_mad" ->
      """WITH e AS (
           SELECT event_id, event_type,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
         m AS (SELECT event_type, quantile_disc(cents, 0.5) AS med_cents
               FROM e GROUP BY 1),
         d AS (SELECT e.event_id, e.event_type, e.cents,
                      ABS(e.cents - m.med_cents) AS adev_cents
               FROM e JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_disc(adev_cents, 0.5) AS mad_cents
                FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, d.cents, d.adev_cents, md.mad_cents,
                (d.adev_cents * 100 > 300 * md.mad_cents) AS is_outlier
         FROM d JOIN md USING (event_type) ORDER BY event_id""",
    // explicit ⌈n/4⌉ / ⌈3n/4⌉ rank picks rather than quantile_disc —
    // the quartile convention is the operator's own, mirrored exactly
    "anomaly_tukey" ->
      """WITH e AS (
           SELECT event_id, event_type,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
         r AS (
           SELECT event_type, event_id, cents,
                  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY cents, event_id) AS BIGINT) AS rk,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM e),
         q AS (
           SELECT event_type,
                  MIN(CASE WHEN rk = (n + 3) // 4 THEN cents END) AS q1_cents,
                  MIN(CASE WHEN rk = (3 * n + 3) // 4 THEN cents END) AS q3_cents
           FROM r GROUP BY event_type)
         SELECT e.event_id, e.event_type, e.cents, q.q1_cents, q.q3_cents,
                q.q3_cents - q.q1_cents AS iqr_cents,
                (e.cents * 100 < q.q1_cents * 100 - 150 * (q.q3_cents - q.q1_cents)
                 OR e.cents * 100 > q.q3_cents * 100 + 150 * (q.q3_cents - q.q1_cents)) AS is_outlier
         FROM e JOIN q USING (event_type) ORDER BY e.event_id""",
    "rolling_active_users" ->
      """WITH du AS (
           SELECT DISTINCT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day, user_id
           FROM events),
         days AS (SELECT DISTINCT day AS win_day FROM du),
         w AS (
           SELECT DISTINCT d.win_day, du.user_id
           FROM days d JOIN du ON du.day BETWEEN d.win_day - 6 AND d.win_day)
         SELECT win_day, COUNT(*) AS active_users
         FROM w GROUP BY win_day ORDER BY win_day""",
    "merge_intervals" ->
      """WITH ls AS (
           SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
           FROM lineitem GROUP BY l_orderkey),
         iv AS (
           SELECT o.o_custkey,
                  datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS start_day,
                  greatest(
                    datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)),
                    datediff('day', DATE '1970-01-01', ls.last_ship)) AS end_day
           FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
         f AS (
           SELECT o_custkey, start_day, end_day,
                  CASE WHEN max(end_day) OVER (
                         PARTITION BY o_custkey ORDER BY start_day, end_day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                       OR start_day > max(end_day) OVER (
                         PARTITION BY o_custkey ORDER BY start_day, end_day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS is_new
           FROM iv),
         e AS (
           SELECT o_custkey, start_day, end_day,
                  CAST(SUM(is_new) OVER (
                    PARTITION BY o_custkey ORDER BY start_day, end_day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS episode
           FROM f)
         SELECT o_custkey, episode,
                MIN(start_day) AS episode_start_day,
                MAX(end_day) AS episode_end_day,
                COUNT(*) AS n_intervals
         FROM e GROUP BY o_custkey, episode ORDER BY o_custkey, episode""",
    "stream_cusum" ->
      """WITH hourly AS (
           SELECT event_type,
                  epoch_ns(CAST(ts AS TIMESTAMP)) // 3600000000000 AS win,
                  COUNT(*) AS x
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, MIN(win) AS w0, MAX(win) AS w1, SUM(x) AS t
           FROM hourly GROUP BY event_type),
         spine AS (
           SELECT event_type, t, w1 - w0 + 1 AS n,
                  unnest(generate_series(w0, w1)) AS win
           FROM spans),
         filled AS (
           SELECT s.event_type, s.win, s.t, s.n, COALESCE(h.x, 0) AS x
           FROM spine s LEFT JOIN hourly h
             ON s.event_type = h.event_type AND s.win = h.win),
         pre AS (
           SELECT event_type, win, t, x,
                  SUM(4 * n * x - 5 * t) OVER (PARTITION BY event_type ORDER BY win) AS pu,
                  SUM(3 * t - 4 * n * x) OVER (PARTITION BY event_type ORDER BY win) AS pd
           FROM filled),
         cs AS (
           SELECT event_type, win, t, x,
                  pu - LEAST(0, MIN(pu) OVER (PARTITION BY event_type ORDER BY win)) AS su,
                  pd - LEAST(0, MIN(pd) OVER (PARTITION BY event_type ORDER BY win)) AS sd
           FROM pre)
         SELECT event_type, CAST(win AS BIGINT) AS win, CAST(x AS BIGINT) AS n_events,
                CAST(su AS BIGINT) AS cusum_up, CAST(sd AS BIGINT) AS cusum_dn,
                su > 8 * t AS flag_surge, sd > 8 * t AS flag_drop
         FROM cs ORDER BY event_type, win""",
    "stream_attribution" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         w AS (
           SELECT *,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
               OVER win AS lt_type,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN ts_ns END IGNORE NULLS)
               OVER win AS lt_ns
           FROM e
           WINDOW win AS (PARTITION BY user_id ORDER BY ts_ns, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, ts_ns // 1000 AS ts_us,
                COALESCE(CASE WHEN lt_ns >= ts_ns - 604800000000000 THEN lt_type END,
                         'none') AS channel,
                cents
         FROM w WHERE event_type = 'purchase' ORDER BY user_id, event_id""",
    "anomaly_cusum" ->
      """WITH daily AS (
           SELECT event_type,
                  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                  COUNT(*) AS x
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, MIN(day) AS d0, MAX(day) AS d1, SUM(x) AS t
           FROM daily GROUP BY event_type),
         spine AS (
           SELECT event_type, t, d1 - d0 + 1 AS n,
                  unnest(generate_series(d0, d1)) AS day
           FROM spans),
         filled AS (
           SELECT s.event_type, s.day, s.t, s.n, COALESCE(d.x, 0) AS x
           FROM spine s LEFT JOIN daily d
             ON s.event_type = d.event_type AND s.day = d.day),
         pre AS (
           SELECT event_type, day, t, x,
                  SUM(4 * n * x - 5 * t) OVER (PARTITION BY event_type ORDER BY day) AS pu,
                  SUM(3 * t - 4 * n * x) OVER (PARTITION BY event_type ORDER BY day) AS pd
           FROM filled),
         cs AS (
           SELECT event_type, day, t, x,
                  pu - LEAST(0, MIN(pu) OVER (PARTITION BY event_type ORDER BY day)) AS su,
                  pd - LEAST(0, MIN(pd) OVER (PARTITION BY event_type ORDER BY day)) AS sd
           FROM pre)
         SELECT event_type, CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS n_events,
                CAST(su AS BIGINT) AS cusum_up, CAST(sd AS BIGINT) AS cusum_dn,
                su > 8 * t AS flag_surge, sd > 8 * t AS flag_drop
         FROM cs ORDER BY event_type, day""",
    "gap_fill_days" ->
      """WITH daily AS (
           SELECT user_id,
                  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
         spine AS (
           SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM spans)
         SELECT s.user_id, s.day,
                COALESCE(d.n_events, 0) AS n_events,
                COALESCE(d.day_value, 0.0) AS day_value
         FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
         ORDER BY s.user_id, s.day""",
    "event_transitions" ->
      """WITH seq AS (
           SELECT event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         c AS (
           SELECT prev_type, event_type, COUNT(*) AS n_transitions
           FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, event_type, n_transitions,
                CAST(FLOOR(10000.0 * n_transitions /
                     SUM(n_transitions) OVER (PARTITION BY prev_type)) AS BIGINT) AS p_x10000
         FROM c ORDER BY prev_type, event_type""",
    // k=64 > |event types|: the MG sketch is provably the exact count
    // map in this regime, so a plain GROUP BY is the oracle.
    "topk_heavy_hitters" ->
      """SELECT event_type AS item, COUNT(*) AS est_count
         FROM events GROUP BY 1 ORDER BY 1""",
    "window_lag_features" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase')
         SELECT user_id, event_id, ts_ns//1000000000 AS ts_s, cents,
                ROW_NUMBER() OVER w AS seq,
                LAG(cents) OVER w AS prev_cents,
                cents - LAG(cents) OVER w AS delta_cents,
                (ts_ns - LAG(ts_ns) OVER w)//1000000000 AS gap_s
         FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
         ORDER BY user_id, seq""",
    "skew_report" ->
      """WITH k AS (SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id),
         t AS (SELECT SUM(n_rows) AS total_rows FROM k)
         SELECT k.user_id, k.n_rows,
                CAST(FLOOR(10000.0 * k.n_rows / t.total_rows) AS BIGINT) AS share_x10000
         FROM k CROSS JOIN t
         ORDER BY k.n_rows DESC, k.user_id LIMIT 20""",
    "graph_pagerank" -> GraphOps.pageRankOracleSql(10),
    // Set-free neighborhood Jaccard: |∩| from the wedge count, |∪| by
    // inclusion-exclusion over degrees — mirrored directly in SQL.
    "graph_similar_parts" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b
                FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                   AND x.l_partkey < y.l_partkey
                GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
         deg AS (SELECT a AS n, COUNT(*) AS deg FROM sym GROUP BY a),
         common AS (SELECT e1.b AS x, e2.b AS y, COUNT(*) AS n_common
                    FROM sym e1 JOIN sym e2 ON e1.a = e2.a AND e1.b < e2.b
                    GROUP BY 1, 2),
         scored AS (SELECT x, y, n_common,
                      CAST(FLOOR(1000.0 * n_common / (dx.deg + dy.deg - n_common)) AS BIGINT) AS jaccard_x1000
                    FROM common JOIN deg dx ON dx.n = common.x
                                JOIN deg dy ON dy.n = common.y),
         bidir AS (SELECT x AS part_key, y AS similar_part, n_common, jaccard_x1000 FROM scored
                   UNION ALL
                   SELECT y AS part_key, x AS similar_part, n_common, jaccard_x1000 FROM scored),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY part_key
                      ORDER BY jaccard_x1000 DESC, similar_part) AS rank
                    FROM bidir)
         SELECT part_key, CAST(rank AS BIGINT) AS rank, similar_part,
                n_common, jaccard_x1000
         FROM ranked WHERE rank <= 5 ORDER BY part_key, rank""",
    // Same pair substrate as graph_similar_parts (distinct co-purchase
    // pairs, support >= 2), reduced to the degree histogram.
    "graph_degree_stats" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b
                FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                   AND x.l_partkey < y.l_partkey
                GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
         deg AS (SELECT a AS part_key, COUNT(*) AS degree FROM sym GROUP BY a)
         SELECT degree, COUNT(*) AS n_parts,
                MIN(part_key) AS min_part, MAX(part_key) AS max_part
         FROM deg GROUP BY degree ORDER BY degree""",
    // Naive all-triangles road (x<y<z three-way join) vs the engine's
    // degree-ordered orientation — same triangle set, counted per node.
    "graph_triangles" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT x.l_partkey AS a, y.l_partkey AS b
               FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                  AND x.l_partkey < y.l_partkey
               GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1 JOIN e e2 ON e2.a = e1.b
                         JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         n AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
               UNION ALL SELECT z FROM t)
         SELECT node AS part_key, COUNT(*) AS n_triangles
         FROM n GROUP BY node ORDER BY part_key""",
    "assoc_rules" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (
           SELECT x.l_partkey AS a, y.l_partkey AS b, CAST(COUNT(*) AS BIGINT) AS pair_support
           FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                              AND x.l_partkey < y.l_partkey
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         directed AS (
           SELECT a AS antecedent, b AS consequent, pair_support FROM pairs
           UNION ALL
           SELECT b AS antecedent, a AS consequent, pair_support FROM pairs),
         item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS item_support
                  FROM pl GROUP BY l_partkey),
         n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem)
         SELECT d.antecedent, d.consequent, d.pair_support,
                ia.item_support AS ant_support, ic.item_support AS cons_support,
                (d.pair_support * 1000000) // ia.item_support AS confidence_x1e6,
                (d.pair_support * n.n_orders * 1000000) // (ia.item_support * ic.item_support) AS lift_x1e6
         FROM directed d
         JOIN item ia ON ia.l_partkey = d.antecedent
         JOIN item ic ON ic.l_partkey = d.consequent, n
         ORDER BY d.antecedent, d.consequent""",
    // quantile_disc(0.5)'s index floor(0.5*(n-1)) is the same LOWER
    // median element as the engine's element_at(sorted, (n+1)/2) for
    // every frame size (checked n=2..5 explicitly).
    "rolling_median_spend" ->
      """SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_s,
                CAST(FLOOR(value * 100) AS BIGINT) AS cents,
                CAST(COUNT(*) OVER w AS BIGINT) AS n_in_frame,
                CAST(quantile_disc(CAST(FLOOR(value * 100) AS BIGINT), 0.5) OVER w AS BIGINT) AS median_cents
         FROM events WHERE event_type = 'purchase'
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    // list_reduce seeds with the first element — the same fold contract
    // as the engine's aggregate(slice(2..), first, ...) construction.
    "user_ewma_spend" ->
      """WITH p AS (
           SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         g AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
                  list(cents ORDER BY ts_ns, event_id) AS seq
           FROM p GROUP BY user_id)
         SELECT user_id, n_purchases, seq[-1] AS last_cents,
                CAST(list_reduce(seq, (acc, x) -> (30 * x + 70 * acc) // 100) AS BIGINT) AS ewma_cents
         FROM g ORDER BY user_id""",
    "gap_fill_locf" ->
      """SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_s,
                CASE WHEN event_type = 'purchase' THEN value END AS reading,
                LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                        ROWS UNBOUNDED PRECEDING) AS filled
         FROM events ORDER BY user_id, event_id""",
    // Same co-purchase edge derivation as graph_triangles; the reach
    // CTE is the recursive min-label chase precedented by
    // dedup_clusters' oracle (reps only decrease along a chain, so
    // MIN over all chase steps equals the engine's fixpoint).
    "graph_components" ->
      """WITH RECURSIVE
         pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT x.l_partkey AS a, y.l_partkey AS b
               FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                  AND x.l_partkey < y.l_partkey
               GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS part_key FROM sym),
         reach(part_key, r) AS (
           SELECT part_key, part_key AS r FROM nodes
           UNION
           SELECT s.a AS part_key, c.r FROM sym s JOIN reach c ON s.b = c.part_key),
         comp AS (SELECT part_key, MIN(r) AS component FROM reach GROUP BY part_key)
         SELECT part_key, component,
                CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
         FROM comp ORDER BY part_key""",
    // BFS distance: the recursive depth guard (hops < 6) mirrors the
    // engine's maxHops cap; UNION dedups the (node, hops) closure and
    // MIN recovers the shortest-hop distance. Same edge CTE as
    // graph_components so the substrate cannot drift.
    "graph_bfs_hops" ->
      """WITH RECURSIVE
         pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT x.l_partkey AS a, y.l_partkey AS b
               FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                  AND x.l_partkey < y.l_partkey
               GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b AS src, a AS dst FROM e),
         nodes AS (SELECT DISTINCT src AS part_key FROM sym),
         seeds AS (SELECT n.part_key FROM nodes n
                   JOIN part p ON p.p_partkey = n.part_key
                   WHERE p.p_brand = 'Brand#1'),
         bfs(node, hops) AS (
           SELECT part_key AS node, CAST(0 AS BIGINT) AS hops FROM seeds
           UNION
           SELECT s.dst AS node, b.hops + 1 AS hops
           FROM bfs b JOIN sym s ON s.src = b.node
           WHERE b.hops < 6),
         d AS (SELECT node, MIN(hops) AS hops FROM bfs GROUP BY node)
         SELECT n.part_key, d.hops
         FROM nodes n LEFT JOIN d ON d.node = n.part_key
         ORDER BY n.part_key""",
    "stream_interval_join" ->
      """WITH sg AS (
           SELECT user_id, event_id AS signup_event_id, epoch_ns(ts) AS s_ns
           FROM events WHERE event_type = 'signup'),
         pu AS (
           SELECT user_id, event_id AS purchase_event_id, epoch_ns(ts) AS p_ns, value
           FROM events WHERE event_type = 'purchase')
         SELECT sg.user_id, signup_event_id, purchase_event_id,
                s_ns // 1000000000 AS signup_s,
                p_ns // 1000000000 AS purchase_s,
                value AS purchase_value
         FROM sg JOIN pu ON sg.user_id = pu.user_id
          AND p_ns > s_ns AND p_ns <= s_ns + 3600000000000
         ORDER BY sg.user_id, signup_event_id, purchase_event_id""",
    // Every event belongs to exactly width/slide = 4 epoch-aligned
    // windows: start = slide-floor(ts) - j·slide for j = 0..3 (the
    // j=3 window still satisfies ts - start < width, so no filter).
    "stream_sliding_counts" ->
      """WITH e AS (
           SELECT event_type, value, epoch_ns(ts)//1000 AS ts_us FROM events),
         w AS (
           SELECT event_type, value,
                  (ts_us // 900000000) * 900000000 - j * 900000000 AS ws_us
           FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j))
         SELECT ws_us // 1000000 AS window_start_s, event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    // session_window semantics: gap decisions at µs precision, NEW
    // session iff diff >= gap (window end is exclusive); end = last
    // event + gap. Reported bounds floor to seconds.
    "stream_session_window" ->
      """WITH e AS (
           SELECT user_id, event_id, value, epoch_ns(ts)//1000 AS ts_us
           FROM events),
         f AS (
           SELECT *, CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) IS NULL
                          OR ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) >= 1800000000
                     THEN 1 ELSE 0 END AS is_new
           FROM e),
         s AS (
           SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
           FROM f)
         SELECT user_id,
                MIN(ts_us)//1000000 AS session_start_s,
                (MAX(ts_us) + 1800000000)//1000000 AS session_end_s,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         FROM s GROUP BY user_id, seq
         ORDER BY user_id, session_start_s""",
    "backlog_over_time" ->
      """WITH ls AS (
           SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
           FROM lineitem GROUP BY l_orderkey),
         iv AS (
           SELECT datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS open_day,
                  greatest(
                    datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)),
                    datediff('day', DATE '1970-01-01', ls.last_ship)) + 1 AS close_day
           FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
         d AS (
           SELECT open_day AS day, 1 AS delta FROM iv
           UNION ALL
           SELECT close_day AS day, -1 AS delta FROM iv),
         b AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net_change FROM d GROUP BY day)
         SELECT day, net_change,
                CAST(SUM(net_change) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
         FROM b ORDER BY day""",
    "cube_flag_status" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                COALESCE(l_linestatus, 'ALL') AS linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                COUNT(*) AS n_rows,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gid, returnflag, linestatus""",
    "seasonality_profile" ->
      """WITH c AS (
           SELECT (((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7) + 7) % 7 AS dow,
                  hour(ts) AS hour_of_day,
                  COUNT(*) AS n_events
           FROM events GROUP BY 1, 2),
         t AS (SELECT SUM(n_events) AS total_events FROM c)
         SELECT CAST(c.dow AS BIGINT) AS dow, CAST(c.hour_of_day AS BIGINT) AS hour_of_day,
                c.n_events,
                CAST(FLOOR(10000.0 * c.n_events / t.total_events) AS BIGINT) AS share_x10000
         FROM c CROSS JOIN t ORDER BY dow, hour_of_day""",
    "bitmap_distinct" ->
      """SELECT event_type,
                COUNT(DISTINCT user_id) AS n_distinct_users,
                COUNT(DISTINCT user_id // 64) AS n_words
         FROM events GROUP BY event_type ORDER BY event_type""",
    // The sparse road's word layout is a pure function of the global
    // id dictionary (0-based rank by id order), so DuckDB replays it
    // exactly: rank div 64 occupancy per type.
    "bitmap_distinct_sparse" ->
      """WITH dict AS (
           SELECT user_id, ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS r
           FROM (SELECT DISTINCT user_id FROM events)),
         j AS (SELECT e.event_type, d.r
               FROM events e JOIN dict d ON e.user_id = d.user_id)
         SELECT event_type,
                CAST(COUNT(DISTINCT r) AS BIGINT) AS n_distinct_users,
                CAST(COUNT(DISTINCT r // 64) AS BIGINT) AS n_words
         FROM j GROUP BY event_type ORDER BY event_type""",
    "bitmap_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS common_users
           FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2),
         t AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1)
         SELECT type_a, type_b, common_users,
                CAST(FLOOR(10000.0 * common_users / (ta.n + tb.n - common_users)) AS BIGINT) AS jaccard_x10000
         FROM p JOIN t ta ON ta.event_type = type_a
                JOIN t tb ON tb.event_type = type_b
         ORDER BY type_a, type_b""",
    "mm_chunk_roundtrip" ->
      """SELECT doc_id,
                GREATEST(1, (length(text) + 255) // 256) AS n_chunks,
                md5(text) AS body_md5
         FROM documents ORDER BY doc_id""",
    "vocab_encode" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         e AS (
           SELECT doc_id,
                  unnest(toks) AS token,
                  unnest(generate_series(0, len(toks) - 1)) AS pos
           FROM t),
         v AS (
           SELECT token, COUNT(*) AS tf FROM e GROUP BY token
           ORDER BY tf DESC, token LIMIT 256),
         vid AS (
           SELECT token, row_number() OVER (ORDER BY tf DESC, token) AS token_id FROM v)
         SELECT e.doc_id, CAST(e.pos AS BIGINT) AS pos,
                CAST(COALESCE(vid.token_id, 0) AS BIGINT) AS token_id
         FROM e LEFT JOIN vid USING (token) ORDER BY doc_id, pos""",
    "agg_incremental" ->
      """SELECT l_returnflag,
                COUNT(*) AS n_rows,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                MIN(l_extendedprice) AS min_price,
                MAX(l_extendedprice) AS max_price,
                COUNT(DISTINCT year(l_shipdate)*100 + month(l_shipdate)) AS n_partials
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "table_diff" ->
      """WITH o_snap AS (
           SELECT user_id, event_id AS old_event_id, value AS old_value
           FROM events WHERE epoch_ns(ts) < 1706616000000000000 AND user_id % 11 <> 3
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         n_snap AS (
           SELECT user_id, event_id AS new_event_id, value AS new_value
           FROM events WHERE user_id % 13 <> 5
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
         SELECT COALESCE(o.user_id, n.user_id) AS user_id,
                CASE WHEN o.user_id IS NULL THEN 'added'
                     WHEN n.user_id IS NULL THEN 'removed'
                     WHEN o.old_event_id IS NOT DISTINCT FROM n.new_event_id
                          AND o.old_value IS NOT DISTINCT FROM n.new_value THEN 'unchanged'
                     ELSE 'changed' END AS status,
                old_event_id, new_event_id, old_value, new_value
         FROM o_snap o FULL OUTER JOIN n_snap n ON o.user_id = n.user_id
         ORDER BY user_id""",
    "fk_orphans" ->
      """SELECT * FROM (
           SELECT 'events.user_id->customer' AS relation, COUNT(*) AS n_rows,
                  CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
                  COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL THEN e.user_id END) AS n_orphan_keys
           FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
           UNION ALL
           SELECT 'lineitem.l_orderkey->orders', COUNT(*),
                  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END)
           FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
           UNION ALL
           SELECT 'lineitem.l_partkey->part', COUNT(*),
                  CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END)
           FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
           UNION ALL
           SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
                  CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT CASE WHEN s.s_suppkey IS NULL THEN l.l_suppkey END)
           FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
           UNION ALL
           SELECT 'orders.o_custkey->customer', COUNT(*),
                  CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END)
           FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         ) ORDER BY relation""",
    "customer_rfm" ->
      """WITH pc AS (
           SELECT o_custkey, MAX(o_orderdate) AS last_order,
                  CAST(COUNT(*) AS BIGINT) AS frequency,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
           FROM orders GROUP BY o_custkey),
         ref AS (SELECT MAX(last_order) AS ref_date FROM pc),
         m AS (
           SELECT o_custkey AS c_custkey,
                  CAST(datediff('day', last_order, ref_date) AS BIGINT) AS recency_days,
                  frequency, monetary_cents
           FROM pc, ref),
         q AS (
           SELECT *,
                  CAST(6 - NTILE(5) OVER (ORDER BY recency_days, c_custkey) AS BIGINT) AS r_score,
                  CAST(NTILE(5) OVER (ORDER BY frequency, c_custkey) AS BIGINT) AS f_score,
                  CAST(NTILE(5) OVER (ORDER BY monetary_cents, c_custkey) AS BIGINT) AS m_score
           FROM m)
         SELECT c_custkey, recency_days, frequency, monetary_cents,
                r_score, f_score, m_score,
                CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS rfm_segment
         FROM q ORDER BY c_custkey""",
    "profile_drift" ->
      """WITH src AS (
           SELECT (o_orderdate < TIMESTAMP '1998-01-01') AS is_base, col_name, bucket
           FROM (
             SELECT o_orderdate, 'o_orderstatus' AS col_name, o_orderstatus AS bucket FROM orders
             UNION ALL
             SELECT o_orderdate, 'o_orderpriority', o_orderpriority FROM orders
             UNION ALL
             SELECT o_orderdate, 'o_totalprice_bin',
                    CAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS VARCHAR) FROM orders)),
         counts AS (
           SELECT col_name, bucket,
                  CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                  CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
           FROM src GROUP BY col_name, bucket),
         p AS (
           SELECT *, CAST(SUM(n_base) OVER (PARTITION BY col_name) AS BIGINT) AS t_base,
                     CAST(SUM(n_cur) OVER (PARTITION BY col_name) AS BIGINT) AS t_cur
           FROM counts),
         q AS (
           SELECT col_name, bucket, n_base, n_cur,
                  (n_base * 1000000) // t_base AS p_base_x1e6,
                  (n_cur * 1000000) // t_cur AS p_cur_x1e6
           FROM p)
         SELECT col_name, bucket, n_base, n_cur, p_base_x1e6, p_cur_x1e6,
                CAST(SUM(ABS(p_cur_x1e6 - p_base_x1e6)) OVER (PARTITION BY col_name) // 2 AS BIGINT) AS col_tvd_x1e6
         FROM q ORDER BY col_name, bucket""",
    // lag vs the corpus watermark in whole seconds; µs/s divisions are
    // trunc both sides (non-negative: corpus max >= every per-type max)
    "dq_freshness" ->
      """WITH pt AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(MAX(epoch_ns(ts) // 1000) AS BIGINT) AS last_ts_us
           FROM events GROUP BY event_type),
         c AS (SELECT CAST(MAX(last_ts_us) AS BIGINT) AS corpus_ts_us FROM pt)
         SELECT pt.event_type, pt.n_rows, pt.last_ts_us,
                CAST((c.corpus_ts_us - pt.last_ts_us) // 1000000 AS BIGINT) AS lag_s,
                (c.corpus_ts_us - pt.last_ts_us) // 1000000 > 604800 AS is_stale
         FROM pt CROSS JOIN c
         ORDER BY pt.event_type""",
    "dq_expectations" ->
      """WITH a AS (
           SELECT COUNT(*) AS n_rows,
                  CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS v_unique,
                  CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT) AS v_uid_null,
                  CAST(COUNT(*) FILTER (ts IS NULL) AS BIGINT) AS v_ts_null,
                  CAST(COUNT(*) FILTER (event_type IS NULL OR event_type NOT IN
                    ('click','error','purchase','signup','view')) AS BIGINT) AS v_domain,
                  CAST(COUNT(*) FILTER (value IS NULL OR value < 0.0) AS BIGINT) AS v_neg,
                  CAST(COUNT(*) FILTER (value > 100.0) AS BIGINT) AS v_le100
           FROM events)
         SELECT r.rule, a.n_rows, r.v AS n_violations, r.v = 0 AS pass
         FROM a CROSS JOIN LATERAL (VALUES
           ('event_id_unique', a.v_unique),
           ('event_type_in_domain', a.v_domain),
           ('ts_not_null', a.v_ts_null),
           ('user_id_not_null', a.v_uid_null),
           ('value_le_100', a.v_le100),
           ('value_non_negative', a.v_neg)) AS r(rule, v)
         ORDER BY r.rule""",
    "profile_columns" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, value,
                  epoch_ns(ts)//1000000000 AS ts_s
           FROM events)
         SELECT * FROM (
           SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
                  COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
                  COUNT(DISTINCT event_id) AS n_distinct,
                  CAST(MIN(event_id) AS VARCHAR) AS min_s,
                  CAST(MAX(event_id) AS VARCHAR) AS max_s
           FROM e
           UNION ALL
           SELECT 'event_type', COUNT(*),
                  COUNT(CASE WHEN event_type IS NULL THEN 1 END),
                  COUNT(DISTINCT event_type), MIN(event_type), MAX(event_type)
           FROM e
           UNION ALL
           SELECT 'ts_s', COUNT(*),
                  COUNT(CASE WHEN ts_s IS NULL THEN 1 END),
                  COUNT(DISTINCT ts_s),
                  CAST(MIN(ts_s) AS VARCHAR), CAST(MAX(ts_s) AS VARCHAR)
           FROM e
           UNION ALL
           SELECT 'user_id', COUNT(*),
                  COUNT(CASE WHEN user_id IS NULL THEN 1 END),
                  COUNT(DISTINCT user_id),
                  CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
           FROM e
           UNION ALL
           SELECT 'value_x100', COUNT(*),
                  COUNT(CASE WHEN value IS NULL THEN 1 END),
                  COUNT(DISTINCT value),
                  CAST(CAST(FLOOR(100.0*MIN(value)) AS BIGINT) AS VARCHAR),
                  CAST(CAST(FLOOR(100.0*MAX(value)) AS BIGINT) AS VARCHAR)
           FROM e
         ) ORDER BY col_name""",
    "quantile_bins" ->
      """WITH b AS (
           SELECT event_type, event_id, value,
                  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
           FROM events)
         SELECT event_type, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_rows,
                CAST(FLOOR(100.0*MIN(value)) AS BIGINT) AS min_val_x100,
                CAST(FLOOR(100.0*MAX(value)) AS BIGINT) AS max_val_x100
         FROM b GROUP BY event_type, bin ORDER BY event_type, bin""",
    "quantile_bins_sampled" -> quantileBinsSampledOracle(4, 8),
    "seq_len_histogram" ->
      """WITH t AS (
           SELECT source,
                  CAST(len(regexp_extract_all(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT source, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS len_bucket,
                COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                MIN(n_tokens) AS min_tokens,
                MAX(n_tokens) AS max_tokens
         FROM t GROUP BY source, len_bucket ORDER BY source, len_bucket""",
    "dedup_containment" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_distinct(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         scored AS (
           SELECT a.doc_id AS a, b.doc_id AS b,
                  len(list_intersect(a.sh, b.sh)) AS inter,
                  len(a.sh) AS na, len(b.sh) AS nb,
                  CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         v AS (SELECT * FROM scored WHERE j >= 500),
         two_way AS (
           SELECT a AS doc_id, b AS partner, CAST(FLOOR(1000.0*inter/na) AS BIGINT) AS cont FROM v
           UNION ALL
           SELECT b AS doc_id, a AS partner, CAST(FLOOR(1000.0*inter/nb) AS BIGINT) AS cont FROM v),
         best AS (
           SELECT doc_id, partner AS container_id, cont
           FROM two_way
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cont DESC, partner ASC) = 1)
         SELECT d.doc_id, container_id,
                COALESCE(cont, 0) AS containment_x1000,
                COALESCE(cont, 0) >= 900 AS is_contained
         FROM (SELECT doc_id FROM documents) d LEFT JOIN best USING (doc_id)
         ORDER BY doc_id""",
    "v_top_actors" ->
      """SELECT s.s_suppkey, s.s_name, COUNT(DISTINCT l.l_orderkey) AS movie_count
         FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
         GROUP BY s.s_suppkey, s.s_name
         ORDER BY movie_count DESC, s.s_name""",
    "v_top_genres" ->
      """SELECT p.p_brand AS genre_name, COUNT(DISTINCT l.l_orderkey) AS movie_count
         FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
         GROUP BY p.p_brand
         ORDER BY movie_count DESC, genre_name""",
    "v_genre_ratings" ->
      """SELECT p.p_brand AS genre_name,
                COUNT(DISTINCT o.o_orderkey) AS movies_in_genre,
                (2*CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))*100 AS HUGEINT)
                       + COUNT(*)) // (2*COUNT(*)) / 100.0 AS avg_rating,
                CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_votes,
                (2*CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))*100 AS HUGEINT)
                       + COUNT(*)) // (2*COUNT(*)) / 100.0 AS avg_popularity
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY p.p_brand
         ORDER BY avg_rating DESC, movies_in_genre DESC, genre_name""",
    "v_top_actors_by_rating" ->
      """SELECT s.s_suppkey, s.s_name,
                COUNT(DISTINCT o.o_orderkey) AS movie_count,
                (2*CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))*100 AS HUGEINT)
                       + COUNT(*)) // (2*COUNT(*)) / 100.0 AS avg_movie_rating,
                CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_votes
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY s.s_suppkey, s.s_name
         HAVING COUNT(DISTINCT o.o_orderkey) >= 3
         ORDER BY avg_movie_rating DESC, movie_count DESC, total_votes DESC, s.s_suppkey""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(26,8))) AS DOUBLE) AS sum_charge,
                (2*CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))*100 AS HUGEINT)
                       + COUNT(*)) // (2*COUNT(*)) / 100.0 AS avg_qty,
                (2*CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))*100 AS HUGEINT)
                       + COUNT(*)) // (2*COUNT(*)) / 100.0 AS avg_price,
                (2*CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))*100 AS HUGEINT)
                       + COUNT(*)) // (2*COUNT(*)) / 100.0 AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_top_unshipped" ->
      """SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate, o.o_orderpriority,
                CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
         ORDER BY revenue DESC, l.l_orderkey
         LIMIT 10""",
    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 48.0 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "rollup_flag_status" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                COALESCE(l_linestatus, 'ALL') AS linestatus,
                COUNT(*) AS n_rows,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "pivot_event_types" ->
      """SELECT user_id,
                COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "window_running" ->
      """SELECT event_id, user_id,
                CAST(SUM(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
         FROM events ORDER BY user_id, seq""",
    "window_time_range" ->
      """WITH e AS (
           SELECT event_id, user_id, value, epoch_ns(ts)//1000 AS ts_us
           FROM events)
         SELECT event_id, user_id, ts_us//1000000 AS ts_s,
                CAST(SUM(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts_us
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_1h_value,
                COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS trailing_1h_events
         FROM e ORDER BY event_id""",
    "sessionize_events" ->
      """WITH e AS (
           SELECT user_id, event_id, value, epoch_ns(ts)//1000000000 AS ts_s, ts
           FROM events),
         flagged AS (
           SELECT *, CASE WHEN ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          OR LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS is_new
           FROM e),
         sess AS (
           SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM flagged)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
                MIN(ts_s) AS session_start_s, MAX(ts_s) AS session_end_s,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         FROM sess GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    "window_percentile_rank" ->
      """SELECT event_type, event_id, cents,
                CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1) END AS pct_x1e6
         FROM (SELECT event_type, event_id,
                      CAST(FLOOR(value * 100) AS BIGINT) AS cents,
                      CAST(row_number() OVER (PARTITION BY event_type
                             ORDER BY CAST(FLOOR(value * 100) AS BIGINT), event_id) AS BIGINT) AS rk,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM events)
         ORDER BY event_type, event_id""",
    "percentile_value" ->
      """SELECT event_type,
                ROUND(quantile_cont(value, 0.5), 4) AS p50,
                ROUND(quantile_cont(value, 0.9), 4) AS p90,
                COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the oracle runs the textbook all-pairs NOT EXISTS dominance test;
    // the engine's bounded-domain frontier (per-size min + suffix-min)
    // must reproduce it exactly, ties and all
    "skyline_pareto" ->
      """WITH pts AS (
           SELECT p_partkey, p_size,
                  CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_cents
           FROM part)
         SELECT a.p_partkey, a.p_size, a.price_cents
         FROM pts a
         WHERE NOT EXISTS (
           SELECT 1 FROM pts b
           WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
             AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
         ORDER BY a.p_size, a.p_partkey""",
    "value_histogram" ->
      """WITH c AS (
           SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         b AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c)
         SELECT ((cents - mn) * 20) // (mx - mn + 1) AS bin,
                COUNT(*) AS n_orders,
                MIN(cents) AS min_cents, MAX(cents) AS max_cents
         FROM c, b GROUP BY 1 ORDER BY bin""",
    "time_weighted_avg" ->
      """WITH e AS (
           SELECT user_id,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents,
                  epoch_ns(ts) // 1000000000 AS ts_s,
                  LEAD(epoch_ns(ts) // 1000000000) OVER (
                    PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS next_s
           FROM events),
         iv AS (
           SELECT user_id, cents, next_s - ts_s AS dt_s
           FROM e WHERE next_s IS NOT NULL),
         g AS (
           SELECT user_id,
                  CAST(SUM(cents * dt_s) AS BIGINT) AS num_cent_s,
                  CAST(SUM(dt_s) AS BIGINT) AS dur_s,
                  COUNT(*) AS n_intervals
           FROM iv GROUP BY user_id)
         SELECT user_id, num_cent_s, dur_s, n_intervals,
                CASE WHEN dur_s <= 0 THEN NULL
                     WHEN num_cent_s >= 0 THEN num_cent_s // dur_s
                     ELSE -((-num_cent_s) // dur_s) END AS twa_cents
         FROM g ORDER BY user_id""",
    "stream_topk_trending" ->
      """WITH c AS (
           SELECT epoch_ns(date_trunc('hour', ts))//1000000000 AS window_start_s,
                  event_type, CAST(COUNT(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start_s
                            ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
           FROM c)
         SELECT window_start_s, rank, event_type, n_events
         FROM r WHERE rank <= 3 ORDER BY window_start_s, rank""",
    // day-truncated windows, same json_valid gate as ingest_quarantine
    "stream_quarantine" ->
      """WITH m AS (
           SELECT CAST(epoch_ns(date_trunc('day', ts))//1000000000 AS BIGINT) AS window_start_s,
                  event_type,
                  CASE WHEN event_id % 7 = 0
                       THEN substring(props, 1, length(props) - 1)
                       ELSE props END AS payload
           FROM events),
         p AS (SELECT window_start_s, event_type, json_valid(payload) AS ok FROM m)
         SELECT window_start_s, event_type,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
                CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_windowed_counts" ->
      """SELECT epoch_ns(date_trunc('hour', ts))//1000000000 AS window_start_s,
                event_type, COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start_s, event_type""",
    // per-window MG sketch at k > |event types| == exact window counts
    "stream_heavy_hitters" ->
      """SELECT epoch_ns(date_trunc('hour', ts))//1000000000 AS window_start_s,
                event_type AS item, COUNT(*) AS est_count
         FROM events GROUP BY 1, 2 ORDER BY window_start_s, item""",
    "stream_dedup_ids" ->
      """SELECT user_id, event_type, event_id AS first_event_id,
                epoch_ns(ts)//1000000000 AS first_ts_s
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                            ORDER BY ts, event_id) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",
    "stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""",
    "stream_cdc_apply" ->
      """SELECT user_id, event_id AS last_event_id,
                epoch_ns(ts)//1000000000 AS last_ts_s,
                op AS last_op, op <> 'D' AS is_live,
                CAST(FLOOR(value * 100) AS BIGINT) AS last_value_cents
         FROM (SELECT *,
                      CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    // candidate rank road: dist asc, before-side first on ties, then
    // highest id within before / lowest within after — textually the
    // engine's last/first + pick semantics
    "asof_join_nearest" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS ns FROM events
                    WHERE event_type = 'purchase'),
         s AS (SELECT event_id, user_id, epoch_ns(ts) AS ns FROM events
               WHERE event_type = 'signup'),
         cand AS (
           SELECT p.event_id AS pid, p.user_id, p.ns AS pns,
                  s.event_id AS sid, s.ns AS sns,
                  CASE WHEN s.ns <= p.ns THEN p.ns - s.ns ELSE s.ns - p.ns END AS dist,
                  CASE WHEN s.ns <= p.ns THEN 0 ELSE 1 END AS side
           FROM p LEFT JOIN s ON p.user_id = s.user_id),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dist, side,
                  CASE WHEN side = 0 THEN -sid ELSE sid END) AS rn
           FROM cand)
         SELECT pid AS purchase_event_id, user_id, pns//1000000000 AS purchase_ts_s,
                sid AS nearest_signup_id, sns//1000000000 AS nearest_signup_ts_s,
                dist//1000000000 AS dist_s
         FROM ranked WHERE rn = 1 ORDER BY purchase_event_id""",
    "asof_join_events" ->
      """SELECT p.event_id AS purchase_event_id, p.user_id,
                epoch_ns(p.ts)//1000000000 AS purchase_ts_s,
                (SELECT epoch_ns(MAX(s.ts))//1000000000 FROM events s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts)
                  AS last_signup_ts_s,
                (SELECT s.event_id FROM events s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
                 ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS last_signup_id
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_event_id""",
    "range_join_buckets" ->
      """SELECT s.event_id AS signup_event_id, p.event_id AS purchase_event_id, s.user_id,
                (epoch_ns(p.ts)//1000000000 - epoch_ns(s.ts)//1000000000) AS diff_s
         FROM events s JOIN events p
           ON p.user_id = s.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase'
         WHERE (epoch_ns(p.ts)//1000000000 - epoch_ns(s.ts)//1000000000) > 0
           AND (epoch_ns(p.ts)//1000000000 - epoch_ns(s.ts)//1000000000) <= 3600
         ORDER BY signup_event_id, purchase_event_id""",
    "dedup_exact_hash" ->
      """SELECT MIN(doc_id) AS keep_doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
         FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
               FROM documents)
         GROUP BY norm ORDER BY keep_doc_id""",
    // The LSH operators are verifiable with EXACT all-pairs SQL because
    // their outputs are candidate-generation-independent at these
    // parameters: any-band collision probability at the verification
    // threshold is 1-(1-0.8^4)^16 ≈ 1-2.2e-4 (16 bands×4 rows at J=0.8)
    // and 1-(1-0.5^3)^86 ≈ 1-1e-5 (86×3 at J=0.5). Those are banding
    // parameters' EXPECTED bounds; with a fixed hash seed the actual
    // all-pairs equivalence is a per-corpus empirical property — it held
    // at sf0.001/0.01/0.1 and must be re-verified if the corpus is
    // regenerated. All-pairs is O(n²) — fine for the oracle at sf0.01,
    // never run by the engine.
    "dedup_minhash_lsh" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800),
         reps AS (SELECT b AS doc_id, MIN(a) AS smaller_rep FROM pairs GROUP BY b)
         SELECT d.doc_id, COALESCE(smaller_rep, d.doc_id) AS rep_doc_id,
                smaller_rep IS NOT NULL AS is_dup
         FROM (SELECT doc_id FROM documents) d LEFT JOIN reps USING (doc_id)
         ORDER BY doc_id""",
    // Exact all-pairs delta x base at tau=0.8 — same any-band recall
    // >= 1-1e-4 argument as dedup_minhash_lsh; best partner by
    // (jaccard desc, base_id), LEFT-joined so clean delta docs report
    // is_near_dup = false with null partner.
    "dedup_incremental_minhash" -> incrementalMinhashOracle,
    // the streaming twin probes the SAME banding against the persisted
    // base index — identical verdict contract, identical exact oracle
    "stream_dedup_minhash" -> incrementalMinhashOracle,
    "dedup_ngram_jaccard" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_distinct(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         scored AS (
           SELECT a.doc_id AS a, b.doc_id AS b,
                  CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         verified AS (SELECT * FROM scored WHERE j >= 500),
         two_way AS (
           SELECT a AS doc_id, b AS partner, j FROM verified
           UNION ALL
           SELECT b AS doc_id, a AS partner, j FROM verified),
         best AS (
           SELECT doc_id, partner AS best_match_id, j AS best_jaccard_x1000
           FROM two_way
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY j DESC, partner ASC) = 1)
         SELECT d.doc_id, best_match_id,
                COALESCE(best_jaccard_x1000, 0) AS best_jaccard_x1000,
                best_match_id IS NOT NULL AS is_dup
         FROM (SELECT doc_id FROM documents) d LEFT JOIN best USING (doc_id)
         ORDER BY doc_id""",
    "dedup_edit_distance" ->
      """WITH t AS (
           SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
           FROM documents),
         tok AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM t),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_distinct(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM tok),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 500),
         lv AS (
           SELECT p.a, p.b, CAST(levenshtein(ta.norm, tb.norm) AS BIGINT) AS lev
           FROM pairs p JOIN t ta ON ta.doc_id = p.a JOIN t tb ON tb.doc_id = p.b),
         two_way AS (
           SELECT a AS doc_id, b AS partner, lev FROM lv
           UNION ALL
           SELECT b AS doc_id, a AS partner, lev FROM lv),
         best AS (
           SELECT doc_id, partner AS best_match_id, lev AS best_lev
           FROM two_way
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY lev ASC, partner ASC) = 1)
         SELECT d.doc_id, best_match_id,
                COALESCE(best_lev, -1) AS best_lev,
                best_match_id IS NOT NULL AS is_dup
         FROM (SELECT doc_id FROM documents) d LEFT JOIN best USING (doc_id)
         ORDER BY doc_id""",
    // Exact all-pairs cosine; the corpus has no pairs anywhere near the
    // 0.9 threshold (max ≈ 0.51), so DuckDB's float32
    // list_cosine_similarity cannot disagree with Spark's double
    // arithmetic on the ≥τ comparison.
    "embedding_quantize" ->
      """WITH t AS (
           SELECT vec_id, embedding,
                  CAST(list_max(list_transform(embedding, v -> abs(v))) AS DOUBLE) AS s
           FROM embeddings),
         q AS (
           SELECT vec_id, s,
                  CASE WHEN s > 0
                       THEN list_transform(embedding, v -> CAST(FLOOR(127.0 * CAST(v AS DOUBLE) / s) AS BIGINT))
                       ELSE list_transform(embedding, v -> CAST(0 AS BIGINT)) END AS q
           FROM t)
         SELECT vec_id,
                CAST(FLOOR(s * 1000000000) AS BIGINT) AS scale_x1e9,
                CAST(list_sum(list_transform(range(1, len(q)+1), i -> i * q[i])) AS BIGINT) AS q_checksum,
                CAST(list_min(q) AS BIGINT) AS q_min,
                CAST(list_max(q) AS BIGINT) AS q_max
         FROM q ORDER BY vec_id""",
    // Positions road (cross join against 1..64) vs the engine's
    // custom long[dim] aggregate state; centroid_micro mirrors
    // Spark's toward-zero `div` explicitly (// floors, sums can be
    // negative).
    "embedding_centroids" ->
      """WITH p AS (SELECT unnest(range(1, 65)) AS pos),
         s AS (SELECT label, p.pos AS pos,
                 COUNT(*) AS n_vectors,
                 CAST(SUM(CAST(FLOOR(1000000 * CAST(embedding[p.pos] AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_micro
               FROM embeddings CROSS JOIN p GROUP BY label, p.pos)
         SELECT label, CAST(pos AS BIGINT) AS pos, n_vectors, sum_micro,
                CAST(CASE WHEN sum_micro >= 0 THEN sum_micro // n_vectors
                     ELSE -((-sum_micro) // n_vectors) END AS BIGINT) AS centroid_micro
         FROM s ORDER BY label, pos""",
    // Positions road again; trunc-division CASE on the centroid (sums
    // can be negative), HUGEINT for the mean-comparison products so no
    // corpus size overflows the verdict (engine: DECIMAL(38)).
    "embedding_outliers" ->
      """WITH p AS (SELECT unnest(range(1, 65)) AS pos),
         e AS (SELECT vec_id, label, p.pos AS pos,
                 CAST(FLOOR(1000000 * CAST(embedding[p.pos] AS DOUBLE)) AS BIGINT) AS e_micro
               FROM embeddings CROSS JOIN p),
         c AS (SELECT label, pos, CAST(SUM(e_micro) AS BIGINT) AS sum_micro,
                 COUNT(*) AS n_vectors
               FROM e GROUP BY label, pos),
         cc AS (SELECT label, pos,
                 CAST(CASE WHEN sum_micro >= 0 THEN sum_micro // n_vectors
                      ELSE -((-sum_micro) // n_vectors) END AS BIGINT) AS centroid_micro
                FROM c),
         d AS (SELECT e.vec_id, e.label,
                 CAST(SUM((e.e_micro - cc.centroid_micro) * (e.e_micro - cc.centroid_micro)) AS BIGINT) AS dist2
               FROM e JOIN cc ON cc.label = e.label AND cc.pos = e.pos
               GROUP BY e.vec_id, e.label),
         st AS (SELECT label, COUNT(*) AS n_label, CAST(SUM(dist2) AS HUGEINT) AS sum_dist2
                FROM d GROUP BY label)
         SELECT d.vec_id, d.label, d.dist2,
                CAST(d.dist2 AS HUGEINT) * st.n_label > 2 * st.sum_dist2 AS is_outlier
         FROM d JOIN st ON st.label = d.label
         ORDER BY d.vec_id""",
    // embedding_centroids' exact micro-sum arithmetic on the doc key
    // (vec_id div 4 — the chunk-encoding layout), same TRUNC-division
    // sign handling
    "doc_embedding_pool" ->
      """WITH p AS (SELECT unnest(range(1, 65)) AS pos),
         s AS (SELECT vec_id // 4 AS doc_key, p.pos AS pos,
                 COUNT(*) AS n_chunks,
                 CAST(SUM(CAST(FLOOR(1000000 * CAST(embedding[p.pos] AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_micro
               FROM embeddings CROSS JOIN p GROUP BY 1, 2)
         SELECT doc_key, CAST(pos AS BIGINT) AS pos, n_chunks, sum_micro,
                CAST(CASE WHEN sum_micro >= 0 THEN sum_micro // n_chunks
                     ELSE -((-sum_micro) // n_chunks) END AS BIGINT) AS pooled_micro
         FROM s ORDER BY doc_key, pos""",
    "dedup_semantic_clusters" ->
      """WITH RECURSIVE
         pairs AS (
           SELECT a.vec_id AS a, b.vec_id AS b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9),
         sym AS (
           SELECT a, b FROM pairs
           UNION ALL
           SELECT b AS a, a AS b FROM pairs),
         reach(vec_id, r) AS (
           SELECT vec_id, vec_id AS r FROM embeddings
           UNION
           SELECT s.a AS vec_id, c.r FROM sym s JOIN reach c ON s.b = c.vec_id)
         SELECT vec_id, MIN(r) AS rep_vec_id, MIN(r) <> vec_id AS is_dup
         FROM reach GROUP BY vec_id ORDER BY vec_id""",
    // Same CC chase as dedup_semantic_clusters, then exact integer
    // centroid math: micro-unit vectors (floor(1e6*x), the VecSumMicro
    // element op), centroid = per-dim sum TRUNC-divided by n (exact in
    // double at oracle scale; the engine divides in long), squared-
    // distance argmin per cluster. range(1,65) indexes the testdata's
    // 64-dim embeddings (per-corpus oracle, like the ANN sums).
    "semdedup_keep_central" ->
      """WITH RECURSIVE
         pairs AS (
           SELECT a.vec_id AS a, b.vec_id AS b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9),
         sym AS (
           SELECT a, b FROM pairs
           UNION ALL
           SELECT b AS a, a AS b FROM pairs),
         reach(vec_id, r) AS (
           SELECT vec_id, vec_id AS r FROM embeddings
           UNION
           SELECT s.a AS vec_id, c.r FROM sym s JOIN reach c ON s.b = c.vec_id),
         comp AS (SELECT vec_id, MIN(r) AS component FROM reach GROUP BY vec_id),
         m AS (
           SELECT vec_id,
                  list_transform(embedding,
                                 x -> CAST(FLOOR(1000000.0 * CAST(x AS DOUBLE)) AS BIGINT)) AS mv
           FROM embeddings),
         ex AS (
           SELECT c.component, c.vec_id, r.i, m.mv[CAST(r.i AS INT)] AS v
           FROM comp c JOIN m ON m.vec_id = c.vec_id, range(1, 65) r(i)),
         cen AS (
           SELECT component, i,
                  CAST(TRUNC(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
           FROM ex GROUP BY component, i),
         d AS (
           SELECT ex.component, ex.vec_id,
                  CAST(SUM((ex.v - cen.cv) * (ex.v - cen.cv)) AS BIGINT) AS center_dist
           FROM ex JOIN cen ON cen.component = ex.component AND cen.i = ex.i
           GROUP BY ex.component, ex.vec_id)
         SELECT vec_id, component, center_dist,
                ROW_NUMBER() OVER (PARTITION BY component
                                   ORDER BY center_dist, vec_id) = 1 AS is_kept
         FROM d ORDER BY vec_id""",
    // RECALL ASSUMPTION (same family as dedup_embedding_cosine): the
    // oracle is exact brute-force delta×base cosine, but the engine is
    // SRP-LSH (8 bands × 6 bits) with a maxBucket=1024 hot-bucket cap —
    // equality needs every cosine≥0.9 pair to collide in ≥1 unpruned
    // band (~2% miss for threshold-GRAZING pairs). The testdata's
    // crafted near-dup pairs sit well above tau, where SRP collision
    // probability is ≈1, so the hash-match holds; a regenerated fixture
    // with pairs at the threshold edge could flag a false mismatch —
    // that would indict the fixture margin, not the operator. The
    // grazing strip itself is fixture-proofed in DedupSpec
    // ("catches threshold-GRAZING pairs"): 12 independent pairs at
    // cosine ≈ 0.902 are asserted equal to the exact brute-force
    // verdict, pinning banding recall at the threshold edge.
    "dedup_incremental_embedding" ->
      s"""WITH scored AS (
           SELECT d.vec_id AS vec_id, b.vec_id AS base_id
           FROM embeddings d JOIN embeddings b
             ON d.vec_id % ${Dedup.DefaultDeltaMod} = 0 AND b.vec_id % ${Dedup.DefaultDeltaMod} <> 0
            AND list_cosine_similarity(d.embedding, b.embedding) >= 0.9),
         best AS (SELECT vec_id, MIN(base_id) AS rep_base_id
                  FROM scored GROUP BY vec_id)
         SELECT e.vec_id, best.rep_base_id IS NOT NULL AS is_near_dup,
                best.rep_base_id
         FROM (SELECT vec_id FROM embeddings WHERE vec_id % ${Dedup.DefaultDeltaMod} = 0) e
         LEFT JOIN best USING (vec_id)
         ORDER BY e.vec_id""",
    "dedup_embedding_cosine" ->
      """WITH pairs AS (
           SELECT a.vec_id AS a, b.vec_id AS b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9),
         reps AS (SELECT b AS vec_id, MIN(a) AS smaller_rep FROM pairs GROUP BY b)
         SELECT e.vec_id, COALESCE(smaller_rep, e.vec_id) AS rep_vec_id,
                smaller_rep IS NOT NULL AS is_dup
         FROM (SELECT vec_id FROM embeddings) e LEFT JOIN reps USING (vec_id)
         ORDER BY vec_id""",
    // Same hash-group-equals-string-group argument as hashedShingles:
    // Spark groups xxhash64(window), the oracle groups the window
    // string — identical groups up to a ~2^-64-per-pair collision.
    "dedup_substring" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         w AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 8
                  THEN list_distinct(list_transform(range(1, len(toks)-6), i -> array_to_string(toks[i:i+7], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS wins
           FROM t),
         e AS (SELECT doc_id, unnest(wins) AS win FROM w),
         d AS (SELECT win, COUNT(*) AS n_docs FROM e GROUP BY win),
         p AS (
           SELECT e.doc_id, SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS shared
           FROM e JOIN d USING (win) GROUP BY e.doc_id)
         SELECT w.doc_id, CAST(len(wins) AS BIGINT) AS n_windows,
                CAST(COALESCE(p.shared, 0) AS BIGINT) AS n_shared_windows,
                COALESCE(p.shared, 0) > 0 AS has_shared
         FROM w LEFT JOIN p USING (doc_id) ORDER BY doc_id""",
    "text_lang_id" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS en_score,
             CAST(len(list_filter(toks, x -> x IN ('der','und','die','das','ist'))) AS BIGINT) AS de_score,
             CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','est'))) AS BIGINT) AS fr_score,
             CAST(len(list_filter(toks, x -> x IN ('el','que','los','una','es'))) AS BIGINT) AS es_score
           FROM t)
         SELECT doc_id,
                CASE WHEN en_score >= de_score AND en_score >= fr_score AND en_score >= es_score THEN 'en'
                     WHEN de_score >= fr_score AND de_score >= es_score THEN 'de'
                     WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS lang_guess,
                en_score, de_score, fr_score, es_score
         FROM s ORDER BY doc_id""",
    "langid_confusion" ->
      """WITH t AS (
           SELECT doc_id, lang,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS en_score,
             CAST(len(list_filter(toks, x -> x IN ('der','und','die','das','ist'))) AS BIGINT) AS de_score,
             CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','est'))) AS BIGINT) AS fr_score,
             CAST(len(list_filter(toks, x -> x IN ('el','que','los','una','es'))) AS BIGINT) AS es_score
           FROM t),
         g AS (
           SELECT lang,
                  CASE WHEN en_score >= de_score AND en_score >= fr_score AND en_score >= es_score THEN 'en'
                       WHEN de_score >= fr_score AND de_score >= es_score THEN 'de'
                       WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS lang_guess
           FROM s),
         c AS (
           SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM g GROUP BY lang, lang_guess)
         SELECT lang, lang_guess, n_docs,
                CAST(CAST(n_docs AS HUGEINT) * 1000000
                     // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
         FROM c ORDER BY lang, lang_guess""",
    "text_quality_score" ->
      """WITH t AS (
           SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         c AS (
           SELECT doc_id,
                  CAST(length(norm) AS BIGINT) AS n_chars,
                  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(string_split(norm, ' '),
                                       x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop,
                  CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
           FROM t),
         r AS (
           SELECT doc_id, n_chars, n_tokens,
                  CAST(FLOOR(100.0*n_stop/n_tokens) AS BIGINT) AS stop_x100,
                  CAST(FLOOR(100.0*n_alpha/n_chars) AS BIGINT) AS alpha_x100
           FROM c)
         SELECT doc_id, n_chars, n_tokens, stop_x100, alpha_x100,
                CAST(LEAST(100, CAST(FLOOR((stop_x100 + alpha_x100)/2.0) AS BIGINT)) AS BIGINT) AS quality_score
         FROM r ORDER BY doc_id""",
    "text_token_count" ->
      """WITH t AS (
           SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents)
         SELECT doc_id,
                CAST(len(string_split(norm, ' ')) AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
         FROM t ORDER BY doc_id""",
    "token_fertility_by_lang" ->
      """WITH t AS (
           SELECT lang, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
           FROM documents),
         c AS (
           SELECT lang, CAST(len(norm) AS BIGINT) AS chars,
                  CAST(len(string_split(norm, ' ')) AS BIGINT) AS ws_tokens,
                  CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
           FROM t),
         g AS (
           SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(chars) AS BIGINT) AS total_chars,
                  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
                  CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens
           FROM c GROUP BY lang)
         SELECT lang, n_docs, total_chars, total_ws_tokens, total_bpe_tokens,
                CASE WHEN total_chars > 0
                     THEN (100 * total_bpe_tokens) // total_chars END AS tokens_per_100_chars,
                (100 * total_bpe_tokens) // total_ws_tokens AS tokens_per_100_words
         FROM g ORDER BY lang""",
    "mm_frame_sample" ->
      """WITH m AS (
           SELECT doc_id,
                  ['I','A','V'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
                  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 1 + (doc_id * 31) % 9000 END AS n_frames
           FROM documents),
         v AS (SELECT doc_id, n_frames FROM m WHERE kind = 'V')
         SELECT doc_id, n_frames,
                unnest(list_sort(list_distinct(list_transform(range(0, 8),
                       i -> CAST(floor(i * n_frames / 8) AS BIGINT))))) AS frame_idx
         FROM v ORDER BY doc_id, frame_idx""",
    // The synthesized payload body IS the document text (see
    // mm_extract_meta), so the oracle chunks `text` directly. Character
    // windows; both engines hash each chunk's UTF-8 bytes via md5.
    "mm_chunk_text" ->
      """WITH c AS (
           SELECT doc_id, text AS body,
                  GREATEST(1, (length(text) + 255) // 256) AS n_chunks
           FROM documents),
         e AS (
           SELECT doc_id,
                  unnest(list_transform(range(0, n_chunks),
                    i -> {'chunk_idx': i, 'chunk': substr(body, CAST(i*256+1 AS INT), 256)})) AS u
           FROM c)
         SELECT doc_id,
                CAST(u.chunk_idx AS BIGINT) AS chunk_idx,
                CAST(length(u.chunk) AS BIGINT) AS n_chars,
                CAST('0x' || substr(md5(u.chunk), 1, 12) AS BIGINT) AS chunk_key
         FROM e ORDER BY doc_id, chunk_idx""",
    "top_ngrams" ->
      """WITH t AS (
           SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         g AS (
           SELECT CASE WHEN len(toks) >= 2
                       THEN list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
                       ELSE [array_to_string(toks, ' ')] END AS ngrams
           FROM t)
         SELECT ngram, COUNT(*) AS doc_freq
         FROM (SELECT unnest(ngrams) AS ngram FROM g)
         GROUP BY ngram
         ORDER BY doc_freq DESC, ngram
         LIMIT 100""",
    "sample_reservoir" ->
      """SELECT doc_id, tag, sample_rank FROM (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS tag,
                  CAST(row_number() OVER (
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
           FROM documents)
         ORDER BY tag, doc_id
         LIMIT 100""",
    "sample_stratified" ->
      """SELECT doc_id, lang, sample_rank, strat_size FROM (
           SELECT doc_id, lang,
                  CAST(row_number() OVER (PARTITION BY lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank,
                  COUNT(*) OVER (PARTITION BY lang) AS strat_size
           FROM documents)
         WHERE sample_rank * 100 <= strat_size * 10 + 99
         ORDER BY doc_id""",
    "text_pii_redact" ->
      """WITH t AS (
           SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS r0 FROM documents),
         a AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(r0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS BIGINT) AS n_emails,
                  regexp_replace(r0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<email>', 'g') AS r1
           FROM t),
         b AS (
           SELECT doc_id, n_emails,
                  CAST(len(regexp_extract_all(r1, '\+?[0-9][0-9() -]{6,}[0-9]')) AS BIGINT) AS n_phones,
                  regexp_replace(r1, '\+?[0-9][0-9() -]{6,}[0-9]', '<phone>', 'g') AS r2
           FROM a),
         c AS (
           SELECT doc_id, n_emails, n_phones,
                  CAST(len(regexp_extract_all(r2, '[0-9]{5,}')) AS BIGINT) AS n_nums,
                  regexp_replace(r2, '[0-9]{5,}', '<num>', 'g') AS redacted
           FROM b)
         SELECT doc_id, n_emails, n_phones, n_nums, redacted FROM c ORDER BY doc_id""",
    "zorder_key" -> zorderOracle,
    "graph_label_prop" -> labelPropOracle,
    // The delta-frontier road is EXACTLY equal to the full-round road
    // (the synchronous-update carry argument, spec-pinned per round),
    // so the same unrolled oracle hash-verifies it end to end.
    "graph_label_prop_delta" -> labelPropOracle,
    "graph_modularity" -> graphModularityOracle,
    "hilbert_key" -> hilbertOracle,
    // Every output column explicitly CAST (windowed SUM and its //
    // quotient are HUGEINT in DuckDB — the driver hashes typed
    // values); both divisions spell Spark's toward-zero `div` via the
    // sign CASE (// floors — they diverge on negatives; precedent:
    // the embedding_centroids oracle).
    "compaction_plan" ->
      """WITH f AS (
           SELECT CAST(CASE WHEN epoch_ns(ts) >= 0
                    THEN (epoch_ns(ts) // 1000000000) // 86400
                    ELSE -(((-epoch_ns(ts)) // 1000000000) // 86400)
                  END * 86400 AS BIGINT) AS day_s,
                  CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM events GROUP BY 1),
         p AS (
           SELECT day_s, n_rows,
                  CAST(COALESCE(SUM(n_rows) OVER (ORDER BY day_s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS rows_before
           FROM f),
         b AS (
           SELECT day_s, n_rows,
                  CAST(CASE WHEN rows_before >= 0 THEN rows_before // 50000
                       ELSE -((-rows_before) // 50000) END AS BIGINT) AS bin
           FROM p)
         SELECT day_s, n_rows, bin,
                CAST(COUNT(*) OVER (PARTITION BY bin) AS BIGINT) AS bin_files,
                CAST(SUM(n_rows) OVER (PARTITION BY bin) AS BIGINT) AS bin_rows
         FROM b ORDER BY day_s""",
    // watermark = the table's own max day; age/running-reclaim all
    // non-negative so // == div; every column CAST
    "vacuum_plan" ->
      """WITH f AS (
           SELECT CAST((epoch_ns(ts) // 1000000000) // 86400 * 86400 AS BIGINT) AS day_s,
                  CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM events GROUP BY 1),
         w AS (SELECT CAST(MAX(day_s) AS BIGINT) AS watermark_s FROM f),
         a AS (
           SELECT f.day_s, f.n_rows,
                  CAST((w.watermark_s - f.day_s) // 86400 AS BIGINT) AS age_days
           FROM f CROSS JOIN w)
         SELECT day_s, n_rows, age_days, age_days > 45 AS expired,
                CAST(SUM(CASE WHEN age_days > 45 THEN n_rows ELSE 0 END)
                     OVER (ORDER BY day_s ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS reclaim_running
         FROM a ORDER BY day_s""",
    // day files, uid zone maps, pairwise range-overlap counts; ppm via
    // trunc div on non-negative counts (== //); every column CAST
    "partition_stats" ->
      """WITH f AS (
           SELECT CAST((epoch_ns(ts) // 1000000000) // 86400 * 86400 AS BIGINT) AS day_s,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(MIN(user_id) AS BIGINT) AS uid_min,
                  CAST(MAX(user_id) AS BIGINT) AS uid_max
           FROM events GROUP BY 1),
         ov AS (
           SELECT a.day_s,
                  CAST(COUNT(b.day_s) AS BIGINT) AS n_overlapping
           FROM f a LEFT JOIN f b
             ON a.day_s <> b.day_s
            AND a.uid_min <= b.uid_max AND b.uid_min <= a.uid_max
           GROUP BY a.day_s),
         t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows FROM f)
         SELECT f.day_s, f.n_rows,
                CAST(f.n_rows * 1000000 // t.total_rows AS BIGINT) AS rows_ppm,
                f.uid_min, f.uid_max, ov.n_overlapping
         FROM f JOIN ov ON ov.day_s = f.day_s CROSS JOIN t
         ORDER BY f.day_s""",
    "bm25_rank" -> bm25Oracle,
    // Positional bigrams via a correlated lateral range (start index
    // 1..len-1); c1 is the bigram-HEAD marginal (sum of c2 over w2),
    // so per-head conditional micro-probs mirror the engine exactly.
    "text_bigram_fluency" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         exl AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> struct_pack(w1 := toks[CAST(i AS INT)],
                                          w2 := toks[CAST(i AS INT) + 1]))) AS bg
           FROM t),
         ex AS (SELECT doc_id, struct_extract(bg, 'w1') AS w1,
                       struct_extract(bg, 'w2') AS w2 FROM exl),
         c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM ex GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
         model AS (
           SELECT c2.w1, c2.w2, (c2.c2 * 1000000) // c1.c1 AS prob_micro
           FROM c2 JOIN c1 ON c1.w1 = c2.w1),
         per AS (
           SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(prob_micro) AS BIGINT) AS sp
           FROM ex JOIN model ON model.w1 = ex.w1 AND model.w2 = ex.w2
           GROUP BY ex.doc_id)
         SELECT t.doc_id, CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(per.sp // per.n_bigrams AS BIGINT) AS fluency_micro
         FROM t LEFT JOIN per ON per.doc_id = t.doc_id
         ORDER BY t.doc_id""",
    "inverted_index" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
           FROM documents),
         tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY term, doc_id),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
         r AS (
           SELECT term, doc_id, tf,
                  CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS BIGINT) AS posting_rank
           FROM tf)
         SELECT r.term, r.posting_rank, r.doc_id, r.tf, df.df
         FROM r JOIN df ON df.term = r.term
         WHERE r.posting_rank <= 10
         ORDER BY r.term, r.posting_rank""",
    "knn_graph" -> knnGraphOracle,
    "cohort_retention" ->
      """WITH c AS (
           SELECT user_id,
                  CAST(FLOOR(datediff('day', DATE '1970-01-01', CAST(MIN(ts) AS DATE))/7.0) AS BIGINT) AS cohort_w
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         active AS (
           SELECT user_id,
                  CAST(FLOOR(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))/7.0) AS BIGINT) AS act_w
           FROM events),
         d AS (
           SELECT DISTINCT c.cohort_w, active.act_w - c.cohort_w AS weeks_since, c.user_id
           FROM c JOIN active USING (user_id)
           WHERE active.act_w >= c.cohort_w)
         SELECT cohort_w, weeks_since, COUNT(*) AS n_active_users
         FROM d GROUP BY cohort_w, weeks_since
         ORDER BY cohort_w, weeks_since""",
    "text_gopher_filter" ->
      """WITH t AS (
           SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         c AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t),
         m AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  CAST(length(norm) - (len(toks)-1) AS BIGINT) AS n_word_chars,
                  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words
           FROM c),
         r AS (
           SELECT doc_id, n_words,
                  CAST(FLOOR(100.0*n_word_chars/n_words) AS BIGINT) AS mean_word_len_x100,
                  CAST(FLOOR(100.0*n_alpha_words/n_words) AS BIGINT) AS alpha_words_x100
           FROM m)
         SELECT doc_id, n_words, mean_word_len_x100, alpha_words_x100,
                (n_words BETWEEN 5 AND 100000)
                  AND (mean_word_len_x100 BETWEEN 300 AND 1000)
                  AND (alpha_words_x100 >= 70) AS keep
         FROM r ORDER BY doc_id""",
    "sample_split_hash" ->
      """SELECT doc_id,
                CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80
                     THEN 'train' ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    "pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(regexp_extract_all(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS tok_end
           FROM t)
         SELECT doc_id, shard, n_tokens,
                CAST((tok_end - n_tokens) // 512 AS BIGINT) AS first_chunk,
                CAST(CASE WHEN n_tokens = 0 THEN (tok_end - n_tokens) // 512
                          ELSE (tok_end - 1) // 512 END AS BIGINT) AS last_chunk
         FROM c ORDER BY doc_id""",
    "stream_pack_sequences" ->
      s"""WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(regexp_extract_all(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           FROM documents WHERE doc_id % ${graft.operators.Dedup.DefaultDeltaMod} = 0),
         c AS (
           SELECT doc_id, shard, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS tok_end
           FROM t)
         SELECT doc_id, shard, n_tokens,
                CAST((tok_end - n_tokens) // 512 AS BIGINT) AS first_chunk,
                CAST(CASE WHEN n_tokens = 0 THEN (tok_end - n_tokens) // 512
                          ELSE (tok_end - 1) // 512 END AS BIGINT) AS last_chunk
         FROM c ORDER BY doc_id""",
    // the transformWithState road lands the SAME rows as the fMGWS /
    // batch-cumsum road by the StreamingSpec three-way equality — it
    // shares the delta-slice oracle verbatim
    "stream_pack_tws" ->
      s"""WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(regexp_extract_all(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           FROM documents WHERE doc_id % ${graft.operators.Dedup.DefaultDeltaMod} = 0),
         c AS (
           SELECT doc_id, shard, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS tok_end
           FROM t)
         SELECT doc_id, shard, n_tokens,
                CAST((tok_end - n_tokens) // 512 AS BIGINT) AS first_chunk,
                CAST(CASE WHEN n_tokens = 0 THEN (tok_end - n_tokens) // 512
                          ELSE (tok_end - 1) // 512 END AS BIGINT) AS last_chunk
         FROM c ORDER BY doc_id""",
    "doc_top_terms" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         r AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  CAST(row_number() OVER (PARTITION BY tf.doc_id
                         ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS term_rank
           FROM tf JOIN df USING (term))
         SELECT doc_id, term_rank, term, tf, df
         FROM r WHERE term_rank <= 3
         ORDER BY doc_id, term_rank""",
    "mix_weighted" ->
      """WITH t AS (
           SELECT doc_id, source,
                  CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 125
                              WHEN 'src2' THEN 50 ELSE 100 END AS w,
                  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
           FROM documents)
         SELECT doc_id, source, CAST(w AS BIGINT) AS weight_pct, bucket,
                CAST(w // 100 + CASE WHEN bucket < w % 100 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         FROM t ORDER BY doc_id""",
    // full_epochs + hash-order partial-epoch prefix; all counts
    // non-negative so // == div; every output column CAST
    "corpus_epochs" ->
      """WITH t AS (
           SELECT doc_id, source, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
           FROM documents),
         c AS (
           SELECT doc_id, source,
                  CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           FROM t),
         s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM c GROUP BY source),
         w AS (
           SELECT doc_id, source, n_tokens,
                  CAST(SUM(n_tokens) OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM c)
         SELECT w.doc_id, w.source, w.n_tokens,
                CAST(5000 // s.src_tokens AS BIGINT) AS full_epochs,
                w.cum_tokens,
                w.cum_tokens <= 5000 % s.src_tokens AS in_partial,
                CAST(5000 // s.src_tokens
                     + CASE WHEN w.cum_tokens <= 5000 % s.src_tokens THEN 1 ELSE 0 END
                     AS BIGINT) AS n_copies
         FROM w JOIN s ON s.source = w.source
         ORDER BY w.doc_id""",
    // eval-side audit over the same distinct-shingle sets as
    // decontaminate_ngram; the df>1024 stop-gram prune mirrored before
    // the join (never binds on this corpus but the gate must agree)
    "contamination_report" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
             THEN list_distinct(list_transform(range(1, len(toks) - 6),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
                       toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
             ELSE [array_to_string(toks, ' ')] END) AS ng
           FROM t),
         tr AS (SELECT doc_id AS train_doc_id, ng FROM g WHERE doc_id % 97 <> 0),
         hot AS (SELECT ng FROM tr GROUP BY ng HAVING COUNT(*) > 1024),
         ptr AS (SELECT * FROM tr WHERE ng NOT IN (SELECT ng FROM hot)),
         pairs AS (
           SELECT g.doc_id AS eval_doc_id, ptr.train_doc_id,
                  CAST(COUNT(*) AS BIGINT) AS shared_ngrams
           FROM g JOIN ptr USING (ng) WHERE g.doc_id % 97 = 0
           GROUP BY g.doc_id, ptr.train_doc_id),
         per AS (
           SELECT eval_doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminating_docs,
                  CAST(SUM(shared_ngrams) AS BIGINT) AS total_shared
           FROM pairs GROUP BY eval_doc_id),
         worst AS (
           SELECT eval_doc_id, train_doc_id AS worst_train_doc_id,
                  shared_ngrams AS worst_shared
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_doc_id
                        ORDER BY shared_ngrams DESC, train_doc_id) AS rn
                 FROM pairs)
           WHERE rn = 1)
         SELECT e.doc_id AS eval_doc_id,
                CAST(COALESCE(per.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs,
                CAST(COALESCE(per.total_shared, 0) AS BIGINT) AS total_shared,
                worst.worst_train_doc_id, worst.worst_shared
         FROM (SELECT doc_id FROM t WHERE doc_id % 97 = 0) e
         LEFT JOIN per ON per.eval_doc_id = e.doc_id
         LEFT JOIN worst ON worst.eval_doc_id = e.doc_id
         ORDER BY e.doc_id""",
    "decontaminate_ngram" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
             THEN list_distinct(list_transform(range(1, len(toks) - 6),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
                       toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
             ELSE [array_to_string(toks, ' ')] END) AS ng
           FROM t),
         ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
         hit AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
                 FROM g JOIN ev USING (ng) WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
         SELECT t.doc_id, CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
                COALESCE(hit.n_hits, 0) > 0 AS contaminated
         FROM t LEFT JOIN hit USING (doc_id) WHERE t.doc_id % 97 <> 0 ORDER BY doc_id""",
    // 10-token chunk units via the scalar list-range pattern (see
    // text_bigram_fluency); boilerplate = unit in >= 2 distinct docs;
    // docs reassemble in ordinal order with string_agg.
    "dedup_paragraphs" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         ul AS (
           SELECT doc_id,
                  unnest(list_transform(range(0, (len(toks) - 1) // 10 + 1),
                         i -> struct_pack(ord := i,
                                          unit := array_to_string(list_slice(toks, CAST(i AS INT) * 10 + 1, CAST(i AS INT) * 10 + 10), ' ')))) AS u
           FROM t),
         units AS (SELECT doc_id, CAST(struct_extract(u, 'ord') AS BIGINT) AS ord,
                          struct_extract(u, 'unit') AS unit FROM ul),
         df AS (
           SELECT unit, CAST(COUNT(*) AS BIGINT) AS unit_df
           FROM (SELECT DISTINCT unit, doc_id FROM units) GROUP BY unit)
         SELECT u.doc_id, CAST(COUNT(*) AS BIGINT) AS n_units,
                CAST(SUM(CASE WHEN df.unit_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                COALESCE(string_agg(CASE WHEN df.unit_df < 2 THEN u.unit END, ' ' ORDER BY u.ord), '') AS clean_text
         FROM units u JOIN df ON df.unit = u.unit
         GROUP BY u.doc_id ORDER BY u.doc_id""",
    "sample_importance" ->
      """WITH m AS (SELECT MAX(n_chars) AS mx FROM documents)
         SELECT d.doc_id, d.n_chars,
                CAST((d.n_chars * 1000000) // m.mx AS BIGINT) AS weight_ppm
         FROM documents d CROSS JOIN m
         WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':imp'), 1, 8) AS BIGINT)
               * m.mx < d.n_chars * 4294967296
         ORDER BY d.doc_id""",
    "curriculum_order" ->
      """SELECT doc_id, n_chars,
                CAST(length(bin(n_chars)) AS BIGINT) AS len_bucket,
                CAST(ROW_NUMBER() OVER (
                       ORDER BY length(bin(n_chars)),
                                md5(CAST(doc_id AS VARCHAR) || ':cur'),
                                doc_id) AS BIGINT) AS curriculum_pos
         FROM documents ORDER BY doc_id""",
    "corpus_shuffle" ->
      """WITH k AS (
           SELECT doc_id,
                  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 12) AS BIGINT) AS shuffle_key
           FROM documents)
         SELECT doc_id, shuffle_key % 8 AS shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
                                        ORDER BY shuffle_key, doc_id) AS BIGINT) AS shard_pos,
                shuffle_key
         FROM k ORDER BY doc_id""",
    "corpus_budget_select" ->
      """WITH t AS (
           SELECT doc_id, source, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         c AS (
           SELECT doc_id, source,
                  CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
                  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_ws,
                  CAST(len(list_filter(string_split(norm, ' '),
                                       x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop,
                  CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
                  CAST(length(norm) AS BIGINT) AS n_chars
           FROM t),
         r AS (
           SELECT doc_id, source, n_tokens,
                  CAST(LEAST(100, CAST(FLOOR((CAST(FLOOR(100.0*n_stop/n_ws) AS BIGINT)
                                              + CAST(FLOOR(100.0*n_alpha/n_chars) AS BIGINT))/2.0) AS BIGINT)) AS BIGINT) AS quality_score
           FROM c),
         w AS (
           SELECT doc_id, source, n_tokens, quality_score,
                  CAST(SUM(n_tokens) OVER (PARTITION BY source
                                           ORDER BY quality_score DESC, doc_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM r)
         SELECT doc_id, source, n_tokens, quality_score, cum_tokens,
                cum_tokens <= 1000 AS selected
         FROM w ORDER BY doc_id""",
    // The ±1-corrected isqrt makes the T=2 weight exact whichever way
    // either engine's double sqrt rounded — same CASE as the Spark side.
    "mix_temperature" ->
      """WITH t AS (
           SELECT source, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         c AS (
           SELECT source,
                  CAST(SUM(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_tokens
           FROM t GROUP BY source),
         tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM c),
         sh AS (SELECT source, n_tokens,
                       (n_tokens * 1000000) // total AS share_x1e6 FROM c, tot),
         r AS (SELECT source, n_tokens, share_x1e6, share_x1e6 * 1000000 AS a,
                      CAST(FLOOR(SQRT(CAST(share_x1e6 * 1000000 AS DOUBLE))) AS BIGINT) AS r0
               FROM sh),
         w AS (SELECT source, n_tokens, share_x1e6,
                      CASE WHEN r0 * r0 > a THEN r0 - 1
                           WHEN (r0 + 1) * (r0 + 1) <= a THEN r0 + 1
                           ELSE r0 END AS weight_x1e6
               FROM r),
         sw AS (SELECT CAST(SUM(weight_x1e6) AS BIGINT) AS sum_w FROM w),
         al AS (SELECT source, n_tokens, share_x1e6, weight_x1e6,
                       (10000 * weight_x1e6) // sum_w AS alloc_tokens FROM w, sw)
         SELECT source, n_tokens, share_x1e6, weight_x1e6, alloc_tokens,
                (alloc_tokens * 1000000) // n_tokens AS epochs_x1e6
         FROM al ORDER BY source""",
    "corpus_manifest" ->
      """WITH d AS (
           SELECT source, lang,
                  CAST(len(regexp_extract_all(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS toks,
                  CAST(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS BIGINT) AS chars,
                  sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
           FROM documents)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(toks) AS BIGINT) AS n_tokens,
                CAST(SUM(chars) AS BIGINT) AS n_chars,
                CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups
         FROM d GROUP BY source ORDER BY source""",
    "shard_assign_balanced" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, n_tokens,
                  CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS size_rank
           FROM d),
         a AS (SELECT doc_id, n_tokens, size_rank, (size_rank - 1) % 8 AS shard FROM r),
         t AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS shard_docs,
                      CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
               FROM a GROUP BY shard)
         SELECT a.doc_id, a.n_tokens, a.size_rank, a.shard, t.shard_docs, t.shard_tokens
         FROM a JOIN t USING (shard) ORDER BY a.doc_id""",
    "pretrain_corpus" ->
      """WITH t AS (
           SELECT doc_id, source, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
           FROM documents),
         c AS (SELECT doc_id, source, norm, string_split(norm, ' ') AS toks FROM t),
         gopher AS (
           SELECT doc_id,
                  (CAST(len(toks) AS BIGINT) BETWEEN 5 AND 100000)
                    AND (CAST(FLOOR(100.0*(length(norm) - (len(toks)-1))/len(toks)) AS BIGINT) BETWEEN 300 AND 1000)
                    AND (CAST(FLOOR(100.0*len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))/len(toks)) AS BIGINT) >= 70)
                    AS keep_gopher
           FROM c),
         b AS (
           SELECT doc_id, toks,
                  CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                       ELSE [array_to_string(toks, ' ')] END AS bigrams
           FROM c),
         e AS (SELECT doc_id, unnest(bigrams) AS bg FROM b),
         cnt AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM e GROUP BY doc_id, bg),
         topb AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM cnt GROUP BY doc_id),
         rep AS (
           SELECT b.doc_id,
                  (FLOOR(100.0 * len(list_distinct(toks)) / len(toks)) >= 30)
                    AND (FLOOR(100.0 * topb.top_cnt / len(bigrams)) <= 20) AS keep_rep
           FROM b JOIN topb USING (doc_id)),
         keepers AS (SELECT MIN(doc_id) AS doc_id FROM t GROUP BY norm),
         g AS (
           SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
             THEN list_distinct(list_transform(range(1, len(toks) - 6),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
                       toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
             ELSE [array_to_string(toks, ' ')] END) AS ng
           FROM c),
         ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
         hit AS (SELECT g.doc_id FROM g JOIN ev USING (ng)
                 WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id),
         mixn AS (
           SELECT doc_id, source,
                  CAST(w // 100 + CASE WHEN bucket < w % 100 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
           FROM (SELECT doc_id, source,
                        CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 125
                                    WHEN 'src2' THEN 50 ELSE 100 END AS w,
                        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
                 FROM t) z)
         SELECT c.doc_id, mixn.source,
                CAST(len(c.toks) AS BIGINT) AS n_tokens,
                mixn.n_copies
         FROM c
         JOIN gopher USING (doc_id)
         JOIN rep USING (doc_id)
         JOIN mixn USING (doc_id)
         JOIN keepers USING (doc_id)
         LEFT JOIN hit ON hit.doc_id = c.doc_id
         WHERE c.doc_id % 97 <> 0 AND gopher.keep_gopher AND rep.keep_rep
           AND hit.doc_id IS NULL AND mixn.n_copies >= 1
         ORDER BY doc_id""",
    "text_repetition_filter" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, toks,
                  CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                       ELSE [array_to_string(toks, ' ')] END AS bigrams
           FROM t),
         e AS (SELECT doc_id, unnest(bigrams) AS bg FROM b),
         c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM e GROUP BY doc_id, bg),
         top AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM c GROUP BY doc_id)
         SELECT b.doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(FLOOR(100.0 * len(list_distinct(toks)) / len(toks)) AS BIGINT) AS distinct_tok_x100,
                CAST(FLOOR(100.0 * top.top_cnt / len(bigrams)) AS BIGINT) AS top_bigram_x100,
                (FLOOR(100.0 * len(list_distinct(toks)) / len(toks)) >= 30)
                  AND (FLOOR(100.0 * top.top_cnt / len(bigrams)) <= 20) AS keep
         FROM b JOIN top USING (doc_id) ORDER BY doc_id""",
    // the streaming twin's batch form answers the SAME question on the
    // same slices — exact verdict only (the bloom screen inside is an
    // optimization, spec-covered), so the oracle is shared verbatim
    "stream_dedup_incremental" ->
      raw"""WITH h AS (
           SELECT doc_id, sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
           FROM documents),
         b AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % ${Dedup.DefaultDeltaMod} <> 0)
         SELECT h.doc_id, h.content_hash, b.content_hash IS NULL AS is_new
         FROM h LEFT JOIN b ON h.content_hash = b.content_hash
         WHERE h.doc_id % ${Dedup.DefaultDeltaMod} = 0 ORDER BY h.doc_id""",
    "dedup_incremental" ->
      raw"""WITH h AS (
           SELECT doc_id, sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
           FROM documents),
         b AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % ${Dedup.DefaultDeltaMod} <> 0)
         SELECT h.doc_id, h.content_hash, b.content_hash IS NULL AS is_new
         FROM h LEFT JOIN b ON h.content_hash = b.content_hash
         WHERE h.doc_id % ${Dedup.DefaultDeltaMod} = 0 ORDER BY h.doc_id""",
    // the persisted-artifact streaming shape answers the SAME question
    // from substrate-published base bytes — exact verdict unchanged
    "stream_dedup_persisted" ->
      raw"""WITH h AS (
           SELECT doc_id, sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
           FROM documents),
         b AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % ${Dedup.DefaultDeltaMod} <> 0)
         SELECT h.doc_id, h.content_hash, b.content_hash IS NULL AS is_new
         FROM h LEFT JOIN b ON h.content_hash = b.content_hash
         WHERE h.doc_id % ${Dedup.DefaultDeltaMod} = 0 ORDER BY h.doc_id""",
    "paged_extract" ->
      """SELECT doc_id, source, lang,
                CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 100 + 1 AS BIGINT) AS page
         FROM documents ORDER BY doc_id""",
    "keyed_extract" ->
      """SELECT CAST(l_suppkey AS BIGINT) AS supp_key,
                CAST(l_orderkey AS BIGINT) AS l_orderkey,
                CAST(l_partkey AS BIGINT) AS l_partkey,
                CAST(l_linenumber AS BIGINT) AS l_linenumber
         FROM lineitem WHERE l_partkey % 20 = 0 AND l_suppkey % 5 = 0
         ORDER BY supp_key, l_orderkey, l_linenumber""",
    // Same landed rows as keyed_extract BY CONTRACT — only the
    // checkpoint granularity differs (range units vs file-per-key),
    // so the same oracle hash-verifies the range road end to end.
    "ranged_extract" ->
      """SELECT CAST(l_suppkey AS BIGINT) AS supp_key,
                CAST(l_orderkey AS BIGINT) AS l_orderkey,
                CAST(l_partkey AS BIGINT) AS l_partkey,
                CAST(l_linenumber AS BIGINT) AS l_linenumber
         FROM lineitem WHERE l_partkey % 20 = 0 AND l_suppkey % 5 = 0
         ORDER BY supp_key, l_orderkey, l_linenumber""",
    "incremental_extract" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
                event_id, user_id, event_type
         FROM events ORDER BY day, event_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
                array_to_string(list_sort(list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))), ' ') AS fingerprint
         FROM documents ORDER BY doc_id""",
    // mm_extract_meta's container is a REAL 24-bit bottom-up BMP
    // (ImageIO-encoded once per corpus). Its layout is spec-fixed, so
    // the whole header surface — dims, bit depth, the 54-byte pixel
    // offset, the padded-row total size — is pure arithmetic: the
    // engine PARSES the bytes (substring/hex/conv little-endian), the
    // oracle PREDICTS them, and the hash match certifies both the
    // encode and the parse. header_ok/size_field_ok are the
    // byte-level witnesses (magic; header file-size field == actual
    // blob length) that the bytes really carry the predicted container.
    "mm_extract_meta" ->
      """WITH m AS (
           SELECT doc_id,
                  8 + doc_id % 25 AS w,
                  8 + (doc_id * 7) % 25 AS h
           FROM documents)
         SELECT doc_id,
                TRUE AS header_ok,
                CAST(w AS BIGINT) AS width,
                CAST(h AS BIGINT) AS height,
                CAST(24 AS BIGINT) AS bit_depth,
                CAST(54 AS BIGINT) AS data_offset,
                CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
                TRUE AS size_field_ok
         FROM m ORDER BY doc_id""",
    // The real-codec keys' oracles reproduce the deterministic pixel /
    // sample arithmetic WITHOUT any codec: Spark's numbers pass through
    // genuine PNG (ImageIO) / WAV (javax.sound) encode+decode, so a
    // hash match certifies the codec round trip bit-exactly.
    // JPEG is lossy, so decoded sums are codec-defined and not SQL-
    // replayable; the oracle-exact surface is the decoder's own header
    // parse (dims) + the SOI magic + the mean-tolerance witness the
    // engine computes from REAL decoded pixels (a broken codec loop
    // flips it and fails the hash).
    "mm_jpeg_decode" ->
      """SELECT doc_id,
                CAST(8 + doc_id % 25 AS BIGINT) AS width,
                CAST(8 + (doc_id * 7) % 25 AS BIGINT) AS height,
                CAST((8 + doc_id % 25) * (8 + (doc_id * 7) % 25) AS BIGINT) AS n_pixels,
                true AS jpeg_magic_ok,
                true AS mean_err_le_tol
         FROM documents ORDER BY doc_id""",
    "mm_image_decode" ->
      """WITH dims AS (
           SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id * 7) % 25 AS h
           FROM documents),
         px AS (
           SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims)
         SELECT doc_id, w AS width, h AS height, w * h AS n_pixels,
                CAST(SUM((doc_id*7919 + (3*p)  *104729) % 256) AS BIGINT) AS sum_r,
                CAST(SUM((doc_id*7919 + (3*p+1)*104729) % 256) AS BIGINT) AS sum_g,
                CAST(SUM((doc_id*7919 + (3*p+2)*104729) % 256) AS BIGINT) AS sum_b,
                CAST(1000 * SUM((doc_id*7919 + (3*p)  *104729) % 256
                              + (doc_id*7919 + (3*p+1)*104729) % 256
                              + (doc_id*7919 + (3*p+2)*104729) % 256)
                     // (3 * w * h) AS BIGINT) AS mean_rgb_x1000
         FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",
    "mm_image_resize" ->
      """WITH dims AS (
           SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id * 7) % 25 AS h
           FROM documents),
         q AS (
           SELECT doc_id, w, h, unnest(range(0, 64)) AS q FROM dims),
         px AS (
           SELECT doc_id, w, h,
                  (((q // 8) * h) // 8) * w + ((q % 8) * w) // 8 AS p
           FROM q)
         SELECT doc_id, w AS src_w, h AS src_h,
                CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
                CAST(SUM((doc_id*7919 + (3*p)  *104729) % 256) AS BIGINT) AS sum_r,
                CAST(SUM((doc_id*7919 + (3*p+1)*104729) % 256) AS BIGINT) AS sum_g,
                CAST(SUM((doc_id*7919 + (3*p+2)*104729) % 256) AS BIGINT) AS sum_b
         FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",
    "mm_audio_decode" ->
      """WITH n AS (
           SELECT doc_id, 400 + (doc_id * 13) % 1600 AS n FROM documents),
         s AS (
           SELECT doc_id, n,
                  ((doc_id*31 + unnest(range(0, n))*7) % 2048) - 1024 AS v
           FROM n)
         SELECT doc_id, n AS n_samples, CAST(8000 AS BIGINT) AS sample_rate,
                CAST(n * 125 AS BIGINT) AS duration_us,
                CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
                CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
                CAST(SUM(v * v) AS BIGINT) AS energy
         FROM s GROUP BY doc_id, n ORDER BY doc_id""",
    "mm_audio_segments" ->
      """WITH n AS (
           SELECT doc_id, 400 + (doc_id * 13) % 1600 AS n FROM documents),
         s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM n),
         v AS (
           SELECT doc_id, i // 100 AS frame_idx,
                  CASE WHEN (i // 100) % 7 = 3 THEN 0
                       ELSE ((doc_id*31 + i*7) % 2048) - 1024 END AS v
           FROM s)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(COUNT(*) AS BIGINT) AS n_in_frame,
                CAST(SUM(v*v) AS BIGINT) AS energy,
                CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
                SUM(v*v) < 1000 * COUNT(*) AS is_silent
         FROM v GROUP BY doc_id, frame_idx ORDER BY doc_id, frame_idx""",
    // aHash oracles: the variant corpus (every doc_id%5==0 is a
    // brightness-edited near-dup of doc_id-1), 8x8 NN thumbnail,
    // integer grayscale and mean threshold — all replayed codec-free,
    // so the hash match certifies decode+thumbnail+threshold.
    "mm_image_phash" ->
      """WITH base AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 AND doc_id > 0 THEN doc_id - 1 ELSE doc_id END AS src,
                  (doc_id % 5 = 0 AND doc_id > 0) AS is_variant
           FROM documents),
         dims AS (SELECT doc_id, src, is_variant, 8 + src % 25 AS w, 8 + (src * 7) % 25 AS h FROM base),
         grid AS (SELECT doc_id, src, is_variant, w, h, unnest(range(0, 64)) AS q FROM dims),
         px AS (SELECT doc_id, src, is_variant, q,
                       (((q // 8) * h) // 8) * w + ((q % 8) * w) // 8 AS p FROM grid),
         chan AS (
           SELECT doc_id, q,
                  LEAST(255, (src*7919 + (3*p)*104729) % 256
                             + CASE WHEN is_variant AND p % 2 = 0 THEN 32 ELSE 0 END) AS r,
                  (src*7919 + (3*p+1)*104729) % 256 AS g,
                  (src*7919 + (3*p+2)*104729) % 256 AS b
           FROM px),
         gray AS (SELECT doc_id, q, (r + g + b) // 3 AS v FROM chan),
         m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM gray GROUP BY doc_id),
         bits AS (
           SELECT g.doc_id,
                  CAST(SUM(CASE WHEN g.q < 32 AND g.v > m.mean THEN 1::BIGINT << g.q ELSE 0 END) AS BIGINT) AS phash_hi,
                  CAST(SUM(CASE WHEN g.q >= 32 AND g.v > m.mean THEN 1::BIGINT << (g.q - 32) ELSE 0 END) AS BIGINT) AS phash_lo
           FROM gray g JOIN m USING (doc_id) GROUP BY g.doc_id)
         SELECT doc_id, phash_hi, phash_lo FROM bits ORDER BY doc_id""",
    "mm_phash_pairs" ->
      """WITH base AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 AND doc_id > 0 THEN doc_id - 1 ELSE doc_id END AS src,
                  (doc_id % 5 = 0 AND doc_id > 0) AS is_variant
           FROM documents),
         dims AS (SELECT doc_id, src, is_variant, 8 + src % 25 AS w, 8 + (src * 7) % 25 AS h FROM base),
         grid AS (SELECT doc_id, src, is_variant, w, h, unnest(range(0, 64)) AS q FROM dims),
         px AS (SELECT doc_id, src, is_variant, q,
                       (((q // 8) * h) // 8) * w + ((q % 8) * w) // 8 AS p FROM grid),
         chan AS (
           SELECT doc_id, q,
                  LEAST(255, (src*7919 + (3*p)*104729) % 256
                             + CASE WHEN is_variant AND p % 2 = 0 THEN 32 ELSE 0 END) AS r,
                  (src*7919 + (3*p+1)*104729) % 256 AS g,
                  (src*7919 + (3*p+2)*104729) % 256 AS b
           FROM px),
         gray AS (SELECT doc_id, q, (r + g + b) // 3 AS v FROM chan),
         m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM gray GROUP BY doc_id),
         bits AS (
           SELECT g.doc_id,
                  CAST(SUM(CASE WHEN g.q < 32 AND g.v > m.mean THEN 1::BIGINT << g.q ELSE 0 END) AS BIGINT) AS phash_hi,
                  CAST(SUM(CASE WHEN g.q >= 32 AND g.v > m.mean THEN 1::BIGINT << (g.q - 32) ELSE 0 END) AS BIGINT) AS phash_lo
           FROM gray g JOIN m USING (doc_id) GROUP BY g.doc_id)
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                     + bit_count(xor(a.phash_lo, b.phash_lo)) AS BIGINT) AS hamming
         FROM bits a JOIN bits b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash_hi, b.phash_hi))
               + bit_count(xor(a.phash_lo, b.phash_lo)) <= 3
         ORDER BY a, b""",
    "salted_join_skew" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_events,
                CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    // Interval-join road to the same answer the engine reaches via
    // union+window carry — agreement proves the SCD2 intervals
    // partition each key's timeline (zero-length same-instant
    // intervals match nothing on both roads).
    "temporal_join_scd2" ->
      """WITH v AS (
           SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns,
                  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY epoch_ns(ts), event_id) AS BIGINT) AS version_seq,
                  LEAD(epoch_ns(ts)) OVER (PARTITION BY user_id
                         ORDER BY epoch_ns(ts), event_id) AS valid_to_ns
           FROM events WHERE event_type <> 'purchase'),
         p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
               FROM events WHERE event_type = 'purchase')
         SELECT p.event_id AS purchase_event_id, p.user_id,
                p.ts_ns // 1000 AS purchase_ts_us,
                v.event_id AS state_event_id, v.event_type AS state_type,
                v.version_seq, v.ts_ns // 1000 AS valid_from_us
         FROM p LEFT JOIN v ON v.user_id = p.user_id
                           AND v.ts_ns <= p.ts_ns
                           AND (v.valid_to_ns IS NULL OR p.ts_ns < v.valid_to_ns)
         ORDER BY purchase_event_id""",
    "q4_priority_exists" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_returnflag = 'R')
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    "q5_region_volume" ->
      """SELECT n.n_name,
                CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n.n_name
         ORDER BY revenue DESC, n.n_name""",
    "q7_nation_volume" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
                CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS volume
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
         JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
         WHERE n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3
         ORDER BY cust_nation, supp_nation, l_year""",
    "mm_payload_dedup" ->
      """WITH d AS (
           SELECT doc_id, md5(text) AS body_digest,
                  CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes
           FROM documents),
         r AS (SELECT body_digest, MIN(doc_id) AS rep_doc_id,
                      CAST(COUNT(*) AS BIGINT) AS n_copies
               FROM d GROUP BY body_digest)
         SELECT d.doc_id, d.body_digest, d.body_bytes, r.rep_doc_id, r.n_copies,
                d.doc_id <> r.rep_doc_id AS is_dup
         FROM d JOIN r USING (body_digest) ORDER BY d.doc_id""",
    "q10_returned_revenue" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND o.o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
         GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
         ORDER BY revenue DESC, c.c_custkey
         LIMIT 20""",
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    // per-row micro-unit flooring (identical IEEE product both
    // engines), ppm via HUGEINT multiply-floor-divide: sums are
    // non-negative so // == Spark's decimal div here
    "q14_promo_share" ->
      """WITH r AS (
           SELECT CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 1000000) AS BIGINT) AS rev_micro,
                  p.p_type
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
             AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00')
         SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_micro ELSE 0 END) AS BIGINT) AS promo_micro,
                CAST(SUM(rev_micro) AS BIGINT) AS total_micro,
                CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_micro ELSE 0 END) AS HUGEINT)
                     * 1000000 // CAST(SUM(rev_micro) AS HUGEINT) AS BIGINT) AS promo_ppm
         FROM r""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT)) AS BIGINT)
                    AS total_rev_micro
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, rev.total_rev_micro
         FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
         WHERE rev.total_rev_micro = (SELECT MAX(total_rev_micro) FROM rev)
         ORDER BY s.s_suppkey""",
    "q19_discounted_revenue" ->
      """SELECT CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
                AND l.l_quantity BETWEEN 20 AND 30)""",
    "q8_market_share" ->
      """WITH asia_cust AS (
           SELECT c.c_custkey FROM customer c
           JOIN nation n ON n.n_nationkey = c.c_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey
           WHERE r.r_name = 'ASIA'),
         f AS (
           SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                  CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 1000000) AS BIGINT) AS rev_micro,
                  sn.n_name AS supp_nation
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN asia_cust ac ON ac.c_custkey = o.o_custkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation sn ON sn.n_nationkey = s.s_nationkey)
         SELECT o_year,
                CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_micro ELSE 0 END) AS BIGINT) AS target_rev_micro,
                CAST(SUM(rev_micro) AS BIGINT) AS total_rev_micro,
                CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_micro ELSE 0 END) AS HUGEINT)
                     * 1000000 // CAST(SUM(rev_micro) AS HUGEINT) AS BIGINT) AS share_ppm
         FROM f GROUP BY o_year ORDER BY o_year""",
    "q22_untapped_customers" ->
      """WITH c AS (
           SELECT c_custkey, c_nationkey,
                  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
           FROM customer),
         t AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS pos_sum,
                      CAST(COUNT(*) AS BIGINT) AS pos_n
               FROM c WHERE bal_cents > 0)
         SELECT CAST(c.c_nationkey AS BIGINT) AS nation_key,
                CAST(COUNT(*) AS BIGINT) AS n_customers,
                CAST(SUM(c.bal_cents) AS BIGINT) AS total_bal_cents
         FROM c CROSS JOIN t
         WHERE c.bal_cents * t.pos_n > t.pos_sum
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
         GROUP BY c.c_nationkey ORDER BY nation_key""",
    "q18_large_orders" ->
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
                CAST(o.o_orderdate AS DATE) AS orderdate,
                o.o_totalprice, t.total_qty
         FROM orders o
         JOIN (SELECT l_orderkey,
                      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING SUM(CAST(l_quantity AS BIGINT)) > 250) t
           ON o.o_orderkey = t.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY t.total_qty DESC, o.o_orderkey
         LIMIT 100""",
    "q13_order_distribution" ->
      """WITH per_cust AS (
           SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c_count
           FROM orders WHERE o_orderpriority NOT LIKE '1-%'
           GROUP BY o_custkey)
         SELECT COALESCE(p.c_count, 0) AS c_count,
                CAST(COUNT(*) AS BIGINT) AS custdist
         FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
         GROUP BY COALESCE(p.c_count, 0)
         ORDER BY custdist DESC, c_count DESC""",
    "q17_small_qty_revenue" ->
      """WITH li AS (
           SELECT l.l_partkey,
                  CAST(l.l_quantity AS BIGINT) AS qty,
                  CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT) AS price_cents
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey
           WHERE p.p_brand = 'Brand#23' AND p.p_size < 15),
         stats AS (
           SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
                  CAST(COUNT(*) AS BIGINT) AS n_lines
           FROM li GROUP BY l_partkey)
         SELECT CAST(SUM(li.price_cents) AS BIGINT) AS total_cents,
                CAST(COUNT(*) AS BIGINT) AS n_small_lines,
                CAST(CAST(SUM(li.price_cents) AS HUGEINT) // 7 AS BIGINT) AS avg_yearly_cents
         FROM li JOIN stats st ON li.l_partkey = st.l_partkey
         WHERE li.qty * 5 * st.n_lines < st.sum_qty""",
    "q2_min_cost_supplier" ->
      """WITH quotes AS (
           SELECT p.p_partkey, p.p_size, l.l_suppkey, s.s_name, s.s_acctbal, n.n_name,
                  MIN((CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT) * 10000)
                      // CAST(l.l_quantity AS BIGINT)) AS pair_min_micro
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey
            AND p.p_type = 'LARGE' AND p.p_size <= 15
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n ON n.n_nationkey = s.s_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
           GROUP BY 1, 2, 3, 4, 5, 6),
         part_min AS (
           SELECT p_partkey, MIN(pair_min_micro) AS min_micro
           FROM quotes GROUP BY p_partkey)
         SELECT q.s_acctbal, q.s_name, q.n_name, q.p_partkey, q.p_size,
                CAST(q.pair_min_micro AS BIGINT) AS unit_micro
         FROM quotes q JOIN part_min m
           ON q.p_partkey = m.p_partkey AND q.pair_min_micro = m.min_micro
         ORDER BY q.s_acctbal DESC, q.n_name, q.s_name, q.p_partkey
         LIMIT 100""",
    "q9_profit_by_nation" ->
      """SELECT n.n_name AS supp_nation,
                CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 1000000) AS BIGINT)
                         - CAST(FLOOR(p.p_retailprice * 100) AS BIGINT)
                           * CAST(l.l_quantity AS BIGINT) * 10000) AS BIGINT) AS sum_profit_micro,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         GROUP BY n.n_name, year(o.o_orderdate)
         ORDER BY supp_nation, o_year DESC""",
    "q11_important_parts" ->
      """WITH per_part AS (
           SELECT l_partkey,
                  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                    AS part_value_cents
           FROM lineitem GROUP BY l_partkey),
         t AS (SELECT CAST(SUM(part_value_cents) AS BIGINT) AS total_cents,
                      CAST(COUNT(*) AS BIGINT) AS n_parts FROM per_part)
         SELECT p.l_partkey AS p_partkey, p.part_value_cents
         FROM per_part p CROSS JOIN t
         WHERE CAST(p.part_value_cents AS HUGEINT) * t.n_parts * 2
               > CAST(t.total_cents AS HUGEINT) * 3
         ORDER BY p.part_value_cents DESC, p_partkey""",
    "q16_supplier_variety" ->
      """WITH pairs AS (
           SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         ok AS (
           SELECT pr.l_partkey, pr.l_suppkey FROM pairs pr
           WHERE NOT EXISTS (SELECT 1 FROM supplier s
                             WHERE s.s_suppkey = pr.l_suppkey AND s.s_acctbal < 0))
         SELECT p.p_brand, p.p_type, p.p_size,
                CAST(COUNT(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
         FROM ok JOIN part p ON p.p_partkey = ok.l_partkey
         WHERE p.p_brand <> 'Brand#5'
           AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         GROUP BY p.p_brand, p.p_type, p.p_size
         ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""",
    "q12_late_shipments" ->
      """SELECT l.l_returnflag,
                CAST(SUM(CASE WHEN o.o_orderpriority LIKE '1-%'
                               OR o.o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END) AS BIGINT)
                  AS high_line_count,
                CAST(SUM(CASE WHEN o.o_orderpriority LIKE '1-%'
                               OR o.o_orderpriority LIKE '2-%' THEN 0 ELSE 1 END) AS BIGINT)
                  AS low_line_count
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",
    "q20_dominant_suppliers" ->
      """WITH pairs AS (
           SELECT l.l_partkey, l.l_suppkey,
                  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
           GROUP BY l.l_partkey, l.l_suppkey),
         totals AS (
           SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS total_qty
           FROM pairs GROUP BY l_partkey),
         dominant AS (
           SELECT DISTINCT pr.l_suppkey
           FROM pairs pr JOIN totals t ON t.l_partkey = pr.l_partkey
           WHERE pr.pair_qty * 5 > t.total_qty)
         SELECT s.s_suppkey, s.s_name, n.n_name
         FROM supplier s
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
         ORDER BY s.s_suppkey""",
    "q21_waiting_suppliers" ->
      """WITH pairs AS (
           SELECT l.l_orderkey, l.l_suppkey, MAX(l.l_shipdate) AS supp_last
           FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
           GROUP BY l.l_orderkey, l.l_suppkey),
         per_order AS (
           SELECT l_orderkey, MAX(supp_last) AS order_last,
                  COUNT(*) AS n_suppliers
           FROM pairs GROUP BY l_orderkey),
         laggards AS (
           SELECT p.l_orderkey,
                  SUM(CASE WHEN p.supp_last = po.order_last THEN 1 ELSE 0 END) AS n_at_max,
                  MAX(CASE WHEN p.supp_last = po.order_last THEN p.l_suppkey END) AS sole_suppkey
           FROM pairs p JOIN per_order po ON po.l_orderkey = p.l_orderkey
           WHERE po.n_suppliers >= 2
           GROUP BY p.l_orderkey
           HAVING SUM(CASE WHEN p.supp_last = po.order_last THEN 1 ELSE 0 END) = 1)
         SELECT CAST(lg.sole_suppkey AS BIGINT) AS s_suppkey, s.s_name,
                CAST(COUNT(*) AS BIGINT) AS numwait
         FROM laggards lg JOIN supplier s ON s.s_suppkey = lg.sole_suppkey
         GROUP BY lg.sole_suppkey, s.s_name
         ORDER BY numwait DESC, s_suppkey
         LIMIT 10""",
    "ann_bruteforce_topk" -> annBruteforceOracle,
    // probing EVERY cell makes IVF ≡ brute force — the identity the
    // spec proves, here also witnessed by the driver's DuckDB hash
    // (and likewise for the filtered and kNN-graph IVF tiers below)
    "ann_ivf_allprobe" -> annBruteforceOracle,
    "ann_filtered_allprobe" -> annFilteredOracle,
    "ann_sq8_topk" -> annSq8Oracle,
    "knn_graph_allprobe" -> knnGraphOracle,
    "ann_filtered_topk" -> annFilteredOracle,
    // string shingles where the engine groups 8-byte xxhash64 values —
    // the hashedShingles hash-group-equals-string-group argument; the
    // complete matrix (zero-overlap pairs included) comes from the
    // bounded distinct-source cross
    "corpus_overlap_matrix" ->
      """WITH t AS (
           SELECT source, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT source,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         d AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh),
         ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY source),
         shared AS (
           SELECT x.source AS source_a, y.source AS source_b,
                  CAST(COUNT(*) AS BIGINT) AS shared_shingles
           FROM d x JOIN d y ON x.g = y.g AND x.source < y.source
           GROUP BY 1, 2),
         m AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  a.n AS n_a, b.n AS n_b
           FROM ns a JOIN ns b ON a.source < b.source)
         SELECT m.source_a, m.source_b,
                COALESCE(s.shared_shingles, 0) AS shared_shingles,
                m.n_a, m.n_b,
                (COALESCE(s.shared_shingles, 0) * 1000000) // (m.n_a + m.n_b - COALESCE(s.shared_shingles, 0)) AS jaccard_x1e6
         FROM m LEFT JOIN shared s USING (source_a, source_b)
         ORDER BY m.source_a, m.source_b""",
    "kmeans_step" -> kmeansStepOracle,
    // GENUINE undirected reachability over the verified near-dup pair
    // set: reach(x, r) holds every r reachable from x through the
    // SYMMETRIZED edge list, so MIN(r) per doc is the true connected
    // component minimum — the oracle is independent of the engine's
    // label-propagation mechanics (unlike a one-hop pointer chase,
    // this merges docs linked only through a shared larger neighbor:
    // edges (1,3),(2,3) put 1, 2 and 3 in one component).
    "dedup_keep_best" ->
      """WITH RECURSIVE
         t AS (
           SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         tk AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM tk),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800),
         sym AS (
           SELECT a, b FROM pairs
           UNION ALL
           SELECT b AS a, a AS b FROM pairs),
         reach(doc_id, r) AS (
           SELECT doc_id, doc_id AS r FROM documents
           UNION
           SELECT s.a AS doc_id, c.r FROM sym s JOIN reach c ON s.b = c.doc_id),
         comp AS (SELECT doc_id, MIN(r) AS rep_doc_id FROM reach GROUP BY doc_id),
         qc AS (
           SELECT doc_id,
                  CAST(length(norm) AS BIGINT) AS n_chars,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop,
                  CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
           FROM tk),
         q AS (
           SELECT doc_id,
                  CAST(LEAST(100, CAST(FLOOR((FLOOR(100.0*n_stop/n_tokens) + FLOOR(100.0*n_alpha/n_chars))/2.0) AS BIGINT)) AS BIGINT) AS quality_score
           FROM qc)
         SELECT comp.doc_id,
                FIRST_VALUE(comp.doc_id) OVER (PARTITION BY comp.rep_doc_id
                                               ORDER BY q.quality_score DESC, comp.doc_id) AS best_doc_id,
                FIRST_VALUE(comp.doc_id) OVER (PARTITION BY comp.rep_doc_id
                                               ORDER BY q.quality_score DESC, comp.doc_id) = comp.doc_id AS is_kept
         FROM comp JOIN q USING (doc_id)
         ORDER BY doc_id""",
    "dedup_clusters" ->
      """WITH RECURSIVE
         t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800),
         sym AS (
           SELECT a, b FROM pairs
           UNION ALL
           SELECT b AS a, a AS b FROM pairs),
         reach(doc_id, r) AS (
           SELECT doc_id, doc_id AS r FROM documents
           UNION
           SELECT s.a AS doc_id, c.r FROM sym s JOIN reach c ON s.b = c.doc_id)
         SELECT doc_id, MIN(r) AS rep_doc_id, MIN(r) <> doc_id AS is_dup
         FROM reach GROUP BY doc_id ORDER BY doc_id""",
    "dedup_soft_weight" ->
      """WITH RECURSIVE
         t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800),
         sym AS (
           SELECT a, b FROM pairs
           UNION ALL
           SELECT b AS a, a AS b FROM pairs),
         reach(doc_id, r) AS (
           SELECT doc_id, doc_id AS r FROM documents
           UNION
           SELECT s.a AS doc_id, c.r FROM sym s JOIN reach c ON s.b = c.doc_id),
         comp AS (SELECT doc_id, MIN(r) AS rep_doc_id FROM reach GROUP BY doc_id),
         cs AS (SELECT rep_doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY rep_doc_id)
         SELECT comp.doc_id, comp.rep_doc_id, cs.cluster_size,
                CAST(FLOOR(1000.0 / cs.cluster_size) AS BIGINT) AS weight_x1000
         FROM comp JOIN cs USING (rep_doc_id) ORDER BY comp.doc_id""",
    "dedup_rate_by_source" ->
      """WITH RECURSIVE
         t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800),
         sym AS (
           SELECT a, b FROM pairs
           UNION ALL
           SELECT b AS a, a AS b FROM pairs),
         reach(doc_id, r) AS (
           SELECT doc_id, doc_id AS r FROM documents
           UNION
           SELECT s.a AS doc_id, c.r FROM sym s JOIN reach c ON s.b = c.doc_id),
         comp AS (SELECT doc_id, MIN(r) AS rep FROM reach GROUP BY doc_id),
         cs AS (SELECT c.rep, COUNT(DISTINCT d.source) AS n_sources
                FROM comp c JOIN documents d USING (doc_id) GROUP BY c.rep)
         SELECT d.source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN c.rep <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                CAST(SUM(CASE WHEN cs.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source,
                CAST(1000000 * SUM(CASE WHEN c.rep <> d.doc_id THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS dup_ppm
         FROM documents d JOIN comp c USING (doc_id) JOIN cs ON cs.rep = c.rep
         GROUP BY d.source ORDER BY d.source""",
    "split_leakage" ->
      """WITH
         t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(FLOOR(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800),
         sp AS (
           SELECT doc_id,
                  CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80
                       THEN 'train' ELSE 'test' END AS split
           FROM documents),
         lab AS (
           SELECT LEAST(sa.split, sb.split) AS split_a,
                  GREATEST(sa.split, sb.split) AS split_b, p.a, p.b
           FROM pairs p JOIN sp sa ON p.a = sa.doc_id JOIN sp sb ON p.b = sb.doc_id),
         np AS (SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
                FROM lab GROUP BY split_a, split_b),
         nd AS (SELECT split_a, split_b, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
                FROM (SELECT split_a, split_b, a AS doc FROM lab
                      UNION ALL SELECT split_a, split_b, b AS doc FROM lab)
                GROUP BY split_a, split_b),
         ss AS (SELECT DISTINCT split FROM sp),
         combos AS (SELECT s1.split AS split_a, s2.split AS split_b
                    FROM ss s1 CROSS JOIN ss s2 WHERE s1.split <= s2.split)
         SELECT c.split_a, c.split_b,
                CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
         FROM combos c
         LEFT JOIN np ON c.split_a = np.split_a AND c.split_b = np.split_b
         LEFT JOIN nd ON c.split_a = nd.split_a AND c.split_b = nd.split_b
         ORDER BY c.split_a, c.split_b""",
  ).map { case (k, v) => k -> v.stripMargin.replaceAll("\\s+", " ").trim }

  /** Shared CTE chain for the label-prop family: co-purchase edges,
    * symmetrized adjacency, and `iters` unrolled Jacobi rounds ending
    * at `lp<iters>`. One definition so the community assignment in
    * `graph_label_prop` and `graph_modularity` cannot drift.
    */
  private def labelPropChain(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""v$i AS (
           SELECT s.dst AS node, c.label, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM sym s JOIN lp${i - 1} c ON c.node = s.src
           GROUP BY s.dst, c.label),
         r$i AS (
           SELECT node, label,
                  ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
           FROM v$i),
         lp$i AS (
           SELECT n.node, COALESCE(r.label, n.node) AS label
           FROM nodes n LEFT JOIN (SELECT node, label FROM r$i WHERE rn = 1) r
             ON r.node = n.node)"""
    }.mkString(",\n")
    s"""pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (SELECT x.l_partkey AS a, y.l_partkey AS b
              FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey
                                 AND x.l_partkey < y.l_partkey
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        sym AS (SELECT a AS src, b AS dst FROM e
                UNION ALL SELECT b AS src, a AS dst FROM e),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        lp0 AS (SELECT node, node AS label FROM nodes),
        $rounds"""
  }

  /** Unrolled Jacobi label-propagation mirror (5 rounds over the
    * co-purchase graph) — aggregates over a recursive reference are
    * not portable SQL, so the iteration count is baked like the
    * PageRank oracle's. Tie-break (cnt desc, label) matches the
    * engine's window exactly.
    */
  private lazy val labelPropOracle: String = {
    val iters = 5
    s"""WITH ${labelPropChain(iters)}
        SELECT node AS part_key, label AS community,
               CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
        FROM lp$iters ORDER BY part_key"""
  }

  /** Modularity over the SAME lp<iters> assignment; cross products in
    * HUGEINT (engine: DECIMAL(38)), per-community term via the
    * sign-safe trunc-div CASE (terms go negative on fragmented
    * communities — // floors, Spark div truncates).
    */
  private lazy val graphModularityOracle: String = {
    val iters = 5
    s"""WITH ${labelPropChain(iters)},
        m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m_edges FROM e),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
                FROM sym GROUP BY src),
        dc AS (SELECT l.label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                      CAST(SUM(deg.degree) AS HUGEINT) AS degree_sum
               FROM lp$iters l JOIN deg ON deg.node = l.node GROUP BY l.label),
        ie AS (SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
               FROM e JOIN lp$iters la ON la.node = e.a
                      JOIN lp$iters lb ON lb.node = e.b
               WHERE la.label = lb.label GROUP BY la.label),
        j AS (SELECT dc.community, dc.n_nodes, dc.degree_sum,
                     CAST(COALESCE(ie.intra_edges, 0) AS HUGEINT) AS intra_edges,
                     m.m_edges
              FROM dc LEFT JOIN ie ON ie.community = dc.community CROSS JOIN m),
        k AS (SELECT community, n_nodes, degree_sum, intra_edges,
                     1000000000 * (4 * m_edges * intra_edges - degree_sum * degree_sum) AS num,
                     4 * m_edges * m_edges AS den
              FROM j)
        SELECT community, n_nodes,
               CAST(degree_sum AS BIGINT) AS degree_sum,
               CAST(intra_edges AS BIGINT) AS intra_edges,
               CAST(CASE WHEN num >= 0 THEN num // den
                    ELSE -((-num) // den) END AS BIGINT) AS term_x1e9
        FROM k ORDER BY community"""
  }

  /** Bit-arithmetic mirror of [[graft.functions.InterleaveBits]]: the
    * z-value is a disjoint-bit sum, so 21 explicit shift-mask terms per
    * dimension reproduce the codegen'd loop exactly in any engine with
    * BIGINT `>> & <<`.
    */
  private lazy val zorderOracle: String = {
    val bits = 21
    val terms = (0 until bits).flatMap(i => Seq(
      s"(((event_id >> $i) & 1) << ${2 * i})",
      s"(((user_id >> $i) & 1) << ${2 * i + 1})"))
    s"""SELECT event_id, user_id, CAST(${terms.mkString(" + ")} AS BIGINT) AS zval
        FROM events ORDER BY event_id"""
  }

  /** Level-by-level unrolled mirror of [[graft.functions.HilbertIndex]]:
    * unlike the z-key's disjoint-bit sum, the Hilbert recursion
    * carries MUTABLE state (the reflect/transpose of the sub-square),
    * so the oracle is a chain of 21 CTEs each advancing (x, y, d) one
    * level — the same shape as the PageRank unroll. Flips can drive
    * intermediate x/y negative; `&` on two's-complement BIGINT agrees
    * between DuckDB and the JVM, so the per-level bit tests match the
    * engine exactly. Each level's weight s² is cast to BIGINT: DuckDB
    * types the literal 2^30 as INTEGER, and 2^30 · 2 overflows it.
    */
  private lazy val hilbertOracle: String = {
    val bits = 21
    val levels = (bits - 1) to 0 by -1
    val steps = levels.zipWithIndex.map { case (lvl, j) =>
      val s = 1L << lvl
      s"""l${j + 1} AS (
         SELECT event_id, user_id,
                d + CAST(${s * s} AS BIGINT) * (CASE WHEN (x & $s) <> 0
                                     THEN 3 - (CASE WHEN (y & $s) <> 0 THEN 1 ELSE 0 END)
                                     ELSE (CASE WHEN (y & $s) <> 0 THEN 1 ELSE 0 END) END) AS d,
                CASE WHEN (y & $s) = 0
                     THEN (CASE WHEN (x & $s) <> 0 THEN ${s - 1} - y ELSE y END)
                     ELSE x END AS x,
                CASE WHEN (y & $s) = 0
                     THEN (CASE WHEN (x & $s) <> 0 THEN ${s - 1} - x ELSE x END)
                     ELSE y END AS y
         FROM l$j)"""
    }
    s"""WITH l0 AS (
          SELECT event_id, user_id, event_id AS x, user_id AS y,
                 CAST(0 AS BIGINT) AS d FROM events),
        ${steps.mkString(",\n")}
        SELECT event_id, user_id, CAST(d AS BIGINT) AS hval
        FROM l$bits ORDER BY event_id"""
  }

  /** Generated from the same term list as [[TextOps.bm25Rank]]'s
    * default so query and oracle cannot drift. Pure integer BM25 (see
    * the operator's derivation): per-term contribution is one BIGINT
    * `//` division, the doc score an order-independent integer sum.
    */
  private lazy val bm25Oracle: String = {
    val terms = Seq("spark", "vector", "dup")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i" }
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
    val contribs = terms.indices.map(i =>
      s"(22000 * (n_docs - df_$i) * tf_$i * s_tokens) // (10 * s_tokens * tf_$i + 3 * s_tokens + 9 * dl * n_docs)")
    val matched = terms.indices.map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END")
    s"""WITH t AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, ${tfCols.mkString(", ")} FROM t),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens,
                      ${dfCols.mkString(", ")} FROM c),
        sc AS (SELECT doc_id,
                      CAST(${contribs.mkString(" + ")} AS BIGINT) AS bm25_x1000,
                      CAST(${matched.mkString(" + ")} AS BIGINT) AS n_terms_matched
               FROM c, st),
        top AS (SELECT * FROM sc WHERE n_terms_matched > 0
                ORDER BY bm25_x1000 DESC, doc_id LIMIT 50)
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25_x1000 DESC, doc_id) AS BIGINT) AS rank,
               bm25_x1000, n_terms_matched
        FROM top ORDER BY doc_id"""
  }

  /** All-pairs variant of [[annBruteforceOracle]] (same expanded-sum
    * float-exactness trick, every vector a probe) for the kNN graph.
    * O(n²) with 3×64-term expressions — oracle-side only, at sf0.01.
    */
  private lazy val knnGraphOracle: String = {
    val dim = 64
    val dot = (1 to dim).map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)").mkString(" + ")
    val nx  = (1 to dim).map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(a.embedding[$i] AS DOUBLE)").mkString(" + ")
    val ny  = (1 to dim).map(i => s"CAST(b.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)").mkString(" + ")
    s"""WITH scored AS (
          SELECT a.vec_id, b.vec_id AS neighbor_id,
                 CASE WHEN sqrt($nx)*sqrt($ny) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(($dot) / (sqrt($nx)*sqrt($ny)) * 1000000.0) AS BIGINT) END AS cosine_x1e6
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT vec_id, rank, neighbor_id, cosine_x1e6 FROM ranked WHERE rank <= 5
        ORDER BY vec_id, rank"""
  }

  /** One Lloyd step with the same expanded-sum double-exactness trick
    * as [[annBruteforceOracle]]: the 64-term squared-L2 sum evaluates
    * left-associated in IEEE double — the engine's fold order — so
    * the argmin assignment is bit-identical; the centroid update
    * mirrors the integral micro-sum road of embedding_centroids,
    * with Spark's toward-zero `div` made explicit.
    */
  private lazy val kmeansStepOracle: String = {
    val dim = 64
    def t(i: Int) =
      s"(CAST(e.embedding[$i] AS DOUBLE) - CAST(s.embedding[$i] AS DOUBLE))"
    val d2 = (1 to dim).map(i => s"${t(i)}*${t(i)}").mkString(" + ")
    s"""WITH s AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
       d AS (SELECT e.vec_id, s.cid, ($d2) AS d2 FROM embeddings e CROSS JOIN s),
       a AS (SELECT vec_id, cid FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
               FROM d)
             WHERE rn = 1),
       p AS (SELECT unnest(range(1, ${dim + 1})) AS pos),
       m AS (SELECT a.cid AS cluster_id, p.pos AS pos, COUNT(*) AS n_vectors,
               CAST(SUM(CAST(FLOOR(1000000 * CAST(e.embedding[p.pos] AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_micro
             FROM a JOIN embeddings e ON e.vec_id = a.vec_id CROSS JOIN p
             GROUP BY a.cid, p.pos)
       SELECT cluster_id, CAST(pos AS BIGINT) AS pos, n_vectors, sum_micro,
              CAST(CASE WHEN sum_micro >= 0 THEN sum_micro // n_vectors
                   ELSE -((-sum_micro) // n_vectors) END AS BIGINT) AS centroid_micro
       FROM m ORDER BY cluster_id, pos"""
  }

  /** [[annBruteforceOracle]] with the probe's label as a pre-filter on
    * the scored corpus — the oracle for the filtered-search serving
    * shape (same expanded-sum cosine, same rank tie-break).
    */
  private lazy val annFilteredOracle: String = {
    val dim = 64
    val dot = (1 to dim).map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val nx  = (1 to dim).map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(a.embedding[$i] AS DOUBLE)").mkString(" + ")
    val ny  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe, label AS pl FROM embeddings WHERE vec_id % 100 < 2),
        scored AS (
          SELECT p.probe_id, a.vec_id AS neighbor_id, a.label,
                 CASE WHEN sqrt($nx)*sqrt($ny) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(($dot) / (sqrt($nx)*sqrt($ny)) * 1000000.0) AS BIGINT) END AS cosine_x1e6
          FROM embeddings a JOIN p ON a.vec_id <> p.probe_id AND a.label = p.pl),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, label, cosine_x1e6 FROM ranked WHERE rank <= 10
        ORDER BY probe_id, rank"""
  }

  /** The SQ8 serving tier fully oracle-checked: int8 quantization
    * (floor(127·x/max|x|), the [[Similarity.embeddingQuantize]] rule)
    * and the asymmetric float-probe × code cosine both expand to
    * exact-double SQL — GREATEST over 64 abs terms for the scale, a
    * 64-column code CTE, and the same expanded-sum/left-assoc trick
    * as [[annBruteforceOracle]]. The scale cancels in cosine, so the
    * oracle scores codes directly, like the engine kernel.
    */
  private lazy val annSq8Oracle: String = {
    val dim = 64
    val scale = (1 to dim).map(i => s"ABS(CAST(embedding[$i] AS DOUBLE))").mkString("GREATEST(", ", ", ")")
    val codeCols = (1 to dim).map(i =>
      s"CASE WHEN scale > 0 THEN FLOOR(127.0 * CAST(embedding[$i] AS DOUBLE) / scale) ELSE 0.0 END AS c$i").mkString(", ")
    val dot = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*c.c$i").mkString(" + ")
    val np  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val nc  = (1 to dim).map(i => s"c.c$i*c.c$i").mkString(" + ")
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        sc AS (SELECT vec_id, embedding, $scale AS scale FROM embeddings),
        c AS (SELECT vec_id, $codeCols FROM sc),
        scored AS (
          SELECT p.probe_id, c.vec_id AS neighbor_id,
                 CASE WHEN sqrt($np)*sqrt($nc) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(($dot) / (sqrt($np)*sqrt($nc)) * 1000000.0) AS BIGINT) END AS cosine_x1e6
          FROM c JOIN p ON c.vec_id <> p.probe_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, cosine_x1e6 FROM ranked WHERE rank <= 10
        ORDER BY probe_id, rank"""
  }

  /** The PQ serving tier fully oracle-checked, the [[annSq8Oracle]]
    * move one level up: the trained codebooks are deterministic seeded
    * model state, so they embed as a (m, c, v1..v4) VALUES table of
    * double literals and DuckDB replays ENCODE (per-subspace argmin of
    * the expanded 4-term
    * squared-L2 — left-associated doubles, the exact IEEE sequence of
    * [[graft.functions.PqEncode]]'s loop; ties to the lowest code via
    * the (d2, code) row_number order) and ADC scoring (the decoded
    * vector inlined as codebook lookups `cb[m][k_m+1][j]`, then the
    * same expanded-sum cosine as [[annBruteforceOracle]]) bit-for-bit.
    * Serves both `ann_pq_topk` and the `ann_ivfpq_allprobe` identity
    * (probe-all-cells IVF-PQ == PQ exactly — cells partition the
    * corpus, the scorer is shared). Generated per (session, dir) via
    * [[dynamicOracles]]; float literals print as shortest-round-trip
    * doubles (float→double is exact; DuckDB's parse is correctly
    * rounded), so the SQL sees the same constants the kernel does.
    */
  private def annPqOracle(s: SparkSession, dir: String): String = {
    val cbs = graft.operators.Similarity.pqDefaultCodebooks(s, dir)
    val nSub = cbs.length
    val nCodes = cbs.head.length
    val subDim = cbs.head.head.length
    val dim = nSub * subDim
    // the codebook lands as a 1024-ROW VALUES table (m, c, v1..v4) of
    // scalar doubles, not a nested-list literal referenced per row — a
    // DOUBLE[][][] literal in a 512k-row cross join re-evaluates the
    // 4096-element cast per row (measured: the list form never
    // finished at sf0.01; this form runs in seconds)
    val cbRows = (for {
      m <- 1 to nSub; c <- 0 until nCodes
    } yield (Seq(m, c) ++ cbs(m - 1)(c).map(_.toDouble.toString))
      .mkString("(", ", ", ")")).mkString(",\n           ")
    val vCols = (1 to subDim).map(j => s"v$j").mkString(", ")
    val d2 = (1 to subDim).map { j =>
      val t = s"(CAST(e.embedding[(b.m-1)*$subDim+$j] AS DOUBLE) - b.v$j)"
      s"$t*$t"
    }.mkString(" + ")
    // decoded dim i = the kept code's v_j, pivoted to a scalar column
    def dcol(i: Int) = s"d.d$i"
    val dPivot = (1 to dim).map { i =>
      val m = (i - 1) / subDim + 1; val j = (i - 1) % subDim + 1
      s"MAX(CASE WHEN m=$m THEN v$j END) AS d$i"
    }.mkString(", ")
    val dot = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*${dcol(i)}").mkString(" + ")
    val np  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val nd  = (1 to dim).map(i => s"${dcol(i)}*${dcol(i)}").mkString(" + ")
    s"""WITH cb(m, c, $vCols) AS MATERIALIZED (
          SELECT m, c, ${(1 to subDim).map(j => s"CAST(v$j AS DOUBLE)").mkString(", ")}
          FROM (VALUES $cbRows) t(m, c, $vCols)),
        enc AS MATERIALIZED (
          SELECT vec_id, m, c, $vCols FROM (
            SELECT e.vec_id, b.m, b.c, ${(1 to subDim).map(j => s"b.v$j").mkString(", ")},
                   row_number() OVER (PARTITION BY e.vec_id, b.m
                                      ORDER BY ($d2) ASC, b.c ASC) AS rn
            FROM embeddings e CROSS JOIN cb b)
          WHERE rn = 1),
        d AS MATERIALIZED (SELECT vec_id, $dPivot FROM enc GROUP BY vec_id),
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        scored AS (
          SELECT p.probe_id, d.vec_id AS neighbor_id,
                 CASE WHEN sqrt($np)*sqrt($nd) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(($dot) / (sqrt($np)*sqrt($nd)) * 1000000.0) AS BIGINT) END AS adc_cosine_x1e6
          FROM d JOIN p ON d.vec_id <> p.probe_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, adc_cosine_x1e6 FROM ranked WHERE rank <= 10
        ORDER BY probe_id, rank"""
  }

  /** Shared fragments for the IVF-family oracles ([[annIvfOracle]],
    * [[knnGraphIvfOracle]], [[annFilteredIvfOracle]],
    * [[annIvfPqOracle]]): the fitted coarse quantizer is deterministic
    * seeded model state (like the PQ codebooks), so it embeds as a
    * VALUES table carrying BOTH arithmetic forms each serving stage
    * reads — `a1..a64` the micro/1e6 DOUBLES `graft_kmeans_assign`
    * scans (corpus cell assignment), `r1..r64` their FLOAT recast as
    * staged in the broadcast centroid table (probe-side cell
    * ranking). Returns (centsCte, asgCte, cellSimX1e6) where asg maps
    * every vector to its cell via the expanded-L2 argmin (left-assoc
    * doubles, ties to the lowest cid — the kernel's exact scan) and
    * cellSimX1e6 is scoreX1e6(probe, float centroid) for a row
    * aliased `p` (pe) × `c` (cents).
    */
  private def ivfOracleParts(s: SparkSession, dir: String): (String, String, String) = {
    val m = graft.operators.Similarity.ivfDefaultModel(s, dir)
    val dim = m.assignCents.head.length
    val rows = m.cids.indices.map { i =>
      (Seq(m.cids(i).toString) ++ m.assignCents(i).map(_.toString) ++
        m.rankCents(i).map(_.toDouble.toString)).mkString("(", ", ", ")")
    }.mkString(",\n           ")
    val aCols = (1 to dim).map(j => s"a$j").mkString(", ")
    val rCols = (1 to dim).map(j => s"r$j").mkString(", ")
    val centsCte =
      s"""cents(cid, $aCols, $rCols) AS MATERIALIZED (
          SELECT CAST(cid AS BIGINT) AS cid,
                 ${(1 to dim).map(j => s"CAST(a$j AS DOUBLE) AS a$j").mkString(", ")},
                 ${(1 to dim).map(j => s"CAST(r$j AS DOUBLE) AS r$j").mkString(", ")}
          FROM (VALUES $rows) t(cid, $aCols, $rCols))"""
    val d2 = (1 to dim).map { j =>
      val t = s"(CAST(e.embedding[$j] AS DOUBLE) - c.a$j)"
      s"$t*$t"
    }.mkString(" + ")
    val asgCte =
      s"""asg AS MATERIALIZED (
          SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ($d2) ASC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c)
          WHERE rn = 1)"""
    val dotR = (1 to dim).map(j => s"CAST(p.pe[$j] AS DOUBLE)*c.r$j").mkString(" + ")
    val npR  = (1 to dim).map(j => s"CAST(p.pe[$j] AS DOUBLE)*CAST(p.pe[$j] AS DOUBLE)").mkString(" + ")
    val ncR  = (1 to dim).map(j => s"c.r$j*c.r$j").mkString(" + ")
    val cellSim =
      s"""CASE WHEN sqrt($npR)*sqrt($ncR) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(($dotR) / (sqrt($npR)*sqrt($ncR)) * 1000000.0) AS BIGINT) END"""
    (centsCte, asgCte, cellSim)
  }

  /** Exact-cosine fragment between probe `p.pe` and candidate
    * `e.embedding` (the [[annBruteforceOracle]] expansion, factored
    * for the IVF-family rerank stages). */
  private def exactCosineX1e6(dim: Int): String = {
    val dot = (1 to dim).map(i => s"CAST(e.embedding[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val nx  = (1 to dim).map(i => s"CAST(e.embedding[$i] AS DOUBLE)*CAST(e.embedding[$i] AS DOUBLE)").mkString(" + ")
    val ny  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    s"""CASE WHEN sqrt($nx)*sqrt($ny) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(FLOOR(($dot) / (sqrt($nx)*sqrt($ny)) * 1000000.0) AS BIGINT) END"""
  }

  /** IVF serving fully oracle-checked at its DEFAULT dial (not just
    * the allprobe identity): the quantizer literals replay cell
    * assignment and the probe's floored-score cell ranking, so the
    * oracle prunes to exactly the engine's candidate set before the
    * exact-cosine rerank.
    */
  private def annIvfOracle(s: SparkSession, dir: String,
                           nProbe: Int = 8, k: Int = 10): String = {
    val (centsCte, asgCte, cellSim) = ivfOracleParts(s, dir)
    s"""WITH $centsCte,
        $asgCte,
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        pcell AS MATERIALIZED (
          SELECT probe_id, cid AS cell FROM (
            SELECT p.probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.probe_id
                                      ORDER BY ($cellSim) DESC, c.cid ASC) AS cr
            FROM p CROSS JOIN cents c)
          WHERE cr <= $nProbe),
        scored AS (
          SELECT p.probe_id, a.vec_id AS neighbor_id, ${exactCosineX1e6(64)} AS cosine_x1e6
          FROM asg a
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND a.vec_id <> p.probe_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, cosine_x1e6 FROM ranked WHERE rank <= $k
        ORDER BY probe_id, rank"""
  }

  /** Greedy k-center diversity selection fully replayed — the
    * kmeans_fit discipline (no selected state embedded; every argmax
    * recomputed from the parquet): round CTEs carry each point's
    * integral min-d² to the selected-so-far set (LEAST-folded per
    * round), each pick is the (md DESC, vec_id ASC) head excluding
    * already-selected ids, seed = MIN(vec_id).
    */
  private def diversityKcenterOracle(k: Int): String = {
    val dim = 64
    def d2(qa: String, qb: String) =
      (1 to dim).map(j => s"($qa[$j] - $qb[$j])*($qa[$j] - $qb[$j])").mkString(" + ")
    val b = new StringBuilder
    b ++= s"""WITH q AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(1000000 * CAST(x AS DOUBLE)) AS BIGINT)) AS qv
          FROM embeddings),
        c1 AS MATERIALIZED (SELECT vec_id, qv FROM q WHERE vec_id = (SELECT MIN(vec_id) FROM q)),
        d1 AS MATERIALIZED (
          SELECT d.vec_id, d.qv, CAST(${d2("d.qv", "c.qv")} AS BIGINT) AS md
          FROM q d, c1 c)"""
    for (r <- 2 to k) {
      val prevD = s"d${r - 1}"
      val selList = (Seq("SELECT vec_id FROM c1") ++
        (2 until r).map(i => s"SELECT vec_id FROM p$i")).mkString(" UNION ALL ")
      b ++= s""",
        p$r AS MATERIALIZED (
          SELECT vec_id, qv, md FROM $prevD
          WHERE vec_id NOT IN ($selList)
          ORDER BY md DESC, vec_id LIMIT 1)"""
      if (r < k) b ++= s""",
        d$r AS MATERIALIZED (
          SELECT d.vec_id, d.qv, LEAST(d.md, CAST(${d2("d.qv", "c.qv")} AS BIGINT)) AS md
          FROM $prevD d, p$r c)"""
    }
    val rows = Seq(
      "SELECT CAST(1 AS BIGINT) AS center_rank, vec_id, CAST(NULL AS BIGINT) AS maxmin_d2 FROM c1") ++
      (2 to k).map(r => s"SELECT CAST($r AS BIGINT), vec_id, CAST(md AS BIGINT) FROM p$r")
    b ++= "\n        " + rows.mkString("\n        UNION ALL ")
    b ++= "\n        ORDER BY center_rank"
    b.toString
  }

  /** Hybrid RRF retrieval fully replayed: the semantic half reuses
    * the quantizer-literal IVF machinery ([[ivfOracleParts]])
    * restricted to the single query vector — same cell ranking and
    * exact-cosine rerank as [[annIvfOracle]] — the lexical half
    * reuses the [[bm25Oracle]] CTE chain verbatim (b-prefixed names),
    * and the fusion is integer rank arithmetic (1e6 // (kRrf + rank))
    * over the two bounded lists joined FULL OUTER.
    */
  private def hybridRankRrfOracle(s: SparkSession, dir: String,
                                  kLex: Int = 50, kSem: Int = 10,
                                  kRrf: Int = 60, queryId: Long = 0L,
                                  nProbe: Int = 8): String = {
    val (centsCte, asgCte, cellSim) = ivfOracleParts(s, dir)
    val terms = Seq("spark", "vector", "dup")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i" }
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
    val contribs = terms.indices.map(i =>
      s"(22000 * (n_docs - df_$i) * tf_$i * s_tokens) // (10 * s_tokens * tf_$i + 3 * s_tokens + 9 * dl * n_docs)")
    val matched = terms.indices.map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END")
    s"""WITH $centsCte,
        $asgCte,
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id = $queryId),
        pcell AS MATERIALIZED (
          SELECT probe_id, cid AS cell FROM (
            SELECT p.probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.probe_id
                                      ORDER BY ($cellSim) DESC, c.cid ASC) AS cr
            FROM p CROSS JOIN cents c)
          WHERE cr <= $nProbe),
        scored AS (
          SELECT p.probe_id, a.vec_id AS neighbor_id, ${exactCosineX1e6(64)} AS cosine_x1e6
          FROM asg a
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND a.vec_id <> p.probe_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        sem AS (
          SELECT neighbor_id AS id, CAST(rnk AS BIGINT) AS sem_rank FROM (
            SELECT neighbor_id,
                   row_number() OVER (ORDER BY cosine_x1e6 DESC, neighbor_id) AS rnk
            FROM scored)
          WHERE rnk <= $kSem),
        bt AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        bc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, ${tfCols.mkString(", ")} FROM bt),
        bst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens,
                       ${dfCols.mkString(", ")} FROM bc),
        bsc AS (SELECT doc_id,
                       CAST(${contribs.mkString(" + ")} AS BIGINT) AS bm25_x1000,
                       CAST(${matched.mkString(" + ")} AS BIGINT) AS n_terms_matched
                FROM bc, bst),
        btop AS (SELECT * FROM bsc WHERE n_terms_matched > 0
                 ORDER BY bm25_x1000 DESC, doc_id LIMIT $kLex),
        lex AS (SELECT doc_id AS id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25_x1000 DESC, doc_id) AS BIGINT) AS lex_rank
                FROM btop),
        fused AS (
          SELECT COALESCE(lex.id, sem.id) AS id, lex.lex_rank, sem.sem_rank,
                 CAST(COALESCE(1000000 // ($kRrf + lex.lex_rank), 0) +
                      COALESCE(1000000 // ($kRrf + sem.sem_rank), 0) AS BIGINT) AS rrf_x1e6
          FROM lex FULL OUTER JOIN sem ON lex.id = sem.id)
        SELECT id,
               CAST(ROW_NUMBER() OVER (ORDER BY rrf_x1e6 DESC, id) AS BIGINT) AS fused_rank,
               rrf_x1e6, lex_rank, sem_rank
        FROM fused ORDER BY id"""
  }

  /** The hybrid tier's recall monitor fully replayed: the served
    * semantic list via the quantizer-literal IVF replay, the exact
    * list via the expanded-sum brute-force cosine, the lexical chain
    * via [[bm25Oracle]]'s CTEs, BOTH fusions through the same integer
    * RRF arithmetic, and the two report rows as semi-join counts.
    */
  private def hybridRecallReportOracle(s: SparkSession, dir: String,
                                       k: Int = 10, kLex: Int = 50,
                                       kRrf: Int = 60, queryId: Long = 0L,
                                       nProbe: Int = 8): String = {
    val (centsCte, asgCte, cellSim) = ivfOracleParts(s, dir)
    val terms = Seq("spark", "vector", "dup")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i" }
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
    val contribs = terms.indices.map(i =>
      s"(22000 * (n_docs - df_$i) * tf_$i * s_tokens) // (10 * s_tokens * tf_$i + 3 * s_tokens + 9 * dl * n_docs)")
    val matched = terms.indices.map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END")
    def fuseCte(name: String, semCte: String) =
      s"""$name AS (
          SELECT COALESCE(lex.id, sm.id) AS id,
                 CAST(COALESCE(1000000 // ($kRrf + lex.lex_rank), 0) +
                      COALESCE(1000000 // ($kRrf + sm.sem_rank), 0) AS BIGINT) AS rrf_x1e6
          FROM lex FULL OUTER JOIN $semCte sm ON lex.id = sm.id),
        ${name}_top AS (
          SELECT id FROM (
            SELECT id, ROW_NUMBER() OVER (ORDER BY rrf_x1e6 DESC, id) AS fr FROM $name)
          WHERE fr <= $k)"""
    s"""WITH $centsCte,
        $asgCte,
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id = $queryId),
        pcell AS MATERIALIZED (
          SELECT probe_id, cid AS cell FROM (
            SELECT p.probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.probe_id
                                      ORDER BY ($cellSim) DESC, c.cid ASC) AS cr
            FROM p CROSS JOIN cents c)
          WHERE cr <= $nProbe),
        scored AS (
          SELECT a.vec_id AS neighbor_id, ${exactCosineX1e6(64)} AS cosine_x1e6
          FROM asg a
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND a.vec_id <> p.probe_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        ssem AS (
          SELECT neighbor_id AS id, CAST(rnk AS BIGINT) AS sem_rank FROM (
            SELECT neighbor_id,
                   row_number() OVER (ORDER BY cosine_x1e6 DESC, neighbor_id) AS rnk
            FROM scored)
          WHERE rnk <= $k),
        escored AS (
          SELECT e.vec_id AS neighbor_id, ${exactCosineX1e6(64)} AS cosine_x1e6
          FROM embeddings e CROSS JOIN p
          WHERE e.vec_id <> p.probe_id),
        esem AS (
          SELECT neighbor_id AS id, CAST(rnk AS BIGINT) AS sem_rank FROM (
            SELECT neighbor_id,
                   row_number() OVER (ORDER BY cosine_x1e6 DESC, neighbor_id) AS rnk
            FROM escored)
          WHERE rnk <= $k),
        bt AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        bc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, ${tfCols.mkString(", ")} FROM bt),
        bst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens,
                       ${dfCols.mkString(", ")} FROM bc),
        bsc AS (SELECT doc_id,
                       CAST(${contribs.mkString(" + ")} AS BIGINT) AS bm25_x1000,
                       CAST(${matched.mkString(" + ")} AS BIGINT) AS n_terms_matched
                FROM bc, bst),
        btop AS (SELECT * FROM bsc WHERE n_terms_matched > 0
                 ORDER BY bm25_x1000 DESC, doc_id LIMIT $kLex),
        lex AS (SELECT doc_id AS id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25_x1000 DESC, doc_id) AS BIGINT) AS lex_rank
                FROM btop),
        ${fuseCte("sfused", "ssem")},
        ${fuseCte("efused", "esem")}
        SELECT 'sem' AS tier,
               CAST((SELECT COUNT(*) FROM ssem s JOIN esem e ON s.id = e.id) AS BIGINT) AS n_hits,
               CAST((SELECT COUNT(*) FROM esem) AS BIGINT) AS n_expected,
               CAST(CASE WHEN (SELECT COUNT(*) FROM esem) > 0
                    THEN ((SELECT COUNT(*) FROM ssem s JOIN esem e ON s.id = e.id) * 1000000)
                         // (SELECT COUNT(*) FROM esem) END AS BIGINT) AS recall_x1e6
        UNION ALL
        SELECT 'fused' AS tier,
               CAST((SELECT COUNT(*) FROM sfused_top s JOIN efused_top e ON s.id = e.id) AS BIGINT) AS n_hits,
               CAST((SELECT COUNT(*) FROM efused_top) AS BIGINT) AS n_expected,
               CAST(CASE WHEN (SELECT COUNT(*) FROM efused_top) > 0
                    THEN ((SELECT COUNT(*) FROM sfused_top s JOIN efused_top e ON s.id = e.id) * 1000000)
                         // (SELECT COUNT(*) FROM efused_top) END AS BIGINT) AS recall_x1e6
        ORDER BY tier"""
  }

  /** The IVF kNN graph at its default dial: every vector probes its
    * `nProbe` nearest cells by RAW double cosine against the FLOAT
    * centroid literals (the engine ranks cells row-locally via an
    * array_sort over (−cosine, cell) structs — ties to the lower
    * cell), then exact cosine reranks within cells.
    */
  private def knnGraphIvfOracle(s: SparkSession, dir: String,
                                nProbe: Int = 8, k: Int = 5): String = {
    val (centsCte, asgCte, _) = ivfOracleParts(s, dir)
    val dim = 64
    val dotR = (1 to dim).map(j => s"CAST(p.pe[$j] AS DOUBLE)*c.r$j").mkString(" + ")
    val npR  = (1 to dim).map(j => s"CAST(p.pe[$j] AS DOUBLE)*CAST(p.pe[$j] AS DOUBLE)").mkString(" + ")
    val ncR  = (1 to dim).map(j => s"c.r$j*c.r$j").mkString(" + ")
    val rawCos =
      s"""CASE WHEN sqrt($npR)*sqrt($ncR) = 0 THEN 0.0
               ELSE ($dotR) / (sqrt($npR)*sqrt($ncR)) END"""
    s"""WITH $centsCte,
        $asgCte,
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings),
        pcell AS MATERIALIZED (
          SELECT probe_id, cid AS cell FROM (
            SELECT p.probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.probe_id
                                      ORDER BY ($rawCos) DESC, c.cid ASC) AS cr
            FROM p CROSS JOIN cents c)
          WHERE cr <= $nProbe),
        scored AS (
          SELECT p.probe_id AS vec_id, a.vec_id AS neighbor_id, ${exactCosineX1e6(dim)} AS cosine_x1e6
          FROM asg a
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND a.vec_id <> p.probe_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT vec_id, rank, neighbor_id, cosine_x1e6 FROM ranked WHERE rank <= $k
        ORDER BY vec_id, rank"""
  }

  /** The label-segmented ADAPTIVE tier oracle: replays the
    * stratum-aware walk — probe's cells ranked by floored score, inner
    * join against the (cell, label) occupancy of the probe's own
    * stratum (zero-mass cells never probed), kept while the EXCLUSIVE
    * running occupancy is under coverage·stratum — then the exact
    * within-stratum rerank.
    */
  private def annFilteredIvfOracle(s: SparkSession, dir: String,
                                   coverageX1000: Int = 900, k: Int = 10): String = {
    val (centsCte, asgCte, cellSim) = ivfOracleParts(s, dir)
    s"""WITH $centsCte,
        $asgCte,
        al AS MATERIALIZED (
          SELECT a.vec_id, a.cell, e.label FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id),
        occ AS (SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS occ FROM al GROUP BY cell, label),
        p AS (SELECT vec_id AS probe_id, embedding AS pe, label AS pl FROM embeddings WHERE vec_id % 100 < 2),
        pcell AS MATERIALIZED (
          SELECT p.probe_id, c.cid AS cell,
                 row_number() OVER (PARTITION BY p.probe_id
                                    ORDER BY ($cellSim) DESC, c.cid ASC) AS cr
          FROM p CROSS JOIN cents c),
        kept AS (
          SELECT probe_id, cell FROM (
            SELECT pc.probe_id, pc.cell,
                   COALESCE(SUM(o.occ) OVER (PARTITION BY pc.probe_id ORDER BY pc.cr
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
                   SUM(o.occ) OVER (PARTITION BY pc.probe_id) AS stratum_n
            FROM pcell pc
            JOIN p ON p.probe_id = pc.probe_id
            JOIN occ o ON o.cell = pc.cell AND o.label = p.pl)
          WHERE cum_before * 1000 < stratum_n * $coverageX1000),
        scored AS (
          SELECT p.probe_id, a.vec_id AS neighbor_id, a.label, ${exactCosineX1e6(64)} AS cosine_x1e6
          FROM al a
          JOIN kept kc ON kc.cell = a.cell
          JOIN p ON p.probe_id = kc.probe_id AND a.label = p.pl AND a.vec_id <> p.probe_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, label, cosine_x1e6 FROM ranked WHERE rank <= $k
        ORDER BY probe_id, rank"""
  }

  /** IVF-PQ at its default dial: the quantizer literals prune
    * candidates ([[annIvfOracle]]'s cell walk) and the codebook
    * literals replay encode+ADC ([[annPqOracle]]'s scorer) — the
    * composed production tier fully hash-checked.
    */
  private def annIvfPqOracle(s: SparkSession, dir: String,
                             nProbe: Int = 8, k: Int = 10): String = {
    val (centsCte, asgCte, cellSim) = ivfOracleParts(s, dir)
    val cbs = graft.operators.Similarity.pqDefaultCodebooks(s, dir)
    val nSub = cbs.length
    val nCodes = cbs.head.length
    val subDim = cbs.head.head.length
    val dim = nSub * subDim
    val cbRows = (for {
      m <- 1 to nSub; c <- 0 until nCodes
    } yield (Seq(m, c) ++ cbs(m - 1)(c).map(_.toDouble.toString))
      .mkString("(", ", ", ")")).mkString(",\n           ")
    val vCols = (1 to subDim).map(j => s"v$j").mkString(", ")
    val d2pq = (1 to subDim).map { j =>
      val t = s"(CAST(e.embedding[(b.m-1)*$subDim+$j] AS DOUBLE) - b.v$j)"
      s"$t*$t"
    }.mkString(" + ")
    def dcol(i: Int) = s"d.d$i"
    val dPivot = (1 to dim).map { i =>
      val m = (i - 1) / subDim + 1; val j = (i - 1) % subDim + 1
      s"MAX(CASE WHEN m=$m THEN v$j END) AS d$i"
    }.mkString(", ")
    val dot = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*${dcol(i)}").mkString(" + ")
    val np  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val nd  = (1 to dim).map(i => s"${dcol(i)}*${dcol(i)}").mkString(" + ")
    s"""WITH $centsCte,
        $asgCte,
        cb(m, c, $vCols) AS MATERIALIZED (
          SELECT m, c, ${(1 to subDim).map(j => s"CAST(v$j AS DOUBLE)").mkString(", ")}
          FROM (VALUES $cbRows) t(m, c, $vCols)),
        enc AS MATERIALIZED (
          SELECT vec_id, m, c, $vCols FROM (
            SELECT e.vec_id, b.m, b.c, ${(1 to subDim).map(j => s"b.v$j").mkString(", ")},
                   row_number() OVER (PARTITION BY e.vec_id, b.m
                                      ORDER BY ($d2pq) ASC, b.c ASC) AS rn
            FROM embeddings e CROSS JOIN cb b)
          WHERE rn = 1),
        d AS MATERIALIZED (SELECT vec_id, $dPivot FROM enc GROUP BY vec_id),
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        pcell AS MATERIALIZED (
          SELECT probe_id, cid AS cell FROM (
            SELECT p.probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.probe_id
                                      ORDER BY ($cellSim) DESC, c.cid ASC) AS cr
            FROM p CROSS JOIN cents c)
          WHERE cr <= $nProbe),
        scored AS (
          SELECT p.probe_id, d.vec_id AS neighbor_id,
                 CASE WHEN sqrt($np)*sqrt($nd) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(($dot) / (sqrt($np)*sqrt($nd)) * 1000000.0) AS BIGINT) END AS adc_cosine_x1e6
          FROM d
          JOIN asg a ON a.vec_id = d.vec_id
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND d.vec_id <> p.probe_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, adc_cosine_x1e6 FROM ranked WHERE rank <= $k
        ORDER BY probe_id, rank"""
  }

  /** Banded SRP-LSH fully oracle-checked — and unlike the IVF/PQ
    * tiers it needs NO dynamic model state: the hyperplanes are a pure
    * function of (seed, band) ([[graft.functions.VectorExpressions
    * .planeMatrix]] — java.util.Random's LCG is specified behavior),
    * so the oracle embeds the 36×64 plane slice as literals and
    * replays sign bits (left-assoc expanded dot, `>= 0` inclusive),
    * 3-bit band hashes, the probe's own-bucket + hamming-1 multi-probe
    * (XOR {0,1,2,4}), candidate dedup, and the exact-cosine rerank.
    */
  private lazy val annLshOracle: String = {
    val nBands = 12; val bitsPerBand = 3; val k = 10; val dim = 64
    val planes = graft.functions.VectorExpressions
      .planeMatrix(nBands * bitsPerBand, 42L, 1024)
    val rows = planes.zipWithIndex.map { case (p, b) =>
      (b.toString +: p.take(dim).map(_.toDouble.toString).toSeq)
        .mkString("(", ", ", ")")
    }.mkString(",\n           ")
    val pCols = (1 to dim).map(j => s"p$j").mkString(", ")
    val acc = (1 to dim).map(j => s"CAST(e.embedding[$j] AS DOUBLE)*pl.p$j").mkString(" + ")
    s"""WITH planes(b, $pCols) AS MATERIALIZED (
          SELECT b, ${(1 to dim).map(j => s"CAST(p$j AS DOUBLE) AS p$j").mkString(", ")}
          FROM (VALUES $rows) t(b, $pCols)),
        bits AS MATERIALIZED (
          SELECT e.vec_id, pl.b,
                 CASE WHEN ($acc) >= 0 THEN 1 ELSE 0 END AS bit
          FROM embeddings e CROSS JOIN planes pl),
        bands AS MATERIALIZED (
          SELECT vec_id, b // $bitsPerBand AS band_idx,
                 CAST(SUM(bit * (1 << (b % $bitsPerBand))) AS BIGINT) AS band_hash
          FROM bits GROUP BY vec_id, b // $bitsPerBand),
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        variants AS (
          SELECT bp.vec_id AS probe_id, bp.band_idx,
                 xor(bp.band_hash, v.m) AS band_hash
          FROM bands bp JOIN p ON p.probe_id = bp.vec_id
          CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2), (4)) v(m)),
        cand AS (
          SELECT DISTINCT v.probe_id, bc.vec_id AS neighbor_id
          FROM bands bc JOIN variants v
            ON v.band_idx = bc.band_idx AND v.band_hash = bc.band_hash
          WHERE bc.vec_id <> v.probe_id),
        scored AS (
          SELECT cand.probe_id, cand.neighbor_id, ${exactCosineX1e6(dim)} AS cosine_x1e6
          FROM cand
          JOIN p ON p.probe_id = cand.probe_id
          JOIN embeddings e ON e.vec_id = cand.neighbor_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, cosine_x1e6 FROM ranked WHERE rank <= $k
        ORDER BY probe_id, rank"""
  }

  /** The tier-recall MONITOR itself hash-checked: with every serving
    * tier now SQL-replayable (quantizer + codebook literals, static
    * LSH planes, sq8's arithmetic quantization), the report reduces to
    * five semi-join counts against the exact top-k — one combined
    * query sharing the probe set, the assignment, the encode, and the
    * banding CTEs across tiers exactly like the engine shares its
    * memoized indexes.
    */
  private def annRecallReportOracle(s: SparkSession, dir: String): String = {
    val k = 10; val dim = 64; val nProbe = 8
    val (centsCte, asgCte, cellSim) = ivfOracleParts(s, dir)
    // --- PQ pieces (annPqOracle's layout) ---
    val cbs = graft.operators.Similarity.pqDefaultCodebooks(s, dir)
    val nSub = cbs.length; val nCodes = cbs.head.length; val subDim = cbs.head.head.length
    val cbRows = (for { m <- 1 to nSub; c <- 0 until nCodes }
      yield (Seq(m, c) ++ cbs(m - 1)(c).map(_.toDouble.toString))
        .mkString("(", ", ", ")")).mkString(",\n           ")
    val vCols = (1 to subDim).map(j => s"v$j").mkString(", ")
    val d2pq = (1 to subDim).map { j =>
      val t = s"(CAST(e.embedding[(b.m-1)*$subDim+$j] AS DOUBLE) - b.v$j)"
      s"$t*$t"
    }.mkString(" + ")
    val dPivot = (1 to dim).map { i =>
      val m = (i - 1) / subDim + 1; val j = (i - 1) % subDim + 1
      s"MAX(CASE WHEN m=$m THEN v$j END) AS d$i"
    }.mkString(", ")
    val adcDot = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*d.d$i").mkString(" + ")
    val npSum  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val adcNd  = (1 to dim).map(i => s"d.d$i*d.d$i").mkString(" + ")
    val adcScore =
      s"""CASE WHEN sqrt($npSum)*sqrt($adcNd) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(($adcDot) / (sqrt($npSum)*sqrt($adcNd)) * 1000000.0) AS BIGINT) END"""
    // --- LSH pieces (annLshOracle's layout) ---
    val nBands = 12; val bitsPerBand = 3
    val planes = graft.functions.VectorExpressions
      .planeMatrix(nBands * bitsPerBand, 42L, 1024)
    val plRows = planes.zipWithIndex.map { case (pv, b) =>
      (b.toString +: pv.take(dim).map(_.toDouble.toString).toSeq)
        .mkString("(", ", ", ")")
    }.mkString(",\n           ")
    val pCols = (1 to dim).map(j => s"p$j").mkString(", ")
    val lshAcc = (1 to dim).map(j => s"CAST(e.embedding[$j] AS DOUBLE)*pl.p$j").mkString(" + ")
    // --- SQ8 pieces (annSq8Oracle's layout) ---
    val scale = (1 to dim).map(i => s"ABS(CAST(embedding[$i] AS DOUBLE))").mkString("GREATEST(", ", ", ")")
    val codeCols = (1 to dim).map(i =>
      s"CASE WHEN scale > 0 THEN FLOOR(127.0 * CAST(embedding[$i] AS DOUBLE) / scale) ELSE 0.0 END AS c$i").mkString(", ")
    val sqDot = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*sq.c$i").mkString(" + ")
    val sqNc  = (1 to dim).map(i => s"sq.c$i*sq.c$i").mkString(" + ")
    val sqScore =
      s"""CASE WHEN sqrt($npSum)*sqrt($sqNc) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(($sqDot) / (sqrt($npSum)*sqrt($sqNc)) * 1000000.0) AS BIGINT) END"""
    def topk(scoredCte: String, scoreCol: String) =
      s"""SELECT probe_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY $scoreCol DESC, neighbor_id) AS rank
            FROM $scoredCte) WHERE rank <= $k"""
    def hits(setCte: String) =
      s"(SELECT CAST(COUNT(*) AS BIGINT) FROM $setCte t JOIN exact x ON x.probe_id = t.probe_id AND x.neighbor_id = t.neighbor_id)"
    s"""WITH $centsCte,
        $asgCte,
        cb(m, c, $vCols) AS MATERIALIZED (
          SELECT m, c, ${(1 to subDim).map(j => s"CAST(v$j AS DOUBLE)").mkString(", ")}
          FROM (VALUES $cbRows) t(m, c, $vCols)),
        enc AS MATERIALIZED (
          SELECT vec_id, m, c, $vCols FROM (
            SELECT e.vec_id, b.m, b.c, ${(1 to subDim).map(j => s"b.v$j").mkString(", ")},
                   row_number() OVER (PARTITION BY e.vec_id, b.m
                                      ORDER BY ($d2pq) ASC, b.c ASC) AS rn
            FROM embeddings e CROSS JOIN cb b)
          WHERE rn = 1),
        d AS MATERIALIZED (SELECT vec_id, $dPivot FROM enc GROUP BY vec_id),
        planes(b, $pCols) AS MATERIALIZED (
          SELECT b, ${(1 to dim).map(j => s"CAST(p$j AS DOUBLE) AS p$j").mkString(", ")}
          FROM (VALUES $plRows) t(b, $pCols)),
        bits AS MATERIALIZED (
          SELECT e.vec_id, pl.b, CASE WHEN ($lshAcc) >= 0 THEN 1 ELSE 0 END AS bit
          FROM embeddings e CROSS JOIN planes pl),
        bands AS MATERIALIZED (
          SELECT vec_id, b // $bitsPerBand AS band_idx,
                 CAST(SUM(bit * (1 << (b % $bitsPerBand))) AS BIGINT) AS band_hash
          FROM bits GROUP BY vec_id, b // $bitsPerBand),
        sq AS MATERIALIZED (
          SELECT vec_id, $codeCols
          FROM (SELECT vec_id, embedding, $scale AS scale FROM embeddings)),
        p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        pcell AS MATERIALIZED (
          SELECT probe_id, cid AS cell FROM (
            SELECT p.probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.probe_id
                                      ORDER BY ($cellSim) DESC, c.cid ASC) AS cr
            FROM p CROSS JOIN cents c)
          WHERE cr <= $nProbe),
        bf_scored AS MATERIALIZED (
          SELECT p.probe_id, e.vec_id AS neighbor_id, ${exactCosineX1e6(dim)} AS score
          FROM embeddings e JOIN p ON e.vec_id <> p.probe_id),
        exact AS MATERIALIZED (${topk("bf_scored", "score")}),
        ivf_scored AS (
          SELECT p.probe_id, a.vec_id AS neighbor_id, ${exactCosineX1e6(dim)} AS score
          FROM asg a
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND a.vec_id <> p.probe_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        set_ivf AS MATERIALIZED (${topk("ivf_scored", "score")}),
        ivfpq_scored AS (
          SELECT p.probe_id, d.vec_id AS neighbor_id, $adcScore AS score
          FROM d
          JOIN asg a ON a.vec_id = d.vec_id
          JOIN pcell pc ON pc.cell = a.cell
          JOIN p ON p.probe_id = pc.probe_id AND d.vec_id <> p.probe_id),
        set_ivfpq AS MATERIALIZED (${topk("ivfpq_scored", "score")}),
        pq_scored AS (
          SELECT p.probe_id, d.vec_id AS neighbor_id, $adcScore AS score
          FROM d JOIN p ON d.vec_id <> p.probe_id),
        set_pq AS MATERIALIZED (${topk("pq_scored", "score")}),
        variants AS (
          SELECT bp.vec_id AS probe_id, bp.band_idx, xor(bp.band_hash, v.m) AS band_hash
          FROM bands bp JOIN p ON p.probe_id = bp.vec_id
          CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2), (4)) v(m)),
        lsh_cand AS (
          SELECT DISTINCT v.probe_id, bc.vec_id AS neighbor_id
          FROM bands bc JOIN variants v
            ON v.band_idx = bc.band_idx AND v.band_hash = bc.band_hash
          WHERE bc.vec_id <> v.probe_id),
        lsh_scored AS (
          SELECT lsh_cand.probe_id, lsh_cand.neighbor_id, ${exactCosineX1e6(dim)} AS score
          FROM lsh_cand
          JOIN p ON p.probe_id = lsh_cand.probe_id
          JOIN embeddings e ON e.vec_id = lsh_cand.neighbor_id),
        set_lsh AS MATERIALIZED (${topk("lsh_scored", "score")}),
        sq8_scored AS (
          SELECT p.probe_id, sq.vec_id AS neighbor_id, $sqScore AS score
          FROM sq JOIN p ON sq.vec_id <> p.probe_id),
        set_sq8 AS MATERIALIZED (${topk("sq8_scored", "score")}),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_expected FROM exact)
        SELECT tier, n_hits, n.n_expected,
               CASE WHEN n.n_expected > 0 THEN (n_hits * 1000000) // n.n_expected END AS recall_x1e6
        FROM (
          SELECT 'ivf' AS tier, ${hits("set_ivf")} AS n_hits
          UNION ALL SELECT 'ivfpq', ${hits("set_ivfpq")}
          UNION ALL SELECT 'lsh', ${hits("set_lsh")}
          UNION ALL SELECT 'pq', ${hits("set_pq")}
          UNION ALL SELECT 'sq8', ${hits("set_sq8")}) t, n
        ORDER BY tier"""
  }

  /** The FULL Lloyd trajectory oracle — the strongest member of the
    * unrolled-iteration family: unlike the PQ/IVF oracles it embeds NO
    * trained state, only the realized ROUND COUNT (driver model state,
    * like [[topPcOracleSql]]'s fixed 8). Every round is recomputed
    * from the parquet: pivoted centroid columns (trunc-div micro over
    * 1e6, the exact long→double arithmetic `graft_kmeans_assign`
    * reads), the expanded-L2 argmin assignment (ties → lowest cid),
    * integral micro-sum updates. A per-round witness ERRORS if an
    * empty cluster appears (the engine would re-seed — a trajectory
    * this replay cannot follow; the sf0.01 run has none), and the
    * `converged` output column is COMPUTED (round N's micro == round
    * N−1's), not copied from the engine.
    */
  private def kmeansFitOracle(s: SparkSession, dir: String): String = {
    val fit = graft.operators.Similarity.kmeansFitModel(s, dir)
    val n = fit.iters
    val k = fit.cids.length
    val dim = fit.centroidMicro.head.length
    def sumU(j: Int) =
      s"""CAST(CASE WHEN SUM(CAST(FLOOR(1000000 * CAST(e.embedding[$j] AS DOUBLE)) AS BIGINT)) >= 0
               THEN SUM(CAST(FLOOR(1000000 * CAST(e.embedding[$j] AS DOUBLE)) AS BIGINT)) // COUNT(*)
               ELSE -((-SUM(CAST(FLOOR(1000000 * CAST(e.embedding[$j] AS DOUBLE)) AS BIGINT))) // COUNT(*)) END AS BIGINT) AS u$j"""
    val d2 = (1 to dim).map { j =>
      val t = s"(CAST(e.embedding[$j] AS DOUBLE) - c.c$j)"
      s"$t*$t"
    }.mkString(" + ")
    val b = new StringBuilder
    b ++= s"""WITH m_0 AS MATERIALIZED (
          SELECT vec_id AS cid, CAST(1 AS BIGINT) AS n,
                 ${(1 to dim).map(j => s"CAST(FLOOR(1000000 * CAST(embedding[$j] AS DOUBLE)) AS BIGINT) AS u$j").mkString(", ")}
          FROM embeddings WHERE vec_id < $k)"""
    for (i <- 1 to n) {
      b ++= s""",
         cents_${i - 1} AS MATERIALIZED (
           SELECT cid, ${(1 to dim).map(j => s"CAST(u$j AS DOUBLE)/1000000.0 AS c$j").mkString(", ")}
           FROM m_${i - 1}),
         a_$i AS MATERIALIZED (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY ($d2) ASC, c.cid ASC) AS rn
             FROM embeddings e CROSS JOIN cents_${i - 1} c)
           WHERE rn = 1),
         chk_$i AS (SELECT CASE WHEN (SELECT COUNT(DISTINCT cid) FROM a_$i) = $k THEN true
                        ELSE error('kmeans oracle: empty cluster (re-seed) at round $i — trajectory not replayable') END AS ok),
         m_$i AS MATERIALIZED (
           SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n,
                  ${(1 to dim).map(sumU).mkString(", ")}
           FROM a_$i a JOIN embeddings e ON e.vec_id = a.vec_id, chk_$i
           WHERE chk_$i.ok GROUP BY a.cid)"""
    }
    val diff = (1 to dim).map(j => s"x.u$j <> y.u$j").mkString(" OR ")
    val caseU = (1 to dim).map(j => s"WHEN $j THEN m.u$j").mkString(" ")
    b ++= s""",
         conv AS (SELECT (SELECT COUNT(*) FROM m_$n x JOIN m_${n - 1} y ON x.cid = y.cid
                          WHERE $diff) = 0 AS c)
         SELECT m.cid AS cluster_id, CAST(p.pos AS BIGINT) AS pos, m.n AS n_vectors,
                CASE p.pos $caseU END AS centroid_micro,
                CAST($n AS BIGINT) AS n_iters, conv.c AS converged
         FROM m_$n m CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS pos) p, conv
         ORDER BY cluster_id, pos"""
    b.toString
  }

  /** Shared BPE trajectory replay (PURE — nothing embedded but the
    * published nMerges parameter, the [[kmeansFitOracle]] discipline
    * taken further): builds CTEs through round N. Per round: pair
    * counts over the current tokenization (lead window, weighted by
    * word count), the (count desc, l, r) argmax as a 1-row CTE, and
    * the greedy left-to-right non-overlapping rewrite — the engine's
    * fold "merge unless the tail was itself just merged" is exactly
    * "within each maximal run of consecutive matching pair positions,
    * take the odd-numbered ones" (gaps-and-islands + run parity),
    * then drop the consumed right elements and renumber. An exhausted
    * round (no pairs anywhere) carries the tokenization forward
    * unchanged, matching the engine's early stop.
    */
  private def bpeChainSql(nMerges: Int): String = {
    val b = new StringBuilder
    b ++= s"""WITH wc AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
            FROM documents)
          WHERE word <> '' GROUP BY word),
        w_0 AS MATERIALIZED (
          SELECT word, cnt, CAST(pos AS BIGINT) AS pos,
                 substr(word, CAST(pos AS INT), 1) AS sym
          FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS pos FROM wc))"""
    for (i <- 1 to nMerges) {
      b ++= s""",
        t_$i AS MATERIALIZED (
          SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
            SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r, cnt
            FROM w_${i - 1})
          WHERE r IS NOT NULL GROUP BY l, r
          ORDER BY pc DESC, l, r LIMIT 1),
        k_$i AS (
          SELECT *, mt AND (row_number() OVER (PARTITION BY word, grp ORDER BY pos) % 2 = 1) AS taken
          FROM (
            SELECT *, CASE WHEN mt THEN pos - row_number() OVER (PARTITION BY word, mt ORDER BY pos) END AS grp
            FROM (
              SELECT w.word, w.cnt, w.pos, w.sym, t.l, t.r,
                     COALESCE(w.sym = t.l AND
                       lead(w.sym) OVER (PARTITION BY w.word ORDER BY w.pos) = t.r, false) AS mt
              FROM w_${i - 1} w CROSS JOIN t_$i t))),
        w_$i AS MATERIALIZED (
          SELECT word, cnt,
                 CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
                 CASE WHEN taken THEN l || r ELSE sym END AS sym
          FROM (SELECT *, COALESCE(lag(taken) OVER (PARTITION BY word ORDER BY pos), false) AS pt
                FROM k_$i)
          WHERE NOT pt
          UNION ALL
          SELECT word, cnt, pos, sym FROM w_${i - 1}
          WHERE NOT EXISTS (SELECT 1 FROM t_$i))"""
    }
    b.toString
  }

  /** BPE training fully replayed — every merge decision (pair counts,
    * the argmax, the rewrite it feeds) recomputed from the parquet.
    */
  private lazy val bpeTrainOracle: String = {
    val n = 10
    val rows = (1 to n).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_rank, l AS "left", r AS "right", pc AS pair_count FROM t_$i""")
      .mkString("\n        UNION ALL ")
    s"""${bpeChainSql(n)}
        $rows
        ORDER BY merge_rank"""
  }

  /** BPE application replayed through the same chain: the final
    * tokenization's per-word symbol counts, joined back onto the doc
    * word stream for the per-doc fertility report.
    */
  private lazy val bpeApplyOracle: String = {
    val n = 10
    s"""${bpeChainSql(n)},
        ns AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms FROM w_$n GROUP BY word),
        dw AS (
          SELECT doc_id, word FROM (
            SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
            FROM documents)
          WHERE word <> '')
        SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(ns.n_syms) AS BIGINT) AS n_bpe_tokens,
               CAST((SUM(ns.n_syms) * 1000000) // COUNT(*) AS BIGINT) AS fertility_ppm
        FROM dw JOIN ns ON ns.word = dw.word
        GROUP BY dw.doc_id
        ORDER BY dw.doc_id"""
  }

  /** HUGEINT mod-2⁶⁴ arithmetic fragments shared by the SQL-XXH64
    * replay oracles ([[winnowingOracle]] and [[dedupSimhashOracle]]
    * established the discipline; [[bloomProbeOracle]] and
    * [[lshEvalOracle]] reuse it): multiply via 32-bit splitting
    * ((a%2³²)·b + ((a»32)·b mod 2³²)·2³², all < 2⁹⁷ — inside HUGEINT),
    * rotate via divide/multiply, xor through a signed-BIGINT bridge.
    * Every application must land in its OWN chained CTE column —
    * inlining re-evaluates subexpressions exponentially (measured on
    * the winnowing oracle: the inlined form never parsed).
    */
  private[graft] object SqlU64 {
    val M: BigInt = BigInt(1) << 64
    val T64 = "CAST(18446744073709551616 AS HUGEINT)"
    val P1 = BigInt("9E3779B185EBCA87", 16); val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16); val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    def mul(col: String, c: BigInt): String =
      s"((($col % 4294967296) * $c + ((($col // 4294967296) * $c) % 4294967296) * 4294967296) % $T64)"
    def mulSmall(col: String, c: BigInt): String = s"(($col * $c) % $T64)" // col < 2^32
    def rot(col: String, r: Int): String =
      s"(($col % ${BigInt(1) << (64 - r)}) * ${BigInt(1) << r} + $col // ${BigInt(1) << (64 - r)})"
    def toSigned(col: String): String =
      s"(CASE WHEN $col >= 9223372036854775808 THEN CAST($col - $T64 AS BIGINT) ELSE CAST($col AS BIGINT) END)"
    def toUnsigned(x: String): String =
      s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $T64 ELSE CAST($x AS HUGEINT) END)"
    def xorShr(col: String, n: Int): String =
      toUnsigned(s"xor(${toSigned(col)}, CAST($col // ${BigInt(1) << n} AS BIGINT))")
    def xorCols(a: String, b: String): String =
      toUnsigned(s"xor(${toSigned(a)}, ${toSigned(b)})")

    /** The straight-line XXH64 of a FIXED 64-byte ASCII column (two
      * stripes, empty tail — e.g. a sha2-256 hex digest), seed 42,
      * emitted as chained (name, expr) steps ending in an UNSIGNED
      * HUGEINT column `outName`. Caller folds the steps into CTEs.
      */
    def xxh64Fixed64(shaCol: String, outName: String): (String, Seq[(String, String)]) = {
      val seed = BigInt(42)
      def word(j: Int): String = (0 until 8).map(i =>
        s"CAST(ascii(substr($shaCol, ${8 * j + i + 1}, 1)) AS HUGEINT) * ${BigInt(1) << (8 * i)}")
        .mkString(" + ")
      val wordCols = (0 until 8).map(j => s"${outName}_w$j" -> s"(${word(j)})")
      val vInit = Seq(
        (seed + P1 + P2) mod M, (seed + P2) mod M, seed, (seed - P1) mod M)
      val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      steps ++= wordCols
      // two stripes of four lane rounds: v = rotl31(v + w·P2)·P1
      var vCols = vInit.map(c => s"CAST($c AS HUGEINT)")
      for (s <- 0 until 2) {
        vCols = (0 until 4).map { l =>
          val w = s"${outName}_w${4 * s + l}"
          val a = s"${outName}_s${s}l${l}a"; val b = s"${outName}_s${s}l${l}b"
          val v = s"${outName}_v${l}_${s + 1}"
          steps += a -> s"((${vCols(l)} + ${mul(w, P2)}) % $T64)"
          steps += b -> rot(a, 31)
          steps += v -> mul(b, P1)
          v
        }
      }
      // combine + four merge rounds: h = (h ^ rotl31(v·P2)·P1)·P1 + P4
      steps += s"${outName}_m0" ->
        s"((${rot(vCols(0), 1)} + ${rot(vCols(1), 7)} + ${rot(vCols(2), 12)} + ${rot(vCols(3), 18)}) % $T64)"
      var h = s"${outName}_m0"
      for (i <- 0 until 4) {
        val a = s"${outName}_mr${i}a"; val b = s"${outName}_mr${i}b"
        val c = s"${outName}_mr${i}c"; val d = s"${outName}_mr${i}d"
        val e = s"${outName}_mr${i}e"
        steps += a -> mul(vCols(i), P2)
        steps += b -> rot(a, 31)
        steps += c -> mul(b, P1)
        steps += d -> xorCols(h, c)
        steps += e -> s"((${mul(d, P1)} + $P4) % $T64)"
        h = e
      }
      steps += s"${outName}_ln" -> s"(($h + 64) % $T64)"
      // avalanche
      steps += s"${outName}_a1" -> xorShr(s"${outName}_ln", 33)
      steps += s"${outName}_a2" -> mul(s"${outName}_a1", P2)
      steps += s"${outName}_a3" -> xorShr(s"${outName}_a2", 29)
      steps += s"${outName}_a4" -> mul(s"${outName}_a3", P3)
      steps += outName -> xorShr(s"${outName}_a4", 32)
      (outName, steps.toSeq)
    }

    /** Fold (name, expr) steps into a chain of `SELECT *, expr AS name`
      * CTEs starting from `from`, returning (sql fragment, last name).
      */
    def chain(prefix: String, from: String, steps: Seq[(String, String)]): (String, String) = {
      val ctes = steps.zipWithIndex.map { case ((name, ex), i) =>
        val prev = if (i == 0) from else s"${prefix}_${i - 1}"
        s"${prefix}_$i AS (SELECT *, $ex AS $name FROM $prev)"
      }
      (ctes.mkString(",\n        "), s"${prefix}_${steps.size - 1}")
    }

    /** XXH64 (seed 42) of a VARIABLE-length ASCII column of ≤ 31
      * bytes — [[dedupSimhashOracle]]'s conditional-round machinery
      * generalized from one word round to the full sub-stripe tail
      * (up to THREE 8-byte rounds, one 4-byte, up to three 1-byte):
      * each round a CASE transformed-or-passthrough chained column.
      * 31 bytes is a hard line: at 32 the stripe accumulator path
      * begins, which is not straight-line — callers witness the bound
      * with error() on `lenCol` before these steps run. Returns
      * (baseCols to splice into the source CTE, chained steps,
      * unsigned output column name). Requires columns `tokCol`
      * (the string) and `lenCol` (its strlen) on the source.
      */
    def xxh64Short31(tokCol: String, lenCol: String, outName: String)
        : (Seq[(String, String)], Seq[(String, String)]) = {
      val C0 = (BigInt(42) + P5) mod M
      def word8(j: Int): String = (0 until 8).map(i =>
        s"CAST(ascii(substr($tokCol, ${8 * j + i + 1}, 1)) AS HUGEINT) * ${BigInt(1) << (8 * i)}")
        .mkString(" + ")
      val w4 = (0 until 4).map(i =>
        s"CAST(ascii(substr($tokCol, CAST(${outName}_o4 AS INT) + ${i + 1}, 1)) AS HUGEINT) * ${BigInt(1) << (8 * i)}")
        .mkString(" + ")
      def bN(j: Int) = s"CAST(ascii(substr($tokCol, CAST(${outName}_ob AS INT) + $j, 1)) AS HUGEINT)"
      val nw = s"${outName}_nw"; val o4 = s"${outName}_o4"
      val has4 = s"${outName}_has4"; val ob = s"${outName}_ob"; val nb = s"${outName}_nb"
      val nbExpr = s"$lenCol - (($lenCol // 8) * 8 + CASE WHEN ($lenCol - ($lenCol // 8) * 8) >= 4 THEN 4 ELSE 0 END)"
      val baseCols = Seq(
        nw -> s"($lenCol // 8)",
        o4 -> s"(($lenCol // 8) * 8)",
        has4 -> s"(($lenCol - ($lenCol // 8) * 8) >= 4)",
        ob -> s"(($lenCol // 8) * 8 + CASE WHEN ($lenCol - ($lenCol // 8) * 8) >= 4 THEN 4 ELSE 0 END)",
        nb -> s"($nbExpr)",
        s"${outName}_h0" -> s"(($C0 + $lenCol) % $T64)") ++
        (1 to 3).map(j =>
          s"${outName}_w${j}v" -> s"CASE WHEN $lenCol >= ${8 * j} THEN (${word8(j - 1)}) ELSE CAST(0 AS HUGEINT) END") ++
        Seq(
          s"${outName}_w4v" -> s"CASE WHEN ($lenCol - ($lenCol // 8) * 8) >= 4 THEN ($w4) ELSE CAST(0 AS HUGEINT) END") ++
        (1 to 3).map(j =>
          s"${outName}_b${j}v" -> s"CASE WHEN $nbExpr >= $j THEN ${bN(j)} ELSE CAST(0 AS HUGEINT) END")
      val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var h = s"${outName}_h0"
      for (j <- 1 to 3) { // 8-byte tail rounds: h = rotl27(h ^ rotl31(w·P2)·P1)·P1 + P4
        steps += s"${outName}_k${j}a" -> s"CASE WHEN $nw >= $j THEN ${mul(s"${outName}_w${j}v", P2)} ELSE CAST(0 AS HUGEINT) END"
        steps += s"${outName}_k${j}b" -> rot(s"${outName}_k${j}a", 31)
        steps += s"${outName}_k${j}c" -> mul(s"${outName}_k${j}b", P1)
        steps += s"${outName}_k${j}d" -> s"CASE WHEN $nw >= $j THEN ${xorCols(h, s"${outName}_k${j}c")} ELSE $h END"
        steps += s"${outName}_k${j}e" -> rot(s"${outName}_k${j}d", 27)
        steps += s"${outName}_k${j}f" -> s"CASE WHEN $nw >= $j THEN ((${mul(s"${outName}_k${j}e", P1)} + $P4) % $T64) ELSE ${outName}_k${j}d END"
        h = s"${outName}_k${j}f"
      }
      // 4-byte round: h = rotl23(h ^ (u32·P1))·P2 + P3
      steps += s"${outName}_q1" -> mulSmall(s"${outName}_w4v", P1)
      steps += s"${outName}_q2" -> s"CASE WHEN $has4 THEN ${xorCols(h, s"${outName}_q1")} ELSE $h END"
      steps += s"${outName}_q3" -> rot(s"${outName}_q2", 23)
      steps += s"${outName}_q4" -> s"CASE WHEN $has4 THEN ((${mul(s"${outName}_q3", P2)} + $P3) % $T64) ELSE ${outName}_q2 END"
      h = s"${outName}_q4"
      for (j <- 1 to 3) { // 1-byte rounds: h = rotl11(h ^ (b·P5))·P1
        steps += s"${outName}_e$j" -> mulSmall(s"${outName}_b${j}v", P5)
        steps += s"${outName}_f$j" -> s"CASE WHEN $nb >= $j THEN ${xorCols(h, s"${outName}_e$j")} ELSE $h END"
        steps += s"${outName}_g$j" -> rot(s"${outName}_f$j", 11)
        steps += s"${outName}_i$j" -> s"CASE WHEN $nb >= $j THEN ${mul(s"${outName}_g$j", P1)} ELSE ${outName}_f$j END"
        h = s"${outName}_i$j"
      }
      steps += s"${outName}_a1" -> xorShr(h, 33)
      steps += s"${outName}_a2" -> mul(s"${outName}_a1", P2)
      steps += s"${outName}_a3" -> xorShr(s"${outName}_a2", 29)
      steps += s"${outName}_a4" -> mul(s"${outName}_a3", P3)
      steps += outName -> xorShr(s"${outName}_a4", 32)
      (baseCols, steps.toSeq)
    }

    /** XXH64.hashLong replay: xxh64 (given seed expression) of one
      * 8-byte little-endian long already held as an unsigned HUGEINT
      * column. `seedExpr` is a column name or literal; steps end in
      * unsigned `outName`.
      */
    def xxh64Long(valCol: String, seedExpr: String, outName: String): Seq[(String, String)] = {
      val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      steps += s"${outName}_s0" -> s"((($seedExpr) + $P5 + 8) % $T64)"
      steps += s"${outName}_t1" -> mul(valCol, P2)
      steps += s"${outName}_t2" -> rot(s"${outName}_t1", 31)
      steps += s"${outName}_t3" -> mul(s"${outName}_t2", P1)
      steps += s"${outName}_t4" -> xorCols(s"${outName}_s0", s"${outName}_t3")
      steps += s"${outName}_t5" -> rot(s"${outName}_t4", 27)
      steps += s"${outName}_t6" -> s"((${mul(s"${outName}_t5", P1)} + $P4) % $T64)"
      steps += s"${outName}_a1" -> xorShr(s"${outName}_t6", 33)
      steps += s"${outName}_a2" -> mul(s"${outName}_a1", P2)
      steps += s"${outName}_a3" -> xorShr(s"${outName}_a2", 29)
      steps += s"${outName}_a4" -> mul(s"${outName}_a3", P3)
      steps += outName -> xorShr(s"${outName}_a4", 32)
      steps.toSeq
    }
  }

  /** The LSH recall audit fully replayed — both of its legs rebuilt in
    * pure SQL at the published dials (nPerms=258, nBands=86, tau=0.5,
    * sampleMod=20, bucket cap 1024). The TRUTH leg is the exact
    * sample-vs-corpus Jaccard over distinct shingle strings (the
    * [[Dedup.hashedShingles]] hash-group == string-group argument).
    * The CANDIDATE leg replays the banded MinHash index bit for bit:
    * xxhash64 of each ≤31-byte shingle ([[SqlU64.xxh64Short31]] — the
    * whole sub-stripe tail as conditional rounds, with an error()
    * witness at 32 where the stripe path begins), the seed-42
    * universal-hash mixers embedded as the (a·h + b) permutation
    * table ([[graft.functions.MinHashSig.mixers]], the draw the
    * engine uses), signed per-perm mins, and
    * the per-band XXH64.hashLong fold ([[SqlU64.xxh64Long]] chained
    * rowsPerBand deep). Buckets, the 2..1024 cap, sample-touching
    * pairs, hits, and the micro-unit recall/efficiency then follow
    * relationally — bit-for-bit against [[Dedup.dedupLshEval]].
    */
  private lazy val lshEvalOracle: String = {
    import SqlU64._
    val nPerms = 258; val nBands = 86
    val sampleMod = 20; val maxBucket = 1024
    val (as, bs) = graft.functions.MinHashSig.mixers(nPerms, 42L)
    def u(x: Long): BigInt = { val b = BigInt(x); if (b < 0) b + M else b }
    val permRows = (0 until nPerms).map(p =>
      s"($p, CAST(${u(as(p))} AS HUGEINT), CAST(${u(bs(p))} AS HUGEINT))")
      .mkString(",\n            ")
    val (baseCols, hashSteps) = xxh64Short31("sh", "len", "hu")
    val baseColsSql = baseCols.map { case (n, ex) => s"$ex AS $n" }.mkString(",\n                 ")
    val (hashCtes, hashLast) = chain("lx", "shw", hashSteps)
    require(nPerms / nBands == 3, "the band fold below is unrolled for rowsPerBand = 3")
    val bandSteps =
      xxh64Long("m0u", "CAST(42 AS HUGEINT)", "bh0") ++
      xxh64Long("m1u", "bh0", "bh1") ++
      xxh64Long("m2u", "bh1", "bh2")
    val (bandCtes, bandLast) = chain("lb", "binp", bandSteps)
    val mulAH = // (hu·a + b) mod 2^64, hu and a both full 64-bit columns
      s"(((hu % 4294967296) * a + (((hu // 4294967296) * a) % 4294967296) * 4294967296 + b) % $T64)"
    raw"""WITH t AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        shx AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 2
                 THEN list_distinct(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS shs
          FROM t),
        shexp AS MATERIALIZED (SELECT doc_id, unnest(shs) AS sh FROM shx),
        shl AS MATERIALIZED (
          SELECT doc_id, sh,
                 CASE WHEN length(sh) <> strlen(sh) THEN error('lsh-eval oracle: non-ASCII shingle in doc ' || doc_id)
                      WHEN strlen(sh) > 31 THEN error('lsh-eval oracle: shingle longer than 31 bytes in doc ' || doc_id || ' — the stripe path is not replayable')
                      ELSE strlen(sh) END AS len
          FROM shexp),
        shw AS MATERIALIZED (
          SELECT doc_id, sh, len,
                 $baseColsSql
          FROM shl),
        $hashCtes,
        hh AS MATERIALIZED (SELECT doc_id, hu FROM $hashLast),
        perms(p, a, b) AS (
          VALUES
            $permRows),
        mins AS MATERIALIZED (
          SELECT doc_id, p,
                 MIN(${toSigned("v")}) AS m
          FROM (SELECT doc_id, p, $mulAH AS v FROM hh CROSS JOIN perms)
          GROUP BY doc_id, p),
        binp AS MATERIALIZED (
          SELECT doc_id, p // 3 AS band_idx,
                 ${toUnsigned("MAX(CASE WHEN p % 3 = 0 THEN m END)")} AS m0u,
                 ${toUnsigned("MAX(CASE WHEN p % 3 = 1 THEN m END)")} AS m1u,
                 ${toUnsigned("MAX(CASE WHEN p % 3 = 2 THEN m END)")} AS m2u
          FROM mins GROUP BY doc_id, p // 3),
        $bandCtes,
        bands AS MATERIALIZED (SELECT doc_id, band_idx, bh2 AS band_hash FROM $bandLast),
        buckets AS (
          SELECT band_idx, band_hash, list(doc_id) AS ids
          FROM bands GROUP BY band_idx, band_hash
          HAVING COUNT(*) BETWEEN 2 AND $maxBucket),
        cand AS (
          SELECT DISTINCT a, b FROM (
            SELECT unnest(ids) AS a, ids FROM buckets) t1, LATERAL (SELECT unnest(t1.ids) AS b) t2
          WHERE a < b),
        ct AS MATERIALIZED (
          SELECT a, b FROM cand WHERE a % $sampleMod = 0 OR b % $sampleMod = 0),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shexp GROUP BY doc_id),
        cmn AS (
          SELECT sp.doc_id AS pa, cp.doc_id AS pb, CAST(COUNT(*) AS BIGINT) AS c
          FROM shexp sp JOIN shexp cp ON sp.sh = cp.sh
          WHERE sp.doc_id % $sampleMod = 0 AND sp.doc_id <> cp.doc_id
          GROUP BY 1, 2),
        tru AS MATERIALIZED (
          SELECT DISTINCT LEAST(pa, pb) AS a, GREATEST(pa, pb) AS b
          FROM cmn JOIN sizes sa ON sa.doc_id = pa JOIN sizes sb ON sb.doc_id = pb
          WHERE FLOOR(1000.0 * c / (sa.n + sb.n - c)) >= 500),
        hits AS (SELECT ct.a, ct.b FROM ct JOIN tru USING (a, b)),
        agg AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tru) AS n_true_pairs,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS n_candidates,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits)
        SELECT n_true_pairs, n_candidates, n_hits,
               CASE WHEN n_true_pairs > 0 THEN (n_hits * 1000000) // n_true_pairs END AS recall_x1e6,
               CASE WHEN n_candidates > 0 THEN (n_hits * 1000000) // n_candidates END AS efficiency_x1e6
        FROM agg"""
  }

  /** Spark's HyperLogLogPlusPlus (`approx_count_distinct`, rsd 0.05 →
    * p=9, m=512) fully replayed in SQL — the register algebra is
    * order-free (per-index MAX of rank), which is what makes THIS
    * sketch replayable where the DataSketches-HLL keys (HIP estimator,
    * insertion-order-dependent) and the GK quantile keys (merge-
    * shape-dependent) are not. Per value: XXH64.hashLong(v, 42)
    * ([[SqlU64.xxh64Long]]), idx = top p bits, rank = leading zeros of
    * the remaining bits (padded at bit p−1, so rank ≤ 56) + 1 — the
    * bit length computed by an exact integer CASE ladder, no
    * float log2. Per group: V = zero registers, zInverse rebuilt
    * EXACTLY as a 2⁶⁴-scaled HUGEINT sum then rounded once to double,
    * the bias-corrected branch interpolating Spark's published
    * RAW_ESTIMATE/BIAS tables (k=6 nearest, embedded as literals read
    * from the public `HyperLogLogPlusPlusHelper` statics at generation
    * time), the linear-counting branch m·ln(m/V) when V > 0 and either
    * it is under the p=9 threshold (400) or the raw estimate is at most
    * 2.5·m, as Spark's `HyperLogLogPlusPlusHelper.query` decides. The last-ulp caveat is documented in SURVEY §5:
    * Java sums zInverse sequentially and DuckDB's ln/AVG may differ in
    * the final ulp — measure-zero for this corpus (verified at sf0.01
    * and sf0.1); a future corpus landing exactly on a rounding
    * boundary would indict the replay's ulp, not the engine.
    */
  private lazy val approxDistinctOracle: String = {
    import SqlU64._
    val p = 9; val m = 512
    val helperCls = "org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper"
    val raw = Class.forName(helperCls).getMethod("RAW_ESTIMATE_DATA")
      .invoke(null).asInstanceOf[Array[Array[Double]]](p - 4)
    val bias = Class.forName(helperCls).getMethod("BIAS_DATA")
      .invoke(null).asInstanceOf[Array[Array[Double]]](p - 4)
    val threshold = Class.forName(helperCls).getMethod("THRESHOLDS")
      .invoke(null).asInstanceOf[Array[Double]](p - 4)
    val alphaM2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    val tableRows = raw.indices.map(i => s"($i, ${raw(i)}, ${bias(i)})").mkString(", ")
    val hashSteps = xxh64Long("uv", "CAST(42 AS HUGEINT)", "hu")
    val (hashCtes, hashLast) = chain("hx", "du", hashSteps)
    // exact integer bit length of w (w >= 256 by the padding, < 2^64):
    // binary-search CASE ladder, float-free
    def bitlen(col: String): String = {
      val cases = (63 to 9 by -1).map(b =>
        s"WHEN $col >= ${BigInt(1) << b} THEN ${b + 1}").mkString(" ")
      s"(CASE $cases ELSE 9 END)"
    }
    raw"""WITH du AS MATERIALIZED (
          SELECT DISTINCT event_type, CAST(user_id AS HUGEINT) AS uv FROM events),
        $hashCtes,
        ir AS MATERIALIZED (
          SELECT event_type,
                 hu // ${BigInt(1) << (64 - p)} AS idx,
                 65 - ${bitlen(s"((hu % ${BigInt(1) << (64 - p)}) * ${1 << p} + ${1 << (p - 1)})")} AS rank
          FROM $hashLast),
        regs AS (SELECT event_type, idx, MAX(rank) AS r FROM ir GROUP BY 1, 2),
        agg AS (
          SELECT event_type,
                 $m - COUNT(*) AS v,
                 (($m - COUNT(*)) * POWER(2, 64)::HUGEINT
                   + SUM(POWER(2, 64 - r)::HUGEINT)) AS zscaled
          FROM regs GROUP BY event_type),
        est AS (
          SELECT event_type, v,
                 $alphaM2 / (CAST(zscaled AS DOUBLE) / 18446744073709551616.0) AS e
          FROM agg),
        rbt(i, raw_est, bias) AS (VALUES $tableRows),
        nn AS (
          SELECT event_type, bias,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ABS(e - raw_est), i) AS rn
          FROM est CROSS JOIN rbt),
        eb AS (SELECT event_type, AVG(bias) AS bias6 FROM nn WHERE rn <= 6 GROUP BY event_type),
        fin AS (
          SELECT est.event_type,
                 CASE WHEN est.e <= ${5.0 * m} THEN est.e - eb.bias6 ELSE est.e END AS ebc,
                 CASE WHEN est.v > 0 THEN $m * ln($m / CAST(est.v AS DOUBLE)) END AS h,
                 est.v, est.e
          FROM est JOIN eb USING (event_type)),
        cnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY event_type)
        SELECT f.event_type,
               CAST(FLOOR(CASE WHEN f.v > 0 AND (f.h <= $threshold OR f.e <= ${2.5 * m}) THEN f.h ELSE f.ebc END + 0.5) AS BIGINT) AS approx_users,
               c.n_events
        FROM fin f JOIN cnt c USING (event_type)
        ORDER BY f.event_type"""
  }

  /** The exact-Jaccard delta-vs-base oracle shared by the incremental
    * MinHash key and its streaming twin: the engine's banding can only
    * MISS candidates vs this all-pairs SQL (and provably doesn't at
    * the shipped dials — see [[graft.operators.Dedup
    * .dedupIncrementalMinhash]]'s scaladoc), so one oracle verifies
    * both the derive-per-query and the persisted-band-index road.
    */
  private lazy val incrementalMinhashOracle: String =
    raw"""WITH t AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
           FROM t),
         scored AS (
           SELECT d.doc_id AS doc_id, b.doc_id AS base_id,
                  CAST(FLOOR(1000.0 * len(list_intersect(d.sh, b.sh)) / len(list_distinct(d.sh || b.sh))) AS BIGINT) AS jac
           FROM sh d JOIN sh b ON d.doc_id % ${Dedup.DefaultDeltaMod} = 0 AND b.doc_id % ${Dedup.DefaultDeltaMod} <> 0),
         best AS (
           SELECT doc_id, base_id, jac,
                  row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, base_id) AS rn
           FROM scored WHERE jac >= 800)
         SELECT dd.doc_id, b.base_id IS NOT NULL AS is_near_dup,
                b.base_id AS best_base_id, b.jac AS best_jaccard_x1000
         FROM (SELECT doc_id FROM documents WHERE doc_id % ${Dedup.DefaultDeltaMod} = 0) dd
         LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
         ORDER BY dd.doc_id"""

  /** [[approxDistinctOracle]]'s HLL++ replay generalized PER COLUMN
    * for the approximate profile: the engine runs the same
    * `approx_count_distinct` (rsd 0.05 → p=9, m=512) once per
    * profiled column inside its one-Expand plan, so the oracle
    * replays five INDEPENDENT register sets — each over the DISTINCT
    * non-null values of its column (registers are per-index MAXes, so
    * hashing distinct values is identity-preserving) — and splices
    * the five estimates into the exact profile's assembly skeleton.
    * Hash input per Catalyst type: longs (event_id/user_id/ts_s)
    * hash their 8-byte LE value ([[SqlU64.xxh64Long]], seed 42);
    * strings (event_type) hash their UTF-8 bytes
    * ([[SqlU64.xxh64Short31]], guarded by the ≤31-byte/ASCII error()
    * witness); doubles (value) hash `doubleToLongBits`, rebuilt
    * exactly in SQL: v·2³⁰ scales by a power of two (lossless for a
    * double), a CASE ladder finds the binade k, the mantissa
    * M = sv·2⁵²⁻ᵏ is exactly integral (power-of-two scaling is
    * exact), and bits = (k−30+1023)·2⁵² + (M−2⁵²); v = 0 → bits 0,
    * negative/subnormal values error() as outside the replay domain
    * (the corpus is positive cents). Estimator branches, zInverse
    * HUGEINT reconstruction, and the published bias tables exactly as
    * [[approxDistinctOracle]], inheriting its documented last-ulp
    * caveat (SURVEY §5).
    */
  private lazy val profileColumnsApproxOracle: String = {
    import SqlU64._
    val p = 9; val m = 512
    val helperCls = "org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper"
    val rawT = Class.forName(helperCls).getMethod("RAW_ESTIMATE_DATA")
      .invoke(null).asInstanceOf[Array[Array[Double]]](p - 4)
    val biasT = Class.forName(helperCls).getMethod("BIAS_DATA")
      .invoke(null).asInstanceOf[Array[Array[Double]]](p - 4)
    val threshold = Class.forName(helperCls).getMethod("THRESHOLDS")
      .invoke(null).asInstanceOf[Array[Double]](p - 4)
    val alphaM2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    val tableRows = rawT.indices.map(i => s"($i, ${rawT(i)}, ${biasT(i)})").mkString(", ")
    val idxDiv = BigInt(1) << (64 - p)
    def bitlen(col: String): String = {
      val cases = (63 to 9 by -1).map(b =>
        s"WHEN $col >= ${BigInt(1) << b} THEN ${b + 1}").mkString(" ")
      s"(CASE $cases ELSE 9 END)"
    }
    // shared estimator tail over a CTE carrying unsigned hash column hu
    def estCtes(n: String, hashedLast: String): String =
      raw"""${n}_ir AS (
          SELECT hu // $idxDiv AS idx,
                 65 - ${bitlen(s"((hu % $idxDiv) * ${1 << p} + ${1 << (p - 1)})")} AS rank
          FROM $hashedLast),
        ${n}_regs AS (SELECT idx, MAX(rank) AS r FROM ${n}_ir GROUP BY idx),
        ${n}_agg AS (
          SELECT $m - COUNT(*) AS v,
                 (($m - COUNT(*)) * POWER(2, 64)::HUGEINT
                   + SUM(POWER(2, 64 - r)::HUGEINT)) AS zscaled
          FROM ${n}_regs),
        ${n}_est AS (
          SELECT v, $alphaM2 / (CAST(zscaled AS DOUBLE) / 18446744073709551616.0) AS e
          FROM ${n}_agg),
        ${n}_nn AS (
          SELECT bias, row_number() OVER (ORDER BY ABS(e - raw_est), i) AS rn
          FROM ${n}_est CROSS JOIN rbt),
        ${n}_eb AS (SELECT AVG(bias) AS bias6 FROM ${n}_nn WHERE rn <= 6),
        ${n}_fin AS (
          SELECT CASE WHEN est.e <= ${5.0 * m} THEN est.e - eb.bias6 ELSE est.e END AS ebc,
                 CASE WHEN est.v > 0 THEN $m * ln($m / CAST(est.v AS DOUBLE)) END AS h,
                 est.v AS v, est.e AS e
          FROM ${n}_est est CROSS JOIN ${n}_eb eb),
        ${n}_out AS (
          SELECT CAST(FLOOR(CASE WHEN v > 0 AND (h <= $threshold OR e <= ${2.5 * m}) THEN h ELSE ebc END + 0.5) AS BIGINT) AS nd
          FROM ${n}_fin)"""
    // one column's register pipeline: distinct hash-input mapping + hashLong + estimator
    def hllCol(n: String, uvExpr: String, where: String): String = {
      val (hashCtes, hashLast) =
        chain(s"${n}x", s"${n}_dv", xxh64Long("uv", "CAST(42 AS HUGEINT)", "hu"))
      raw"""${n}_dv AS (SELECT DISTINCT ($uvExpr) AS uv FROM e WHERE $where),
        $hashCtes,
        ${estCtes(n, hashLast)}"""
    }
    def signedLong(c: String) =
      s"CASE WHEN $c < 0 THEN CAST($c AS HUGEINT) + $T64 ELSE CAST($c AS HUGEINT) END"
    // doubleToLongBits(value) for positive normal doubles < 2^31
    val sv = "(value * 1073741824.0)"
    val kCases = (60 to 1 by -1).map(b => s"WHEN $sv >= ${BigInt(1) << b}.0 THEN $b").mkString(" ")
    val kSel = s"(CASE $kCases ELSE 0 END)"
    val dBits =
      s"""(CASE WHEN value = 0 THEN CAST(0 AS HUGEINT)
           WHEN value < 0 OR $sv < 1.0 OR $sv >= ${BigInt(1) << 61}.0
             THEN CAST(error('profile approx oracle: value outside [0, 2^31) normal replay domain: ' || value) AS HUGEINT)
           ELSE CAST($kSel - 30 + 1023 AS HUGEINT) * 4503599627370496
                + (CAST($sv * POWER(2.0, 52 - $kSel) AS HUGEINT) - 4503599627370496) END)"""
    // event_type: variable-length ≤31-byte ASCII string hash
    val (baseCols, hashSteps) = xxh64Short31("tok", "len", "hu")
    val baseColsSql = baseCols.map { case (nm, ex) => s"$ex AS $nm" }.mkString(",\n                 ")
    val (etyCtes, etyLast) = chain("etyx", "ety_w", hashSteps)
    val etySql = raw"""ety_dv AS (
          SELECT DISTINCT event_type AS tok FROM e WHERE event_type IS NOT NULL),
        ety_l AS (
          SELECT tok,
                 CASE WHEN strlen(tok) > 31 OR length(tok) <> strlen(tok)
                      THEN CAST(error('profile approx oracle: event_type not <=31-byte ASCII — stripe path not replayable') AS BIGINT)
                      ELSE strlen(tok) END AS len
          FROM ety_dv),
        ety_w AS (SELECT *,
                 $baseColsSql
          FROM ety_l),
        $etyCtes,
        ${estCtes("ety", etyLast)}"""
    raw"""WITH e AS (
          SELECT event_id, user_id, event_type, value,
                 epoch_ns(ts)//1000000000 AS ts_s
          FROM events),
        rbt(i, raw_est, bias) AS (VALUES $tableRows),
        ${hllCol("eid", signedLong("event_id"), "event_id IS NOT NULL")},
        ${hllCol("uid", signedLong("user_id"), "user_id IS NOT NULL")},
        ${hllCol("tss", signedLong("ts_s"), "ts_s IS NOT NULL")},
        ${hllCol("val", dBits, "value IS NOT NULL")},
        $etySql
        SELECT * FROM (
          SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
                 COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
                 (SELECT nd FROM eid_out) AS n_distinct,
                 CAST(MIN(event_id) AS VARCHAR) AS min_s,
                 CAST(MAX(event_id) AS VARCHAR) AS max_s
          FROM e
          UNION ALL
          SELECT 'event_type', COUNT(*),
                 COUNT(CASE WHEN event_type IS NULL THEN 1 END),
                 (SELECT nd FROM ety_out), MIN(event_type), MAX(event_type)
          FROM e
          UNION ALL
          SELECT 'ts_s', COUNT(*),
                 COUNT(CASE WHEN ts_s IS NULL THEN 1 END),
                 (SELECT nd FROM tss_out),
                 CAST(MIN(ts_s) AS VARCHAR), CAST(MAX(ts_s) AS VARCHAR)
          FROM e
          UNION ALL
          SELECT 'user_id', COUNT(*),
                 COUNT(CASE WHEN user_id IS NULL THEN 1 END),
                 (SELECT nd FROM uid_out),
                 CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
          FROM e
          UNION ALL
          SELECT 'value_x100', COUNT(*),
                 COUNT(CASE WHEN value IS NULL THEN 1 END),
                 (SELECT nd FROM val_out),
                 CAST(CAST(FLOOR(100.0*MIN(value)) AS BIGINT) AS VARCHAR),
                 CAST(CAST(FLOOR(100.0*MAX(value)) AS BIGINT) AS VARCHAR)
          FROM e
        ) ORDER BY col_name"""
  }

  /** The bloom screen fully replayed — the sketch's bit positions
    * rebuilt in pure SQL and the bitwise-OR'd base bitset replicated
    * as a DISTINCT position set (set semantics ARE the bitset). The
    * engine keys the bloom on xxhash64 of the sha2-256 hex digest — a
    * fixed 64-byte ASCII input, so the XXH64 replay is straight-line
    * ([[SqlU64.xxh64Fixed64]]: two stripes, empty tail). On top: the
    * Kirsch–Mitzenmacher probe positions (h1 + i·h2) mod m with
    * h2 = murmur-finalizer-mix(h1) | 1 — exactly
    * [[graft.functions.BloomUtil.set]]/`contains` — and the final
    * verdict joins the sha set for the exact is_dup, matching
    * [[graft.operators.Dedup.dedupBloomProbe]] bit for bit.
    */
  private lazy val bloomProbeOracle: String = {
    import SqlU64._
    val numBits = 1 << 17; val numHashes = 5
    val dm = Dedup.DefaultDeltaMod
    val (xu, xxhSteps) = xxh64Fixed64("sha", "xu")
    val mixSteps = Seq(
      "mx1" -> xorShr(xu, 33),
      "mx2" -> mul("mx1", BigInt("ff51afd7ed558ccd", 16)),
      "mx3" -> xorShr("mx2", 33),
      "mx4" -> mul("mx3", BigInt("c4ceb9fe1a85ec53", 16)),
      "mx5" -> xorShr("mx4", 33),
      "h2u" -> "(mx5 - (mx5 % 2) + 1)")
    val (cteSql, last) = chain("bp", "bw", xxhSteps ++ mixSteps)
    raw"""WITH bw AS MATERIALIZED (
          SELECT doc_id,
                 sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS sha
          FROM documents),
        $cteSql,
        hh AS MATERIALIZED (SELECT doc_id, sha, xu, h2u FROM $last),
        pos AS MATERIALIZED (
          SELECT doc_id, sha, ((xu + i.range * h2u) % $T64) % $numBits AS pos
          FROM hh CROSS JOIN range(0, $numHashes) i),
        basepos AS (SELECT DISTINCT pos FROM pos WHERE doc_id % $dm <> 0),
        basesha AS (SELECT DISTINCT sha FROM bw WHERE doc_id % $dm <> 0),
        screened AS (
          SELECT p.doc_id, BOOL_AND(b.pos IS NOT NULL) AS maybe_dup
          FROM pos p LEFT JOIN basepos b ON p.pos = b.pos
          WHERE p.doc_id % $dm = 0
          GROUP BY p.doc_id)
        SELECT s.doc_id, s.maybe_dup,
               s.maybe_dup AND (bs.sha IS NOT NULL) AS is_dup
        FROM screened s
        JOIN bw w ON w.doc_id = s.doc_id
        LEFT JOIN basesha bs ON bs.sha = w.sha
        ORDER BY s.doc_id"""
  }

  /** Winnowing fully replayed — including XXH64 ITSELF, rebuilt in
    * pure SQL: DuckDB has no xxhash64, but for the 8-byte ASCII grams
    * the engine hashes (k=8 codepoint grams of the normalized text;
    * an `error()` witness refuses any non-ASCII doc, where byte and
    * codepoint grams would diverge) the algorithm specializes to a
    * straight line of wrapping 64-bit ops, each expressible in
    * HUGEINT mod-2^64 arithmetic: multiply via 32-bit splitting
    * ((a%2³²)·b + ((a»32)·b mod 2³²)·2³², all < 2⁹⁷ — inside HUGEINT),
    * rotate via divide/multiply, xor through a signed-BIGINT bridge.
    * Every step lands in its OWN chained CTE column — inlining the
    * chain re-evaluates subexpressions exponentially (measured: the
    * inlined form never parsed, the chained form runs the corpus in
    * seconds). Selection replays the deque semantics relationally:
    * the rightmost window minimum is min(struct(h, −g)) over the
    * w-row frame, consecutive duplicate selections collapse via lag,
    * and the signature is COUNT + bit_xor — bit-for-bit against
    * [[graft.functions.GraftWinnow]].
    */
  private lazy val winnowingOracle: String = {
    val k = 8; val w = 4
    val M = BigInt(1) << 64
    val T64 = "CAST(18446744073709551616 AS HUGEINT)"
    val P1 = BigInt("9E3779B185EBCA87", 16); val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16); val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    val C = (BigInt(42) + P5 + k) mod M
    def mul(col: String, c: BigInt) =
      s"((($col % 4294967296) * $c + ((($col // 4294967296) * $c) % 4294967296) * 4294967296) % $T64)"
    def rot(col: String, r: Int) =
      s"(($col % ${BigInt(1) << (64 - r)}) * ${BigInt(1) << r} + $col // ${BigInt(1) << (64 - r)})"
    def toSigned(col: String) =
      s"(CASE WHEN $col >= 9223372036854775808 THEN CAST($col - $T64 AS BIGINT) ELSE CAST($col AS BIGINT) END)"
    def toUnsigned(x: String) =
      s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $T64 ELSE CAST($x AS HUGEINT) END)"
    def xorshr(col: String, n: Int) =
      toUnsigned(s"xor(${toSigned(col)}, CAST($col // ${BigInt(1) << n} AS BIGINT))")
    def xorc(col: String, c: BigInt) = {
      val sc = if (c >= (BigInt(1) << 63)) c - M else c
      toUnsigned(s"xor(${toSigned(col)}, CAST($sc AS BIGINT))")
    }
    val steps = Seq(
      "c1" -> mul("w", P2), "c2" -> rot("c1", 31), "c3" -> mul("c2", P1),
      "c4" -> xorc("c3", C), "c5" -> rot("c4", 27),
      "c6" -> s"(${mul("c5", P1)} + $P4) % $T64",
      "c7" -> xorshr("c6", 33), "c8" -> mul("c7", P2), "c9" -> xorshr("c8", 29),
      "c10" -> mul("c9", P3), "c11" -> xorshr("c10", 32))
    val chain = steps.zipWithIndex.map { case ((name, ex), i) =>
      val prev = if (i == 0) "h0" else s"s${i - 1}"
      s"s$i AS (SELECT doc_id, g, $ex AS $name FROM $prev)"
    }.mkString(",\n        ")
    val word = (0 until k).map(i =>
      s"CAST(ascii(substr(norm, CAST(g AS INT) + $i, 1)) AS HUGEINT) * ${BigInt(1) << (8 * i)}")
      .mkString(" + ")
    s"""WITH docs AS (
          SELECT doc_id,
                 CASE WHEN length(n) <> strlen(n) THEN error('winnowing oracle: non-ASCII doc ' || doc_id || ' — byte grams would diverge from codepoint grams')
                      ELSE n END AS norm
          FROM (SELECT doc_id, COALESCE(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '') AS n
                FROM documents)),
        meta AS (SELECT doc_id, CAST(GREATEST(length(norm) - ${k - 1}, 0) AS BIGINT) AS n_kgrams FROM docs),
        grams AS MATERIALIZED (
          SELECT doc_id, CAST(g AS BIGINT) AS g, norm FROM (
            SELECT doc_id, norm, unnest(range(1, GREATEST(length(norm) - ${k - 2}, 1))) AS g FROM docs)),
        h0 AS (SELECT doc_id, g, ($word) AS w FROM grams),
        $chain,
        hh AS MATERIALIZED (
          SELECT doc_id, g, ${toSigned("c11")} AS h FROM s${steps.size - 1}),
        sel0 AS (
          SELECT doc_id, g,
            min(struct_pack(h := h, ng := 0 - g)) OVER fr AS mn,
            count(*) OVER fr AS nf
          FROM hh
          WINDOW fr AS (PARTITION BY doc_id ORDER BY g ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)),
        sel AS (
          SELECT doc_id, g, (0 - mn.ng) AS sel_g, mn.h AS sel_h FROM sel0 WHERE nf = $w),
        dedup AS (
          SELECT doc_id, sel_g, sel_h FROM (
            SELECT *, lag(sel_g) OVER (PARTITION BY doc_id ORDER BY g) AS prev_sel FROM sel)
          WHERE prev_sel IS NULL OR sel_g <> prev_sel),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
                 CAST(bit_xor(sel_h) AS BIGINT) AS fp_checksum
          FROM dedup GROUP BY doc_id)
        SELECT m.doc_id, m.n_kgrams, COALESCE(a.n_fingerprints, 0) AS n_fingerprints,
               COALESCE(a.fp_checksum, 0) AS fp_checksum
        FROM meta m LEFT JOIN agg a ON a.doc_id = m.doc_id
        ORDER BY m.doc_id"""
  }

  /** SimHash dedup fully replayed — the [[winnowingOracle]]'s
    * SQL-XXH64 generalized to VARIABLE-length tokens: for the ≤15-byte
    * whitespace tokens the corpus produces (witnessed — a longer token
    * errors rather than hashing wrong; the stripe path at ≥32 bytes is
    * not straight-line), the tail rounds become CONDITIONAL chained
    * steps (word round iff len ≥ 8, 4-byte round iff the remainder
    * holds one, then up to three byte rounds), each a CASE
    * transformed-or-passthrough column. Downstream the whole operator
    * is relational: per-(doc, bit) signed accumulation → signature
    * pack, 4×16-bit banding, bucket-bounded candidate pairs, hamming
    * verify (bit_count over xor), and the one-hop smallest-verified-
    * neighbor verdict.
    */
  private lazy val dedupSimhashOracle: String = {
    val M = BigInt(1) << 64
    val T64 = "CAST(18446744073709551616 AS HUGEINT)"
    val P1 = BigInt("9E3779B185EBCA87", 16); val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16); val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    val C0 = (BigInt(42) + P5) mod M
    def mul(col: String, c: BigInt) =
      s"((($col % 4294967296) * $c + ((($col // 4294967296) * $c) % 4294967296) * 4294967296) % $T64)"
    def mulSmall(col: String, c: BigInt) = s"(($col * $c) % $T64)" // col < 2^32
    def rot(col: String, r: Int) =
      s"(($col % ${BigInt(1) << (64 - r)}) * ${BigInt(1) << r} + $col // ${BigInt(1) << (64 - r)})"
    def toSig(col: String) =
      s"(CASE WHEN $col >= 9223372036854775808 THEN CAST($col - $T64 AS BIGINT) ELSE CAST($col AS BIGINT) END)"
    def toUns(x: String) =
      s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $T64 ELSE CAST($x AS HUGEINT) END)"
    def xorCols(a: String, b: String) = toUns(s"xor(${toSig(a)}, ${toSig(b)})")
    def xorShr(col: String, n: Int) =
      toUns(s"xor(${toSig(col)}, CAST($col // ${BigInt(1) << n} AS BIGINT))")
    val w8 = (0 until 8).map(i =>
      s"CAST(ascii(substr(tok, ${i + 1}, 1)) AS HUGEINT) * ${BigInt(1) << (8 * i)}").mkString(" + ")
    val w4 = (0 until 4).map(i =>
      s"CAST(ascii(substr(tok, CAST(o4 AS INT) + ${i + 1}, 1)) AS HUGEINT) * ${BigInt(1) << (8 * i)}").mkString(" + ")
    def bN(j: Int) = s"CAST(ascii(substr(tok, CAST(ob AS INT) + $j, 1)) AS HUGEINT)"
    val steps = Seq(
      "k1" -> s"CASE WHEN nw = 1 THEN ${mul("w8v", P2)} ELSE CAST(0 AS HUGEINT) END",
      "k2" -> rot("k1", 31),
      "k3" -> mul("k2", P1),
      "h1" -> s"CASE WHEN nw = 1 THEN ${xorCols("h0", "k3")} ELSE h0 END",
      "h1r" -> rot("h1", 27),
      "h2" -> s"CASE WHEN nw = 1 THEN (${mul("h1r", P1)} + $P4) % $T64 ELSE h1 END",
      "q1" -> mulSmall("w4v", P1),
      "h3" -> s"CASE WHEN has4 THEN ${xorCols("h2", "q1")} ELSE h2 END",
      "h3r" -> rot("h3", 23),
      "h4" -> s"CASE WHEN has4 THEN (${mul("h3r", P2)} + $P3) % $T64 ELSE h3 END") ++
      (1 to 3).flatMap { j => Seq(
        s"e$j" -> mulSmall(s"b${j}v", P5),
        s"f$j" -> s"CASE WHEN nb >= $j THEN ${xorCols(s"h${3 + j}", s"e$j")} ELSE h${3 + j} END",
        s"g${j}r" -> rot(s"f$j", 11),
        s"h${4 + j}" -> s"CASE WHEN nb >= $j THEN ${mul(s"g${j}r", P1)} ELSE f$j END")
      } ++ Seq(
      "m1" -> xorShr("h7", 33),
      "m2" -> mul("m1", P2),
      "m3" -> xorShr("m2", 29),
      "m4" -> mul("m3", P3),
      "m5" -> xorShr("m4", 32))
    val chain = steps.zipWithIndex.map { case ((name, ex), i) =>
      val prev = if (i == 0) "tb" else s"x${i - 1}"
      s"x$i AS (SELECT *, $ex AS $name FROM $prev)"
    }.mkString(",\n        ")
    val last = s"x${steps.size - 1}"
    val nbExpr = "len - ((len // 8) * 8 + CASE WHEN (len - (len // 8) * 8) >= 4 THEN 4 ELSE 0 END)"
    s"""WITH toks AS MATERIALIZED (
          SELECT doc_id, tok,
            CASE WHEN strlen(tok) > 15 THEN CAST(error('simhash oracle: token longer than 15 bytes — the stripe path is not replayable') AS BIGINT)
                 ELSE strlen(tok) END AS len
          FROM (
            SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
            FROM documents)),
        tb AS MATERIALIZED (
          SELECT doc_id, tok, len,
                 len // 8 AS nw, (len // 8) * 8 AS o4,
                 (len - (len // 8) * 8) >= 4 AS has4,
                 (len // 8) * 8 + CASE WHEN (len - (len // 8) * 8) >= 4 THEN 4 ELSE 0 END AS ob,
                 $nbExpr AS nb,
                 ($C0 + len) % $T64 AS h0,
                 CASE WHEN len >= 8 THEN ($w8) ELSE CAST(0 AS HUGEINT) END AS w8v,
                 CASE WHEN (len - (len // 8) * 8) >= 4 THEN ($w4) ELSE CAST(0 AS HUGEINT) END AS w4v,
                 CASE WHEN $nbExpr >= 1 THEN ${bN(1)} ELSE CAST(0 AS HUGEINT) END AS b1v,
                 CASE WHEN $nbExpr >= 2 THEN ${bN(2)} ELSE CAST(0 AS HUGEINT) END AS b2v,
                 CASE WHEN $nbExpr >= 3 THEN ${bN(3)} ELSE CAST(0 AS HUGEINT) END AS b3v
          FROM toks),
        $chain,
        th AS MATERIALIZED (SELECT doc_id, m5 AS hu FROM $last),
        bits AS (
          SELECT doc_id, k.range AS k,
                 SUM(CASE WHEN (hu // POWER(2, k.range)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS acc
          FROM th CROSS JOIN range(0, 64) k GROUP BY doc_id, k.range),
        sig AS MATERIALIZED (
          SELECT doc_id, ${toSig("su")} AS simhash FROM (
            SELECT doc_id, CAST(SUM(CASE WHEN acc > 0 THEN POWER(2, k)::HUGEINT ELSE 0 END) AS HUGEINT) AS su
            FROM bits GROUP BY doc_id)),
        bands AS (
          SELECT doc_id, b.range AS band_idx,
                 CAST((${toUns("simhash")} // POWER(2, b.range * 16)::HUGEINT) % 65536 AS BIGINT) AS band_hash
          FROM sig CROSS JOIN range(0, 4) b),
        buckets AS (
          SELECT band_idx, band_hash, list(doc_id) AS ids
          FROM bands GROUP BY band_idx, band_hash HAVING COUNT(*) BETWEEN 2 AND 1024),
        cand AS (
          SELECT DISTINCT a, b FROM (
            SELECT unnest(ids) AS a, ids FROM buckets) t1, LATERAL (SELECT unnest(t1.ids) AS b) t2
          WHERE a < b),
        verified AS (
          SELECT c.a, c.b FROM cand c
          JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3),
        reps AS (SELECT b AS doc_id, MIN(a) AS smaller_rep FROM verified GROUP BY b)
        SELECT s.doc_id, s.simhash,
               COALESCE(r.smaller_rep, s.doc_id) AS rep_doc_id,
               r.smaller_rep IS NOT NULL AS is_dup
        FROM sig s LEFT JOIN reps r ON r.doc_id = s.doc_id
        ORDER BY s.doc_id"""
  }

  /** Exact-double brute-force ANN oracle. DuckDB's
    * `list_cosine_similarity` computes in float32 (1-ulp score drift →
    * hash mismatches), but an explicitly expanded per-dimension sum of
    * `CAST(... AS DOUBLE)` products evaluates left-associated in IEEE
    * double — the SAME operation order as [[graft.functions.CosineSim]]'s
    * sequential loop — so floor(1e6·cos) is bit-identical across
    * engines (verified at sf0.001 and sf0.01). Fixed to the testdata's
    * 64-dim embeddings; the oracle is per-corpus by nature.
    */
  private lazy val annBruteforceOracle: String = {
    val dim = 64
    val dot = (1 to dim).map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    val nx  = (1 to dim).map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(a.embedding[$i] AS DOUBLE)").mkString(" + ")
    val ny  = (1 to dim).map(i => s"CAST(p.pe[$i] AS DOUBLE)*CAST(p.pe[$i] AS DOUBLE)").mkString(" + ")
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id % 100 < 2),
        scored AS (
          SELECT p.probe_id, a.vec_id AS neighbor_id,
                 CASE WHEN sqrt($nx)*sqrt($ny) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(($dot) / (sqrt($nx)*sqrt($ny)) * 1000000.0) AS BIGINT) END AS cosine_x1e6
          FROM embeddings a JOIN p ON a.vec_id <> p.probe_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine_x1e6 DESC, neighbor_id) AS rank
          FROM scored)
        SELECT probe_id, rank, neighbor_id, cosine_x1e6 FROM ranked WHERE rank <= 10
        ORDER BY probe_id, rank"""
  }
}
