package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 + §7.
  *
  * Every `queries` key is one operator from the SURVEY §2 inventory;
  * `oracleSql` holds the DuckDB-equivalent SQL for the hash compare.
  * Column names and ordering are aligned pairwise (the driver sorts
  * columns by name before hashing). Float aggregate outputs are
  * rounded on both sides; raw passthrough floats are left exact.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Dedup.dedupFirst(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Operators return UNORDERED relational results; each entry applies
    * the deterministic output order the oracle compare needs with a
    * plain `orderBy` at the presentation edge, so Explain, the plan
    * suites, Verify and Bench all see the one plan an entry builds.
    * The sort is a parallel range sort. Its RangePartitioner samples
    * the child's output; under AQE the stages below the child's last
    * exchange are already materialized query stages by then, so the
    * sampler re-runs only the last stage, never the whole DAG.
    * q3/q_topk keep their internal orderBy+limit — that's top-k
    * semantics and compiles to a single-pass TakeOrderedAndProject.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 dedup core
    "dedup_first" -> ((s, d) => withTsMs(Dedup.dedupFirst(s, d)).orderBy("event_id")),
    "dedup_passthrough" -> ((s, d) => withTsMs(Dedup.dedupPassthrough(s, d)).orderBy("event_id")),
    "dedup_stats" -> ((s, d) => Dedup.dedupStats(s, d)
      .withColumn("window_start", unix_millis(col("window_start"))).orderBy("window_start")),
    "dedup_ttl_bucket" -> ((s, d) => Dedup.dedupTtlBucket(s, d).orderBy("event_id")),
    // coarse (user_id, event_type) key + the reference's real 4h TTL:
    // the content key has one duplicate pair in the test data, which
    // would make the chain oracle vacuous — see Dedup.dedupTtlChain.
    "dedup_ttl_chain" -> ((s, d) => Dedup.dedupTtlChain(s, d, ttlMinutes = 240,
      keyOf = e => s"${e.user_id}|${e.event_type}").orderBy("event_id")),
    "dedup_multi_topic" -> ((s, d) => Dedup.dedupMultiTopic(s, d).orderBy("event_id")),
    // §2.2 parsing
    "parse_props_json" -> ((s, d) => Parse.parsePropsJson(s, d).orderBy("k_bucket")),
    "parse_topic" -> ((s, d) => Parse.parseTopic(s, d).orderBy("topic_type")),
    // §2.3 relational
    "q1_agg" -> ((s, d) => Relational.q1Agg(s, d).orderBy("l_returnflag", "l_linestatus")),
    "q3_join" -> ((s, d) => Relational.q3Join(s, d)
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))),
    "q5_multijoin" -> ((s, d) => Relational.q5MultiJoin(s, d)
      .orderBy(col("revenue").desc, col("n_name"))),
    "q6_filter" -> ((s, d) => Relational.q6Filter(s, d)),
    "q_window" -> ((s, d) => Relational.qWindow(s, d).orderBy("o_custkey", "rnk")),
    "q_rollup" -> ((s, d) => Relational.qRollup(s, d)
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),
    "q_topk" -> ((s, d) => Relational.qTopK(s, d)),
    "q_sessionize" -> ((s, d) => Relational.qSessionize(s, d).orderBy("user_id")),
    "q_percentile" -> ((s, d) => Relational.qPercentile(s, d).orderBy("event_type")),
    "q_asof_join" -> ((s, d) => qAsOf(s, d).orderBy("p_id")),
    "q_cube" -> ((s, d) => Relational.qCube(s, d)
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),
    "q_antijoin" -> ((s, d) => Relational.qAntiJoin(s, d).orderBy("c_custkey")),
    "q_setops" -> ((s, d) => Relational.qSetOps(s, d).orderBy("user_id")),
    "q_intersect" -> ((s, d) => Relational.qIntersect(s, d).orderBy("user_id")),
    "q_retention" -> ((s, d) => Relational.qRetention(s, d).orderBy("cohort_d", "day_offset")),
    "q_funnel" -> ((s, d) => Relational.qFunnel(s, d).orderBy("user_id")),
    "q_funnel_steps" -> ((s, d) => Relational.qFunnelSteps(s, d).orderBy("user_id")),
    "q_distinct" -> ((s, d) => Relational.qDistinct(s, d).orderBy("event_type")),
    "q_stats_agg" -> ((s, d) => Relational.qStatsAgg(s, d).orderBy("event_type")),
    "q_scalar_subq" -> ((s, d) => Relational.qScalarSubquery(s, d).orderBy("o_orderkey")),
    "q_salted_agg" -> ((s, d) => Relational.qSaltedAgg(s, d).orderBy("event_type")),
    "q_salted_join" -> ((s, d) => Relational.qSaltedJoin(s, d).orderBy("event_type")),
    "q_pivot" -> ((s, d) => Relational.qPivot(s, d).orderBy("o_orderpriority")),
    "q_grouping_sets" -> ((s, d) => Relational.qGroupingSets(s, d)
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),
    "q_semi_join" -> ((s, d) => Relational.qSemiJoin(s, d).orderBy("c_custkey")),
    "q_range_frame" -> ((s, d) => Relational.qRangeFrame(s, d).orderBy("event_id")),
    "q_range_join" -> ((s, d) => qRangeJoin(s, d).orderBy("p_id")),
    "q_histogram" -> ((s, d) => Relational.qHistogram(s, d).orderBy("event_type", "bucket")),
    "q_lag_delta" -> ((s, d) => Relational.qLagDelta(s, d).orderBy("event_id")),
    "q_unpivot" -> ((s, d) => Relational.qUnpivot(s, d).orderBy("l_returnflag", "measure")),
    "q_ntile" -> ((s, d) => Relational.qNtile(s, d).orderBy("event_id")),
    "q_moving_avg" -> ((s, d) => Relational.qMovingAvg(s, d).orderBy("event_id")),
    "q_cond_agg" -> ((s, d) => Relational.qCondAgg(s, d).orderBy("event_type")),
    "q_string_agg" -> ((s, d) => Relational.qStringAgg(s, d).orderBy("event_type")),
    "q_first_last" -> ((s, d) => Relational.qFirstLast(s, d).orderBy("user_id")),
    "q_activity_gaps" -> ((s, d) => Relational.qActivityGaps(s, d).orderBy("user_id")),
    "q_outer_join" -> ((s, d) => Relational.qOuterJoin(s, d).orderBy("user_id")),
    "q_compact_latest" -> ((s, d) => Relational.qCompactLatest(s, d).orderBy("user_id", "event_type")),
    "q_mode" -> ((s, d) => Relational.qMode(s, d).orderBy("user_id")),
    "q_scd2" -> ((s, d) => Relational.qScd2(s, d).orderBy("user_id", "run_id")),
    "q_time_bucket" -> ((s, d) => Relational.qTimeBucket(s, d).orderBy("event_type", "bucket_ms")),
    "q_rank_family" -> ((s, d) => Relational.qRankFamily(s, d).orderBy("o_orderkey")),
    "q_interval_overlap" -> ((s, d) => Relational.qIntervalOverlap(s, d).orderBy("event_type")),
    "q_overlap_daily" -> ((s, d) => Relational.qIntervalOverlapDaily(s, d).orderBy("event_type")),
    "q_benford" -> ((s, d) => Relational.qBenford(s, d).orderBy("digit")),
    "q_time_profile" -> ((s, d) => Relational.qTimeProfile(s, d).orderBy("dow", "hour")),
    "q_corr_subq" -> ((s, d) => Relational.qCorrSubquery(s, d).orderBy("o_orderkey")),
    "text_rarity" -> ((s, d) => TextAnalysis.textRarity(s, d).orderBy("doc_id")),
    "ann_ivf" -> ((s, d) => Ann.annIvf(s, d).orderBy("q_id", "rnk")),
    "q1_sql" -> ((s, d) => q1Sql(s, d).orderBy("l_returnflag", "l_linestatus")),
    "sql_shingles" -> ((s, d) => sqlShingles(s, d).orderBy("doc_id")),
    "sql_cosine" -> ((s, d) => sqlCosine(s, d).orderBy("a_id", "b_id")),
    "sql_simhash" -> ((s, d) => sqlSimhash(s, d).orderBy("doc_id")),
    // §2.4 dedup family
    "docs_dedup_exact" -> ((s, d) => NearDup.docsDedupExact(s, d).orderBy("content_hash")),
    "docs_dedup_normalized" -> ((s, d) => NearDup.docsDedupNormalized(s, d).orderBy("content_hash")),
    "docs_jaccard_pairs" -> ((s, d) => NearDup.jaccardPairs(s, d).orderBy("a_id", "b_id")),
    "docs_minhash_lsh" -> ((s, d) => NearDup.minhashLshPairs(s, d).orderBy("a_id", "b_id")),
    "docs_minhash_sig" -> ((s, d) => NearDup.minhashSignatures(s, d).orderBy("doc_id")),
    "docs_minhash_est" -> ((s, d) => NearDup.minhashEstimate(s, d).orderBy("a_id", "b_id")),
    "docs_simhash" -> ((s, d) => NearDup.simhashPairs(s, d).orderBy("a_id", "b_id")),
    "docs_fp_overlap" -> ((s, d) => NearDup.fingerprintOverlapPairs(s, d).orderBy("a_id", "b_id")),
    "docs_containment" -> ((s, d) => NearDup.containmentPairs(s, d).orderBy("a_id", "b_id")),
    "docs_dedup_groups" -> ((s, d) => NearDup.dedupGroups(s, d).orderBy("doc_id")),
    "docs_simhash_groups" -> ((s, d) => NearDup.docsSimhashGroups(s, d).orderBy("doc_id")),
    "docs_group_sizes" -> ((s, d) => NearDup.docsGroupSizes(s, d).orderBy("group_size")),
    "docs_detector_venn" -> ((s, d) => NearDup.docsDetectorVenn(s, d).orderBy("f_exact", "f_jaccard", "f_simhash")),
    "docs_dedup_keep" -> ((s, d) => NearDup.dedupKeep(s, d).orderBy("doc_id")),
    "docs_contamination" -> ((s, d) => NearDup.docsContamination(s, d).orderBy("doc_id")),
    "docs_overlap_spans" -> ((s, d) => NearDup.docsOverlapSpans(s, d).orderBy("doc_id", "bench_id")),
    "docs_dedup_incremental" -> ((s, d) => NearDup.dedupIncremental(s, d).orderBy("doc_id")),
    "docs_neardup_incremental" -> ((s, d) => NearDup.neardupIncremental(s, d).orderBy("doc_id", "hist_id")),
    "docs_dedup_stats" -> ((s, d) => NearDup.docsDedupStats(s, d)),
    "emb_cosine_dedup" -> ((s, d) => NearDup.embCosineDedup(s, d).orderBy("a_id", "b_id")),
    // §2.5 similarity search
    "ann_bruteforce" -> ((s, d) => Ann.annBruteForce(s, d).orderBy("q_id", "rnk")),
    "ann_lsh" -> ((s, d) => Ann.annLsh(s, d).orderBy("q_id", "rnk")),
    "emb_label_centroids" -> ((s, d) => Ann.labelCentroids(s, d).orderBy("label", "dim")),
    "emb_quantize" -> ((s, d) => Ann.embQuantize(s, d).orderBy("vec_id")),
    "emb_dim_stats" -> ((s, d) => Ann.embDimStats(s, d).orderBy("dim")),
    "emb_drift" -> ((s, d) => Ann.embDrift(s, d).orderBy("label")),
    "emb_whiten" -> ((s, d) => Ann.embWhiten(s, d).orderBy("vec_id")),
    "ann_recall" -> ((s, d) => Ann.annRecall(s, d).orderBy("q_id")),
    "ann_recall_lsh" -> ((s, d) => Ann.annRecallLsh(s, d).orderBy("q_id")),
    "emb_knn_graph" -> ((s, d) => Ann.embKnnGraph(s, d).orderBy("vec_id", "rnk")),
    "emb_knn_graph_cells" -> ((s, d) => Ann.embKnnGraphCells(s, d).orderBy("vec_id", "rnk")),
    "ann_recall_cells" -> ((s, d) => Ann.embKnnGraphRecall(s, d)),
    "ann_recall_cells_s" -> ((s, d) => Ann.embKnnGraphRecallSampled(s, d)),
    "ann_recall_graph_s" -> ((s, d) => Ann.annRecallGraphSampled(s, d).orderBy("q_id")),
    "emb_semantic_routed" -> ((s, d) => Ann.embSemanticPairsRouted(s, d).orderBy("a_id", "b_id")),
    "ann_graph_search" -> ((s, d) => Ann.annGraphSearch(s, d).orderBy("q_id", "rnk")),
    "ann_recall_graph" -> ((s, d) => Ann.annRecallGraph(s, d).orderBy("q_id")),
    "emb_pq" -> ((s, d) => Ann.embPq(s, d).orderBy("vec_id")),
    "emb_adc" -> ((s, d) => Ann.embAdc(s, d).orderBy("q_id", "rnk")),
    "emb_ivf_adc" -> ((s, d) => Ann.embIvfAdc(s, d).orderBy("q_id", "rnk")),
    "emb_pq_distortion" -> ((s, d) => Ann.embPqDistortion(s, d).orderBy("m")),
    "emb_rq" -> ((s, d) => Ann.embRq(s, d).orderBy("vec_id")),
    "emb_rq_adc" -> ((s, d) => Ann.embRqAdc(s, d).orderBy("q_id", "rnk")),
    // §2.6 text analysis
    "text_tokens" -> ((s, d) => TextAnalysis.textTokens(s, d).orderBy("doc_id")),
    "text_quality" -> ((s, d) => TextAnalysis.textQuality(s, d).orderBy("doc_id")),
    "text_langid" -> ((s, d) => TextAnalysis.textLangId(s, d).orderBy("doc_id")),
    "text_fingerprint" -> ((s, d) => TextAnalysis.textFingerprint(s, d).orderBy("doc_id", "fp")),
    "text_tfidf" -> ((s, d) => TextAnalysis.textTfidf(s, d).orderBy("doc_id", "rnk")),
    "text_repetition" -> ((s, d) => TextAnalysis.textRepetition(s, d).orderBy("doc_id")),
    "text_boilerplate" -> ((s, d) => TextAnalysis.textBoilerplate(s, d).orderBy("doc_id")),
    "docs_quality_filter" -> ((s, d) => TextAnalysis.docsQualityFilter(s, d).orderBy("doc_id")),
    "docs_line_dedup" -> ((s, d) => TextAnalysis.docsLineDedup(s, d).orderBy("doc_id")),
    "docs_line_strip" -> ((s, d) => TextAnalysis.docsLineStrip(s, d).orderBy("doc_id")),
    "docs_line_strip_text" -> ((s, d) => TextAnalysis.docsLineStripText(s, d).orderBy("doc_id")),
    // top-k is ordered by construction (TakeOrderedAndProject)
    "docs_line_topdup" -> ((s, d) => TextAnalysis.docsLineTopDup(s, d)),
    "docs_quality_lines" -> ((s, d) => TextAnalysis.docsQualityFilterLines(s, d).orderBy("doc_id")),
    "docs_chunk" -> ((s, d) => TextAnalysis.docsChunk(s, d).orderBy("doc_id", "chunk_idx")),
    "docs_sample_stratified" -> ((s, d) => Sampling.docsSampleStratified(s, d).orderBy("doc_id")),
    "docs_mix_sample" -> ((s, d) => Sampling.docsMixSample(s, d).orderBy("source")),
    "docs_mix_tokens" -> ((s, d) => Sampling.docsMixTokens(s, d).orderBy("source")),
    "docs_mix_temperature" -> ((s, d) => Sampling.docsMixTemperature(s, d).orderBy("source")),
    "docs_dsir_weights" -> ((s, d) => Sampling.docsDsirWeights(s, d).orderBy("doc_id")),
    "docs_softdedup_weights" -> ((s, d) => Sampling.docsSoftDedupWeights(s, d).orderBy("doc_id")),
    "text_nb_sources" -> ((s, d) => TextAnalysis.textNbSources(s, d).orderBy("source", "predicted")),
    "text_unigram_drift" -> ((s, d) => TextAnalysis.textUnigramDrift(s, d).orderBy("source")),
    "docs_dsir_sample" -> ((s, d) => Sampling.docsDsirSample(s, d).orderBy("doc_id")),
    "docs_shard_plan" -> ((s, d) => Sampling.docsShardPlan(s, d).orderBy("shard")),
    "docs_pack" -> ((s, d) => Sampling.docsPack(s, d).orderBy("doc_id")),
    "docs_pack_sharded" -> ((s, d) => Sampling.docsPackSharded(s, d).orderBy("doc_id")),
    "docs_pipeline" -> ((s, d) => Pipeline.docsPipeline(s, d).orderBy("doc_id")),
    "docs_pipeline_strip" -> ((s, d) => Pipeline.docsPipelineStrip(s, d).orderBy("doc_id")),
    "text_vocab_stats" -> ((s, d) => TextAnalysis.vocabStats(s, d)),
    // top-k is ordered by construction (TakeOrderedAndProject)
    "text_ngram_topk" -> ((s, d) => TextAnalysis.textNgramTopk(s, d)),
    "text_bpe_pairs" -> ((s, d) => TextAnalysis.textBpePairs(s, d)),
    "text_bpe_merges" -> ((s, d) => TextAnalysis.textBpeMerges(s, d).orderBy("rnd")),
    "text_bpe_apply" -> ((s, d) => TextAnalysis.textBpeApply(s, d).orderBy("doc_id")),
    "text_hashing_tf" -> ((s, d) => TextAnalysis.textHashingTf(s, d).orderBy("doc_id", "bucket")),
    "text_bigram_lm" -> ((s, d) => TextAnalysis.textBigramLm(s, d).orderBy("doc_id")),
    "text_lm_gate" -> ((s, d) => TextAnalysis.textLmGate(s, d).orderBy("doc_id")),
    "docs_lang_confusion" -> ((s, d) => TextAnalysis.docsLangConfusion(s, d).orderBy("lang", "lang_pred")),
    "text_ngram_novelty" -> ((s, d) => TextAnalysis.textNgramNovelty(s, d).orderBy("doc_id")),
    "docs_chunk_dedup" -> ((s, d) => TextAnalysis.docsChunkDedup(s, d).orderBy("doc_id")),
    "docs_yield_report" -> ((s, d) => Pipeline.docsYieldReport(s, d).orderBy("source")),
    // rank IS the presentation order (assigned post-limit)
    "text_zipf" -> ((s, d) => TextAnalysis.textZipf(s, d).orderBy("rank")),
    // §2.7 multimodal
    "mm_meta" -> ((s, d) => Multimodal.mmMeta(s, d).orderBy("doc_id")),
    "mm_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(s, d)).toDF().orderBy("doc_id")),
    // 64-byte frames / stride 2: documents are 48-553 bytes, so this
    // yields 1-5 sampled frames per doc (256/4 would leave most docs
    // single-frame and never exercise the stride)
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaFromDocuments(s, d),
        frameBytes = 64, stride = 2).toDF().orderBy("doc_id", "frame_idx")),
    "mm_resize" -> ((s, d) =>
      Multimodal.resizePlan(
        Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(s, d))).toDF().orderBy("doc_id")),
    "mm_audio_energy" -> ((s, d) =>
      Multimodal.frameEnergy(Multimodal.mediaFromDocuments(s, d)).toDF()
      .orderBy("doc_id", "frame_idx")),
    "mm_audio_resample" -> ((s, d) => Multimodal.mmAudioResample(s, d).orderBy("doc_id")),
    "mm_tile" -> ((s, d) =>
      Multimodal.tilePlan(
        Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(s, d))).toDF()
      .orderBy("doc_id", "tile_y", "tile_x")),
    "mm_phash" -> ((s, d) => Multimodal.mmPhash(s, d).orderBy("doc_id")),
    "mm_scene_cuts" -> ((s, d) => Multimodal.mmSceneCuts(s, d).orderBy("doc_id", "frame_idx")),
    "mm_phash_pairs" -> ((s, d) =>
      Multimodal.phashPairs(s, d).orderBy("doc_id_a", "doc_id_b")),
    "mm_phash_groups" -> ((s, d) => Multimodal.phashGroups(s, d).orderBy("doc_id")),
    "mm_phash_keep" -> ((s, d) => Multimodal.phashKeep(s, d).orderBy("doc_id")),
    "mm_audio_fp" -> ((s, d) => Multimodal.mmAudioFp(s, d).orderBy("doc_id")),
    "mm_audio_dup_groups" -> ((s, d) => Multimodal.mmAudioDupGroups(s, d).orderBy("doc_id")),
    "mm_audio_dup_keep" -> ((s, d) => Multimodal.mmAudioDupKeep(s, d).orderBy("doc_id")),
    "emb_gram" -> ((s, d) => Ann.embGram(s, d).orderBy("i", "j")),
    "docs_dedup_bloom" -> ((s, d) => BloomDedup.dedupBloom(s, d).orderBy("doc_id")),
    "q_transitions" -> ((s, d) => Relational.qTransitions(s, d).orderBy("from_type", "to_type")),
    "q_rolling_dau" -> ((s, d) => Relational.qRollingDau(s, d).orderBy("day")),
    "q_running_distinct" -> ((s, d) => Relational.qRunningDistinct(s, d).orderBy("day")),
    "docs_length_profile" -> ((s, d) => TextAnalysis.docsLengthProfile(s, d).orderBy("lang")),
    "text_len_hist" -> ((s, d) => TextAnalysis.textLenHist(s, d).orderBy("lang", "tok_len")),
    "q_anomaly" -> ((s, d) => Relational.qAnomaly(s, d).orderBy("event_id")),
    "q_pareto" -> ((s, d) => Relational.qPareto(s, d).orderBy("decile")),
    "q_attribution" -> ((s, d) => Relational.qAttribution(s, d).orderBy("event_id")),
    "docs_cooc_lift" -> ((s, d) => TextAnalysis.docsCoocLift(s, d).orderBy("a", "b")),
    "q_skew_profile" -> ((s, d) => Relational.qSkewProfile(s, d).orderBy("bucket")),
    "q_col_profile" -> ((s, d) => Relational.qColProfile(s, d).orderBy("col_name")),
    "emb_lsh_balance" -> ((s, d) => Ann.embLshBalance(s, d).orderBy("t")),
    "emb_dedup_groups" -> ((s, d) => NearDup.embDedupGroups(s, d).orderBy("vec_id")),
    "emb_init_farthest" -> ((s, d) => Ann.embInitFarthest(s, d).orderBy("rnk")),
    "emb_semantic_groups" -> ((s, d) => Ann.embSemanticGroups(s, d).orderBy("vec_id")),
    "q_merge_intervals" -> ((s, d) => Relational.qMergeIntervals(s, d).orderBy("event_type", "span_id")),
    "q_merge_daily" -> ((s, d) => Relational.qMergeIntervalsDaily(s, d).orderBy("event_type", "span_id")),
    "q_distinct_rollup" -> ((s, d) => Relational.qDistinctRollup(s, d).orderBy("event_type", "day")),
    "text_charclass" -> ((s, d) => TextAnalysis.textCharClass(s, d).orderBy("doc_id")),
    "docs_pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(s, d).orderBy("doc_id")),
    "docs_sample_fixed" -> ((s, d) => Sampling.docsSampleFixed(s, d).orderBy("lang", "rnk")),
    "docs_sample_fixed_2p" -> ((s, d) => Sampling.docsSampleFixed2Phase(s, d).orderBy("lang", "rnk")),
    "q_changepoint" -> ((s, d) => Relational.qChangepoint(s, d).orderBy("event_type")),
    "q_having_join" -> ((s, d) => Relational.qHavingJoin(s, d).orderBy("o_orderkey")),
    "q_asof_nearest" -> ((s, d) => qAsOfNearest(s, d).orderBy("p_id")),
    "q_incr_agg" -> ((s, d) => IncrementalAgg.qIncrAgg(s, d).orderBy("event_type")),
    "q_path_trigrams" -> ((s, d) => Relational.qPathTrigrams(s, d).orderBy("t1", "t2", "t3")),
    "ann_recall_adc" -> ((s, d) => Ann.annRecallAdc(s, d).orderBy("q_id")),
    "q_winsorize" -> ((s, d) => Relational.qWinsorize(s, d).orderBy("event_type")),
    "q_cohort_ltv" -> ((s, d) => Relational.qCohortLtv(s, d).orderBy("cohort_wk", "age_wk")),
    "docs_minhash_calibration" -> ((s, d) => NearDup.minhashCalibration(s, d).orderBy("est_bucket")),
    "q_mad" -> ((s, d) => Relational.qMad(s, d).orderBy("event_type")),
    "emb_router" -> ((s, d) => Ann.embRouter(s, d).orderBy("vec_id")),
    "emb_mrl_recall" -> ((s, d) => Ann.annRecallMrl(s, d).orderBy("q_id")),
    "q_gap_ffill" -> ((s, d) => Relational.qGapFfill(s, d).orderBy("event_type", "bucket_ms")),
    "q_golden_record" -> ((s, d) => Relational.qGoldenRecord(s, d).orderBy("user_id")),
    "text_langid_margin" -> ((s, d) => TextAnalysis.textLangIdMargin(s, d).orderBy("doc_id")),
    "docs_df_profile" -> ((s, d) => NearDup.docsDfProfile(s, d).orderBy("bucket")),
    "q_conversion_latency" -> ((s, d) => Relational.qConversionLatency(s, d).orderBy("src_type")),
    // §2.3 TPC-H completion wave (operators/Tpch.scala)
    "q7_volume" -> ((s, d) => Tpch.q7Volume(s, d).orderBy("supp_nat", "cust_nat", "l_year")),
    "q8_share" -> ((s, d) => Tpch.q8Share(s, d).orderBy("o_year")),
    "q9_margin" -> ((s, d) => Tpch.q9Margin(s, d).orderBy("supp_nat", "l_year")),
    "q10_returns" -> ((s, d) => Tpch.q10Returns(s, d)),
    "q13_custdist" -> ((s, d) => Tpch.q13CustDist(s, d).orderBy("c_count")),
    "q14_promo" -> ((s, d) => Tpch.q14Promo(s, d)),
    "q15_top_supplier" -> ((s, d) => Tpch.q15TopSupplier(s, d).orderBy("s_suppkey")),
    "q4_exists" -> ((s, d) => Tpch.q4Exists(s, d).orderBy("o_orderpriority")),
    "q12_priority" -> ((s, d) => Tpch.q12Priority(s, d).orderBy("l_returnflag")),
    "q18_large_orders" -> ((s, d) => Tpch.q18LargeOrders(s, d).orderBy("o_orderkey")),
    "q21_waiting" -> ((s, d) => Tpch.q21Waiting(s, d).orderBy("s_suppkey")),
    "q2_mincost" -> ((s, d) => Tpch.q2MinCost(s, d).orderBy("p_partkey", "s_suppkey")),
    "q11_stock_value" -> ((s, d) => Tpch.q11StockValue(s, d).orderBy("ps_partkey")),
    "q16_supplier_cnt" -> ((s, d) => Tpch.q16SupplierCnt(s, d).orderBy("p_brand", "p_type", "p_size")),
    "q20_promo_parts" -> ((s, d) => Tpch.q20PromoParts(s, d).orderBy("s_suppkey")),
    "q17_small_qty" -> ((s, d) => Tpch.q17SmallQty(s, d)),
    "q19_disjunct" -> ((s, d) => Tpch.q19Disjunct(s, d)),
    "q22_global" -> ((s, d) => Tpch.q22Global(s, d).orderBy("c_nat")),
    "emb_kmeans_train" -> ((s, d) => Ann.embKmeansTrain(s, d).orderBy("cid", "dim")),
    "docs_gopher_rules" -> ((s, d) => TextAnalysis.docsGopherRules(s, d).orderBy("doc_id")),
    "docs_dup_spans" -> ((s, d) => NearDup.docsDupSpans(s, d).orderBy("a_id", "b_id")),
    "docs_substr_dedup" -> ((s, d) => NearDup.docsSubstrDedup(s, d).orderBy("doc_id")),
    "text_vocab_coverage" -> ((s, d) => TextAnalysis.textVocabCoverage(s, d).orderBy("k")),
    "emb_graph_rank" -> ((s, d) => Ann.embGraphRank(s, d).orderBy("vec_id")),
    "emb_knn_label_prop" -> ((s, d) => Ann.embKnnLabelProp(s, d).orderBy("vec_id")),
    "emb_cluster_sample" -> ((s, d) => Ann.embClusterSample(s, d).orderBy("cid", "rnk")),
    "mm_audio_segments" -> ((s, d) => Multimodal.mmAudioSegments(s, d).orderBy("doc_id", "seg_id")),
    "q_yoy_growth" -> ((s, d) => Tpch.qYoyGrowth(s, d).orderBy("o_orderpriority", "yr")),
    "emb_cluster_quality" -> ((s, d) => Ann.embClusterQuality(s, d).orderBy("cid")),
    "mm_detector_venn" -> ((s, d) => Multimodal.mmDetectorVenn(s, d).orderBy("f_exact", "f_phash")),
    "emb_label_prop_converge" -> ((s, d) =>
      Ann.labelPropConvergence(Ann.embKnnLabelProp(s, d)).orderBy("round")),
    "emb_semantic_incremental" -> ((s, d) =>
      Ann.embSemanticIncremental(s, d).orderBy("vec_id", "hist_id")),
  )

  private def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click").select(col("ts"))
    RangeJoin.countInWindow(purchases, clicks, "p_id", windowMs = 3600000L)
  }

  private def withTsMs(df: DataFrame): DataFrame =
    df.withColumn("ts", unix_millis(col("ts"))).withColumnRenamed("ts", "ts_ms")

  /** The SQL-text surface: same engine, spark.sql entry (views +
    * registered graft functions).
    */
  private def q1Sql(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
  }

  private def sqlShingles(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id, CAST(size(word_shingles(text, 3)) AS BIGINT) AS n_shingles
        |FROM documents""".stripMargin)
  }

  /** Registered cosine_sim kernel driven from SQL text: pairwise
    * sims of the 10 query vectors (45 unordered pairs).
    */
  private def sqlCosine(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    spark.sql(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(cosine_sim(a.embedding, b.embedding), 6) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < 10 AND b.vec_id < 10 AND a.vec_id < b.vec_id""".stripMargin)
  }

  /** SimHashAgg driven from SQL text — the custom AGGREGATOR on the
    * SQL surface (expressions register via GraftFunctions; typed
    * Aggregators go through spark.udf.register). Fingerprints are
    * identical to NearDup.simhashFingerprints, so the oracle is the
    * shared simhash replay.
    *
    * Scale note: udaf aggregation runs through ObjectHashAggregate,
    * whose SORT-based fallback triggers past 128 distinct keys/task
    * by Spark default — at 5 M docs that full-sorts the exploded
    * token stream (×61/decade, round-11 widen). Sessions running
    * this at scale should raise
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (Bench sets 4 M; 188.7 → 50.4 s at sf100) — per-task key counts
    * are bounded by partitioning and the state is a 64-int vector.
    */
  private def sqlSimhash(spark: SparkSession, dir: String): DataFrame = {
    spark.udf.register("simhash_agg",
      org.apache.spark.sql.functions.udaf(new graft.functions.SimHashAgg))
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id, simhash_agg(tok) AS simhash
        |FROM (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents)
        |GROUP BY doc_id""".stripMargin)
  }

  private def qAsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("c_id"))
    AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "p_id", "c_id")
      .select("p_id", "c_id")
  }

  /** Nearest-event join instance: each purchase paired with the
    * closest error event (either direction) for the same user —
    * "did a failure happen around this purchase". Numeric µs axis
    * per [[AsOfJoin.asOfNearest]]'s contract.
    */
  private def qAsOfNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), col("event_id").as("p_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("us"), col("event_id").as("err_id"))
    AsOfJoin.asOfNearest(purchases, errors, "user_id", "us", "p_id", "err_id")
      .select(col("p_id"), col("user_id"), col("err_id"),
        expr("abs(us - right_time) div 1000").as("gap_ms"), col("side"))
  }

  /** Exact cosine top-k (k=5, queries = vec_id < 10) — the oracle for
    * ann_bruteforce and, by exact-recall contract, ann_lsh/ann_ivf.
    */
  private val annExactTopKSql: String =
    """WITH n AS (SELECT vec_id, embedding,
      |                  list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
      |           FROM embeddings),
      |p AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
      |             list_sum(list_transform(range(1, len(q.embedding) + 1),
      |               i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
      |               / nullif(sqrt(q.n2) * sqrt(e.n2), 0.0) AS sim
      |      FROM n q JOIN n e ON q.vec_id < 10 AND q.vec_id <> e.vec_id),
      |r AS (SELECT q_id, n_id, sim,
      |             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
      |      FROM p)
      |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, round(sim, 6) AS sim
      |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** ann_lsh oracle: full DuckDB replication of Ann.annLsh — the
    * hyperplane components (deterministic integer mixing, data-
    * independent) are inlined as double literals; signatures, the
    * multi-probe candidate union, and the exact-cosine rerank are
    * recomputed from the raw embeddings table.
    */
  /** The shared planes + per-table signature CTEs (hyperplanes
    * inlined as literals) — the head of every LSH-replay oracle.
    */
  private def lshSigCtes: String = {
    val planes = (for { t <- 0 until Ann.LSH_TABLES; p <- 0 until Ann.LSH_BITS } yield {
      val comps = (0 until Ann.DIM)
        .map(h => Ann.planeComponent(t * Ann.LSH_BITS + p, h))
      s"($t, $p, [${comps.mkString(", ")}])"
    }).mkString(",\n")
    s"""planes(t, p, v) AS (VALUES
       |$planes),
       |sig AS (SELECT e.vec_id, pl.t,
       |          CAST(sum(CASE WHEN list_sum(list_transform(range(1, ${Ann.DIM + 1}), i -> e.embedding[i]::DOUBLE * pl.v[i])) >= 0
       |                        THEN CAST(1 AS BIGINT) << CAST(pl.p AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
       |        FROM embeddings e CROSS JOIN planes pl GROUP BY 1, 2)""".stripMargin
  }

  private def annLshOracleSql: String = {
    val flips = (0 until Ann.LSH_BITS).map(b => s"(${1L << b})").mkString(",")
    s"""WITH $lshSigCtes,
       |n AS (SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2 FROM embeddings),
       |flips(f) AS (VALUES (0),$flips),
       |qp AS (SELECT s.vec_id AS q_id, s.t, xor(s.sig, CAST(f.f AS BIGINT)) AS probe
       |       FROM sig s CROSS JOIN flips f WHERE s.vec_id < 10),
       |cand AS (SELECT DISTINCT qp.q_id, s2.vec_id AS n_id
       |         FROM qp JOIN sig s2 ON s2.t = qp.t AND s2.sig = qp.probe AND s2.vec_id <> qp.q_id),
       |sims AS (SELECT c.q_id, c.n_id,
       |           list_sum(list_transform(range(1, ${Ann.DIM + 1}), i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |             / nullif(sqrt(q.n2) * sqrt(e.n2), 0.0) AS sim
       |         FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n e ON e.vec_id = c.n_id),
       |r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM sims)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, round(sim, 6) AS sim
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** docs_minhash_sig oracle: full signature replay — the mod-p
    * universal-hash family evaluated in HUGEINT (int128) with the
    * same (a_i, b_i) constants inlined, over the same distinct word
    * 3-shingles and the same 60-bit md5-prefix shingle hash.
    */
  private def minhashSigOracleSql: String = {
    val sigs = (0 until graft.functions.MinHashSig.PERMS).map { i =>
      val (a, b) = graft.functions.MinHashSig.coeff(i)
      f"       CAST(min((CAST($a AS HUGEINT) * h + $b) %% ${graft.functions.MinHashSig.P}) AS BIGINT) AS sig_$i%02d"
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
       |         i -> array_to_string(toks[i:i+2], ' ')))) AS sh
       |       FROM tok WHERE len(toks) >= 3),
       |h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh)
       |SELECT doc_id,
       |$sigs
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** docs_minhash_est oracle: exact-jaccard pair set (the same
    * full-recall contract as docs_minhash_lsh) + full mod-p signature
    * replay in HUGEINT with the (a_i, b_i) constants as a 128-row
    * VALUES table, matched component-wise per pair. All-integer
    * outputs, ×10⁴ ratio floors on both sides.
    */
  private def minhashEstOracleSql: String = {
    val consts = (0 until graft.functions.MinHashSig.PERMS).map { i =>
      val (a, b) = graft.functions.MinHashSig.coeff(i)
      s"($i, $a, $b)"
    }.mkString(", ")
    val p = graft.functions.MinHashSig.P
    s"""WITH $jaccardCtes,
       |consts(i, ca, cb) AS (VALUES $consts),
       |hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ex),
       |sg AS (SELECT doc_id, i,
       |         CAST(min((CAST(ca AS HUGEINT) * h + cb) % $p) AS BIGINT) AS sig
       |       FROM hh CROSS JOIN consts GROUP BY 1, 2),
       |base AS (SELECT it.a_id, it.b_id, it.inter,
       |                sa.n + sb.n - it.inter AS uni
       |         FROM it JOIN sz sa ON it.a_id = sa.doc_id
       |                 JOIN sz sb ON it.b_id = sb.doc_id
       |         WHERE CAST(it.inter AS DOUBLE)
       |               / CAST(sa.n + sb.n - it.inter AS DOUBLE) >= 0.5),
       |m AS (SELECT b.a_id, b.b_id,
       |        sum(CASE WHEN va.sig = vb.sig THEN 1 ELSE 0 END) AS sig_matches
       |      FROM base b JOIN sg va ON va.doc_id = b.a_id
       |                  JOIN sg vb ON vb.doc_id = b.b_id AND vb.i = va.i
       |      GROUP BY 1, 2)
       |SELECT b.a_id, b.b_id, CAST(b.inter AS BIGINT) AS inter,
       |       CAST(b.uni AS BIGINT) AS uni,
       |       CAST(m.sig_matches AS BIGINT) AS sig_matches,
       |       (10000 * CAST(b.inter AS BIGINT)) // b.uni AS jacc_e4,
       |       (10000 * CAST(m.sig_matches AS BIGINT)) // ${graft.functions.MinHashSig.PERMS} AS est_e4
       |FROM base b JOIN m ON b.a_id = m.a_id AND b.b_id = m.b_id
       |ORDER BY b.a_id, b.b_id""".stripMargin
  }

  /** emb_knn_graph oracle: the node sample replays the md5 identity
    * hash (docs_sample_stratified's), then exact cosine + top-k over
    * the sampled×sampled matrix — annExactTopKSql's shape with the
    * query set = the sample itself.
    */
  /** Shared CTE chain replaying the kNN-graph edge set (`r` = ranked
    * neighbor candidates over the hash-sampled nodes). Consumed by
    * the emb_knn_graph and emb_graph_rank oracles. `r` drops NULL
    * sims (undefined cosine against a zero-norm vector) to mirror the
    * engine's bounded-heap build, which filters them before top-k —
    * without the filter DuckDB ranks them NULLS LAST, and a node with
    * fewer than k real candidates would pad its edge list with
    * undefined-sim rows the engine never emits (no zero-norm vector
    * exists in current drops; the filter pins the contract anyway).
    */
  private def knnEdgeCtes: String = {
    val t = graft.operators.Sampling.rateThreshold(0.1)
    s"""hsh AS (SELECT vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, 9),
       |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
       |    (a, x) -> a * 16 + x) AS u
       |  FROM embeddings),
       |n AS (SELECT e.vec_id, e.embedding,
       |             list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
       |      FROM embeddings e JOIN hsh USING (vec_id) WHERE hsh.u < $t),
       |p AS (SELECT q.vec_id AS vec_id, e.vec_id AS n_id,
       |             list_sum(list_transform(range(1, len(q.embedding) + 1),
       |               i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |               / nullif(sqrt(q.n2) * sqrt(e.n2), 0.0) AS sim
       |      FROM n q JOIN n e ON q.vec_id <> e.vec_id),
       |r AS (SELECT vec_id, n_id, sim,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, n_id) AS rnk
       |      FROM p WHERE sim IS NOT NULL)""".stripMargin
  }

  /** emb_cluster_sample oracle: the annIvf trained-quantizer chain
    * (seed + one rounded-mean Lloyd pass), flat argmax assignment
    * (score DESC, cid DESC — greatest(struct) semantics), then the
    * per-cell cap by the replayed identity hash (u asc, vec_id asc).
    */
  private def embClusterSampleOracleSql(perCluster: Int = 16): String =
    s"""WITH $ivfC1Ctes,
       |a1 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfScore("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM e v CROSS JOIN c1 c) WHERE rn = 1),
       |hsh AS (SELECT vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, 9),
       |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
       |    (a, x) -> a * 16 + x) AS u
       |  FROM embeddings)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(rn2 AS BIGINT) AS rnk FROM (
       |  SELECT a1.vec_id, a1.cid,
       |         row_number() OVER (PARTITION BY a1.cid ORDER BY hsh.u, a1.vec_id) AS rn2
       |  FROM a1 JOIN hsh ON hsh.vec_id = a1.vec_id)
       |WHERE rn2 <= $perCluster ORDER BY cid, rnk""".stripMargin

  /** The label-propagation trajectory CTE chain shared by the
    * emb_knn_label_prop oracle and its round-13 convergence monitor:
    * shared kNN-edge chain + the seed frame (20% split carrying the
    * corpus label), then `rounds` unrolled majority-vote rounds
    * (count DESC, label ASC; labeled nodes clamped,
    * no-labeled-neighbor nodes stay null). `l<rounds>` is the final
    * (vec_id, label, lr) state.
    */
  private def labelPropCtes(k: Int = 3, rounds: Int = 2): String = {
    val sb = new StringBuilder
    sb ++= s"""$knnEdgeCtes,
       |ed AS (SELECT vec_id AS src, n_id AS dst FROM r WHERE rnk <= $k),
       |l0 AS (SELECT n.vec_id,
       |         CASE WHEN n.vec_id % 5 = 0 THEN CAST(emb.label AS BIGINT) END AS label,
       |         CASE WHEN n.vec_id % 5 = 0 THEN CAST(0 AS BIGINT) END AS lr
       |       FROM n JOIN embeddings emb ON emb.vec_id = n.vec_id)""".stripMargin
    for (rd <- 1 to rounds) {
      val p = rd - 1
      sb ++= s""",
         |v$rd AS (SELECT ed.src, l.label AS nl, count(*) AS c
         |        FROM ed JOIN l$p l ON l.vec_id = ed.dst WHERE l.label IS NOT NULL
         |        GROUP BY 1, 2),
         |w$rd AS (SELECT src, nl FROM (
         |         SELECT src, nl, row_number() OVER (PARTITION BY src ORDER BY c DESC, nl) AS rn
         |         FROM v$rd) WHERE rn = 1),
         |l$rd AS (SELECT l.vec_id, coalesce(l.label, w.nl) AS label,
         |               coalesce(l.lr, CASE WHEN w.nl IS NOT NULL THEN CAST($rd AS BIGINT) END) AS lr
         |        FROM l$p l LEFT JOIN w$rd w ON w.src = l.vec_id)""".stripMargin
    }
    sb.toString
  }

  private def embKnnLabelPropOracleSql(k: Int = 3, rounds: Int = 2): String =
    s"""WITH ${labelPropCtes(k, rounds)}
       |SELECT vec_id, label, lr AS labeled_round FROM l$rounds ORDER BY vec_id""".stripMargin

  /** emb_label_prop_converge oracle: per-round newly-labeled counts
    * over the same trajectory (round −1 = never labeled) + the exact
    * ×10⁶-floored share of all nodes.
    */
  private def embLabelPropConvergeOracleSql(k: Int = 3, rounds: Int = 2): String =
    s"""WITH ${labelPropCtes(k, rounds)},
       |g AS (SELECT coalesce(lr, CAST(-1 AS BIGINT)) AS round, count(*) AS n_new
       |      FROM l$rounds GROUP BY 1)
       |SELECT round, n_new,
       |       CAST((n_new * 1000000) // (SELECT sum(n_new) FROM g) AS BIGINT) AS frac_e6
       |FROM g ORDER BY round""".stripMargin

  /** Sampled-frame + routed-build CTE chain shared by the
    * cell-routed graph oracle and its recall row: `smp` is the 10%
    * hash-sampled node frame (the knnEdgeCtes sample), the quantizer
    * trains with full-corpus seeds and SAMPLED refinement (auto-K
    * from the sampled count — the `Ann.embKnnGraphCells` recipe),
    * and `gr` ranks the in-cell exact-cosine candidates per source
    * node (nprobe=2, gprobe=2 — the contract defaults).
    */
  private def knnCellsCtes: String = {
    val t = graft.operators.Sampling.rateThreshold(0.1)
    s"""hsh AS (SELECT vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, 9),
       |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
       |    (a, x) -> a * 16 + x) AS u
       |  FROM embeddings),
       |smp AS (SELECT e.vec_id, e.embedding,
       |             list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
       |      FROM embeddings e JOIN hsh USING (vec_id) WHERE hsh.u < $t),
       |${ivfC1CtesOn("SELECT greatest(16, (count(*) + 124) // 125) FROM smp", "smp")},
       |${routedAssignCtes("smp", nprobe = 2, gprobe = 2)},
       |gp AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS n_id,
       |         list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE))
       |           / nullif(sqrt(q.n2) * sqrt(x.n2), 0.0) AS sim
       |       FROM ra a JOIN ra b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |       JOIN smp q ON q.vec_id = a.vec_id JOIN smp x ON x.vec_id = b.vec_id),
       |gr AS (SELECT vec_id, n_id, sim,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, n_id) AS rnk
       |       FROM gp WHERE sim IS NOT NULL)""".stripMargin
  }

  private def embKnnGraphCellsOracleSql: String =
    s"""WITH $knnCellsCtes
       |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, n_id, round(sim, 6) AS sim
       |FROM gr WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  private def annRecallCellsOracleSql: String =
    s"""WITH $knnCellsCtes,
       |xp AS (SELECT q.vec_id AS vec_id, x.vec_id AS n_id,
       |         list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE))
       |           / nullif(sqrt(q.n2) * sqrt(x.n2), 0.0) AS sim
       |       FROM smp q JOIN smp x ON q.vec_id <> x.vec_id),
       |xr AS (SELECT vec_id, n_id FROM (
       |         SELECT vec_id, n_id,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, n_id) AS rnk
       |         FROM xp WHERE sim IS NOT NULL) WHERE rnk <= 3),
       |ap AS (SELECT DISTINCT vec_id, n_id, 1 AS hit FROM gr WHERE rnk <= 3)
       |SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(count(ap.hit) AS BIGINT) AS n_hit,
       |       round(count(ap.hit)::DOUBLE / count(*)::DOUBLE, 4) AS recall
       |FROM xr LEFT JOIN ap USING (vec_id, n_id)""".stripMargin

  /** The deterministic fixed-size query sample over the sampled node
    * frame (`Ann.knnQuerySample` replay): the nQ smallest
    * (identity-hash, vec_id) keys — hsh.u IS the engine's hash32.
    */
  private def knnQuerySampleCte(nQ: Int): String =
    s"""qs AS (SELECT n.vec_id FROM smp n JOIN hsh ON hsh.vec_id = n.vec_id
       |       ORDER BY hsh.u, n.vec_id LIMIT $nQ)""".stripMargin

  /** ann_recall_cells_s oracle: the sampled-query build-recall replay
    * — exact top-k computed ONLY for the qs query nodes (per-query
    * top-k is independent of the other queries, so this is the full
    * monitor's xr restricted by the same hash predicate), approx side
    * the routed-build edges restricted to qs.
    */
  private def annRecallCellsSampledOracleSql(nQ: Int = 32): String =
    s"""WITH $knnCellsCtes,
       |${knnQuerySampleCte(nQ)},
       |xp AS (SELECT q.vec_id AS vec_id, x.vec_id AS n_id,
       |         list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE))
       |           / nullif(sqrt(q.n2) * sqrt(x.n2), 0.0) AS sim
       |       FROM smp q JOIN qs ON qs.vec_id = q.vec_id
       |       JOIN smp x ON q.vec_id <> x.vec_id),
       |xr AS (SELECT vec_id, n_id FROM (
       |         SELECT vec_id, n_id,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, n_id) AS rnk
       |         FROM xp WHERE sim IS NOT NULL) WHERE rnk <= 3),
       |ap AS (SELECT DISTINCT gr.vec_id, gr.n_id, 1 AS hit FROM gr
       |       JOIN qs ON qs.vec_id = gr.vec_id WHERE gr.rnk <= 3)
       |SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(count(ap.hit) AS BIGINT) AS n_hit,
       |       round(count(ap.hit)::DOUBLE / count(*)::DOUBLE, 4) AS recall
       |FROM xr LEFT JOIN ap USING (vec_id, n_id)""".stripMargin

  /** ann_recall_graph_s oracle: full unrolled replay of the beam
    * navigation over the CELL-ROUTED graph (gr edges), queries = the
    * qs node sample, exact side restricted to qs — every CTE shared
    * with the cells/beam chains. Seeds (round-13 multi-entry): each
    * query starts from the entry node (min member vec_id) of every
    * cell its own routed assignment probed — `ra` restricted to qs
    * joined to the per-cell minima.
    */
  private def annRecallGraphSampledOracleSql(nQ: Int = 32, k: Int = 5,
      beam: Int = 4, rounds: Int = 3, graphK: Int = 3): String =
    s"""WITH $knnCellsCtes,
       |${knnQuerySampleCte(nQ)},
       |${beamSearchCtes(
          s"SELECT vec_id AS src, n_id AS dst FROM gr WHERE rnk <= $graphK",
          "smp",
          "SELECT q.vec_id AS q_id, q.embedding, q.n2 FROM smp q JOIN qs ON qs.vec_id = q.vec_id",
          beam, rounds,
          """SELECT DISTINCT ra.vec_id AS q_id, ent.vec_id
            |       FROM ra JOIN qs ON qs.vec_id = ra.vec_id
            |       JOIN (SELECT cid, min(vec_id) AS vec_id FROM ra GROUP BY cid) ent
            |       USING (cid)""".stripMargin)},
       |ex AS (SELECT q_id, n_id FROM (
       |        SELECT q_id, n_id,
       |               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
       |        FROM (SELECT q.q_id, v.vec_id AS n_id,
       |                list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
       |                  / nullif(sqrt(q.n2) * sqrt(v.n2), 0.0) AS sim
       |              FROM qv q JOIN smp v ON v.vec_id <> q.q_id)
       |        WHERE sim IS NOT NULL) WHERE rn <= $k),
       |ap AS (SELECT q_id, vec_id AS n_id FROM (
       |        SELECT q_id, vec_id,
       |               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |        FROM v$rounds WHERE vec_id <> q_id) WHERE rn <= $k),
       |j AS (SELECT ex.q_id, CASE WHEN ap.n_id IS NOT NULL THEN 1 END AS m
       |      FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id)
       |SELECT q_id, CAST(count(m) AS BIGINT) AS n_match, round(count(m) / $k.0, 4) AS recall
       |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin

  private def embSemanticRoutedOracleSql: String =
    s"""WITH ${ivfC1CtesK("SELECT greatest(16, (count(*) + 124) // 125) FROM embeddings")},
       |${routedAssignCtes("n", nprobe = 1, gprobe = 2)},
       |rp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |         list_sum(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
       |           / nullif(sqrt(x.n2) * sqrt(y.n2), 0.0) AS sim
       |       FROM ra a JOIN ra b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |       JOIN n x ON x.vec_id = a.vec_id JOIN n y ON y.vec_id = b.vec_id)
       |SELECT DISTINCT a_id, b_id, round(sim, 6) AS sim
       |FROM rp WHERE sim >= 0.4 ORDER BY a_id, b_id""".stripMargin

  /** emb_semantic_incremental oracle: full replay of the
    * HISTORY-trained quantizer (seeds = history ids < 16, one Lloyd
    * pass over history only — the index exists before the batch),
    * frozen-centroid argmax assignment of both sides (score DESC,
    * cid DESC), batch×history in-cell pairs, exact-cosine verified
    * at the 0.4 semantic threshold.
    */
  private def embSemanticIncrementalOracleSql: String = {
    def score(v: String) =
      s"""list_sum(list_transform(range(1, 65), i -> $v.embedding[i]::DOUBLE * c.c[i]))
         |                   - list_sum(list_transform(c.c, x -> x*x)) / 2""".stripMargin
    s"""WITH hist AS (SELECT vec_id, embedding,
       |         list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
       |       FROM embeddings WHERE vec_id % 5 <> 0),
       |bat AS (SELECT vec_id, embedding,
       |         list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
       |       FROM embeddings WHERE vec_id % 5 = 0),
       |c0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS c
       |       FROM embeddings WHERE vec_id < 16 AND vec_id % 5 <> 0),
       |a0 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v")} DESC, c.cid DESC) AS rn
       |         FROM hist v CROSS JOIN c0 c) WHERE rn = 1),
       |m AS (SELECT a0.cid, i, round(avg(v.embedding[i]::DOUBLE), 4) AS mv
       |      FROM a0 JOIN hist v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
       |c1m AS (SELECT cid, list(mv ORDER BY i) AS c FROM m GROUP BY cid),
       |c1 AS (SELECT c0.cid, coalesce(c1m.c, c0.c) AS c FROM c0 LEFT JOIN c1m ON c0.cid = c1m.cid),
       |ah AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v")} DESC, c.cid DESC) AS rn
       |         FROM hist v CROSS JOIN c1 c) WHERE rn = 1),
       |ab AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v")} DESC, c.cid DESC) AS rn
       |         FROM bat v CROSS JOIN c1 c) WHERE rn = 1),
       |ip AS (SELECT b.vec_id, h.vec_id AS hist_id,
       |         list_sum(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
       |           / nullif(sqrt(x.n2) * sqrt(y.n2), 0.0) AS sim
       |       FROM ab b JOIN ah h ON b.cid = h.cid
       |       JOIN bat x ON x.vec_id = b.vec_id JOIN hist y ON y.vec_id = h.vec_id)
       |SELECT DISTINCT vec_id, hist_id, round(sim, 6) AS sim
       |FROM ip WHERE sim >= 0.4 ORDER BY vec_id, hist_id""".stripMargin
  }

  private def embKnnGraphOracleSql: String =
    s"""WITH $knnEdgeCtes
       |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, n_id, round(sim, 6) AS sim
       |FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  /** ann_graph_search oracle: full unrolled replay of the
    * bounded-beam navigation over the kNN graph — shared knnEdgeCtes
    * edge set, MULTI-ENTRY seeds (round-13): the annIvf-trained flat
    * quantizer (ivfC1CoreCtes, K=16 — `n` stays the sampled frame),
    * per-cell entry = min sampled member vec_id under the argmax
    * assignment (score DESC, cid DESC), per-query top-nprobe cells
    * (score DESC, cid ASC — the annIvf probe convention); then per
    * round: top-beam of visited → neighbor expansion (NOT EXISTS
    * dedup against visited) → exact-cosine scoring → UNION ALL.
    * `v<rounds>` is the final visited set; consumers rank it (self
    * excluded).
    */
  private def graphSearchCtes(nQ: Int = 10, beam: Int = 4,
                              rounds: Int = 3, graphK: Int = 3,
                              nprobe: Int = 2): String =
    s"""$knnEdgeCtes,
       |${ivfC1CoreCtes("16", "e")},
       |${beamSearchCtes(
          s"SELECT vec_id AS src, n_id AS dst FROM r WHERE rnk <= $graphK",
          "n",
          s"""SELECT vec_id AS q_id, embedding,
             |              list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
             |       FROM embeddings WHERE vec_id < $nQ""".stripMargin,
          beam, rounds,
          s"""SELECT DISTINCT qp.q_id, ent.vec_id FROM
             |         (SELECT q_id, cid FROM (
             |            SELECT q.q_id, c.cid,
             |                   row_number() OVER (PARTITION BY q.q_id ORDER BY ${ivfScore("q", "c")} DESC, c.cid ASC) AS rn
             |            FROM qv q CROSS JOIN c1 c) WHERE rn <= $nprobe) qp
             |       JOIN
             |         (SELECT cid, min(vec_id) AS vec_id FROM (
             |            SELECT v.vec_id, c.cid,
             |                   row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfScore("v", "c")} DESC, c.cid DESC) AS rn
             |            FROM n v CROSS JOIN c1 c) WHERE rn = 1 GROUP BY cid) ent
             |       USING (cid)""".stripMargin)}""".stripMargin

  /** The unrolled beam-navigation CTE block over a caller-supplied
    * edge selector, node CTE (vec_id, embedding, n2), query selector
    * (q_id, embedding, n2), and SEED selector (q_id, vec_id — the
    * round-13 multi-entry start set; may reference `qv` and any CTE
    * defined earlier in the caller's chain) — the oracle seam
    * mirroring `Ann.beamSearchOn`: v0 scores the seed pairs, then
    * per round: top-beam of visited → neighbor expansion (NOT EXISTS
    * dedup) → exact-cosine scoring → UNION ALL; `v<rounds>` is the
    * final visited set. Instantiated by the exact-graph chain
    * ([[graphSearchCtes]]) and the cell-routed sampled monitor.
    */
  private def beamSearchCtes(edgeSel: String, nodeCte: String,
                             qvSel: String, beam: Int, rounds: Int,
                             seedSel: String): String = {
    val score =
      """list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
        |                 / nullif(sqrt(q.n2) * sqrt(v.n2), 0.0)""".stripMargin
    // ed/qv and every round's visited set are MATERIALIZED: each v$rd
    // is referenced 3-4 times by the next round (beam, NOT EXISTS,
    // union), so plain inlining expands the chain EXPONENTIALLY in
    // `rounds` — with the routed-quantizer node chain under it the
    // expansion exceeded the box's 20k file handles (round-12)
    val sb = new StringBuilder
    sb ++= s"""ed AS MATERIALIZED ($edgeSel),
       |qv AS MATERIALIZED ($qvSel),
       |sd AS MATERIALIZED ($seedSel),
       |v0 AS MATERIALIZED (SELECT q.q_id, v.vec_id, $score AS sim
       |       FROM sd JOIN $nodeCte v ON v.vec_id = sd.vec_id
       |       JOIN qv q ON q.q_id = sd.q_id)""".stripMargin
    for (rd <- 1 to rounds) {
      val p = rd - 1
      sb ++= s""",
         |b$p AS (SELECT q_id, vec_id FROM (
         |         SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |         FROM v$p) WHERE rn <= $beam),
         |nk$rd AS (SELECT DISTINCT b.q_id, ed.dst AS vec_id FROM b$p b JOIN ed ON b.vec_id = ed.src
         |          WHERE NOT EXISTS (SELECT 1 FROM v$p x WHERE x.q_id = b.q_id AND x.vec_id = ed.dst)),
         |s$rd AS (SELECT nk.q_id, nk.vec_id, $score AS sim
         |         FROM nk$rd nk JOIN $nodeCte v ON v.vec_id = nk.vec_id JOIN qv q ON q.q_id = nk.q_id),
         |v$rd AS MATERIALIZED (SELECT * FROM v$p UNION ALL SELECT * FROM s$rd)""".stripMargin
    }
    sb.toString
  }

  private def annGraphSearchOracleSql(k: Int = 5, rounds: Int = 3): String =
    s"""WITH ${graphSearchCtes(rounds = rounds)}
       |SELECT q_id, CAST(rn AS BIGINT) AS rnk, vec_id AS n_id, round(sim, 6) AS sim
       |FROM (SELECT q_id, vec_id, sim,
       |             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |      FROM v$rounds WHERE vec_id <> q_id)
       |WHERE rn <= $k ORDER BY q_id, rnk""".stripMargin

  private def annRecallGraphOracleSql(k: Int = 5, rounds: Int = 3): String =
    s"""WITH ${graphSearchCtes(rounds = rounds)},
       |ex AS (SELECT q_id, n_id FROM (
       |        SELECT q.q_id, v.vec_id AS n_id,
       |               row_number() OVER (PARTITION BY q.q_id ORDER BY
       |                 list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
       |                   / nullif(sqrt(q.n2) * sqrt(v.n2), 0.0) DESC, v.vec_id) AS rn
       |        FROM qv q JOIN n v ON v.vec_id <> q.q_id) WHERE rn <= $k),
       |ap AS (SELECT q_id, vec_id AS n_id FROM (
       |        SELECT q_id, vec_id,
       |               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |        FROM v$rounds WHERE vec_id <> q_id) WHERE rn <= $k),
       |j AS (SELECT ex.q_id, CASE WHEN ap.n_id IS NOT NULL THEN 1 END AS m
       |      FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id)
       |SELECT q_id, CAST(count(m) AS BIGINT) AS n_match, round(count(m) / $k.0, 4) AS recall
       |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin

  /** emb_pq oracle: full DuckDB replication of Ann.embPq — the same
    * seed-codebook (vec_id < 16 subvectors), one Lloyd refinement
    * with 4-decimal rounded means (empty codewords keep their seed),
    * and the same (score DESC, cid DESC) assignment tie-break; codes
    * pack with the identical shift-sum. Generic over the 8 subspaces
    * via unnest — no per-subspace SQL unrolling.
    */
  /** Shared CTE chain training the PQ model in DuckDB (mirrors
    * Ann.pqModel): subvector split, seed codebook, one rounded-mean
    * Lloyd pass, final assignments `a1` + codebook `c1`. Consumed by
    * the emb_pq (code packing) and emb_adc (LUT search) oracles.
    */
  private def pqCtes: String = {
    val score =
      """list_sum(list_transform(range(1, 9), i -> sub.s[i] * c.c[i]))
        |                 - list_sum(list_transform(c.c, x -> x*x)) / 2""".stripMargin
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
       |sub AS (SELECT vec_id, m, emb[CAST(m*8+1 AS INT):CAST(m*8+8 AS INT)] AS s
       |        FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS m)),
       |c0 AS (SELECT m, vec_id AS cid, s AS c FROM sub WHERE vec_id < 16),
       |a0 AS (SELECT vec_id, m, cid FROM (
       |         SELECT sub.vec_id, sub.m, c.cid,
       |                row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |                                   ORDER BY $score DESC, c.cid DESC) AS rn
       |         FROM sub JOIN c0 c ON sub.m = c.m) WHERE rn = 1),
       |mm AS (SELECT a0.m, a0.cid, i, round(avg(sub.s[CAST(i AS INT)]), 4) AS v
       |       FROM a0 JOIN sub ON sub.vec_id = a0.vec_id AND sub.m = a0.m
       |       CROSS JOIN (SELECT unnest(range(1, 9)) AS i)
       |       GROUP BY 1, 2, 3),
       |c1m AS (SELECT m, cid, list(v ORDER BY i) AS c FROM mm GROUP BY 1, 2),
       |c1 AS (SELECT c0.m, c0.cid, coalesce(c1m.c, c0.c) AS c
       |       FROM c0 LEFT JOIN c1m ON c0.m = c1m.m AND c0.cid = c1m.cid),
       |a1 AS (SELECT vec_id, m, cid FROM (
       |         SELECT sub.vec_id, sub.m, c.cid,
       |                row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |                                   ORDER BY $score DESC, c.cid DESC) AS rn
       |         FROM sub JOIN c1 c ON sub.m = c.m) WHERE rn = 1)""".stripMargin
  }

  /** emb_rq oracle: two deterministic-Lloyd stages replayed in full
    * — stage 1 on the full vectors, stage 2 on the residuals — with
    * the same 4-decimal rounded means, seed-keeping empty clusters,
    * and score DESC / cid DESC assignment ties as Ann.embRq; the
    * error is the same fixed-order ×10⁴ floored fold.
    */
  private def rqCtes: String = {
    def score(v: String, c: String) =
      s"list_sum(list_transform(range(1, 65), i -> $v.x[i] * $c.c[i])) - list_sum(list_transform($c.c, t -> t*t)) / 2"
    s"""e AS (SELECT vec_id, list_transform(embedding, t -> t::DOUBLE) AS x FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, x AS c FROM e WHERE vec_id < 16),
       |a0 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM e v CROSS JOIN c0 c) WHERE rn = 1),
       |m1 AS (SELECT a0.cid, i, round(avg(v.x[i]), 4) AS mv
       |       FROM a0 JOIN e v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
       |c1m AS (SELECT cid, list(mv ORDER BY i) AS c FROM m1 GROUP BY cid),
       |c1 AS (SELECT c0.cid, coalesce(c1m.c, c0.c) AS c FROM c0 LEFT JOIN c1m USING (cid)),
       |a1 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM e v CROSS JOIN c1 c) WHERE rn = 1),
       |r AS (SELECT v.vec_id, a1.cid AS cid1,
       |             list_transform(range(1, 65), i -> v.x[i] - c.c[i]) AS x
       |      FROM e v JOIN a1 USING (vec_id) JOIN c1 c ON a1.cid = c.cid),
       |r0 AS (SELECT vec_id AS cid, x AS c FROM r WHERE vec_id < 16),
       |b0 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM r v CROSS JOIN r0 c) WHERE rn = 1),
       |m2 AS (SELECT b0.cid, i, round(avg(v.x[i]), 4) AS mv
       |       FROM b0 JOIN r v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
       |c2m AS (SELECT cid, list(mv ORDER BY i) AS c FROM m2 GROUP BY cid),
       |c2 AS (SELECT r0.cid, coalesce(c2m.c, r0.c) AS c FROM r0 LEFT JOIN c2m USING (cid)),
       |b1 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM r v CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin
  }

  private def embRqOracleSql: String =
    s"""WITH $rqCtes
       |SELECT r.vec_id, r.cid1, b1.cid AS cid2,
       |       CAST(floor(list_sum(list_transform(range(1, 65),
       |              i -> (r.x[i] - c.c[i]) * (r.x[i] - c.c[i]))) * 10000) AS BIGINT) AS err_x1e4
       |FROM r JOIN b1 USING (vec_id) JOIN c2 c ON b1.cid = c.cid
       |ORDER BY vec_id""".stripMargin

  /** emb_rq_adc oracle: the shared RQ model CTEs, the two additive
    * lookup tables (floored ×10⁴ partial dots, exactly Ann.embRqAdc),
    * the code join, the integer add, and the per-query top-k.
    */
  private def embRqAdcOracleSql: String =
    s"""WITH $rqCtes,
       |q AS (SELECT vec_id AS q_id, list_transform(embedding, t -> t::DOUBLE) AS qv
       |      FROM embeddings WHERE vec_id < 5),
       |l1 AS (SELECT q.q_id, c.cid AS cid1,
       |         CAST(floor(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.c[i])) * 10000) AS BIGINT) AS p1
       |       FROM q CROSS JOIN c1 c),
       |l2 AS (SELECT q.q_id, c.cid AS cid2,
       |         CAST(floor(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.c[i])) * 10000) AS BIGINT) AS p2
       |       FROM q CROSS JOIN c2 c),
       |codes AS (SELECT r.vec_id, r.cid1, b1.cid AS cid2 FROM r JOIN b1 USING (vec_id)),
       |sc AS (SELECT l1.q_id, codes.vec_id, l1.p1 + l2.p2 AS rq_score
       |       FROM codes JOIN l1 USING (cid1)
       |       JOIN l2 ON l2.q_id = l1.q_id AND l2.cid2 = codes.cid2
       |       WHERE l1.q_id <> codes.vec_id),
       |rk AS (SELECT q_id, vec_id, rq_score,
       |              row_number() OVER (PARTITION BY q_id ORDER BY rq_score DESC, vec_id) AS rnk
       |       FROM sc)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS n_id, rq_score
       |FROM rk WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  private def embPqOracleSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id,
       |       CAST(sum(cid * (CAST(1 AS BIGINT) << CAST(4 * m AS INT))) AS BIGINT) AS pq_code
       |FROM a1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** emb_adc oracle: same PQ model CTEs, then the query-side lookup
    * table (bounded queries × codebook, partial dots FLOORED to ×10⁴
    * integers exactly like Ann.embAdc), the (m, cid) code join, the
    * order-free integer score sum, and the per-query top-k.
    */
  private def embAdcOracleSql: String =
    s"""WITH $pqCtes,
       |q AS (SELECT vec_id AS q_id, m, s AS qs FROM sub WHERE vec_id < 5),
       |lut AS (SELECT q.q_id, c.m, c.cid,
       |          CAST(floor(list_sum(list_transform(range(1, 9), i -> q.qs[i] * c.c[i])) * 10000) AS BIGINT) AS partial
       |        FROM q JOIN c1 c ON q.m = c.m),
       |sc AS (SELECT l.q_id, a.vec_id, sum(l.partial) AS adc_score
       |       FROM a1 a JOIN lut l ON a.m = l.m AND a.cid = l.cid
       |       WHERE l.q_id <> a.vec_id GROUP BY 1, 2),
       |rk AS (SELECT q_id, vec_id, adc_score,
       |              row_number() OVER (PARTITION BY q_id ORDER BY adc_score DESC, vec_id) AS rnk
       |       FROM sc)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS n_id, CAST(adc_score AS BIGINT) AS adc_score
       |FROM rk WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** emb_ivf_adc oracle: the IVF coarse-quantizer CTEs (iv-prefixed
    * — same Lloyd replay as the ann_ivf oracle, 4-decimal rounded
    * means, assignment ties cid DESC / probe-rank ties cid ASC,
    * exactly the Spark greatest-struct / Window semantics) feed the
    * probe list `qp`; the PQ CTEs feed codes `a1` + codebook `c1`;
    * candidates = probed-cluster members, scored by the floored ×10⁴
    * LUT sum as in emb_adc.
    */
  private def embIvfAdcOracleSql: String = {
    def score(v: String, c: String) =
      s"""list_sum(list_transform(range(1, 65), i -> $v.embedding[i]::DOUBLE * $c.c[i]))
         |                   - list_sum(list_transform($c.c, x -> x*x)) / 2""".stripMargin
    s"""WITH $pqCtes,
       |ive AS (SELECT vec_id, embedding FROM embeddings),
       |ivc0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS c FROM embeddings WHERE vec_id < 16),
       |iva0 AS (SELECT vec_id, cid FROM (
       |          SELECT v.vec_id, c.cid,
       |                 row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |          FROM ive v CROSS JOIN ivc0 c) WHERE rn = 1),
       |ivm AS (SELECT iva0.cid, i, round(avg(v.embedding[i]::DOUBLE), 4) AS mv
       |        FROM iva0 JOIN ive v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
       |ivc1m AS (SELECT cid, list(mv ORDER BY i) AS c FROM ivm GROUP BY cid),
       |ivc1 AS (SELECT ivc0.cid, coalesce(ivc1m.c, ivc0.c) AS c FROM ivc0 LEFT JOIN ivc1m ON ivc0.cid = ivc1m.cid),
       |iva1 AS (SELECT vec_id, cid FROM (
       |          SELECT v.vec_id, c.cid,
       |                 row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |          FROM ive v CROSS JOIN ivc1 c) WHERE rn = 1),
       |qp AS (SELECT q_id, cid FROM (
       |         SELECT v.vec_id AS q_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid ASC) AS crnk
       |         FROM ive v CROSS JOIN ivc1 c WHERE v.vec_id < 5) WHERE crnk <= 4),
       |q AS (SELECT vec_id AS q_id, m, s AS qs FROM sub WHERE vec_id < 5),
       |lut AS (SELECT q.q_id, c.m, c.cid,
       |          CAST(floor(list_sum(list_transform(range(1, 9), i -> q.qs[i] * c.c[i])) * 10000) AS BIGINT) AS partial
       |        FROM q JOIN c1 c ON q.m = c.m),
       |cand AS (SELECT qp.q_id, iva1.vec_id FROM qp JOIN iva1 USING (cid) WHERE qp.q_id <> iva1.vec_id),
       |sc AS (SELECT cd.q_id, cd.vec_id, sum(l.partial) AS adc_score
       |       FROM cand cd JOIN a1 a ON a.vec_id = cd.vec_id
       |       JOIN lut l ON l.q_id = cd.q_id AND l.m = a.m AND l.cid = a.cid
       |       GROUP BY 1, 2),
       |rk AS (SELECT q_id, vec_id, adc_score,
       |              row_number() OVER (PARTITION BY q_id ORDER BY adc_score DESC, vec_id) AS rnk
       |       FROM sc)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS n_id, CAST(adc_score AS BIGINT) AS adc_score
       |FROM rk WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** ann_ivf oracle: full DuckDB replication of Ann.annIvf — seed
    * centroids (vec_id < 16), one Lloyd refinement as SQL aggregates
    * (empty clusters keep their seed), nearest-centroid assignment
    * with the same argmax tie-break as Spark's greatest(struct)
    * (score DESC, cid DESC — probe ranking ties break cid ASC like
    * the Window), nprobe=4 cluster scan, exact-cosine rerank. Both
    * sides round the Lloyd means to 4 decimals (the only float
    * AGGREGATE feeding a discrete decision): summation order differs
    * between engines/partitionings, so unrounded centroids could flip
    * a near-tie assignment by an ulp.
    */
  /** Shared score expression for the IVF oracles (argmax of
    * dot − ‖c‖²/2 == argmin squared distance).
    */
  private def ivfScore(v: String, c: String) =
    s"""list_sum(list_transform(range(1, 65), i -> $v.embedding[i]::DOUBLE * $c.c[i]))
       |                   - list_sum(list_transform($c.c, x -> x*x)) / 2""".stripMargin

  /** The trained-quantizer CTEs (seed centroids → one Lloyd pass →
    * c1) shared by the IVF search and router oracles. `k` is the
    * seed-count SQL expression — the search/router oracles pin 16;
    * emb_semantic_groups derives it from the corpus count exactly
    * like `Ann.clustersFor` (greatest(16, ceil(n/125))).
    */
  private def ivfC1Ctes: String = ivfC1CtesK("16")
  private def ivfC1CtesK(k: String): String = ivfC1CtesOn(k, "e")

  /** [[ivfC1CtesK]] with the Lloyd-REFINEMENT relation split from the
    * seed scan (the `Ann.ivfCentroidsOn` seam): seeds always come
    * from the full corpus (vec_id < k), the assignment/means pass
    * runs over `refine` — a prior CTE with (vec_id, embedding). The
    * cell-routed graph oracle trains on the sampled node frame this
    * way.
    */
  private def ivfC1CtesOn(k: String, refine: String): String =
    s"""n AS (SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2 FROM embeddings),
       |${ivfC1CoreCtes(k, refine)}""".stripMargin

  /** [[ivfC1CtesOn]] WITHOUT the full-corpus `n` helper CTE — for
    * chains that already bind `n` to something else (the exact-graph
    * beam oracle, where `n` is the sampled node frame).
    */
  private def ivfC1CoreCtes(k: String, refine: String): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS c FROM embeddings WHERE vec_id < ($k)),
       |a0 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfScore("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM $refine v CROSS JOIN c0 c) WHERE rn = 1),
       |m AS (SELECT a0.cid, i, round(avg(v.embedding[i]::DOUBLE), 4) AS mv
       |      FROM a0 JOIN $refine v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
       |c1m AS (SELECT cid, list(mv ORDER BY i) AS c FROM m GROUP BY cid),
       |c1 AS (SELECT c0.cid, coalesce(c1m.c, c0.c) AS c FROM c0 LEFT JOIN c1m ON c0.cid = c1m.cid)""".stripMargin

  /** Routed two-level quantizer replay over the trained `c1` cells —
    * the `Ann.centroidGroups` + `semanticAssignmentsRoutedFull` CTEs:
    * ceil(√K) seed groups (lowest cids), three mini-Lloyd rounds
    * (squared-Euclidean assignment with ties to the LOWER gid, EXACT
    * ×10⁴-integer truncating means — 4-decimal member inputs put the
    * true mean on a rounding half constantly, where round(avg) is
    * plan-order-unstable — empty groups carrying their previous
    * center), a final member assignment, then per-vector top-`gprobe`
    * groups (score DESC, gid DESC — the sort_array struct order) and
    * top-`nprobe` member cells (score DESC, cid DESC) over `rel`, a
    * prior CTE with (vec_id, embedding). Emits `ra` = (vec_id, cid).
    */
  private def routedAssignCtes(rel: String, nprobe: Int, gprobe: Int): String = {
    def dist(t: String, g: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($t.c[i] - $g.gc[i]) * ($t.c[i] - $g.gc[i])))"
    def lloydRound(prev: String, cur: String): String =
      s"""ga_$cur AS (SELECT cid, gid FROM (
         |  SELECT t.cid, g.gid,
         |         row_number() OVER (PARTITION BY t.cid ORDER BY ${dist("t", "g")} ASC, g.gid ASC) AS rn
         |  FROM c1 t CROSS JOIN $prev g) WHERE rn = 1),
         |gm_$cur AS (SELECT gid, i,
         |    (CAST(sum(CAST(round(t.c[i] * 10000) AS BIGINT)) AS BIGINT) // count(*)) / 10000.0 AS mv
         |  FROM ga_$cur a JOIN c1 t USING (cid)
         |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
         |gl_$cur AS (SELECT gid, list(mv ORDER BY i) AS gc FROM gm_$cur GROUP BY gid),
         |$cur AS (SELECT p.gid, coalesce(l.gc, p.gc) AS gc FROM $prev p LEFT JOIN gl_$cur l USING (gid))"""
        .stripMargin
    s"""g0 AS (SELECT gid, gc FROM (
       |         SELECT row_number() OVER (ORDER BY cid) - 1 AS gid, c AS gc FROM c1)
       |       WHERE gid < CAST(ceil(sqrt((SELECT count(*) FROM c1))) AS BIGINT)),
       |${lloydRound("g0", "g1")},
       |${lloydRound("g1", "g2")},
       |${lloydRound("g2", "g3")},
       |gmem AS (SELECT cid, gid FROM (
       |  SELECT t.cid, g.gid,
       |         row_number() OVER (PARTITION BY t.cid ORDER BY ${dist("t", "g")} ASC, g.gid ASC) AS rn
       |  FROM c1 t CROSS JOIN g3 g) WHERE rn = 1),
       |gsc AS (SELECT v.vec_id, g.gid,
       |          list_sum(list_transform(range(1, 65), i -> v.embedding[i]::DOUBLE * g.gc[i]))
       |            - list_sum(list_transform(g.gc, x -> x*x)) / 2 AS s
       |        FROM $rel v CROSS JOIN g3 g
       |        WHERE g.gid IN (SELECT gid FROM gmem)),
       |topg AS (SELECT vec_id, gid FROM (
       |         SELECT vec_id, gid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, gid DESC) AS rn
       |         FROM gsc) WHERE rn <= $gprobe),
       |csc AS (SELECT v.vec_id, c.cid, ${ivfScore("v", "c")} AS s
       |        FROM $rel v JOIN topg USING (vec_id)
       |        JOIN gmem ON gmem.gid = topg.gid JOIN c1 c ON c.cid = gmem.cid),
       |ra AS (SELECT vec_id, cid FROM (
       |       SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
       |       FROM csc) WHERE rn <= $nprobe)""".stripMargin
  }

  private def annIvfOracleSql: String = {
    def score(v: String, c: String) = ivfScore(v, c)
    s"""WITH $ivfC1Ctes,
       |a1 AS (SELECT vec_id, cid FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid DESC) AS rn
       |         FROM e v CROSS JOIN c1 c) WHERE rn = 1),
       |qp AS (SELECT q_id, cid FROM (
       |         SELECT v.vec_id AS q_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${score("v", "c")} DESC, c.cid ASC) AS crnk
       |         FROM e v CROSS JOIN c1 c WHERE v.vec_id < 10) WHERE crnk <= 4),
       |cand AS (SELECT DISTINCT qp.q_id, a1.vec_id AS n_id FROM qp JOIN a1 USING (cid) WHERE qp.q_id <> a1.vec_id),
       |sims AS (SELECT c.q_id, c.n_id,
       |           list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE))
       |             / nullif(sqrt(q.n2) * sqrt(x.n2), 0.0) AS sim
       |         FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n x ON x.vec_id = c.n_id),
       |r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM sims)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, round(sim, 6) AS sim
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** Derived-partsupp CTEs — the DuckDB rendering of
    * `Tpch.partsupp`'s deterministic derivation (stride-mod supplier
    * assignment, [1,25] availqty hash, 50-100%-of-retail exact-cents
    * supplycost). All nonnegative integer arithmetic, shared by the
    * Q2/Q11/Q16/Q20 oracles.
    */
  private val partsuppCtes: String =
    """ps0 AS (SELECT p_partkey, p_retailprice, i.i AS i,
      |               (p_partkey * 7 + i.i * (s.cnt // 4)) % s.cnt AS ps_suppkey
      |        FROM part, (SELECT unnest(range(0, 4)) AS i) i,
      |             (SELECT count(*) AS cnt FROM supplier) s),
      |ps AS (SELECT p_partkey AS ps_partkey, ps_suppkey,
      |              1 + (p_partkey * 37 + ps_suppkey * 11) % 25 AS ps_availqty,
      |              (CAST(round(p_retailprice * 100) AS BIGINT) * (50 + (p_partkey * 13 + i * 29) % 51)) // 100 AS ps_cost_cents
      |       FROM ps0)""".stripMargin

  /** Shared CTE chain computing exact word-3-shingle Jaccard pairs
    * ≥ 0.5 (`jp`) — the oracle core for docs_jaccard_pairs,
    * docs_minhash_lsh, and the edge set of docs_dedup_groups.
    */
  private val jaccardCtes: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |                 i -> array_to_string(toks[i:i+2], ' '))) AS shingles
      |       FROM tok WHERE len(toks) >= 3),
      |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |it AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |       FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jp AS (SELECT a_id, b_id,
      |              round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
      |       FROM it JOIN sz sa ON it.a_id = sa.doc_id JOIN sz sb ON it.b_id = sb.doc_id
      |       WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5)""".stripMargin

  /** Shared CTE chain replaying the 64-bit simhash fingerprints and
    * the all-pairs Hamming table `shp` — the oracle core for
    * docs_simhash (pair filter) and docs_simhash_groups (closure).
    * Token hash = first 16 hex digits of md5 parsed big-endian;
    * fingerprints as two 32-bit halves so xor/bit_count never
    * overflow.
    */
  /** Shared pipeline oracle chain: quality-gate keepset (replaying
    * docsQualityFilter's integer cross-multiplied flags) and exact-
    * dedup survivors `sv` — consumed by docs_pipeline (packing) and
    * docs_yield_report (per-source accounting).
    */
  private val pipelineSvCtes: String =
    """tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |f AS (SELECT doc_id,
      |        CAST(len(toks) AS BIGINT) AS nt,
      |        CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |          / nullif(CAST(length(text) AS DOUBLE), 0.0) AS pr,
      |        greatest(len(toks) - 2, 0) AS nsh,
      |        CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(range(1, len(toks) - 1),
      |               i -> array_to_string(toks[i:i+2], ' ')))) ELSE 0 END AS nd
      |      FROM tok),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)),
      |                i -> array_to_string(toks[i:i+1], ' '))) AS bigrams
      |       FROM tok WHERE len(toks) >= 2),
      |ex AS (SELECT doc_id, unnest(bigrams) AS ngram FROM sh),
      |top AS (SELECT ngram FROM (SELECT ngram, count(*) AS df FROM ex GROUP BY 1
      |                           ORDER BY df DESC, ngram LIMIT 20)),
      |m AS (SELECT doc_id, count(*) AS n_top FROM ex JOIN top USING (ngram) GROUP BY 1),
      |b AS (SELECT doc_id,
      |        CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(range(1, len(toks)),
      |               i -> array_to_string(toks[i:i+1], ' ')))) ELSE 0 END AS nb
      |      FROM tok),
      |j AS (SELECT f.doc_id, f.nt, f.pr, f.nsh, f.nd, b.nb, coalesce(m.n_top, 0) AS n_top
      |      FROM f JOIN b ON f.doc_id = b.doc_id LEFT JOIN m ON f.doc_id = m.doc_id),
      |keepset AS (SELECT doc_id FROM j
      |            WHERE NOT (nt < 5) AND NOT (nt > 80) AND NOT coalesce(pr > 0.1, false)
      |              AND NOT (nd * 5 < nsh * 4) AND NOT (n_top * 5 > nb * 2)),
      |kept AS (SELECT d.doc_id, d.lang, md5(d.text) AS ch,
      |           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
      |         FROM documents d JOIN keepset USING (doc_id)),
      |ded AS (SELECT *, row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn FROM kept),
      |sv AS (SELECT doc_id, lang, n_tok FROM ded WHERE rn = 1)""".stripMargin

  /** mm_phash_pairs replay: blockhash fingerprints from raw bytes,
    * banded candidates, exact per-block Hamming — shared by the pair
    * query, the mm_phash_groups closure, and (parameterized over the
    * source relation) the planted-variant mm_detector_venn.
    */
  private def mmPhashPairsSqlFrom(src: String): String =
    s"""WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
      |                  octet_length(encode(text)) AS n
      |           FROM $src),
      |bl AS (SELECT doc_id, hx, n, unnest(range(0, 64)) AS blk FROM b),
      |s AS (SELECT doc_id, n, blk, ((blk + 1) * n) // 64 - (blk * n) // 64 AS blen,
      |        CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(
      |          range(CAST((blk * n) // 64 AS INT), CAST(((blk + 1) * n) // 64 AS INT)),
      |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
      |                 + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT)))) AS BIGINT) AS bsum
      |      FROM bl),
      |t AS (SELECT doc_id, sum(bsum) AS total FROM s GROUP BY 1),
      |bits AS (SELECT s.doc_id, s.blk,
      |           CASE WHEN s.blen > 0 AND s.bsum * s.n > t.total * s.blen
      |                THEN 1 ELSE 0 END AS bit
      |         FROM s JOIN t ON s.doc_id = t.doc_id),
      |bands AS (SELECT doc_id, blk // 16 AS band,
      |            CAST(sum(bit * (1 << CAST(blk % 16 AS INT))) AS INT) AS v
      |          FROM bits GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
      |         FROM bands a JOIN bands c
      |           ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id)
      |SELECT cand.doc_id_a, cand.doc_id_b,
      |       CAST(sum(abs(x.bit - y.bit)) AS INT) AS hamming
      |FROM cand
      |JOIN bits x ON x.doc_id = cand.doc_id_a
      |JOIN bits y ON y.doc_id = cand.doc_id_b AND y.blk = x.blk
      |GROUP BY 1, 2 HAVING sum(abs(x.bit - y.bit)) <= 3
      |ORDER BY 1, 2""".stripMargin

  private val mmPhashPairsSql: String = mmPhashPairsSqlFrom("documents")

  /** Shared audio-fingerprint CTE chain (mm_audio_fp / mm_audio_dup_*
    * replay): 65 proportional block energies at ⌊f·n/65⌋ boundaries,
    * 64 cross-multiplied mean-energy delta bits, 4×16-bit bands —
    * the [[graft.operators.Multimodal.audioFpBands]] kernel in SQL.
    */
  private val mmAudioBitsSql: String =
    """b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
      |             octet_length(encode(text)) AS n
      |      FROM documents),
      |fr AS (SELECT doc_id, hx, n, unnest(range(0, 65)) AS f FROM b),
      |e AS (SELECT doc_id, f,
      |        ((f + 1) * n) // 65 - (f * n) // 65 AS flen,
      |        CAST(coalesce(list_sum(list_transform(
      |          list_transform(range(CAST((f * n) // 65 AS INT), CAST(((f + 1) * n) // 65 AS INT)),
      |            i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
      |                   + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT) - 128),
      |          x -> x * x)), 0) AS BIGINT) AS en
      |      FROM fr),
      |bits AS (SELECT a.doc_id, a.f AS blk,
      |           CASE WHEN c.en * a.flen > a.en * c.flen THEN 1 ELSE 0 END AS bit
      |         FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.f = a.f + 1
      |         WHERE a.f < 64),
      |bands AS (SELECT doc_id, blk // 16 AS band,
      |            CAST(sum(bit * (1 << CAST(blk % 16 AS INT))) AS INT) AS v
      |          FROM bits GROUP BY 1, 2)""".stripMargin

  /** mm_audio_dup_* pair replay: banded candidates + exact Hamming
    * over the audio fingerprint bits, complete for d ≤ 3 by the
    * 4-band pigeonhole (the mm_phash_pairs contract).
    */
  private val mmAudioPairsSql: String =
    s"""WITH $mmAudioBitsSql,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
       |         FROM bands a JOIN bands c
       |           ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id)
       |SELECT cand.doc_id_a, cand.doc_id_b,
       |       CAST(sum(abs(x.bit - y.bit)) AS INT) AS hamming
       |FROM cand
       |JOIN bits x ON x.doc_id = cand.doc_id_a
       |JOIN bits y ON y.doc_id = cand.doc_id_b AND y.blk = x.blk
       |GROUP BY 1, 2 HAVING sum(abs(x.bit - y.bit)) <= 3""".stripMargin

  /** Shared CTE chain replaying the fixed-point Lloyd trajectory
    * (k = 8, 2 iterations): quantized vectors `x`, seed centroids
    * `c0`, per-round assignments `a1`/`a2`, per-(cid, dim) sums
    * `g1`/`g2`. Consumed by the emb_kmeans_train and
    * emb_cluster_quality oracles.
    */
  private val kmeansCtes: String =
    """x AS (SELECT vec_id, list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0) AS BIGINT)) AS xs
      |           FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, xs AS ms FROM x WHERE vec_id < 8),
      |d1 AS (SELECT x.vec_id, x.xs, c.cid,
      |              row_number() OVER (PARTITION BY x.vec_id ORDER BY
      |                list_sum(list_transform(range(1, 65), i -> (x.xs[i] - c.ms[i]) * (x.xs[i] - c.ms[i]))), c.cid) AS rn
      |       FROM x CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, xs, cid FROM d1 WHERE rn = 1),
      |u1 AS (SELECT cid, s[1] AS v, s[2] AS dim
      |       FROM (SELECT cid, unnest(list_zip(xs, range(1, 65))) AS s FROM a1)),
      |g1 AS (SELECT cid, dim, CAST(sum(v) AS BIGINT) AS s, count(*) AS n FROM u1 GROUP BY 1, 2),
      |m1 AS (SELECT cid, list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY dim) AS ms
      |       FROM g1 GROUP BY cid),
      |d2 AS (SELECT x.vec_id, x.xs, c.cid,
      |              row_number() OVER (PARTITION BY x.vec_id ORDER BY
      |                list_sum(list_transform(range(1, 65), i -> (x.xs[i] - c.ms[i]) * (x.xs[i] - c.ms[i]))), c.cid) AS rn
      |       FROM x CROSS JOIN m1 c),
      |a2 AS (SELECT vec_id, xs, cid FROM d2 WHERE rn = 1),
      |u2 AS (SELECT cid, s[1] AS v, s[2] AS dim
      |       FROM (SELECT cid, unnest(list_zip(xs, range(1, 65))) AS s FROM a2)),
      |g2 AS (SELECT cid, dim, CAST(sum(v) AS BIGINT) AS s, count(*) AS n FROM u2 GROUP BY 1, 2)""".stripMargin

  /** Exact squared-L2 between two xs lists (the kmeansCtes idiom). */
  private def l2(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> ($a.xs[i] - $b.xs[i]) * ($a.xs[i] - $b.xs[i])))"

  /** Unrolled 4-round farthest-point selection over the quantized
    * vectors — the emb_init_farthest replay.
    */
  private val farthestCtes: String =
    s"""x AS (SELECT vec_id, list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0) AS BIGINT)) AS xs
      |           FROM embeddings),
      |s1 AS (SELECT vec_id, xs FROM x ORDER BY vec_id LIMIT 1),
      |d2 AS (SELECT x.vec_id, x.xs, min(${l2("x", "c")}) AS md
      |       FROM x CROSS JOIN s1 c GROUP BY 1, 2),
      |s2 AS (SELECT vec_id, xs, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
      |c2 AS (SELECT vec_id, xs FROM s1 UNION ALL SELECT vec_id, xs FROM s2),
      |d3 AS (SELECT x.vec_id, x.xs, min(${l2("x", "c")}) AS md
      |       FROM x CROSS JOIN c2 c GROUP BY 1, 2),
      |s3 AS (SELECT vec_id, xs, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
      |c3 AS (SELECT vec_id, xs FROM c2 UNION ALL SELECT vec_id, xs FROM s3),
      |d4 AS (SELECT x.vec_id, x.xs, min(${l2("x", "c")}) AS md
      |       FROM x CROSS JOIN c3 c GROUP BY 1, 2),
      |s4 AS (SELECT vec_id, xs, md FROM d4 ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin

  private val simhashCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |hx AS (SELECT doc_id, substr(md5(t), 1, 16) AS h FROM tok),
      |bits AS (SELECT doc_id, k,
      |           CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(16 - (k // 4) AS INT), 1)) - 1) >> (k % 4)) & 1 = 1
      |                THEN 1 ELSE -1 END AS c
      |         FROM hx CROSS JOIN (SELECT unnest(range(64)) AS k)),
      |bs AS (SELECT doc_id, k, sum(c) AS bsum FROM bits GROUP BY 1, 2),
      |fp AS (SELECT doc_id,
      |         CAST(sum(CASE WHEN k < 32 AND bsum > 0 THEN CAST(1 AS BIGINT) << CAST(k AS INT) ELSE 0 END) AS BIGINT) AS lo,
      |         CAST(sum(CASE WHEN k >= 32 AND bsum > 0 THEN CAST(1 AS BIGINT) << CAST(k - 32 AS INT) ELSE 0 END) AS BIGINT) AS hi
      |       FROM bs GROUP BY 1),
      |shp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |               bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
      |        FROM fp a JOIN fp b ON a.doc_id < b.doc_id)""".stripMargin

  private val jaccardPairsSql: String =
    s"WITH $jaccardCtes\nSELECT a_id, b_id, jaccard FROM jp ORDER BY a_id, b_id"

  /** Shared CTE chain computing winnowed rolling-hash fingerprints
    * per doc (`f` = exploded (doc_id, fp)) — the oracle core for
    * text_fingerprint and docs_fp_overlap.
    */
  private val fingerprintCtes: String =
    """h AS (
      |  SELECT doc_id,
      |         list_transform(range(1, length(text) - 5), i ->
      |           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 7),
      |             j -> CAST(ascii(substring(text, CAST(i + j AS INTEGER), 1)) AS BIGINT))),
      |             (h, c) -> (h * 31 + c) % 1000000007)) AS hs
      |  FROM documents WHERE length(text) >= 7),
      |w AS (SELECT doc_id,
      |             list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))) AS fps
      |      FROM h WHERE len(hs) >= 4),
      |f AS (SELECT doc_id, unnest(fps) AS fp FROM w)""".stripMargin

  /** DuckDB-equivalent SQL per query (driver runs these on the same
    * parquet tables and hash-compares). */
  def oracleSql: Map[String, String] = Map(
    "dedup_first" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, value, props ORDER BY ts, event_id) AS rn
        |      FROM events) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "dedup_passthrough" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props, n_copies
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, value, props ORDER BY ts, event_id) AS rn,
        |             count(*) OVER (PARTITION BY user_id, event_type, value, props) AS n_copies
        |      FROM events) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "dedup_stats" ->
      """WITH h AS (
        |  SELECT ts,
        |         row_number() OVER (PARTITION BY user_id, event_type, value, props ORDER BY ts, event_id) AS rn,
        |         min(ts) OVER (PARTITION BY user_id, event_type, value, props) AS first_ts
        |  FROM events),
        |agg AS (
        |  SELECT epoch_ms(date_trunc('minute', ts)) AS window_start,
        |         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS primes,
        |         CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicates,
        |         round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / nullif(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0), 4) AS dup_ratio,
        |         round(avg(CASE WHEN rn > 1 THEN epoch_ms(ts) - epoch_ms(first_ts) END), 2) AS avg_delay_ms
        |  FROM h GROUP BY 1)
        |SELECT window_start, primes, duplicates, dup_ratio, avg_delay_ms,
        |       dup_ratio > 1.0 AS alert_high_dup,
        |       NOT (dup_ratio > 1.0) AND dup_ratio < 0.97 AS alert_feed_down
        |FROM agg ORDER BY window_start""".stripMargin,
    "dedup_ttl_bucket" ->
      """SELECT event_id
        |FROM (SELECT event_id,
        |             row_number() OVER (PARTITION BY user_id, event_type, value, props, floor(epoch_ms(ts) / 600000)
        |                                ORDER BY ts, event_id) AS rn
        |      FROM events) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // exact chain replay: recursive CTE steps one event at a time per
    // key, carrying the anchor; ordering by epoch_ms matches the Spark
    // kernel's millisecond comparison (Timestamp.getTime)
    "dedup_ttl_chain" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY epoch_ms(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_type, rn, event_id, ts AS anchor_ts, true AS is_prime
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.rn, e.event_id,
        |         CASE WHEN epoch_ms(e.ts) - epoch_ms(r.anchor_ts) <= 14400000 THEN r.anchor_ts ELSE e.ts END,
        |         epoch_ms(e.ts) - epoch_ms(r.anchor_ts) > 14400000
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.event_type = r.event_type AND e.rn = r.rn + 1)
        |SELECT event_id FROM r WHERE is_prime ORDER BY event_id""".stripMargin,
    "dedup_multi_topic" ->
      """WITH merged AS (
        |  SELECT * FROM events WHERE user_id < 100
        |  UNION ALL
        |  SELECT * FROM events WHERE user_id >= 50)
        |SELECT event_id
        |FROM (SELECT event_id, row_number() OVER (PARTITION BY user_id, event_type, value, props ORDER BY ts, event_id) AS rn
        |      FROM merged) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "parse_props_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "parse_topic" ->
      """WITH t AS (SELECT event_id, concat('/hfp/v1/', event_type, '/', user_id) AS topic FROM events),
        |     p AS (SELECT event_id, string_split(topic, '/') AS parts FROM t)
        |SELECT parts[4] AS topic_type, count(*) AS n,
        |       CAST(sum(CAST(parts[5] AS BIGINT)) AS BIGINT) AS sum_user
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_topk" ->
      """SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin,
    "q_sessionize" ->
      """WITH d AS (
        |  SELECT user_id,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_percentile" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90,
        |       round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     j AS (SELECT p.p_id, c.c_id,
        |                  row_number() OVER (PARTITION BY p.p_id ORDER BY c.ts DESC, c.c_id DESC) AS rn
        |           FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT p.p_id, j.c_id
        |FROM p LEFT JOIN (SELECT p_id, c_id FROM j WHERE rn = 1) j ON p.p_id = j.p_id
        |ORDER BY p.p_id""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_setops" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_range_frame" ->
      """SELECT event_id,
        |       count(*) OVER w AS n_trail_1h,
        |       round(sum(value) OVER w, 2) AS sum_trail_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1)
        |SELECT c.cohort_d, CAST(date_diff('day', c.cohort_d, e.d) AS INT) AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // histogram buckets: floor of an IEEE-exact division — no
    // round() half-rule edge; min/max pass raw doubles through
    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        |       count(*) AS n, min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // offset windows: Spark sorts the µs-truncated TimestampType, so
    // the oracle orders on epoch_us(ts) explicitly — identical
    // tie-break axis even if the oracle engine reads the parquet at
    // full nanosecond resolution; all-integer millis arithmetic,
    // NULL at partition edges
    "q_lag_delta" ->
      """SELECT event_id, user_id,
        |       epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS ms_since_prev,
        |       lead(epoch_ms(ts), 1) OVER w - epoch_ms(ts) AS ms_until_next
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin,
    // UNPIVOT melt of the wide integer aggregate — DuckDB's UNPIVOT
    // emits the same (group, measure-name, value) long form
    "q_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
        |         count(*) AS n_lines,
        |         count(DISTINCT l_orderkey) AS n_orders,
        |         count(DISTINCT l_partkey) AS n_parts
        |       FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, measure, CAST(v AS BIGINT) AS v
        |FROM (UNPIVOT wide ON n_lines, n_orders, n_parts
        |      INTO NAME measure VALUE v)
        |ORDER BY 1, 2""".stripMargin,
    // ntile is position-based: the unique (value, event_id) sort
    // makes bucket ids integer-deterministic on both engines
    "q_ntile" ->
      """SELECT event_id, event_type, value,
        |       CAST(ntile(4) OVER (PARTITION BY event_type
        |                           ORDER BY value, event_id) AS INT) AS quartile
        |FROM events ORDER BY event_id""".stripMargin,
    // sliding DOUBLE sums are association-order-sensitive, so the
    // summed value is pre-quantized to integer millis on BOTH sides
    // (floor(v*1000 + 0.5) — exact, no round() half-rule edge); the
    // frame orders on epoch_us(ts) like q_lag_delta
    "q_moving_avg" ->
      """SELECT event_id, user_id,
        |       CAST(sum(v_milli) OVER w AS BIGINT) AS mv_sum_milli,
        |       count(*) OVER w AS mv_n
        |FROM (SELECT event_id, user_id, ts,
        |             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_milli
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // all counters are exact integers; the value predicate compares
    // raw doubles to a literal (IEEE-exact on both engines)
    "q_cond_agg" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |       count(DISTINCT CASE WHEN value > 50.0 THEN user_id END) AS n_high_users,
        |       CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // LISTAGG shape: the contributing set is cut to 3 rows per key
    // by the same (epoch_us(ts), event_id) rank on both engines, so
    // the csv content and order are fully determined
    "q_string_agg" ->
      """WITH r AS (SELECT event_type, event_id,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY epoch_us(ts), event_id) AS rnk
        |           FROM events)
        |SELECT event_type,
        |       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rnk) AS first3_ids
        |FROM r WHERE rnk <= 3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // first/last over the full frame with the unique
    // (epoch_us(ts), event_id) tie-break — both engines pick the
    // same boundary rows; timestamps emitted as integer millis
    "q_first_last" ->
      """WITH o AS (SELECT user_id,
        |             row_number() OVER ord AS rn,
        |             first_value(event_type) OVER w AS first_type,
        |             last_value(event_type) OVER w AS last_type,
        |             first_value(epoch_ms(ts)) OVER w AS first_ms,
        |             last_value(epoch_ms(ts)) OVER w AS last_ms,
        |             count(*) OVER w AS n_events
        |           FROM events
        |           WINDOW ord AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
        |                  w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, first_type, last_type, first_ms, last_ms, n_events
        |FROM o WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // all-integer day arithmetic; both sessions are UTC so the
    // date truncation axis is identical
    "q_activity_gaps" ->
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT user_id, min(d) AS first_day, max(d) AS last_day,
        |       CAST(max(d) - min(d) + 1 AS BIGINT) AS span_days,
        |       count(DISTINCT d) AS n_active_days,
        |       CAST(max(d) - min(d) + 1 - count(DISTINCT d) AS BIGINT) AS n_gap_days
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_outer_join" ->
      """WITH c AS (SELECT user_id, count(*) AS n_clicks FROM events
        |           WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT user_id, count(*) AS n_purchases FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(c.user_id, p.user_id) AS user_id,
        |       coalesce(n_clicks, 0) AS n_clicks,
        |       coalesce(n_purchases, 0) AS n_purchases,
        |       CASE WHEN coalesce(n_clicks, 0) > 0 AND coalesce(n_purchases, 0) > 0 THEN 'both'
        |            WHEN coalesce(n_clicks, 0) > 0 THEN 'click_only'
        |            ELSE 'purchase_only' END AS segment
        |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
        |ORDER BY 1""".stripMargin,
    // keep-latest compaction: unique (epoch_us(ts), event_id) DESC
    // order ⇒ deterministic survivor; value passes through raw
    "q_compact_latest" ->
      """SELECT user_id, event_type, event_id AS last_event_id,
        |       epoch_ms(ts) AS last_ms, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // modal event type: integer counts, (n DESC, event_type) total
    // order — the argmax row is engine-deterministic
    "q_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n_events,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY n_events DESC, event_type) AS rn
        |      FROM c)
        |SELECT user_id, event_type AS modal_type, CAST(n_events AS BIGINT) AS n_events
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // SCD2 run collapse: the lag/run-sum windows order on
    // epoch_us(ts) (q_lag_delta's axis rule); run boundaries and all
    // outputs are integers
    "q_scd2" ->
      """WITH o AS (SELECT event_id, user_id, event_type, ts,
        |             CASE WHEN lag(event_type, 1) OVER w IS NULL
        |                    OR lag(event_type, 1) OVER w <> event_type
        |                  THEN 1 ELSE 0 END AS chg
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS run_id
        |      FROM o)
        |SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
        |       min(epoch_ms(ts)) AS valid_from_ms,
        |       max(epoch_ms(ts)) AS valid_to_ms,
        |       count(*) AS n_events,
        |       min(event_id) AS first_event_id
        |FROM r GROUP BY 1, 2, 3 ORDER BY user_id, run_id""".stripMargin,
    // gap-filled 15-min series: integer bucket floor-div, per-type
    // generate_series grid (inclusive, step-aligned), cents sums
    "q_time_bucket" ->
      """WITH a AS (SELECT event_type,
        |             (epoch_ms(ts) // 900000) * 900000 AS bucket_ms,
        |             count(*) AS n_events,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, unnest(generate_series(min(bucket_ms), max(bucket_ms), 900000)) AS bucket_ms
        |      FROM a GROUP BY event_type)
        |SELECT g.event_type, g.bucket_ms,
        |       coalesce(a.n_events, 0) AS n_events,
        |       coalesce(a.value_cents, 0) AS value_cents,
        |       a.n_events IS NULL AS is_gap
        |FROM g LEFT JOIN a ON g.event_type = a.event_type AND g.bucket_ms = a.bucket_ms
        |ORDER BY g.event_type, g.bucket_ms""".stripMargin,
    // heatmap replay: identical epoch integer math (no engine date
    // functions — DOW/week-start conventions differ, div doesn't)
    "q_time_profile" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events)
        |SELECT ((ms // 86400000) + 4) % 7 AS dow,
        |       (ms % 86400000) // 3600000 AS hour,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // first-digit replay: integer string math, exact counts, x10^6
    // observed-share floors (the Benford overlay is consumer-side)
    "q_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |           FROM orders),
        |n AS (SELECT digit, count(*) AS n FROM c WHERE digit >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM n)
        |SELECT digit, n, CAST((n * 1000000) // total AS BIGINT) AS share_x1e6
        |FROM n, t ORDER BY digit""".stripMargin,
    // sweep-line replay: +1/-1 interval deltas, close-before-open at
    // equal instants (half-open), running sum, first peak instant
    "q_interval_overlap" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) AS t0 FROM events),
        |d AS (SELECT event_type, t0 AS t, 1 AS delta FROM e
        |      UNION ALL
        |      SELECT event_type, t0 + 1800000, -1 FROM e),
        |o AS (SELECT event_type, t,
        |             sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
        |                              ROWS UNBOUNDED PRECEDING) AS open
        |      FROM d),
        |p AS (SELECT event_type, t, open,
        |             max(open) OVER (PARTITION BY event_type) AS peak FROM o)
        |SELECT event_type, CAST(max(peak) AS BIGINT) AS peak_concurrency,
        |       min(t) AS peak_at_ms
        |FROM p WHERE open = peak GROUP BY 1 ORDER BY 1""".stripMargin,
    // the per-day carry-in split is result-identical to the single
    // sweep by construction (open(t) = carry_in(day) + local prefix),
    // so it shares the single-sweep replay — the gate IS the equality
    "q_overlap_daily" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) AS t0 FROM events),
        |d AS (SELECT event_type, t0 AS t, 1 AS delta FROM e
        |      UNION ALL
        |      SELECT event_type, t0 + 1800000, -1 FROM e),
        |o AS (SELECT event_type, t,
        |             sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
        |                              ROWS UNBOUNDED PRECEDING) AS open
        |      FROM d),
        |p AS (SELECT event_type, t, open,
        |             max(open) OVER (PARTITION BY event_type) AS peak FROM o)
        |SELECT event_type, CAST(max(peak) AS BIGINT) AS peak_concurrency,
        |       min(t) AS peak_at_ms
        |FROM p WHERE open = peak GROUP BY 1 ORDER BY 1""".stripMargin,
    // ranking family over exact-cents ordering; the two ratio
    // functions divide exact small integers, rounded for display
    "q_rank_family" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_custkey, cents,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY cents)
        |ORDER BY o_orderkey""".stripMargin,
    // correlated subquery decorrelated to aggregate + join; the
    // above-mean test is exact integer cross-multiplication (prices
    // are 2-decimal), the displayed average exact integer FLOOR
    // division (x10^4 dollars — float round(,4) split on a half-way
    // point at sf0.01)
    "q_corr_subq" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |c AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |             count(*) AS n_orders FROM o GROUP BY 1)
        |SELECT o.o_orderkey, o.o_custkey,
        |       CAST(o.cents AS DOUBLE) / 100.0 AS o_totalprice,
        |       c.n_orders,
        |       CAST((c.sum_cents * 100) // c.n_orders AS BIGINT) AS cust_avg_x10000
        |FROM o JOIN c USING (o_custkey)
        |WHERE o.cents * c.n_orders > c.sum_cents
        |ORDER BY o_orderkey""".stripMargin,
    // rarity profile: exact integer df sums; the ×10⁴ mean is FLOOR
    // division of two exact integers (portable, no round() edge)
    "text_rarity" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(df.df) AS BIGINT) AS sum_df,
        |       min(df.df) AS min_df,
        |       (10000 * CAST(sum(df.df) AS BIGINT)) // count(*) AS mean_df_e4
        |FROM terms JOIN df USING (term)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full pipeline composition: quality keep-set (same CTEs as
    // docs_quality_filter), first-wins exact dedup over survivors,
    // then the docs_pack running-sum cut over what remains
    "docs_pipeline" ->
      s"""WITH $pipelineSvCtes,
        |c AS (SELECT doc_id, lang, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM sv)
        |SELECT doc_id, lang, n_tok,
        |       (cum - n_tok) // 256 AS pack_id,
        |       (cum - n_tok) % 256 AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // the C4 composition on CLEANED text: gate keepset → line strip
    // over the gated working set (occurrence counts on that subset) →
    // exact dedup on the reconstructed text → packing on cleaned
    // token counts; clean_chars pins the reconstruction content
    "docs_pipeline_strip" ->
      s"""WITH $pipelineSvCtes,
        |gtok AS (SELECT d.doc_id, d.lang, string_split(d.text, ' ') AS t
        |         FROM documents d JOIN keepset USING (doc_id)),
        |gl AS (SELECT doc_id,
        |         unnest(range(0, (len(t) + 9) // 10)) AS line_idx,
        |         unnest(list_transform(range(0, (len(t) + 9) // 10),
        |           j -> array_to_string(t[j * 10 + 1 : j * 10 + 10], ' '))) AS line
        |       FROM gtok),
        |gd AS (SELECT line, count(*) AS n_occ FROM gl GROUP BY 1),
        |gk AS (SELECT doc_id, line_idx, line FROM gl JOIN gd USING (line) WHERE n_occ <= 2),
        |clean AS (SELECT doc_id, string_agg(line, ' ' ORDER BY line_idx) AS ctext
        |          FROM gk GROUP BY 1),
        |ck AS (SELECT c.doc_id, g.lang, md5(c.ctext) AS ch,
        |         CAST(length(c.ctext) AS BIGINT) AS clean_chars,
        |         CAST(len(string_split(c.ctext, ' ')) AS BIGINT) AS n_tok
        |       FROM clean c JOIN gtok g ON c.doc_id = g.doc_id),
        |cded AS (SELECT *, row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn FROM ck),
        |csv AS (SELECT doc_id, lang, clean_chars, n_tok FROM cded WHERE rn = 1),
        |cc AS (SELECT doc_id, lang, clean_chars, n_tok,
        |         CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |       FROM csv)
        |SELECT doc_id, lang, clean_chars, n_tok,
        |       (cum - n_tok) // 256 AS pack_id,
        |       (cum - n_tok) % 256 AS pack_offset
        |FROM cc ORDER BY doc_id""".stripMargin,
    // per-source yield through the same gate + dedup chain: exact
    // doc/token counts at each stage, x10^4 floor survival share
    "docs_yield_report" ->
      s"""WITH $pipelineSvCtes,
        |src AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |        FROM documents),
        |tin AS (SELECT source, count(*) AS docs_in, CAST(sum(nt) AS BIGINT) AS tokens_in
        |        FROM src GROUP BY 1),
        |tk AS (SELECT s.source, count(*) AS docs_kept
        |       FROM keepset k JOIN src s USING (doc_id) GROUP BY 1),
        |tout AS (SELECT s.source, count(*) AS docs_out, CAST(sum(s.nt) AS BIGINT) AS tokens_out
        |         FROM sv JOIN src s USING (doc_id) GROUP BY 1)
        |SELECT tin.source, tin.docs_in, tin.tokens_in,
        |       coalesce(tk.docs_kept, 0) AS docs_kept,
        |       coalesce(tout.docs_out, 0) AS docs_out,
        |       coalesce(tout.tokens_out, 0) AS tokens_out,
        |       CAST((coalesce(tout.tokens_out, 0) * 10000) // tin.tokens_in AS BIGINT) AS token_yield_x1e4
        |FROM tin LEFT JOIN tk USING (source) LEFT JOIN tout USING (source)
        |ORDER BY source""".stripMargin,
    // sequence packing: integer running sums cut at a 256-token
    // budget; HUGEINT window sums cast back to BIGINT
    "docs_pack" ->
      """WITH d AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d)
        |SELECT doc_id, lang, n_tok,
        |       (cum - n_tok) // 256 AS pack_id,
        |       (cum - n_tok) % 256 AS pack_offset,
        |       ((cum - n_tok) // 256) <> ((cum - 1) // 256) AS spills_over
        |FROM c ORDER BY doc_id""".stripMargin,
    // sharded packing replay: same md5-top-32-bit identity hash as
    // docs_shard_plan, pack windows keyed (lang, shard)
    "docs_pack_sharded" ->
      """WITH h AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) % 4 AS shard
        |  FROM documents),
        |c AS (SELECT doc_id, lang, shard, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM h)
        |SELECT doc_id, lang, shard, n_tok,
        |       (cum - n_tok) // 256 AS pack_id,
        |       (cum - n_tok) % 256 AS pack_offset,
        |       ((cum - n_tok) // 256) <> ((cum - 1) // 256) AS spills_over
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_funnel" ->
      """WITH fc AS (SELECT user_id, min(epoch_ms(ts)) AS c_ms FROM events
        |            WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT user_id, epoch_ms(ts) AS p_ms FROM events WHERE event_type = 'purchase')
        |SELECT fc.user_id, fc.c_ms AS first_click_ms,
        |       CAST(max(CASE WHEN p.p_ms >= fc.c_ms AND p.p_ms <= fc.c_ms + 3600000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS converted
        |FROM fc LEFT JOIN p ON fc.user_id = p.user_id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // strictly-ordered 3-step funnel on the exact µs axis
    "q_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE event_type = 'click' AND us > view_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND us > click_us GROUP BY 1)
        |SELECT v.user_id, view_us, click_us, purchase_us,
        |       CAST(CASE WHEN purchase_us IS NOT NULL THEN 3
        |                 WHEN click_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY 1""".stripMargin,
    // the salted join must equal the PLAIN join — the oracle is the
    // unsalted form; only exact-integer aggregates are compared
    "q_salted_join" ->
      """WITH d AS (SELECT event_type, round(avg(value), 4) AS type_avg FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM events e JOIN d USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id AS p_id, epoch_ms(ts) AS t FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT epoch_ms(ts) AS t FROM events WHERE event_type = 'click')
        |SELECT p.p_id,
        |       CAST((SELECT count(*) FROM c WHERE c.t >= p.t - 3600000 AND c.t <= p.t) AS BIGINT) AS n_in_window
        |FROM p ORDER BY p_id""".stripMargin,
    "q_distinct" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT (user_id, event_type)) AS n_user_types,
        |       count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stats_agg" ->
      """SELECT event_type,
        |       round(stddev_samp(value), 4) AS sd_value,
        |       round(var_samp(value), 4) AS var_value,
        |       round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu,
        |       round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cov_vu
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_scalar_subq" ->
      """WITH a AS (SELECT o_custkey AS k, avg(o_totalprice) AS cust_avg FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders JOIN a ON o_custkey = k
        |WHERE o_totalprice > cust_avg * 1.5
        |ORDER BY o_orderkey""".stripMargin,
    "q1_sql" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "sql_shingles" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN len(toks) < 3 THEN 0
        |                 ELSE len(list_distinct(list_transform(range(1, len(toks) - 1),
        |                        i -> array_to_string(toks[i:i+2], ' ')))) END AS BIGINT) AS n_shingles
        |FROM tok ORDER BY doc_id""".stripMargin,
    "sql_cosine" ->
      """WITH n AS (SELECT vec_id, embedding,
        |                  list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
        |           FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |             / nullif(sqrt(a.n2) * sqrt(b.n2), 0.0), 6) AS sim
        |FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id < 10 AND a.vec_id < b.vec_id
        |ORDER BY a_id, b_id""".stripMargin,
    "docs_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_dedup_normalized" ->
      """WITH n AS (SELECT doc_id, text,
        |             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash
        |           FROM documents)
        |SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_copies,
        |       count(DISTINCT text) AS n_raw_variants
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_jaccard_pairs" -> jaccardPairsSql,
    // LSH emits exact-verified (a_id, b_id, jaccard) — identical SQL
    // to docs_jaccard_pairs. Both sides are fully deterministic
    // (fixed splitmix permutation constants), and the 32×4 banding's
    // candidate recall covers every ≥0.5 pair in the test corpora
    // (validated at sf0.001/0.01/0.1), so equality is stable, not
    // probabilistic luck per run. Residual risk, accepted: on a NEW
    // corpus a pair at j≈0.5 misses all 32 bands with P≈0.13 (→0 as
    // j→1) and would fail this gate even though the operator meets
    // its contract (emitted ⊆ exact, verified); the gate corpora are
    // pinned, and NearDupSpec keeps the structural guarantee.
    // (docs_dedup_groups shares this dependency via its edge set.)
    "docs_minhash_lsh" -> jaccardPairsSql,
    // directional containment |A∩B|/|A| ≥ 0.8 over distinct
    // 3-shingle sets, both directions emitted independently
    "docs_containment" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |                 i -> array_to_string(toks[i:i+2], ' '))) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |               / CAST(len(a.shingles) AS DOUBLE) AS cont
        |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT a_id, b_id, round(cont, 4) AS containment
        |FROM p WHERE cont >= 0.8 ORDER BY a_id, b_id""".stripMargin,
    // connected components over the jaccard-pair edges: transitive
    // closure by recursive CTE, group id = min reachable doc_id
    // (singletons map to themselves)
    "docs_dedup_groups" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |e AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
         |r AS (SELECT doc_id AS s, doc_id AS d FROM documents
         |      UNION
         |      SELECT r.s, e.d FROM r JOIN e ON r.d = e.s)
         |SELECT s AS doc_id, min(d) AS group_id FROM r GROUP BY s ORDER BY doc_id""".stripMargin,
    // detector Venn: jaccard + simhash CTEs composed (simhash's tok
    // renamed to avoid the collision), exact-dup via md5 df, three
    // flag semi-joins, one 2^3-cell count
    "docs_detector_venn" -> {
      val simRenamed = simhashCtes.replaceAll("\\btok\\b", "stok")
      s"""WITH $jaccardCtes,
         |$simRenamed,
         |fe AS (SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) > 1 AS f FROM documents),
         |fj AS (SELECT DISTINCT doc_id FROM (SELECT a_id AS doc_id FROM jp UNION ALL SELECT b_id FROM jp)),
         |fs AS (SELECT DISTINCT doc_id FROM (SELECT a_id AS doc_id FROM shp WHERE hamming <= 3
         |                                    UNION ALL SELECT b_id FROM shp WHERE hamming <= 3))
         |SELECT fe.f AS f_exact,
         |       fj.doc_id IS NOT NULL AS f_jaccard,
         |       fs.doc_id IS NOT NULL AS f_simhash,
         |       count(*) AS n_docs
         |FROM documents d
         |JOIN fe ON d.doc_id = fe.doc_id
         |LEFT JOIN fj ON d.doc_id = fj.doc_id
         |LEFT JOIN fs ON d.doc_id = fs.doc_id
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },
    // group-size histogram over the same closure: group -> size,
    // size -> (count, docs) — two exact integer aggregates
    "docs_group_sizes" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |e AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
         |r AS (SELECT doc_id AS s, doc_id AS d FROM documents
         |      UNION
         |      SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
         |g AS (SELECT s AS doc_id, min(d) AS group_id FROM r GROUP BY s),
         |gs AS (SELECT group_id, count(*) AS group_size FROM g GROUP BY 1)
         |SELECT group_size, count(*) AS n_groups, CAST(sum(group_size) AS BIGINT) AS n_docs
         |FROM gs GROUP BY 1 ORDER BY group_size""".stripMargin,
    // groups (recursive closure, same edge set as docs_dedup_groups)
    // + the text_quality score replica; keeper = first_value by
    // (rounded score DESC, doc_id) — both engines rank the identical
    // 4-decimal rounding, so the argmax cannot flip on an ulp
    "docs_dedup_keep" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |e AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
         |r AS (SELECT doc_id AS s, doc_id AS d FROM documents
         |      UNION
         |      SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
         |g AS (SELECT s AS doc_id, min(d) AS group_id FROM r GROUP BY s),
         |tq AS (SELECT d.doc_id,
         |         round(least(CAST(len(t.toks) AS DOUBLE) / 100.0, 1.0)
         |           * (1.0 - CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |                      / nullif(CAST(length(d.text) AS DOUBLE), 0.0))
         |           * (1.0 - 0.5 * CAST(len(list_filter(t.toks, x -> x IN ('a','the','is','of','and'))) AS DOUBLE)
         |                        / nullif(CAST(len(t.toks) AS DOUBLE), 0.0)), 4) AS qs
         |       FROM documents d JOIN tok t ON d.doc_id = t.doc_id),
         |k AS (SELECT g.doc_id, g.group_id,
         |             first_value(g.doc_id) OVER (PARTITION BY g.group_id ORDER BY tq.qs DESC, g.doc_id) AS keep_id
         |      FROM g JOIN tq ON g.doc_id = tq.doc_id)
         |SELECT doc_id, group_id, keep_id, doc_id = keep_id AS is_keep
         |FROM k ORDER BY doc_id""".stripMargin,
    // decontamination replay: 8-word shingles, bench = doc_id < 50,
    // inverted-index join, distinct counts (exact integers)
    "docs_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 6),
        |                i -> array_to_string(toks[i:i+7], ' '))) AS sh
        |       FROM tok WHERE len(toks) >= 8),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |b AS (SELECT s, doc_id AS bench_id FROM ex WHERE doc_id < 50),
        |t AS (SELECT doc_id, s FROM ex WHERE doc_id >= 50)
        |SELECT t.doc_id, count(DISTINCT t.s) AS n_shared_ngrams,
        |       count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM t JOIN b USING (s) GROUP BY 1 ORDER BY 1""".stripMargin,
    // span replay: positional 8-shingles, diagonal run segmentation
    // via lag-gap flag + running sum, longest run per pair (ties to
    // the smallest start), runs >= 3 shingles only
    "docs_overlap_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ps AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |              array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS s
        |       FROM tok CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)
        |       WHERE len(t) >= 8),
        |b AS (SELECT doc_id AS bench_id, pos AS pos_b, s FROM ps WHERE doc_id < 50),
        |a AS (SELECT doc_id, pos AS pos_a, s FROM ps WHERE doc_id >= 50),
        |h AS (SELECT a.doc_id, b.bench_id, a.pos_a, b.pos_b, a.pos_a - b.pos_b AS diag
        |      FROM a JOIN b USING (s)),
        |r AS (SELECT *, CASE WHEN lag(pos_a) OVER w IS NULL
        |                       OR lag(pos_a) OVER w <> pos_a - 1 THEN 1 ELSE 0 END AS nr
        |      FROM h WINDOW w AS (PARTITION BY doc_id, bench_id, diag ORDER BY pos_a)),
        |g AS (SELECT doc_id, bench_id, diag, pos_a, pos_b,
        |             sum(nr) OVER (PARTITION BY doc_id, bench_id, diag ORDER BY pos_a) AS run_id
        |      FROM r),
        |runs AS (SELECT doc_id, bench_id, count(*) AS run_len,
        |                min(pos_a) AS a_start, min(pos_b) AS b_start
        |         FROM g GROUP BY doc_id, bench_id, diag, run_id),
        |best AS (SELECT doc_id, bench_id, run_len, a_start, b_start,
        |                row_number() OVER (PARTITION BY doc_id, bench_id
        |                                   ORDER BY run_len DESC, a_start, b_start) AS rn
        |         FROM runs)
        |SELECT doc_id, bench_id, CAST(run_len AS BIGINT) AS longest_run,
        |       CAST(run_len + 7 AS BIGINT) AS longest_tokens, a_start, b_start
        |FROM best WHERE rn = 1 AND run_len >= 3 ORDER BY doc_id, bench_id""".stripMargin,
    // incremental ingest dedup: history manifest = distinct hashes of
    // the 80% split; batch ranked within itself by the same hash
    "docs_dedup_incremental" ->
      """WITH d AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
        |h AS (SELECT DISTINCT content_hash FROM d WHERE doc_id % 5 <> 0),
        |b AS (SELECT doc_id, content_hash,
        |        row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        |      FROM d WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, b.content_hash,
        |       (h.content_hash IS NOT NULL) AS dup_of_history,
        |       (b.rn > 1) AS dup_in_batch,
        |       (h.content_hash IS NULL AND b.rn = 1) AS ingest
        |FROM b LEFT JOIN h ON b.content_hash = h.content_hash
        |ORDER BY b.doc_id""".stripMargin,
    // incremental NEAR-dup ingest: the exact-jaccard pair set
    // restricted to (batch x history) — the docs_minhash_lsh
    // full-recall contract applied across the two splits; batch doc
    // oriented first regardless of which side of a<b it fell on
    "docs_neardup_incremental" ->
      s"""WITH $jaccardCtes
         |SELECT CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END AS doc_id,
         |       CASE WHEN a_id % 5 = 0 THEN b_id ELSE a_id END AS hist_id,
         |       jaccard
         |FROM jp
         |WHERE (a_id % 5 = 0) <> (b_id % 5 = 0)
         |ORDER BY doc_id, hist_id""".stripMargin,
    // corpus dedup-rate summary (Analytics.java ratio contract on
    // documents): integer counters + one guarded, rounded ratio
    "docs_dedup_stats" ->
      """WITH g AS (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |       count(*) AS n_unique,
        |       CAST(sum(n) - count(*) AS BIGINT) AS n_dupes,
        |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_groups,
        |       CAST(max(n) AS BIGINT) AS max_copies,
        |       round(CAST(sum(n) - count(*) AS DOUBLE)
        |             / nullif(CAST(count(*) AS DOUBLE), 0.0), 6) AS dup_ratio
        |FROM g""".stripMargin,
    // winnowed-fingerprint overlap pairs: df-capped inverted index
    // (fp in ≤ 20 docs — the corpus median df is 23, so the cap keeps
    // only discriminative fingerprints), pair overlap count ≥ 5
    "docs_fp_overlap" ->
      s"""WITH $fingerprintCtes,
         |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
         |g AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         |      FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT a_id, b_id, n_shared FROM p WHERE n_shared >= 5 ORDER BY a_id, b_id""".stripMargin,
    // full fingerprint replay: token hash = first 16 hex digits of
    // md5 parsed big-endian (bit j = bit j%4 of hex digit 15 - j/4),
    // 64 signed bit-sums per doc, bit set iff sum > 0; fingerprints
    // assembled as two 32-bit halves so xor/bit_count never overflow;
    // pairs = brute-force Hamming ≤ 3 (the banding is complete for
    // d ≤ 3, so bucketed output == brute force)
    "docs_simhash" ->
      s"""WITH $simhashCtes
         |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
         |FROM shp WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,
    // components over the simhash edge set: same recursive-closure
    // rendering as docs_dedup_groups, edges from the shared simhash
    // CTEs (the banding is complete for d <= 3, so the Spark bucketed
    // edge set equals this brute-force one)
    "docs_simhash_groups" ->
      s"""WITH RECURSIVE $simhashCtes,
         |sp AS (SELECT a_id, b_id FROM shp WHERE hamming <= 3),
         |ed AS (SELECT a_id AS src, b_id AS dst FROM sp UNION SELECT b_id, a_id FROM sp),
         |r AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |      UNION
         |      SELECT r.src, ed.dst FROM r JOIN ed ON r.dst = ed.src)
         |SELECT src AS doc_id, min(dst) AS group_id FROM r GROUP BY src ORDER BY doc_id""".stripMargin,
    "emb_cosine_dedup" ->
      """WITH n AS (SELECT vec_id, embedding,
        |                  list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
        |           FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |             list_sum(list_transform(range(1, len(a.embedding) + 1),
        |               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |               / nullif(sqrt(a.n2) * sqrt(b.n2), 0.0) AS sim
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, round(sim, 6) AS sim FROM p WHERE sim >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    "ann_bruteforce" -> annExactTopKSql,
    // ann_lsh / ann_ivf oracles REPLICATE the approximate algorithms
    // end-to-end in DuckDB (not the exact top-k: on this isotropic
    // corpus the strongest neighbor sits at sim ≈ 0.5, so no bounded
    // probe budget can guarantee exact recall — and silently grading
    // an approximate operator against the exact answer would only
    // pass by luck). The hyperplanes are data-independent constants
    // inlined as literals; IVF's Lloyd pass is plain SQL aggregates.
    // The oracle independently recomputes bucketing, candidates, and
    // the exact-cosine rerank from the raw table.
    "ann_lsh" -> annLshOracleSql,
    "docs_minhash_sig" -> minhashSigOracleSql,
    "docs_minhash_est" -> minhashEstOracleSql,
    "emb_knn_graph" -> embKnnGraphOracleSql,
    "emb_knn_graph_cells" -> embKnnGraphCellsOracleSql,
    "ann_recall_cells" -> annRecallCellsOracleSql,
    // sampled-query monitors: the LINEAR renderings — exact side
    // restricted to the deterministic qs node sample, approx side the
    // routed build / its beam navigation (round-12)
    "ann_recall_cells_s" -> annRecallCellsSampledOracleSql(),
    "ann_recall_graph_s" -> annRecallGraphSampledOracleSql(),
    // graph label propagation + cluster-balanced sample (round 12)
    "emb_knn_label_prop" -> embKnnLabelPropOracleSql(),
    "emb_label_prop_converge" -> embLabelPropConvergeOracleSql(),
    "emb_cluster_sample" -> embClusterSampleOracleSql(),
    "emb_semantic_routed" -> embSemanticRoutedOracleSql,
    "emb_semantic_incremental" -> embSemanticIncrementalOracleSql,
    // graph-ANN serving leg: unrolled fixed-round beam navigation +
    // its recall monitor vs the exact top-k over the sampled universe
    "ann_graph_search" -> annGraphSearchOracleSql(),
    "ann_recall_graph" -> annRecallGraphOracleSql(),
    "emb_rq" -> embRqOracleSql,
    "emb_rq_adc" -> embRqAdcOracleSql,
    "emb_pq" -> embPqOracleSql,
    "emb_adc" -> embAdcOracleSql,
    "emb_ivf_adc" -> embIvfAdcOracleSql,
    // distortion replay: same PQ model CTEs; per-row error is an
    // 8-element sequential fold over the pinned codebook, floored
    // to x10^6 integers before the exact per-subspace reduction
    "emb_pq_distortion" ->
      s"""WITH $pqCtes
         |SELECT a1.m,
         |       count(*) AS n_vectors,
         |       CAST(sum(CAST(floor(list_sum(list_transform(range(1, 9),
         |              i -> (sub.s[i] - c.c[i]) * (sub.s[i] - c.c[i]))) * 1000000) AS BIGINT)) AS BIGINT) AS total_dist_x1e6,
         |       CAST(sum(CAST(floor(list_sum(list_transform(range(1, 9),
         |              i -> (sub.s[i] - c.c[i]) * (sub.s[i] - c.c[i]))) * 1000000) AS BIGINT)) // count(*) AS BIGINT) AS mean_dist_x1e6
         |FROM a1 JOIN sub ON a1.vec_id = sub.vec_id AND a1.m = sub.m
         |JOIN c1 c ON a1.m = c.m AND a1.cid = c.cid
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ann_ivf" -> annIvfOracleSql,
    // float→double casts happen per element BEFORE the avg on both
    // sides; round(·, 6) absorbs the engines' summation-order ulps
    "emb_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS dim,
        |       round(avg(embedding[CAST(i + 1 AS INT)]::DOUBLE), 6) AS c
        |FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // drift replay: even/odd snapshot centroids pinned to x10^4
    // integers (one rounded float aggregate), then exact int64
    // dot/norm/L2 sums; the cosine divides identical exact integers
    "emb_drift" ->
      """WITH cd AS (SELECT label, vec_id % 2 AS snap, i AS dim,
        |              CAST(round(avg(embedding[CAST(i + 1 AS INT)]::DOUBLE) * 10000) AS BIGINT) AS c4,
        |              count(*) AS n
        |            FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        |            GROUP BY 1, 2, 3),
        |p AS (SELECT label, dim,
        |        sum(CASE WHEN snap = 0 THEN c4 END) AS c0,
        |        sum(CASE WHEN snap = 1 THEN c4 END) AS c1,
        |        max(CASE WHEN snap = 0 THEN n END) AS n0,
        |        max(CASE WHEN snap = 1 THEN n END) AS n1
        |      FROM cd GROUP BY 1, 2)
        |SELECT label, CAST(max(n0) AS BIGINT) AS n_a, CAST(max(n1) AS BIGINT) AS n_b,
        |       CAST(sum((c0 - c1) * (c0 - c1)) AS BIGINT) AS l2_x1e8,
        |       round(sum(c0 * c1) / nullif(sqrt(sum(c0 * c0)::DOUBLE) * sqrt(sum(c1 * c1)::DOUBLE), 0.0), 6) AS cos_sim
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // whitening replay: per-dim mean/stddev pinned to 4 decimals,
    // then pure per-element IEEE arithmetic and exact integer floors
    "emb_whiten" ->
      """WITH x AS (SELECT vec_id, i AS dim, embedding[CAST(i + 1 AS INT)]::DOUBLE AS v
        |           FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
        |s AS (SELECT dim, round(avg(v), 4) AS m4, round(stddev_pop(v), 4) AS sd4
        |      FROM x GROUP BY 1),
        |w AS (SELECT vec_id, CAST(floor((v - m4) / nullif(sd4, 0) * 10000) AS BIGINT) AS wi
        |      FROM x JOIN s USING (dim))
        |SELECT vec_id, CAST(sum(wi) AS BIGINT) AS w_sum_x1e4,
        |       min(wi) AS w_min_x1e4, max(wi) AS w_max_x1e4
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // recall of the (already-oracled) IVF path against the exact
    // top-k: both sides are the existing oracle queries, composed
    "ann_recall" ->
      s"""WITH exact AS (SELECT * FROM ($annExactTopKSql)),
         |approx AS (SELECT * FROM (${annIvfOracleSql})),
         |j AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 END AS m
         |      FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id)
         |SELECT q_id, CAST(count(m) AS BIGINT) AS n_match, round(count(m) / 5.0, 4) AS recall
         |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin,
    // ADC recall monitor: identical composition over the ADC oracle
    // (its query set is vec_id < 5 — filter the exact side to match)
    "ann_recall_adc" ->
      s"""WITH exact AS (SELECT * FROM ($annExactTopKSql) WHERE q_id < 5),
         |approx AS (SELECT * FROM (${embAdcOracleSql})),
         |j AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 END AS m
         |      FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id)
         |SELECT q_id, CAST(count(m) AS BIGINT) AS n_match, round(count(m) / 5.0, 4) AS recall
         |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin,
    // latency replay: the attribution carry + the exact discrete
    // percentile rank-pick per src_type
    "q_conversion_latency" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |a AS (SELECT user_id, event_id, event_type, us,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN us END IGNORE NULLS) OVER w AS src_us,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS src_type
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (SELECT event_id, src_type, (us - src_us) // 1000 AS gap_ms
        |      FROM a WHERE event_type = 'purchase' AND src_us IS NOT NULL
        |        AND us - src_us <= 1800000000),
        |r AS (SELECT src_type, gap_ms,
        |        CAST(row_number() OVER (PARTITION BY src_type ORDER BY gap_ms, event_id) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY src_type) AS BIGINT) AS n
        |      FROM c)
        |SELECT src_type, max(n) AS n_conversions,
        |       max(CASE WHEN rn = (n * 10 + 99) // 100 THEN gap_ms END) AS p10_ms,
        |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN gap_ms END) AS p50_ms,
        |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN gap_ms END) AS p90_ms
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // df-profile replay: the shared shingle CTEs + power-of-two
    // bucketing via the bin()-length idiom
    "docs_df_profile" ->
      s"""WITH $jaccardCtes,
         |df AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
         |h AS (SELECT CAST(len(bin(df)) AS BIGINT) AS bucket, count(*) AS n_shingles,
         |        CAST(sum(df) AS BIGINT) AS n_postings, CAST(max(df) AS BIGINT) AS max_df
         |      FROM df GROUP BY 1)
         |SELECT bucket, CAST(n_shingles AS BIGINT) AS n_shingles, n_postings, max_df
         |FROM h ORDER BY bucket""".stripMargin,
    // margin replay: same marker-score CTE as text_langid, winner +
    // top-minus-runner-up via a reverse-sorted score list
    "text_langid_margin" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        len(list_filter(toks, x -> x IN ('the','a','is','of','and'))) AS s_en,
        |        len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |        len(list_filter(toks, x -> x IN ('el','los','las','es','y'))) AS s_es,
        |        len(list_filter(toks, x -> x IN ('le','les','et','est','une'))) AS s_fr,
        |        len(regexp_extract_all(text, '[一-鿿]')) AS s_zh
        |      FROM t),
        |m AS (SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
        |        list_reverse_sort([s_en, s_de, s_es, s_fr]) AS l FROM s)
        |SELECT doc_id,
        |       CASE WHEN s_zh > 0 THEN 'zh'
        |            WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |            WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |            WHEN s_es >= s_fr THEN 'es'
        |            ELSE 'fr' END AS lang_pred,
        |       CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
        |       CAST(s_es AS BIGINT) AS s_es, CAST(s_fr AS BIGINT) AS s_fr,
        |       CAST(l[1] - l[2] AS BIGINT) AS margin,
        |       s_zh > 0 AS is_cjk
        |FROM m ORDER BY doc_id""".stripMargin,
    // ffill replay: the q_time_bucket grid + IGNORE-NULLS carry
    "q_gap_ffill" ->
      """WITH a AS (SELECT event_type,
        |             (epoch_ms(ts) // 900000) * 900000 AS bucket_ms,
        |             count(*) AS n_events,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, unnest(generate_series(min(bucket_ms), max(bucket_ms), 900000)) AS bucket_ms
        |      FROM a GROUP BY event_type),
        |j AS (SELECT g.event_type, g.bucket_ms,
        |        coalesce(a.n_events, 0) AS n_events, a.value_cents,
        |        a.n_events IS NULL AS is_gap
        |      FROM g LEFT JOIN a ON g.event_type = a.event_type AND g.bucket_ms = a.bucket_ms)
        |SELECT event_type, bucket_ms, CAST(n_events AS BIGINT) AS n_events, value_cents,
        |       last_value(value_cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_ms
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_cents,
        |       is_gap
        |FROM j ORDER BY 1, 2""".stripMargin,
    // survivorship replay: conditional IGNORE-NULLS lasts over one
    // full per-user frame, newest row selected on the same axis
    "q_golden_record" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |             CAST(round(value * 100) AS BIGINT) AS cents,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |           FROM events),
        |w AS (SELECT user_id, event_id, us,
        |        last_value(CASE WHEN event_type = 'purchase' THEN cents END IGNORE NULLS) OVER f AS last_purchase_cents,
        |        last_value(CASE WHEN event_type = 'error' THEN us END IGNORE NULLS) OVER f AS last_error_us,
        |        last_value(CASE WHEN event_type = 'click' THEN k END IGNORE NULLS) OVER f AS last_click_k,
        |        last_value(event_type IGNORE NULLS) OVER f AS last_type,
        |        count(*) OVER (PARTITION BY user_id) AS n_events,
        |        row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        |      FROM e
        |      WINDOW f AS (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, last_type,
        |       last_purchase_cents, last_error_us, last_click_k
        |FROM w WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // MRL replay: the same exact scan with range(1,17) prefix dots,
    // composed against the full-dimension exact top-k
    "emb_mrl_recall" ->
      s"""WITH nt AS (SELECT vec_id, embedding,
         |             list_sum(list_transform(range(1, 17), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
         |           FROM embeddings),
         |pt AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |         list_sum(list_transform(range(1, 17), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |           / nullif(sqrt(a.n2) * sqrt(b.n2), 0.0) AS sim
         |       FROM nt a JOIN nt b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |rt AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM pt),
         |approx AS (SELECT q_id, n_id FROM rt WHERE rnk <= 5),
         |exact AS (SELECT * FROM ($annExactTopKSql)),
         |j AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 END AS m
         |      FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id)
         |SELECT q_id, CAST(count(m) AS BIGINT) AS n_match, round(count(m) / 5.0, 4) AS recall
         |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin,
    // MAD replay: two exact discrete medians on unique rank axes
    "q_mad" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, event_id, cents,
        |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM e),
        |md AS (SELECT event_type,
        |         max(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END) AS median_cents
        |       FROM r GROUP BY 1),
        |d AS (SELECT r.event_type, r.n, md.median_cents,
        |        abs(r.cents - md.median_cents) AS dev,
        |        CAST(row_number() OVER (PARTITION BY r.event_type
        |               ORDER BY abs(r.cents - md.median_cents), r.event_id) AS BIGINT) AS rn2
        |      FROM r JOIN md USING (event_type))
        |SELECT event_type, max(n) AS n, max(median_cents) AS median_cents,
        |       max(CASE WHEN rn2 = (n * 50 + 99) // 100 THEN dev END) AS mad_cents
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // router replay: same c1 quantizer, rn<=2 under the identical
    // (score DESC, cid DESC) order; the score margin is pinned to 4
    // decimals BEFORE the x10^4 scale (1-ulp dot-product drift
    // between engines cannot flip the integer; margin >= 0 so
    // half-up == half-away)
    "emb_router" ->
      s"""WITH $ivfC1Ctes,
         |r AS (SELECT v.vec_id, c.cid, ${ivfScore("v", "c")} AS s,
         |        row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfScore("v", "c")} DESC, c.cid DESC) AS rn
         |      FROM e v CROSS JOIN c1 c)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid1, CAST(b.cid AS BIGINT) AS cid2,
         |       CAST(round(round(a.s - b.s, 4) * 10000) AS BIGINT) AS margin_e4
         |FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
         |ORDER BY a.vec_id""".stripMargin,
    // LTV replay: first-seen week per user, purchase cells, cohort
    // sizes, cumulative spend per cohort, x100 floor LTV
    "q_cohort_ltv" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) // 604800000 AS wk,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |co AS (SELECT user_id, min(wk) AS cwk FROM e GROUP BY 1),
        |sz AS (SELECT cwk, count(*) AS cohort_size FROM co GROUP BY 1),
        |cells AS (SELECT co.cwk, e.wk - co.cwk AS age_wk,
        |            count(DISTINCT e.user_id) AS n_buyers,
        |            CAST(sum(e.cents) AS BIGINT) AS spend_cents
        |          FROM e JOIN co USING (user_id)
        |          WHERE e.event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (SELECT cwk, age_wk, n_buyers, spend_cents,
        |          CAST(sum(spend_cents) OVER (PARTITION BY cwk ORDER BY age_wk
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_spend_cents
        |        FROM cells)
        |SELECT cum.cwk AS cohort_wk, cum.age_wk, sz.cohort_size,
        |       CAST(cum.n_buyers AS BIGINT) AS n_buyers, cum.spend_cents, cum.cum_spend_cents,
        |       CAST((cum.cum_spend_cents * 100) // sz.cohort_size AS BIGINT) AS ltv_cents_x100
        |FROM cum JOIN sz USING (cwk) ORDER BY 1, 2""".stripMargin,
    // calibration replay: decile-bucket the composed estimator
    // oracle, exact integer aggregates per bucket
    "docs_minhash_calibration" ->
      s"""WITH est AS (SELECT * FROM ($minhashEstOracleSql))
         |SELECT est_e4 // 1000 AS est_bucket, count(*) AS n_pairs,
         |       CAST(sum(jacc_e4) // count(*) AS BIGINT) AS mean_jacc_e4,
         |       min(jacc_e4) AS min_jacc_e4, max(jacc_e4) AS max_jacc_e4
         |FROM est GROUP BY 1 ORDER BY 1""".stripMargin,
    // winsorize replay: exact discrete p05/p95 on the unique
    // (cents, event_id) rank axis, clamp, x100 integer-floor means
    "q_winsorize" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM e),
        |b AS (SELECT event_type,
        |        max(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END) AS p05,
        |        max(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS p95
        |      FROM r GROUP BY 1)
        |SELECT r.event_type, max(r.n) AS n, max(b.p05) AS p05, max(b.p95) AS p95,
        |       CAST((CAST(sum(r.cents) AS BIGINT) * 100) // max(r.n) AS BIGINT) AS raw_mean_x100,
        |       CAST((CAST(sum(least(greatest(r.cents, b.p05), b.p95)) AS BIGINT) * 100) // max(r.n) AS BIGINT) AS wins_mean_x100
        |FROM r JOIN b USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin,
    // trigram replay: two lags over the shared (epoch_us, event_id)
    // order, exact counts on the <=|types|^3 key space
    "q_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |p AS (SELECT event_type AS t3,
        |             lag(event_type, 2) OVER w AS t1,
        |             lag(event_type, 1) OVER w AS t2
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT t1, t2, t3, count(*) AS n FROM p WHERE t1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // LSH recall monitor: identical composition over the LSH oracle
    "ann_recall_lsh" ->
      s"""WITH exact AS (SELECT * FROM ($annExactTopKSql)),
         |approx AS (SELECT * FROM (${annLshOracleSql})),
         |j AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 END AS m
         |      FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id)
         |SELECT q_id, CAST(count(m) AS BIGINT) AS n_match, round(count(m) / 5.0, 4) AS recall
         |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin,
    // int8 quantization replay: same explicit half-up rounding
    // (floor(x/scale + 0.5)), same sequential double folds; q_sum is
    // exact integer, sqrt is IEEE-correctly-rounded on both engines
    "emb_quantize" ->
      """WITH s AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM s),
        |q AS (SELECT vec_id, e, scale,
        |        CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS qv
        |      FROM m)
        |SELECT vec_id, round(scale, 6) AS q_scale,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       round(sqrt(list_sum(list_transform(range(1, 65),
        |         i -> (e[i] - qv[i] * scale) * (e[i] - qv[i] * scale)))), 6) AS l2_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // per-dimension whitening stats; same unnest-range shape as the
    // centroids oracle, means/moments rounded, min/max exact
    "emb_dim_stats" ->
      """SELECT CAST(i AS INT) AS dim,
        |       round(avg(embedding[CAST(i + 1 AS INT)]::DOUBLE), 6) AS mean,
        |       round(avg(embedding[CAST(i + 1 AS INT)]::DOUBLE
        |                 * embedding[CAST(i + 1 AS INT)]::DOUBLE), 6) AS m2,
        |       CAST(min(embedding[CAST(i + 1 AS INT)]) AS DOUBLE) AS vmin,
        |       CAST(max(embedding[CAST(i + 1 AS INT)]) AS DOUBLE) AS vmax
        |FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // replay of Multimodal.stubDecode: payload = UTF-8 bytes of text,
    // checksum = polynomial rolling hash mod 1e9+7 over bytes
    // (byte i parsed from the hex dump two digits at a time)
    "mm_decode" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(CAST(n AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS cksum
        |      FROM b)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_bytes, cksum AS checksum,
        |       CAST(16 + cksum % 1024 AS INTEGER) AS width,
        |       CAST(16 + (cksum // 1024) % 1024 AS INTEGER) AS height
        |FROM c ORDER BY doc_id""".stripMargin,
    // resize planning replay: stub dims from the mod-p checksum, then
    // the same fit-into-256 integer arithmetic (floor div, 1px floor)
    "mm_resize" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(CAST(n AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS cksum
        |      FROM b),
        |d AS (SELECT doc_id, 16 + cksum % 1024 AS w, 16 + (cksum // 1024) % 1024 AS h FROM c),
        |r AS (SELECT doc_id, w, h, greatest(w, h) AS longest FROM d)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(CASE WHEN longest <= 256 THEN w ELSE greatest(1, (w * 256) // longest) END AS INT) AS out_w,
        |       CAST(CASE WHEN longest <= 256 THEN h ELSE greatest(1, (h * 256) // longest) END AS INT) AS out_h,
        |       CAST(CASE WHEN longest <= 256 THEN 100 ELSE (256 * 100) // longest END AS INT) AS scale_pct
        |FROM r ORDER BY doc_id""".stripMargin,
    // per-frame energy replay: bytes from the hex dump, unsigned-128
    // centering, integer energy/peak per 64-byte frame
    "mm_audio_energy" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |fr AS (SELECT doc_id, hx, n, unnest(range(0, CAST((n + 63) // 64 AS INT))) AS fi FROM b),
        |s AS (SELECT doc_id, fi, least(n - fi * 64, 64) AS fb,
        |        list_transform(range(CAST(least(n - fi * 64, 64) AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 2 AS INT), 1)) - 1) AS BIGINT) - 128) AS samp
        |      FROM fr)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(fb AS INT) AS n_samples,
        |       CAST(list_sum(list_transform(samp, x -> x * x)) AS BIGINT) AS energy,
        |       CAST(list_max(list_transform(samp, x -> abs(x))) AS INT) AS peak
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
    // resample replay: n_out = ceil(n·160/441), picked input index
    // (j·441)//160, rolling-hash checksum over PICKED bytes in output
    // order, centered energy — all integer arithmetic
    "mm_audio_resample" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |r AS (SELECT doc_id, n, (n * 160 + 440) // 441 AS n_out, hx FROM b),
        |samp AS (SELECT doc_id, n, n_out,
        |           list_transform(range(0, CAST(n_out AS INT)),
        |             j -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2 * ((j * 441) // 160) + 1 AS INT), 1)) - 1)
        |                    + (strpos('0123456789abcdef', substr(hx, CAST(2 * ((j * 441) // 160) + 2 AS INT), 1)) - 1) AS BIGINT)) AS v
        |         FROM r)
        |SELECT doc_id, CAST(n AS INT) AS n_in, CAST(n_out AS INT) AS n_out,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), v),
        |              (a, x) -> (a * 31 + x) % 1000000007) AS BIGINT) AS checksum,
        |       CAST(list_sum(list_transform(v, x -> (x - 128) * (x - 128))) AS BIGINT) AS energy
        |FROM samp ORDER BY doc_id""".stripMargin,
    // tile-grid replay: stub dims from the checksum, 64px row-major
    // grid, edge tiles clipped — all integer arithmetic
    "mm_tile" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(CAST(n AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS cksum
        |      FROM b),
        |d AS (SELECT doc_id, 16 + cksum % 1024 AS dw, 16 + (cksum // 1024) % 1024 AS dh FROM c),
        |g AS (SELECT doc_id, dw, dh, unnest(range(0, CAST((dh + 63) // 64 AS BIGINT))) AS ty FROM d),
        |t AS (SELECT doc_id, dw, dh, ty, unnest(range(0, CAST((dw + 63) // 64 AS BIGINT))) AS tx FROM g)
        |SELECT doc_id, CAST(tx AS INT) AS tile_x, CAST(ty AS INT) AS tile_y,
        |       CAST(tx * 64 AS INT) AS x0, CAST(ty * 64 AS INT) AS y0,
        |       CAST(least(64, dw - tx * 64) AS INT) AS w,
        |       CAST(least(64, dh - ty * 64) AS INT) AS h
        |FROM t ORDER BY doc_id, tile_y, tile_x""".stripMargin,
    // frame sampling replay: every 2nd 64-byte frame, mod-p checksum
    // over that frame's bytes from the hex dump
    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |fr AS (SELECT doc_id, hx, n,
        |              unnest(range(0, CAST((n + 63) // 64 AS INT), 2)) AS fi
        |       FROM b),
        |c AS (SELECT doc_id, fi, least(n - fi * 64, 64) AS fb,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(CAST(least(n - fi * 64, 64) AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 2 AS INT), 1)) - 1) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS cksum
        |      FROM fr)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(fb AS INT) AS n_bytes, cksum AS checksum
        |FROM c ORDER BY doc_id, frame_idx""".stripMargin,
    // scene cuts: energy replay (as mm_audio_energy) + lag window;
    // the 50% move is cross-multiplied integers, frame 0 never cuts
    "mm_scene_cuts" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |fr AS (SELECT doc_id, hx, n, unnest(range(0, CAST((n + 63) // 64 AS INT))) AS fi FROM b),
        |s AS (SELECT doc_id, fi,
        |        list_transform(range(CAST(least(n - fi * 64, 64) AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 2 AS INT), 1)) - 1) AS BIGINT) - 128) AS samp
        |      FROM fr),
        |e AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |        CAST(list_sum(list_transform(samp, x -> x * x)) AS BIGINT) AS energy
        |      FROM s),
        |l AS (SELECT doc_id, frame_idx, energy,
        |        lag(energy, 1) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_energy
        |      FROM e)
        |SELECT doc_id, frame_idx, energy, prev_energy,
        |       (prev_energy IS NOT NULL AND abs(energy - prev_energy) * 2 > prev_energy) AS is_cut
        |FROM l ORDER BY doc_id, frame_idx""".stripMargin,
    // blockhash replay: 64 integer block boundaries b·n//64, byte
    // sums from the hex dump, bit = cross-multiplied mean compare,
    // 16-bit band values rebuilt by the same shift-sum
    "mm_phash" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |bl AS (SELECT doc_id, hx, n, unnest(range(0, 64)) AS blk FROM b),
        |s AS (SELECT doc_id, n, blk, ((blk + 1) * n) // 64 - (blk * n) // 64 AS blen,
        |        CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(
        |          range(CAST((blk * n) // 64 AS INT), CAST(((blk + 1) * n) // 64 AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT)))) AS BIGINT) AS bsum
        |      FROM bl),
        |t AS (SELECT doc_id, sum(bsum) AS total FROM s GROUP BY 1),
        |bits AS (SELECT s.doc_id, s.blk,
        |           CASE WHEN s.blen > 0 AND s.bsum * s.n > t.total * s.blen
        |                THEN 1 ELSE 0 END AS bit
        |         FROM s JOIN t ON s.doc_id = t.doc_id),
        |bands AS (SELECT doc_id, blk // 16 AS band,
        |            CAST(sum(bit * (1 << CAST(blk % 16 AS INT))) AS INT) AS v
        |          FROM bits GROUP BY 1, 2)
        |SELECT b.doc_id, CAST(b.n AS INT) AS n_bytes,
        |       max(CASE WHEN band = 0 THEN v END) AS b0,
        |       max(CASE WHEN band = 1 THEN v END) AS b1,
        |       max(CASE WHEN band = 2 THEN v END) AS b2,
        |       max(CASE WHEN band = 3 THEN v END) AS b3
        |FROM b JOIN bands USING (doc_id) GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // banded-candidate generation + exact per-block Hamming replay
    // (see mmPhashPairsSql); complete for d ≤ 3 by the 4-band
    // pigeonhole
    "mm_phash_pairs" -> mmPhashPairsSql,
    // components over the phash edge set: same recursive closure as
    // docs_simhash_groups, edges from the pairs replay
    "mm_phash_groups" ->
      s"""WITH RECURSIVE pp AS (SELECT doc_id_a, doc_id_b FROM ($mmPhashPairsSql)),
         |ed AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pp
         |       UNION SELECT doc_id_b, doc_id_a FROM pp),
         |r AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |      UNION
         |      SELECT r.src, ed.dst FROM r JOIN ed ON r.dst = ed.src)
         |SELECT src AS doc_id, min(dst) AS group_id FROM r GROUP BY src ORDER BY doc_id""".stripMargin,
    // groups closure + keep-largest-payload argmax (n_bytes = true
    // UTF-8 octet length, the mm_audio_fp definition), doc_id tiebreak
    "mm_phash_keep" ->
      s"""WITH RECURSIVE pp AS (SELECT doc_id_a, doc_id_b FROM ($mmPhashPairsSql)),
         |ed AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pp
         |       UNION SELECT doc_id_b, doc_id_a FROM pp),
         |r AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |      UNION
         |      SELECT r.src, ed.dst FROM r JOIN ed ON r.dst = ed.src),
         |g AS (SELECT src AS doc_id, min(dst) AS group_id FROM r GROUP BY src),
         |j AS (SELECT g.doc_id, g.group_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes
         |      FROM g JOIN documents d ON g.doc_id = d.doc_id)
         |SELECT doc_id, group_id, n_bytes,
         |       first_value(doc_id) OVER (PARTITION BY group_id
         |         ORDER BY n_bytes DESC, doc_id) AS keep_id,
         |       doc_id = first_value(doc_id) OVER (PARTITION BY group_id
         |         ORDER BY n_bytes DESC, doc_id) AS is_keep
         |FROM j ORDER BY doc_id""".stripMargin,
    // audio-fingerprint replay: proportional block energies +
    // cross-multiplied delta bits (mmAudioBitsSql) pivoted to bands
    "mm_audio_fp" ->
      s"""WITH $mmAudioBitsSql
         |SELECT b.doc_id, CAST(b.n AS INT) AS n_bytes,
         |       max(CASE WHEN band = 0 THEN v END) AS b0,
         |       max(CASE WHEN band = 1 THEN v END) AS b1,
         |       max(CASE WHEN band = 2 THEN v END) AS b2,
         |       max(CASE WHEN band = 3 THEN v END) AS b3
         |FROM b JOIN bands USING (doc_id) GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // components over the audio-fp edge set: same recursive closure
    // as mm_phash_groups, edges from the audio pairs replay
    "mm_audio_dup_groups" ->
      s"""WITH RECURSIVE pp AS (SELECT doc_id_a, doc_id_b FROM ($mmAudioPairsSql)),
         |ed AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pp
         |       UNION SELECT doc_id_b, doc_id_a FROM pp),
         |r AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |      UNION
         |      SELECT r.src, ed.dst FROM r JOIN ed ON r.dst = ed.src)
         |SELECT src AS doc_id, min(dst) AS group_id FROM r GROUP BY src ORDER BY doc_id""".stripMargin,
    // groups closure + keep-largest-payload argmax (n_bytes = true
    // UTF-8 octet length, the mm_audio_fp definition), doc_id tiebreak
    "mm_audio_dup_keep" ->
      s"""WITH RECURSIVE pp AS (SELECT doc_id_a, doc_id_b FROM ($mmAudioPairsSql)),
         |ed AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pp
         |       UNION SELECT doc_id_b, doc_id_a FROM pp),
         |r AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |      UNION
         |      SELECT r.src, ed.dst FROM r JOIN ed ON r.dst = ed.src),
         |g AS (SELECT src AS doc_id, min(dst) AS group_id FROM r GROUP BY src),
         |j AS (SELECT g.doc_id, g.group_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes
         |      FROM g JOIN documents d ON g.doc_id = d.doc_id)
         |SELECT doc_id, group_id, n_bytes,
         |       first_value(doc_id) OVER (PARTITION BY group_id
         |         ORDER BY n_bytes DESC, doc_id) AS keep_id,
         |       doc_id = first_value(doc_id) OVER (PARTITION BY group_id
         |         ORDER BY n_bytes DESC, doc_id) AS is_keep
         |FROM j ORDER BY doc_id""".stripMargin,
    // exact int64 gram over the emb_quantize codes: the qv lists
    // replay the same IEEE divisions, then every upper-triangle
    // (i, j) cell sums integer products — no float merge order
    "emb_gram" ->
      """WITH s AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM s),
        |q AS (SELECT CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS qv
        |      FROM m),
        |p AS (SELECT ii.i AS i, jj.j AS j
        |      FROM (SELECT unnest(range(0, 64)) AS i) ii,
        |           (SELECT unnest(range(0, 64)) AS j) jj
        |      WHERE jj.j >= ii.i)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |       CAST(sum(qv[CAST(i + 1 AS INT)] * qv[CAST(j + 1 AS INT)]) AS BIGINT) AS gram
        |FROM q, p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the bloom prefilter is result-invariant: the oracle is the
    // plain batch-vs-history membership check
    "docs_dedup_bloom" ->
      """WITH d AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
        |h AS (SELECT DISTINCT content_hash FROM d WHERE doc_id % 5 <> 0)
        |SELECT doc_id, content_hash,
        |       content_hash IN (SELECT content_hash FROM h) AS dup_of_history
        |FROM d WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        |       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // corpus vocabulary profile: integer counters + one ratio of two
    // exact integers (IEEE-exact division, then round)
    "text_vocab_stats" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT w, count(*) AS f FROM w GROUP BY 1)
        |SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
        |       count(*) AS vocab_size,
        |       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       round(CAST(count(*) AS DOUBLE)
        |             / nullif(CAST(sum(f) AS DOUBLE), 0.0), 6) AS type_token_ratio
        |FROM f""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, length(text) AS n_chars, CAST(len(toks) AS DOUBLE) AS n_toks,
        |        CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |          / nullif(CAST(length(text) AS DOUBLE), 0.0) AS punct_ratio,
        |        CAST(len(list_filter(toks, x -> x IN ('a','the','is','of','and'))) AS DOUBLE)
        |          / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS stop_ratio,
        |        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |          / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS mwl
        |      FROM t)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_toks AS BIGINT) AS n_tokens,
        |       round(punct_ratio, 4) AS punct_ratio, round(stop_ratio, 4) AS stop_ratio,
        |       round(mwl, 4) AS mean_word_len,
        |       round(least(n_toks / 100.0, 1.0) * (1.0 - punct_ratio) * (1.0 - 0.5 * stop_ratio), 4) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |        len(list_filter(toks, x -> x IN ('the','a','is','of','and'))) AS s_en,
        |        len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |        len(list_filter(toks, x -> x IN ('el','los','las','es','y'))) AS s_es,
        |        len(list_filter(toks, x -> x IN ('le','les','et','est','une'))) AS s_fr,
        |        len(regexp_extract_all(text, '[一-鿿]')) AS s_zh
        |      FROM t),
        |p AS (SELECT doc_id, lang,
        |        CASE WHEN s_zh > 0 THEN 'zh'
        |             WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |             WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |             WHEN s_es >= s_fr THEN 'es'
        |             ELSE 'fr' END AS lang_pred
        |      FROM s)
        |SELECT doc_id, lang_pred, (lang_pred = lang) AS matches_label
        |FROM p ORDER BY doc_id""".stripMargin,
    // novelty replay: distinct bigrams per doc, min-doc_id owner per
    // bigram, exact counts + x10^4 floor ratio
    "text_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |db AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)),
        |                i -> array_to_string(toks[i:i+1], ' ')))) AS b
        |       FROM tok WHERE len(toks) >= 2),
        |o AS (SELECT b, min(doc_id) AS owner FROM db GROUP BY 1)
        |SELECT db.doc_id, count(*) AS n_bigrams,
        |       CAST(sum(CASE WHEN o.owner = db.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST((sum(CASE WHEN o.owner = db.doc_id THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS novelty_x1e4
        |FROM db JOIN o USING (b) GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL-surface UDAF replay: the shared simhash CTEs produce the
    // fingerprint halves; the signed recombination keeps hi*2^32 in
    // int64 range (hi's bit 31 is the sign bit of the long)
    "sql_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id,
         |       CAST((hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END) * 4294967296 + lo AS BIGINT) AS simhash
         |FROM fp ORDER BY doc_id""".stripMargin,
    // confusion-matrix replay: same marker scores/tie order as
    // text_langid, exact integer cells and x10^4 recall floors
    "docs_lang_confusion" ->
      """WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |        len(list_filter(toks, x -> x IN ('the','a','is','of','and'))) AS s_en,
        |        len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |        len(list_filter(toks, x -> x IN ('el','los','las','es','y'))) AS s_es,
        |        len(list_filter(toks, x -> x IN ('le','les','et','est','une'))) AS s_fr,
        |        len(regexp_extract_all(text, '[一-鿿]')) AS s_zh
        |      FROM t),
        |p AS (SELECT lang,
        |        CASE WHEN s_zh > 0 THEN 'zh'
        |             WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |             WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |             WHEN s_es >= s_fr THEN 'es'
        |             ELSE 'fr' END AS lang_pred
        |      FROM s),
        |c AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
        |tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_label FROM c GROUP BY 1)
        |SELECT c.lang, c.lang_pred, c.n,
        |       CAST((c.n * 10000) // tt.n_label AS BIGINT) AS recall_x1e4
        |FROM c JOIN tt USING (lang) ORDER BY lang, lang_pred""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |r AS (SELECT tf.doc_id, tf.term,
        |             CAST(tf.tf AS DOUBLE) * (SELECT CAST(n_docs AS DOUBLE) FROM n) / CAST(df.df AS DOUBLE) AS weight
        |      FROM tf JOIN df USING (term)),
        |k AS (SELECT doc_id, term, weight,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rnk
        |      FROM r)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, round(weight, 4) AS weight
        |FROM k WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // repetition: both counts from one tokenize pass; short docs
    // (< k tokens) have n_shingles = 0 and a null ratio
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |        greatest(len(toks) - 2, 0) AS n_sh,
        |        CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(range(1, len(toks) - 1),
        |               i -> array_to_string(toks[i:i+2], ' ')))) ELSE 0 END AS n_d
        |      FROM tok)
        |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles, CAST(n_d AS BIGINT) AS n_distinct,
        |       round(1.0 - CAST(n_d AS DOUBLE) / nullif(CAST(n_sh AS DOUBLE), 0.0), 4) AS rep_ratio
        |FROM c ORDER BY doc_id""".stripMargin,
    // boilerplate coverage vs the deterministic corpus top-20 bigram
    // set (df DESC, ngram cut — same ordering as text_ngram_topk)
    "text_boilerplate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)),
        |                i -> array_to_string(toks[i:i+1], ' '))) AS bigrams
        |       FROM tok WHERE len(toks) >= 2),
        |ex AS (SELECT doc_id, unnest(bigrams) AS ngram FROM sh),
        |top AS (SELECT ngram FROM (SELECT ngram, count(*) AS df FROM ex GROUP BY 1
        |                           ORDER BY df DESC, ngram LIMIT 20)),
        |m AS (SELECT doc_id, count(*) AS n_top FROM ex JOIN top USING (ngram) GROUP BY 1),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(range(1, len(toks)),
        |               i -> array_to_string(toks[i:i+1], ' ')))) ELSE 0 END AS nb
        |      FROM tok)
        |SELECT b.doc_id, CAST(b.nb AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(m.n_top, 0) AS BIGINT) AS n_top_ngrams,
        |       round(CAST(coalesce(m.n_top, 0) AS DOUBLE) / nullif(CAST(b.nb AS DOUBLE), 0.0), 4) AS boiler_ratio
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id ORDER BY b.doc_id""".stripMargin,
    // quality gate: discrete thresholds as exact integer
    // cross-multiplications; punct compare divides the same two
    // integers on both sides
    "docs_quality_filter" ->
      """WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(len(toks) AS BIGINT) AS nt,
        |        CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |          / nullif(CAST(length(text) AS DOUBLE), 0.0) AS pr,
        |        greatest(len(toks) - 2, 0) AS nsh,
        |        CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(range(1, len(toks) - 1),
        |               i -> array_to_string(toks[i:i+2], ' ')))) ELSE 0 END AS nd
        |      FROM tok),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)),
        |                i -> array_to_string(toks[i:i+1], ' '))) AS bigrams
        |       FROM tok WHERE len(toks) >= 2),
        |ex AS (SELECT doc_id, unnest(bigrams) AS ngram FROM sh),
        |top AS (SELECT ngram FROM (SELECT ngram, count(*) AS df FROM ex GROUP BY 1
        |                           ORDER BY df DESC, ngram LIMIT 20)),
        |m AS (SELECT doc_id, count(*) AS n_top FROM ex JOIN top USING (ngram) GROUP BY 1),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(range(1, len(toks)),
        |               i -> array_to_string(toks[i:i+1], ' ')))) ELSE 0 END AS nb
        |      FROM tok),
        |j AS (SELECT f.doc_id, f.nt, f.pr, f.nsh, f.nd, b.nb, coalesce(m.n_top, 0) AS n_top
        |      FROM f JOIN b ON f.doc_id = b.doc_id LEFT JOIN m ON f.doc_id = m.doc_id)
        |SELECT doc_id,
        |       nt < 5 AS flag_short,
        |       nt > 80 AS flag_long,
        |       coalesce(pr > 0.1, false) AS flag_punct,
        |       nd * 5 < nsh * 4 AS flag_repetitive,
        |       n_top * 5 > nb * 2 AS flag_boilerplate,
        |       NOT (nt < 5) AND NOT (nt > 80) AND NOT coalesce(pr > 0.1, false)
        |         AND NOT (nd * 5 < nsh * 4) AND NOT (n_top * 5 > nb * 2) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,
    // 10-token pseudo-lines (delimiter-free corpus); line slice
    // t[a:b] is 1-based inclusive = Spark slice(toks, a, 10)
    "docs_line_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |l AS (SELECT doc_id, unnest(list_transform(range(0, (len(t) + 9) // 10),
        |        j -> array_to_string(t[j * 10 + 1 : j * 10 + 10], ' '))) AS line
        |      FROM toks),
        |d AS (SELECT line, count(*) AS n_occ FROM l GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |       CAST((sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS dup_frac_e4
        |FROM l JOIN d USING (line) GROUP BY 1 ORDER BY 1""".stripMargin,
    // C4-style strip: drop lines with corpus occurrence > 2, account
    // for the kept lines/tokens per doc
    "docs_line_strip" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |l AS (SELECT doc_id, unnest(list_transform(range(0, (len(t) + 9) // 10),
        |        j -> array_to_string(t[j * 10 + 1 : j * 10 + 10], ' '))) AS line
        |      FROM toks),
        |d AS (SELECT line, count(*) AS n_occ FROM l GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN n_occ <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_lines,
        |       CAST(sum(CASE WHEN n_occ <= 2 THEN len(string_split(line, ' ')) ELSE 0 END) AS BIGINT) AS n_kept_tokens,
        |       CAST((sum(CASE WHEN n_occ <= 2 THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS kept_frac_e4
        |FROM l JOIN d USING (line) GROUP BY 1 ORDER BY 1""".stripMargin,
    // the MATERIALIZED strip: kept lines re-joined in line order;
    // md5 of the reconstruction is the content witness. Parallel
    // unnest zips the idx and line lists in DuckDB.
    "docs_line_strip_text" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |l AS (SELECT doc_id,
        |        unnest(range(0, (len(t) + 9) // 10)) AS line_idx,
        |        unnest(list_transform(range(0, (len(t) + 9) // 10),
        |          j -> array_to_string(t[j * 10 + 1 : j * 10 + 10], ' '))) AS line
        |      FROM toks),
        |d AS (SELECT line, count(*) AS n_occ FROM l GROUP BY 1),
        |k AS (SELECT doc_id, line_idx, line FROM l JOIN d USING (line) WHERE n_occ <= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_lines,
        |       CAST(length(string_agg(line, ' ' ORDER BY line_idx)) AS BIGINT) AS clean_chars,
        |       md5(string_agg(line, ' ' ORDER BY line_idx)) AS clean_md5
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_line_topdup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |l AS (SELECT doc_id, unnest(list_transform(range(0, (len(t) + 9) // 10),
        |        j -> array_to_string(t[j * 10 + 1 : j * 10 + 10], ' '))) AS line
        |      FROM toks)
        |SELECT line, CAST(count(*) AS BIGINT) AS n_occ,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM l GROUP BY 1 HAVING count(*) > 1
        |ORDER BY n_occ DESC, line LIMIT 20""".stripMargin,
    // the base quality-filter replay + the Gopher duplicate-line
    // rule: 10*dup > 3*lines, keep requires it clear
    "docs_quality_lines" ->
      """WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(len(toks) AS BIGINT) AS nt,
        |        CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |          / nullif(CAST(length(text) AS DOUBLE), 0.0) AS pr,
        |        greatest(len(toks) - 2, 0) AS nsh,
        |        CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(range(1, len(toks) - 1),
        |               i -> array_to_string(toks[i:i+2], ' ')))) ELSE 0 END AS nd
        |      FROM tok),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)),
        |                i -> array_to_string(toks[i:i+1], ' '))) AS bigrams
        |       FROM tok WHERE len(toks) >= 2),
        |ex AS (SELECT doc_id, unnest(bigrams) AS ngram FROM sh),
        |top AS (SELECT ngram FROM (SELECT ngram, count(*) AS df FROM ex GROUP BY 1
        |                           ORDER BY df DESC, ngram LIMIT 20)),
        |m AS (SELECT doc_id, count(*) AS n_top FROM ex JOIN top USING (ngram) GROUP BY 1),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(range(1, len(toks)),
        |               i -> array_to_string(toks[i:i+1], ' ')))) ELSE 0 END AS nb
        |      FROM tok),
        |l AS (SELECT doc_id, unnest(list_transform(range(0, (len(toks) + 9) // 10),
        |        j -> array_to_string(toks[j * 10 + 1 : j * 10 + 10], ' '))) AS line
        |      FROM tok),
        |ldf AS (SELECT line, count(*) AS n_occ FROM l GROUP BY 1),
        |ld AS (SELECT doc_id, count(*) AS n_lines,
        |              sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
        |       FROM l JOIN ldf USING (line) GROUP BY 1),
        |j AS (SELECT f.doc_id, f.nt, f.pr, f.nsh, f.nd, b.nb, coalesce(m.n_top, 0) AS n_top,
        |             ld.n_lines, ld.n_dup
        |      FROM f JOIN b ON f.doc_id = b.doc_id
        |      LEFT JOIN m ON f.doc_id = m.doc_id
        |      JOIN ld ON f.doc_id = ld.doc_id)
        |SELECT doc_id,
        |       nt < 5 AS flag_short,
        |       nt > 80 AS flag_long,
        |       coalesce(pr > 0.1, false) AS flag_punct,
        |       nd * 5 < nsh * 4 AS flag_repetitive,
        |       n_top * 5 > nb * 2 AS flag_boilerplate,
        |       NOT (nt < 5) AND NOT (nt > 80) AND NOT coalesce(pr > 0.1, false)
        |         AND NOT (nd * 5 < nsh * 4) AND NOT (n_top * 5 > nb * 2)
        |         AND NOT (n_dup * 10 > n_lines * 3) AS keep,
        |       n_dup * 10 > n_lines * 3 AS flag_dup_lines
        |FROM j ORDER BY doc_id""".stripMargin,
    // chunk arithmetic is exact integers on both sides: n_chunks =
    // ceil((len - overlap)/stride) min 1, chunk i = substr at
    // i*stride + 1, fixed 200-char window (shorter tail allowed)
    "docs_chunk" ->
      """WITH c AS (SELECT doc_id, text,
        |             unnest(range(0, CAST(greatest((length(text) - 50 + 149) // 150, 1) AS BIGINT))) AS chunk_idx
        |           FROM documents)
        |SELECT doc_id, chunk_idx,
        |       substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200) AS chunk_text,
        |       CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // chunk-dedup replay: same chunk grid as docs_chunk, md5 per
    // chunk, distinct-doc df per hash, x10^4 floor share
    "docs_chunk_dedup" ->
      """WITH c AS (SELECT doc_id,
        |             unnest(range(0, CAST(greatest((length(text) - 50 + 149) // 150, 1) AS BIGINT))) AS chunk_idx,
        |             text
        |           FROM documents),
        |ch AS (SELECT doc_id, md5(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS h FROM c),
        |df AS (SELECT h, count(*) AS n_docs_with FROM (SELECT DISTINCT doc_id, h FROM ch) GROUP BY 1)
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN df.n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST((sum(CASE WHEN df.n_docs_with > 1 THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS shared_x1e4
        |FROM ch JOIN df USING (h) GROUP BY 1 ORDER BY 1""".stripMargin,
    // deterministic hash-rate sampling: u = first 32 bits of
    // md5(doc_id string); thresholds are exact integer literals
    // computed by Sampling.rateThreshold (no float cast in SQL)
    "docs_sample_stratified" -> {
      val (tEn, tZh, tDef) = (Sampling.rateThreshold(0.5),
        Sampling.rateThreshold(0.3), Sampling.rateThreshold(0.2))
      s"""WITH h AS (SELECT doc_id, lang,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, 9),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
         |    (a, x) -> a * 16 + x) AS u
         |  FROM documents)
         |SELECT doc_id, lang,
         |       u < (CASE WHEN lang = 'en' THEN $tEn WHEN lang = 'zh' THEN $tZh ELSE $tDef END) AS is_sampled
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "text_fingerprint" ->
      s"WITH $fingerprintCtes\nSELECT doc_id, fp FROM f ORDER BY doc_id, fp",
    // shard-plan replay: same md5-top-32-bit identity hash mod S,
    // exact integer doc/token accounting and x10^4 share floors
    "docs_shard_plan" ->
      """WITH h AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) % 16 AS shard
        |  FROM documents),
        |p AS (SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS shard_tokens
        |      FROM h GROUP BY 1),
        |t AS (SELECT CAST(sum(shard_tokens) AS BIGINT) AS total_tokens FROM p)
        |SELECT shard, n_docs, shard_tokens,
        |       CAST((shard_tokens * 16 * 10000) // total_tokens AS BIGINT) AS share_x1e4
        |FROM p, t ORDER BY shard""".stripMargin,
    // mixture plan replay: weights from the source name, W and T as
    // scalar subqueries, keep decision cross-multiplied in HUGEINT —
    // the same no-division integer arithmetic as the Spark side
    // token-mass mixture: same HUGEINT cross-multiplied keep rule
    // with token sums as the ratio unit
    // SoftDeDup replay: the docs_dedup_groups recursive closure +
    // group sizes, then floor(1e6/k) weights and floor token budgets
    // — exact integer divisions on both engines
    "docs_softdedup_weights" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |e AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
         |r AS (SELECT doc_id AS s, doc_id AS d FROM documents
         |      UNION
         |      SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
         |g AS (SELECT s AS doc_id, min(d) AS group_id FROM r GROUP BY s),
         |gs AS (SELECT group_id, count(*) AS group_size FROM g GROUP BY 1),
         |nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |       FROM documents)
         |SELECT g.doc_id, gs.group_size,
         |       CAST(1000000 // gs.group_size AS BIGINT) AS weight_x1e6,
         |       nt.n_tokens,
         |       CAST((nt.n_tokens * 1000000) // gs.group_size AS BIGINT) AS eff_tokens_x1e6
         |FROM g JOIN gs USING (group_id) JOIN nt USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // NB source-classifier replay: token×source Laplace posteriors as
    // exact x1e6 integer divisions over a dense term×source grid,
    // floor-mean per (doc, source), argmax with lexicographic
    // tie-break, resubstitution confusion matrix
    "text_nb_sources" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
        |cts AS (SELECT term, source, count(*) AS c_ts FROM tok GROUP BY 1, 2),
        |ct AS (SELECT term, sum(c_ts) AS c_t FROM cts GROUP BY 1),
        |s AS (SELECT DISTINCT source FROM documents),
        |ns AS (SELECT count(*) AS n_sources FROM s),
        |grid AS (SELECT ct.term, s.source, coalesce(cts.c_ts, 0) AS c_ts, ct.c_t
        |         FROM ct CROSS JOIN s
        |         LEFT JOIN cts ON cts.term = ct.term AND cts.source = s.source),
        |p AS (SELECT term, source,
        |             ((c_ts + 1) * 1000000) // (c_t + (SELECT n_sources FROM ns)) AS p
        |      FROM grid),
        |sc AS (SELECT t.doc_id, p.source,
        |              CAST(sum(p.p) // count(*) AS BIGINT) AS score_x1e6
        |       FROM tok t JOIN p ON t.term = p.term GROUP BY 1, 2),
        |pr AS (SELECT doc_id, source AS predicted, score_x1e6,
        |              row_number() OVER (PARTITION BY doc_id ORDER BY score_x1e6 DESC, source) AS rn
        |       FROM sc)
        |SELECT d.source, pr.predicted, count(*) AS n_docs,
        |       CAST(sum(pr.score_x1e6) // count(*) AS BIGINT) AS mean_score_x1e6
        |FROM documents d JOIN pr ON d.doc_id = pr.doc_id AND pr.rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // unigram-drift replay: 1e-9-quantized probability masses, exact
    // integer L1; absent terms enter via m_total - covered mass
    "text_unigram_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |cts AS (SELECT term, source, count(*) AS c_ts FROM tok GROUP BY 1, 2),
        |ct AS (SELECT term, sum(c_ts) AS c_t FROM cts GROUP BY 1),
        |ns AS (SELECT source, sum(c_ts) AS n_s, count(*) AS vocab_s FROM cts GROUP BY 1),
        |tot AS (SELECT sum(c_t) AS n_total, count(*) AS vocab_total FROM ct),
        |mt AS (SELECT term, (c_t * 1000000000) // (SELECT n_total FROM tot) AS m_t FROM ct),
        |mtot AS (SELECT sum(m_t) AS m_total FROM mt),
        |grid AS (SELECT cts.source, ns.n_s, ns.vocab_s,
        |                (cts.c_ts * 1000000000) // ns.n_s AS m_ts, mt.m_t
        |         FROM cts JOIN mt USING (term) JOIN ns USING (source))
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |       CAST(max(vocab_s) AS BIGINT) AS vocab_size,
        |       CAST((max(vocab_s) * 10000) // (SELECT vocab_total FROM tot) AS BIGINT) AS vocab_frac_e4,
        |       CAST(sum(abs(m_ts - m_t)) + ((SELECT m_total FROM mtot) - sum(m_t)) AS BIGINT) AS l1_x1e9
        |FROM grid GROUP BY 1 ORDER BY 1""".stripMargin,
    // DSIR replay: hashed word-bigram buckets (hash32 fold, mod 4096),
    // one joint raw/target count per bucket, add-1-smoothed x1e6
    // integer affinities, floor-mean per doc
    "docs_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, lang,
        |              t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] AS f
        |       FROM tok CROSS JOIN LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |       WHERE len(t) >= 2),
        |fb AS (SELECT doc_id, lang,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, 9),
        |             i -> CAST(strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |           (a, x) -> a * 16 + x) % 4096 AS bucket
        |       FROM bg),
        |c AS (SELECT bucket, count(*) AS c_r,
        |             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        |      FROM fb GROUP BY 1)
        |SELECT doc_id, lang, count(*) AS n_features,
        |       CAST(sum((1000000 * (c.c_t + 1)) // (c.c_r + 1)) // count(*) AS BIGINT)
        |         AS dsir_score_x1e6
        |FROM fb JOIN c USING (bucket)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // DSIR resample replay: same weight CTEs, then the HUGEINT
    // cross-multiplied weight-proportional keep rule on the hash32
    // identity (u*W < 2^32 * nTarget * w)
    "docs_dsir_sample" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, lang,
        |              t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] AS f
        |       FROM tok CROSS JOIN LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |       WHERE len(t) >= 2),
        |fb AS (SELECT doc_id, lang,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, 9),
        |             i -> CAST(strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |           (a, x) -> a * 16 + x) % 4096 AS bucket
        |       FROM bg),
        |c AS (SELECT bucket, count(*) AS c_r,
        |             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        |      FROM fb GROUP BY 1),
        |wts AS (SELECT doc_id, lang,
        |          CAST(sum((1000000 * (c.c_t + 1)) // (c.c_r + 1)) // count(*) AS BIGINT)
        |            AS dsir_score_x1e6
        |        FROM fb JOIN c USING (bucket) GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(dsir_score_x1e6) AS HUGEINT) AS w_total FROM wts),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, 9),
        |            i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |          (a, x) -> a * 16 + x) AS u
        |      FROM wts)
        |SELECT wts.doc_id, wts.lang, wts.dsir_score_x1e6
        |FROM wts JOIN h USING (doc_id), tot
        |WHERE CAST(h.u AS HUGEINT) * tot.w_total
        |      < CAST(wts.dsir_score_x1e6 AS HUGEINT) * 4294967296 * 100
        |ORDER BY wts.doc_id""".stripMargin,
    "docs_mix_tokens" ->
      """WITH d AS (SELECT doc_id, source,
        |             CAST(substr(source, 4) AS BIGINT) + 1 AS w_num,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT source, w_num, count(*) AS n_docs, sum(n_tok) AS n_toks
        |      FROM d GROUP BY 1, 2),
        |w AS (SELECT sum(w_num) AS w_den FROM c),
        |cap AS (SELECT min((n_toks * (SELECT w_den FROM w)) // w_num) AS t FROM c),
        |plan AS (SELECT source, w_num, n_docs, n_toks,
        |           ((SELECT t FROM cap) * w_num) // (SELECT w_den FROM w) AS planned_tokens
        |         FROM c),
        |h AS (SELECT d.doc_id, d.source, d.n_tok,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) AS u
        |  FROM d),
        |kept AS (SELECT h.source, count(*) AS n_kept_docs, sum(h.n_tok) AS kept_tokens
        |         FROM h JOIN plan USING (source)
        |         WHERE CAST(u AS HUGEINT) * plan.n_toks
        |               < CAST(plan.planned_tokens AS HUGEINT) * 4294967296
        |         GROUP BY 1)
        |SELECT plan.source, CAST(plan.n_docs AS BIGINT) AS n_docs,
        |       CAST(plan.n_toks AS BIGINT) AS n_toks,
        |       CAST(plan.w_num AS BIGINT) AS w_num,
        |       CAST(plan.planned_tokens AS BIGINT) AS planned_tokens,
        |       CAST(coalesce(kept.n_kept_docs, 0) AS BIGINT) AS n_kept_docs,
        |       CAST(coalesce(kept.kept_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM plan LEFT JOIN kept ON plan.source = kept.source
        |ORDER BY 1""".stripMargin,
    // temperature mixture replay: floor-sqrt weights, capped budget
    // split, same HUGEINT cross-multiplied hash keep rule
    "docs_mix_temperature" ->
      """WITH d AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_toks
        |      FROM d GROUP BY 1),
        |w AS (SELECT source, n_docs, n_toks,
        |             CAST(floor(sqrt(n_toks::DOUBLE)) AS BIGINT) AS w_sqrt FROM c),
        |tw AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS w_den,
        |              CAST(sum(n_toks) AS BIGINT) // 2 AS budget FROM w),
        |plan AS (SELECT source, n_docs, n_toks, w_sqrt,
        |           least(n_toks, (tw.budget * w_sqrt) // tw.w_den) AS planned_tokens
        |         FROM w, tw),
        |h AS (SELECT d.doc_id, d.source, d.n_tok,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) AS u
        |  FROM d),
        |kept AS (SELECT h.source, count(*) AS n_kept_docs, CAST(sum(h.n_tok) AS BIGINT) AS kept_tokens
        |         FROM h JOIN plan USING (source)
        |         WHERE CAST(u AS HUGEINT) * plan.n_toks
        |               < CAST(plan.planned_tokens AS HUGEINT) * 4294967296
        |         GROUP BY 1)
        |SELECT plan.source, CAST(plan.n_docs AS BIGINT) AS n_docs, plan.n_toks,
        |       plan.w_sqrt, CAST(plan.planned_tokens AS BIGINT) AS planned_tokens,
        |       CAST(coalesce(kept.n_kept_docs, 0) AS BIGINT) AS n_kept_docs,
        |       CAST(coalesce(kept.kept_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM plan LEFT JOIN kept ON plan.source = kept.source
        |ORDER BY 1""".stripMargin,
    "docs_mix_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |             CAST(substr(source, 4) AS BIGINT) + 1 AS w_num
        |           FROM documents),
        |c AS (SELECT source, w_num, count(*) AS n_docs FROM d GROUP BY 1, 2),
        |w AS (SELECT sum(w_num) AS w_den FROM c),
        |cap AS (SELECT min((n_docs * (SELECT w_den FROM w)) // w_num) AS t FROM c),
        |plan AS (SELECT source, w_num, n_docs,
        |           ((SELECT t FROM cap) * w_num) // (SELECT w_den FROM w) AS planned_keep
        |         FROM c),
        |h AS (SELECT doc_id, source,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) AS u
        |  FROM documents),
        |kept AS (SELECT h.source, count(*) AS n_kept
        |         FROM h JOIN plan USING (source)
        |         WHERE CAST(u AS HUGEINT) * plan.n_docs
        |               < CAST(plan.planned_keep AS HUGEINT) * 4294967296
        |         GROUP BY 1)
        |SELECT plan.source, CAST(plan.n_docs AS BIGINT) AS n_docs,
        |       CAST(plan.w_num AS BIGINT) AS w_num,
        |       CAST(plan.planned_keep AS BIGINT) AS planned_keep,
        |       CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept
        |FROM plan LEFT JOIN kept USING (source) ORDER BY plan.source""".stripMargin,
    "text_ngram_topk" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT list_distinct(list_transform(range(1, len(toks)),
        |                i -> array_to_string(toks[i:i+1], ' '))) AS shingles
        |       FROM tok WHERE len(toks) >= 2),
        |ex AS (SELECT unnest(shingles) AS ngram FROM sh),
        |c AS (SELECT ngram, count(*) AS df FROM ex GROUP BY 1)
        |SELECT ngram, CAST(df AS BIGINT) AS df FROM c
        |ORDER BY df DESC, ngram LIMIT 20""".stripMargin,
    // BPE first-merge candidates: occurrence counts of 2-char windows
    // inside words — all integers, (n DESC, pair) total order
    "text_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(w)),
        |               i -> substr(w, CAST(i AS INT), 2))) AS pair
        |      FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // full 2-round merge-loop replay: same double-space symbol
    // rendering, same (n DESC, l, r) tie-break, same single-pass
    // consuming replace (= exact greedy — each separator's second
    // space re-supplies the next occurrence's boundary)
    "text_bpe_merges" ->
      """WITH w0 AS (
        |  SELECT ' ' || array_to_string(list_transform(range(1, len(w) + 1),
        |           i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS w
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1),
        |s1 AS (SELECT string_split(trim(w), '  ') AS sy FROM w0),
        |p1 AS (SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i])) AS l,
        |              unnest(list_transform(range(1, len(sy)), i -> sy[i + 1])) AS r
        |       FROM s1 WHERE len(sy) >= 2),
        |t1 AS (SELECT l, r, count(*) AS n FROM p1 GROUP BY 1, 2
        |       ORDER BY n DESC, l, r LIMIT 1),
        |w1 AS (SELECT replace(w0.w, ' ' || t1.l || '  ' || t1.r || ' ',
        |                            ' ' || t1.l || t1.r || ' ') AS w
        |       FROM w0, t1),
        |s2 AS (SELECT string_split(trim(w), '  ') AS sy FROM w1),
        |p2 AS (SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i])) AS l,
        |              unnest(list_transform(range(1, len(sy)), i -> sy[i + 1])) AS r
        |       FROM s2 WHERE len(sy) >= 2),
        |t2 AS (SELECT l, r, count(*) AS n FROM p2 GROUP BY 1, 2
        |       ORDER BY n DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rnd, l, r, l || r AS merged, n FROM t1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS rnd, l, r, l || r AS merged, n FROM t2
        |ORDER BY rnd""".stripMargin,
    // the apply pass replays the same 2-round chain with doc identity
    // carried, then aggregates symbol counts per doc (chars are
    // merge-invariant — the denominator of the compression floor)
    "text_bpe_apply" ->
      """WITH w0 AS (
        |  SELECT doc_id, ' ' || array_to_string(list_transform(range(1, len(w) + 1),
        |           i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1),
        |s1 AS (SELECT string_split(trim(w), '  ') AS sy FROM w0),
        |p1 AS (SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i])) AS l,
        |              unnest(list_transform(range(1, len(sy)), i -> sy[i + 1])) AS r
        |       FROM s1 WHERE len(sy) >= 2),
        |t1 AS (SELECT l, r FROM (SELECT l, r, count(*) AS n FROM p1 GROUP BY 1, 2
        |                         ORDER BY n DESC, l, r LIMIT 1)),
        |w1 AS (SELECT doc_id,
        |         replace(w0.w, ' ' || t1.l || '  ' || t1.r || ' ',
        |                       ' ' || t1.l || t1.r || ' ') AS w
        |       FROM w0, t1),
        |s2 AS (SELECT string_split(trim(w), '  ') AS sy FROM w1),
        |p2 AS (SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i])) AS l,
        |              unnest(list_transform(range(1, len(sy)), i -> sy[i + 1])) AS r
        |       FROM s2 WHERE len(sy) >= 2),
        |t2 AS (SELECT l, r FROM (SELECT l, r, count(*) AS n FROM p2 GROUP BY 1, 2
        |                         ORDER BY n DESC, l, r LIMIT 1)),
        |w2 AS (SELECT doc_id,
        |         replace(w1.w, ' ' || t2.l || '  ' || t2.r || ' ',
        |                       ' ' || t2.l || t2.r || ' ') AS w
        |       FROM w1, t2)
        |SELECT doc_id, count(*) AS n_words,
        |       CAST(sum(len(replace(w, ' ', ''))) AS BIGINT) AS n_chars,
        |       CAST(sum(len(string_split(trim(w), '  '))) AS BIGINT) AS n_bpe_tokens,
        |       CAST((10000 * sum(len(string_split(trim(w), '  '))))
        |            // nullif(sum(len(replace(w, ' ', ''))), 0) AS BIGINT) AS compression_e4
        |FROM w2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // feature-hashing replay: same md5-top-32-bit identity hash as
    // docs_sample_stratified, mod 64; tf is an exact integer count
    "text_hashing_tf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, 9),
        |            i -> CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |          (a, x) -> a * 16 + x) % 64 AS bucket
        |      FROM tok)
        |SELECT doc_id, bucket, count(*) AS tf
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    // bigram-LM replay: corpus bigram/prefix counts, floor(1e6*c2/c1)
    // per bigram, floor mean per doc — all exact integer division
    "text_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
        |       FROM tok CROSS JOIN LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |       WHERE len(t) >= 2),
        |c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1t AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2t GROUP BY 1)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |       CAST(sum((c2t.c2 * 1000000) // c1t.c1) // count(*) AS BIGINT) AS lm_score_x1e6
        |FROM bg JOIN c2t USING (w1, w2) JOIN c1t USING (w1)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // CCNet head/middle/tail gate: the same LM replay, then exact
    // discrete terciles from the bounded integer-score histogram
    // (3*cum >= k*total — percentile_disc semantics, all-integer)
    "text_lm_gate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
        |       FROM tok CROSS JOIN LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |       WHERE len(t) >= 2),
        |c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1t AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2t GROUP BY 1),
        |lm AS (SELECT bg.doc_id,
        |              CAST(sum((c2t.c2 * 1000000) // c1t.c1) // count(*) AS BIGINT) AS s
        |       FROM bg JOIN c2t USING (w1, w2) JOIN c1t USING (w1)
        |       GROUP BY 1),
        |h AS (SELECT s, count(*) AS n FROM lm GROUP BY 1),
        |c AS (SELECT s, sum(n) OVER (ORDER BY s) AS cum,
        |             (SELECT sum(n) FROM h) AS total FROM h),
        |cuts AS (SELECT min(CASE WHEN cum * 3 >= total THEN s END) AS c_tail,
        |                min(CASE WHEN cum * 3 >= 2 * total THEN s END) AS c_mid
        |         FROM c)
        |SELECT doc_id, s AS lm_score_x1e6,
        |       CASE WHEN s <= c_tail THEN 'tail'
        |            WHEN s <= c_mid THEN 'middle'
        |            ELSE 'head' END AS bucket
        |FROM lm, cuts ORDER BY doc_id""".stripMargin,
    // Zipf head: top-k token counts with rank + cumulative share;
    // shares divide exact integers (one IEEE op each), rounded
    "text_zipf" ->
      """WITH c AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT term, count(*) AS n FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f),
        |top AS (SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
        |        FROM f ORDER BY n DESC, term LIMIT 100)
        |SELECT CAST(rank AS BIGINT) AS rank, term, CAST(n AS BIGINT) AS n,
        |       round(CAST(n AS DOUBLE) / total, 6) AS share,
        |       round(CAST(sum(n) OVER (ORDER BY rank) AS DOUBLE) / total, 6) AS cum_share
        |FROM top, tot ORDER BY rank""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS sha256,
        |       lower(hex(CAST(substring(text, 1, 4) AS BLOB))) AS magic
        |FROM documents ORDER BY doc_id""".stripMargin,
    // transition-matrix replay: lag over the same (epoch_us, event_id)
    // order both engines share (the q_lag_delta rule), exact counts,
    // x10^4 integer-floor shares against the broadcast total
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |p AS (SELECT event_type AS to_type,
        |             lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |       CAST((n * 10000) // total AS BIGINT) AS share_x1e4
        |FROM c, t ORDER BY from_type, to_type""".stripMargin,
    // DAU/WAU replay: distinct (day,user) first, each active day
    // contributed to its next-7 target windows via generate_series,
    // distinct-count per target day, x10^4 stickiness floor
    "q_rolling_dau" ->
      """WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |wd AS (SELECT unnest(generate_series(day, day + 6)) AS day, user_id FROM du),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM wd GROUP BY 1)
        |SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
        |       CAST((dau.dau * 10000) // wau.wau AS BIGINT) AS stickiness_x1e4
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    // cumulative-reach replay: first-seen day per user, per-day new
    // users, prefix sum over the day axis
    "q_running_distinct" ->
      """WITH f AS (SELECT user_id, min(epoch_ms(ts) // 86400000) AS day FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, CAST(new_users AS BIGINT) AS new_users,
        |       CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin,
    // exact discrete order statistics on the unique (n_chars, doc_id)
    // rank axis — element AT rank ceil(q*n/100), integer math only
    "docs_length_profile" ->
      """WITH r AS (SELECT lang, n_chars, doc_id,
        |             CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |           FROM documents)
        |SELECT lang, max(n) AS n_docs, min(n_chars) AS len_min, max(n_chars) AS len_max,
        |       max(CASE WHEN rn = (n * 10 + 99) // 100 THEN n_chars END) AS p10,
        |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS p50,
        |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS p90
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // token-length histogram: same whitespace split as T.tokens,
    // exact token + distinct-type counts per (lang, length) cell
    "text_len_hist" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, CAST(len(tok) AS BIGINT) AS tok_len,
        |       count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // 2-sigma replay: the identical cross-multiplied integer test in
    // HUGEINT (DuckDB's decimal128 twin of Spark's DECIMAL(38,0))
    "q_anomaly" ->
      """WITH e AS (SELECT event_id, event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |             CAST(sum(cents * cents) AS BIGINT) AS sumsq FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.cents,
        |       (CAST(n AS HUGEINT) * e.cents - sum_cents) * (CAST(n AS HUGEINT) * e.cents - sum_cents)
        |         > 4 * (CAST(n AS HUGEINT) * sumsq - CAST(sum_cents AS HUGEINT) * sum_cents) AS is_outlier
        |FROM e JOIN s USING (event_type) ORDER BY event_id""".stripMargin,
    // Pareto replay: one global window rank (the oracle CAN afford
    // it), same (spend DESC, user) unique order, floor-decile cut
    "q_pareto" ->
      """WITH p AS (SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend_cents
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT user_id, spend_cents,
        |             row_number() OVER (ORDER BY spend_cents DESC, user_id) AS rn,
        |             count(*) OVER () AS nu FROM p),
        |d AS (SELECT ((rn - 1) * 10) // nu AS decile, count(*) AS n_users,
        |             CAST(sum(spend_cents) AS BIGINT) AS spend_cents FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(spend_cents) AS BIGINT) AS total FROM d),
        |c AS (SELECT decile, n_users, spend_cents,
        |             CAST(sum(spend_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_spend_cents
        |      FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(n_users AS BIGINT) AS n_users,
        |       spend_cents, cum_spend_cents,
        |       CAST((cum_spend_cents * 10000) // total AS BIGINT) AS cum_share_x1e4
        |FROM c, t ORDER BY decile""".stripMargin,
    // last-touch replay: three IGNORE-NULLS last_value carries over
    // the same [unbounded, -1] frame — consistent because all three
    // are non-null on exactly the non-purchase rows
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |a AS (SELECT user_id, event_id, event_type, us,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS) OVER w AS src_event_id,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS src_type,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN us END IGNORE NULLS) OVER w AS src_us
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, src_event_id, src_type,
        |       (us - src_us) // 1000 AS gap_ms,
        |       coalesce(us - src_us <= 1800000000, false) AS within_30m
        |FROM a WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // skip-gram replay: positional self-join within the +1..+3
    // window, exact counts, x10^4 integer-floor lift
    "docs_cooc_lift" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS i, t[CAST(i AS INT)] AS tok
        |      FROM tok CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
        |pr AS (SELECT a.tok AS a, b.tok AS b, count(*) AS c_ab
        |       FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 3
        |       GROUP BY 1, 2 HAVING count(*) >= 5),
        |m AS (SELECT tok, count(*) AS c FROM p GROUP BY 1),
        |t2 AS (SELECT count(*) AS n_total FROM p)
        |SELECT pr.a, pr.b, CAST(pr.c_ab AS BIGINT) AS c_ab,
        |       CAST(ma.c AS BIGINT) AS c_a, CAST(mb.c AS BIGINT) AS c_b,
        |       CAST((pr.c_ab * n_total * 10000) // (ma.c * mb.c) AS BIGINT) AS lift_x1e4
        |FROM pr JOIN m ma ON pr.a = ma.tok JOIN m mb ON pr.b = mb.tok, t2
        |ORDER BY a, b""".stripMargin,
    // skew-audit replay: per-key counts, power-of-two bucket via the
    // shared bin()-length idiom (both engines render no leading 0s)
    "q_skew_profile" ->
      """WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |h AS (SELECT CAST(len(bin(n)) AS BIGINT) AS bucket, count(*) AS n_keys,
        |             CAST(sum(n) AS BIGINT) AS n_rows, CAST(max(n) AS BIGINT) AS max_key_rows
        |      FROM k GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM h)
        |SELECT bucket, CAST(n_keys AS BIGINT) AS n_keys, n_rows, max_key_rows,
        |       CAST((n_rows * 10000) // total AS BIGINT) AS rows_share_x1e4
        |FROM h, t ORDER BY bucket""".stripMargin,
    // column-profile replay: one UNION ALL branch per column (the
    // oracle CAN afford rescans; Spark does it in one Expand pass)
    "q_col_profile" ->
      """WITH s AS (
        |  SELECT 'user_id' AS col_name, count(*) AS n_rows, count(user_id) AS nn, count(DISTINCT user_id) AS nd FROM events
        |  UNION ALL SELECT 'event_type', count(*), count(event_type), count(DISTINCT event_type) FROM events
        |  UNION ALL SELECT 'value', count(*), count(value), count(DISTINCT value) FROM events
        |  UNION ALL SELECT 'props', count(*), count(props), count(DISTINCT props) FROM events)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_rows - nn AS BIGINT) AS n_null, CAST(nd AS BIGINT) AS n_distinct
        |FROM s ORDER BY col_name""".stripMargin,
    // bucket-balance replay over the same inlined-plane signatures
    "emb_lsh_balance" ->
      s"""WITH $lshSigCtes,
         |b AS (SELECT t, sig, count(*) AS n FROM sig GROUP BY 1, 2)
         |SELECT CAST(t AS BIGINT) AS t, count(*) AS n_buckets,
         |       CAST(sum(n) AS BIGINT) AS n_vecs, CAST(max(n) AS BIGINT) AS max_bucket,
         |       CAST((max(n) * count(*) * 10000) // sum(n) AS BIGINT) AS skew_x1e4
         |FROM b GROUP BY 1 ORDER BY t""".stripMargin,
    // cosine-pair closure replay: same pairs CTE as emb_cosine_dedup,
    // recursive min-label reachability
    "emb_dedup_groups" ->
      """WITH RECURSIVE nn AS (SELECT vec_id, embedding,
        |                  list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2
        |           FROM embeddings),
        |cp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |       FROM nn a JOIN nn b ON a.vec_id < b.vec_id
        |       WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
        |               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |               / nullif(sqrt(a.n2) * sqrt(b.n2), 0.0) >= 0.4),
        |e AS (SELECT a_id AS s, b_id AS d FROM cp UNION SELECT b_id, a_id FROM cp),
        |r AS (SELECT vec_id AS s, vec_id AS d FROM embeddings
        |      UNION
        |      SELECT r.s, e.d FROM r JOIN e ON r.d = e.s)
        |SELECT s AS vec_id, min(d) AS group_id FROM r GROUP BY s ORDER BY vec_id""".stripMargin,
    // SemDeDup replay: identical c1 quantizer + (score DESC, cid
    // DESC) assignment tie-break as the IVF oracles, in-cluster
    // pairs only, exact cosine verify, then the same reachability
    // closure as emb_dedup_groups. Seed K is corpus-derived
    // (Ann.clustersFor: greatest(16, ceil(n/125)) — 16 at every
    // verify SF, grows past 2000 vectors so Σn_k² stays linear)
    "emb_semantic_groups" ->
      s"""WITH RECURSIVE ${ivfC1CtesK("SELECT greatest(16, (count(*) + 124) // 125) FROM embeddings")},
         |a1 AS (SELECT vec_id, cid FROM (
         |         SELECT v.vec_id, c.cid,
         |                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfScore("v", "c")} DESC, c.cid DESC) AS rn
         |         FROM e v CROSS JOIN c1 c) WHERE rn = 1),
         |cp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |       FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |       JOIN n x ON x.vec_id = a.vec_id
         |       JOIN n y ON y.vec_id = b.vec_id
         |       WHERE list_sum(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
         |               / nullif(sqrt(x.n2) * sqrt(y.n2), 0.0) >= 0.4),
         |eg AS (SELECT a_id AS s, b_id AS d FROM cp UNION SELECT b_id, a_id FROM cp),
         |r AS (SELECT vec_id AS s, vec_id AS d FROM embeddings
         |      UNION
         |      SELECT r.s, eg.d FROM r JOIN eg ON r.d = eg.s)
         |SELECT s AS vec_id, min(d) AS group_id FROM r GROUP BY s ORDER BY vec_id""".stripMargin,
    // interval-union replay: running max-end sweep, same
    // (t0, event_id) order, new-span iff t0 > every earlier end
    "q_merge_intervals" ->
      """WITH iv AS (SELECT event_type, event_id, epoch_ms(ts) AS t0,
        |                   epoch_ms(ts) + 1800000 AS t1 FROM events),
        |f AS (SELECT event_type, event_id, t0, t1,
        |        coalesce(t0 > max(t1) OVER (PARTITION BY event_type ORDER BY t0, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), true) AS is_new
        |      FROM iv),
        |s AS (SELECT event_type, t0, t1,
        |        CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (PARTITION BY event_type ORDER BY t0, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
        |      FROM f)
        |SELECT event_type, span_id, min(t0) AS span_start_ms, max(t1) AS span_end_ms,
        |       count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the two-level (per-day coalesce + span stitch) execution is
    // result-identical to the single sweep — shared replay
    "q_merge_daily" ->
      """WITH iv AS (SELECT event_type, event_id, epoch_ms(ts) AS t0,
        |                   epoch_ms(ts) + 1800000 AS t1 FROM events),
        |f AS (SELECT event_type, event_id, t0, t1,
        |        coalesce(t0 > max(t1) OVER (PARTITION BY event_type ORDER BY t0, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), true) AS is_new
        |      FROM iv),
        |s AS (SELECT event_type, t0, t1,
        |        CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (PARTITION BY event_type ORDER BY t0, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
        |      FROM f)
        |SELECT event_type, span_id, min(t0) AS span_start_ms, max(t1) AS span_end_ms,
        |       count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // marginal exact-distinct replay: the same three grouping sets
    "q_distinct_rollup" ->
      """SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |       count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (day), ())
        |ORDER BY 1, 2""".stripMargin,
    // incremental == full recompute: the oracle aggregates the WHOLE
    // table flat; the Spark side merged two independent day-parity
    // states — the partial-agg algebra as a storage contract
    "q_incr_agg" ->
      """WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       min(cents) AS min_cents, max(cents) AS max_cents,
        |       CAST((CAST(sum(cents) AS BIGINT) * 100) // count(*) AS BIGINT) AS avg_cents_x100
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // CUSUM replay: daily counts, cross-multiplied |m*Sk - k*S|
    // score, earliest day at the per-type peak
    "q_changepoint" ->
      """WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS x
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |        CAST(row_number() OVER wo AS BIGINT) AS k,
        |        CAST(sum(x) OVER (wo ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk,
        |        CAST(count(*) OVER wa AS BIGINT) AS m,
        |        CAST(sum(x) OVER wa AS BIGINT) AS s
        |      FROM d
        |      WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |             wa AS (PARTITION BY event_type)),
        |sc AS (SELECT event_type, day, m, abs(m * sk - k * s) AS score
        |       FROM w WHERE k < m),
        |p AS (SELECT event_type, day, m, score,
        |        max(score) OVER (PARTITION BY event_type) AS peak FROM sc)
        |SELECT event_type, min(day) AS split_day, CAST(max(peak) AS BIGINT) AS score,
        |       max(m) AS n_days
        |FROM p WHERE score = peak GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q18 replay: having-aggregate first, then the two report joins
    "q_having_join" ->
      """WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |             FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 200)
        |SELECT o.o_orderkey, o.o_custkey, c.c_name,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents, big.sum_qty
        |FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    // nearest replay: same interleaved union, backward + forward
    // IGNORE-NULLS carries, tie to the earlier (backward) row
    "q_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |u AS (SELECT user_id, us, event_id AS id, 0 AS tag FROM e WHERE event_type = 'error'
        |      UNION ALL
        |      SELECT user_id, us, event_id, 1 FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, us, id, tag,
        |        last_value(CASE WHEN tag = 0 THEN us END IGNORE NULLS) OVER wb AS p_us,
        |        last_value(CASE WHEN tag = 0 THEN id END IGNORE NULLS) OVER wb AS p_id,
        |        first_value(CASE WHEN tag = 0 THEN us END IGNORE NULLS) OVER wf AS n_us,
        |        first_value(CASE WHEN tag = 0 THEN id END IGNORE NULLS) OVER wf AS n_id
        |      FROM u
        |      WINDOW wb AS (PARTITION BY user_id ORDER BY us, tag, id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wf AS (PARTITION BY user_id ORDER BY us, tag, id
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |pick AS (SELECT user_id, us, id,
        |           p_us IS NOT NULL AND (n_us IS NULL OR us - p_us <= n_us - us) AS takeb,
        |           p_us, p_id, n_us, n_id
        |         FROM w WHERE tag = 1)
        |SELECT id AS p_id, user_id,
        |       CASE WHEN takeb THEN p_id ELSE n_id END AS err_id,
        |       abs(us - CASE WHEN takeb THEN p_us ELSE n_us END) // 1000 AS gap_ms,
        |       CASE WHEN takeb THEN 'before'
        |            WHEN n_us IS NOT NULL THEN 'after' END AS side
        |FROM pick ORDER BY p_id""".stripMargin,
    // exactly-k replay: same md5-top-32-bit identity hash, same
    // (hash, doc_id) unique rank axis per language
    "docs_sample_fixed" ->
      """WITH h AS (SELECT doc_id, lang,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) AS u
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS BIGINT) AS rnk
        |      FROM h)
        |SELECT doc_id, lang, rnk FROM r WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin,
    // the two-phase (per-partition heap + global refine) execution is
    // result-identical to the single-pass rank by construction, so it
    // shares the same replay — the gate IS the equality proof
    "docs_sample_fixed_2p" ->
      """WITH h AS (SELECT doc_id, lang,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |    (a, x) -> a * 16 + x) AS u
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS BIGINT) AS rnk
        |      FROM h)
        |SELECT doc_id, lang, rnk FROM r WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin,
    // strip-and-diff charset counts; n_other closes the partition
    "text_charclass" ->
      """SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |       CAST(len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |       CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |       CAST(len(text) - len(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_space,
        |       CAST(len(regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z]', '', 'g'), '[0-9]', '', 'g'), ' ', '', 'g')) AS BIGINT) AS n_other
        |FROM documents ORDER BY doc_id""".stripMargin,
    // PII scrub replay: the deterministic doc_id-derived contact
    // augmentation is reconstructed identically here, then counted /
    // redacted with the same RE2-and-Java-compatible patterns in the
    // same email -> phone -> IPv4 order; all outputs exact integers
    "docs_pii_scrub" ->
      """WITH a AS (SELECT doc_id, text,
        |             CASE WHEN doc_id % 3 = 0
        |                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |                       || '@example.com or +1-555-'
        |                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |                       || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
        |                       || '.0.' || CAST((doc_id * 7) % 250 AS VARCHAR)
        |                  ELSE text END AS aug
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |       CAST(len(regexp_extract_all(aug, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |       CAST(len(regexp_extract_all(aug, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        |       CAST(len(regexp_extract_all(text, '\b(spark|vector|stream)\b')) AS BIGINT) AS n_blocklist,
        |       CAST(len(aug) AS BIGINT) AS len_raw,
        |       CAST(len(regexp_replace(regexp_replace(regexp_replace(aug,
        |              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |              '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |              '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS BIGINT) AS len_scrubbed
        |FROM a ORDER BY doc_id""".stripMargin,
    // ---- TPC-H completion wave: money quantized to exact BIGINT
    // cents per row BEFORE aggregation (identical IEEE product both
    // engines), shares as integer floor divisions of positive longs,
    // HUGEINT sums cast back to BIGINT (the q_moving_avg lesson)
    "q7_volume" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS supp_nat, CAST(c_nationkey AS BIGINT) AS cust_nat,
        |       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS volume_cents,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE (s_nationkey = 1 AND c_nationkey = 2) OR (s_nationkey = 2 AND c_nationkey = 1)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_share" ->
      """WITH v AS (
        |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |         CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS cents,
        |         s_nationkey
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT o_year,
        |       CAST(sum(CASE WHEN s_nationkey = 7 THEN cents ELSE 0 END) AS BIGINT) AS nation_cents,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       CAST((10000 * sum(CASE WHEN s_nationkey = 7 THEN cents ELSE 0 END)) // nullif(sum(cents), 0) AS BIGINT) AS share_e4
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_margin" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS supp_nat,
        |       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
        |                - (CAST(round(p_retailprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) // 10) AS BIGINT) AS margin_cents,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nat,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin,
    "q13_custdist" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo" ->
      """SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       CAST((10000 * sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)) // nullif(sum(cents), 0) AS BIGINT) AS promo_share_e4
        |FROM (SELECT l_partkey, CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS cents
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
        |JOIN part ON l_partkey = p_partkey""".stripMargin,
    "q15_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |             CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |           FROM lineitem
        |           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |           GROUP BY 1)
        |SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_cents
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM r)
        |ORDER BY s_suppkey""".stripMargin,
    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q12 shape: delayed lines x order priority, conditional counts
    "q12_priority" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE datediff('day', o_orderdate, l_shipdate) > 750
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q18 shape: HAVING-subquery order-quantity gate, then join-back
    "q18_large_orders" ->
      """WITH q AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |           FROM lineitem GROUP BY 1
        |           HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents, q.sum_qty
        |FROM q JOIN orders o ON q.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    // Q21 shape: per-(order, supplier) lateness, EXISTS other
    // supplier, NOT EXISTS other late supplier, count per supplier
    "q21_waiting" ->
      """WITH j AS (SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
        |                  datediff('day', o.o_orderdate, l.l_shipdate) > 1200 AS late
        |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |           WHERE o.o_orderstatus = 'F'),
        |p AS (SELECT ok, sk, bool_or(late) AS late FROM j GROUP BY 1, 2),
        |cand AS (SELECT ok, sk FROM p WHERE late),
        |multi AS (SELECT c.ok, c.sk FROM cand c
        |          WHERE EXISTS (SELECT 1 FROM p WHERE p.ok = c.ok AND p.sk <> c.sk)),
        |sole AS (SELECT m.ok, m.sk FROM multi m
        |         WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.ok = m.ok AND p.sk <> m.sk AND p.late))
        |SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM sole JOIN supplier s ON sole.sk = s.s_suppkey
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // Q2 shape: derived-partsupp CTE (shared verbatim with
    // Tpch.partsupp), region-filtered suppliers, per-part min-cost
    // join-back with all ties surfacing
    "q2_mincost" ->
      s"""WITH $partsuppCtes,
         |rs AS (SELECT s_suppkey, s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents, n_name
         |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |       JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
         |pp AS (SELECT p_partkey, p_brand FROM part WHERE p_type = 'STANDARD' AND p_size <= 25),
         |j AS (SELECT pp.p_partkey, pp.p_brand, rs.s_suppkey, rs.s_name, rs.n_name, rs.bal_cents, ps.ps_cost_cents
         |      FROM ps JOIN pp ON ps.ps_partkey = pp.p_partkey JOIN rs ON ps.ps_suppkey = rs.s_suppkey),
         |m AS (SELECT p_partkey, min(ps_cost_cents) AS mc FROM j GROUP BY 1)
         |SELECT j.p_partkey, j.p_brand, CAST(j.s_suppkey AS BIGINT) AS s_suppkey, j.s_name, j.n_name,
         |       j.ps_cost_cents AS cost_cents, j.bal_cents
         |FROM j JOIN m ON j.p_partkey = m.p_partkey AND j.ps_cost_cents = m.mc
         |ORDER BY j.p_partkey, s_suppkey""".stripMargin,
    // Q11 shape: region inventory value per part vs 2x the mean
    // per-part value (scale-free cross-multiplied threshold)
    "q11_stock_value" ->
      s"""WITH $partsuppCtes,
         |rs AS (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |       JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
         |v AS (SELECT ps_partkey, CAST(sum(ps_availqty * ps_cost_cents) AS BIGINT) AS value_cents
         |      FROM ps JOIN rs ON ps_suppkey = s_suppkey GROUP BY 1),
         |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents, count(*) AS n_parts FROM v)
         |SELECT ps_partkey, value_cents FROM v, t
         |WHERE value_cents * n_parts > 2 * total_cents ORDER BY ps_partkey""".stripMargin,
    // Q16 shape: distinct-supplier count per (brand, type, size),
    // excluded brand/type + delinquent-supplier anti-join
    "q16_supplier_cnt" ->
      s"""WITH $partsuppCtes,
         |pp AS (SELECT p_partkey, p_brand, p_type, CAST(p_size AS BIGINT) AS p_size FROM part
         |       WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' AND p_size IN (1,5,10,15,20,25,30,35)),
         |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |SELECT p_brand, p_type, p_size, CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
         |FROM ps JOIN pp ON ps_partkey = p_partkey
         |WHERE ps_suppkey NOT IN (SELECT s_suppkey FROM bad)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Q20 shape: surplus-stock suppliers of a part-name family — the
    // nested correlated sum as a (partkey, suppkey) aggregate join,
    // NULL-sum pairs excluded by the inner join
    "q20_promo_parts" ->
      s"""WITH $partsuppCtes,
         |pk AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
         |sh AS (SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |       FROM lineitem
         |       WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |         AND l_partkey IN (SELECT p_partkey FROM pk)
         |       GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT ps_suppkey FROM ps
         |         JOIN sh ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |         WHERE 2 * ps_availqty > sum_qty),
         |rs AS (SELECT s_suppkey, s_name, n_name
         |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |       JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
         |SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
         |FROM cand JOIN rs ON ps_suppkey = s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#11'),
        |a AS (SELECT l_partkey AS pk, CAST(sum(qty) AS BIGINT) AS sum_qty, count(*) AS cnt
        |      FROM li GROUP BY 1)
        |SELECT CAST(sum(price_cents) AS BIGINT) AS sum_price_cents, count(*) AS n_rows,
        |       CAST(CAST(sum(price_cents) AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM li JOIN a ON l_partkey = pk WHERE qty * cnt * 2 < sum_qty""".stripMargin,
    "q19_disjunct" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q22_global" ->
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nat,
        |                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |           FROM customer),
        |t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents, count(*) AS n_pos
        |      FROM c WHERE bal_cents > 0)
        |SELECT c_nat, count(*) AS numcust, CAST(sum(bal_cents) AS BIGINT) AS total_cents
        |FROM c, t
        |WHERE bal_cents * n_pos > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // fixed-point Lloyd replay: both engines quantize to the same
    // integer grid, assign by exact int64 distance with (dist, cid)
    // tie-breaks, and update by positive-mod floored means — the
    // whole 2-iteration trajectory is integer-deterministic, so the
    // trained model replays with NO rounding pins anywhere
    "emb_kmeans_train" ->
      s"""WITH $kmeansCtes
        |SELECT cid, CAST(dim AS BIGINT) AS dim,
        |       CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS m, CAST(n AS BIGINT) AS n
        |FROM g2 ORDER BY cid, dim""".stripMargin,
    // greedy k-center selection: 3 unrolled argmax rounds over the
    // exact grid distances; ties break to the smallest vec_id
    "emb_init_farthest" ->
      s"""WITH $farthestCtes
        |SELECT CAST(1 AS BIGINT) AS rnk, vec_id, CAST(0 AS BIGINT) AS min_dist FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, CAST(md AS BIGINT) FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, CAST(md AS BIGINT) FROM s3
        |UNION ALL SELECT CAST(4 AS BIGINT), vec_id, CAST(md AS BIGINT) FROM s4
        |ORDER BY rnk""".stripMargin,
    // quality replay: the same trajectory, plus the m2 centroid
    // lists, member-to-own-centroid distance mass, and the k²
    // nearest-other-centroid separation
    "emb_cluster_quality" ->
      s"""WITH $kmeansCtes,
        |m2 AS (SELECT cid, list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY dim) AS ms
        |       FROM g2 GROUP BY cid),
        |intra AS (SELECT a.cid, count(*) AS n,
        |                 CAST(sum(list_sum(list_transform(range(1, 65),
        |                   i -> (a.xs[i] - c.ms[i]) * (a.xs[i] - c.ms[i])))) AS BIGINT) AS intra_sum
        |          FROM a2 a JOIN m2 c ON a.cid = c.cid GROUP BY 1),
        |sep AS (SELECT c1.cid,
        |               CAST(min(list_sum(list_transform(range(1, 65),
        |                 i -> (c1.ms[i] - c2.ms[i]) * (c1.ms[i] - c2.ms[i])))) AS BIGINT) AS min_sep
        |        FROM m2 c1 JOIN m2 c2 ON c1.cid <> c2.cid GROUP BY 1)
        |SELECT intra.cid, CAST(intra.n AS BIGINT) AS n, intra.intra_sum, sep.min_sep,
        |       CASE WHEN intra.intra_sum <= 0 THEN NULL
        |            ELSE CAST((10000 * intra.n * sep.min_sep) // intra.intra_sum AS BIGINT) END AS dunn_e4
        |FROM intra JOIN sep ON intra.cid = sep.cid ORDER BY intra.cid""".stripMargin,
    // Gopher rule replay: integer counters + cross-multiplied
    // predicates only — no float ratio anywhere on either side
    "docs_gopher_rules" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |         CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS sum_word_len,
        |         CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS n_symbol,
        |         CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |         CAST(len(list_intersect(string_split(text, ' '), ['a', 'the', 'is', 'of', 'and'])) AS BIGINT) AS n_stop_distinct
        |  FROM documents)
        |SELECT doc_id, n_words, sum_word_len, n_symbol, n_alpha_words, n_stop_distinct,
        |       (n_words BETWEEN 25 AND 80) AS flag_words,
        |       (sum_word_len BETWEEN n_words * 3 AND n_words * 5) AS flag_mwl,
        |       (n_symbol * 10 <= n_words) AS flag_symbol,
        |       (n_alpha_words * 5 >= n_words * 4) AS flag_alpha,
        |       (n_stop_distinct >= 2) AS flag_stop,
        |       ((n_words BETWEEN 25 AND 80) AND (sum_word_len BETWEEN n_words * 3 AND n_words * 5)
        |        AND (n_symbol * 10 <= n_words) AND (n_alpha_words * 5 >= n_words * 4)
        |        AND (n_stop_distinct >= 2)) AS pass
        |FROM g ORDER BY doc_id""".stripMargin,
    // intra-corpus span localization: exact-jaccard edge replay (the
    // shared jp CTE) gates the same positional 5-shingle dot-plot
    // diagonal-run segmentation the decontamination oracle uses
    "docs_dup_spans" ->
      s"""WITH $jaccardCtes,
        |pr AS (SELECT a_id, b_id FROM jp),
        |pt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ps AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |              array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS s
        |       FROM pt CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i)
        |       WHERE len(t) >= 5),
        |h AS (SELECT p.a_id, p.b_id, a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        |      FROM pr p JOIN ps a ON a.doc_id = p.a_id
        |      JOIN ps b ON b.doc_id = p.b_id AND b.s = a.s),
        |r AS (SELECT *, CASE WHEN lag(pos_a) OVER w IS NULL
        |                       OR lag(pos_a) OVER w <> pos_a - 1 THEN 1 ELSE 0 END AS nr
        |      FROM h WINDOW w AS (PARTITION BY a_id, b_id, diag ORDER BY pos_a)),
        |g AS (SELECT a_id, b_id, diag, pos_a, pos_b,
        |             sum(nr) OVER (PARTITION BY a_id, b_id, diag ORDER BY pos_a) AS run_id
        |      FROM r),
        |runs AS (SELECT a_id, b_id, count(*) AS run_len,
        |                min(pos_a) AS a_start, min(pos_b) AS b_start
        |         FROM g GROUP BY a_id, b_id, diag, run_id),
        |best AS (SELECT a_id, b_id, run_len, a_start, b_start,
        |                row_number() OVER (PARTITION BY a_id, b_id
        |                                   ORDER BY run_len DESC, a_start, b_start) AS rn
        |         FROM runs)
        |SELECT a_id, b_id, CAST(run_len AS BIGINT) AS longest_run,
        |       CAST(run_len + 4 AS BIGINT) AS longest_tokens, a_start, b_start
        |FROM best WHERE rn = 1 AND run_len >= 2 ORDER BY a_id, b_id""".stripMargin,
    // ExactSubstr replay: corpus-wide positional 8-shingle occurrence
    // counts mark covered starts; a trailing-8 ROWS window max lifts
    // the mark to token granularity; kept tokens re-joined in order
    // are the md5 content witness (docs with zero survivors keep the
    // empty-string md5 via the LEFT JOIN)
    "docs_substr_dedup" ->
      """WITH pt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(range(0, len(t) - 7)) AS i,
        |              unnest(list_transform(range(0, len(t) - 7),
        |                p -> array_to_string(t[CAST(p + 1 AS INT):CAST(p + 8 AS INT)], ' '))) AS s
        |       FROM pt WHERE len(t) >= 8),
        |dup AS (SELECT s FROM (SELECT s, count(*) AS c FROM sh GROUP BY 1) WHERE c > 1),
        |m AS (SELECT doc_id, i FROM sh JOIN dup USING (s)),
        |tok AS (SELECT doc_id, unnest(range(0, len(t))) AS i, unnest(t) AS token FROM pt),
        |f AS (SELECT tok.doc_id, tok.i, tok.token,
        |             CASE WHEN m.i IS NOT NULL THEN 1 ELSE 0 END AS f
        |      FROM tok LEFT JOIN m ON m.doc_id = tok.doc_id AND m.i = tok.i),
        |c AS (SELECT doc_id, i, token,
        |             max(f) OVER (PARTITION BY doc_id ORDER BY i
        |                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
        |      FROM f),
        |c2 AS (SELECT *, CASE WHEN cov = 1 AND coalesce(lag(cov) OVER
        |                 (PARTITION BY doc_id ORDER BY i), 0) = 0 THEN 1 ELSE 0 END AS ss
        |       FROM c),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |               CAST(sum(cov) AS BIGINT) AS n_removed_tokens,
        |               CAST(sum(ss) AS BIGINT) AS n_removed_spans
        |        FROM c2 GROUP BY 1),
        |kept AS (SELECT doc_id, md5(string_agg(token, ' ' ORDER BY i)) AS clean_md5
        |         FROM c2 WHERE cov = 0 GROUP BY 1)
        |SELECT a.doc_id, a.n_tokens, a.n_removed_tokens, a.n_removed_spans,
        |       coalesce(k.clean_md5, md5('')) AS clean_md5,
        |       CAST(((a.n_tokens - a.n_removed_tokens) * 10000) // a.n_tokens AS BIGINT) AS kept_frac_e4
        |FROM agg a LEFT JOIN kept k USING (doc_id) ORDER BY a.doc_id""".stripMargin,
    // coverage-curve replay: same (count desc, word) rank axis, same
    // integer floors; n_vocab < k when the vocabulary is smaller
    "text_vocab_coverage" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT w, count(*) AS f FROM w GROUP BY 1),
        |r AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS rnk FROM f),
        |t AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens FROM f),
        |k AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k.k AS BIGINT) AS k, count(*) AS n_vocab,
        |       CAST(sum(r.f) AS BIGINT) AS coverage_tokens, t.total_tokens,
        |       CAST((10000 * sum(r.f)) // t.total_tokens AS BIGINT) AS share_e4
        |FROM r JOIN k ON r.rnk <= k.k CROSS JOIN t
        |GROUP BY k.k, t.total_tokens ORDER BY k""".stripMargin,
    // integer-PageRank replay over the shared knn edge CTEs: two
    // unrolled damped-mass rounds, floors identical on both engines
    "emb_graph_rank" ->
      s"""WITH $knnEdgeCtes,
        |e2 AS (SELECT vec_id AS src, n_id AS dst FROM r WHERE rnk <= 3),
        |v AS (SELECT DISTINCT src AS v FROM e2),
        |m1 AS (SELECT v.v, 150000 + (85 * coalesce(s.sc, 0)) // 100 AS mass
        |       FROM v LEFT JOIN (SELECT dst, CAST(sum(1000000 // 3) AS BIGINT) AS sc
        |                         FROM e2 GROUP BY 1) s ON v.v = s.dst),
        |m2 AS (SELECT v.v, 150000 + (85 * coalesce(s.sc, 0)) // 100 AS mass
        |       FROM v LEFT JOIN (SELECT e.dst, CAST(sum(m.mass // 3) AS BIGINT) AS sc
        |                         FROM e2 e JOIN m1 m ON e.src = m.v GROUP BY 1) s ON v.v = s.dst),
        |d AS (SELECT dst, count(*) AS in_deg FROM e2 GROUP BY 1)
        |SELECT m2.v AS vec_id, CAST(m2.mass AS BIGINT) AS mass,
        |       CAST(coalesce(d.in_deg, 0) AS BIGINT) AS in_deg
        |FROM m2 LEFT JOIN d ON m2.v = d.dst ORDER BY vec_id""".stripMargin,
    // YoY replay: identical positive-mod floor identity, so the
    // signed growth floors agree between the engines
    "q_yoy_growth" ->
      """WITH y AS (SELECT o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM orders GROUP BY 1, 2),
        |l AS (SELECT o_orderpriority, yr, cents,
        |             lag(cents) OVER (PARTITION BY o_orderpriority ORDER BY yr) AS prev_cents
        |      FROM y)
        |SELECT o_orderpriority, yr, cents, prev_cents,
        |       CASE WHEN prev_cents IS NULL OR prev_cents <= 0 THEN NULL
        |            ELSE CAST((10000 * (cents - prev_cents)
        |                       - (((10000 * (cents - prev_cents)) % prev_cents + prev_cents) % prev_cents))
        |                      // prev_cents AS BIGINT) END AS growth_e4
        |FROM l ORDER BY o_orderpriority, yr""".stripMargin,
    // VAD replay: the frame-energy CTE chain + the noise-floor
    // filter + the same lag-gap islands segmentation
    "mm_audio_segments" ->
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |fr AS (SELECT doc_id, hx, n, unnest(range(0, CAST((n + 63) // 64 AS INT))) AS fi FROM b),
        |s AS (SELECT doc_id, fi, least(n - fi * 64, 64) AS fb,
        |        list_transform(range(CAST(least(n - fi * 64, 64) AS INT)),
        |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 1 AS INT), 1)) - 1)
        |                 + (strpos('0123456789abcdef', substr(hx, CAST(2 * (fi * 64 + i) + 2 AS INT), 1)) - 1) AS BIGINT) - 128) AS samp
        |      FROM fr),
        |e AS (SELECT doc_id, fi, fb,
        |        CAST(list_sum(list_transform(samp, x -> x * x)) AS BIGINT) AS energy,
        |        CAST(list_max(list_transform(samp, x -> abs(x))) AS BIGINT) AS peak
        |      FROM s),
        |a AS (SELECT * FROM e WHERE energy > fb * 2048),
        |l AS (SELECT doc_id, fi, energy, peak,
        |        CASE WHEN lag(fi) OVER w IS NULL OR lag(fi) OVER w <> fi - 1 THEN 1 ELSE 0 END AS nr
        |      FROM a WINDOW w AS (PARTITION BY doc_id ORDER BY fi)),
        |g AS (SELECT doc_id, fi, energy, peak,
        |        sum(nr) OVER (PARTITION BY doc_id ORDER BY fi) AS seg_id
        |      FROM l)
        |SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id, CAST(min(fi) AS INT) AS start_frame,
        |       count(*) AS n_frames, CAST(sum(energy) AS BIGINT) AS total_energy,
        |       CAST(max(peak) AS BIGINT) AS max_peak
        |FROM g GROUP BY doc_id, seg_id ORDER BY doc_id, seg_id""".stripMargin,
    // multimodal detector Venn over the planted-variant corpus
    // (exact copies of every 10th item, one-char re-encodes of every
    // (10k+5)th): md5 exact-copy cells × the recursive
    // phash-component cells (shared pair SQL over `aug`)
    "mm_detector_venn" ->
      s"""WITH RECURSIVE aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000000000, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 200000000000, substr(text, 1, length(text) - 1) || 'x'
         |            FROM documents WHERE doc_id % 10 = 5),
         |pp AS (SELECT doc_id_a, doc_id_b FROM (${mmPhashPairsSqlFrom("aug")})),
         |ed AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pp
         |       UNION SELECT doc_id_b, doc_id_a FROM pp),
         |r AS (SELECT doc_id AS src, doc_id AS dst FROM aug
         |      UNION
         |      SELECT r.src, ed.dst FROM r JOIN ed ON r.dst = ed.src),
         |pg AS (SELECT src AS doc_id, min(dst) AS group_id FROM r GROUP BY src),
         |ps AS (SELECT group_id, count(*) AS gsz FROM pg GROUP BY 1),
         |ex AS (SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) > 1 AS f_exact
         |       FROM aug)
         |SELECT ex.f_exact, (ps.gsz > 1) AS f_phash, count(*) AS n_docs
         |FROM ex JOIN pg USING (doc_id) JOIN ps USING (group_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
