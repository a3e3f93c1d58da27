package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.{Relational, Sessions, TextAnalytics}
import graft.operators.{Dedup, Multimodal, Similarity, TemporalJoins}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator/capability from SURVEY.md §2 (or a
  * beyond-parity scale operator); `oracleSql` holds the DuckDB-equivalent SQL
  * the driver hash-compares against at sf0.01. Column names and types are
  * aligned on both sides; doubles are rounded on both sides to absorb
  * summation-order drift.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Sessions.sessionLevel(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — relational surface (SURVEY §2.3-§2.8) —
    "q01_pricing_summary" -> Relational.pricingSummary _,
    "q02_top_revenue" -> Relational.topRevenueOrders _,
    "q03_region_revenue" -> Relational.regionRevenue _,
    "q04_customer_orders" -> Relational.customerOrderSummary _,
    "q05_cust_with_orders" -> Relational.customersWithOrders _,
    "q06_cust_without_orders" -> Relational.customersWithoutOrders _,
    "q07_nation_setops" -> Relational.nationSetOps _,
    "q08_topk_window" -> Relational.topPartsPerSupplier _,
    "q09_distinct_agg" -> Relational.distinctParts _,
    "q10_split_categories" -> Relational.partCategories _,
    // — session analytics parity (SURVEY §2.5-§2.9) —
    "q11_session_level" -> Sessions.sessionLevel _,
    "q12_user_level" -> Sessions.userLevel _,
    "q13_favorite_event_type" -> Sessions.favoriteEventType _,
    "q14_user_enriched" -> Sessions.userEnriched _,
    "q15_daily_activity" -> Sessions.dailyActivity _,
    "q16_daily_funnel" -> Sessions.dailyFunnel _,
    "q17_daily_traffic" -> Sessions.dailyTrafficSource _,
    "q18_session_gap" -> ((s: SparkSession, d: String) => Sessions.sessionGap(s, d)),
    "q19_session_first_last" -> Sessions.sessionFirstLast _,
    "q20_session_events_json" -> ((s: SparkSession, d: String) => Sessions.sessionEventsJson(s, d)),
    "q21_events_enriched" -> Sessions.eventsEnriched _,
    "q36_events_json_roundtrip" -> Sessions.sessionEventsExploded _,
    "q38_percentiles" -> Relational.pricePercentiles _,
    "q41_sql_cosine" -> graft.analytics.Sql.cosineRankingSql _,
    "q42_asof_attribution" -> TemporalJoins.purchaseAttribution _,
    "q43_range_join" -> TemporalJoins.shipmentsNearOrder _,
    "q44_order_timeline" -> Relational.customerOrderTimeline _,
    "q47_funnel_depth" -> graft.analytics.Funnels.funnelDepth _,
    "q49_profile" -> graft.analytics.Profiling.customerProfile _,
    "q48_cohort_retention" -> graft.analytics.Funnels.cohortRetention _,
    "q45_value_histogram" -> ((s: SparkSession, d: String) => Relational.valueHistogram(s, d)),
    "q46_string_kitchen" -> Relational.stringKitchen _,
    "q39_rollup" -> Relational.revenueRollup _,
    "q40_pivot" -> Relational.eventTypePivot _,
    // — corpus-scale dedup / similarity / text / multimodal (BASELINE.json north star) —
    "q22_dedup_exact" -> Dedup.exactGroups _,
    "q23_shingle_jaccard" -> ((s: SparkSession, d: String) => Dedup.jaccardPairs(s, d)),
    "q73_jaccard_prefix" -> ((s: SparkSession, d: String) => Dedup.jaccardPairsPrefix(s, d)),
    "q24_minhash_signatures" -> ((s: SparkSession, d: String) => Dedup.minhashSignatures(s, d)),
    "q25_minhash_dedup" -> ((s: SparkSession, d: String) => Dedup.minhashPairs(s, d)),
    "q26_simhash_docs" -> Dedup.simhashDocs _,
    "q27_simhash_pairs" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "q28_embedding_neardup" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDups(s, d)),
    "q29_ann_bruteforce" -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    "q30_ann_lsh" -> ((s: SparkSession, d: String) => Similarity.lshTopK(s, d)),
    "q37_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    "q53_embedding_quantize" -> ((s: SparkSession, d: String) => Similarity.quantizeEmbeddings(s, d)),
    "q50_dedup_components" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupComponents(s, d)),
    "q51_stratified_sample" -> ((s: SparkSession, d: String) => graft.operators.Curation.stratifiedSample(s, d)),
    "q52_sequence_packing" -> ((s: SparkSession, d: String) => graft.operators.Curation.sequencePacking(s, d)),
    "q31_text_quality" -> TextAnalytics.quality _,
    "q32_lang_id" -> TextAnalytics.langPredictions _,
    "q33_token_stats" -> TextAnalytics.tokenStats _,
    "q34_multimodal_meta" -> Multimodal.metaSummary _,
    "q35_corpus_summary" -> TextAnalytics.corpusSummary _,
    // — round-3 curation widening: repetition quality, sub-document dedup,
    //   decontamination, mixture sampling, vocabulary, tf-idf —
    "q54_repetition" -> TextAnalytics.repetition _,
    "q55_chunk_dedup" -> ((s: SparkSession, d: String) => Dedup.chunkShared(s, d)),
    "q56_decontamination" -> ((s: SparkSession, d: String) => graft.operators.Curation.decontaminate(s, d)),
    "q74_decontam_bloom" -> ((s: SparkSession, d: String) => graft.operators.Curation.decontaminateBloom(s, d)),
    "q57_domain_mix" -> ((s: SparkSession, d: String) => graft.operators.Curation.domainMixSample(s, d)),
    "q58_vocab_topk" -> ((s: SparkSession, d: String) => TextAnalytics.vocabTopK(s, d)),
    "q59_tfidf" -> ((s: SparkSession, d: String) => TextAnalytics.tfidfTopTerms(s, d)),
    "q60_label_centroids" -> ((s: SparkSession, d: String) => Similarity.labelCentroids(s, d)),
    "q61_curation_decisions" -> ((s: SparkSession, d: String) => graft.operators.Curation.curationDecisions(s, d)),
    "q62_source_leakage" -> ((s: SparkSession, d: String) => Dedup.sourceLeakage(s, d)),
    "q63_exists_subquery" -> graft.analytics.Sql.existsSubquerySql _,
    "q64_scalar_subquery" -> graft.analytics.Sql.scalarSubquerySql _,
    // the RangeJoinRewrite optimizer rule, exercised through the oracle
    // gate: same semantics as q43 but written as the naive interval join
    // and planned by the rule
    "q65_range_join_rewrite" -> TemporalJoins.shipmentsNearOrderRewritten _,
    // trained-codebook IVF assignment: Lloyd's output pinned as literals
    // (TrainedCodebook); deterministic argmax, oracle renders the same
    // constant
    "q66_ivf_trained_assign" -> ((s: SparkSession, d: String) => Similarity.ivfAssignTrained(s, d)),
    // ANN quality gate: recall@5 of q30 (LSH) and q37 (IVF) vs q29 (exact)
    "q67_ann_recall" -> ((s: SparkSession, d: String) => Similarity.annRecallAt5(s, d)),
    // SemDeDup-style semantic near-dups blocked by trained codebook cell
    "q68_semantic_neardup" -> ((s: SparkSession, d: String) => Similarity.semanticNearDups(s, d)),
    // pinned-weight model-based quality filter (map-side)
    "q69_quality_model" -> ((s: SparkSession, d: String) => TextAnalytics.qualityModelScore(s, d)),
    // sliding-window token chunking for embedding/RAG prep (map-side)
    "q70_sliding_chunks" -> ((s: SparkSession, d: String) => TextAnalytics.slidingChunks(s, d)),
    // CCNet-style LM quality signal: mean unigram surprisal per document
    "q71_unigram_surprisal" -> ((s: SparkSession, d: String) => TextAnalytics.unigramSurprisal(s, d)),
    // the star-rewrite components resolver, against q50's exact oracle
    "q72_dedup_components_star" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupComponentsStar(s, d)),
    // exact Jaccard join DECLARED as a theta join, PLANNED by the
    // SimilarityJoinRewrite optimizer rule, on the caller's session
    "q75_sim_join_rewrite" -> ((s: SparkSession, d: String) => Dedup.jaccardPairsRewrite(s, d)),
    // typed PII redaction + audit counts (map-side regexp chain)
    "q76_pii_scrub" -> ((s: SparkSession, d: String) => TextAnalytics.piiScrub(s, d)),
    // winnowing (MOSS) document fingerprints — map-side, no shuffle
    "q77_winnow_fingerprints" -> ((s: SparkSession, d: String) => TextAnalytics.winnowFingerprints(s, d)),
    // α=0.5 temperature-smoothed domain mixing (corpus-derived shares)
    "q78_domain_mix_temperature" -> ((s: SparkSession, d: String) => graft.operators.Curation.domainMixTemperature(s, d)),
    // Johnson–Lindenstrauss random projection, seedless ±1 sign matrix
    "q79_random_projection" -> ((s: SparkSession, d: String) => Similarity.randomProjection(s, d)),
    // salted equi-join on a 5-value key (forced shuffle path; oracle is
    // the plain join — salting is a pure partitioning change)
    "q80_salted_join" -> ((s: SparkSession, d: String) => graft.operators.Skew.eventTypeStatsSalted(s, d)),
    // winnowing-collision near-dup pairs + exact verify (MOSS-style)
    "q81_winnow_pairs" -> ((s: SparkSession, d: String) => Dedup.winnowPairs(s, d)),
    // pinned-hash stratified train/val/test split (map-side, no RNG)
    "q82_train_split" -> ((s: SparkSession, d: String) => graft.operators.Curation.trainValTestSplit(s, d)),
    // incremental ingest dedup: batch flagged vs history, zero history shuffle
    "q83_incremental_dedup" -> ((s: SparkSession, d: String) => Dedup.incrementalDedup(s, d)),
    // C4-style boilerplate scrub: shared-chunk removal + doc reconstruction
    "q84_boilerplate_scrub" -> ((s: SparkSession, d: String) => graft.operators.Curation.boilerplateScrub(s, d)),
    // boilerplate detector: top cross-document 5-grams by doc frequency
    "q85_frequent_ngrams" -> ((s: SparkSession, d: String) => TextAnalytics.frequentNgrams(s, d)),
    // SemDeDup resolution: components over q68 pairs, keep = least-central
    "q86_semantic_resolution" -> ((s: SparkSession, d: String) => Similarity.semanticResolution(s, d)),
    // per-source model-score CDF calibration (histogram-exact, broadcast)
    "q87_score_calibration" -> ((s: SparkSession, d: String) => TextAnalytics.scoreCalibration(s, d)),
    // best-N-per-domain quality cap (WindowGroupLimit partial below exchange)
    "q88_top_quality_per_source" -> ((s: SparkSession, d: String) => TextAnalytics.topQualityPerSource(s, d)),
    // cross-split leakage audit: holdout 8-grams vs the train split
    // (neither side broadcastable — exact gram-stream equi-join)
    "q89_split_leakage" -> ((s: SparkSession, d: String) => graft.operators.Curation.splitLeakage(s, d)),
    // Okapi BM25 keyword ranking over the shared tf table (retrieval scorer)
    "q90_bm25" -> ((s: SparkSession, d: String) => TextAnalytics.bm25Rank(s, d)),
    // integer fixed-point PageRank over the near-dup graph (bit-exact)
    "q91_dedup_pagerank" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupPagerank(s, d)),
    // product quantization: 8×8-dim sub-codebooks, 64 floats → 8 codes
    "q92_pq_encode" -> ((s: SparkSession, d: String) => Similarity.pqEncode(s, d)),
    // PQ asymmetric-distance top-k: broadcast LUT vs the code stream
    "q93_pq_topk" -> ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)),
    // add-½-smoothed bigram LM surprisal (KenLM-style quality signal)
    "q94_bigram_surprisal" -> ((s: SparkSession, d: String) => TextAnalytics.bigramSurprisal(s, d)),
    // cluster-balanced sampling: per-semantic-cell caps by pinned hash
    "q95_cluster_sample" -> ((s: SparkSession, d: String) => Similarity.clusterBalancedSample(s, d)),
    // content-defined chunking: boundaries from token hashes (edit-stable)
    "q96_cdc_chunks" -> ((s: SparkSession, d: String) => TextAnalytics.cdcChunks(s, d)),
    // estimator-quality gate: signature-estimated vs exact Jaccard
    "q97_minhash_estimator" -> ((s: SparkSession, d: String) => Dedup.minhashEstimatorAudit(s, d)),
    // curriculum packing: per-shard offsets in quality-score order
    "q98_curriculum_pack" -> ((s: SparkSession, d: String) => graft.operators.Curation.curriculumPacking(s, d)),
    // the capstone's trainer-facing layout as a pure hash-gated contract
    "q99_shard_manifest" -> ((s: SparkSession, d: String) => graft.operators.Curation.shardManifest(s, d)),
    // margin-gated dedup: estimator-accepted pairs skip the exact verify
    "q100_minhash_fast" -> ((s: SparkSession, d: String) => Dedup.minhashPairsFast(s, d)),
    // PQ serving accuracy: ADC top-5 recall vs exact squared-L2 ranking
    "q101_pq_recall" -> ((s: SparkSession, d: String) => Similarity.pqRecallAt5(s, d)),
    // intra-document repeated 8-gram audit (loop/template artifact signal)
    "q102_repeated_grams" -> ((s: SparkSession, d: String) => TextAnalytics.repeatedGrams(s, d)),
    // per-source unigram KL divergence from the corpus mix (domain drift)
    "q103_source_kl" -> ((s: SparkSession, d: String) => TextAnalytics.sourceKlDrift(s, d)),
    // per-source token-budget selection in quality order (mixture assembly)
    "q104_token_budget" -> ((s: SparkSession, d: String) => graft.operators.Curation.tokenBudgetSelection(s, d)),
    // per-cluster dedup savings report over the component resolution
    "q105_cluster_stats" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupClusterStats(s, d)),
    // asymmetric containment pairs over winnow fingerprints (quote/subset)
    "q106_winnow_containment" -> ((s: SparkSession, d: String) => Dedup.winnowContainment(s, d)),
    // benchmark-contamination span positions per training document.
    // Gated at n=3: the synthetic corpus has zero cross-doc 8-gram overlap
    // (an empty result would be a trivially-passing oracle); the operator's
    // production default stays n=8
    "q107_decontam_spans" -> ((s: SparkSession, d: String) => graft.operators.Curation.decontaminationSpans(s, d, n = 3)),
    // Zipf-slope regression over the vocabulary head (broadcast-assumption gate)
    "q108_zipf_audit" -> ((s: SparkSession, d: String) => TextAnalytics.zipfAudit(s, d)),
    // per-shard packing utilization report over the q52 layout
    "q109_packing_efficiency" -> ((s: SparkSession, d: String) => graft.operators.Curation.packingEfficiency(s, d)),
    // per-source canonical-survival attrition after component resolution
    "q110_dedup_survival" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupSurvivalBySource(s, d)),
    // C4-style normalized exact dedup (lowercase/punct-strip/space-squeeze)
    "q111_normalized_dedup" -> ((s: SparkSession, d: String) => Dedup.normalizedDedup(s, d)),
    // BPE first-merge candidate table: adjacent char-pair counts, top-100
    "q112_bpe_pairs" -> ((s: SparkSession, d: String) => TextAnalytics.bpePairCounts(s, d)),
    // LSH vs winnowing verified-pair reconciliation at the same threshold
    "q113_route_agreement" -> ((s: SparkSession, d: String) => Dedup.dedupRouteAgreement(s, d)),
    // integer-exact log2 document-length histogram (packing/truncation profile)
    "q114_length_histogram" -> ((s: SparkSession, d: String) => TextAnalytics.lengthHistogram(s, d)),
    // JL-projected pre-score + exact-cosine verify (the q79 payoff loop)
    "q115_projected_neardup" -> ((s: SparkSession, d: String) => Similarity.projectedNearDups(s, d)),
    // incremental near-dup: batch bands vs history, zero history shuffle
    "q116_incremental_neardup" -> ((s: SparkSession, d: String) => Dedup.incrementalNearDup(s, d)),
    // contrastive triplets: in-cell positive + hardest in-cell negative
    "q117_triplet_mining" -> ((s: SparkSession, d: String) => Similarity.tripletMining(s, d)),
    // span excision: cut benchmark-matching grams, rebuild the document
    "q118_excise_contamination" -> ((s: SparkSession, d: String) => graft.operators.Curation.exciseContamination(s, d)),
    // per-source winsorized model scores (histogram-exact p5/p95 clip)
    "q119_winsorized_scores" -> ((s: SparkSession, d: String) => TextAnalytics.winsorizedScores(s, d)),
    // mixture shares before vs after the composed keep/drop verdict
    "q120_survivor_mix" -> ((s: SparkSession, d: String) => graft.operators.Curation.survivorMixShift(s, d)),
    // reverse contamination: per-benchmark-doc blast radius in the corpus
    "q121_benchmark_contamination" -> ((s: SparkSession, d: String) => graft.operators.Curation.benchmarkContamination(s, d)),
    // session-sequence dedup: behavioral replay/bot detection (q22 on sessions)
    "q122_session_dedup" -> ((s: SparkSession, d: String) => Sessions.sessionSequenceDedup(s, d)),
    // per-user replay score: fraction of a user's sessions duplicated elsewhere
    "q123_user_replay" -> ((s: SparkSession, d: String) => Sessions.userReplayScore(s, d)),
    // per-shard release-integrity checksums over the packed manifest
    "q124_shard_checksums" -> ((s: SparkSession, d: String) => graft.operators.Curation.shardChecksums(s, d)),
    // IVF-PQ composed: probe cells prune candidates, ADC codes score them
    "q125_ivfpq_topk" -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    // threshold tuning curve from one pass over the candidate audit
    "q126_threshold_sweep" -> ((s: SparkSession, d: String) => Dedup.dedupThresholdSweep(s, d)),
    // split-homogeneity audit: per-split KL vs the corpus distribution
    "q127_split_drift" -> ((s: SparkSession, d: String) => graft.operators.Curation.splitDriftAudit(s, d)),
    // quality-aware canonical: keep each cluster's cleanest member
    "q128_quality_canonical" -> ((s: SparkSession, d: String) => graft.operators.Curation.qualityCanonical(s, d)),
    // hybrid retrieval: BM25 ⊕ cosine fused by reciprocal rank (RRF)
    "q129_hybrid_rrf" -> ((s: SparkSession, d: String) => Similarity.hybridRetrievalRRF(s, d)),
    // leakage-aware split: one pinned draw per near-dup component
    "q130_leakage_aware_split" -> ((s: SparkSession, d: String) => graft.operators.Curation.leakageAwareSplit(s, d)),
    // per-label embedding integrity: degenerate vectors, norm envelope
    "q131_embedding_audit" -> ((s: SparkSession, d: String) => Similarity.embeddingAudit(s, d)),
    // quality-feature redundancy: pairwise Pearson r, decimal-exact sums
    "q132_feature_corr" -> ((s: SparkSession, d: String) => TextAnalytics.featureCorrelation(s, d)),
    // per-domain epoch plan: budget·share/tokens, fixed-point, capped
    "q133_epoch_plan" -> ((s: SparkSession, d: String) => graft.operators.Curation.mixtureEpochPlan(s, d)),
    // triangle participation over the near-dup graph (degree-oriented)
    "q134_triangles" -> ((s: SparkSession, d: String) => graft.operators.Curation.triangleCounts(s, d)),
    // doc-level near-dup pair counts by source pair (mirroring matrix)
    "q135_cross_source" -> ((s: SparkSession, d: String) => Dedup.crossSourceMatrix(s, d)),
    // fraction of each doc's trigrams found nowhere else (info yield)
    "q136_novelty" -> ((s: SparkSession, d: String) => TextAnalytics.noveltyScore(s, d)),
    // weighted sample w/o replacement: exponential clocks, pinned hash
    "q137_weighted_sample" -> ((s: SparkSession, d: String) => graft.operators.Curation.weightedSample(s, d)),
    // incremental resolver: history contracts to label edges, batch merges
    "q138_incremental_components" -> ((s: SparkSession, d: String) => graft.operators.Curation.incrementalComponents(s, d)),
    // tokenizer-coverage audit: per-doc OOV rate vs the pinned vocab head
    "q139_oov_rate" -> ((s: SparkSession, d: String) => TextAnalytics.oovRate(s, d)),
    // first-order Markov transitions over per-user event streams
    "q140_transition_matrix" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.transitionMatrix(s, d)),
    // PSI drift alarm per event type between the pinned cohorts
    "q141_value_drift_psi" -> ((s: SparkSession, d: String) => Relational.valueDriftPsi(s, d)),
    // estimator-error histogram by exact-Jaccard bin (margin evidence)
    "q142_estimator_margins" -> ((s: SparkSession, d: String) => Dedup.estimatorMarginHistogram(s, d)),
    // per-edge triangle support: flags weak chain-link near-dup edges
    "q143_edge_support" -> ((s: SparkSession, d: String) => graft.operators.Curation.edgeSupport(s, d)),
    // language-ID confusion matrix with per-language recall
    "q144_lang_confusion" -> ((s: SparkSession, d: String) => TextAnalytics.langConfusion(s, d)),
    // conservative resolve: components over triangle-supported edges only
    "q145_supported_components" -> ((s: SparkSession, d: String) => graft.operators.Curation.supportedComponents(s, d)),
    // per-user event-type entropy with a high-volume/low-entropy bot flag
    "q146_user_entropy" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.userEntropy(s, d)),
    // RFM user-value segmentation with pinned band thresholds
    "q147_rfm_segments" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.rfmSegments(s, d)),
    // market-basket item co-occurrence with lift over (user, day) baskets
    "q148_item_cooccurrence" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.itemCooccurrence(s, d)),
    // per-user purchase cadence: day gaps between consecutive purchases
    "q149_purchase_cadence" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.purchaseCadence(s, d)),
    // local clustering coefficient over the near-dup graph (mirror
    // families vs transitive hubs), from the memoized triangle table
    "q150_clustering_coeff" -> ((s: SparkSession, d: String) => graft.operators.Curation.clusteringCoefficient(s, d)),
    // top 30-min-gap session paths as ordered event-type strings
    "q151_session_paths" -> ((s: SparkSession, d: String) => Sessions.sessionPaths(s, d)),
    // Gini concentration of per-user activity, histogram-exact
    "q152_gini_activity" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.giniConcentration(s, d)),
    // Coleman-Liau readability: count-exact, map-side only
    "q153_readability" -> ((s: SparkSession, d: String) => TextAnalytics.readability(s, d)),
    // per-user inter-event burstiness (periodic-bot screen)
    "q154_burstiness" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.burstiness(s, d)),
    // top-k vocabulary token-coverage curve at pinned budgets
    "q155_vocab_coverage" -> ((s: SparkSession, d: String) => TextAnalytics.vocabCoverage(s, d)),
    // days from first event to first purchase, bounded histogram
    "q156_conversion_lag" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.conversionLag(s, d)),
    // same-source adjacency in packed shards vs random-permutation rate
    "q157_shard_mixing" -> ((s: SparkSession, d: String) => graft.operators.Curation.shardMixing(s, d)),
    // pairwise cosine between label centroids (class separability)
    "q158_centroid_geometry" -> ((s: SparkSession, d: String) => Similarity.centroidGeometry(s, d)),
    // corpus unigram entropy rate (nats/token), vocab-side fixed-point
    "q159_entropy_rate" -> ((s: SparkSession, d: String) => TextAnalytics.entropyRate(s, d)),
    // near-dup pairs whose endpoints carry different language labels
    "q160_cross_lang_pairs" -> ((s: SparkSession, d: String) => Dedup.crossLangPairs(s, d)),
    // mean model score of near-dup members vs unique docs (two rows)
    "q161_dedup_quality" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupQualityLink(s, d)),
    // token-mass duplication rate per source (chunk df >= 2, mass-weighted)
    "q162_duplication_mass" -> ((s: SparkSession, d: String) => Dedup.duplicationMass(s, d)),
    // median/MAD robust length fences per source
    "q163_length_outliers" -> ((s: SparkSession, d: String) => TextAnalytics.lengthOutliers(s, d)),
    // users returning each day after >= 2-day dormancy
    "q164_winback" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.winbackReport(s, d)),
    // DAU/WAU stickiness via interval-delta prefix sums over the date grid
    "q165_stickiness" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.stickiness(s, d)),
    // daily audience split into first-seen vs returning users
    "q166_new_returning" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.newVsReturning(s, d)),
    // per-type daily volume z-scores against own history (exact moments)
    "q167_daily_anomalies" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.dailyAnomalies(s, d)),
    // in-degree histogram of the cell-blocked kNN graph (hubness audit)
    "q168_knn_hubness" -> ((s: SparkSession, d: String) => Similarity.knnHubness(s, d)),
    // full 2^n grouping-set lattice over (event_type, day_of_week)
    "q169_event_cube" -> ((s: SparkSession, d: String) => Relational.eventCube(s, d)),
    // Pareto frontier on (n_tokens, model_score) via per-length maxima
    "q170_skyline_docs" -> ((s: SparkSession, d: String) => TextAnalytics.skylineDocs(s, d)),
    // exact mean pairwise cosine via the sum-vector identity (no pairs)
    "q171_isotropy" -> ((s: SparkSession, d: String) => Similarity.isotropy(s, d)),
    // Markov stationary distribution, integer fixed-point power iteration
    "q172_stationary_dist" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.stationaryDistribution(s, d)),
    // conversion share vs attribution-window length (asof + pinned sweep)
    "q173_attribution_windows" -> ((s: SparkSession, d: String) => graft.operators.TemporalJoins.attributionWindows(s, d)),
    // per-doc shared-chunk token fraction with integer-exact template flag
    "q174_template_scores" -> ((s: SparkSession, d: String) => Dedup.templateScores(s, d)),
    // day-N retention with right-censored denominators (offset-grid plan)
    "q175_retention_curve" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.retentionCurve(s, d)),
    // per-dimension embedding mean/variance (dead-dim audit, exact moments)
    "q176_dim_variance" -> ((s: SparkSession, d: String) => Similarity.dimVariance(s, d)),
    // cohort LTV triangle: cumulative revenue per cohort user by offset
    "q177_cohort_ltv" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.cohortLtv(s, d)),
    // Simpson lexical diversity (1 - sum p^2) per source, integer-exact
    "q178_simpson_diversity" -> ((s: SparkSession, d: String) => TextAnalytics.simpsonDiversity(s, d)),
    // per-cell majority label, share, and entropy (index-quality audit)
    "q179_cell_purity" -> ((s: SparkSession, d: String) => Similarity.cellPurity(s, d)),
    // near-dup component size histogram (mirror power-law read)
    "q180_component_sizes" -> ((s: SparkSession, d: String) => graft.operators.Curation.componentSizeHistogram(s, d)),
    // 30-min-gap session depth histogram with shares
    "q181_session_sizes" -> ((s: SparkSession, d: String) => Sessions.sessionSizeHistogram(s, d)),
    // Levenshtein verify over the LSH band candidates (char-level route)
    "q182_edit_distance" -> ((s: SparkSession, d: String) => Dedup.editDistancePairs(s, d)),
    // endpoint-degree Pearson over the near-dup edge list (integer ratio)
    "q183_assortativity" -> ((s: SparkSession, d: String) => graft.operators.Curation.degreeAssortativity(s, d)),
    // leading-digit distribution of order totals vs Benford expectation
    "q184_benford" -> ((s: SparkSession, d: String) => Relational.benfordOrders(s, d)),
    // per-shard min/max zone maps under two layouts + predicate skippability
    "q185_zone_map" -> ((s: SparkSession, d: String) => Relational.zoneMapAudit(s, d)),
    // bounded 2-core peeling of the near-dup graph (8 rounds + converged flag)
    "q186_kcore" -> ((s: SparkSession, d: String) => graft.operators.Curation.kCore(s, d)),
    // dyadic-decay EWMA of daily revenue in exact integer arithmetic
    "q187_ewma_revenue" -> ((s: SparkSession, d: String) => Relational.ewmaRevenue(s, d)),
    // PIVOT with a pinned value list → one static 7-column aggregate
    "q188_dow_pivot" -> ((s: SparkSession, d: String) => Relational.dowRevenuePivot(s, d)),
    // GROUPING SETS ((region,nation),(region),()) + grouping_id in one pass
    "q189_grouping_sets" -> ((s: SparkSession, d: String) => Relational.revenueGroupingSets(s, d)),
    // entry/exit/bounce rates per event_type over 30-min-gap sessions
    "q190_bounce_exit" -> ((s: SparkSession, d: String) => Sessions.bounceExitRates(s, d)),
    // calendar-lag autocorrelation of daily revenue, exact integer Pearson sums
    "q191_revenue_acf" -> ((s: SparkSession, d: String) => Relational.revenueAutocorrelation(s, d)),
    // per-type mean/sd/skew/kurtosis from exact integer power sums
    "q192_value_moments" -> ((s: SparkSession, d: String) => Relational.valueMoments(s, d)),
    // Adamic-Adar link prediction over the near-dup graph (hub-capped wedges)
    "q193_adamic_adar" -> ((s: SparkSession, d: String) => graft.operators.Curation.adamicAdar(s, d)),
    // 3-hop harmonic centrality: frontier sweeps + exact 1/d fixed point
    "q194_harmonic_centrality" -> ((s: SparkSession, d: String) => graft.operators.Curation.harmonicCentrality(s, d)),
    // in-row type-token ratio + hapax share (zero-shuffle map pass)
    "q195_lexical_richness" -> ((s: SparkSession, d: String) => TextAnalytics.lexicalRichness(s, d)),
    // windowed co-occurrence PMI top-k (offset-exploded equality join)
    "q196_pmi_pairs" -> ((s: SparkSession, d: String) => TextAnalytics.pmiPairs(s, d)),
    // MMR diversified re-ranking of per-query cosine candidates
    "q197_mmr_rerank" -> ((s: SparkSession, d: String) => Similarity.mmrRerank(s, d)),
    // earliest-anchor greedy funnel with a 7-day completion window
    "q198_window_funnel" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.windowFunnel(s, d)),
    // power iteration on the exact integer scatter matrix (∞-norm steps)
    "q199_dominant_component" -> ((s: SparkSession, d: String) => Similarity.dominantComponent(s, d)),
    // Markov removal-effect channel attribution in integer fixed point
    "q200_removal_attribution" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.removalAttribution(s, d)),
    // BPE merge-rule learning: 6 count-argmax-merge rounds on the vocab
    "q201_bpe_merges" -> ((s: SparkSession, d: String) => TextAnalytics.bpeMergeLoop(s, d)),
    // 31-day rolling OLS slope: exact integer numerator, pinned denominator
    "q202_rolling_trend" -> ((s: SparkSession, d: String) => Relational.rollingTrend(s, d)),
    // one-step-ahead EWMA backtest with fixed-point absolute errors
    "q203_forecast_backtest" -> ((s: SparkSession, d: String) => Relational.forecastBacktest(s, d)),
    // majority-vote kNN label eval over the q29 neighbor contract
    "q204_knn_eval" -> ((s: SparkSession, d: String) => Similarity.knnLabelEval(s, d)),
    // mod-hash vs rendezvous-hash movement on shard-count change, in-row
    "q205_shard_rebalance" -> ((s: SparkSession, d: String) => graft.operators.Curation.shardRebalance(s, d)),
    // apply the learned q201 merges: per-doc subword counts, zero-shuffle
    "q206_bpe_encode" -> ((s: SparkSession, d: String) => TextAnalytics.bpeEncode(s, d)),
    // seed labels spread over the near-dup graph, 3 integer-vote rounds
    "q207_label_propagation" -> ((s: SparkSession, d: String) => graft.operators.Curation.labelPropagation(s, d)),
    // count-of-counts Good-Turing smoothing of the corpus vocabulary
    "q208_good_turing" -> ((s: SparkSession, d: String) => TextAnalytics.goodTuring(s, d)),
    // 4x1024 count-min sketch vs exact counts for the top-100 words
    "q209_cms_audit" -> ((s: SparkSession, d: String) => TextAnalytics.cmsAudit(s, d)),
    // per-source KMV (k=64) distinct-shingle estimate vs exact
    "q210_kmv_distinct" -> ((s: SparkSession, d: String) => TextAnalytics.kmvDistinct(s, d)),
    // nDCG@5 of LSH/IVF vs exact top-5, pinned integer discounts
    "q211_ndcg_eval" -> ((s: SparkSession, d: String) => Similarity.ndcgAt5(s, d)),
    // half-life-decayed engagement: exact power-of-two week weights
    "q212_decay_engagement" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.decayEngagement(s, d)),
    // argmax-transition model trained on days 1-20, scored on the rest
    "q213_next_event_backtest" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.nextEventBacktest(s, d)),
    // ISO-weekday revenue seasonal factors on the zero-filled spine
    "q214_seasonal_index" -> ((s: SparkSession, d: String) => Relational.seasonalIndex(s, d)),
    // m=256 HLL registers vs exact distinct shingles, integer denominator
    "q215_hll_audit" -> ((s: SparkSession, d: String) => TextAnalytics.hllAudit(s, d)),
    // two-sample KS statistic of doc length, each source vs the rest
    "q216_ks_drift" -> ((s: SparkSession, d: String) => TextAnalytics.ksDrift(s, d)),
    // reciprocal-top-1 pairs over the trained IVF cells
    "q217_mutual_nn" -> ((s: SparkSession, d: String) => Similarity.mutualNearestNeighbors(s, d)),
    // exact Mann-Whitney U of model score, keep vs drop (midrank ties)
    "q218_mannwhitney_quality" -> ((s: SparkSession, d: String) => graft.operators.Curation.mannWhitneyQuality(s, d)),
    // Kaplan-Meier weekly retention with right-censoring, x1e12 fixed point
    "q219_survival_curve" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.survivalCurve(s, d)),
    // session->purchase conversion per weekday with Wilson 95% bounds
    "q220_conversion_wilson" -> ((s: SparkSession, d: String) => Sessions.conversionWilson(s, d)),
    // deterministic Poisson bootstrap SE of mean model score per source
    "q221_bootstrap_se" -> ((s: SparkSession, d: String) => TextAnalytics.bootstrapSe(s, d)),
    // vocabulary-growth (Heaps) curve at doc-id decile checkpoints
    "q222_heaps_curve" -> ((s: SparkSession, d: String) => TextAnalytics.heapsCurve(s, d)),
    // recall/precision of four LSH band configs vs exact-Jaccard truth
    "q223_band_tuning" -> ((s: SparkSession, d: String) => graft.operators.Dedup.bandTuningSweep(s, d)),
    // per-source c-TF-IDF keywords (source as pseudo-document)
    "q224_class_tfidf" -> ((s: SparkSession, d: String) => TextAnalytics.classTfidf(s, d)),
    // near-dup clustering at 0.7/0.8/0.9 cuts of the one verified pair list
    "q225_dedup_dendrogram" -> ((s: SparkSession, d: String) => graft.operators.Curation.dedupDendrogram(s, d)),
    // Ljung-Box white-noise Q over the q191 ACF, x1e18 integer terms
    "q226_ljung_box" -> ((s: SparkSession, d: String) => Relational.ljungBox(s, d)),
    // CUSUM argmax |N*S_t - t*S_N| on the day spine, exact integers
    "q227_cusum_changepoint" -> ((s: SparkSession, d: String) => Relational.cusumChangepoint(s, d)),
    // two-proportion z-test, arms by user-id parity, pooled variance
    "q228_ab_ztest" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.abConversionZtest(s, d)),
    // ceil-division oversampling factors to level the label classes
    "q229_class_balance" -> ((s: SparkSession, d: String) => Similarity.classBalancePlan(s, d)),
    // cross-user session overlaps via hour-bucketed interval self-join
    "q230_concurrent_sessions" -> ((s: SparkSession, d: String) => Sessions.concurrentSessions(s, d)),
    // Pearson chi-square independence of event_type x ISO weekday
    "q231_chi_square" -> ((s: SparkSession, d: String) => Relational.chiSquareDowType(s, d)),
    // Spearman rank correlation of per-user activity metrics (midranks)
    "q232_spearman" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.spearmanActivity(s, d)),
    // Theil-Sen robust slope: median of pairwise day-spine slopes
    "q233_theil_sen" -> ((s: SparkSession, d: String) => Relational.theilSenTrend(s, d)),
    // Cohen's kappa of metadata lang vs the q32 stopword language-ID
    "q234_lang_kappa" -> ((s: SparkSession, d: String) => TextAnalytics.langKappa(s, d)),
    // log-loss/Brier/accuracy of a pinned logistic conversion model
    "q235_model_eval" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.logisticEval(s, d)),
    // per-language BPE fertility (subword tokens per word)
    "q236_bpe_fertility" -> ((s: SparkSession, d: String) => TextAnalytics.bpeFertility(s, d)),
    // bin-boundary straddle audit over the packed shard manifest
    "q237_packing_straddle" -> ((s: SparkSession, d: String) => graft.operators.Curation.packingStraddleAudit(s, d)),
    // Hill tail-index of the document-length distribution
    "q238_hill_tail" -> ((s: SparkSession, d: String) => TextAnalytics.hillTailIndex(s, d)),
    // exact-integer Haar wavelet pyramid of daily revenue
    "q239_haar_revenue" -> ((s: SparkSession, d: String) => Relational.haarRevenue(s, d)),
    // pairwise source vocabulary-overlap (3-gram Jaccard) matrix
    "q240_vocab_overlap" -> ((s: SparkSession, d: String) => TextAnalytics.vocabOverlap(s, d)),
    // per-hamming precision + cumulative recall of simhash vs Jaccard truth
    "q241_simhash_sweep" -> ((s: SparkSession, d: String) => graft.operators.Dedup.simhashThresholdSweep(s, d)),
    // longest-common-prefix profile of the near-dup candidate pairs
    "q242_neardup_lcp" -> ((s: SparkSession, d: String) => graft.operators.Dedup.neardupLcp(s, d)),
    // train-split n-gram coverage of the test split, n = 1..4
    "q243_split_coverage" -> ((s: SparkSession, d: String) => graft.operators.Curation.splitCoverageCurve(s, d)),
    // k-anonymity risk mass of the (nation, segment) quasi-identifier
    "q244_k_anonymity" -> ((s: SparkSession, d: String) => Relational.kAnonymityAudit(s, d)),
    // fraction of docs near-duplicating an earlier doc, per ingest decile
    "q245_recrawl_redundancy" -> ((s: SparkSession, d: String) => graft.operators.Dedup.recrawlRedundancy(s, d)),
    // added/removed/changed/unchanged per source between corpus versions
    "q246_snapshot_diff" -> ((s: SparkSession, d: String) => graft.operators.Curation.snapshotDiff(s, d)),
    // median/MAD robust daily revenue anomalies, pure integer flags
    "q247_mad_anomalies" -> ((s: SparkSession, d: String) => Relational.madAnomalies(s, d)),
    // Monroe log-odds (informative Dirichlet prior) keywords per source
    "q248_log_odds_keywords" -> ((s: SparkSession, d: String) => TextAnalytics.logOddsKeywords(s, d)),
    // per-brand log-log OLS price elasticity of demand
    "q249_price_elasticity" -> ((s: SparkSession, d: String) => Relational.priceElasticity(s, d)),
    // one-row dataset card: counts, near-dup rate, keep rate, mean score
    "q250_dataset_card" -> ((s: SparkSession, d: String) => graft.operators.Curation.datasetCard(s, d)),
    // STL-lite trend/weekly-seasonal/residual split of daily revenue
    "q251_seasonal_decompose" -> ((s: SparkSession, d: String) => Relational.seasonalDecompose(s, d)),
    // session counts/depth at 15/30/60-min inactivity gaps
    "q252_gap_sweep" -> ((s: SparkSession, d: String) => Sessions.sessionGapSweep(s, d)),
    // unigram KL of each doc-id decile vs the corpus (drift over ingest)
    "q253_ingest_drift" -> ((s: SparkSession, d: String) => TextAnalytics.ingestVocabDrift(s, d)),
    // minimum detectable effect at 80% power for the q228 A/B arms
    "q254_ab_power" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.abPowerMde(s, d)),
    // per-user mean transition surprisal under the corpus Markov model
    "q255_user_perplexity" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.userPerplexity(s, d)),
    // exact per-type value deciles over the bounded cents grain
    "q256_value_deciles" -> ((s: SparkSession, d: String) => Relational.valueDeciles(s, d)),
    // mutual information + marginal entropies of event_type x weekday
    "q257_dow_mutual_info" -> ((s: SparkSession, d: String) => Relational.dowTypeMutualInfo(s, d)),
    // strict local maxima of the 31-day revenue trend line
    "q258_trend_peaks" -> ((s: SparkSession, d: String) => Relational.trendPeaks(s, d)),
    // ship-lag histogram with share and cumulative SLA curve
    "q259_ship_lag" -> ((s: SparkSession, d: String) => Relational.shipLagHistogram(s, d)),
    // token entropy per relative-position decile (boilerplate localizer)
    "q260_positional_entropy" -> ((s: SparkSession, d: String) => TextAnalytics.positionalEntropy(s, d)),
    // hamming theta-join planned as a pigeonhole equality join by the rule
    "q261_hamming_join_rewrite" -> ((s: SparkSession, d: String) => graft.operators.Dedup.simhashPairsPlanned(s, d)),
    // RFM segment flow between the window's first and second half
    "q262_rfm_migration" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.rfmMigration(s, d)),
    // per-source shared-opening/-closing (header/footer) document rates
    "q263_head_tail_boilerplate" -> ((s: SparkSession, d: String) => graft.operators.Dedup.headTailBoilerplate(s, d)),
    // hour x weekday activity heatmap with week and day shares
    "q264_activity_heatmap" -> ((s: SparkSession, d: String) => Relational.activityHeatmap(s, d)),
    // hours-between-sessions return-gap histogram with SLA-style curve
    "q265_session_return_gaps" -> ((s: SparkSession, d: String) => Sessions.sessionReturnGaps(s, d)),
    // Hyndman seasonal/trend strength of the q251 decomposition
    "q266_seasonal_strength" -> ((s: SparkSession, d: String) => Relational.seasonalStrength(s, d)),
    // per-user keep/drop verdict: entropy + perplexity + replay screens
    "q267_user_curation" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.userCurationDecisions(s, d)),
    // discount-band volume/quantity/revenue-share effectiveness table
    "q268_discount_bands" -> ((s: SparkSession, d: String) => Relational.discountBands(s, d)),
    // Heaps-law log-log fit and 10x vocabulary projection
    "q269_heaps_projection" -> ((s: SparkSession, d: String) => TextAnalytics.heapsProjection(s, d)),
    // customer revenue concentration by power-of-two spend band
    "q270_revenue_concentration" -> ((s: SparkSession, d: String) => Relational.revenueConcentration(s, d)),
    // Rand / adjusted-Rand agreement of the 0.7 vs 0.8 dedup clusterings
    "q271_clustering_agreement" -> ((s: SparkSession, d: String) => graft.operators.Curation.clusteringAgreement(s, d)),
    // LSH candidate precision as a function of document length band
    "q272_lsh_precision_by_length" -> ((s: SparkSession, d: String) => graft.operators.Dedup.lshPrecisionByLength(s, d)),
    // per-session peak events-per-minute histogram (burst screen)
    "q273_session_peak_rate" -> ((s: SparkSession, d: String) => Sessions.sessionPeakRate(s, d)),
    // TPC-H Q5-shape local supplier volume (six-table star join)
    "q274_local_supplier_volume" -> ((s: SparkSession, d: String) => Relational.localSupplierVolume(s, d)),
    // per-nation supplier revenue HHI + top supplier share
    "q275_supplier_hhi" -> ((s: SparkSession, d: String) => Relational.supplierHhi(s, d)),
    // near-dup graph degree histogram
    "q276_dedup_degrees" -> ((s: SparkSession, d: String) => graft.operators.Dedup.dedupDegreeHistogram(s, d)),
    // embedding norm-band histogram per label
    "q277_norm_bands" -> ((s: SparkSession, d: String) => Similarity.normBands(s, d)),
    // order priority x status composition with shares
    "q278_order_priority_mix" -> ((s: SparkSession, d: String) => Relational.orderPriorityMix(s, d)),
    // customer vs supplier account-balance deciles (exact, cents grain)
    "q279_acctbal_deciles" -> ((s: SparkSession, d: String) => Relational.acctbalDeciles(s, d)),
    // q280-q283: stage-wise diagnostic gates bisecting the r7 red-cell
    // family (day-grain table -> spine -> rolling window; CMS buckets)
    "q280_daily_cents_audit" -> ((s: SparkSession, d: String) => Relational.dailyCentsAudit(s, d)),
    "q281_spine_audit" -> ((s: SparkSession, d: String) => Relational.spineAudit(s, d)),
    "q282_window_probe" -> ((s: SparkSession, d: String) => Relational.spineWindowProbe(s, d)),
    "q283_cms_bucket_probe" -> ((s: SparkSession, d: String) => TextAnalytics.cmsBucketProbe(s, d)),
    // q284-q286: the multimodal pipeline beyond q34's decode — frame
    // sampling, feature extraction, resize planning (stub codec, real
    // partition-wise plumbing)
    "q284_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "q285_media_features" -> ((s: SparkSession, d: String) => Multimodal.byteHistogramFeatures(s, d)),
    "q286_resize_plan" -> ((s: SparkSession, d: String) => Multimodal.resizePlan(s, d)),
    // q287-q288: the media pipeline's dedup and retrieve stages over the
    // q284/q285 frame and feature rows
    "q287_frame_dedup" -> ((s: SparkSession, d: String) => Multimodal.frameDedup(s, d)),
    "q288_media_feature_ann" -> ((s: SparkSession, d: String) => Multimodal.mediaFeatureAnn(s, d)),
    // q289: the exact-digest verify verdict over q287's candidate groups
    "q289_frame_dedup_verify" -> ((s: SparkSession, d: String) => Multimodal.frameDedupVerify(s, d)),
    // q290-q294: round-8 continuation batch — data-quality, lead-lag,
    // rank-test, rank-correlation and IR-index-sizing operators
    "q290_fk_integrity" -> ((s: SparkSession, d: String) => Relational.fkIntegrity(s, d)),
    "q291_revenue_count_ccf" -> ((s: SparkSession, d: String) => Relational.revenueCountCcf(s, d)),
    "q292_kruskal_wallis" -> ((s: SparkSession, d: String) => Relational.kruskalWallisPriority(s, d)),
    "q293_kendall_tau" -> ((s: SparkSession, d: String) => Relational.kendallTauDaily(s, d)),
    "q294_postings_audit" -> ((s: SparkSession, d: String) => TextAnalytics.postingsAudit(s, d)),
    // q295-q297: phrase index-vs-scan audit, Welch t-test, exact 1-D
    // Wasserstein drift
    "q295_phrase_search" -> ((s: SparkSession, d: String) => TextAnalytics.phraseSearch(s, d)),
    "q296_welch_ttest" -> ((s: SparkSession, d: String) => Relational.welchTtest(s, d)),
    "q297_wasserstein_drift" -> ((s: SparkSession, d: String) => Relational.wassersteinDrift(s, d)),
    // q298-q301: capped sessionization, ranking-function kitchen,
    // Brown-Forsythe variance test, Cramér's V effect size
    "q298_capped_sessions" -> ((s: SparkSession, d: String) => Sessions.cappedSessionHistogram(s, d)),
    "q299_rank_functions" -> ((s: SparkSession, d: String) => Relational.rankFunctionKitchen(s, d)),
    "q300_levene_bf" -> ((s: SparkSession, d: String) => Relational.leveneBrownForsythe(s, d)),
    "q301_cramers_v" -> ((s: SparkSession, d: String) => Relational.cramersVPriority(s, d)),
    // q302-q304: embedding outlier scan, per-class lang-ID eval, exact AUC
    "q302_mahalanobis_outliers" -> ((s: SparkSession, d: String) => graft.operators.Similarity.mahalanobisOutliers(s, d)),
    "q303_lang_macro_f1" -> ((s: SparkSession, d: String) => TextAnalytics.langMacroF1(s, d)),
    "q304_quality_auc" -> ((s: SparkSession, d: String) => TextAnalytics.qualityAuc(s, d)),
    // q305-q310: the TPC-H classics pack (Q4/Q6/Q14/Q15/Q17/Q19 shapes
    // adapted to this schema — see Relational scaladoc)
    "q305_tpch_q4_late" -> ((s: SparkSession, d: String) => Relational.tpchQ4LateOrders(s, d)),
    "q306_tpch_q6_forecast" -> ((s: SparkSession, d: String) => Relational.tpchQ6Forecast(s, d)),
    "q307_tpch_q14_promo" -> ((s: SparkSession, d: String) => Relational.tpchQ14Promo(s, d)),
    "q308_tpch_q15_top_supplier" -> ((s: SparkSession, d: String) => Relational.tpchQ15TopSupplier(s, d)),
    "q309_tpch_q17_small_qty" -> ((s: SparkSession, d: String) => Relational.tpchQ17SmallQty(s, d)),
    "q310_tpch_q19_disjunctive" -> ((s: SparkSession, d: String) => Relational.tpchQ19Disjunctive(s, d)),
    // q311: exact 3-feature OLS in DECIMAL Cramer arithmetic
    "q311_ols_normal_eq" -> ((s: SparkSession, d: String) => Relational.olsNormalEquations(s, d)),
    // q312: forward as-of — next error after each purchase within horizon
    "q312_asof_forward" -> ((s: SparkSession, d: String) => graft.operators.TemporalJoins.purchaseNextError(s, d)),
    // q313: multi-touch linear attribution, exactly credit-conserving
    "q313_linear_attribution" -> ((s: SparkSession, d: String) => graft.operators.TemporalJoins.linearAttribution(s, d)),
    // q314: decile lift/gains for the q304 label — threshold-picking view
    "q314_quality_lift" -> ((s: SparkSession, d: String) => TextAnalytics.qualityLiftDeciles(s, d)),
    // q315: bag-semantics set ops (q07 covers the DISTINCT half)
    "q315_setops_all" -> ((s: SparkSession, d: String) => Relational.multisetSetOps(s, d)),
    // q316: Fellegi-Sunter record-linkage parameter estimation
    "q316_fellegi_sunter" -> ((s: SparkSession, d: String) => graft.operators.EntityResolution.fellegiSunter(s, d)),
    // q317: blocking reduction-ratio + pair-completeness vs the truth set
    "q317_blocking_audit" -> ((s: SparkSession, d: String) => graft.operators.EntityResolution.blockingAudit(s, d)),
    // q318: the 2³ FS agreement patterns with composite log-weight scores
    "q318_fs_score_patterns" -> ((s: SparkSession, d: String) => graft.operators.EntityResolution.fsScorePatterns(s, d)),
    // q319: header-vs-lines value reconciliation (q290's value-level twin)
    "q319_order_reconciliation" -> ((s: SparkSession, d: String) => Relational.orderReconciliation(s, d)),
    // q320: positional integrity — l_linenumber dense 1..k per order
    "q320_linenumber_audit" -> ((s: SparkSession, d: String) => Relational.linenumberAudit(s, d)),
    // q321-q327: TPC-H classics pack 2 — the remaining shapes this schema
    // can express (Q7/Q8/Q10/Q13/Q18/Q21/Q22; see Relational scaladoc)
    "q321_tpch_q7_volume" -> ((s: SparkSession, d: String) => Relational.tpchQ7VolumeShipping(s, d)),
    "q322_tpch_q8_mktshare" -> ((s: SparkSession, d: String) => Relational.tpchQ8MarketShare(s, d)),
    "q323_tpch_q10_returns" -> ((s: SparkSession, d: String) => Relational.tpchQ10ReturnedItems(s, d)),
    "q324_tpch_q13_orderdist" -> ((s: SparkSession, d: String) => Relational.tpchQ13OrderCounts(s, d)),
    "q325_tpch_q18_bigorders" -> ((s: SparkSession, d: String) => Relational.tpchQ18LargeVolume(s, d)),
    "q326_tpch_q21_waiting" -> ((s: SparkSession, d: String) => Relational.tpchQ21WaitingSuppliers(s, d)),
    "q327_tpch_q22_dormant" -> ((s: SparkSession, d: String) => Relational.tpchQ22GlobalSales(s, d)),
    // q328: partial autocorrelation lags 1-3, exact Yule-Walker/Cramer
    "q328_pacf_revenue" -> ((s: SparkSession, d: String) => Relational.pacfDailyRevenue(s, d)),
    // q329: Morton-code clustering audit — 2-D predicate file skipping
    "q329_zorder_layout" -> ((s: SparkSession, d: String) => Relational.zorderLayoutAudit(s, d)),
    // q330: confusion-matrix operating point + MCC + average precision
    "q330_classifier_eval" -> ((s: SparkSession, d: String) => TextAnalytics.classifierEval(s, d)),
    // q331: directed association rules (confidence/lift/conviction)
    "q331_assoc_rules" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.associationRules(s, d)),
    // q332: bounded k-truss peel over the near-dup graph (k=3, 3 rounds)
    "q332_ktruss_peel" -> ((s: SparkSession, d: String) => graft.operators.Curation.kTruss(s, d)),
    // q333: BASE ⊕ DELTA incremental-aggregate maintenance audit
    "q333_incr_agg_audit" -> ((s: SparkSession, d: String) => Relational.incrementalAggAudit(s, d)),
    // q334: Holt linear forecast backtest in exact dyadic fixed point
    "q334_holt_backtest" -> ((s: SparkSession, d: String) => Relational.holtBacktest(s, d)),
    // q335: greedy next-fit-decreasing compaction planner
    "q335_compaction_plan" -> ((s: SparkSession, d: String) => graft.operators.Curation.compactionPlan(s, d)),
    // q336: synchronous majority-label-propagation communities (3 rounds)
    "q336_lpa_communities" -> ((s: SparkSession, d: String) => graft.operators.Curation.lpaCommunities(s, d)),
    // q337: bounded 3-hop neighborhood growth + capped eccentricity
    "q337_hop_neighborhoods" -> ((s: SparkSession, d: String) => graft.operators.Curation.hopNeighborhoods(s, d)),
    // q338: RAKE keyphrase extraction, fixed-point word scores, top 30
    "q338_rake_keyphrases" -> ((s: SparkSession, d: String) => TextAnalytics.rakeKeyphrases(s, d)),
    // q339: per-label retrieval MRR@10 / precision@10 over exact cosine
    "q339_retrieval_mrr" -> ((s: SparkSession, d: String) => graft.operators.Similarity.retrievalLabelMetrics(s, d)),
    // q340: Newman modularity of components vs LPA vs singletons
    "q340_partition_modularity" -> ((s: SparkSession, d: String) => graft.operators.Curation.partitionModularity(s, d)),
    // q341: nearest-centroid confusion matrix, exact fixed point
    "q341_centroid_confusion" -> ((s: SparkSession, d: String) => graft.operators.Similarity.centroidConfusion(s, d)),
    // q343: seasonal-naive lag-7 backtest vs the naive lag-1 floor
    "q343_seasonal_naive" -> ((s: SparkSession, d: String) => Relational.seasonalNaiveBacktest(s, d)),
    // q344: join-fanout audit of the events user_id key (exact order stats)
    "q344_join_fanout" -> ((s: SparkSession, d: String) => graft.operators.Skew.joinFanoutAudit(s, d)),
    // q345: wide daily metric matrix melted long via native unpivot
    "q345_unpivot_metrics" -> ((s: SparkSession, d: String) => Relational.unpivotDailyMetrics(s, d)),
    // q346: 64-bit activity bitmaps; lag retention by shift-AND-popcount
    "q346_bitmap_retention" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.bitmapRetention(s, d)),
    // q347: pairwise KMV sketch-merge intersection/Jaccard estimates
    "q347_kmv_intersection" -> ((s: SparkSession, d: String) => TextAnalytics.kmvIntersection(s, d)),
    // q348: grid-blocked DBSCAN over the (n_chars, spaces) integer plane
    "q348_grid_dbscan" -> ((s: SparkSession, d: String) => graft.operators.Curation.gridDbscan(s, d)),
    // q349: mergeable rank-coreset quantile sketch, exact-rank audited
    "q349_coreset_quantiles" -> ((s: SparkSession, d: String) => Relational.coresetQuantiles(s, d)),
    // q350: trained Laplace-smoothed multinomial NB language classifier
    "q350_naive_bayes" -> ((s: SparkSession, d: String) => TextAnalytics.naiveBayesLang(s, d)),
    // q351: split-conformal 80% interval around the lag-7 forecaster
    "q351_conformal_forecast" -> ((s: SparkSession, d: String) => Relational.conformalForecast(s, d)),
    // q352: exact-integer-Gini decision stump over doc features
    "q352_decision_stump" -> ((s: SparkSession, d: String) => TextAnalytics.decisionStump(s, d)),
    // q353: leakage-free 5-fold CV of the naive Bayes (BASE-minus-fold)
    "q353_naive_bayes_cv" -> ((s: SparkSession, d: String) => TextAnalytics.naiveBayesCv(s, d)),
    // q354: pinned-hash permutation test of the en length difference
    "q354_permutation_test" -> ((s: SparkSession, d: String) => TextAnalytics.permutationTest(s, d)),
    // q355: isotonic (PAV) fit via the declarative minimax identity
    "q355_isotonic_calibration" -> ((s: SparkSession, d: String) => TextAnalytics.isotonicCalibration(s, d)),
    // q356: ordered first-a-before-first-b pattern mining with lift
    "q356_sequential_patterns" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.sequentialPatterns(s, d)),
    // q357: squared-euclidean silhouette of the trained-codebook cells
    "q357_silhouette" -> ((s: SparkSession, d: String) => Similarity.silhouette(s, d)),
    // q358: bipartite HITS authorities over user x event-type incidence
    "q358_hits_bipartite" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.hitsBipartite(s, d)),
    // q359: Wald SPRT daily trajectory, pinned 6-dp LLR constants
    "q359_sprt_daily" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.sprtDaily(s, d)),
    // q360: within/between scatter + Calinski-Harabasz variance ratio
    "q360_cluster_dispersion" -> ((s: SparkSession, d: String) => Similarity.clusterDispersion(s, d)),
    // q361: CUPED pre-period covariate adjustment, exact integer moments
    "q361_cuped" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.cupedAdjustment(s, d)),
    // q362: mean/median/trimmed/Hodges-Lehmann per source, exact grids
    "q362_robust_location" -> ((s: SparkSession, d: String) => TextAnalytics.robustLocation(s, d)),
    // q363: two-sweep Tukey median polish of the (dow, week) matrix
    "q363_median_polish" -> ((s: SparkSession, d: String) => Relational.medianPolish(s, d)),
    // q364: sample-ratio-mismatch chi-square vs the designed 50/50
    "q364_srm_audit" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.srmAudit(s, d)),
    // q365: decile-by-decile QQ shift between purchase and other values
    "q365_qq_shift" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.qqShift(s, d)),
    // q366: two-sample log-rank churn test between the q228 arms
    "q366_logrank_arms" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.logRankArms(s, d)),
    // q367: Lorenz concentration table behind the q152 Gini scalar
    "q367_lorenz_curve" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.lorenzCurve(s, d)),
    // q369: dominant scatter eigenvector by exact integer power iteration
    "q369_principal_direction" -> ((s: SparkSession, d: String) => Similarity.principalDirection(s, d)),
    // q370: quadratic-kernel MMD^2 between the two label halves
    "q370_mmd_quadratic" -> ((s: SparkSession, d: String) => Similarity.mmdQuadratic(s, d)),
    // q371: weight-of-evidence / information-value scorecard audit
    "q371_woe_iv" -> ((s: SparkSession, d: String) => TextAnalytics.woeInformationValue(s, d)),
    // q372: AMS +-1-sketch F2 estimators with median combine, exact audit
    "q372_ams_f2" -> ((s: SparkSession, d: String) => TextAnalytics.amsF2Sketch(s, d)),
    // q373: Page-Hinkley mean-shift trajectory, fully window-declarative
    "q373_page_hinkley" -> ((s: SparkSession, d: String) => Relational.pageHinkley(s, d)),
    // q374: exact 2^4-coalition Shapley conversion attribution (x24 ints)
    "q374_shapley_attribution" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.shapleyAttribution(s, d)),
    // q375: cumulative Qini uplift curve over pinned-model score deciles
    "q375_qini_curve" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.qiniCurve(s, d)),
    // q376: Friedman blocked rank test across event types (x2-grid ranks)
    "q376_friedman_test" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.friedmanTest(s, d)),
    // q377: variance-to-mean + Poisson dispersion per event type
    "q377_overdispersion" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.overdispersion(s, d)),
    // q379: reliability diagram on the pinned model's 4-dp score grid
    "q379_reliability_diagram" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.reliabilityDiagram(s, d)),
    // q380: densest-subgraph parallel peel (exact deg*4n < 5m predicate)
    "q380_densest_subgraph" -> ((s: SparkSession, d: String) => graft.operators.Curation.densestSubgraph(s, d)),
    // q378: Gumbel weekly-maxima fit, pinned-constant 52-week return level
    "q378_gumbel_return" -> ((s: SparkSession, d: String) => Relational.gumbelReturnLevel(s, d)),
    // q381: optimal-prefix-code audit vs the Shannon bound (alphabet-sized
    // driver merge loop; oracle unrolls the four merges declaratively)
    "q381_huffman_audit" -> ((s: SparkSession, d: String) => graft.analytics.Funnels.huffmanAudit(s, d)),
    // q382: z-clustered write + pruned 2-D scan round trip (layout-
    // invariant result; the spec asserts the row-group skip metrics)
    "q382_clustered_scan" -> ((s: SparkSession, d: String) => graft.lake.Lake.clusteredScan(s, d)),
    // q383: parquet-bloom point lookup on a hash-shuffled copy — the
    // skipping path zone maps can't serve (spec meters the skip)
    "q383_bloom_lookup" -> ((s: SparkSession, d: String) => graft.lake.Lake.bloomPointLookup(s, d)),
    // q384: dynamic partition pruning through a star join — the runtime
    // skipping path static filters can't serve (spec meters the prune)
    "q384_dpp_star" -> ((s: SparkSession, d: String) => graft.lake.Lake.dppScan(s, d)),
    // q385: grid-DBSCAN with the DISTRIBUTED component resolver — same
    // output contract as q348 (the q50/q72 precedent, resolver flavor)
    "q385_grid_dbscan_star" -> ((s: SparkSession, d: String) => graft.operators.Curation.gridDbscanStar(s, d)),
  )

  /** 30-min-gap sessionized event stream (user_id, ts, value, sid) — the
    * shared stage of the q18 per-session rollup and the q181 size
    * histogram (mirrors Sessions.sessionGap's session_window).
    */
  private[graft] val gapSessionsSql =
    """WITH s AS (
      | SELECT user_id, ts, event_id, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |    OR epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800
      |   THEN 1 ELSE 0 END AS new_s
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, ts, value, sum(new_s) OVER (
      |  PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |FROM s""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1,2""".stripMargin,
    "q02_top_revenue" ->
      """SELECT l_orderkey, o_orderdate,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q03_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,
    "q04_customer_orders" ->
      """SELECT c_custkey, c_name,
        | coalesce(cnt, 0) AS order_count,
        | coalesce(tp, 0.0) AS total_price
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS cnt, round(sum(o_totalprice),2) AS tp
        |  FROM orders GROUP BY 1) o ON c_custkey = o_custkey""".stripMargin,
    "q05_cust_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q06_cust_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q07_nation_setops" ->
      """WITH cn AS (SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer),
        |     sn AS (SELECT DISTINCT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier)
        |SELECT nationkey, 'union' AS set_op FROM (SELECT nationkey FROM cn UNION SELECT nationkey FROM sn)
        |UNION ALL
        |SELECT nationkey, 'intersect' AS set_op FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
        |UNION ALL
        |SELECT nationkey, 'except' AS set_op FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)""".stripMargin,
    "q08_topk_window" ->
      """WITH pp AS (
        |  SELECT l_suppkey, l_partkey, round(sum(l_extendedprice),2) AS revenue
        |  FROM lineitem GROUP BY 1,2),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey) AS INTEGER) AS "rank"
        |  FROM pp)
        |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,
    "q09_distinct_agg" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS distinct_parts,
        | count(DISTINCT l_suppkey) AS distinct_supps
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q10_split_categories" ->
      """SELECT p_partkey,
        | string_split(p_name, ' ')[1] AS main_category,
        | string_split(p_name, ' ')[2] AS sub_category,
        | string_split(p_name, ' ')[-1] AS last_category
        |FROM part""".stripMargin,
    "q11_session_level" ->
      """SELECT user_id, time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        | min(CAST(ts AS TIMESTAMP)) AS first_event_time,
        | max(CAST(ts AS TIMESTAMP)) AS last_event_time,
        | CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) - floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS session_duration_seconds,
        | count(event_type) AS number_of_events,
        | count(DISTINCT event_type) AS distinct_event_types,
        | CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS is_purchase
        |FROM events GROUP BY 1,2""".stripMargin,
    "q12_user_level" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor_date FROM events),
        |u AS (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS total_purchases,
        |  round(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL THEN value END),2) AS total_spent,
        |  max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS last_purchase_time
        | FROM events GROUP BY 1)
        |SELECT user_id, total_purchases, total_spent, last_purchase_time,
        | CAST(CASE WHEN last_purchase_time IS NOT NULL
        |   THEN date_diff('day', CAST(last_purchase_time AS DATE), anchor_date)
        |   ELSE -1 END AS INTEGER) AS days_since_last_purchase
        |FROM u CROSS JOIN a""".stripMargin,
    "q13_favorite_event_type" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS interaction_count
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY interaction_count DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS favorite_event_type, interaction_count
        |FROM r WHERE rn = 1""".stripMargin,
    "q14_user_enriched" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor_date FROM events),
        |u AS (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS total_purchases,
        |  round(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL THEN value END),2) AS total_spent,
        |  max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS last_purchase_time
        | FROM events GROUP BY 1),
        |ul AS (SELECT user_id, total_purchases, total_spent, last_purchase_time,
        | CAST(CASE WHEN last_purchase_time IS NOT NULL
        |   THEN date_diff('day', CAST(last_purchase_time AS DATE), anchor_date)
        |   ELSE -1 END AS INTEGER) AS days_since_last_purchase
        | FROM u CROSS JOIN a),
        |c AS (SELECT user_id, event_type, count(*) AS interaction_count
        |  FROM events GROUP BY 1,2),
        |rk AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY interaction_count DESC, event_type) AS rn FROM c),
        |fav AS (SELECT user_id, event_type AS favorite_event_type FROM rk WHERE rn = 1)
        |SELECT ul.*, fav.favorite_event_type
        |FROM ul LEFT JOIN fav USING (user_id)""".stripMargin,
    "q15_daily_activity" ->
      """WITH s AS (
        | SELECT user_id, time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        |  CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) - floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS dur
        | FROM events GROUP BY 1,2)
        |SELECT user_id, CAST(session_start AS DATE) AS session_date,
        | count(*) AS num_sessions, CAST(sum(dur) AS BIGINT) AS total_duration_seconds
        |FROM s GROUP BY 1,2""".stripMargin,
    "q16_daily_funnel" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        | count(DISTINCT user_id) AS users_count
        |FROM events GROUP BY 1,2""".stripMargin,
    "q17_daily_traffic" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        | (['facebook','google','tiktok_ads','organic'])[(CAST(props->>'k' AS INTEGER) % 4) + 1] AS utm_source,
        | count(DISTINCT user_id) AS users_count,
        | round(round(sum(value),2) / count(*), 4) AS avg_value
        |FROM events GROUP BY 1,2""".stripMargin,
    "q18_session_gap" ->
      s"""WITH g AS ($gapSessionsSql)
         |SELECT user_id,
         | min(CAST(ts AS TIMESTAMP)) AS session_start_time,
         | max(CAST(ts AS TIMESTAMP)) AS session_end_time,
         | count(*) AS number_of_events,
         | round(sum(value),2) AS session_value
         |FROM g GROUP BY user_id, sid""".stripMargin,
    // q181: q18's sessions rolled into a size histogram with shares
    "q181_session_sizes" ->
      s"""WITH g AS ($gapSessionsSql),
         |sess AS (SELECT user_id, sid, count(*) AS number_of_events
         |  FROM g GROUP BY 1, 2),
         |tot AS (SELECT count(*) AS n_total FROM sess)
         |SELECT number_of_events,
         | CAST(count(*) AS BIGINT) AS n_sessions,
         | round(CAST(count(*) AS DOUBLE) / min(tot.n_total), 6) AS share
         |FROM sess CROSS JOIN tot GROUP BY 1""".stripMargin,
    "q19_session_first_last" ->
      """SELECT user_id, time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        | arg_min(event_type, event_id) AS first_event_type,
        | arg_max(event_type, event_id) AS last_event_type,
        | min(event_id) AS first_event_id,
        | max(event_id) AS last_event_id
        |FROM events GROUP BY 1,2""".stripMargin,
    "q20_session_events_json" ->
      """SELECT user_id, time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        | CAST(count(*) AS INTEGER) AS n_events,
        | CAST(to_json(list(struct_pack(event_id := event_id, event_type := event_type)
        |   ORDER BY event_id)) AS VARCHAR) AS events_json
        |FROM events GROUP BY 1,2""".stripMargin,
    "q21_events_enriched" ->
      """SELECT event_id, user_id, event_type,
        | CAST(ts AS DATE) AS event_date,
        | dayname(CAST(ts AS TIMESTAMP)) AS day_of_week,
        | CAST(hour(ts) AS INTEGER) AS hour_of_day,
        | CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS INTEGER) AS is_purchase,
        | CASE WHEN event_type = 'purchase' AND value IS NOT NULL THEN round(value,2) END AS purchase_amount,
        | CASE WHEN value < 50 THEN 'low' WHEN value < 200 THEN 'mid' ELSE 'high' END AS value_bucket
        |FROM events""".stripMargin,
    // round-trip identity: serialize events per session to JSON, parse and
    // explode back → must equal a direct projection of the events table
    // (sessions are far below the 100-event cap at every sf)
    "q36_events_json_roundtrip" ->
      """SELECT user_id, time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        | event_id, event_type
        |FROM events""".stripMargin,
    "q42_asof_attribution" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        | CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        | round(p.value, 2) AS amount,
        | v.event_id AS last_view_id,
        | CAST(v.ts AS TIMESTAMP) AS last_view_ts,
        | CAST(CASE WHEN v.ts IS NOT NULL
        |   THEN floor(epoch(CAST(p.ts AS TIMESTAMP))) - floor(epoch(CAST(v.ts AS TIMESTAMP)))
        |   ELSE -1 END AS BIGINT) AS seconds_since_view
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,
    "q43_range_join" -> CorpusOracles.rangeJoinSql,
    "q49_profile" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .map(c =>
        s"""SELECT '$c' AS column_name,
           | (SELECT count(*) FROM customer) AS row_count,
           | count($c) AS non_nulls,
           | count(DISTINCT $c) AS distinct_count,
           | CAST(min($c) AS VARCHAR) AS min_value,
           | CAST(max($c) AS VARCHAR) AS max_value
           |FROM customer""".stripMargin)
      .mkString("\nUNION ALL\n"),
    "q47_funnel_depth" ->
      """WITH t1 AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view
        | FROM events GROUP BY 1),
        |t2 AS (SELECT e.user_id,
        |  min(CASE WHEN event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t_view
        |    THEN CAST(e.ts AS TIMESTAMP) END) AS t_click
        | FROM events e JOIN t1 USING (user_id) GROUP BY 1),
        |t3 AS (SELECT e.user_id,
        |  min(CASE WHEN event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t_click
        |    THEN CAST(e.ts AS TIMESTAMP) END) AS t_purchase
        | FROM events e JOIN t2 USING (user_id) GROUP BY 1)
        |SELECT user_id, t_view, t_click, t_purchase,
        | CAST((CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
        |  + (CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
        |  + (CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS funnel_depth
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin,
    "q48_cohort_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
        |SELECT cohort_week,
        | CAST(floor(date_diff('day', cohort_week, week) / 7) AS BIGINT) AS week_offset,
        | count(DISTINCT user_id) AS active_users
        |FROM ev JOIN cohort USING (user_id) GROUP BY 1,2""".stripMargin,
    "q44_order_timeline" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | round(o_totalprice, 2) AS price,
        | CAST(row_number() OVER w AS INTEGER) AS order_seq,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_total,
        | round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        | round(lead(o_totalprice, 1) OVER w, 2) AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q45_value_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n,
        | round(min(value), 2) AS min_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "q46_string_kitchen" ->
      """SELECT p_partkey,
        | upper(p_name) AS upper_name,
        | list_aggregate(list_transform(string_split(p_name, ' '),
        |   w -> upper(w[1]) || lower(w[2:])), 'string_agg', ' ') AS title_name,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | lpad(p_brand, 12, '#') AS padded_brand,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        | reverse(p_name) AS reversed,
        | substring(p_name, 2, 5) AS middle,
        | p_brand || '|' || p_type AS brand_type,
        | CAST(CASE WHEN instr(p_name, ' ') IS NULL THEN 0 ELSE instr(p_name, ' ') END AS BIGINT) AS space_pos
        |FROM part""".stripMargin,
    "q41_sql_cosine" ->
      """SELECT e.vec_id,
        | round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.v)
        |   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product(q.v, q.v))), 4) AS cosine
        |FROM embeddings e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id
        |LIMIT 20""".stripMargin,
    "q38_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q39_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_extendedprice), 2) AS revenue,
        | count(*) AS n_rows,
        | CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INTEGER) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q40_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'view') AS view,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1""".stripMargin,
  ) ++ CorpusOracles.sql
}

/** DuckDB mirrors of the corpus-scale operators (q22+). The hash-derived
  * ones are generated programmatically from the same pinned constants as
  * the Scala implementations (graft.functions.Hashing) so both sides compute
  * the identical integers.
  */
private object CorpusOracles {
  import graft.functions.Hashing.{MinhashCoefs, MinhashPrime}

  /** Grid-DBSCAN oracle, shared by q348 (driver union-find resolver) and
    * q385 (distributed star resolver): the quadratic ε-box join is the
    * oracle's candidate generator (500 docs); the min-label recursive
    * closure over core-core edges is the same fixpoint both resolvers
    * reach; border points pin to the min neighboring core's component.
    */
  private val gridDbscanSql: String =
    """WITH RECURSIVE f AS (SELECT doc_id, n_chars AS x,
      |  length(text) - length(replace(text, ' ', '')) AS y
      | FROM documents),
      |nb AS (SELECT a.doc_id AS da, b.doc_id AS db FROM f a JOIN f b
      |  ON abs(a.x - b.x) <= 5 AND abs(a.y - b.y) <= 2),
      |cnt AS (SELECT da AS doc_id, CAST(count(*) AS BIGINT)
      |  AS n_neighbors FROM nb GROUP BY 1),
      |core AS (SELECT doc_id FROM cnt WHERE n_neighbors >= 4),
      |e AS (SELECT da AS src, db AS dst FROM nb
      |  WHERE da <> db AND da IN (SELECT doc_id FROM core)
      |   AND db IN (SELECT doc_id FROM core)),
      |reach(doc_id, component) AS (
      |  SELECT doc_id, doc_id FROM core
      |  UNION
      |  SELECT e.dst, r.component FROM reach r JOIN e ON e.src = r.doc_id),
      |comp AS (SELECT doc_id, min(component) AS component
      |  FROM reach GROUP BY 1),
      |border AS (SELECT nb.da AS doc_id, min(c.component) AS component
      |  FROM nb JOIN comp c ON c.doc_id = nb.db
      |  WHERE nb.da NOT IN (SELECT doc_id FROM core) GROUP BY 1)
      |SELECT cnt.doc_id, cnt.n_neighbors,
      | CAST(CASE WHEN comp.doc_id IS NOT NULL THEN 1 ELSE 0 END
      |  AS INTEGER) AS is_core,
      | coalesce(comp.component, border.component, -1) AS cluster
      |FROM cnt
      |LEFT JOIN comp ON comp.doc_id = cnt.doc_id
      |LEFT JOIN border ON border.doc_id = cnt.doc_id""".stripMargin

  /** Shared BPE training CTE chain (wf/w0/p1..b6/w6) — the q201 gate and
    * the q206 encoder both unroll the same 6 merge rounds.
    */
  private val bpeTrainCtes: String = {
    val rounds = (1 to 6).map { r =>
      s"""p$r AS (SELECT a, b, sum(freq) AS cnt FROM (
         |   SELECT freq, arr[i] AS a, arr[i + 1] AS b FROM (
         |     SELECT freq, string_split(substring(seg, 2, len(seg) - 2),
         |       chr(2) || chr(1)) AS arr
         |     FROM w${r - 1}) t, unnest(range(1, len(arr))) u(i)
         |   WHERE len(arr) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS (SELECT freq, replace(seg,
         |    chr(1) || b$r.a || chr(2) || chr(1) || b$r.b || chr(2),
         |    chr(1) || b$r.a || b$r.b || chr(2)) AS seg
         |  FROM w${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1),
       |w0 AS (SELECT freq, regexp_replace(w, '(.)',
       |   chr(1) || '\\1' || chr(2), 'g') AS seg
       |  FROM wf),
       |$rounds""".stripMargin
  }

  /** 32-bit md5-prefix base hash of a SQL string expression. */
  private def h32(x: String) = s"CAST(('0x'||substr(md5($x),1,8)) AS BIGINT)"

  /** Tokens + 3-gram shingle list per doc (DuckDB list ops, 1-based). */
  private val toks = "SELECT doc_id, string_split(text, ' ') AS w FROM documents"
  private val docShingles =
    s"""SELECT doc_id,
       | list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS shingles
       |FROM ($toks)""".stripMargin
  private val shingleRows =
    s"""SELECT DISTINCT doc_id, s AS shingle
       |FROM ($docShingles), UNNEST(shingles) AS u(s)""".stripMargin

  private def mhExpr(i: Int): String = {
    val (a, b) = MinhashCoefs(i)
    s"list_min(list_transform(hs, x -> (x*$a + $b) % $MinhashPrime))"
  }
  private val baseHashes =
    s"""SELECT doc_id, list_transform(shingles, s -> ${h32("s")}) AS hs
       |FROM ($docShingles)""".stripMargin

  private val jaccardTail =
    """SELECT doc1, doc2,
      | round(cnt*1.0/(x.n + y.n - cnt), 6) AS jaccard
      |FROM inter JOIN sizes x ON doc1 = x.doc_id JOIN sizes y ON doc2 = y.doc_id""".stripMargin

  /** Per-doc 32-bit simhash (sum of per-bit sign votes), as a CTE body. */
  private val simhashDoc = {
    val terms = (0 until 32).map { j =>
      s"""CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         | THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }.mkString(" + ")
    s"""SELECT doc_id, ($terms) AS simhash
       |FROM (SELECT doc_id, list_transform(string_split(text,' '), t -> ${h32("t")}) AS hs FROM documents)""".stripMargin
  }

  /** q90: Okapi BM25 — constants interpolated from the same Scala doubles
    * the engine scores with (Double.toString round-trips to the identical
    * IEEE value); per-term scores rounded once, fixed-point doc sums.
    * Shared with the q129 hybrid-retrieval oracle as its lexical ranker.
    */
  private val bm25Sql = {
    import graft.analytics.TextAnalytics.{Bm25B, Bm25K1, Bm25Terms}
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS doc_len,
       |   unnest(string_split(text,' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, min(doc_len) AS doc_len, count(*) AS c
       |  FROM t GROUP BY 1,2),
       |stats AS (SELECT count(*) AS n_docs,
       |  CAST(sum(len(string_split(text,' '))) AS DOUBLE) / count(*) AS avgdl
       | FROM documents),
       |qt AS (SELECT * FROM tf WHERE word IN ($terms)),
       |df AS (SELECT word, count(*) AS df FROM qt GROUP BY 1),
       |s AS (SELECT doc_id,
       |  round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |    * (c * ${Bm25K1 + 1.0})
       |    / (c + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * (doc_len / avgdl))), 6) AS ts
       | FROM qt JOIN df USING (word) CROSS JOIN stats)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
       | round(CAST(sum(CAST(round(ts * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS bm25
       |FROM s GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin
  }

  /** Degree-ordered triangle enumeration CTE chain ending in `t(a, b, c)`
    * (each triangle once, at its (deg, id)-lowest vertex) — shared by the
    * q134, q143, and q145 oracles exactly as the engine shares
    * `trianglesOf`.
    */
  private lazy val trianglesCtes =
    s"""mp AS ($minhashPairsSql),
       |p AS (SELECT doc1, doc2 FROM mp),
       |e AS (SELECT doc1 AS u, doc2 AS v FROM p
       |      UNION ALL SELECT doc2, doc1 FROM p),
       |deg AS (SELECT u AS node, count(*) AS deg FROM e GROUP BY 1),
       |o AS (SELECT u, v FROM e
       |  JOIN deg d1 ON e.u = d1.node JOIN deg d2 ON e.v = d2.node
       |  WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)),
       |w AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v),
       |t AS (SELECT a, b, c FROM w JOIN p ON b = p.doc1 AND c = p.doc2)""".stripMargin

  /** q143: per-edge triangle support over the near-dup graph — triangles
    * credited to their three id-canonical edges. Shared with the q145
    * supported-components oracle.
    */
  private lazy val edgeSupportSql =
    s"""WITH $trianglesCtes,
       |cr AS (SELECT least(x, y) AS doc1, greatest(x, y) AS doc2
       |  FROM (SELECT unnest([[a, b], [a, c], [b, c]]) AS pr FROM t),
       |       LATERAL (SELECT pr[1] AS x, pr[2] AS y)),
       |sup AS (SELECT doc1, doc2, count(*) AS support FROM cr GROUP BY 1, 2)
       |SELECT p.doc1, p.doc2,
       | CAST(coalesce(sup.support, 0) AS BIGINT) AS support,
       | CAST(coalesce(sup.support, 0) = 0 AS INTEGER) AS is_chain_link
       |FROM p LEFT JOIN sup USING (doc1, doc2)""".stripMargin

  /** q60: fixed-point per-(label, dim) centroid means. Shared with the
    * q158 centroid-geometry oracle exactly as the engine shares
    * `labelCentroids`.
    */
  private lazy val labelCentroidsSql =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |x AS (SELECT label, unnest(range(1, len(v)+1)) AS i, v FROM e)
      |SELECT label, CAST(i - 1 AS INTEGER) AS dim, count(*) AS n_vectors,
      | round(CAST(sum(CAST(round(v[i] * 1000000) AS BIGINT)) AS DOUBLE)
      |   / (count(*) * CAST(1000000 AS DOUBLE)), 6) AS mean_v
      |FROM x GROUP BY 1, 2""".stripMargin

  /** q99: the capstone layout contract — q61's keep-set packed with q52's
    * per-shard running-sum recipe. Shared with the q157 shard-mixing
    * oracle exactly as the engine shares `shardManifest`.
    */
  private lazy val shardManifestSql =
    s"""WITH keep AS (SELECT doc_id FROM ($curationSql) c WHERE keep = 1),
       |d AS (SELECT doc_id,
       |  CAST(doc_id % 8 AS INTEGER) AS shard,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       | FROM documents JOIN keep USING (doc_id)),
       |p AS (SELECT doc_id, shard, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
       | FROM d)
       |SELECT doc_id, shard,
       | CAST(floor(start_offset / 2048.0) AS BIGINT) AS bin_id,
       | start_offset, n_tokens
       |FROM p""".stripMargin

  /** q97: signature-estimated vs exact Jaccard per candidate pair. Shared
    * with the q142 margin-histogram oracle.
    */
  private lazy val estimatorAuditSql =
    s"""WITH mp AS ($minhashPairsSql),
       |sig AS (SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}] AS sig
       |  FROM ($baseHashes)),
       |e AS (SELECT mp.doc1, mp.doc2, mp.jaccard,
       |   round(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
       |     / CAST(16 AS DOUBLE), 6) AS est_jaccard
       |  FROM mp JOIN sig a ON mp.doc1 = a.doc_id
       |  JOIN sig b ON mp.doc2 = b.doc_id)
       |SELECT doc1, doc2, jaccard, est_jaccard,
       | round(abs(est_jaccard - jaccard), 6) AS abs_err FROM e""".stripMargin

  private def cosExpr(a: String, b: String, digits: Int = 4) =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), $digits)"

  /** Hyperplane LSH bucket expression over a DOUBLE[] column `v` — the exact
    * ±1 patterns of graft.functions.Vectors.hyperplaneBucket (shared
    * planeCoefs generator), summed as sign-bit powers of two. Both engines
    * fold the dot product left-to-right over identical doubles, so the sign
    * (and hence the bucket) matches bit-for-bit.
    */
  private def lshBucketExpr(v: String, dim: Int, nPlanes: Int): String =
    (0 until nPlanes).map { j =>
      val coefs = graft.functions.Vectors.planeCoefs(j, dim)
        .map(c => if (c > 0) "1.0" else "-1.0").mkString(",")
      s"CASE WHEN list_dot_product($v, [$coefs]) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")

  /** Quality-metric expressions over `documents` (mirrors Text.qualityMetrics). */
  private val qualityCols =
    """ len(string_split(text,' ')) AS n_tokens,
      | round((length(text) - (len(string_split(text,' ')) - 1)) * 1.0 / len(string_split(text,' ')), 4) AS mean_word_len,
      | round(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text), 6) AS punct_ratio,
      | round(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','is','in'))) * 1.0 / len(string_split(text,' ')), 6) AS stopword_ratio""".stripMargin
  private val qualityScore =
    """round(
      | (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 400 THEN 1.0
      |   WHEN len(string_split(text,' ')) < 20 THEN len(string_split(text,' ')) / 20.0
      |   ELSE 400.0 / len(string_split(text,' ')) END) * 0.5
      | + CASE WHEN round(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','is','in'))) * 1.0 / len(string_split(text,' ')), 6) BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END
      | + CASE WHEN round(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text), 6) <= 0.1 THEN 0.2 ELSE 0.0 END, 4)""".stripMargin

  private val fingerprint =
    s"""list_reduce(
       | list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split(text,' '), t -> ${h32("t")})),
       | (acc, x) -> (acc*31 + x) % 1000000007)""".stripMargin

  /** Full q25 MinHash-LSH near-dup-pairs SQL; also reused as the edge list
    * of the q50 connected-components oracle.
    */
  /** Exact 8-gram decontamination verdict — shared by q56 (broadcast-join
    * plan) and q74 (Bloom-prefilter plan): same truth, different physical
    * strategy, identical output.
    */
  private val decontaminationSql =
    """WITH g AS (SELECT doc_id,
      |   CAST(('0x'||substr(md5(gram),1,15)) AS BIGINT) AS gram_h
      |  FROM (SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)-6), i -> array_to_string(list_slice(w, i, i+7), ' '))) AS gram
      |   FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))),
      |b AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 97 = 0),
      |t AS (SELECT DISTINCT doc_id, gram_h FROM g WHERE doc_id % 97 <> 0)
      |SELECT t.doc_id, count(*) AS n_ngrams,
      | CAST(sum(CASE WHEN b.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      | CAST(max(CASE WHEN b.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS contaminated
      |FROM t LEFT JOIN b ON t.gram_h = b.gram_h
      |GROUP BY 1""".stripMargin

  /** LSH band-bucket candidate pairs (doc1 < doc2) — the shared candidate
    * stage of the q25 Jaccard verify and the q182 Levenshtein verify.
    */
  private val minhashCandSql =
    s"""WITH sig AS (
       |  SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}] AS sig
       |  FROM ($baseHashes)),
       |banded AS (SELECT doc_id, b AS band,
       |   md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
       |  FROM sig, UNNEST([0,1,2,3]) AS t(b))
       |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |FROM banded a JOIN banded b
       | ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin

  private val minhashPairsSql =
    s"""WITH cand AS ($minhashCandSql),
       |sh AS ($shingleRows),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT doc1, doc2, count(*) AS cnt
       |  FROM cand
       |  JOIN sh s1 ON s1.doc_id = doc1
       |  JOIN sh s2 ON s2.doc_id = doc2 AND s1.shingle = s2.shingle
       |  GROUP BY 1,2)
       |SELECT * FROM ($jaccardTail) WHERE jaccard >= 0.7""".stripMargin

  /** Min-label closure over the q25 pairs — the unique connected-components
    * fixpoint, shared by BOTH resolvers: q50 (min-label propagation) and
    * q72 (large-star/small-star) must produce identical tables.
    */
  private val componentsSql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
       |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
       |          UNION ALL SELECT doc2, doc1 FROM pairs),
       |reach(doc_id, component) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.component FROM reach r JOIN edges e ON e.src = r.doc_id)
       |SELECT doc_id, min(component) AS component
       |FROM reach GROUP BY doc_id""".stripMargin

  /** Three unrolled synchronous majority-vote LPA rounds (self-inclusive
    * votes — the neighbor-only form 2-cycles on pendant pairs) over the
    * q25 pair graph — shared by q336 (the community table itself) and
    * q340 (its modularity vs components and singletons).
    */
  private val lpaCommunitiesSql = {
    def round(prev: String, cur: String) =
      s"""n$cur AS (SELECT src, c, count(*) AS cnt FROM (
         |   SELECT e.src, l.c FROM e JOIN l$prev l ON l.doc_id = e.dst
         |   UNION ALL SELECT doc_id, c FROM l$prev) GROUP BY 1, 2),
         |l$cur AS (SELECT src AS doc_id, c FROM (SELECT *,
         |    row_number() OVER (PARTITION BY src
         |     ORDER BY cnt DESC, c) AS rn FROM n$cur)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH mp AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
       |e AS (SELECT doc1 AS src, doc2 AS dst FROM mp
       |      UNION ALL SELECT doc2, doc1 FROM mp),
       |l0 AS (SELECT doc_id, doc_id AS c FROM documents),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}
       |SELECT doc_id, CAST(c AS BIGINT) AS community FROM l3""".stripMargin
  }

  private val langPredicted = {
    val langs = graft.functions.Text.LangStopwords
    val scores = langs.map { case (lang, sw) =>
      lang -> s"len(list_filter(w, t -> t IN (${sw.map(s => s"'$s'").mkString(",")})))"
    }
    // first-maximum in declared order == the Scala strict-greater fold
    val cases = scores.zipWithIndex.dropRight(1).map { case ((lang, s), i) =>
      val rest = scores.drop(i + 1).map(_._2).map(o => s"$s >= $o").mkString(" AND ")
      s"WHEN $rest THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE '${scores.last._1}' END"
  }

  // The three ANN oracles double as CTE bodies of the q67 recall gate, so
  // they live as named fragments rather than inline map entries.
  private val annBfSql =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, ${cosExpr("qv", "v")} AS cosine
       |  FROM c JOIN q ON vec_id <> query_id),
       |r AS (SELECT *, CAST(row_number() OVER (
       |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM scored)
       |SELECT * FROM r WHERE "rank" <= 5""".stripMargin

  private val annLshSql =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${lshBucketExpr("v", 64, 6)} AS bucket FROM c),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, qv, bucket AS probe FROM q
       |  UNION ALL
       |  SELECT query_id, qv, xor(bucket, CAST(pw AS BIGINT)) AS probe
       |  FROM q, UNNEST([${(0 until 6).map(1L << _).mkString(",")}]) AS t(pw)),
       |cand AS (SELECT DISTINCT query_id, b.vec_id AS neighbor_id,
       |   ${cosExpr("qv", "v")} AS cosine
       |  FROM b JOIN probes ON b.bucket = probes.probe
       |   AND b.vec_id <> probes.query_id),
       |r AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM cand)
       |SELECT * FROM r WHERE "rank" <= 5""".stripMargin

  private val annIvfSql =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM c
       |  ORDER BY ${h32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
       |assigned AS (SELECT vec_id, v, cell FROM (
       |  SELECT c.vec_id, c.v, cents.cid AS cell, row_number() OVER (
       |    PARTITION BY c.vec_id ORDER BY ${cosExpr("c.v", "cents.cv", 6)} DESC, cents.cid) AS rn
       |  FROM c CROSS JOIN cents) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
       |probes AS (SELECT query_id, qv, cell FROM (
       |  SELECT q.query_id, q.qv, cents.cid AS cell, row_number() OVER (
       |    PARTITION BY q.query_id ORDER BY ${cosExpr("q.qv", "cents.cv", 6)} DESC, cents.cid) AS rn
       |  FROM q CROSS JOIN cents) WHERE rn <= 4),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, ${cosExpr("qv", "v")} AS cosine
       |  FROM assigned JOIN probes USING (cell) WHERE vec_id <> query_id),
       |r AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM scored)
       |SELECT * FROM r WHERE "rank" <= 5""".stripMargin

  /** Per-(vector, subspace) PQ code assignment (q92/q93 shared body):
    * sub-codebooks = the deterministic md5-ordered 16-vector sample sliced
    * into 8-dim blocks; argmin rounded sub-block squared distance, cid
    * tiebreak. Distances go through a materialized diff vector +
    * `list_dot_product` so the fold order matches the engine's
    * index-order aggregate exactly (same contract as the cosine gates).
    */
  private val pqBestSql =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM c
       |  ORDER BY ${h32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
       |x AS (SELECT vec_id, sub, cid, round(list_dot_product(d, d), 6) AS d2
       |  FROM (SELECT c.vec_id, t.sub, cents.cid,
       |    list_transform(range(1, 9), i -> c.v[t.sub*8 + i] - cents.cv[t.sub*8 + i]) AS d
       |   FROM c CROSS JOIN cents CROSS JOIN UNNEST([0,1,2,3,4,5,6,7]) AS t(sub))),
       |a AS (SELECT vec_id, sub, cid AS code, d2,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |  FROM x)
       |SELECT vec_id, sub, code, d2 AS md2 FROM a WHERE rn = 1""".stripMargin

  /** q79 seedless ±1 JL projection (8 dims) — also the pre-score side of
    * the q115 projected near-dup gate.
    */
  private val projectionSql: String = {
    val dOut = 8
    val sums = (0 until dOut).map { j =>
      s"sum(CASE WHEN (${h32(s"CAST(i - 1 AS VARCHAR)||':'||'$j'")}) % 2 = 0" +
        s" THEN fx ELSE -fx END) AS fxs_$j"
    }.mkString(",\n ")
    val projs = (0 until dOut).map { j =>
      s"round(CAST(fxs_$j AS DOUBLE) / (CAST(1000000 AS DOUBLE) * " +
        s"sqrt(CAST($dOut AS DOUBLE))), 6) AS p_$j"
    }.mkString(",\n ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x AS (SELECT vec_id, unnest(range(1, len(v)+1)) AS i, v FROM e),
       |fx AS (SELECT vec_id, i, CAST(round(v[i] * 1000000) AS BIGINT) AS fx FROM x),
       |s AS (SELECT vec_id,
       | $sums
       | FROM fx GROUP BY 1)
       |SELECT vec_id,
       | $projs
       |FROM s""".stripMargin
  }

  /** Winnow-collision near-dup pairs at a given verify threshold — q81's
    * body (0.8) and the winnow side of the q113 route-agreement audit
    * (0.7).
    */
  private def winnowPairsSql(threshold: Double): String =
    s"""WITH bh AS ($baseHashes),
       |wf AS (SELECT DISTINCT doc_id, fp FROM (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |      range(1, greatest(len(hs)-3, 1)+1), i -> list_min(hs[i:i+3])))) AS fp
       |  FROM bh WHERE len(hs) > 0)),
       |cand AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sh AS ($shingleRows),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc1, c.doc2, count(*) AS cnt
       |  FROM cand c JOIN sh x ON x.doc_id = c.doc1
       |  JOIN sh y ON y.doc_id = c.doc2 AND x.shingle = y.shingle
       |  GROUP BY 1, 2)
       |SELECT * FROM ($jaccardTail) WHERE jaccard >= $threshold""".stripMargin

  /** Full q93 ADC top-k SQL; also the approximate side of the q101 PQ
    * recall gate.
    */
  private val pqTopkSql =
    s"""WITH best AS ($pqBestSql),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM c
       |  ORDER BY ${h32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
       |lut AS (SELECT query_id, sub, cid AS code,
       |   round(list_dot_product(d, d), 6) AS dd
       |  FROM (SELECT q.query_id, t.sub, cents.cid,
       |    list_transform(range(1, 9), i -> q.qv[t.sub*8 + i] - cents.cv[t.sub*8 + i]) AS d
       |   FROM q CROSS JOIN cents CROSS JOIN UNNEST([0,1,2,3,4,5,6,7]) AS t(sub))),
       |scored AS (SELECT query_id, b.vec_id AS neighbor_id,
       |   round(CAST(sum(CAST(round(dd * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS adc_dist
       |  FROM best b JOIN lut ON b.sub = lut.sub AND b.code = lut.code
       |   AND b.vec_id <> lut.query_id
       |  GROUP BY 1, 2),
       |r AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS INTEGER) AS "rank"
       |  FROM scored)
       |SELECT * FROM r WHERE "rank" <= 5""".stripMargin

  /** One oracle for both range-join gates: q43 (manual bucketing) and q65
    * (optimizer-rule rewrite) are defined to share EXACT semantics, so a
    * single SQL string keeps the two from drifting.
    */
  val rangeJoinSql: String =
    """SELECT o_orderkey, o_orderdate, count(*) AS shipments_1d
      |FROM orders JOIN lineitem
      | ON l_shipdate >= o_orderdate
      |AND l_shipdate < o_orderdate + INTERVAL 1 DAY
      |GROUP BY 1,2""".stripMargin

  /** Chunk occurrences with corpus-wide chunk doc frequency (the q55
    * list_slice chunking convention) — shared by the q162 per-source and
    * q174 per-doc duplication rollups (mirrors Dedup.chunkOccWithDf).
    */
  private val chunkOccDfSql =
    """WITH e AS (SELECT doc_id, source, w,
      |   unnest(range(0, CAST(ceil(CAST(len(w) AS DOUBLE)/8) AS INTEGER))) AS i
      |  FROM (SELECT doc_id, source, string_split(text,' ') AS w FROM documents)),
      |occ AS (SELECT doc_id, source,
      |   md5(array_to_string(list_slice(w, i*8+1, i*8+8), ' ')) AS h,
      |   CAST(len(list_slice(w, i*8+1, i*8+8)) AS BIGINT) AS l FROM e),
      |df AS (SELECT h, count(*) AS nd
      |  FROM (SELECT DISTINCT doc_id, h FROM occ) GROUP BY 1)
      |SELECT occ.doc_id, occ.source, occ.h, occ.l, df.nd
      |FROM occ JOIN df USING (h)""".stripMargin

  /** First-order transition counts over per-user event streams — the
    * shared stage of the q140 matrix and the q172 stationary-distribution
    * CTE chain (mirrors Funnels.transitionCounts).
    */
  private val transitionCountsSql =
    """SELECT event_type AS from_type, next_type AS to_type,
      |  count(*) AS n_transitions
      |FROM (SELECT user_id, event_type,
      |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |     AS next_type
      |  FROM events)
      |WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Corpus assignment under the pinned trained codebook (q66 body, and
    * the blocking stage of the q68 semantic-dedup oracle). Carries `v` so
    * downstream pair scoring can reuse it.
    */
  private val trainedAssignSql =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT CAST(cid AS BIGINT) AS cid, cv
       |  FROM (${graft.operators.TrainedCodebook.duckdbValues}) AS t(cid, cv)),
       |scored AS (SELECT c.vec_id, c.v, cents.cid,
       |    ${cosExpr("c.v", "cents.cv", 6)} AS ccos
       |  FROM c CROSS JOIN cents),
       |r AS (SELECT vec_id, v, cid AS cell, ccos AS cell_cosine,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM scored)
       |SELECT vec_id, v, cell, cell_cosine FROM r WHERE rn = 1""".stripMargin

  /** q68 body as a named fragment: also the edge list of the q86 SemDeDup
    * resolution oracle (the same pairs→components relationship q25's SQL
    * has to q50's).
    */
  private val semanticPairsSql =
    s"""WITH assigned AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
       |p AS (SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.cell AS cell,
       |    ${cosExpr("a.v", "b.v")} AS cosine
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT * FROM p WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin

  /** Pinned-weight model score per (doc_id, source) — the q69 scoring body,
    * shared by the q87 calibration and q88 per-source-cap oracles.
    */
  private val modelScoreSql =
    s"""WITH m AS (SELECT doc_id, source,$qualityCols,
       | $qualityScore AS quality_score FROM documents)
       |SELECT doc_id, source,
       |  round(quality_score * CAST(1.2 AS DOUBLE)
       |    + least(n_tokens, 400) / CAST(400 AS DOUBLE) * CAST(0.8 AS DOUBLE)
       |    - punct_ratio * CAST(0.9 AS DOUBLE)
       |    - stopword_ratio * CAST(0.4 AS DOUBLE)
       |    - CAST(0.5 AS DOUBLE), 6) AS model_score
       |FROM m""".stripMargin

  /** Composed keep/drop verdict (q61): quality + trigram repetition (q54
    * fragment) + canonical component (q50 recursive closure) + benchmark
    * 8-gram contamination (q56 CTEs), one row per document. Shared with
    * q99, which packs its keep-set.
    */
  private val curationSql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
       |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
       |          UNION ALL SELECT doc2, doc1 FROM pairs),
       |reach(doc_id, component) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.component FROM reach r JOIN edges e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(component) AS component
       |  FROM reach GROUP BY doc_id),
       |g AS (SELECT doc_id,
       |   CAST(('0x'||substr(md5(gram),1,15)) AS BIGINT) AS gram_h
       |  FROM (SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)-6), i -> array_to_string(list_slice(w, i, i+7), ' '))) AS gram
       |   FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))),
       |bg AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 97 = 0),
       |tg AS (SELECT DISTINCT doc_id, gram_h FROM g WHERE doc_id % 97 <> 0),
       |dec AS (SELECT tg.doc_id,
       |   CAST(max(CASE WHEN bg.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS contaminated
       |  FROM tg LEFT JOIN bg ON tg.gram_h = bg.gram_h GROUP BY 1),
       |m AS (SELECT doc_id, $qualityScore AS quality_score,
       |   CASE WHEN len(t3)=0 THEN 0.0
       |        ELSE round(1.0 - len(list_distinct(t3))/CAST(len(t3) AS DOUBLE), 6) END AS dup_trigram_frac,
       |   CAST(doc_id % 97 = 0 AS INTEGER) AS is_benchmark
       |  FROM (SELECT doc_id, text,
       |    list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS t3
       |   FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents)))
       |SELECT m.doc_id, m.quality_score, m.dup_trigram_frac,
       | CAST(comp.component = m.doc_id AS INTEGER) AS is_canonical,
       | coalesce(dec.contaminated, 0) AS contaminated,
       | m.is_benchmark,
       | CAST(m.quality_score >= 0.5 AND m.dup_trigram_frac <= 0.2
       |   AND comp.component = m.doc_id AND coalesce(dec.contaminated, 0) = 0
       |   AND m.is_benchmark = 0 AS INTEGER) AS keep
       |FROM m JOIN comp ON m.doc_id = comp.doc_id
       |LEFT JOIN dec ON m.doc_id = dec.doc_id""".stripMargin

  val sql: Map[String, String] = Map(
    "q22_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1""".stripMargin,
    "q23_shingle_jaccard" ->
      s"""WITH sh AS ($shingleRows),
         |freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         |shf AS (SELECT sh.* FROM sh JOIN freq USING (shingle) WHERE df <= 1000),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS cnt
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1,2)
         |SELECT * FROM ($jaccardTail) WHERE jaccard >= 0.8""".stripMargin,
    // q73 is EXACT Jaccard with no hot-shingle cap (the prefix-filter join
    // prunes, never drops) — so its oracle is the plain quadratic truth,
    // not q23's df-capped variant.
    "q73_jaccard_prefix" ->
      s"""WITH sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS cnt
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1,2)
         |SELECT * FROM ($jaccardTail) WHERE jaccard >= 0.8""".stripMargin,
    // q75 declares the same exact-Jaccard truth as a THETA JOIN and lets
    // the SimilarityJoinRewrite rule plan it. Spark filters on the
    // UNROUNDED IEEE double ratio (the join predicate), so the oracle must
    // too — hence CAST AS DOUBLE division (DuckDB's `x*1.0` route goes
    // through DECIMAL) and the threshold applied before the display
    // rounding, not after like q23/q73's rounded-jaccard variants.
    // q75: shingles enter as 60-bit md5-prefix longs (the Spark side's
    // stableHash60 payload discipline); DISTINCT re-applied after hashing
    // so a collision would merge identically on both engines. FULL corpus
    // since round 13 (the rule's prefix-filtered rewrite is the production
    // plan; the bounded naive-vs-rewritten demo moved to tools).
    "q75_sim_join_rewrite" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id,
         |   CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         |  FROM ($shingleRows)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS cnt
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1,2),
         |j AS (SELECT doc1, doc2, CAST(cnt AS DOUBLE)/(x.n + y.n - cnt) AS jr
         |  FROM inter JOIN sizes x ON doc1 = x.doc_id JOIN sizes y ON doc2 = y.doc_id)
         |SELECT doc1, doc2, round(jr, 6) AS jaccard FROM j
         |WHERE jr >= CAST(0.8 AS DOUBLE)""".stripMargin,
    // q76: the oracle renders its regexes and replacement order from the
    // SAME Text.PiiPatterns constant the Spark side uses — the two engines
    // cannot drift. Patterns stay in the Java ∩ RE2 regex subset.
    "q76_pii_scrub" -> {
      val pats = graft.functions.Text.PiiPatterns
      val counts = pats.map { case (n, re, _) =>
        s"CAST(len(regexp_extract_all(contact, '$re')) AS BIGINT) AS n_$n"
      }.mkString(",\n ")
      val redacted = pats.foldLeft("contact") { case (e, (_, re, rep)) =>
        s"regexp_replace($e, '$re', '$rep', 'g')"
      }
      s"""SELECT c_custkey,
         | $counts,
         | $redacted AS redacted
         |FROM (SELECT c_custkey,
         |  c_name || ' phone +1-202-' || lpad(CAST(c_custkey%10000 AS VARCHAR),4,'0')
         |   || '-' || lpad(CAST(c_custkey%9973 AS VARCHAR),4,'0')
         |   || ' email ' || lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) || '@example.com'
         |   || ' ip 10.' || CAST(c_nationkey AS VARCHAR) || '.0.' || CAST(c_custkey%256 AS VARCHAR)
         |   AS contact
         | FROM customer)""".stripMargin
    },
    // q77: winnowing fingerprints — w=4 windows over the 3-shingle hash
    // stream; per-window min, per-doc distinct. Short docs (1..3 shingles)
    // take their single overall min: range caps at one window and the
    // slice truncates at the list end in both engines.
    "q77_winnow_fingerprints" ->
      s"""WITH bh AS ($baseHashes)
         |SELECT doc_id, fp AS fingerprint FROM (
         |  SELECT doc_id, list_distinct(list_transform(
         |      range(1, greatest(len(hs)-3, 1)+1), i -> list_min(hs[i:i+3]))) AS fps
         |  FROM bh WHERE len(hs) > 0), UNNEST(fps) AS u(fp)""".stripMargin,
    "q24_minhash_signatures" ->
      s"""SELECT doc_id, ${(0 until 16).map(i => s"${mhExpr(i)} AS mh_$i").mkString(", ")}
         |FROM ($baseHashes)""".stripMargin,
    "q25_minhash_dedup" -> minhashPairsSql,
    "q26_simhash_docs" -> simhashDoc,
    "q27_simhash_pairs" ->
      s"""WITH s AS ($simhashDoc)
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q28_embedding_neardup" ->
      s"""SELECT * FROM (
         | SELECT p.vec1, p.vec2, p.label, ${cosExpr("av", "bv")} AS cosine
         | FROM (SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.label AS label,
         |    CAST(a.embedding AS DOUBLE[]) AS av, CAST(b.embedding AS DOUBLE[]) AS bv
         |   FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id) p)
         |WHERE cosine >= 0.3""".stripMargin,
    "q29_ann_bruteforce" -> annBfSql,
    "q30_ann_lsh" -> annLshSql,
    "q37_ann_ivf" -> annIvfSql,
    // recall@5 of the two ANN indexes vs the exact ranking — the number an
    // ANN user actually cares about, as a hash-gated query (the oracle
    // replays all three pipelines from the shared fragments)
    "q67_ann_recall" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annBfSql)),
         |lsh AS (SELECT query_id, neighbor_id FROM ($annLshSql)),
         |ivf AS (SELECT query_id, neighbor_id FROM ($annIvfSql)),
         |approx AS (
         |  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
         |  UNION ALL
         |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf)
         |SELECT a.method, a.query_id,
         |  CAST(count(*) AS BIGINT) AS n_returned,
         |  CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5, 4) AS recall_at_5
         |FROM approx a LEFT JOIN exact e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY 1, 2""".stripMargin,
    // min-label fixpoint == min reachable doc_id, computed by a recursive
    // closure over the bidirectional q25 edge list (unique fixpoint, so the
    // engines agree no matter the iteration order)
    "q50_dedup_components" -> componentsSql,
    // the star resolver reaches the SAME unique min-label fixpoint, so it
    // gates against the identical recursive-closure oracle
    "q72_dedup_components_star" -> componentsSql,
    // composed keep/drop verdict: quality + trigram repetition (q54
    // fragment) + canonical component (q50 recursive closure) + benchmark
    // 8-gram contamination (q56 CTEs), one row per document
    "q61_curation_decisions" -> curationSql,
    // the capstone layout contract: q61's keep-set packed with q52's
    // per-shard running-sum recipe — the manifest writeTrainingShards
    // puts on disk, gated as a pure query
    "q99_shard_manifest" -> shardManifestSql,
    "q51_stratified_sample" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |   ${h32("lang||':'||CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         |r AS (SELECT doc_id, lang, CAST(row_number() OVER (
         |   PARTITION BY lang ORDER BY h, doc_id) AS INTEGER) AS sample_rank FROM d)
         |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 20""".stripMargin,
    "q52_sequence_packing" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(doc_id % 8 AS INTEGER) AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |p AS (SELECT doc_id, shard, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
        | FROM d)
        |SELECT doc_id, shard, n_tokens, start_offset,
        | CAST(floor(start_offset / 2048.0) AS BIGINT) AS bin_id
        |FROM p""".stripMargin,
    "q53_embedding_quantize" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x))) END AS scale
        | FROM c)
        |SELECT vec_id,
        | round(scale, 6) AS q_scale,
        | array_to_string(list_transform(v, x -> CAST(round(x / scale * 127) AS INTEGER)), ',') AS q_codes,
        | round(list_max(list_transform(v,
        |   x -> abs(x - round(x / scale * 127) * scale / 127.0))), 6) AS max_abs_err
        |FROM s""".stripMargin,
    "q31_text_quality" ->
      s"""SELECT doc_id,$qualityCols,
         | $qualityScore AS quality_score
         |FROM documents""".stripMargin,
    "q32_lang_id" ->
      s"""SELECT doc_id, lang AS actual_lang, $langPredicted AS predicted_lang
         |FROM (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents)""".stripMargin,
    "q33_token_stats" ->
      s"""SELECT doc_id,
         | len(string_split(text,' ')) AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS regex_tokens,
         | $fingerprint AS fingerprint
         |FROM documents""".stripMargin,
    "q34_multimodal_meta" ->
      """WITH m AS (SELECT doc_id, 'image/fake-'||source AS media_type, CAST(strlen(text) AS BIGINT) AS n FROM documents)
        |SELECT media_type, count(*) AS n_media,
        | CAST(sum(n) AS BIGINT) AS total_bytes,
        | CAST(max(64 + n % 577) AS INTEGER) AS max_width,
        | CAST(max(64 + (n*31) % 417) AS INTEGER) AS max_height,
        | CAST(sum(1 + n % 7) AS BIGINT) AS total_frames
        |FROM m GROUP BY 1""".stripMargin,
    "q35_corpus_summary" ->
      s"""WITH d AS (SELECT lang, source, $qualityScore AS q, $fingerprint AS fp
         |  FROM documents)
         |SELECT lang, source, count(*) AS n_docs,
         | round(round(sum(q), 4) / count(*), 4) AS mean_quality,
         | count(DISTINCT fp) AS distinct_fingerprints
         |FROM d GROUP BY 1,2""".stripMargin,
    "q54_repetition" ->
      """WITH g AS (SELECT doc_id, w,
        |  list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1]) AS bg,
        |  list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS tg
        | FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))
        |SELECT doc_id,
        | CAST(len(w) AS BIGINT) AS n_words,
        | CASE WHEN len(w)=0 THEN 0.0 ELSE round(1.0 - len(list_distinct(w))/CAST(len(w) AS DOUBLE), 6) END AS dup_word_frac,
        | CASE WHEN len(bg)=0 THEN 0.0 ELSE round(1.0 - len(list_distinct(bg))/CAST(len(bg) AS DOUBLE), 6) END AS dup_bigram_frac,
        | CASE WHEN len(tg)=0 THEN 0.0 ELSE round(1.0 - len(list_distinct(tg))/CAST(len(tg) AS DOUBLE), 6) END AS dup_trigram_frac
        |FROM g""".stripMargin,
    "q55_chunk_dedup" ->
      """WITH e AS (SELECT doc_id, w,
        |   unnest(range(0, CAST(ceil(CAST(len(w) AS DOUBLE)/8) AS INTEGER))) AS i
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)),
        |ch AS (SELECT DISTINCT doc_id,
        |   md5(array_to_string(list_slice(w, i*8+1, i*8+8), ' ')) AS chunk_hash
        |  FROM e),
        |cnt AS (SELECT chunk_hash, count(*) AS nd FROM ch GROUP BY 1)
        |SELECT doc_id, count(*) AS n_chunks,
        | CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
        | round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS shared_frac
        |FROM ch JOIN cnt USING (chunk_hash)
        |GROUP BY 1""".stripMargin,
    "q56_decontamination" -> decontaminationSql,
    // q74 runs the Bloom-prefilter plan; its output contract is the exact
    // decontamination verdict, so it gates against the identical oracle
    "q74_decontam_bloom" -> decontaminationSql,
    "q57_domain_mix" ->
      s"""WITH tgt(source, target_share) AS (VALUES
        |  ${graft.operators.Curation.DomainTargets.map { case (s, w) =>
             s"('$s', CAST('$w' AS DOUBLE))" }.mkString(",\n|  ")}),
        |cnt AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM documents),
        |rates AS (SELECT source,
        |  least(CAST(1.0 AS DOUBLE),
        |    round(n_total * CAST(0.4 AS DOUBLE)) * target_share / n_source) AS keep_rate
        | FROM cnt CROSS JOIN tot JOIN tgt USING (source))
        |SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE CAST(('0x'||substr(md5(d.source||':'||CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000000
        |  < r.keep_rate * 1000000""".stripMargin,
    // q78 mirrors q57's draw but derives shares from the corpus: sqrt is
    // IEEE-correctly-rounded in both engines (pow(x,0.5) is not), and the
    // share denominator is an exact fixed-point BIGINT sum, so the
    // keep_rates match bit-for-bit
    "q78_domain_mix_temperature" ->
      """WITH cnt AS (SELECT source, count(*) AS n_source,
        |    CAST(round(sqrt(count(*)) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS fx
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(fx) AS BIGINT) AS fx_total,
        |    CAST(sum(n_source) AS BIGINT) AS n_total FROM cnt),
        |rates AS (SELECT source,
        |  least(CAST(1.0 AS DOUBLE),
        |    round(n_total * CAST(0.4 AS DOUBLE)) * (CAST(fx AS DOUBLE) / fx_total)
        |      / n_source) AS keep_rate
        | FROM cnt CROSS JOIN tot)
        |SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE CAST(('0x'||substr(md5(d.source||':'||CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000000
        |  < r.keep_rate * 1000000""".stripMargin,
    "q58_vocab_topk" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
        |GROUP BY 1 ORDER BY n_occurrences DESC, word LIMIT 100""".stripMargin,
    "q59_tfidf" ->
      """WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS doc_len,
        |   unnest(string_split(text,' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, min(doc_len) AS doc_len, count(*) AS c
        |  FROM t GROUP BY 1,2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, word,
        |  round(c / CAST(doc_len AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        | FROM tf JOIN df USING (word) CROSS JOIN n),
        |r AS (SELECT doc_id, word, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INTEGER) AS term_rank
        | FROM s)
        |SELECT doc_id, word, tfidf, term_rank FROM r WHERE term_rank <= 3""".stripMargin,
    "q63_exists_subquery" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT'
        |    AND o.o_orderstatus = 'O')""".stripMargin,
    "q64_scalar_subquery" ->
      """SELECT p_partkey, p_retailprice
        |FROM part
        |WHERE p_retailprice > (SELECT round(sum(p_retailprice), 2) / count(*) FROM part)
        |  AND p_partkey NOT IN (
        |    SELECT l.l_partkey
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    WHERE c.c_mktsegment = 'BUILDING' AND l.l_quantity > 45)""".stripMargin,
    "q62_source_leakage" ->
      """WITH e AS (SELECT source, w,
        |   unnest(range(0, CAST(ceil(CAST(len(w) AS DOUBLE)/8) AS INTEGER))) AS i
        |  FROM (SELECT source, string_split(text,' ') AS w FROM documents)),
        |ch AS (SELECT DISTINCT source,
        |   md5(array_to_string(list_slice(w, i*8+1, i*8+8), ' ')) AS chunk_hash
        |  FROM e)
        |SELECT a.source AS source1, b.source AS source2, count(*) AS n_shared_chunks
        |FROM ch a JOIN ch b
        |  ON a.chunk_hash = b.chunk_hash AND a.source < b.source
        |GROUP BY 1,2""".stripMargin,
    // fixed-point mean (sum of ×10⁶-scaled longs, one final division):
    // order-independent, so partial-aggregation order cannot flip the hash
    // q81: the oracle replays the winnow-collision CANDIDATE pipeline
    // (fingerprint recall is the contract, like q25's LSH oracle), then
    // the exact-Jaccard verify tail
    "q81_winnow_pairs" -> winnowPairsSql(0.8),
    // q83: batch (odd ids) flagged against history (even ids) by content
    "q83_incremental_dedup" ->
      """WITH b AS (SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 2 <> 0),
        |h AS (SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 0)
        |SELECT b.doc_id, b.content_hash,
        | CASE WHEN h.content_hash IS NULL THEN 0 ELSE 1 END AS seen_before
        |FROM b LEFT JOIN h ON b.content_hash = h.content_hash""".stripMargin,
    // q82: the same md5-prefix draw, salted with the split tag
    "q82_train_split" ->
      """SELECT doc_id, source,
        | CASE WHEN d < 900 THEN 'train' WHEN d < 950 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  CAST(('0x'||substr(md5('split:'||source||':'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000 AS d
        | FROM documents)""".stripMargin,
    // q80: the oracle is the UNSALTED join — salting only changes the
    // partitioning, never the rows
    "q80_salted_join" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |stats AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type_events,
        |    round(round(sum(value), 2) / count(*), 6) AS type_mean_value
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, s.n_type_events, s.type_mean_value
        |FROM e JOIN stats s USING (event_type)""".stripMargin,
    // q79: the ±1 sign matrix is recomputed cell-by-cell from the shared
    // md5-prefix hash of "i:j" (0-based dim index), components sum as
    // fixed-point BIGINTs, one double division at the end — the q60
    // determinism recipe applied to a projection
    "q79_random_projection" -> projectionSql,
    "q60_label_centroids" -> labelCentroidsSql,
    // q65 is DEFINED as "same semantics as q43, planned by the rewrite
    // rule" — one shared oracle string keeps the two gates from drifting
    "q65_range_join_rewrite" -> rangeJoinSql,
    "q66_ivf_trained_assign" ->
      s"SELECT vec_id, cell, cell_cosine FROM ($trainedAssignSql)",
    // SemDeDup-style pairs: same-cell blocking under the pinned trained
    // codebook, scored with exact cosine
    "q68_semantic_neardup" -> semanticPairsSql,
    "q69_quality_model" ->
      s"""SELECT doc_id, model_score,
         | CAST(model_score >= CAST(0 AS DOUBLE) AS INTEGER) AS keep
         |FROM ($modelScoreSql)""".stripMargin,
    "q71_unigram_surprisal" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
        |counts AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM tok),
        |lp AS (SELECT word, round(-ln(CAST(n AS DOUBLE) / n_total), 6) AS surprisal
        |  FROM counts CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | round(CAST(sum(CAST(round(surprisal * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * CAST(1000000 AS DOUBLE)), 4) AS mean_surprisal
        |FROM tok JOIN lp USING (word)
        |GROUP BY 1""".stripMargin,
    "q70_sliding_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
        |  WHERE len(string_split(text,' ')) > 0),
        |s AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start FROM t)
        |SELECT doc_id,
        | CAST(start // 24 AS INTEGER) AS chunk_id,
        | CAST(start AS INTEGER) AS start_token,
        | CAST(least(32, len(w) - start) AS INTEGER) AS n_chunk_tokens,
        | md5(array_to_string(list_slice(w, start + 1, start + least(32, len(w) - start)), ' ')) AS chunk_hash
        |FROM s""".stripMargin,
    // q84: shared 8-word chunks (≥2 docs) removed, text rebuilt in chunk
    // order — the same chunking convention as q55/q62
    "q84_boilerplate_scrub" ->
      """WITH e AS (SELECT doc_id, w,
        |   unnest(range(0, CAST(ceil(CAST(len(w) AS DOUBLE)/8) AS INTEGER))) AS i
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)),
        |c AS (SELECT doc_id, i AS idx,
        |   array_to_string(list_slice(w, i*8+1, i*8+8), ' ') AS chunk FROM e),
        |cnt AS (SELECT md5(chunk) AS chunk_hash, count(DISTINCT doc_id) AS nd
        |  FROM c GROUP BY 1),
        |f AS (SELECT doc_id, idx, chunk, nd >= 2 AS is_boiler
        |  FROM c JOIN cnt ON md5(c.chunk) = cnt.chunk_hash)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | round(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS removed_frac,
        | coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' ' ORDER BY idx), '') AS clean_text
        |FROM f GROUP BY 1""".stripMargin,
    // q85: top-100 cross-document 5-grams by (doc freq, occurrences, gram)
    "q85_frequent_ngrams" ->
      """WITH g AS (SELECT doc_id,
        |   unnest(list_transform(range(1, len(w)-3), i -> array_to_string(list_slice(w, i, i+4), ' '))) AS gram
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)),
        |d AS (SELECT gram, doc_id, count(*) AS occ FROM g GROUP BY 1,2)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(occ) AS BIGINT) AS n_occurrences
        |FROM d GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 100""".stripMargin,
    // q86: min-label closure over the q68 pairs (the embedding-space analogue
    // of q50's oracle), fixed-point centroids (q60 pattern), keep = lowest
    // centroid cosine with vec_id tiebreak
    "q86_semantic_resolution" ->
      s"""WITH RECURSIVE
         |p AS (SELECT vec1, vec2 FROM ($semanticPairsSql)),
         |edges AS (SELECT vec1 AS src, vec2 AS dst FROM p
         |          UNION ALL SELECT vec2, vec1 FROM p),
         |reach(vec_id, component) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.component FROM reach r JOIN edges e ON e.src = r.vec_id),
         |comp AS (SELECT vec_id, min(component) AS component
         |  FROM reach GROUP BY 1),
         |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |m AS (SELECT comp.vec_id, comp.component, ev.v FROM comp JOIN ev USING (vec_id)),
         |cd AS (SELECT component, i,
         |    CAST(sum(CAST(round(v[i] * 1000000) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * CAST(1000000 AS DOUBLE)) AS c
         |  FROM (SELECT component, v, unnest(range(1, len(v)+1)) AS i FROM m)
         |  GROUP BY 1, 2),
         |cv AS (SELECT component, list(c ORDER BY i) AS cv FROM cd GROUP BY 1),
         |n AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY 1),
         |s AS (SELECT m.vec_id, m.component, ${cosExpr("m.v", "cv.cv")} AS centroid_cosine
         |  FROM m JOIN cv USING (component)),
         |r AS (SELECT vec_id, component, centroid_cosine,
         |    row_number() OVER (PARTITION BY component ORDER BY centroid_cosine, vec_id) AS rn
         |  FROM s)
         |SELECT r.vec_id, r.component, n.n_members, r.centroid_cosine,
         | CAST(rn = 1 AS INTEGER) AS keep
         |FROM r JOIN n USING (component)""".stripMargin,
    // q87: per-source CDF over 2-dp score bins, joined back per doc
    "q87_score_calibration" ->
      s"""WITH s AS ($modelScoreSql),
         |b AS (SELECT doc_id, source, model_score, round(model_score, 2) AS bin FROM s),
         |h AS (SELECT source, bin, count(*) AS n FROM b GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_source FROM h GROUP BY 1),
         |c AS (SELECT source, bin,
         |   round((CAST(sum(n) OVER (PARTITION BY source ORDER BY bin) AS DOUBLE) - n)
         |     / n_source, 6) AS pct_below
         |  FROM h JOIN t USING (source))
         |SELECT b.doc_id, b.source, b.model_score, b.bin, c.pct_below
         |FROM b JOIN c USING (source, bin)""".stripMargin,
    // q88: top-25 docs per source by (model score desc, doc_id)
    "q88_top_quality_per_source" ->
      s"""WITH r AS (SELECT doc_id, source, model_score,
         |   CAST(row_number() OVER (
         |     PARTITION BY source ORDER BY model_score DESC, doc_id) AS INTEGER) AS quality_rank
         |  FROM ($modelScoreSql))
         |SELECT * FROM r WHERE quality_rank <= 25""".stripMargin,
    // q89: q82's split draw + q56's gram hashing; holdout grams LEFT JOIN
    // the distinct train gram set
    "q89_split_leakage" ->
      """WITH s AS (SELECT doc_id, text,
        |   CASE WHEN d < 900 THEN 'train' WHEN d < 950 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, text,
        |    CAST(('0x'||substr(md5('split:'||source||':'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000 AS d
        |   FROM documents)),
        |g AS (SELECT doc_id, split,
        |   CAST(('0x'||substr(md5(gram),1,15)) AS BIGINT) AS gram_h
        |  FROM (SELECT doc_id, split,
        |    unnest(list_transform(range(1, len(w)-6), i -> array_to_string(list_slice(w, i, i+7), ' '))) AS gram
        |   FROM (SELECT doc_id, split, string_split(text,' ') AS w FROM s))),
        |t AS (SELECT DISTINCT gram_h FROM g WHERE split = 'train'),
        |h AS (SELECT DISTINCT doc_id, split, gram_h FROM g WHERE split <> 'train')
        |SELECT h.doc_id, h.split, CAST(count(*) AS BIGINT) AS n_ngrams,
        | CAST(sum(CASE WHEN t.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
        | CAST(max(CASE WHEN t.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS leaked
        |FROM h LEFT JOIN t ON h.gram_h = t.gram_h
        |GROUP BY 1, 2""".stripMargin,
    // q90: Okapi BM25 — constants interpolated from the same Scala doubles
    // the engine scores with (Double.toString round-trips to the identical
    // IEEE value); per-term scores rounded once, fixed-point doc sums
    "q90_bm25" -> bm25Sql,
    // q91: truncated-integer PageRank, 10 unrolled power iterations over
    // the q25 pair graph — every op is 64-bit integer arithmetic and every
    // CTE's rank column is explicitly re-cast to BIGINT (no HUGEINT
    // propagation, no derived double), so the unrolled chain reproduces
    // the engine bit-for-bit on any DuckDB build
    "q91_dedup_pagerank" -> {
      val scale = 1000000000000L
      val base = scale * 15 / 100
      val rounds = (1 to 10).map { k =>
        s"""r$k AS (SELECT e.dst AS doc_id,
           |   CAST($base // (SELECT n_nodes FROM mx)
           |     + (sum(r${k - 1}.r // deg.deg) * 85) // 100 AS BIGINT) AS r
           |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.doc_id
           |  JOIN deg ON e.src = deg.doc_id
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH mp AS ($minhashPairsSql),
         |e AS (SELECT doc1 AS src, doc2 AS dst FROM mp
         |      UNION ALL SELECT doc2 AS src, doc1 AS dst FROM mp),
         |deg AS (SELECT src AS doc_id, count(*) AS deg FROM e GROUP BY 1),
         |mx AS (SELECT count(*) AS n_nodes FROM deg),
         |r0 AS (SELECT doc_id,
         |   CAST($scale // (SELECT n_nodes FROM mx) AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT doc_id, CAST(r AS BIGINT) AS pagerank_fp
         |FROM r10""".stripMargin
    },
    "q92_pq_encode" ->
      s"""WITH best AS ($pqBestSql)
         |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS pq_codes,
         | round(CAST(sum(CAST(round(md2 * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS pq_error
         |FROM best GROUP BY 1""".stripMargin,
    "q93_pq_topk" -> pqTopkSql,
    // q101: PQ serving accuracy — ADC top-5 vs the exact squared-L2
    // ranking (the distance ADC approximates), per query
    "q101_pq_recall" ->
      s"""WITH pq AS (SELECT query_id, neighbor_id FROM ($pqTopkSql)),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
         |sc AS (SELECT query_id, vec_id AS neighbor_id,
         |   round(list_dot_product(d, d), 6) AS d2
         |  FROM (SELECT q.query_id, c.vec_id,
         |    list_transform(range(1, 65), i -> c.v[i] - q.qv[i]) AS d
         |   FROM c JOIN q ON c.vec_id <> q.query_id)),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2, neighbor_id) AS rn FROM sc)
         |  WHERE rn <= 5)
         |SELECT a.query_id,
         | CAST(count(*) AS BIGINT) AS n_returned,
         | CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         | round(CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5, 4) AS recall_at_5
         |FROM pq a LEFT JOIN ex e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY 1""".stripMargin,
    // q94: bigrams formed positionally (w[i], w[i+1]); the same
    // fixed-point mean recipe as q71
    "q94_bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
        |  WHERE len(string_split(text,' ')) >= 2),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT word) AS vsz FROM
        |  (SELECT unnest(string_split(text,' ')) AS word FROM documents)),
        |lp AS (SELECT w1, w2,
        |   round(-ln((c12 + 0.5) / (n1 + 0.5 * vsz)), 6) AS s
        |  FROM c12 JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | round(CAST(sum(CAST(round(s * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * CAST(1000000 AS DOUBLE)), 4) AS mean_bigram_surprisal
        |FROM bg JOIN lp USING (w1, w2) GROUP BY 1""".stripMargin,
    // q95: per-cell cap under the pinned trained codebook, q51's hash draw
    "q95_cluster_sample" ->
      s"""WITH a AS (SELECT vec_id, cell FROM ($trainedAssignSql)),
         |r AS (SELECT vec_id, cell, CAST(row_number() OVER (
         |    PARTITION BY cell
         |    ORDER BY ${h32("'cbs:'||CAST(vec_id AS VARCHAR)")}, vec_id) AS INTEGER) AS sample_rank
         |  FROM a)
         |SELECT * FROM r WHERE sample_rank <= 20""".stripMargin,
    // q96: content-defined chunking — chunk_id = boundaries (token hash
    // ≡ 0 mod 16) seen strictly before the position
    "q96_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |x AS (SELECT doc_id, i AS pos, w[i+1] AS tok,
         |   CASE WHEN ${h32("w[i+1]")} % 16 = 0 THEN 1 ELSE 0 END AS b
         |  FROM t, UNNEST(range(0, len(w))) AS u(i)),
         |c AS (SELECT doc_id, pos, tok,
         |   CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS chunk_id
         |  FROM x)
         |SELECT doc_id, chunk_id, CAST(min(pos) AS INTEGER) AS start_token,
         | CAST(count(*) AS INTEGER) AS n_chunk_tokens,
         | md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         |FROM c GROUP BY 1, 2""".stripMargin,
    // q97: the verified pairs with the k=16 signature-agreement estimate
    // alongside the exact Jaccard
    "q97_minhash_estimator" -> estimatorAuditSql,
    // q98: q52's packing windows ordered by (model score desc, doc_id)
    "q98_curriculum_pack" ->
      s"""WITH ms AS ($modelScoreSql),
         |d AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |j AS (SELECT d.doc_id, d.shard, ms.model_score, d.n_tokens
         |  FROM d JOIN ms USING (doc_id)),
         |o AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY model_score DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
         |  FROM j)
         |SELECT doc_id, shard, model_score, n_tokens, start_offset,
         | CAST(floor(start_offset / 2048.0) AS BIGINT) AS bin_id
         |FROM o""".stripMargin,
    // q102: 0-based positional 8-grams as 60-bit hashes (the q56 key
    // contract); a position repeats when its row_number within
    // (doc, gram_h) is >= 2
    "q102_repeated_grams" ->
      s"""WITH g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |   CAST(('0x'||substr(md5(array_to_string(list_slice(w, i, i+7), ' ')),1,15)) AS BIGINT) AS gram_h
         |  FROM ($toks), UNNEST(range(1, len(w)-6)) AS t(i)),
         |r AS (SELECT doc_id, pos, row_number() OVER (
         |   PARTITION BY doc_id, gram_h ORDER BY pos) AS rn FROM g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         | CAST(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
         | round(CAST(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS repeated_frac,
         | CAST(coalesce(min(CASE WHEN rn >= 2 THEN pos END), -1) AS INTEGER) AS first_repeat_pos
         |FROM r GROUP BY 1""".stripMargin,
    // q103: KL(P_source || P_corpus) over unigrams; per-(source, word)
    // term rounded once, fixed-point per-source sum
    "q103_source_kl" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |sw AS (SELECT source, word, count(*) AS c_sw FROM tok GROUP BY 1, 2),
        |cw AS (SELECT word, count(*) AS c_w FROM tok GROUP BY 1),
        |st AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
        |tt AS (SELECT count(*) AS n_c FROM tok),
        |terms AS (SELECT sw.source, st.n_s,
        |   round((CAST(c_sw AS DOUBLE) / n_s) * ln((CAST(c_sw AS DOUBLE) / n_s) / (CAST(c_w AS DOUBLE) / n_c)), 6) AS term
        |  FROM sw JOIN cw USING (word) JOIN st ON sw.source = st.source CROSS JOIN tt)
        |SELECT source, CAST(min(n_s) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_words,
        | round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS kl_divergence
        |FROM terms GROUP BY 1""".stripMargin,
    // q104: per-source running token total in (model_score desc, doc_id)
    // order, kept while within the 5000-token budget
    "q104_token_budget" ->
      s"""WITH ms AS ($modelScoreSql),
         |d AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |j AS (SELECT ms.doc_id, ms.source, ms.model_score, d.n_tokens
         |  FROM ms JOIN d USING (doc_id)),
         |o AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY model_score DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM j)
         |SELECT doc_id, source, model_score, n_tokens, cum_tokens
         |FROM o WHERE cum_tokens <= 5000""".stripMargin,
    // q105: per-component member/token rollup over the q50 closure
    "q105_cluster_stats" ->
      s"""WITH comp AS ($componentsSql),
         |t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |j AS (SELECT comp.doc_id, comp.component, t.n_tokens FROM comp JOIN t USING (doc_id)),
         |a AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         |   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |   CAST(sum(CASE WHEN doc_id <> component THEN n_tokens ELSE 0 END) AS BIGINT) AS duplicate_tokens
         |  FROM j GROUP BY 1)
         |SELECT component, n_members, total_tokens, duplicate_tokens,
         | round(CAST(duplicate_tokens AS DOUBLE) / total_tokens, 6) AS dup_token_frac
         |FROM a""".stripMargin,
    // q106: Broder containment on the winnow sketch — shared fingerprints
    // over the smaller document's fingerprint count
    "q106_winnow_containment" ->
      s"""WITH bh AS ($baseHashes),
         |wf AS (SELECT DISTINCT doc_id, fp FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, greatest(len(hs)-3, 1)+1), i -> list_min(hs[i:i+3])))) AS fp
         |  FROM bh WHERE len(hs) > 0)),
         |sizes AS (SELECT doc_id, count(*) AS n_fp FROM wf GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc1, doc2, n_shared,
         | round(CAST(n_shared AS DOUBLE) / least(x.n_fp, y.n_fp), 6) AS containment
         |FROM inter JOIN sizes x ON doc1 = x.doc_id JOIN sizes y ON doc2 = y.doc_id
         |WHERE round(CAST(n_shared AS DOUBLE) / least(x.n_fp, y.n_fp), 6) >= 0.5""".stripMargin,
    // q107: positional variant of the q56 gram match — only contaminated
    // training docs report, with first/last matched token positions.
    // n=3 to give the gate a non-empty result on the synthetic corpus
    "q107_decontam_spans" ->
      s"""WITH g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |   CAST(('0x'||substr(md5(array_to_string(list_slice(w, i, i+2), ' ')),1,15)) AS BIGINT) AS gram_h
         |  FROM ($toks), UNNEST(range(1, len(w)-1)) AS t(i)),
         |b AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 97 = 0),
         |t AS (SELECT doc_id, pos, gram_h FROM g WHERE doc_id % 97 <> 0)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hit_positions,
         | CAST(min(pos) AS INTEGER) AS first_pos, CAST(max(pos) AS INTEGER) AS last_pos,
         | CAST(max(pos) - min(pos) + 3 AS INTEGER) AS span_tokens
         |FROM t JOIN b USING (gram_h)
         |GROUP BY 1""".stripMargin,
    // q108: least-squares ln(freq) ~ ln(rank) over the top-1000 words;
    // every term rounded once, fixed-point sums, closed-form slope
    "q108_zipf_audit" ->
      """WITH f AS (SELECT word, count(*) AS n
        |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
        |  GROUP BY 1 ORDER BY n DESC, word LIMIT 1000),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS r FROM f),
        |t AS (SELECT round(ln(CAST(r AS DOUBLE)), 6) AS x,
        |   round(ln(CAST(n AS DOUBLE)), 6) AS y FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |   round(CAST(sum(CAST(round(x*1000000) AS BIGINT)) AS DOUBLE)/1000000, 6) AS sx,
        |   round(CAST(sum(CAST(round(y*1000000) AS BIGINT)) AS DOUBLE)/1000000, 6) AS sy,
        |   round(CAST(sum(CAST(round(round(x*y,6)*1000000) AS BIGINT)) AS DOUBLE)/1000000, 6) AS sxy,
        |   round(CAST(sum(CAST(round(round(x*x,6)*1000000) AS BIGINT)) AS DOUBLE)/1000000, 6) AS sxx
        |  FROM t)
        |SELECT n_words,
        | round((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx), 6) AS zipf_slope,
        | round((sy - ((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx)) * sx) / n_words, 6) AS zipf_intercept
        |FROM s""".stripMargin,
    // q109: q52's packing chained into a per-shard utilization rollup
    "q109_packing_efficiency" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |p AS (SELECT doc_id, shard, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset FROM d),
        |b AS (SELECT shard, n_tokens, CAST(floor(start_offset / 2048.0) AS BIGINT) AS bin_id FROM p),
        |a AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |   CAST(max(bin_id) + 1 AS BIGINT) AS n_bins FROM b GROUP BY 1)
        |SELECT shard, n_docs, total_tokens, n_bins,
        | round(CAST(total_tokens AS DOUBLE) / (n_bins * 2048), 6) AS utilization
        |FROM a""".stripMargin,
    // q110: per-source canonical survival over the q50 closure
    "q110_dedup_survival" ->
      s"""WITH comp AS ($componentsSql),
         |s AS (SELECT comp.doc_id, comp.component, d.source
         |  FROM comp JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
         | round(CAST(sum(CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS survival_rate
         |FROM s GROUP BY 1""".stripMargin,
    // q111: md5 of the C4 normal form (lowercase, strip non-[a-z0-9 ],
    // squeeze spaces, trim); 'g' flags match Spark's replace-all
    "q111_normalized_dedup" ->
      """WITH h AS (SELECT doc_id,
        |   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
        |  FROM documents),
        |g AS (SELECT norm_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |   min(doc_id) AS canonical_doc_id FROM h GROUP BY 1)
        |SELECT h.doc_id, h.norm_hash, g.n_docs, g.canonical_doc_id,
        | CAST(h.doc_id <> g.canonical_doc_id AS INTEGER) AS is_duplicate
        |FROM h JOIN g USING (norm_hash)""".stripMargin,
    // q112: occurrence-weighted adjacent char pairs (1-based inclusive
    // slice w[i:i+1] = DuckDB's two-char window, mirroring substr(i, 2))
    "q112_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 100""".stripMargin,
    // q113: full-outer reconciliation of the two verified pair sets at 0.7
    "q113_route_agreement" ->
      s"""WITH l AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |w AS (SELECT doc1, doc2 FROM (${winnowPairsSql(0.7)})),
         |f AS (SELECT
         |   CASE WHEN l.doc1 IS NOT NULL THEN 1 ELSE 0 END AS in_l,
         |   CASE WHEN w.doc1 IS NOT NULL THEN 1 ELSE 0 END AS in_w
         |  FROM l FULL OUTER JOIN w ON l.doc1 = w.doc1 AND l.doc2 = w.doc2)
         |SELECT CAST(sum(in_l) AS BIGINT) AS lsh_pairs,
         | CAST(sum(in_w) AS BIGINT) AS winnow_pairs,
         | CAST(sum(CASE WHEN in_l = 1 AND in_w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS common_pairs,
         | CAST(sum(CASE WHEN in_w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lsh_only,
         | CAST(sum(CASE WHEN in_l = 0 THEN 1 ELSE 0 END) AS BIGINT) AS winnow_only
         |FROM f""".stripMargin,
    // q114: bin = len(bin(n)) - 1 = floor(log2 n), integer-exact on both
    // engines (a float log wobbles at power-of-two boundaries)
    "q114_length_histogram" ->
      """WITH n AS (SELECT greatest(len(string_split(text,' ')), 1) AS n FROM documents)
        |SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS length_bin,
        | CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
        | CAST(min(n) AS BIGINT) AS min_tokens, CAST(max(n) AS BIGINT) AS max_tokens
        |FROM n GROUP BY 1""".stripMargin,
    // q115: trained-cell blocking, projected-cosine pre-filter >= 0,
    // exact cosine >= 0.3 decides (both scores emitted)
    "q115_projected_neardup" ->
      s"""WITH assigned AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
         |pr AS (SELECT vec_id, [${(0 until 8).map(j => s"p_$j").mkString(", ")}] AS pv
         |  FROM ($projectionSql)),
         |j AS (SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.cell AS cell,
         |   ${cosExpr("ap.pv", "bp.pv")} AS proj_cosine,
         |   a.v AS av, b.v AS bv
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN pr ap ON ap.vec_id = a.vec_id
         |  JOIN pr bp ON bp.vec_id = b.vec_id)
         |SELECT vec1, vec2, cell, proj_cosine, ${cosExpr("av", "bv")} AS cosine
         |FROM j
         |WHERE proj_cosine >= CAST(0.0 AS DOUBLE)
         |  AND ${cosExpr("av", "bv")} >= CAST(0.3 AS DOUBLE)""".stripMargin,
    // q116: parity carve (odd = batch, even = history); band collisions
    // across the carve, exact Jaccard >= 0.7 verify
    "q116_incremental_neardup" ->
      s"""WITH sig AS (
         |  SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}] AS sig
         |  FROM ($baseHashes)),
         |banded AS (SELECT doc_id, b AS band,
         |   md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
         |  FROM sig, UNNEST([0,1,2,3]) AS t(b)),
         |bb AS (SELECT * FROM banded WHERE doc_id % 2 <> 0),
         |hb AS (SELECT * FROM banded WHERE doc_id % 2 = 0),
         |cand AS (SELECT DISTINCT bb.doc_id AS d1, hb.doc_id AS d2
         |  FROM bb JOIN hb ON bb.band = hb.band AND bb.bkey = hb.bkey),
         |sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT d1, d2, count(*) AS cnt
         |  FROM cand JOIN sh s1 ON s1.doc_id = d1
         |  JOIN sh s2 ON s2.doc_id = d2 AND s1.shingle = s2.shingle
         |  GROUP BY 1, 2)
         |SELECT d1 AS batch_doc, d2 AS history_doc,
         | round(cnt*1.0/(x.n + y.n - cnt), 6) AS jaccard
         |FROM inter JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
         |WHERE round(cnt*1.0/(x.n + y.n - cnt), 6) >= 0.7""".stripMargin,
    // q117: per-anchor argmax over the in-cell pair space — positive at
    // cosine >= 0.3, hardest negative strictly below 0.2; row_number
    // (cosine desc, cand asc) mirrors max_by(cand, struct(cos, -cand))
    "q117_triplet_mining" ->
      s"""WITH assigned AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
         |p AS (SELECT a.vec_id AS anchor, b.vec_id AS cand,
         |    ${cosExpr("a.v", "b.v")} AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |pos AS (SELECT anchor, cand AS positive, cosine AS pos_cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY anchor
         |     ORDER BY cosine DESC, cand) AS rn
         |  FROM p WHERE cosine >= CAST(0.3 AS DOUBLE)) WHERE rn = 1),
         |neg AS (SELECT anchor, cand AS negative, cosine AS neg_cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY anchor
         |     ORDER BY cosine DESC, cand) AS rn
         |  FROM p WHERE cosine < CAST(0.2 AS DOUBLE)) WHERE rn = 1)
         |SELECT pos.anchor, positive, pos_cosine, negative, neg_cosine
         |FROM pos JOIN neg ON pos.anchor = neg.anchor""".stripMargin,
    // q118: tokens covered by any benchmark-matching 3-gram are excised;
    // string_agg skips the NULLed covered tokens, order restored by pos
    "q118_excise_contamination" ->
      s"""WITH g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |   CAST(('0x'||substr(md5(array_to_string(list_slice(w, i, i+2), ' ')),1,15)) AS BIGINT) AS gram_h
         |  FROM ($toks), UNNEST(range(1, len(w)-1)) AS t(i)),
         |b AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 97 = 0),
         |hits AS (SELECT DISTINCT g.doc_id, g.pos FROM g
         |  JOIN b USING (gram_h) WHERE g.doc_id % 97 <> 0),
         |cover AS (SELECT DISTINCT doc_id, pos + off AS cpos
         |  FROM hits, UNNEST(range(0, 3)) AS o(off)),
         |tok AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS tok
         |  FROM ($toks), UNNEST(range(1, len(w)+1)) AS ti(i)
         |  WHERE doc_id % 97 <> 0),
         |j AS (SELECT tok.doc_id, tok.pos, tok.tok,
         |   CASE WHEN cover.cpos IS NULL THEN 0 ELSE 1 END AS cov
         |  FROM tok LEFT JOIN cover
         |    ON tok.doc_id = cover.doc_id AND tok.pos = cover.cpos)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(sum(cov) AS BIGINT) AS n_removed,
         | coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY pos), '') AS clean_text
         |FROM j GROUP BY 1""".stripMargin,
    // q119: smallest 2-dp bin whose cumulative fraction clears 5% / 95%
    // bounds the clip band; least/greatest clips the (6-dp) score
    "q119_winsorized_scores" ->
      s"""WITH s AS ($modelScoreSql),
         |b AS (SELECT doc_id, source, model_score, round(model_score, 2) AS bin FROM s),
         |h AS (SELECT source, bin, count(*) AS n FROM b GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_source FROM h GROUP BY 1),
         |c AS (SELECT source, bin,
         |   CAST(sum(n) OVER (PARTITION BY source ORDER BY bin) AS DOUBLE) / n_source AS cum_frac
         |  FROM h JOIN t USING (source)),
         |bounds AS (SELECT source,
         |   min(CASE WHEN cum_frac >= CAST(0.05 AS DOUBLE) THEN bin END) AS lo_bound,
         |   min(CASE WHEN cum_frac >= CAST(0.95 AS DOUBLE) THEN bin END) AS hi_bound
         |  FROM c GROUP BY 1)
         |SELECT b.doc_id, b.source, b.model_score, lo_bound, hi_bound,
         | least(greatest(b.model_score, lo_bound), hi_bound) AS winsorized_score
         |FROM b JOIN bounds USING (source)""".stripMargin,
    // q120: per-source shares over all docs vs the q61 keep-set
    "q120_survivor_mix" ->
      s"""WITH keep AS (SELECT doc_id FROM ($curationSql) c WHERE keep = 1),
         |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |surv AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM documents JOIN keep USING (doc_id) GROUP BY 1),
         |t AS (SELECT (SELECT sum(n_docs) FROM raw) AS total_docs,
         |          (SELECT sum(n_kept) FROM surv) AS total_kept),
         |j AS (SELECT raw.source, raw.n_docs, coalesce(surv.n_kept, 0) AS n_kept,
         |   round(CAST(raw.n_docs AS DOUBLE) / total_docs, 6) AS raw_share,
         |   round(CAST(coalesce(surv.n_kept, 0) AS DOUBLE) / total_kept, 6) AS survivor_share
         |  FROM raw LEFT JOIN surv ON raw.source = surv.source CROSS JOIN t)
         |SELECT source, n_docs, n_kept, raw_share, survivor_share,
         | round(survivor_share - raw_share, 6) AS share_delta
         |FROM j""".stripMargin,
    // q121: per-benchmark-doc contamination blast radius (3-grams)
    "q121_benchmark_contamination" ->
      s"""WITH g AS (SELECT doc_id,
         |   CAST(('0x'||substr(md5(array_to_string(list_slice(w, i, i+2), ' ')),1,15)) AS BIGINT) AS gram_h
         |  FROM ($toks), UNNEST(range(1, len(w)-1)) AS t(i)),
         |b AS (SELECT DISTINCT doc_id AS bench_doc, gram_h FROM g WHERE doc_id % 97 = 0),
         |tr AS (SELECT DISTINCT doc_id, gram_h FROM g WHERE doc_id % 97 <> 0)
         |SELECT bench_doc,
         | CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
         | CAST(count(DISTINCT tr.gram_h) AS BIGINT) AS n_shared_grams
         |FROM tr JOIN b USING (gram_h)
         |GROUP BY 1""".stripMargin,
    // q122: md5 of the ordered (capped-100) event-type sequence per
    // session; group stats joined back, replay = shared sequence
    "q122_session_dedup" ->
      """WITH s AS (SELECT user_id,
        |   time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        |   md5(array_to_string(list_slice(list(event_type ORDER BY event_id), 1, 100), ',')) AS seq_hash,
        |   CAST(count(*) AS BIGINT) AS seq_len
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT seq_hash, CAST(count(*) AS BIGINT) AS n_sessions,
        |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM s GROUP BY 1)
        |SELECT s.user_id, s.session_start, s.seq_hash, s.seq_len,
        | g.n_sessions, g.n_users,
        | CAST(g.n_sessions > 1 AS INTEGER) AS is_replayed
        |FROM s JOIN g USING (seq_hash)""".stripMargin,
    // q123: per-user rollup of the replay flags
    "q123_user_replay" ->
      """WITH s AS (SELECT user_id,
        |   time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS session_start,
        |   md5(array_to_string(list_slice(list(event_type ORDER BY event_id), 1, 100), ',')) AS seq_hash
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT seq_hash, count(*) AS n_sessions FROM s GROUP BY 1),
        |j AS (SELECT s.user_id,
        |   CASE WHEN g.n_sessions > 1 THEN 1 ELSE 0 END AS is_replayed
        |  FROM s JOIN g USING (seq_hash))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(is_replayed) AS BIGINT) AS n_replayed,
        | round(CAST(sum(is_replayed) AS DOUBLE) / count(*), 6) AS replay_frac
        |FROM j GROUP BY 1""".stripMargin,
    // q124: q99's keep-set rolled into per-shard counts + the commutative
    // 60-bit-hash-sum checksum, reduced mod 10^12 so the shipped value is
    // a plain BIGINT (no >64-bit digit string for a reader to coerce)
    "q124_shard_checksums" ->
      s"""WITH keep AS (SELECT doc_id FROM ($curationSql) c WHERE keep = 1),
         |d AS (SELECT doc_id,
         |  CAST(doc_id % 8 AS INTEGER) AS shard,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS h
         | FROM documents JOIN keep USING (doc_id))
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | CAST(sum(h) % 1000000000000 AS BIGINT) AS content_checksum
         |FROM d GROUP BY 1""".stripMargin,
    // q125: IVF probe (cosine cells, rn<=4) prunes candidates; ADC codes
    // + LUT score them; fixed-point rollup, top-5 per query
    "q125_ivfpq_topk" ->
      s"""WITH best AS ($pqBestSql),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM c
         |  ORDER BY ${h32("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
         |assigned AS (SELECT vec_id, cell FROM (
         |  SELECT c.vec_id, cents.cid AS cell, row_number() OVER (
         |    PARTITION BY c.vec_id ORDER BY ${cosExpr("c.v", "cents.cv", 6)} DESC, cents.cid) AS rn
         |  FROM c CROSS JOIN cents) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
         |probes AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, cents.cid AS cell, row_number() OVER (
         |    PARTITION BY q.query_id ORDER BY ${cosExpr("q.qv", "cents.cv", 6)} DESC, cents.cid) AS rn
         |  FROM q CROSS JOIN cents) WHERE rn <= 4),
         |cand AS (SELECT query_id, vec_id
         |  FROM assigned JOIN probes USING (cell) WHERE vec_id <> query_id),
         |lut AS (SELECT query_id, sub, cid AS code,
         |   round(list_dot_product(d, d), 6) AS dd
         |  FROM (SELECT q.query_id, t.sub, cents.cid,
         |    list_transform(range(1, 9), i -> q.qv[t.sub*8 + i] - cents.cv[t.sub*8 + i]) AS d
         |   FROM q CROSS JOIN cents CROSS JOIN UNNEST([0,1,2,3,4,5,6,7]) AS t(sub))),
         |scored AS (SELECT cand.query_id, b.vec_id AS neighbor_id,
         |   round(CAST(sum(CAST(round(dd * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS adc_dist
         |  FROM cand JOIN best b ON b.vec_id = cand.vec_id
         |  JOIN lut ON lut.query_id = cand.query_id
         |   AND b.sub = lut.sub AND b.code = lut.code
         |  GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS INTEGER) AS "rank"
         |  FROM scored)
         |SELECT * FROM r WHERE "rank" <= 5""".stripMargin,
    // q126: the q100 candidate table swept over verify thresholds;
    // zero-overlap candidates carry jaccard 0.0; thresholds CAST to
    // DOUBLE (a DECIMAL 0.6 would not equal the engine's float 0.6)
    "q126_threshold_sweep" ->
      s"""WITH sig AS (
         |  SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}] AS sig
         |  FROM ($baseHashes)),
         |banded AS (SELECT doc_id, b AS band,
         |   md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
         |  FROM sig, UNNEST([0,1,2,3]) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM banded a JOIN banded b
         |   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT doc1, doc2, count(*) AS cnt
         |  FROM cand
         |  JOIN sh s1 ON s1.doc_id = doc1
         |  JOIN sh s2 ON s2.doc_id = doc2 AND s1.shingle = s2.shingle
         |  GROUP BY 1,2),
         |ex AS (SELECT inter.doc1, inter.doc2,
         |   round(cnt*1.0/(x.n + y.n - cnt), 6) AS j
         |  FROM inter JOIN sizes x ON inter.doc1 = x.doc_id
         |  JOIN sizes y ON inter.doc2 = y.doc_id),
         |e AS (SELECT cand.doc1, cand.doc2,
         |   coalesce(ex.j, CAST(0.0 AS DOUBLE)) AS jaccard
         |  FROM cand LEFT JOIN ex
         |    ON cand.doc1 = ex.doc1 AND cand.doc2 = ex.doc2)
         |SELECT t.threshold, CAST(count(*) AS BIGINT) AS n_candidates,
         | CAST(sum(CASE WHEN jaccard >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
         |FROM e CROSS JOIN UNNEST(CAST([0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[])) AS t(threshold)
         |GROUP BY 1""".stripMargin,
    // q127: q82's pinned-hash split feeding q103's KL recipe, split as
    // the grouping key
    "q127_split_drift" ->
      """WITH sp AS (SELECT doc_id,
        |   CASE WHEN d < 900 THEN 'train' WHEN d < 950 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |    CAST(('0x'||substr(md5('split:'||source||':'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000 AS d
        |   FROM documents)),
        |tok AS (SELECT sp.split AS source, unnest(string_split(text, ' ')) AS word
        |  FROM documents JOIN sp USING (doc_id)),
        |sw AS (SELECT source, word, count(*) AS c_sw FROM tok GROUP BY 1, 2),
        |cw AS (SELECT word, count(*) AS c_w FROM tok GROUP BY 1),
        |st AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
        |tt AS (SELECT count(*) AS n_c FROM tok),
        |terms AS (SELECT sw.source, st.n_s,
        |   round((CAST(c_sw AS DOUBLE) / n_s) * ln((CAST(c_sw AS DOUBLE) / n_s) / (CAST(c_w AS DOUBLE) / n_c)), 6) AS term
        |  FROM sw JOIN cw USING (word) JOIN st ON sw.source = st.source CROSS JOIN tt)
        |SELECT source AS split, CAST(min(n_s) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_words,
        | round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS kl_divergence
        |FROM terms GROUP BY 1""".stripMargin,
    // q128: per-component argmax on (model_score, -doc_id) — row_number
    // (score desc, doc_id) mirrors the engine's max_by tiebreak
    "q128_quality_canonical" ->
      s"""WITH comp AS ($componentsSql),
         |ms AS (SELECT doc_id, model_score FROM ($modelScoreSql)),
         |s AS (SELECT comp.doc_id, comp.component, ms.model_score
         |  FROM comp JOIN ms USING (doc_id)),
         |best AS (SELECT component, doc_id AS keep_doc FROM (
         |  SELECT *, row_number() OVER (PARTITION BY component
         |     ORDER BY model_score DESC, doc_id) AS rn FROM s) WHERE rn = 1)
         |SELECT s.doc_id, s.component, s.model_score,
         | CAST(s.doc_id = best.keep_doc AS INTEGER) AS keep
         |FROM s JOIN best ON s.component = best.component""".stripMargin,
    // q129: RRF fusion — ranks are integers, contributions ×10⁶ fixed-point
    // longs (round half-up matches in both engines on positives), so the
    // fused score cannot drift; absent ranks → -1 sentinel, 0 contribution
    "q129_hybrid_rrf" ->
      s"""WITH lex AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank_lex
         |  FROM ($bm25Sql)),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |semtop AS (SELECT vec_id AS doc_id, ${cosExpr("qv", "v")} AS cosine
         |  FROM c CROSS JOIN q ORDER BY cosine DESC, doc_id LIMIT 50),
         |sem AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY cosine DESC, doc_id) AS INTEGER) AS rank_sem FROM semtop),
         |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem
         |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id, coalesce(rank_lex, -1) AS rank_lex,
         | coalesce(rank_sem, -1) AS rank_sem,
         | round((coalesce(CAST(round(1000000.0 / (60 + rank_lex)) AS BIGINT), 0)
         |      + coalesce(CAST(round(1000000.0 / (60 + rank_sem)) AS BIGINT), 0))
         |   / 1000000.0, 6) AS rrf
         |FROM f""".stripMargin,
    // q130: the component id (not the doc id) seeds the split draw, so a
    // whole near-dup cluster lands on one side of the cut by construction
    "q130_leakage_aware_split" ->
      s"""WITH comp AS ($componentsSql)
         |SELECT d.doc_id, d.source, cs.component,
         | CASE WHEN dr < 900 THEN 'train' WHEN dr < 950 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, source FROM documents) d
         |JOIN (SELECT doc_id, component,
         |    CAST(('0x' || substr(md5('csplit:' || CAST(component AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 1000 AS dr
         |  FROM comp) cs USING (doc_id)""".stripMargin,
    // q131: per-row norms rounded once at 6 dp (both engines fold the dot
    // product in element order), mean as a ×10⁶ fixed-point sum
    "q131_embedding_audit" ->
      """WITH n AS (SELECT label,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))), 6) AS norm,
        |  len(embedding) AS dim FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(CASE WHEN norm < 0.000001 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
        | CAST(min(dim) AS INTEGER) AS min_dim, CAST(max(dim) AS INTEGER) AS max_dim,
        | min(norm) AS min_norm, max(norm) AS max_norm,
        | round(CAST(sum(CAST(round(norm * 1000000) AS BIGINT)) AS DOUBLE)
        |   / 1000000 / count(*), 6) AS mean_norm
        |FROM n GROUP BY label""".stripMargin,
    // q132: features sit on fixed grids, so ×10⁶ rows are exact integers;
    // all sums are HUGEINT (mirrors the engine's decimal(38,0)) and only
    // the final r touches floats, through the identical expression shape.
    // Generated from the same CorrFeatures list the engine iterates.
    "q132_feature_corr" -> {
      val feats = graft.analytics.TextAnalytics.CorrFeatures
      val pairs = for {
        i <- feats.indices; j <- i + 1 until feats.size
      } yield (feats(i), feats(j))
      val fpCols = feats
        .map(f => s"CAST(round(CAST($f AS DOUBLE) * 1000000) AS BIGINT) AS $f")
        .mkString(",\n ")
      val sums = (feats.flatMap(f => Seq(
          s"sum(CAST($f AS HUGEINT)) AS s_$f",
          s"sum(CAST($f AS HUGEINT) * $f) AS ss_$f")) ++
        pairs.map { case (x, y) =>
          s"sum(CAST($x AS HUGEINT) * $y) AS sp_${x}__$y"
        } :+ "count(*) AS n").mkString(",\n ")
      val rows = pairs.map { case (x, y) =>
        s"""SELECT '$x' AS feature_x, '$y' AS feature_y, CAST(n AS BIGINT) AS n,
           | CASE WHEN (CAST(n AS HUGEINT) * ss_$x - s_$x * s_$x) = 0
           |        OR (CAST(n AS HUGEINT) * ss_$y - s_$y * s_$y) = 0 THEN NULL
           |   ELSE round(CAST(CAST(n AS HUGEINT) * sp_${x}__$y - s_$x * s_$y AS DOUBLE)
           |     / (sqrt(CAST(CAST(n AS HUGEINT) * ss_$x - s_$x * s_$x AS DOUBLE))
           |        * sqrt(CAST(CAST(n AS HUGEINT) * ss_$y - s_$y * s_$y AS DOUBLE))), 6)
           | END AS pearson_r FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m0 AS (SELECT$qualityCols,
         | $qualityScore AS quality_score FROM documents),
         |fp AS (SELECT
         | $fpCols FROM m0),
         |s AS (SELECT
         | $sums FROM fp)
         |$rows""".stripMargin
    },
    // q133: all-integer until the display column — token sums and the
    // budget are exact, epochs a ×10⁶ truncating division capped at 4
    "q133_epoch_plan" ->
      s"""WITH tgt(source, target_share) AS (VALUES
         |  ${graft.operators.Curation.DomainTargets.map { case (s, w) =>
              s"('$s', CAST('$w' AS DOUBLE))" }.mkString(",\n|  ")}),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         | FROM documents GROUP BY 1),
         |b AS (SELECT CAST((sum(n_tokens) * 150) // 100 AS BIGINT) AS budget FROM ps)
         |SELECT source, n_docs, n_tokens, target_share,
         | CAST(round(budget * target_share) AS BIGINT) AS target_tokens,
         | round(CAST(least(4000000,
         |   (CAST(round(budget * target_share) AS BIGINT) * 1000000) // n_tokens)
         |  AS DOUBLE) / 1000000, 6) AS epochs,
         | CAST(least(4000000,
         |   (CAST(round(budget * target_share) AS BIGINT) * 1000000) // n_tokens)
         |  > 1000000 AS INTEGER) AS upsampled
         |FROM ps CROSS JOIN b JOIN tgt USING (source)""".stripMargin,
    // q134: degree-ordered orientation — each triangle counted once at its
    // unique (deg, id)-lowest vertex (shared trianglesCtes fragment)
    "q134_triangles" ->
      s"""WITH $trianglesCtes,
         |x AS (SELECT unnest([a, b, c]) AS doc_id FROM t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM x GROUP BY 1""".stripMargin,
    // q135: the pair list decorated with sources, unordered-pair canonical
    "q135_cross_source" ->
      s"""WITH mp AS ($minhashPairsSql)
         |SELECT least(a.source, b.source) AS source1,
         |  greatest(a.source, b.source) AS source2,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM mp JOIN documents a ON mp.doc1 = a.doc_id
         |        JOIN documents b ON mp.doc2 = b.doc_id
         |GROUP BY 1, 2""".stripMargin,
    // q136: distinct trigram stream keyed by the shared 60-bit md5-prefix
    // hash; df == 1 marks globally-unique grams
    "q136_novelty" ->
      """WITH g AS (SELECT DISTINCT doc_id,
        |  CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gh
        | FROM (SELECT doc_id,
        |   unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |          || ' ' || string_split(text,' ')[i+2])) AS gram
        |  FROM documents)),
        |df AS (SELECT gh, count(*) AS df FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        | round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS novelty
        |FROM g JOIN df USING (gh) GROUP BY 1""".stripMargin,
    // q137: Efraimidis-Spirakis keys — u is an exact dyadic rational, w
    // sits on the score grid, ln is the one transcendental (q90 precedent)
    "q137_weighted_sample" ->
      s"""WITH b AS (SELECT doc_id, source,
         |  (CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |     AS BIGINT) + 1) / 4294967296.0 AS u,
         |  model_score + 2.0 AS w
         | FROM ($modelScoreSql))
         |SELECT doc_id, source, round(w, 6) AS weight,
         | round(-ln(u) / w, 6) AS sample_key
         |FROM b ORDER BY sample_key, doc_id LIMIT 100""".stripMargin,
    // q138: THE THEOREM IS THE GATE — the incremental path must reproduce
    // q50's full-recompute labels exactly, so it shares q50's oracle
    "q138_incremental_components" -> componentsSql,
    // q139: vocab head pinned by (count desc, word) — the q58 ranking
    "q139_oov_rate" ->
      """WITH v AS (SELECT word FROM (
        |  SELECT word, count(*) AS c
        |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
        |  GROUP BY 1 ORDER BY c DESC, word LIMIT 100)),
        |t AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS oov_rate
        |FROM t LEFT JOIN v ON t.word = v.word GROUP BY 1""".stripMargin,
    // q140: lead over (ts, event_id) — same-user microsecond ties don't
    // exist in the corpus and the event_id tiebreak pins the order anyway
    "q140_transition_matrix" ->
      s"""WITH c AS ($transitionCountsSql),
         |tot AS (SELECT from_type, sum(n_transitions) AS n_from FROM c GROUP BY 1)
         |SELECT from_type, to_type, CAST(n_transitions AS BIGINT) AS n_transitions,
         | round(CAST(n_transitions AS DOUBLE) / n_from, 6) AS p_next
         |FROM c JOIN tot USING (from_type)""".stripMargin,
    // q141: per-bin PSI terms rounded once then fixed-point summed (the
    // q103 recipe); one-sided bins counted, excluded from the sum
    "q141_value_drift_psi" ->
      """WITH e AS (SELECT event_type, event_id % 2 AS cohort,
        |  CAST(floor(value / 25.0) AS BIGINT) AS bin FROM events),
        |cb AS (SELECT event_type, bin,
        |  sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS n_a,
        |  sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS n_b
        | FROM e GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(n_a) AS t_a, sum(n_b) AS t_b
        | FROM cb GROUP BY 1),
        |t AS (SELECT cb.event_type,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round((CAST(n_a AS DOUBLE) / t_a - CAST(n_b AS DOUBLE) / t_b)
        |      * ln((CAST(n_a AS DOUBLE) / t_a) / (CAST(n_b AS DOUBLE) / t_b)), 6)
        |  ELSE 0.0 END AS term,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN 1 ELSE 0 END AS onesided
        | FROM cb JOIN tot USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins,
        | CAST(sum(onesided) AS BIGINT) AS n_onesided,
        | round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
        |   / 1000000, 6) AS psi
        |FROM t GROUP BY 1""".stripMargin,
    // q142: the q97 audit binned by exact Jaccard; means fixed-point
    "q142_estimator_margins" ->
      s"""WITH a AS ($estimatorAuditSql)
         |SELECT CAST(floor(jaccard / 0.05) AS BIGINT) AS bin,
         | CAST(count(*) AS BIGINT) AS n_pairs,
         | round(CAST(sum(CAST(round(est_jaccard * 1000000) AS BIGINT)) AS DOUBLE)
         |   / 1000000 / count(*), 6) AS mean_est,
         | round(CAST(sum(CAST(round(abs_err * 1000000) AS BIGINT)) AS DOUBLE)
         |   / 1000000 / count(*), 6) AS mean_abs_err,
         | max(abs_err) AS max_abs_err
         |FROM a GROUP BY 1""".stripMargin,
    // q143: triangles credit their three id-canonical edges; left join
    // keeps support-0 chain links visible
    "q143_edge_support" -> edgeSupportSql,
    // q145: the same recursive reach as q50, over supported edges only
    "q145_supported_components" ->
      s"""WITH RECURSIVE
         |es AS ($edgeSupportSql),
         |keep AS (SELECT doc1, doc2 FROM es WHERE support >= 1),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM keep
         |          UNION ALL SELECT doc2, doc1 FROM keep),
         |reach(doc_id, component) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.component FROM reach r JOIN edges e ON e.src = r.doc_id)
         |SELECT doc_id, min(component) AS component
         |FROM reach GROUP BY doc_id""".stripMargin,
    // q144: the q32 predictor rolled into a confusion matrix
    "q144_lang_confusion" ->
      s"""WITH pr AS (SELECT lang AS actual_lang, $langPredicted AS predicted_lang
         |  FROM (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents)),
         |c AS (SELECT actual_lang, predicted_lang, count(*) AS n_docs
         | FROM pr GROUP BY 1, 2),
         |tot AS (SELECT actual_lang, sum(n_docs) AS n_actual FROM c GROUP BY 1)
         |SELECT actual_lang, predicted_lang, CAST(n_docs AS BIGINT) AS n_docs,
         | round(CAST(n_docs AS DOUBLE) / n_actual, 6) AS rate
         |FROM c JOIN tot USING (actual_lang)""".stripMargin,
    // q146: −p·ln(p) terms rounded once then fixed-point summed (q103
    // recipe); the flag is integer logic over the rounded entropy
    "q146_user_entropy" ->
      """WITH ut AS (SELECT user_id, event_type, count(*) AS c
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT user_id, sum(c) AS n_events FROM ut GROUP BY 1),
        |t AS (SELECT ut.user_id, tot.n_events,
        |  round(-(CAST(c AS DOUBLE) / n_events)
        |    * ln(CAST(c AS DOUBLE) / n_events), 6) AS term
        | FROM ut JOIN tot USING (user_id)),
        |h AS (SELECT user_id, CAST(min(n_events) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
        |    / 1000000, 6) AS entropy
        | FROM t GROUP BY 1)
        |SELECT user_id, n_events, n_types, entropy,
        | CAST(n_events >= 20 AND entropy < 0.5 AS INTEGER) AS bot_like
        |FROM h""".stripMargin,
    // q147: pinned band thresholds (not data quantiles) — reproducible
    // and sketch-free; the anchor is the corpus max date, like q12
    "q147_rfm_segments" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor_date FROM events),
        |b AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_date,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  round(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
        |    THEN value ELSE 0.0 END), 2) AS monetary
        | FROM events GROUP BY 1),
        |s AS (SELECT user_id,
        |  CAST(date_diff('day', last_date, anchor_date) AS BIGINT) AS recency_days,
        |  frequency, monetary,
        |  CASE WHEN date_diff('day', last_date, anchor_date) <= 7 THEN 3
        |       WHEN date_diff('day', last_date, anchor_date) <= 30 THEN 2
        |       ELSE 1 END AS r_score,
        |  CASE WHEN frequency >= 50 THEN 3 WHEN frequency >= 10 THEN 2
        |       ELSE 1 END AS f_score,
        |  CASE WHEN monetary >= 500.0 THEN 3 WHEN monetary >= 50.0 THEN 2
        |       ELSE 1 END AS m_score
        | FROM b CROSS JOIN a)
        |SELECT user_id, recency_days, frequency, monetary,
        | CAST(r_score AS INTEGER) AS r_score, CAST(f_score AS INTEGER) AS f_score,
        | CAST(m_score AS INTEGER) AS m_score,
        | CASE WHEN r_score = 3 AND f_score = 3 AND m_score = 3 THEN 'champion'
        |      WHEN r_score >= 2 AND f_score >= 2 THEN 'loyal'
        |      WHEN r_score = 1 AND f_score >= 2 THEN 'at_risk'
        |      WHEN r_score >= 2 AND f_score = 1 THEN 'new'
        |      ELSE 'hibernating' END AS segment
        |FROM s""".stripMargin,
    // q148: distinct (user, day, item) baskets; lift vs independence
    "q148_item_cooccurrence" ->
      """WITH i AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |  CAST(props->>'k' AS INTEGER) AS item
        | FROM events WHERE props->>'k' IS NOT NULL),
        |tot AS (SELECT count(*) AS n_baskets
        | FROM (SELECT DISTINCT user_id, day FROM i)),
        |ic AS (SELECT item, count(*) AS n_item FROM i GROUP BY 1),
        |p AS (SELECT a.item AS item1, b.item AS item2, count(*) AS n_pairs
        | FROM i a JOIN i b ON a.user_id = b.user_id AND a.day = b.day
        |   AND a.item < b.item
        | GROUP BY 1, 2)
        |SELECT item1, item2, CAST(n_pairs AS BIGINT) AS n_pairs,
        | CAST(i1.n_item AS BIGINT) AS n_item1,
        | CAST(i2.n_item AS BIGINT) AS n_item2,
        | round(CAST(n_pairs AS DOUBLE) * n_baskets
        |   / (i1.n_item * i2.n_item), 6) AS lift
        |FROM p JOIN ic i1 ON p.item1 = i1.item
        |       JOIN ic i2 ON p.item2 = i2.item CROSS JOIN tot""".stripMargin,
    // q149: integer day gaps over the (ts, event_id)-ordered purchases
    "q149_purchase_cadence" ->
      """WITH p AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id,
        |  CAST(date_diff('day', CAST(prev_ts AS DATE), CAST(ts AS DATE)) AS BIGINT)
        |    AS gap_days
        | FROM p WHERE prev_ts IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        | min(gap_days) AS min_gap, max(gap_days) AS max_gap,
        | round(CAST(sum(gap_days) AS DOUBLE) / count(*), 6) AS mean_gap
        |FROM g GROUP BY 1""".stripMargin,
    // q150: lcc = 2T/(d(d-1)) for deg >= 2 nodes; triangles + degrees
    // share the q134 CTE chain exactly as the engine shares trianglesOf
    "q150_clustering_coeff" ->
      s"""WITH $trianglesCtes,
         |tc AS (SELECT doc_id, count(*) AS n_triangles
         |  FROM (SELECT unnest([a, b, c]) AS doc_id FROM t) GROUP BY 1)
         |SELECT node AS doc_id, CAST(deg AS BIGINT) AS degree,
         | CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
         | round(2.0 * coalesce(tc.n_triangles, 0) / (deg * (deg - 1)), 6) AS lcc
         |FROM deg LEFT JOIN tc ON deg.node = tc.doc_id
         |WHERE deg >= 2""".stripMargin,
    // q151: session_window merges TOUCHING windows — a gap of exactly
    // 1800 s stays in the SAME session (strict > in new_s, pinned by
    // fixture); paths cap at the first 50 events per session
    "q151_session_paths" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(CAST(ts AS TIMESTAMP))
        |       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT *, sum(new_s) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        | FROM s),
        |c AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn FROM g),
        |p AS (SELECT user_id, sid,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        | FROM c WHERE rn <= 50 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin,
    // q152: tie-block rank sums over the count histogram, HUGEINT-exact;
    // Gini = srs2/(n*tot) - (n+1)/n with divisions only on the final row
    "q152_gini_activity" ->
      """WITH cnt AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |h AS (SELECT c, count(*) AS m FROM cnt GROUP BY 1),
        |s AS (SELECT c, m,
        |  sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - m AS start FROM h),
        |t AS (SELECT
        |  CAST(sum(CAST(c AS HUGEINT) * (2 * CAST(m AS HUGEINT) * CAST(start AS HUGEINT)
        |    + CAST(m AS HUGEINT) * (CAST(m AS HUGEINT) + 1))) AS HUGEINT) AS srs2,
        |  CAST(sum(CAST(c AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS tot,
        |  CAST(sum(m) AS BIGINT) AS n FROM s)
        |SELECT n AS n_users, CAST(tot AS BIGINT) AS total_events,
        | round(CAST(srs2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
        |   - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 6) AS gini
        |FROM t""".stripMargin,
    // q153: CLI from exact letter/word/sentence counts; no-punctuation
    // docs count as one sentence (greatest-1 guard both sides)
    "q153_readability" ->
      """SELECT doc_id, source,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
        |   AS n_letters,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        | CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
        | round(0.0588 * ((100.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
        |     / len(string_split(text, ' ')))
        |   - 0.296 * ((100.0 * greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |     / len(string_split(text, ' ')))
        |   - 15.8, 6) AS cli
        |FROM documents""".stripMargin,
    // q154: whole-second gaps (floor-div), HUGEINT moment sums,
    // sigma/mu in IEEE doubles with identical op order to the engine
    "q154_burstiness" ->
      """WITH e AS (SELECT user_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
        |d AS (SELECT user_id,
        |  (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
        |    // 1000000 AS g
        | FROM e),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(CAST(g AS HUGEINT)) AS HUGEINT) AS sg,
        |  CAST(sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS HUGEINT) AS sg2
        | FROM d WHERE g IS NOT NULL GROUP BY 1 HAVING count(*) >= 5),
        |m AS (SELECT user_id, n_gaps,
        |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |  sqrt(CAST(CAST(n_gaps AS HUGEINT) * sg2 - sg * sg AS DOUBLE))
        |    / CAST(n_gaps AS DOUBLE) AS sigma
        | FROM s)
        |SELECT user_id, n_gaps, round(mu, 6) AS mean_gap_s,
        | round(sigma, 6) AS std_gap_s,
        | CASE WHEN sigma + mu > 0 THEN round((sigma - mu) / (sigma + mu), 6)
        |  END AS burstiness
        |FROM m""".stripMargin,
    // q155: rank window above the 10k limit; ties break on the word
    "q155_vocab_coverage" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT word, count(*) AS n FROM w GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM f),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank
        |  FROM f ORDER BY n DESC, word LIMIT 10000),
        |ks AS (SELECT unnest([100, 1000, 10000]) AS k)
        |SELECT k, CAST(sum(n) AS BIGINT) AS covered_tokens, total_tokens,
        | round(CAST(sum(n) AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        |   AS coverage
        |FROM ks JOIN r ON r.rank <= ks.k CROSS JOIN tot
        |GROUP BY k, total_tokens""".stripMargin,
    // q156: conditional mins in one user pass; converter-share from a
    // one-row total
    "q156_conversion_lag" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_date,
        |  min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
        |    AS first_purchase_date
        | FROM events GROUP BY 1),
        |l AS (SELECT CAST(date_diff('day', first_date, first_purchase_date)
        |    AS BIGINT) AS lag_days
        | FROM f WHERE first_purchase_date IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_converters FROM l)
        |SELECT lag_days, CAST(count(*) AS BIGINT) AS n_users,
        | round(CAST(count(*) AS DOUBLE) / CAST(n_converters AS DOUBLE), 6)
        |   AS share
        |FROM l CROSS JOIN tot GROUP BY 1, n_converters""".stripMargin,
    // q157: adjacency over the q99 manifest's (shard, start_offset) read
    // order; expected rate is the no-replacement permutation collision
    // probability sum(c(c-1))/(n(n-1)); all-unique shards -> null ratio
    "q157_shard_mixing" ->
      s"""WITH m AS ($shardManifestSql),
         |j AS (SELECT m.shard, m.start_offset, d.source
         |  FROM m JOIN documents d USING (doc_id)),
         |a AS (SELECT shard, source,
         |   lag(source) OVER (PARTITION BY shard ORDER BY start_offset)
         |     AS prev_source
         |  FROM j),
         |adj AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_adjacent,
         |   CAST(sum(CASE WHEN source = prev_source THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_same
         |  FROM a WHERE prev_source IS NOT NULL GROUP BY 1),
         |cs AS (SELECT shard, source, count(*) AS c FROM j GROUP BY 1, 2),
         |comp AS (SELECT shard, CAST(sum(c) AS BIGINT) AS n_docs,
         |   CAST(sum(c * (c - 1)) AS BIGINT) AS ssq FROM cs GROUP BY 1)
         |SELECT shard, n_docs, n_adjacent, n_same,
         | round(CAST(n_same AS DOUBLE) / CAST(n_adjacent AS DOUBLE), 6)
         |   AS same_rate,
         | round(CAST(ssq AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE), 6)
         |   AS expected_rate,
         | CASE WHEN ssq > 0 THEN
         |   round((CAST(n_same AS DOUBLE) / CAST(n_adjacent AS DOUBLE))
         |     / (CAST(ssq AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE)), 6)
         |  END AS mixing_ratio
         |FROM adj JOIN comp USING (shard) WHERE n_docs >= 2""".stripMargin,
    // q158: per-dim centroid products on a x1e12 fixed-point grid; the
    // cosine normalizes fixed-point sums (scales cancel)
    "q158_centroid_geometry" ->
      s"""WITH c AS ($labelCentroidsSql),
         |p AS (SELECT a.label AS label1, b.label AS label2,
         |  CAST(sum(CAST(round(a.mean_v * b.mean_v * 1000000000000) AS BIGINT))
         |    AS BIGINT) AS sxy,
         |  CAST(sum(CAST(round(a.mean_v * a.mean_v * 1000000000000) AS BIGINT))
         |    AS BIGINT) AS sxx,
         |  CAST(sum(CAST(round(b.mean_v * b.mean_v * 1000000000000) AS BIGINT))
         |    AS BIGINT) AS syy
         | FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
         | GROUP BY 1, 2)
         |SELECT label1, label2,
         | round(CAST(sxy AS DOUBLE)
         |   / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 6)
         |   AS centroid_cosine
         |FROM p""".stripMargin,
    // q159: -p·ln p terms round at 6 dp and sum as x1e6 longs (q146
    // recipe); vocab-side so the corpus is scanned once
    "q159_entropy_rate" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT word, count(*) AS n FROM w GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM f),
        |t AS (SELECT n_total,
        |  round(-(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
        |    * ln(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS term
        | FROM f CROSS JOIN tot)
        |SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        | min(n_total) AS total_tokens,
        | round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
        |   / 1000000, 6) AS entropy_nats
        |FROM t""".stripMargin,
    // q160: the q25 pair list decorated with both language labels,
    // filtered to label-crossing pairs (translation or label-noise)
    "q160_cross_lang_pairs" ->
      s"""WITH mp AS ($minhashPairsSql)
         |SELECT mp.doc1, mp.doc2, a.lang AS lang1, b.lang AS lang2, mp.jaccard
         |FROM mp JOIN documents a ON mp.doc1 = a.doc_id
         |JOIN documents b ON mp.doc2 = b.doc_id
         |WHERE a.lang <> b.lang""".stripMargin,
    // q161: pair-member set vs the rest, fixed-point mean of the 6-dp
    // model scores; composes the q25 and q69 fragments
    "q161_dedup_quality" ->
      s"""WITH mp AS ($minhashPairsSql),
         |dup AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc1 AS doc_id FROM mp UNION ALL SELECT doc2 FROM mp)),
         |s AS ($modelScoreSql)
         |SELECT CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | round(CAST(sum(CAST(round(model_score * 1000000) AS BIGINT)) AS DOUBLE)
         |   / (count(*) * CAST(1000000 AS DOUBLE)), 6) AS mean_score
         |FROM s LEFT JOIN dup ON s.doc_id = dup.doc_id
         |GROUP BY 1""".stripMargin,
    // q162: occurrences keep every chunk (mass), doc frequency counts
    // DISTINCT (doc, chunk); the q55 list_slice chunking convention
    "q162_duplication_mass" ->
      s"""SELECT source, CAST(sum(l) AS BIGINT) AS total_tokens,
         | CAST(sum(CASE WHEN nd >= 2 THEN l ELSE 0 END) AS BIGINT) AS dup_tokens,
         | round(CAST(sum(CASE WHEN nd >= 2 THEN l ELSE 0 END) AS DOUBLE)
         |   / CAST(sum(l) AS DOUBLE), 6) AS dup_mass_rate
         |FROM ($chunkOccDfSql) GROUP BY 1""".stripMargin,
    // q174: q162's stream rolled up at doc grain; the template flag is
    // integer arithmetic (2·dup >= total) on both sides
    "q174_template_scores" ->
      s"""SELECT doc_id, source, CAST(sum(l) AS BIGINT) AS total_tokens,
         | CAST(sum(CASE WHEN nd >= 2 THEN l ELSE 0 END) AS BIGINT) AS dup_tokens,
         | round(CAST(sum(CASE WHEN nd >= 2 THEN l ELSE 0 END) AS DOUBLE)
         |   / CAST(sum(l) AS DOUBLE), 6) AS template_score,
         | CAST(sum(CASE WHEN nd >= 2 THEN l ELSE 0 END) * 2 >= sum(l)
         |   AS INTEGER) AS is_template
         |FROM ($chunkOccDfSql) GROUP BY 1, 2""".stripMargin,
    // q173: DuckDB-native ASOF (the q42 contract) feeding the pinned
    // window sweep; gap -1 (never viewed) matches no window
    "q173_attribution_windows" ->
      """WITH g AS (SELECT CAST(CASE WHEN v.ts IS NOT NULL
        |   THEN floor(epoch(CAST(p.ts AS TIMESTAMP)))
        |     - floor(epoch(CAST(v.ts AS TIMESTAMP)))
        |   ELSE -1 END AS BIGINT) AS gap_s
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |   ON p.user_id = v.user_id AND p.ts >= v.ts),
        |w AS (SELECT CAST(unnest([60, 600, 3600, 86400]) AS BIGINT) AS window_s)
        |SELECT window_s, CAST(count(*) AS BIGINT) AS n_purchases,
        | CAST(sum(CASE WHEN gap_s >= 0 AND gap_s <= window_s
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
        | round(CAST(sum(CASE WHEN gap_s >= 0 AND gap_s <= window_s
        |   THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS attribution_rate
        |FROM g CROSS JOIN w GROUP BY 1""".stripMargin,
    // q175: right-censored denominator — eligible(N) = users whose first
    // day sits >= N days before the corpus max day
    "q175_retention_curve" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |act AS (SELECT CAST(date_diff('day', first_day, day) AS BIGINT)
        |   AS offset_days, count(DISTINCT u.user_id) AS n_active
        |  FROM ud u JOIN f USING (user_id) GROUP BY 1),
        |mo AS (SELECT CAST(date_diff('day', first_day, max_day) AS BIGINT)
        |   AS max_offset FROM f CROSS JOIN mx),
        |den AS (SELECT a.offset_days, CAST(count(*) AS BIGINT) AS n_eligible
        |  FROM (SELECT DISTINCT offset_days FROM act) a
        |  JOIN mo ON mo.max_offset >= a.offset_days GROUP BY 1)
        |SELECT act.offset_days, act.n_active, den.n_eligible,
        | round(CAST(act.n_active AS DOUBLE) / den.n_eligible, 6) AS retention
        |FROM act JOIN den USING (offset_days)""".stripMargin,
    // q163: the q38 percentile<->quantile_cont contract; integer lengths
    // make every median/MAD .0/.5-exact, so the 3*MAD fence is exact
    "q163_length_outliers" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |med AS (SELECT source, quantile_cont(n_tokens, 0.5) AS med
        |  FROM t GROUP BY 1),
        |d AS (SELECT t.source, abs(CAST(n_tokens AS DOUBLE) - med) AS dev
        |  FROM t JOIN med USING (source)),
        |mad AS (SELECT source, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | round(min(med.med), 6) AS median_tokens,
        | round(min(mad.mad), 6) AS mad_tokens,
        | CAST(sum(CASE WHEN dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_outliers,
        | round(CAST(sum(CASE WHEN dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS outlier_frac
        |FROM d JOIN mad USING (source) JOIN med ON d.source = med.source
        |GROUP BY 1""".stripMargin,
    // q164: first event after a >= 2-day gap is a resurrection; one
    // return per user per day by construction
    "q164_winback" ->
      """WITH s AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events)
        |SELECT CAST(ts AS DATE) AS return_date,
        | count(DISTINCT user_id) AS n_resurrected
        |FROM s
        |WHERE prev_ts IS NOT NULL
        |  AND date_diff('day', CAST(prev_ts AS DATE), CAST(ts AS DATE)) >= 2
        |GROUP BY 1""".stripMargin,
    // q165: WAU via a range join over distinct user-days (oracle-side
    // only — the engine uses interval deltas; same trailing-7 window)
    "q165_stickiness" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
        |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1)
        |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
        | round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
        |FROM dau JOIN wau USING (day)""".stripMargin,
    // q166: a user is "new" on exactly the day of their first user-day
    "q166_new_returning" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT day,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_new,
        | CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_returning,
        | round(CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS new_frac
        |FROM ud JOIN f USING (user_id) GROUP BY 1""".stripMargin,
    // q167: HUGEINT moments (daily-count squares overflow BIGINT at
    // corpus scale), sigma via sqrt of the exact variance numerator;
    // flag evaluated on the UNROUNDED z like the engine
    "q167_daily_anomalies" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |   count(*) AS n FROM events GROUP BY 1,2),
        |st AS (SELECT event_type, count(*) AS nd,
        |   sum(CAST(n AS HUGEINT)) AS s1,
        |   sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS s2
        |  FROM daily GROUP BY 1),
        |j AS (SELECT d.event_type, d.day, d.n,
        |   CAST(st.s1 AS DOUBLE) / CAST(st.nd AS DOUBLE) AS mu,
        |   sqrt(CAST(CAST(st.nd AS HUGEINT) * st.s2 - st.s1 * st.s1 AS DOUBLE))
        |     / CAST(st.nd AS DOUBLE) AS sigma
        |  FROM daily d JOIN st USING (event_type))
        |SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
        | CASE WHEN sigma > 0
        |   THEN round((CAST(n AS DOUBLE) - mu) / sigma, 6) END AS z_score,
        | CAST(CASE WHEN sigma > 0
        |     AND abs((CAST(n AS DOUBLE) - mu) / sigma) > 2.0
        |   THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
        |FROM j""".stripMargin,
    // q168: directed top-5 inside trained cells (q68's blocking), then
    // two count rollups; the zero-degree row is total minus covered
    "q168_knn_hubness" ->
      s"""WITH assigned AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
         |p AS (SELECT a.vec_id AS anchor, b.vec_id AS neighbor,
         |    ${cosExpr("a.v", "b.v")} AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |r AS (SELECT anchor, neighbor, row_number() OVER (
         |    PARTITION BY anchor ORDER BY cosine DESC, neighbor) AS rn FROM p),
         |ind AS (SELECT neighbor, CAST(count(*) AS BIGINT) AS in_degree
         |  FROM r WHERE rn <= 5 GROUP BY 1),
         |h AS (SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM ind GROUP BY 1)
         |SELECT in_degree, n_vecs FROM h
         |UNION ALL
         |SELECT CAST(0 AS BIGINT) AS in_degree, n_vecs FROM (
         |  SELECT (SELECT count(*) FROM assigned)
         |    - (SELECT count(*) FROM ind) AS n_vecs) WHERE n_vecs > 0""".stripMargin,
    // q169: GROUPING() disambiguates rolled-up levels from NULL values,
    // mirroring the engine's grouping() markers
    "q169_event_cube" ->
      """WITH e AS (SELECT event_type,
        |   dayname(CAST(ts AS TIMESTAMP)) AS day_of_week, user_id FROM events)
        |SELECT event_type, day_of_week,
        | CAST(GROUPING(event_type) AS INTEGER) AS g_type,
        | CAST(GROUPING(day_of_week) AS INTEGER) AS g_dow,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM e GROUP BY CUBE(event_type, day_of_week)""".stripMargin,
    // q170: textbook NOT-EXISTS dominance check (oracle-side only — the
    // engine goes through per-length maxima and a prefix-max window);
    // minimize n_tokens, maximize model_score
    "q170_skyline_docs" ->
      s"""WITH sc AS ($modelScoreSql),
         |s AS (SELECT d.doc_id,
         |   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |   sc.model_score
         |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT a.doc_id, a.n_tokens, a.model_score FROM s a
         |WHERE NOT EXISTS (SELECT 1 FROM s b
         |  WHERE b.n_tokens <= a.n_tokens AND b.model_score >= a.model_score
         |    AND (b.n_tokens < a.n_tokens OR b.model_score > a.model_score))""".stripMargin,
    // q171: ‖Σû‖² − Σ‖û‖² over ×10⁹ fixed-point unit components;
    // HUGEINT squares (component sums square past BIGINT at scale)
    "q171_isotropy" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c),
        |e AS (SELECT vec_id, i, CAST(round(v[i] / nrm * 1e9) AS BIGINT) AS rij
        |  FROM u, UNNEST(range(1, 65)) AS t(i) WHERE nrm > 0),
        |s AS (SELECT i, sum(CAST(rij AS HUGEINT)) AS sj FROM e GROUP BY 1),
        |qq AS (SELECT sum(sj * sj) AS q FROM s),
        |tt AS (SELECT sum(CAST(rij AS HUGEINT) * CAST(rij AS HUGEINT)) AS t FROM e),
        |nn AS (SELECT count(*) AS n_vecs FROM u WHERE nrm > 0)
        |SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
        | round(CAST(q - t AS DOUBLE)
        |   / CAST(n_vecs * (n_vecs - 1) AS DOUBLE) / 1e18, 6)
        |   AS mean_pairwise_cos
        |FROM nn, qq, tt""".stripMargin,
    // q172: the q91 unrolled-CTE recipe — 20 power-iteration rounds in
    // ×10^12 integer fixed-point, per-edge truncating division
    "q172_stationary_dist" -> {
      val pIter = (1 to 20).map(k =>
        s"""p$k AS (SELECT c.to_type AS state,
           |  sum((p.p * c.n_transitions) // tot.n_from) AS p
           | FROM p${k - 1} p JOIN cm c ON p.state = c.from_type
           | JOIN tot ON c.from_type = tot.from_type GROUP BY 1)""".stripMargin)
        .mkString(",\n")
      s"""WITH cm AS ($transitionCountsSql),
         |tot AS (SELECT from_type, sum(n_transitions) AS n_from FROM cm GROUP BY 1),
         |p0 AS (SELECT from_type AS state,
         |   CAST(1000000000000 AS HUGEINT) // (SELECT count(*) FROM tot) AS p
         |  FROM tot),
         |$pIter
         |SELECT state, CAST(p AS BIGINT) AS p_fp,
         | round(CAST(p AS BIGINT) / 1e12, 6) AS stationary_p
         |FROM p20""".stripMargin
    },
    // q176: ×10⁹ fixed-point coordinates, HUGEINT moments, exact
    // variance numerator; posexplode is 0-based → i − 1
    "q176_dim_variance" ->
      """WITH c AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT i, CAST(round(v[i] * 1e9) AS BIGINT) AS r
        |  FROM c, UNNEST(range(1, 65)) AS t(i)),
        |s AS (SELECT i, count(*) AS n, sum(CAST(r AS HUGEINT)) AS s1,
        |   sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT)) AS s2
        |  FROM e GROUP BY 1)
        |SELECT CAST(i - 1 AS INTEGER) AS dim, CAST(n AS BIGINT) AS n_vecs,
        | round(CAST(s1 AS DOUBLE) / n / 1e9, 6) AS mean_val,
        | round(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
        |   / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 1e18, 6) AS variance
        |FROM s""".stripMargin,
    // q177: the q48 cohort anchor; cells round at 2 dp before the
    // cumulative window re-sums them in pinned offset order
    "q177_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, event_type, value,
        |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        | FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
        |  FROM cohort GROUP BY 1),
        |weekly AS (SELECT cohort_week,
        |   CAST(floor(date_diff('day', cohort_week, week) / 7) AS BIGINT)
        |     AS week_offset,
        |   CAST(count(*) AS BIGINT) AS n_purchases,
        |   round(sum(value), 2) AS revenue
        |  FROM ev JOIN cohort USING (user_id)
        |  WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT w.cohort_week, w.week_offset, w.n_purchases, w.revenue,
        | round(sum(w.revenue) OVER cw, 2) AS cum_revenue,
        | s.n_users,
        | round(round(sum(w.revenue) OVER cw, 2) / s.n_users, 6) AS ltv_per_user
        |FROM weekly w JOIN sizes s USING (cohort_week)
        |WINDOW cw AS (PARTITION BY w.cohort_week ORDER BY w.week_offset
        |  ROWS UNBOUNDED PRECEDING)""".stripMargin,
    // q178: Σn² as HUGEINT; one division per source row
    "q178_simpson_diversity" ->
      """WITH wc AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |f AS (SELECT source, word, count(*) AS n FROM wc GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_types,
        | round(1.0 - CAST(sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE)
        |   / CAST(sum(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
        |   AS simpson_diversity
        |FROM f GROUP BY 1""".stripMargin,
    // q179: the q146 entropy recipe per trained cell; majority via
    // row_number (n DESC, label) = the engine's max_by tiebreak
    "q179_cell_purity" ->
      s"""WITH a AS (SELECT vec_id, cell FROM ($trainedAssignSql)),
         |cl AS (SELECT cell, label, count(*) AS n
         |  FROM a JOIN embeddings USING (vec_id) GROUP BY 1, 2),
         |tot AS (SELECT cell, sum(n) AS n_vecs FROM cl GROUP BY 1),
         |t AS (SELECT cl.cell, cl.label, cl.n, tot.n_vecs,
         |   round(-(CAST(n AS DOUBLE) / n_vecs)
         |     * ln(CAST(n AS DOUBLE) / n_vecs), 6) AS term
         |  FROM cl JOIN tot USING (cell)),
         |m AS (SELECT cell, label AS majority_label, n AS n_majority FROM (
         |   SELECT cell, label, n, row_number() OVER (
         |     PARTITION BY cell ORDER BY n DESC, label) AS rn FROM t)
         |  WHERE rn = 1),
         |h AS (SELECT cell, CAST(min(n_vecs) AS BIGINT) AS n_vecs,
         |   round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
         |     / 1000000, 6) AS label_entropy
         |  FROM t GROUP BY 1)
         |SELECT h.cell, h.n_vecs, m.majority_label,
         | round(CAST(m.n_majority AS DOUBLE) / h.n_vecs, 6) AS majority_share,
         | h.label_entropy
         |FROM h JOIN m USING (cell)""".stripMargin,
    // q180: two count rollups over the q50 component fixpoint
    "q180_component_sizes" ->
      s"""WITH comp AS ($componentsSql),
         |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS size
         |  FROM comp GROUP BY 1)
         |SELECT size, CAST(count(*) AS BIGINT) AS n_components,
         | CAST(size * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY 1""".stripMargin,
    // q100: margin-gated pairs — est >= 0.875 accepted unverified
    // (verified=0), est in [0.5, 0.875) exact-verified at 0.7, rest
    // rejected; mirrors Dedup.minhashPairsFast's defaults
    "q100_minhash_fast" ->
      s"""WITH sig AS (
         |  SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}] AS sig
         |  FROM ($baseHashes)),
         |banded AS (SELECT doc_id, b AS band,
         |   md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
         |  FROM sig, UNNEST([0,1,2,3]) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM banded a JOIN banded b
         |   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |e AS (SELECT doc1, doc2,
         |   round(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
         |     / CAST(16 AS DOUBLE), 6) AS est_jaccard
         |  FROM cand JOIN sig a ON cand.doc1 = a.doc_id
         |  JOIN sig b ON cand.doc2 = b.doc_id),
         |acc AS (SELECT doc1, doc2, est_jaccard, 0 AS verified
         |  FROM e WHERE est_jaccard >= 0.875),
         |mid AS (SELECT doc1, doc2, est_jaccard FROM e
         |  WHERE est_jaccard >= 0.5 AND est_jaccard < 0.875),
         |sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT doc1, doc2, count(*) AS cnt
         |  FROM mid
         |  JOIN sh s1 ON s1.doc_id = doc1
         |  JOIN sh s2 ON s2.doc_id = doc2 AND s1.shingle = s2.shingle
         |  GROUP BY 1,2),
         |ver AS (SELECT doc1, doc2 FROM ($jaccardTail) WHERE jaccard >= 0.7)
         |SELECT doc1, doc2, est_jaccard, verified FROM acc
         |UNION ALL
         |SELECT m.doc1, m.doc2, m.est_jaccard, 1 AS verified
         |FROM mid m JOIN ver v ON m.doc1 = v.doc1 AND m.doc2 = v.doc2""".stripMargin,
    // q182: Levenshtein over the shared q25 candidate stage; integer
    // distance, 6-dp length-normalized similarity, flag at 0.8
    "q182_edit_distance" ->
      s"""WITH cand AS ($minhashCandSql)
         |SELECT c.doc1, c.doc2,
         | CAST(levenshtein(d1.text, d2.text) AS INTEGER) AS edit_distance,
         | CAST(length(d1.text) AS INTEGER) AS len1,
         | CAST(length(d2.text) AS INTEGER) AS len2,
         | round(1.0 - levenshtein(d1.text, d2.text)
         |   / CAST(greatest(length(d1.text), length(d2.text)) AS DOUBLE), 6)
         |   AS edit_similarity,
         | CAST(CASE WHEN round(1.0 - levenshtein(d1.text, d2.text)
         |     / CAST(greatest(length(d1.text), length(d2.text)) AS DOUBLE), 6)
         |    >= 0.8 THEN 1 ELSE 0 END AS INTEGER) AS is_neardup
         |FROM cand c
         |JOIN documents d1 ON c.doc1 = d1.doc_id
         |JOIN documents d2 ON c.doc2 = d2.doc_id""".stripMargin,
    // q183: symmetric-marginal Pearson as a pure HUGEINT ratio; NULL on
    // zero degree variance (regular graph)
    "q183_assortativity" ->
      s"""WITH pairs AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
         |          UNION ALL SELECT doc2, doc1 FROM pairs),
         |deg AS (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
         |j AS (SELECT CAST(dx.deg AS HUGEINT) AS dx,
         |   CAST(dy.deg AS HUGEINT) AS dy
         |  FROM edges e
         |  JOIN deg dx ON e.src = dx.doc_id
         |  JOIN deg dy ON e.dst = dy.doc_id),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(dx) AS sx,
         |   sum(dx*dx) AS sxx, sum(dx*dy) AS sxy FROM j)
         |SELECT CAST(n AS BIGINT) AS n_edges,
         | CASE WHEN n*sxx - sx*sx = 0 THEN NULL
         |  ELSE round(CAST(n*sxy - sx*sx AS DOUBLE)
         |    / CAST(n*sxx - sx*sx AS DOUBLE), 6) END AS assortativity
         |FROM s""".stripMargin,
    // q184: leading digit via the integer route (floor → BIGINT →
    // VARCHAR), never float log10/pow; ln-only transcendentals
    "q184_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit, count(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT digit, CAST(n AS BIGINT) AS n_orders,
        | round(CAST(n AS DOUBLE) / total, 6) AS share,
        | round(ln((digit + 1.0) / digit) / ln(10), 6) AS benford_share,
        | round(abs(round(CAST(n AS DOUBLE) / total, 6)
        |   - round(ln((digit + 1.0) / digit) / ln(10), 6)), 6) AS abs_dev
        |FROM c, t""".stripMargin,
    // q185: shard keys via pure integer arithmetic (modulo / month-index
    // linear bin with integer //); min/max/count exact
    "q185_zone_map" ->
      """WITH base AS (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship,
        |   year(l_shipdate) * 12 + month(l_shipdate) AS mi FROM lineitem),
        |z1 AS (SELECT 'by_orderkey' AS layout,
        |   CAST(l_orderkey % 32 AS INTEGER) AS shard, count(*) AS n_rows,
        |   min(ship) AS min_ship, max(ship) AS max_ship
        |  FROM base GROUP BY 2),
        |z2 AS (SELECT 'by_shipmonth' AS layout,
        |   CAST(least(31, greatest(0, ((mi - 23905) * 32) // 84))
        |     AS INTEGER) AS shard, count(*) AS n_rows,
        |   min(ship) AS min_ship, max(ship) AS max_ship
        |  FROM base GROUP BY 2)
        |SELECT layout, shard, CAST(n_rows AS BIGINT) AS n_rows,
        | min_ship, max_ship,
        | CAST(CASE WHEN max_ship < DATE '1995-03-01'
        |   OR min_ship > DATE '1995-05-31' THEN 1 ELSE 0 END AS INTEGER)
        |   AS skippable
        |FROM (SELECT * FROM z1 UNION ALL SELECT * FROM z2)""".stripMargin,
    // q186: 8 unrolled peel rounds over the q25 edge list; peeling is
    // monotone so the unrolled CTEs reproduce the Spark loop exactly.
    // MATERIALIZED is load-bearing: each round references the previous in
    // three places, so default CTE inlining would re-expand the minhash
    // pipeline 3^8 times (observed as an fd-exhaustion failure)
    "q186_kcore" -> {
      val peel = (0 until 8).map { i =>
        s"""d$i AS MATERIALIZED (SELECT src, count(*) AS deg FROM e$i GROUP BY 1),
           |a$i AS MATERIALIZED (SELECT src FROM d$i WHERE deg >= 2),
           |e${i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$i e
           |  JOIN a$i s ON e.src = s.src
           |  JOIN a$i t ON e.dst = t.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |e0 AS MATERIALIZED (SELECT doc1 AS src, doc2 AS dst FROM pairs
         |       UNION ALL SELECT doc2, doc1 FROM pairs),
         |$peel,
         |d8 AS (SELECT src, count(*) AS deg FROM e8 GROUP BY 1),
         |conv AS (SELECT CAST(CASE WHEN count(*) FILTER (WHERE deg < 2) = 0
         |   THEN 1 ELSE 0 END AS INTEGER) AS converged FROM d8)
         |SELECT src AS doc_id, CAST(deg AS BIGINT) AS core_deg, converged
         |FROM d8, conv""".stripMargin
    },
    // q187: dyadic weights are exact int64 bit shifts (no libm power, no
    // double cast); the weighted sum is exact integer arithmetic matching
    // Spark's Decimal(38,0), shipped as two int64 columns (fp div/mod 1e9)
    "q187_ewma_revenue" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0 FROM daily),
        |c AS (SELECT d.day AS day,
        |   sum(CAST((CAST(1 AS BIGINT) << (30 - (d.day - r.day))) AS HUGEINT)
        |       * r.rev_cents) AS ewma_fp
        |  FROM daily d JOIN daily r ON r.day BETWEEN d.day - 30 AND d.day
        |  GROUP BY 1)
        |SELECT d.day, CAST(d.rev_cents AS BIGINT) AS rev_cents,
        | CAST(c.ewma_fp // 1000000000 AS BIGINT) AS ewma_hi,
        | CAST(c.ewma_fp % 1000000000 AS BIGINT) AS ewma_lo
        |FROM daily d JOIN c ON d.day = c.day, b
        |WHERE d.day >= b.d0 + 30""".stripMargin,
    // q188: pinned-value pivot = 7 conditional sums; isodow(ts) in DuckDB
    // equals Spark weekday(ts)+1 (both Monday=1)
    "q188_dow_pivot" -> {
      val cells = (1 to 7).map(d =>
        s"CAST(coalesce(sum(CASE WHEN isodow(ts) = $d THEN cents END), 0) AS BIGINT) AS wd$d")
        .mkString(",\n ")
      s"""SELECT event_type,
         | $cells
         |FROM (SELECT event_type, ts,
         |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
         |GROUP BY 1""".stripMargin
    },
    // q189: GROUPING(r,n) bit order (left arg = MSB) matches Spark's
    // grouping_id over the same column order
    "q189_grouping_sets" ->
      """WITH j AS (SELECT r_name, n_name,
        |   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT coalesce(r_name, 'ALL') AS region,
        | coalesce(n_name, 'ALL') AS nation,
        | CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
        | CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM j GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())""".stripMargin,
    // q190: the same >1800s gap sessionization contract as q18/q181;
    // first/last via row_number over (ts, event_id) = Spark's min_by/max_by
    // struct order
    "q190_bounce_exit" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts, event_id, event_type, sum(new_s) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        |r AS (SELECT user_id, sid, event_type,
        |   row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS ra,
        |   row_number() OVER (PARTITION BY user_id, sid ORDER BY ts DESC, event_id DESC) AS rd,
        |   count(*) OVER (PARTITION BY user_id, sid) AS ne
        |  FROM g),
        |ses AS (SELECT user_id, sid,
        |   max(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
        |   max(CASE WHEN rd = 1 THEN event_type END) AS exit_type,
        |   max(ne) AS n_events
        |  FROM r GROUP BY 1, 2),
        |ent AS (SELECT entry_type AS event_type, count(*) AS entry_sessions,
        |   sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS bounce_sessions
        |  FROM ses GROUP BY 1),
        |ex AS (SELECT exit_type AS event_type, count(*) AS exit_sessions
        |  FROM ses GROUP BY 1),
        |f AS (SELECT coalesce(ent.event_type, ex.event_type) AS event_type,
        |   CAST(coalesce(entry_sessions, 0) AS BIGINT) AS entry_sessions,
        |   CAST(coalesce(exit_sessions, 0) AS BIGINT) AS exit_sessions,
        |   CAST(coalesce(bounce_sessions, 0) AS BIGINT) AS bounce_sessions
        |  FROM ent FULL OUTER JOIN ex ON ent.event_type = ex.event_type),
        |t AS (SELECT sum(entry_sessions) AS n_total FROM f)
        |SELECT event_type, entry_sessions, exit_sessions, bounce_sessions,
        | CASE WHEN entry_sessions = 0 THEN NULL
        |  ELSE round(CAST(bounce_sessions AS DOUBLE) / entry_sessions, 6)
        | END AS bounce_rate,
        | round(CAST(entry_sessions AS DOUBLE) / n_total, 6) AS entry_share
        |FROM f, t""".stripMargin,
    // q191: Pearson r per calendar lag from five exact HUGEINT sums over
    // the zero-filled day spine; doubles only in the final ratio
    "q191_revenue_acf" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |cal AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT cal.day, coalesce(daily.cents, 0) AS x
        |  FROM cal LEFT JOIN daily USING (day)),
        |l AS (SELECT k FROM range(1, 15) t(k)),
        |p AS (SELECT l.k AS lag, a.x AS x, y.x AS y
        |  FROM x a JOIN l ON true
        |  JOIN x y ON y.day = a.day + CAST(l.k AS INTEGER)),
        |s AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(x AS HUGEINT)) AS s1, sum(CAST(y AS HUGEINT)) AS s2,
        |   sum(CAST(x AS HUGEINT) * x) AS s11,
        |   sum(CAST(y AS HUGEINT) * y) AS s22,
        |   sum(CAST(x AS HUGEINT) * y) AS s12
        |  FROM p GROUP BY 1)
        |SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
        | round(CAST(n * s12 - s1 * s2 AS DOUBLE)
        |  / (sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
        |    * sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE))), 6) AS acf
        |FROM s""".stripMargin,
    // q192: raw power sums in HUGEINT (cents^4 overflows int64), central
    // moments in identically-shaped double algebra; m2^1.5 as m2*sqrt(m2)
    // because sqrt is correctly rounded in both engines and pow is not
    "q192_value_moments" ->
      """WITH e AS (SELECT event_type,
        |   CAST(round(value * 100, 0) AS HUGEINT) AS c FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   sum(c) AS p1, sum(c * c) AS p2, sum(c * c * c) AS p3,
        |   sum(c * c * c * c) AS p4
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n,
        |   CAST(p1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |   CAST(p2 AS DOUBLE) / CAST(n AS DOUBLE) AS ep2,
        |   CAST(p3 AS DOUBLE) / CAST(n AS DOUBLE) AS ep3,
        |   CAST(p4 AS DOUBLE) / CAST(n AS DOUBLE) AS ep4
        |  FROM s),
        |mm AS (SELECT event_type, n, m,
        |   ep2 - m * m AS m2,
        |   ep3 - 3.0 * m * ep2 + 2.0 * m * m * m AS m3,
        |   ep4 - 4.0 * m * ep3 + 6.0 * m * m * ep2 - 3.0 * m * m * m * m AS m4
        |  FROM d)
        |SELECT event_type, n AS n_events,
        | round(m / 100.0, 6) AS mean_value,
        | round(sqrt(m2) / 100.0, 6) AS sd_value,
        | round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        | round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM mm""".stripMargin,
    // q193: wedges through centers with 2 <= deg <= 64; per-center
    // fixed-point round(1e6/ln deg) summed exactly; is_edge separates
    // closed wedges (cohesion) from open ones (link predictions)
    "q193_adamic_adar" ->
      s"""WITH mp AS ($minhashPairsSql),
         |e AS (SELECT doc1 AS src, doc2 AS dst FROM mp
         |      UNION ALL SELECT doc2, doc1 FROM mp),
         |c AS (SELECT src AS v, count(*) AS deg FROM e GROUP BY 1),
         |cen AS (SELECT v, CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE)), 0)
         |    AS BIGINT) AS w_fp
         |  FROM c WHERE deg BETWEEN 2 AND 64),
         |w AS (SELECT a.dst AS u, b.dst AS wn, cen.w_fp
         |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
         |  JOIN cen ON cen.v = a.src),
         |nw AS (SELECT u, wn, count(*) AS n_common, sum(w_fp) AS aa_fp
         |  FROM w GROUP BY 1, 2)
         |SELECT u AS doc1, wn AS doc2, CAST(n_common AS BIGINT) AS n_common,
         | CAST(aa_fp AS BIGINT) AS aa_fp,
         | round(CAST(aa_fp AS DOUBLE) / 1000000.0, 6) AS aa_score,
         | CAST(CASE WHEN EXISTS (SELECT 1 FROM mp
         |    WHERE mp.doc1 = nw.u AND mp.doc2 = nw.wn)
         |   THEN 1 ELSE 0 END AS INTEGER) AS is_edge
         |FROM nw""".stripMargin,
    // q194: exact-distance frontier sets via joins + EXCEPT; the score is
    // the exact fixed point 6/d summed per reachable vertex
    "q194_harmonic_centrality" ->
      s"""WITH mp AS ($minhashPairsSql),
         |e AS (SELECT doc1 AS src, doc2 AS dst FROM mp
         |      UNION ALL SELECT doc2, doc1 FROM mp),
         |d1 AS (SELECT DISTINCT src AS o, dst AS v FROM e),
         |d2 AS (SELECT DISTINCT d1.o AS o, e.dst AS v
         |    FROM d1 JOIN e ON e.src = d1.v WHERE d1.o <> e.dst
         |   EXCEPT SELECT o, v FROM d1),
         |d3 AS (SELECT DISTINCT d2.o AS o, e.dst AS v
         |    FROM d2 JOIN e ON e.src = d2.v WHERE d2.o <> e.dst
         |   EXCEPT SELECT o, v FROM d1
         |   EXCEPT SELECT o, v FROM d2),
         |n1 AS (SELECT o, count(*) AS n1 FROM d1 GROUP BY 1),
         |n2 AS (SELECT o, count(*) AS n2 FROM d2 GROUP BY 1),
         |n3 AS (SELECT o, count(*) AS n3 FROM d3 GROUP BY 1),
         |f AS (SELECT n1.o, CAST(n1.n1 AS BIGINT) AS n1,
         |   CAST(coalesce(n2.n2, 0) AS BIGINT) AS n2,
         |   CAST(coalesce(n3.n3, 0) AS BIGINT) AS n3
         |  FROM n1 LEFT JOIN n2 ON n1.o = n2.o LEFT JOIN n3 ON n1.o = n3.o)
         |SELECT o AS doc_id, n1, n2, n3,
         | 6 * n1 + 3 * n2 + 2 * n3 AS harmonic_fp,
         | round(CAST(6 * n1 + 3 * n2 + 2 * n3 AS DOUBLE) / 6.0, 6) AS harmonic
         |FROM f""".stripMargin,
    // q195: in-row list arithmetic mirrors Spark's HOF plan; the low_ttr
    // flag compares the ROUNDED ttr like the engine does
    "q195_lexical_richness" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, source,
        |   CAST(len(w) AS BIGINT) AS n_tokens,
        |   CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
        |   CAST(len(list_filter(w,
        |     x -> len(list_filter(w, y -> y = x)) = 1)) AS BIGINT) AS n_hapax
        |  FROM t),
        |r AS (SELECT doc_id, source, n_tokens, n_types, n_hapax,
        |   round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
        |   round(CAST(n_hapax AS DOUBLE) / n_tokens, 6) AS hapax_share
        |  FROM m)
        |SELECT *, CAST(CASE WHEN ttr < 0.5 THEN 1 ELSE 0 END AS INTEGER)
        |  AS low_ttr
        |FROM r""".stripMargin,
    // q196: co-occurrence events from a positional self-join (1-based list
    // index vs Spark's 0-based posexplode — only distances matter); PMI's
    // single ln runs on an identically-shaped exact-count ratio
    "q196_pmi_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, i AS pos, w[i] AS word
        |  FROM t, unnest(range(1, len(w) + 1)) r(i)),
        |p AS (SELECT least(a.word, b.word) AS w1, greatest(a.word, b.word) AS w2
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id
        |   AND b.pos > a.pos AND b.pos <= a.pos + 4),
        |pc AS (SELECT w1, w2, count(*) AS c_xy FROM p GROUP BY 1, 2
        |  HAVING count(*) >= 25),
        |tot AS (SELECT count(*) AS n_pairs FROM p),
        |uni AS (SELECT word, count(*) AS c FROM (
        |   SELECT w1 AS word FROM p UNION ALL SELECT w2 FROM p)
        |  GROUP BY 1)
        |SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
        | CAST(ux.c AS BIGINT) AS c_x, CAST(uy.c AS BIGINT) AS c_y,
        | round(ln(CAST(n_pairs AS DOUBLE) * c_xy
        |   / (CAST(ux.c AS DOUBLE) * uy.c)), 6) AS pmi
        |FROM pc JOIN uni ux ON ux.word = w1 JOIN uni uy ON uy.word = w2, tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,
    // q197: greedy MMR unrolled to k=5 steps; lambda constants interpolated
    // from the same Scala doubles the engine combines with (q90 precedent)
    "q197_mmr_rerank" -> {
      val lambda = 0.7
      val (l, oneMinusL) = (lambda.toString, (1.0 - lambda).toString)
      val steps = (2 to 5).map { t =>
        s"""p$t AS (SELECT c.query_id, c.cid, c.rel, max(s.sim) AS ms
           |  FROM cand c JOIN sims s ON s.query_id = c.query_id AND s.cid = c.cid
           |  JOIN sel${t - 1} x ON x.query_id = s.query_id AND x.cid = s.other
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} z
           |    WHERE z.query_id = c.query_id AND z.cid = c.cid)
           |  GROUP BY 1, 2, 3),
           |s$t AS (SELECT query_id, cid, rel, ms AS max_sim_sel,
           |   $l * rel - $oneMinusL * ms AS mmr, $t AS step
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |     ORDER BY $l * rel - $oneMinusL * ms DESC, cid) AS rn FROM p$t)
           |  WHERE rn = 1),
           |sel$t AS (SELECT query_id, cid FROM sel${t - 1}
           |  UNION ALL SELECT query_id, cid FROM s$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id,
         |   CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 3),
         |c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sc AS (SELECT query_id, vec_id AS cid, v, ${cosExpr("qv", "v")} AS rel
         |  FROM c0 JOIN q ON vec_id <> query_id),
         |cand AS (SELECT query_id, cid, v, rel FROM (
         |   SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY rel DESC, cid) AS rn FROM sc) WHERE rn <= 20),
         |sims AS (SELECT a.query_id AS query_id, a.cid AS cid, b.cid AS other,
         |   ${cosExpr("a.v", "b.v")} AS sim
         |  FROM cand a JOIN cand b
         |   ON a.query_id = b.query_id AND a.cid <> b.cid),
         |s1 AS (SELECT query_id, cid, rel, CAST(NULL AS DOUBLE) AS max_sim_sel,
         |   rel AS mmr, 1 AS step
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY rel DESC, cid) AS rn FROM cand) WHERE rn = 1),
         |sel1 AS (SELECT query_id, cid FROM s1),
         |$steps,
         |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |  UNION ALL SELECT * FROM s5)
         |SELECT query_id, CAST(step AS INTEGER) AS step, cid AS vec_id, rel,
         | max_sim_sel, round(mmr, 6) AS mmr
         |FROM u""".stripMargin
    },
    // q198: earliest-anchor greedy chain; stage k counts iff t_k - t1 fits
    // the 7-day window in exact microseconds (epoch_us = Spark unix_micros)
    "q198_window_funnel" ->
      """WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.ts) AS t2, min(u1.t1) AS t1
        |  FROM events e JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t3, min(u2.t1) AS t1
        |  FROM events e JOIN u2 ON e.user_id = u2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM u1) AS n1,
        |   (SELECT coalesce(sum(CASE WHEN epoch_us(t2) - epoch_us(t1)
        |      <= 604800000000 THEN 1 ELSE 0 END), 0) FROM u2) AS n2,
        |   (SELECT coalesce(sum(CASE WHEN epoch_us(t3) - epoch_us(t1)
        |      <= 604800000000 THEN 1 ELSE 0 END), 0) FROM u3) AS n3),
        |st AS (SELECT 1 AS step, 'view' AS stage, n1 AS nu, n1 AS np, n1 FROM c
        | UNION ALL SELECT 2, 'click', n2, n1, n1 FROM c
        | UNION ALL SELECT 3, 'purchase', n3, n2, n1 FROM c)
        |SELECT CAST(step AS INTEGER) AS step, stage,
        | CAST(nu AS BIGINT) AS n_users,
        | CASE WHEN n1 = 0 THEN NULL
        |  ELSE round(CAST(nu AS DOUBLE) / n1, 6) END AS conv_from_first,
        | CASE WHEN np = 0 THEN NULL
        |  ELSE round(CAST(nu AS DOUBLE) / np, 6) END AS conv_from_prev
        |FROM st""".stripMargin,
    // q199: exact integer scatter matrix + 8 power-iteration rounds with
    // ∞-norm truncating-integer normalization (// == Spark's (a-a%b)/b on
    // non-negative quotients)
    "q199_dominant_component" -> {
      val rounds = (1 to 8).map { k =>
        s"""w$k AS (SELECT m.i, sum(m.m * v${k - 1}.v) AS w
           |  FROM m JOIN v${k - 1} ON v${k - 1}.j = m.j GROUP BY 1),
           |x$k AS (SELECT max(abs(w)) AS mx FROM w$k),
           |v$k AS (SELECT w$k.i AS j,
           |   (w$k.w * 1000000 - (w$k.w * 1000000) % x$k.mx) // x$k.mx AS v
           |  FROM w$k, x$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, i,
         |   CAST(round(emb[i + 1] * 1000000, 0) AS HUGEINT) AS x
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |    FROM embeddings), unnest(range(0, 64)) r(i)),
         |n AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM e),
         |sx AS (SELECT i, sum(x) AS sx FROM e GROUP BY 1),
         |sxy AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |m AS (SELECT sxy.i, sxy.j, n.n * sxy.sxy - sa.sx * sb.sx AS m
         |  FROM sxy JOIN sx sa ON sa.i = sxy.i
         |  JOIN sx sb ON sb.i = sxy.j CROSS JOIN n),
         |v0 AS (SELECT i AS j, CAST(1000000 AS HUGEINT) AS v FROM sx),
         |$rounds
         |SELECT CAST(j AS INTEGER) AS dim, CAST(v AS BIGINT) AS loading_fp,
         | round(CAST(v AS DOUBLE) / 1000000.0, 6) AS loading
         |FROM v8""".stripMargin
    },
    // q200: channel journeys -> absorbing-chain value iteration, 12 rounds
    // x 5 scenarios in x10^12 truncating fixed point; removal redirects a
    // channel's inbound transitions to drop
    "q200_removal_attribution" -> {
      val scale = "CAST(1000000000000 AS HUGEINT)"
      val scenarios = Seq("base" -> None, "fb" -> Some("facebook"),
        "gg" -> Some("google"), "tk" -> Some("tiktok_ads"),
        "og" -> Some("organic"))
      val perScenario = scenarios.map { case (sc, removed) =>
        val redirect = removed match {
          case Some(c) => s"CASE WHEN dst = '$c' THEN 'drop' ELSE dst END"
          case None => "dst"
        }
        val rounds = (1 to 12).map { k =>
          s"""v$sc$k AS (SELECT t.src AS s,
             |   sum(t.n * (CASE WHEN t.dst = 'conv' THEN $scale
             |     ELSE coalesce(pv.v, CAST(0 AS HUGEINT)) END)) // tot.tot AS v
             |  FROM tr$sc t JOIN tot ON tot.src = t.src
             |  LEFT JOIN v$sc${k - 1} pv ON pv.s = t.dst
             |  GROUP BY t.src, tot.tot)""".stripMargin
        }.mkString(",\n")
        s"""tr$sc AS MATERIALIZED (SELECT src, $redirect AS dst, n FROM tr),
           |v${sc}0 AS (SELECT src AS s, CAST(0 AS HUGEINT) AS v FROM tot),
           |$rounds""".stripMargin
      }.mkString(",\n")
      val resRows = scenarios.collect { case (sc, Some(c)) =>
        s"""SELECT '$c' AS channel,
           | (SELECT v FROM vbase12 WHERE s = 'start') AS pb,
           | (SELECT v FROM v${sc}12 WHERE s = 'start') AS pr"""
      }.mkString("\n UNION ALL ")
      s"""WITH ch AS (SELECT user_id, ts, event_id,
         |   (['facebook','google','tiktok_ads','organic'])
         |     [(CAST(props->>'k' AS INTEGER) % 4) + 1] AS ch,
         |   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
         |  FROM events),
         |s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |   THEN 1 ELSE 0 END AS new_s
         |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s),
         |c2 AS (SELECT *, max(is_p) OVER (PARTITION BY user_id, sid) AS conv,
         |   lag(ch) OVER ws AS prev_ch
         |  FROM g WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id)),
         |cl AS (SELECT * FROM c2 WHERE prev_ch IS NULL OR prev_ch <> ch),
         |cl2 AS (SELECT *, lead(ch) OVER (PARTITION BY user_id, sid
         |   ORDER BY ts, event_id) AS next_ch FROM cl),
         |tr AS MATERIALIZED (SELECT src, dst, count(*) AS n FROM (
         |   SELECT 'start' AS src, ch AS dst FROM cl2 WHERE prev_ch IS NULL
         |   UNION ALL SELECT ch, next_ch FROM cl2 WHERE next_ch IS NOT NULL
         |   UNION ALL SELECT ch, CASE WHEN conv = 1 THEN 'conv' ELSE 'drop' END
         |    FROM cl2 WHERE next_ch IS NULL)
         |  GROUP BY 1, 2),
         |tot AS MATERIALIZED (SELECT src, sum(n) AS tot FROM tr GROUP BY 1),
         |$perScenario,
         |res AS ($resRows),
         |sre AS (SELECT sum(pb - pr) AS sre FROM res)
         |SELECT channel, CAST(pb AS BIGINT) AS p_base_fp,
         | CAST(pr AS BIGINT) AS p_removed_fp,
         | CAST(pb - pr AS BIGINT) AS removal_effect_fp,
         | round(CAST(pb - pr AS DOUBLE) / 1000000000000.0, 6) AS removal_effect,
         | CASE WHEN sre.sre = 0 THEN NULL
         |  ELSE round(CAST(pb - pr AS DOUBLE) / CAST(sre.sre AS DOUBLE), 6)
         | END AS attribution
         |FROM res, sre""".stripMargin
    },
    // q201: 6 unrolled BPE rounds; segmentations are leading-space strings
    // so the merge is a plain left-to-right replace in both engines
    "q201_bpe_merges" -> {
      val out = (1 to 6).map(r =>
        s"""SELECT CAST($r AS INTEGER) AS merge_rank, a AS sym_left,
           | b AS sym_right, a || b AS merged, CAST(cnt AS BIGINT) AS pair_count
           |FROM b$r""".stripMargin).mkString("\nUNION ALL ")
      s"""WITH $bpeTrainCtes
         |$out""".stripMargin
    },
    // q202: OLS slope with the lag index as regressor — the denominator
    // 31*9455 - 465^2 = 76880 is a constant, the numerator exact HUGEINT.
    // Every emitted integer is CAST AS BIGINT: DuckDB's sum(BIGINT) yields
    // HUGEINT, a type the driver's fetch path renders differently than
    // int64 (the r7 red-cell class — see COVERAGE.md §determinism)
    "q202_rolling_trend" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.d0, spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |s AS (SELECT d0, day + CAST(k AS INTEGER) AS day,
        |   sum(CAST(x AS HUGEINT)) AS sy,
        |   sum(CAST(x AS HUGEINT) * (30 - k)) AS sxy
        |  FROM x, range(0, 31) t(k)
        |  GROUP BY 1, 2)
        |SELECT s.day, CAST(x.x AS BIGINT) AS rev_cents,
        | CAST(31 * s.sxy - 465 * s.sy AS BIGINT) AS slope_fp
        |FROM s JOIN x ON x.day = s.day
        |WHERE s.day >= s.d0 + 30""".stripMargin,
    // q203: ewma through yesterday vs today's actual; the error is exact
    // fixed point |actual*(2^31-1) - ewma_fp| before any dollars division
    "q203_forecast_backtest" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.d0, spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |e AS (SELECT day + CAST(lag AS INTEGER) AS day,
        |   sum(CAST((CAST(1 AS BIGINT) << (30 - CAST(lag AS INTEGER)))
        |       AS HUGEINT) * x) AS ewma_fp
        |  FROM x, range(0, 31) t(lag)
        |  GROUP BY 1),
        |f AS (SELECT e.day + 1 AS day, e.ewma_fp FROM e)
        |SELECT x.day, CAST(x.x AS BIGINT) AS actual_cents,
        | CAST(f.ewma_fp // 2147483647 AS BIGINT) AS forecast_cents,
        | CAST(abs(CAST(x.x AS HUGEINT) * 2147483647 - f.ewma_fp)
        |   // 2147483647 AS BIGINT) AS abs_err_cents
        |FROM x JOIN f ON x.day = f.day
        |WHERE x.day >= x.d0 + 31""".stripMargin,
    // q204: the q29 neighbor contract + majority vote, ties to the
    // smallest label
    "q204_knn_eval" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS true_label,
         |   CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 100),
         |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |scored AS (SELECT query_id, true_label, vec_id AS neighbor_id,
         |   label, ${cosExpr("qv", "v")} AS cosine
         |  FROM c JOIN q ON vec_id <> query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored),
         |votes AS (SELECT query_id, true_label, label,
         |   CAST(count(*) AS BIGINT) AS votes
         |  FROM r WHERE rnk <= 10 GROUP BY 1, 2, 3),
         |top AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY votes DESC, label) AS vr FROM votes)
         |SELECT query_id, true_label, label AS predicted_label, votes,
         | CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS INTEGER)
         |  AS correct
         |FROM top WHERE vr = 1""".stripMargin,
    // q205: per-key HRW argmax replayed as a DESC,DESC rank (= Spark's
    // lexicographic struct max with larger-shard tie-break)
    "q205_shard_rebalance" ->
      """WITH e AS (SELECT doc_id, s,
        |   CAST(('0x' || substr(md5(doc_id || ':' || s), 1, 15)) AS BIGINT) AS h
        |  FROM documents, range(0, 9) r(s)),
        |o8 AS (SELECT doc_id, s AS hrw_old FROM (
        |   SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY h DESC, s DESC) AS rn FROM e WHERE s < 8)
        |  WHERE rn = 1),
        |o9 AS (SELECT doc_id, s AS hrw_new FROM (
        |   SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY h DESC, s DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |f AS (SELECT o8.doc_id,
        |   CASE WHEN o8.doc_id % 8 <> o8.doc_id % 9 THEN 1 ELSE 0 END AS mod_mv,
        |   CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END AS hrw_mv
        |  FROM o8 JOIN o9 ON o8.doc_id = o9.doc_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(mod_mv) AS BIGINT) AS mod_moved,
        |   CAST(sum(hrw_mv) AS BIGINT) AS hrw_moved FROM f),
        |st AS (SELECT 'mod' AS method, n_docs, mod_moved AS n_moved FROM a
        | UNION ALL SELECT 'hrw', n_docs, hrw_moved FROM a)
        |SELECT method, n_docs, n_moved,
        | round(CAST(n_moved AS DOUBLE) / n_docs, 6) AS moved_share
        |FROM st""".stripMargin,
    // q206: the trained b1..b6 merges cross-joined in, applied per word
    // inside a list lambda — same leading-space replace chain as training
    "q206_bpe_encode" -> {
      // coalesce to a chr(3) sentinel: an empty b-CTE (vocabulary
      // exhausted before 6 merges) must no-op its replace, not null the
      // segmentation or drop every document through the cross join
      val applied = (1 to 6).foldLeft(
        "regexp_replace(x, '(.)', chr(1) || '\\1' || chr(2), 'g')") {
        case (acc, r) =>
          s"replace($acc, chr(1) || coalesce(b$r.a, chr(3)) || chr(2) || " +
            s"chr(1) || coalesce(b$r.b, chr(3)) || chr(2), " +
            s"chr(1) || coalesce(b$r.a, chr(3)) || coalesce(b$r.b, chr(3)) || chr(2))"
      }
      s"""WITH $bpeTrainCtes,
         |enc AS (SELECT doc_id, source,
         |   CAST(list_sum(list_transform(string_split(text, ' '),
         |     x -> len(x))) AS BIGINT) AS n_chars,
         |   CAST(list_sum(list_transform(string_split(text, ' '),
         |     x -> len($applied) - len(replace($applied, chr(1), ''))))
         |    AS BIGINT) AS n_tokens_bpe
         |  FROM documents LEFT JOIN b1 ON true LEFT JOIN b2 ON true
         |   LEFT JOIN b3 ON true LEFT JOIN b4 ON true
         |   LEFT JOIN b5 ON true LEFT JOIN b6 ON true)
         |SELECT doc_id, source, n_chars, n_tokens_bpe,
         | round(CAST(n_chars AS DOUBLE) / n_tokens_bpe, 6) AS chars_per_token
         |FROM enc""".stripMargin
    },
    // q207: seeds clamped, 3 unrolled synchronous majority-vote rounds
    // (ties -> smallest label, no labeled neighbor -> unlabeled)
    "q207_label_propagation" -> {
      val round = (i: Int) =>
        s"""v$i AS (SELECT e.dst AS doc_id, l.label, count(*) AS votes
           |  FROM edges e JOIN l${i - 1} l ON l.doc_id = e.src
           |  LEFT JOIN seeds s ON s.doc_id = e.dst
           |  WHERE s.doc_id IS NULL GROUP BY 1, 2),
           |p$i AS (SELECT doc_id, label FROM (SELECT *, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY votes DESC, label) AS rn FROM v$i)
           |  WHERE rn = 1),
           |l$i AS (SELECT * FROM seeds UNION ALL SELECT * FROM p$i)"""
          .stripMargin
      s"""WITH pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
         |          UNION ALL SELECT doc2, doc1 FROM pairs),
         |seeds AS (SELECT d.doc_id, e.label FROM documents d
         |  JOIN embeddings e ON e.vec_id = d.doc_id WHERE d.doc_id % 5 = 0),
         |l0 AS (SELECT * FROM seeds),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT l.doc_id, l.label,
         | CAST(CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
         |  AS is_seed
         |FROM l3 l LEFT JOIN seeds s ON s.doc_id = l.doc_id""".stripMargin
    },
    // q208: integer counts until the two final single divisions
    "q208_good_turing" ->
      """WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
        |coc AS (SELECT c AS freq, count(*) AS n_types FROM wc GROUP BY 1),
        |tot AS (SELECT sum(freq * n_types) AS n_tokens FROM coc)
        |SELECT a.freq, a.n_types,
        | coalesce(b.n_types, 0) AS next_n_types,
        | round(CAST((a.freq + 1) * coalesce(b.n_types, 0) AS DOUBLE)
        |   / a.n_types, 6) AS gt_freq,
        | round(CAST((a.freq + 1) * coalesce(b.n_types, 0) AS DOUBLE)
        |   / n_tokens, 6) AS gt_class_mass
        |FROM coc a LEFT JOIN coc b ON b.freq = a.freq + 1
        |CROSS JOIN tot""".stripMargin,
    // q209: d=4 pinned md5 row hashes x width 1024; min over rows
    "q209_cms_audit" ->
      """WITH wc AS (SELECT w, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |h AS (SELECT w, c, j,
        |   CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))
        |     AS BIGINT) % 1024 AS bucket
        |  FROM wc, range(0, 4) r(j)),
        |cells AS (SELECT j, bucket, sum(c) AS cell FROM h GROUP BY 1, 2),
        |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 100),
        |est AS (SELECT h.w, min(cell) AS cms_est
        |  FROM h JOIN top USING (w) JOIN cells USING (j, bucket)
        |  GROUP BY 1)
        |SELECT top.w AS word, top.c AS exact_cnt,
        | CAST(cms_est AS BIGINT) AS cms_est,
        | CAST(cms_est - top.c AS BIGINT) AS overestimate
        |FROM top JOIN est ON est.w = top.w""".stripMargin,
    // q210: k smallest 60-bit hashes per stratum; 63*2^60 is exact in
    // double, one division, 4-dp estimate, 6-dp relative error
    "q210_kmv_distinct" ->
      s"""WITH sh AS ($shingleRows),
         |g0 AS (SELECT d.source, sh.shingle FROM sh
         |  JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |g AS (SELECT source, shingle FROM g0
         |      UNION SELECT 'ALL' AS source, shingle FROM g0),
         |ex AS (SELECT source, count(*) AS n_exact FROM g GROUP BY 1),
         |h AS (SELECT source, shingle,
         |   CAST(('0x' || substr(md5('kmv:' || shingle), 1, 15)) AS BIGINT)
         |    AS h FROM g),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source
         |   ORDER BY h, shingle) AS rn FROM h),
         |kth AS (SELECT source, h AS kth_hash FROM r WHERE rn = 64),
         |est AS (SELECT ex.source, ex.n_exact, kth.kth_hash,
         |   CASE WHEN kth.kth_hash IS NULL THEN CAST(n_exact AS DOUBLE)
         |    ELSE round(63.0 * 1152921504606846976 / kth_hash, 4) END
         |    AS kmv_est
         |  FROM ex LEFT JOIN kth USING (source))
         |SELECT source, n_exact, kth_hash, kmv_est,
         | round((kmv_est - n_exact) / n_exact, 6) AS rel_err
         |FROM est""".stripMargin,
    // q211: binary relevance vs the exact top-5; discounts are the same
    // x1e12 literals the Scala side pins; ideal DCG = their sum
    "q211_ndcg_eval" -> {
      val disc = "[1000000000000, 630929753571, 500000000000, " +
        "430676558073, 386852807235]"
      val dcg = s"""sum(CASE WHEN e.neighbor_id IS NULL THEN 0
         | ELSE ($disc)[a."rank"] END)""".stripMargin
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annBfSql)),
         |l AS (SELECT query_id, neighbor_id, "rank" FROM ($annLshSql)),
         |i AS (SELECT query_id, neighbor_id, "rank" FROM ($annIvfSql)),
         |approx AS (
         |  SELECT 'lsh' AS method, query_id, neighbor_id, "rank" FROM l
         |  UNION ALL
         |  SELECT 'ivf', query_id, neighbor_id, "rank" FROM i)
         |SELECT a.method, a.query_id,
         | CAST($dcg AS BIGINT) AS dcg_fp,
         | round(CAST($dcg AS DOUBLE) / 2948459118879, 6) AS ndcg
         |FROM approx a LEFT JOIN exact e
         | ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY 1, 2""".stripMargin
    },
    // q212: week-bucketed ages keep decay weights exact powers of two;
    // the contribution sum is pure integer arithmetic
    "q212_decay_engagement" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |a AS (SELECT max(day) AS d1 FROM ev),
        |k AS (SELECT user_id, cents,
        |   least(CAST(floor(date_diff('day', day, d1) / 7) AS INTEGER), 8)
        |    AS k
        |  FROM ev CROSS JOIN a)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents * ([256,128,64,32,16,8,4,2,1])[k+1]) AS BIGINT)
        |  AS decayed_fp,
        | round(CAST(sum(cents * ([256,128,64,32,16,8,4,2,1])[k+1])
        |   AS DOUBLE) / 25600.0, 6) AS decayed_value
        |FROM k GROUP BY 1""".stripMargin,
    // q213: train on the first 20 calendar days (next-event day decides
    // the split), argmax ties to the smallest next type
    "q213_next_event_backtest" ->
      """WITH p AS (SELECT event_type AS from_type,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS next_type,
        |   lead(CAST(ts AS DATE)) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS next_day
        |  FROM events),
        |d AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |t AS (SELECT from_type, next_type, next_day > d0 + 19 AS is_test
        |  FROM p CROSS JOIN d WHERE next_type IS NOT NULL),
        |tc AS (SELECT from_type, next_type, count(*) AS c FROM t
        |  WHERE NOT is_test GROUP BY 1, 2),
        |m AS (SELECT from_type, next_type AS predicted_type FROM (
        |   SELECT *, row_number() OVER (PARTITION BY from_type
        |     ORDER BY c DESC, next_type) AS rn FROM tc) WHERE rn = 1)
        |SELECT t.from_type, m.predicted_type,
        | CAST(count(*) AS BIGINT) AS n_test,
        | CAST(sum(CASE WHEN t.next_type = m.predicted_type
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        | round(CAST(sum(CASE WHEN t.next_type = m.predicted_type
        |   THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
        |FROM t JOIN m USING (from_type) WHERE is_test
        |GROUP BY 1, 2""".stripMargin,
    // q214: isodow grouping over the q202 zero-filled spine; the index is
    // one division of two exact integer cross-products
    "q214_seasonal_index" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |dow AS (SELECT isodow(day) AS iso_dow,
        |   CAST(count(*) AS BIGINT) AS n_days,
        |   CAST(sum(x) AS BIGINT) AS rev_cents FROM x GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS n_all,
        |   CAST(sum(rev_cents) AS BIGINT) AS rev_all FROM dow)
        |SELECT CAST(iso_dow AS INTEGER) AS iso_dow, n_days, rev_cents,
        | round(CAST(rev_cents AS DOUBLE)
        |   / CAST(n_days * 100 AS DOUBLE), 6) AS avg_rev,
        | round(CAST(CAST(rev_cents AS HUGEINT) * n_all AS DOUBLE)
        |   / CAST(CAST(n_days AS HUGEINT) * rev_all AS DOUBLE), 6)
        |  AS seasonal_index
        |FROM dow CROSS JOIN tot""".stripMargin,
    // q215: register index = top 8 hash bits, rank = 53 - bitlen of the
    // low 52; the harmonic denominator stays integer (2^(53-M) terms)
    "q215_hll_audit" ->
      s"""WITH sh AS ($shingleRows),
         |g0 AS (SELECT d.source, sh.shingle FROM sh
         |  JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |g AS (SELECT source, shingle FROM g0
         |      UNION SELECT 'ALL' AS source, shingle FROM g0),
         |ex AS (SELECT source, count(*) AS n_exact FROM g GROUP BY 1),
         |h AS (SELECT source,
         |   CAST(('0x' || substr(md5('hll:' || shingle), 1, 15)) AS BIGINT)
         |    AS h FROM g),
         |r AS (SELECT source, h // 4503599627370496 AS idx,
         |   h % 4503599627370496 AS w FROM h),
         |rk AS (SELECT source, idx,
         |   CASE WHEN w = 0 THEN 53 ELSE 53 - len(bin(w)) END AS rnk
         |  FROM r),
         |regs AS (SELECT source, idx, max(rnk) AS m FROM rk GROUP BY 1, 2),
         |z AS (SELECT source, count(*) AS n_filled,
         |   CAST(sum(CAST(1 AS BIGINT) << (53 - CAST(m AS INTEGER))) AS BIGINT)
         |    AS z_filled
         |  FROM regs GROUP BY 1)
         |SELECT ex.source, ex.n_exact,
         | CAST(256 - n_filled AS BIGINT) AS n_zero_registers,
         | CAST(z_filled + (256 - n_filled) * 9007199254740992 AS BIGINT)
         |  AS z_fp,
         | round(4.707271267120224e4 * 9.007199254740992e15
         |   / CAST(z_filled + (256 - n_filled) * 9007199254740992
         |     AS DOUBLE), 4) AS hll_est,
         | round((round(4.707271267120224e4 * 9.007199254740992e15
         |     / CAST(z_filled + (256 - n_filled) * 9007199254740992
         |       AS DOUBLE), 4) - n_exact) / n_exact, 6) AS rel_err
         |FROM ex JOIN z USING (source)""".stripMargin,
    // q216: exact integer KS numerator max|c1*N2 - c2*N1| on the
    // (source, length) grain; ties-safe because the grain is distinct
    "q216_ks_drift" ->
      """WITH srcs AS (SELECT DISTINCT source AS s FROM documents),
        |grain AS (SELECT s, n_chars,
        |   sum(CASE WHEN d.source = s THEN 1 ELSE 0 END) AS a,
        |   sum(CASE WHEN d.source <> s THEN 1 ELSE 0 END) AS b
        |  FROM documents d CROSS JOIN srcs GROUP BY 1, 2),
        |c AS (SELECT s, a, b,
        |   sum(a) OVER (PARTITION BY s ORDER BY n_chars) AS ca,
        |   sum(b) OVER (PARTITION BY s ORDER BY n_chars) AS cb,
        |   sum(a) OVER (PARTITION BY s) AS n1,
        |   sum(b) OVER (PARTITION BY s) AS n2
        |  FROM grain)
        |SELECT s AS source, CAST(max(n1) AS BIGINT) AS n_source,
        | CAST(max(n2) AS BIGINT) AS n_rest,
        | CAST(max(abs(CAST(ca AS HUGEINT) * n2
        |   - CAST(cb AS HUGEINT) * n1)) AS BIGINT) AS ks_fp,
        | round(CAST(max(abs(CAST(ca AS HUGEINT) * n2
        |     - CAST(cb AS HUGEINT) * n1)) AS DOUBLE)
        |   / CAST(CAST(max(n1) AS HUGEINT) * max(n2) AS DOUBLE), 6)
        |  AS ks_stat
        |FROM c GROUP BY 1""".stripMargin,
    // q217: per-vector argmax over the unthresholded cell pairs, then
    // the reciprocity self-join on the reversed key
    "q217_mutual_nn" ->
      s"""WITH assigned AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
         |p AS (SELECT a.vec_id AS vec1, b.vec_id AS vec2,
         |    ${cosExpr("a.v", "b.v")} AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dd AS (SELECT vec1 AS src, vec2 AS dst, cosine FROM p
         |       UNION ALL SELECT vec2, vec1, cosine FROM p),
         |best AS (SELECT src, dst, cosine FROM (
         |   SELECT *, row_number() OVER (PARTITION BY src
         |     ORDER BY cosine DESC, dst) AS rn FROM dd) WHERE rn = 1)
         |SELECT x.src AS vec1, x.dst AS vec2, x.cosine
         |FROM best x JOIN best y
         | ON x.dst = y.src AND x.src = y.dst AND x.src < x.dst"""
        .stripMargin,
    // q218: doubled midranks keep U integer under ties; HUGEINT rank
    // sums; the two effect sizes divide exact integers once
    "q218_mannwhitney_quality" ->
      s"""WITH dcn AS (SELECT doc_id, keep FROM ($curationSql)),
         |sc AS (SELECT doc_id, model_score FROM ($modelScoreSql)),
         |j AS (SELECT keep, model_score AS v FROM dcn
         |  JOIN sc USING (doc_id)),
         |grain AS (SELECT v, CAST(sum(keep) AS HUGEINT) AS k,
         |   CAST(sum(1 - keep) AS HUGEINT) AS d FROM j GROUP BY 1),
         |c AS (SELECT k, d,
         |   coalesce(sum(k + d) OVER (ORDER BY v
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS before
         |  FROM grain),
         |a AS (SELECT sum(k) AS n1, sum(d) AS n2,
         |   sum(k * (before * 2 + k + d + 1)) AS rsum FROM c)
         |SELECT CAST(n1 AS BIGINT) AS n_keep, CAST(n2 AS BIGINT) AS n_drop,
         | CAST(rsum - n1 * (n1 + 1) AS BIGINT) AS u_keep_x2,
         | round(CAST(rsum - n1 * (n1 + 1) AS DOUBLE)
         |   / CAST(n1 * n2 * 2 AS DOUBLE), 6) AS auc,
         | round(CAST(rsum - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
         |   / CAST(n1 * n2 AS DOUBLE), 6) AS rank_biserial
         |FROM a""".stripMargin,
    // q219: the recursive CTE replays the driver-side x1e12 truncating
    // product step for step (at-risk counts via a reverse running sum)
    "q219_survival_curve" ->
      """WITH RECURSIVE ev AS (SELECT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |lf AS (SELECT user_id, min(day) AS f, max(day) AS l FROM ev
        |  GROUP BY 1),
        |g AS (SELECT max(day) AS dmax FROM ev),
        |t AS (SELECT CAST(floor(date_diff('day', f, l) / 7) AS INTEGER)
        |    AS wk,
        |   CASE WHEN date_diff('day', l, dmax) < 7 THEN 1 ELSE 0 END
        |    AS cen
        |  FROM lf CROSS JOIN g),
        |bw AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_end,
        |   CAST(sum(cen) AS BIGINT) AS n_cens FROM t GROUP BY 1),
        |ar AS (SELECT wk, n_end, n_cens,
        |   CAST(sum(n_end) OVER (ORDER BY wk DESC) AS BIGINT) AS at_risk,
        |   CAST(row_number() OVER (ORDER BY wk) AS INTEGER) AS rn
        |  FROM bw),
        |km(rn, wk, at_risk, churn, cens, s) AS (
        |  SELECT rn, wk, at_risk, n_end - n_cens, n_cens,
        |     (at_risk - (n_end - n_cens)) * 1000000000000 // at_risk
        |   FROM ar WHERE rn = 1
        |  UNION ALL
        |  SELECT ar.rn, ar.wk, ar.at_risk, ar.n_end - ar.n_cens,
        |     ar.n_cens,
        |     km.s * (ar.at_risk - (ar.n_end - ar.n_cens)) // ar.at_risk
        |   FROM km JOIN ar ON ar.rn = km.rn + 1)
        |SELECT wk, at_risk AS n_at_risk, churn AS n_churned,
        | cens AS n_censored,
        | churn * 1000000000000 // at_risk AS hazard_fp,
        | s AS survival_fp,
        | round(CAST(s AS DOUBLE) / 1e12, 6) AS survival
        |FROM km""".stripMargin,
    // q220: the q18 gap sessionization carrying event_type; the Wilson
    // bounds are the identical explicit IEEE expression tree (z=1.96,
    // z^2=3.8416 pinned as separate literals)
    "q220_conversion_wilson" -> {
      val lo = "(x / n + 3.8416 / (n * 2)) / (1.0 + 3.8416 / n) - 1.96 * " +
        "sqrt(x / n * (1.0 - x / n) / n + 3.8416 / (n * n * 4)) / " +
        "(1.0 + 3.8416 / n)"
      val hi = "(x / n + 3.8416 / (n * 2)) / (1.0 + 3.8416 / n) + 1.96 * " +
        "sqrt(x / n * (1.0 - x / n) / n + 3.8416 / (n * n * 4)) / " +
        "(1.0 + 3.8416 / n)"
      s"""WITH s AS (
         | SELECT user_id, ts, event_id, event_type,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |    OR epoch(CAST(ts AS TIMESTAMP))
         |       - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800
         |   THEN 1 ELSE 0 END AS new_s
         | FROM events
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sid AS (SELECT user_id, ts, event_type, sum(new_s) OVER (
         |  PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS UNBOUNDED PRECEDING) AS sid FROM s),
         |sess AS (SELECT user_id, sid, min(ts) AS start,
         |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS conv
         |  FROM sid GROUP BY 1, 2),
         |g AS (SELECT isodow(CAST(start AS DATE)) AS iso_dow,
         |   CAST(count(*) AS BIGINT) AS n_sessions,
         |   CAST(sum(conv) AS BIGINT) AS n_converted FROM sess GROUP BY 1),
         |calc AS (SELECT *, CAST(n_sessions AS DOUBLE) AS n,
         |   CAST(n_converted AS DOUBLE) AS x FROM g)
         |SELECT CAST(iso_dow AS INTEGER) AS iso_dow, n_sessions,
         | n_converted,
         | round(x / n, 6) AS p_hat,
         | round($lo, 6) AS wilson_lo,
         | round($hi, 6) AS wilson_hi
         |FROM calc""".stripMargin
    },
    // q221: Poisson(1) weights via pinned x2^60 integer thresholds; each
    // replicate mean is a x1e12 truncating division of positive-shifted
    // integers; the SE variance numerator is exact HUGEINT
    "q221_bootstrap_se" ->
      s"""WITH sc AS (SELECT doc_id, source,
         |   CAST(round(model_score * 1e6, 0) AS BIGINT) + 10000000
         |    AS score_fp
         |  FROM ($modelScoreSql)),
         |pt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |   CAST(sum(score_fp) AS BIGINT) AS ssum FROM sc GROUP BY 1),
         |point AS (SELECT source, n_docs,
         |   round(CAST(ssum - n_docs * 10000000 AS DOUBLE)
         |     / CAST(n_docs * 1000000 AS DOUBLE), 6) AS mean_score
         |  FROM pt),
         |h AS (SELECT source, bb, score_fp,
         |   CAST(('0x' || substr(md5('boot:' || CAST(bb AS VARCHAR) || ':'
         |     || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM sc, range(0, 32) r(bb)),
         |wgt AS (SELECT source, bb, score_fp,
         |   CASE WHEN h < 424136118829305329 THEN 0
         |        WHEN h < 848272237658610659 THEN 1
         |        WHEN h < 1060340297073263324 THEN 2
         |        WHEN h < 1131029650211480879 THEN 3
         |        WHEN h < 1148701988496035267 THEN 4
         |        WHEN h < 1152236456152946145 THEN 5
         |        WHEN h < 1152825534095764625 THEN 6
         |        ELSE 7 END AS w FROM h),
         |reps AS (SELECT source, bb,
         |   CAST(sum(w * score_fp) AS BIGINT) AS num,
         |   CAST(sum(w) AS BIGINT) AS den FROM wgt GROUP BY 1, 2),
         |m AS (SELECT source, CASE WHEN den = 0 THEN 0
         |   ELSE (num * 1000000) // den END AS m FROM reps),
         |se AS (SELECT source,
         |   round(sqrt(CAST(CAST(count(*) AS HUGEINT)
         |       * sum(CAST(m AS HUGEINT) * m)
         |       - sum(CAST(m AS HUGEINT)) * sum(CAST(m AS HUGEINT))
         |      AS DOUBLE)
         |     / CAST(CAST(count(*) AS HUGEINT) * (count(*) - 1)
         |      AS DOUBLE)) / 1e12, 6) AS bootstrap_se
         |  FROM m GROUP BY 1)
         |SELECT point.source, n_docs, mean_score, bootstrap_se
         |FROM point JOIN se USING (source)""".stripMargin,
    // q222: decile = floor(id*10/(max+1)) is a map-side assignment; the
    // first-decile-per-word min makes new-type counting one vocab pass
    "q222_heaps_curve" ->
      """WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |d AS (SELECT CAST(doc_id * 10 // n AS INTEGER) AS decile, text
        |  FROM documents CROSS JOIN n),
        |tp AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |ft AS (SELECT w, min(decile) AS decile FROM (
        |   SELECT decile, unnest(string_split(text, ' ')) AS w FROM d)
        |  GROUP BY 1),
        |ty AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_new_types
        |  FROM ft GROUP BY 1),
        |c AS (SELECT tp.decile, tp.n_docs, tp.n_tokens,
        |   coalesce(ty.n_new_types, 0) AS nn
        |  FROM tp LEFT JOIN ty USING (decile))
        |SELECT decile, n_docs,
        | CAST(sum(n_tokens) OVER win AS BIGINT) AS n_tokens_cum,
        | CAST(sum(nn) OVER win AS BIGINT) AS n_types_cum,
        | round(CAST(sum(nn) OVER win AS DOUBLE)
        |   / sum(n_tokens) OVER win, 6) AS ttr
        |FROM c WINDOW win AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)"""
        .stripMargin,
    // q223: the q24 signature table banded four ways; truth = the exact
    // Jaccard >= 0.7 pairs (q73's shingle equality join, no caps)
    "q223_band_tuning" -> {
      val configs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
      val perConfig = configs.map { case (b, r) =>
        val list = (0 until b).mkString(",")
        s"""bd$b AS (SELECT doc_id, bnd,
           |   md5(array_to_string(sig[bnd*$r+1 : bnd*$r+$r], ',')) AS bkey
           |  FROM sig, UNNEST([$list]) AS t$b(bnd)),
           |cd$b AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
           |  FROM bd$b a JOIN bd$b b ON a.bnd = b.bnd AND a.bkey = b.bkey
           |   AND a.doc_id < b.doc_id),
           |st$b AS (SELECT CAST($b AS INTEGER) AS bands,
           |   CAST($r AS INTEGER) AS rows_per_band,
           |   (SELECT CAST(count(*) AS BIGINT) FROM cd$b) AS n_candidates,
           |   (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           |   (SELECT CAST(count(*) AS BIGINT) FROM cd$b
           |     JOIN truth USING (doc1, doc2)) AS n_hit)""".stripMargin
      }.mkString(",\n")
      val unions = configs.map { case (b, _) => s"SELECT * FROM st$b" }
        .mkString("\nUNION ALL ")
      s"""WITH sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |   count(*) AS cnt
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc1, doc2 FROM ($jaccardTail)
         |  WHERE jaccard >= 0.7),
         |sig AS (
         |  SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}]
         |   AS sig
         |  FROM ($baseHashes)),
         |$perConfig
         |SELECT bands, rows_per_band, n_candidates, n_truth, n_hit,
         | round(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall,
         | CASE WHEN n_candidates = 0 THEN NULL
         |  ELSE round(CAST(n_hit AS DOUBLE) / n_candidates, 6) END
         |  AS "precision"
         |FROM ($unions)""".stripMargin
    },
    // q224: source-as-pseudo-document c-TF-IDF; ln is the one float (the
    // q90 precedent), counts exact
    "q224_class_tfidf" ->
      """WITH words AS (SELECT source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM words GROUP BY 1, 2),
        |fw AS (SELECT w, CAST(sum(tf) AS BIGINT) AS f_w FROM tf
        |  GROUP BY 1),
        |aa AS (SELECT CAST(sum(tf) AS DOUBLE)
        |   / CAST(count(DISTINCT source) AS DOUBLE) AS a_avg FROM tf),
        |sc AS (SELECT tf.source, tf.w, tf.tf,
        |   CAST(tf.tf AS DOUBLE)
        |    * ln(1.0 + a_avg / CAST(f_w AS DOUBLE)) AS score
        |  FROM tf JOIN fw USING (w) CROSS JOIN aa),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY score DESC, w) AS INTEGER) AS rnk FROM sc)
        |SELECT source, w AS word, tf, round(score, 6) AS ctfidf, rnk
        |FROM r WHERE rnk <= 5""".stripMargin,
    // q225: one verified pair list, three monotone cuts, three recursive
    // min-label closures (the q50 oracle shape per threshold)
    "q225_dedup_dendrogram" -> {
      val cuts = Seq("0.7" -> "07", "0.8" -> "08", "0.9" -> "09")
      val blocks = cuts.map { case (t, tag) =>
        s"""pairs$tag AS (SELECT doc1, doc2 FROM mp WHERE jaccard >= $t),
           |edges$tag AS (SELECT doc1 AS src, doc2 AS dst FROM pairs$tag
           |          UNION ALL SELECT doc2, doc1 FROM pairs$tag),
           |reach$tag(doc_id, component) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.dst, r.component FROM reach$tag r
           |   JOIN edges$tag e ON e.src = r.doc_id),
           |comp$tag AS (SELECT doc_id, min(component) AS component
           |  FROM reach$tag GROUP BY doc_id),
           |sz$tag AS (SELECT component, count(*) AS sz FROM comp$tag
           |  GROUP BY 1 HAVING count(*) >= 2),
           |st$tag AS (SELECT CAST($t AS DOUBLE) AS threshold,
           |  (SELECT CAST(count(*) AS BIGINT) FROM pairs$tag) AS n_pairs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM sz$tag) AS n_clusters,
           |  (SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) FROM sz$tag)
           |   AS n_clustered_docs,
           |  (SELECT CAST(coalesce(max(sz), 0) AS BIGINT) FROM sz$tag)
           |   AS max_cluster)""".stripMargin
      }.mkString(",\n")
      val unions = cuts.map { case (_, tag) => s"SELECT * FROM st$tag" }
        .mkString("\nUNION ALL ")
      s"""WITH RECURSIVE mp AS (SELECT * FROM ($minhashPairsSql)),
         |$blocks
         |$unions""".stripMargin
    },
    // q226: r_k re-enters on its 6-dp grid; terms are x1e18 truncating
    // integer divisions; the reject flag compares the rounded Q
    "q226_ljung_box" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |cal AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT cal.day, coalesce(daily.cents, 0) AS x
        |  FROM cal LEFT JOIN daily USING (day)),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM x),
        |l AS (SELECT k FROM range(1, 15) t(k)),
        |p AS (SELECT l.k AS lag, a.x AS x, y.x AS y
        |  FROM x a JOIN l ON true
        |  JOIN x y ON y.day = a.day + CAST(l.k AS INTEGER)),
        |s AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(x AS HUGEINT)) AS s1, sum(CAST(y AS HUGEINT)) AS s2,
        |   sum(CAST(x AS HUGEINT) * x) AS s11,
        |   sum(CAST(y AS HUGEINT) * y) AS s22,
        |   sum(CAST(x AS HUGEINT) * y) AS s12
        |  FROM p GROUP BY 1),
        |acf AS (SELECT lag,
        |   round(CAST(n * s12 - s1 * s2 AS DOUBLE)
        |    / (sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
        |      * sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE))), 6) AS acf
        |  FROM s),
        |terms AS (SELECT n_days,
        |   (CAST(round(acf * 1e6, 0) AS BIGINT)
        |     * CAST(round(acf * 1e6, 0) AS BIGINT) * 1000000)
        |    // (n_days - lag) AS term_fp
        |  FROM acf CROSS JOIN nd),
        |agg AS (SELECT n_days, CAST(sum(term_fp) AS HUGEINT) AS s
        |  FROM terms GROUP BY 1)
        |SELECT CAST(14 AS INTEGER) AS max_lag, n_days,
        | round(CAST(CAST(n_days AS HUGEINT) * (n_days + 2) * s AS DOUBLE)
        |   / 1e18, 6) AS lb_q,
        | CAST(CASE WHEN round(CAST(CAST(n_days AS HUGEINT) * (n_days + 2)
        |     * s AS DOUBLE) / 1e18, 6) > 23.685 THEN 1 ELSE 0 END
        |  AS INTEGER) AS reject_5pct
        |FROM agg""".stripMargin,
    // q227: centered cumulative deviation in HUGEINT; argmax by
    // (dev DESC, day) — the tie rule is part of the contract
    "q227_cusum_changepoint" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |cal AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT cal.day, coalesce(daily.cents, 0) AS x
        |  FROM cal LEFT JOIN daily USING (day)),
        |c AS (SELECT day, x,
        |   row_number() OVER (ORDER BY day) AS t,
        |   sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM x),
        |tt AS (SELECT max(t) AS n_days, max(cum) AS total FROM c),
        |d AS (SELECT day, n_days,
        |   abs(CAST(n_days AS HUGEINT) * cum - CAST(t AS HUGEINT) * total)
        |    AS dev,
        |   CAST(n_days AS HUGEINT) * total AS denom
        |  FROM c CROSS JOIN tt)
        |SELECT day AS cp_day, CAST(n_days AS BIGINT) AS n_days,
        | CAST(dev AS BIGINT) AS dev_fp,
        | round(CAST(dev AS DOUBLE) / CAST(denom AS DOUBLE), 6)
        |  AS dev_share
        |FROM d ORDER BY dev DESC, day LIMIT 1""".stripMargin,
    // q228: the q220 determinism contract — exact counts, one explicit
    // IEEE tree, flag on the rounded statistic
    "q228_ab_ztest" -> {
      val z = "CASE WHEN pool * (1.0 - pool) * (1.0 / na + 1.0 / nb) > 0 " +
        "THEN (pa - pb) / sqrt(pool * (1.0 - pool) " +
        "* (1.0 / na + 1.0 / nb)) END"
      s"""WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS conv
         |  FROM events GROUP BY 1, 2),
         |arms AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm,
         |   CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x
         |  FROM u GROUP BY 1),
         |wide AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
         |   max(CASE WHEN arm = 0 THEN x END) AS conv_a,
         |   max(CASE WHEN arm = 1 THEN n END) AS n_b,
         |   max(CASE WHEN arm = 1 THEN x END) AS conv_b FROM arms),
         |calc AS (SELECT *, CAST(n_a AS DOUBLE) AS na,
         |   CAST(n_b AS DOUBLE) AS nb,
         |   CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |   CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |   CAST(conv_a + conv_b AS DOUBLE)
         |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
         |  FROM wide)
         |SELECT n_a, conv_a, n_b, conv_b,
         | round(pa, 6) AS p_a, round(pb, 6) AS p_b,
         | round($z, 6) AS z_stat,
         | CAST(CASE WHEN abs(round($z, 6)) > 1.96 THEN 1 ELSE 0 END
         |  AS INTEGER) AS significant_5pct
         |FROM calc""".stripMargin
    },
    // q229: ceiling division as (max + cnt - 1) // cnt, all integer
    "q229_class_balance" ->
      """WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS cnt
        |  FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(max(cnt) AS BIGINT) AS max_cnt,
        |   CAST(sum(cnt) AS BIGINT) AS n_total FROM c),
        |p AS (SELECT label, cnt, n_total,
        |   (max_cnt + cnt - 1) // cnt AS factor,
        |   ((max_cnt + cnt - 1) // cnt) * cnt AS upsampled
        |  FROM c CROSS JOIN t),
        |t2 AS (SELECT CAST(sum(upsampled) AS BIGINT) AS n_after FROM p)
        |SELECT label, cnt, factor, upsampled,
        | round(CAST(cnt AS DOUBLE) / n_total, 6) AS share_before,
        | round(CAST(upsampled AS DOUBLE) / n_after, 6) AS share_after
        |FROM p CROSS JOIN t2""".stripMargin,
    // q230: the q18 gap sessions, hour-bucket blocking, exact interval
    // test, session-identity dedup, day-of-overlap-start rollup
    "q230_concurrent_sessions" ->
      s"""WITH gs AS (SELECT * FROM (${SparkEntry.gapSessionsSql})),
         |sess AS (SELECT user_id, sid, min(ts) AS st, max(ts) AS en
         |  FROM gs GROUP BY 1, 2),
         |h AS (SELECT user_id, st, en,
         |   unnest(generate_series(
         |     date_trunc('hour', CAST(st AS TIMESTAMP)),
         |     date_trunc('hour', CAST(en AS TIMESTAMP)),
         |     INTERVAL 1 HOUR)) AS hb
         |  FROM sess),
         |p AS (SELECT DISTINCT a.user_id AS u1, a.st AS st1,
         |   b.user_id AS u2, b.st AS st2,
         |   greatest(a.st, b.st) AS ov
         |  FROM h a JOIN h b ON a.hb = b.hb AND a.user_id < b.user_id
         |   AND a.st <= b.en AND b.st <= a.en)
         |SELECT CAST(ov AS DATE) AS day,
         | CAST(count(*) AS BIGINT) AS n_overlapping_pairs
         |FROM p GROUP BY 1""".stripMargin,
    // q231: zero cells come from the margin cross product; contributions
    // cross on the x1e6 grid so the statistic is an exact integer sum;
    // the pinned critical value covers only the 24-dof full grid
    "q231_chi_square" ->
      """WITH cells AS (SELECT event_type, CAST(isodow(ts) AS INTEGER) AS iso_dow,
        |   CAST(count(*) AS BIGINT) AS observed
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(observed) AS row_tot FROM cells GROUP BY 1),
        |ct AS (SELECT iso_dow, sum(observed) AS col_tot FROM cells GROUP BY 1),
        |t AS (SELECT sum(observed) AS n FROM cells),
        |grid AS (SELECT rt.event_type, ct.iso_dow, rt.row_tot, ct.col_tot,
        |   coalesce(cells.observed, 0) AS observed
        |  FROM rt CROSS JOIN ct LEFT JOIN cells USING (event_type, iso_dow)),
        |x AS (SELECT event_type, iso_dow, observed,
        |   CAST(CAST(row_tot AS HUGEINT) * col_tot AS DOUBLE) / CAST(n AS DOUBLE)
        |     AS expected
        |  FROM grid CROSS JOIN t),
        |sc AS (SELECT *, CAST(round(((CAST(observed AS DOUBLE) - expected)
        |    * (CAST(observed AS DOUBLE) - expected) / expected) * 1000000)
        |   AS BIGINT) AS contrib_fp
        |  FROM x),
        |st AS (SELECT sum(contrib_fp) AS chi2_fp,
        |   (count(DISTINCT event_type) - 1) * (count(DISTINCT iso_dow) - 1) AS dof
        |  FROM sc)
        |SELECT event_type, iso_dow, observed,
        | round(expected, 6) AS expected,
        | round(CAST(contrib_fp AS DOUBLE) / 1000000, 6) AS contrib,
        | round(CAST(chi2_fp AS DOUBLE) / 1000000, 6) AS chi2_stat,
        | CAST(dof AS BIGINT) AS dof,
        | CASE WHEN dof = 24
        |  THEN CAST(round(CAST(chi2_fp AS DOUBLE) / 1000000, 6) > 36.415 AS INTEGER)
        | END AS reject_5pct
        |FROM sc CROSS JOIN st""".stripMargin,
    // q232: doubled midranks (2*min_rank + ties - 1) keep every rank
    // moment an exact integer; the q191 Pearson tree finishes it
    "q232_spearman" -> {
      def pair(x: String, y: String, name: String) =
        s"""SELECT '$name' AS metric_pair, CAST(n AS BIGINT) AS n_users,
           | round(CAST(n * s12 - s1 * s2 AS DOUBLE)
           |  / (sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
           |    * sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE))), 6) AS spearman_rho
           |FROM (SELECT CAST(count(*) AS HUGEINT) AS n,
           |  sum(CAST(rx AS HUGEINT)) AS s1, sum(CAST(ry AS HUGEINT)) AS s2,
           |  sum(CAST(rx AS HUGEINT) * rx) AS s11,
           |  sum(CAST(ry AS HUGEINT) * ry) AS s22,
           |  sum(CAST(rx AS HUGEINT) * ry) AS s12
           | FROM (SELECT mx.r2 AS rx, my.r2 AS ry
           |  FROM u JOIN (SELECT v, 2 * (cum - c + 1) + c - 1 AS r2 FROM (
           |    SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM (
           |     SELECT $x AS v, count(*) AS c FROM u GROUP BY 1))) mx
           |   ON u.$x = mx.v
           |  JOIN (SELECT v, 2 * (cum - c + 1) + c - 1 AS r2 FROM (
           |    SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM (
           |     SELECT $y AS v, count(*) AS c FROM u GROUP BY 1))) my
           |   ON u.$y = my.v))""".stripMargin
      s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_purchases
         | FROM events GROUP BY 1)
         |${pair("n_events", "n_days", "events_vs_days")}
         |UNION ALL
         |${pair("n_events", "n_purchases", "events_vs_purchases")}""".stripMargin
    },
    // q233: slopes are x1e6 truncating divisions with a 2^40*days shift
    // so both engines divide positive integers; median = exact integer
    // rank selection over the slope-value distribution
    "q233_theil_sen" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |cal AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT cal.day, coalesce(daily.cents, 0) AS x
        |  FROM cal LEFT JOIN daily USING (day)),
        |p AS (SELECT ((bb.x - aa.x) * 1000000
        |    + 1099511627776 * (bb.day - aa.day)) // (bb.day - aa.day)
        |    - 1099511627776 AS slope_fp
        |  FROM x aa JOIN x bb ON bb.day > aa.day),
        |d AS (SELECT slope_fp, count(*) AS c FROM p GROUP BY 1),
        |cum AS (SELECT slope_fp, c, sum(c) OVER (ORDER BY slope_fp) AS cum FROM d),
        |t AS (SELECT sum(c) AS n_pairs FROM d),
        |nd AS (SELECT count(*) AS n_days FROM x),
        |m AS (SELECT n_pairs,
        |   min(CASE WHEN cum >= (n_pairs + 1) // 2 THEN slope_fp END)
        |     AS slope_lo_fp,
        |   min(CASE WHEN cum >= n_pairs // 2 + 1 THEN slope_fp END)
        |     AS slope_hi_fp
        |  FROM cum CROSS JOIN t GROUP BY 1)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        | CAST(n_pairs AS BIGINT) AS n_pairs,
        | CAST(slope_lo_fp AS BIGINT) AS slope_lo_fp,
        | CAST(slope_hi_fp AS BIGINT) AS slope_hi_fp,
        | round(CAST(slope_lo_fp + slope_hi_fp AS DOUBLE) / 2000000.0, 6)
        |  AS slope_cents_per_day
        |FROM m CROSS JOIN nd""".stripMargin,
    // q234: the q144 confusion rolled into po/pe/kappa — margin products
    // summed as HUGEINT, kappa in one pinned IEEE tree
    "q234_lang_kappa" ->
      s"""WITH pr AS (SELECT lang AS actual_lang, $langPredicted AS predicted_lang
         |  FROM (SELECT lang, string_split(text,' ') AS w FROM documents)),
         |c AS (SELECT actual_lang, predicted_lang, count(*) AS n
         | FROM pr GROUP BY 1, 2),
         |rt AS (SELECT actual_lang AS l, sum(n) AS row_tot FROM c GROUP BY 1),
         |ct AS (SELECT predicted_lang AS l, sum(n) AS col_tot FROM c GROUP BY 1),
         |pe AS (SELECT sum(CAST(coalesce(row_tot, 0) AS HUGEINT)
         |    * coalesce(col_tot, 0)) AS pe_num
         |  FROM rt FULL JOIN ct USING (l)),
         |dg AS (SELECT sum(n) AS n_docs,
         |   sum(CASE WHEN actual_lang = predicted_lang THEN n ELSE 0 END)
         |     AS n_agree
         |  FROM c)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         | CAST(n_agree AS BIGINT) AS n_agree,
         | round(CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |  AS p_observed,
         | round(CAST(pe_num AS DOUBLE)
         |  / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)), 6)
         |  AS p_expected,
         | round((CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |   - CAST(pe_num AS DOUBLE)
         |     / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
         |  / (1.0 - CAST(pe_num AS DOUBLE)
         |     / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))), 6)
         |  AS kappa
         |FROM dg CROSS JOIN pe""".stripMargin,
    // q235: pinned logistic weights; ln/exp are the q90/q137-precedent
    // transcendentals; per-unit losses cross on the x1e6 grid
    "q235_model_eval" ->
      """WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |   sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS n_feat,
        |   count(DISTINCT CASE WHEN event_type <> 'purchase' THEN event_type END)
        |     AS k_types,
        |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT y,
        |   1.0 / (1.0 + exp(-(CAST(-3.0 AS DOUBLE)
        |     + CAST(0.45 AS DOUBLE) * ln(1.0 + n_feat)
        |     + CAST(0.35 AS DOUBLE) * k_types))) AS p
        |  FROM u),
        |f AS (SELECT y, p,
        |   CAST(round(-(y * ln(p) + (1 - y) * ln(1.0 - p)) * 1000000)
        |     AS BIGINT) AS ll_fp,
        |   CAST(round((p - y) * (p - y) * 1000000) AS BIGINT) AS br_fp,
        |   CASE WHEN CAST(p >= 0.5 AS INTEGER) = y THEN 1 ELSE 0 END AS hit
        |  FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n_units,
        | CAST(sum(y) AS BIGINT) AS n_converted,
        | round(CAST(sum(ll_fp) AS DOUBLE) / 1000000 / count(*), 6) AS log_loss,
        | round(CAST(sum(br_fp) AS DOUBLE) / 1000000 / count(*), 6) AS brier,
        | round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS accuracy
        |FROM f""".stripMargin,
    // q236: the q206 encode chained per language; integer counts, two
    // single rounded divisions
    "q236_bpe_fertility" -> {
      val applied = (1 to 6).foldLeft(
        "regexp_replace(x, '(.)', chr(1) || '\\1' || chr(2), 'g')") {
        case (acc, r) =>
          s"replace($acc, chr(1) || coalesce(b$r.a, chr(3)) || chr(2) || " +
            s"chr(1) || coalesce(b$r.b, chr(3)) || chr(2), " +
            s"chr(1) || coalesce(b$r.a, chr(3)) || coalesce(b$r.b, chr(3)) || chr(2))"
      }
      s"""WITH $bpeTrainCtes,
         |enc AS (SELECT doc_id,
         |   CAST(list_sum(list_transform(string_split(text, ' '),
         |     x -> len(x))) AS BIGINT) AS n_chars,
         |   CAST(list_sum(list_transform(string_split(text, ' '),
         |     x -> len($applied) - len(replace($applied, chr(1), ''))))
         |    AS BIGINT) AS n_tokens_bpe
         |  FROM documents LEFT JOIN b1 ON true LEFT JOIN b2 ON true
         |   LEFT JOIN b3 ON true LEFT JOIN b4 ON true
         |   LEFT JOIN b5 ON true LEFT JOIN b6 ON true),
         |j AS (SELECT d.lang, enc.n_chars, enc.n_tokens_bpe,
         |   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words
         |  FROM enc JOIN documents d USING (doc_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_words) AS BIGINT) AS n_words,
         | CAST(sum(n_tokens_bpe) AS BIGINT) AS n_tokens_bpe,
         | round(CAST(sum(n_tokens_bpe) AS DOUBLE) / sum(n_words), 6)
         |  AS fertility,
         | round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tokens_bpe), 6)
         |  AS chars_per_token
         |FROM j GROUP BY 1""".stripMargin
    },
    // q237: pure integer audit over the q99 manifest
    "q237_packing_straddle" ->
      s"""WITH m AS ($shardManifestSql)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | CAST(sum(CASE WHEN start_offset + n_tokens > (bin_id + 1) * 2048
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
         | CAST(sum(CASE WHEN start_offset + n_tokens > (bin_id + 1) * 2048
         |   THEN start_offset + n_tokens - (bin_id + 1) * 2048
         |   ELSE 0 END) AS BIGINT) AS tokens_cut,
         | round(CAST(sum(CASE WHEN start_offset + n_tokens
         |     > (bin_id + 1) * 2048 THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*), 6) AS straddle_frac
         |FROM m GROUP BY 1""".stripMargin,
    // q238: top-(k+1) pinned by (n_chars desc, doc_id); each ln rounded
    // once on the x1e6 grid, summed as integers (the q90 recipe)
    "q238_hill_tail" ->
      """WITH top AS (SELECT n_chars FROM documents
        |  ORDER BY n_chars DESC, doc_id LIMIT 201),
        |a AS (SELECT min(n_chars) AS x_ref,
        |   sum(CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000, 0)
        |     AS BIGINT)) AS lnsum_fp
        |  FROM top)
        |SELECT CAST(200 AS INTEGER) AS k, x_ref,
        | round(CAST(lnsum_fp - 201 * CAST(round(ln(CAST(x_ref AS DOUBLE))
        |     * 1000000, 0) AS BIGINT) AS DOUBLE) / 200000000.0, 6)
        |  AS inv_alpha,
        | round(200000000.0 / CAST(lnsum_fp
        |   - 201 * CAST(round(ln(CAST(x_ref AS DOUBLE)) * 1000000, 0)
        |     AS BIGINT) AS DOUBLE), 6) AS alpha
        |FROM a""".stripMargin,
    // q239: exact-integer Haar pyramid; block indices via bit shifts
    "q239_haar_revenue" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0 FROM daily),
        |x AS (SELECT CAST(day - b.d0 AS BIGINT) AS idx, cents
        |  FROM daily, b),
        |e AS (SELECT CAST(lvl AS INTEGER) AS level, idx, cents
        |  FROM x, range(1, 6) t(lvl))
        |SELECT level,
        | CAST(idx // (CAST(1 AS BIGINT) << level) AS BIGINT) AS block,
        | CAST(sum(cents) AS BIGINT) AS approx,
        | CAST(sum(CASE WHEN (idx // (CAST(1 AS BIGINT) << (level - 1))) % 2 = 0
        |   THEN cents ELSE -cents END) AS BIGINT) AS detail
        |FROM e GROUP BY 1, 2""".stripMargin,
    // q240: distinct (source, 3-gram) sets; the sf-scale oracle can afford
    // the gram self-join the engine's per-gram pair expansion avoids
    "q240_vocab_overlap" ->
      """WITH g AS (SELECT DISTINCT source, s FROM (
        |  SELECT source, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS s
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT a.source AS source1, b.source AS source2,
        |   count(*) AS n_shared
        |  FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source1, source2,
        | CAST(x.n AS BIGINT) AS n1, CAST(y.n AS BIGINT) AS n2,
        | CAST(n_shared AS BIGINT) AS n_shared,
        | round(CAST(n_shared AS DOUBLE) / (x.n + y.n - n_shared), 6)
        |  AS vocab_jaccard
        |FROM inter JOIN sz x ON x.source = inter.source1
        |JOIN sz y ON y.source = inter.source2""".stripMargin,
    // q241: the oracle affords the O(n^2) simhash pair scan (q27's shape);
    // the engine's pigeonhole join finds the identical <=3 candidate set
    "q241_simhash_sweep" ->
      s"""WITH sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |   count(*) AS cnt
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc1, doc2 FROM ($jaccardTail)
         |  WHERE jaccard >= 0.7),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |s AS ($simhashDoc),
         |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |j AS (SELECT p.hamming,
         |   CASE WHEN t.doc1 IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM pairs p LEFT JOIN truth t
         |   ON p.doc1 = t.doc1 AND p.doc2 = t.doc2),
         |g AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
         |   CAST(sum(hit) AS BIGINT) AS n_true FROM j GROUP BY 1)
         |SELECT hamming, n_pairs, n_true,
         | round(CAST(n_true AS DOUBLE) / n_pairs, 6) AS "precision",
         | round(CAST(sum(n_true) OVER (ORDER BY hamming
         |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_truth, 6)
         |  AS cum_recall
         |FROM g, nt""".stripMargin,
    // q242: first-mismatch as a null-skipping MIN over mismatch positions
    // (find-first primitives have version-varying not-found sentinels)
    "q242_neardup_lcp" ->
      s"""WITH mp AS ($minhashPairsSql),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |j AS (SELECT mp.doc1, mp.doc2, a.w AS w1, b.w AS w2,
         |   CAST(len(a.w) AS BIGINT) AS len1, CAST(len(b.w) AS BIGINT) AS len2
         |  FROM mp JOIN t a ON a.doc_id = mp.doc1
         |  JOIN t b ON b.doc_id = mp.doc2),
         |l AS (SELECT doc1, doc2, len1, len2,
         |   coalesce(list_min(list_transform(
         |     range(1, CAST(least(len1, len2) AS BIGINT) + 1),
         |     i -> CASE WHEN w1[i] = w2[i] THEN NULL ELSE i - 1 END)),
         |    least(len1, len2)) AS lcp
         |  FROM j)
         |SELECT doc1, doc2, len1, len2,
         | CAST(lcp AS BIGINT) AS lcp_tokens,
         | round(CAST(lcp AS DOUBLE) / least(len1, len2), 6) AS lcp_frac
         |FROM l""".stripMargin,
    // q243: per n one gram-keyed flag aggregate — the q89 shuffle, no join
    "q243_split_coverage" -> {
      val per = (1 to 4).map { n =>
        val gram = (0 until n).map(j => s"w[i+$j]").mkString("||' '||")
        s"""c$n AS (SELECT gram_h,
           |   max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
           |   max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
           |  FROM (SELECT sp.split,
           |     CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS gram_h
           |    FROM d JOIN sp USING (doc_id),
           |     UNNEST(list_transform(range(1, len(w) - ${n - 2}),
           |       i -> $gram)) AS u$n(g)
           |    WHERE sp.split IN ('train', 'test')) GROUP BY 1),
           |s$n AS (SELECT CAST($n AS INTEGER) AS n,
           |   CAST(count(*) AS BIGINT) AS n_test_grams,
           |   CAST(sum(in_train) AS BIGINT) AS n_covered,
           |   round(CAST(sum(in_train) AS DOUBLE) / count(*), 6) AS coverage
           |  FROM c$n WHERE in_test = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 4).map(n => s"SELECT * FROM s$n")
        .mkString("\nUNION ALL ")
      s"""WITH sp AS (SELECT doc_id,
         |  CASE WHEN d < 900 THEN 'train' WHEN d < 950 THEN 'val'
         |   ELSE 'test' END AS split
         | FROM (SELECT doc_id,
         |   CAST(('0x'||substr(md5('split:'||source||':'
         |     ||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000 AS d
         |  FROM documents)),
         |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |$per
         |$unions""".stripMargin
    },
    // q244: integer counts over the metadata-sized identifier-group table
    "q244_k_anonymity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |tot AS (SELECT sum(n) AS n_customers FROM g)
        |SELECT CAST(k AS INTEGER) AS k,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_risky_groups,
        | CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
        |  AS n_risky_customers,
        | round(CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE)
        |   / n_customers, 6) AS risk_frac
        |FROM g, UNNEST([2, 5, 10, 20]) AS t(k), tot
        |GROUP BY 1, n_customers""".stripMargin,
    // q245: doc2 of the oriented pair list = "has an earlier near-dup"
    "q245_recrawl_redundancy" ->
      s"""WITH mp AS ($minhashPairsSql),
         |dup AS (SELECT DISTINCT doc2 AS doc_id FROM mp),
         |mx AS (SELECT max(doc_id) AS max_id FROM documents)
         |SELECT CAST(least(9, (d.doc_id * 10) // (max_id + 1)) AS INTEGER)
         |  AS decile,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_dup_of_earlier,
         | round(CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS DOUBLE) / count(*), 6) AS dup_frac
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id, mx
         |GROUP BY 1""".stripMargin,
    // q246: both sides project to (doc_id, source, md5) before one full
    // outer join; the status CASE mirrors the engine verbatim
    "q246_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS h
        |  FROM documents WHERE doc_id % 7 <> 1),
        |v2 AS (SELECT doc_id, source,
        |   md5(CASE WHEN doc_id % 11 = 3 THEN text || ' [rev]'
        |     ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 2),
        |j AS (SELECT coalesce(v1.source, v2.source) AS source,
        |   CASE WHEN v1.h IS NULL THEN 'added'
        |    WHEN v2.h IS NULL THEN 'removed'
        |    WHEN v1.h <> v2.h THEN 'changed'
        |    ELSE 'unchanged' END AS st
        |  FROM v1 FULL JOIN v2 USING (doc_id))
        |SELECT source,
        | CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_added,
        | CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_removed,
        | CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_changed,
        | CAST(sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_unchanged
        |FROM j GROUP BY 1""".stripMargin,
    // q247: two-middle-order-statistics medians at x2/x4 integer scale;
    // the flag is pure integer comparison (no division, no doubles)
    "q247_mad_anomalies" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |t AS (SELECT count(*) AS n FROM x),
        |o AS (SELECT x, row_number() OVER (ORDER BY x, day) AS rn FROM x),
        |m AS (SELECT
        |   (SELECT o.x FROM o, t WHERE rn = (n + 1) // 2)
        |   + (SELECT o.x FROM o, t WHERE rn = n // 2 + 1) AS med2),
        |d AS (SELECT x.day, x.x, abs(2 * x.x - med2) AS dev2 FROM x, m),
        |o2 AS (SELECT dev2, row_number() OVER (ORDER BY dev2, day) AS rn
        |  FROM d),
        |m2 AS (SELECT
        |   (SELECT dev2 FROM o2, t WHERE rn = (n + 1) // 2)
        |   + (SELECT dev2 FROM o2, t WHERE rn = n // 2 + 1) AS mad4)
        |SELECT d.day, CAST(d.x AS BIGINT) AS cents,
        | CAST(med2 AS BIGINT) AS med_x2, CAST(mad4 AS BIGINT) AS mad_x4,
        | CAST(dev2 AS BIGINT) AS dev_x2,
        | CAST(CASE WHEN 2 * dev2 > 5 * mad4 THEN 1 ELSE 0 END AS INTEGER)
        |  AS is_anomaly
        |FROM d, m, m2""".stripMargin,
    // q248: Monroe log-odds — counts exact, prior/delta/variance/z in one
    // pinned IEEE tree per row (the q224 ln precedent), ranked per source
    "q248_log_odds_keywords" ->
      """WITH words AS (SELECT source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        |ysw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS y_sw
        |  FROM words GROUP BY 1, 2),
        |ns AS (SELECT source, sum(y_sw) AS n_s FROM ysw GROUP BY 1),
        |yw AS (SELECT w, sum(y_sw) AS y_w FROM ysw GROUP BY 1),
        |tot AS (SELECT sum(y_w) AS n_total FROM yw),
        |sc AS (SELECT ysw.source, ysw.w, y_sw, y_w,
        |   ln((y_sw + 1000.0 * y_w / n_total)
        |      / (n_s + 1000.0 - y_sw - 1000.0 * y_w / n_total))
        |   - ln(((y_w - y_sw) + 1000.0 * y_w / n_total)
        |      / ((n_total - n_s) + 1000.0 - (y_w - y_sw)
        |         - 1000.0 * y_w / n_total)) AS delta,
        |   1000.0 * y_w / n_total AS aw,
        |   y_w - y_sw AS y_rest
        |  FROM ysw JOIN ns USING (source) JOIN yw USING (w) CROSS JOIN tot),
        |z AS (SELECT source, w, y_sw, y_w, delta,
        |   delta / sqrt(1.0 / (y_sw + aw) + 1.0 / (y_rest + aw)) AS z
        |  FROM sc),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |   ORDER BY z DESC, w) AS rnk FROM z)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, w AS word, y_sw,
        | CAST(y_w AS BIGINT) AS y_w,
        | round(delta, 6) AS log_odds, round(z, 6) AS z_score
        |FROM r WHERE rnk <= 5""".stripMargin,
    // q249: each ln rounded once onto the x1e6 grid; the five OLS sums
    // are exact HUGEINT/Decimal(38,0); one double division at the end
    "q249_price_elasticity" ->
      """WITH li AS (SELECT p_brand,
        |   CAST(round(ln(l_extendedprice / l_quantity * 100.0) * 1000000, 0)
        |     AS BIGINT) AS xf,
        |   CAST(round(ln(l_quantity) * 1000000, 0) AS BIGINT) AS yf
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT p_brand, CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(xf AS HUGEINT)) AS sx, sum(CAST(yf AS HUGEINT)) AS sy,
        |   sum(CAST(xf AS HUGEINT) * xf) AS sxx,
        |   sum(CAST(xf AS HUGEINT) * yf) AS sxy
        |  FROM li GROUP BY 1)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_items,
        | round(CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS elasticity
        |FROM a""".stripMargin,
    // q250: the one-row datasheet — counts exact, mean score via x1e6
    // fixed-point sum of the already-6dp-rounded q69 scores
    "q250_dataset_card" ->
      s"""WITH mp AS ($minhashPairsSql),
         |nd AS (SELECT count(*) AS n_neardup_docs FROM (
         |  SELECT DISTINCT doc_id FROM (
         |   SELECT doc1 AS doc_id FROM mp
         |   UNION ALL SELECT doc2 AS doc_id FROM mp))),
         |kp AS (SELECT sum(keep) AS n_kept FROM ($curationSql)),
         |base AS (SELECT count(*) AS n_docs,
         |   sum(CAST(len(string_split(d.text, ' ')) AS BIGINT)) AS n_tokens,
         |   count(DISTINCT d.source) AS n_sources,
         |   count(DISTINCT d.lang) AS n_langs,
         |   sum(CAST(round(m.model_score * 1000000, 0) AS BIGINT))
         |    AS score_fp
         |  FROM documents d JOIN ($modelScoreSql) m USING (doc_id))
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(n_sources AS BIGINT) AS n_sources,
         | CAST(n_langs AS BIGINT) AS n_langs,
         | CAST(n_neardup_docs AS BIGINT) AS n_neardup_docs,
         | CAST(n_kept AS BIGINT) AS n_kept,
         | round(CAST(n_neardup_docs AS DOUBLE) / n_docs, 6)
         |  AS neardup_frac,
         | round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS keep_frac,
         | round(CAST(score_fp AS DOUBLE) / 1000000 / n_docs, 6)
         |  AS mean_model_score
         |FROM base, nd, kp""".stripMargin,
    // q251: all-integer gate — trend at x31, seasonal as num/den, the
    // residual numerator over the common 31*den denominator (a 6dp double
    // at 1e7 magnitude sits on a 0.002-wide cross-engine rounding band)
    "q251_seasonal_decompose" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |c AS (SELECT day + CAST(k AS INTEGER) AS day,
        |   sum(x) AS trend_fp, count(*) AS nw
        |  FROM x, range(-15, 16) t(k)
        |  GROUP BY 1),
        |f AS (SELECT x.day, x.x,
        |   CAST(isodow(x.day) AS INTEGER) AS iso_dow,
        |   CAST(c.trend_fp AS BIGINT) AS trend_fp,
        |   31 * x.x - CAST(c.trend_fp AS BIGINT) AS det_fp
        |  FROM x JOIN c ON x.day = c.day WHERE c.nw = 31),
        |s AS (SELECT iso_dow, CAST(sum(det_fp) AS BIGINT) AS seas_num,
        |   CAST(count(*) AS BIGINT) AS seas_den
        |  FROM f GROUP BY 1)
        |SELECT f.day, CAST(f.x AS BIGINT) AS cents, f.iso_dow, f.trend_fp,
        | s.seas_num, s.seas_den,
        | CAST(f.det_fp * s.seas_den - s.seas_num AS BIGINT) AS resid_num
        |FROM f JOIN s USING (iso_dow)""".stripMargin,
    // q252: one lag pass; per gap the session id is a cumulative
    // new-session flag sum and the rollup is (user, sid)-keyed
    "q252_gap_sweep" -> {
      val per = Seq(900, 1800, 3600).map { g =>
        s"""st$g AS (SELECT CAST($g AS INTEGER) AS gap_sec,
           |   CAST(count(*) AS BIGINT) AS n_sessions,
           |   CAST(sum(sz) AS BIGINT) AS n_events,
           |   CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_singletons,
           |   round(CAST(sum(sz) AS DOUBLE) / count(*), 6) AS mean_events
           |  FROM (SELECT user_id, sid, count(*) AS sz FROM (
           |    SELECT user_id, sum(CASE WHEN gap_us IS NULL
           |       OR gap_us > CAST($g AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY ts, event_id
           |       ROWS UNBOUNDED PRECEDING) AS sid
           |    FROM lagged) GROUP BY 1, 2))""".stripMargin
      }.mkString(",\n")
      s"""WITH lagged AS (SELECT user_id, ts, event_id,
         |   epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
         |  FROM events),
         |$per
         |SELECT * FROM st900
         |UNION ALL SELECT * FROM st1800
         |UNION ALL SELECT * FROM st3600""".stripMargin
    },
    // q253: the q103 KL recipe with the ingest decile as the source
    "q253_ingest_drift" ->
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |dd AS (SELECT 'd' || CAST(least(9, (doc_id * 10) // (max_id + 1))
        |    AS VARCHAR) AS source, text FROM documents, mx),
        |tok AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |  FROM dd),
        |sw AS (SELECT source, word, count(*) AS c_sw FROM tok GROUP BY 1, 2),
        |cw AS (SELECT word, count(*) AS c_w FROM tok GROUP BY 1),
        |st AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
        |tt AS (SELECT count(*) AS n_c FROM tok),
        |terms AS (SELECT sw.source, st.n_s,
        |   round((CAST(c_sw AS DOUBLE) / n_s)
        |     * ln((CAST(c_sw AS DOUBLE) / n_s)
        |       / (CAST(c_w AS DOUBLE) / n_c)), 6) AS term
        |  FROM sw JOIN cw USING (word) JOIN st ON sw.source = st.source
        |  CROSS JOIN tt)
        |SELECT source AS decile, CAST(min(n_s) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_words,
        | round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
        |   / 1000000, 6) AS kl_divergence
        |FROM terms GROUP BY 1""".stripMargin,
    // q254: q228's arm rollup into the pinned-quantile MDE formula
    "q254_ab_power" ->
      """WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS conv
        |  FROM events GROUP BY 1, 2),
        |arms AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm,
        |   CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x
        |  FROM u GROUP BY 1),
        |wide AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |   max(CASE WHEN arm = 0 THEN x END) AS conv_a,
        |   max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |   max(CASE WHEN arm = 1 THEN x END) AS conv_b FROM arms),
        |c AS (SELECT *, CAST(conv_a + conv_b AS DOUBLE)
        |   / CAST(n_a + n_b AS DOUBLE) AS pool FROM wide)
        |SELECT n_a, conv_a, n_b, conv_b,
        | round(pool, 6) AS p_pooled,
        | round(2.801585 * sqrt(pool * (1.0 - pool)
        |   * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |  AS mde_abs,
        | round(2.801585 * sqrt(pool * (1.0 - pool)
        |   * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  / pool, 6) AS mde_rel
        |FROM c""".stripMargin,
    // q255: surprisals rounded once on the x1e6 grid, fixed-point user
    // sums (the q71 recipe); the model is the q140 count ratio
    "q255_user_perplexity" ->
      """WITH e AS (SELECT user_id, event_type, lead(event_type, 1) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |tr AS (SELECT user_id, event_type AS from_type,
        |   next_type AS to_type FROM e WHERE next_type IS NOT NULL),
        |counts AS (SELECT from_type, to_type, count(*) AS n_ft
        |  FROM tr GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n_ft) AS n_from FROM counts
        |  GROUP BY 1),
        |model AS (SELECT counts.from_type, counts.to_type,
        |   CAST(round(-ln(CAST(n_ft AS DOUBLE) / n_from) * 1000000, 0)
        |     AS BIGINT) AS s_fp
        |  FROM counts JOIN tot USING (from_type))
        |SELECT tr.user_id, CAST(count(*) AS BIGINT) AS n_transitions,
        | round(CAST(sum(s_fp) AS DOUBLE) / 1000000 / count(*), 6)
        |  AS mean_surprisal
        |FROM tr JOIN model USING (from_type, to_type)
        |GROUP BY 1""".stripMargin,
    // q256: decile k = smallest cents with 10*cum >= k*n — all integers
    "q256_value_deciles" -> {
      val decs = (1 to 9).map(k =>
        s"CAST(min(CASE WHEN cum * 10 >= n * $k THEN cents END) AS BIGINT) AS p${k * 10}")
        .mkString(",\n ")
      s"""WITH grain AS (SELECT event_type,
         |   CAST(round(value * 100, 0) AS BIGINT) AS cents,
         |   count(*) AS c FROM events GROUP BY 1, 2),
         |cum AS (SELECT event_type, cents,
         |   sum(c) OVER (PARTITION BY event_type ORDER BY cents
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |   sum(c) OVER (PARTITION BY event_type) AS n FROM grain)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
         | $decs
         |FROM cum GROUP BY 1""".stripMargin
    },
    // q257: the q103 fixed-point term recipe for MI and both entropies
    "q257_dow_mutual_info" ->
      """WITH cells AS (SELECT event_type, isodow(ts) AS iso_dow,
        |   count(*) AS nxy FROM events GROUP BY 1, 2),
        |mx AS (SELECT event_type, sum(nxy) AS nx FROM cells GROUP BY 1),
        |my AS (SELECT iso_dow, sum(nxy) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT sum(nxy) AS n FROM cells),
        |mi AS (SELECT round(CAST(sum(CAST(round(
        |    (nxy / CAST(n AS DOUBLE))
        |    * ln(CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE))
        |   * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS mi_nats
        |  FROM cells JOIN mx USING (event_type) JOIN my USING (iso_dow)
        |  CROSS JOIN tot),
        |hx AS (SELECT round(CAST(sum(CAST(round(
        |    (nx / CAST(n AS DOUBLE)) * -ln(nx / CAST(n AS DOUBLE))
        |   * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS h_type
        |  FROM mx CROSS JOIN tot),
        |hy AS (SELECT round(CAST(sum(CAST(round(
        |    (ny / CAST(n AS DOUBLE)) * -ln(ny / CAST(n AS DOUBLE))
        |   * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS h_dow
        |  FROM my CROSS JOIN tot)
        |SELECT CAST(n AS BIGINT) AS n_events, mi_nats, h_type, h_dow
        |FROM tot, mi, hx, hy""".stripMargin,
    // q258: integer comparisons on the x31 trend; neighbors by date join
    "q258_trend_peaks" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |c AS (SELECT day + CAST(k AS INTEGER) AS day,
        |   CAST(sum(x) AS BIGINT) AS t, count(*) AS nw
        |  FROM x, range(-15, 16) t(k) GROUP BY 1),
        |tr AS (SELECT day, t FROM c WHERE nw = 31)
        |SELECT cur.day, cur.t AS trend_fp,
        | p.t AS prev_fp, nx.t AS next_fp
        |FROM tr cur
        |JOIN tr p ON p.day = cur.day - 1
        |JOIN tr nx ON nx.day = cur.day + 1
        |WHERE cur.t > p.t AND cur.t > nx.t""".stripMargin,
    // q259: calendar-bounded lag grain; cumulative share over that grain
    "q259_ship_lag" ->
      """WITH lags AS (SELECT
        |   CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
        |     AS BIGINT) AS lag_days,
        |   count(*) AS n_lines
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |c AS (SELECT lag_days, n_lines,
        |   sum(n_lines) OVER (ORDER BY lag_days
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |   sum(n_lines) OVER () AS n FROM lags)
        |SELECT lag_days, CAST(n_lines AS BIGINT) AS n_lines,
        | round(CAST(n_lines AS DOUBLE) / n, 6) AS share,
        | round(CAST(cum AS DOUBLE) / n, 6) AS cum_share
        |FROM c""".stripMargin,
    // q260: 0-based position deciles (w[i] is 1-based, so i-1), the
    // q103 fixed-point entropy recipe per bucket
    "q260_positional_entropy" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT CAST(s.b AS INTEGER) AS bucket, s.wd AS word
        |  FROM d, UNNEST(list_transform(range(1, len(w) + 1),
        |    i -> {'b': least(9, ((i - 1) * 10) // len(w)),
        |          'wd': w[i]})) AS u(s)),
        |bw AS (SELECT bucket, word, count(*) AS c FROM t GROUP BY 1, 2),
        |bt AS (SELECT bucket, sum(c) AS n_b FROM bw GROUP BY 1)
        |SELECT bw.bucket, CAST(min(n_b) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_words,
        | round(CAST(sum(CAST(round(
        |    (c / CAST(n_b AS DOUBLE)) * -ln(c / CAST(n_b AS DOUBLE))
        |   * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS entropy
        |FROM bw JOIN bt USING (bucket)
        |GROUP BY 1""".stripMargin,
    // q261: declared as a theta join, planned by HammingJoinRewrite;
    // the sketch is masked to 31 bits (Spark's bit_count sign-extends a
    // negative INT xor) and the oracle replays the all-pairs scan on the
    // same masked sketch
    "q261_hamming_join_rewrite" ->
      s"""WITH s0 AS ($simhashDoc),
         |s AS (SELECT doc_id, simhash & 2147483647 AS h FROM s0)
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         | CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin,
    // q262: the q147 band/segment CASE chains run once per half, each
    // half anchoring on its own max date; calendar midpoint split
    "q262_rfm_migration" -> {
      def segOf(src: String, alias: String) =
        s"""${alias}b AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_date,
           |  CAST(count(*) AS BIGINT) AS frequency,
           |  round(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
           |    THEN value ELSE 0.0 END), 2) AS monetary
           | FROM $src GROUP BY 1),
           |${alias}a AS (SELECT max(last_date) AS anchor_date FROM ${alias}b),
           |$alias AS (SELECT user_id,
           |  CASE WHEN (CASE WHEN date_diff('day', last_date, anchor_date) <= 7 THEN 3
           |        WHEN date_diff('day', last_date, anchor_date) <= 30 THEN 2 ELSE 1 END) = 3
           |    AND (CASE WHEN frequency >= 50 THEN 3 WHEN frequency >= 10 THEN 2 ELSE 1 END) = 3
           |    AND (CASE WHEN monetary >= 500.0 THEN 3 WHEN monetary >= 50.0 THEN 2 ELSE 1 END) = 3
           |   THEN 'champion'
           |   WHEN (CASE WHEN date_diff('day', last_date, anchor_date) <= 7 THEN 3
           |        WHEN date_diff('day', last_date, anchor_date) <= 30 THEN 2 ELSE 1 END) >= 2
           |    AND (CASE WHEN frequency >= 50 THEN 3 WHEN frequency >= 10 THEN 2 ELSE 1 END) >= 2
           |   THEN 'loyal'
           |   WHEN (CASE WHEN date_diff('day', last_date, anchor_date) <= 7 THEN 3
           |        WHEN date_diff('day', last_date, anchor_date) <= 30 THEN 2 ELSE 1 END) = 1
           |    AND (CASE WHEN frequency >= 50 THEN 3 WHEN frequency >= 10 THEN 2 ELSE 1 END) >= 2
           |   THEN 'at_risk'
           |   WHEN (CASE WHEN date_diff('day', last_date, anchor_date) <= 7 THEN 3
           |        WHEN date_diff('day', last_date, anchor_date) <= 30 THEN 2 ELSE 1 END) >= 2
           |    AND (CASE WHEN frequency >= 50 THEN 3 WHEN frequency >= 10 THEN 2 ELSE 1 END) = 1
           |   THEN 'new'
           |   ELSE 'hibernating' END AS segment
           | FROM ${alias}b CROSS JOIN ${alias}a)""".stripMargin
      s"""WITH bnd AS (SELECT min(CAST(ts AS DATE)) AS d0,
         |   max(CAST(ts AS DATE)) AS d1 FROM events),
         |m AS (SELECT d0 + CAST((d1 - d0) // 2 AS INTEGER) AS mid FROM bnd),
         |e1 AS (SELECT * FROM events, m WHERE CAST(ts AS DATE) < mid),
         |e2 AS (SELECT * FROM events, m WHERE CAST(ts AS DATE) >= mid),
         |${segOf("e1", "s1")},
         |${segOf("e2", "s2")}
         |SELECT coalesce(s1.segment, 'absent') AS seg_from,
         | coalesce(s2.segment, 'absent') AS seg_to,
         | CAST(count(*) AS BIGINT) AS n_users
         |FROM s1 FULL JOIN s2 USING (user_id)
         |GROUP BY 1, 2""".stripMargin
    },
    // q263: positional chunk hashes; shared = hash count >= 2
    "q263_head_tail_boilerplate" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (SELECT doc_id, source,
        |   md5(array_to_string(w[1:8], ' ')) AS head_h,
        |   md5(array_to_string(w[greatest(len(w) - 7, 1):len(w)], ' '))
        |    AS tail_h
        |  FROM d),
        |hs AS (SELECT head_h FROM h GROUP BY 1 HAVING count(*) >= 2),
        |ts AS (SELECT tail_h FROM h GROUP BY 1 HAVING count(*) >= 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN hs.head_h IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_shared_head,
        | CAST(sum(CASE WHEN ts.tail_h IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_shared_tail,
        | round(CAST(sum(CASE WHEN hs.head_h IS NOT NULL THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 6) AS head_frac,
        | round(CAST(sum(CASE WHEN ts.tail_h IS NOT NULL THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 6) AS tail_frac
        |FROM h LEFT JOIN hs USING (head_h) LEFT JOIN ts USING (tail_h)
        |GROUP BY 1""".stripMargin,
    // q264: <= 168 cells; shares are single rounded divisions
    "q264_activity_heatmap" ->
      """WITH c AS (SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow,
        |   CAST(hour(ts) AS INTEGER) AS hour, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT sum(n_events) AS n_all FROM c),
        |d AS (SELECT iso_dow, sum(n_events) AS n_day FROM c GROUP BY 1)
        |SELECT c.iso_dow, c.hour, CAST(c.n_events AS BIGINT) AS n_events,
        | round(CAST(c.n_events AS DOUBLE) / n_all, 6) AS share_of_week,
        | round(CAST(c.n_events AS DOUBLE) / n_day, 6) AS share_of_day
        |FROM c JOIN d USING (iso_dow) CROSS JOIN t""".stripMargin,
    // q265: the shared 30-min sessionization; integer hour floors
    "q265_session_return_gaps" -> {
      s"""WITH s AS (${SparkEntry.gapSessionsSql}),
         |b AS (SELECT user_id, sid, min(epoch_us(ts)) AS start_us,
         |   max(epoch_us(ts)) AS end_us
         |  FROM s GROUP BY 1, 2),
         |g AS (SELECT (lead(start_us, 1) OVER (PARTITION BY user_id
         |     ORDER BY start_us) - end_us) // 3600000000 AS gap_hours
         |  FROM b),
         |hg AS (SELECT gap_hours, count(*) AS n_gaps FROM g
         |  WHERE gap_hours IS NOT NULL GROUP BY 1),
         |c AS (SELECT gap_hours, n_gaps,
         |   sum(n_gaps) OVER (ORDER BY gap_hours
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |   sum(n_gaps) OVER () AS n FROM hg)
         |SELECT CAST(gap_hours AS BIGINT) AS gap_hours,
         | CAST(n_gaps AS BIGINT) AS n_gaps,
         | round(CAST(n_gaps AS DOUBLE) / n, 6) AS share,
         | round(CAST(cum AS DOUBLE) / n, 6) AS cum_share
         |FROM c""".stripMargin
    },
    // q266: each component value in one pinned tree from q251's exact
    // integers, rounded onto the x100 grid; variance sums in HUGEINT
    "q266_seasonal_strength" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |c AS (SELECT day + CAST(k AS INTEGER) AS day,
        |   sum(x) AS trend_fp, count(*) AS nw
        |  FROM x, range(-15, 16) t(k) GROUP BY 1),
        |f AS (SELECT x.day, x.x,
        |   CAST(isodow(x.day) AS INTEGER) AS iso_dow,
        |   CAST(c.trend_fp AS BIGINT) AS trend_fp,
        |   31 * x.x - CAST(c.trend_fp AS BIGINT) AS det_fp
        |  FROM x JOIN c ON x.day = c.day WHERE c.nw = 31),
        |s AS (SELECT iso_dow, CAST(sum(det_fp) AS BIGINT) AS seas_num,
        |   CAST(count(*) AS BIGINT) AS seas_den
        |  FROM f GROUP BY 1),
        |v AS (SELECT
        |   CAST(round(CAST(f.det_fp AS DOUBLE) / 31.0 * 100, 0)
        |     AS BIGINT) AS dfp,
        |   CAST(round(CAST(f.det_fp * s.seas_den - s.seas_num AS DOUBLE)
        |     / (31.0 * s.seas_den) * 100, 0) AS BIGINT) AS rfp,
        |   CAST(round((f.x - CAST(s.seas_num AS DOUBLE)
        |     / (31.0 * s.seas_den)) * 100, 0) AS BIGINT) AS tfp
        |  FROM f JOIN s USING (iso_dow)),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(dfp AS HUGEINT)) AS sd,
        |   sum(CAST(dfp AS HUGEINT) * dfp) AS sdd,
        |   sum(CAST(rfp AS HUGEINT)) AS sr,
        |   sum(CAST(rfp AS HUGEINT) * rfp) AS srr,
        |   sum(CAST(tfp AS HUGEINT)) AS ss,
        |   sum(CAST(tfp AS HUGEINT) * tfp) AS sss
        |  FROM v)
        |SELECT CAST(n AS BIGINT) AS n_days,
        | round(greatest(0.0, 1.0
        |   - (CAST(srr AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
        |     / (CAST(sdd AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6)
        |  AS seasonal_strength,
        | round(greatest(0.0, 1.0
        |   - (CAST(srr AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
        |     / (CAST(sss AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))), 6)
        |  AS trend_strength
        |FROM a""".stripMargin,
    // q267: the q146 entropy, q255 perplexity and q123 replay screens
    // composed into one verdict; pinned thresholds, missing signals
    // don't flag
    "q267_user_curation" ->
      s"""WITH ut AS (SELECT user_id, event_type, count(*) AS c
         | FROM events GROUP BY 1, 2),
         |tot AS (SELECT user_id, sum(c) AS n_events FROM ut GROUP BY 1),
         |t AS (SELECT ut.user_id, tot.n_events,
         |  round(-(CAST(c AS DOUBLE) / n_events)
         |    * ln(CAST(c AS DOUBLE) / n_events), 6) AS term
         | FROM ut JOIN tot USING (user_id)),
         |h AS (SELECT user_id, CAST(min(n_events) AS BIGINT) AS n_events,
         |  round(CAST(sum(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
         |    / 1000000, 6) AS entropy
         | FROM t GROUP BY 1),
         |e AS (SELECT user_id, event_type, lead(event_type, 1) OVER (
         |   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         |  FROM events),
         |tr AS (SELECT user_id, event_type AS from_type,
         |   next_type AS to_type FROM e WHERE next_type IS NOT NULL),
         |counts AS (SELECT from_type, to_type, count(*) AS n_ft
         |  FROM tr GROUP BY 1, 2),
         |totm AS (SELECT from_type, sum(n_ft) AS n_from FROM counts
         |  GROUP BY 1),
         |model AS (SELECT counts.from_type, counts.to_type,
         |   CAST(round(-ln(CAST(n_ft AS DOUBLE) / n_from) * 1000000, 0)
         |     AS BIGINT) AS s_fp
         |  FROM counts JOIN totm USING (from_type)),
         |p AS (SELECT tr.user_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |  round(CAST(sum(s_fp) AS DOUBLE) / 1000000 / count(*), 6)
         |   AS mean_surprisal
         | FROM tr JOIN model USING (from_type, to_type) GROUP BY 1),
         |sq AS (SELECT user_id,
         |   time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS w,
         |   md5(array_to_string(list_slice(list(event_type ORDER BY event_id), 1, 100), ',')) AS seq_hash
         |  FROM events GROUP BY 1, 2),
         |g AS (SELECT seq_hash, count(*) AS ns FROM sq GROUP BY 1),
         |r AS (SELECT sq.user_id, CAST(count(*) AS BIGINT) AS n_sessions,
         |   round(CAST(sum(CASE WHEN g.ns > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |     / count(*), 6) AS replay_frac
         |  FROM sq JOIN g USING (seq_hash) GROUP BY 1)
         |SELECT h.user_id, h.n_events, h.entropy,
         | p.mean_surprisal, r.replay_frac,
         | CAST(h.n_events >= 20 AND h.entropy < 0.5 AS INTEGER)
         |  AS flag_entropy,
         | coalesce(CAST((p.n_transitions >= 20 AND p.mean_surprisal < 1.0)
         |   OR p.mean_surprisal > 2.5 AS INTEGER), 0) AS flag_perplexity,
         | coalesce(CAST(r.n_sessions >= 5 AND r.replay_frac >= 0.5
         |  AS INTEGER), 0) AS flag_replay,
         | 1 - greatest(
         |   CAST(h.n_events >= 20 AND h.entropy < 0.5 AS INTEGER),
         |   coalesce(CAST((p.n_transitions >= 20 AND p.mean_surprisal < 1.0)
         |     OR p.mean_surprisal > 2.5 AS INTEGER), 0),
         |   coalesce(CAST(r.n_sessions >= 5 AND r.replay_frac >= 0.5
         |    AS INTEGER), 0)) AS keep
         |FROM h LEFT JOIN p USING (user_id) LEFT JOIN r USING (user_id)""".stripMargin,
    // q268: <= 11 bands; quantity sums exact, revenue the 2-dp money
    // class, the share divides the two ROUNDED revenues once
    "q268_discount_bands" ->
      """WITH b AS (SELECT CAST(round(l_discount * 100, 0) AS INTEGER)
        |   AS discount_pct,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        | FROM lineitem GROUP BY 1),
        |t AS (SELECT round(sum(revenue), 2) AS rev_all FROM b)
        |SELECT discount_pct, n_lines,
        | round(CAST(qty AS DOUBLE) / n_lines, 6) AS avg_qty,
        | revenue,
        | round(revenue / rev_all, 6) AS rev_share
        |FROM b, t""".stripMargin,
    // q269: q222's checkpoints through the q249 fixed-point OLS recipe
    "q269_heaps_projection" ->
      """WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |d AS (SELECT CAST(doc_id * 10 // n AS INTEGER) AS decile, text
        |  FROM documents CROSS JOIN n),
        |tp AS (SELECT decile,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |ft AS (SELECT w, min(decile) AS decile FROM (
        |   SELECT decile, unnest(string_split(text, ' ')) AS w FROM d)
        |  GROUP BY 1),
        |ty AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_new_types
        |  FROM ft GROUP BY 1),
        |c AS (SELECT tp.decile,
        |   CAST(sum(tp.n_tokens) OVER win AS BIGINT) AS n_tokens_cum,
        |   CAST(sum(coalesce(ty.n_new_types, 0)) OVER win AS BIGINT)
        |    AS n_types_cum
        |  FROM tp LEFT JOIN ty USING (decile)
        |  WINDOW win AS (ORDER BY tp.decile ROWS UNBOUNDED PRECEDING)),
        |pts AS (SELECT
        |   CAST(round(ln(CAST(n_tokens_cum AS DOUBLE)) * 1000000, 0)
        |     AS BIGINT) AS xf,
        |   CAST(round(ln(CAST(n_types_cum AS DOUBLE)) * 1000000, 0)
        |     AS BIGINT) AS yf,
        |   n_tokens_cum FROM c),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(xf) AS BIGINT) AS sx, CAST(sum(yf) AS BIGINT) AS sy,
        |   CAST(sum(xf * xf) AS BIGINT) AS sxx,
        |   CAST(sum(xf * yf) AS BIGINT) AS sxy,
        |   max(n_tokens_cum) AS n_tokens FROM pts)
        |SELECT CAST(n AS INTEGER) AS n_checkpoints,
        | CAST(n_tokens AS BIGINT) AS n_tokens,
        | round(CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta,
        | round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   / CAST(n AS DOUBLE) / 1000000.0, 6) AS ln_k,
        | round(exp((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   / CAST(n AS DOUBLE) / 1000000.0
        |  + CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE)
        |    * ln(10.0 * CAST(n_tokens AS DOUBLE))), 2)
        |  AS projected_vocab_10x
        |FROM a""".stripMargin,
    // q270: floor-log2 via binary-string length (integer-exact, no libm)
    "q270_revenue_concentration" ->
      """WITH cust AS (SELECT o_custkey,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT CAST(length(bin(cents)) - 1 AS INTEGER) AS band,
        |   CAST(count(*) AS BIGINT) AS n_customers,
        |   CAST(sum(cents) AS BIGINT) AS band_cents
        |  FROM cust GROUP BY 1),
        |c AS (SELECT *, sum(band_cents) OVER (ORDER BY band DESC
        |    ROWS UNBOUNDED PRECEDING) AS cum_cents,
        |   sum(band_cents) OVER () AS all_cents,
        |   sum(n_customers) OVER () AS all_cust FROM b)
        |SELECT band, n_customers, band_cents,
        | round(CAST(n_customers AS DOUBLE) / all_cust, 6)
        |  AS customer_share,
        | round(CAST(band_cents AS DOUBLE) / all_cents, 6)
        |  AS revenue_share,
        | round(CAST(cum_cents AS DOUBLE) / all_cents, 6)
        |  AS cum_revenue_share_from_top
        |FROM c""".stripMargin,
    // q271: both clusterings from the ONE verified pair list (the 0.8
    // world is the 0.7 candidates re-thresholded — the same rows the
    // engine's minhashPairs(0.8) verifies); exact C(n,2) sums in HUGEINT
    "q271_clustering_agreement" ->
      s"""WITH RECURSIVE
         |mp AS ($minhashPairsSql),
         |ea AS (SELECT doc1 AS src, doc2 AS dst FROM mp
         |       UNION ALL SELECT doc2, doc1 FROM mp),
         |ra(doc_id, component) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.component FROM ra r JOIN ea e ON e.src = r.doc_id),
         |ca AS (SELECT doc_id, min(component) AS comp_a FROM ra GROUP BY 1),
         |pb AS (SELECT doc1, doc2 FROM mp WHERE jaccard >= 0.8),
         |eb AS (SELECT doc1 AS src, doc2 AS dst FROM pb
         |       UNION ALL SELECT doc2, doc1 FROM pb),
         |rb(doc_id, component) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.component FROM rb r JOIN eb e ON e.src = r.doc_id),
         |cb AS (SELECT doc_id, min(component) AS comp_b FROM rb GROUP BY 1),
         |j AS (SELECT ca.doc_id, comp_a, comp_b FROM ca JOIN cb USING (doc_id)),
         |cells AS (SELECT comp_a, comp_b, count(*) AS n FROM j GROUP BY 1, 2),
         |sboth AS (SELECT sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS s_both
         |  FROM cells),
         |saa AS (SELECT sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS s_a FROM (
         |  SELECT comp_a, count(*) AS n FROM j GROUP BY 1)),
         |sbb AS (SELECT sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS s_b FROM (
         |  SELECT comp_b, count(*) AS n FROM j GROUP BY 1)),
         |nn AS (SELECT count(*) AS n_docs,
         |   CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 AS total FROM j)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         | CAST(s_both AS BIGINT) AS pairs_both,
         | CAST(s_a - s_both AS BIGINT) AS pairs_a_only,
         | CAST(s_b - s_both AS BIGINT) AS pairs_b_only,
         | round(CAST(s_both + (total - s_a - s_b + s_both) AS DOUBLE)
         |   / CAST(total AS DOUBLE), 6) AS rand_index,
         | round((CAST(s_both AS DOUBLE)
         |   - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
         |     / CAST(total AS DOUBLE))
         |  / ((CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) / 2.0
         |   - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
         |     / CAST(total AS DOUBLE)), 6) AS adjusted_rand
         |FROM nn, sboth, saa, sbb""".stripMargin,
    // q272: the q126 candidate+exact chain joined to token lengths
    "q272_lsh_precision_by_length" ->
      s"""WITH sig AS (
         |  SELECT doc_id, [${(0 until 16).map(mhExpr).mkString(", ")}] AS sig
         |  FROM ($baseHashes)),
         |banded AS (SELECT doc_id, b AS band,
         |   md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bkey
         |  FROM sig, UNNEST([0,1,2,3]) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM banded a JOIN banded b
         |   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT doc1, doc2, count(*) AS cnt
         |  FROM cand
         |  JOIN sh s1 ON s1.doc_id = doc1
         |  JOIN sh s2 ON s2.doc_id = doc2 AND s1.shingle = s2.shingle
         |  GROUP BY 1,2),
         |ex AS (SELECT inter.doc1, inter.doc2,
         |   round(cnt*1.0/(x.n + y.n - cnt), 6) AS j
         |  FROM inter JOIN sizes x ON inter.doc1 = x.doc_id
         |  JOIN sizes y ON inter.doc2 = y.doc_id),
         |e AS (SELECT cand.doc1, cand.doc2,
         |   coalesce(ex.j, CAST(0.0 AS DOUBLE)) AS jaccard
         |  FROM cand LEFT JOIN ex
         |    ON cand.doc1 = ex.doc1 AND cand.doc2 = ex.doc2),
         |lens AS (SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS len
         |  FROM documents),
         |g AS (SELECT
         |   CAST(least(9, least(l1.len, l2.len) // 50) AS INTEGER)
         |    AS len_band,
         |   e.jaccard
         |  FROM e JOIN lens l1 ON l1.doc_id = e.doc1
         |  JOIN lens l2 ON l2.doc_id = e.doc2)
         |SELECT len_band, CAST(count(*) AS BIGINT) AS n_candidates,
         | CAST(sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_true,
         | round(CAST(sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END)
         |   AS DOUBLE) / count(*), 6) AS "precision"
         |FROM g GROUP BY 1""".stripMargin,
    // q273: the shared 30-min sessionizer; minute buckets, per-session max
    "q273_session_peak_rate" -> {
      s"""WITH s AS (${SparkEntry.gapSessionsSql}),
         |m AS (SELECT user_id, sid,
         |   epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS minute,
         |   count(*) AS c
         |  FROM s GROUP BY 1, 2, 3),
         |p AS (SELECT user_id, sid, max(c) AS peak_per_min FROM m
         |  GROUP BY 1, 2),
         |h AS (SELECT peak_per_min, count(*) AS n_sessions FROM p
         |  GROUP BY 1),
         |t AS (SELECT sum(n_sessions) AS n FROM h)
         |SELECT CAST(peak_per_min AS BIGINT) AS peak_per_min,
         | CAST(n_sessions AS BIGINT) AS n_sessions,
         | round(CAST(n_sessions AS DOUBLE) / n, 6) AS share
         |FROM h, t""".stripMargin
    },
    // q274: the six-table star; revenue is the 2-dp money-sum class
    "q274_local_supplier_volume" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_lines,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY 1, 2""".stripMargin,
    // q275: HHI numerator/denominator in exact HUGEINT; one division each
    "q275_supplier_hhi" ->
      """WITH bs AS (SELECT l_suppkey,
        |   sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |     AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT n_name, cents FROM bs
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        | CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS total_cents,
        | round(CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
        |   / (CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
        |      * CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)), 6) AS hhi,
        | round(CAST(max(cents) AS DOUBLE)
        |   / CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE), 6)
        |  AS top_supplier_share
        |FROM j GROUP BY 1""".stripMargin,
    // q276: degrees from the doubled pair stream; bounded degree grain
    "q276_dedup_degrees" ->
      s"""WITH mp AS ($minhashPairsSql),
         |deg AS (SELECT doc_id, count(*) AS degree FROM (
         |  SELECT doc1 AS doc_id FROM mp
         |  UNION ALL SELECT doc2 AS doc_id FROM mp) GROUP BY 1),
         |h AS (SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1),
         |t AS (SELECT sum(n_docs) AS n FROM h)
         |SELECT CAST(degree AS BIGINT) AS degree,
         | CAST(n_docs AS BIGINT) AS n_docs,
         | round(CAST(n_docs AS DOUBLE) / n, 6) AS share
         |FROM h, t""".stripMargin,
    // q277: in-row array-order norm fold (the q29 precedent); 0.25 bands
    "q277_norm_bands" ->
      """WITH c AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |b AS (SELECT label,
        |   CAST(floor(sqrt(list_sum(list_transform(v, x -> x * x)))
        |     / 0.25) AS INTEGER) AS norm_band FROM c),
        |g AS (SELECT label, norm_band, count(*) AS n_vecs FROM b
        |  GROUP BY 1, 2),
        |t AS (SELECT label, sum(n_vecs) AS n_label FROM g GROUP BY 1)
        |SELECT g.label, g.norm_band, CAST(n_vecs AS BIGINT) AS n_vecs,
        | round(CAST(n_vecs AS DOUBLE) / n_label, 6) AS share_of_label
        |FROM g JOIN t USING (label)""".stripMargin,
    // q278: <= 15 cells; revenue the 2-dp money class
    "q278_order_priority_mix" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus,
        |   CAST(count(*) AS BIGINT) AS n_orders,
        |   round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT sum(n_orders) AS n FROM c)
        |SELECT o_orderpriority, o_orderstatus, n_orders, revenue,
        | round(CAST(n_orders AS DOUBLE) / n, 6) AS order_share
        |FROM c, t""".stripMargin,
    // q279: the q256 exact-decile recipe over the bounded cents grain
    "q279_acctbal_deciles" -> {
      val decs = (1 to 9).map(k =>
        s"CAST(min(CASE WHEN cum * 10 >= n * $k THEN cents END) AS BIGINT) AS p${k * 10}")
        .mkString(",\n ")
      s"""WITH u AS (
         |  SELECT 'customer' AS entity,
         |   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents FROM customer
         |  UNION ALL
         |  SELECT 'supplier' AS entity,
         |   CAST(round(s_acctbal * 100, 0) AS BIGINT) AS cents FROM supplier),
         |grain AS (SELECT entity, cents, count(*) AS c FROM u GROUP BY 1, 2),
         |cum AS (SELECT entity, cents,
         |   sum(c) OVER (PARTITION BY entity ORDER BY cents
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |   sum(c) OVER (PARTITION BY entity) AS n FROM grain)
         |SELECT entity, CAST(max(n) AS BIGINT) AS n_accounts,
         | $decs
         |FROM cum GROUP BY 1""".stripMargin
    },
    // q280-q283: stage-wise diagnostic gates for the r7 red-cell family.
    // Deliberately integer/DATE-only outputs, every aggregate CAST AS
    // BIGINT (DuckDB sum(BIGINT) -> HUGEINT, the r7 divergence class);
    // q281/q282 deliberately KEEP the range()+DATE+INT spine constructs so
    // a green cell exonerates them stage by stage.
    "q280_daily_cents_audit" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_order_days,
        | CAST(sum(cents) AS BIGINT) AS sum_cents,
        | min(day) AS first_day, max(day) AS last_day,
        | CAST(sum(CAST(cents AS HUGEINT)
        |   * (date_diff('day', DATE '1970-01-01', day) % 97 + 1))
        |  AS BIGINT) AS checksum
        |FROM daily""".stripMargin,
    "q281_spine_audit" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day))
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        | min(day) AS first_day, max(day) AS last_day,
        | CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_zero_days,
        | CAST(sum(x) AS BIGINT) AS sum_cents,
        | CAST(sum(CAST(x AS HUGEINT)
        |   * (date_diff('day', DATE '1970-01-01', day) % 97 + 1))
        |  AS BIGINT) AS checksum
        |FROM x""".stripMargin,
    "q282_window_probe" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.d0, spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |s AS (SELECT d0, day + CAST(k AS INTEGER) AS day,
        |   sum(CAST(x AS HUGEINT)) AS sy,
        |   sum(CAST(x AS HUGEINT) * (30 - k)) AS sxy,
        |   sum(CAST((CAST(1 AS BIGINT) << (30 - CAST(k AS INTEGER)))
        |       AS HUGEINT) * x) AS ewma_fp
        |  FROM x, range(0, 31) t(k)
        |  GROUP BY 1, 2)
        |SELECT s.day, CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy,
        | CAST(ewma_fp // 1000000000 AS BIGINT) AS ewma_hi,
        | CAST(ewma_fp % 1000000000 AS BIGINT) AS ewma_lo
        |FROM s, b
        |WHERE s.day IN (b.d0 + 60, b.d0 + 130, b.d0 + 200)""".stripMargin,
    "q283_cms_bucket_probe" ->
      """WITH wc AS (SELECT w, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |h AS (SELECT w, c, j,
        |   CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))
        |     AS BIGINT) % 1024 AS bucket
        |  FROM wc, range(0, 4) r(j)),
        |cells AS (SELECT j, bucket, sum(c) AS cell FROM h GROUP BY 1, 2),
        |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 5)
        |SELECT top.w AS word, CAST(top.c AS BIGINT) AS exact_cnt,
        | CAST(h.j AS INTEGER) AS j, CAST(h.bucket AS BIGINT) AS bucket,
        | CAST(cells.cell AS BIGINT) AS cell
        |FROM top JOIN h ON h.w = top.w
        |JOIN cells ON cells.j = h.j AND cells.bucket = h.bucket""".stripMargin,
    // q284-q286: the multimodal family mirrors q34's fake-decode math
    // (n = byte length; nf = 1 + n%7; w/h = 64 + n%577 / 64 + 31n%417).
    // Text is pure ASCII in the synthetic corpus, so ascii(char) = the
    // payload byte and strlen = octet length; the byte table is a
    // constant-bounded range + WHERE (the spine pattern), not a lateral.
    "q284_frame_sample" ->
      """WITH m AS (SELECT doc_id, 'image/fake-'||source AS media_type,
        |   text, CAST(strlen(text) AS BIGINT) AS n FROM documents),
        |f AS (SELECT m.*, CAST(1 + n % 7 AS BIGINT) AS nf FROM m),
        |fr AS (SELECT doc_id, media_type, text, n, nf,
        |   CAST(i AS INTEGER) AS frame_idx,
        |   (i * n) // nf AS fo, ((i + 1) * n) // nf AS fu
        |  FROM f, range(0, 7) r(i) WHERE i < nf AND i % 2 = 0),
        |bytes AS (SELECT doc_id, p,
        |   ascii(substr(text, CAST(p + 1 AS INTEGER), 1)) AS bv
        |  FROM m, range(0, 4096) q(p) WHERE p < n),
        |ck AS (SELECT fr.doc_id, fr.media_type, fr.frame_idx, fr.fo,
        |   fr.fu - fr.fo AS fl, coalesce(sum(b.bv), 0) AS cksum
        |  FROM fr LEFT JOIN bytes b
        |   ON b.doc_id = fr.doc_id AND b.p >= fr.fo AND b.p < fr.fu
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, media_type, frame_idx,
        | CAST(fo AS BIGINT) AS frame_offset,
        | CAST(fl AS BIGINT) AS frame_len,
        | CAST(cksum AS BIGINT) AS frame_checksum
        |FROM ck""".stripMargin,
    "q285_media_features" ->
      """WITH m AS (SELECT doc_id, text,
        |   CAST(strlen(text) AS BIGINT) AS n FROM documents),
        |bytes AS (SELECT doc_id,
        |   ascii(substr(text, CAST(p + 1 AS INTEGER), 1)) % 8 AS dim
        |  FROM m, range(0, 4096) r(p) WHERE p < n),
        |cnts AS (SELECT doc_id, dim, count(*) AS cnt
        |  FROM bytes GROUP BY 1, 2),
        |grid AS (SELECT m.doc_id, m.n, CAST(i AS INTEGER) AS dim
        |  FROM m, range(0, 8) g(i))
        |SELECT grid.doc_id, grid.dim,
        | CAST(coalesce(cnt, 0) AS BIGINT) AS cnt,
        | CAST((coalesce(cnt, 0) * 1000000) // greatest(grid.n, 1)
        |  AS BIGINT) AS freq_fp
        |FROM grid LEFT JOIN cnts
        | ON grid.doc_id = cnts.doc_id AND grid.dim = cnts.dim""".stripMargin,
    "q286_resize_plan" ->
      """WITH m AS (SELECT doc_id, 'image/fake-'||source AS media_type,
        |   CAST(strlen(text) AS BIGINT) AS n FROM documents),
        |d AS (SELECT doc_id, media_type,
        |   CAST(64 + n % 577 AS INTEGER) AS width,
        |   CAST(64 + (n * 31) % 417 AS INTEGER) AS height FROM m),
        |g AS (SELECT *, greatest(width, height) AS longest FROM d)
        |SELECT doc_id, media_type, width, height,
        | CAST(CASE WHEN longest <= 224 THEN width
        |   ELSE (width * 224) // longest END AS INTEGER) AS new_width,
        | CAST(CASE WHEN longest <= 224 THEN height
        |   ELSE (height * 224) // longest END AS INTEGER) AS new_height,
        | CAST(CASE WHEN longest > 224 THEN 1 ELSE 0 END AS INTEGER)
        |  AS scaled
        |FROM g""".stripMargin,
    // q287: the q284 frame rows grouped on (len, checksum); >= 2 docs
    "q287_frame_dedup" ->
      """WITH m AS (SELECT doc_id, text,
        |   CAST(strlen(text) AS BIGINT) AS n FROM documents),
        |f AS (SELECT m.*, CAST(1 + n % 7 AS BIGINT) AS nf FROM m),
        |fr AS (SELECT doc_id, n, nf,
        |   (i * n) // nf AS fo, ((i + 1) * n) // nf AS fu
        |  FROM f, range(0, 7) r(i) WHERE i < nf AND i % 2 = 0),
        |bytes AS (SELECT doc_id, p,
        |   ascii(substr(text, CAST(p + 1 AS INTEGER), 1)) AS bv
        |  FROM m, range(0, 4096) q(p) WHERE p < n),
        |ck AS (SELECT fr.doc_id, fr.fu - fr.fo AS fl,
        |   coalesce(sum(b.bv), 0) AS cksum
        |  FROM fr LEFT JOIN bytes b
        |   ON b.doc_id = fr.doc_id AND b.p >= fr.fo AND b.p < fr.fu
        |  GROUP BY fr.doc_id, fr.fo, fl)
        |SELECT CAST(fl AS BIGINT) AS frame_len,
        | CAST(cksum AS BIGINT) AS frame_checksum,
        | CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(min(doc_id) AS BIGINT) AS min_doc,
        | CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM ck GROUP BY 1, 2
        |HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    // q288: q29's ANN contract over the q285 features — exact integer
    // dot/norms, one 6-dp cosine from identical expression shapes
    "q288_media_feature_ann" ->
      """WITH m AS (SELECT doc_id, text,
        |   CAST(strlen(text) AS BIGINT) AS n FROM documents),
        |bytes AS (SELECT doc_id,
        |   ascii(substr(text, CAST(p + 1 AS INTEGER), 1)) % 8 AS dim
        |  FROM m, range(0, 4096) r(p) WHERE p < n),
        |cnts AS (SELECT doc_id, dim, count(*) AS cnt
        |  FROM bytes GROUP BY 1, 2),
        |grid AS (SELECT m.doc_id, CAST(i AS INTEGER) AS dim
        |  FROM m, range(0, 8) g(i)),
        |feats AS (SELECT grid.doc_id, grid.dim,
        |   coalesce(cnt, 0) AS cnt
        |  FROM grid LEFT JOIN cnts
        |   ON grid.doc_id = cnts.doc_id AND grid.dim = cnts.dim),
        |q AS (SELECT doc_id AS query_id, dim, cnt AS qc
        |  FROM feats WHERE doc_id < 50),
        |p AS (SELECT query_id, f.doc_id AS neighbor_id,
        |   CAST(sum(CAST(qc AS HUGEINT) * cnt) AS BIGINT) AS dot,
        |   CAST(sum(CAST(qc AS HUGEINT) * qc) AS BIGINT) AS qq,
        |   CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS nn
        |  FROM feats f JOIN q USING (dim) WHERE f.doc_id <> query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dot,
        |   round(CAST(dot AS DOUBLE)
        |     / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))), 6)
        |    AS cosine
        |  FROM p),
        |t AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
        |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS "rank",
        | dot, cosine
        |FROM t WHERE rnk <= 3""".stripMargin,
    // q289: md5 of the frame SUBSTRING — ASCII corpus, so string md5 =
    // payload-slice md5; every q287 candidate group gets an exact verdict
    "q289_frame_dedup_verify" ->
      """WITH m AS (SELECT doc_id, text,
        |   CAST(strlen(text) AS BIGINT) AS n FROM documents),
        |f AS (SELECT m.*, CAST(1 + n % 7 AS BIGINT) AS nf FROM m),
        |fr AS (SELECT doc_id, text, n, nf,
        |   (i * n) // nf AS fo, ((i + 1) * n) // nf AS fu
        |  FROM f, range(0, 7) r(i) WHERE i < nf AND i % 2 = 0),
        |bytes AS (SELECT doc_id, p,
        |   ascii(substr(text, CAST(p + 1 AS INTEGER), 1)) AS bv
        |  FROM m, range(0, 4096) q(p) WHERE p < n),
        |dg AS (SELECT fr.doc_id, fr.fo, fr.fu - fr.fo AS frame_len,
        |   md5(substr(fr.text, CAST(fr.fo + 1 AS INTEGER),
        |     CAST(fr.fu - fr.fo AS INTEGER))) AS frame_md5,
        |   coalesce(sum(b.bv), 0) AS cksum
        |  FROM fr LEFT JOIN bytes b
        |   ON b.doc_id = fr.doc_id AND b.p >= fr.fo AND b.p < fr.fu
        |  GROUP BY 1, 2, 3, 4)
        |SELECT CAST(frame_len AS BIGINT) AS frame_len,
        | CAST(cksum AS BIGINT) AS frame_checksum,
        | CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT frame_md5) AS BIGINT) AS n_distinct_md5,
        | CAST(CASE WHEN count(DISTINCT frame_md5) = 1 THEN 1 ELSE 0 END
        |  AS INTEGER) AS verified
        |FROM dg GROUP BY 1, 2
        |HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    // q290: one block per declared FK relationship, scalar subqueries per
    // metric; every count CAST AS BIGINT (the HUGEINT contract)
    "q290_fk_integrity" -> {
      def rel(name: String, child: String, fk: String,
          parent: String, pk: String): String =
        s"""SELECT '$name' AS relation,
           | CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
           | CAST((SELECT count(*) FROM $child WHERE $fk IS NULL) AS BIGINT)
           |  AS n_null_fk,
           | CAST((SELECT count(DISTINCT $fk) FROM $child) AS BIGINT)
           |  AS n_child_keys,
           | CAST((SELECT count(*) FROM $child ch WHERE ch.$fk IS NOT NULL
           |   AND NOT EXISTS (SELECT 1 FROM $parent pa WHERE pa.$pk = ch.$fk))
           |  AS BIGINT) AS n_orphan_rows,
           | CAST((SELECT count(*) FROM $parent) AS BIGINT) AS n_parent,
           | CAST((SELECT count(*) FROM $parent pa
           |   WHERE EXISTS (SELECT 1 FROM $child ch WHERE ch.$fk = pa.$pk))
           |  AS BIGINT) AS n_referenced_parent""".stripMargin
      Seq(
        rel("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        rel("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        rel("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        rel("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey")
      ).mkString("\nUNION ALL\n")
    },
    // q291: the q191 ACF recipe with two series (daily order count leading
    // daily cents) and signed lags; co-moments in HUGEINT, one pinned IEEE
    // expression for r
    "q291_revenue_count_ccf" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   CAST(count(*) AS BIGINT) AS n,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |cal AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT cal.day, coalesce(daily.n, 0) AS cnt,
        |   coalesce(daily.cents, 0) AS cents
        |  FROM cal LEFT JOIN daily USING (day)),
        |l AS (SELECT k FROM range(-7, 8) t(k)),
        |p AS (SELECT l.k AS lag, a.cnt AS x, y.cents AS y
        |  FROM x a JOIN l ON true
        |  JOIN x y ON y.day = a.day + CAST(l.k AS INTEGER)),
        |s AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(x AS HUGEINT)) AS s1, sum(CAST(y AS HUGEINT)) AS s2,
        |   sum(CAST(x AS HUGEINT) * x) AS s11,
        |   sum(CAST(y AS HUGEINT) * y) AS s22,
        |   sum(CAST(x AS HUGEINT) * y) AS s12
        |  FROM p GROUP BY 1)
        |SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
        | round(CAST(n * s12 - s1 * s2 AS DOUBLE)
        |  / (sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
        |    * sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE))), 6) AS ccf
        |FROM s""".stripMargin,
    // q292: doubled tie-averaged ranks stay integral; Σ R²/n via HUGEINT
    // floor division (// on positives = Spark's div); H and the tie factor
    // are the same pinned IEEE trees as the Scala side
    "q292_kruskal_wallis" ->
      """WITH g AS (SELECT o_orderpriority,
        |   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |grain AS (SELECT cents, count(*) AS c FROM g GROUP BY 1),
        |ranked AS (SELECT cents, c,
        |   2 * (sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) - c)
        |    + c + 1 AS r2
        |  FROM grain),
        |pg AS (SELECT o_orderpriority, cents, count(*) AS n_pc
        |  FROM g GROUP BY 1, 2),
        |pgr AS (SELECT o_orderpriority,
        |   CAST(sum(n_pc) AS BIGINT) AS n_orders,
        |   sum(CAST(n_pc AS HUGEINT) * r2) AS rank_sum_x2
        |  FROM pg JOIN ranked USING (cents) GROUP BY 1),
        |ht AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total,
        |   CAST(count(*) AS BIGINT) AS k_groups,
        |   sum((rank_sum_x2 * rank_sum_x2)
        |     // (4 * CAST(n_orders AS HUGEINT))) AS sum_r2n
        |  FROM pgr),
        |ties AS (SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS tie_sum
        |  FROM grain),
        |gl AS (SELECT n_total, k_groups,
        |   round(12.0 / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
        |     * CAST(sum_r2n AS DOUBLE)
        |     - 3.0 * CAST(n_total + 1 AS DOUBLE), 6) AS h_stat,
        |   round((12.0 / (CAST(n_total AS DOUBLE) * CAST(n_total + 1 AS DOUBLE))
        |     * CAST(sum_r2n AS DOUBLE)
        |     - 3.0 * CAST(n_total + 1 AS DOUBLE))
        |    / (1.0 - CAST(tie_sum AS DOUBLE)
        |      / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |        * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))), 6)
        |    AS h_tie_corrected
        |  FROM ht CROSS JOIN ties)
        |SELECT o_orderpriority, n_orders,
        | CAST(rank_sum_x2 AS BIGINT) AS rank_sum_x2,
        | round(CAST(rank_sum_x2 AS DOUBLE)
        |  / (2.0 * CAST(n_orders AS DOUBLE)), 6) AS mean_rank,
        | n_total, k_groups, h_stat, h_tie_corrected
        |FROM pgr CROSS JOIN gl""".stripMargin,
    // q293: exact pair census over the calendar-sized day grain; signum
    // comparisons only, tau_b as one pinned IEEE expression
    "q293_kendall_tau" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   CAST(count(*) AS BIGINT) AS n,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT sign(b.n - a.n) AS dx, sign(b.cents - a.cents) AS dy
        |  FROM daily a JOIN daily b ON b.day > a.day),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |   CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties_both,
        |   CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties_x,
        |   CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties_y,
        |   CAST(sum(CASE WHEN dx <> 0 AND dx = dy THEN 1 ELSE 0 END) AS BIGINT)
        |    AS concordant,
        |   CAST(sum(CASE WHEN dx <> 0 AND dy <> 0 AND dx <> dy THEN 1 ELSE 0 END)
        |    AS BIGINT) AS discordant
        |  FROM p),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n_days, n_pairs, concordant, discordant, ties_x, ties_y,
        | ties_both,
        | round(CAST(concordant - discordant AS DOUBLE)
        |  / sqrt(CAST(n_pairs - ties_x - ties_both AS DOUBLE)
        |    * CAST(n_pairs - ties_y - ties_both AS DOUBLE)), 6) AS tau_b
        |FROM s CROSS JOIN nd""".stripMargin,
    // q294: postings from the q58 whitespace tokenizer; doc-sharded delta
    // encoding, bit cost = length(bin(v)) (exact in both engines), varint
    // bytes via integer division; all-BIGINT outputs
    "q294_postings_audit" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |postings AS (SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |enc AS (SELECT word, doc_id, tf, doc_id % 16 AS shard FROM postings),
        |g AS (SELECT word, tf,
        |   coalesce(doc_id - lag(doc_id)
        |     OVER (PARTITION BY word, shard ORDER BY doc_id), doc_id + 1)
        |    AS stored
        |  FROM enc),
        |b AS (SELECT word, tf, CAST(length(bin(stored)) AS BIGINT) AS bits
        |  FROM g),
        |byword AS (SELECT word, CAST(count(*) AS BIGINT) AS df,
        |   CAST(sum(tf) AS BIGINT) AS tf_total,
        |   CAST(sum(bits) AS BIGINT) AS gap_bits,
        |   CAST(sum((bits + 6) // 7) AS BIGINT) AS varint_bytes
        |  FROM b GROUP BY 1)
        |SELECT CAST(length(bin(df)) - 1 AS INTEGER) AS df_bucket,
        | CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum(df) AS BIGINT) AS n_postings,
        | CAST(sum(tf_total) AS BIGINT) AS total_tf,
        | CAST(sum(gap_bits) AS BIGINT) AS sum_gap_bits,
        | CAST(sum(varint_bytes) AS BIGINT) AS est_index_bytes
        |FROM byword GROUP BY 1""".stripMargin,
    // q295: 1-based list indexing builds the adjacency stream; top-5 by
    // (count desc, w1, w2); scan path via padded substring containment
    "q295_phrase_search" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id, ws[CAST(i AS INTEGER)] AS w1,
        |   ws[CAST(i + 1 AS INTEGER)] AS w2
        |  FROM d, range(1, 100000) r(i) WHERE i < len(ws)),
        |top AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
        |  ORDER BY c12 DESC, w1, w2 LIMIT 5),
        |idx AS (SELECT bg.w1, bg.w2,
        |   CAST(count(*) AS BIGINT) AS n_occurrences,
        |   CAST(count(DISTINCT bg.doc_id) AS BIGINT) AS n_docs_index
        |  FROM bg JOIN top USING (w1, w2) GROUP BY 1, 2),
        |scan AS (SELECT top.w1, top.w2,
        |   CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs_scan
        |  FROM d JOIN top ON contains(' ' || d.text || ' ',
        |    ' ' || top.w1 || ' ' || top.w2 || ' ')
        |  GROUP BY 1, 2)
        |SELECT idx.w1 || ' ' || idx.w2 AS phrase, n_occurrences,
        | n_docs_index, CAST(coalesce(n_docs_scan, 0) AS BIGINT) AS n_docs_scan,
        | CAST(CASE WHEN n_docs_index = coalesce(n_docs_scan, 0)
        |  THEN 1 ELSE 0 END AS INTEGER) AS paths_agree
        |FROM idx LEFT JOIN scan ON idx.w1 = scan.w1 AND idx.w2 = scan.w2""".stripMargin,
    // q296: exact HUGEINT power sums, then each derived double is the
    // SAME pinned expression step the Scala side projects
    "q296_welch_ttest" ->
      """WITH e AS (SELECT event_type,
        |   CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |agg AS (SELECT
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_b,
        |   sum(CASE WHEN event_type = 'purchase' THEN CAST(c AS HUGEINT) END)
        |    AS s_a,
        |   sum(CASE WHEN event_type = 'click' THEN CAST(c AS HUGEINT) END)
        |    AS s_b,
        |   sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(c AS HUGEINT) * c END) AS q_a,
        |   sum(CASE WHEN event_type = 'click'
        |    THEN CAST(c AS HUGEINT) * c END) AS q_b
        |  FROM e),
        |m AS (SELECT n_a, n_b,
        |   CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
        |   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |   (CAST(n_a AS DOUBLE) * CAST(q_a AS DOUBLE)
        |     - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
        |    / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS var_a,
        |   (CAST(n_b AS DOUBLE) * CAST(q_b AS DOUBLE)
        |     - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
        |    / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS var_b
        |  FROM agg),
        |se AS (SELECT m.*, var_a / CAST(n_a AS DOUBLE) AS sea,
        |   var_b / CAST(n_b AS DOUBLE) AS seb FROM m)
        |SELECT n_a, n_b,
        | round(mean_a, 6) AS mean_cents_a, round(mean_b, 6) AS mean_cents_b,
        | round(var_a, 6) AS var_cents_a, round(var_b, 6) AS var_cents_b,
        | round((mean_a - mean_b) / sqrt(sea + seb), 6) AS t_stat,
        | round((sea + seb) * (sea + seb)
        |  / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
        |    + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS df_welch,
        | round((mean_a - mean_b)
        |  / sqrt(((CAST(n_a AS DOUBLE) - 1.0) * var_a
        |    + (CAST(n_b AS DOUBLE) - 1.0) * var_b)
        |   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)), 6) AS cohen_d
        |FROM se""".stripMargin,
    // q297: exact integer EMD numerator over the shared cents grain;
    // the single float op is the final normalize
    "q297_wasserstein_drift" ->
      """WITH e AS (SELECT event_type,
        |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |grain AS (SELECT cents,
        |   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
        |   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n_a,
        |   CAST(sum(c2) AS BIGINT) AS n_b FROM grain),
        |cum AS (SELECT cents,
        |   sum(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum1,
        |   sum(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum2,
        |   lead(cents) OVER (ORDER BY cents) - cents AS gap
        |  FROM grain)
        |SELECT n_a, n_b,
        | CAST(count(*) + 1 AS BIGINT) AS grain_rows,
        | CAST(sum(abs(CAST(cum1 AS HUGEINT) * n_b
        |   - CAST(cum2 AS HUGEINT) * n_a) * gap) AS BIGINT) AS emd_fp,
        | round(CAST(sum(abs(CAST(cum1 AS HUGEINT) * n_b
        |   - CAST(cum2 AS HUGEINT) * n_a) * gap) AS DOUBLE)
        |  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |  AS wasserstein_cents
        |FROM cum CROSS JOIN t WHERE gap IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // q298: the gapSessionsSql construct with exact-µs gap compare
    // (epoch_us — no double-seconds boundary) plus the rn-based cap split
    "q298_capped_sessions" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(CAST(ts AS TIMESTAMP))
        |      - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts, event_id, sum(new_s) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS gsid FROM s),
        |r AS (SELECT user_id, gsid,
        |  row_number() OVER (PARTITION BY user_id, gsid
        |   ORDER BY ts, event_id) AS rn FROM g),
        |sess AS (SELECT user_id, gsid, (rn - 1) // 2 AS sub,
        |  count(*) AS sz FROM r GROUP BY 1, 2, 3)
        |SELECT CAST(sz AS BIGINT) AS session_size,
        | CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(CASE WHEN sub > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_from_splits
        |FROM sess GROUP BY 1""".stripMargin,
    // q299: total window order (cents desc, custkey) makes every ranking
    // function single-valued; INTEGER casts pin the rank types
    "q299_rank_functions" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents FROM customer),
        |r AS (SELECT CAST(c_nationkey AS INTEGER) AS nation_key, c_custkey,
        |   cents AS acctbal_cents,
        |   CAST(rank() OVER w AS INTEGER) AS rnk,
        |   CAST(dense_rank() OVER w AS INTEGER) AS dense_rnk,
        |   CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |   round(percent_rank() OVER w, 6) AS pct_rank,
        |   round(cume_dist() OVER w, 6) AS cume
        |  FROM c
        |  WINDOW w AS (PARTITION BY c_nationkey
        |   ORDER BY cents DESC, c_custkey))
        |SELECT * FROM r WHERE rnk <= 3""".stripMargin,
    // q300: exact lower medians off the per-group grain prefix sum; the
    // q292 HUGEINT floor-division keeps Σ S²/n identical in both engines
    "q300_levene_bf" ->
      """WITH g AS (SELECT event_type,
        |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |grain AS (SELECT event_type, cents, count(*) AS c
        |  FROM g GROUP BY 1, 2),
        |cum AS (SELECT event_type, cents, c,
        |   sum(c) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |   sum(c) OVER (PARTITION BY event_type) AS n_g
        |  FROM grain),
        |med AS (SELECT event_type, min(cents) AS median_cents
        |  FROM cum WHERE cum * 2 >= n_g GROUP BY 1),
        |dev AS (SELECT grain.event_type, abs(cents - median_cents) AS z,
        |   c, median_cents
        |  FROM grain JOIN med USING (event_type)),
        |pg AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g,
        |   max(median_cents) AS median_cents,
        |   sum(CAST(z AS HUGEINT) * c) AS s_g,
        |   sum(CAST(z AS HUGEINT) * z * c) AS q_g
        |  FROM dev GROUP BY 1),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_total,
        |   CAST(count(*) AS BIGINT) AS k_groups,
        |   sum(s_g) AS s_all, sum(q_g) AS q_all,
        |   sum((s_g * s_g) // CAST(n_g AS HUGEINT)) AS a_floor
        |  FROM pg),
        |gl AS (SELECT n_total, k_groups,
        |   round(((CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE))
        |     / (CAST(k_groups AS DOUBLE) - 1.0))
        |    * ((CAST(a_floor AS DOUBLE)
        |      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |        / CAST(n_total AS DOUBLE))
        |     / CAST(q_all - a_floor AS DOUBLE)), 6) AS f_stat
        |  FROM t)
        |SELECT event_type, n_g AS n_events, median_cents,
        | round(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mean_abs_dev,
        | n_total, k_groups, f_stat
        |FROM pg CROSS JOIN gl""".stripMargin,
    // q301: the q231 per-cell fixed-point χ² recipe on the orders
    // (priority × isodow) grid, finished with V = sqrt(χ²/(N·min(r−1,c−1)))
    "q301_cramers_v" ->
      """WITH cells AS (SELECT o_orderpriority,
        |   CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        |   CAST(count(*) AS BIGINT) AS observed
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT o_orderpriority, sum(observed) AS row_tot
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT iso_dow, sum(observed) AS col_tot FROM cells GROUP BY 1),
        |t AS (SELECT sum(observed) AS n FROM cells),
        |grid AS (SELECT rt.o_orderpriority, ct.iso_dow, rt.row_tot,
        |   ct.col_tot, coalesce(cells.observed, 0) AS observed
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells USING (o_orderpriority, iso_dow)),
        |x AS (SELECT o_orderpriority, iso_dow, observed,
        |   CAST(CAST(row_tot AS HUGEINT) * col_tot AS DOUBLE)
        |     / CAST(n AS DOUBLE) AS expected
        |  FROM grid CROSS JOIN t),
        |sc AS (SELECT *, CAST(round(((CAST(observed AS DOUBLE) - expected)
        |    * (CAST(observed AS DOUBLE) - expected) / expected) * 1000000)
        |   AS BIGINT) AS contrib_fp
        |  FROM x),
        |st AS (SELECT CAST(max(nn.n) AS BIGINT) AS n_orders,
        |   CAST(count(DISTINCT o_orderpriority) AS INTEGER) AS n_rows,
        |   CAST(count(DISTINCT iso_dow) AS INTEGER) AS n_cols,
        |   sum(contrib_fp) AS chi2_fp
        |  FROM sc CROSS JOIN t nn)
        |SELECT n_orders, n_rows, n_cols,
        | round(CAST(chi2_fp AS DOUBLE) / 1000000, 6) AS chi2_stat,
        | round(sqrt((CAST(chi2_fp AS DOUBLE) / 1000000)
        |  / (CAST(n_orders AS DOUBLE)
        |    * CAST(least(n_rows, n_cols) - 1 AS DOUBLE))), 6) AS cramers_v
        |FROM st""".stripMargin,
    // q302: per-element ×10⁶ fixed-point components; per-dim term rounded
    // to a ×10⁶ long BEFORE the cross-dim sum (integer addition — fold
    // order immaterial); dims pinned at 64 (the testdata embedding width)
    "q302_mahalanobis_outliers" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(CAST(embedding AS DOUBLE[]),
        |     x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS xfp
        |  FROM embeddings),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM e),
        |flat AS (SELECT CAST(j AS INTEGER) AS j, xfp[CAST(j AS INTEGER)] AS x
        |  FROM e, range(1, 65) r(j)),
        |st AS (SELECT j, sum(CAST(x AS HUGEINT)) AS s,
        |   sum(CAST(x AS HUGEINT) * x) AS q
        |  FROM flat GROUP BY 1),
        |packed AS (SELECT
        |   list(CAST(s AS BIGINT) ORDER BY j) AS s_arr,
        |   list(CAST(CAST(nv AS HUGEINT) * q - s * s AS DOUBLE) ORDER BY j)
        |    AS d_arr
        |  FROM st CROSS JOIN nv),
        |scored AS (SELECT vec_id, label,
        |   list_sum(list_transform(range(1, 65), j ->
        |     CASE WHEN d_arr[j] <= 0.0 THEN 0
        |     ELSE CAST(round(
        |       (CAST(nv * xfp[j] - s_arr[j] AS DOUBLE)
        |        * CAST(nv * xfp[j] - s_arr[j] AS DOUBLE)
        |        / d_arr[j]) * 1000000, 0) AS BIGINT) END)) AS m2_fp
        |  FROM e CROSS JOIN packed CROSS JOIN nv),
        |r AS (SELECT *, CAST(row_number() OVER (
        |   ORDER BY m2_fp DESC, vec_id) AS INTEGER) AS outlier_rank
        |  FROM scored)
        |SELECT vec_id, CAST(label AS INTEGER) AS label,
        | CAST(m2_fp AS BIGINT) AS m2_fp,
        | round(CAST(m2_fp AS DOUBLE) / 1000000, 6) AS m2, outlier_rank
        |FROM r WHERE outlier_rank <= 20""".stripMargin,
    // q303: tp/fp/fn integers off the confusion cells; F1 via the
    // single-division harmonic identity; macro over ×10⁶ per-class F1s
    "q303_lang_macro_f1" ->
      s"""WITH pr AS (SELECT lang AS actual_lang, $langPredicted AS predicted_lang
         |  FROM (SELECT lang, string_split(text,' ') AS w FROM documents)),
         |cells AS (SELECT actual_lang, predicted_lang, count(*) AS n
         |  FROM pr GROUP BY 1, 2),
         |at AS (SELECT actual_lang AS lang, sum(n) AS n_actual
         |  FROM cells GROUP BY 1),
         |pt AS (SELECT predicted_lang AS lang, sum(n) AS n_predicted
         |  FROM cells GROUP BY 1),
         |dg AS (SELECT actual_lang AS lang, n AS tp FROM cells
         |  WHERE actual_lang = predicted_lang),
         |pc AS (SELECT at.lang,
         |   CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         |   CAST(coalesce(n_predicted, 0) - coalesce(tp, 0) AS BIGINT) AS fp,
         |   CAST(n_actual - coalesce(tp, 0) AS BIGINT) AS fn
         |  FROM at LEFT JOIN pt USING (lang) LEFT JOIN dg USING (lang)),
         |sc AS (SELECT lang, tp, fp, fn,
         |   CASE WHEN tp + fp = 0 THEN 0.0
         |    ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END
         |    AS precision,
         |   round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
         |   CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
         |    ELSE round(CAST(2 * tp AS DOUBLE)
         |      / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1
         |  FROM pc),
         |mc AS (SELECT CAST(count(*) AS BIGINT) AS k_classes,
         |   round(CAST(sum(CAST(round(f1 * 1000000) AS BIGINT)) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS macro_f1
         |  FROM sc)
         |SELECT sc.*, mc.* FROM sc CROSS JOIN mc""".stripMargin,
    // q304: q54's bigram-repetition flag labels the positives, q69's
    // model score ranks; doubled midranks over the ×10⁶ score grain,
    // AUC = (Σr2⁺ − n₁(n₁+1)) / (2·n₁·n₀)
    "q304_quality_auc" ->
      s"""WITH ms AS ($modelScoreSql),
         |rep AS (SELECT doc_id,
         |   CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE round(1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 6)
         |   END AS dup_bigram_frac
         |  FROM (SELECT doc_id,
         |    list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1]) AS bg
         |   FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))),
         |lab AS (SELECT
         |   CAST(round(model_score * 1000000) AS BIGINT) AS score_fp,
         |   CASE WHEN dup_bigram_frac >= 0.1 THEN 1 ELSE 0 END AS is_rep
         |  FROM ms JOIN rep USING (doc_id)),
         |grain AS (SELECT score_fp, count(*) AS c,
         |   sum(is_rep) AS c_pos FROM lab GROUP BY 1),
         |rk AS (SELECT score_fp, c, c_pos,
         |   2 * (sum(c) OVER (ORDER BY score_fp ROWS UNBOUNDED PRECEDING) - c)
         |    + c + 1 AS r2
         |  FROM grain),
         |agg AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
         |   CAST(sum(c - c_pos) AS BIGINT) AS n_neg,
         |   CAST(sum(CAST(c_pos AS HUGEINT) * r2) AS BIGINT) AS r2_pos_sum
         |  FROM rk)
         |SELECT n_pos, n_neg,
         | CAST(r2_pos_sum - n_pos * (n_pos + 1) AS BIGINT) AS u2,
         | round(CAST(r2_pos_sum - n_pos * (n_pos + 1) AS DOUBLE)
         |  / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
         |  AS auc_rep_vs_score
         |FROM agg""".stripMargin,
    // q305-q310: TPC-H classic shapes on this schema's columns
    "q305_tpch_q4_late" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin,
    "q306_tpch_q6_forecast" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
        | round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q307_tpch_q14_promo" ->
      """WITH s AS (SELECT
        |   round(sum(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (1 - l_discount) END), 2) AS promo_revenue,
        |   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT promo_revenue, total_revenue,
        | round(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
        |FROM s""".stripMargin,
    "q308_tpch_q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q309_tpch_q17_small_qty" ->
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#13'),
        |a AS (SELECT l_partkey AS k, sum(l_quantity) / count(*) AS avg_qty
        |  FROM l GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
        | round(round(sum(l_extendedprice), 2) / 7.0, 4) AS avg_yearly_loss
        |FROM l JOIN a ON k = l_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    "q310_tpch_q19_disjunctive" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // q311: exact HUGEINT moment sums + fully-expanded 3×3 Cramer
    // determinants; ×10⁴ fixed-point via `//` (truncation toward zero —
    // verified identical to Spark's div for negatives in DuckDB 1.0)
    "q311_ols_normal_eq" ->
      """WITH l AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |   CAST(round(l_discount * 10000, 0) AS BIGINT) AS d,
        |   CAST(round(l_extendedprice, 0) AS BIGINT) AS y FROM lineitem),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(q AS HUGEINT)) AS sq, sum(CAST(d AS HUGEINT)) AS sd,
        |   sum(CAST(q AS HUGEINT) * q) AS sqq,
        |   sum(CAST(d AS HUGEINT) * d) AS sdd,
        |   sum(CAST(q AS HUGEINT) * d) AS sqd,
        |   sum(CAST(y AS HUGEINT)) AS sy,
        |   sum(CAST(q AS HUGEINT) * y) AS sqy,
        |   sum(CAST(d AS HUGEINT) * y) AS sdy
        |  FROM l),
        |dets AS (SELECT n,
        |   (n * (sqq * sdd - sqd * sqd)
        |    - sq * (sq * sdd - sqd * sd)
        |    + sd * (sq * sqd - sqq * sd)) AS det,
        |   (sy * (sqq * sdd - sqd * sqd)
        |    - sq * (sqy * sdd - sqd * sdy)
        |    + sd * (sqy * sqd - sqq * sdy)) AS det0,
        |   (n * (sqy * sdd - sqd * sdy)
        |    - sy * (sq * sdd - sqd * sd)
        |    + sd * (sq * sdy - sqy * sd)) AS det1,
        |   (n * (sqq * sdy - sqy * sqd)
        |    - sq * (sq * sdy - sqy * sd)
        |    + sy * (sq * sqd - sqq * sd)) AS det2
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_lines,
        | CAST((det0 * 10000) // det AS BIGINT) AS intercept_fp,
        | CAST((det1 * 10000) // det AS BIGINT) AS coef_qty_fp,
        | CAST((det2 * 10000) // det AS BIGINT) AS coef_disc_fp,
        | round(CAST((det0 * 10000) // det AS DOUBLE) / 10000, 4)
        |  AS intercept_dollars,
        | round(CAST((det1 * 10000) // det AS DOUBLE) / 10000, 4)
        |  AS dollars_per_qty,
        | round(CAST((det2 * 10000) // det AS DOUBLE) / 10000, 4)
        |  AS dollars_per_disc_bp
        |FROM dets""".stripMargin,
    // q312: the q42 union-tag window, time-reversed; exact-seconds
    // horizon via epoch_us // 1e6 (matches Spark's unix_timestamp floor)
    "q312_asof_forward" ->
      """WITH t AS (SELECT user_id, ts, event_id,
        |   CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tag
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |x AS (SELECT user_id, ts, event_id, tag,
        |   first_value(CASE WHEN tag = 1 THEN ts END IGNORE NULLS)
        |    OVER w AS next_err_ts,
        |   first_value(CASE WHEN tag = 1 THEN event_id END IGNORE NULLS)
        |    OVER w AS next_err_id
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag, event_id
        |   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        |   next_err_ts, next_err_id,
        |   epoch_us(CAST(next_err_ts AS TIMESTAMP)) // 1000000
        |    - epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS diff_s
        |  FROM x WHERE tag = 0)
        |SELECT user_id, purchase_id, purchase_ts,
        | CAST(CASE WHEN next_err_ts IS NOT NULL AND diff_s <= 3600
        |  THEN diff_s ELSE -1 END AS BIGINT) AS seconds_to_error,
        | CAST(CASE WHEN next_err_ts IS NOT NULL AND diff_s <= 3600
        |  THEN next_err_id END AS BIGINT) AS error_id
        |FROM p""".stripMargin,
    // q313: the inequality join DuckDB plans directly (the Spark side
    // buckets it — same rows); credit split via // with remainder to the
    // most recent view, so credits conserve exactly
    "q313_linear_attribution" ->
      """WITH v AS (SELECT user_id, ts AS vts, event_id AS vid FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS pts, event_id AS pid,
        |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT p.pid, p.cents, v.vts, v.vid
        |  FROM p JOIN v ON v.user_id = p.user_id
        |   AND v.vts >= p.pts - INTERVAL 3600 SECOND AND v.vts < p.pts),
        |r AS (SELECT pid, cents, vts, vid,
        |   count(*) OVER (PARTITION BY pid) AS k,
        |   row_number() OVER (PARTITION BY pid
        |    ORDER BY vts DESC, vid DESC) AS rn
        |  FROM m),
        |c AS (SELECT vts,
        |   cents // k + CASE WHEN rn = 1 THEN cents % k ELSE 0 END
        |    AS credit_cents, pid
        |  FROM r)
        |SELECT CAST(vts AS DATE) AS view_day,
        | CAST(sum(credit_cents) AS BIGINT) AS credited_cents,
        | CAST(count(*) AS BIGINT) AS n_credited_views,
        | CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases
        |FROM c GROUP BY 1""".stripMargin,
    // q314: exact row-count decile cuts on the (score_fp, doc_id) total
    // order; counts integer, rates/lift single divisions
    "q314_quality_lift" ->
      s"""WITH ms AS ($modelScoreSql),
         |rep AS (SELECT doc_id,
         |   CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE round(1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 6)
         |   END AS dup_bigram_frac
         |  FROM (SELECT doc_id,
         |    list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1]) AS bg
         |   FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))),
         |lab AS (SELECT ms.doc_id,
         |   CAST(round(model_score * 1000000) AS BIGINT) AS score_fp,
         |   CASE WHEN dup_bigram_frac >= 0.1 THEN 1 ELSE 0 END AS is_rep
         |  FROM ms JOIN rep USING (doc_id)),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score_fp, doc_id) AS rn,
         |   count(*) OVER () AS n FROM lab),
         |dd AS (SELECT CAST((10 * rn + n - 1) // n AS INTEGER) AS decile,
         |   score_fp, is_rep FROM rk),
         |bd AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |   CAST(sum(is_rep) AS BIGINT) AS n_pos,
         |   min(score_fp) AS min_score_fp, max(score_fp) AS max_score_fp
         |  FROM dd GROUP BY 1),
         |cum AS (SELECT *, sum(n_pos) OVER (ORDER BY decile
         |    ROWS UNBOUNDED PRECEDING) AS cum_pos,
         |   sum(n_docs) OVER (ORDER BY decile
         |    ROWS UNBOUNDED PRECEDING) AS cum_docs,
         |   sum(n_pos) OVER () AS total_pos,
         |   sum(n_docs) OVER () AS total_docs
         |  FROM bd)
         |SELECT decile, n_docs, n_pos, min_score_fp, max_score_fp,
         | round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pos_rate,
         | round(CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE), 6)
         |  AS cum_gain,
         | round((CAST(cum_pos AS DOUBLE) / CAST(cum_docs AS DOUBLE))
         |  / (CAST(total_pos AS DOUBLE) / CAST(total_docs AS DOUBLE)), 6)
         |  AS cum_lift
         |FROM cum""".stripMargin,
    // q315: INTERSECT ALL / EXCEPT ALL multiplicity semantics, per-key rollup
    "q315_setops_all" ->
      """WITH a AS (SELECT o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |b AS (SELECT o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        |e1 AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
        |e2 AS (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
        |SELECT 'intersect_all' AS set_op, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n_rows FROM ia GROUP BY 2
        |UNION ALL
        |SELECT 'except_all_96_minus_97', o_orderpriority,
        | CAST(count(*) AS BIGINT) FROM e1 GROUP BY 2
        |UNION ALL
        |SELECT 'except_all_97_minus_96', o_orderpriority,
        | CAST(count(*) AS BIGINT) FROM e2 GROUP BY 2""".stripMargin,
    // q316: blocked pairs + integer-threshold Jaccard labels; Laplace-
    // smoothed m/u; ln weights rounded once (the q71 contract)
    "q316_fellegi_sunter" -> {
      def branch(name: String, ma: String, ua: String): String =
        s"""SELECT '$name' AS feature, n_pairs, n_match,
           | $ma AS match_agree, $ua AS nonmatch_agree,
           | round(($ma + 0.5) / (n_match + 1.0), 6) AS m_prob,
           | round(($ua + 0.5) / (n_pairs - n_match + 1.0), 6) AS u_prob,
           | round(ln((($ma + 0.5) / (n_match + 1.0))
           |   / (($ua + 0.5) / (n_pairs - n_match + 1.0))), 6)
           |  AS agree_weight_ln,
           | round(ln((1.0 - ($ma + 0.5) / (n_match + 1.0))
           |   / (1.0 - ($ua + 0.5) / (n_pairs - n_match + 1.0))), 6)
           |  AS disagree_weight_ln
           |FROM agg"""
      s"""WITH sh AS ($docShingles),
         |d AS (SELECT doc_id, lang, source, n_chars, n_chars // 64 AS blk,
         |   list_distinct(list_transform(shingles,
         |     s -> CAST(('0x'||substr(md5(s),1,8)) AS BIGINT))) AS shl
         |  FROM documents JOIN sh USING (doc_id)),
         |simh AS ($simhashDoc),
         |dd AS (SELECT d.*, simh.simhash FROM d JOIN simh USING (doc_id)),
         |p AS (SELECT len(list_intersect(a.shl, b.shl)) AS inter,
         |   len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl)) AS uni,
         |   CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS f_src,
         |   CASE WHEN abs(a.n_chars - b.n_chars) <= 16 THEN 1 ELSE 0 END AS f_len,
         |   CASE WHEN bit_count(xor(a.simhash, b.simhash)) <= 8 THEN 1 ELSE 0 END
         |    AS f_sim
         |  FROM dd a JOIN dd b ON a.lang = b.lang AND a.blk = b.blk
         |   AND a.doc_id < b.doc_id),
         |f AS (SELECT CASE WHEN inter * 10 >= uni * 7 AND uni > 0
         |    THEN 1 ELSE 0 END AS is_match, f_src, f_len, f_sim FROM p),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |   CAST(sum(is_match) AS BIGINT) AS n_match,
         |   CAST(sum(is_match * f_src) AS BIGINT) AS ma_src,
         |   CAST(sum((1 - is_match) * f_src) AS BIGINT) AS ua_src,
         |   CAST(sum(is_match * f_len) AS BIGINT) AS ma_len,
         |   CAST(sum((1 - is_match) * f_len) AS BIGINT) AS ua_len,
         |   CAST(sum(is_match * f_sim) AS BIGINT) AS ma_sim,
         |   CAST(sum((1 - is_match) * f_sim) AS BIGINT) AS ua_sim
         |  FROM f)
         |${branch("same_source", "ma_src", "ua_src")}
         |UNION ALL
         |${branch("len_close", "ma_len", "ua_len")}
         |UNION ALL
         |${branch("simhash_near", "ma_sim", "ua_sim")}""".stripMargin
    },
    // q317: truth = the q73 oracle's exact-Jaccard pairs at 0.7; blocked
    // pair count from block sizes (s·(s−1)/2), never materialized
    "q317_blocking_audit" ->
      s"""WITH sh AS ($shingleRows),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |   count(*) AS cnt
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc1, doc2 FROM ($jaccardTail)
         |  WHERE jaccard >= 0.7),
         |d AS (SELECT doc_id, lang, n_chars // 64 AS blk FROM documents),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
         |bc AS (SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT)
         |    AS n_blocked_pairs
         |  FROM (SELECT count(*) AS s FROM d GROUP BY lang, blk)),
         |tc AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |ib AS (SELECT CAST(count(*) AS BIGINT) AS n_truth_in_block
         |  FROM truth
         |  JOIN d a ON a.doc_id = truth.doc1
         |  JOIN d b ON b.doc_id = truth.doc2
         |  WHERE a.lang = b.lang AND a.blk = b.blk)
         |SELECT n_docs,
         | CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_total_pairs,
         | n_blocked_pairs, n_truth, n_truth_in_block,
         | round(1.0 - CAST(n_blocked_pairs AS DOUBLE)
         |  / CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE), 6)
         |  AS reduction_ratio,
         | round(CAST(n_truth_in_block AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
         |  AS pair_completeness
         |FROM nd CROSS JOIN bc CROSS JOIN tc CROSS JOIN ib""".stripMargin,
    // q318: the q316 pair pass grouped by agreement pattern; the six
    // weight scalars cross-joined in; score = chained weight sum
    "q318_fs_score_patterns" -> {
      def w(ma: String, ua: String, sfx: String): String =
        s"""round(ln((($ma + 0.5) / (n_match + 1.0))
           |   / (($ua + 0.5) / (n_pairs - n_match + 1.0))), 6) AS aw_$sfx,
           | round(ln((1.0 - ($ma + 0.5) / (n_match + 1.0))
           |   / (1.0 - ($ua + 0.5) / (n_pairs - n_match + 1.0))), 6)
           |  AS dw_$sfx"""
      s"""WITH sh AS ($docShingles),
         |d AS (SELECT doc_id, lang, source, n_chars, n_chars // 64 AS blk,
         |   list_distinct(list_transform(shingles,
         |     s -> CAST(('0x'||substr(md5(s),1,8)) AS BIGINT))) AS shl
         |  FROM documents JOIN sh USING (doc_id)),
         |simh AS ($simhashDoc),
         |dd AS (SELECT d.*, simh.simhash FROM d JOIN simh USING (doc_id)),
         |p AS (SELECT len(list_intersect(a.shl, b.shl)) AS inter,
         |   len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl)) AS uni,
         |   CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS f_src,
         |   CASE WHEN abs(a.n_chars - b.n_chars) <= 16 THEN 1 ELSE 0 END AS f_len,
         |   CASE WHEN bit_count(xor(a.simhash, b.simhash)) <= 8 THEN 1 ELSE 0 END
         |    AS f_sim
         |  FROM dd a JOIN dd b ON a.lang = b.lang AND a.blk = b.blk
         |   AND a.doc_id < b.doc_id),
         |f AS (SELECT CASE WHEN inter * 10 >= uni * 7 AND uni > 0
         |    THEN 1 ELSE 0 END AS is_match, f_src, f_len, f_sim FROM p),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |   CAST(sum(is_match) AS BIGINT) AS n_match,
         |   CAST(sum(is_match * f_src) AS BIGINT) AS ma_src,
         |   CAST(sum((1 - is_match) * f_src) AS BIGINT) AS ua_src,
         |   CAST(sum(is_match * f_len) AS BIGINT) AS ma_len,
         |   CAST(sum((1 - is_match) * f_len) AS BIGINT) AS ua_len,
         |   CAST(sum(is_match * f_sim) AS BIGINT) AS ma_sim,
         |   CAST(sum((1 - is_match) * f_sim) AS BIGINT) AS ua_sim
         |  FROM f),
         |wts AS (SELECT ${w("ma_src", "ua_src", "src")},
         | ${w("ma_len", "ua_len", "len")},
         | ${w("ma_sim", "ua_sim", "sim")}
         |  FROM agg)
         |SELECT CAST(f_src AS INTEGER) AS f_src,
         | CAST(f_len AS INTEGER) AS f_len, CAST(f_sim AS INTEGER) AS f_sim,
         | CAST(count(*) AS BIGINT) AS n_pairs,
         | CAST(sum(is_match) AS BIGINT) AS n_match,
         | max(round((CASE WHEN f_src = 1 THEN aw_src ELSE dw_src END
         |   + CASE WHEN f_len = 1 THEN aw_len ELSE dw_len END
         |   + CASE WHEN f_sim = 1 THEN aw_sim ELSE dw_sim END), 6)) AS score_ln,
         | round(CAST(sum(is_match) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |  AS match_rate
         |FROM f CROSS JOIN wts GROUP BY 1, 2, 3""".stripMargin
    },
    // q319: per-line cents rounded once (pinned float product), exact
    // integer sums and buckets after
    "q319_order_reconciliation" ->
      """WITH ls AS (SELECT l_orderkey,
        |   sum(CAST(round(l_extendedprice * (1 + l_tax) * (1 - l_discount)
        |     * 100, 0) AS BIGINT)) AS cents_calc
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderkey,
        |   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents_header,
        |   cents_calc
        |  FROM orders LEFT JOIN ls ON l_orderkey = o_orderkey),
        |b AS (SELECT
        |   CASE WHEN cents_calc IS NULL THEN 'no_lineitems'
        |    WHEN cents_header - cents_calc = 0 THEN 'exact'
        |    WHEN abs(cents_header - cents_calc) <= 100 THEN 'near_1_dollar'
        |    ELSE 'far' END AS bucket,
        |   CASE WHEN cents_calc IS NULL THEN 0
        |    ELSE abs(cents_header - cents_calc) END AS adiff
        |  FROM j)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(adiff) AS BIGINT) AS sum_abs_diff_cents
        |FROM b GROUP BY 1""".stripMargin,
    // q320: per-order min/max/count/distinct over line numbers, 4 counters
    "q320_linenumber_audit" ->
      """WITH g AS (SELECT l_orderkey, count(*) AS k,
        |   count(DISTINCT l_linenumber) AS kd,
        |   CAST(min(l_linenumber) AS BIGINT) AS mn,
        |   CAST(max(l_linenumber) AS BIGINT) AS mx
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders_with_lines,
        | CAST(sum(CASE WHEN kd = k AND mn = 1 AND mx = k THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_dense,
        | CAST(sum(CASE WHEN kd = k AND (mn <> 1 OR mx <> k) THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_gapped,
        | CAST(sum(CASE WHEN kd <> k THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dup_positions
        |FROM g""".stripMargin,
    // q321-q327: TPC-H classics pack 2 on this schema's columns
    "q321_tpch_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS INTEGER) AS l_year,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((s_nationkey = 3 AND c_nationkey = 7)
        |    OR (s_nationkey = 7 AND c_nationkey = 3))
        |GROUP BY 1, 2, 3""".stripMargin,
    "q322_tpch_q8_mktshare" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey,
        |   l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'ECONOMY'),
        |o AS (SELECT o_orderkey, o_custkey,
        |   CAST(year(o_orderdate) AS INTEGER) AS o_year
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |j AS (SELECT o_year, s_nationkey, rev
        |  FROM l JOIN o ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer
        |    JOIN nation ON n_nationkey = c_nationkey WHERE n_regionkey = 2)),
        |g AS (SELECT o_year, CAST(count(*) AS BIGINT) AS n_lines,
        |   coalesce(round(sum(CASE WHEN s_nationkey = 12 THEN rev END), 2),
        |     0.0) AS nation_revenue,
        |   round(sum(rev), 2) AS total_revenue
        |  FROM j GROUP BY 1)
        |SELECT o_year, n_lines, nation_revenue, total_revenue,
        | round(nation_revenue / total_revenue, 6) AS mkt_share
        |FROM g""".stripMargin,
    "q323_tpch_q10_returns" ->
      """WITH r AS (SELECT o_custkey,
        |   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'R'
        |   AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        |FROM r JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q324_tpch_q13_orderdist" ->
      """WITH pc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(cnt, 0) AS c_count,
        | CAST(count(*) AS BIGINT) AS custdist
        |FROM customer LEFT JOIN pc ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q325_tpch_q18_bigorders" ->
      """WITH big AS (SELECT l_orderkey,
        |   CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(l_quantity) AS BIGINT) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        | sum_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey""".stripMargin,
    "q326_tpch_q21_waiting" ->
      """WITH pos AS (SELECT l_orderkey, l_suppkey,
        |   max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |     THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |gate AS (SELECT l_orderkey FROM pos GROUP BY 1
        |  HAVING count(*) >= 2 AND sum(late) = 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM pos JOIN gate USING (l_orderkey)
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE late = 1
        |GROUP BY 1, 2""".stripMargin,
    // q327: the threshold is exact integral cents (sum // count, the
    // q311 `//` truncation contract) so the > gate never sits on a float
    "q327_tpch_q22_dormant" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, c_acctbal,
        |   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents FROM customer),
        |t AS (SELECT sum(cents) // count(*) AS thr_cents FROM c
        |  WHERE cents > 0),
        |k AS (SELECT c_custkey, c_nationkey, c_acctbal FROM c, t
        |  WHERE cents > thr_cents
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
        |     AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
        | round(sum(c_acctbal), 2) AS total_acctbal
        |FROM k JOIN nation ON n_nationkey = c_nationkey
        |GROUP BY 1""".stripMargin,
    // q328: exact HUGEINT lag-covariance sums over the calendar spine;
    // r_k as ×10⁶ `//` fixed point; Durbin-Levinson on the 10⁻⁶-grid
    // doubles with the identical expression shape as the Spark side
    "q328_pacf_revenue" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day,
        |   CAST(i AS INTEGER) AS i
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.i, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |lag_agg AS (SELECT CAST(t.k AS INTEGER) AS k,
        |   count(*) AS n_k,
        |   sum(CAST(a.x AS HUGEINT) * bb.x) AS sxy,
        |   sum(a.x) AS sh, sum(bb.x) AS st
        |  FROM x a CROSS JOIN range(0, 4) t(k)
        |  JOIN x bb ON bb.i = a.i + CAST(t.k AS INTEGER)
        |  GROUP BY 1),
        |g AS (SELECT n_k AS n, sxy AS sxx, sh AS s FROM lag_agg WHERE k = 0),
        |per AS (SELECT k,
        |   CAST(sxy AS HUGEINT) * (n * n)
        |     - CAST(s AS HUGEINT) * n * (sh + st)
        |     + CAST(s AS HUGEINT) * s * n_k AS num,
        |   CAST(sxx AS HUGEINT) * (n * n)
        |     - CAST(s AS HUGEINT) * s * n AS den
        |  FROM lag_agg CROSS JOIN g),
        |rr AS (SELECT k, CAST((num * 1000000) // den AS BIGINT) AS r_fp
        |  FROM per),
        |wide AS (SELECT CAST((SELECT n FROM g) AS BIGINT) AS n_days,
        |   max(CASE WHEN k = 1 THEN r_fp END) AS acf1_fp,
        |   max(CASE WHEN k = 2 THEN r_fp END) AS acf2_fp,
        |   max(CASE WHEN k = 3 THEN r_fp END) AS acf3_fp
        |  FROM rr),
        |d1 AS (SELECT *,
        |   CAST(acf1_fp AS DOUBLE) / 1000000.0 AS r1,
        |   CAST(acf2_fp AS DOUBLE) / 1000000.0 AS r2,
        |   CAST(acf3_fp AS DOUBLE) / 1000000.0 AS r3 FROM wide),
        |d2 AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS a22 FROM d1),
        |d3 AS (SELECT *, r1 * (1.0 - a22) AS a21 FROM d2)
        |SELECT n_days, acf1_fp, acf2_fp, acf3_fp,
        | round(r1, 6) AS pacf1, round(a22, 6) AS pacf2,
        | round((r3 - a21 * r2 - a22 * r1)
        |   / (1.0 - a21 * r1 - a22 * r2), 6) AS pacf3
        |FROM d3""".stripMargin,
    // q329: identical bucket/Morton integer arithmetic; three total-order
    // window passes cut into 1000-row files
    "q329_zorder_layout" -> {
      val z = (0 until 8).map(i =>
        s"(((db >> $i) & 1) << ${2 * i + 1}) + (((pb >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH base AS (SELECT l_orderkey, l_linenumber,
         |   least(255, greatest(0, datediff('day', DATE '1995-01-01',
         |     CAST(l_shipdate AS DATE)) // 10)) AS db,
         |   least(255, CAST(floor(l_extendedprice / 400) AS INTEGER)) AS pb
         |  FROM lineitem),
         |coded AS (SELECT *, $z AS z,
         |   CASE WHEN db BETWEEN 30 AND 60 AND pb BETWEEN 40 AND 90
         |    THEN 1 ELSE 0 END AS hit
         |  FROM base),
         |f AS (
         | SELECT 'natural' AS layout, (row_number() OVER (
         |    ORDER BY l_orderkey, l_linenumber) - 1) // 1000 AS file_id,
         |   db, pb, hit FROM coded
         | UNION ALL
         | SELECT 'lex_day_price', (row_number() OVER (
         |    ORDER BY db, pb, l_orderkey, l_linenumber) - 1) // 1000,
         |   db, pb, hit FROM coded
         | UNION ALL
         | SELECT 'zorder', (row_number() OVER (
         |    ORDER BY z, l_orderkey, l_linenumber) - 1) // 1000,
         |   db, pb, hit FROM coded),
         |pf AS (SELECT layout, file_id,
         |   CASE WHEN min(db) <= 60 AND max(db) >= 30
         |     AND min(pb) <= 90 AND max(pb) >= 40 THEN 1 ELSE 0 END
         |    AS ovl,
         |   CASE WHEN sum(hit) > 0 THEN 1 ELSE 0 END AS has_hits,
         |   sum(hit) AS hits
         |  FROM f GROUP BY 1, 2)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
         | CAST(sum(ovl) AS BIGINT) AS files_scanned,
         | CAST(sum(has_hits) AS BIGINT) AS files_with_hits,
         | CAST(sum(hits) AS BIGINT) AS n_rows_matched,
         | round(1.0 - CAST(sum(ovl) AS DOUBLE) / count(*), 6)
         |  AS skip_rate
         |FROM pf GROUP BY 1""".stripMargin
    },
    // q330: exact row-count half cut on the (score_fp, doc_id) total
    // order; AP terms ×10⁶-rounded per rank before the order-free sum
    "q330_classifier_eval" ->
      s"""WITH ms AS ($modelScoreSql),
         |rep AS (SELECT doc_id,
         |   CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE round(1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 6)
         |   END AS dup_bigram_frac
         |  FROM (SELECT doc_id,
         |    list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1]) AS bg
         |   FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))),
         |lab AS (SELECT doc_id,
         |   CAST(round(model_score * 1000000) AS BIGINT) AS score_fp,
         |   CASE WHEN dup_bigram_frac >= 0.1 THEN 1 ELSE 0 END AS is_rep
         |  FROM ms JOIN rep USING (doc_id)),
         |rk AS (SELECT *,
         |   row_number() OVER (ORDER BY score_fp, doc_id) AS rn,
         |   count(*) OVER () AS n,
         |   sum(is_rep) OVER (ORDER BY score_fp, doc_id
         |     ROWS UNBOUNDED PRECEDING) AS cum_pos
         |  FROM lab),
         |rk2 AS (SELECT *,
         |   CASE WHEN rn <= n // 2 THEN 1 ELSE 0 END AS pred,
         |   CASE WHEN is_rep = 1 THEN CAST(round(
         |     CAST(1000000 * CAST(cum_pos AS BIGINT) AS DOUBLE)
         |      / CAST(rn AS DOUBLE)) AS BIGINT) END AS ap_term
         |  FROM rk),
         |cells AS (SELECT CAST(max(n) AS BIGINT) AS n_docs,
         |   CAST(sum(is_rep) AS BIGINT) AS n_pos,
         |   CAST(sum(CASE WHEN pred = 1 AND is_rep = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |   CAST(sum(CASE WHEN pred = 1 AND is_rep = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |   CAST(sum(CASE WHEN pred = 0 AND is_rep = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn,
         |   CAST(sum(CASE WHEN pred = 0 AND is_rep = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |   CAST(sum(ap_term) AS BIGINT) AS ap_fp
         |  FROM rk2)
         |SELECT n_docs, n_pos, tp, fp, tn, fn,
         | CASE WHEN tp + fp = 0 THEN 0.0
         |  ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END
         |  AS precision_at_half,
         | CASE WHEN tp + fn = 0 THEN 0.0
         |  ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END
         |  AS recall_at_half,
         | CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
         |  ELSE round(CAST(2 * tp AS DOUBLE)
         |    / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1_at_half,
         | round((CASE WHEN tp + fn = 0 THEN 0.0
         |    ELSE CAST(tp AS DOUBLE) / (tp + fn) END
         |   + CASE WHEN tn + fp = 0 THEN 0.0
         |    ELSE CAST(tn AS DOUBLE) / (tn + fp) END) / 2.0, 6)
         |  AS balanced_acc,
         | CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0 OR tn + fn = 0
         |  THEN 0.0
         |  ELSE round(CAST(tp * tn - fp * fn AS DOUBLE)
         |    / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
         |      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6) END
         |  AS mcc,
         | CASE WHEN n_pos = 0 THEN 0.0
         |  ELSE round(CAST(ap_fp AS DOUBLE)
         |    / (1000000.0 * CAST(n_pos AS DOUBLE)), 6) END AS avg_precision
         |FROM cells""".stripMargin,
    // q331: the q148 basket grain; directed pairs, integer-ratio
    // conviction, NULL for confidence-1 rules. Baskets capped at 32
    // items (smallest ids win) — the engine's contract, mirrored here
    "q331_assoc_rules" ->
      """WITH raw AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |   CAST(json_extract_string(props, '$.k') AS INTEGER) AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |items AS (SELECT user_id, day, item FROM (
        |   SELECT *, row_number() OVER (PARTITION BY user_id, day
        |     ORDER BY item) AS rk FROM raw) WHERE rk <= 32),
        |tot AS (SELECT count(*) AS n_baskets
        |  FROM (SELECT DISTINCT user_id, day FROM items)),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
        |  FROM items GROUP BY 1),
        |r AS (SELECT a.item AS antecedent, b.item AS consequent,
        |   CAST(count(*) AS BIGINT) AS n_both
        |  FROM items a JOIN items b ON a.user_id = b.user_id
        |   AND a.day = b.day AND a.item <> b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT antecedent, consequent, n_both,
        | ia.n_item AS n_ant, ib.n_item AS n_cons,
        | round(CAST(n_both AS DOUBLE) / n_baskets, 6) AS support,
        | round(CAST(n_both AS DOUBLE) / ia.n_item, 6) AS confidence,
        | round(CAST(n_both AS DOUBLE) * n_baskets
        |   / (ia.n_item * ib.n_item), 6) AS lift,
        | CASE WHEN ia.n_item = n_both THEN NULL
        |  ELSE round(CAST((n_baskets - ib.n_item) * ia.n_item AS DOUBLE)
        |    / CAST((ia.n_item - n_both) * n_baskets AS DOUBLE), 6) END
        |  AS conviction
        |FROM r JOIN ic ia ON ia.item = antecedent
        |JOIN ic ib ON ib.item = consequent
        |CROSS JOIN tot""".stripMargin,
    // q332: three unrolled support-peel rounds over the q25 pair graph;
    // support(u,v) = |N(u) ∩ N(v)| via the wedge self-join, k−2 = 1 so
    // the filter is "appears in ≥1 triangle" (inner join + DISTINCT)
    "q332_ktruss_peel" ->
      s"""WITH e1 AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |a1 AS (SELECT doc1 AS u, doc2 AS v FROM e1
         |       UNION ALL SELECT doc2, doc1 FROM e1),
         |e2 AS (SELECT DISTINCT e.doc1, e.doc2 FROM e1 e
         |  JOIN a1 x ON x.u = e.doc1 JOIN a1 y ON y.u = e.doc2
         |   AND x.v = y.v),
         |a2 AS (SELECT doc1 AS u, doc2 AS v FROM e2
         |       UNION ALL SELECT doc2, doc1 FROM e2),
         |e3 AS (SELECT DISTINCT e.doc1, e.doc2 FROM e2 e
         |  JOIN a2 x ON x.u = e.doc1 JOIN a2 y ON y.u = e.doc2
         |   AND x.v = y.v),
         |a3 AS (SELECT doc1 AS u, doc2 AS v FROM e3
         |       UNION ALL SELECT doc2, doc1 FROM e3),
         |e4 AS (SELECT DISTINCT e.doc1, e.doc2 FROM e3 e
         |  JOIN a3 x ON x.u = e.doc1 JOIN a3 y ON y.u = e.doc2
         |   AND x.v = y.v)
         |SELECT CAST(1 AS INTEGER) AS round,
         |  CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges_before,
         |  CAST((SELECT count(*) FROM e2) AS BIGINT) AS n_edges_after
         |UNION ALL SELECT 2, (SELECT count(*) FROM e2),
         |  (SELECT count(*) FROM e3)
         |UNION ALL SELECT 3, (SELECT count(*) FROM e3),
         |  (SELECT count(*) FROM e4)""".stripMargin,
    // q333: the q203 cents contract; full-outer merge then diff vs the
    // single-pass recompute; q280-style positional mod-97 checksums
    "q333_incr_agg_audit" ->
      """WITH o AS (SELECT o_orderdate, CAST(o_orderdate AS DATE) AS day,
        |   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |base AS (SELECT day, sum(cents) AS b_cents, count(*) AS b_n
        |  FROM o WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
        |delta AS (SELECT day, sum(cents) AS d_cents, count(*) AS d_n
        |  FROM o WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1),
        |m AS (SELECT day, b_cents, d_cents,
        |   coalesce(b_cents, 0) + coalesce(d_cents, 0) AS m_cents,
        |   coalesce(b_n, 0) + coalesce(d_n, 0) AS m_n
        |  FROM base FULL OUTER JOIN delta USING (day)),
        |f AS (SELECT day, sum(cents) AS f_cents, count(*) AS f_n
        |  FROM o GROUP BY 1),
        |j AS (SELECT * FROM m FULL OUTER JOIN f USING (day))
        |SELECT
        | CAST(sum(CASE WHEN b_cents IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_days_base,
        | CAST(sum(CASE WHEN d_cents IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_days_delta,
        | CAST(count(*) AS BIGINT) AS n_days_merged,
        | CAST(sum(CASE WHEN m_cents <> f_cents OR m_n <> f_n
        |   OR m_cents IS NULL OR f_cents IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_mismatched_days,
        | CAST(sum(CAST(coalesce(m_cents, 0) AS HUGEINT)
        |   * ((day - DATE '1970-01-01') % 97 + 1)) AS BIGINT)
        |  AS checksum_merged,
        | CAST(sum(CAST(coalesce(f_cents, 0) AS HUGEINT)
        |   * ((day - DATE '1970-01-01') % 97 + 1)) AS BIGINT)
        |  AS checksum_full
        |FROM j""".stripMargin,
    // q334: the q219 row-at-a-time recursion replaying the truncating
    // dyadic Holt step (// truncates toward zero = Scala /, verified)
    "q334_holt_backtest" ->
      """WITH RECURSIVE daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS rn,
        |   CAST(coalesce(cents, 0) AS BIGINT) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |nn AS (SELECT max(rn) AS n FROM x),
        |h(rn, l, tr, tot, mx) AS (
        |  SELECT rn, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |     CAST(0 AS BIGINT)
        |   FROM x WHERE rn = 1
        |  UNION ALL
        |  SELECT x.rn,
        |     (x.x + h.l + h.tr) // 2,
        |     ((x.x + h.l + h.tr) // 2 - h.l + 3 * h.tr) // 4,
        |     h.tot + abs(x.x - (h.l + h.tr)),
        |     greatest(h.mx, abs(x.x - (h.l + h.tr)))
        |   FROM h JOIN x ON x.rn = h.rn + 1)
        |SELECT CAST(nn.n AS BIGINT) AS n_days,
        | CAST(h.l AS BIGINT) AS final_level_cents,
        | CAST(h.tr AS BIGINT) AS final_trend_cents,
        | CAST(h.tot AS BIGINT) AS total_abs_err_cents,
        | CAST(h.mx AS BIGINT) AS max_abs_err_cents,
        | round(CAST(h.tot AS DOUBLE)
        |   / ((CAST(nn.n AS DOUBLE) - 1) * 100.0), 6) AS mae_dollars
        |FROM h, nn WHERE h.rn = nn.n""".stripMargin,
    // q335: the (size desc, source, g) total order ranked, then the
    // greedy next-fit carried row-at-a-time (q219 recursion recipe)
    "q335_compaction_plan" ->
      """WITH RECURSIVE f AS (SELECT source, doc_id // 50 AS g,
        |   CAST(sum(n_chars) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT sz, CAST(row_number() OVER (
        |    ORDER BY sz DESC, source, g) AS BIGINT) AS rn FROM f),
        |st(rn, bin, fill) AS (
        |  SELECT rn, 0, sz FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn,
        |     CASE WHEN st.fill + r.sz <= 4096 THEN st.bin
        |      ELSE st.bin + 1 END,
        |     CASE WHEN st.fill + r.sz <= 4096 THEN st.fill + r.sz
        |      ELSE r.sz END
        |   FROM st JOIN r ON r.rn = st.rn + 1)
        |SELECT CAST(st.bin AS INTEGER) AS bin_id,
        | CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(r.sz) AS BIGINT) AS total_bytes,
        | CAST(max(r.sz) AS BIGINT) AS largest_file,
        | CAST(min(r.sz) AS BIGINT) AS smallest_file,
        | round(CAST(sum(r.sz) AS DOUBLE) / 4096.0, 6) AS fill_ratio
        |FROM st JOIN r USING (rn) GROUP BY 1""".stripMargin,
    // q336: three unrolled synchronous majority-vote rounds over the q25
    // pair graph; per round argmax (count desc, label asc) of neighbor
    // labels, isolated vertices carry their label via the left join
    "q336_lpa_communities" -> lpaCommunitiesSql,
    // q337: cumulative distinct reach at 1/2/3 hops (self excluded),
    // frontier growth read as the capped eccentricity
    "q337_hop_neighborhoods" ->
      s"""WITH mp AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |e AS (SELECT doc1 AS src, doc2 AS dst FROM mp
         |      UNION ALL SELECT doc2, doc1 FROM mp),
         |r1 AS (SELECT DISTINCT src, dst FROM e),
         |r2 AS (SELECT DISTINCT src, dst FROM (
         |  SELECT r1.src, e.dst FROM r1 JOIN e ON e.src = r1.dst
         |   WHERE r1.src <> e.dst
         |  UNION ALL SELECT src, dst FROM r1)),
         |r3 AS (SELECT DISTINCT src, dst FROM (
         |  SELECT r2.src, e.dst FROM r2 JOIN e ON e.src = r2.dst
         |   WHERE r2.src <> e.dst
         |  UNION ALL SELECT src, dst FROM r2)),
         |c1 AS (SELECT src, CAST(count(*) AS BIGINT) AS n1 FROM r1 GROUP BY 1),
         |c2 AS (SELECT src, CAST(count(*) AS BIGINT) AS n2 FROM r2 GROUP BY 1),
         |c3 AS (SELECT src, CAST(count(*) AS BIGINT) AS n3 FROM r3 GROUP BY 1)
         |SELECT c1.src AS doc_id, n1, n2, n3,
         | CAST(CASE WHEN n3 > n2 THEN 3 WHEN n2 > n1 THEN 2 ELSE 1 END
         |   AS INTEGER) AS ecc_capped
         |FROM c1 JOIN c2 USING (src) JOIN c3 ON c3.src = c1.src""".stripMargin,
    // q338: islands on token position, runs capped at 4 words; word
    // deg/freq over kept runs; truncating x1e6 fixed-point word scores
    // summed per phrase instance — exact integers end to end
    "q338_rake_keyphrases" ->
      """WITH w AS (SELECT doc_id, i, w FROM (
        |   SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |    generate_subscripts(string_split(text, ' '), 1) AS i
        |   FROM documents)
        |  WHERE w NOT IN ('the','a','of','and','to') AND w <> ''),
        |g AS (SELECT doc_id, i, w,
        |   i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM w),
        |runs AS (SELECT doc_id, grp, count(*) AS rl,
        |   string_agg(w, ' ' ORDER BY i) AS phrase
        |  FROM g GROUP BY 1, 2 HAVING count(*) <= 4),
        |rw AS (SELECT g.doc_id, g.grp, g.w, r.rl, r.phrase
        |  FROM g JOIN runs r USING (doc_id, grp)),
        |wsc AS (SELECT w, (CAST(sum(rl) AS BIGINT) * 1000000)
        |    // CAST(count(*) AS BIGINT) AS sfp
        |  FROM rw GROUP BY 1),
        |inst AS (SELECT rw.doc_id, rw.grp, rw.phrase, sum(sfp) AS ifp
        |  FROM rw JOIN wsc USING (w) GROUP BY 1, 2, 3),
        |ph AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
        |   CAST(max(ifp) AS BIGINT) AS score_fp FROM inst GROUP BY 1),
        |top AS (SELECT *, row_number() OVER (
        |    ORDER BY score_fp DESC, phrase) AS rn FROM ph)
        |SELECT phrase, n_occurrences, score_fp,
        | round(CAST(score_fp AS DOUBLE) / 1e6, 6) AS score
        |FROM top WHERE rn <= 30""".stripMargin,
    // q339: the q204 scored/ranked contract (4-dp cosine, id tiebreak);
    // truncating x1e6 reciprocal ranks, zero when no top-10 relevant
    "q339_retrieval_mrr" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS ql,
         |   CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 100),
         |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |scored AS (SELECT query_id, ql, vec_id AS neighbor_id,
         |   label AS nl, ${cosExpr("qv", "v")} AS cosine
         |  FROM c JOIN q ON vec_id <> query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored),
         |pq AS (SELECT query_id, ql,
         |   min(CASE WHEN nl = ql THEN rnk END) AS first_rel,
         |   sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS hits
         |  FROM r WHERE rnk <= 10 GROUP BY 1, 2),
         |pq2 AS (SELECT *, coalesce(1000000 // first_rel, 0) AS rr_fp
         |  FROM pq)
         |SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_queries,
         | CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_hit_queries,
         | round(CAST(sum(rr_fp) AS DOUBLE)
         |   / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mrr_at_k,
         | round(CAST(sum(hits) AS DOUBLE)
         |   / (CAST(count(*) AS DOUBLE) * 10), 6) AS precision_at_k
         |FROM pq2 GROUP BY 1""".stripMargin,
    // q340: exact integer numerator sum_c(4*m*e_c - d_c^2) over 4m^2;
    // the same pairs feed edges, degrees, and both label tables
    "q340_partition_modularity" ->
      s"""WITH mp AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM mp),
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
         |   SELECT doc1 AS doc_id FROM mp
         |   UNION ALL SELECT doc2 FROM mp) GROUP BY 1),
         |comp AS (SELECT doc_id, component AS c FROM ($componentsSql)),
         |lpa AS (SELECT doc_id, community AS c
         |  FROM ($lpaCommunitiesSql)),
         |single AS (SELECT doc_id, doc_id AS c FROM documents),
         |parts AS (
         |  SELECT 'components' AS part, doc_id, c FROM comp
         |  UNION ALL SELECT 'lpa', doc_id, c FROM lpa
         |  UNION ALL SELECT 'singletons', doc_id, c FROM single),
         |ec AS (SELECT a.part, a.c, CAST(count(*) AS BIGINT) AS ec
         |  FROM mp JOIN parts a ON a.doc_id = mp.doc1
         |  JOIN parts b ON b.doc_id = mp.doc2 AND b.part = a.part
         |  WHERE a.c = b.c GROUP BY 1, 2),
         |dc AS (SELECT parts.part, parts.c,
         |   CAST(sum(deg.deg) AS BIGINT) AS dc
         |  FROM deg JOIN parts USING (doc_id) GROUP BY 1, 2),
         |perc AS (SELECT dc.part, dc.dc, coalesce(ec.ec, 0) AS ec
         |  FROM dc LEFT JOIN ec ON ec.part = dc.part AND ec.c = dc.c),
         |nc AS (SELECT part, CAST(count(DISTINCT c) AS BIGINT)
         |    AS n_communities FROM parts GROUP BY 1),
         |agg AS (SELECT part,
         |   CAST(sum(4 * m.m * ec - dc * dc) AS BIGINT) AS num,
         |   CAST(coalesce(sum(ec), 0) AS BIGINT) AS n_internal_edges
         |  FROM perc CROSS JOIN m GROUP BY 1, m.m)
         |SELECT agg.part AS "partition", nc.n_communities,
         | agg.n_internal_edges,
         | round(CAST(agg.num AS DOUBLE) / (4.0 * m.m * m.m), 6)
         |  AS modularity
         |FROM agg JOIN nc USING (part) CROSS JOIN m""".stripMargin,
    // q341: the q199 x1e6 quantization; centroid = truncating integer
    // mean; exact integer squared distances; argmin ties to smallest
    "q341_centroid_confusion" ->
      """WITH e AS (SELECT vec_id, label, i,
        |   CAST(round(emb[i + 1] * 1000000, 0) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |    FROM embeddings), unnest(range(0, 64)) r(i)),
        |cent AS (SELECT label AS cl, i,
        |   CAST(sum(xq) AS BIGINT) // CAST(count(*) AS BIGINT) AS cq
        |  FROM e GROUP BY 1, 2),
        |d2 AS (SELECT e.vec_id, e.label, cent.cl,
        |   sum(CAST((e.xq - cent.cq) AS HUGEINT)
        |     * CAST((e.xq - cent.cq) AS HUGEINT)) AS d2
        |  FROM e JOIN cent USING (i) GROUP BY 1, 2, 3),
        |pred AS (SELECT vec_id, label, cl FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY d2, cl) AS rn FROM d2) WHERE rn = 1)
        |SELECT label AS true_label, cl AS predicted_label,
        | CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2""".stripMargin,
    // q343: the spine joined to itself at +7 and +1 days; exact integer
    // error totals, NULL skill when the naive floor is exactly zero
    "q343_seasonal_naive" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.d0, spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |l7 AS (SELECT day + 7 AS day, x AS x7 FROM x),
        |l1 AS (SELECT day + 1 AS day, x AS x1 FROM x),
        |s AS (SELECT x.x, abs(x.x - x7) AS e7, abs(x.x - x1) AS e1
        |  FROM x JOIN l7 USING (day) JOIN l1 USING (day)
        |  WHERE x.day >= x.d0 + 7)
        |SELECT CAST(count(*) AS BIGINT) AS n_scored,
        | CAST(sum(e7) AS BIGINT) AS total_abs_err7_cents,
        | CAST(max(e7) AS BIGINT) AS max_abs_err7_cents,
        | round(CAST(sum(e7) AS DOUBLE) / (count(*) * 100.0), 6)
        |  AS mae7_dollars,
        | CAST(sum(e1) AS BIGINT) AS total_abs_err1_cents,
        | round(CAST(sum(e1) AS DOUBLE) / (count(*) * 100.0), 6)
        |  AS mae1_dollars,
        | CASE WHEN sum(e1) = 0 THEN NULL
        |  ELSE round(CAST(sum(e7) AS DOUBLE) / sum(e1), 6) END
        |  AS skill_vs_naive
        |FROM s""".stripMargin,
    // q344: exact order statistics at row ceil(q*n_keys) of the
    // (fanout, key)-sorted key grain; exact self-join mass sum(n^2)
    "q344_join_fanout" ->
      """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY n, key) AS rn FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |   CAST(sum(n) AS BIGINT) AS n_rows,
        |   CAST(max(n) AS BIGINT) AS max_fanout,
        |   CAST(sum(n * n) AS BIGINT) AS self_join_rows,
        |   CAST(max(n * n) AS BIGINT) AS top_sq FROM c)
        |SELECT n_keys, n_rows, max_fanout,
        | (SELECT n FROM r, t WHERE rn = CAST(ceil(n_keys * 0.5) AS BIGINT))
        |  AS p50_fanout,
        | (SELECT n FROM r, t WHERE rn = CAST(ceil(n_keys * 0.9) AS BIGINT))
        |  AS p90_fanout,
        | (SELECT n FROM r, t WHERE rn = CAST(ceil(n_keys * 0.99) AS BIGINT))
        |  AS p99_fanout,
        | self_join_rows,
        | round(CAST(top_sq AS DOUBLE) / self_join_rows, 6)
        |  AS top_key_share
        |FROM t""".stripMargin,
    // q345: the long form is the day×type count matrix with zero cells
    // kept — spine cross join, not a bare GROUP BY, mirrors unpivot
    // carrying the conditional-count zeros through
    "q345_unpivot_metrics" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
        |d AS (SELECT DISTINCT day FROM ev),
        |mt AS (SELECT unnest(['click','error','purchase','signup','view'])
        |  AS metric),
        |c AS (SELECT day, event_type AS metric, CAST(count(*) AS BIGINT)
        |  AS n FROM ev GROUP BY 1, 2)
        |SELECT d.day, mt.metric, coalesce(c.n, 0) AS n
        |FROM d CROSS JOIN mt
        |LEFT JOIN c ON c.day = d.day AND c.metric = mt.metric""".stripMargin,
    // q346: independent join-based restatement of the bitmap arithmetic —
    // retained = (u,d)⋈(u,d+lag), eligible = active days with lag days of
    // in-span follow-up
    "q346_bitmap_retention" ->
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |b AS (SELECT max(day) AS d1 FROM du),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
        |el AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS eligible
        |  FROM du, b, lags l
        |  WHERE du.day + CAST(l.lag AS INTEGER) <= b.d1 GROUP BY 1),
        |rt AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS retained
        |  FROM du a CROSS JOIN lags l
        |  JOIN du r ON r.user_id = a.user_id
        |   AND r.day = a.day + CAST(l.lag AS INTEGER)
        |  GROUP BY 1)
        |SELECT el.lag, coalesce(rt.retained, 0) AS retained, el.eligible,
        | CASE WHEN el.eligible = 0 THEN NULL
        |  ELSE round(CAST(coalesce(rt.retained, 0) AS DOUBLE)
        |   / el.eligible, 6) END AS retention_rate
        |FROM el LEFT JOIN rt USING (lag)""".stripMargin,
    // q347: the same per-source 64-smallest sketches as q210 ('kmv:'
    // hash domain), pair-merged; exact overlap from the shingle-keyed
    // equality join gates the estimator
    "q347_kmv_intersection" ->
      s"""WITH sh AS ($shingleRows),
         |g AS (SELECT d.source, sh.shingle FROM sh
         |  JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM g GROUP BY 1),
         |h AS (SELECT source, shingle,
         |   CAST(('0x' || substr(md5('kmv:' || shingle), 1, 15)) AS BIGINT)
         |    AS h FROM g),
         |r AS (SELECT source, h, shingle, row_number() OVER (
         |   PARTITION BY source ORDER BY h, shingle) AS rn FROM h),
         |sk AS (SELECT source, h FROM r WHERE rn <= 64),
         |p AS (SELECT a.source AS src_a, b.source AS src_b
         |  FROM sz a JOIN sz b ON a.source < b.source),
         |m AS (SELECT src_a, src_b, h, max(in_a) AS in_a, max(in_b) AS in_b
         |  FROM (
         |   SELECT p.src_a, p.src_b, sk.h, 1 AS in_a, 0 AS in_b
         |   FROM p JOIN sk ON sk.source = p.src_a
         |   UNION ALL
         |   SELECT p.src_a, p.src_b, sk.h, 0, 1
         |   FROM p JOIN sk ON sk.source = p.src_b)
         |  GROUP BY 1, 2, 3),
         |t AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
         |   ORDER BY h) AS rn FROM m),
         |e AS (SELECT src_a, src_b, max(h) AS kth_hash,
         |   CAST(sum(in_a * in_b) AS BIGINT) AS sketch_overlap,
         |   CAST(count(*) AS BIGINT) AS cnt
         |  FROM t WHERE rn <= 64 GROUP BY 1, 2),
         |ix AS (SELECT x.source AS src_a, y.source AS src_b,
         |   CAST(count(*) AS BIGINT) AS inter
         |  FROM g x JOIN g y ON x.shingle = y.shingle
         |   AND x.source < y.source GROUP BY 1, 2),
         |f AS (SELECT p.src_a, p.src_b, sa.n AS n_a, sb.n AS n_b,
         |   coalesce(ix.inter, 0) AS inter_exact,
         |   sa.n + sb.n - coalesce(ix.inter, 0) AS union_exact,
         |   e.kth_hash, e.sketch_overlap, e.cnt,
         |   CASE WHEN e.cnt < 64 THEN CAST(e.cnt AS DOUBLE)
         |    ELSE 63.0 * 1152921504606846976 / e.kth_hash END
         |    AS union_raw
         |  FROM p JOIN sz sa ON sa.source = p.src_a
         |  JOIN sz sb ON sb.source = p.src_b
         |  LEFT JOIN ix ON ix.src_a = p.src_a AND ix.src_b = p.src_b
         |  JOIN e ON e.src_a = p.src_a AND e.src_b = p.src_b)
         |SELECT src_a, src_b, n_a, n_b, inter_exact, union_exact,
         | kth_hash, sketch_overlap,
         | round(CAST(sketch_overlap AS DOUBLE) / cnt, 6) AS jaccard_est,
         | round(CAST(inter_exact AS DOUBLE) / union_exact, 6)
         |  AS jaccard_exact,
         | round(CAST(sketch_overlap AS DOUBLE) * union_raw / cnt, 4)
         |  AS inter_est,
         | round(union_raw, 4) AS union_est,
         | CASE WHEN inter_exact = 0 THEN NULL
         |  ELSE round((round(CAST(sketch_overlap AS DOUBLE) * union_raw
         |    / cnt, 4) - inter_exact) / inter_exact, 6) END
         |  AS inter_rel_err
         |FROM f""".stripMargin,
    // q348: quadratic ε-box join is the oracle's candidate generator
    // (500 docs); min-label recursive closure over core-core edges is the
    // same fixpoint the star resolver reaches; border pins to the min
    // neighboring core's component. Shared with q385 (distributed
    // resolver): both engines' resolvers converge to the same labels.
    "q348_grid_dbscan" -> gridDbscanSql,
    "q385_grid_dbscan_star" -> gridDbscanSql,
    // q349: per-shard every-32nd order statistic with weight 32 (pinned
    // md5 shard), cumulative-weight estimate, exact rank of the estimate
    "q349_coreset_quantiles" ->
      """WITH r0 AS (SELECT
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |  l_orderkey AS k1, l_linenumber AS k2,
        |  CAST(('0x' || substr(md5('cq:' || CAST(l_orderkey AS VARCHAR)
        |    || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
        |   % 8 AS shard
        | FROM lineitem),
        |kept AS (SELECT cents, shard, rn, CAST(32 AS BIGINT) AS wt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY shard
        |    ORDER BY cents, k1, k2) AS rn FROM r0)
        | WHERE rn % 32 = 0),
        |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS w_total FROM kept),
        |cum AS (SELECT cents, shard, rn, CAST(sum(wt) OVER (
        |   ORDER BY cents, shard, rn ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |   AS cum_w FROM kept),
        |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |   CAST(0.99 AS DOUBLE)]) AS q),
        |tg AS (SELECT q, w_total,
        |   greatest(1, CAST(floor(q * w_total) AS BIGINT)) AS target_w
        |  FROM qs, tot),
        |est AS (SELECT q, w_total, target_w, min(cents) AS est_cents
        |  FROM cum JOIN tg ON cum_w >= target_w GROUP BY 1, 2, 3),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem),
        |ex AS (SELECT e.q, CAST(sum(CASE WHEN r0.cents <= e.est_cents
        |   THEN 1 ELSE 0 END) AS BIGINT) AS exact_rank
        |  FROM r0 CROSS JOIN est e GROUP BY 1)
        |SELECT e.q, n.n_rows, e.w_total, e.target_w, e.est_cents,
        | ex.exact_rank,
        | round(abs(CAST(ex.exact_rank AS DOUBLE) / n.n_rows - e.q), 6)
        |  AS rank_err,
        | round(256.0 / n.n_rows, 6) AS err_bound
        |FROM est e JOIN ex USING (q) CROSS JOIN n""".stripMargin,
    // q350: the q94 fixed-point log contract (round ln at 6 dp, scale to
    // x1e6 BIGINT, integer-sum); argmax ties to the first language
    "q350_naive_bayes" ->
      """WITH dw AS (SELECT doc_id, lang, w FROM (
        |   SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |   FROM documents) WHERE w <> ''),
        |docw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM dw GROUP BY 1, 2),
        |ct AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS t_c
        |  FROM dw GROUP BY 1),
        |cwt AS (SELECT lang AS cls, w, CAST(count(*) AS BIGINT) AS cw
        |  FROM dw GROUP BY 1, 2),
        |v AS (SELECT DISTINCT w FROM dw),
        |vs AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM v),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |pr AS (SELECT cls, CAST(round(round(
        |    ln(CAST(n_c AS DOUBLE) / n_docs), 6) * 1000000) AS BIGINT)
        |   AS prior_fp
        |  FROM (SELECT lang AS cls, count(*) AS n_c FROM documents
        |    GROUP BY 1), nd),
        |tb AS (SELECT ct.cls, v.w, CAST(round(round(
        |    ln(CAST(coalesce(cwt.cw, 0) + 1 AS DOUBLE)
        |      / CAST(ct.t_c + vs.vsz AS DOUBLE)), 6) * 1000000) AS BIGINT)
        |   AS w_fp
        |  FROM v CROSS JOIN ct CROSS JOIN vs
        |  LEFT JOIN cwt ON cwt.cls = ct.cls AND cwt.w = v.w),
        |sc AS (SELECT docw.doc_id, tb.cls,
        |   CAST(sum(docw.cnt * tb.w_fp) AS BIGINT) AS like_fp
        |  FROM docw JOIN tb USING (w) GROUP BY 1, 2),
        |st AS (SELECT sc.doc_id, sc.cls,
        |   sc.like_fp + pr.prior_fp AS score_fp
        |  FROM sc JOIN pr USING (cls)),
        |best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score_fp DESC, cls) AS rn FROM st)
        |SELECT b.doc_id, d.lang AS actual_lang, b.cls AS predicted_lang,
        | CAST(b.score_fp AS BIGINT) AS best_score_fp
        |FROM best b JOIN documents d USING (doc_id) WHERE rn = 1""".stripMargin,
    // q351: the q343 daily spine, lag-7 absolute residuals; calibration =
    // first half by day, qhat = ceil(0.8*(n_cal+1))-th smallest
    "q351_conformal_forecast" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.d0, spine.day, coalesce(daily.cents, 0) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |l7 AS (SELECT day + 7 AS day, x AS x7 FROM x),
        |s AS (SELECT x.day, abs(x.x - x7) AS abs_r
        |  FROM x JOIN l7 USING (day) WHERE x.day >= x.d0 + 7),
        |idx AS (SELECT *, row_number() OVER (ORDER BY day) AS rn FROM s),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
        |   CAST(floor(count(*) / 2) AS BIGINT) AS n_cal FROM idx),
        |cal AS (SELECT i.abs_r, i.day FROM idx i, nt WHERE i.rn <= nt.n_cal),
        |kq AS (SELECT n_total, n_cal, least(n_cal,
        |   CAST(ceil(0.8 * (n_cal + 1)) AS BIGINT)) AS k_rank FROM nt),
        |cr AS (SELECT *, row_number() OVER (ORDER BY abs_r, day) AS rq
        |  FROM cal),
        |qh AS (SELECT kq.n_total, kq.n_cal, kq.k_rank,
        |   CAST(cr.abs_r AS BIGINT) AS qhat_cents
        |  FROM cr JOIN kq ON cr.rq = kq.k_rank),
        |ev AS (SELECT i.abs_r FROM idx i, nt WHERE i.rn > nt.n_cal)
        |SELECT qh.n_total, qh.n_cal, CAST(count(*) AS BIGINT) AS n_eval,
        | qh.k_rank, qh.qhat_cents,
        | CAST(sum(CASE WHEN ev.abs_r <= qh.qhat_cents THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_covered,
        | round(CAST(sum(CASE WHEN ev.abs_r <= qh.qhat_cents
        |   THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
        |FROM ev CROSS JOIN qh GROUP BY 1, 2, 4, 5""".stripMargin,
    // q352: histogram-trick split search; purity ordering in exact
    // BIGINT (sum-of-squares cross-multiplied), x1e6 truncating div
    "q352_decision_stump" ->
      """WITH f AS (SELECT doc_id,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
        |   AS n_spaces
        | FROM documents),
        |lng AS (SELECT pos, 'n_chars' AS feature, n_chars AS value FROM f
        | UNION ALL SELECT pos, 'n_tokens', n_tokens FROM f
        | UNION ALL SELECT pos, 'n_spaces', n_spaces FROM f),
        |cand AS (SELECT feature, value, CAST(count(*) AS BIGINT) AS cnt,
        |   CAST(sum(pos) AS BIGINT) AS p FROM lng GROUP BY 1, 2),
        |tot AS (SELECT feature, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(pos) AS BIGINT) AS ptot FROM lng GROUP BY 1),
        |cum AS (SELECT feature, value,
        |   CAST(sum(cnt) OVER w AS BIGINT) AS n_left,
        |   CAST(sum(p) OVER w AS BIGINT) AS p_left
        |  FROM cand WINDOW w AS (PARTITION BY feature ORDER BY value
        |   ROWS UNBOUNDED PRECEDING)),
        |sc AS (SELECT c.feature, c.value AS threshold, t.n,
        |   c.n_left, c.p_left,
        |   t.n - c.n_left AS n_right, t.ptot - c.p_left AS p_right
        |  FROM cum c JOIN tot t USING (feature) WHERE c.n_left < t.n),
        |r AS (SELECT *,
        |   CAST(((p_left * p_left
        |     + (n_left - p_left) * (n_left - p_left)) * n_right
        |    + (p_right * p_right
        |     + (n_right - p_right) * (n_right - p_right)) * n_left)
        |    * 1000000 // (n_left * n_right) AS BIGINT) AS score_fp
        |  FROM sc),
        |top AS (SELECT *, row_number() OVER (
        |   ORDER BY score_fp DESC, feature, threshold) AS split_rank
        |  FROM r)
        |SELECT feature, threshold, CAST(split_rank AS INTEGER) AS split_rank,
        | n_left, p_left, n_right, p_right, score_fp,
        | CAST(CASE WHEN 2 * p_left >= n_left THEN 1 ELSE 0 END AS INTEGER)
        |  AS pred_left,
        | CAST(CASE WHEN 2 * p_right >= n_right THEN 1 ELSE 0 END AS INTEGER)
        |  AS pred_right,
        | round(CAST(greatest(p_left, n_left - p_left)
        |   + greatest(p_right, n_right - p_right) AS DOUBLE) / n, 6)
        |  AS train_acc
        |FROM top WHERE split_rank <= 5""".stripMargin,
    // q353: fold = md5('cv:'||doc_id) % 5; train counts = global minus
    // the fold's own; pinned corpus vocab; the q350 fixed-point contract
    "q353_naive_bayes_cv" ->
      """WITH docs AS (SELECT doc_id, lang, text,
        |  CAST(CAST(('0x' || substr(md5('cv:' || CAST(doc_id AS VARCHAR)),
        |    1, 8)) AS BIGINT) % 5 AS INTEGER) AS fold FROM documents),
        |dw AS (SELECT doc_id, lang, fold, w FROM (
        |   SELECT doc_id, lang, fold, unnest(string_split(text, ' ')) AS w
        |   FROM docs) WHERE w <> ''),
        |docw AS (SELECT doc_id, fold, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM dw GROUP BY 1, 2, 3),
        |folds AS (SELECT CAST(unnest(range(0, 5)) AS INTEGER) AS fold),
        |gt AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS g_t
        |  FROM dw GROUP BY 1),
        |ftk AS (SELECT fold, lang AS cls, CAST(count(*) AS BIGINT) AS f_t
        |  FROM dw GROUP BY 1, 2),
        |trt AS (SELECT folds.fold, gt.cls,
        |   gt.g_t - coalesce(ftk.f_t, 0) AS t_c
        |  FROM folds CROSS JOIN gt
        |  LEFT JOIN ftk ON ftk.fold = folds.fold AND ftk.cls = gt.cls),
        |gw AS (SELECT lang AS cls, w, CAST(count(*) AS BIGINT) AS g_cw
        |  FROM dw GROUP BY 1, 2),
        |fw AS (SELECT fold, lang AS cls, w, CAST(count(*) AS BIGINT)
        |   AS f_cw FROM dw GROUP BY 1, 2, 3),
        |v AS (SELECT DISTINCT w FROM dw),
        |vs AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM v),
        |trw AS (SELECT folds.fold, gt.cls, v.w,
        |   coalesce(gw.g_cw, 0) - coalesce(fw.f_cw, 0) AS cw
        |  FROM folds CROSS JOIN gt CROSS JOIN v
        |  LEFT JOIN gw ON gw.cls = gt.cls AND gw.w = v.w
        |  LEFT JOIN fw ON fw.fold = folds.fold AND fw.cls = gt.cls
        |   AND fw.w = v.w),
        |gd AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS g_n
        |  FROM documents GROUP BY 1),
        |fd AS (SELECT fold, lang AS cls, CAST(count(*) AS BIGINT) AS f_n
        |  FROM docs GROUP BY 1, 2),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |fa AS (SELECT fold, CAST(count(*) AS BIGINT) AS f_docs
        |  FROM docs GROUP BY 1),
        |pr AS (SELECT folds.fold, gd.cls, CAST(round(round(
        |    ln(CAST(gd.g_n - coalesce(fd.f_n, 0) AS DOUBLE)
        |      / CAST(na.n_docs - fa.f_docs AS DOUBLE)), 6) * 1000000)
        |   AS BIGINT) AS prior_fp
        |  FROM folds CROSS JOIN gd CROSS JOIN na
        |  JOIN fa ON fa.fold = folds.fold
        |  LEFT JOIN fd ON fd.fold = folds.fold AND fd.cls = gd.cls),
        |tb AS (SELECT trw.fold, trw.cls, trw.w, CAST(round(round(
        |    ln(CAST(trw.cw + 1 AS DOUBLE)
        |      / CAST(trt.t_c + vs.vsz AS DOUBLE)), 6) * 1000000)
        |   AS BIGINT) AS w_fp
        |  FROM trw JOIN trt ON trt.fold = trw.fold AND trt.cls = trw.cls
        |  CROSS JOIN vs),
        |sc AS (SELECT docw.doc_id, docw.fold, tb.cls,
        |   CAST(sum(docw.cnt * tb.w_fp) AS BIGINT) AS like_fp
        |  FROM docw JOIN tb ON tb.fold = docw.fold AND tb.w = docw.w
        |  GROUP BY 1, 2, 3),
        |st AS (SELECT sc.doc_id, sc.fold, sc.cls,
        |   sc.like_fp + pr.prior_fp AS score_fp
        |  FROM sc JOIN pr ON pr.fold = sc.fold AND pr.cls = sc.cls),
        |best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score_fp DESC, cls) AS rn FROM st),
        |ok AS (SELECT b.fold,
        |   CASE WHEN b.cls = d.lang THEN 1 ELSE 0 END AS ok
        |  FROM best b JOIN docs d USING (doc_id) WHERE rn = 1),
        |pf AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
        |   CAST(sum(ok) AS BIGINT) AS n_correct FROM ok GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(-1 AS INTEGER), CAST(count(*) AS BIGINT),
        |   CAST(sum(ok) AS BIGINT) FROM ok)
        |SELECT fold, n_test, n_correct,
        | round(CAST(n_correct AS DOUBLE) / n_test, 6) AS accuracy
        |FROM pf""".stripMargin,
    // q354: permutation b labels the first n_en docs in pinned
    // md5('pt:'||b||':'||doc_id) order; x1e6 truncating mean difference
    "q354_permutation_test" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(pos) AS BIGINT) AS n_en,
        |   CAST(count(*) - sum(pos) AS BIGINT) AS n_rest,
        |   CAST((sum(v * pos) * 1000000) // sum(pos)
        |    - ((sum(v) - sum(v * pos)) * 1000000)
        |      // (count(*) - sum(pos)) AS BIGINT) AS obs_diff_fp
        |  FROM base),
        |bs AS (SELECT CAST(unnest(range(1, 20)) AS INTEGER) AS b),
        |rk AS (SELECT b, v, row_number() OVER (PARTITION BY b
        |   ORDER BY md5('pt:' || CAST(b AS VARCHAR) || ':'
        |    || CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM base CROSS JOIN bs),
        |pm AS (SELECT rk.b,
        |   CAST((sum(CASE WHEN rk.r <= obs.n_en THEN rk.v ELSE 0 END)
        |     * 1000000) // obs.n_en
        |    - ((sum(rk.v) - sum(CASE WHEN rk.r <= obs.n_en THEN rk.v
        |       ELSE 0 END)) * 1000000) // (count(*) - obs.n_en)
        |    AS BIGINT) AS diff_fp
        |  FROM rk CROSS JOIN obs GROUP BY rk.b, obs.n_en)
        |SELECT obs.n, obs.n_en, obs.n_rest, obs.obs_diff_fp,
        | CAST(count(*) AS BIGINT) AS n_perms,
        | CAST(sum(CASE WHEN abs(pm.diff_fp) >= abs(obs.obs_diff_fp)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
        | CAST(min(pm.diff_fp) AS BIGINT) AS min_perm_fp,
        | CAST(max(pm.diff_fp) AS BIGINT) AS max_perm_fp,
        | round(CAST(sum(CASE WHEN abs(pm.diff_fp) >= abs(obs.obs_diff_fp)
        |    THEN 1 ELSE 0 END) + 1 AS DOUBLE) / (count(*) + 1), 6)
        |  AS p_value
        |FROM pm CROSS JOIN obs GROUP BY 1, 2, 3, 4""".stripMargin,
    // q355: PAV via fitted(i) = max_{j<=i} min_{k>=i} of the x1e6
    // truncating segment averages over n_chars-div-50 bins
    "q355_isotonic_calibration" ->
      """WITH binned AS (SELECT n_chars // 50 AS bin,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
        |   CAST(sum(y) AS BIGINT) AS pos FROM binned GROUP BY 1),
        |pref AS (SELECT bin, cnt, pos,
        |   CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
        |   CAST(sum(cnt) OVER w AS BIGINT) AS cum_n,
        |   CAST(sum(pos) OVER w AS BIGINT) AS cum_p
        |  FROM hist WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
        |seg AS (SELECT l.i AS j, r.i AS k,
        |   ((r.cum_p - (l.cum_p - l.pos)) * 1000000)
        |    // (r.cum_n - (l.cum_n - l.cnt)) AS a_fp
        |  FROM pref l JOIN pref r ON l.i <= r.i),
        |mins AS (SELECT p.i, seg.j, min(seg.a_fp) AS m_fp
        |  FROM seg JOIN pref p ON seg.j <= p.i AND seg.k >= p.i
        |  GROUP BY 1, 2),
        |fit AS (SELECT i, CAST(max(m_fp) AS BIGINT) AS fitted_fp
        |  FROM mins GROUP BY 1)
        |SELECT pref.bin, pref.i AS bin_rank, pref.cnt, pref.pos,
        | CAST((pref.pos * 1000000) // pref.cnt AS BIGINT) AS raw_fp,
        | fit.fitted_fp,
        | round(CAST(fit.fitted_fp AS DOUBLE) / 1e6, 6) AS fitted_rate
        |FROM pref JOIN fit USING (i)""".stripMargin,
    // q356: first-occurrence order pins ties by (ts, event_id); the
    // q331 support/confidence/lift contract on ORDERED pairs
    "q356_sequential_patterns" ->
      """WITH fx AS (SELECT user_id, event_type, ts, eid FROM (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |   event_id AS eid, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events) WHERE rn = 1),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM fx),
        |marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |  FROM fx GROUP BY 1),
        |p AS (SELECT a.event_type AS antecedent,
        |   b.event_type AS consequent, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM fx a JOIN fx b ON a.user_id = b.user_id
        |   AND a.event_type <> b.event_type
        |   AND (a.ts < b.ts OR (a.ts = b.ts AND a.eid < b.eid))
        |  GROUP BY 1, 2)
        |SELECT p.antecedent, p.consequent, ma.n_t AS n_a, mb.n_t AS n_b,
        | p.n_ab, n.n_users,
        | round(CAST(p.n_ab AS DOUBLE) / n.n_users, 6) AS support,
        | round(CAST(p.n_ab AS DOUBLE) / ma.n_t, 6) AS confidence,
        | round(CAST(p.n_ab AS DOUBLE) * n.n_users / (ma.n_t * mb.n_t), 6)
        |  AS lift
        |FROM p
        |JOIN marg ma ON ma.event_type = p.antecedent
        |JOIN marg mb ON mb.event_type = p.consequent
        |CROSS JOIN n""".stripMargin,
    // q357: pairwise squared distances on the +1e3-shifted 1e-3 grid of
    // the trained assignment; sign-split truncating fixed-point s(i)
    "q357_silhouette" ->
      s"""WITH asg AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
         |qv AS (SELECT vec_id, cell, list_transform(v,
         |   x -> CAST(round(x * 1000) AS BIGINT) + 1000) AS vq FROM asg),
         |p AS (SELECT a.vec_id AS i, a.cell AS ci, b.cell AS cj,
         |   list_sum(list_transform(list_zip(a.vq, b.vq),
         |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
         |  FROM qv a JOIN qv b ON a.vec_id <> b.vec_id),
         |g AS (SELECT i, ci, cj, CAST(sum(d2) AS BIGINT) AS s,
         |   CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2, 3),
         |own AS (SELECT i, (s * 1000000) // c AS a_fp, c + 1 AS n_own
         |  FROM g WHERE ci = cj),
         |oth AS (SELECT i, min((s * 1000000) // c) AS b_fp
         |  FROM g WHERE ci <> cj GROUP BY 1)
         |SELECT qv.vec_id, qv.cell,
         | CAST(coalesce(own.n_own, 1) AS BIGINT) AS n_own,
         | CAST(own.a_fp AS BIGINT) AS a_fp, CAST(oth.b_fp AS BIGINT) AS b_fp,
         | CAST(CASE WHEN own.a_fp IS NULL OR oth.b_fp IS NULL
         |    OR greatest(own.a_fp, oth.b_fp) = 0 THEN 0
         |   WHEN oth.b_fp >= own.a_fp THEN ((oth.b_fp - own.a_fp) * 1000000)
         |    // greatest(own.a_fp, oth.b_fp)
         |   ELSE -(((own.a_fp - oth.b_fp) * 1000000)
         |    // greatest(own.a_fp, oth.b_fp)) END AS BIGINT) AS s_fp
         |FROM qv LEFT JOIN own ON own.i = qv.vec_id
         |LEFT JOIN oth ON oth.i = qv.vec_id""".stripMargin,
    // q358: three unrolled mutual-reinforcement rounds, each side
    // max-normalized to the x1e6 grid (all masses positive)
    "q358_hits_bipartite" -> {
      def hr(p: String, c: String) =
        s"""a$c AS (SELECT event_type, CAST(sum(h) AS BIGINT) AS a_raw
           |  FROM e JOIN hub$p USING (user_id) GROUP BY 1),
           |am$c AS (SELECT max(a_raw) AS amx FROM a$c),
           |an$c AS (SELECT event_type,
           |   CAST((a_raw * 1000000) // amx AS BIGINT) AS a FROM a$c, am$c),
           |hr$c AS (SELECT user_id, CAST(sum(a) AS BIGINT) AS h_raw
           |  FROM e JOIN an$c USING (event_type) GROUP BY 1),
           |hm$c AS (SELECT max(h_raw) AS hmx FROM hr$c),
           |hub$c AS (SELECT user_id,
           |   CAST((h_raw * 1000000) // hmx AS BIGINT) AS h
           |  FROM hr$c, hm$c)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT user_id, event_type FROM events),
         |hub0 AS (SELECT DISTINCT user_id, CAST(1000000 AS BIGINT) AS h
         |  FROM e),
         |${hr("0", "1")},
         |${hr("1", "2")},
         |${hr("2", "3")},
         |marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
         |  FROM e GROUP BY 1)
         |SELECT an3.event_type, marg.n_users, an3.a AS authority_fp,
         | round(CAST(an3.a AS DOUBLE) / 1e6, 6) AS authority
         |FROM an3 JOIN marg USING (event_type)""".stripMargin
    },
    // q359: pinned LLR constants ln(0.25/0.20) -> 223144 and
    // ln(0.75/0.80) -> -64539 on the x1e6 grid; Wald bounds +-2944439
    "q359_sprt_daily" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_purchases
        | FROM events GROUP BY 1),
        |l AS (SELECT day, n_events, n_purchases,
        |  n_purchases * 223144 + (n_events - n_purchases) * (-64539)
        |   AS llr_fp FROM d)
        |SELECT day, n_events, n_purchases, CAST(llr_fp AS BIGINT) AS llr_fp,
        | CAST(sum(llr_fp) OVER w AS BIGINT) AS cum_llr_fp,
        | CASE WHEN sum(llr_fp) OVER w >= 2944439 THEN 'accept_h1'
        |  WHEN sum(llr_fp) OVER w <= -2944439 THEN 'accept_h0'
        |  ELSE 'continue' END AS state
        |FROM l WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)""".stripMargin,
    // q360: truncating integer-mean centroids on the shifted grid; exact
    // BIGINT scatters; CH = (between*(n-k)) / (within*(k-1)) at 6 dp
    "q360_cluster_dispersion" ->
      s"""WITH asg AS (SELECT vec_id, v, cell FROM ($trainedAssignSql)),
         |qv AS (SELECT vec_id, cell, list_transform(v,
         |   x -> CAST(round(x * 1000) AS BIGINT) + 1000) AS vq FROM asg),
         |dims AS (SELECT cell, generate_subscripts(vq, 1) AS dim,
         |   unnest(vq) AS x FROM qv),
         |cd AS (SELECT cell, dim, CAST(sum(x) // count(*) AS BIGINT) AS m
         |  FROM dims GROUP BY 1, 2),
         |cents AS (SELECT cell, list(m ORDER BY dim) AS cv
         |  FROM cd GROUP BY 1),
         |gd AS (SELECT dim, CAST(sum(x) // count(*) AS BIGINT) AS m
         |  FROM dims GROUP BY 1),
         |gl AS (SELECT list(m ORDER BY dim) AS gv FROM gd),
         |wss AS (SELECT qv.cell, CAST(count(*) AS BIGINT) AS n_c,
         |   CAST(sum(list_sum(list_transform(list_zip(qv.vq, cents.cv),
         |    z -> (z[1] - z[2]) * (z[1] - z[2])))) AS BIGINT) AS wss_c
         |  FROM qv JOIN cents USING (cell) GROUP BY 1),
         |pc AS (SELECT wss.cell, wss.n_c, wss.wss_c,
         |   CAST(wss.n_c * list_sum(list_transform(
         |    list_zip(cents.cv, gl.gv),
         |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS bgd_c
         |  FROM wss JOIN cents USING (cell) CROSS JOIN gl),
         |t AS (SELECT CAST(sum(wss_c) AS BIGINT) AS wss,
         |   CAST(sum(bgd_c) AS BIGINT) AS bgd,
         |   CAST(count(*) AS BIGINT) AS k, CAST(sum(n_c) AS BIGINT) AS n
         |  FROM pc)
         |SELECT pc.cell, pc.n_c, pc.wss_c, pc.bgd_c, t.k, t.n,
         | round(CAST(t.bgd AS DOUBLE) * CAST(t.n - t.k AS DOUBLE)
         |  / (CAST(t.wss AS DOUBLE) * CAST(t.k - 1 AS DOUBLE)), 6)
         |  AS ch_index
         |FROM pc CROSS JOIN t""".stripMargin,
    // q361: exact HUGEINT moments (the Spark side uses DECIMAL(38)),
    // then the identical scalar double sequence for theta/variances
    "q361_cuped" -> {
      val theta = "(covn / varxn)"
      val adj = s"(varyn - 2.0 * $theta * covn + $theta * $theta * varxn)"
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
         |b AS (SELECT min(day) AS d0 FROM ev),
         |u AS (SELECT user_id,
         |  CAST(sum(CASE WHEN date_diff('day', b.d0, day) < 15
         |    THEN cents ELSE 0 END) AS BIGINT) AS x,
         |  CAST(sum(CASE WHEN date_diff('day', b.d0, day) >= 15
         |    THEN cents ELSE 0 END) AS BIGINT) AS y
         | FROM ev, b GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  sum(CAST(x AS HUGEINT) * x) AS sxx,
         |  sum(CAST(y AS HUGEINT) * y) AS syy,
         |  sum(CAST(x AS HUGEINT) * y) AS sxy FROM u),
         |s AS (SELECT n, sx, sy,
         |  CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         |   / CAST(n AS DOUBLE) AS covn,
         |  CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |   / CAST(n AS DOUBLE) AS varxn,
         |  CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
         |   / CAST(n AS DOUBLE) AS varyn FROM m)
         |SELECT n, sx AS sum_x_cents, sy AS sum_y_cents,
         | round($theta, 6) AS theta,
         | round(varyn / n, 6) AS var_y,
         | round($adj / n, 6) AS var_adj,
         | round(1.0 - $adj / varyn, 6) AS reduction
         |FROM s""".stripMargin
    },
    // q362: exact order statistics on the x2 grid; Walsh pairs per
    // source (ALL rollup via the union-of-copies trick)
    "q362_robust_location" ->
      """WITH r0 AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v
        |  FROM documents
        | UNION ALL
        | SELECT 'ALL', doc_id, CAST(n_chars AS BIGINT) FROM documents),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY v, doc_id) AS BIGINT) AS r,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n,
        |  CAST(sum(v) OVER (PARTITION BY source) AS BIGINT) AS sv
        | FROM r0),
        |med AS (SELECT source, CAST(sum(v) * (3 - count(*)) AS BIGINT)
        |   AS median_2x FROM rk
        |  WHERE r = (n + 1) // 2 OR r = (n + 2) // 2 GROUP BY 1),
        |tr AS (SELECT source, CAST((sum(v) * 1000000) // count(*)
        |   AS BIGINT) AS trimmed10_fp FROM rk
        |  WHERE r > n // 10 AND r <= n - n // 10 GROUP BY 1),
        |sa AS (SELECT source, doc_id, v FROM r0 WHERE source <> 'ALL'
        | UNION ALL
        | SELECT source, doc_id, v FROM (
        |  SELECT source, doc_id, v, row_number() OVER (ORDER BY
        |    CAST(('0x' || substr(md5('rl:' || CAST(doc_id AS VARCHAR)),
        |     1, 8)) AS BIGINT), doc_id) AS hr
        |  FROM r0 WHERE source = 'ALL') WHERE hr <= 500),
        |wl AS (SELECT a.source, a.v + b.v AS w, a.doc_id AS i,
        |   b.doc_id AS j
        |  FROM sa a JOIN sa b ON a.source = b.source
        |   AND a.doc_id <= b.doc_id),
        |wr AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY w, i, j) AS BIGINT) AS r,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS m
        | FROM wl),
        |hl AS (SELECT source, CAST((sum(w) * (3 - count(*))) // 2
        |   AS BIGINT) AS hl_2x FROM wr
        |  WHERE r = (m + 1) // 2 OR r = (m + 2) // 2 GROUP BY 1),
        |sz AS (SELECT source, max(n) AS n, max(sv) AS sv FROM rk GROUP BY 1)
        |SELECT sz.source, sz.n,
        | CAST((sz.sv * 1000000) // sz.n AS BIGINT) AS mean_fp,
        | med.median_2x, tr.trimmed10_fp, hl.hl_2x
        |FROM sz JOIN med USING (source) JOIN tr USING (source)
        |JOIN hl USING (source)""".stripMargin,
    // q363: four staged group-median removals on the x16 grid — every
    // (lo+hi) div 2 is remainder-free, so engines agree on negatives
    "q363_median_polish" -> {
      def stage(i: Int, prev: String, g: String) =
        s"""r$i AS (SELECT *, row_number() OVER (PARTITION BY $g
           |   ORDER BY v, day) AS rr,
           |  count(*) OVER (PARTITION BY $g) AS nn FROM $prev),
           |m$i AS (SELECT $g, (sum(v) * (3 - count(*))) // 2 AS med
           |  FROM r$i WHERE rr = (nn + 1) // 2 OR rr = (nn + 2) // 2
           |  GROUP BY 1),
           |s$i AS (SELECT p.dow, p.wk, p.day, p.v - m$i.med AS v
           |  FROM $prev p JOIN m$i USING ($g))""".stripMargin
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
         |  FROM orders GROUP BY 1),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
         |  FROM b, range(0, 20000) r(i)
         |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
         |x AS (SELECT spine.d0, spine.day, coalesce(daily.cents, 0) AS x
         |  FROM spine LEFT JOIN daily USING (day)),
         |s0 AS (SELECT CAST(date_diff('day', d0, day) % 7 AS BIGINT)
         |   AS dow,
         |  CAST(date_diff('day', d0, day) // 7 AS BIGINT) AS wk,
         |  day, x * 16 AS v FROM x),
         |${stage(1, "s0", "dow")},
         |${stage(2, "s1", "wk")},
         |${stage(3, "s2", "dow")},
         |${stage(4, "s3", "wk")},
         |f AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs_resid_x16,
         |  CAST(max(abs(v)) AS BIGINT) AS max_abs_resid_x16
         | FROM s4 GROUP BY 1),
         |re AS (SELECT m1.dow, CAST(m1.med + m3.med AS BIGINT)
         |   AS row_eff_x16 FROM m1 JOIN m3 USING (dow))
         |SELECT CAST(f.dow AS INTEGER) AS dow, f.n_days, re.row_eff_x16,
         | f.sum_abs_resid_x16, f.max_abs_resid_x16
         |FROM f JOIN re USING (dow)""".stripMargin
    },
    // q364: df=1 GOF collapses to (n0-n1)^2/n; pinned chi2(0.05,1)
    "q364_srm_audit" ->
      """WITH ud AS (SELECT 'user_days' AS scope,
        |  CAST(user_id % 2 AS INTEGER) AS arm FROM (
        |   SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)),
        |te AS (SELECT event_type AS scope,
        |  CAST(user_id % 2 AS INTEGER) AS arm FROM events),
        |g AS (SELECT scope, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_arm0,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_arm1
        | FROM (SELECT * FROM ud UNION ALL SELECT * FROM te) GROUP BY 1)
        |SELECT scope, n, n_arm0, n_arm1,
        | round(CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE)
        |  / n, 6) AS chi2_stat,
        | CAST(round(CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE)
        |  / n, 6) > 3.841459 AS INTEGER) AS srm_flag
        |FROM g""".stripMargin,
    // q365: permille target rank (q_pm*n + 999) div 1000 — integer ceil,
    // no float rank; ties pin by (cents, event_id)
    "q365_qq_shift" ->
      """WITH rows0 AS (SELECT CASE WHEN event_type = 'purchase'
        |   THEN 'purchase' ELSE 'other' END AS grp,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents, event_id
        | FROM events),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY grp
        |   ORDER BY cents, event_id) AS BIGINT) AS r,
        |  CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
        | FROM rows0),
        |qs AS (SELECT CAST(unnest(range(1, 10)) * 100 AS INTEGER) AS q_pm),
        |a AS (SELECT rk.grp, qs.q_pm, rk.n, rk.cents
        |  FROM rk CROSS JOIN qs
        |  WHERE rk.r = (qs.q_pm * rk.n + 999) // 1000)
        |SELECT q_pm,
        | max(CASE WHEN grp = 'purchase' THEN n END) AS n_purchase,
        | max(CASE WHEN grp = 'other' THEN n END) AS n_other,
        | max(CASE WHEN grp = 'purchase' THEN cents END)
        |  AS q_purchase_cents,
        | max(CASE WHEN grp = 'other' THEN cents END) AS q_other_cents,
        | max(CASE WHEN grp = 'purchase' THEN cents END)
        |  - max(CASE WHEN grp = 'other' THEN cents END) AS shift_cents
        |FROM a GROUP BY 1""".stripMargin,
    // q366: churn = last active week before the span's final week;
    // per-week O/E/V in x1e6 truncating fixed point, chi2 at the end
    "q366_logrank_arms" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS d0,
        |   CAST(date_diff('day', min(day), max(day)) // 7 AS BIGINT)
        |    AS max_wk FROM ev),
        |u AS (SELECT user_id,
        |   CAST(max(date_diff('day', b.d0, day) // 7) AS BIGINT)
        |    AS last_wk, b.max_wk
        |  FROM ev, b GROUP BY 1, 3),
        |users AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm, last_wk,
        |   CASE WHEN last_wk < max_wk THEN 1 ELSE 0 END AS churned
        |  FROM u),
        |weeks AS (SELECT CAST(unnest(range(0, last_wk + 1)) AS BIGINT)
        |   AS wk, arm, last_wk, churned FROM users),
        |pw AS (SELECT wk,
        |   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |   CAST(sum(CASE WHEN arm = 0 AND wk = last_wk THEN churned
        |    ELSE 0 END) AS BIGINT) AS d1,
        |   CAST(sum(CASE WHEN arm = 1 AND wk = last_wk THEN churned
        |    ELSE 0 END) AS BIGINT) AS d2
        |  FROM weeks GROUP BY 1),
        |t AS (SELECT d1, d2,
        |   ((d1 + d2) * n1 * 1000000) // (n1 + n2) AS e1_fp,
        |   CASE WHEN n1 + n2 > 1 THEN
        |    (n1 * n2 * (d1 + d2) * ((n1 + n2) - (d1 + d2)) * 1000000)
        |     // ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1))
        |    ELSE 0 END AS v_fp
        |  FROM pw WHERE d1 + d2 > 0),
        |agg AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |   CAST(sum(d2) AS BIGINT) AS o2,
        |   CAST(sum(e1_fp) AS BIGINT) AS e1_fp,
        |   CAST(sum(v_fp) AS BIGINT) AS v_fp FROM t),
        |na AS (SELECT
        |   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_arm0,
        |   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_arm1 FROM users)
        |SELECT na.n_arm0, na.n_arm1, agg.o1, agg.o2, agg.e1_fp, agg.v_fp,
        | CASE WHEN agg.v_fp > 0 THEN round(
        |   (CAST(agg.o1 AS DOUBLE) * 1e6 - CAST(agg.e1_fp AS DOUBLE))
        |   * (CAST(agg.o1 AS DOUBLE) * 1e6 - CAST(agg.e1_fp AS DOUBLE))
        |   / (CAST(agg.v_fp AS DOUBLE) * 1e6), 6) ELSE NULL END
        |  AS chi2_stat
        |FROM agg CROSS JOIN na""".stripMargin,
    // q367: exact decile cut ranks (k*n) div 10; x1e6 truncating shares
    "q367_lorenz_curve" ->
      """WITH u AS (SELECT user_id,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |   AS cents FROM events GROUP BY 1),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY cents, user_id)
        |   AS BIGINT) AS r,
        |  CAST(sum(cents) OVER (ORDER BY cents, user_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM u),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(cents) AS BIGINT) AS total FROM u),
        |ks AS (SELECT CAST(unnest(range(1, 11)) AS INTEGER) AS decile)
        |SELECT ks.decile, rk.r AS n_users_cum, rk.cum AS cum_cents,
        | tot.total AS total_cents,
        | CAST((rk.cum * 1000000) // tot.total AS BIGINT) AS share_fp,
        | CAST(ks.decile AS BIGINT) * 100000
        |  - CAST((rk.cum * 1000000) // tot.total AS BIGINT)
        |  AS equality_gap_fp
        |FROM ks CROSS JOIN tot
        |JOIN rk ON rk.r = (ks.decile * tot.n) // 10""".stripMargin,
    // q369: exact HUGEINT scatter + 8 unrolled power-iteration rounds,
    // x1e6 max-normalized with the sign split out of every division
    "q369_principal_direction" -> {
      def pr(p: Int, c: Int) =
        s"""w$c AS (SELECT cov.d AS dim,
           |   sum(CAST(cov.cov AS HUGEINT) * v$p.v) AS w
           |  FROM cov JOIN v$p ON v$p.dim = cov.e GROUP BY 1),
           |mx$c AS (SELECT max(abs(w)) AS mx FROM w$c),
           |v$c AS MATERIALIZED (SELECT dim, CASE WHEN w >= 0
           |   THEN (w * 1000000) // mx
           |   ELSE -(((-w) * 1000000) // mx) END AS v
           |  FROM w$c, mx$c)""".stripMargin
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |qv AS (SELECT vec_id, list_transform(v,
         |   x -> CAST(round(x * 1000) AS BIGINT) + 1000) AS vq FROM c),
         |dims AS (SELECT vec_id, generate_subscripts(vq, 1) AS d,
         |   unnest(vq) AS x FROM qv),
         |mn AS (SELECT d, CAST(sum(x) // count(*) AS BIGINT) AS m
         |  FROM dims GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM qv),
         |cd AS (SELECT dims.vec_id, dims.d, dims.x - mn.m AS cv
         |  FROM dims JOIN mn USING (d)),
         |cov AS MATERIALIZED (SELECT a.d AS d, b.d AS e,
         |   CAST(sum(a.cv * b.cv) AS BIGINT) AS cov
         |  FROM cd a JOIN cd b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |v0 AS (SELECT d AS dim, CAST(1000000 AS HUGEINT) AS v FROM mn),
         |${pr(0, 1)},
         |${pr(1, 2)},
         |${pr(2, 3)},
         |${pr(3, 4)},
         |${pr(4, 5)},
         |${pr(5, 6)},
         |${pr(6, 7)},
         |${pr(7, 8)},
         |av AS (SELECT cov.d AS dim,
         |   sum(CAST(cov.cov AS HUGEINT) * v8.v) AS av
         |  FROM cov JOIN v8 ON v8.dim = cov.e GROUP BY 1),
         |ray AS (SELECT sum(v8.v * av.av) AS num,
         |   sum(v8.v * v8.v) AS den
         |  FROM v8 JOIN av USING (dim))
         |SELECT v8.dim, mn.m AS mean_grid, CAST(v8.v AS BIGINT) AS v_fp,
         | nn.n_vecs,
         | round(CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE), 4)
         |  AS lambda_rayleigh
         |FROM v8 JOIN mn ON mn.d = v8.dim
         |CROSS JOIN nn CROSS JOIN ray""".stripMargin
    },
    // q370: exact HUGEINT kernel-cell sums on the unshifted 1e-3 grid;
    // the three expectations and MMD^2 are the same double sequence
    "q370_mmd_quadratic" ->
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |g AS (SELECT vec_id,
        |  CASE WHEN label < 5 THEN 'x' ELSE 'y' END AS g,
        |  list_transform(v, x -> CAST(round(x * 1000) AS BIGINT)) AS vq
        | FROM c),
        |p AS (SELECT a.g AS ga, b.g AS gb,
        |   list_sum(list_transform(list_zip(a.vq, b.vq),
        |    z -> z[1] * z[2])) AS k
        |  FROM g a CROSS JOIN g b),
        |cells AS (SELECT ga, gb, sum(CAST(k * k AS HUGEINT)) AS s
        |  FROM p GROUP BY 1, 2),
        |ns AS (SELECT
        |   CAST(sum(CASE WHEN g = 'x' THEN 1 ELSE 0 END) AS BIGINT) AS nx,
        |   CAST(sum(CASE WHEN g = 'y' THEN 1 ELSE 0 END) AS BIGINT) AS ny
        |  FROM g),
        |e AS (SELECT ns.nx, ns.ny,
        |   CAST((SELECT s FROM cells WHERE ga = 'x' AND gb = 'x')
        |    AS DOUBLE) / (ns.nx * ns.nx) AS xx,
        |   CAST((SELECT s FROM cells WHERE ga = 'y' AND gb = 'y')
        |    AS DOUBLE) / (ns.ny * ns.ny) AS yy,
        |   CAST((SELECT s FROM cells WHERE ga = 'x' AND gb = 'y')
        |     + (SELECT s FROM cells WHERE ga = 'y' AND gb = 'x')
        |    AS DOUBLE) / (2 * ns.nx * ns.ny) AS xy
        |  FROM ns)
        |SELECT nx AS n_x, ny AS n_y,
        | round(xx / 1e12, 6) AS e_kxx_t,
        | round(yy / 1e12, 6) AS e_kyy_t,
        | round(xy / 1e12, 6) AS e_kxy_t,
        | round((xx + yy - 2.0 * xy) / 1e12, 6) AS mmd2_t
        |FROM e""".stripMargin,
    // q371: add-1/2 smoothed shares; WoE on the q94 log contract; the
    // IV product sign-split before its truncating x1e6 division so the
    // total row is an exact integer sum
    "q371_woe_iv" ->
      """WITH b AS (SELECT n_chars // 50 AS bin,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |h AS (SELECT bin, CAST(sum(y) AS BIGINT) AS pos,
        |   CAST(count(*) - sum(y) AS BIGINT) AS neg FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
        |   CAST(sum(neg) AS BIGINT) AS n FROM h),
        |s AS (SELECT bin, pos, neg,
        |   (CAST(pos AS DOUBLE) + 0.5) / (CAST(p AS DOUBLE) + 0.5) AS ps,
        |   (CAST(neg AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + 0.5) AS ns2
        |  FROM h, t),
        |sc AS (SELECT bin, pos, neg,
        |   CAST(round(round(ln(ps / ns2), 6) * 1000000) AS BIGINT)
        |    AS woe_fp,
        |   CAST(round((ps - ns2) * 1000000) AS BIGINT) AS dshare_fp
        |  FROM s),
        |f AS (SELECT *, CASE WHEN dshare_fp * woe_fp >= 0
        |   THEN (dshare_fp * woe_fp) // 1000000
        |   ELSE -((-(dshare_fp * woe_fp)) // 1000000) END AS iv_fp
        |  FROM sc)
        |SELECT bin, pos, neg, woe_fp, dshare_fp,
        | CAST(iv_fp AS BIGINT) AS iv_fp FROM f
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(sum(pos) AS BIGINT),
        | CAST(sum(neg) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        | CAST(sum(iv_fp) AS BIGINT) FROM f""".stripMargin,
    // q372: pinned md5-parity +-1 signs; 8 Z estimators; the x2-grid
    // median trick on the even estimator count
    "q372_ams_f2" ->
      """WITH f AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM f),
        |rs AS (SELECT CAST(unnest(range(1, 9)) AS INTEGER) AS r),
        |z AS (SELECT r, CAST(sum(f *
        |   (CAST(('0x' || substr(md5('ams:' || CAST(r AS VARCHAR) || ':'
        |     || w), 1, 8)) AS BIGINT) % 2 * 2 - 1)) AS BIGINT) AS z
        |  FROM f CROSS JOIN rs GROUP BY 1),
        |ze AS (SELECT r, z, z * z AS est FROM z),
        |md AS (SELECT CAST((sum(est) * (3 - count(*))) // 2 AS BIGINT)
        |   AS median_est FROM (
        |   SELECT est, row_number() OVER (ORDER BY est, r) AS rr,
        |    count(*) OVER () AS k FROM ze)
        |  WHERE rr = (k + 1) // 2 OR rr = (k + 2) // 2)
        |SELECT ze.r, ze.z, CAST(ze.est AS BIGINT) AS est, ex.f2_exact,
        | md.median_est,
        | round(CAST(md.median_est - ex.f2_exact AS DOUBLE) / ex.f2_exact,
        |  6) AS median_rel_err
        |FROM ze CROSS JOIN ex CROSS JOIN md""".stripMargin,
    // q373: prefix-window PH terms; sign-split x1e6 truncating division
    // of the exact rational deviation (t*x - S)/t
    "q373_page_hinkley" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.day,
        |  CAST(coalesce(daily.cents, 0) AS BIGINT) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |s1 AS (SELECT day, x,
        |  CAST(row_number() OVER w AS BIGINT) AS t,
        |  CAST(sum(x) OVER w AS BIGINT) AS s
        | FROM x WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |s2 AS (SELECT *, t * x - s AS dev FROM s1),
        |s3 AS (SELECT *, CASE WHEN dev >= 0
        |   THEN (dev * 1000000) // t
        |   ELSE -((-dev * 1000000) // t) END AS term_fp FROM s2),
        |s4 AS (SELECT *,
        |  CAST(sum(term_fp) OVER w AS BIGINT) AS m_fp
        | FROM s3 WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |s5 AS (SELECT *,
        |  CAST(min(m_fp) OVER w AS BIGINT) AS min_m_fp
        | FROM s4 WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
        |SELECT day, x AS cents, t, CAST(term_fp AS BIGINT) AS term_fp,
        | m_fp, min_m_fp, m_fp - min_m_fp AS gap_fp,
        | CAST(m_fp - min_m_fp > 100000000000000 AS INTEGER) AS alarm
        |FROM s5""".stripMargin,
    // q374: 16-row mask table; v(S) by subset-sum; x24 integer weights
    // {6,2,2,6}; channel bits pinned alphabetically
    "q374_shapley_attribution" ->
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |   + max(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
        |   + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
        |   + max(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END) AS mask,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        | FROM events GROUP BY 1),
        |bm AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM u GROUP BY 1),
        |co AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS s),
        |v AS (SELECT co.s, CAST(coalesce(sum(bm.n_conv), 0) AS BIGINT) AS v
        |  FROM co LEFT JOIN bm ON (bm.mask & co.s) = bm.mask GROUP BY 1),
        |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |   ('signup', 4), ('view', 8)) AS t(channel, b)),
        |mg AS (SELECT ch.channel, vw.s,
        |   vw.v - vo.v AS marg,
        |   CASE bit_count(vw.s - ch.b) WHEN 0 THEN 6 WHEN 1 THEN 2
        |    WHEN 2 THEN 2 ELSE 6 END AS w24
        |  FROM ch JOIN v vw ON (vw.s & ch.b) = ch.b
        |  JOIN v vo ON vo.s = vw.s - ch.b)
        |SELECT channel, CAST(sum(marg * w24) AS BIGINT) AS shapley_x24,
        | round(CAST(sum(marg * w24) AS DOUBLE) / 24.0, 6) AS shapley
        |FROM mg GROUP BY 1""".stripMargin,
    // q375: the q235 unit grain and pinned model; score rounded at 6 dp
    // BEFORE ranking; cumulative Qini per decile, x1e6 truncating
    "q375_qini_curve" ->
      """WITH units AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_feat,
        |  CAST(count(DISTINCT CASE WHEN event_type <> 'purchase'
        |   THEN event_type END) AS BIGINT) AS k_types,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        | FROM events GROUP BY 1, 2),
        |sc AS (SELECT *, CAST(user_id % 2 AS INTEGER) AS arm,
        |  round(1.0 / (1.0 + exp(-(-3.0 + 0.45 * ln(1.0 + n_feat)
        |   + 0.35 * k_types))), 6) AS p6 FROM units),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
        |rk AS (SELECT sc.*, CAST(row_number() OVER (ORDER BY p6 DESC,
        |   n_feat DESC, k_types DESC, user_id, day) AS BIGINT) AS r
        |  FROM sc),
        |dd AS (SELECT rk.*, CAST(least(10, ((r - 1) * 10) // nn.n + 1)
        |   AS INTEGER) AS decile FROM rk, nn),
        |pd AS (SELECT decile,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
        |  CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
        | FROM dd GROUP BY 1),
        |cm AS (SELECT decile,
        |  CAST(sum(nt) OVER w AS BIGINT) AS cnt,
        |  CAST(sum(nc) OVER w AS BIGINT) AS cnc,
        |  CAST(sum(yt) OVER w AS BIGINT) AS cyt,
        |  CAST(sum(yc) OVER w AS BIGINT) AS cyc
        | FROM pd WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
        |SELECT decile, cnt AS n_treated, cnc AS n_control,
        | cyt AS y_treated, cyc AS y_control,
        | CAST(cyt * 1000000 - (cyc * cnt * 1000000) // cnc AS BIGINT)
        |  AS qini_fp,
        | CAST((cyt * 1000000) // cnt - (cyc * 1000000) // cnc AS BIGINT)
        |  AS uplift_fp
        |FROM cm""".stripMargin,
    // q376: x2-grid within-day ranks (2*rank + g - 1 on tie groups);
    // uncorrected Friedman statistic; pinned chi2(0.05, 4)
    "q376_friedman_test" ->
      """WITH cell AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |grid AS (SELECT d.day, t.event_type, coalesce(cell.x, 0) AS x
        |  FROM (SELECT DISTINCT day FROM cell) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM cell) t
        |  LEFT JOIN cell ON cell.day = d.day
        |   AND cell.event_type = t.event_type),
        |rk AS (SELECT day, event_type,
        |   CAST(rank() OVER (PARTITION BY day ORDER BY x) AS BIGINT) * 2
        |    + CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) - 1
        |    AS rank2
        |  FROM grid),
        |sums AS (SELECT event_type, CAST(sum(rank2) AS BIGINT)
        |   AS rank2_sum, CAST(count(*) AS BIGINT) AS n_days
        |  FROM rk GROUP BY 1),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sums),
        |tot AS (SELECT max(n_days) AS n,
        |   CAST(sum(rank2_sum * rank2_sum) AS BIGINT) AS ssq FROM sums)
        |SELECT s.event_type, s.rank2_sum, tot.n, kk.k,
        | round(3.0 * CAST(tot.ssq AS DOUBLE)
        |   / CAST(tot.n * kk.k * (kk.k + 1) AS DOUBLE)
        |  - 3.0 * CAST(tot.n AS DOUBLE) * (kk.k + 1), 6) AS chi2_stat,
        | CAST(round(3.0 * CAST(tot.ssq AS DOUBLE)
        |   / CAST(tot.n * kk.k * (kk.k + 1) AS DOUBLE)
        |  - 3.0 * CAST(tot.n AS DOUBLE) * (kk.k + 1), 6) > 9.487729
        |  AS INTEGER) AS reject_05
        |FROM sums s CROSS JOIN kk CROSS JOIN tot""".stripMargin,
    // q377: zero-filled daily counts; chi2 = (n*Sxx - S^2)/S exact
    // integer numerators, one double division each
    "q377_overdispersion" ->
      """WITH cell AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, CAST(coalesce(cell.x, 0) AS BIGINT)
        |   AS x
        |  FROM (SELECT DISTINCT day FROM cell) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM cell) t
        |  LEFT JOIN cell ON cell.day = d.day
        |   AND cell.event_type = t.event_type),
        |mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |   CAST(sum(x) AS BIGINT) AS total,
        |   CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM grid GROUP BY 1)
        |SELECT event_type, n_days, total,
        | round(CAST(n_days * sxx - total * total AS DOUBLE)
        |  / CAST(total * (n_days - 1) AS DOUBLE), 6) AS vmr,
        | round(CAST(n_days * sxx - total * total AS DOUBLE)
        |  / CAST(total AS DOUBLE), 6) AS chi2_dispersion
        |FROM mo""".stripMargin,
    // q378: weekly block maxima; moment fit with pinned gamma, sqrt6/pi
    // and c52 = -ln(-ln(51/52)) literals
    "q378_gumbel_return" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT b.d0, b.d0 + CAST(i AS INTEGER) AS day
        |  FROM b, range(0, 20000) r(i)
        |  WHERE b.d0 + CAST(i AS INTEGER) <= b.d1),
        |x AS (SELECT spine.d0, spine.day,
        |   CAST(coalesce(daily.cents, 0) AS BIGINT) AS x
        |  FROM spine LEFT JOIN daily USING (day)),
        |wk AS (SELECT date_diff('day', d0, day) // 7 AS wk,
        |   CAST(max(x) AS BIGINT) AS mx FROM x GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_weeks,
        |   CAST(sum(mx) AS BIGINT) AS s,
        |   sum(CAST(mx AS HUGEINT) * mx) AS sxx,
        |   CAST(max(mx) AS BIGINT) AS observed_max FROM wk),
        |f AS (SELECT n_weeks, s, observed_max,
        |   CAST(s AS DOUBLE) / CAST(n_weeks AS DOUBLE) AS mean,
        |   sqrt((CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n_weeks AS DOUBLE)) / (CAST(n_weeks AS DOUBLE) - 1.0))
        |    * 0.779696801233676 AS beta
        |  FROM m)
        |SELECT n_weeks, s AS sum_max_cents, observed_max,
        | round(mean, 6) AS mean_weekly_max,
        | round(beta, 6) AS gumbel_beta,
        | round(mean - 0.5772156649015329 * beta, 6) AS gumbel_mu,
        | round(mean - 0.5772156649015329 * beta
        |   + beta * 3.9415503865226063, 6) AS return_level_52w
        |FROM f""".stripMargin,
    // q379: per-bin integer calibration gaps on the 4-dp score grid;
    // the ALL row's Brier from one exact integer numerator
    "q379_reliability_diagram" ->
      """WITH units AS (SELECT
        |  CAST(round(round(1.0 / (1.0 + exp(-(-3.0
        |    + 0.45 * ln(1.0 + n_feat) + 0.35 * k_types))), 4) * 10000)
        |   AS BIGINT) AS p4,
        |  CAST(y AS BIGINT) AS y FROM (
        |   SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_feat,
        |    CAST(count(DISTINCT CASE WHEN event_type <> 'purchase'
        |     THEN event_type END) AS BIGINT) AS k_types,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |   FROM events GROUP BY 1, 2)),
        |bins AS (SELECT p4, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(y) AS BIGINT) AS y_sum FROM units GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |   CAST(sum(y_sum) AS BIGINT) AS yy,
        |   CAST(sum(p4 * p4 * n) AS BIGINT) AS spp,
        |   CAST(sum(p4 * y_sum) AS BIGINT) AS spy FROM bins),
        |allr AS (SELECT CAST(-1 AS BIGINT) AS p4_fp, nn AS n, yy AS y_sum,
        |   CAST(0 AS BIGINT) AS gap_fp,
        |   round(CAST(yy AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS rate,
        |   round(CAST(spp - 20000 * spy + 100000000 * yy AS DOUBLE)
        |    / (CAST(nn AS DOUBLE) * 1e8), 6) AS brier,
        |   round(CAST(yy AS DOUBLE) * CAST(nn - yy AS DOUBLE)
        |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS unc
        |  FROM tot)
        |SELECT p4 AS p4_fp, n, y_sum,
        | CAST(p4 * n - y_sum * 10000 AS BIGINT) AS gap_fp,
        | round(CAST(y_sum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        | CAST(NULL AS DOUBLE) AS brier, CAST(NULL AS DOUBLE) AS unc,
        | CAST(NULL AS DOUBLE) AS rel_minus_res
        |FROM bins
        |UNION ALL
        |SELECT p4_fp, n, y_sum, gap_fp, rate, brier, unc,
        | round(brier - unc, 6) AS rel_minus_res
        |FROM allr""".stripMargin,
    // q380: the q186 peel recipe with a per-round (m, n) scalar pair and
    // the exact integer survivor predicate deg*4n >= 5m
    "q380_densest_subgraph" -> {
      val peel = (0 until 6).map { i =>
        s"""s$i AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m,
           |  CAST(count(DISTINCT src) AS BIGINT) AS n FROM e$i),
           |a$i AS MATERIALIZED (SELECT d.src FROM (
           |   SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e$i
           |   GROUP BY 1) d, s$i
           |  WHERE d.deg * 4 * s$i.n >= 5 * s$i.m),
           |e${i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$i e
           |  JOIN a$i x ON e.src = x.src
           |  JOIN a$i y ON e.dst = y.src)""".stripMargin
      }.mkString(",\n")
      val stats = (0 to 6).map { i =>
        s"""SELECT $i AS round, n AS n_vertices,
           | CAST(m // 2 AS BIGINT) AS n_edges,
           | CAST(CASE WHEN n = 0 THEN 0
           |  ELSE (m * 1000000) // (2 * n) END AS BIGINT) AS density_fp
           |FROM s$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH pairs AS (SELECT doc1, doc2 FROM ($minhashPairsSql)),
         |e0 AS MATERIALIZED (SELECT doc1 AS src, doc2 AS dst FROM pairs
         |      UNION ALL SELECT doc2, doc1 FROM pairs),
         |$peel,
         |s6 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m,
         |  CAST(count(DISTINCT src) AS BIGINT) AS n FROM e6),
         |tr AS ($stats),
         |rk AS (SELECT *, row_number() OVER (
         |   ORDER BY density_fp DESC, round) AS rn FROM tr)
         |SELECT CAST(round AS INTEGER) AS round, n_vertices, n_edges,
         | density_fp,
         | CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_best
         |FROM rk""".stripMargin
    },
    // q381: the Huffman merge loop unrolled declaratively — the alphabet
    // is pinned at 5 event types (verified at sf0.001/0.01/0.1), so
    // exactly four merges; each stage takes the two smallest nodes by the
    // same pinned (weight, min-member) total order the engine uses, and
    // the leaf→node assignment accumulates depths. AS MATERIALIZED blocks
    // DuckDB's exponential CTE re-inlining (the q369 lesson).
    "q381_huffman_audit" -> {
      val merges = (0 until 4).map { i =>
        s"""s${i + 1} AS MATERIALIZED (SELECT node_id, w,
           |  row_number() OVER (ORDER BY w, node_id) AS rk FROM n$i),
           |m${i + 1} AS MATERIALIZED (SELECT min(node_id) AS nid,
           |  CAST(sum(w) AS BIGINT) AS w FROM s${i + 1} WHERE rk <= 2),
           |n${i + 1} AS MATERIALIZED (SELECT nid AS node_id, w FROM m${i + 1}
           |  UNION ALL SELECT node_id, w FROM s${i + 1} WHERE rk > 2),
           |a${i + 1} AS MATERIALIZED (SELECT a.leaf,
           |  CASE WHEN s.rk <= 2 THEN (SELECT nid FROM m${i + 1})
           |    ELSE a.node_id END AS node_id,
           |  a.depth + CASE WHEN s.rk <= 2 THEN 1 ELSE 0 END AS depth
           |  FROM a$i a JOIN s${i + 1} s ON a.node_id = s.node_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH f AS MATERIALIZED (SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
         |tot AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS total FROM f),
         |n0 AS MATERIALIZED (SELECT event_type AS node_id, n AS w FROM f),
         |a0 AS MATERIALIZED (SELECT event_type AS leaf,
         |  event_type AS node_id, 0 AS depth FROM f),
         |$merges,
         |per AS MATERIALIZED (SELECT p.event_type, p.n, p.depth,
         |  CAST(round(round(ln(CAST(t.total AS DOUBLE) / p.n) / ln(2), 6)
         |    * 1000000) AS BIGINT) AS sfp
         |  FROM (SELECT f.event_type, f.n, a4.depth FROM f
         |        JOIN a4 ON f.event_type = a4.leaf) p
         |  CROSS JOIN tot t)
         |SELECT event_type, n AS n_events, CAST(depth AS INTEGER) AS code_len,
         | CAST(n * depth AS BIGINT) AS weighted_bits, sfp AS surprisal2_fp,
         | CAST(NULL AS BIGINT) AS avg_len_fp, CAST(NULL AS BIGINT) AS entropy_fp
         |FROM per
         |UNION ALL
         |SELECT 'ALL', t.total, CAST(0 AS INTEGER), tb.total_bits,
         | CAST(0 AS BIGINT),
         | CAST(tb.total_bits * 1000000 // t.total AS BIGINT),
         | CAST(w.e // t.total AS BIGINT)
         |FROM tot t,
         | (SELECT CAST(sum(n * depth) AS BIGINT) AS total_bits FROM per) tb,
         | (SELECT CAST(sum(n * sfp) AS BIGINT) AS e FROM per) w""".stripMargin
    },
    // q382: layout-invariant by construction — the oracle computes the
    // boxed rollup straight off the raw table with q329's binning
    // (negatives clamp to 0 on both sides, so floor-vs-truncate div is
    // moot after greatest())
    "q382_clustered_scan" ->
      """WITH b AS (SELECT l_returnflag,
        |  CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc,
        |  least(255, greatest(0, datediff('day', DATE '1995-01-01',
        |    CAST(l_shipdate AS DATE)) // 10)) AS db,
        |  least(255, CAST(floor(l_extendedprice / 400) AS INTEGER)) AS pb
        | FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(qc) AS BIGINT) AS qty_cents,
        | CAST(sum(db) AS BIGINT) AS sum_db,
        | CAST(sum(pb) AS BIGINT) AS sum_pb
        |FROM b
        |WHERE db BETWEEN 30 AND 60 AND pb BETWEEN 40 AND 90
        |GROUP BY 1""".stripMargin,
    // q383: layout-invariant point lookup — pure passthrough columns, no
    // arithmetic, so even the raw double `value` is bit-identical
    "q383_bloom_lookup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id IN (7, 123, 789)""".stripMargin,
    // q384: Monday rollup straight off the raw table — the week phase is
    // pure integer arithmetic off the pinned 2024-01-01 Monday anchor
    // (non-negative, so %-vs-floor-div divergence is moot)
    "q384_dpp_star" ->
      """WITH f AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f
        |WHERE (datediff('day', DATE '2024-01-01', day) % 7) = 0
        |GROUP BY 1""".stripMargin,
  )
}
