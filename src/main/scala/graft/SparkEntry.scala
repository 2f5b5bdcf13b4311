package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Analytics, AsofJoin, BpeTrain, Centroid, Clustering, Contrastive, Corpus,
  CorpusRefresh, Dedup, DocValidation, Events, Experiment, FuzzyJoin, GeoJoin, GraphAnn,
  IncrementalAgg, MarketBasket, MaxSim, Multimodal, PageRank, QualityModel, RangeJoin, Sampling,
  SetSimJoin, SimHashOracle, Similarity, Skew, StorageLayout, TableChecks, TextAnalysis,
  TextIndex, TimeSeries, Tpch, TpchAdapted, TpchTail, UnigramLm}
import graft.ops.Similarity.{fitCentroids, fitOpq, fitOpqIvf, fitPq, fitPqResidual}

import QuerySpec.{Check, Fitted, Oracle, RowsOnly}

/** One registered query: how to build it, how its rows are checked, and
  * whether the bench sweep times it. */
final case class QuerySpec(name: String, build: SparkEntry.Build, check: Check,
    benched: Boolean = true)

object QuerySpec {
  sealed trait Check
  /** DuckDB SQL over the same parquet tables. A thunk, so listing the
    * registry never renders an oracle. */
  final case class Oracle(sql: () => String) extends Check
  /** DuckDB SQL that embeds a model fitted on the sweep's data (centroids,
    * codebooks, PCA, LR weights), rendered for a (session, sf dir). The
    * fit comes from [[graft.Artifacts]], so the oracle embeds the very
    * model the query builder plans with. */
  final case class Fitted(sql: (SparkSession, String) => String) extends Check
  /** No oracle: the rows are checked by a spec instead, for this reason. */
  final case class RowsOnly(reason: String) extends Check
}

/** The query registry (SURVEY.md §7): every query the engine registers, as
  * `(SparkSession, sfDir) => DataFrame`, each paired where SQL-expressible
  * with a DuckDB oracle over the same parquet tables. Column names and row
  * ordering are aligned between the Spark query and its oracle: the
  * correctness compare sorts columns by name and hashes values, so both
  * must agree exactly.
  *
  * [[specs]] is the one declaration; `queries`, `oracleSql` and
  * `benchQueries` are views of it.
  */
object SparkEntry {

  type Build = (SparkSession, String) => DataFrame

  /** Flagship: TPC-H Q5-shaped 6-table star join — broadcast dims, one
    * fact-fact shuffle, partial aggregation. Representative of the plan
    * shape this engine is optimized for.
    */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q5LocalSupplier(spark, "/root/testdata/sf0.001")

  private def oracle(sql: => String): Check = Oracle(() => sql)

  /** A fitted oracle: `fit`'s model for the (session, dir), rendered by `sql`. */
  private def fitted[M](fit: (SparkSession, String) => M)(sql: M => String): Check =
    Fitted((spark, dir) => sql(fit(spark, dir)))

  /** Every registered query, in bench order. The bench set is every query
    * that is scale-shaped; each unbenched entry sits next to the benched
    * twin that is timed in its place, with the reason beside it.
    *
    * Ordered heavy-first: the JVM degrades measurably over a long sweep
    * (GC/code-cache state), and the multi-stage LSH queries are the most
    * sensitive to it — running them first times the plans, not the sweep
    * position.
    */
  val specs: Seq[QuerySpec] = Seq(
    // --- similarity search and near-duplicate detection (the heavy multi-stage plans) ---
    // checked against the brute-force Jaccard oracle: at sf0.01 every qualifying pair
    // has j ≥ 0.9, where the 16-band/4-row LSH miss probability is ≈ 4e-8, so the
    // candidate sets coincide
    QuerySpec("minhash_lsh_pairs", Dedup.minhashLshPairs, oracle(Dedup.ngramJaccardSql)),
    // unbenched: the O(n²) brute-force anchor; its scale path above is what gets timed
    QuerySpec("ngram_jaccard_pairs", Dedup.ngramJaccardPairs,
      oracle(Dedup.ngramJaccardSql), benched = false),
    QuerySpec("near_dup_clusters", Dedup.nearDupClusters(_, _), oracle(Dedup.nearDupClustersSql)),
    QuerySpec("embedding_near_dup_lsh", Dedup.embeddingNearDupLsh(_, _),
      oracle(Dedup.embeddingNearDupLshSql)),
    // unbenched: the O(n²) brute-force anchor; its scale paths are what get timed
    QuerySpec("embedding_near_dup", Dedup.embeddingNearDup(_, _),
      oracle(Dedup.embeddingNearDupSql), benched = false),
    QuerySpec("ann_lsh_topk", Similarity.annLshTopK(_, _), oracle(Similarity.annLshTopKSql)),
    // index-quality metrics vs the exact truth. Unbenched, like every *_eval entry
    // below: the truth leg IS the brute anchor
    QuerySpec("retrieval_eval", Similarity.retrievalEval(_, _),
      oracle(Similarity.retrievalEvalSql()), benched = false),
    QuerySpec("ann_ivf_topk", Similarity.annIvfTopK(_, _),
      fitted(fitCentroids(_, _))(Similarity.annIvfTopKSql(_))),
    QuerySpec("ivf_retrieval_eval", Similarity.ivfRetrievalEval(_, _),
      fitted(fitCentroids(_, _))(Similarity.ivfRetrievalEvalSql(_)), benched = false),
    QuerySpec("ann_filtered_topk", Similarity.annFilteredTopK(_, _),
      fitted(fitCentroids(_, _))(Similarity.annFilteredTopKSql(_))),
    // unbenched: the filtered stack's brute anchor
    QuerySpec("ann_filtered_brute", Similarity.annFilteredBrute(_, _),
      oracle(Similarity.annFilteredBruteSql), benched = false),
    QuerySpec("filtered_retrieval_eval", Similarity.filteredRetrievalEval(_, _),
      fitted(fitCentroids(_, _))(Similarity.filteredRetrievalEvalSql(_)), benched = false),
    QuerySpec("ivf_pq_filtered_topk", Similarity.ivfPqFilteredTopK(_, _),
      Fitted((s, d) => Similarity.ivfPqFilteredTopKSql(fitCentroids(s, d), fitPq(s, d)))),
    QuerySpec("semdedup_clusters", Similarity.semDedup,
      fitted(fitCentroids(_, _))(Similarity.semDedupSql(_))),
    QuerySpec("pq_adc_topk", Similarity.pqAdcTopK(_, _),
      fitted(fitPq(_, _))(Similarity.pqAdcTopKSql(_))),
    QuerySpec("ivf_pq_topk", Similarity.ivfPqTopK(_, _),
      Fitted((s, d) => Similarity.ivfPqTopKSql(fitCentroids(s, d), fitPq(s, d)))),
    QuerySpec("ivf_pq_residual_topk", Similarity.ivfPqResidualTopK(_, _),
      Fitted((s, d) => Similarity.ivfPqResidualTopKSql(fitCentroids(s, d), fitPqResidual(s, d)))),
    QuerySpec("opq_topk", Similarity.opqTopK(_, _), fitted(fitOpq(_, _)) {
      case (rot, books) => Similarity.opqTopKSql(rot, books) }),
    QuerySpec("ivf_pq_residual_rerank_topk", Similarity.ivfPqResidualRerankTopK(_, _),
      Fitted((s, d) =>
        Similarity.ivfPqResidualRerankTopKSql(fitCentroids(s, d), fitPqResidual(s, d)))),
    QuerySpec("opq_ivf_pq_topk", Similarity.opqIvfPqTopK(_, _), fitted(fitOpqIvf(_, _)) {
      case (rot, cent, books) => Similarity.opqIvfPqTopKSql(rot, cent, books) }),
    QuerySpec("knn_graph_topk", GraphAnn.knnGraphTopK(_, _),
      fitted(fitCentroids(_, _))(GraphAnn.knnGraphTopKSql(_))),
    QuerySpec("mmr_rerank_topk", Similarity.mmrRerankTopK(_, _),
      oracle(Similarity.mmrRerankTopKSql())),
    QuerySpec("pq_rerank_topk", Similarity.pqRerankTopK(_, _),
      fitted(fitPq(_, _))(Similarity.pqRerankTopKSql(_))),
    QuerySpec("sq8_topk", Similarity.sq8TopK(_, _), oracle(Similarity.sq8TopKSql)),
    QuerySpec("bq_hamming_topk", Similarity.bqHammingTopK(_, _),
      oracle(Similarity.bqHammingTopKSql)),
    QuerySpec("bq_rerank_topk", Similarity.bqRerankTopK(_, _),
      oracle(Similarity.bqRerankTopKSql())),
    QuerySpec("bq_adc_rerank_topk", Similarity.bqAdcRerankTopK(_, _),
      fitted(fitPq(_, _))(Similarity.bqAdcRerankTopKSql(_))),
    QuerySpec("maxsim_topk", MaxSim.maxSimTopK(_, _), oracle(MaxSim.maxSimTopKSql())),
    // unbenched: the multi-vector stack's brute anchor
    QuerySpec("maxsim_brute", MaxSim.maxSimBrute(_, _),
      oracle(MaxSim.maxSimBruteSql()), benched = false),
    QuerySpec("maxsim_retrieval_eval", MaxSim.maxSimRetrievalEval(_, _),
      oracle(MaxSim.maxSimRetrievalEvalSql()), benched = false),
    QuerySpec("maxsim_adc_topk", MaxSim.maxSimAdcTopK(_, _),
      fitted(fitPq(_, _))(MaxSim.maxSimAdcTopKSql(_))),
    QuerySpec("maxsim_adc_eval", MaxSim.maxSimAdcEval(_, _),
      fitted(fitPq(_, _))(MaxSim.maxSimAdcEvalSql(_)), benched = false),
    QuerySpec("containment_pairs", Dedup.containmentPairs(_, _), oracle(Dedup.containmentSql)),
    QuerySpec("simhash_near_dup", Dedup.simhashNearDup(_, _),
      oracle(SimHashOracle.simhashNearDupSql)),
    QuerySpec("simhash", Dedup.simhash, oracle(SimHashOracle.simhashSql)),
    QuerySpec("ann_topk_brute", Similarity.annTopKBrute(_, _), oracle(Similarity.annTopKSql)),
    QuerySpec("dim_truncation_eval", Similarity.dimTruncationEval(_, _),
      oracle(Similarity.dimTruncationEvalSql()), benched = false),
    // --- relational / star-schema suite ---
    QuerySpec("tpch_q1", Tpch.q1PricingSummary, oracle(Tpch.q1Sql)),
    QuerySpec("tpch_q3", Tpch.q3ShippingPriority, oracle(Tpch.q3Sql)),
    QuerySpec("tpch_q4", Tpch.q4OrderPriority, oracle(Tpch.q4Sql)),
    QuerySpec("tpch_q5", Tpch.q5LocalSupplier, oracle(Tpch.q5Sql)),
    QuerySpec("tpch_q6", Tpch.q6ForecastRevenue, oracle(Tpch.q6Sql)),
    QuerySpec("tpch_q10", Tpch.q10ReturnedItems, oracle(Tpch.q10Sql)),
    QuerySpec("tpch_q14", Tpch.q14PromoRevenue, oracle(Tpch.q14Sql)),
    QuerySpec("customers_without_urgent", Tpch.customersWithoutUrgent,
      oracle(Tpch.customersWithoutUrgentSql)),
    QuerySpec("parts_in_both_years", Tpch.partsInBothYears, oracle(Tpch.partsInBothYearsSql)),
    QuerySpec("setop_all_shipments", Tpch.setopAllShipments, oracle(Tpch.setopAllShipmentsSql)),
    QuerySpec("suppliers_no_returns", Tpch.suppliersNoReturns, oracle(Tpch.suppliersNoReturnsSql)),
    QuerySpec("also_bought", Tpch.alsoBought(_, _), oracle(Tpch.alsoBoughtSql)),
    QuerySpec("basket_rules", MarketBasket.basketRules, oracle(MarketBasket.basketRulesSql)),
    QuerySpec("fuzzy_part_pairs", FuzzyJoin.fuzzyPartPairs(_, _),
      oracle(FuzzyJoin.fuzzyPartPairsSql)),
    QuerySpec("sorted_neighborhood_pairs", FuzzyJoin.sortedNeighborhoodPairs(_, _),
      oracle(FuzzyJoin.sortedNeighborhoodPairsSql)),
    QuerySpec("fuzzy_entity_clusters", FuzzyJoin.fuzzyEntityClusters(_, _),
      oracle(FuzzyJoin.fuzzyEntityClustersSql)),
    // unbenched: re-runs the benched fuzzy_entity_clusters before its one keyed
    // aggregate (the corpus_dedup_report convention)
    QuerySpec("entity_golden_records", FuzzyJoin.entityGoldenRecords(_, _),
      oracle(FuzzyJoin.entityGoldenRecordsSql), benched = false),
    QuerySpec("incremental_customer_revenue", IncrementalAgg.incrementalCustomerRevenue,
      oracle(IncrementalAgg.incrementalCustomerRevenueSql)),
    // --- graph family ---
    QuerySpec("doc_pagerank", PageRank.docPageRank, oracle(PageRank.docPageRankSql)),
    QuerySpec("doc_personalized_pagerank", PageRank.docPersonalizedPageRank,
      oracle(PageRank.docPersonalizedPageRankSql)),
    QuerySpec("doc_hits", PageRank.docHits, oracle(PageRank.docHitsSql)),
    QuerySpec("doc_triangles", PageRank.docTriangles, oracle(PageRank.docTrianglesSql)),
    QuerySpec("doc_components", PageRank.docComponents, oracle(PageRank.docComponentsSql)),
    QuerySpec("doc_communities", PageRank.docCommunities, oracle(PageRank.docCommunitiesSql)),
    // unbenched: re-runs the LPA rounds before the metric tail (the
    // corpus_dedup_report convention: doc_communities carries the cost)
    QuerySpec("community_modularity", PageRank.communityModularity,
      oracle(PageRank.communityModularitySql), benched = false),
    QuerySpec("kcore_docs", PageRank.docCoreness, oracle(PageRank.docCorenessSql)),
    QuerySpec("page_scc", PageRank.pageScc, oracle(PageRank.pageSccSql)),
    QuerySpec("hierarchy_paths", PageRank.hierarchyPaths, oracle(PageRank.hierarchyPathsSql)),
    QuerySpec("doc_bfs_levels", PageRank.docBfsLevels, oracle(PageRank.docBfsLevelsSql)),
    // --- decision-support tail, then the schema-adapted remainder ---
    QuerySpec("tpch_q7", TpchTail.q7VolumeShipping, oracle(TpchTail.q7Sql)),
    QuerySpec("tpch_q8", TpchTail.q8MarketShare, oracle(TpchTail.q8Sql)),
    QuerySpec("tpch_q13", TpchTail.q13OrderDistribution, oracle(TpchTail.q13Sql)),
    QuerySpec("tpch_q15", TpchTail.q15TopSupplier, oracle(TpchTail.q15Sql)),
    QuerySpec("tpch_q17", TpchTail.q17SmallQuantity, oracle(TpchTail.q17Sql)),
    QuerySpec("tpch_q18", TpchTail.q18LargeVolume, oracle(TpchTail.q18Sql)),
    QuerySpec("tpch_q19", TpchTail.q19DiscountedRevenue, oracle(TpchTail.q19Sql)),
    QuerySpec("tpch_q22", TpchTail.q22SalesOpportunity, oracle(TpchTail.q22Sql)),
    QuerySpec("tpch_q2", TpchAdapted.q2MinCostSupplier, oracle(TpchAdapted.q2Sql)),
    QuerySpec("tpch_q9", TpchAdapted.q9ProductProfit, oracle(TpchAdapted.q9Sql)),
    QuerySpec("tpch_q11", TpchAdapted.q11ImportantParts, oracle(TpchAdapted.q11Sql)),
    QuerySpec("tpch_q12", TpchAdapted.q12LateShipments, oracle(TpchAdapted.q12Sql)),
    QuerySpec("tpch_q16", TpchAdapted.q16SupplierCounts, oracle(TpchAdapted.q16Sql)),
    QuerySpec("tpch_q20", TpchAdapted.q20ShareOfPart, oracle(TpchAdapted.q20Sql)),
    QuerySpec("tpch_q21", TpchAdapted.q21WaitingSupplier, oracle(TpchAdapted.q21Sql)),
    // --- analytic windows and event-time analytics ---
    QuerySpec("running_revenue", Analytics.runningRevenue, oracle(Analytics.runningRevenueSql)),
    QuerySpec("top_orders_per_customer", Analytics.topOrdersPerCustomer,
      oracle(Analytics.topOrdersPerCustomerSql)),
    QuerySpec("user_event_gaps", Analytics.userEventGaps, oracle(Analytics.userEventGapsSql)),
    QuerySpec("value_quartiles_approx", Analytics.valueQuartilesApprox(_, _), RowsOnly(
      "approx_percentile boundaries are engine-specific; envelope spec-pinned vs value_quartiles")),
    // unbenched: the exact correctness anchor (per-type ntile sort); the benched
    // form is the approx-histogram bucket assignment above
    QuerySpec("value_quartiles", Analytics.valueQuartiles,
      oracle(Analytics.valueQuartilesSql), benched = false),
    QuerySpec("rank_family", Analytics.rankFamily, oracle(Analytics.rankFamilySql)),
    QuerySpec("scd2_value_tiers", Analytics.scd2ValueTiers, oracle(Analytics.scd2ValueTiersSql)),
    QuerySpec("scd2_temporal_join", Analytics.scd2TemporalJoin,
      oracle(Analytics.scd2TemporalJoinSql)),
    QuerySpec("rolling_revenue_7d", Analytics.rollingRevenue7d,
      oracle(Analytics.rollingRevenue7dSql)),
    QuerySpec("top_customers", Tpch.topCustomers, oracle(Tpch.topCustomersSql)),
    QuerySpec("distinct_parts", Tpch.distinctParts, oracle(Tpch.distinctPartsSql)),
    QuerySpec("events_tumbling", Events.tumbling, oracle(Events.tumblingSql)),
    QuerySpec("events_sliding", Events.sliding, oracle(Events.slidingSql)),
    QuerySpec("events_sessions", Events.sessions, oracle(Events.sessionsSql)),
    QuerySpec("events_sessions_sw", Events.sessionsViaSessionWindow,
      oracle(Events.sessionsWindowSql)),
    QuerySpec("conversion_funnel", Events.conversionFunnel, oracle(Events.conversionFunnelSql)),
    QuerySpec("ordered_funnel", Events.orderedFunnel, oracle(Events.orderedFunnelSql)),
    QuerySpec("event_transitions", Events.eventTransitions, oracle(Events.eventTransitionsSql)),
    QuerySpec("event_trigrams", Events.eventTrigrams(_, _), oracle(Events.eventTrigramsSql)),
    QuerySpec("multi_touch_attribution", Events.multiTouchAttribution,
      oracle(Events.multiTouchAttributionSql)),
    QuerySpec("shapley_attribution", Events.shapleyAttribution,
      oracle(Events.shapleyAttributionSql)),
    QuerySpec("markov_removal_attribution", Events.markovRemovalAttribution,
      oracle(Events.markovRemovalAttributionSql)),
    QuerySpec("conversion_latency", Events.conversionLatency, oracle(Events.conversionLatencySql)),
    QuerySpec("view_purchase_recon", Events.viewPurchaseRecon, oracle(Events.viewPurchaseReconSql)),
    // --- table checks, privacy and experiments ---
    QuerySpec("data_quality_checks", TableChecks.dataQualityChecks(_, _),
      oracle(TableChecks.dataQualityChecksSql)),
    QuerySpec("snapshot_diff", TableChecks.snapshotDiff(_, _), oracle(TableChecks.snapshotDiffSql)),
    QuerySpec("k_anonymity_audit", TableChecks.kAnonymityAudit(_, _),
      oracle(TableChecks.kAnonymityAuditSql)),
    QuerySpec("l_diversity_audit", TableChecks.lDiversityAudit(_, _),
      oracle(TableChecks.lDiversityAuditSql)),
    QuerySpec("t_closeness_audit", TableChecks.tClosenessAudit(_, _),
      oracle(TableChecks.tClosenessAuditSql)),
    QuerySpec("dp_noisy_counts", TableChecks.dpNoisyCounts(_, _),
      oracle(TableChecks.dpNoisyCountsSql)),
    QuerySpec("dp_noisy_sum_mean", TableChecks.dpNoisySumMean(_, _),
      oracle(TableChecks.dpNoisySumMeanSql)),
    QuerySpec("dp_thresholded_vocab", TableChecks.dpThresholdedVocab,
      oracle(TableChecks.dpThresholdedVocabSql)),
    QuerySpec("dp_quantiles", TableChecks.dpQuantiles, oracle(TableChecks.dpQuantilesSql)),
    QuerySpec("source_concentration", TableChecks.sourceConcentration(_, _),
      oracle(TableChecks.sourceConcentrationSql)),
    QuerySpec("erasure_cascade", TableChecks.erasureCascade, oracle(TableChecks.erasureCascadeSql)),
    QuerySpec("subject_access_export", TableChecks.subjectAccessExport(_, _),
      oracle(TableChecks.subjectAccessExportSql)),
    QuerySpec("ttl_purge_plan", TableChecks.ttlPurgePlan(_, _),
      oracle(TableChecks.ttlPurgePlanSql)),
    QuerySpec("psi_drift", TableChecks.psiDrift, oracle(TableChecks.psiDriftSql)),
    QuerySpec("oov_rate_audit", TextAnalysis.oovRateAudit(_, _),
      oracle(TextAnalysis.oovRateAuditSql)),
    QuerySpec("ab_cuped_lift", Experiment.abCupedLift, oracle(Experiment.abCupedLiftSql)),
    QuerySpec("ring_rebalance", StorageLayout.ringRebalance,
      oracle(StorageLayout.ringRebalanceSql)),
    QuerySpec("ab_conversion_ztest", Experiment.abConversionZtest,
      oracle(Experiment.abConversionZtestSql)),
    // the bucketed twin is provably equal to the anchor: same oracle
    QuerySpec("ab_rank_test_bucketed", Experiment.abRankTestBucketed(_, _),
      oracle(Experiment.abRankTestSql)),
    // unbenched: the single value-domain window is the exactness anchor; the
    // two-phase bucketed twin above is benched (the size_balanced_shards convention)
    QuerySpec("ab_rank_test", Experiment.abRankTest,
      oracle(Experiment.abRankTestSql), benched = false),
    QuerySpec("ab_diff_in_diff", Experiment.abDiffInDiff, oracle(Experiment.abDiffInDiffSql)),
    QuerySpec("ab_srm_check", Experiment.abSrmCheck, oracle(Experiment.abSrmCheckSql)),
    QuerySpec("ips_policy_value", Experiment.ipsPolicyValue(_, _),
      oracle(Experiment.ipsPolicyValueSql)),
    QuerySpec("ab_sequential_msprt", Experiment.abSequentialMsprt,
      oracle(Experiment.abSequentialMsprtSql)),
    QuerySpec("pseudonymized_revenue", TableChecks.pseudonymizedRevenue(_, _),
      oracle(TableChecks.pseudonymizedRevenueSql)),
    QuerySpec("merge_upsert", TableChecks.mergeUpsert(_, _), oracle(TableChecks.mergeUpsertSql)),
    QuerySpec("merge_change_feed", TableChecks.mergeChangeFeed(_, _),
      oracle(TableChecks.mergeChangeFeedSql)),
    QuerySpec("skew_report", Skew.skewReport(_, _), oracle(Skew.skewReportSql)),
    // unbenched: the prediction is the operator; its validation leg executes the
    // real join once as the oracle witness
    QuerySpec("join_size_estimate", Skew.joinSizeEstimate(_, _),
      oracle(Skew.joinSizeEstimateSql), benched = false),
    QuerySpec("profile_columns_approx", TableChecks.profileColumnsApprox(_, _), RowsOnly(
      "HLL++ cardinalities are engine-specific; envelope spec-pinned vs profile_columns")),
    // unbenched: the exact 6-way multi-distinct Expand + sort-agg is the correctness
    // anchor; the benched profile is the sketch form (the value_quartiles convention)
    QuerySpec("profile_columns", TableChecks.profileColumns(_, _),
      oracle(TableChecks.profileColumnsSql), benched = false),
    QuerySpec("props_json_stats", Events.propsJsonStats, oracle(Events.propsJsonStatsSql)),
    QuerySpec("winsorized_stats", Events.winsorizedStats, oracle(Events.winsorizedStatsSql)),
    QuerySpec("cohort_retention", Events.cohortRetention, oracle(Events.cohortRetentionSql)),
    QuerySpec("km_purchase_gaps", Events.kmPurchaseGaps, oracle(Events.kmPurchaseGapsSql)),
    QuerySpec("debounce_events", Events.debounceEvents, oracle(Events.debounceEventsSql)),
    QuerySpec("user_feature_store", Events.userFeatureStore, oracle(Events.userFeatureStoreSql)),
    QuerySpec("hour_value_regression", Events.hourValueRegression,
      oracle(Events.hourValueRegressionSql)),
    QuerySpec("correlation_matrix", TableChecks.correlationMatrix,
      oracle(TableChecks.correlationMatrixSql)),
    QuerySpec("replica_bucket_diff", TableChecks.replicaBucketDiff,
      oracle(TableChecks.replicaBucketDiffSql)),
    QuerySpec("value_mad_outliers", Events.valueMadOutliers, oracle(Events.valueMadOutliersSql)),
    QuerySpec("revenue_pareto", Analytics.revenuePareto, oracle(Analytics.revenueParetoSql)),
    QuerySpec("skyline_orders", Analytics.skylineOrders, oracle(Analytics.skylineOrdersSql)),
    QuerySpec("fulfillment_sla", Analytics.fulfillmentSla, oracle(Analytics.fulfillmentSlaSql)),
    // --- time series ---
    QuerySpec("daily_gap_filled", TimeSeries.dailyGapFilled, oracle(TimeSeries.dailyGapFilledSql)),
    QuerySpec("rolling_dau_7d", TimeSeries.rollingDau7d, oracle(TimeSeries.rollingDau7dSql)),
    QuerySpec("rolling_dau_7d_hll", TimeSeries.rollingDau7dHll, RowsOnly(
      "DataSketches HLL layout is engine-specific; envelope spec-pinned vs rolling_dau_7d")),
    // the textbook range-join oracle verbatim: bit-exact equality to an independent
    // formulation IS the claim
    QuerySpec("rolling_dau_7d_bitmap", TimeSeries.rollingDau7dBitmap,
      oracle(TimeSeries.rollingDau7dSql)),
    QuerySpec("daily_count_anomalies", TimeSeries.dailyCountAnomalies,
      oracle(TimeSeries.dailyCountAnomaliesSql)),
    QuerySpec("cusum_changepoints", TimeSeries.cusumChangepoints,
      oracle(TimeSeries.cusumChangepointsSql)),
    QuerySpec("ewma_daily", TimeSeries.ewmaDaily, oracle(TimeSeries.ewmaDailySql)),
    QuerySpec("holt_daily", TimeSeries.holtDaily, oracle(TimeSeries.holtDailySql)),
    QuerySpec("holt_winters_daily", TimeSeries.holtWintersDaily,
      oracle(TimeSeries.holtWintersDailySql)),
    QuerySpec("forecast_backtest", TimeSeries.forecastBacktest,
      oracle(TimeSeries.forecastBacktestSql)),
    QuerySpec("weekday_seasonality", TimeSeries.weekdaySeasonality,
      oracle(TimeSeries.weekdaySeasonalitySql)),
    QuerySpec("theil_sen_daily_trend", TimeSeries.theilSenDailyTrend,
      oracle(TimeSeries.theilSenDailyTrendSql)),
    QuerySpec("benford_audit", TimeSeries.benfordAudit, oracle(TimeSeries.benfordAuditSql)),
    // --- geo and contrastive pairs, dedup spans, as-of and range joins, rollups ---
    QuerySpec("geo_near_pairs", GeoJoin.geoNearPairs(_, _), oracle(GeoJoin.geoNearPairsSql)),
    QuerySpec("contrastive_batch_negatives", Contrastive.batchNegatives(_, _),
      oracle(Contrastive.batchNegativesSql)),
    QuerySpec("hard_negatives_lsh", Contrastive.hardNegativesLsh(_, _),
      oracle(Contrastive.hardNegativesLshSql)),
    QuerySpec("triplet_mining", Contrastive.tripletMining, oracle(Contrastive.tripletMiningSql)),
    QuerySpec("sequence_match_conversions", Events.sequenceMatchConversions,
      oracle(Events.sequenceMatchConversionsSql)),
    QuerySpec("cc_scrub", Corpus.ccScrub, oracle(Corpus.ccScrubSql)),
    QuerySpec("bootstrap_mean_ci", Events.bootstrapMeanCi, oracle(Events.bootstrapMeanCiSql)),
    QuerySpec("media_resize", Multimodal.mediaResize, oracle(Multimodal.mediaResizeSql)),
    QuerySpec("value_percentiles", Events.valuePercentiles, oracle(Events.valuePercentilesSql)),
    QuerySpec("value_percentiles_approx", Events.valuePercentilesApprox(_, _), RowsOnly(
      "GK sketch internals are engine-specific; envelope spec-pinned vs value_percentiles")),
    QuerySpec("winnow_near_dup", Dedup.winnowNearDupPairs(_, _), oracle(Dedup.winnowNearDupSql)),
    QuerySpec("incremental_near_dup", Dedup.incrementalNearDup,
      oracle(Dedup.incrementalNearDupSql)),
    // unbenched: composes the already-benched scrub, url-dedup, incremental-LSH and
    // quality legs; its batch-∝ scaling is recorded in BASELINE.md instead
    QuerySpec("corpus_refresh_incremental", CorpusRefresh.corpusRefreshIncremental,
      oracle(CorpusRefresh.corpusRefreshIncrementalSql), benched = false),
    QuerySpec("prefix_jaccard_pairs", SetSimJoin.prefixJaccardPairs,
      oracle(SetSimJoin.prefixJaccardPairsSql)),
    // unbenched: re-runs the prefix_jaccard pair join before its 3-row bucket
    // aggregate; benching it would double-count the set-sim join
    QuerySpec("split_leakage_audit", SetSimJoin.splitLeakageAudit,
      oracle(SetSimJoin.splitLeakageAuditSql), benched = false),
    QuerySpec("repeated_ngram_spans", Dedup.repeatedNgramSpans(_, _),
      oracle(Dedup.repeatedNgramSpansSql)),
    QuerySpec("cross_doc_spans", Dedup.crossDocSpans(_, _), oracle(Dedup.crossDocSpansSql)),
    QuerySpec("cut_spans", Dedup.cutSpans(_, _), oracle(Dedup.cutSpansSql)),
    // unbenched: a once-per-corpus audit composite that re-executes the benched
    // minhash-LSH and cut_spans pipelines; benching it would double-count their cost
    QuerySpec("corpus_dedup_report", Dedup.corpusDedupReport,
      oracle(Dedup.corpusDedupReportSql), benched = false),
    QuerySpec("asof_last_click", AsofJoin.asofLastClick, oracle(AsofJoin.asofLastClickSql)),
    QuerySpec("asof_native_last_click", AsofJoin.asofLastClickNative,
      oracle(AsofJoin.asofLastClickSql)),
    // unbenched variants of the native as-of merge: a staleness bound, and the
    // forward direction on negated time
    QuerySpec("asof_click_within", AsofJoin.asofClickWithin,
      oracle(AsofJoin.asofClickWithinSql), benched = false),
    QuerySpec("asof_next_click", AsofJoin.asofNextClick,
      oracle(AsofJoin.asofNextClickSql), benched = false),
    QuerySpec("events_in_windows", RangeJoin.eventsInWindows, oracle(RangeJoin.eventsInWindowsSql)),
    QuerySpec("salted_user_age", Skew.saltedUserAge, oracle(Skew.saltedUserAgeSql)),
    QuerySpec("skewed_host_age", Skew.skewedHostAge, oracle(Skew.skewedHostAgeSql)),
    QuerySpec("distinct_parts_approx", Skew.distinctPartsApprox(_, _), RowsOnly(
      "HLL sketch internals are engine-specific; envelope spec-pinned vs distinct_parts")),
    QuerySpec("events_rollup", Events.rollupByTypeDay, oracle(Events.rollupSql)),
    QuerySpec("events_cube", Events.cubeByTypeDay, oracle(Events.cubeSql)),
    QuerySpec("events_grouping_sets", Events.groupingSetsByTypeDay, oracle(Events.groupingSetsSql)),
    QuerySpec("events_pivot", Events.eventsPivot, oracle(Events.eventsPivotSql)),
    // --- the reference article operators (O2–O15) over the documents table ---
    QuerySpec("filter_incomplete", DocValidation.filterIncomplete,
      oracle(DocValidation.filterIncompleteSql)),
    QuerySpec("validate_flags", DocValidation.validateFlags,
      oracle(DocValidation.validateFlagsSql)),
    QuerySpec("reason_histogram", DocValidation.reasonHistogram,
      oracle(DocValidation.reasonHistogramSql)),
    QuerySpec("top1_reason", DocValidation.top1Reason, oracle(DocValidation.top1ReasonSql)),
    QuerySpec("completeness", DocValidation.completeness, oracle(DocValidation.completenessSql)),
    QuerySpec("date_range", DocValidation.dateRange, oracle(DocValidation.dateRangeSql)),
    QuerySpec("dedup_exact_keep_first", DocValidation.dedupKeepFirst, oracle(Dedup.exactDedupSql)),
    QuerySpec("clean_text", DocValidation.cleanText, oracle(DocValidation.cleanTextSql)),
    QuerySpec("parse_dates", DocValidation.parseDates, oracle(DocValidation.parseDatesSql)),
    QuerySpec("article_funnel", DocValidation.articleFunnel,
      oracle(DocValidation.articleFunnelSql)),
    // --- text analysis and retrieval ---
    QuerySpec("token_stats", TextAnalysis.tokenStats, oracle(TextAnalysis.tokenStatsSql)),
    QuerySpec("bpe_token_stats", TextAnalysis.bpeTokenStats, oracle(TextAnalysis.bpeTokenStatsSql)),
    QuerySpec("bpe_merges", BpeTrain.bpeMerges(_, _), oracle(BpeTrain.bpeMergesSql)),
    // unbenched, like the byte and unigram twins below: re-trains before it
    // segments; the training is what gets timed (the corpus_dedup_report convention)
    QuerySpec("bpe_segment_stats", BpeTrain.bpeSegmentStats(_, _),
      oracle(BpeTrain.bpeSegmentStatsSql), benched = false),
    QuerySpec("bpe_byte_merges", BpeTrain.bpeByteMerges(_, _), oracle(BpeTrain.bpeByteMergesSql)),
    QuerySpec("bpe_byte_segment_stats", BpeTrain.bpeByteSegmentStats(_, _),
      oracle(BpeTrain.bpeByteSegmentStatsSql), benched = false),
    QuerySpec("wordpiece_merges", BpeTrain.wordpieceMerges(_, _),
      oracle(BpeTrain.wordpieceMergesSql)),
    QuerySpec("unigram_lm_vocab", UnigramLm.unigramLmVocab(_, _),
      oracle(UnigramLm.unigramLmVocabSql)),
    QuerySpec("unigram_segment_stats", UnigramLm.unigramSegmentStats(_, _),
      oracle(UnigramLm.unigramSegmentStatsSql), benched = false),
    QuerySpec("quality_score", TextAnalysis.qualityScore, oracle(TextAnalysis.qualityScoreSql)),
    QuerySpec("quality_lr_score", QualityModel.qualityLrScore,
      fitted(QualityModel.fitCached)(QualityModel.qualityLrScoreSql)),
    QuerySpec("lr_eval_metrics", QualityModel.lrEvalMetrics,
      fitted(QualityModel.fitCached)(QualityModel.lrEvalMetricsSql)),
    QuerySpec("conformal_calibration", QualityModel.conformalCalibration(_, _),
      oracle(QualityModel.conformalCalibrationSql)),
    QuerySpec("quality_weighted_sample", QualityModel.qualityWeightedSample(_, _),
      fitted(QualityModel.fitCached)(QualityModel.qualityWeightedSampleSql(_))),
    QuerySpec("dsir_weights", QualityModel.dsirWeights(_, _), oracle(QualityModel.dsirWeightsSql)),
    QuerySpec("lang_id", TextAnalysis.langId, oracle(TextAnalysis.langIdSql)),
    QuerySpec("lang_id_confusion", TextAnalysis.langIdConfusion,
      oracle(TextAnalysis.langIdConfusionSql)),
    QuerySpec("nearest_centroid_confusion", Centroid.nearestCentroidConfusion,
      oracle(Centroid.nearestCentroidConfusionSql)),
    QuerySpec("fingerprint", TextAnalysis.fingerprint, oracle(TextAnalysis.fingerprintSql)),
    QuerySpec("winnow_fingerprints", TextAnalysis.winnowFingerprints,
      oracle(TextAnalysis.winnowFingerprintsSql)),
    QuerySpec("vocab_top_terms", TextAnalysis.vocabTopTerms(_, _),
      oracle(TextAnalysis.vocabTopTermsSql)),
    QuerySpec("percolate_alerts", TextAnalysis.percolateAlerts,
      oracle(TextAnalysis.percolateAlertsSql)),
    QuerySpec("percolate_boolean_alerts", TextAnalysis.percolateBooleanAlerts,
      oracle(TextAnalysis.percolateBooleanAlertsSql)),
    QuerySpec("zipf_fit", TextAnalysis.zipfFit, oracle(TextAnalysis.zipfFitSql)),
    QuerySpec("lang_source_mi", TextAnalysis.langSourceMi, oracle(TextAnalysis.langSourceMiSql)),
    QuerySpec("source_vocab_overlap", TextAnalysis.sourceVocabOverlap,
      oracle(TextAnalysis.sourceVocabOverlapSql)),
    QuerySpec("length_histogram", TextAnalysis.lengthHistogram(_, _),
      oracle(TextAnalysis.lengthHistogramSql)),
    QuerySpec("quantile_normalize_map", Corpus.quantileNormalizeMap,
      oracle(Corpus.quantileNormalizeMapSql)),
    QuerySpec("distinctive_terms", TextAnalysis.distinctiveTerms(_, _),
      oracle(TextAnalysis.distinctiveTermsSql)),
    // the aggregate variant has the IDENTICAL output contract: one oracle
    QuerySpec("distinctive_terms_agg", TextAnalysis.distinctiveTermsAgg(_, _),
      oracle(TextAnalysis.distinctiveTermsSql)),
    QuerySpec("bm25_topk", TextAnalysis.bm25TopK(_, _), oracle(TextAnalysis.bm25TopKSql)),
    // the pinned ≤100-query serving batch (cost ∝ batch, not corpus).
    // bm25_prf_topk / qld_topk / hybrid_rrf_served rebuild the corpus model per call and
    // stay benched for cross-round comparability; their indexed twins ride the written
    // postings / band artifacts (the production shape) and are benched alongside them
    QuerySpec("bm25_topk_served", TextAnalysis.bm25TopKServed(_, _),
      oracle(TextAnalysis.bm25TopKServedSql)),
    QuerySpec("bm25_prf_topk", TextAnalysis.bm25PrfTopK(_, _),
      oracle(TextAnalysis.bm25PrfTopKSql())),
    // the indexed serves' model statistics are exact mergeable aggregates of the
    // postings, so the one-shot oracles apply verbatim: equality IS the
    // serve-from-index exactness claim
    QuerySpec("bm25_prf_indexed", TextAnalysis.bm25PrfTopKIndexed(_, _),
      oracle(TextAnalysis.bm25PrfTopKSql())),
    QuerySpec("qld_topk", TextAnalysis.qldTopK(_, _), oracle(TextAnalysis.qldTopKSql())),
    QuerySpec("qld_indexed", TextAnalysis.qldTopKIndexed(_, _), oracle(TextAnalysis.qldTopKSql())),
    // the indexed serve over the grown snapshot has the IDENTICAL output contract:
    // one oracle; equality pins exact incremental maintenance
    QuerySpec("bm25_topk_indexed", TextIndex.bm25TopKIndexed(_, _),
      oracle(TextAnalysis.bm25TopKSql)),
    QuerySpec("phrase_search", TextAnalysis.phraseSearch(_, _),
      oracle(TextAnalysis.phraseSearchSql)),
    QuerySpec("pmi_pairs", TextAnalysis.pmiPairs(_, _), oracle(TextAnalysis.pmiPairsSql)),
    QuerySpec("rake_keyphrases", TextAnalysis.rakeKeyphrases(_, _),
      oracle(TextAnalysis.rakeKeyphrasesSql)),
    QuerySpec("vocab_divergence", TextAnalysis.vocabDivergence(_, _),
      oracle(TextAnalysis.vocabDivergenceSql)),
    QuerySpec("doc_top_tokens", TextAnalysis.docTopTokens, oracle(TextAnalysis.docTopTokensSql)),
    QuerySpec("quality_prune_approx", TextAnalysis.qualityPruneApprox(_, _), RowsOnly(
      "KLL quantile sketch is engine-specific; envelope spec-pinned vs quality_prune")),
    // unbenched: the exact per-language rank sort (single-task on a dominant
    // language) is the anchor; the approx-quantile threshold scan above is benched
    QuerySpec("quality_prune", TextAnalysis.qualityPrune(_, _),
      oracle(TextAnalysis.qualityPruneSql), benched = false),
    QuerySpec("hybrid_rrf_lsh_topk", Similarity.hybridRrfLshTopK(_, _),
      oracle(Similarity.hybridRrfLshTopKSql)),
    // unbenched: the brute dense leg makes it the exactness anchor; the LSH-leg
    // composite above is benched
    QuerySpec("hybrid_rrf_topk", Similarity.hybridRrfTopK(_, _),
      oracle(Similarity.hybridRrfTopKSql), benched = false),
    // the pinned-batch hybrid serve (both legs ≤100 queries)
    QuerySpec("hybrid_rrf_served", Similarity.hybridRrfServed(_, _),
      oracle(Similarity.hybridRrfServedSql)),
    QuerySpec("hybrid_rrf_indexed", Similarity.hybridRrfIndexed(_, _),
      oracle(Similarity.hybridRrfServedSql)),
    QuerySpec("vocab_heavy_hitters_cms", TextAnalysis.vocabHeavyHittersCms(_, _), RowsOnly(
      "count-min hash layout is engine-specific; envelope + top-k spec-pinned vs vocab_top_terms")),
    // --- multimodal binary-column plumbing ---
    QuerySpec("media_stats", Multimodal.mediaStats, oracle(Multimodal.mediaStatsSql)),
    QuerySpec("media_phash", Multimodal.mediaPhash, oracle(Multimodal.mediaPhashSql)),
    QuerySpec("media_near_dup", Multimodal.mediaNearDup(_, _), oracle(Multimodal.mediaNearDupSql)),
    QuerySpec("frame_sample", Multimodal.frameSampleHex(_, _),
      oracle(Multimodal.frameSampleHexSql)),
    QuerySpec("frame_sample_digest", Multimodal.frameSampleDigest(_, _),
      oracle(Multimodal.frameSampleDigestSql)),
    QuerySpec("frame_near_dup", Multimodal.frameNearDup(_, _), oracle(Multimodal.frameNearDupSql)),
    QuerySpec("extract_features", Multimodal.extractFeaturesScalars(_, _),
      fitted(Multimodal.fitPcaCached) {
        case (mean, comps) => Multimodal.extractFeaturesSql(mean, comps) }),
    // --- storage layout ---
    QuerySpec("bucketed_join_revenue", StorageLayout.bucketedJoinRevenue(_, _),
      oracle(StorageLayout.bucketedJoinRevenueSql)),
    QuerySpec("partition_pruned_events", StorageLayout.prunedEventsDaily(_, _),
      oracle(StorageLayout.prunedEventsDailySql)),
    QuerySpec("zorder_chunks", StorageLayout.zorderChunks(_, _),
      oracle(StorageLayout.zorderChunksSql)),
    QuerySpec("hilbert_chunks", StorageLayout.hilbertChunks(_, _),
      oracle(StorageLayout.hilbertChunksSql)),
    QuerySpec("zorder_pruned_scan", StorageLayout.zorderPrunedScan(_, _),
      oracle(StorageLayout.zorderPrunedScanSql)),
    QuerySpec("dpp_pruned_join", StorageLayout.dppPrunedJoin(_, _),
      oracle(StorageLayout.dppPrunedJoinSql)),
    // --- corpus sampling and splitting ---
    QuerySpec("split_counts", Sampling.splitCounts, oracle(Sampling.splitCountsSql)),
    QuerySpec("stratified_sample", Sampling.stratifiedSampleHash(_, _),
      oracle(Sampling.stratifiedSampleHashSql)),
    QuerySpec("mixture_sample", Sampling.mixtureSample(_, _), oracle(Sampling.mixtureSampleSql)),
    QuerySpec("temperature_sample", Sampling.temperatureSample(_, _),
      oracle(Sampling.temperatureSampleSql)),
    QuerySpec("weighted_sample_es", Sampling.weightedSampleEs,
      oracle(Sampling.weightedSampleEsSql)),
    QuerySpec("distribution_match_sample", Sampling.distributionMatchSample,
      oracle(Sampling.distributionMatchSampleSql)),
    QuerySpec("stratified_topk_sample", Sampling.stratifiedTopkSample(_, _),
      oracle(Sampling.stratifiedTopkSampleSql)),
    QuerySpec("kcenter_coreset", Sampling.kcenterCoreset(_, _),
      oracle(Sampling.kcenterCoresetSql())),
    QuerySpec("kmeans_clusters", Clustering.kmeansClusters(_, _),
      oracle(Clustering.kmeansClustersSql())),
    QuerySpec("shuffle_shards", Sampling.shuffleShards(_, _), oracle(Sampling.shuffleShardsSql)),
    QuerySpec("url_host_caps", Sampling.urlHostCaps(_, _), oracle(Sampling.urlHostCapsSql)),
    QuerySpec("url_canonical_dedup", Sampling.urlCanonicalDedup(_, _),
      oracle(Sampling.urlCanonicalDedupSql)),
    QuerySpec("host_lang_entropy", Sampling.hostLangEntropy, oracle(Sampling.hostLangEntropySql)),
    QuerySpec("size_balanced_shards", Sampling.sizeBalancedShards(_, _),
      oracle(Sampling.sizeBalancedShardsSql)),
    // --- corpus preparation (filters, PII, decontamination, packing, LM scores) ---
    QuerySpec("quality_filter", Corpus.qualityFilter, oracle(Corpus.qualityFilterSql)),
    QuerySpec("repetition_stats", Corpus.repetitionStats(_, _), oracle(Corpus.repetitionStatsSql)),
    QuerySpec("pii_scrub", Corpus.piiScrub, oracle(Corpus.piiScrubSql)),
    QuerySpec("boilerplate_scrub", Corpus.boilerplateScrub(_, _),
      oracle(Corpus.boilerplateScrubSql)),
    QuerySpec("filter_agreement_kappa", Corpus.filterAgreementKappa,
      oracle(Corpus.filterAgreementKappaSql)),
    QuerySpec("lr_calibration_bins", QualityModel.lrCalibrationBins,
      fitted(QualityModel.fitCached)(QualityModel.lrCalibrationBinsSql)),
    QuerySpec("decontaminate", Corpus.decontaminate(_, _), oracle(Corpus.decontaminateSql)),
    QuerySpec("decontaminate_bloom", Corpus.decontaminateBloom(_, _), RowsOnly(
      "Bloom bit pattern is engine-specific; superset of decontaminate + fpp bound spec-pinned")),
    QuerySpec("pack_sequences", Corpus.packSequences(_, _), oracle(Corpus.packSequencesSql)),
    QuerySpec("ffd_pack_bins", Corpus.ffdPackBins(_, _), oracle(Corpus.ffdPackBinsSql())),
    QuerySpec("length_batching", Corpus.lengthBatching(_, _), oracle(Corpus.lengthBatchingSql)),
    QuerySpec("chunk_documents", Corpus.chunkDocuments(_, _), oracle(Corpus.chunkDocumentsSql)),
    // the generator variant has the IDENTICAL output contract: one oracle
    QuerySpec("chunk_documents_gen", Corpus.chunkDocumentsGen(_, _),
      oracle(Corpus.chunkDocumentsSql)),
    QuerySpec("unigram_logprob", Corpus.unigramLogProbScore, oracle(Corpus.unigramLogProbScoreSql)),
    QuerySpec("bigram_logprob", Corpus.bigramLogProbScore(_, _),
      oracle(Corpus.bigramLogProbScoreSql)),
    QuerySpec("kneser_ney_logprob", Corpus.kneserNeyLogProbScore,
      oracle(Corpus.kneserNeyLogProbScoreSql))
  )

  lazy val queries: Map[String, Build] = specs.iterator.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL per query over the tables of `dir`: the literal
    * oracles plus the fitted ones, each rendered from its model's fit for
    * this (session, dir) (see [[QuerySpec.Fitted]]). */
  def oracleSql(spark: SparkSession, dir: String): Map[String, String] =
    specs.iterator.collect {
      case QuerySpec(name, _, Oracle(sql), _) => name -> sql()
      case QuerySpec(name, _, Fitted(sql), _) => name -> sql(spark, dir)
    }.toMap

  /** The headline bench set, in sweep order. */
  val benchQueries: Seq[String] = specs.filter(_.benched).map(_.name)
}
