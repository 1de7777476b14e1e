package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables
import graft.marts._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 surfaces here as a named
  * query over the driver testdata (`TESTDATA.md`); `oracleSql` holds
  * the DuckDB-equivalent SQL for the correctness gate. Column names and
  * value determinism follow SURVEY §7.6 (decimal money, second-precision
  * time strings, explicit tie-breakers, DuckDB dayofweek shim).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    DailySales.build(SilverEvents.build(Tables.events(spark, "/root/testdata/sf0.001")))

  /** Silver is the shared input of all gold marts — cache it once per
    * (session, dir) so a mart suite run pays the clean+dedup shuffle
    * once (the reference materializes silver as a table for the same
    * reason; BASELINE.md B9 "amortized caching of silver allowed"). */
  private val silverCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def silver(s: SparkSession, dir: String): DataFrame =
    silverCache.computeIfAbsent((s, dir), { _ =>
      // bound the cache's lifetime to the session: a long-lived driver
      // cycling sessions would otherwise accumulate dead entries
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          evictSilver(s)
      })
      SilverEvents.build(Tables.events(s, dir)).cache()
    })

  /** Staged intermediate frames shared by several driver queries —
    * the production pattern of materializing a pair/signature/result
    * table once and fanning consumers out from it. Each entry is
    * localCheckpoint'd (small frames: pairs, top-k lists, verdicts),
    * keyed (session, dir, stage), evicted with the silver cache.
    *
    * Current stages: exact-Jaccard pairs (5 consumers), duplicate
    * clusters (3), curation verdicts (3), MinHash + SimHash pair sets
    * (2 each: their listing query + the gate report), the six ANN
    * top-k frames (2 each: their listing query + the recall report),
    * the SemDeDup candidate pairs, the shared IVF coarse quantizer
    * (`ivf_cents`: IVF + IVF-PQ + SemDeDup), and the decode-once
    * media frame (`media_decoded`: all four mm_* consumers). */
  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  /** NOT computeIfAbsent: stages depend on other stages (verdicts →
    * clusters → pairs), and a nested computeIfAbsent on the same map
    * throws "Recursive update" — which entry hits first is query-map
    * iteration order, so the crash is latent until an unrelated query
    * addition reshuffles the map. Get-then-putIfAbsent tolerates the
    * recursion; a concurrent duplicate build is benign (both frames
    * are valid, one wins the cache). */
  private def staged(s: SparkSession, dir: String, stage: String)(f: => DataFrame): DataFrame = {
    val key = (s, dir, stage)
    val existing = stagedCache.get(key)
    if (existing != null) existing
    else {
      val v = f.localCheckpoint()
      val prev = stagedCache.putIfAbsent(key, v)
      if (prev != null) {
        // lost the race: drop the duplicate's blocks now rather than
        // waiting for GC (the carried-over-cache heap-pressure lesson)
        try v.unpersist(blocking = false) catch { case _: Throwable => }
        prev
      } else v
    }
  }

  private def dupPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "pairs")(graft.dedup.NearDup.jaccardPairs(Tables.documents(s, dir)))
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "clusters")(graft.dedup.NearDup.duplicateClusters(dupPairs(s, dir)))
  private def curationVerdicts(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "verdicts")(
      graft.text.Curation.verdictsWith(Tables.documents(s, dir), dupClusters(s, dir)))
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "minhash")(graft.dedup.NearDup.minhashPairsQuery(s, dir))
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "simhash")(graft.dedup.NearDup.simhashPairsQuery(s, dir))
  /** The shared coarse quantizer: ONE k-means over the corpus serves
    * IVF, IVF-PQ and SemDeDup (the production shape — you train one
    * centroid table per corpus, not one per consumer; also the only
    * way their cluster views agree). */
  private def ivfCents(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "ivf_cents")(
      graft.sim.IvfAnn.centroids(Tables.embeddings(s, dir)))
  private def semDedupPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "semdedup")(
      graft.sim.SemDedup.candidatePairs(Tables.embeddings(s, dir),
        centsOpt = Some(ivfCents(s, dir))))
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "neardup")(
      graft.sim.EmbeddingSim.nearDupPairsQuery(s, dir))
  /** Decode-once media frame: ONE encode+decode pass over the media
    * table serves all four mm_* consumers (the production shape —
    * decode once, persist typed columns; a pipeline never re-runs the
    * codec per downstream query). */
  private def mediaDecoded(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "media_decoded")(
      graft.multimodal.Multimodal.decodedTableQuery(s, dir))
  /** Checkpointed silver for the SQL-text parity views (see the
    * q_sql_* comment in [[queries]]). */
  private def silverSqlFrame(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "silver_sqlview")(silver(s, dir))
  /** The materialized daily-sales mart (30 rows at any SF — |dates|-
    * sized): the shared BASE TABLE of the ~28 catalog/lifecycle/stream
    * queries, which write it, mutate it and replay it but never change
    * how it is built. r18 (optimization guide §1/§5): previously every
    * lifecycle query re-ran the silver→mart aggregation 2–4× per run
    * (CTAS select + INSERT select + delivery filters each re-executed
    * the groupBy plan — 3-stage, 32-task jobs for a 30-row frame);
    * production materializes gold_daily_sales ONCE and the pipelines
    * consume the table. Same amortization contract as silver/pairs:
    * staged, Bench-warmed, evicted with the session. */
  private def goldDaily(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "gold_daily")(DailySales.build(silver(s, dir)))
  private def annTopK(s: SparkSession, dir: String, method: String): DataFrame =
    staged(s, dir, s"ann_$method")(method match {
      case "brute" => graft.sim.EmbeddingSim.bruteForceTopKQuery(s, dir)
      case "lsh" => graft.sim.EmbeddingSim.lshTopKQuery(s, dir)
      case "ivf" => graft.sim.IvfAnn.ivfTopK(Tables.embeddings(s, dir),
        centsOpt = Some(ivfCents(s, dir)))
      // ivf_upsert trains its OWN quantizer on the pre-arrival corpus
      // slice — sharing ivfCents (trained on the full table) would
      // leak post-arrival state into the "persisted" index
      case "ivf_upsert" => graft.sim.IvfAnn.ivfUpsertTopKQuery(s, dir)
      case "sq8" => graft.sim.ScalarQuantAnn.sq8TopKQuery(s, dir)
      case "bq" => graft.sim.BinaryQuantAnn.bqTopKQuery(s, dir)
      case "pq" => graft.sim.ProductQuantAnn.pqTopKQuery(s, dir)
      case "ivfpq" => graft.sim.IvfPqAnn.ivfPqTopK(Tables.embeddings(s, dir),
        centsOpt = Some(ivfCents(s, dir)))
    })

  /** One warm stage: `run` builds the shared frames `creates` names
    * (the [[stageNames]] keys a run adds when the stages before it in
    * the registry have run) from the `inputs` tables, so that no
    * measured query is billed for a one-time build a production
    * pipeline persists as a table. `atBase`/`atSf1` select the board's
    * base-SF warmup and the 10× curve's. */
  private[graft] final case class WarmStage(name: String, inputs: Seq[String],
      creates: Set[String], atBase: Boolean = true, atSf1: Boolean = true)(
      val run: (SparkSession, String) => Unit)

  private def warmQuery(q: String): (SparkSession, String) => Unit =
    (s, dir) => Harness.materialize(queries(q)(s, dir))

  /** The warm-stage registry Bench (base and sf1) and Profile read.
    * Base-only: the lineitem listing and the curation verdicts (no 10×
    * curve query reads them). Sf1-only: the frames the base board's
    * alphabetically-earlier sim_embed_* queries stage before the audit
    * reports run (ratios would otherwise compare query+staging to
    * query-only), and the gold-mart audit's one-time checkpoint and
    * codegen costs. */
  private[graft] val warmRegistry: Seq[WarmStage] = Seq(
    WarmStage("lineitem_listing", Seq("lineitem"), Set.empty, atSf1 = false)(
      (s, dir) => { Tables.lineitem(s, dir).count(); () }),
    WarmStage("silver", Seq("events"), Set.empty)((s, dir) => Harness.materialize(silver(s, dir))),
    // the shared base table of the ~28 catalog/lifecycle/stream queries
    WarmStage("gold_daily", Seq("events"), Set("gold_daily"))(
      (s, dir) => Harness.materialize(goldDaily(s, dir))),
    WarmStage("pairs", Seq("documents"), Set("pairs"))(warmQuery("dedup_ngram_jaccard")),
    WarmStage("clusters", Seq("documents"), Set("clusters"))(warmQuery("dedup_clusters")),
    WarmStage("verdicts", Seq("documents"), Set("verdicts"), atSf1 = false)(
      warmQuery("text_curation_verdicts")),
    WarmStage("neardup", Seq("embeddings"), Set("neardup"), atBase = false)(
      warmQuery("sim_embed_neardup")),
    // signature frames: the gate report sorts before the listing queries
    WarmStage("minhash", Seq("documents"), Set("minhash"))(warmQuery("dedup_minhash_lsh")),
    WarmStage("simhash", Seq("documents"), Set("simhash"))(warmQuery("dedup_simhash")),
    // decode-once media frame: four mm_* consumers
    WarmStage("media_decoded", Seq("documents"), Set("media_decoded"))(
      warmQuery("mm_media_meta")),
    WarmStage("quality_gold_report", Seq("events"), Set.empty, atBase = false)(
      warmQuery("quality_gold_report"))
  ) ++ Seq("brute", "lsh", "ivf", "ivf_upsert", "sq8", "bq", "pq", "ivfpq").map { m =>
    // the shared coarse quantizer is built by its first consumer
    val creates = if (m == "ivf") Set("ann_ivf", "ivf_cents") else Set(s"ann_$m")
    WarmStage(s"ann_$m", Seq("embeddings"), creates, atBase = false)(
      warmQuery(s"sim_embed_topk_$m"))
  }

  private[graft] def warmStages(sf1: Boolean): Seq[WarmStage] =
    warmRegistry.filter(w => if (sf1) w.atSf1 else w.atBase)

  private[graft] def silverCacheSize: Int = silverCache.size

  /** Stage names currently cached for (s, dir) — Bench snapshots this
    * around each timed query to learn which stages the query CREATED
    * (vs merely consumed). A re-run of a stage-creating query is only
    * a valid measurement if those stages are evicted first; otherwise
    * it times a localCheckpoint cache hit (the r5 board defect: an
    * 85× understatement on `sim_embed_topk_pq`). */
  private[graft] def stageNames(s: SparkSession, dir: String): Set[String] = {
    val it = stagedCache.keySet().iterator()
    var out = Set.empty[String]
    while (it.hasNext) {
      val k = it.next()
      if ((k._1 eq s) && k._2 == dir) out += k._3
    }
    out
  }

  /** Evict the named stages for (s, dir) so the next consumer rebuilds
    * them — Bench's re-run fidelity hook (see [[stageNames]]). Safe
    * mid-run: stages are localCheckpoint'd (no lineage into evicted
    * frames) and later consumers transparently rebuild via [[staged]]. */
  private[graft] def evictStages(s: SparkSession, dir: String, stages: Set[String]): Unit = {
    if (stages.nonEmpty) {
      val it = stagedCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        if ((k._1 eq s) && k._2 == dir && stages(k._3)) {
          try e.getValue.unpersist(blocking = false) catch { case _: Throwable => }
          it.remove()
        }
      }
    }
  }

  /** Evict (and unpersist) every cached silver frame of `s` — wired to
    * the session's application-end event above, and callable directly
    * by long-lived drivers between workloads. */
  def evictSilver(s: SparkSession): Unit = {
    val it = silverCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        try e.getValue.unpersist(blocking = false) catch { case _: Throwable => }
        it.remove()
      }
    }
    val st = stagedCache.entrySet().iterator()
    while (st.hasNext) {
      val e = st.next()
      if (e.getKey._1 eq s) {
        // localCheckpoint blocks are freed by the ContextCleaner once
        // the RDD is unreachable — unpersist what it can, drop the ref
        try e.getValue.unpersist(blocking = false) catch { case _: Throwable => }
        st.remove()
      }
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "silver_events" -> ((s, dir) => silver(s, dir)),
    "gold_daily_sales" -> ((s, dir) => DailySales.build(silver(s, dir))),
    // approx marts surface as their error-bound reports: the report
    // internally builds BOTH the approx and exact variants and emits a
    // DuckDB-pinnable pass/fail surface (green hash row, not rows-only)
    "q_ewma_daily_revenue" -> ((s, dir) =>
      DailySales.ewmaDailyRevenue(silver(s, dir))),
    // the distributed (calendar-chunked affine-scan) EWMA, gated on
    // agreement with the sequential fold — the unbounded-series path
    "q_ewma_scan_report" -> (graft.ops.EwmaScan.ewmaScanReport _),
    "gold_daily_sales_approx" -> ((s, dir) => DailySales.approxErrorReport(silver(s, dir))),
    "q_unpivot_daily_metrics" -> ((s, dir) =>
      DailySales.unpivotMetrics(goldDaily(s, dir))),
    "q_scd2_user_stages" -> (Scd2.userStageHistory _),
    "q_customer_ltv_deciles" -> (LtvDeciles.build _),
    "gold_hourly_traffic" -> ((s, dir) => HourlyTraffic.build(silver(s, dir))),
    "q_typed_hourly_traffic" -> ((s, dir) =>
      TypedTraffic.build(TypedTraffic.asSilver(silver(s, dir)))),
    "q_stats_moments" -> (StatsMoments.momentsQuery _),
    "gold_item_performance" -> ((s, dir) => ItemPerformance.build(silver(s, dir))),
    "gold_user_journey_funnel" -> ((s, dir) => UserJourneyFunnel.build(silver(s, dir))),
    "gold_conversion_funnel_daily" -> ((s, dir) => ConversionFunnelDaily.build(silver(s, dir))),
    "gold_category_performance" -> ((s, dir) => CategoryPerformance.build(silver(s, dir))),
    "gold_user_rfm_segments" -> ((s, dir) => RfmSegments.build(silver(s, dir))),
    // _scalable is the approx PATH alone (its true board cost — exact
    // DuckDB oracle, see RfmSegments.scalableSql); _scalable_gate keeps
    // the exact-vs-approx equivalence audit as its own row
    "gold_user_rfm_segments_scalable" -> ((s, dir) =>
      RfmSegments.buildAtScale(silver(s, dir))),
    "gold_user_rfm_segments_scalable_gate" -> ((s, dir) =>
      RfmSegments.scalableEquivalenceReport(silver(s, dir))),
    "q1_pricing_summary" -> ((s, dir) => PricingSummary.build(Tables.lineitem(s, dir))),
    "q_revenue_by_nation" -> (TpchQueries.revenueByNation _),
    "q_top_parts" -> (TpchQueries.topParts _),
    "q_union_counts" -> (TpchQueries.unionCounts _),
    "q_recent_shipments" -> (TpchQueries.recentShipments _),
    "q_frequent_buyers" -> (TpchQueries.frequentBuyers _),
    "q_customers_without_big_orders" -> (TpchQueries.customersWithoutBigOrders _),
    "q_order_priority_share" -> (TpchQueries.orderPriorityShare _),
    "q_sessionize" -> (TpchQueries.sessionize _),
    "q_session_windows" -> (TpchQueries.sessionWindows _),
    "q_asof_last_signup" -> (TpchQueries.purchasesWithLastSignup _),
    "q_asof_last_signup_native" -> (TpchQueries.purchasesWithLastSignupNative _),
    "q_asof_next_error" -> (TpchQueries.purchasesWithNextError _),
    "q_asof_nearest_signup" -> (TpchQueries.purchasesWithNearestSignup _),
    "q_rollup_sales" -> (CoverageQueries.rollupSales _),
    "q_cube_sales" -> (CoverageQueries.cubeSales _),
    "q_grouping_sets_sales" -> (CoverageQueries.groupingSetsSales _),
    "q_cohort_retention" -> (CoverageQueries.cohortRetention _),
    "q_value_windows" -> (CoverageQueries.valueWindows _),
    "q_multiset_ops" -> (CoverageQueries.multisetOps _),
    "q_item_revenue_percentiles" -> (CoverageQueries.itemRevenuePercentiles _),
    "q_buyer_set_ops" -> (CoverageQueries.buyerSetOps _),
    "q_pivot_daily_types" -> (CoverageQueries.pivotDailyTypes _),
    "q_purchase_ranks" -> (CoverageQueries.purchaseRanks _),
    "q_json_props" -> (CoverageQueries.jsonProps _),
    "q_variant_props" -> (CoverageQueries.variantProps _),
    "q_sql_weekly_revenue" -> (CoverageQueries.sqlWeeklyRevenue _),
    // E2: the reference's dbt model text run through spark.sql over the
    // shared silver view — hash-gated against the same oracle as the
    // DataFrame marts (SqlParity scaladoc has the adaptation contract).
    // The view is registered over a staged checkpoint of silver rather
    // than the cached frame: a CTE that references the view twice
    // (the category model's self-join) trips a Spark
    // InMemoryRelation.withOutput canonicalization bug ("key not
    // found" on a pruned attribute) when the view wraps a cached
    // plan; the checkpointed frame is also the production shape —
    // dbt models read a TABLE, not another session's cache.
    "q_sql_gold_daily_sales" -> ((s, dir) =>
      SqlParity.sqlGoldDailySales(s, silverSqlFrame(s, dir))),
    "q_sql_gold_hourly_traffic" -> ((s, dir) =>
      SqlParity.sqlGoldHourlyTraffic(s, silverSqlFrame(s, dir))),
    "q_sql_gold_user_journey_funnel" -> ((s, dir) =>
      SqlParity.sqlGoldUserJourneyFunnel(s, silverSqlFrame(s, dir))),
    "q_sql_gold_category_performance" -> ((s, dir) =>
      SqlParity.sqlGoldCategoryPerformance(s, silverSqlFrame(s, dir))),
    "q_sql_gold_conversion_funnel_daily" -> ((s, dir) =>
      SqlParity.sqlGoldConversionFunnelDaily(s, silverSqlFrame(s, dir))),
    "q_sql_gold_item_performance" -> ((s, dir) =>
      SqlParity.sqlGoldItemPerformance(s, silverSqlFrame(s, dir))),
    // the previously-EXCLUDED 7th model: the reference's literal
    // NTILE-over-everything runs as text (the single-partition wart,
    // demonstrated), sharing the GlobalRank mart's oracle bit-for-bit;
    // RfmSegments.build stays the engine path
    "q_sql_gold_user_rfm_segments" -> ((s, dir) =>
      SqlParity.sqlGoldUserRfmSegments(s, silverSqlFrame(s, dir))),
    "q_sql_silver_events" -> ((s, dir) =>
      SqlParity.sqlSilverEvents(s, Tables.events(s, dir))),
    "q_event_patterns" -> ((s, dir) => CoverageQueries.eventPatternsOver(silver(s, dir))),
    "q_shipping_priority" -> (TpchMoreQueries.shippingPriority _),
    "q_returned_items" -> (TpchMoreQueries.returnedItems _),
    "q_order_price_tiers" -> (TpchMoreQueries.orderPriceTiers _),
    "q_gapfill_nation_revenue" -> (TpchMoreQueries.gapfillNationRevenue _),
    "q_above_avg_orders" -> (TpchMoreQueries.aboveAvgOrders _),
    "q_urgent_customers" -> (TpchMoreQueries.urgentCustomers _),
    "q_customer_distribution" -> (TpchMoreQueries.customerDistribution _),
    "q_trailing_revenue" -> (TpchMoreQueries.trailingRevenue _),
    "q_min_cost_supplier" -> (TpchHeavyQueries.minCostSupplier _),
    "q_sole_late_supplier" -> (TpchHeavyQueries.soleLateSupplier _),
    "q_large_quantity_orders" -> (TpchHeavyQueries.largeQuantityOrders _),
    "q_order_value_percentiles" -> (TpchHeavyQueries.orderValuePercentiles _),
    "q_order_value_percentiles_approx" -> ((s, dir) =>
      TpchHeavyQueries.orderValuePercentilesApproxGate(s, dir)),
    "q_idle_wealthy_customers" -> (TpchHeavyQueries.idleWealthyCustomers _),
    "q_major_suppliers" -> ((s, dir) => TpchHeavyQueries.majorSuppliers(s, dir)),
    "q_volume_shipping" -> (TpchTradeQueries.volumeShippingQuery _),
    "q_bloom_prune_revenue" -> (graft.ops.BloomJoin.bloomPruneRevenue _),
    "q_order_line_arrays" -> (ArrayFunQueries.orderLineArrays _),
    "q_market_share" -> (TpchTradeQueries.marketShareQuery _),
    "q_promo_revenue" -> (TpchTradeQueries.promoRevenue _),
    "q_disjunctive_revenue" -> (TpchTradeQueries.disjunctiveRevenue _),
    "text_doc_stats" -> (graft.text.TextAnalysis.docStatsQuery _),
    "text_lang_id" -> (graft.text.TextAnalysis.langIdQuery _),
    "text_source_quality" -> (graft.text.TextAnalysis.sourceQualityQuery _),
    "text_filter_flags" -> (graft.text.QualityFilters.filterFlagsQuery _),
    "text_repetition_profile" -> (graft.text.QualityFilters.repetitionProfileQuery _),
    "text_vocab_coverage" -> (graft.text.QualityFilters.vocabCoverageQuery _),
    "text_vocabulary" -> (graft.text.QualityFilters.vocabularyQuery _),
    "text_token_estimates" -> (graft.text.QualityFilters.tokenEstimatesQuery _),
    "text_topk_tokens_sketch" -> (graft.text.QualityFilters.topTokensSketch _),
    "text_tfidf_top_terms" -> ((s, dir) => graft.text.QualityFilters.tfidfTopTerms(s, dir)),
    "text_rolling_fingerprints" -> (graft.text.TextAnalysis.rollingFingerprintsQuery _),
    "dedup_exact" -> (graft.dedup.NearDup.exactGroupsQuery _),
    // the five pair consumers share the staged dupPairs frame
    "dedup_ngram_jaccard" -> ((s, dir) =>
      dupPairs(s, dir).orderBy(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_minhash_lsh" -> ((s, dir) => minhashPairs(s, dir)
      .orderBy(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_clusters" -> ((s, dir) => dupClusters(s, dir)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "dedup_clusters_star" -> ((s, dir) => graft.dedup.ConnectedComponents
      .duplicateClustersStar(dupPairs(s, dir))),
    "dedup_simhash" -> ((s, dir) => simhashPairs(s, dir)
      .orderBy(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_fuzzy_parts" -> ((s, dir) => graft.dedup.FuzzyMatch.fuzzyPartPairs(s, dir)),
    "dedup_fuzzy_parts_jw" -> ((s, dir) => graft.dedup.FuzzyMatch.jwPartPairs(s, dir)),
    "dedup_gate_report" -> ((s, dir) => graft.dedup.NearDup.gateReportWith(
      s, dupPairs(s, dir), minhashPairs(s, dir), simhashPairs(s, dir))),
    "dedup_apply_keeplist" -> ((s, dir) => graft.dedup.NearDup.applyKeepList(
      Tables.documents(s, dir), dupClusters(s, dir))),
    "dedup_crossmodal" -> ((s, dir) => graft.sim.SemDedup.crossModalAgreement(
      dupPairs(s, dir), Tables.embeddings(s, dir))),
    "text_split_assign" -> (graft.text.QualityFilters.splitAssignQuery _),
    "text_lm_scores" -> (graft.text.QualityFilters.lmScoresQuery _),
    "text_lm_bigram_scores" -> (graft.text.QualityFilters.bigramLmScoresQuery _),
    "text_char_entropy" -> (graft.text.QualityFilters.charEntropyQuery _),
    "text_lm_scores_batch" -> (graft.text.LmBatchScorer.lmScoresBatchQuery _),
    "text_pii_redaction" -> (graft.text.PiiRedaction.redactionQuery _),
    "text_dsir_weights" -> (graft.text.DsirWeights.dsirWeightsQuery _),
    "text_decontamination" -> (graft.dedup.NearDup.decontaminationQuery _),
    "text_curation_verdicts" -> ((s, dir) => curationVerdicts(s, dir)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "text_apply_curation" -> ((s, dir) => graft.text.CurationOps.applyCuration(
      Tables.documents(s, dir), curationVerdicts(s, dir))),
    "text_source_dashboard" -> ((s, dir) => graft.text.CurationOps.sourceDashboard(
      Tables.documents(s, dir), curationVerdicts(s, dir))),
    "text_sample_mixture" -> (graft.text.CurationOps.sampleMixtureQuery _),
    "text_sample_per_source" -> (graft.text.QualityFilters.samplePerSourceQuery _),
    "text_pack_sequences" -> (graft.text.CurationOps.packSequencesQuery _),
    "text_passage_dedup" -> (graft.text.CurationOps.passageDedupQuery _),
    "text_chunk_windows" -> (graft.text.CurationOps.chunkWindowsQuery _),
    "dedup_incremental" -> (graft.dedup.NearDup.incrementalDedupQuery _),
    "dedup_incremental_minhash" -> (graft.dedup.NearDup.incrementalMinhashQuery _),
    // semantic leg of the incremental-dedup family: batch vs the
    // persisted IVF member index (same state the streaming ANN index
    // maintains), oracle-gated claims + cluster-free recall floor
    "dedup_incremental_semantic" -> (graft.sim.SemDedup.incrementalSemDedupQuery _),
    "text_shuffle_shards" -> (graft.text.CurationOps.shuffleShardsQuery _),
    "text_shard_manifest" -> (graft.text.CurationOps.shardManifestQuery _),
    "sim_embed_topk_brute" -> ((s, dir) => annTopK(s, dir, "brute")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_lsh" -> ((s, dir) => annTopK(s, dir, "lsh")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_ivf" -> ((s, dir) => annTopK(s, dir, "ivf")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_ivf_upsert" -> ((s, dir) => annTopK(s, dir, "ivf_upsert")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_sq8" -> ((s, dir) => annTopK(s, dir, "sq8")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_bq" -> ((s, dir) => annTopK(s, dir, "bq")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_pq" -> ((s, dir) => annTopK(s, dir, "pq")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_topk_ivfpq" -> ((s, dir) => annTopK(s, dir, "ivfpq")
      .orderBy(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("rank"))),
    "sim_embed_neardup" -> ((s, dir) => nearDupPairs(s, dir)
      .orderBy(org.apache.spark.sql.functions.col("cosine").desc,
        org.apache.spark.sql.functions.col("vec_a"),
        org.apache.spark.sql.functions.col("vec_b"))),
    // the semdedup consumers share the staged within-cluster pairs; the
    // report also gates the staged LSH near-dup list vs the exact top
    "sim_semdedup" -> ((s, dir) =>
      graft.sim.SemDedup.dropsFromPairs(semDedupPairs(s, dir))),
    "sim_semdedup_report" -> ((s, dir) => graft.sim.SemDedup.semDedupReportWith(
      s, Tables.embeddings(s, dir), semDedupPairs(s, dir), nearDupPairs(s, dir))),
    "sim_recall_report" -> ((s, dir) => graft.sim.EmbeddingSim.recallReportWith(
      s, annTopK(s, dir, "brute"),
      graft.sim.EmbeddingSim.annFloors.map { case (m, _) =>
        m -> annTopK(s, dir, m) }.toMap)),
    // the four mm_* consumers project from the shared decode-once frame
    "mm_media_meta" -> ((s, dir) =>
      graft.multimodal.Multimodal.mediaMetaFrom(mediaDecoded(s, dir))),
    "mm_media_features" -> ((s, dir) =>
      graft.multimodal.Multimodal.featuresFrom(mediaDecoded(s, dir))),
    "mm_video_frames" -> ((s, dir) =>
      graft.multimodal.Multimodal.framesFrom(mediaDecoded(s, dir))),
    "mm_modality_stats" -> ((s, dir) =>
      graft.multimodal.Multimodal.modalityStatsFrom(mediaDecoded(s, dir))),
    // lossy-codec leg: dims + per-pixel error envelope vs source raster
    "mm_media_features_jpeg" -> (graft.multimodal.Multimodal.jpegEnvelopeQuery _),
    // resize leg: 4x4 box-mean thumbnail / 16-window audio envelope,
    // computed in the same single decode pass
    "mm_media_downsample" -> ((s, dir) =>
      graft.multimodal.Multimodal.downsampleFrom(mediaDecoded(s, dir))),
    // decoder-free container-structure leg: MP3 frame walk + ISO-BMFF
    // box walk recover duration/bitrate/track metadata by parsing
    // bytes; oracle recomputes from construction arithmetic
    "mm_container_probe" -> (graft.multimodal.ContainerProbe.probeQuery _),
    // FLAC STREAMINFO + Ogg page-walk legs of the container family
    "mm_container_probe_audio" -> (graft.multimodal.ContainerProbe.audioProbeQuery _),
    "q_sketch_rolling_distinct" -> (graft.ops.SketchRollup.rollingDistinctUsersQuery _),
    "q_sketch_audience_overlap" -> (graft.ops.SketchRollup.audienceOverlapQuery _),
    "text_jsonl_manifest" -> (graft.sources.JsonlShards.roundTripManifestQuery _),
    "text_length_drift" -> (graft.ops.SketchRollup.sourceLengthDriftQuery _),
    "q_sketch_rolling_quantiles" -> (graft.ops.SketchRollup.rollingOrderValueQuantilesQuery _),
    "q_sketch_rolling_topk" -> (graft.ops.SketchRollup.rollingTopProductsQuery _),
    "stream_hourly_agg" -> (graft.streaming.StreamingEvents.hourlyAggQuery _),
    // streaming semantic dedup replayed from a crash-shaped checkpoint
    // vs sequential batch application — at the dir's data scale
    "stream_semdedup_replay_audit" -> (graft.streaming.ReplayAudit.semReplayAuditQuery _),
    "incremental_rebuild_diff" -> ((s, dir) =>
      graft.ops.IncrementalRebuild.diffQuery(s, dir,
        fullSilver = Some(silver(s, dir)))),
    "q_merge_restatement" -> (graft.ops.MergeUpsert.restatedDailySales _),
    // report/snapshot queries run over the shared silver cache (they
    // rebuild several marts internally — same amortization the marts get)
    "quality_silver_report" -> ((s, dir) =>
      graft.quality.DataChecks.report(graft.quality.DataChecks.silverSuite(silver(s, dir)))
        .orderBy(org.apache.spark.sql.functions.col("check_name"))),
    "quality_gold_report" -> ((s, dir) =>
      graft.quality.DataChecks.report(graft.quality.DataChecks.goldSuite(silver(s, dir),
          dailyStaged = Some(goldDaily(s, dir))))
        .orderBy(org.apache.spark.sql.functions.col("check_name"))),
    "meta_snapshots" -> ((s, dir) =>
      graft.sources.Snapshots.snapshotsOver(s, goldDaily(s, dir))),
    "meta_cdc_diff" -> ((s, dir) =>
      graft.sources.Snapshots.cdcDiffOver(s, goldDaily(s, dir))),
    "meta_catalog_time_travel" -> ((s, dir) =>
      graft.sources.GraftCatalog.timeTravelOver(s, goldDaily(s, dir))),
    "meta_catalog_merge" -> ((s, dir) =>
      graft.sources.GraftCatalog.mergeOver(s, goldDaily(s, dir))),
    "meta_catalog_file_skip" -> ((s, dir) =>
      graft.sources.GraftCatalog.fileSkipOver(s, goldDaily(s, dir))),
    "meta_catalog_cow_dml" -> ((s, dir) =>
      graft.sources.GraftCatalog.cowDmlOver(s, goldDaily(s, dir))),
    "meta_catalog_merge_prune" -> ((s, dir) =>
      graft.sources.GraftCatalog.mergePruneOver(s, goldDaily(s, dir))),
    "meta_catalog_bloom_skip" -> ((s, dir) =>
      graft.sources.GraftCatalog.bloomSkipOver(s, graft.sources.Tables.documents(s, dir))),
    "meta_catalog_ivm_refresh" -> ((s, dir) =>
      graft.sources.GraftCatalog.ivmRefreshOver(s, silver(s, dir))),
    "meta_catalog_ivm_gold" -> ((s, dir) =>
      graft.sources.GraftCatalog.ivmGoldDailyOver(s, silver(s, dir))),
    "meta_catalog_ivm_flagship" -> ((s, dir) =>
      graft.sources.GraftCatalog.ivmFlagshipOver(s, silver(s, dir))),
    "q_catalog_colocated_join" -> ((s, dir) =>
      graft.sources.GraftCatalog.colocatedJoinOver(s, silver(s, dir))),
    "meta_catalog_agg_pushdown" -> ((s, dir) =>
      graft.sources.GraftCatalog.aggPushdownOver(s, goldDaily(s, dir))),
    "meta_catalog_stats_plane" -> ((s, dir) =>
      graft.sources.GraftCatalog.statsPlaneOver(s, goldDaily(s, dir))),
    "meta_catalog_mor_dml" -> ((s, dir) =>
      graft.sources.GraftCatalog.morDmlOver(s, goldDaily(s, dir))),
    "meta_catalog_mor_upsert" -> ((s, dir) =>
      graft.sources.GraftCatalog.morUpsertOver(s, goldDaily(s, dir))),
    "meta_catalog_rename" -> ((s, dir) =>
      graft.sources.GraftCatalog.renameOver(s, goldDaily(s, dir))),
    "meta_catalog_eq_upsert" -> ((s, dir) =>
      graft.sources.GraftCatalog.eqUpsertOver(s, goldDaily(s, dir))),
    "meta_catalog_delete_compose" -> ((s, dir) =>
      graft.sources.GraftCatalog.deleteComposeOver(s, goldDaily(s, dir))),
    "meta_catalog_days_layout" -> ((s, dir) =>
      graft.sources.GraftCatalog.daysLayoutOver(s, goldDaily(s, dir))),
    "meta_catalog_layout_evolution" -> ((s, dir) =>
      graft.sources.GraftCatalog.layoutEvolutionOver(s, goldDaily(s, dir))),
    "meta_catalog_tags" -> ((s, dir) =>
      graft.sources.GraftCatalog.tagsOver(s, goldDaily(s, dir))),
    "meta_catalog_procedures" -> ((s, dir) =>
      graft.sources.GraftCatalog.proceduresOver(s, goldDaily(s, dir))),
    "meta_catalog_meta_tables" -> ((s, dir) =>
      graft.sources.GraftCatalog.metaTablesOver(s, goldDaily(s, dir))),
    "meta_catalog_branch_wap" -> ((s, dir) =>
      graft.sources.GraftCatalog.branchWapOver(s, goldDaily(s, dir))),
    "meta_catalog_branch_fix" -> ((s, dir) =>
      graft.sources.GraftCatalog.branchFixOver(s, goldDaily(s, dir))),
    "meta_catalog_branch_wap_compose" -> ((s, dir) =>
      graft.sources.GraftCatalog.branchWapComposeOver(s, goldDaily(s, dir))),
    "stream_changelog_cdc" -> ((s, dir) =>
      graft.sources.GraftCatalog.changelogStreamOver(s, goldDaily(s, dir))),
    "meta_catalog_evolution" -> ((s, dir) =>
      graft.sources.GraftCatalog.evolutionOver(s, goldDaily(s, dir))),
    "maintenance_rewrite_files" -> ((s, dir) =>
      graft.sources.GraftCatalog.rewriteFilesOver(s, goldDaily(s, dir))),
    "stream_catalog_append" -> ((s, dir) =>
      graft.sources.GraftCatalog.streamAppendOver(s, goldDaily(s, dir))),
    "stream_catalog_table" -> ((s, dir) =>
      graft.sources.SnapshotStream.catalogStreamOver(s, goldDaily(s, dir))),
    "meta_column_stats" -> (graft.quality.ColumnStats.lineitemStatsQuery _),
    "meta_skew_report" -> (graft.quality.ColumnStats.skewReportQuery _),
    "maintenance_vacuum" -> ((s, dir) =>
      graft.sources.Snapshots.vacuumOver(s, goldDaily(s, dir))),
    "maintenance_compaction" -> (graft.sink.Compaction.compactionQuery _),
    "maintenance_zorder" -> (graft.sink.ZOrder.zorderQuery _),
    "pipeline_serving_sink" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_serving_").toString
      // reuse the shared silver cache — runAll would re-cache the same plan
      Pipeline.runAllWith(s, silver(s, dir), out)
    }),
  )

  private def annGate(method: String): String =
    graft.sim.EmbeddingSim.annGateSql(method,
      graft.sim.EmbeddingSim.annFloors.toMap.apply(method))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "silver_events" -> SilverEvents.oracleSql,
    "gold_daily_sales" -> DailySales.oracleSql,
    "gold_daily_sales_approx" -> DailySales.approxErrorReportSql,
    "q_ewma_daily_revenue" -> DailySales.ewmaDailyRevenueSql,
    "q_ewma_scan_report" -> graft.ops.EwmaScan.ewmaScanReportSql,
    "gold_user_rfm_segments_scalable" -> RfmSegments.scalableSql,
    "gold_user_rfm_segments_scalable_gate" -> RfmSegments.scalableEquivalenceSql,
    "sim_recall_report" -> graft.sim.EmbeddingSim.recallReportSql,
    "sim_semdedup_report" -> graft.sim.SemDedup.semDedupReportSql,
    // one gate per approximate top-k method, floor shared with
    // sim_recall_report via annFloors (single calibration source)
    "sim_embed_topk_lsh" -> annGate("lsh"),
    "sim_embed_topk_ivf" -> annGate("ivf"),
    "sim_embed_topk_ivf_upsert" -> annGate("ivf_upsert"),
    "q_sketch_rolling_distinct" -> graft.ops.SketchRollup.rollingDistinctUsersSql,
    "q_sketch_audience_overlap" -> graft.ops.SketchRollup.audienceOverlapSql,
    "text_jsonl_manifest" -> graft.sources.JsonlShards.roundTripManifestSql,
    "text_length_drift" -> graft.ops.SketchRollup.sourceLengthDriftSql,
    "q_sketch_rolling_quantiles" -> graft.ops.SketchRollup.rollingOrderValueQuantilesSql,
    "q_sketch_rolling_topk" -> graft.ops.SketchRollup.rollingTopProductsSql,
    "sim_embed_topk_sq8" -> annGate("sq8"),
    "sim_embed_topk_bq" -> annGate("bq"),
    "sim_embed_topk_pq" -> annGate("pq"),
    "sim_embed_topk_ivfpq" -> annGate("ivfpq"),
    "q_unpivot_daily_metrics" -> DailySales.unpivotMetricsSql,
    "q_scd2_user_stages" -> Scd2.userStageHistorySql,
    "q_customer_ltv_deciles" -> LtvDeciles.oracleSql,
    "gold_hourly_traffic" -> HourlyTraffic.oracleSql,
    // the typed Dataset[T] mart must reproduce the relational mart exactly
    "q_typed_hourly_traffic" -> HourlyTraffic.oracleSql,
    "q_stats_moments" -> StatsMoments.momentsSql,
    "gold_item_performance" -> ItemPerformance.oracleSql,
    "gold_user_journey_funnel" -> UserJourneyFunnel.oracleSql,
    "gold_conversion_funnel_daily" -> ConversionFunnelDaily.oracleSql,
    "gold_category_performance" -> CategoryPerformance.oracleSql,
    "gold_user_rfm_segments" -> RfmSegments.oracleSql,
    "q1_pricing_summary" -> PricingSummary.oracleSql,
    "q_revenue_by_nation" -> TpchQueries.revenueByNationSql,
    "q_top_parts" -> TpchQueries.topPartsSql,
    "q_union_counts" -> TpchQueries.unionCountsSql,
    "q_recent_shipments" -> TpchQueries.recentShipmentsSql,
    "q_frequent_buyers" -> TpchQueries.frequentBuyersSql,
    "q_customers_without_big_orders" -> TpchQueries.customersWithoutBigOrdersSql,
    "q_order_priority_share" -> TpchQueries.orderPriorityShareSql,
    "q_sessionize" -> TpchQueries.sessionizeSql,
    "q_session_windows" -> TpchQueries.sessionWindowsSql,
    "q_asof_last_signup" -> TpchQueries.purchasesWithLastSignupSql,
    "q_asof_last_signup_native" -> TpchQueries.purchasesWithLastSignupSql,
    "q_asof_next_error" -> TpchQueries.purchasesWithNextErrorSql,
    "q_asof_nearest_signup" -> TpchQueries.purchasesWithNearestSignupSql,
    "q_rollup_sales" -> CoverageQueries.rollupSalesSql,
    "q_cube_sales" -> CoverageQueries.cubeSalesSql,
    "q_grouping_sets_sales" -> CoverageQueries.groupingSetsSalesSql,
    "q_cohort_retention" -> CoverageQueries.cohortRetentionSql,
    "q_value_windows" -> CoverageQueries.valueWindowsSql,
    "q_multiset_ops" -> CoverageQueries.multisetOpsSql,
    "q_item_revenue_percentiles" -> CoverageQueries.itemRevenuePercentilesSql,
    "q_buyer_set_ops" -> CoverageQueries.buyerSetOpsSql,
    "q_pivot_daily_types" -> CoverageQueries.pivotDailyTypesSql,
    "q_purchase_ranks" -> CoverageQueries.purchaseRanksSql,
    "q_json_props" -> CoverageQueries.jsonPropsSql,
    "q_variant_props" -> CoverageQueries.variantPropsSql,
    "q_sql_weekly_revenue" -> CoverageQueries.sqlWeeklyRevenueSql,
    // SQL-text parity marts share the DataFrame marts' oracles
    "q_sql_gold_daily_sales" -> DailySales.oracleSql,
    "q_sql_gold_hourly_traffic" -> HourlyTraffic.oracleSql,
    "q_sql_gold_user_journey_funnel" -> UserJourneyFunnel.oracleSql,
    "q_sql_gold_category_performance" -> CategoryPerformance.oracleSql,
    "q_sql_gold_conversion_funnel_daily" -> ConversionFunnelDaily.oracleSql,
    "q_sql_gold_item_performance" -> ItemPerformance.oracleSql,
    "q_sql_gold_user_rfm_segments" -> RfmSegments.oracleSql,
    "q_sql_silver_events" -> SilverEvents.oracleSql,
    "q_event_patterns" -> CoverageQueries.eventPatternsSql,
    "q_shipping_priority" -> TpchMoreQueries.shippingPrioritySql,
    "q_returned_items" -> TpchMoreQueries.returnedItemsSql,
    "q_order_price_tiers" -> TpchMoreQueries.orderPriceTiersSql,
    "q_gapfill_nation_revenue" -> TpchMoreQueries.gapfillNationRevenueSql,
    "q_above_avg_orders" -> TpchMoreQueries.aboveAvgOrdersSql,
    "q_urgent_customers" -> TpchMoreQueries.urgentCustomersSql,
    "q_customer_distribution" -> TpchMoreQueries.customerDistributionSql,
    "q_trailing_revenue" -> TpchMoreQueries.trailingRevenueSql,
    "q_min_cost_supplier" -> TpchHeavyQueries.minCostSupplierSql,
    "q_sole_late_supplier" -> TpchHeavyQueries.soleLateSupplierSql,
    "q_large_quantity_orders" -> TpchHeavyQueries.largeQuantityOrdersSql,
    "q_order_value_percentiles" -> TpchHeavyQueries.orderValuePercentilesSql,
    "q_order_value_percentiles_approx" ->
      TpchHeavyQueries.orderValuePercentilesApproxGateSql,
    "q_idle_wealthy_customers" -> TpchHeavyQueries.idleWealthyCustomersSql,
    "q_major_suppliers" -> TpchHeavyQueries.majorSuppliersSql,
    "q_volume_shipping" -> TpchTradeQueries.volumeShippingSql,
    "q_bloom_prune_revenue" -> graft.ops.BloomJoin.bloomPruneRevenueSql,
    "q_order_line_arrays" -> ArrayFunQueries.orderLineArraysSql,
    "q_market_share" -> TpchTradeQueries.marketShareSql,
    "q_promo_revenue" -> TpchTradeQueries.promoRevenueSql,
    "q_disjunctive_revenue" -> TpchTradeQueries.disjunctiveRevenueSql,
    "text_doc_stats" -> graft.text.TextAnalysis.docStatsSql,
    "text_lang_id" -> graft.text.TextAnalysis.langIdSql,
    "text_source_quality" -> graft.text.TextAnalysis.sourceQualitySql,
    "text_filter_flags" -> graft.text.QualityFilters.filterFlagsSql,
    "text_repetition_profile" -> graft.text.QualityFilters.repetitionProfileSql,
    "text_vocab_coverage" -> graft.text.QualityFilters.vocabCoverageSql,
    "text_vocabulary" -> graft.text.QualityFilters.vocabularySql,
    "text_token_estimates" -> graft.text.QualityFilters.tokenEstimatesSql,
    "text_topk_tokens_sketch" -> graft.text.QualityFilters.topTokensSketchSql,
    "text_tfidf_top_terms" -> graft.text.QualityFilters.tfidfTopTermsSql,
    "text_rolling_fingerprints" -> graft.text.TextAnalysis.rollingFingerprintsSql,
    "dedup_exact" -> graft.dedup.NearDup.exactGroupsSql,
    "dedup_ngram_jaccard" -> graft.dedup.NearDup.jaccardPairsSql,
    "dedup_clusters" -> graft.dedup.NearDup.clustersSql,
    // the star-contraction CC must produce byte-identical components
    "dedup_clusters_star" -> graft.dedup.NearDup.clustersSql,
    "dedup_fuzzy_parts" -> graft.dedup.FuzzyMatch.fuzzyPartPairsSql,
    "dedup_fuzzy_parts_jw" -> graft.dedup.FuzzyMatch.jwPartPairsSql,
    "dedup_gate_report" -> graft.dedup.NearDup.gateReportSql,
    "dedup_apply_keeplist" -> graft.dedup.NearDup.dedupedCorpusSql,
    "dedup_crossmodal" -> graft.sim.SemDedup.crossModalAgreementSql,
    "text_split_assign" -> graft.text.QualityFilters.splitAssignSql,
    "text_lm_scores" -> graft.text.QualityFilters.lmScoresSql,
    "text_lm_bigram_scores" -> graft.text.QualityFilters.bigramLmScoresSql,
    "text_char_entropy" -> graft.text.QualityFilters.charEntropySql,
    // the batch scorer's capped-vocab + OOV-floor model has its own twin
    "text_lm_scores_batch" -> graft.text.LmBatchScorer.lmScoresBatchSql,
    "text_pii_redaction" -> graft.text.PiiRedaction.redactionSql,
    "text_dsir_weights" -> graft.text.DsirWeights.dsirWeightsSql,
    "text_decontamination" -> graft.dedup.NearDup.decontaminationSql,
    "text_curation_verdicts" -> graft.text.Curation.verdictsSql,
    "text_apply_curation" -> graft.text.CurationOps.applyCurationSql,
    "text_source_dashboard" -> graft.text.CurationOps.sourceDashboardSql,
    "text_sample_mixture" -> graft.text.CurationOps.sampleMixtureSql,
    "text_sample_per_source" -> graft.text.QualityFilters.samplePerSourceSql,
    "text_pack_sequences" -> graft.text.CurationOps.packSequencesSql,
    "text_passage_dedup" -> graft.text.CurationOps.passageDedupSql,
    "text_chunk_windows" -> graft.text.CurationOps.chunkWindowsSql,
    "dedup_incremental" -> graft.dedup.NearDup.incrementalDedupSql,
    "dedup_incremental_minhash" -> graft.dedup.NearDup.incrementalMinhashSql,
    "dedup_incremental_semantic" -> graft.sim.SemDedup.incrementalSemGateSql(),
    "text_shuffle_shards" -> graft.text.CurationOps.shuffleShardsSql,
    "text_shard_manifest" -> graft.text.CurationOps.shardManifestSql,
    "sim_embed_topk_brute" -> graft.sim.EmbeddingSim.bruteForceTopKSql,
    // dedup_minhash_lsh / dedup_simhash: FULL-parity oracles — the
    // portable h60 hash lets DuckDB recompute the entire sketch
    // pipeline independently (signatures, banding, salting, exact
    // verification), so the hash compare certifies the implementation.
    "dedup_minhash_lsh" -> graft.dedup.NearDup.minhashPairsSql,
    "dedup_simhash" -> graft.dedup.NearDup.simhashPairsSql,
    // The five approximate top-k methods + the LSH near-dup list + the
    // SemDeDup drop list: trained float state (k-means centroids,
    // quantizer codebooks, hyperplanes) is not DuckDB-portable, but the
    // CLAIMS are — each gate SQL reads the Spark result back ({OUT} is
    // substituted by Verify), recomputes every claimed score exactly
    // from the base tables, and gates recall at the calibrated floor;
    // failure emits a sentinel row so the compare goes red.
    "sim_embed_neardup" -> graft.sim.EmbeddingSim.nearDupGateSql,
    "sim_semdedup" -> graft.sim.SemDedup.semDedupGateSql(),
    "mm_media_meta" -> graft.multimodal.Multimodal.mediaMetaSql,
    "mm_media_features" -> graft.multimodal.Multimodal.featuresSql,
    "mm_video_frames" -> graft.multimodal.Multimodal.framesSql,
    "mm_modality_stats" -> graft.multimodal.Multimodal.modalityStatsSql,
    "mm_media_features_jpeg" -> graft.multimodal.Multimodal.jpegEnvelopeSql,
    "mm_media_downsample" -> graft.multimodal.Multimodal.downsampleSql,
    "mm_container_probe" -> graft.multimodal.ContainerProbe.oracleSql,
    "mm_container_probe_audio" -> graft.multimodal.ContainerProbe.audioOracleSql,
    "stream_hourly_agg" -> graft.streaming.StreamingEvents.hourlyAggSql,
    "stream_semdedup_replay_audit" -> graft.streaming.ReplayAudit.semReplayAuditSql,
    "incremental_rebuild_diff" -> graft.ops.IncrementalRebuild.diffSql,
    "q_merge_restatement" -> graft.ops.MergeUpsert.restatedDailySalesSql,
    "quality_silver_report" -> graft.quality.DataChecks.silverReportSql,
    "quality_gold_report" -> graft.quality.DataChecks.goldReportSql,
    "meta_snapshots" -> graft.sources.Snapshots.snapshotsSql,
    "meta_cdc_diff" -> graft.sources.Snapshots.cdcDiffSql,
    "meta_catalog_time_travel" -> graft.sources.GraftCatalog.timeTravelSql,
    "meta_catalog_merge" -> graft.sources.GraftCatalog.mergeSql,
    "meta_catalog_file_skip" -> graft.sources.GraftCatalog.fileSkipSql,
    "meta_catalog_cow_dml" -> graft.sources.GraftCatalog.cowDmlSql,
    "meta_catalog_merge_prune" -> graft.sources.GraftCatalog.mergePruneSql,
    "meta_catalog_bloom_skip" -> graft.sources.GraftCatalog.bloomSkipSql,
    "meta_catalog_ivm_refresh" -> graft.sources.GraftCatalog.ivmRefreshSql,
    "meta_catalog_ivm_gold" -> graft.sources.GraftCatalog.ivmGoldDailySql,
    "meta_catalog_ivm_flagship" -> graft.sources.GraftCatalog.ivmFlagshipSql,
    "q_catalog_colocated_join" -> graft.sources.GraftCatalog.colocatedJoinSql,
    "meta_catalog_agg_pushdown" -> graft.sources.GraftCatalog.aggPushdownSql,
    "meta_catalog_stats_plane" -> graft.sources.GraftCatalog.statsPlaneSql,
    "meta_catalog_mor_dml" -> graft.sources.GraftCatalog.morDmlSql,
    "meta_catalog_mor_upsert" -> graft.sources.GraftCatalog.morUpsertSql,
    "meta_catalog_rename" -> graft.sources.GraftCatalog.renameSql,
    "meta_catalog_eq_upsert" -> graft.sources.GraftCatalog.eqUpsertSql,
    "meta_catalog_delete_compose" -> graft.sources.GraftCatalog.deleteComposeSql,
    "meta_catalog_days_layout" -> graft.sources.GraftCatalog.daysLayoutSql,
    "meta_catalog_layout_evolution" -> graft.sources.GraftCatalog.layoutEvolutionSql,
    "meta_catalog_tags" -> graft.sources.GraftCatalog.tagsSql,
    "meta_catalog_procedures" -> graft.sources.GraftCatalog.proceduresSql,
    "meta_catalog_meta_tables" -> graft.sources.GraftCatalog.metaTablesSql,
    "meta_catalog_branch_wap" -> graft.sources.GraftCatalog.branchWapSql,
    "meta_catalog_branch_fix" -> graft.sources.GraftCatalog.branchFixSql,
    "meta_catalog_branch_wap_compose" -> graft.sources.GraftCatalog.branchWapComposeSql,
    "stream_changelog_cdc" -> graft.sources.GraftCatalog.changelogStreamSql,
    "meta_catalog_evolution" -> graft.sources.GraftCatalog.evolutionSql,
    "maintenance_rewrite_files" -> graft.sources.GraftCatalog.rewriteFilesSql,
    "stream_catalog_append" -> graft.sources.GraftCatalog.streamAppendSql,
    "stream_catalog_table" -> graft.sources.SnapshotStream.catalogStreamSql,
    "meta_column_stats" -> graft.quality.ColumnStats.lineitemStatsSql,
    "meta_skew_report" -> graft.quality.ColumnStats.skewReportSql,
    "maintenance_vacuum" -> graft.sources.Snapshots.vacuumSql,
    "maintenance_compaction" -> graft.sink.Compaction.compactionSql,
    "maintenance_zorder" -> graft.sink.ZOrder.zorderSql,
    "pipeline_serving_sink" -> Pipeline.servingSummarySql,
  )
}
