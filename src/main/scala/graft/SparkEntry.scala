package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY §2 run over the
  * driver parquet corpus at `sfDir`; `oracleSql` holds the equivalent
  * ANSI SQL the driver executes in DuckDB over the same parquet tables.
  * Column names and rounding are aligned pairwise (driver compare sorts
  * columns by name and hash-compares values).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  private def enriched(s: SparkSession, d: String): DataFrame =
    Enrich.enrich(t(s, d, "orders"), t(s, d, "customer"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Enrich.enrich(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/customer.parquet"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- Core reference surface (SURVEY §2.2/§2.3) ---
    "c08_c09_enrich" -> ((s, d) => enriched(s, d)),
    "c10_filter_city" -> ((s, d) => Analytics.filterCity(enriched(s, d), "BUILDING")),
    "c11_scalar_avg" -> ((s, d) => Analytics.scalarAvg(enriched(s, d), "BUILDING")),
    "c12_avg_by_city" -> ((s, d) => Analytics.avgByCity(enriched(s, d))),
    "c13_sum_by_city" -> ((s, d) => Analytics.sumByCity(enriched(s, d))),
    "c14_top10" -> ((s, d) => Analytics.topN(t(s, d, "customer"), "c_custkey", 10)),
    "c02_json_decode" -> ((s, d) => Analytics.decodeProps(t(s, d, "events"))),
    // --- Relational breadth ---
    "q_pricing_summary" -> ((s, d) => Analytics.pricingSummary(t(s, d, "lineitem"))),
    "q_window_topn" -> ((s, d) => Analytics.topOrdersPerCustomer(t(s, d, "orders"), 3)),
    "q_star_join" -> ((s, d) => Analytics.revenueByNation(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region"))),
    "q_anti_join" -> ((s, d) => Analytics.customersWithoutBigOrders(
      t(s, d, "customer"), t(s, d, "orders"), 400000.0)),
    // TPC-H Q5 shape: deepest multi-join; sole consumer of `supplier`
    "q_local_supplier" -> ((s, d) => Analytics.localSupplierVolume(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))),
    // TPC-H Q14 shape: conditional one-pass promo-share per ship month
    "q_promo_share" -> ((s, d) => Analytics.promoShareByMonth(
      t(s, d, "lineitem"), t(s, d, "part"))),
    // TPC-H Q15 shape: suppliers at the exact integer-cents max revenue
    "q_top_supplier" -> ((s, d) => Analytics.topSupplier(
      t(s, d, "lineitem"), t(s, d, "supplier"))),
    // TPC-H Q10 shape: top-20 customers by returned revenue in 1996
    "q_returned_items" -> ((s, d) => Analytics.returnedItems(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "nation"))),
    // TPC-H Q3 shape: top unshipped orders by exact-cents revenue
    "q_shipping_priority" -> ((s, d) => Analytics.shippingPriority(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"))),
    // TPC-H Q6 shape: single filtered scan, zero joins, one row out
    "q_forecast_revenue" -> ((s, d) => Analytics.forecastRevenue(t(s, d, "lineitem"))),
    // TPC-H Q7 shape: bilateral nation-pair volume per ship year
    "q_volume_shipping" -> ((s, d) => Analytics.volumeShipping(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"))),
    // TPC-H Q9 shape: product-line profit by supplier nation and year
    "q_product_profit" -> ((s, d) => Analytics.productProfit(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "supplier"),
      t(s, d, "nation"), t(s, d, "part"))),
    // TPC-H Q17 shape: below-20%-of-part-average quantity revenue,
    // threshold as exact integer arithmetic
    "q_small_qty_revenue" -> ((s, d) => Analytics.smallQtyRevenue(
      t(s, d, "lineitem"), t(s, d, "part"))),
    // TPC-H Q18 shape: aggregate-first HAVING, then join the few keys
    "q_large_orders" -> ((s, d) => Analytics.largeOrders(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"))),
    // TPC-H Q19 shape: three-arm disjunctive predicate in one probe
    "q_disjunct_pricing" -> ((s, d) => Analytics.disjunctPricing(
      t(s, d, "lineitem"), t(s, d, "part"))),
    // TPC-H Q13 shape: order-count histogram incl. zero-order customers
    "q_custdist" -> ((s, d) => Analytics.customerDistribution(
      t(s, d, "customer"), t(s, d, "orders"))),
    // header-vs-items reconciliation audit in exact integer cents
    "q_reconcile" -> ((s, d) => Analytics.reconcileOrders(
      t(s, d, "orders"), t(s, d, "lineitem"))),
    // TPC-H Q21 shape: sole-late-supplier blame via one per-order agg
    "q_waiting_supplier" -> ((s, d) => Analytics.soleDelayedSupplier(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "supplier"))),
    // TPC-H Q22 shape: above-integer-average balances, lapsed since cutoff
    "q_lapsed_accounts" -> ((s, d) => Analytics.lapsedBigAccounts(
      t(s, d, "customer"), t(s, d, "orders"), t(s, d, "nation"))),
    // TPC-H Q11 shape: parts above 1.5x the average revenue (scale-free bar)
    "q_important_parts" -> ((s, d) => Analytics.importantParts(
      t(s, d, "lineitem"), t(s, d, "part"))),
    // TPC-H Q2 shape: correlated per-part min unit price, region-bound suppliers
    "q_min_cost_supplier" -> ((s, d) => Analytics.minCostSupplier(
      t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"),
      t(s, d, "nation"), t(s, d, "region"))),
    // TPC-H Q4 shape: late-line EXISTS semi-join, counts per priority
    "q_order_priority" -> ((s, d) => Analytics.orderPriorityCheck(
      t(s, d, "lineitem"), t(s, d, "orders"))),
    // TPC-H Q8 shape: one nation's share of a part-type market per year
    // per-nation year-over-year revenue growth: lag window over the
    // O(nations·years) aggregated frame, exact integer cents
    "q_yearly_growth" -> ((s, d) => Analytics.yearlyGrowth(
      t(s, d, "lineitem"), t(s, d, "orders"),
      t(s, d, "customer"), t(s, d, "nation"))),
    "q_market_share" -> ((s, d) => Analytics.nationMarketShare(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"),
      t(s, d, "part"))),
    // TPC-H Q12 shape: delay-bucket × priority CASE-sum split
    "q_delay_split" -> ((s, d) => Analytics.shipDelaySplit(
      t(s, d, "lineitem"), t(s, d, "orders"))),
    // TPC-H Q16 shape: distinct suppliers per part descriptor, NOT-IN pruned
    "q_parts_suppliers" -> ((s, d) => Analytics.partSupplierBreadth(
      t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"))),
    // TPC-H Q20 shape: nested share-of-part aggregate, nation-bound names
    "q_promo_suppliers" -> ((s, d) => Analytics.majorPartSuppliers(
      t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"),
      t(s, d, "nation"))),
    // percent_rank/cume_dist: within-type revenue percentile per part
    "q_revenue_percentile" -> ((s, d) => Analytics.revenuePercentiles(
      t(s, d, "lineitem"), t(s, d, "part"))),
    "q_semi_join" -> ((s, d) => Analytics.customersWithOrders(
      t(s, d, "customer"), t(s, d, "orders"), "1-URGENT")),
    "q_union" -> ((s, d) => Analytics.unionKeys(t(s, d, "customer"), t(s, d, "orders"))),
    "q_salted_join" -> ((s, d) => Scale.saltedRevenueByCity(
      t(s, d, "orders"), t(s, d, "customer"))),
    "q_rollup" -> ((s, d) => Scale.rollupSummary(t(s, d, "lineitem"))),
    // non-hierarchical GROUPING SETS: the two one-column margins only
    "q_grouping_sets" -> ((s, d) => Scale.groupingSetsSummary(t(s, d, "lineitem"))),
    // trailing 7-day revenue via a RANGE (value-offset) window frame
    "q_trailing_revenue" -> ((s, d) => Scale.trailingRevenue(t(s, d, "orders"))),
    "q_cube" -> ((s, d) => Scale.cubeSummary(t(s, d, "lineitem"))),
    // window-frame surface: trailing moving average over the daily agg
    "q_moving_avg" -> ((s, d) => Scale.movingAvgRevenue(t(s, d, "orders"))),
    "q_agg_extras" -> ((s, d) => Scale.aggExtras(t(s, d, "lineitem"))),
    "q_by_month" -> ((s, d) => Scale.ordersByMonth(t(s, d, "orders"))),
    "q_string_funcs" -> ((s, d) => Scale.stringFuncs(t(s, d, "customer"))),
    "q_big_spenders" -> ((s, d) => Scale.bigSpenders(t(s, d, "orders"))),
    "q_pivot" -> ((s, d) => Scale.statusPivot(t(s, d, "orders"))),
    "q_correlated" -> ((s, d) => Scale.smallQtyRevenue(
      t(s, d, "lineitem"), t(s, d, "part"))),
    "q_set_ops" -> ((s, d) => Analytics.priorityOverlap(t(s, d, "orders"))),
    "q_full_outer" -> ((s, d) => Scale.dailyReconcile(t(s, d, "orders"))),
    // recency-weighted trending parts (integer 2^-weeks decay)
    "q_decay_trend" -> ((s, d) => Scale.decayTrend(
      t(s, d, "orders"), t(s, d, "lineitem"))),
    // --- X3 text analysis ---
    "x3_textstats" -> ((s, d) => TextAnalysis.textStats(t(s, d, "documents"))),
    "x3_bpe_tokens" -> ((s, d) => TextAnalysis.regexTokenCounts(t(s, d, "documents"))),
    "x3_langid" -> ((s, d) => TextAnalysis.langId(t(s, d, "documents"))),
    // detector-vs-metadata confusion matrix (lang filter safety gate)
    "x3_langid_confusion" -> ((s, d) => TextAnalysis.langIdConfusion(t(s, d, "documents"))),
    "x3_quality" -> ((s, d) => TextAnalysis.qualityScore(t(s, d, "documents"))),
    // per-source decile histogram of the quality score (calibration)
    "x3_quality_deciles" -> ((s, d) => TextAnalysis.qualityDeciles(t(s, d, "documents"))),
    "x3_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(t(s, d, "documents"))),
    "x3_vocabulary" -> ((s, d) => TextAnalysis.vocabulary(t(s, d, "documents"))),
    "x3_tfidf" -> ((s, d) => TextAnalysis.tfidf(t(s, d, "documents"))),
    "x3_group_concat" -> ((s, d) => TextAnalysis.groupConcat(t(s, d, "documents"))),
    "x3_repetition" -> ((s, d) => TextAnalysis.repetitionStats(t(s, d, "documents"))),
    "x3_chunk" -> ((s, d) => TextAnalysis.chunkDocuments(t(s, d, "documents"))),
    "x3_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(t(s, d, "documents"))),
    // per-source LM fit: mean corpus-unigram logprob at source grain,
    // integer micro-nats until the one final division
    "x3_source_logprob" -> ((s, d) => TextAnalysis.sourceLogProb(t(s, d, "documents"))),
    // type-token ratio + hapax rate per source (lexical richness audit)
    "x3_lexical" -> ((s, d) => TextAnalysis.lexicalRichness(t(s, d, "documents"))),
    // pairwise Pearson r between quality/length/entropy signals (the
    // "do my filters measure the same thing" audit)
    "x3_signal_corr" -> ((s, d) => TextAnalysis.signalCorr(t(s, d, "documents"))),
    // the stored LM artifact itself, hash-verified like x2_centroids
    "x3_unigram_model" -> ((s, d) => TextAnalysis.unigramModel(t(s, d, "documents"))),
    // the LM serve path, oracle-checked: score the batch against the
    // MATERIALIZED vocabulary table (no corpus re-aggregation in the
    // scoring plan). Oracle = x3_unigram_logprob's verbatim.
    "x3_unigram_score_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.unigramLogProbAgainst(docs,
        TextAnalysis.unigramModel(docs).localCheckpoint())
    }),
    // power-of-two token-length distribution (sequence-length report)
    "x3_length_hist" -> ((s, d) => TextAnalysis.lengthHistogram(t(s, d, "documents"))),
    // Zipf rank-frequency slope per source (micro-nat OLS)
    "x3_zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(t(s, d, "documents"))),
    // per-source exact length quantiles (grouped counting interpolation)
    "x3_length_quantiles" -> ((s, d) =>
      Profiling.groupedQuantiles(t(s, d, "documents"), "source", "n_chars")),
    // per-doc unigram entropy in integer micro-nats (diversity signal)
    "x3_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(t(s, d, "documents"))),
    "x3_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(t(s, d, "documents"))),
    // the stored bigram LM artifact (a, b, cb, ca), hash-verified like
    // x3_unigram_model
    "x3_bigram_model" -> ((s, d) => TextAnalysis.bigramModel(t(s, d, "documents"))),
    // the bigram LM serve path: score against the MATERIALIZED pair
    // table, no corpus re-aggregation in the scoring plan. Oracle =
    // x3_bigram_logprob's verbatim.
    "x3_bigram_score_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.bigramLogProbAgainst(docs,
        TextAnalysis.bigramModel(docs).localCheckpoint())
    }),
    // Jelinek-Mercer smoothed bigram/unigram interpolated LM score
    "x3_interp_logprob" -> ((s, d) => TextAnalysis.interpLogProb(t(s, d, "documents"))),
    // stupid-backoff scoring of HELD-OUT docs against a model trained
    // on the rest (the x4_incremental split) — unseen pairs back off
    // to alpha*P(b), OOV continuations drop from the mean
    "x3_backoff_score" -> ((s, d) => TextAnalysis.backoffLogProb(
      t(s, d, "documents").filter("doc_id < 100"),
      t(s, d, "documents").filter("doc_id >= 100"))),
    // PMI collocation mining (multi-word expression discovery)
    "x3_pmi" -> ((s, d) => TextAnalysis.pmiCollocations(t(s, d, "documents"))),
    // token importance in the bigram graph: 3 damped power iterations,
    // exact integer micro-unit ranks (graph analytics, lazily planned)
    "x3_pagerank" -> ((s, d) => Graph.tokenPageRank(t(s, d, "documents"))),
    // per-source OOV rate scored against the stored unigram model
    "x3_oov_rate" -> ((s, d) => TextAnalysis.oovRate(t(s, d, "documents"))),
    // per-source KL divergence vs the corpus token distribution
    "x3_source_drift" -> ((s, d) => TextAnalysis.sourceDrift(t(s, d, "documents"))),
    // per-document top-3 TF-IDF keyword extraction
    "x3_keywords" -> ((s, d) => TextAnalysis.keywordsTopK(t(s, d, "documents"))),
    // positional inverted-index export (stored artifact for phrase lookup)
    "x3_phrase_index" -> ((s, d) => TextAnalysis.phraseIndex(t(s, d, "documents"))),
    // exact 3-token phrase retrieval: hash-sampled first-trigram
    // queries walk the positional postings (anchor + two pos-step joins)
    "x3_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(t(s, d, "documents"))),
    // the phrase serve path: same queries against the MATERIALIZED
    // positional index. Oracle = x3_phrase_search's verbatim.
    "x3_phrase_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.phraseSearchAgainst(TextAnalysis.phraseQueries(docs),
        TextAnalysis.phraseIndex(docs).localCheckpoint())
    }),
    // BM25 postings-grain inverted-index export (stored artifact)
    "x3_bm25_index" -> ((s, d) => TextAnalysis.bm25Index(t(s, d, "documents"))),
    // BM25 top-k retrieval: hash-sampled query docs vs the corpus
    "x3_bm25_search" -> ((s, d) => TextAnalysis.bm25TopK(t(s, d, "documents"))),
    // index maintenance: two STORED shard raw-posting tables unioned,
    // corpus stats re-derived — text never re-tokenized. Oracle =
    // x3_bm25_index's verbatim.
    "x3_bm25_rebuild" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // independent shard builds overlap as concurrent jobs (Par.both)
      val (even, odd) = graft.operators.Par.both(
        TextAnalysis.bm25RawPostings(docs.filter("doc_id % 2 = 0"))
          .localCheckpoint(),
        TextAnalysis.bm25RawPostings(docs.filter("doc_id % 2 = 1"))
          .localCheckpoint())
      TextAnalysis.bm25IndexFromPostings(even.union(odd))
    }),
    // BM25 serve path: the same queries scored against the
    // MATERIALIZED index table, no corpus aggregation in the scoring
    // plan. Oracle = x3_bm25_search's verbatim.
    "x3_bm25_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.bm25ScoreAgainst(TextAnalysis.bm25QuerySample(docs),
        TextAnalysis.bm25Index(docs).localCheckpoint(), excludeSelf = true)
    }),
    // no oracleSql entry: deflate exists in no SQL engine — the driver
    // records the weaker rows-only check; semantics are spec-tested
    "x3_compression" -> ((s, d) => TextAnalysis.compressionStats(t(s, d, "documents"))),
    // corpus has no real PII: plant deterministic doc_id-derived PII on
    // both engines, then redact (see TextAnalysis.injectSyntheticPii)
    "x3_pii_redact" -> ((s, d) => TextAnalysis.piiRedact(
      TextAnalysis.injectSyntheticPii(t(s, d, "documents")), "text2")),
    // --- X1 sampling / sharding ---
    "x1_sample_split" -> ((s, d) => Sampling.sampleSplit(t(s, d, "documents"))),
    // reproducible per-epoch read permutation keyed on md5(epoch:doc)
    "x1_epoch_shuffle" -> ((s, d) => Sampling.epochShuffle(t(s, d, "documents"))),
    // leakage-safe split: assignment hashes the near-dup CLUSTER id,
    // so a near-copy can never straddle train/eval (the fix for what
    // x1_split_leakage measures)
    "x1_grouped_split" -> ((s, d) => Sampling.groupedSplit(t(s, d, "documents"))),
    // leakage-safe cross-validation: fold = hash(cluster) mod k, so no
    // near-dup group spans folds; emits the kfold balance report
    "x1_grouped_kfold" -> ((s, d) => Sampling.groupedKfoldReport(t(s, d, "documents"))),
    // release-split balance audit: per split, docs/token mass/achieved
    // token pct/source coverage over the x7_curate_split manifest
    "x1_split_audit" -> ((s, d) => Curation.curateSplitAudit(t(s, d, "documents"))),
    "x1_pack_shards" -> ((s, d) => Sampling.packShards(t(s, d, "documents"))),
    // curriculum layout: per-source quality quota, round-robin
    // interleaved global position (arithmetic, no global window)
    "x1_curriculum" -> ((s, d) => Sampling.curriculum(t(s, d, "documents"))),
    // the curated corpus in training order: dedup -> quality ->
    // decontamination -> curriculum interleave
    "x7_curate_curriculum" -> ((s, d) =>
      Curation.curateCurriculum(t(s, d, "documents"))),
    // context-window packing WITH doc splitting (zero-pad-waste layout)
    "x1_pack_contexts" -> ((s, d) => Sampling.packContexts(t(s, d, "documents"))),
    "x1_source_cap" -> ((s, d) => Sampling.sourceCap(t(s, d, "documents"))),
    "x1_budget_select" -> ((s, d) => Sampling.budgetSelect(t(s, d, "documents"))),
    "x1_mixture" -> ((s, d) => Sampling.mixtureSample(t(s, d, "documents"))),
    // weighted systematic sampling: one doc per `step` tokens of the
    // hash-ordered cumulative walk (distributed prefix sum)
    "x1_systematic_sample" -> ((s, d) =>
      Sampling.systematicSample(t(s, d, "documents"))),
    "x1_temperature" -> ((s, d) => Sampling.temperatureSample(t(s, d, "documents"))),
    // deterministic k-fold assignment + per-fold balance audit
    "x1_kfold" -> ((s, d) => Sampling.kfoldReport(t(s, d, "documents"))),
    // the upsampling half of the n^alpha recipe: per-source epoch plan
    "x1_epoch_plan" -> ((s, d) => Sampling.epochPlan(t(s, d, "documents"))),
    // recipe-loop closure: achieved vs n^alpha target shares post-thin
    "x1_mixture_audit" -> ((s, d) => Sampling.mixtureAudit(t(s, d, "documents"))),
    // Efraimidis-Spirakis weighted sampling without replacement:
    // deterministic exponential race, integer micro-unit keys
    "x1_weighted_sample" -> ((s, d) => Sampling.weightedSample(t(s, d, "documents"))),
    "x3_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(t(s, d, "documents"))),
    // --- X1/X4 dedup ---
    "x1_first_event" -> ((s, d) => Dedup.firstEventPerKey(t(s, d, "events"))),
    "x1_fingerprint_dedup" -> ((s, d) => Dedup.fingerprintDedup(t(s, d, "documents"))),
    "x4_minhash_sig" -> ((s, d) => Dedup.minhashSignatures(t(s, d, "documents"))),
    "x4_minhash_pairs" -> ((s, d) => Dedup.minhashBandPairs(t(s, d, "documents"))),
    "x4_cluster" -> ((s, d) => Dedup.clusterNearDups(t(s, d, "documents"))),
    // cluster-cohesion audit: per multi-member cluster, each member's
    // signature agreement with the ROOT (star-bounded, O(size) pairs)
    // -- the transitive-drift gate on the clustering itself
    "x4_cluster_cohesion" ->
      ((s, d) => Dedup.clusterCohesion(t(s, d, "documents"))),
    // near-dup leakage across hash splits: clusters histogrammed by
    // the set of train/val/test splits their members touch
    "x1_split_leakage" -> ((s, d) => Sampling.splitLeakage(t(s, d, "documents"))),
    // temporal holdout at the 80% day boundary + cross-side user
    // contamination audit (the leakage a random split hides)
    "x1_time_split" -> ((s, d) => Sampling.timeSplit(t(s, d, "events"))),
    // row-level canonical-id export of the clustering (who absorbed whom)
    "x4_survivors" -> ((s, d) => Dedup.survivorMap(t(s, d, "documents"))),
    // per-source cross-doc shingle repetition (memorization-risk dial)
    "x4_shingle_profile" -> ((s, d) => Dedup.shingleProfile(t(s, d, "documents"))),
    // per-provider feed-quality scorecard: share of near-dup-redundant docs
    "x4_source_dup_rate" -> ((s, d) => Dedup.sourceDupRate(t(s, d, "documents"))),
    "x4_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardTopK(t(s, d, "documents"))),
    // asymmetric doc-in-doc detection (quote/wrapper discovery)
    "x4_containment" -> ((s, d) => Dedup.ngramContainmentTopK(t(s, d, "documents"))),
    "x4_simhash" -> ((s, d) => Dedup.simhash(t(s, d, "documents"))),
    // character-level title near-dups: first/last-token blocked Levenshtein
    "x4_edit_pairs" -> ((s, d) => Dedup.editDistancePairs(t(s, d, "documents"))),
    "x4_simhash_topk" -> ((s, d) => Dedup.simhashTopK(t(s, d, "documents"))),
    "x4_embedding_dedup" -> ((s, d) => Similarity.embeddingDedup(t(s, d, "embeddings"))),
    "x4_decontaminate" -> ((s, d) => Dedup.decontaminate(t(s, d, "documents"))),
    // per-benchmark-item leak report (the eval owner's view)
    "x4_decontam_profile" -> ((s, d) => Dedup.decontamProfile(t(s, d, "documents"))),
    // incremental shape: docs < 100 are today's batch, >= 100 the index
    "x4_incremental" -> ((s, d) => Dedup.nearDupAgainstIndex(
      t(s, d, "documents").filter("doc_id < 100"),
      t(s, d, "documents").filter("doc_id >= 100"))),
    // the stored Bloom bit set of the indexed corpus's fingerprints
    // (<= m rows; shards merge by distinct-union)
    "x4_bloom_bits" -> ((s, d) => Dedup.bloomBitSet(
      t(s, d, "documents").filter("doc_id >= 100"))),
    // shard bit-set fold: two STORED half-index bit sets distinct-
    // unioned into the corpus bit set. Oracle = x4_bloom_bits's verbatim.
    "x4_bloom_merge" -> ((s, d) => {
      val idx = t(s, d, "documents").filter("doc_id >= 100")
      // independent shard builds overlap as concurrent jobs (Par.both)
      val (even, odd) = graft.operators.Par.both(
        Dedup.bloomBitSet(idx.filter("doc_id % 2 = 0")).localCheckpoint(),
        Dedup.bloomBitSet(idx.filter("doc_id % 2 = 1")).localCheckpoint())
      Dedup.bloomMergeBits(even, odd)
    }),
    // Bloom-gate audit on the x4_incremental split: per incoming doc
    // the k-bit verdict vs ground truth (is_dup -> bloom_hit always;
    // hit-but-not-dup rows = live false-positive rate)
    "x4_bloom_gate" -> ((s, d) => Dedup.bloomGate(
      t(s, d, "documents").filter("doc_id < 100"),
      t(s, d, "documents").filter("doc_id >= 100"))),
    // the same nightly shape at SPAN granularity: how much of each new
    // doc is already verbatim-present in the stored span index
    "x4_span_incremental" -> ((s, d) => Dedup.spanIncremental(
      t(s, d, "documents").filter("doc_id < 100"),
      t(s, d, "documents").filter("doc_id >= 100"))),
    "x4_dup_stats" -> ((s, d) => Dedup.dupStats(t(s, d, "documents"))),
    // verbatim 8-token-window overlap: per-doc duplicated-span fraction
    "x4_span_dedup" -> ((s, d) => Dedup.duplicatedSpans(t(s, d, "documents"))),
    // pair drill-down of the span overlap, df-capped against stop-spans
    "x4_span_pairs" -> ((s, d) => Dedup.spanSharedPairs(t(s, d, "documents"))),
    // the materialized index-side artifact of incremental near-dedup:
    // one bucket-min row per (band, key) over the whole corpus
    "x4_band_index" -> ((s, d) => Dedup.bandIndex(t(s, d, "documents"))
      .withColumn("band", org.apache.spark.sql.functions.col("band").cast("long"))),
    // banding-recall calibration: per Jaccard decile, the fraction of
    // exact pairs the 4x4 banding catches (the S-curve, measured)
    "x4_band_recall" -> ((s, d) => Dedup.bandRecallReport(t(s, d, "documents"))),
    // signature calibration: perm-agreement estimate vs capped-exact
    // Jaccard on every band candidate pair (band collisions score 0)
    "x4_minhash_est" -> ((s, d) => Dedup.minhashCalibration(t(s, d, "documents"))),
    // the 100 TB form of the audit IN the hash gate: ground truth on
    // the deterministic 37% doc sample, band keys still the full
    // production index (df/cap stats stay corpus-exact — see
    // cappedIntersections)
    "x4_band_recall_sampled" -> ((s, d) =>
      Dedup.bandRecallReport(t(s, d, "documents"), samplePct = 37)),
    "x4_novelty" -> ((s, d) => Dedup.noveltyScores(t(s, d, "documents"))),
    "x4_source_overlap" -> ((s, d) => Dedup.sourceOverlapMatrix(t(s, d, "documents"))),
    // --- X2 similarity search ---
    "x2_ann_topk" -> ((s, d) => Similarity.annBruteForce(t(s, d, "embeddings"))),
    // radius (range) search: all neighbors with rounded cos >= 0.25
    "x2_range_search" -> ((s, d) => Similarity.rangeSearch(t(s, d, "embeddings"))),
    // the scale path: radius search over the LSH multi-probe candidates
    "x2_range_lsh" -> ((s, d) => Similarity.rangeSearchLsh(t(s, d, "embeddings"))),
    // the radius serve path: same semantics answered from the STORED
    // bucket index (no corpus re-hash in the search plan). Oracle =
    // x2_range_lsh's verbatim.
    "x2_range_lsh_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.rangeSearchLshOnBuckets(emb,
        Similarity.lshBucketIndex(emb).localCheckpoint())
    }),
    // radius recall audit: per query, |brute radius set|, how many of
    // it the bucketed search returns, and the ratio (precision is 1.0
    // by construction -- the LSH radius set is a subset)
    "x2_range_recall" -> ((s, d) => Similarity.rangeRecallReport(t(s, d, "embeddings"))),
    // brute-force max-inner-product top-k (magnitude-aware retrieval)
    "x2_mips_topk" -> ((s, d) => Similarity.mipsBruteForce(t(s, d, "embeddings"))),
    // bucketed MIPS: Neyshabur-Srebro norm augmentation -> sign-LSH at
    // dim 65, candidates scored by raw dot of the original vectors
    "x2_mips_lsh" -> ((s, d) => Similarity.mipsLsh(t(s, d, "embeddings"))),
    // MIPS recall audit: bucketed top-3 vs brute-force ground truth
    "x2_mips_recall" -> ((s, d) => Similarity.mipsRecallReport(t(s, d, "embeddings"))),
    // the MIPS serve path: probe the MATERIALIZED augmented bucket
    // table (query lift appends 0 — no corpus statistic in the serve
    // plan). Oracle = x2_mips_lsh's verbatim.
    "x2_mips_lsh_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.mipsLshOnBucketIndex(emb,
        Similarity.mipsBucketIndex(emb).localCheckpoint())
    }),
    // diversified retrieval: at most one result per label class
    "x2_ann_diverse" -> ((s, d) => Similarity.annDiverse(t(s, d, "embeddings"))),
    // per-query recall@3 of the LSH index vs brute-force ground truth
    "x2_recall" -> ((s, d) => Similarity.lshRecallReport(t(s, d, "embeddings"))),
    // probe-budget tuning curve: recall@k per probe budget from one
    // candidate pass (min mask index per candidate)
    "x2_probe_curve" -> ((s, d) => Similarity.lshProbeCurve(t(s, d, "embeddings"))),
    // ranking-quality audit: graded recall (gain by exact rank) + MRR
    // of the LSH leg vs brute ground truth — WHERE hits land, not
    // just how many (integer gains / exact rationals, no libm log2)
    "x2_rank_quality" ->
      ((s, d) => Similarity.lshRankQualityReport(t(s, d, "embeddings"))),
    // per-table bucket-occupancy health report of the same LSH index
    "x2_bucket_stats" -> ((s, d) => Similarity.lshBucketStats(t(s, d, "embeddings"))),
    "x2_cosine_pairs" -> ((s, d) => Similarity.cosinePairsTopK(t(s, d, "embeddings"))),
    "x2_ann_lsh" -> ((s, d) => Similarity.annLsh(t(s, d, "embeddings"))),
    // the LSH serve path: the 8-table bucket index is the stored
    // artifact; the search plan probes it with no corpus re-hash.
    // Oracle = x2_ann_lsh's verbatim (serve must equal self-contained).
    "x2_ann_lsh_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = Similarity.lshBucketIndex(emb).localCheckpoint()
      Similarity.annLshOnBucketIndex(emb, idx)
    }),
    // every SEARCH pair below trains through ModelCache (train once
    // per corpus, serve many); audit/build queries keep their own
    // trainings -- re-proving the build per invocation is their role
    "x2_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annIvfWithCentroids(emb, Similarity.ivfModelCached(emb, d))
    }),
    // filtered vector search: the predicate rides IN the bucket key
    "x2_ann_filtered" -> ((s, d) => Similarity.annLshFiltered(t(s, d, "embeddings"))),
    // the filtered serve path: the labeled bucket index is the stored
    // artifact; the probe carries the label in the join key. Oracle =
    // x2_ann_filtered's verbatim (serve must equal self-contained).
    "x2_ann_filtered_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = Similarity.lshLabeledBucketIndex(emb).localCheckpoint()
      Similarity.annLshFilteredOnIndex(emb, idx)
    }),
    // the filtered leg's measured recall gate: per query, recall of the
    // labeled-bucket search vs brute ground truth under the SAME label
    // predicate (n_true rides along -- a rare label can hold < k mates)
    "x2_filtered_recall" ->
      ((s, d) => Similarity.lshFilteredRecallReport(t(s, d, "embeddings"))),
    // filtered probe-budget curve: one candidate pass over the labeled
    // index (min mask index per same-label pair); max budget reproduces
    // x2_filtered_recall's hit total (spec-pinned)
    "x2_filtered_probe_curve" ->
      ((s, d) => Similarity.lshFilteredProbeCurve(t(s, d, "embeddings"))),
    // filtered ranking audit: graded recall (normalized by the query's
    // OWN max gain -- a rare label can hold < k mates) + MRR of the
    // labeled-bucket search vs same-label brute ground truth
    "x2_filtered_rank_quality" ->
      ((s, d) => Similarity.lshFilteredRankQuality(t(s, d, "embeddings"))),
    // per-(table, label) occupancy of the labeled index: the filtered
    // leg's pre-flight (one label collapsing into one bucket turns ITS
    // candidate join quadratic while the unlabeled report looks healthy)
    "x2_filtered_bucket_stats" ->
      ((s, d) => Similarity.lshLabeledBucketStats(t(s, d, "embeddings"))),
    "x2_centroids" -> ((s, d) => Similarity.trainedCentroids(t(s, d, "embeddings"))),
    // PQ codebook: per-subspace L2 Lloyd, the model export (32× shrink)
    "x2_pq_codebook" -> ((s, d) => Similarity.pqCodebook(t(s, d, "embeddings"))),
    // the compressed corpus: m codes per vector, min_by argmin pinned
    "x2_pq_codes" -> ((s, d) => Similarity.pqCodes(t(s, d, "embeddings"))),
    // per-subspace quantization-error audit of the trained codebook
    "x2_pq_distortion" -> ((s, d) => Similarity.pqDistortion(t(s, d, "embeddings"))),
    // ADC search: code table + broadcast LUT, raw vectors never read
    "x2_ann_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqAdcTopKWithModel(emb, Similarity.pqModelCached(emb, d))
    }),
    // the flat-ADC serve path: stored codes + driver codebook only in
    // the search plan. Oracle = x2_ann_pq's verbatim.
    "x2_ann_pq_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val pq = Similarity.pqModelCached(emb, d)
      val codes = Similarity.pqCodesAgainst(emb, pq).localCheckpoint()
      Similarity.pqAdcTopKOnCodes(emb, codes, pq)
    }),
    // flat-ADC recall gate: how many exact-L2 top-3 the code-table
    // ranking keeps (the deployed codebook via the shared memo —
    // audit-adjacent, like x2_ivf_recall)
    "x2_pq_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqRecallReportWithModel(emb, Similarity.pqModelCached(emb, d))
    }),
    // shortlist->rerank recall gate: exact-L2 top-3 kept by the
    // two-stage plan (candidate-boundary loss only; flat 15 -> ~50/60)
    "x2_pq_rerank_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqRerankRecallWithModel(emb, Similarity.pqModelCached(emb, d))
    }),
    // the production serve shape: ADC shortlist -> exact re-rank of S rows
    "x2_ann_pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqRerankTopKWithModel(emb, Similarity.pqModelCached(emb, d))
    }),
    // the composed billion-scale architecture: IVF partitions the corpus,
    // PQ compresses it, ADC scores only the probed cells' codes
    "x2_ann_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (cmodel, pq) = Similarity.ivfPqModels(emb, d)
      Similarity.annIvfPqWithModels(emb, cmodel, pq)
    }),
    // the composed architecture's SERVE path: stored cell map + stored
    // code table + driver-side models; the search plan never trains,
    // assigns, or encodes the corpus. Oracle = x2_ann_ivfpq's verbatim.
    "x2_ann_ivfpq_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (cmodel, pq) = Similarity.ivfPqModels(emb, d)
      // the two stored artifacts build as concurrent jobs (Par.both)
      val (asg, codes) = graft.operators.Par.both(
        Similarity.ivfAssignmentsFor(emb, cmodel).localCheckpoint(),
        Similarity.pqCodesAgainst(emb, pq).localCheckpoint())
      Similarity.annIvfPqOnArtifacts(emb, asg, codes, cmodel, pq)
    }),
    // the TRUE FAISS IVFPQ: PQ codes encode the dyadic RESIDUAL
    // (v - centroid[cell]); the query builds one ADC LUT per probed
    // cell from its own residual against that centroid
    // both residual rows share ONE deterministic training via
    // Similarity.resModels (ModelCache) -- train once, serve twice;
    // plans unchanged, only the duplicate Lloyd collects are skipped
    "x2_ann_ivfpq_res" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (cmodel, pq) = Similarity.resModels(emb, d)
      Similarity.annIvfPqResWithModels(emb, cmodel, pq)
    }),
    // residual composition's SERVE path: stored cell map + stored
    // residual-code table + both models driver-side. Oracle =
    // x2_ann_ivfpq_res's verbatim.
    "x2_ann_ivfpq_res_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (cmodel, pq) = Similarity.resModels(emb, d)
      // the two stored artifacts build as concurrent jobs (Par.both)
      val (asg, codes) = graft.operators.Par.both(
        Similarity.ivfAssignmentsFor(emb, cmodel).localCheckpoint(),
        Similarity.resPqCodesAgainst(emb, cmodel, pq).localCheckpoint())
      Similarity.annIvfPqResOnArtifacts(emb, asg, codes, cmodel, pq)
    }),
    // the measured residual claim: recall@k of BOTH compositions vs
    // exact L2 at identical (nCells, m, kCodes, nProbe); spec pins
    // sum(n_hits_res) >= sum(n_hits_raw)
    "x2_ivfpq_recall" -> ((s, d) => Similarity.ivfPqRecallReport(t(s, d, "embeddings"))),
    // SemDeDup: near-dup removal with the trained IVF cells as the
    // candidate generator (pair stage bounded per cell, never global);
    // the cells are only the candidate generator — shared memoized
    // model, bit-identical verdicts, cost-only
    "x2_semdedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.semDedupWithModel(emb, Similarity.ivfModelCached(emb, d))
    }),
    // the corpus-side cell-assignment artifact of the trained IVF index
    // (hash-pins the max_by argmax against the oracle's window replay)
    "x2_ivf_assign" -> ((s, d) => Similarity.ivfAssignments(t(s, d, "embeddings"))),
    // the PRODUCTION IVF serve path, oracle-checked end to end: train
    // the model ONCE, materialize the (vec_id, cell) index as a stored
    // artifact, then answer the query batch via annIvfOnAssignments —
    // no Lloyd replay, no corpus argmax inside the search. Oracle =
    // x2_ann_ivf's verbatim (serve must equal self-contained).
    "x2_ann_ivf_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = Similarity.ivfModelCached(emb, d)
      val index = Similarity.ivfAssignmentsFor(emb, model).localCheckpoint()
      Similarity.annIvfOnAssignments(emb, index, model)
    }),
    // per-cell cohesion audit of the trained quantizer
    "x2_ivf_inertia" -> ((s, d) => Similarity.ivfInertia(t(s, d, "embeddings"))),
    // row-level OOD audit: per-vector z vs its cell's cosine moments
    // (measures the DATA, not the training — shared memoized model)
    "x2_ood" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfOutliersWithModel(emb, Similarity.ivfModelCached(emb, d))
    }),
    // recall@k of the trained-cell IVF search vs brute force (the
    // probe-count knob audit, mirroring x2_recall for LSH; measures the
    // index's recall, not the training — shared memoized model)
    "x2_ivf_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfRecallReportWithModel(emb, Similarity.ivfModelCached(emb, d))
    }),
    // IVF nProbe tuning curve: recall per probe budget from one pass
    // (budget = rank of the exact neighbor's cell in the query's order;
    // same memoized model as the recall report it must reproduce)
    "x2_ivf_probe_curve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfProbeCurveWithModel(emb, Similarity.ivfModelCached(emb, d))
    }),
    // class-prototype mean pooling over the labeled embedding corpus
    "x2_mean_pool" -> ((s, d) => Similarity.meanPoolByLabel(t(s, d, "embeddings"))),
    // nearest-class-mean confusion matrix (embedding label audit)
    "x2_confusion" -> ((s, d) => Similarity.nearestClassMean(t(s, d, "embeddings"))),
    // leave-one-out k-NN majority-vote label accuracy (exact audit)
    "x2_knn_accuracy" -> ((s, d) => Similarity.knnLabelAccuracy(t(s, d, "embeddings"))),
    // the bounded form: a 37% hash sample of queries still votes over
    // the FULL corpus — (p·N)·N cost, per-query-identical predictions
    "x2_knn_sampled" -> ((s, d) =>
      Similarity.knnLabelAccuracy(t(s, d, "embeddings"), samplePct = 37)),
    // margin-criterion pair mining: batch aligns to index, best vs
    // runner-up ratio suppresses hub vectors (bitext-mining shape)
    "x2_margin_pairs" -> ((s, d) => Similarity.marginMine(
      t(s, d, "embeddings").filter("vec_id < 100"),
      t(s, d, "embeddings").filter("vec_id >= 100"))),
    "x2_quantize" -> ((s, d) => Similarity.quantizeInt8(t(s, d, "embeddings"))),
    // scalar-quantized (int8) MIPS: rank by scale_q·scale_d·<q,d> —
    // the 4×-smaller search tier; integer inner products, exact
    "x2_ann_sq" -> ((s, d) => Similarity.annSq(t(s, d, "embeddings"))),
    // the SQ serve path: search runs against the STORED int8 code
    // table, raw floats never in the plan. Oracle = x2_ann_sq's.
    "x2_ann_sq_serve" -> ((s, d) =>
      Similarity.annSqOnCodes(
        Similarity.sqCodes(t(s, d, "embeddings")).localCheckpoint())),
    // two-stage serve plan: int8 shortlist (20 cands) -> exact rerank
    "x2_ann_sq_rerank" -> ((s, d) => Similarity.annSqRerank(t(s, d, "embeddings"))),
    // recall@5 of the int8 ranking vs exact MIPS ground truth
    "x2_sq_recall" -> ((s, d) => Similarity.sqRecallReport(t(s, d, "embeddings"))),
    // recall@5 of the int8-shortlist -> exact-dot rerank pipeline
    "x2_sq_rerank_recall" -> ((s, d) =>
      Similarity.sqRerankRecallReport(t(s, d, "embeddings"))),
    // hybrid retrieval: dense cosine top-5 + BM25 top-5 fused by
    // integer reciprocal-rank contributions (RRF, c = 60)
    "x2_hybrid_rrf" -> ((s, d) =>
      Similarity.hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"))),
    // the hybrid serve path: BM25 leg against the STORED index, dense
    // leg query-side, fusion unchanged. Oracle = x2_hybrid_rrf's.
    "x2_hybrid_rrf_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Similarity.hybridRrfAgainst(docs, t(s, d, "embeddings"),
        TextAnalysis.bm25Index(docs).localCheckpoint())
    }),
    // the ALL-stored hybrid: dense leg over the STORED int8 code
    // table (SQ asymmetric estimate), sparse leg over the STORED
    // BM25 index, fusion unchanged — either leg swaps independently,
    // proven end to end.
    "x2_hybrid_rrf_stored" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // dense- and sparse-leg artifacts build as concurrent jobs
      val (codes, idx) = graft.operators.Par.both(
        Similarity.sqCodes(t(s, d, "embeddings")).localCheckpoint(),
        TextAnalysis.bm25Index(docs).localCheckpoint())
      Similarity.hybridRrfAllStored(docs, codes, idx)
    }),
    // binary (sign-bit) codes: 8 bytes/vector, Hamming-distance top-k
    // — the cheapest quantization-ladder leg, pure integer arithmetic
    "x2_ann_binary" -> ((s, d) => Similarity.annBinary(t(s, d, "embeddings"))),
    // the binary serve path: search over the STORED 2-word code table.
    // Oracle = x2_ann_binary's verbatim.
    "x2_ann_binary_serve" -> ((s, d) =>
      Similarity.annBinaryOnCodes(
        Similarity.binaryCodes(t(s, d, "embeddings")).localCheckpoint())),
    // recall@5 of Hamming ranking vs exact-cosine ground truth
    "x2_binary_recall" -> ((s, d) =>
      Similarity.binaryRecallReport(t(s, d, "embeddings"))),
    // two-stage binary serve: Hamming shortlist -> exact cosine rerank
    "x2_ann_binary_rerank" -> ((s, d) =>
      Similarity.annBinaryRerank(t(s, d, "embeddings"))),
    // recall@5 of the Hamming-shortlist -> exact-cosine rerank pipeline
    "x2_binary_rerank_recall" -> ((s, d) =>
      Similarity.binaryRerankRecallReport(t(s, d, "embeddings"))),
    // composed IVF x SQ index (FAISS IVF_SQ8): trained cells bound the
    // candidate set, int8 codes price each candidate
    "x2_ann_ivfsq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cmodel = Similarity.ivfModelCached(emb, d)
      Similarity.annIvfSqOnArtifacts(emb,
        Similarity.ivfAssignmentsFor(emb, cmodel), Similarity.sqCodes(emb),
        cmodel)
    }),
    // the composed serve path: stored cell map + stored code table +
    // driver centroids only. Oracle = x2_ann_ivfsq's verbatim.
    "x2_ann_ivfsq_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cmodel = Similarity.ivfModelCached(emb, d)
      // the two stored artifacts build as concurrent jobs (Par.both)
      val (asg, codes) = graft.operators.Par.both(
        Similarity.ivfAssignmentsFor(emb, cmodel).localCheckpoint(),
        Similarity.sqCodes(emb).localCheckpoint())
      Similarity.annIvfSqOnArtifacts(emb, asg, codes, cmodel)
    }),
    // the RESIDUAL IVF x SQ composition: int8 quantizes the dyadic
    // residual (v - centroid[cell]); ranking = estimated residual L2,
    // comparable across probed cells. Coarse quantizer shared with the
    // res-PQ pair via ModelCache (one Lloyd run per corpus).
    "x2_ann_ivfsq_res" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annIvfSqRes(emb, Similarity.ivfModelCached(emb, d))
    }),
    // its serve path: the STORED (vec_id, cell, scale, q) residual code
    // table + driver centroids only. Oracle = x2_ann_ivfsq_res's verbatim.
    "x2_ann_ivfsq_res_serve" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cmodel = Similarity.ivfModelCached(emb, d)
      Similarity.annIvfSqResOnArtifacts(emb,
        Similarity.resSqCodesFor(emb, cmodel).localCheckpoint(), cmodel)
    }),
    // the measured residual claim for the SQ composition: recall@k of
    // raw-code vs residual-code IVF x SQ against exact L2 at identical
    // (nCells, nProbe); trains its own model BY DESIGN (the audit
    // re-proves the claim -- ModelCache would make it circular); spec
    // pins sum(n_hits_res) >= sum(n_hits_raw)
    "x2_ivfsq_recall" -> ((s, d) => Similarity.ivfSqRecallReport(t(s, d, "embeddings"))),
    // per-dimension mean/variance/dead-unit audit in exact integer moments
    "x2_dim_stats" -> ((s, d) => Similarity.dimStats(t(s, d, "embeddings"))),
    // row-wise norm audit: z of each vector's L2 norm vs the corpus
    "x2_norm_outliers" -> ((s, d) => Similarity.normOutliers(t(s, d, "embeddings"))),
    // incremental shape: vecs < 100 are the new batch, >= 100 the index
    "x2_incremental" -> ((s, d) => Similarity.embeddingDedupAgainstIndex(
      t(s, d, "embeddings").filter("vec_id < 100"),
      t(s, d, "embeddings").filter("vec_id >= 100"))),
    // flagship composition: dedup -> quality filter -> decontaminate ->
    // shard pack, hash-verified END TO END (stage coupling included)
    "x7_curate" -> ((s, d) => Curation.curate(t(s, d, "documents"))),
    // perplexity-gated curation: the quality stage swapped for a
    // corpus-LM per-token logprob percentile (drop the most surprising
    // 10% per language)
    "x7_curate_lm" -> ((s, d) => Curation.curateLm(t(s, d, "documents"))),
    // dataset-release build: curate survivors -> near-dup cluster ->
    // leakage-safe grouped split (the row-level release manifest)
    "x7_curate_split" -> ((s, d) => Curation.curateSplit(t(s, d, "documents"))),
    // the nightly shape end to end: incoming batch (bench ≤ id < 100)
    // probed against the stored fingerprint/band/span artifacts of the
    // indexed corpus (id >= 100) plus the benchmark set (id < 50)
    "x7_curate_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.incrementalAdmission(
        docs.filter("doc_id >= 50 AND doc_id < 100"),
        docs.filter("doc_id >= 100"),
        docs.filter("doc_id < 50"))
    }),
    // curate with the verbatim-span gate between decontam and packing
    "x7_curate_verbatim" -> ((s, d) => Curation.curateVerbatim(t(s, d, "documents"))),
    "x7_curate_neardup" -> ((s, d) =>
      Curation.curate(t(s, d, "documents"), nearDedup = true)),
    // per-stage attrition accounting of the curation chain
    "x7_report" -> ((s, d) => Curation.curationReport(t(s, d, "documents"))),
    // curation capped by a GLOBAL token budget (best-N-tokens build)
    "x7_curate_budget" -> ((s, d) => Curation.curateBudget(t(s, d, "documents"))),
    // curation with n^alpha temperature rebalancing of the survivors
    // between decontamination and packing (ships the training mixture)
    "x7_curate_mixture" -> ((s, d) => Curation.curateMixture(t(s, d, "documents"))),
    // SemDeDup build: exact dedup -> embedding near-dup in trained IVF
    // cells -> quality -> decontaminate -> pack, replayed end to end
    "x7_curate_semantic" -> ((s, d) => Curation.curateSemantic(
      t(s, d, "documents"), t(s, d, "embeddings"))),
    // --- X5 multimodal ---
    "x5_media_features" -> ((s, d) => Multimodal.mediaFeatures(s, t(s, d, "documents"))),
    "x5_mm_join" -> ((s, d) => Multimodal.docEmbeddingJoin(
      t(s, d, "documents"), t(s, d, "embeddings"))),
    "x5_resize" -> ((s, d) => Multimodal.resizedSizes(t(s, d, "documents"))),
    "x5_mm_search" -> ((s, d) => Multimodal.mediaSearch(t(s, d, "documents"))),
    "x5_mm_search_lsh" -> ((s, d) => Multimodal.mediaSearchLsh(t(s, d, "documents"))),
    "x5_frames" -> ((s, d) => Multimodal.frameCounts(s, t(s, d, "documents"))),
    // media near-dup: embed -> LSH bucket join -> senior threshold
    "x5_mm_dedup" -> ((s, d) => Multimodal.mediaDedup(t(s, d, "documents"))),
    // PQ on the media modality: dyadic-quantized stub embeddings train
    // a codebook and the collection compresses to m codes per asset
    "x5_mm_pq" -> ((s, d) => Multimodal.mediaPqCodes(t(s, d, "documents"))),
    // the coarse-quantizer leg for media: trained cells partition the
    // collection (together with x5_mm_pq, the media IVF-PQ index)
    "x5_mm_ivf" -> ((s, d) => Multimodal.mediaIvfAssign(t(s, d, "documents"))),
    // compressed-domain media retrieval: ADC over the media PQ index
    // (completes the exact -> LSH -> PQ media retrieval ladder)
    // (trains through ModelCache -- the media PQ codebook is shared
    // with the IVF x PQ pair; one per-subspace Lloyd run per collection)
    "x5_mm_search_pq" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Multimodal.mediaSearchPqWithModel(docs,
        Multimodal.mediaPqModelCached(docs, d))
    }),
    // int8 media retrieval: codebook-free scalar quantization leg
    "x5_mm_search_sq" -> ((s, d) => Multimodal.mediaSearchSq(t(s, d, "documents"))),
    // the SQ serve path over the STORED media code table.
    // Oracle = x5_mm_search_sq's verbatim.
    "x5_mm_search_sq_serve" -> ((s, d) =>
      Multimodal.mediaSearchSqServe(t(s, d, "documents"))),
    // binary media retrieval: centered sign bits, Hamming top-3
    "x5_mm_search_binary" -> ((s, d) =>
      Multimodal.mediaSearchBinary(t(s, d, "documents"))),
    // its serve path over the STORED 2-word media code table.
    // Oracle = x5_mm_search_binary's verbatim.
    "x5_mm_search_binary_serve" -> ((s, d) =>
      Multimodal.mediaSearchBinaryServe(t(s, d, "documents"))),
    // the only binary shape that could serve on this modality: Hamming
    // shortlist -> exact-cosine rerank (the flat rung's measured media
    // recall is ZERO - x5_mm_binary_recall)
    "x5_mm_search_binary_rerank" -> ((s, d) =>
      Multimodal.mediaSearchBinaryRerank(t(s, d, "documents"))),
    // the measurement that says DON'T: even two-stage recovers ~0 here
    // (candidate generation is the broken part) - use the SQ tier
    "x5_mm_binary_rerank_recall" -> ((s, d) =>
      Multimodal.mediaBinaryRerankRecall(t(s, d, "documents"))),
    // the media LSH serve path: stored bucket table probed, collection
    // never re-embedded/re-hashed. Oracle = x5_mm_search_lsh's verbatim.
    "x5_mm_search_lsh_serve" -> ((s, d) =>
      Multimodal.mediaSearchLshServe(t(s, d, "documents"))),
    // filtered media retrieval: the language predicate rides IN the
    // labeled media bucket key (the x2_ann_filtered discipline on the
    // media modality -- the one x2 leg that had no media twin)
    "x5_mm_search_filtered" -> ((s, d) =>
      Multimodal.mediaSearchFiltered(t(s, d, "documents"))),
    // its serve path over the STORED labeled media bucket table.
    // Oracle = x5_mm_search_filtered's verbatim.
    "x5_mm_search_filtered_serve" -> ((s, d) =>
      Multimodal.mediaSearchFilteredServe(t(s, d, "documents"))),
    // the filtered media leg's measured recall gate: per query, recall
    // vs brute ground truth restricted to the SAME language
    "x5_mm_filtered_recall" -> ((s, d) =>
      Multimodal.mediaFilteredRecall(t(s, d, "documents"))),
    // the filtered media leg's probe-budget tuning curve (max budget
    // reproduces the recall gate's hit total, spec-pinned)
    "x5_mm_filtered_probe_curve" -> ((s, d) =>
      Multimodal.mediaFilteredProbeCurve(t(s, d, "documents"))),
    // the filtered media leg's ranking audit: graded recall normalized
    // by the query's own max gain + MRR
    "x5_mm_filtered_rank_quality" -> ((s, d) =>
      Multimodal.mediaFilteredRankQuality(t(s, d, "documents"))),
    // labeled media occupancy pre-flight at the (table, LANGUAGE) grain
    "x5_mm_filtered_bucket_stats" -> ((s, d) =>
      Multimodal.mediaLabeledBucketStats(t(s, d, "documents"))),
    // the media flat-ADC serve path: stored code table + driver
    // codebook only. Oracle = x5_mm_search_pq's verbatim.
    "x5_mm_search_pq_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Multimodal.mediaSearchPqServeWithModel(docs,
        Multimodal.mediaPqModelCached(docs, d))
    }),
    // the two media index legs COMPOSED: probed trained cells bound
    // candidates, ADC sums over the code table price them (the media
    // twin of x2_ann_ivfpq)
    "x5_mm_search_ivfpq" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (cmodel, pq) = Multimodal.mediaIvfPqModels(docs, d)
      Multimodal.mediaSearchIvfPqWithModels(docs, cmodel, pq)
    }),
    // the composed architecture's serve path over stored cell map +
    // code table. Oracle = x5_mm_search_ivfpq's verbatim.
    "x5_mm_search_ivfpq_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (cmodel, pq) = Multimodal.mediaIvfPqModels(docs, d)
      Multimodal.mediaSearchIvfPqServeWithModels(docs, cmodel, pq)
    }),
    // the RESIDUAL media composition (true FAISS layout): PQ encodes
    // (v - centroid[cell]) on the dyadic grid, one ADC LUT per
    // (query, probed cell)
    // (both media residual rows share ONE training via
    // Multimodal.mediaResModels -- the ModelCache discipline)
    "x5_mm_search_ivfpq_res" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (cmodel, pq) = Multimodal.mediaResModels(docs, d)
      Multimodal.mediaSearchIvfPqResWithModels(docs, cmodel, pq)
    }),
    // the media IVF x SQ composition (x2_ann_ivfsq's twin): probed
    // trained cells bound candidates, the int8 code table prices them
    // by the asymmetric estimate; coarse quantizer via the shared
    // media-ivf memo (codebook-free encode — SQ never retrains)
    "x5_mm_search_ivfsq" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Multimodal.mediaSearchIvfSqWithModel(docs,
        Multimodal.mediaIvfModelCached(docs, d))
    }),
    // its serve path: stored cell map + stored int8 code table +
    // driver centroids only. Oracle = x5_mm_search_ivfsq's verbatim.
    "x5_mm_search_ivfsq_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Multimodal.mediaSearchIvfSqServeWithModel(docs,
        Multimodal.mediaIvfModelCached(docs, d))
    }),
    // the measured residual claims ON THE MEDIA DISTRIBUTION: raw vs
    // residual codes against exact L2 at identical params (the margins
    // are data-dependent, so the media rungs don't inherit x2's gates);
    // both train their own models BY DESIGN (never ModelCache)
    "x5_mm_ivfpq_recall" -> ((s, d) =>
      Multimodal.mediaIvfPqRecall(t(s, d, "documents"))),
    "x5_mm_ivfsq_recall" -> ((s, d) =>
      Multimodal.mediaIvfSqRecall(t(s, d, "documents"))),
    // the media RESIDUAL IVF x SQ composition (x2_ann_ivfsq_res's
    // twin): int8 codes over the dyadic residuals, ranking = estimated
    // residual L2 — completes the media composition matrix
    "x5_mm_search_ivfsq_res" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Multimodal.mediaSearchIvfSqResWithModel(docs,
        Multimodal.mediaIvfModelCached(docs, d))
    }),
    // its serve path: the STORED (vec_id, cell, scale, q) residual
    // code table. Oracle = x5_mm_search_ivfsq_res's verbatim.
    "x5_mm_search_ivfsq_res_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Multimodal.mediaSearchIvfSqResServeWithModel(docs,
        Multimodal.mediaIvfModelCached(docs, d))
    }),
    // the residual serve path over stored cell map + residual codes.
    // Oracle = x5_mm_search_ivfpq_res's verbatim.
    "x5_mm_search_ivfpq_res_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (cmodel, pq) = Multimodal.mediaResModels(docs, d)
      Multimodal.mediaSearchIvfPqResServeWithModels(docs, cmodel, pq)
    }),
    // media index occupancy pre-flight (the modality where the
    // one-bucket collapse actually happened)
    "x5_mm_bucket_stats" -> ((s, d) =>
      Multimodal.mediaBucketStats(t(s, d, "documents"))),
    // media LSH recall vs the exact x5_mm_search ground truth
    "x5_mm_recall" -> ((s, d) => Multimodal.mediaRecallReport(t(s, d, "documents"))),
    // media flat-ADC recall gate: the deployed media codebook's ADC
    // ranking vs exact L2 on the dyadic stub distribution
    "x5_mm_pq_recall" -> ((s, d) =>
      Multimodal.mediaPqRecall(t(s, d, "documents"), d)),
    // media flat-SQ recall gate: int8 asymmetric top-3 vs exact MIPS
    // on the stub distribution (margins are distribution-dependent)
    "x5_mm_sq_recall" -> ((s, d) => Multimodal.mediaSqRecall(t(s, d, "documents"))),
    // media flat-binary recall gate: centered Hamming top-3 vs exact
    // cosine at the production rung's 0.5 sign threshold
    "x5_mm_binary_recall" -> ((s, d) =>
      Multimodal.mediaBinaryRecall(t(s, d, "documents"))),
    // media ranking-quality audit: graded recall + MRR of the bucketed
    // media search vs the exact baseline (x2_rank_quality's metrics)
    "x5_mm_rank_quality" ->
      ((s, d) => Multimodal.mediaRankQualityReport(t(s, d, "documents"))),
    // media probe-budget tuning curve (x2_probe_curve on the media index)
    "x5_mm_probe_curve" ->
      ((s, d) => Multimodal.mediaProbeCurve(t(s, d, "documents"))),
    // incremental media near-dup: batch (ids < 100) vs indexed corpus
    // cross-collection alignment mining over media embeddings: best vs
    // runner-up margin suppresses hub assets (caption<->image shape)
    "x5_mm_align" -> ((s, d) => Multimodal.mediaAlign(
      t(s, d, "documents").filter("doc_id < 100"),
      t(s, d, "documents").filter("doc_id >= 100"))),
    "x5_mm_incremental" -> ((s, d) => Multimodal.mediaDedupAgainstIndex(
      t(s, d, "documents").filter("doc_id < 100"),
      t(s, d, "documents").filter("doc_id >= 100"))),
    "q_profile" -> ((s, d) => Profiling.profile(t(s, d, "events"),
      Seq("event_id", "user_id", "event_type", "props"))),
    // join-key skew pre-flight: hottest keys, shares, skew-vs-uniform
    "x1_heavy_hitters" -> ((s, d) =>
      Profiling.heavyHitters(t(s, d, "events"), "user_id", 20)),
    // exact interpolated quantiles from value counts (the sketch variant
    // stays a library function with ProfilingSpec accuracy bounds — its
    // internals are engine-specific and can never hash-match an oracle)
    "q_quantile_profile" -> ((s, d) => Profiling.quantileProfile(
      t(s, d, "events"), "value")),
    // --- X6 event-time windows (batch flavor; streaming in graft.streaming) ---
    "x6_tumbling" -> ((s, d) => Windows.tumbling(t(s, d, "events"))),
    "x6_active_users" -> ((s, d) => Windows.activeUsers(t(s, d, "events"))),
    "x6_sliding" -> ((s, d) => Windows.sliding(t(s, d, "events"))),
    "x6_sessions" -> ((s, d) => Windows.sessions(t(s, d, "events"))),
    // session-length p50/p90/p99 via the dyadic log sketch (durations
    // are heavy-tailed: 0-second singletons to hour-long sessions)
    "x6_session_lengths" -> ((s, d) => Profiling.sessionLengthProfile(t(s, d, "events"))),
    // ordered view->click->purchase completion per user, greedy-earliest
    "x6_funnel" -> ((s, d) => Windows.funnel(t(s, d, "events"))),
    // per-transition conversion-latency quantiles via the dyadic log
    // sketch (conversion times are the canonical heavy-tail domain)
    "x6_funnel_latency" -> ((s, d) => Profiling.funnelLatency(t(s, d, "events"))),
    // stage conversion rates: users reaching each stage + rate vs the
    // previous stage (the drop-off localizer)
    "x6_funnel_rates" -> ((s, d) => Windows.funnelRates(t(s, d, "events"))),
    // cohort retention triangle: distinct (user, day) first, sizes from cohorts
    "x6_retention" -> ((s, d) => Windows.cohortRetention(t(s, d, "events"))),
    // daily top-3 payload values by count (regex-extracted from props JSON)
    "x6_trending" -> ((s, d) => Windows.trendingProps(t(s, d, "events"))),
    // A/B readout: Welch z between user-parity arms per event type
    "x6_ab_test" -> ((s, d) => Windows.abTest(t(s, d, "events"))),
    // the A/B serve path: readout from the MATERIALIZED moment table —
    // the event scan exists only in the artifact's build. Oracle =
    // x6_ab_test's verbatim.
    "x6_ab_serve" -> ((s, d) =>
      Windows.abTestFromMoments(Windows.abMoments(t(s, d, "events")).localCheckpoint())),
    // item co-visitation: capped per-user items, user-keyed pair counts
    "x6_covisit" -> ((s, d) => Windows.covisit(t(s, d, "events"))),
    // session-scoped co-visitation: items co-occurring in the SAME
    // session (cap-before-pairing one grain down; the key includes
    // session_seq so a cross-session pair can never form)
    "x6_covisit_session" -> ((s, d) => Windows.covisitSession(t(s, d, "events"))),
    // the session shelf read: top-k co-visited items per item by the
    // exact same-session context count (the grain production shelves
    // actually rank on)
    "x6_also_viewed_session" ->
      ((s, d) => Windows.alsoViewedSession(t(s, d, "events"))),
    // the session shelf served from a MATERIALIZED session pair table —
    // no event re-scan in the read plan (the x6_also_viewed_serve
    // pattern one grain down). Oracle = x6_also_viewed_session's.
    "x6_also_viewed_session_serve" -> ((s, d) =>
      Windows.alsoViewedSessionFrom(
        Windows.covisitSession(t(s, d, "events")).localCheckpoint())),
    // the session merge law: USER-disjoint shard pair tables fold by
    // addition (sessions are per-user, so a user cut never splits a
    // session), support threshold AFTER the fold. Oracle =
    // x6_covisit_session's verbatim (merged ≡ whole-corpus build).
    "x6_covisit_session_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      // independent shard builds overlap as concurrent jobs (Par.both)
      val (even, odd) = graft.operators.Par.both(
        Windows.covisitSessionPairs(ev.filter("user_id % 2 = 0")).localCheckpoint(),
        Windows.covisitSessionPairs(ev.filter("user_id % 2 = 1")).localCheckpoint())
      Windows.covisitSessionMerge(Seq(even, odd))
    }),
    // "also viewed": top-3 co-visited items per item, exact-count rank
    "x6_also_viewed" -> ((s, d) => Windows.alsoViewed(t(s, d, "events"))),
    // the shelf served from a MATERIALIZED pair table — the read plan
    // touches only the stored artifact. Oracle = x6_also_viewed's.
    "x6_also_viewed_serve" -> ((s, d) =>
      Windows.alsoViewedFrom(Windows.covisit(t(s, d, "events")).localCheckpoint())),
    // covisit shard fold: USER-sharded half-corpus pair tables added
    // into the whole, support threshold AFTER the fold (a 1+1 pair is
    // support-2; thresholding shards first would drop it). Oracle =
    // x6_covisit's verbatim.
    "x6_covisit_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      // independent shard builds overlap as concurrent jobs (Par.both)
      val (even, odd) = graft.operators.Par.both(
        Windows.covisitPairs(ev.filter("user_id % 2 = 0")).localCheckpoint(),
        Windows.covisitPairs(ev.filter("user_id % 2 = 1")).localCheckpoint())
      Windows.covisitMerge(Seq(even, odd))
    }),
    // association-rule stats: support / confidence / lift per pair
    "x6_item_lift" -> ((s, d) => Windows.itemLift(t(s, d, "events"))),
    // longest consecutive-day run per user (gaps-and-islands, one window)
    "x6_streaks" -> ((s, d) => Windows.activityStreaks(t(s, d, "events"))),
    // traffic-quality gate: rate + type-entropy bot audit per user
    "x6_bot_score" -> ((s, d) => Profiling.botScore(t(s, d, "events"))),
    // hour-of-day x day-of-week load shape, pure integer epoch cells
    "x6_heatmap" -> ((s, d) => Windows.activityHeatmap(t(s, d, "events"))),
    // DAU over epoch-week WAU: the engagement ratio, integer-epoch
    // week arithmetic (no engine calendar-week functions)
    "x6_stickiness" -> ((s, d) => Windows.stickiness(t(s, d, "events"))),
    // daily growth-vs-retention decomposition: first-seen vs returning
    "x6_new_users" -> ((s, d) => Windows.newVsReturning(t(s, d, "events"))),
    // trailing-7-day distinct actives per observed day (rolling WAU):
    // map-side day fan-out of the distinct (user, day) set, no range join
    "x6_rolling_active" -> ((s, d) => Windows.rollingActive(t(s, d, "events"))),
    // week-over-week retained/gained/churned ledger via map-side fan-out
    "x6_churn" -> ((s, d) => Windows.weeklyChurn(t(s, d, "events"))),
    // per-type OLS volume trend in exact integer moments (time-series zipf)
    "x6_trend" -> ((s, d) => Windows.dailyTrend(t(s, d, "events"))),
    // drift-aware alarm: residual-vs-trend z per (type, day)
    "x6_trend_anomaly" -> ((s, d) => Windows.trendAnomaly(t(s, d, "events"))),
    // consecutive same-user gap distribution in power-of-two buckets
    // (the data-driven session-gap calibration)
    "x6_gap_hist" -> ((s, d) => Windows.gapHistogram(t(s, d, "events"))),
    // the LTV triangle: per (cohort, age) event count and value total
    "x6_cohort_value" -> ((s, d) => Windows.cohortValue(t(s, d, "events"))),
    // per-user RFM-style lifetime feature table
    "x6_lifetime" -> ((s, d) => Windows.userLifetime(t(s, d, "events"))),
    // engine-portable HyperLogLog: per-day distinct-user estimate whose
    // sketch (registers, integer harmonic sum) both engines reproduce
    "x6_hll_users" -> ((s, d) => Profiling.hllUsers(t(s, d, "events"))),
    // the merge property in the gate: per-day registers MAX-fold into
    // one global sketch without re-reading raw rows
    "x6_hll_global" -> ((s, d) => Profiling.hllUsersGlobal(t(s, d, "events"))),
    // the sketch SERVE path, oracle-checked: the per-day register
    // table is materialized once (the stored nightly artifact), then
    // the global rollup folds ONLY the stored sketch rows — raw events
    // exist in the artifact build, never in the scoring plan
    "x6_hll_serve" -> ((s, d) => {
      val stored = Profiling.hllRegisters(t(s, d, "events")).localCheckpoint()
      Profiling.hllGlobalFromRegisters(stored)
    }),
    // the rolling form of the sketch algebra: each day sketch fans out
    // to its trailing-window report days and registers MAX-fold — the
    // rolling-WAU curve from sketch rows (the 100 TB swap promised by
    // x6_rolling_active's docstring, oracle-checked)
    "x6_rolling_hll" -> ((s, d) => Profiling.rollingActiveHll(t(s, d, "events"))),
    // KMV set-intersection sketch: day-pair audience Jaccard estimate
    // audited against the exact overlap
    "x6_audience_overlap" -> ((s, d) => Profiling.audienceOverlap(t(s, d, "events"))),
    // the KMV serve path: signatures materialized once (the stored
    // sketch), the whole pairwise matrix folds sketch rows only
    "x6_kmv_serve" -> ((s, d) => {
      val stored = Profiling.kmvSignatures(t(s, d, "events")).localCheckpoint()
      Profiling.audienceOverlapFromSignatures(stored)
    }),
    // Count-Min sketch export: the frequency twin of the HLL register
    // table — depth x width plain-sum counters over the token vocabulary
    "x6_cms_sketch" -> ((s, d) => Profiling.cmsSketch(t(s, d, "documents"))),
    // CMS heavy-hitter audit: exact top-20 tokens probed through the
    // sketch (est >= exact always; overest sizes the width)
    "x6_cms_topk" -> ((s, d) => Profiling.cmsTopK(t(s, d, "documents"))),
    // the CMS serve path: point estimates for a hash-sampled token
    // batch against the MATERIALIZED sketch — no corpus in the plan
    "x6_cms_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.cmsEstimateAgainst(Profiling.cmsServeBatch(docs),
        Profiling.cmsSketch(docs).localCheckpoint())
    }),
    // shard-sketch fold: two STORED half-corpus sketches added into
    // the corpus sketch — counter addition, no corpus re-read.
    // Oracle = x6_cms_sketch's verbatim.
    "x6_cms_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.cmsMerge(
        Profiling.cmsSketch(docs.filter("doc_id % 2 = 0")).localCheckpoint(),
        Profiling.cmsSketch(docs.filter("doc_id % 2 = 1")).localCheckpoint())
    }),
    // fixed-width histogram sketch: the quantile member of the
    // mergeable-sketch family (bucket counts per event type)
    "x6_hist_sketch" -> ((s, d) => Profiling.histSketch(t(s, d, "events"))),
    // p50/p90/p99 per event type answered from the bucket counts
    "x6_hist_quantiles" -> ((s, d) => Profiling.histQuantiles(t(s, d, "events"))),
    // shard-sketch fold: two stored half-corpus histograms added into
    // the corpus sketch. Oracle = x6_hist_sketch's verbatim.
    "x6_hist_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      Profiling.histMerge(
        Profiling.histSketch(ev.filter("event_id % 2 = 0")).localCheckpoint(),
        Profiling.histSketch(ev.filter("event_id % 2 = 1")).localCheckpoint())
    }),
    // the quantile serve path: estimates from the MATERIALIZED sketch
    // — no event scan in the plan. Oracle = x6_hist_quantiles'.
    "x6_hist_serve" -> ((s, d) =>
      Profiling.histQuantilesFrom(
        Profiling.histSketch(t(s, d, "events")).localCheckpoint())),
    // sketch accuracy gate: exact centi-quantized order statistics vs
    // the estimates, error bounded by one bucket width
    "x6_hist_accuracy" -> ((s, d) => Profiling.histAccuracy(t(s, d, "events"))),
    // LOG-width (dyadic) histogram sketch over inter-event gaps — the
    // heavy-tail member: 4 buckets per power of two, integer bit
    // arithmetic only (no libm log2)
    "x6_hist_log_sketch" -> ((s, d) => Profiling.histLogSketch(t(s, d, "events"))),
    // gap p50/p90/p99 from the dyadic bucket counts (upper-edge reads)
    "x6_hist_log_quantiles" -> ((s, d) =>
      Profiling.histLogQuantiles(t(s, d, "events"))),
    // the log-sketch serve path: estimates from the MATERIALIZED
    // sketch. Oracle = x6_hist_log_quantiles'.
    "x6_hist_log_serve" -> ((s, d) =>
      Profiling.histLogQuantilesFrom(
        Profiling.histLogSketch(t(s, d, "events")).localCheckpoint())),
    // log-sketch accuracy gate: exact integer-gap order statistics vs
    // the dyadic estimates, error bounded by the PER-BUCKET width
    "x6_hist_log_accuracy" -> ((s, d) =>
      Profiling.histLogAccuracy(t(s, d, "events"))),
    // log-sketch shard fold: USER-sharded half-corpus sketches added
    // into the whole (gap streams are per-user, so a user shard cuts
    // between gap streams, never inside one — an event_id split would
    // sever same-user adjacencies and change the gaps themselves).
    // Oracle = x6_hist_log_sketch's verbatim.
    "x6_hist_log_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      Profiling.histLogMerge(
        Profiling.histLogSketch(ev.filter("user_id % 2 = 0")).localCheckpoint(),
        Profiling.histLogSketch(ev.filter("user_id % 2 = 1")).localCheckpoint())
    }),
    // per-day gap-quantile drift monitor at the dyadic daily grain
    "x6_hist_log_daily" ->
      ((s, d) => Profiling.histLogDailyQuantiles(t(s, d, "events"))),
    // trailing-7-day gap quantiles by sum-merging daily dyadic sketches
    "x6_hist_log_rolling" -> ((s, d) => Profiling.histLogRolling(t(s, d, "events"))),
    // per-day quantile drift monitor from the daily sketch grain
    "x6_hist_daily" -> ((s, d) => Profiling.histDailyQuantiles(t(s, d, "events"))),
    // trailing-7-day quantiles by sum-merging stored daily sketches
    "x6_hist_rolling" -> ((s, d) => Profiling.histRolling(t(s, d, "events"))),
    "x6_asof_join" -> ((s, d) => TemporalJoins.asofViewBeforeClick(t(s, d, "events"))),
    "x6_interval_join" -> ((s, d) => TemporalJoins.intervalPairs(t(s, d, "events"))),
    // hours whose count sits >= 2 population std-devs from the type's
    // hourly mean (z from exact integer moments)
    "x6_anomaly" -> ((s, d) => Windows.rateAnomaly(t(s, d, "events"))),
    // the stored per-type moment baseline the anomaly serve path scores
    // against (mergeable integer moments: tomorrow's C,S,Q just add)
    "x6_baseline" -> ((s, d) => Windows.rateBaseline(t(s, d, "events"))),
    // top event-type transitions inside sessions (navigation flows)
    "x6_session_paths" -> ((s, d) => Windows.sessionPaths(t(s, d, "events"))),
    // full session Markov matrix: P(next | current) from exact counts
    "x6_transitions" -> ((s, d) => Windows.sessionTransitions(t(s, d, "events"))),
    // next-best-action: rank-1 of the matrix per from_type, exact-count rank
    "x6_next_best" -> ((s, d) => Windows.sessionNextBest(t(s, d, "events"))),
    // weekly seasonality profile: per (type, dow) mean + weekly share
    "x6_seasonality" -> ((s, d) => Windows.dowProfile(t(s, d, "events"))),
    // dow-aware volume anomaly: Sundays compared only to Sundays
    "x6_seasonal_anomaly" -> ((s, d) => Windows.dowAnomaly(t(s, d, "events"))),
    // the seasonal-anomaly serve path: score daily counts against the
    // MATERIALIZED dow baseline — the history scan exists only in the
    // stored artifact's build. Oracle = x6_seasonal_anomaly's verbatim.
    "x6_seasonal_serve" -> ((s, d) => {
      val ev = t(s, d, "events")
      Windows.dowAnomalyAgainst(ev, Windows.dowBaseline(ev).localCheckpoint())
    }),
    // first/last/linear multi-touch revenue attribution + unattributed
    "x6_attribution" -> ((s, d) => Windows.attribution(t(s, d, "events"))),
    // exponential time-decay attribution: weight 2^(-age_days), exact int64
    "x6_attribution_decay" -> ((s, d) => Windows.attributionDecay(t(s, d, "events"))),
    // the anomaly serve path, oracle-checked: score hourly counts
    // against the MATERIALIZED baseline artifact — the history scan
    // exists only in the stored table's build, not the scoring plan.
    // Oracle = x6_anomaly's verbatim.
    "x6_anomaly_serve" -> ((s, d) => {
      val ev = t(s, d, "events")
      Windows.rateAnomalyAgainst(ev, Windows.rateBaseline(ev).localCheckpoint())
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracles.sql
}
