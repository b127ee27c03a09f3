package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode
import graft.sources.Tables

/** Physical-plan assertions — the properties that decide 100 TB
  * behavior must not silently regress: filter pushdown into the scan,
  * column pruning, broadcast join selection, partial aggregation. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, SparkTestBase.sf0001)
      .queryExecution.explainString(FormattedMode)

  test("equality filter pushes into the parquet scan (C10)") {
    val p = planOf("c10_filter_city")
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("text stats scan reads only doc_id and text (column pruning)") {
    val p = planOf("x3_textstats")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"), read)
  }

  test("enrichment join is broadcast, aggregation is partial+final (C9/C12)") {
    val p = planOf("c12_avg_by_city")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("ANN LSH candidate generation is a hash join, not a nested loop") {
    val p = planOf("x2_ann_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("banded simhash candidates join on (band, key), never all-pairs") {
    // the LAZY candidate pipeline (simhashTopK collects it eagerly for
    // the certificate, which would hide the join shape behind a
    // LocalRelation) — the equi-join on the band key must be present
    val docs = Tables(spark, SparkTestBase.sf0001, "documents")
    val p = graft.operators.Dedup.simhashBandedCandidatesTopK(docs, 20)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("blocked exact pair scorers have no nested-loop join and no broadcast of the table") {
    for (name <- Seq("x2_cosine_pairs", "x4_embedding_dedup")) {
      val p = planOf(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name:\n$p")
    }
  }

  test("sample split reads only doc_id and lang (column pruning)") {
    val p = planOf("x1_sample_split")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("lang") &&
      !read.contains("text"), read)
  }

  test("windowed distinct count is a two-stage aggregate, never Expand") {
    val p = planOf("x6_active_users")
    // the single-distinct rewrite: (window, user) partial dedup below
    // the shuffle, then the per-window count — an Expand here would
    // multiply every input row per aggregate
    assert(!p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("full outer reconcile aggregates both sides below the join") {
    val p = planOf("q_full_outer")
    assert(p.contains("SortMergeJoin FullOuter") ||
      p.contains("ShuffledHashJoin FullOuter"), p)
    // no raw orders rows reach the join: each side is its own
    // partial+final daily aggregate first
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("unigram log-prob joins the vocabulary by broadcast and prunes the scan") {
    val p = planOf("x3_unigram_logprob")
    // the (doc, token) side probes the vocabulary hash-table — never a
    // shuffle keyed on hot tokens; the only nested-loop join allowed is
    // the cross against the 1-row corpus total
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"), read)
  }

  test("bigram log-prob: map-side pair formation, broadcast count tables, no window") {
    val p = planOf("x3_bigram_logprob")
    // neighbors line up via arrays_zip inside the projection — there
    // must be NO window sort shuffling pairs onto per-prefix reducers
    // (the hot-stopword skew bomb), and both corpus count tables must
    // broadcast into the probability join
    assert(!p.contains("Window"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"), read)
  }

  test("profile branches are pruned hash aggregations (no Expand, no sort)") {
    val p = planOf("q_profile")
    // per-column branches: each scan reads exactly its own column —
    // total bytes ≈ one wide scan — and the exact-distinct machinery
    // must NOT plan as Expand (the multi-distinct shape that feeds
    // (|cols|+1)·N rows into one aggregation). String branches still
    // end in a SortAggregate (immutable string min/max buffers), but
    // over the DISTINCT values of one column, not the multiplied
    // input: the value-counts phase below it must be a HashAggregate.
    assert(!p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
    assert("ReadSchema: struct<event_id:bigint>".r.findAllIn(p).nonEmpty, p)
    assert("ReadSchema: struct<props:string>".r.findAllIn(p).nonEmpty, p)
  }

  test("correlated scalar subquery decorrelates to an aggregate + join") {
    val p = planOf("q_correlated")
    // a per-row subplan would print scalar-subquery in the physical
    // plan; decorrelation rewrites it to a partkey-aggregated join —
    // the only shape that survives scale (O(1) scans, not O(rows))
    assert(!p.toLowerCase.contains("scalar-subquery"), p.take(1500))
    assert(p.contains("HashAggregate"), p.take(1500))
  }

  test("incremental dedup: id ranges push into both scans, index aggregates below the join") {
    val p = planOf("x4_incremental")
    // both sides prune their doc_id range at the parquet scan
    assert(p.contains("LessThan(doc_id,100)") &&
      p.contains("GreaterThanOrEqual(doc_id,100)"), p.take(2000))
    // the index side must collapse to one row per (band, key) BEFORE
    // the join — a partial_min under the join guarantees a duplicate-
    // heavy index bucket contributes one row, not its whole population
    assert(p.contains("partial_min(doc_id"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("incremental embedding dedup: id ranges push down, joins stay hash, best-match is group-limited") {
    val p = planOf("x2_incremental")
    assert(p.contains("LessThan(vec_id,100)") &&
      p.contains("GreaterThanOrEqual(vec_id,100)"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the per-vector best match must prune to one row per group BEFORE
    // the window shuffle (WindowGroupLimit), not sort whole partitions
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("novelty: first-doc side partial-aggregates before its shuffle") {
    val p = planOf("x4_novelty")
    assert(p.contains("partial_min(doc_id"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("returned items: flag filter pushes into the scan, dims broadcast above the top-k") {
    val p = planOf("q_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("promo share: one conditional pass — lineitem is scanned exactly once") {
    val p = planOf("q_promo_share")
    // one detail entry per scan: lineitem + part, nothing else
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 2, p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("rate anomaly: O(types) baseline broadcasts back onto the counts") {
    val p = planOf("x6_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // counts + moments, each 2-stage
  }

  test("semantic dedup: the within-cell pair stage is an equi join, never a cartesian") {
    import spark.implicits._
    // semDedup itself returns an eager checkpointed frame (the argmax
    // is materialized once, not evaluated per join side) — pin the
    // pair stage's shape on a standalone assignment frame instead
    val asg = Seq((1L, 0L, Seq(1.0, 0.0), 1.0), (2L, 0L, Seq(0.9, 0.1), 0.906))
      .toDF("vec_id", "cell", "v", "nrm")
    val p = graft.operators.Similarity.semDedupPairs(asg, 0.38)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("waiting supplier: the fact is scanned once, never joined back to itself") {
    val p = planOf("q_waiting_supplier")
    // lineitem + orders + supplier — the EXISTS/NOT-EXISTS pair became
    // aggregates, so no second lineitem subtree exists
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 3, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 6, p) // 3 aggs, each 2-stage
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lapsed accounts: date filter pushes into orders, anti join stays hash") {
    val p = planOf("q_lapsed_accounts")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("retention: distinct pairs two-stage, cohort sizes broadcast onto the cells") {
    val p = planOf("x6_retention")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 6, p) // dedup/cohort/cells 2-stage each
  }

  test("grouped quantiles: every stage partitions by group — no single-partition stage") {
    val p = planOf("x3_length_quantiles")
    // the global quantileProfile pays one SinglePartition window by
    // design; the grouped form must not
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ ADC: codes meet the lookup table by broadcast hash join, no nested loop") {
    val p = planOf("x2_ann_pq")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the per-(vec, sub) argmin is the compiled ArgminCode kernel — a
    // pure map, no join fan-out or re-aggregation (round 22); the
    // per-(q, vec) ADC sum still partial-aggregates map-side
    assert(p.contains("argmincode"), p.take(3000))
    assert("partial_sum".r.findAllIn(p).size >= 1, p.take(3000))
  }

  test("band recall: pair-driven band probe, never an all-pairs band self-join") {
    val p = planOf("x4_band_recall")
    // the exact pairs drive the probe (bounded by |pairs|·bands); a
    // (band, key) self-join over the whole corpus would re-introduce
    // the boilerplate-bucket skew minhashBandPairs exists to avoid.
    // The only nested-loop joins are the 1-row n_docs scalar crosses
    // of the hot-shingle cap (Cross BuildRight against a scalar agg).
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin (Inner|Left|Right|Full)".r.findAllIn(p).isEmpty, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("shipping priority: segment filter pushes down, order side broadcasts into the fact") {
    val p = planOf("q_shipping_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("forecast revenue: single scan, all three predicates pushed, no join") {
    val p = planOf("q_forecast_revenue")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 1, p.take(2000))
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"),
      p.take(3000))
    assert(!p.contains("Join"), p)
  }

  test("large orders: aggregate-first HAVING, the fact is scanned once") {
    val p = planOf("q_large_orders")
    // lineitem + orders + customer: one scan each, never fact re-joined
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 3, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("knn accuracy: neighbor selection is the bounded heap agg, no pair-stream window") {
    val p = planOf("x2_knn_accuracy")
    assert(p.contains("top_k_by_score"), p.take(3000))
    // the only windows allowed would partition bounded frames; the pair
    // stream itself must aggregate, not sort
    assert(!p.contains("Window"), p)
  }

  test("weighted sample: map-side keys into TakeOrdered, no global sort or shuffle") {
    val p = planOf("x1_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
  }

  test("span dedup: df counts partially aggregate, probe is equi-keyed") {
    // at sf0.001 size estimates pick a broadcast probe; at scale the
    // explicit repartition(sh) becomes the reused exchange — both ways
    // the doc-frequency count MUST partial-aggregate map-side and the
    // probe MUST stay an equi hash join, never a nested loop
    val p = planOf("x4_span_dedup")
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("reconciliation: lineitem pre-aggregates below the header join") {
    // the per-order cent sum feeds the join input by construction —
    // its partial phase must exist (the exchange then carries order
    // cardinality, not item cardinality) and the header join must be
    // the LEFT OUTER equi join, never a cartesian
    val p = planOf("q_reconcile")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("HLL: register maxes partially aggregate map-side; no 64-register grid is joined") {
    val p = planOf("x6_hll_users")
    assert("partial_max".r.findAllIn(p).size >= 1, p)
    // the estimate folds the sparse (j, reg) rows: a range(64) register
    // grid joined against them is the shape the grid-free fold removed
    assert(!p.contains("Range (0, 64"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("audience overlap: the ONLY nested-loop join is the bounded day-pair frame") {
    // documented exception to the no-BNLJ rule: the da < db self-join
    // runs over the DISTINCT-day list — O(days²) metadata rows by
    // construction (a year is ~66k pairs), never corpus rows. The dp
    // subtree is re-expanded wherever it is referenced (both union
    // branches, both sig probes), so the bounded join appears ≤ 4
    // times. This assertion is the tripwire: the signature/user-id
    // joins must stay hash/equi-keyed, so a future regression that
    // nested-loops a DATA-sized side pushes the count past the
    // replication bound and fails.
    val p = planOf("x6_audience_overlap")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 4, s"expected only the bounded day-pair BNLJs, got $bnlj\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("round-13 aggregation operators: no joins beyond keyed/broadcast, no windows over raw rows") {
    // the fan-out family (weekly churn, rolling active) and the
    // profile family (shingle profile, lexical richness, dim stats,
    // lifetime, k-fold, epoch plan) must never pick up a nested-loop
    // join, a cartesian product, or an unpartitioned window as they
    // evolve — these are the shapes that die first at 100×
    for (name <- Seq("x6_churn", "x6_rolling_active", "x4_shingle_profile",
        "x3_lexical", "x2_dim_stats", "x6_lifetime",
        "x1_kfold", "x6_trend", "x6_trend_anomaly")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      assert(!p.contains("Window"), s"$name:\n$p")
    }
    // norm outliers / epoch plan join a ONE-ROW broadcast total back
    // onto the data side (the documented bounded-BNLJ exception, like
    // x6_audience_overlap's day pairs) — exactly one such join, and
    // never a cartesian product
    for (name <- Seq("x2_norm_outliers", "x1_epoch_plan")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // one physical BNLJ = two mentions in FormattedMode (tree + detail)
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, s"$name:\n$p")
    }
    // the trend fit broadcasts back onto the count frame — hash join,
    // never a shuffle of the O(types) side
    assert(planOf("x6_trend_anomaly").contains("BroadcastHashJoin"))
  }

  test("BM25 search: query terms broadcast into the postings, top-k is group-limited") {
    val p = planOf("x3_bm25_search")
    // the only nested loop is the house 1-row scalar cross (avgdl/N
    // onto the postings) — one physical BNLJ = two FormattedMode rows
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    // the hash-sampled query-term side is the broadcast side of the
    // candidate join; the corpus-sized postings never broadcast whole
    assert(p.contains("BroadcastHashJoin"), p)
    // rank<=k pushes below the final window exchange (partial limit)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("CMS sketch: two keyed aggregations, no join, no window") {
    val p = planOf("x6_cms_sketch")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // vocab count + counter sum, each partial+final around an exchange
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("Exchange".r.findAllIn(p).size >= 2, p)
  }

  test("Bloom gate: every join is equi-keyed hash, probe scans prune to doc_id/text") {
    val p = planOf("x4_bloom_gate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("MIPS LSH: candidate generation is a bucket hash join, M is one broadcast scalar") {
    val p = planOf("x2_mips_lsh")
    // the scalar-M cross is the only nested loop; candidates join on
    // (tbl, bucket), never all-pairs
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("SQ rerank: candidate fetch joins are hash, only the broadcast query cross remains") {
    val p = planOf("x2_ann_sq_rerank")
    // the deliberate nested loop is the tiny broadcast query set
    // crossing the code table (the annBruteForce shape); candidate ->
    // raw-vector fetch must be equi-keyed hash joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("hybrid RRF: fusion joins the two k-bounded lists by hash, never a cartesian") {
    val p = planOf("x2_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    // BM25 hits join the index by token equi-key; the fused frame
    // merges by (q_id, match_id)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("IVF x SQ: candidates join probed cells and codes by hash join") {
    val p = planOf("x2_ann_ivfsq")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("residual IVF x SQ: candidates join the per-cell query codes by hash join") {
    val p = planOf("x2_ann_ivfsq_res")
    // the only nested loop is the query batch crossing the broadcast
    // centroid model (probe ranking); candidates come from the
    // cell-keyed join of the residual code table with the broadcast
    // per-(query, cell) encoded residuals
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("IVF x SQ recall audit: both approximate legs candidate by hash join") {
    val p = planOf("x2_ivfsq_recall")
    // the only nested loops are the query batch crossing the broadcast
    // centroid model (probe ranking) and the brute ground truth's
    // corpus × broadcast-query-batch scoring (exact BY ROLE); the raw
    // and residual legs both draw candidates from cell-keyed hash
    // joins of the code tables with broadcast query-side frames
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("filtered media probe curve: label rides in the bucket hash join key") {
    val p = planOf("x5_mm_filtered_probe_curve")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("media composed-recall gates: approximate legs candidate by hash join") {
    // the two heaviest audit queries: train-from-scratch by design, but
    // the candidate streams must still be cell-keyed hash joins — the
    // only nested loops are the probe rankings and the brute ground
    // truth's corpus × broadcast-query-batch scoring (exact by role)
    for (q <- Seq("x5_mm_ivfpq_recall", "x5_mm_ivfsq_recall")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
    }
  }

  test("media IVF x SQ (+residual): candidates by hash join on both rungs") {
    // the media twins compose the same audited cores, so the same
    // shape contract holds: the only nested loop is the query batch
    // crossing the broadcast centroid model
    for (q <- Seq("x5_mm_search_ivfsq", "x5_mm_search_ivfsq_res")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
    }
  }

  test("residual IVF-PQ: candidates join probed cells, codes, and per-cell LUT by hash join") {
    val p = planOf("x2_ann_ivfpq_res")
    // the only nested loop is the query batch crossing the broadcast
    // centroid model (probe ranking); the candidate stream is
    // (cell)-keyed then (q_id, cell, sub, code)-keyed hash joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("histogram sketch scan prunes to event_type and value") {
    val read = planOf("x6_hist_sketch").linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(read.contains("event_type") && read.contains("value") &&
      !read.contains("user_id") && !read.contains("props"), read)
    // quantiles aggregate partial+final over the sketch rows
    val q = planOf("x6_hist_quantiles")
    assert("HashAggregate".r.findAllIn(q).size >= 2, q.take(3000))
  }

  test("binary ANN scan prunes to vec_id and embedding; scoring is codegen arithmetic") {
    val read = planOf("x2_ann_binary").linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(read.contains("vec_id") && read.contains("embedding") &&
      !read.contains("label"), read)
  }

  test("bucketed range search: candidates come from the bucket hash join, never all-pairs") {
    val p = planOf("x2_range_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("rolling histogram: day fan-out is a generate, merge joins observed days by hash") {
    val p = planOf("x6_hist_rolling")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("round-17 event operators: every join is keyed hash, never all-pairs") {
    // attribution's lookback predicate and covisit's pair
    // canonicalization must ride user-keyed equi joins as
    // post-filters — an all-pairs plan here dies at corpus scale
    for (q <- Seq("x6_attribution", "x6_attribution_decay",
        "x6_covisit", "x6_also_viewed", "x6_seasonal_serve", "x6_next_best")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // item_lift's ONLY nested loop is the sanctioned 1-row scalar
    // broadcast (crossJoin(broadcast(N)) — the house pattern); the
    // pair and marginal joins stay keyed hash
    val p = planOf("x6_item_lift")
    assert(!p.contains("CartesianProduct"), p)
    // one BNLJ in the tree + its detail block repeat — and it is the
    // Cross BuildRight scalar broadcast, nothing else
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 2 &&
      p.contains("BroadcastNestedLoopJoin Cross BuildRight"), p)
  }

  test("whole-stage codegen covers the pricing summary") {
    // codegen spans only appear on the executed plan once AQE finalizes
    val df = SparkEntry.queries("q_pricing_summary")(spark, SparkTestBase.sf0001)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), codegen)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("partial_sum"), p)
  }
}
