package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the shared oracle text that `graft/Oracles.scala` still writes
  * out more than once. Every other shared CTE chain or formula is one
  * fragment there, so it holds by construction, and `OracleHashSpec`
  * pins every oracle's bytes. The families below are the exceptions:
  * short chains and formulas copied literally into several oracles,
  * where a fragment would save too little. A one-sided edit of one copy
  * fails here by name rather than as a bare hash mismatch.
  *
  * Both mechanisms are exact-byte:
  *  - chain families extract the shared region from a CANONICAL oracle
  *    between two anchors and require every member to contain it
  *    verbatim;
  *  - formula families pin the shared formula as a literal.
  * Each test also scans ALL oracles and fails on an unregistered carrier
  * of the text, so a new oracle that copies one of these literals must
  * be added to the family's member list.
  */
class OracleChainSpec extends AnyFunSuite {
  private val sql: Map[String, String] = SparkEntry.oracleSql

  private def chainOf(canonical: String, from: String, to: String): String = {
    val q = sql(canonical)
    val i = q.indexOf(from)
    assert(i >= 0, s"$canonical: start anchor not found: $from")
    val j = q.indexOf(to, i)
    assert(j >= 0, s"$canonical: end anchor not found after start: $to")
    q.substring(i, j + to.length)
  }

  private def checkFamily(name: String, chain: String, members: Set[String]): Unit = {
    val actual = sql.collect { case (k, v) if v.contains(chain) => k }.toSet
    val missing = members -- actual
    val extra = actual -- members
    assert(missing.isEmpty,
      s"$name: these members DIVERGED from the shared chain (one-sided edit?): " +
        missing.toSeq.sorted.mkString(", "))
    assert(extra.isEmpty,
      s"$name: these oracles carry the chain but are not registered in this guard " +
        s"(add them to the family): " + extra.toSeq.sorted.mkString(", "))
  }

  private def chainFamily(name: String, canonical: String, from: String,
                          to: String, members: Set[String]): Unit =
    test(s"shared oracle chain '$name' is byte-identical across its ${members.size} members") {
      checkFamily(name, chainOf(canonical, from, to), members)
    }

  private def formulaFamily(name: String, snippet: String,
                            members: Set[String]): Unit =
    test(s"shared oracle formula '$name' is byte-identical across its ${members.size} members") {
      checkFamily(name, snippet, members)
    }

  // ---- chain families (CTE regions, extracted from the canonical) ----

  chainFamily("brute MIPS dp stream", "x2_mips_topk",
    "FROM e q, e t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id)",
    "FROM e q, e t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id)",
    Set("x2_mips_topk", "x2_mips_recall", "x2_sq_recall",
      "x2_sq_rerank_recall"))

  chainFamily("bigram pair-stream head d/z/bg", "x3_bigram_logprob",
    "WITH d AS", "WHERE p[2] IS NOT NULL),",
    Set("x3_bigram_logprob", "x3_bigram_model", "x3_bigram_score_serve",
      "x3_interp_logprob"))

  chainFamily("phrase t/idx positional chain", "x3_phrase_index",
    "WITH t AS", "unnest(s) AS token FROM t)",
    Set("x3_phrase_index", "x3_phrase_search", "x3_phrase_serve"))

  chainFamily("attribution purchase/touch head", "x6_attribution",
    "WITH p AS", "event_type IN ('view', 'click'))",
    Set("x6_attribution", "x6_attribution_decay"))

  chainFamily("inter-event gap stream e/g/b", "x6_gap_hist",
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)",
    "WHERE gap_us IS NOT NULL)",
    Set("x6_gap_hist", "x6_hist_log_sketch", "x6_hist_log_quantiles",
      "x6_hist_log_serve", "x6_hist_log_accuracy", "x6_hist_log_merge"))

  chainFamily("Bloom idx/bits chain", "x4_bloom_bits",
    "WITH idx AS", "CROSS JOIN (SELECT unnest(range(4)) AS i) ii)",
    Set("x4_bloom_bits", "x4_bloom_gate", "x4_bloom_merge"))

  // ---- formula families (shared arithmetic pinned as literals) ----

  formulaFamily("class-mean prototype fold",
    "round(sum(val) / count(*), 6)",
    Set("x2_confusion", "x2_mean_pool"))

  formulaFamily("SQ asymmetric ADC estimate",
    "AS DOUBLE) * a.scale * b.scale AS adot",
    Set("x2_ann_sq", "x2_ann_sq_serve", "x2_ann_sq_rerank", "x2_sq_recall",
      "x2_ann_ivfsq", "x2_ann_ivfsq_serve", "x2_hybrid_rrf_stored",
      "x5_mm_search_sq", "x5_mm_search_sq_serve",
      "x5_mm_search_ivfsq", "x5_mm_search_ivfsq_serve", "x5_mm_sq_recall",
      "x2_sq_rerank_recall"))

  formulaFamily("minhash band key",
    "array_to_string(s[b*4+1:b*4+4]",
    Set("x4_cluster_cohesion", "x1_grouped_kfold", "x1_grouped_split", "x1_split_audit",
      "x1_split_leakage", "x4_band_index", "x4_band_recall",
      "x4_band_recall_sampled", "x4_cluster", "x4_dup_stats", "x4_incremental",
      "x4_minhash_est", "x4_minhash_pairs", "x4_source_dup_rate",
      "x4_source_overlap", "x4_survivors", "x7_curate_incremental",
      "x7_curate_neardup", "x7_curate_split"))

  formulaFamily("LSH Hamming-1 probe masks",
    "[0, 1, 2, 4, 8]",
    Set("x2_ann_filtered", "x2_ann_filtered_serve", "x2_ann_lsh",
      "x2_ann_lsh_serve", "x2_mips_lsh",
      "x2_mips_lsh_serve", "x2_mips_recall", "x2_range_lsh", "x2_range_lsh_serve",
      "x2_range_recall", "x2_rank_quality", "x2_recall", "x2_probe_curve",
      "x2_filtered_recall", "x2_filtered_probe_curve",
      "x2_filtered_rank_quality", "x5_mm_search_filtered",
      "x5_mm_search_filtered_serve", "x5_mm_filtered_recall",
      "x5_mm_filtered_probe_curve", "x5_mm_filtered_rank_quality",
      "x5_mm_rank_quality", "x5_mm_recall", "x5_mm_search_lsh",
      "x5_mm_search_lsh_serve", "x5_mm_probe_curve"))
}
