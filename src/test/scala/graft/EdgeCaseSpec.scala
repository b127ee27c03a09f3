package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators._

/** Degenerate-input sweep: every text/media operator must survive
  * empty text, single characters, and documents shorter than the
  * shingle width without throwing (Spark 4 runs ANSI mode by default,
  * so accidental x/0 or overflow THROWS rather than nulling — exactly
  * how the media-embedding modulo bug got in). */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "", "en", "src0", 0L),
    (2L, "x", "en", "src0", 1L),
    (3L, "a b", "en", "src0", 3L), // 2 tokens < 3-gram width
    (4L, "one two three four five", "en", "src0", 23L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("text analysis operators survive degenerate documents") {
    assert(TextAnalysis.textStats(docs).count() === 4)
    assert(TextAnalysis.regexTokenCounts(docs).count() === 4)
    assert(TextAnalysis.langId(docs).count() === 4)
    assert(TextAnalysis.qualityScore(docs).count() === 4)
    assert(TextAnalysis.fingerprints(docs).count() === 4)
    assert(TextAnalysis.vocabulary(docs).count() > 0)
    assert(TextAnalysis.tfidf(docs).count() > 0)
  }

  test("dedup operators survive degenerate documents") {
    assert(Dedup.fingerprintDedup(docs).count() === 4)
    // docs 1-3 are below the 3-gram width → no shingle set, no signature
    // (matching the oracle's WHERE len(t) >= 3); only doc 4 is signed
    assert(Dedup.minhashSignatures(docs).count() === 1 * Dedup.NumPerms)
    assert(Dedup.minhashBandPairs(docs).count() >= 0)
    assert(Dedup.ngramJaccardTopK(docs, 3, 10).count() >= 0)
    assert(Dedup.decontaminate(docs, nBench = 2).count() >= 0)
    assert(Dedup.simhash(docs).count() === 4)
    assert(Dedup.simhashTopK(docs, 5).count() > 0)
    // round-9 family: short docs carry no signature/shingles, so the
    // incremental join, histogram, and novelty simply exclude them
    assert(Dedup.nearDupAgainstIndex(docs, docs).count() === 1) // doc 4 vs itself
    assert(Dedup.dupStats(docs).count() >= 1)
    assert(Dedup.noveltyScores(docs).count() === 1)
    assert(Dedup.nearDupAgainstIndex(docs.filter("doc_id < 4"), docs).count() === 0)
  }

  test("round-4 text/selection operators survive degenerate documents") {
    // empty text ("" → one empty token), single token, sub-bigram docs
    val rep = TextAnalysis.repetitionStats(docs)
    assert(rep.count() === 4)
    // no-bigram docs report NULL top_bigram, never a crash or zero-div
    assert(rep.filter("doc_id <= 2 AND top_bigram IS NULL").count() === 2)
    assert(TextAnalysis.piiRedact(docs).count() === 4)
    val sel = Sampling.budgetSelect(docs, tokenBudget = 3L)
    // greedy admits while any budget remains before the doc
    assert(sel.count() >= 1)
    assert(Sampling.budgetSelect(docs.limit(0), 100L).count() === 0) // empty corpus
    assert(TextAnalysis.repetitionStats(docs.limit(0)).count() === 0)
    assert(TextAnalysis.piiRedact(docs.limit(0)).count() === 0)
  }

  test("round-10 operators survive degenerate inputs") {
    // empty text still yields one (empty-string) token — scored, never
    // a zero-division; empty corpus yields zero rows, never a crash
    assert(TextAnalysis.unigramLogProb(docs).count() === 4)
    assert(TextAnalysis.unigramLogProb(docs.limit(0)).count() === 0)
    assert(Dedup.bandIndex(docs).count() === 4) // only doc 4 signed, 4 bands
    assert(Dedup.bandIndex(docs.limit(0)).count() === 0)
    assert(Dedup.dupStatsFromLabels(Dedup.clusterNearDups(docs.limit(0))).count() === 0)
    val orders = Seq.empty[(java.sql.Date, Double, String)]
      .toDF("o_orderdate", "o_totalprice", "o_orderpriority")
    assert(Scale.dailyReconcile(orders).count() === 0)
  }

  test("media stubs survive empty blobs") {
    assert(Multimodal.mediaFeatures(spark, docs).count() === 4)
    assert(Multimodal.resizedSizes(docs).count() === 4)
    assert(Multimodal.frameCounts(spark, docs).count() === 4)
    val search = Multimodal.mediaSearch(docs, nQueries = 3, k = 2)
    assert(search.count() > 0) // empty-text doc embeds as zeros, query still runs
  }

  test("round-11 operators survive degenerate inputs") {
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "props")
    assert(Windows.cohortRetention(noEvents).count() === 0)
    assert(Windows.trendingProps(noEvents).count() === 0)
    // one event, malformed props: retention has its day-0 cell, the
    // trending report is empty rather than a null group
    val one = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "{}"))
      .toDF("user_id", "ts", "props")
    assert(Windows.cohortRetention(one).count() === 1)
    assert(Windows.trendingProps(one).count() === 0)
    assert(Profiling.groupedQuantiles(docs, "source", "n_chars").count() === 1)
    assert(Profiling.groupedQuantiles(docs.limit(0), "source", "n_chars").count() === 0)
    // only one doc is wide enough to sign → no pairs, no crash
    assert(Dedup.bandRecallReport(docs).count() === 0)
    assert(TextAnalysis.tokenEntropy(docs).count() === 4)
    assert(TextAnalysis.tokenEntropy(docs.limit(0)).count() === 0)
  }

  test("round-12 operators survive degenerate inputs") {
    // all docs shorter than the 8-token span width → empty reports
    assert(Dedup.duplicatedSpans(docs).count() === 0)
    assert(Dedup.spanSharedPairs(docs).count() === 0)
    val wide = docs.unionByName(Seq(
      (5L, "one two three four five six seven eight", "en", "src0", 40L),
      (6L, "one two three four five six seven eight", "en", "src1", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    assert(Dedup.duplicatedSpans(wide).count() === 2)
    assert(Dedup.spanSharedPairs(wide).count() === 1)
    // empty event frame: per-day report has no days → no rows; the
    // GLOBAL rollup is a grand aggregate → one all-zero-register row
    // (0 exact, linear-counting estimate 0; hllUsersGlobal pins
    // rel_err to 0.0 when n_exact = 0 — ANSI division would throw on
    // the 0/0 otherwise)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    assert(Profiling.hllUsers(noEvents).count() === 0)
    val empty = Profiling.hllUsersGlobal(noEvents).head
    assert(empty.getLong(0) === 0L && empty.getLong(1) === 64L
      && empty.getDouble(2) === 0.0)
    assert(empty.getDouble(3) === 0.0) // the pinned rel_err itself
    val one = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    // a single user: linear counting answers exactly, v=63
    val g = Profiling.hllUsersGlobal(one).head
    assert(g.getLong(0) === 1L && g.getLong(1) === 63L)
    assert(Curation.curateVerbatim(docs, nBench = 2, shardBudget = 10).count() >= 0)
  }

  test("round-13 operators survive degenerate inputs") {
    // documents: the standard degenerate set (empty text, 1 char,
    // sub-shingle-width, one normal doc)
    assert(Sampling.kfoldReport(docs).count() > 0)
    assert(Sampling.epochPlan(docs).count() === 1)      // one source
    assert(TextAnalysis.lexicalRichness(docs).count() === 1)
    assert(Dedup.shingleProfile(docs).count() === 1)    // only doc 4 is wide enough
    assert(Dedup.survivorMap(docs).count() === 4)       // singleton clusters ok
    assert(Dedup.sourceDupRate(docs).count() === 1)
    assert(Curation.curateMixture(docs, nBench = 0L, shardBudget = 10).count() >= 0)
    // events: empty frame → every report is empty, nothing throws
    // (ANSI mode would surface a 0/0 or bad division as an exception)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Windows.weeklyChurn(noEvents).count() === 0)
    assert(Windows.dailyTrend(noEvents).count() === 0)
    assert(Windows.trendAnomaly(noEvents).count() === 0)
    assert(Windows.userLifetime(noEvents).count() === 0)
    assert(Windows.gapHistogram(noEvents).count() === 0)
    assert(Windows.cohortValue(noEvents).count() === 0)
    assert(Profiling.rollingActiveHll(noEvents).count() === 0)
    // a single event: one user, one week — gained only; no gaps; a
    // single (type, day) point has no trend line and no residual z
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      7L, "click", 1.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Windows.weeklyChurn(one).as[(Long, Long, Long, Long)]
      .collect().map(r => (r._2, r._3, r._4)).toSeq === Seq((0L, 1L, 0L)))
    assert(Windows.dailyTrend(one).count() === 0)
    assert(Windows.trendAnomaly(one).count() === 0)
    assert(Windows.gapHistogram(one).count() === 0)
    // embeddings: a single vector has zero norm variance → the
    // norm-outlier guard drops everything rather than dividing by 0
    val e1 = Seq((0L, Seq(1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    assert(Similarity.normOutliers(e1).count() === 0)
    assert(Similarity.dimStats(e1).count() === 2)
  }

  test("round-14 operators survive degenerate inputs") {
    // BM25 on a 2-doc corpus: every term is in >= half the docs when
    // shared -> idf <= 0 drops it; nothing divides by zero on the
    // empty-text doc (dl = 1: split("") = [""])
    val two = Seq((1L, "", "en", "s", 0L), (2L, "a b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextAnalysis.bm25Index(two).count() === 3) // "" + a + b postings
    // every df=1 of N=2 -> idf = ln(1.5/1.5) = 0 -> stop-gate drops all
    assert(TextAnalysis.bm25ScoreAgainst(two, TextAnalysis.bm25Index(two),
      excludeSelf = true).count() === 0)
    // degenerate standard set: phrase queries skip docs under 3 tokens
    assert(TextAnalysis.phraseQueries(docs, samplePct = 100).count() === 1)
    assert(TextAnalysis.phraseIndex(docs).count() === 9) // 1+1+2+5 tokens
    // backoff: held-out tokens entirely absent from training -> all
    // OOV, avg_logprob NULL, nothing throws
    val ho = TextAnalysis.backoffLogProb(
      Seq((9L, "zz qq")).toDF("doc_id", "text"),
      Seq((100L, "a b")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Option[Double])].collect()
    assert(ho.toSeq === Seq((9L, 0L, 0L, 1L, None)))
    // temporal split: days 0..4 cut at day 3 (80% boundary, strict
    // train < 3); u1 appears on both sides -> the one crossing user
    val ts = (d: Long) => new java.sql.Timestamp(d * 86400000L)
    val ev = Seq((1L, ts(0), 1L), (2L, ts(0), 2L), (5L, ts(2), 2L),
      (3L, ts(4), 1L), (4L, ts(4), 3L))
      .toDF("event_id", "ts", "user_id")
    assert(Sampling.timeSplit(ev)
      .as[(Long, Long, Long, Long, Long, Long, Double)].head() ===
      ((3L, 3L, 2L, 2L, 2L, 1L, 0.5)))
    // bloom gate against an EMPTY index: no bits set, no hits, no dups
    val g = Dedup.bloomGate(two, two.filter("doc_id < 0"))
      .as[(Long, String, Boolean, Boolean)].collect()
    assert(g.length === 2 && g.forall(r => !r._3 && !r._4))
    // CMS over the degenerate docs: counters total tokens x depth
    assert(Profiling.cmsSketch(docs).agg(
      org.apache.spark.sql.functions.sum("c")).as[Long].head === 36L)
    assert(Profiling.cmsEstimateAgainst(Seq("nope").toDF("token"),
      Profiling.cmsSketch(docs)).as[(String, Long)].head._2 === 0L)
  }

  test("PQ survives a corpus smaller than the codebook") {
    // 3 vectors < 16 seeds: each subspace trains a 3-code book; codes
    // stay in range and every vector still encodes in every subspace
    val e = (0 until 3).map { i =>
      (i.toLong, Seq.tabulate(64)(d => if (d % 3 == i) 1.0f else 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val codes = Similarity.pqCodes(e).as[(Long, Long, Long)].collect()
    assert(codes.length === 3 * 8)
    codes.foreach { case (_, sub, code) =>
      assert(sub >= 0 && sub < 8 && code >= 0 && code < 3)
    }
    assert(Similarity.pqAdcTopKWithModel(e, Similarity.trainPqModel(e),
      nQueries = 2, kNn = 5).count() > 0)
    // empty corpus: empty model, empty codes, no crash
    assert(Similarity.pqCodes(e.limit(0)).count() === 0)
  }

  test("similarity operators survive tiny vector sets") {
    val e = Seq((0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.annBruteForce(e, 2, 5).count() === 2) // k > candidates
    assert(Similarity.cosinePairsTopK(e, 5).count() === 1)
    assert(Similarity.annLsh(e, 2, 5).count() >= 0) // buckets may not collide
  }

  test("round-15 operators survive degenerate inputs") {
    // zero and empty vectors: SQ encodes to scale 0 / empty codes,
    // sign-pack to zero words; search ranks them without crashing
    val e = Seq(
      (0L, Seq(0f, 0f, 0f, 0f), 0), (1L, Seq(1f, -1f, 0f, 2f), 0),
      (2L, Seq.empty[Float], 0))
      .toDF("vec_id", "embedding", "label")
    val sq = Similarity.sqCodes(e)
      .as[(Long, Double, Seq[Double])].collect().map(r => r._1 -> r).toMap
    assert(sq(0L)._2 === 0.0 && sq(0L)._3.forall(_ === 0.0))
    assert(sq(2L)._2 === 0.0 && sq(2L)._3.isEmpty)
    assert(Similarity.annSq(e, nQueries = 2, k = 5).count() > 0)
    val bc = Similarity.binaryCodes(e)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(bc(0L) === ((0L, 0L)) && bc(2L) === ((0L, 0L)))
    assert(Similarity.annBinary(e, nQueries = 2, k = 5).count() > 0)
    // hybrid where NO sparse match exists (every token is corpus-wide):
    // the dense side alone fills the fused list, bm25_rank all 0
    val docs = Seq((0L, "the the"), (1L, "the the the"), (2L, "the"),
      (3L, "the the"))
      .toDF("doc_id", "text")
    val emb = Seq((0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.8f, 0.2f), 0), (3L, Seq(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val hy = Similarity.hybridRrf(docs, emb, nQueries = 1, kSide = 2, k = 4)
      .as[(Long, Long, Long, Long, Long, Int)].collect()
    assert(hy.nonEmpty && hy.forall(_._4 === 0L))
    // single-valued event stream: every quantile is that bucket's edge
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
      1L, "click", 7.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = graft.operators.Profiling.histQuantiles(ev)
      .as[(String, Long, Double, Double, Double)].head()
    assert(q === (("click", 1L, 10.0, 10.0, 10.0)))
    // grouped split on a single doc: one singleton cluster, one split
    val one = Seq((7L, "solitary words only here")).toDF("doc_id", "text")
    assert(graft.operators.Sampling.groupedSplit(one).count() === 1)
  }

  test("round-17 operators survive degenerate inputs") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // garbage props: the item extract matches nothing → covisit family empty
    val garbage = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0, "not json"),
      (2L, ts("2024-01-01 00:01:00"), 1L, "view", 1.0, """{"other": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Windows.covisit(garbage).isEmpty)
    assert(Windows.alsoViewed(garbage).isEmpty)
    assert(Windows.itemLift(garbage).isEmpty)
    // no purchases: attribution models are empty except the
    // unattributed ledger row (count 0, credit null — never a throw)
    val touchesOnly = garbage.drop("props")
    val att = Windows.attribution(touchesOnly)
      .as[(String, String, Long, Option[Double])].collect()
    assert(att.toSeq === Seq(("unattributed", "none", 0L, None)))
    assert(Windows.attributionDecay(touchesOnly).isEmpty)
    // one observed day per weekday: zero variance everywhere → no rows
    assert(Windows.dowAnomaly(touchesOnly).isEmpty)
    assert(Windows.dowProfile(touchesOnly).count() === 1)
    // single-event users only: no transitions, no next-best rows,
    // funnel rates still emit the 3-stage ledger (rates null past stage 1)
    val singles = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 00:00:00"), 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Windows.sessionTransitions(singles).isEmpty)
    assert(Windows.sessionNextBest(singles).isEmpty)
    assert(Windows.funnelRates(singles).count() === 3)
    // all-singleton sessions: every duration 0, quantiles pin to 0.0
    val sl = Profiling.sessionLengthProfile(singles)
      .as[(Long, Double, Double, Double)].head()
    assert(sl === ((2L, 0.0, 0.0, 0.0)))
  }
}
