package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}
import graft.functions.RollingHash

/** Semantics tests for X1/X3/X4 on hand-made documents (value-level
  * correctness vs DuckDB is covered by the oracle at sf0.01). */
class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("rolling hash matches the reference fold and runs under codegen") {
    val s = "spark table"
    var expected = 0L
    s.foreach(ch => expected = (expected * 31 + ch) % RollingHash.DefaultPrime)
    val got = docs((1L, s)).select(RollingHash.rolling_hash(col("text")))
      .head.getLong(0)
    assert(got === expected)
  }

  test("rolling hash folds codepoints, not UTF-16 units (ord parity)") {
    val s = "héllo 😀 世界" // BMP accents, a surrogate pair, CJK
    var expected = 0L
    s.codePoints().forEach(cp =>
      expected = (expected * 31 + cp) % RollingHash.DefaultPrime)
    val got = docs((1L, s)).select(RollingHash.rolling_hash(col("text")))
      .head.getLong(0)
    assert(got === expected)
  }

  test("identical documents share minhash signatures; disjoint ones do not") {
    val d = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x"))
    val sigs = Dedup.minhashSignatures(d)
      .groupBy("doc_id").agg(concat_ws(",", collect_list(col("minhash"))))
      .as[(Long, String)].collect().toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("minhash LSH banding surfaces the exact-duplicate pair") {
    val d = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x"))
    val pairs = Dedup.minhashBandPairs(d).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("incremental dedup flags incoming near-dups of the index only") {
    val incoming = docs((1L, "a b c d e f g h"), (2L, "q r s t u v w x"))
    val index = docs((100L, "a b c d e f g h"), (101L, "a b c d e f g h"),
      (102L, "m n o p m n o p"))
    val hits = Dedup.nearDupAgainstIndex(incoming, index)
      .as[(Long, Long, Long)].collect().toList
    // doc 1 matches the index duplicates on all 4 bands, reported
    // against the MINIMUM matching index id; doc 2 matches nothing
    assert(hits === List((1L, 100L, 4L)))
  }

  test("incremental dedup index side collapses per (band, key) before the join") {
    // 50 identical index docs: the aggregated index must keep ONE row
    // per (band, key), so the flagged doc sees exactly 4 join rows —
    // not 4 × 50 — no matter how duplicate-heavy the index bucket is
    val incoming = docs((1L, "a b c d e f g h"))
    val index = docs((100L to 149L).map(i => (i, "a b c d e f g h")): _*)
    val joined = Dedup.nearDupAgainstIndex(incoming, index)
    assert(joined.as[(Long, Long, Long)].collect().toList === List((1L, 100L, 4L)))
    val idxRows = Dedup.bandKeys(index)
      .groupBy(col("band"), col("key")).count()
      .agg(sum(lit(1)), sum(col("count"))).as[(Long, Long)].head()
    assert(idxRows === ((4L, 200L))) // 200 raw band rows -> 4 buckets
  }

  test("novelty: first doc scores 1.0, its duplicate 0.0, partial overlap in between") {
    val d = docs((1L, "a b c d e"), (2L, "a b c d e"), (3L, "c d e f g"))
    val got = Dedup.noveltyScores(d).as[(Long, Long, Long, Double)]
      .collect().sortBy(_._1).toList
    // doc 3 shares "c d e" with doc 1; its other 2 shingles are new
    assert(got === List((1L, 3L, 3L, 1.0), (2L, 3L, 0L, 0.0),
      (3L, 3L, 2L, round2(2.0 / 3.0))))
  }

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("source overlap matrix counts cluster co-membership pairs per source pair") {
    // one cluster {1,2,3}: docs 1,2 from sA, doc 3 from sB; doc 4 alone
    val d = Seq(
      (1L, "a b c d e f g h", "sA"), (2L, "a b c d e f g h", "sA"),
      (3L, "a b c d e f g h", "sB"), (4L, "q r s t u v w x", "sB"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapMatrix(d).as[(String, String, Long)]
      .collect().toSet
    // within sA: C(2,2)=1 pair; across sA-sB: 2*1=2; sB alone: none
    assert(got === Set(("sA", "sA", 1L), ("sA", "sB", 2L)))
  }

  test("closed-form source overlap equals the enumerated pair count on sf0.001") {
    // property check on real data: the n·m / C(n,2) arithmetic must
    // equal an explicitly enumerated co-membership pair set — guards
    // the closed form against off-by-one/ordering mistakes at corpus
    // shape, not just the 4-doc truth table above
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val labels = Dedup.clusterNearDups(d)
    val closed = Dedup.sourceOverlapFromLabels(labels, d)
      .as[(String, String, Long)].collect().toSet
    val mem = labels.join(d.select(col("doc_id"), col("source")), "doc_id")
    val enumerated = mem.alias("a").join(mem.alias("b"),
        col("a.cluster") === col("b.cluster") && col("a.doc_id") < col("b.doc_id"))
      .select(least(col("a.source"), col("b.source")).as("source_x"),
        greatest(col("a.source"), col("b.source")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .as[(String, String, Long)].collect().toSet
    assert(closed.nonEmpty && closed === enumerated)
  }

  test("cluster cohesion: exact dups agree 16/16, rollup covers exactly the multi-member clusters") {
    val d = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),   // exact pair
      (3L, "q r s t u v w x"))                             // singleton
      .toDF("doc_id", "text")
    val got = Dedup.clusterCohesion(d)
      .as[(Long, Long, Long, Double, Double)].collect()
    // one multi-member cluster: root 1, size 2, one member at full
    // signature agreement (identical text -> identical signature)
    assert(got.toSeq === Seq((1L, 2L, 1L, 1.0, 1.0)))
    // corpus property: rollup rows == multi-member clusters; mean >=
    // min; both in [0, 1] (a low min is the chained-drift flag)
    val corpus = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val labels = Dedup.clusterNearDups(corpus)
    val multi = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("cluster").as[Long].collect().toSet
    val coh = Dedup.clusterCohesion(corpus)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(coh.map(_._1).toSet === multi && coh.nonEmpty)
    coh.foreach { case (c, size, nm, mean, mn) =>
      assert(size === nm + 1, s"cluster $c")
      assert(mean >= mn && mn >= 0.0 && mean <= 1.0, s"cluster $c")
    }
  }

  test("reuse forms over precomputed labels match the self-contained queries and skip re-clustering") {
    val d = Seq(
      (1L, "a b c d e f g h", "sA"), (2L, "a b c d e f g h", "sA"),
      (3L, "a b c d e f g h", "sB"), (4L, "q r s t u v w x", "sB"))
      .toDF("doc_id", "text", "source")
    val labels = Dedup.clusterNearDups(d)
    assert(Dedup.sourceOverlapFromLabels(labels, d).as[(String, String, Long)]
      .collect().toSet ===
      Dedup.sourceOverlapMatrix(d).as[(String, String, Long)].collect().toSet)
    assert(Dedup.dupStatsFromLabels(labels).as[(Long, Long, Long)].collect().toSet ===
      Dedup.dupStats(d).as[(Long, Long, Long)].collect().toSet)
    // the labels input is a materialized LogicalRDD, so the from-labels
    // plans must contain no Generate (band-key posexplode) — i.e. the
    // signature → band-join pipeline is NOT re-run per report
    val plan = Dedup.sourceOverlapFromLabels(labels, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("survivor map: canonical ids, flags, and sizes agree with the cluster histogram") {
    val d = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g h"), (4L, "q r s t u v w x"))
    val m = Dedup.survivorMap(d).as[(Long, Long, Long, Long)].collect()
    assert(m.length === 4)
    val byDoc = m.map(r => r._1 -> r).toMap
    assert(byDoc(1L) === ((1L, 1L, 1L, 3L)))
    assert(byDoc(2L) === ((2L, 1L, 0L, 3L)))
    assert(byDoc(3L) === ((3L, 1L, 0L, 3L)))
    assert(byDoc(4L) === ((4L, 4L, 1L, 1L)))
    // the row-level map rolls up to exactly the dupStats histogram
    val hist = Dedup.dupStatsFromLabels(
      Dedup.survivorMapFromLabels(Dedup.clusterNearDups(d))
        .select(col("doc_id"), col("canonical_id").as("cluster")))
      .as[(Long, Long, Long)].collect().toSet
    assert(hist === Dedup.dupStats(d).as[(Long, Long, Long)].collect().toSet)
  }

  test("k-fold report partitions the corpus and balances on real data") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val rep = Sampling.kfoldReport(d, k = 5)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rep.length === 5 && rep.map(_._1).toSet === Set(0L, 1L, 2L, 3L, 4L))
    assert(rep.map(_._2).sum === d.count())
    // assignment is the deterministic hash: re-running moves nothing
    val again = Sampling.kfoldReport(d, k = 5)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rep.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // hash folds are roughly balanced (no fold 3x another on 50 docs)
    val sizes = rep.map(_._2)
    assert(sizes.max <= 3 * math.max(sizes.min, 1L))
  }

  test("epoch plan: pow weights quantized before the total, hand-computed shares") {
    // source a: 100 tokens, b: 400 → sqrt weights 10:20 → target 1/3:2/3,
    // natural 0.2:0.8 → epochs 1.6667 / 0.8333
    val d = Seq(
      (1L, Seq.fill(100)("w").mkString(" "), "a"),
      (2L, Seq.fill(400)("w").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val got = Sampling.epochPlan(d)
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") === (("a", 1L, 100L, 0.2, 0.333333, 1.6667)))
    assert(got("b") === (("b", 1L, 400L, 0.8, 0.666667, 0.8333)))
  }

  test("mixture audit: the smallest source keeps everything, shares reconcile") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val audit = Sampling.mixtureAudit(d)
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(audit.nonEmpty)
    // the temperature rule keeps the smallest source whole
    val smallest = audit.minBy(_._2)
    assert(smallest._3 === smallest._2 && smallest._4 === 1.0)
    // kept counts reconcile with the sampler's own output
    val kept = Sampling.temperatureSample(d).count()
    assert(audit.map(_._3).sum === kept)
    // achieved shares sum to ~1 and each miss is achieved - target
    assert(math.abs(audit.map(_._5).sum - 1.0) < 1e-4)
    audit.foreach { r =>
      assert(math.abs(r._7 - BigDecimal(r._5 - r._6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
  }

  test("shingle profile counts cross-doc repetition, not within-doc") {
    val d = Seq(
      (1L, "a b c d", "s0"),   // shingles: "a b c", "b c d"
      (2L, "a b c e", "s0"),   // shingles: "a b c", "b c e"
      (3L, "x y x y x y", "s1")) // distinct within doc: "x y x", "y x y"
      .toDF("doc_id", "text", "source")
    val got = Dedup.shingleProfile(d)
      .as[(String, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("s0") === (("s0", 4L, 3L, 0.25, 2L)))
    // within-doc repeats collapse before counting: zero duplication
    assert(got("s1") === (("s1", 2L, 2L, 0.0, 1L)))
  }

  test("source dup rate: cross-source duplication charges the junior source") {
    val d = Seq(
      (1L, "a b c d e f g h", "sA"), (2L, "a b c d e f g h", "sA"),
      (3L, "a b c d e f g h", "sB"), (4L, "q r s t u v w x", "sB"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceDupRate(d)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // sA: doc 1 is the canonical of the triple, doc 2 redundant
    assert(got("sA") === (("sA", 2L, 1L, 0.5)))
    // sB: doc 3 duplicates sA's canonical; doc 4 stands alone
    assert(got("sB") === (("sB", 2L, 1L, 0.5)))
    // from-labels reuse form matches
    val viaLabels = Dedup.sourceDupRateFromLabels(Dedup.clusterNearDups(d), d)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(viaLabels === got.values.toSet)
  }

  test("decontam profile: bench-item rollup reconciles with the corpus-side report") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val profile = Dedup.decontamProfile(d, nBench = 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(profile.nonEmpty && profile.forall(_._1 < 10))
    profile.foreach { r =>
      assert(r._3 >= 5 && r._4 >= r._3 && r._2 >= 1)
    }
    // every champion pair the corpus-side report emits involves a
    // bench item present in the profile
    val champions = Dedup.decontaminate(d, nBench = 10)
      .select("bench_id").as[Long].collect().toSet
    assert(champions.subsetOf(profile.map(_._1).toSet))
  }

  test("signal correlation: bounded on real data, null under zero variance, exact on a 2-point frame") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val r = TextAnalysis.signalCorr(d).head()
    assert(r.getLong(0) === d.count())
    (1 to 3).foreach { i =>
      assert(!r.isNullAt(i) && math.abs(r.getDouble(i)) <= 1.0)
    }
    // identical docs: zero variance in every signal → all r null
    val flat = Seq((1L, "a b c", "en", "s"), (2L, "a b c", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val rf = TextAnalysis.signalCorr(flat).head()
    (1 to 3).foreach(i => assert(rf.isNullAt(i)))
    // two distinct points always correlate at exactly ±1
    val two = Seq((1L, "a b", "en", "s"), (2L, "c d e f", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val rt = TextAnalysis.signalCorr(two).head()
    (1 to 3).foreach(i => assert(math.abs(math.abs(rt.getDouble(i)) - 1.0) < 1e-9))
  }

  test("lexical richness separates natural vocabulary from template spam") {
    val d = Seq(
      (1L, "alpha beta gamma delta", "nat"),
      (2L, "epsilon zeta eta theta", "nat"),
      (3L, "spam spam spam spam spam spam spam spam", "tmpl"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.lexicalRichness(d)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("nat") === (("nat", 8L, 8L, 8L, 1.0, 1.0)))
    assert(r("tmpl") === (("tmpl", 8L, 1L, 0L, 0.125, 0.0)))
  }

  test("unigram log-prob: hand-computed micro-nat truth table") {
    // corpus: a appears 2×, b 2×, c 1×; n = 5
    val d = docs((1L, "a a b"), (2L, "b c"))
    def lp6(p: Double): Long = math.floor(math.log(p) * 1e6 + 0.5).toLong
    val a = lp6(2.0 / 5); val b = lp6(2.0 / 5); val c = lp6(1.0 / 5)
    val got = TextAnalysis.unigramLogProb(d)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 3L, (2 * a + b).toDouble / (3 * 1e6)),
      (2L, 2L, (b + c).toDouble / (2 * 1e6))))
  }

  test("token entropy: hand-computed micro-nat truth table") {
    // doc 1 "a a b": n=3, k={2,1} → H = ln3 − (2·ln2 + 1·ln1)/3
    // doc 2 "c c c c": single token looped → H = 0 exactly
    // doc 3 "p q r": uniform → H = ln3
    val d = docs((1L, "a a b"), (2L, "c c c c"), (3L, "p q r"))
    def l6(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val got = TextAnalysis.tokenEntropy(d)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    def h(n: Long, s: Long): Double =
      BigDecimal((l6(n.toDouble) * n - s).toDouble / (n * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === List(
      (1L, 3L, 2L, h(3, 2 * l6(2.0) + 1 * l6(1.0))),
      (2L, 4L, 1L, h(4, 4 * l6(4.0))),
      (3L, 3L, 3L, h(3, 0L))))
    // the looped doc collapses to 0, the uniform doc hits ln n
    assert(got(1)._4 === 0.0)
    assert(math.abs(got(2)._4 - math.log(3)) < 1e-5)
  }

  test("bigram log-prob: hand-computed conditional truth table") {
    // corpus bigrams: (a,b)×2 from doc 1+2, (b,a)×1, (b,c)×1
    // → P(b|a)=2/2, P(a|b)=1/2, P(c|b)=1/2
    val d = docs((1L, "a b a"), (2L, "a b c"), (3L, "x"))
    def lp6(p: Double): Long = math.floor(math.log(p) * 1e6 + 0.5).toLong
    val ab = lp6(1.0); val ba = lp6(0.5); val bc = lp6(0.5)
    val got = TextAnalysis.bigramLogProb(d)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toList
    // doc 3 has one token → no bigrams → absent
    assert(got === List(
      (1L, 2L, (ab + ba).toDouble / (2 * 1e6)),
      (2L, 2L, (ab + bc).toDouble / (2 * 1e6))))
  }

  test("bigram log-prob: rare transitions score below common ones at equal unigram mix") {
    // every doc uses only tokens a/b/z-ish pairs; doc 9's a→z jump is
    // corpus-rare while doc 1's a→b is corpus-common — unigram scoring
    // sees nearly the same token bag, the conditional score separates
    val d = docs((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a b"),
      (9L, "a z"))
    val got = TextAnalysis.bigramLogProb(d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // P(b|a) = 4/5, P(z|a) = 1/5
    assert(got(9L) < got(1L), got.toString)
    assert(got(1L) === math.floor(math.log(0.8) * 1e6 + 0.5) / 1e6)
    assert(got(9L) === math.floor(math.log(0.2) * 1e6 + 0.5) / 1e6)
  }

  test("unigram model: batch scored against a stored model equals self-contained") {
    val d = docs((1L, "a a b"), (2L, "b c"), (3L, "a c c b"))
    // round-trip the model through parquet — the stored-artifact path,
    // exactly how a resident pipeline serves it
    val dir = SparkTestBase.tempDir("unigram_model").toString
    TextAnalysis.unigramModel(d).write.mode("overwrite").parquet(dir)
    val model = spark.read.parquet(dir)
    val served = TextAnalysis.unigramLogProbAgainst(d, model)
    assert(served.as[(Long, Long, Double)].collect().sortBy(_._1).toList ===
      TextAnalysis.unigramLogProb(d)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toList)
    // the serve path explodes ONLY the batch: exactly one Generate, and
    // the training-side count aggregation must not appear
    val plan = served.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(plan).size === 1, plan)
  }

  test("bigram model: batch scored against a stored model equals self-contained") {
    val d = docs((1L, "a a b"), (2L, "b c a"), (3L, "a c c b a b"))
    val dir = SparkTestBase.tempDir("bigram_model").toString
    TextAnalysis.bigramModel(d).write.mode("overwrite").parquet(dir)
    val model = spark.read.parquet(dir)
    val served = TextAnalysis.bigramLogProbAgainst(d, model)
    assert(served.as[(Long, Long, Double)].collect().sortBy(_._1).toList ===
      TextAnalysis.bigramLogProb(d)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toList)
    // the serve plan zips ONLY the batch: exactly one Generate, and the
    // training-side pair aggregation must not appear
    val plan = served.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(plan).size === 1, plan)
  }

  test("bigram model: unseen pairs are dropped from the served mean") {
    val model = TextAnalysis.bigramModel(docs((1L, "a b a b"), (2L, "a c")))
    // pairs: (a,b)x2, (b,a)x1, (a,c)x1 → ca(a)=3, ca(b)=1
    // batch "a b zzz": (a,b) scored, (b,zzz) OOV → n_bigrams = 1
    val got = TextAnalysis.bigramLogProbAgainst(docs((9L, "a b zzz")), model)
      .as[(Long, Long, Double)].collect().toList
    val lpAB = math.floor(math.log(2.0 / 3) * 1e6 + 0.5)
    assert(got === List((9L, 1L, lpAB / 1e6)))
  }

  test("unigram model: unseen tokens are dropped from the served mean") {
    val model = TextAnalysis.unigramModel(docs((1L, "a a b"), (2L, "b c")))
    // 'zzz' is out-of-vocabulary: only 'a' is scored, n_tokens = 1
    val got = TextAnalysis.unigramLogProbAgainst(docs((9L, "a zzz")), model)
      .as[(Long, Long, Double)].collect().toList
    val lpA = math.floor(math.log(2.0 / 5) * 1e6 + 0.5)
    assert(got === List((9L, 1L, lpA / 1e6)))
  }

  test("dup-stats histogram counts clusters by size") {
    val d = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g h"), (4L, "q r s t u v w x"), (5L, "solo"))
    // one 3-cluster {1,2,3}; docs 4 and 5 are singletons
    val hist = Dedup.dupStats(d).as[(Long, Long, Long)].collect().toSet
    assert(hist === Set((1L, 2L, 2L), (3L, 1L, 3L)))
  }

  test("ngram jaccard: identical docs score 1.0 and rank first") {
    val d = docs((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c x y"))
    val top = Dedup.ngramJaccardTopK(d, 3, 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(top.head._1 === 1L && top.head._2 === 2L && top.head._4 === 1.0)
  }

  test("ngram containment: a quoted short doc scores 1.0 while jaccard stays low") {
    // doc 1's text is embedded verbatim inside doc 2: all 3 of doc 1's
    // 3-gram shingles appear among doc 2's 8 — the asymmetric signal
    val d = docs((1L, "a b c d e"), (2L, "a b c d e f g h i j"))
    val top = Dedup.ngramContainmentTopK(d, 3, 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(top.head === ((1L, 2L, 3L, 1.0)))
    // the reverse direction is the weak one: 3/8
    assert(top.find(r => r._1 == 2L && r._2 == 1L).get._4 === 0.375)
    // symmetric jaccard cannot see the quote: 3/8 for the pair
    val jac = Dedup.ngramJaccardTopK(d, 3, 10)
      .as[(Long, Long, Long, Double)].collect().head._4
    assert(jac === 0.375)
  }

  test("pmi: exclusive pairs score highest, minPairCount prunes hapax pairs") {
    // bigrams: (a,b)=2 (b,x)=1 (b,y)=1 (c,d)=1, T=5
    // PMI(c,d) = ln(1·5/(1·1)) = ln 5; PMI(a,b) = ln(2·5/(2·2)) = ln 2.5
    val d = docs((1L, "a b x"), (2L, "a b y"), (3L, "c d"))
    val top = TextAnalysis.pmiCollocations(d, minPairCount = 1L, k = 10)
      .as[(String, String, Long, Double)].collect()
    assert(top.head === (("c", "d", 1L, 1.609438)))
    assert(top.find(r => r._1 == "a" && r._2 == "b").get._4 === 0.916291)
    // the count floor keeps only the repeated pair
    val floored = TextAnalysis.pmiCollocations(d, minPairCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect()
    assert(floored.map(r => (r._1, r._2)).toSeq === Seq(("a", "b")))
  }

  test("oov rate: tokens under the model count floor are out-of-vocabulary") {
    // counts: a=3 b=1 c=1 → vocab at minCount=2 is {a}
    val d = Seq((1L, "a a b", "s1"), (2L, "a c", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.oovRate(d)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("s1") === ((3L, 1L, 0.333333)))
    assert(got("s2") === ((2L, 1L, 0.5)))
  }

  test("source drift: identical distributions score zero, disjoint ones ln 2") {
    val same = Seq((1L, "a b", "s1"), (2L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    assert(TextAnalysis.sourceDrift(same).as[(String, Long, Double)]
      .collect().forall(_._3 === 0.0))
    // each source is all one token, corpus is 50/50: KL = ln(4·8/(4·4)) = ln 2
    val skew = Seq((1L, "a a a a", "s1"), (2L, "b b b b", "s2"))
      .toDF("doc_id", "text", "source")
    val lnTwoMicroNats = 4L * 693147L // 4 tokens × quantized ln 2
    TextAnalysis.sourceDrift(skew).as[(String, Long, Double)].collect()
      .foreach(r => assert(r._3 === lnTwoMicroNats.toDouble / (4L * 1000000L)))
  }

  test("keywords: rounded-tfidf ranking with token tie-break, k cap holds") {
    // dfs: apple 2, dog 2, banana/cherry/cat 1 of N=3 docs
    val d = docs((1L, "apple banana apple cherry"), (2L, "dog cat"),
      (3L, "apple dog"))
    val got = TextAnalysis.keywordsTopK(d, k = 3)
      .as[(Long, String, Long, Double, Int)].collect()
    val doc1 = got.filter(_._1 == 1L).sortBy(_._5)
    // banana and cherry tie at ln 3 — token order breaks it; apple's
    // tf=2 does not rescue its low idf
    assert(doc1.map(r => (r._2, r._5)).toSeq ===
      Seq(("banana", 1), ("cherry", 2), ("apple", 3)))
    assert(doc1.map(_._4).toSeq === Seq(1.098612, 1.098612, 0.81093))
    assert(TextAnalysis.keywordsTopK(d, k = 2).filter(col("doc_id") === 1L)
      .count() === 2L)
  }

  test("simhash: identical docs at hamming 0, unrelated docs far apart") {
    val d = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x"))
    val top = Dedup.simhashTopK(d, 3).as[(Long, Long, Long)].collect()
    val h = top.map { case (a, b, hm) => (a, b) -> hm }.toMap
    assert(h((1L, 2L)) === 0L)
    assert(h((1L, 3L)) > 10L)
  }

  test("decontamination flags the corpus doc overlapping a benchmark doc") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      (1L, bench), // benchmark side (doc_id < nBench)
      (60L, bench + " iota"), // heavy overlap → flagged
      (61L, "one two three four five six seven eight")) // disjoint → clean
    val got = Dedup.decontaminate(d, nBench = 50, minShingles = 5)
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSet === Set(60L))
    assert(got.head._2 === 1L && got.head._3 >= 5L)
  }

  test("near-dup clustering merges chains transitively and leaves isolated docs alone") {
    // 1≈2 and 2≈3 (chained near-dups), 4 unrelated: label propagation
    // must pull 3 into cluster 1 THROUGH 2, not just direct pairs
    val base = "a b c d e f g h i j k l"
    val d = docs(
      (1L, base), (2L, base + " m"), (3L, base + " m n"),
      (4L, "q r s t u v w x y z aa bb"))
    val clusters = Dedup.clusterNearDups(d, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) === 1L && clusters(2L) === 1L)
    assert(clusters(3L) === 1L, s"chain not merged: $clusters")
    assert(clusters(4L) === 4L)
    // survivors = cluster representatives
    assert(clusters.count { case (id, c) => id == c } === 2)
  }

  test("degenerate minhash groups emit star edges, not cluster-squared band pairs") {
    // 1000 identical docs (one signature group) + 2 unrelated docs: the
    // old all-pairs band join put all 1000 rows in one (band, key)
    // bucket and emitted ~500k pairs from a single task; the spanning
    // form emits exactly n-1 star edges rooted at the min doc_id
    val dup = (0L until 1000L).map(i => (i, "x y z w v u t s r q"))
    val d = docs(dup ++ Seq(
      (2000L, "completely different words here one two three"),
      (2001L, "nothing shared with any other document at all")): _*)
    val pairs = Dedup.minhashBandPairs(d).as[(Long, Long)].collect()
    val starEdges = pairs.filter { case (a, b) => a == 0L && b < 1000L }
    assert(starEdges.length === 999)
    assert(starEdges.map(_._2).toSet === (1L until 1000L).toSet)
    // no within-group pair that skips the representative
    assert(!pairs.exists { case (a, b) => a > 0L && a < 1000L && b < 1000L })
    // total row count is O(n + signature collisions), nowhere near n²/2
    assert(pairs.length < 1100)
  }

  test("spanning band pairs keep the exact connected components of the all-pairs form") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    // naive all-pairs band join — the pre-round-8 formulation, kept
    // here as the semantic reference for component equivalence
    import graft.functions.TextSignatureColumns._
    val naive = {
      val bands = d.filter(size(split(col("text"), " ")) >= 3)
        .withColumn("sig", minhash_sig(shingle_hashes(col("text"), 3, Dedup.P),
          Dedup.NumPerms, Dedup.P))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(Dedup.NumPerms / Dedup.BandRows - 1)),
            b => concat_ws(":", slice(col("sig"), b * Dedup.BandRows + 1, lit(Dedup.BandRows))))))
        .toDF("doc_id", "band", "key")
      bands.alias("x").join(bands.alias("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
    }
    def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      nodes.map(n => n -> find(n)).toMap
    }
    val got = components(Dedup.minhashBandPairs(d).as[(Long, Long)].collect().toSeq)
    val want = components(naive.as[(Long, Long)].collect().toSeq)
    assert(got === want)
  }

  test("fixpoint clustering merges a diameter-6 chain the bounded form cannot") {
    // path graph 0-1-2-3-4-5-6 plus isolated node 9: after 3 bounded
    // rounds node 6 only sees labels within distance 3; the fixpoint
    // loop keeps going until the whole chain carries label 0
    val nodes = (0L to 6L).map(Tuple1(_)).toDF("doc_id")
      .union(Seq(Tuple1(9L)).toDF("doc_id"))
    val pairs = (0L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val fixed = Dedup.clusterEdgesFixpoint(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert((0L to 6L).forall(fixed(_) == 0L), s"chain not merged: $fixed")
    assert(fixed(9L) === 9L)
    // the bounded 3-round form under-merges the same graph (this is
    // exactly the gap the fixpoint variant closes)
    val bounded = {
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      (1 to 3).foldLeft(nodes.select(col("doc_id"), col("doc_id").as("cluster"))) {
        (labels, _) =>
          val nbrMin = edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(col("src").as("doc_id")).agg(min(col("cluster")).as("nmin"))
          labels.join(nbrMin, Seq("doc_id"), "left")
            .select(col("doc_id"),
              least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
      }.as[(Long, Long)].collect().toMap
    }
    assert(bounded(6L) !== 0L)
  }

  test("fixpoint near-dup clustering agrees with the bounded form on shallow graphs") {
    val base = "a b c d e f g h i j k l"
    val d = docs(
      (1L, base), (2L, base + " m"), (3L, base + " m n"),
      (4L, "q r s t u v w x y z aa bb"))
    val fixed = Dedup.clusterNearDupsFixpoint(d).as[(Long, Long)].collect().toMap
    val bounded = Dedup.clusterNearDups(d).as[(Long, Long)].collect().toMap
    assert(fixed === bounded)
  }

  test("langid picks the dominant stopword language, 'und' when none") {
    val d = docs((1L, "der hund und die katze ist da"),
      (2L, "the cat of a dog and to go"), (3L, "xyz abc"))
    val got = TextAnalysis.langId(d).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "de", 2L -> "en", 3L -> "und"))
  }

  test("first-event dedup keeps exactly one earliest row per key") {
    val e = Seq(
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 7L, "click"),
      (11L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 7L, "click"),
      (12L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 7L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = Dedup.firstEventPerKey(e).select("event_id")
      .as[Long].collect().toSet
    assert(got === Set(11L, 12L))
  }

  test("kernel expressions compile under codegen with fallback disabled") {
    // with fallback off, a janino compile failure (e.g. the primitive
    // unbox bug that silently de-optimized SimHash in round 1) THROWS
    // instead of dropping to interpreted execution
    import graft.functions.TextSignatureColumns._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val d = docs((1L, "a b c d e f"), (2L, "x y z"))
      assert(Dedup.simhash(d).collect().length === 2) // long-returning kernel
      assert(d.select(graft.functions.MediaEmbed.media_embed(col("text"), 8, 3))
        .collect().length === 2)
      assert(d.select(lsh_buckets(
          graft.functions.MediaEmbed.media_embed(col("text"), 64, 7), 8, 4, 64))
        .collect().length === 2)
      assert(d.select(minhash_sig(shingle_hashes(col("text"), 1, 2147483647L),
          4, 2147483647L)).collect().length === 2)
      assert(d.select(graft.functions.RollingHash.rolling_hash(col("text")))
        .collect().length === 2)
      assert(d.select(graft.functions.DeflateSize.deflate_size(col("text")))
        .collect().length === 2)
    } finally spark.conf.set(key, prev)
  }

  test("compression ratio separates repetitive boilerplate from diverse text") {
    // deterministic pseudo-diverse text (no shared substrings of note)
    val diverse = (0 until 120).map(i => (i * 2654435761L % 99991).toString)
      .mkString(" ")
    val repetitive = Seq.fill(120)("the same boilerplate line repeats")
      .mkString(" ")
    val d = docs((1L, repetitive), (2L, diverse), (3L, ""))
    val got = TextAnalysis.compressionStats(d)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // repetitive text compresses an order of magnitude harder
    assert(got(1L)._4.get < 0.1, got(1L).toString)
    assert(got(2L)._4.get > 0.5, got(2L).toString)
    // empty text: 0 bytes, null ratio, no division error
    assert(got(3L)._2 === 0L && got(3L)._4.isEmpty)
    // pure function of the bytes: identical on re-evaluation
    val again = TextAnalysis.compressionStats(d)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(again === got.values.toSet)
  }

  test("hash split is deterministic, complete, and roughly 80/10/10") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val a = graft.operators.Sampling.sampleSplit(d)
    val b = graft.operators.Sampling.sampleSplit(d)
    // same assignment on re-run (retry/backfill safety), every doc assigned
    assert(a.exceptAll(b).isEmpty && a.count() === d.count())
    val frac = a.groupBy("split").count().as[(String, Long)].collect().toMap
      .view.mapValues(_.toDouble / d.count()).toMap
    assert(math.abs(frac("train") - 0.8) < 0.1, s"train frac $frac")
    assert(frac.keySet === Set("train", "val", "test"))
  }

  test("shard packing respects the token budget per source") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val packed = graft.operators.Sampling.packShards(d, budget = 500L)
    val perShard = packed.groupBy("source", "shard")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as(("mx")))
      .as[(String, Long, Long, Long)].collect()
    // a shard never exceeds budget + one document (the packing invariant)
    assert(perShard.forall { case (_, _, tok, mx) => tok <= 500L + mx })
    // shards are dense per source: 0..max with none skipped
    val shards = packed.select("source", "shard").distinct()
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    assert(shards.values.forall(s => s.sameElements(0L to s.max)))
  }

  test("context packing: every context is exactly full except the last, docs slice cleanly") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val packed = graft.operators.Sampling.packContexts(d, contextLen = 128L)
      .as[(Long, Long, Long, Long, Long)].collect()
    // per context: exactly 128 tokens, except the final partial one
    val perCtx = packed.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val lastCtx = perCtx.keys.max
    perCtx.foreach { case (ctx, tok) =>
      if (ctx != lastCtx) assert(tok === 128L, s"context $ctx holds $tok")
      else assert(tok >= 1L && tok <= 128L)
    }
    // contexts are dense 0..last; per doc the slices abut and cover it
    assert(perCtx.keySet === (0L to lastCtx).toSet)
    val nTokens = d.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
      .as[Long].collect().sum
    assert(packed.map(_._5).sum === nTokens) // no token lost or duplicated
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val s = rows.sortBy(_._3)
      assert(s.head._3 === 0L)
      s.sliding(2).foreach {
        case Array(a, b) => assert(a._4 === b._3) // [from,to) slices abut
        case _ => ()
      }
    }
    // a doc longer than the context necessarily spans several rows
    assert(packed.groupBy(_._1).values.exists(_.length > 1))
  }

  test("group concat is insensitive to input partitioning (order pinned by doc_id)") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val one = TextAnalysis.groupConcat(d.repartition(1))
    val many = TextAnalysis.groupConcat(d.repartition(13))
    assert(one.exceptAll(many).isEmpty && one.count() > 0)
  }

  test("quality score stays within [0, 1]") {
    val q = TextAnalysis.qualityScore(
      docs((1L, "the a of short"), (2L, ("word " * 99).trim)))
      .as[(Long, Double)].collect()
    assert(q.forall { case (_, s) => s >= 0.0 && s <= 1.0 })
  }

  test("pii redaction counts and scrubs every class; clean text has no residual match") {
    val d = docs(
      (1L, "reach me at bob.smith@corp.example.org or 555-1234 from 192.168.0.1"),
      (2L, "no pii here at all"))
    val got = TextAnalysis.piiRedact(d)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0)._2 === 1L && got(0)._3 === 1L && got(0)._4 === 1L)
    assert(got(1)._2 === 0L && got(1)._3 === 0L && got(1)._4 === 0L)
    // doc 2 untouched: clean_md5 equals md5 of the original text
    assert(got(1)._5 ===
      d.filter(col("doc_id") === 2).select(md5(col("text"))).as[String].head())
    // redacted doc 1 carries the placeholders and no residual matches
    val clean = TextAnalysis.piiPatterns.foldLeft(
      "reach me at bob.smith@corp.example.org or 555-1234 from 192.168.0.1") {
      case (s, (_, pat, repl)) => s.replaceAll(pat, repl)
    }
    assert(clean === "reach me at <EMAIL> or <PHONE> from <IP>")
    assert(TextAnalysis.piiPatterns.forall { case (_, pat, _) =>
      pat.r.findFirstIn(clean).isEmpty
    })
  }

  test("budget select: distributed prefix sum equals the single-threaded greedy") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val budget = 2000L
    val got = graft.operators.Sampling.budgetSelect(d, budget)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4)
    // reference: local greedy over the same (quality desc, doc_id) order
    val ref = TextAnalysis.qualityScore(d, extraCols = Seq("n_tokens"))
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .as[(Long, Double, Long)].collect()
      .sortBy { case (id, q, _) => (-q, id) }
      .scanLeft((0L, 0.0, 0L, 0L)) { case ((_, _, _, cum), (id, q, n)) =>
        (id, q, n, cum + n)
      }.drop(1).takeWhile { case (_, _, n, cum) => cum - n < budget }
    assert(got.toSeq === ref.toSeq)
    assert(got.nonEmpty && got.last._4 >= budget) // budget actually exhausted
    // regression: under a downstream coalesce(1) every range partition
    // runs inside ONE task — offsets must come from the data, not from
    // TaskContext.getPartitionId (which would claim pid 0 for all rows)
    assert(graft.operators.Sampling.budgetSelect(d, budget).coalesce(1).count()
      === got.length.toLong)
    // admitted docs all started under budget; kept set is quality-topped
    assert(got.forall { case (_, _, n, cum) => cum - n < budget })
  }

  test("quality deciles: buckets partition the corpus and match per-doc scores") {
    import graft.operators.TextAnalysis
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val hist = TextAnalysis.qualityDeciles(d)
      .as[(String, Long, Long)].collect()
    assert(hist.map(_._3).sum === d.count())
    hist.foreach { case (_, dec, n) =>
      assert(dec >= 0L && dec <= 9L); assert(n > 0L) }
    // histogram agrees with bucketing the per-doc scores directly
    val direct = TextAnalysis.qualityScore(d, Seq("source"))
      .select(col("source"), least(floor(col("quality") * 10), lit(9L)).as("dec"))
      .groupBy("source", "dec").count()
      .as[(String, Long, Long)].collect().toSet
    assert(hist.toSet === direct)
  }

  test("systematic sample: distributed tick walk equals the single-threaded scan") {
    import graft.operators.Sampling
    val lengths = (1L to 40L).map(i => i -> (((i * 7) % 13) + 1)).toMap +
      (41L -> 25L) // longer than step → multiple ticks from one doc
    val d = docs(lengths.toSeq.sortBy(_._1)
      .map { case (i, n) => (i, Seq.fill(n.toInt)("t").mkString(" ")) }: _*)
    val step = 10L
    val got = Sampling.systematicSample(d, step)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    // local replay of the walk in the same md5-hash order
    def h60(k: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    var cum = 0L
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    lengths.keys.toSeq.sortBy(i => (h60(i.toString), i)).foreach { i =>
      val w = lengths(i); cum += w
      val ticks = cum / step - (cum - w) / step
      if (ticks > 0) expected(i) = ticks
    }
    assert(got === expected.toMap)
    // every step-token stride is hit exactly once
    assert(got.values.sum === lengths.values.sum / step)
    assert(got(41L) >= 2L)
  }

  test("weighted sample: exponential-race keys replay the E-S formula exactly") {
    import graft.operators.Sampling
    val lengths = (1L to 30L).map(i => i -> (((i * 11) % 17) + 1)).toMap
    val d = docs(lengths.toSeq.sortBy(_._1)
      .map { case (i, n) => (i, Seq.fill(n.toInt)("t").mkString(" ")) }: _*)
    val got = Sampling.weightedSample(d, k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    def h60(k: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = lengths.toSeq.map { case (i, w) =>
      val h = h60(i.toString) % 2147483647L
      val lk6 = math.floor(
        math.log((h + 1).toDouble / 2147483647.0) / w.toDouble * 1e6 + 0.5).toLong
      (i, w, lk6)
    }.sortBy { case (i, _, lk6) => (-lk6, i) }.take(10)
    assert(got === expected)
    // rows are distinct docs: sampling is without replacement
    assert(got.map(_._1).distinct.size === got.size)
  }

  test("temperature sampling keeps the smallest source whole and thins larger ones by (n_min/n)^(1-a)") {
    val d = (1L to 4L).map(i => (i, "small")) ++ (10L to 25L).map(i => (i, "big"))
    val df = d.toDF("doc_id", "source")
    val kept = graft.operators.Sampling.temperatureSample(df, alpha = 0.5)
    val fracs = kept.select("source", "frac").distinct()
      .as[(String, Double)].collect().toMap
    // n_min=4: small rate 1.0 (kept whole), big rate sqrt(4/16) = 0.5
    assert(fracs("small") === 1.0 && fracs("big") === 0.5, fracs.toString)
    assert(kept.filter(col("source") === "small").count() === 4)
    // deterministic: the same call keeps the same documents
    val again = graft.operators.Sampling.temperatureSample(df, alpha = 0.5)
    assert(kept.exceptAll(again).isEmpty)
  }

  test("mixture resampling hits the per-source target fractions deterministically") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val targets = Map("src0" -> 1.0, "src1" -> 0.5)
    val kept = graft.operators.Sampling.mixtureSample(d, targets, defaultFrac = 0.25)
    val keptBySrc = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap.withDefaultValue(0L)
    val allBySrc = d.groupBy("source").count().as[(String, Long)].collect().toMap
    allBySrc.foreach { case (src, n) =>
      val frac = targets.getOrElse(src, 0.25)
      val got = keptBySrc(src).toDouble / n
      // small per-source populations → loose tolerance; frac=1 is exact
      if (frac == 1.0) assert(got === 1.0, s"$src")
      else assert(math.abs(got - frac) < 0.35, s"$src kept $got want $frac")
    }
    // deterministic: the same call keeps the same documents
    val again = graft.operators.Sampling.mixtureSample(d, targets, defaultFrac = 0.25)
    assert(kept.exceptAll(again).isEmpty)
  }

  test("chunking covers every token with the exact overlap") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val chunks = TextAnalysis.chunkDocuments(d, chunkTokens = 64, overlap = 16)
      .select("doc_id", "chunk_id", "start_tok", "n_tok")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val nTokens = d.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    chunks.foreach { case (doc, cs) =>
      // chunk 0 starts at 0; neighbors advance by step = 64 - 16
      assert(cs.head._3 === 0L)
      cs.sliding(2).filter(_.size == 2).foreach { case Array(a, b) =>
        assert(b._3 - a._3 === 48L)
      }
      // the last chunk reaches exactly the end; all but the last are full
      assert(cs.last._3 + cs.last._4 === nTokens(doc))
      assert(cs.init.forall(_._4 === 64L))
      // a short doc is one clipped chunk
      if (nTokens(doc) <= 64) assert(cs.length === 1 && cs.head._4 === nTokens(doc))
    }
    assert(chunks.keySet === nTokens.keySet) // no document dropped
  }

  test("shard export writes per-shard directories and a trustworthy manifest") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val dir = SparkTestBase.tempDir("graft-shards").toString
    val manifest = Curation.exportShards(d, dir)
      .as[(String, Long, Long, Long, String)].collect()
    // every document landed in exactly one shard directory (root read:
    // partition discovery restores source/shard; _manifest is hidden
    // from listing by its underscore prefix)
    val back = spark.read.json(dir)
    assert(back.count() === d.count())
    // manifest totals match the data
    assert(manifest.map(_._3).sum === d.count())
    val tokens = d.select(sum(size(split(col("text"), " ")))).as[Long].head()
    assert(manifest.map(_._4).sum === tokens)
    // the content digest is layout-independent: recomputing from the
    // written files (any read order) reproduces it
    val re = back.groupBy(col("source"), col("shard"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")))).as("content_md5"))
      .as[(String, Long, String)].collect().map { case (s, sh, m) => (s, sh) -> m }.toMap
    assert(manifest.forall { case (s, sh, _, _, m) => re((s, sh)) == m })
  }

  test("bpe trainer learns the hand-computed merge sequence deterministically") {
    // vocab: "aaab"×2, "aab"×1. Pair counts (overlapping, freq-weighted):
    // (a,a)=2·2+1=5, (a,b)=2+1=3 → merge1 (a,a).
    // After: aaab=[aa,a,b], aab=[aa,b] → (aa,a)=2, (a,b)=2, (aa,b)=1 →
    // tie on 2, lexicographic → merge2 (a,b). After: aaab=[aa,ab] →
    // (aa,ab)=2 → merge3. Then nothing repeats.
    val d = docs((1L, "aaab aaab aab"))
    val merges = graft.operators.BpeTrainer.train(d, nMerges = 10)
    assert(merges === Seq((0, "a", "a"), (1, "a", "b"), (2, "aa", "ab")))
    val enc = graft.operators.BpeTrainer.encode(d, merges)
      .as[(Long, Long, String)].head()
    assert(enc === ((1L, 4L, "aaab aaab aa b")))
    // re-train is bit-identical (deterministic ties)
    assert(graft.operators.BpeTrainer.train(d, nMerges = 10) === merges)
  }

  test("curation pipeline: every stage's invariant holds on the composed output") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val out = Curation.curate(d, nBench = 10L)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    // no benchmark docs in the training output
    assert(ids.forall(_ >= 10L))
    // no decontamination-flagged docs
    val flagged = Dedup.decontaminate(d, nBench = 10L)
      .select("doc_id").as[Long].collect().toSet
    assert((ids & flagged).isEmpty)
    // only fingerprint-dedup survivors
    val keep = Dedup.fingerprintDedup(d).select("keep_id").as[Long].collect().toSet
    assert(ids.subsetOf(keep))
    // shards are dense per source over the kept set
    val shards = out.select("source", "shard").distinct()
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    assert(shards.values.forall(s => s.sameElements(0L to s.max)))
  }

  test("mixture curation is the temperature thin of the plain curation's survivors") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val plain = Curation.curate(d, nBench = 10L)
      .select("doc_id").as[Long].collect().toSet
    val mixed = Curation.curateMixture(d, nBench = 10L)
      .select("doc_id").as[Long].collect().toSet
    // thinning only: a strict subset (the sf0.001 corpus is multi-source
    // with unequal sizes, so some source is thinned below rate 1)
    assert(mixed.nonEmpty && mixed.subsetOf(plain) && mixed != plain)
    // each kept doc passes exactly the survivor-count-derived threshold
    val survivors = Curation.curate(d, nBench = 10L)
      .select(col("doc_id"), col("source"))
    val kept = graft.operators.Sampling
      .temperatureSample(
        d.join(survivors.select("doc_id"), "doc_id"), alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(mixed === kept)
  }

  test("near-dedup curation collapses a near-identical (not byte-identical) pair") {
    val base = "the cat and the dog walk to the park and the bird sings of the sun and the rain today"
    // near-dup: first word changed — not byte-identical (different
    // fingerprint) but sharing all shingles except the first, so the
    // band-pair graph links the two
    val near = "one" + base.stripPrefix("the")
    val rows = Seq(
      (100L, base, "en", "s0"), (101L, near, "en", "s0"),
      (102L, "zz qq ww rr xx yy", "en", "s0"),
      (103L, "kk ll mm nn oo pp", "en", "s0"),
      (104L, "ff gg hh ii jj ee", "en", "s0"),
      (105L, "rr ss tt uu vv bb", "en", "s0"))
    val d = rows.toDF("doc_id", "text", "lang", "source")
    def ids(nearDedup: Boolean): Set[Long] =
      Curation.curate(d, nBench = 0L, nearDedup = nearDedup)
        .select("doc_id").as[Long].collect().toSet
    val exact = ids(nearDedup = false)
    // both near-dups survive exact-only dedup (distinct fingerprints,
    // both in the high-quality half)
    assert(Set(100L, 101L).subsetOf(exact), s"exact mode kept $exact")
    // near mode keeps the senior member and drops the junior dup (the
    // rest of the kept set may legitimately shift: the quality
    // percentile is computed over the DEDUPED corpus, so removing a
    // duplicate moves the per-language median)
    val nearIds = ids(nearDedup = true)
    assert(nearIds.contains(100L) && !nearIds.contains(101L),
      s"near mode kept $nearIds")
  }

  test("bloom-prefiltered decontamination is identical to the exact operator") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val corpus = d.filter(col("doc_id") >= 50)
    val bench = d.filter(col("doc_id") < 50)
    val exact = Dedup.decontaminateAgainst(corpus, bench)
      .as[(Long, Long, Long)].collect().toSet
    val bloomed = Dedup.decontaminateBloomPrefiltered(corpus, bench)
      .as[(Long, Long, Long)].collect().toSet
    assert(bloomed === exact)
    assert(exact.nonEmpty) // the fixture corpus does contain contamination
    // empty bench: no matches, no crash
    assert(Dedup.decontaminateBloomPrefiltered(corpus, bench.limit(0)).count() === 0)
  }

  test("band recall: shingle-identical pairs are always caught, curve buckets by decile") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val rows = Seq(
      (1L, base, "en", "s0"), (2L, base, "en", "s0"), // jaccard 1.0, same signature
      (3L, "a b c x1 x2 x3", "en", "s0"),             // share ONE shingle "a b c"
      (4L, "a b c y1 y2 y3", "en", "s0"))             // → jaccard 1/7 ≈ 0.14
    val d = rows.toDF("doc_id", "text", "lang", "source")
    val got = Dedup.bandRecallReport(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // identical shingle sets ⇒ identical signatures ⇒ every band hits
    assert(got(9L) === ((9L, 1L, 1L, 1.0)))
    // the low-similarity pair lands in decile 1 and is counted either way
    assert(got(1L)._2 === 1L)
    assert(got.keySet === Set(9L, 1L))
  }

  test("semantic curation drops an embedding near-dup that shares no text at all") {
    // 0 and 8: disjoint vocabularies (no fingerprint, no shingle
    // overlap — invisible to exact AND MinHash dedup), both high
    // quality; only their EMBEDDINGS are near-parallel. The junior
    // sits at vec_id 8, OUTSIDE the 8 k-means seeds: a seeded vector
    // is always its own cell's best match, so a seed pair would never
    // share a cell (the candidate generator's small-n blind spot —
    // real corpora have n ≫ cells)
    val rows = Seq(
      (0L, "the cat and the dog walk to the park and the bird sings of the sun", "en", "s0"),
      (8L, "a fox or a hen runs from a barn or a pond in a field of grass", "en", "s0"),
      (1L, "zz qq ww rr xx yy", "en", "s0"),
      (2L, "kk ll mm nn oo pp", "en", "s0"),
      (3L, "ff gg hh ii jj ee", "en", "s0"),
      (4L, "rr ss tt uu vv bb", "en", "s0"),
      (5L, "aa bb cc dd ee gg", "en", "s0"),
      (6L, "hh jj kk qq rr tt", "en", "s0"),
      (7L, "uu vv ww xx yy zz", "en", "s0"))
    val d = rows.toDF("doc_id", "text", "lang", "source")
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (8L, Seq(0.99f, 0.01f, 0.0f, 0.0f)), // cos ≈ 1 with vec 0
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
      (4L, Seq(0.0f, -1.0f, 0.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, -1.0f, 0.0f)),
      (6L, Seq(0.0f, 0.0f, 0.0f, -1.0f)),
      (7L, Seq(-1.0f, 0.0f, 0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val exact = Curation.curate(d, nBench = 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(Set(0L, 8L).subsetOf(exact), s"exact mode kept $exact")
    val sem = Curation.curateSemantic(d, emb, nBench = 0L)
      .select("doc_id").as[Long].collect().toSet
    // the senior of the embedding pair survives, the junior is gone
    assert(sem.contains(0L) && !sem.contains(8L), s"semantic mode kept $sem")
  }

  test("LM-gated curation drops exactly the most-surprising tail per language") {
    // ten well-formed docs sharing a common vocabulary + one gibberish
    // doc (55) of corpus-unique tokens: its avg unigram logprob is the
    // language's minimum, so the pr >= 0.1 gate drops it — and with 11
    // docs the SECOND-lowest sits exactly at pr = 1/10 = 0.1 and stays
    val rows = (50L to 60L).map { id =>
      val text = if (id == 55L) "zxq wvu qqa ppb"
      else s"the cat sat on the mat t$id"
      (id, text, "en", "s0")
    }
    val d = rows.toDF("doc_id", "text", "lang", "source")
    val kept = Curation.curateLm(d, nBench = 50L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === ((50L to 60L).toSet - 55L), s"kept $kept")
  }

  test("int8 quantization reconstructs within one scale step") {
    val e = graft.sources.Tables(spark, SparkTestBase.sf0001, "embeddings")
    val q = graft.operators.Similarity.quantizeInt8(e)
      .as[(Long, Double, Long, Long, Long)].collect()
    assert(q.length === e.count())
    // |q|max bounded, L1 positive for nonzero vectors, scale >= 0
    assert(q.forall { case (_, s, l1, _, mx) => mx <= 127 && s >= 0 && l1 >= mx })
  }

  test("repetition stats: duplicate-token and top-bigram fractions on a constructed doc") {
    // "a b a b a" → tokens 5, distinct 2, bigrams: "a b"×2, "b a"×2 → top
    // bigram "a b" (tie broken lexicographically), frac 2/4
    val got = TextAnalysis.repetitionStats(docs(
      (1L, "a b a b a"), (2L, "all words differ here"), (3L, "solo")))
      .as[(Long, Long, Double, Option[String], Option[Double])]
      .collect().sortBy(_._1)
    assert(got(0) === ((1L, 5L, 0.6, Some("a b"), Some(0.5))))
    assert(got(1)._3 === 0.0 && got(1)._5 === Some(0.333333)) // round(1/3, 6)
    // single-token doc: no bigram → NULLs, not a crash or a zero
    assert(got(2) === ((3L, 1L, 0.0, None, None)))
  }

  test("interpolated logprob smooths the MLE-certain bigram toward the unigram") {
    import spark.implicits._
    // corpus "a b" x2: P(b|a)=1, P(b)=1/2 -> ln(0.75 + 0.25*0.5) =
    // ln(0.875) = -0.13353139... -> lp6 = -133531
    val got = TextAnalysis.interpLogProb(docs((1L, "a b"), (2L, "a b")))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got === Seq((1L, 1L, -0.133531), (2L, 1L, -0.133531)))
  }

  test("edit pairs: dual-block Levenshtein catches a first-token edit, both-end edits invisible") {
    import spark.implicits._
    val got = Dedup.editDistancePairs(docs(
      (1L, "spark query plan runs fast here x"),
      (2L, "spark query plan runs slow here y"),    // title dist 4 ("fast"→"slow")
      (3L, "spark wholly different title text z"),  // same first block, dist > 4
      (4L, "flink query plan runs fast here x"),    // first token differs — the
      // last-token block ("here") catches it now, dist 4 ("spark"→"flink");
      // each block emits this candidate at most once, so the pre-DP dedup
      // keeps it single
      (5L, "sparkx query plan runs fast herex y")   // dist 2 from doc 1 but
      // edited at BOTH ends → no block shares it: the residual (and
      // documented) recall trade
    ), nTokens = 6, maxDist = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 4L), (1L, 4L, 4L)))
  }

  test("span dedup: shared 8-token runs flagged, within-doc repeats count once") {
    val d = docs(
      (1L, "a b c d e f g h i j"),       // 3 windows, one shared with doc 2
      (2L, "z a b c d e f g h q"),       // 3 windows, shares "a b c d e f g h"
      (3L, "m n o p q r s t"),           // exactly 8 tokens, unique span
      (4L, "too short"),                 // < 8 tokens -> absent
      (5L, "a b c d e f g h a b c d e f g h")) // within-doc repeat
    val got = Dedup.duplicatedSpans(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(4L))
    assert(got(1L)._2 === 3L && got(1L)._3 === 1L)
    assert(got(1L)._4 === 0.333333)
    assert(got(2L)._2 === 3L && got(2L)._3 === 1L)
    assert(got(3L)._2 === 1L && got(3L)._3 === 0L)
    // doc 5 has 9 window positions but the repeated "a b c..h" span is
    // ONE distinct span; it is shared with docs 1 and 2
    assert(got(5L)._2 === 8L && got(5L)._3 === 1L)
    val pairs = Dedup.spanSharedPairs(d)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L, 1L), (1L, 5L, 1L), (2L, 5L, 1L)))
  }

  test("span incremental: new docs score their verbatim overlap against the stored index") {
    import spark.implicits._
    val indexed = docs(
      (100L, "a b c d e f g h i j"),   // spans: abcdefgh, bcdefghi, cdefghij
      (101L, "m n o p q r s t"))
    val incoming = docs(
      (1L, "a b c d e f g h x y"),     // 3 spans, 1 in the index
      (2L, "m n o p q r s t"),         // its single span IS indexed
      (3L, "u v w x y z zz q r s"),    // 3 spans, none indexed
      (4L, "too short"))
    val got = Dedup.spanIncremental(incoming, indexed)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(4L))
    assert(got(1L) === ((1L, 3L, 1L, 0.333333)))
    assert(got(2L) === ((2L, 1L, 1L, 1.0)))
    assert(got(3L) === ((3L, 3L, 0L, 0.0)))
    // serve split: a stored (pre-aggregated) index gives the same report
    val stored = Dedup.spanIndex(indexed).localCheckpoint()
    val served = Dedup.spansAgainstIndex(incoming, stored)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(served === got)
  }

  test("split leakage: cross-split near-dup clusters are flagged, totals partition the corpus") {
    import spark.implicits._
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val got = Sampling.splitLeakage(d)
      .as[(String, Long, Long)].collect()
    // signature rows partition the corpus: every doc is in exactly one
    // cluster, every cluster in exactly one signature row
    assert(got.map(_._3).sum === d.count())
    val valid = Set("train", "val", "test")
    assert(got.forall(_._1.split(",").forall(valid)))
    // the synthetic corpus HAS near-dups (x4_cluster finds multi-doc
    // clusters), and hash splits ignore them — so some leakage row must
    // exist; if this ever goes quiet the operator lost its signal
    assert(got.exists(_._1.contains(",")), got.mkString("; "))
  }

  test("curate split: manifest covers exactly the curated survivors, zero leakage") {
    import spark.implicits._
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val got = Curation.curateSplit(d)
      .as[(Long, Long, String, String, String, Long)].collect()
    // the release manifest rows are exactly the docs x7_curate ships
    val packed = Curation.curate(d).select("doc_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet === packed)
    // zero leakage: every survivor cluster lands whole in one split
    assert(got.groupBy(_._2).forall(_._2.map(_._3).distinct.length === 1))
    assert(got.forall(r => Set("train", "val", "test")(r._3)))
    assert(got.forall(_._6 > 0L))
  }

  test("grouped split: zero leakage by construction, singletons degrade to the per-doc split") {
    import spark.implicits._
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val gs = Sampling.groupedSplit(d)
      .as[(Long, Long, Long, String)].collect()
    assert(gs.length === d.count())
    // THE property: every cluster lands in exactly one split — the
    // leakage the hash split provably has (previous test) is gone
    val byCluster = gs.groupBy(_._2).view.mapValues(_.map(_._4).toSet)
    assert(byCluster.forall(_._2.size === 1),
      byCluster.filter(_._2.size > 1).take(3).toMap.toString)
    // singleton clusters (cluster == doc_id) get exactly the
    // doc-id-keyed split of x1_sample_split
    val perDoc = Sampling.sampleSplit(d)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(gs.filter(r => r._1 == r._2).forall(r => r._4 == perDoc(r._1)))
    // multi-doc clusters exist on this corpus, so the guarantee is live
    assert(gs.groupBy(_._2).exists(_._2.length > 1))
  }

  test("incremental admission: each stored-artifact gate fires on its own trigger") {
    import spark.implicits._
    val indexed = docs(
      (100L, "a b c d e f g h i j"),
      (101L, "the quick brown fox jumps over the lazy dog end"))
    val bench = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
    val incoming = docs(
      (50L, "a b c d e f g h i j"),             // byte-identical to 100
      (51L, "totally novel text with nothing shared whatsoever here"),
      (52L, "alpha beta gamma delta epsilon zeta eta theta padding words"),
      (53L, "x y z a b c d e f g h i j k"))     // 3 of 7 spans indexed
    val got = Curation.incrementalAdmission(incoming, indexed, bench,
        maxSpanFrac = 0.3)
      .as[(Long, Boolean, Boolean, Double, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // 50: every index gate fires (fingerprint, band, spans) — bench clean
    assert(got(50L) === ((50L, true, true, 1.0, false, false)))
    // 51: nothing fires → admitted
    assert(got(51L) === ((51L, false, false, 0.0, false, true)))
    // 52: shares a 6-shingle run with the BENCH doc only → contaminated,
    // all corpus-index gates clean
    assert(got(52L) === ((52L, false, false, 0.0, true, false)))
    // 53: contains doc 100's token run → span gate (0.428571 > 0.3)
    val r53 = got(53L)
    assert(!r53._2 && r53._4 === 0.428571 && !r53._5 && !r53._6)
  }

  test("span pairs: stop-spans above the df cap generate no pairs") {
    val d = docs((1L to 18L).map(i => (i, "s1 s2 s3 s4 s5 s6 s7 s8")): _*)
    assert(Dedup.spanSharedPairs(d, maxDf = 16).count() === 0L)
    // at a permissive cap the same corpus pairs fully: C(18,2)
    assert(Dedup.spanSharedPairs(d, maxDf = 18, k = 200).count() === 153L)
  }

  test("phrase search: positional walk counts all (even overlapping) occurrences, order-sensitive") {
    val d = docs(
      (1L, "a b c d a b c"), // two occurrences of "a b c"
      (2L, "x a b c y"),
      (3L, "c b a"),         // reversed — must NOT match
      (4L, "a a a a"))       // overlap: "a a a" at pos 1 and 2
    val idx = TextAnalysis.phraseIndex(d)
    val q = Seq((9L, "a", "b", "c"), (8L, "a", "a", "a"))
      .toDF("q_id", "p1", "p2", "p3")
    val got = TextAnalysis.phraseSearchAgainst(q, idx)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map((9L, 1L) -> 2L, (9L, 2L) -> 1L, (8L, 4L) -> 2L))
    // serve form on the stored index is identical
    val served = TextAnalysis.phraseSearchAgainst(q, idx.localCheckpoint())
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(served === got)
  }

  test("stupid backoff: seen pairs score the bigram, unseen pairs back off, OOV continuations drop") {
    val train = docs((101L, "a b a b"), (102L, "b c b c"))
    val held = docs((1L, "a b z c a"))
    // pairs of the held-out doc: (a,b) seen; (b,z) z OOV; (z,c) c in
    // vocab -> backoff; (c,a) unseen pair, a in vocab -> backoff
    val r = TextAnalysis.backoffLogProb(held, train)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
    assert(r.length === 1)
    val (_, nScored, nBackoff, nOov, avg) = r.head
    assert(nScored === 3L && nBackoff === 2L && nOov === 1L)
    assert(avg.exists(_ < 0.0))
    // seen (a,b): cb=2, ca(a)=2 -> ln(1) = 0; backoff price of (z,c)
    // and (c,a): ln(0.4 * cu / T) with cu=2, T=8
    val seen = math.floor(math.log(2.0 / 2.0) * 1e6 + 0.5)
    val bo = math.floor(math.log(0.4 * 2 / 8.0) * 1e6 + 0.5)
    assert(avg.get === (seen + 2 * bo) / (3 * 1e6))
  }

  test("Bloom gate: no false negatives ever, stored-bits serve equals inline, bits merge by distinct-union") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val inc = d.filter(col("doc_id") < 100)
    val idx = d.filter(col("doc_id") >= 100)
    val gate = Dedup.bloomGate(inc, idx)
      .as[(Long, String, Boolean, Boolean)].collect()
    assert(gate.length === inc.count())
    // the Bloom guarantee: a real duplicate is NEVER missed
    assert(gate.forall { case (_, _, hit, dup) => !dup || hit })
    // serve form: stored bit set + stored truth fingerprints, same verdicts
    val bits = Dedup.bloomBitSet(idx).localCheckpoint()
    val truth = idx.select(md5(col("text")).as("fp")).distinct().localCheckpoint()
    val served = Dedup.bloomGateAgainstBits(inc, bits, truth)
      .as[(Long, String, Boolean, Boolean)].collect()
    assert(served.toSet === gate.toSet)
    // a NON-deduplicated stored bit table (raw shard union, no
    // distinct) must not overcount probes into a false negative
    val dupBits = bits.union(bits)
    val servedDup = Dedup.bloomGateAgainstBits(inc, dupBits, truth)
      .as[(Long, String, Boolean, Boolean)].collect()
    assert(servedDup.toSet === gate.toSet)
    // shard bit sets fold into the corpus bit set by distinct-union
    val merged = Dedup.bloomBitSet(idx.filter(col("doc_id") % 2 === 0))
      .union(Dedup.bloomBitSet(idx.filter(col("doc_id") % 2 === 1)))
      .distinct().as[Long].collect().toSet
    assert(merged === bits.as[Long].collect().toSet)
  }

  test("BM25: corpus-majority terms contribute nothing, shared rare terms rank, dl breaks toward the shorter doc") {
    // "the" is in ALL docs -> Robertson idf <= 0 -> dropped by the
    // scorer's stop-term gate; only apple/banana carry signal
    val d = docs(
      (1L, "the apple banana orange"),
      (2L, "the apple banana kiwi plum"), // same matches, longer doc
      (3L, "the the the the"),            // stopword-only
      (4L, "the mango melon"),
      (5L, "the pear fig"),
      (6L, "the grape date"))
    val q = docs((100L, "apple banana"))
    val got = TextAnalysis.bm25ScoreAgainst(q, TextAnalysis.bm25Index(d))
      .as[(Long, Long, Int, Long, Double)].collect().sortBy(_._3)
    // only the two apple+banana docs match at all — the stopword-only
    // doc and the no-overlap docs never enter the candidate set
    assert(got.map(_._2).toSet === Set(1L, 2L))
    // equal tf, equal idf: the shorter document wins on length norm
    assert(got.head._2 === 1L && got.head._3 === 1)
    assert(got.forall(_._4 === 2L)) // both hits matched both query terms
    assert(got(0)._5 > got(1)._5)
  }

  test("BM25 serve against the stored index equals the self-contained search") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val self = TextAnalysis.bm25TopK(d)
      .as[(Long, Long, Int, Long, Double)].collect().toSet
    assert(self.nonEmpty)
    val served = TextAnalysis.bm25ScoreAgainst(TextAnalysis.bm25QuerySample(d),
      TextAnalysis.bm25Index(d).localCheckpoint(), excludeSelf = true)
      .as[(Long, Long, Int, Long, Double)].collect().toSet
    assert(served === self)
  }

  test("BM25 maintenance: shard raw-posting union rebuilds the whole-corpus index, no re-tokenize") {
    val d = graft.sources.Tables(spark, SparkTestBase.sf0001, "documents")
    val full = TextAnalysis.bm25Index(d)
      .as[(Long, String, Long, Long, Long, Double)].collect().toSet
    // two disjoint shards tokenized independently (the nightly shape:
    // each shard stores its raw postings once), then merged by UNION
    // and re-statted — text never touched again
    val rawA = TextAnalysis.bm25RawPostings(d.filter(col("doc_id") % 2 === 0))
      .localCheckpoint()
    val rawB = TextAnalysis.bm25RawPostings(d.filter(col("doc_id") % 2 === 1))
      .localCheckpoint()
    val rebuilt = TextAnalysis.bm25IndexFromPostings(rawA.union(rawB))
      .as[(Long, String, Long, Long, Long, Double)].collect().toSet
    assert(rebuilt === full)
  }
}
