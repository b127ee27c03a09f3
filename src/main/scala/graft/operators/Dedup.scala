package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for a training-data pipeline (SURVEY §2 X1/X4):
  * exact keyed dedup, content-fingerprint dedup, MinHash signatures +
  * LSH banding, n-gram Jaccard verification, and SimHash.
  *
  * Scale design: signatures (MinHash, SimHash) are computed with
  * higher-order array functions in a single narrow projection — NO
  * explode, NO shuffle, no state; a 100 TB corpus streams through
  * map-side only. The only shuffles in the family are (a) the group-by
  * on fingerprint for exact dedup and (b) the band-bucket self-join,
  * both on keys whose cardinality grows with data size (no hot key).
  *
  * All hash arithmetic is 64-bit integer with md5-derived bases, so the
  * DuckDB oracle reproduces signatures bit-for-bit:
  * Spark `conv(substring(md5(t),1,15),16,10)` ≡ DuckDB
  * `CAST(('0x'||substr(md5(t),1,15)) AS BIGINT)`.
  */
object Dedup {
  /** MinHash modulus (2^31 - 1, prime). */
  val P = 2147483647L
  val NumPerms = 16
  val BandRows = 4

  /** 60-bit integer hash of a token, identical in Spark and DuckDB. */
  private def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  private def toks: Column = split(col("text"), " ")

  /** X1 exact keyed dedup, batch flavor: keep the earliest event per
    * (user_id, event_type). Deterministic survivor via (ts, event_id)
    * tie-break — the reproducible form of `dropDuplicates`. One shuffle
    * on the dedup key. */
  def firstEventPerKey(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
  }

  /** X1 exact content dedup via md5 fingerprint: survivor id + group
    * size per distinct content. Hash-groupBy, partial aggregation
    * map-side; the 100 TB version is the same plan. */
  def fingerprintDedup(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  import graft.functions.TextSignatureColumns._

  /** Documents wide enough to carry at least one `n`-gram shingle.
    * Shorter docs have NO shingle set, so they have no MinHash
    * signature either — without this filter every short doc would get
    * an all-null signature and an identical (empty) band key, pairing
    * all short docs with each other. Matches the oracle's
    * `WHERE len(t) >= n`. */
  private def wideEnough(documents: DataFrame, n: Int): DataFrame =
    documents.filter(size(split(col("text"), " ")) >= n)

  /** X4 MinHash signatures, long format (doc_id, perm, minhash), over
    * 3-gram shingles — shingles, not unigram tokens: unigram sets over
    * a small vocabulary are near-identical for every pair (52% of all
    * pairs collided on this corpus), while shingle sets track the
    * n-gram Jaccard measure the LSH candidates are later verified
    * against. Permutation constants are the LCG-mixed
    * a_i/b_i documented on [[graft.functions.MinHashSig]] (which also
    * explains why small sequential multipliers would degenerate);
    * shingling/hashing/min run in the compiled kernels of
    * graft.functions.TextSignatures (the higher-order-function
    * formulation interprets a lambda per element and was ~4 s per pass
    * at sf0.1). Docs shorter than the shingle width are excluded (they
    * have no shingle set to sign). */
  def minhashSignatures(documents: DataFrame): DataFrame =
    wideEnough(documents, 3)
      .select(col("doc_id"),
        posexplode(minhash_sig(shingle_hashes(col("text"), 3, P), NumPerms, P)))
      .toDF("doc_id", "perm", "minhash")

  /** X4 LSH banding over the MinHash signature: 4 bands × 4 rows; docs
    * sharing any band key become candidate near-dups. Output is a
    * SPANNING edge set of the candidate graph (same connected
    * components as the naive all-pairs band join, O(docs + colliding
    * signature pairs) rows instead of O(pairs)):
    *
    *   - STAR edges inside each identical-signature group: the group
    *     representative (minimum doc_id) paired with every other
    *     member. A degenerate cluster of m exact near-dups costs m
    *     rows and O(m) join work — the naive band self-join put all m
    *     rows in ONE (band, key) bucket and did m²/2 comparisons in a
    *     single task, the skew that kills a duplicate-heavy corpus at
    *     100 TB (dedup's actual input).
    *   - CROSS edges from the band self-join over DISTINCT signatures
    *     only (one row per signature per band, keyed by the group
    *     representative), so identical-signature mass never multiplies
    *     inside a band bucket.
    *
    * Downstream clustering ([[clusterNearDups]]) is component-
    * equivalent: two docs share a component iff they did under the
    * all-pairs formulation. The repartition on the signature is the
    * exchange the group-by AND the star join both reuse
    * (ReuseExchange), so signatures are computed once. */
  def minhashBandPairs(documents: DataFrame): DataFrame =
    minhashBandPairsFromSigs(sigArrays(documents))

  /** The (doc_id, sig: array<long>) signature frame every MinHash
    * consumer derives from — single-sourced so an audit that needs
    * BOTH the pair set and the raw signatures ([[minhashCalibration]],
    * [[bandRecallReport]]) can materialize this one frame per
    * invocation and feed every subtree from it instead of re-running
    * the signature kernel per reference. */
  private def sigArrays(documents: DataFrame): DataFrame =
    wideEnough(documents, 3)
      .withColumn("sig", minhash_sig(shingle_hashes(col("text"), 3, P), NumPerms, P))
      .select(col("doc_id"), col("sig"))

  /** [[minhashBandPairs]] over a PRECOMPUTED signature frame. */
  private def minhashBandPairsFromSigs(sigArr: DataFrame): DataFrame = {
    val sigs = sigArr.repartition(col("sig"))
    val reps = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rep"))
    val stars = sigs.join(reps, Seq("sig"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val bands = reps
      .select(col("rep"),
        posexplode(transform(sequence(lit(0), lit(NumPerms / BandRows - 1)),
          b => concat_ws(":", slice(col("sig"), b * BandRows + 1, lit(BandRows))))))
      .toDF("rep", "band", "key")
      .repartition(col("band"), col("key"))
    val cross = bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("doc_a"), col("y.rep").as("doc_b"))
      .distinct()
    // star and cross edges are disjoint by construction (a star's doc_b
    // is never a group representative), so the union is already a set
    stars.unionByName(cross)
  }

  /** X4 near-dup CLUSTERING — the step after candidate pairs: connected
    * components over the MinHash band-pair graph via `rounds` rounds of
    * min-label propagation (each round: every node takes the minimum of
    * its own and its neighbors' labels; one join + one aggregation per
    * round, all shuffles keyed on doc ids). The round count is BOUNDED
    * on purpose: near-dup components are overwhelmingly tiny, `rounds`
    * resolves any component of diameter ≤ rounds, and the bounded form
    * keeps the operator deterministic and oracle-expressible (the
    * oracle replays the same R rounds). For unknown-diameter graphs
    * use [[clusterNearDupsFixpoint]] — the same round wrapped in a
    * convergence loop.
    * Isolated documents are their own single-member cluster; the
    * cluster id is the member-minimum doc_id, so `cluster == doc_id`
    * marks the canonical survivor of each group. */
  def clusterNearDups(documents: DataFrame, rounds: Int = 3): DataFrame = {
    // persist the DIRECTED pair set, not the symmetrized edges: every
    // round references the edges, and symmetrize unions the pair plan
    // with itself — persisting only downstream of the union would run
    // the whole signature + band self-join pipeline TWICE (once per
    // direction) when the cache materializes. Symmetrize over the
    // cache is two cheap cache scans per round instead.
    val pairs = minhashBandPairs(documents).persist()
    // SELF-LOOPED edges, cached PRE-PARTITIONED on the join key:
    // min over (neighbors ∪ {self}) ≡ least(own label, neighbor min),
    // so with an (x, x) edge per node each propagation round is ONE
    // lookup join + ONE min rollup — the outer join that re-read the
    // label table per round (and forced a per-round lazy persist,
    // because labels were referenced twice and the round plans nested
    // exponentially) disappears. Labels now flow through each round
    // exactly once, the whole cascade is one flat linear plan, and
    // the only per-round shuffle is the groupBy(src) rollup: the
    // pre-partitioned edge cache and the label side (partitioned by
    // doc_id = src from the previous round's rollup) both line up
    // with the dst join key. Round-20's shape paid three exchanges
    // per round plus a cache materialization per round; at 100 TB
    // those were full passes of the edge list over the network.
    val edges = symmetrize(pairs)
      .unionByName(documents.select(col("doc_id").as("src"),
        col("doc_id").as("dst")))
      .repartition(col("dst")).persist()
    val init = documents.select(col("doc_id"), col("doc_id").as("cluster"))
    // materialize-and-DETACH: localCheckpoint runs the whole cascade
    // as one job and returns a lineage-free frame whose blocks the
    // ContextCleaner reclaims once the frame is dropped — returning a
    // persisted round instead would pin it in the CacheManager for
    // the session (and re-persisting the same plan on the next call
    // logs "Asked to cache already cached data").
    val out = (1 to rounds).foldLeft(init)((labels, _) =>
        propagateRound(labels, edges))
      .localCheckpoint()
    edges.unpersist(false)
    pairs.unpersist(false)
    out
  }

  /** Both directions of an undirected (doc_a, doc_b) pair set. */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** One min-label-propagation round over a SELF-LOOPED edge set:
    * every node takes the minimum label over its neighbors AND itself
    * (the (x, x) edges make the self term part of the same rollup, so
    * no second label lookup is needed — see [[clusterNearDups]]).
    * One lookup join + one min aggregation; bit-identical to the
    * least(own, neighbor-min) outer-join formulation. */
  private[graft] def propagateRound(labels: DataFrame, edges: DataFrame): DataFrame =
    edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
      .groupBy(col("src").as("doc_id")).agg(min(col("cluster")).as("cluster"))

  /** Run-to-FIXPOINT connected components over an explicit edge set:
    * the production form of [[clusterNearDups]], for graphs whose
    * component diameter is unknown. Each iteration is one
    * [[propagateRound]]; convergence is detected by the label-sum agg
    * (labels only ever decrease, so the sum is strictly monotone until
    * the fixpoint — one O(1)-to-driver scalar per round, no row-level
    * diff join). Round count to converge = max component diameter
    * (tiny for near-dup graphs); `maxRounds` is a runaway guard, not a
    * semantic bound. Decimal(38) sum: a 64-bit sum of 10^11 doc ids
    * overflows long.
    *
    * PRECONDITION: every `pairs` endpoint must appear in `nodes` (and
    * `nodes` must be id-unique). The self-looped propagation keys its
    * output on edge src, so an edge endpoint absent from `nodes` would
    * EMIT a label row the contract never promised (the pre-round-21
    * outer-join form silently ignored such edges); every in-repo
    * caller derives `pairs` from the node frame itself. */
  def clusterEdgesFixpoint(nodes: DataFrame, pairs: DataFrame,
                           maxRounds: Int = 50): DataFrame = {
    def labelSum(labels: DataFrame): java.math.BigDecimal =
      Option(labels.agg(sum(col("cluster").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    // persist the directed pairs, symmetrize over the cache — see
    // clusterNearDups for why persisting only the symmetrized union
    // would evaluate the pair pipeline twice; self-loops + dst
    // pre-partitioning for the same reasons as there (one join + one
    // rollup per round, no per-round edge re-shuffle — at fixpoint
    // depth both multiply with the component diameter). Per-round
    // persists STAY here (unlike the bounded form): the labelSum
    // convergence collect materializes every round anyway, and an
    // unpersisted chain would recompute all prior rounds per check.
    val cached = pairs.persist()
    val edges = symmetrize(cached)
      .unionByName(nodes.select(col("doc_id").as("src"),
        col("doc_id").as("dst")))
      .repartition(col("dst")).persist()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster")).persist()
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = propagateRound(labels, edges).persist()
      val s = labelSum(next)
      if (s.compareTo(prevSum) == 0) {
        next.unpersist(false)
        converged = true
      } else {
        labels.unpersist(false)
        labels = next
        prevSum = s
        round += 1
      }
    }
    edges.unpersist(false)
    cached.unpersist(false)
    // detach as in clusterNearDups: the checkpoint job reads the
    // already-materialized label cache, then the cache entry itself is
    // released — callers get a lineage-free frame, never a
    // session-pinned one
    val out = labels.localCheckpoint()
    labels.unpersist(false)
    out
  }

  /** Fixpoint near-dup clustering over the MinHash band-pair graph —
    * [[clusterNearDups]] without the bounded-round caveat: a chain of
    * any diameter fully merges. (The bounded form stays the
    * oracle-checked query; a data-dependent round count is not
    * expressible as one static SQL statement.) */
  def clusterNearDupsFixpoint(documents: DataFrame, maxRounds: Int = 50): DataFrame =
    clusterEdgesFixpoint(documents.select(col("doc_id")),
      minhashBandPairs(documents), maxRounds)

  /** Per-document LSH band keys — the materialized INDEX side of
    * incremental dedup: one (doc_id, band, key) row per band of the
    * MinHash signature. At corpus scale this table is computed once per
    * index generation and stored bucketed by (band, key); every
    * incoming batch joins against it without re-signing the corpus. */
  def bandKeys(documents: DataFrame): DataFrame =
    wideEnough(documents, 3)
      .withColumn("sig", minhash_sig(shingle_hashes(col("text"), 3, P), NumPerms, P))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(NumPerms / BandRows - 1)),
          b => concat_ws(":", slice(col("sig"), b * BandRows + 1, lit(BandRows))))))
      .toDF("doc_id", "band", "key")

  /** X4 INCREMENTAL near-dedup: flag incoming documents that LSH-match
    * any document of an already-indexed corpus — the continuous-
    * ingestion shape of near-dedup (today's crawl lands against
    * yesterday's index; within-batch pairs are [[minhashBandPairs]],
    * cross-generation matches are this join). Output per flagged
    * incoming doc: the minimum matching index doc id and how many of
    * its bands hit the index.
    *
    * Scale shape: the index side collapses to ONE row per (band, key)
    * — `min(doc_id)` per bucket — BEFORE the join, so a boilerplate
    * bucket holding a million index docs contributes one row, not a
    * million; the join output is bounded by 4 rows per incoming doc
    * regardless of index-side skew. The incoming batch shuffles only
    * its own band keys; nothing rescans or re-signs the corpus. */
  def nearDupAgainstIndex(incoming: DataFrame, indexed: DataFrame): DataFrame =
    nearDupAgainstBandIndex(incoming, bandIndex(indexed))

  /** The PRE-AGGREGATED band-key index of a corpus — one (band, key,
    * match_id) row per bucket, `match_id` the bucket-minimum doc id.
    * This is the frame a resident pipeline materializes once per index
    * generation (and what [[graft.streaming.RollingIndex.bands]] rolls);
    * every batch then joins it via [[nearDupAgainstBandIndex]] without
    * re-signing or re-aggregating the corpus. */
  def bandIndex(indexed: DataFrame): DataFrame =
    bandKeys(indexed).groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("match_id"))

  /** [[nearDupAgainstIndex]] against an ALREADY-aggregated
    * [[bandIndex]] frame — the amortized per-trigger form: only the
    * incoming batch is signed; the index contributes one row per
    * bucket, so join output stays bounded at bands-per-doc rows per
    * incoming document regardless of index skew. */
  def nearDupAgainstBandIndex(incoming: DataFrame, idx: DataFrame): DataFrame =
    bandKeys(incoming).join(idx, Seq("band", "key"))
      .groupBy(col("doc_id"))
      .agg(min(col("match_id")).as("match_id"),
        count(lit(1)).as("n_hit_bands"))

  /** X4 corpus duplication report: the cluster-size histogram of the
    * near-dup graph — (cluster_size, n_clusters, n_docs) tells how much
    * of the corpus sits in duplicate groups of each size, the number a
    * dedup policy is tuned against (survivor yield = Σ n_clusters /
    * Σ n_docs). Two hash aggregations over [[clusterNearDups]]'s
    * output; no shuffle beyond the clustering's own doc-id keys, and
    * the histogram itself is at most one row per distinct group size. */
  def dupStats(documents: DataFrame, rounds: Int = 3): DataFrame =
    dupStatsFromLabels(clusterNearDups(documents, rounds))

  /** [[dupStats]] over PRECOMPUTED cluster labels — the reuse form: a
    * pipeline clusters ONCE and derives every downstream report from
    * the same (doc_id, cluster) frame instead of re-running the whole
    * signature → band-join → propagation pipeline per consumer. */
  def dupStatsFromLabels(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("cluster_size")).as("n_docs"))

  /** X4 cluster-COHESION audit — the measure-don't-guess gate for the
    * label-propagation clustering ITSELF: transitive closure happily
    * chains A–B–C into one cluster even when A and C share nothing
    * (the classic MinHash-cluster drift failure; every hop passes the
    * band test but the endpoints don't). Per multi-member cluster:
    * each non-root member's signature agreement with the cluster ROOT
    * (the canonical survivor every other member is deduped against),
    * reported as mean and WORST member agreement — a low min flags a
    * chained-drift cluster before dedup deletes a non-duplicate.
    * Star-bounded on purpose: O(cluster size) member↔root pairs,
    * never pairwise, so a degenerate giant cluster costs linear work
    * (the 100 TB shape). Narrow docs (< 3 tokens) have no signature
    * but also no edges, so they are never non-root members — the
    * inner joins are total. One division at the end (Σ n_agree over
    * 16·members), the cross-engine rounding rule. */
  def clusterCohesion(documents: DataFrame): DataFrame = {
    val labels = clusterNearDups(documents)
    val mem = labels.filter(col("doc_id") =!= col("cluster"))
    val sigs = minhashSignatures(documents)
    val ag = sigs.join(mem, Seq("doc_id"))
      .join(sigs.select(col("doc_id").as("cluster"), col("perm"),
        col("minhash").as("root_mh")), Seq("cluster", "perm"))
      .groupBy(col("cluster"), col("doc_id"))
      .agg(sum(when(col("minhash") === col("root_mh"), 1L).otherwise(0L))
        .as("n_agree"))
    val sz = labels.groupBy(col("cluster")).agg(count(lit(1)).as("size"))
    ag.join(sz, Seq("cluster"))
      .groupBy(col("cluster"), col("size"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("n_agree")).cast("double") /
          (lit(16.0) * count(lit(1))), 4).as("mean_est_j"),
        round(min(col("n_agree")).cast("double") / lit(16.0), 4).as("min_est_j"))
      .select(col("cluster"), col("size"), col("n_members"),
        col("mean_est_j"), col("min_est_j"))
  }

  /** X4 n-gram Jaccard: top-k most similar document pairs by word
    * 3-gram Jaccard, via the inverted shingle index (explode → self-join
    * on shingle → per-pair intersection count). This is both the exact
    * near-dup measure and the verification stage behind MinHash/LSH
    * candidates. The repartition on shingle sits ABOVE the explode so
    * the materialized exchange holds finished (doc_id, shingle) rows;
    * the hot-shingle scan, both self-join sides, and the per-doc counts
    * reuse that one exchange instead of re-evaluating the (interpreted,
    * non-codegen) shingle lambda.
    *
    * Hot-shingle cap: a shingle present in more than `1/freqCapInv` of
    * the corpus (a stopword 3-gram, boilerplate) is dropped from the
    * index BEFORE the self-join — such a shingle contributes ~n² join
    * rows on one shuffle key (the skew that kills the query at 100×)
    * while carrying no near-dup signal. Jaccard is then computed over
    * the capped shingle universe on both engines (the oracle applies
    * the identical integer-arithmetic cap). The hot set is tiny by
    * construction, so the anti-join broadcasts. The absolute `minDf`
    * floor keeps the relative cap meaningful on small corpora: a
    * shingle in a few dozen docs cannot skew a shuffle, and without
    * the floor a 3-doc corpus would declare every shingle hot. */
  def ngramJaccardTopK(documents: DataFrame, n: Int = 3, k: Int = 20,
                       freqCapInv: Int = 5, minDf: Int = 25): DataFrame =
    jaccardPairs(documents, n, freqCapInv, minDf)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(k)

  /** The shared capped inverted-index pair stage behind [[jaccardPairs]]
    * and [[ngramContainmentTopK]]: explode shingles, drop hot shingles
    * (relative df cap with an absolute `minDf` floor), equi-join on
    * shingle (never all-pairs), and return one row per intersecting
    * unordered pair with the raw set sizes:
    * `(doc_a, doc_b, n_inter, na, nb)` where doc_a < doc_b. Both
    * similarity measures (symmetric Jaccard, asymmetric containment)
    * are one projection away from this frame — keeping it single-
    * sourced means a future cap change reaches every consumer.
    *
    * `samplePct` bounds the QUADRATIC stage only: the df stats and the
    * hot-shingle cap are computed on the full corpus (linear cost, and
    * they must stay production-exact), then the capped inverted index
    * is filtered to the deterministic `hash(doc_id) mod 100 <
    * samplePct` subset before the self-join — so the pair stage costs
    * O((p·n)²) and the sampled output is EXACTLY the full output
    * restricted to pairs with both endpoints in the sample
    * (SampleBoundSpec pins this). Default 100 keeps the plan
    * byte-identical to the unsampled form. */
  private def cappedIntersections(documents: DataFrame, n: Int,
                                  freqCapInv: Int, minDf: Int,
                                  samplePct: Int = 100): DataFrame = {
    val inv0 = wideEnough(documents, n)
      .select(col("doc_id"), explode(word_shingles(col("text"), n)).as("shingle"))
      .repartition(col("shingle"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val hot = inv0.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")) // shingles are distinct per doc ⇒ count = df
      .crossJoin(nDocs)
      .filter(col("df") * freqCapInv > col("n_docs") && col("df") > minDf)
      .select(col("shingle"))
    val invFull = inv0.join(broadcast(hot), Seq("shingle"), "left_anti")
    val inv =
      if (samplePct >= 100) invFull
      else invFull.filter(
        tokenHash(col("doc_id").cast("string")) % 100 < samplePct)
    val counts = inv.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val inter = inv.alias("x").join(inv.alias("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "nb"), "doc_b")
  }

  /** The capped-exact Jaccard PAIR frame behind [[ngramJaccardTopK]]
    * and [[bandRecallReport]]: every intersecting pair (under the
    * hot-shingle df cap) with its exact rounded Jaccard. */
  def jaccardPairs(documents: DataFrame, n: Int = 3,
                   freqCapInv: Int = 5, minDf: Int = 25,
                   samplePct: Int = 100): DataFrame =
    cappedIntersections(documents, n, freqCapInv, minDf, samplePct)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")).cast("double"), 6)
          .as("jaccard"))

  /** X4 BAND-RECALL calibration — the text-side twin of the ANN recall
    * audit (`x2_recall`): for every intersecting pair at Jaccard ≥
    * tau (default 0: ALL pairs sharing a surviving shingle), the
    * fraction the 4×4 MinHash banding catches, bucketed by Jaccard
    * decile. This is the measured S-curve banding theory predicts —
    * recall ~0 on low-similarity noise (banding is DELIBERATELY blind
    * there) rising toward 1 at dup-grade similarity; when the corpus
    * shifts, THIS query says whether the banding parameters still
    * hold. Ground truth is the capped-exact inverted-index measure,
    * evaluated once; the band side probes pair-by-pair — each exact
    * pair fans out to doc_a's 4 band keys and left-joins doc_b's, so
    * work is bounded by |exact pairs|·bands and the skew-prone
    * all-pairs band self-join never runs. At scale the exact side
    * runs on a corpus SAMPLE — `samplePct` is that knob, a
    * deterministic hash-threshold on doc_id applied inside the exact
    * side's pair stage (df stats stay corpus-exact; see
    * [[cappedIntersections]]), so the 100 TB form is
    * `bandRecallReport(docs, samplePct = 1)` and its cost is bounded
    * by the sampled pair count. The band keys are always the
    * production [[bandKeys]] frame — the audit measures the REAL
    * index against a sampled ground truth. Default 100 = exact
    * (unchanged oracles). */
  def bandRecallReport(documents: DataFrame, n: Int = 3, tau: Double = 0.0,
                       freqCapInv: Int = 5, minDf: Int = 25,
                       samplePct: Int = 100): DataFrame = {
    val exact = jaccardPairs(documents, n, freqCapInv, minDf, samplePct)
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // ONE signature pass, materialized once (localCheckpoint — the
    // eager-operator rule), feeding both pair endpoints. The band-hit
    // test is per-band slice equality on the signature arrays — the
    // same predicate as joining the 4-row band-key fan-out (the
    // concat_ws key of a band is injective in its 4 longs), but as a
    // codegen'd row-local expression: the per-pair ×bands fan-out
    // join, its (doc_b, band, key) exchange, and the pair-grain
    // max(hit) re-aggregation all disappear, and the corpus is signed
    // once instead of twice. Every exact-pair endpoint has ≥1 shingle
    // (jaccardPairs is shingle-sourced), hence a signature row, so
    // the inner joins lose nothing.
    val sigA = sigArrays(documents).localCheckpoint()
    val bandHit = (0 until NumPerms / BandRows)
      .map(b => when(slice(col("sa"), b * BandRows + 1, BandRows) ===
        slice(col("sb"), b * BandRows + 1, BandRows), 1L).otherwise(0L))
      .reduce(greatest(_, _))
    exact
      .join(sigA.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
        Seq("doc_a"))
      .join(sigA.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), bandHit.as("hit"))
      .groupBy(least(floor(col("jaccard") * 10), lit(9)).cast("long").as("decile"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("hit")).as("n_caught"),
        round(sum(col("hit")).cast("double") / count(lit(1)), 4).as("recall"))
  }

  /** X4 n-gram CONTAINMENT top-k — the asymmetric near-dup measure
    * Jaccard hides: containment(inner ⊂ outer) = |∩| / |shingles
    * (inner)| is ~1.0 when a short document is quoted or embedded
    * inside a long one, a pair whose Jaccard is tiny (the union is
    * dominated by the long side). This is the doc-in-doc detector —
    * quote extraction, boilerplate-wrapper discovery, subset dedup.
    *
    * Same capped inverted-index machinery as [[ngramJaccardTopK]]
    * (hot-shingle cap, shingle equi-join, never all-pairs); each
    * undirected intersection row fans out to its two directions
    * through ONE explode (not a union of two selects, which would
    * re-evaluate the self-join subtree twice). Ordering is the house
    * rule: ROUNDED score + full id tie-break. */
  def ngramContainmentTopK(documents: DataFrame, n: Int = 3, k: Int = 20,
                           freqCapInv: Int = 5, minDf: Int = 25): DataFrame =
    cappedIntersections(documents, n, freqCapInv, minDf)
      .select(col("n_inter"), explode(array(
        struct(col("doc_a").as("inner_id"), col("doc_b").as("outer_id"),
          col("na").as("n_inner")),
        struct(col("doc_b").as("inner_id"), col("doc_a").as("outer_id"),
          col("nb").as("n_inner")))).as("p"))
      .select(col("p.inner_id").as("inner_id"), col("p.outer_id").as("outer_id"),
        col("n_inter"),
        round(col("n_inter") / col("p.n_inner").cast("double"), 6).as("containment"))
      .orderBy(col("containment").desc, col("inner_id"), col("outer_id"))
      .limit(k)

  /** X4 benchmark decontamination: flag corpus documents whose 3-gram
    * overlap with any single benchmark document reaches `minShingles`
    * — the standard eval-set contamination check a training pipeline
    * runs before releasing a corpus. Same inverted-index shape as
    * [[ngramJaccardTopK]] (shingle equi-join, never all-pairs); the
    * benchmark side is the small one, so at 100 TB it broadcasts and
    * the corpus streams through map-side. Output is each contaminated
    * doc's WORST offender: (doc_id, bench_id, n_overlap), tie-broken
    * on bench_id. */
  def decontaminate(documents: DataFrame, nBench: Long = 50,
                    n: Int = 3, minShingles: Int = 5): DataFrame =
    decontaminateAgainst(documents.filter(col("doc_id") >= nBench),
      documents.filter(col("doc_id") < nBench), n, minShingles)

  /** Contamination check of `corpus` against a SEPARATE benchmark
    * frame — the cross-frame form behind [[decontaminate]] (which
    * splits one table by id) and the streaming curation path (where
    * the benchmark is a static table and the corpus is a micro-batch).
    * Both frames need (doc_id, text). */
  def decontaminateAgainst(corpus: DataFrame, benchDocs: DataFrame,
                           n: Int = 3, minShingles: Int = 5): DataFrame = {
    val bench = wideEnough(benchDocs, n)
      .select(col("doc_id").as("bench_id"),
        explode(word_shingles(col("text"), n)).as("shingle"))
    val overlap = wideEnough(corpus, n)
      .select(col("doc_id"), explode(word_shingles(col("text"), n)).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap")) // shingles are distinct per doc
      .filter(col("n_overlap") >= minShingles)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_overlap").desc, col("bench_id"))
    overlap.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("bench_id"), col("n_overlap"))
  }

  /** X4 DECONTAMINATION PROFILE — the per-BENCHMARK-item view of
    * [[decontaminate]]: for each benchmark document, how many corpus
    * docs it contaminates, the worst overlap, and the total flagged
    * shingle mass. The eval-owner's question ("which of MY items has
    * leaked into the crawl — retire it") where the corpus-side report
    * answers the curator's; both read the SAME thresholded overlap
    * pairs (the shared ov discipline), this one WITHOUT the per-doc
    * champion window — every qualifying (doc, bench) pair counts,
    * because a bench item leaking via many docs is exactly the
    * signal. Same broadcast bench-shingle join; O(bench) out. */
  def decontamProfile(documents: DataFrame, nBench: Long = 50,
                      n: Int = 3, minShingles: Int = 5): DataFrame = {
    val corpus = documents.filter(col("doc_id") >= nBench)
    val benchDocs = documents.filter(col("doc_id") < nBench)
    val bench = wideEnough(benchDocs, n)
      .select(col("doc_id").as("bench_id"),
        explode(word_shingles(col("text"), n)).as("shingle"))
    wideEnough(corpus, n)
      .select(col("doc_id"), explode(word_shingles(col("text"), n)).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minShingles)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_contaminated"),
        max(col("n_overlap")).as("max_overlap"),
        sum(col("n_overlap")).as("total_overlap"))
  }

  /** [[decontaminateAgainst]] behind a BLOOM-FILTER pre-filter — the
    * 100 TB form for when the benchmark side outgrows a comfortable
    * broadcast hash table: the bench shingle set collapses to a
    * serialized bloom sketch (Spark's own runtime-filter aggregate,
    * KBs–MBs regardless of shingle count), the corpus's shingles are
    * probed against it as a codegen'd literal BEFORE any join, and
    * only the survivors — contaminated shingles plus the fpp% false
    * positives — reach the exact overlap join. Blooms have NO false
    * negatives, and the exact join re-checks every survivor, so the
    * result is IDENTICAL to the unfiltered operator (spec-pinned ≡);
    * the sketch only decides how much data moves. Uses the
    * `bloom_filter_agg`/`might_contain` pair GraftFunctions registers
    * (Spark ships them unregistered for its runtime-filter rule). */
  def decontaminateBloomPrefiltered(corpus: DataFrame, benchDocs: DataFrame,
                                    n: Int = 3, minShingles: Int = 5): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val bench = wideEnough(benchDocs, n)
      .select(col("doc_id").as("bench_id"),
        explode(word_shingles(col("text"), n)).as("shingle"))
    val bloom = bench
      .agg(call_function("bloom_filter_agg", xxhash64(col("shingle"))).as("bf"))
      .head().getAs[Array[Byte]](0)
    val overlap =
      if (bloom == null) bench.limit(0) // empty bench: nothing to match
        .select(col("bench_id").as("doc_id"), col("bench_id"),
          lit(0L).as("n_overlap"))
      else wideEnough(corpus, n)
        .select(col("doc_id"), explode(word_shingles(col("text"), n)).as("shingle"))
        .filter(call_function("might_contain", lit(bloom), xxhash64(col("shingle"))))
        .join(broadcast(bench), Seq("shingle"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= minShingles)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_overlap").desc, col("bench_id"))
    overlap.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("bench_id"), col("n_overlap"))
  }

  /** X4 source-overlap matrix — mirror/syndication detection between
    * sources: for every source pair, the number of near-dup
    * CO-MEMBERSHIP pairs (two docs in the same cluster, one from each
    * source; same-source pairs = C(n,2)). Computed in CLOSED FORM from
    * per-(cluster, source) counts — n·m per cluster-source-pair — so a
    * million-member mirror cluster contributes arithmetic, never an
    * enumerated pair set; the self-join is keyed on cluster with at
    * most one row per source per cluster. The count matches the
    * all-pairs semantics exactly while the data never goes quadratic. */
  def sourceOverlapMatrix(documents: DataFrame, rounds: Int = 3): DataFrame =
    sourceOverlapFromLabels(clusterNearDups(documents, rounds), documents)

  /** [[sourceOverlapMatrix]] over PRECOMPUTED cluster labels — the
    * reuse form (cluster once, report many): everything downstream of
    * clustering is two tiny aggregations and a per-cluster self-join
    * with at most one row per source per cluster. */
  def sourceOverlapFromLabels(labels: DataFrame, documents: DataFrame): DataFrame = {
    val bySrc = labels.join(documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("cluster"), col("source")).agg(count(lit(1)).as("n"))
    bySrc.alias("x").join(bySrc.alias("y"),
        col("x.cluster") === col("y.cluster") && col("x.source") <= col("y.source"))
      .select(col("x.source").as("source_x"), col("y.source").as("source_y"),
        // integer `div`, not `/`: long / long promotes to double, which
        // is exact only below 2^53 — a ~1e8-member mirror cluster would
        // round its pair count
        when(col("x.source") === col("y.source"),
          expr("x.n * (x.n - 1) div 2"))
          .otherwise(col("x.n") * col("y.n")).as("np"))
      .groupBy(col("source_x"), col("source_y")).agg(sum(col("np")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
  }

  /** X4 n-gram novelty: per document, what fraction of its distinct
    * `n`-gram shingles occur for the FIRST time in this document
    * (first = lowest doc_id, the corpus's ingestion order). The
    * novelty fraction is the standard incremental-crawl signal:
    * near-1 docs are fresh content, near-0 docs are recombinations of
    * already-seen text — a softer, rankable complement to the hard
    * near-dup verdicts of [[minhashBandPairs]]/[[nearDupAgainstIndex]].
    *
    * Scale shape: one explode, a min-aggregation per shingle (map-side
    * combine collapses hot shingles before the shuffle), a 1:1 join
    * back on shingle (the first-doc side has exactly one row per
    * shingle, so a stopword shingle cannot multiply), and a doc-keyed
    * count. Nothing is quadratic and no driver state. */
  def noveltyScores(documents: DataFrame, n: Int = 3): DataFrame = {
    val inv = wideEnough(documents, n)
      .select(col("doc_id"), explode(word_shingles(col("text"), n)).as("shingle"))
    val first = inv.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    inv.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel") / col("n_shingles").cast("double"), 6).as("novelty"))
  }

  /** X4 SimHash: 60-bit signature; bit i is the sign of the sum over
    * distinct tokens of ±1 according to bit i of the token hash.
    * Commutative integer sums ⇒ insensitive to token order (and to
    * DuckDB's unordered list_distinct). Single narrow pass through the
    * compiled kernel (the equivalent nested aggregate() lambdas
    * interpreted at ~7 s per evaluation at sf0.1). */
  def simhash(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      simhash64(shingle_hashes(col("text"), 1, 0L)).as("simhash"))

  /** SimHash near-dup: top-k closest pairs by Hamming distance on the
    * 60-bit signatures (deterministic tie-break on ids) — banded
    * candidate generation with a PROVABLE exactness certificate.
    *
    * The signature is sliced into `bands` bit-ranges; docs sharing any
    * band value become candidates via a (band, key) equi-self-join —
    * the same bucketed shape as [[minhashBandPairs]], never all-pairs.
    * Pigeonhole guarantee: a pair at Hamming distance h < bands has
    * some band with NO differing bit, so EVERY pair closer than
    * `bands` is a candidate. If the verified top-k all sit below that
    * bound (k pairs at h < bands exist), the banded top-k IS the exact
    * global top-k — a near-dup corpus at any scale satisfies this. The
    * certificate is checked on the k collected result rows (O(k)
    * driver data); on the rare miss (no near-dup structure at all) it
    * falls back to the distributed blocked exact scorer.
    *
    * Band count trades pruning against certificate margin: fewer,
    * WIDER bands collide less (3×20-bit bands generate ~9× fewer
    * candidate rows than 6×10-bit on this clustered corpus) but only
    * guarantee pairs at h < 3. Near-dup top-k at corpus scale is
    * dominated by h ≤ 1 duplicates, so 3 bands certify with margin;
    * a sparse corpus that fails the certificate pays one exact pass. */
  /** The banded candidate pipeline behind [[simhashTopK]], as a lazy
    * DataFrame (plan-inspectable; PlanSpec pins its join shape).
    *
    * Identical signatures are COLLAPSED before the band join: a
    * near-dup corpus concentrates its mass in identical-signature
    * clusters, and banding those as individual rows puts a whole
    * cluster in one (band, key) bucket — the join task then scales
    * with cluster² (the skew that kills the query at 100×). Instead,
    * each signature keeps only its k+1 smallest doc ids: any global
    * top-k pair whose endpoint is NOT among its group's k+1 smallest
    * is beaten by ≥ k pairs built from those smaller ids (same
    * hamming, lexicographically smaller id pair), so the restriction
    * loses nothing. Within-group pairs (hamming 0) are enumerated
    * directly from the bounded rep arrays; cross-group candidates
    * band-join over DISTINCT signatures — one row per signature no
    * matter how many duplicates share it. */
  def simhashBandedCandidatesTopK(documents: DataFrame, k: Int = 20,
                                  bands: Int = 3): DataFrame = {
    val width = 60 / bands
    val sigs = simhash(documents)
    val wSig = Window.partitionBy(col("simhash")).orderBy(col("doc_id"))
    val repIds = sigs.withColumn("rn", row_number().over(wSig))
      .filter(col("rn") <= k + 1)
      .repartition(col("simhash"))
    // h = 0 pairs inside a signature group: ≤ C(k+2, 2) per group
    val within = repIds.alias("x").join(repIds.alias("y"),
        col("x.simhash") === col("y.simhash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // cross-group candidates over distinct signatures
    val reps = repIds.groupBy(col("simhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val banded = reps.select(col("simhash"), col("ids"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("simhash"), b * width).bitwiseAND(lit((1L << width) - 1))): _*)))
      .toDF("simhash", "ids", "band", "key")
      .repartition(col("band"), col("key"))
    val sigPairs = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.ids").as("ids_a"), col("y.ids").as("ids_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct() // a signature pair can collide in several bands
    val cross = sigPairs
      .select(col("hamming"), explode(col("ids_a")).as("a"), col("ids_b"))
      .select(col("hamming"), col("a"), explode(col("ids_b")).as("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b")).limit(k)
  }

  def simhashTopK(documents: DataFrame, k: Int = 20, bands: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val top = simhashBandedCandidatesTopK(documents, k, bands)
    val rows = top.collect()
    val certified = rows.length >= k && rows.forall(_.getLong(2) < bands)
    if (certified)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
    else simhashAllPairsTopK(documents, k)
  }

  /** Exact all-pairs SimHash top-k without banding assumptions: the
    * fallback verifier behind [[simhashTopK]]'s certificate and the
    * reference answer in tests. Block-partitioned self-pairs — each of
    * the B(B+1)/2 block pairs scores its (n/B)² candidates in one task
    * with a bounded heap, so memory per task is 2n/B signatures and
    * nothing is ever collected to the driver; O(n²) work (inherent to
    * exact all-pairs) distributes over the cluster. */
  def simhashAllPairsTopK(documents: DataFrame, k: Int = 20, nBlocks: Int = 8): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val B = nBlocks
    // a row in block b is the LEFT side of block-pairs (b, j≥b) and the
    // RIGHT side of (i<b, b): every unordered doc pair lands in exactly
    // one block-pair group
    val tagged = simhash(documents).as[(Long, Long)].flatMap { case (id, sig) =>
      val b = (id % B).toInt
      (b until B).iterator.map(j => (b, j, id, sig)) ++
        (0 until b).iterator.map(i => (i, b, id, sig))
    }
    val pairOrd: Ordering[(Long, Long, Long)] =
      Ordering.Tuple3(Ordering[Long], Ordering[Long], Ordering[Long])
    val local = tagged.groupByKey(r => (r._1, r._2)).flatMapGroups {
        (key: (Int, Int), it: Iterator[(Int, Int, Long, Long)]) =>
      val (gi, gj) = key
      val lb = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
      val rb = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
      it.foreach { case (_, _, id, sig) =>
        if ((id % B).toInt == gi) lb += ((id, sig)) else rb += ((id, sig))
      }
      // primitive arrays for the O(n²/B²) loop: the per-pair work is a
      // single xor/popcount, so boxed element access would dominate
      val lIds = lb.map(_._1).toArray; val lSigs = lb.map(_._2).toArray
      // diagonal groups carry each row once, on the left side
      val (bIds, bSigs) =
        if (gi == gj) (lIds, lSigs)
        else (rb.map(_._1).toArray, rb.map(_._2).toArray)
      val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long, Long)](pairOrd)
      // worst kept pair mirrored in locals: the eviction test must not
      // allocate a Tuple3 per candidate pair
      var wh = Long.MaxValue; var wa = Long.MaxValue; var wb = Long.MaxValue
      def syncWorst(): Unit = { val t = heap.head; wh = t._1; wa = t._2; wb = t._3 }
      var i = 0
      while (i < lIds.length) {
        val aId = lIds(i); val aSig = lSigs(i)
        var j = if (gi == gj) i + 1 else 0
        while (j < bIds.length) {
          val h = java.lang.Long.bitCount(aSig ^ bSigs(j)).toLong
          val a = math.min(aId, bIds(j)); val b = math.max(aId, bIds(j))
          if (heap.size < k) { heap.enqueue((h, a, b)); syncWorst() }
          else if (h < wh || (h == wh && (a < wa || (a == wa && b < wb)))) {
            heap.dequeue(); heap.enqueue((h, a, b)); syncWorst()
          }
          j += 1
        }
        i += 1
      }
      heap.iterator
    }
    local.toDF("hamming", "doc_a", "doc_b")
      .orderBy(col("hamming"), col("doc_a"), col("doc_b")).limit(k)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** X4 edit-distance near-dup pairs over document TITLES (the first
    * `nTokens` tokens) — the character-level dedup modality the
    * shingle/MinHash family cannot see: transposed words, single-char
    * typos, and truncations move Jaccard little but edit distance a
    * lot (and vice versa), so curation pipelines run both. Candidate
    * generation blocks on the first AND the last title token (two
    * equi-keyed hash joins, never a BroadcastNestedLoop — the house
    * `id<` rule), unioned and DEDUPED before the DP so a pair caught
    * by both blocks scores once; the O(block²) Levenshtein stage runs
    * inside each block only. Distances are exact small integers on
    * both engines — no float anywhere.
    *
    * 100 TB: dual blocking is the deliberate recall/cost trade: a
    * typo in token 1 is caught by the last-token block and vice
    * versa; only pairs edited at BOTH ends stay invisible (the same
    * trade LSH banding makes, at twice the candidate volume of a
    * single block). Block sizes follow the token frequency
    * distribution, so a production run salts stopword blocks or
    * pre-filters them by [[TextAnalysis]] stopword lists the way the
    * capped inverted index in [[ngramJaccardTopK]] drops hot
    * shingles. */
  def editDistancePairs(documents: DataFrame, nTokens: Int = 6,
                        maxDist: Int = 4): DataFrame = {
    val t = documents.select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, nTokens), " ").as("title"))
      .select(col("doc_id"), col("title"),
        element_at(split(col("title"), " "), 1).as("tok1"),
        element_at(split(col("title"), " "), -1).as("tokL"))
    // two pre-Levenshtein prunes: the length-difference guard (a length
    // gap > maxDist already implies distance > maxDist) rides in the
    // join condition, and the DP itself runs THRESHOLDED — Spark's
    // 3-arg levenshtein computes only the 2·maxDist+1 band and bails
    // early (returns -1 above the bar), ~d/len of the full matrix.
    // 10× on the bench corpus vs the naive full-matrix filter. The
    // banded form returns the EXACT distance whenever it is ≤ maxDist,
    // so the one banded DP serves as both the filter and the output
    // value — survivors never pay a second full-matrix pass.
    def block(key: String) =
      t.as("x").join(t.as("y"),
          col(s"x.$key") === col(s"y.$key") && col("x.doc_id") < col("y.doc_id") &&
            abs(length(col("x.title")) - length(col("y.title"))) <= maxDist)
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          col("x.title").as("ta"), col("y.title").as("tb"))
    block("tok1").unionByName(block("tokL")).distinct()
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Span window width for [[duplicatedSpans]]/[[spanSharedPairs]] —
    * verbatim runs this long are near-certainly copied, not
    * coincidental (the substring-dedup literature's 50-token windows
    * scaled to this corpus's short docs). */
  val SpanLen = 8

  /** X4 duplicated-SPAN detection — the verbatim-substring dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better") that document-level dedup cannot see: boilerplate
    * headers, quoted passages, and templated sections shared across
    * otherwise-distinct docs. Every distinct [[SpanLen]]-token window
    * of each doc is hashed by the compiled [[ShingleHashes]] kernel
    * (60-bit md5, no per-element interpreted lambda); a span is
    * DUPLICATED iff it occurs in ≥ 2 docs (windows are distinct per
    * doc, so the span's row count IS its doc frequency). Per-doc
    * report: distinct spans, duplicated spans, duplicated fraction —
    * the gate score a curation pass thresholds on.
    *
    * 100 TB: the explicit `repartition(sh)` is the ONE exchange the
    * doc-frequency aggregate and the join back both reuse
    * (ReuseExchange — the [[minhashBandPairs]] pattern); span-hash
    * cardinality grows with the corpus (no planner hot key), and the
    * boilerplate spans that DO repeat millions of times stay 1:1 rows
    * on the probe side (each (doc, span) row picks up one count), so
    * skew is bounded by doc length, not span frequency. Final per-doc
    * rollup is a second map-side-combining shuffle on doc_id. */
  def duplicatedSpans(documents: DataFrame): DataFrame = {
    // array_distinct on the HASH array (not the span text) so the set
    // semantics are structurally identical to the oracle's
    // list_distinct-over-hashes: an intra-doc 60-bit collision between
    // two distinct spans counts once on both engines
    val spans = wideEnough(documents, SpanLen)
      .select(col("doc_id"),
        explode(array_distinct(shingle_hashes(col("text"), SpanLen, 0L))).as("sh"))
      .repartition(col("sh"))
    val shared = spans.groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
    spans.join(shared, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") /
          col("n_spans").cast("double"), 6).as("dup_frac"))
  }

  /** X4 top shared-span doc pairs — WHICH documents share verbatim
    * runs (the per-pair drill-down of [[duplicatedSpans]]'s per-doc
    * score). Spans in more than `maxDf` docs are dropped first as
    * stop-spans: a boilerplate line in 10⁶ docs would otherwise
    * contribute 10¹² pairs while saying nothing about any single pair
    * — the cap bounds the self-join at `maxDf²/2` rows per span, the
    * same df-capping every inverted-index pair miner runs at scale.
    * Equi-keyed self-join on the span hash (hash join, never a
    * BroadcastNestedLoop); integer count ordering with full id
    * tie-breaks. */
  def spanSharedPairs(documents: DataFrame, maxDf: Int = 16,
                      k: Int = 50): DataFrame = {
    val spans = wideEnough(documents, SpanLen)
      .select(col("doc_id"),
        explode(array_distinct(shingle_hashes(col("text"), SpanLen, 0L))).as("sh"))
      .repartition(col("sh"))
    val kept = spans.join(
      spans.groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs").between(2, maxDf)), Seq("sh"))
    kept.as("a").join(kept.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** X4 MinHash-SIGNATURE calibration — the third audit of the
    * near-dup stack, closing the chain: [[bandRecallReport]] audits
    * the BANDING (which true pairs the buckets surface), this audits
    * the SIGNATURE (how well perm agreement tracks true Jaccard on
    * the pairs the banding surfaced). For every candidate pair, the
    * estimator `agreeing perms / 16` against the capped-exact Jaccard
    * (0 when the pair shares no surviving shingle — band collisions
    * on hot-shingle mass look exactly like that, and this report is
    * where they become visible). Systematic est ≫ exact means the
    * permutation family or NumPerms needs revisiting before trusting
    * the candidate graph.
    *
    * Scale shape: pair source is the SPANNING band-pair set (never
    * all-pairs); agreement is an equi-join fan-out of pairs × 16 slim
    * signature rows; the exact side is the audited capped
    * inverted-index frame. Bounded by candidates, not corpus². */
  def minhashCalibration(documents: DataFrame): DataFrame = {
    // ONE signature pass for the whole audit (localCheckpoint — the
    // eager-operator rule): the round-21 plan re-ran the signature
    // kernel over the corpus four times (band-pair subtree + two
    // long-format sides of the agreement self-join) and shuffled the
    // 16·N exploded signature rows twice plus a pair-grain
    // re-aggregation. The agreement count is now a codegen'd
    // row-local fold over the two 16-slot arrays — identical to
    // sum(ma = mb) over the exploded join by construction — so the
    // exploded frame, both its exchanges, and the groupBy disappear;
    // what shuffles is one slim array row per pair endpoint.
    val sigA = sigArrays(documents).localCheckpoint()
    val nAgree = (0 until NumPerms)
      .map(i => when(element_at(col("sa"), i + 1) ===
        element_at(col("sb"), i + 1), 1L).otherwise(0L))
      .reduce(_ + _)
    val agree = minhashBandPairsFromSigs(sigA)
      .join(sigA.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
        Seq("doc_a"))
      .join(sigA.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nAgree.as("n_agree"))
    agree
      .join(jaccardPairs(documents).select(col("doc_a"), col("doc_b"),
        col("jaccard")), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        round(col("n_agree").cast("double") / lit(NumPerms.toDouble), 6)
          .as("est_jaccard"),
        coalesce(col("jaccard"), lit(0.0)).as("exact_jaccard"))
  }

  /** The PRE-AGGREGATED verbatim-span index of a corpus — one row per
    * DISTINCT [[SpanLen]]-token span hash, the stored artifact of the
    * span-dedup family (the [[bandIndex]] discipline at span
    * granularity): a resident pipeline materializes this once per
    * corpus generation, and every later crawl batch probes it via
    * [[spansAgainstIndex]] without re-hashing the corpus. Bounded by
    * the distinct-span count, independent of how often a boilerplate
    * span repeats. */
  def spanIndex(indexed: DataFrame): DataFrame =
    wideEnough(indexed, SpanLen)
      .select(explode(array_distinct(
        shingle_hashes(col("text"), SpanLen, 0L))).as("sh"))
      .distinct()

  /** X4 incremental verbatim-span gate — [[duplicatedSpans]] in the
    * nightly-crawl shape: each incoming document's distinct spans
    * probe a STORED [[spanIndex]], and the report scores how much of
    * the doc is already verbatim-present in the indexed corpus —
    * the pre-training filter that keeps a new crawl from re-ingesting
    * yesterday's boilerplate. One equi-keyed left join on the span
    * hash (index side is one row per span, so join output is bounded
    * by the incoming batch's span count regardless of index skew),
    * then a map-side-combining rollup to doc grain. */
  def spansAgainstIndex(incoming: DataFrame, idx: DataFrame): DataFrame = {
    val spans = wideEnough(incoming, SpanLen)
      .select(col("doc_id"),
        explode(array_distinct(
          shingle_hashes(col("text"), SpanLen, 0L))).as("sh"))
    spans.join(idx.withColumn("hit", lit(1L)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("hit") === 1L, 1L).otherwise(0L)).as("n_index_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_index_spans"),
        round(col("n_index_spans").cast("double") /
          col("n_spans").cast("double"), 6).as("index_frac"))
  }

  /** [[spansAgainstIndex]] with the index built inline — the
    * self-contained form the oracle checks; production stores
    * [[spanIndex]]'s output instead. */
  def spanIncremental(incoming: DataFrame, indexed: DataFrame): DataFrame =
    spansAgainstIndex(incoming, spanIndex(indexed))

  /** X4 SHINGLE DUPLICATION PROFILE — per source, how much of its
    * n-gram mass is cross-document repetition: total (doc, shingle)
    * postings vs distinct shingles, their ratio as `dup_frac`, and
    * the hottest shingle's document frequency. The corpus-level
    * memorization-risk dial ([[duplicatedSpans]] scores single docs;
    * this scores the SOURCE — a boilerplate-template feed shows
    * dup_frac → 1 and a towering max_df before any pair query runs),
    * and the cheap pre-flight that predicts the band-join skew the
    * hot-shingle cap in [[jaccardPairs]] exists for. Shingles are
    * distinct within a doc (the [[minhashSignatures]] convention —
    * within-doc repetition is `x3_repetition`'s signal), so df
    * equals document frequency. One (source, shingle) aggregation
    * with map-side combine, then an O(vocabulary) per-source rollup;
    * never a pair stage. */
  def shingleProfile(documents: DataFrame, n: Int = 3): DataFrame =
    wideEnough(documents, n)
      .select(col("source"), explode(word_shingles(col("text"), n)).as("shingle"))
      .groupBy(col("source"), col("shingle")).agg(count(lit(1)).as("df"))
      .groupBy(col("source"))
      .agg(sum(col("df")).as("n_postings"), count(lit(1)).as("n_distinct"),
        max(col("df")).as("max_df"))
      .select(col("source"), col("n_postings"), col("n_distinct"),
        round((col("n_postings") - col("n_distinct")).cast("double") /
          col("n_postings").cast("double"), 6).as("dup_frac"),
        col("max_df"))

  /** X4 PER-SOURCE DUPLICATION RATE — what fraction of each source's
    * documents are near-dup REDUNDANT against the corpus (not the
    * representative of their cluster): the feed-quality scorecard a
    * crawl pipeline reads per provider — a source whose dup_rate
    * climbs is re-crawling what the corpus already has, and its crawl
    * budget should move. [[sourceOverlapMatrix]] says WHO overlaps
    * with whom; this says how much each source actually contributes.
    * One join of the O(docs) label frame to the slim (doc, source)
    * projection and an O(sources) rollup on top of the shared
    * clustering. */
  def sourceDupRate(documents: DataFrame, rounds: Int = 3): DataFrame =
    sourceDupRateFromLabels(clusterNearDups(documents, rounds), documents)

  /** [[sourceDupRate]] over PRECOMPUTED labels — the cluster-once /
    * derive-many form, like [[dupStatsFromLabels]]. */
  def sourceDupRateFromLabels(labels: DataFrame, documents: DataFrame): DataFrame =
    labels.join(documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("cluster"), 1L).otherwise(0L))
          .as("n_canonical"))
      .select(col("source"), col("n_docs"), col("n_canonical"),
        round((col("n_docs") - col("n_canonical")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))

  /** X4 SURVIVORSHIP MAP — the per-document canonical-id export of the
    * near-dup clustering: for every doc, the cluster representative it
    * resolves to (the component's minimum doc_id — exactly the
    * propagated label), whether the doc IS that representative, and
    * how large its cluster is. This is the artifact the rest of a
    * pipeline consumes (rewrite references to dropped docs, dedup-aware
    * lineage joins, "which doc absorbed mine" lookups) — [[dupStats]]
    * is its histogram, this is the row-level map. One O(clusters)
    * size aggregation broadcast-joined back onto the O(docs) label
    * frame; the fixpoint/propagation cost is [[clusterNearDups]]'s,
    * shared when a pipeline clusters once and derives both. */
  def survivorMap(documents: DataFrame, rounds: Int = 3): DataFrame =
    survivorMapFromLabels(clusterNearDups(documents, rounds))

  /** The `k` salted-md5 Bloom bit positions of a fingerprint — element
    * `i` hashes `"i:fp"` through the house 60-bit md5 hash, mod `m`.
    * Identical text arithmetic in the oracle (the CMS salt scheme). */
  def bloomBits(fp: Column, k: Int = 4, m: Int = 4096): Column =
    array((0 until k).map(i =>
      conv(substring(md5(concat(lit(s"$i:"), fp)), 1, 15), 16, 10)
        .cast("long") % m): _*)

  /** X4 Bloom bit-set export — the STORED membership artifact of the
    * exact-dedup gate: the distinct bit positions lit by the indexed
    * corpus's fingerprints. ≤ `m` rows no matter the corpus size, and
    * bit sets from shards/days merge by DISTINCT-union — the
    * cheapest-possible pre-filter a 100 TB ingest puts in front of the
    * exact fingerprint join (a probe that misses ANY of its k bits is
    * definitively new and skips the join entirely; Bloom guarantees
    * no false negatives). */
  def bloomBitSet(indexed: DataFrame, k: Int = 4, m: Int = 4096): DataFrame =
    indexed.select(md5(col("text")).as("fp")).distinct()
      .select(explode(bloomBits(col("fp"), k, m)).as("bit")).distinct()

  /** Fold shard [[bloomBitSet]] tables into the corpus bit set —
    * DISTINCT-union, the Bloom merge law (`x4_bloom_merge` pins
    * merged ≡ whole-corpus by aliased oracle). */
  def bloomMergeBits(bitSets: DataFrame*): DataFrame =
    bitSets.reduce(_ union _).distinct()

  /** X4 Bloom-gate audit: probe each incoming doc's fingerprint
    * against the indexed corpus's Bloom bit set AND against ground
    * truth — per doc the Bloom verdict (`bloom_hit`: all k bits lit)
    * and the actual membership (`is_dup`). `is_dup → bloom_hit` always
    * (spec-pinned); `bloom_hit ∧ ¬is_dup` rows measure the live
    * false-positive rate, the signal that `m` is undersized. The
    * probe side explodes k slim rows per incoming doc; both joins are
    * equi-keyed (bit, fingerprint), nothing corpus-sized crosses. */
  def bloomGate(incoming: DataFrame, indexed: DataFrame,
                k: Int = 4, m: Int = 4096): DataFrame =
    bloomGateAgainstBits(incoming, bloomBitSet(indexed, k, m),
      indexed.select(md5(col("text")).as("fp")).distinct(), k, m)

  /** [[bloomGate]]'s serve form: the bit set (and the truth
    * fingerprints for the audit columns) arrive as STORED tables —
    * production drops the `truth` join and keeps only the verdict.
    * The verdict counts DISTINCT matched probe indices, so a stored
    * `bits` table with duplicate rows (e.g. a raw shard union that
    * skipped [[bloomMergeBits]]'s distinct) cannot overcount a probe
    * and flip a genuine duplicate to a false negative. */
  def bloomGateAgainstBits(incoming: DataFrame, bits: DataFrame,
                           truth: DataFrame, k: Int = 4,
                           m: Int = 4096): DataFrame = {
    val incFp = incoming.select(col("doc_id"), md5(col("text")).as("fp"))
    val verdict = incFp
      .select(col("doc_id"), col("fp"),
        posexplode(bloomBits(col("fp"), k, m)).as(Seq("i", "bit")))
      .join(bits.withColumn("present", lit(1L)), Seq("bit"), "left")
      .groupBy(col("doc_id"), col("fp"))
      .agg((countDistinct(when(col("present").isNotNull, col("i")))
        === k).as("bloom_hit"))
    verdict.join(truth.withColumn("m", lit(true)), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("bloom_hit"),
        coalesce(col("m"), lit(false)).as("is_dup"))
  }

  /** [[survivorMap]] over PRECOMPUTED (doc_id, cluster) labels — the
    * cluster-once / derive-many form, like [[dupStatsFromLabels]]. */
  def survivorMapFromLabels(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster").as("canonical_id"),
        when(col("doc_id") === col("cluster"), 1L).otherwise(0L)
          .as("is_canonical"),
        col("cluster_size"))
  }
}
