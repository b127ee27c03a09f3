package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY §2 X2):
  * brute-force cosine top-k as the exact baseline, plus two scale
  * paths — random-hyperplane LSH bucketing and IVF cells.
  *
  * Scale design: the brute-force variant is O(|Q|·N) with the query
  * set broadcast (fine for small query batches, the verification
  * baseline); LSH/IVF prune the candidate set so the crossJoin touches
  * only one bucket/cell — at 100 TB the bucket id becomes the shuffle
  * key and each cell is processed independently.
  *
  * Float determinism: embeddings are float32 in parquet; both engines
  * cast to double (exact) and fold dot products in array order, so
  * cosines are bit-identical with the DuckDB oracle. Outputs still
  * round to 6 decimals as belt-and-braces.
  */
object Similarity {

  import graft.functions.DotProduct.dot_product

  /** Embedding as double array plus its L2 norm — one narrow pass. The
    * norm is the codegen'd DotProduct of the vector with itself (same
    * sequential fold as the DuckDB oracle's list_reduce). */
  private def withVec(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))

  /** Sequential-fold dot product via the native codegen expression —
    * no intermediate zipped array per pair (see graft.functions
    * .DotProduct; the higher-order zip_with+aggregate form allocates
    * one array per scored pair, which dominates O(n²) scoring). */
  private def dot(a: Column, b: Column): Column = dot_product(a, b)

  /** Cosine with a zero-norm guard: a zero vector has no direction, so
    * its pairs score null and drop out of top-k (aggregates skip
    * nulls) instead of throwing DIVIDE_BY_ZERO under ANSI mode. */
  private def cosine(d: Column, n1: Column, n2: Column): Column = {
    val den = n1 * n2
    d / when(den =!= 0.0, den)
  }

  /** Brute-force ANN over any (vec_id, v: array<double>) frame —
    * shared by the embedding-table path and the multimodal media-search
    * composition. */
  def annOnVectors(vectors: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val all = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
    topKPerGroup(scored, k)
  }

  /** X2 brute-force ANN: top-k neighbors by cosine for each query
    * vector (vec_id < nQueries), deterministic tie-break on neighbor
    * id. Query side is broadcast; the big side streams. Per-group
    * selection runs through the TopKByScore TypedImperativeAggregate:
    * partial aggregation bounds map-side state to O(k) per query and
    * ships k rows per (partition, query) through the shuffle — the
    * window row_number() formulation would shuffle and sort EVERY
    * scored candidate. */
  def annBruteForce(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame =
    annOnVectors(withVec(embeddings).select(col("vec_id"), col("v")), nQueries, k)

  /** X2 DIVERSIFIED top-k: at most one result per label class — the
    * retrieval-diversity constraint (RAG pipelines dedup near-identical
    * chunks/classes in a result page; recommenders cap per-category
    * slots). Two-stage argmax: a per-(query,label) champion via the
    * `max_by` struct rule (raw cosine then smaller-id — cosines are
    * fold-identical across engines, so raw comparison is safe), then a
    * rank over champions. The rank window partitions an already
    * aggregated frame bounded by |Q|·|labels| rows — the house
    * no-window-over-raw rule — while champion selection itself is a
    * hash aggregation over the full scored stream, partial-agg
    * friendly, never a sort.
    *
    * 100 TB: same O(|Q|·N) scored stream as [[annBruteForce]] (the
    * scale path would swap in LSH/IVF candidate generation upstream);
    * the diversity stage adds ONE map-side-combined aggregation, no
    * extra shuffle of the corpus. */
  def annDiverse(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val all = withVec(embeddings)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val champs = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("label"), col("vec_id").as("n_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
      .groupBy(col("q_id"), col("label"))
      .agg(max_by(struct(col("n_id"), col("cos")),
        struct(col("cos"), -col("n_id"))).as("best"))
      .select(col("q_id"), col("label"), col("best.n_id").as("n_id"),
        col("best.cos").as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    champs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("label"), col("n_id"),
        round(col("cos"), 6).as("cos"), col("rank").cast("int").as("rank"))
  }

  /** Rounds exactly like Spark/DuckDB `round(x, 6)` (half away from
    * zero) so driver-side selection ties break identically. */
  private[operators] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** X2 near-dup flavor: globally most-similar k pairs (a < b) —
    * exact, distributed, nothing collected to the driver.
    *
    * Exact all-pairs scoring is O(n²·d) compute no matter how it is
    * organized; what must NOT scale with n is per-node memory. The
    * vector set is hashed into `nBlocks` blocks and every unordered
    * block pair becomes one task: a row in block b ships to block
    * pairs (b, j≥b) as the left side and (i<b, b) as the right, so
    * each pair of vectors meets in exactly one task. Per-task memory
    * is 2n/B vectors (pick B so a block pair fits an executor; the
    * shuffle volume is n·B rows), and the O(n²) dot products spread
    * over B(B+1)/2 independent tasks. Candidate pruning CANNOT replace
    * exact scoring here: on an unstructured corpus (max pair cosine
    * ~0.4) sign-LSH at any table count either misses top-20 pairs with
    * material probability or generates ~all pairs as candidates — the
    * approximate scale path is [[annLsh]], and this operator is the
    * exact answer.
    *
    * The heap orders by ROUNDED cosine (then ids) — the same key the
    * SQL oracle sorts by; raw-cosine ordering could select a different
    * boundary pair when two cosines agree to 6 decimals. The dot/norm
    * arithmetic is the same sequential fold as DotProduct, so scores
    * are bit-identical to the plan-based operators. */
  /** Block-pair replication for distributed exact all-pairs scoring: a
    * row in block b is the LEFT side of block pairs (b, j≥b) and the
    * RIGHT side of (i<b, b), so every unordered vector pair meets in
    * exactly one (gi, gj) group. */
  private def blockedTagged(embeddings: DataFrame, nBlocks: Int)
      : org.apache.spark.sql.Dataset[(Int, Int, Long, Array[Double], Double)] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val B = nBlocks
    withVec(embeddings).select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .flatMap { case (id, v, nrm) =>
        val b = (id % B).toInt
        (b until B).iterator.map(j => (b, j, id, v, nrm)) ++
          (0 until b).iterator.map(i => (i, b, id, v, nrm))
      }
  }

  /** Split a block-pair group into primitive-array sides (left =
    * block gi, right = block gj; a diagonal group returns the left
    * side as both). Shared preamble of the blocked scorers so the
    * block-pair bookkeeping lives in exactly one place. */
  private def groupSides(gi: Int, gj: Int, nBlocks: Int,
      it: Iterator[(Int, Int, Long, Array[Double], Double)])
    : (Array[Long], Array[Array[Double]], Array[Double],
       Array[Long], Array[Array[Double]], Array[Double]) = {
    val lb = new scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)]
    val rb = new scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)]
    it.foreach { case (_, _, id, v, nrm) =>
      if ((id % nBlocks).toInt == gi) lb += ((id, v, nrm)) else rb += ((id, v, nrm))
    }
    val (lIds, lVecs, lNrms) =
      (lb.map(_._1).toArray, lb.map(_._2).toArray, lb.map(_._3).toArray)
    if (gi == gj) (lIds, lVecs, lNrms, lIds, lVecs, lNrms)
    else (lIds, lVecs, lNrms,
      rb.map(_._1).toArray, rb.map(_._2).toArray, rb.map(_._3).toArray)
  }

  def cosinePairsTopK(embeddings: DataFrame, k: Int = 20, nBlocks: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val B = nBlocks
    val tagged = blockedTagged(embeddings, nBlocks)
    // "best" = highest cos, then smallest ids; under pairOrd the PQ max
    // (its head) is therefore the WORST kept pair — the eviction victim.
    val pairOrd: Ordering[(Double, Long, Long)] =
      Ordering.Tuple3(Ordering[Double].reverse, Ordering[Long], Ordering[Long])
    val local = tagged.groupByKey(r => (r._1, r._2)).flatMapGroups {
        (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double], Double)]) =>
      val (gi, gj) = key
      val (lIds, lVecs, lNrms, bIds, bVecs, bNrms) = groupSides(gi, gj, B, it)
      val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Long)](pairOrd)
      // worst kept pair mirrored in locals to keep the eviction test
      // allocation-free
      var wc = Double.NegativeInfinity; var wa = Long.MaxValue; var wb = Long.MaxValue
      def syncWorst(): Unit = { val t = heap.head; wc = t._1; wa = t._2; wb = t._3 }
      var i = 0
      while (i < lIds.length) {
        val av = lVecs(i); val an = lNrms(i)
        var j = if (gi == gj) i + 1 else 0
        while (j < bIds.length) {
          val bv = bVecs(j)
          var acc = 0.0
          var d = 0
          val n = math.min(av.length, bv.length)
          while (d < n) { acc += av(d) * bv(d); d += 1 }
          val den = an * bNrms(j)
          val raw = acc / den
          // den == 0 → zero-norm vector, pair has no cosine (matches
          // the null-scoring guard in the plan-based operators);
          // round6 allocates a BigDecimal — only pay it for pairs
          // that could enter the heap (rounding moves a value by at
          // most 5e-7, so raw < wc - 1e-6 can never round up to ≥ wc)
          if (den != 0.0 && (heap.size < k || raw >= wc - 1e-6)) {
            val c = round6(raw)
            val aId = math.min(lIds(i), bIds(j)); val bId = math.max(lIds(i), bIds(j))
            if (heap.size < k) { heap.enqueue((c, aId, bId)); syncWorst() }
            else if (c > wc || (c == wc && (aId < wa || (aId == wa && bId < wb)))) {
              heap.dequeue(); heap.enqueue((c, aId, bId)); syncWorst()
            }
          }
          j += 1
        }
        i += 1
      }
      heap.iterator
    }
    local.toDF("cos", "a_id", "b_id")
      .orderBy(col("cos").desc, col("a_id"), col("b_id")).limit(k)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** All pairs with ROUNDED cosine ≥ tau — the threshold flavor of the
    * blocked exact scorer (same block-pair task structure, no heap;
    * output size is data-dependent, so no driver state at all). The
    * threshold compares the 6-decimal rounded cosine, the same value
    * the oracle filters on, so boundary pairs land identically on both
    * engines. */
  def cosinePairsThreshold(embeddings: DataFrame, tau: Double,
                           nBlocks: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val B = nBlocks
    val tagged = blockedTagged(embeddings, nBlocks)
    val local = tagged.groupByKey(r => (r._1, r._2)).flatMapGroups {
        (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double], Double)]) =>
      val (gi, gj) = key
      val (lIds, lVecs, lNrms, bIds, bVecs, bNrms) = groupSides(gi, gj, B, it)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]
      var i = 0
      while (i < lIds.length) {
        val av = lVecs(i); val an = lNrms(i)
        var j = if (gi == gj) i + 1 else 0
        while (j < bIds.length) {
          val bv = bVecs(j)
          var acc = 0.0
          var d = 0
          val n = math.min(av.length, bv.length)
          while (d < n) { acc += av(d) * bv(d); d += 1 }
          val den = an * bNrms(j)
          // round only near-threshold candidates (rounding moves a
          // value by < 1e-6); zero-norm vectors score no pair
          if (den != 0.0 && acc / den >= tau - 1e-6) {
            val c = round6(acc / den)
            if (c >= tau)
              out += ((math.min(lIds(i), bIds(j)), math.max(lIds(i), bIds(j)), c))
          }
          j += 1
        }
        i += 1
      }
      out.iterator
    }
    local.toDF("a_id", "b_id", "cos")
  }

  /** X4 embedding-cosine near-dup DEDUP decision: drop every vector
    * that has a more-senior (lower-id) near-duplicate at cosine ≥ tau;
    * survivors are the seniority-greedy representative set. One-pass
    * semantics (NOT transitive closure): deterministic, oracle-exact,
    * and the standard first-seen-wins rule of large-scale dedup. */
  def embeddingDedup(embeddings: DataFrame, tau: Double = 0.38): DataFrame = {
    val drops = cosinePairsThreshold(embeddings, tau)
      .select(col("b_id")).distinct()
    embeddings.select(col("vec_id"))
      .join(drops, col("vec_id") === col("b_id"), "left_anti")
  }

  /** Number of LSH hash tables (OR-amplification factor). Measured
    * recall@3 on the uniform-random corpus (LSH's worst case — no
    * cluster structure): 0.62 with 8×4-bit tables, 0.50 with 4, 0.08
    * with a single 8-bit table. More tables buy recall linearly in
    * candidate cost. */
  val NumTables = 8

  /** Random-hyperplane LSH, NumTables tables × 4 sign bits (OR-amplification:
    * a candidate matches if it shares a bucket in ANY table — single
    * wide tables prune recall to nothing, many narrow tables recover
    * it; this is the standard multi-table construction). Hyperplane
    * components come from a fixed LCG-style integer formula so the
    * oracle reproduces them exactly:
    * hp(p,d) = ((1103515245·(64p+d) + 12345) mod 2^31) / 2^31 − 0.5,
    * plane p = table·4 + bit. All 32 sign bits come from ONE compiled
    * kernel expression (graft.functions.LshBuckets) — the previous
    * form inlined 32 DotProducts against 64-element literal arrays,
    * which generated thousands of janino lines per operator and paid
    * seconds of codegen compile; the interpreted higher-order lambda
    * before that was per-row interpreted and dominated the query. */
  private def bucketsCol: Column =
    graft.functions.TextSignatureColumns.lsh_buckets(col("v"), NumTables, 4, 64)

  /** X2 LSH-bucketed ANN: queries (vec_id < nQueries) retrieve top-k by
    * cosine among vectors sharing a bucket in at least one of the 4
    * tables. Candidate generation is a hash join on (table, bucket) +
    * distinct — never a crossJoin; at scale each (table, bucket) cell
    * is an independent partition of work. */
  def annLsh(embeddings: DataFrame, nQueries: Int = 20, k: Int = 3): DataFrame =
    annLshOnVectors(withVec(embeddings).select(col("vec_id"), col("v")), nQueries, k)

  /** Single-bit probe masks for query-side multi-probe: a query probes
    * its own bucket plus the 4 buckets at Hamming distance 1 (one sign
    * bit flipped). A near neighbor lands in a flipped bucket exactly
    * when ONE hyperplane narrowly disagrees — the most likely miss —
    * so per-table match probability rises from p⁴ to p⁴ + 4p³(1−p).
    * Measured recall@3 on the uniform-random corpus: 0.62 → 0.90.
    * Crucially the INDEX side is untouched (still 8 tables): the same
    * recall from more tables would double the indexed rows at 100 TB,
    * whereas multi-probe only multiplies the tiny query frame by 5. */
  private val ProbeMasks = Seq(0, 1, 2, 4, 8)

  /** X2 brute-force MAX-INNER-PRODUCT top-k — the retrieval metric
    * recommenders and learned-sparse rankers need where magnitude
    * carries signal (cosine deliberately erases it): per query
    * (vec_id < nQueries), the k corpus vectors maximizing the RAW dot
    * product. Same O(|Q|·N) broadcast-query scored stream and O(k)
    * heap aggregation as [[annBruteForce]]; dots fold sequentially so
    * scores are engine-identical, output rounded, ties on id. */
  def mipsBruteForce(embeddings: DataFrame, nQueries: Int = 20,
                     k: Int = 5): DataFrame =
    mipsOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      nQueries, k)

  /** [[mipsBruteForce]] over any (vec_id, v: array<double>) frame —
    * the modality-agnostic exact-MIPS leg ([[annOnVectors]]'s twin for
    * the dot-product metric), the ground truth the SQ recall gates
    * measure against on EVERY source distribution. */
  def mipsOnVectors(vectors: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = vectors.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = vectors.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        dot(col("qv"), col("v")).as("cos"))
    topKPerGroup(scored, k).withColumnRenamed("cos", "dp")
  }

  /** X2 bucketed MIPS — the scale path: Neyshabur-Srebro norm
    * augmentation reduces max-inner-product to cosine, then the house
    * sign-LSH index applies. Corpus vectors append
    * `sqrt(M² − ‖v‖²)` as a 65th component (M = max corpus norm);
    * queries append 0. Under that lift, cosine order over augmented
    * vectors = dot-product order over the originals — and because
    * sign hashes are invariant to positive scaling, the UNSCALED lift
    * hashes into identical buckets with zero per-element work (one
    * sqrt per row, no interpreted transform; the augmented plane set
    * is the same LCG formula at dim = 65). Query-side multi-probe and
    * candidate generation mirror [[annLsh]]; candidates score by raw
    * dot of the ORIGINAL vectors. The M aggregate is one broadcast
    * scalar — at 100 TB it is the stored index's metadata, not a
    * per-query job. */
  def mipsLsh(embeddings: DataFrame, nQueries: Int = 20, k: Int = 3): DataFrame =
    mipsLshOnBucketIndex(embeddings, mipsBucketIndex(embeddings), nQueries, k)

  private def mipsAugBuckets(df: DataFrame): DataFrame = df
    .withColumn("bkts",
      graft.functions.TextSignatureColumns.lsh_buckets(col("av"), NumTables, 4, 65))
    .select(col("vec_id"), posexplode(col("bkts")))
    .toDF("vec_id", "tbl", "bucket")

  /** The STORED MIPS bucket index — the augmented-lift sign-hash table
    * a resident pipeline materializes once per corpus generation
    * (M, the max corpus norm, exists only inside this build; the
    * query-side lift appends 0, so serving needs no corpus statistics
    * at all). Same 8·N slim-row shape as [[lshBucketIndex]]. */
  def mipsBucketIndex(embeddings: DataFrame): DataFrame = {
    val vn = withVec(embeddings).select(col("vec_id"), col("v"), col("nrm"))
    val m = vn.agg(max(col("nrm")).as("m"))
    mipsAugBuckets(vn.crossJoin(broadcast(m))
      .select(col("vec_id"), concat(col("v"), array(sqrt(greatest(lit(0.0),
        col("m") * col("m") - col("nrm") * col("nrm"))))).as("av")))
  }

  /** [[mipsLsh]] answered from a STORED [[mipsBucketIndex]]: queries
    * lift with a 0 appended and hash fresh (no corpus statistic
    * needed), multi-probe the stored table, and only the
    * O(candidates) raw-dot scoring join touches vectors — the serve ≡
    * self-contained contract (`x2_mips_lsh_serve` shares the oracle
    * by reference). */
  def mipsLshOnBucketIndex(embeddings: DataFrame, buckets: DataFrame,
                           nQueries: Int = 20, k: Int = 3): DataFrame = {
    val vn = withVec(embeddings).select(col("vec_id"), col("v"))
    val qp = mipsAugBuckets(vn.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), concat(col("v"), array(lit(0.0))).as("av")))
      .withColumn("fl", explode(typedLit(ProbeMasks)))
      .select(col("vec_id").as("q_id"), col("tbl"),
        col("bucket").bitwiseXOR(col("fl")).as("bucket"))
    val cands = buckets.join(qp, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
    val scored = cands
      .join(vn.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(vn.select(col("vec_id").as("n_id"), col("v")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), dot(col("qv"), col("v")).as("cos"))
    topKPerGroup(scored, k).withColumnRenamed("cos", "dp")
  }

  /** X2 MIPS recall audit — the measure-don't-guess gate for the
    * augmented-LSH index ([[lshRecallReport]]'s counterpart for the
    * dot-product metric): per query, how many of the brute-force
    * top-k by raw dot the bucketed search returns. One (q_id, n_id)
    * equi join of two k·nQueries frames; the oracle replays both
    * chains inside the comparison. */
  def mipsRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                       k: Int = 3): DataFrame = {
    val exact = mipsBruteForce(embeddings, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = mipsLsh(embeddings, nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** LSH-bucketed ANN over any (vec_id, v: array<double>) frame —
    * shared by the embedding-table path and the multimodal
    * media-search composition (embed → bucketed retrieval). */
  def annLshOnVectors(vectors: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val vn = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    annLshCore(vn, bucketTableOf(vn), nQueries, k)
  }

  /** The (vec_id, tbl, bucket) sign-hash table of a vector frame.
    * NOT pre-shuffled on the bucket key: every consumer joins it
    * against a BROADCAST query/probe side (the query batch is bounded
    * by construction), so a hash exchange here is a full shuffle of
    * the index that no downstream operator requires — at 100 TB that
    * was the single largest avoidable data movement in the LSH serve
    * plans (storage bucketing is a WRITE-time layout concern, not a
    * query-plan step). Round 21 measured the exchange at ~1 wasted
    * shuffle of 8·N rows per LSH query with zero plan benefit. */
  private def bucketTableOf(vn: DataFrame): DataFrame =
    vn.withColumn("bkts", bucketsCol)
      .select(col("vec_id"), posexplode(col("bkts")))
      .toDF("vec_id", "tbl", "bucket")

  /** The STORED LSH bucket index — the [[Dedup.bandIndex]] discipline
    * for vectors: a resident pipeline materializes this 8-table
    * sign-hash frame once per corpus generation, and every later
    * query batch probes it through [[annLshOnBucketIndex]] with NO
    * corpus re-hash in the search plan. One row per (vector, table):
    * 8·N slim rows regardless of dimensionality. */
  def lshBucketIndex(embeddings: DataFrame): DataFrame =
    lshBucketIndexOnVectors(withVec(embeddings).select(col("vec_id"), col("v")))

  /** The LSH SERVE path — [[annLsh]] answered from a STORED
    * [[lshBucketIndex]]: the query side derives its probe buckets by
    * filtering the stored table (queries are indexed vectors here, as
    * in the self-contained form), multi-probes Hamming-1 neighbors,
    * and only the O(candidates) scoring join touches raw vectors.
    * Must equal [[annLsh]] exactly — the oracle is shared by
    * reference (`x2_ann_lsh_serve`), the same serve ≡ self-contained
    * contract as `x2_ann_ivf_serve`. */
  def annLshOnBucketIndex(embeddings: DataFrame, buckets: DataFrame,
                          nQueries: Int = 20, k: Int = 3): DataFrame =
    annLshOnBucketIndexVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      buckets, nQueries, k)

  /** [[lshBucketIndex]] over any (vec_id, v: array<double>) frame —
    * the stored media bucket table (`x5_mm_search_lsh_serve`'s
    * artifact). */
  def lshBucketIndexOnVectors(vectors: DataFrame): DataFrame =
    bucketTableOf(vectors.withColumn("nrm",
      sqrt(dot_product(col("v"), col("v")))))

  /** [[annLshOnBucketIndex]] over any (vec_id, v) frame — the
    * modality-agnostic LSH serve form the media retrieval path
    * composes. */
  def annLshOnBucketIndexVectors(vectors: DataFrame, buckets: DataFrame,
                                 nQueries: Int, k: Int): DataFrame =
    annLshCore(vectors.withColumn("nrm",
        sqrt(dot_product(col("v"), col("v")))),
      buckets, nQueries, k)

  private def annLshCore(vn: DataFrame, buckets: DataFrame,
                         nQueries: Int, k: Int): DataFrame =
    topKPerGroup(lshScoredCandidates(vn, buckets, nQueries), k)

  /** Shared LSH candidate generation + exact scoring: multi-probe
    * bucket join, dedup, cosine over the candidate pairs only. */
  private def lshScoredCandidates(vn: DataFrame, buckets: DataFrame,
                                  nQueries: Int): DataFrame = {
    val q = buckets.filter(col("vec_id") < nQueries)
      .withColumn("fl", explode(typedLit(ProbeMasks)))
      .select(col("vec_id").as("q_id"), col("tbl"),
        col("bucket").bitwiseXOR(col("fl")).as("bucket"))
    val cands = buckets.join(q, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
    cands
      .join(vn.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn")), Seq("q_id"))
      .join(vn.select(col("vec_id").as("n_id"), col("v"), col("nrm")), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
  }

  /** X2 bucketed RANGE search — [[rangeSearch]]'s radius semantics
    * answered through the LSH index: only the multi-probe candidate
    * set scores, then the rounded-cosine radius filters. Output ⊆ the
    * brute-force range set (missed-bucket pairs are the recall cost,
    * exactly the [[lshRecallReport]] trade) — at 100 TB this is the
    * only affordable radius scan, and dedup radius queries tolerate
    * bounded recall loss by design. */
  def rangeSearchLsh(embeddings: DataFrame, minCos: Double = 0.25,
                     nQueries: Int = 20): DataFrame = {
    val vn = withVec(embeddings)
    rangeLshCore(vn, bucketTableOf(vn), minCos, nQueries)
  }

  /** [[rangeSearchLsh]]'s SERVE path — the radius answered from a
    * STORED [[lshBucketIndex]], no corpus re-hash in the search plan
    * (the [[annLshOnBucketIndex]] contract applied to range
    * semantics). `x2_range_lsh_serve` shares `x2_range_lsh`'s oracle
    * by reference. */
  def rangeSearchLshOnBuckets(embeddings: DataFrame, buckets: DataFrame,
                              minCos: Double = 0.25,
                              nQueries: Int = 20): DataFrame =
    rangeLshCore(withVec(embeddings).select(col("vec_id"), col("v"), col("nrm")),
      buckets, minCos, nQueries)

  private def rangeLshCore(vn: DataFrame, buckets: DataFrame,
                           minCos: Double, nQueries: Int): DataFrame =
    lshScoredCandidates(vn, buckets, nQueries)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"))
      .filter(col("cos") >= minCos)

  /** X2 RANGE-search recall audit — the measure-don't-guess gate for
    * the radius path ([[lshRecallReport]]'s counterpart for
    * SET-valued retrieval): per query, the brute radius set's size
    * (`n_true`), how many of it the bucketed search returns
    * (`n_found` — precision is 1.0 BY CONSTRUCTION since the LSH
    * radius set is a subset of the brute one: same rounded-cosine
    * threshold over a candidate subset), and the recall ratio (NULL
    * when the radius set is empty — nothing to recall). Range
    * semantics are the dedup-facing API where silent recall loss
    * hurts most, so this report is the pre-flight before
    * [[rangeSearchLsh]] replaces [[rangeSearch]]. One (q_id, n_id)
    * equi join of two radius frames + the query-id left join so every
    * query reports a row. */
  def rangeRecallReport(embeddings: DataFrame, minCos: Double = 0.25,
                        nQueries: Int = 20): DataFrame = {
    val exact = rangeSearch(embeddings, minCos, nQueries)
      .select(col("q_id"), col("n_id"))
    val approx = rangeSearchLsh(embeddings, minCos, nQueries)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    val agg = exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
    embeddings.filter(col("vec_id") < nQueries).select(col("vec_id").as("q_id"))
      .join(agg, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        when(coalesce(col("n_true"), lit(0L)) > 0,
          round(col("n_found").cast("double") / col("n_true").cast("double"), 4))
          .as("recall"))
  }

  /** X2 LSH INDEX-HEALTH report — per hash table, how the corpus
    * spreads over buckets: buckets in use, vectors, max bucket load,
    * mean load. The pre-flight for every bucket-join above: a table
    * whose mass piles into one bucket (the media-embed centering
    * lesson: 69% of sf0.1 media vectors in ONE cell before centering)
    * turns the candidate join quadratic, and THIS report is how that
    * is caught before the join runs. All integers except the one
    * display division. Two partial+final aggregations — (tbl, bucket)
    * loads, then O(tables) rows out; the corpus is hashed once. */
  def lshBucketStats(embeddings: DataFrame): DataFrame =
    lshBucketStatsOnVectors(withVec(embeddings).select(col("vec_id"), col("v")))

  /** [[lshBucketStats]] over any (vec_id, v: array<double>) frame —
    * the media index's occupancy pre-flight (`x5_mm_bucket_stats`):
    * the modality where the one-bucket collapse actually happened. */
  def lshBucketStatsOnVectors(vectors: DataFrame): DataFrame =
    bucketTableOf(vectors)
      .groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("n"))
      .groupBy(col("tbl").cast("long").as("tbl"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_vecs"),
        max(col("n")).as("max_load"),
        round(sum(col("n")).cast("double") / count(lit(1)), 4).as("mean_load"))

  /** X2 ANN RECALL audit — per query, how many of the LSH index's
    * top-k survive against the brute-force ground truth (the
    * "measure, don't guess" gate every approximate index needs before
    * it replaces an exact path; the spec-level recall floor samples,
    * this exports the full per-query report as a verifiable table).
    * Both rankings use the house rule (raw cosine, id tie-break), so
    * hits are an exact set intersection — one (q_id, n_id) equi join
    * of two k·nQueries-row frames, O(queries) output. At scale the
    * ground-truth side runs on a SAMPLE of queries (nQueries bounds
    * it); the index side is the same bucketed plan production uses. */
  def lshRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                      k: Int = 3): DataFrame =
    lshRecallReportOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")), nQueries, k)

  /** [[lshRecallReport]] over any (vec_id, v: array<double>) frame —
    * the media index's recall audit (`x5_mm_recall`), run on the SAME
    * vectors and hyperplanes the media LSH search uses so the number
    * is the one production would see. */
  def lshRecallReportOnVectors(vectors: DataFrame, nQueries: Int = 20,
                               k: Int = 3): DataFrame = {
    val exact = annOnVectors(vectors, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = annLshOnVectors(vectors, nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** X2 RANKING-quality audit — [[lshRecallReport]] counts WHICH exact
    * neighbors the bucketed search returns; this grades WHERE they
    * land. Per query: graded recall (each exact top-k item carries
    * gain k−rank+1, so losing the exact-rank-1 neighbor costs k× a
    * rank-k miss; normalized by the max gain k(k+1)/2) and MRR (the
    * reciprocal of the best approx rank holding ANY exact top-k item —
    * "how far down the returned list is the first right answer", the
    * standard retrieval-eval companion to recall). Gains are small
    * integers and rr an exact rational, so both metrics are drift-free
    * across engines — an nDCG log2 discount would put libm `log2` in
    * the comparison path (the house ulp rule) while carrying the same
    * signal at k=3. Cost: the two searches plus one k·nQueries-row
    * equi join; at 100 TB the brute side is the same query-sample
    * audit bound as [[lshRecallReport]]. */
  def lshRankQualityReport(embeddings: DataFrame, nQueries: Int = 20,
                           k: Int = 3): DataFrame =
    rankQualityOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")), nQueries, k)

  /** [[lshRankQualityReport]] over any (vec_id, v: array<double>)
    * frame — the media index's ranking audit (`x5_mm_rank_quality`),
    * run on the SAME vectors and hyperplanes the media LSH search
    * uses (the [[lshRecallReportOnVectors]] pattern). */
  def rankQualityOnVectors(vectors: DataFrame, nQueries: Int = 20,
                           k: Int = 3): DataFrame = {
    val exact = annOnVectors(vectors, nQueries, k)
      .select(col("q_id"), col("n_id"), col("rank").as("e_rank"))
    val approx = annLshOnVectors(vectors, nQueries, k)
      .select(col("q_id"), col("n_id"), col("rank").as("a_rank"))
    val gainSum = (k * (k + 1) / 2).toDouble
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_rank")).as("n_hits"),
        round(sum(when(col("a_rank").isNotNull, lit(k + 1) - col("e_rank"))
            .otherwise(lit(0))).cast("double") / lit(gainSum), 4)
          .as("graded_recall"),
        round(coalesce(lit(1.0) / min(col("a_rank")), lit(0.0)), 6).as("mrr"))
  }

  /** X2 PROBE-BUDGET TUNING CURVE — recall@k as a function of how many
    * probe masks the multi-probe search spends, from ONE candidate
    * pass: each (query, candidate) keeps the CHEAPEST probe index that
    * reaches it (a bucket hit under the identity probe is hit under
    * every larger budget), so the whole curve is a conditional count
    * per budget over the k·nQueries exact pairs — "how many probes do
    * I actually need" answered by measurement, without re-running the
    * search once per budget. Monotone by construction; n_probes = 1
    * is the no-probe (identity-bucket) search and n_probes = 5
    * reproduces [[lshRecallReport]]'s hit total exactly (spec-pinned).
    * Cost: the production bucket join once + the brute ground truth
    * on the bounded query sample. */
  def lshProbeCurve(embeddings: DataFrame, nQueries: Int = 20,
                    k: Int = 3): DataFrame =
    probeCurveOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")), nQueries, k)

  /** [[lshProbeCurve]] over any (vec_id, v: array<double>) frame —
    * the media index's tuning curve (`x5_mm_probe_curve`), run on the
    * SAME vectors and hyperplanes the media LSH search uses (the
    * [[lshRecallReportOnVectors]] pattern). */
  def probeCurveOnVectors(vectors: DataFrame, nQueries: Int,
                          k: Int): DataFrame = {
    val vn = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val buckets = bucketTableOf(vn)
    val q = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"),
        posexplode(typedLit(ProbeMasks)))
      .select(col("q_id"), col("tbl"),
        col("bucket").bitwiseXOR(col("col")).as("bucket"), col("pos").as("m_idx"))
    val cm = buckets.join(q, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(min(col("m_idx")).as("min_idx"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("min_idx"))
    annOnVectors(vectors, nQueries, k).select(col("q_id"), col("n_id"))
      .join(cm, Seq("q_id", "n_id"), "left")
      .withColumn("m", explode(typedLit((1 to ProbeMasks.size).toList)))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("min_idx") < col("m"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("m").cast("long").as("n_probes"), col("n_true"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
  }

  /** X2 IVF recall audit — [[lshRecallReport]]'s counterpart for the
    * TRAINED-cell index: per query, how many of the brute-force top-k
    * the nProbe-cell IVF search returns. The recall/cost knob audit
    * (more probes or more training rounds → higher recall, more
    * candidates); run together with [[ivfInertia]] before an IVF
    * index replaces an exact path. `x2_ivf_recall` passes
    * [[ivfModelCached]]: the audit measures the trained index's
    * RECALL, not the training, so the shared deterministic Lloyd run
    * changes cost only ([[ivfPqRecallReport]]-style audits that PROVE
    * a training property keep their own runs). */
  def ivfRecallReportWithModel(embeddings: DataFrame,
                               cmodel: Seq[(Long, Seq[Double])],
                               nQueries: Int = 20, k: Int = 3,
                               nProbe: Int = 4): DataFrame = {
    val exact = annBruteForce(embeddings, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = annIvfWithCentroids(embeddings, cmodel, nQueries, k, nProbe)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** X2 IVF PROBE-BUDGET tuning curve — [[lshProbeCurve]]'s companion
    * for the trained-cell index: recall@k as a function of nProbe,
    * from ONE pass. The budget that first reaches an exact neighbor
    * is the RANK of its assigned cell in the query's centroid-cosine
    * cell ordering; an exact top-k neighbor that enters the candidate
    * pool always survives the pool's own exact-cosine top-k (its
    * global rank bounds its subset rank), so reached ⟺ hit and the
    * whole curve is a conditional count per budget over the
    * k·nQueries exact pairs. nProbe = `maxProbe` reproduces
    * [[ivfRecallReportWithModel]]'s hit total over the same model
    * exactly (spec-pinned) — the "probe more cells or train more
    * rounds?" knob answered by measurement. `x2_ivf_probe_curve`
    * passes [[ivfModelCached]]. */
  def ivfProbeCurveWithModel(embeddings: DataFrame,
                             centroids: Seq[(Long, Seq[Double])],
                             nQueries: Int = 20, k: Int = 3,
                             maxProbe: Int = 4): DataFrame = {
    val all = withVec(embeddings)
    val cellRank = rankProbeCells(all, centroids, nQueries)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"), col("arank"))
    val assigned = argmaxCell(all, centroids)
      .select(col("vec_id").as("n_id"), col("cell"))
    annBruteForce(embeddings, nQueries, k).select(col("q_id"), col("n_id"))
      .join(assigned, Seq("n_id"))
      .join(cellRank, Seq("q_id", "cell"))
      .withColumn("p", explode(typedLit((1 to maxProbe).toList)))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("arank") <= col("p"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("p").cast("long").as("n_probes"), col("n_true"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
  }

  /** Sign-LSH bucketed SELF-dedup over any (vec_id, v: array<double>)
    * frame: a vector is a duplicate iff some LOWER-id vector sharing a
    * bucket in ANY of the 8 tables reaches rounded cosine ≥ `tau`
    * (the [[embeddingDedup]] seniority rule with LSH candidate
    * generation instead of blocked all-pairs — the scale path when
    * even blocking is too much). Emits the dropped vectors with their
    * max-cosine senior (tie → lowest id). Candidates come from the
    * (table, bucket) equi join with the id-order predicate applied IN
    * the join, so each bucket cell is an independent, skew-bounded
    * unit of work; the bucket semantics are part of the operator's
    * contract (the oracle replays the same hyperplanes), so recall
    * misses are deterministic, not flaky.
    *
    * Unlike the SEARCH tables (8×4 bits, tuned for recall at moderate
    * cosine), dedup at near-exact tau wants WIDE tables: per-bit
    * agreement at cos 0.995 is ~0.97, so 16 bits still pass a true
    * dup ~60% per table and 4 tables OR up to ~0.97 recall — while
    * 2^16 buckets per table keep occupancy (and the quadratic
    * per-bucket pair cost) bounded. Vectors are mean-CENTERED
    * (v − `center`, inside the compiled kernel with oracle-identical
    * operand order) before hashing: an all-positive embedding family
    * otherwise never crosses a sign hyperplane and piles most of the
    * corpus into one bucket (measured: 69% of sf0.1 media embeddings
    * in a single 4-bit bucket; centering + 16 bits cuts raw candidate
    * pairs 28M → 0.14M, max occupancy 3437 → 80). Scoring still uses
    * the ORIGINAL vectors — translation is only a hashing device. */
  def lshDedupOnVectors(vectors: DataFrame, tau: Double,
                        nTables: Int = 4, bits: Int = 16,
                        center: Double = 0.5): DataFrame = {
    val vn = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val buckets = vn.withColumn("bkts",
        graft.functions.TextSignatureColumns.lsh_buckets(
          col("v"), nTables, bits, 64, center))
      .select(col("vec_id"), posexplode(col("bkts")))
      .toDF("vec_id", "tbl", "bucket")
    val cands = buckets
      .join(buckets.toDF("keep_id", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("keep_id") < col("vec_id"))
      .select(col("vec_id"), col("keep_id")).distinct()
    cands
      .join(vn.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(vn.select(col("vec_id").as("keep_id"), col("v").as("kv"),
        col("nrm").as("kn")), Seq("keep_id"))
      .select(col("vec_id"), col("keep_id"),
        round(cosine(dot(col("kv"), col("v")), col("kn"), col("nrm")), 6).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(max_by(col("keep_id"), struct(col("cos"), -col("keep_id"))).as("dup_of"),
        max(col("cos")).as("cos"))
      .select(col("vec_id"), col("dup_of"), col("cos"))
  }

  /** Incremental form of [[lshDedupOnVectors]] — flag INCOMING vectors
    * whose cosine to some vector of an already-indexed corpus reaches
    * tau, using the same wide centered tables (the dedup-tuned
    * construction, not the 8×4 search one). The continuous-ingestion
    * shape for media: tonight's assets land against the accepted
    * corpus; within-batch dups are [[lshDedupOnVectors]], cross-
    * generation matches are this join. The index side's buckets are
    * computed once per generation at scale (a stored (tbl, bucket)
    * table, [[Dedup.bandKeys]]'s pattern); only the batch is embedded
    * and hashed per run. Best match per flagged vector (max rounded
    * cosine, id tie-break). */
  def lshDedupAgainstIndexOnVectors(incoming: DataFrame, indexed: DataFrame,
                                    tau: Double, nTables: Int = 4,
                                    bits: Int = 16,
                                    center: Double = 0.5): DataFrame = {
    val idxV = dedupNorm(indexed)
    lshDedupAgainstStoredBuckets(incoming,
      dedupBucketize(idxV, nTables, bits, center)
        .toDF("match_id", "tbl", "bucket"),
      idxV, tau, nTables, bits, center)
  }

  private def dedupNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))

  private def dedupBucketize(df: DataFrame, nTables: Int, bits: Int,
                             center: Double): DataFrame =
    df.withColumn("bkts",
        graft.functions.TextSignatureColumns.lsh_buckets(
          col("v"), nTables, bits, 64, center))
      .select(col("vec_id"), posexplode(col("bkts")))
      .toDF("vec_id", "tbl", "bucket")

  /** The STORED wide centered bucket table of a vector corpus — the
    * per-generation index artifact [[lshDedupAgainstStoredBuckets]]
    * probes (one slim row per vector per table; at scale this — not
    * the raw vectors — is what each generation materializes, the
    * [[graft.streaming.RollingIndex]] discipline for vectors). */
  def lshDedupBucketIndex(vectors: DataFrame, nTables: Int = 4,
                          bits: Int = 16, center: Double = 0.5): DataFrame =
    dedupBucketize(dedupNorm(vectors), nTables, bits, center)
      .toDF("match_id", "tbl", "bucket")

  /** [[lshDedupAgainstIndexOnVectors]]'s SERVE form: the index side
    * arrives as the PRE-BUILT (match_id, tbl, bucket) table of
    * [[lshDedupBucketIndex]] plus the normalized (vec_id, v, nrm)
    * vector frame — nothing corpus-sized is re-hashed per call; only
    * the incoming batch is bucketized, and raw index vectors are
    * touched only by the O(candidates) scoring join. The rolling
    * generation gate ([[graft.streaming.RollingIndex.media]]) holds
    * exactly these two frames per generation. */
  def lshDedupAgainstStoredBuckets(incoming: DataFrame, idxBuckets: DataFrame,
                                   idxVectors: DataFrame, tau: Double,
                                   nTables: Int = 4, bits: Int = 16,
                                   center: Double = 0.5): DataFrame = {
    val incV = dedupNorm(incoming)
    val cands = dedupBucketize(incV, nTables, bits, center)
      .join(idxBuckets, Seq("tbl", "bucket"))
      .select(col("vec_id"), col("match_id")).distinct()
    cands
      .join(incV.select(col("vec_id"), col("v").as("qv"), col("nrm").as("qn")),
        Seq("vec_id"))
      .join(idxVectors.select(col("vec_id").as("match_id"), col("v"), col("nrm")),
        Seq("match_id"))
      .select(col("vec_id"), col("match_id"),
        round(cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")), 6).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(max_by(col("match_id"), struct(col("cos"), -col("match_id"))).as("dup_of"),
        max(col("cos")).as("cos"))
      .select(col("vec_id"), col("dup_of"), col("cos"))
  }

  /** X2 FILTERED vector search — top-k cosine neighbors restricted to
    * a metadata predicate (here: same `label`), the "WHERE clause on a
    * vector index" every retrieval stack needs. The filter lives IN
    * the candidate join key (tbl, bucket, label) — a label-partitioned
    * index — so a selective filter PRUNES candidate generation instead
    * of post-filtering scored pairs. Post-filtering is the classic
    * filtered-ANN bug: truncate to k first and a selective filter
    * leaves the top-k under-filled even though matching neighbors
    * exist; here every candidate already satisfies the predicate, so
    * k survivors surface whenever k bucket-mates exist. Query-side
    * Hamming-1 multi-probe and the O(k)-state heap aggregation are
    * exactly [[annLshOnVectors]]'s. */
  def annLshFiltered(embeddings: DataFrame, nQueries: Int = 20,
                     k: Int = 3): DataFrame =
    annLshFilteredOnIndex(embeddings, lshLabeledBucketIndex(embeddings),
      nQueries, k)

  /** The STORED labeled LSH bucket index — [[lshBucketIndex]] with the
    * filter attribute riding IN the row: one (vec_id, label, tbl,
    * bucket) row per (vector, table). The artifact the filtered serve
    * path probes; label is part of the bucket-join key there, so a
    * selective predicate shrinks candidates instead of starving a
    * post-filtered top-k (the vector-DB "filtered search"
    * discipline). */
  def lshLabeledBucketIndex(embeddings: DataFrame): DataFrame =
    lshLabeledBucketIndexOnVectors(withVec(embeddings))

  /** [[lshLabeledBucketIndex]] over any (vec_id, label, v) frame — the
    * media modality's labeled index (`x5_mm_search_filtered`: label =
    * the asset's language). */
  def lshLabeledBucketIndexOnVectors(vectors: DataFrame): DataFrame =
    vectors.withColumn("bkts", bucketsCol)
      .select(col("vec_id"), col("label"), posexplode(col("bkts")))
      .toDF("vec_id", "label", "tbl", "bucket")

  /** [[annLshFiltered]]'s SERVE path — answered from a STORED
    * [[lshLabeledBucketIndex]] with no corpus re-hash in the search
    * plan (the [[annLshOnBucketIndex]] contract for the filtered
    * leg); the query side derives probe buckets AND its label by
    * filtering the stored table. Must equal the self-contained form
    * exactly — shared oracle (`x2_ann_filtered_serve`). */
  def annLshFilteredOnIndex(embeddings: DataFrame, buckets: DataFrame,
                            nQueries: Int = 20, k: Int = 3): DataFrame =
    annLshFilteredOnIndexVectors(withVec(embeddings), buckets, nQueries, k)

  /** [[annLshFilteredOnIndex]] over any (vec_id, label, v) frame — the
    * modality-agnostic filtered search core the media retrieval path
    * composes (`x5_mm_search_filtered`). */
  def annLshFilteredOnIndexVectors(vectors: DataFrame, buckets: DataFrame,
                                   nQueries: Int = 20, k: Int = 3): DataFrame = {
    val vn = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = buckets.filter(col("vec_id") < nQueries)
      .withColumn("fl", explode(typedLit(ProbeMasks)))
      .select(col("vec_id").as("q_id"), col("label"), col("tbl"),
        col("bucket").bitwiseXOR(col("fl")).as("bucket"))
    val cands = buckets.join(q, Seq("tbl", "bucket", "label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
    val scored = cands
      .join(vn.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn")), Seq("q_id"))
      .join(vn.select(col("vec_id").as("n_id"), col("v"), col("nrm")),
        Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
    topKPerGroup(scored, k)
  }

  /** Brute-force top-k restricted to the query's OWN label — the
    * ground truth of the filtered-ANN audits. Label-keyed equi join
    * (a selective predicate shrinks the scored stream instead of the
    * crossJoin-then-filter shape); same raw-cos/id-tie-break rule. */
  private def filteredExactTopK(embeddings: DataFrame, nQueries: Int,
                                k: Int): DataFrame =
    filteredExactTopKOnVectors(withVec(embeddings), nQueries, k)

  /** [[filteredExactTopK]] over any (vec_id, label, v) frame. */
  private def filteredExactTopKOnVectors(vectors: DataFrame, nQueries: Int,
                                         k: Int): DataFrame = {
    val all = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = all.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
    topKPerGroup(scored, k).select(col("q_id"), col("n_id"), col("rank"))
  }

  /** [[lshFilteredRecallReport]] over any (vec_id, label, v) frame —
    * the media filtered leg's measure-don't-guess gate
    * (`x5_mm_filtered_recall`): same vectors, labels, and hyperplanes
    * the filtered media search uses. */
  def filteredRecallOnVectors(vectors: DataFrame, nQueries: Int,
                              k: Int): DataFrame = {
    val exact = filteredExactTopKOnVectors(vectors, nQueries, k)
    val approx = annLshFilteredOnIndexVectors(vectors,
        lshLabeledBucketIndexOnVectors(vectors), nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_true"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
  }

  /** X2 FILTERED-ANN RECALL audit — [[lshRecallReport]]'s counterpart
    * for the labeled index: per query, how many of the brute-force
    * top-k UNDER THE SAME LABEL PREDICATE the filtered search returns.
    * The filtered leg is exactly where recall can silently collapse —
    * a selective label thins every bucket's candidate population, so
    * unfiltered recall says nothing about it; this is the
    * measure-don't-guess gate for the "WHERE clause on a vector index"
    * path. n_true rides along because a rare label can hold fewer than
    * k same-label neighbors — recall normalizes by what exists, not by
    * k. Same one (q_id, n_id) equi join of two bounded frames; at
    * 100 TB the brute side is the query-sample audit, the approx side
    * the production labeled-bucket plan. */
  def lshFilteredRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                              k: Int = 3): DataFrame = {
    val exact = filteredExactTopK(embeddings, nQueries, k)
    val approx = annLshFiltered(embeddings, nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_true"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
  }

  /** X2 FILTERED probe-budget tuning curve — [[lshProbeCurve]]'s
    * one-pass min-probe-index trick on the LABELED index: each
    * (query, same-label candidate) keeps the cheapest probe mask that
    * reaches it, and the curve counts filtered-exact pairs reached per
    * budget. Reached ⟺ hit by the same subset-rank argument (a
    * filtered-exact top-k neighbor's rank within any same-label
    * candidate subset is bounded by its filtered-global rank ≤ k), so
    * no re-search per budget. The max budget reproduces
    * [[lshFilteredRecallReport]]'s hit total exactly (spec-pinned) —
    * "how many probes does the filtered path need" answered by
    * measurement, where a selective label makes extra probes matter
    * most. */
  def lshFilteredProbeCurve(embeddings: DataFrame, nQueries: Int = 20,
                            k: Int = 3): DataFrame =
    filteredProbeCurveOnVectors(withVec(embeddings), nQueries, k)

  /** [[lshFilteredProbeCurve]] over any (vec_id, label, v) frame — the
    * media filtered leg's tuning curve (`x5_mm_filtered_probe_curve`):
    * same vectors, labels, and hyperplanes the filtered media search
    * uses. */
  def filteredProbeCurveOnVectors(vectors: DataFrame, nQueries: Int,
                                  k: Int): DataFrame = {
    val buckets = lshLabeledBucketIndexOnVectors(vectors)
    val q = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label"), col("tbl"), col("bucket"),
        posexplode(typedLit(ProbeMasks)))
      .select(col("q_id"), col("label"), col("tbl"),
        col("bucket").bitwiseXOR(col("col")).as("bucket"), col("pos").as("m_idx"))
    val cm = buckets.join(q, Seq("tbl", "bucket", "label"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(min(col("m_idx")).as("min_idx"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("min_idx"))
    filteredExactTopKOnVectors(vectors, nQueries, k)
      .join(cm, Seq("q_id", "n_id"), "left")
      .withColumn("m", explode(typedLit((1 to ProbeMasks.size).toList)))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("min_idx") < col("m"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("m").cast("long").as("n_probes"), col("n_true"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
  }

  /** X2 FILTERED ranking-quality audit — [[rankQualityOnVectors]]'s
    * counterpart for the labeled leg, completing the filtered audit
    * set (recall + probe curve + ranking): per query, graded recall
    * over the SAME-LABEL ground truth and MRR of the filtered search.
    * Unlike the unfiltered audit, the normalizer is the query's OWN
    * max gain Σ(k−rank+1) over its filtered-exact rows — a rare label
    * can hold fewer than k same-label mates, and a fixed k(k+1)/2
    * floor would under-grade exactly those queries. Integer gains +
    * exact rationals, no libm in the comparison path. */
  def lshFilteredRankQuality(embeddings: DataFrame, nQueries: Int = 20,
                             k: Int = 3): DataFrame =
    filteredRankQualityOnVectors(withVec(embeddings), nQueries, k)

  /** [[lshFilteredRankQuality]] over any (vec_id, label, v) frame —
    * the media filtered leg's ranking audit
    * (`x5_mm_filtered_rank_quality`). */
  def filteredRankQualityOnVectors(vectors: DataFrame, nQueries: Int,
                                   k: Int): DataFrame = {
    val exact = filteredExactTopKOnVectors(vectors, nQueries, k)
      .select(col("q_id"), col("n_id"), col("rank").as("e_rank"))
    val approx = annLshFilteredOnIndexVectors(vectors,
        lshLabeledBucketIndexOnVectors(vectors), nQueries, k)
      .select(col("q_id"), col("n_id"), col("rank").as("a_rank"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_rank")).as("n_hits"),
        round(sum(when(col("a_rank").isNotNull, lit(k + 1) - col("e_rank"))
            .otherwise(lit(0))).cast("double") /
          sum(lit(k + 1) - col("e_rank")).cast("double"), 4).as("graded_recall"),
        round(coalesce(lit(1.0) / min(col("a_rank")), lit(0.0)), 6).as("mrr"))
  }

  /** X2 LABELED index-health report — [[lshBucketStats]] at the
    * (table, label) grain: how each LABEL's population spreads over
    * the labeled index's buckets. The filtered leg's pre-flight — the
    * bucket join keys on (tbl, bucket, label), so a single label
    * collapsing into one bucket turns ITS candidate join quadratic
    * even while the unlabeled occupancy report looks healthy; this is
    * how that is caught before the filtered search runs. All integers
    * except the display division; two partial+final aggregations,
    * O(tables · labels) rows out. */
  def lshLabeledBucketStats(embeddings: DataFrame): DataFrame =
    labeledBucketStatsOnVectors(withVec(embeddings))

  /** [[lshLabeledBucketStats]] over any (vec_id, label, v) frame — the
    * media filtered leg's occupancy pre-flight
    * (`x5_mm_filtered_bucket_stats`). */
  def labeledBucketStatsOnVectors(vectors: DataFrame): DataFrame =
    lshLabeledBucketIndexOnVectors(vectors)
      .groupBy(col("tbl"), col("label"), col("bucket")).agg(count(lit(1)).as("n"))
      .groupBy(col("tbl").cast("long").as("tbl"), col("label"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_vecs"),
        max(col("n")).as("max_load"),
        round(sum(col("n")).cast("double") / count(lit(1)), 4).as("mean_load"))

  /** X2 INCREMENTAL embedding dedup: flag incoming vectors whose
    * cosine to some vector of an already-indexed corpus reaches `tau`
    * — the embedding-side counterpart of
    * [[Dedup.nearDupAgainstIndex]] for continuous ingestion (a new
    * embedding batch lands against the accepted corpus's LSH index).
    * Candidates come from the multi-table sign-LSH bucket join (the
    * same 8×4-bit construction as [[annLsh]]; dup-grade pairs are
    * bucket-identical in at least one table with high probability, so
    * the index side stays unprobed and unmultiplied — at scale it is
    * a precomputed (tbl, bucket) table, like [[Dedup.bandKeys]]).
    * Each flagged vector reports its BEST match (max rounded cosine,
    * id tie-break); the threshold compares the 6-decimal ROUNDED
    * cosine, [[cosinePairsThreshold]]'s boundary convention. */
  def embeddingDedupAgainstIndex(incoming: DataFrame, indexed: DataFrame,
                                 tau: Double = 0.38): DataFrame = {
    val incV = withVec(incoming)
    val idxV = withVec(indexed)
    val cands = bucketTableOf(incV)
      .join(bucketTableOf(idxV).withColumnRenamed("vec_id", "match_id"),
        Seq("tbl", "bucket"))
      .select(col("vec_id"), col("match_id")).distinct()
    val scored = cands
      .join(incV.select(col("vec_id"), col("v").as("qv"), col("nrm").as("qn")),
        Seq("vec_id"))
      .join(idxV.select(col("vec_id").as("match_id"), col("v"), col("nrm")),
        Seq("match_id"))
      .select(col("vec_id"), col("match_id"),
        round(cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")), 6).as("cos"))
      .filter(col("cos") >= tau)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("match_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("match_id"), col("cos"))
  }

  /** Shared per-query top-k selection through the bounded-state
    * TypedImperativeAggregate (O(k) partial state per group — see
    * annBruteForce). Selection is on raw cos with id tie-break, output
    * rounded: same rule as the oracle's row_number window. */
  private def topKPerGroup(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    scored.groupBy(col("q_id"))
      .agg(top_k_by_score(col("cos"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("n_id"),
        round(col("col.score"), 6).as("cos"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** X2 int8 embedding quantization — the storage/bandwidth halving
    * every large vector corpus applies before indexing (4 bytes →
    * 1 byte per dim). Symmetric max-abs scaling: scale = max|v|/127,
    * qᵢ = clamp(⌊vᵢ/scale + 0.5⌋, ±127). `floor(x + 0.5)` is used on
    * BOTH engines instead of `round` — half-up for negatives too,
    * where engine `round` functions disagree on ties — and the
    * zero-vector guards division explicitly (ANSI Spark throws on
    * double x/0, DuckDB yields ±inf: neither is wanted). Output is
    * scalar checksums (L1 norm, signed sum, max) so the driver
    * compare never sorts an array column. Narrow per-row transform,
    * no shuffle. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    import graft.functions.QuantizeStats.quantize_stats
    embeddings
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("qs", quantize_stats(col("v")))
      .select(col("vec_id"), round(col("qs.scale"), 6).as("scale"),
        col("qs.q_l1").as("q_l1"), col("qs.q_sum").as("q_sum"),
        col("qs.q_max").as("q_max"))
  }

  /** X2 stored int8 code table — [[quantizeInt8]]'s arithmetic kept as
    * the full code VECTOR plus its per-vector scale: the 4×-smaller
    * artifact scalar-quantized ANN serves from (FAISS `SQ8` /
    * ScaNN-style storage). Codes live as exact small doubles so the
    * codegen'd DotProduct scores them without a cast pass. Narrow
    * per-row kernel, no shuffle; at 100 TB this table is what ships
    * to the search tier while raw floats stay in cold storage. */
  def sqCodes(embeddings: DataFrame): DataFrame =
    sqCodesOnVectors(embeddings
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v")))

  /** [[sqCodes]] over any (vec_id, v: array<double>) frame — the
    * modality-agnostic encode the media retrieval path composes
    * (`x5_mm_search_sq`). */
  def sqCodesOnVectors(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("sq", graft.functions.SqEncode.sq_encode(col("v")))
      .select(col("vec_id"), col("sq.scale").as("scale"), col("sq.q").as("q"))

  /** X2 SCALAR-QUANTIZED MIPS top-k: rank by the asymmetric estimate
    * `scale_q · scale_d · ⟨q_int, d_int⟩` — the int8 inner product is
    * an exact integer (dim 64, |q| ≤ 127 → ≤ 2²⁰), so the only doubles
    * are the two scale factors, multiplied in one fixed order; scores
    * are engine-identical and ties break on id. Same broadcast-query
    * O(|Q|·N) scored stream and O(k) heap aggregation as
    * [[mipsBruteForce]], but the corpus side reads 1 byte/dim instead
    * of 4 — at 100 TB the int8 scan is the difference between a
    * memory-resident search tier and a disk-bound one. */
  def annSq(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame =
    annSqOnCodes(sqCodes(embeddings), nQueries, k)

  /** [[annSq]] against a STORED [[sqCodes]] table — the serve form:
    * no raw-vector access anywhere in the search plan. PRECONDITION:
    * `codes` is keyed by vec_id (one row per vector, as [[sqCodes]]
    * writes it) — a duplicated row would duplicate its candidate in
    * the top-k heap; shard unions must go through a keyed dedup, not
    * straight into search. */
  def annSqOnCodes(codes: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("scale").as("qs"), col("q").as("qq"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot_product(col("qq"), col("q")) * col("qs") * col("scale")).as("cos"))
    topKPerGroup(scored, k).withColumnRenamed("cos", "adot")
  }

  /** X2 SQ candidate generation + EXACT rerank: the standard two-stage
    * serve plan — int8 scan proposes `kCand` candidates per query,
    * then only |Q|·kCand raw-float dot products run (here: 20·20
    * versus 20·N for brute force). Final order is by the exact dot
    * product, so quantization error can only cost recall at the
    * candidate boundary, never mis-rank what survives. */
  def annSqRerank(embeddings: DataFrame, nQueries: Int = 20,
                  kCand: Int = 20, k: Int = 5): DataFrame = {
    val cand = annSqOnCodes(sqCodes(embeddings), nQueries, kCand)
      .select(col("q_id"), col("n_id"))
    val vecs = withVec(embeddings).select(col("vec_id"), col("v"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = cand
      .join(broadcast(q), "q_id")
      .join(vecs.withColumnRenamed("vec_id", "n_id"), "n_id")
      .select(col("q_id"), col("n_id"), dot(col("qv"), col("v")).as("cos"))
    topKPerGroup(scored, k).withColumnRenamed("cos", "dp")
  }

  /** X2 cosine RANGE search — every neighbor within a similarity
    * RADIUS (`cos ≥ minCos`) rather than a fixed count: the FAISS
    * `range_search` semantics, what dedup-style retrieval actually
    * wants (a query with 40 near-copies needs all 40, not 5; one with
    * none needs zero, not 5 strangers). The threshold compares the
    * ROUNDED cosine (house rule) so membership is engine-identical.
    * Same broadcast-query scored stream as [[annBruteForce]] but NO
    * top-k state at all — a pure filter, fully map-side after the
    * scoring join; output size is data-dependent by design. At scale
    * the LSH/IVF candidate generators bound the scored stream the
    * same way they do for top-k. */
  def rangeSearch(embeddings: DataFrame, minCos: Double = 0.25,
                  nQueries: Int = 20): DataFrame = {
    val all = withVec(embeddings)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** X2 binary code table — sign-bit binarization into two 32-bit
    * words (64 dims → 8 bytes, a 32× shrink): the cheapest leg of the
    * quantization ladder (float → int8 SQ → PQ → binary). Hamming
    * distance between sign patterns approximates angle (Charikar sign
    * hashes at full rank — the same geometry as the LSH planes, with
    * the COORDINATE axes as planes). Two uint32 words, not one int64,
    * so neither engine touches the sign bit. */
  def binaryCodes(embeddings: DataFrame): DataFrame =
    binaryCodesOnVectors(embeddings
      .withColumn("v", col("embedding").cast("array<double>")))

  /** X2 binary Hamming ANN — top-k by Hamming distance over the
    * [[binaryCodes]] table: per candidate the corpus-side read is 8
    * BYTES and the score is two xor+popcount ops — the rerank-feeder
    * tier a memory-constrained deployment scans before touching int8
    * or float codes. Pure integer arithmetic end to end (nothing can
    * drift cross-engine); ties break (hamming asc, id). Same
    * broadcast-query stream + O(k) heap shape as [[annBruteForce]]
    * (the heap takes −hamming so its max-selection yields min
    * distance). */
  def annBinary(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame =
    annBinaryOnCodes(binaryCodes(embeddings), nQueries, k)

  /** [[binaryCodes]] over any (vec_id, v: array<double>) frame — the
    * modality-agnostic encode the media path composes. `threshold`
    * shifts the sign plane inside the compiled kernel (bit iff
    * v > t ≡ (v − t) > 0): the [0,1] media stub centers at 0.5 with
    * no per-element lambda. */
  def binaryCodesOnVectors(vecs: DataFrame, threshold: Double = 0.0): DataFrame =
    vecs
      .withColumn("b", graft.functions.SignPack.sign_pack(col("v"), threshold))
      .select(col("vec_id"), col("b.w0").as("w0"), col("b.w1").as("w1"))

  /** [[annBinary]] against a STORED code table — the serve form
    * (`x2_ann_binary_serve` aliases `x2_ann_binary`'s oracle).
    * PRECONDITION: `codes` keyed by vec_id, as [[binaryCodes]] writes
    * it (the [[annSqOnCodes]] contract). */
  def annBinaryOnCodes(codes: DataFrame, nQueries: Int = 20,
                       k: Int = 5): DataFrame = {
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("w0").as("qw0"), col("w1").as("qw1"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (-(bit_count(col("w0").bitwiseXOR(col("qw0"))) +
           bit_count(col("w1").bitwiseXOR(col("qw1")))).cast("double")).as("cos"))
    topKPerGroup(scored, k)
      .select(col("q_id"), col("n_id"),
        (-col("cos")).cast("long").as("hamming"), col("rank"))
  }

  /** X2 binary shortlist + EXACT COSINE rerank — the standard binary
    * deployment: the 8-byte Hamming scan proposes `kCand` candidates
    * per query (the cheapest possible corpus pass), then only
    * |Q|·kCand raw-float cosines run. The final order is exact, so
    * binarization costs recall only at the candidate boundary — the
    * [[annSqRerank]] contract one compression level down. */
  def annBinaryRerank(embeddings: DataFrame, nQueries: Int = 20,
                      kCand: Int = 20, k: Int = 5): DataFrame =
    annBinaryRerankOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")),
      threshold = 0.0, nQueries, kCand, k)

  /** [[annBinaryRerank]] over any (vec_id, v: array<double>) frame at
    * a configurable sign threshold — the modality-agnostic two-stage
    * binary form (`x5_mm_search_binary_rerank` composes it over the
    * media stub source at the production 0.5 centering): the 8-byte
    * Hamming scan proposes `kCand` candidates, exact cosine over the
    * raw vectors re-orders — on the media geometry this is the ONLY
    * serviceable binary deployment (the flat rung's measured recall
    * is zero there; the gate that found it is why this form exists on
    * that modality). */
  def annBinaryRerankOnVectors(vecs: DataFrame, threshold: Double = 0.0,
                               nQueries: Int = 20, kCand: Int = 20,
                               k: Int = 5): DataFrame = {
    val cand = annBinaryOnCodes(binaryCodesOnVectors(vecs, threshold),
        nQueries, kCand)
      .select(col("q_id"), col("n_id"))
    val all = vecs.select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = cand
      .join(broadcast(q), "q_id")
      .join(all.withColumnRenamed("vec_id", "n_id"), "n_id")
      .select(col("q_id"), col("n_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
    topKPerGroup(scored, k)
  }

  /** [[binaryRerankRecallReport]] over any (vec_id, v) frame — the
    * two-stage binary gate the media modality composes
    * (`x5_mm_binary_rerank_recall`): exact-cosine ground truth vs the
    * rerank pipeline's top-k at the production threshold. */
  def binaryRerankRecallReportOnVectors(vecs: DataFrame,
                                        threshold: Double = 0.0,
                                        nQueries: Int = 20, kCand: Int = 20,
                                        k: Int = 5): DataFrame = {
    val exact = annOnVectors(vecs, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = annBinaryRerankOnVectors(vecs, threshold, nQueries, kCand, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** X2 binary recall audit — exact-cosine ground truth
    * ([[annBruteForce]]) left-joined with the Hamming top-k: how much
    * angular fidelity 8 bytes/vector keeps on this corpus. */
  def binaryRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                         k: Int = 5): DataFrame =
    binaryRecallReportOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")),
      threshold = 0.0, nQueries, k)

  /** [[binaryRecallReport]] over any (vec_id, v: array<double>) frame —
    * the modality-agnostic flat-binary recall gate (`x5_mm_binary_recall`
    * composes it over the media stub source with the production
    * rung's centering threshold): exact-cosine ground truth vs the
    * Hamming top-k of [[binaryCodesOnVectors]] at the SAME threshold
    * the deployed search uses. The media composed gates proved recall
    * margins are distribution-dependent — every deployed rung gets its
    * own measurement, never an inherited one. */
  def binaryRecallReportOnVectors(vecs: DataFrame, threshold: Double = 0.0,
                                  nQueries: Int = 20, k: Int = 5): DataFrame = {
    val exact = annOnVectors(vecs, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = annBinaryOnCodes(binaryCodesOnVectors(vecs, threshold),
        nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** The per-query hit rollup every flat recall gate shares: exact
    * top-k left-joined with the approximate top-k, hits summed, recall
    * = hits/k rounded to 4. Both inputs are k-bounded (|Q|·k rows) —
    * the rollup never touches the corpus. */
  private def recallRollup(exact: DataFrame, approx: DataFrame,
                           k: Int): DataFrame =
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(k.toDouble), 4).as("recall"))

  /** X2/X3 HYBRID RETRIEVAL — reciprocal-rank fusion of the dense
    * cosine top-k ([[annBruteForce]]) and sparse BM25 top-k
    * ([[TextAnalysis.bm25ScoreAgainst]]) result lists, the standard
    * two-tower + lexical serving stack (RRF: Cormack et al. SIGIR'09):
    * each side contributes `⌊10⁶/(c + rank)⌋` integer micro-units
    * (0 when absent), summed per (query, candidate) — integer
    * contributions make the fused score order-independent exact, the
    * BM25 micro-nat discipline applied to fusion. Both inputs are
    * already k-bounded (|Q|·k rows), so the full-outer merge and the
    * fused rank window touch only tiny frames — at 100 TB the cost
    * lives entirely in the two upstream retrievals, and either side
    * swaps to its stored-index serve path without touching fusion. */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                nQueries: Int = 20, kSide: Int = 5, k: Int = 5,
                c: Int = 60): DataFrame =
    hybridRrfAgainst(documents, embeddings,
      TextAnalysis.bm25Index(documents), nQueries, kSide, k, c)

  /** [[hybridRrf]]'s SERVE form — the BM25 leg scores against a
    * STORED [[TextAnalysis.bm25Index]] table (the nightly artifact;
    * no corpus re-tokenize in the search plan), the dense leg stays
    * the query-side brute-force baseline, and fusion is unchanged —
    * `x2_hybrid_rrf_serve` shares `x2_hybrid_rrf`'s oracle by
    * reference. In production either leg swaps independently: the
    * dense side for any stored-index search (`annSqOnCodes`,
    * `annLshOnBucketIndex`, …), the fusion never changes. */
  def hybridRrfAgainst(documents: DataFrame, embeddings: DataFrame,
                       index: DataFrame, nQueries: Int = 20,
                       kSide: Int = 5, k: Int = 5, c: Int = 60): DataFrame = {
    val dense = annBruteForce(embeddings, nQueries, kSide)
      .select(col("q_id"), col("n_id").as("match_id"),
        col("rank").cast("long").as("dense_rank"))
    rrfFuse(dense, bm25Leg(documents, index, nQueries, kSide), k, c)
  }

  /** [[hybridRrf]] with BOTH legs on stored artifacts — the full
    * production serving stack: the dense leg ranks by the SQ
    * asymmetric estimate over the STORED int8 code table
    * ([[annSqOnCodes]] — query vectors come from the code table too,
    * raw floats nowhere in the plan) and the sparse leg scores
    * against the STORED [[TextAnalysis.bm25Index]]; fusion is
    * byte-identical to [[hybridRrfAgainst]]'s. This is the proof of
    * the "either leg swaps independently" contract: `x2_hybrid_rrf`
    * = brute + live index, `x2_hybrid_rrf_serve` = brute + stored
    * index, this = stored + stored — the fused ranking changes only
    * through the dense leg's quantization, never through fusion. At
    * 100 TB neither corpus pass re-derives an artifact: the int8
    * table and the postings index are the nightly builds, and the
    * search plan touches only them. */
  def hybridRrfAllStored(documents: DataFrame, codes: DataFrame,
                         index: DataFrame, nQueries: Int = 20,
                         kSide: Int = 5, k: Int = 5, c: Int = 60): DataFrame = {
    val dense = annSqOnCodes(codes, nQueries, kSide)
      .select(col("q_id"), col("n_id").as("match_id"),
        col("rank").cast("long").as("dense_rank"))
    rrfFuse(dense, bm25Leg(documents, index, nQueries, kSide), k, c)
  }

  /** The sparse leg shared by every hybrid form: the first `nQueries`
    * docs query the (stored or live) BM25 index, self-matches
    * excluded. */
  private def bm25Leg(documents: DataFrame, index: DataFrame,
                      nQueries: Int, kSide: Int): DataFrame =
    TextAnalysis.bm25ScoreAgainst(
        documents.filter(col("doc_id") < nQueries),
        index, kSide, excludeSelf = true)
      .select(col("q_id"), col("match_id"),
        col("rank").cast("long").as("bm25_rank"))

  /** RRF fusion of two k-bounded (q_id, match_id, *_rank) legs —
    * integer micro-unit contributions, full-outer merge, fused rank
    * window. O(|Q|·k) rows; never changes when a leg swaps. */
  private def rrfFuse(dense: DataFrame, sparse: DataFrame,
                      k: Int, c: Int): DataFrame = {
    def contrib(r: Column): Column =
      when(r > 0, floor(lit(1000000).cast("double") / (lit(c) + r)).cast("long"))
        .otherwise(0L)
    val fused = dense.join(sparse, Seq("q_id", "match_id"), "full_outer")
      .select(col("q_id"), col("match_id"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"))
      .withColumn("rrf6",
        contrib(col("dense_rank")) + contrib(col("bm25_rank")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf6").desc, col("match_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("match_id"), col("dense_rank"),
        col("bm25_rank"), col("rrf6"), col("rank").cast("integer").as("rank"))
  }

  /** X2 COMPOSED IVF×SQ index — the trained coarse quantizer bounds
    * the candidate set to the probed cells and the int8 code table
    * prices each candidate by the asymmetric SQ estimate: the third
    * leg of the index-composition matrix (IVF×PQ = `x2_ann_ivfpq`,
    * flat SQ = `x2_ann_sq`, this = IVF×SQ — FAISS `IVF_SQ8`, the
    * configuration chosen when PQ's codebook distortion is too coarse
    * but 4× compression still pays). Candidate volume is bounded by
    * cell population; per candidate the corpus-side read is 1 byte/dim
    * + one scale; raw floats appear only on the query side (probe
    * selection). Both the IVF training chain and the SQ encode chain
    * are the audited ones — the composition is oracle-exact.
    *
    * Takes the (vec_id, cell) partition map ([[ivfAssignmentsFor]]),
    * the int8 code table ([[sqCodes]]) and the trained centroids as
    * driver-side state: `x2_ann_ivfsq` passes lazy artifacts,
    * `x2_ann_ivfsq_serve` stored ones (nothing in its search plan
    * trains, assigns, or encodes the corpus) and shares the oracle by
    * reference. */
  def annIvfSqOnArtifacts(embeddings: DataFrame, assignments: DataFrame,
                          codes: DataFrame,
                          centroids: Seq[(Long, Seq[Double])],
                          nQueries: Int = 20, k: Int = 3,
                          nProbe: Int = 4): DataFrame =
    annIvfSqOnArtifactsVectors(withVec(embeddings), assignments, codes,
      centroids, nQueries, k, nProbe)

  /** [[annIvfSqOnArtifacts]] over any (vec_id, v) frame — the
    * modality-agnostic IVF×SQ core the media index ladder composes
    * (`x5_mm_search_ivfsq`: dyadic media stub embeddings). */
  def annIvfSqOnArtifactsVectors(vectors: DataFrame, assignments: DataFrame,
                                 codes: DataFrame,
                                 centroids: Seq[(Long, Seq[Double])],
                                 nQueries: Int = 20, k: Int = 3,
                                 nProbe: Int = 4): DataFrame = {
    val all = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val probes = rankProbeCells(all, centroids, nQueries)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val qCodes = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("scale").as("qs"), col("q").as("qq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adot").desc, col("n_id"))
    assignments.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(codes, "vec_id")
      .join(broadcast(qCodes), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cell"),
        (dot_product(col("qq"), col("q")) * col("qs") * col("scale")).as("adot"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cell"),
        round(col("adot"), 6).as("adot"), col("rank").cast("int").as("rank"))
  }

  /** X2 RESIDUAL IVF×SQ search — the one asymmetry left in the
    * composition matrix closed: PQ got its residual rung
    * ([[annIvfPqResWithModels]]) while SQ encoded raw vectors; here the int8
    * code quantizes the dyadic RESIDUAL (v − centroid[cell]), so the
    * full ±127 range prices WITHIN-cell variance (the between-cell
    * component already rides in the cell id — exactly why residual
    * encoding beats raw at a fixed byte budget). Ranking is the
    * estimated residual L2 ‖(q−c) − (d−c)‖² = ‖q−d‖² — residuals
    * against the SAME centroid cancel it, so the estimate is
    * comparable ACROSS probed cells (a raw residual dot would not
    * be): adist = ‖qr‖² − 2·s_q·s_d·⟨qr_int, dr_int⟩ +
    * s_d²·⟨dr_int, dr_int⟩, where both int dots are exact integers,
    * ‖qr‖² is an exact dyadic fold, and the scale products are the
    * only rounding IEEE ops (fixed operand order — engine-identical).
    * The query encodes ONE residual per probed cell (the
    * [[annIvfPqResOnArtifactsVectors]] per-(query, cell) discipline); the corpus
    * side reads 1 byte/dim + one scale per candidate. */
  def annIvfSqRes(embeddings: DataFrame, cmodel: Seq[(Long, Seq[Double])],
                  nQueries: Int = 20, k: Int = 3, nProbe: Int = 2): DataFrame =
    annIvfSqResOnArtifacts(embeddings, resSqCodesFor(embeddings, cmodel),
      cmodel, nQueries, k, nProbe)

  /** The residual int8 artifact: one (vec_id, cell, scale, q) row per
    * vector — cell map and residual codes in a single slim table, what
    * the res-SQ serve path stores per generation. */
  def resSqCodesFor(embeddings: DataFrame,
                    cmodel: Seq[(Long, Seq[Double])]): DataFrame =
    resSqCodesForOnVectors(withVec(embeddings), cmodel)

  /** [[resSqCodesFor]] over any (vec_id, v) frame — the media residual
    * int8 artifact (`x5_mm_search_ivfsq_res`'s stored table). */
  def resSqCodesForOnVectors(vectors: DataFrame,
                             cmodel: Seq[(Long, Seq[Double])]): DataFrame =
    residualVectors(
        vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v")))), cmodel)
      .withColumn("sq", graft.functions.SqEncode.sq_encode(col("v")))
      .select(col("vec_id"), col("cell"),
        col("sq.scale").as("scale"), col("sq.q").as("q"))

  /** [[annIvfSqRes]]'s SERVE form — search over the STORED residual
    * code table with the centroids as driver state: nothing in the
    * plan assigns or encodes the corpus; the query slice ranks cells
    * and encodes its own per-cell residuals. `x2_ann_ivfsq_res_serve`
    * shares `x2_ann_ivfsq_res`'s oracle by reference. */
  def annIvfSqResOnArtifacts(embeddings: DataFrame, codes: DataFrame,
                             centroids: Seq[(Long, Seq[Double])],
                             nQueries: Int = 20, k: Int = 3,
                             nProbe: Int = 2): DataFrame =
    annIvfSqResOnArtifactsVectors(withVec(embeddings), codes, centroids,
      nQueries, k, nProbe)

  /** [[annIvfSqResOnArtifacts]] over any (vec_id, v) frame — the
    * modality-agnostic residual IVF×SQ core
    * (`x5_mm_search_ivfsq_res`: dyadic media stub embeddings). */
  def annIvfSqResOnArtifactsVectors(vectors: DataFrame, codes: DataFrame,
                                    centroids: Seq[(Long, Seq[Double])],
                                    nQueries: Int = 20, k: Int = 3,
                                    nProbe: Int = 2): DataFrame = {
    val all = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val probes = rankProbeCells(all, centroids, nQueries)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"),
        graft.functions.ResidualDyadic.residual_dyadic(col("v"), col("cv")).as("qr"))
    val qsq = probes
      .withColumn("sq", graft.functions.SqEncode.sq_encode(col("qr")))
      .select(col("q_id"), col("cell"),
        dot_product(col("qr"), col("qr")).as("qn2"),
        col("sq.scale").as("qs"), col("sq.q").as("qq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
    codes.join(broadcast(qsq), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cell"),
        (col("qn2") -
          lit(2) * (col("qs") * col("scale") * dot_product(col("qq"), col("q"))) +
          col("scale") * col("scale") * dot_product(col("q"), col("q")))
          .as("adist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cell"),
        round(col("adist"), 6).as("adist"), col("rank").cast("int").as("rank"))
  }

  /** X2 SQ recall audit — [[mipsRecallReport]]'s shape for the int8
    * path: exact MIPS top-k left-joined with the SQ top-k, per-query
    * hit count and recall@k. The number that decides whether int8
    * storage is free accuracy-wise for this corpus. */
  def sqRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                     k: Int = 5): DataFrame =
    sqRecallReportOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")), nQueries, k)

  /** [[sqRecallReport]] over any (vec_id, v: array<double>) frame —
    * the modality-agnostic flat-SQ recall gate (`x5_mm_sq_recall`
    * composes it over the media stub source): exact-MIPS ground truth
    * ([[mipsOnVectors]]) vs the asymmetric-estimate top-k over
    * [[sqCodesOnVectors]]' int8 table, per-query hits and recall@k —
    * measured per distribution, never inherited across sources. */
  def sqRecallReportOnVectors(vecs: DataFrame, nQueries: Int = 20,
                              k: Int = 5): DataFrame = {
    val exact = mipsOnVectors(vecs, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = annSqOnCodes(sqCodesOnVectors(vecs), nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** X2 PER-DIMENSION EMBEDDING HEALTH — mean, variance, and a
    * collapsed flag for every embedding dimension: the "would you
    * trust these vectors" audit run before any index is built on
    * them. A dimension whose variance is ~0 carries no information
    * (encoder dead unit — it dilutes every distance and wastes a PQ
    * subspace slot); a mean far off the others flags a normalization
    * bug. Cross-engine exactness: each element quantizes to 1e-4
    * units FIRST (`floor(x·10⁴ + 0.5)`, the house half-up rule), so
    * the count/sum/sum-of-squares moments are exact regardless of
    * aggregation order — the moment sums accumulate in decimal(38,0)
    * (n·s2 would leave int64 near ~10⁶ vectors and WRAP SILENTLY;
    * DuckDB's BIGINT sums already promote to int128, so decimal is
    * also what keeps the two engines agreeing at any corpus size) —
    * and each output is ONE division rounded to 6.
    * The collapsed flag compares the ROUNDED variance, so both
    * engines decide it identically. Scale shape: posexplode is a
    * codegen generator (dims·N slim rows, no per-element interpreted
    * lambda), the moment aggregation map-side-combines to O(dims)
    * rows per task, and the output is O(dims). */
  def dimStats(embeddings: DataFrame, varFloor: Double = 0.0001): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("e").cast("double") * 10000 + 0.5).cast("long").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("s2"))
      .withColumn("variance",
        round((col("n") * col("s2") - col("s") * col("s")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") * lit(1e8)), 6))
      .select(col("dim"),
        round(col("s").cast("double") /
          (col("n").cast("double") * lit(1e4)), 6).as("mean"),
        col("variance"),
        when(col("variance") < varFloor, 1L).otherwise(0L).as("collapsed"))

  /** X2 NORM-OUTLIER audit — every vector's L2 norm z-scored against
    * the corpus norm distribution: the row-wise companion to
    * [[dimStats]] (column health) and [[ivfOutliersWithModel]] (direction
    * health) that catches broken encoder ROWS — near-zero norms
    * (failed encodes that cosine silently drops), exploding norms
    * (un-normalized batches mixed into a normalized corpus) — before
    * any index trains on them. Norms quantize to 1e-4 units first, so
    * the global count/sum/sum-of-squares moments are exact — summed
    * in decimal(38,0), [[dimStats]]' overflow discipline (int64 n·Q
    * wraps silently past ~10⁶ vectors; DuckDB already sums in int128)
    * — and z = (n·q − S)/√(n·Q − S²) is arithmetic both engines run
    * identically (the `x6_anomaly` z form); the flag compares the
    * ROUNDED z. One narrow norm projection, a 1-row moment aggregate
    * broadcast back, zero-variance corpora drop (the anomaly guard). */
  def normOutliers(embeddings: DataFrame, zBar: Double = 2.5): DataFrame = {
    val nq = withVec(embeddings)
      .select(col("vec_id"),
        floor(col("nrm") * 10000 + 0.5).cast("long").as("nq"))
    val m = nq.agg(count(lit(1)).as("n"),
      sum(col("nq").cast("decimal(38,0)")).as("s"),
      sum((col("nq") * col("nq")).cast("decimal(38,0)")).as("s2"))
    nq.crossJoin(broadcast(m))
      .filter(col("n") * col("s2") - col("s") * col("s") > 0L)
      .select(col("vec_id"),
        round(col("nq").cast("double") / lit(1e4), 4).as("norm"),
        round((col("n") * col("nq") - col("s")).cast("double") /
          sqrt((col("n") * col("s2") - col("s") * col("s")).cast("double")), 4)
          .as("z"))
      .withColumn("outlier", when(abs(col("z")) > zBar, 1L).otherwise(0L))
  }

  /** Deterministic spherical k-means for the IVF coarse quantizer:
    * `rounds` Lloyd iterations from the fixed seeds (vec_id < nCells).
    * Each round assigns every vector to its max-cosine centroid
    * (tie → lowest centroid id, the same rule the query-time
    * assignment uses) and recomputes each centroid as the per-dimension
    * mean of its members, ROUNDED to 6 decimals — the rounding is what
    * makes the trained centroids reproducible across engines (the
    * group sums fold in engine-dependent order; 1e-15 noise dies at
    * the 6th decimal), so the DuckDB oracle replays training exactly.
    * An empty cell keeps its previous centroid. The round count is
    * FIXED, not convergence-tested: a data-dependent stop is neither
    * oracle-expressible nor reproducible under resharding.
    *
    * Scale shape per round: one broadcast of nCells centroids against
    * the streaming vector set, one (cell, dim)-keyed partial-agg sum
    * (map-side combine reduces each partition to nCells·dims rows),
    * and an O(nCells·dims) collect — centroids live on the driver
    * between rounds (they are the k-means MODEL, not data; 8×64
    * doubles here), so round plans stay flat and query plans embed
    * the trained centroids as a local relation. */
  private[operators] def kmeansCentroids(all: DataFrame, nCells: Int,
                                         rounds: Int): Seq[(Long, Seq[Double])] = {
    val spark = all.sparkSession
    import spark.implicits._
    // training is `rounds`+1 driver-synchronized passes over the same
    // vector frame (seeds, then one means job per round) — materialize
    // it once instead of re-scanning/joining per pass; released before
    // returning (the repo's no-persisted-frame-escapes rule)
    val allc = all.persist()
    try {
      var cents: Seq[(Long, Seq[Double])] =
        allc.filter(col("vec_id") < nCells).select(col("vec_id"), col("v"))
          .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
      for (_ <- 1 to rounds) {
        val assigned = argmaxCell(allc, cents).select(col("cell"), col("v"))
        // ONE (cell, dim)-keyed partial+final aggregation per round; the
        // O(nCells·dims) sums collect and the means fold on the driver —
        // the former second groupBy (collect_list of per-dim structs)
        // was a second shuffle per round just to reshape model-sized
        // state. round6 replicates Spark's Round(HALF_UP over
        // BigDecimal.valueOf) bit-for-bit, so centroids are unchanged.
        val means = assigned.select(col("cell"), posexplode(col("v")))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
          .as[(Long, Int, Double, Long)].collect()
          .groupBy(_._1).map { case (id, rows) =>
            id -> rows.sortBy(_._2).map(r => round6(r._3 / r._4)).toSeq
          }
        cents = cents.map { case (id, cv) => (id, means.getOrElse(id, cv)) }
      }
      cents
    } finally { allc.unpersist(false); () }
  }


  /** L2 norm with the same sequential fold as the DotProduct kernel —
    * centroid norms computed driver-side are bit-identical to
    * `sqrt(dot_product(cv, cv))` evaluated by Spark. */
  private def l2norm(cv: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
    math.sqrt(acc)
  }

  /** Per-vector argmax-cosine cell assignment, fully MAP-SIDE: the
    * centroids are k-means MODEL state (O(nCells·dims) driver
    * doubles), so each vector scores every cell inside one projection
    * — the compiled [[graft.functions.ArgmaxCell]] kernel replicates
    * the max-cosine / tie→lowest-centroid-id rule (it replaced the
    * `array_max` over (cosine, -c_id) structs, which allocated
    * nCells structs per row per evaluation and was re-evaluated
    * whole by the constraint-inferred isnotnull filter under every
    * assignment→centroid join) — and NO shuffle runs.
    * The previous crossJoin + groupBy(vec_id) `max_by` form
    * re-shuffled the full vector set (carrying the 64-double vectors)
    * once per training round and once per assignment; at 100 TB the
    * assignment pass must be embarrassingly parallel, which this is.
    * Cosines use the same codegen'd sequential-fold DotProduct against
    * the same centroid doubles (norms driver-folded in the identical
    * order), so assignments — and the DuckDB oracle replay — are
    * bit-identical to the aggregation form. Null cosines (zero-norm
    * vectors) take the -2 floor so they sort last, replicating
    * desc_nulls_last; cosine itself is in [-1, 1]. Output carries
    * `best` (the winning cosine) for the inertia audit. */
  private def argmaxCell(all: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame =
    all.withColumn("am",
        graft.functions.ArgmaxCell.argmax_cell(col("v"), col("nrm"), cents))
      .select(col("vec_id"), col("am.cell").as("cell"),
        col("v"), col("nrm"), col("am.best").as("best"))

  /** The trained IVF coarse-quantizer MODEL itself, exploded to
    * (c_id, pos, val) rows (pos 1-based) — exposed as a query so the
    * model is hash-verified against the oracle's replayed training,
    * not only the ANN results built from it. The round keeps seed
    * dimensions (an empty cell keeps its unrounded seed vector)
    * comparable across engines. */
  def trainedCentroids(embeddings: DataFrame, nCells: Int = 8,
                       trainRounds: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    kmeansCentroids(withVec(embeddings), nCells, trainRounds)
      .flatMap { case (id, cv) =>
        cv.iterator.zipWithIndex.map { case (x, i) => (id, (i + 1).toLong, x) } }
      .toDF("c_id", "pos", "val")
      .select(col("c_id"), col("pos"), round(col("val"), 6).as("val"))
  }

  /** Train the IVF coarse-quantizer MODEL and return it as driver-side
    * state (O(nCells·dims) doubles) — the train-once API: a resident
    * pipeline trains here and serves every subsequent query through
    * [[annIvfWithCentroids]] instead of re-running Lloyd per call. */
  def trainIvfModel(embeddings: DataFrame, nCells: Int = 8,
                    trainRounds: Int = 2): Seq[(Long, Seq[Double])] =
    trainIvfModelOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      nCells, trainRounds)

  /** [[trainIvfModel]] over any (vec_id, v: array<double>) frame —
    * the modality-agnostic form, [[trainPqModelOnVectors]]' contract:
    * caller supplies dyadic component values so the Lloyd mean sums
    * fold exactly in any order. */
  def trainIvfModelOnVectors(vecs: DataFrame, nCells: Int = 8,
                             trainRounds: Int = 2): Seq[(Long, Seq[Double])] =
    kmeansCentroids(vecs.withColumn("nrm",
      sqrt(dot_product(col("v"), col("v")))), nCells, trainRounds)

  /** [[ivfAssignmentsFor]] over any (vec_id, v) frame. */
  def ivfAssignmentsForOnVectors(vecs: DataFrame,
                                 centroids: Seq[(Long, Seq[Double])]): DataFrame =
    argmaxCell(vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v")))),
      centroids).select(col("vec_id"), col("cell"))

  /** X2 leave-one-out k-NN label audit — every vector votes among the
    * labels of its k nearest neighbors (max votes, tie → smallest
    * label); per-label accuracy of that vote against the vector's own
    * label is the standard "are these embeddings/labels any good"
    * audit run before anyone trains on them. Neighbor selection is
    * the bounded-state heap aggregate (O(k) per vector, no window
    * over the pair stream), labels re-join by id afterwards (k·N
    * slim rows, equi-keyed). All-pairs scoring is deliberate — this
    * is the audit's exactness contract; the audited index (LSH/IVF)
    * is what answers the same question approximately at 100 TB, and
    * `x2_recall` measures that gap. `samplePct` bounds the quadratic
    * stage: the QUERY side shrinks to the deterministic `hash(vec_id)
    * mod 100 < samplePct` subset while every query still votes over
    * the FULL corpus — cost drops from N² to (p·N)·N and each sampled
    * query's prediction is bit-identical to its full-run prediction
    * (SampleBoundSpec pins this). Default 100 = exact. */
  def knnLabelAccuracy(embeddings: DataFrame, k: Int = 3,
                       samplePct: Int = 100): DataFrame =
    knnPredictions(embeddings, k, samplePct)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_vecs")).as("accuracy"))

  /** Per-vector frame behind [[knnLabelAccuracy]]: one row per
    * (sampled) query — `(q_id, predicted, label)`. Public because the
    * per-item audit (WHICH vectors are mislabeled, not just how many)
    * is itself a pipeline step, and because it is the exact surface
    * the sampled ≡ full invariant is pinned on. */
  def knnPredictions(embeddings: DataFrame, k: Int = 3,
                     samplePct: Int = 100): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    val all = withVec(embeddings)
      .select(col("vec_id"), col("v"), col("nrm"), col("label").cast("long").as("label"))
    val qAll = all.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nrm").as("qn"), col("label").as("q_label"))
    val q =
      if (samplePct >= 100) qAll
      else qAll.filter(Sampling.hash60(col("q_id")) % 100 < samplePct)
    val top = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"),
        col("vec_id").as("n_id"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("cos"), col("n_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    val predicted = top
      .join(all.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("nv"))
      .groupBy(col("q_id"))
      .agg(max_by(col("n_label"), struct(col("nv"), -col("n_label"))).as("predicted"))
    predicted.join(all.select(col("vec_id").as("q_id"), col("label")), "q_id")
      .select(col("q_id"), col("predicted"), col("label"))
  }

  /** X2 margin-based pair mining (the bitext-mining criterion of
    * Artetxe & Schwenk): align a new BATCH against an INDEXED corpus,
    * keeping a pair only when the best match stands out from the
    * query's neighborhood — margin = cos₁ / mean(cos₁..cos_k), here
    * the top-2 form 2·cos₁/(cos₁+cos₂): best vs runner-up. The ratio
    * suppresses hub vectors that are "close to everything" and would
    * flood an absolute-threshold join. Top-2 per query is the O(k)
    * heap aggregate over a batch-broadcast scan of the index; the
    * margin is a ratio of ROUNDED cosines (then one division), so
    * accept/reject is engine-exact. The pair table this emits is how
    * parallel corpora are mined for translation training data. */
  def marginMine(batch: DataFrame, index: DataFrame,
                 tau: Double = 1.05): DataFrame =
    marginMineOnVectors(withVec(batch).select(col("vec_id"), col("v")),
      withVec(index).select(col("vec_id"), col("v")), tau)

  /** [[marginMine]] over any (vec_id, v: array<double>) frames —
    * shared by the embedding-table path and the multimodal
    * caption↔asset alignment composition (the annOnVectors pattern). */
  def marginMineOnVectors(batch: DataFrame, index: DataFrame,
                          tau: Double): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    val idx = index.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = batch.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    idx.crossJoin(broadcast(q))
      .select(col("q_id"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"),
        col("vec_id").as("n_id"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("cos"), col("n_id"), 2).as("top"))
      .filter(size(col("top")) === 2)
      .select(col("q_id"), col("top").getItem(0).getField("id").as("n_id"),
        round(col("top").getItem(0).getField("score"), 6).as("cos"),
        round(col("top").getItem(1).getField("score"), 6).as("c2"))
      // keeps the division defined on BOTH engines (ANSI Spark throws
      // on x/0; real mined pairs sit far above the guard)
      .filter(col("cos") + col("c2") > 0.0)
      .select(col("q_id"), col("n_id"), col("cos"),
        round(col("cos") * 2 / (col("cos") + col("c2")), 6).as("margin"))
      .filter(col("margin") >= tau)
  }

  /** X2 class-mean embedding aggregation (mean pooling) — the
    * prototype / topic-centroid computation: the mean embedding per
    * label, exploded to (label, pos, val) rows like
    * [[trainedCentroids]] so the aggregate itself is hash-verifiable.
    * One (label, pos)-keyed aggregation with map-side combine — each
    * partition collapses to |labels|·dims rows before the shuffle, the
    * result set is O(labels·dims), nothing collects to the driver.
    * The same shape rolls chunk embeddings up to document embeddings
    * (group by doc instead of label) at any scale. */
  def meanPoolByLabel(embeddings: DataFrame): DataFrame =
    withVec(embeddings)
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
      .agg(round(sum(col("col")) / count(lit(1)), 6).as("val"))

  /** X2 nearest-class-mean audit — classify every vector to its
    * max-cosine label PROTOTYPE ([[meanPoolByLabel]] means) and emit
    * the confusion matrix (label, predicted, n): the standard
    * embedding-space label-quality check (how separable the labels
    * are; which classes bleed into which). Prototypes are
    * O(labels·dims) and broadcast; assignment is the same one-pass
    * `max_by` argmax as the IVF path; the matrix is at most
    * labels² rows. Prototype values are rounded to 6 decimals first —
    * the same model-quantization step the trained-centroid path uses —
    * so both engines argmax over identical prototypes. */
  def nearestClassMean(embeddings: DataFrame): DataFrame = {
    val protos = meanPoolByLabel(embeddings)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("val")))),
        x => x.getField("val")).as("cv"))
      .select(col("label").as("c_id"), col("cv"))
      .withColumn("cn", sqrt(dot_product(col("cv"), col("cv"))))
    withVec(embeddings).crossJoin(broadcast(protos))
      .withColumn("acos",
        coalesce(cosine(dot(col("cv"), col("v")), col("cn"), col("nrm")), lit(-2.0)))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(col("acos"), -col("c_id"))).as("predicted"),
        first(col("label")).as("label"))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Corpus-side IVF cell assignment over the trained model — one
    * (vec_id, cell) row per vector, the partition-key artifact an IVF
    * index materializes (at scale this IS the index layout: cell
    * partitions the corpus; probing = joining cell ids). Exposed as a
    * query so the map-side assignment path ([[argmaxCell]]) is
    * hash-verified against the oracle's row_number replay of the same
    * argmax. */
  def ivfAssignments(embeddings: DataFrame, nCells: Int = 8,
                     trainRounds: Int = 2): DataFrame =
    argmaxCell(withVec(embeddings), trainIvfModel(embeddings, nCells, trainRounds))
      .select(col("vec_id"), col("cell"))

  /** [[ivfAssignments]] against an already-trained model — the index
    * BUILD half of the serve path (train once, assign each ingest
    * batch, store (vec_id, cell)); no Lloyd rounds run here. */
  def ivfAssignmentsFor(embeddings: DataFrame,
                        centroids: Seq[(Long, Seq[Double])]): DataFrame =
    ivfAssignmentsForOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      centroids)

  /** IVF model-quality audit: per cell, how many vectors it holds and
    * their mean cosine to the centroid they chose — the inertia report
    * that decides whether a trained quantizer is balanced (a cell with
    * few members and low mean cosine is a dead/mis-seeded centroid; a
    * giant cell with low cohesion wants more cells or more rounds).
    * Same map-side assignment as [[ivfAssignments]], keeping
    * the WINNING score alongside the argmax; the mean is integer
    * micro-quantized per vector (`floor(cos·1e6 + 0.5)`, the suite's
    * half-up rule) then one exact integer sum + one IEEE division —
    * bit-identical cross-engine, like the unigram mean. O(cells) output
    * rows; empty cells are absent (nothing chose them). */
  def ivfInertia(embeddings: DataFrame, nCells: Int = 8,
                 trainRounds: Int = 2): DataFrame = {
    argmaxCell(withVec(embeddings), trainIvfModel(embeddings, nCells, trainRounds))
      .select(col("cell"),
        floor(col("best") * 1e6 + 0.5).cast("long").as("q"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("qsum"))
      .select(col("cell"), col("n_vecs"),
        (col("qsum").cast("double") /
          (col("n_vecs").cast("double") * lit(1e6))).as("mean_cos"))
  }

  /** X2 out-of-distribution audit: every vector's cosine to its own
    * trained IVF centroid, z-scored against its CELL's distribution —
    * the row-level embedding-quality gate ([[ivfInertia]] is the
    * per-cell aggregate; this flags the individual vectors a curation
    * pass would quarantine: mislabeled points, encoder failures,
    * corrupted rows). Same exact-integer-moment z as the rate-anomaly
    * family (`z = (x·C − S) / √(Q·C − S²)` over int64 C,S,Q — one
    * float division of exact integers, rounded once). Moments use
    * 1e4-quantized cosines, NOT the display 1e6: Q sums x² ≤ 1e8 per
    * row, so int64 holds to ~9·10¹⁰ vectors per cell — production
    * cell sizing (n/cells ~ 10⁶) never approaches it, where 1e6
    * units would overflow at a plausible 10⁷-vector cell.
    *
    * `x2_ood` passes [[ivfModelCached]]: the audit measures the DATA,
    * not the training, so the shared deterministic model changes cost
    * only. 100 TB: the moment table is O(cells) and broadcasts; the
    * audit itself is one map-side-combined aggregation plus a
    * broadcast join — no extra corpus shuffle. */
  def ivfOutliersWithModel(embeddings: DataFrame,
                           cmodel: Seq[(Long, Seq[Double])],
                           threshold: Double = 2.0): DataFrame = {
    val asg = argmaxCell(withVec(embeddings), cmodel)
      .select(col("vec_id"), col("cell"),
        floor(col("best") * 1e6 + 0.5).cast("long").as("q6"))
      .withColumn("q4", expr("q6 div 100"))
    val st = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("c"), sum(col("q4")).as("s"),
        sum(col("q4") * col("q4")).as("qq"))
    asg.join(broadcast(st), Seq("cell"))
      .filter(col("qq") * col("c") - col("s") * col("s") > 0)
      .withColumn("z", round((col("q4") * col("c") - col("s")).cast("double") /
        sqrt((col("qq") * col("c") - col("s") * col("s")).cast("double")), 4))
      .select(col("vec_id"), col("cell"),
        (col("q6").cast("double") / 1e6).as("cos_to_centroid"), col("z"),
        (col("z") <= -threshold).as("is_outlier"))
  }

  /** X2 SEMANTIC dedup (SemDeDup shape): embedding near-duplicates
    * found WITHIN trained IVF cells — the coarse quantizer is the
    * candidate generator, so the quadratic pair stage runs per cell,
    * never corpus-wide. Emits one row per dropped vector with its
    * chosen senior duplicate: a vector is a duplicate iff some
    * LOWER-id vector in the SAME cell reaches rounded cosine ≥ `tau`
    * (the [[embeddingDedup]] seniority rule, so "who survives" never
    * depends on evaluation order); `dup_of` is the max-cosine senior,
    * tie → lowest id.
    *
    * vs [[embeddingDedup]] (blocked exact all-pairs) and the LSH
    * bucket join: the trained cells give the TUNABLE recall/cost
    * knob a 100 TB semantic-dedup pass needs — cell count bounds the
    * per-cell pair fan-out (cells ~ n/target_cell_size keeps each
    * cell's pair block in one task's memory), the cell id is the
    * shuffle/partition key, and the same stored `ivfAssignments`
    * layout serves search and dedup. Within a cell the join is
    * equi-keyed on `cell` (hash join, never the BroadcastNestedLoop
    * a bare id< pair join plans to); the per-vector verdict is one
    * `max_by` hash aggregation. */
  def semDedup(embeddings: DataFrame, nCells: Int = 8,
               trainRounds: Int = 2, tau: Double = 0.38): DataFrame =
    semDedupWithModel(embeddings,
      trainIvfModel(embeddings, nCells, trainRounds), tau)

  /** [[semDedup]] over a PRETRAINED model — the memo entry
    * (`x2_semdedup` passes [[ivfModelCached]]; the cells are only the
    * candidate generator here, so sharing the deterministic model
    * changes cost only — verdicts are bit-identical). */
  def semDedupWithModel(embeddings: DataFrame,
                        cmodel: Seq[(Long, Seq[Double])],
                        tau: Double = 0.38): DataFrame = {
    // the corpus argmax is referenced on BOTH sides of the pair join —
    // materialize it ONCE (budgetSelect's persist → derive →
    // localCheckpoint → unpersist discipline) so the per-cell scoring
    // projection never evaluates twice (round 9's double-window lesson)
    val asg = argmaxCell(withVec(embeddings), cmodel).persist()
    val out = semDedupPairs(asg, tau).localCheckpoint()
    asg.unpersist(false)
    out
  }

  /** The pair/verdict stage of [[semDedup]] over a materialized
    * (vec_id, cell, v, nrm) assignment — split out so its plan shape
    * (equi join on the cell, never a nested loop) is pinnable. */
  private[graft] def semDedupPairs(asg: DataFrame, tau: Double): DataFrame = {
    val seniors = asg.select(col("cell"), col("vec_id").as("keep_id"),
      col("v").as("kv"), col("nrm").as("kn"))
    asg.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
      .join(seniors, Seq("cell"))
      .filter(col("keep_id") < col("vec_id"))
      .select(col("vec_id"), col("cell"), col("keep_id"),
        round(cosine(dot(col("kv"), col("v")), col("kn"), col("nrm")), 6).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"), col("cell"))
      .agg(max_by(col("keep_id"), struct(col("cos"), -col("keep_id"))).as("dup_of"),
        max(col("cos")).as("cos"))
      .select(col("vec_id"), col("cell"), col("dup_of"), col("cos"))
  }

  /** X2 IVF-flat ANN over a TRAINED centroid model ([[trainIvfModel]]
    * or [[ivfModelCached]]): every vector is assigned to its
    * max-cosine centroid (tie → lowest centroid id); a query probes
    * its `nProbe` closest cells (standard IVF multi-probe —
    * single-probe recall was ~0.52 on this corpus with UNtrained seed
    * centroids because arbitrary seeds don't balance the cells; the
    * nearest neighbor often sits just across a cell boundary). At
    * scale the cell id partitions the index — probing more cells =
    * joining more cell ids, never a full scan. Corpus-side cell
    * assignment is map-side ([[argmaxCell]] — no corpus-wide shuffle
    * or window sort, evaluated once); query-side probe ranking windows
    * only the nQueries×nCells slice. */
  def annIvfWithCentroids(embeddings: DataFrame,
                          centroids: Seq[(Long, Seq[Double])],
                          nQueries: Int = 20, k: Int = 3,
                          nProbe: Int = 4): DataFrame = {
    val all = withVec(embeddings)
    ivfSearch(all, argmaxCell(all, centroids), centroids, nQueries, k, nProbe)
  }

  /** The fully-RESIDENT IVF serve path: pretrained model AND
    * pre-assigned corpus — per query, neither Lloyd training nor the
    * corpus-wide argmax runs; only the query slice ranks against the
    * broadcast centroids and joins its probed cells. `assignments` is
    * the slim (vec_id, cell) table [[ivfAssignments]] exports (the
    * index layout a 100 TB deployment stores, bucketed by cell);
    * vectors come from the embeddings table via one doc-keyed join. */
  def annIvfOnAssignments(embeddings: DataFrame, assignments: DataFrame,
                          centroids: Seq[(Long, Seq[Double])],
                          nQueries: Int = 20, k: Int = 3,
                          nProbe: Int = 4): DataFrame = {
    val all = withVec(embeddings)
    ivfSearch(all, all.join(assignments, "vec_id"), centroids, nQueries, k, nProbe)
  }

  /** The IVF probe-cell ranking every IVF search and audit shares:
    * each query vector (vec_id < nQueries) against every broadcast
    * centroid, ranked by centroid cosine (desc, nulls last — a
    * zero-norm vector has no direction — tie → lower c_id) as
    * `arank`. The window covers only the tiny nQueries×nCells slice;
    * rows keep the query's columns plus `c_id`, `cv` and `cn`, so a
    * caller filters `arank <= nProbe` and derives per-cell values
    * (the residual rungs' `residual_dyadic(v, cv)`). */
  private def rankProbeCells(all: DataFrame, centroids: Seq[(Long, Seq[Double])],
                             nQueries: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val cents = centroids.toDF("c_id", "cv")
      .withColumn("cn", sqrt(dot_product(col("cv"), col("cv"))))
    val aw = Window.partitionBy(col("vec_id")).orderBy(
      cosine(dot(col("cv"), col("v")), col("cn"), col("nrm")).desc_nulls_last,
      col("c_id"))
    all.filter(col("vec_id") < nQueries).crossJoin(broadcast(cents))
      .withColumn("arank", row_number().over(aw))
  }

  /** Shared IVF query stage: rank each query vector's `nProbe` closest
    * cells, join the probed cells of the assigned corpus, exact-cosine
    * top-k per query with id tie-break. */
  private def ivfSearch(all: DataFrame, assigned: DataFrame,
                        centroids: Seq[(Long, Seq[Double])],
                        nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val probes = rankProbeCells(all, centroids, nQueries)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val q = probes.join(
      all.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")),
      Seq("q_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    assigned.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cell"),
        cosine(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cell"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  // --------------------------------------------------------------------
  // Product quantization (PQ) — the memory-compression leg of the ANN
  // story: 64 float32 dims (256 B) become m=8 one-byte codes, a 32×
  // shrink, and queries score the CORPUS WITHOUT EVER TOUCHING RAW
  // VECTORS via per-query lookup tables (ADC). IVF partitions the
  // corpus; PQ compresses it; real systems (FAISS IVF-PQ) compose both.
  // Training is deterministic per-subspace L2 Lloyd (seeds = the first
  // k vectors' subvectors, fixed rounds, means rounded to 6 decimals)
  // so the codebook, the codes, and the ADC ranking all hash-verify
  // against an oracle replay, like the IVF chain.
  // --------------------------------------------------------------------

  /** Per-vector subvector frame: (vec_id, sub, sv, sn2) — the vector
    * split into `m` contiguous dsub-dim slices, each with its exact
    * squared norm (sequential-fold kernel; same fold order as the
    * oracle's list_reduce, so distances are bit-identical). */
  private def subvectors(vecs: DataFrame, m: Int, dsub: Int): DataFrame =
    vecs.select(col("vec_id"),
      posexplode(array((0 until m).map(t => slice(col("v"), t * dsub + 1, dsub)): _*)))
      .toDF("vec_id", "sub", "sv")
      .withColumn("sn2", dot_product(col("sv"), col("sv")))

  private def pqCodebookDF(spark: SparkSession,
                           cb: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cb.toDF("sub", "code", "cv")
      .withColumn("cn2", dot_product(col("cv"), col("cv")))
  }

  /** Argmin-L2 code per (vector, subspace) row via the compiled
    * [[graft.functions.ArgminCode]] kernel — nearest codeword by the
    * expanded ‖x‖² − 2·x·c + ‖c‖² distance, tie → lowest code (the
    * `ORDER BY dist, code` rule), bit-identical to the former
    * broadcast-join + `min_by` re-aggregation form (which fanned every
    * subvector row out ×k codewords and folded them back through an
    * exchange that existed only to compute a per-row argmin). Pure
    * map: no join, no shuffle; codebook is O(m·k·dsub) expression
    * state. */
  private def argminCode(subs: DataFrame,
                         cb: Seq[(Int, Long, Seq[Double])]): DataFrame =
    subs.withColumn("code",
        graft.functions.ArgminCode.argmin_code(col("sub"), col("sv"), cb))
      .select(col("vec_id"), col("sub"), col("code"), col("sv"))

  /** Train the PQ codebook: independent k-means per subspace,
    * deterministic like [[trainIvfModel]] (seeds = subvectors of the
    * first `k` vectors, `rounds` fixed Lloyd iterations, per-dimension
    * means rounded to 6 decimals; empty codes keep their seed). All
    * subspaces train in the SAME distributed passes — `sub` is just a
    * grouping key — so cost does not grow with m. The model is
    * driver-side state of O(m·k·dsub) doubles, the IVF-centroid
    * pattern: train once, serve every encode/search batch. */
  def trainPqModel(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                   rounds: Int = 2, dims: Int = 64): Seq[(Int, Long, Seq[Double])] =
    trainPqModelOnVectors(withVec(embeddings), m, k, rounds, dims)

  /** [[trainPqModel]] over any (vec_id, v: array<double>) frame — the
    * modality-agnostic form ([[annOnVectors]]' convention): media stub
    * embeddings, quantized batches, any encoder output trains the
    * same way. Caller owns the exactness contract: component values
    * must be dyadic (finite binary — float-derived doubles, or
    * quantized to a 2^-k grid) so the Lloyd mean sums fold exactly
    * in any order before the round-6 model quantization. */
  def trainPqModelOnVectors(vecs: DataFrame, m: Int = 8, k: Int = 16,
                            rounds: Int = 2, dims: Int = 64): Seq[(Int, Long, Seq[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // same materialize-once discipline as [[kmeansCentroids]]: seeds +
    // one argmin/means job per round all read this frame
    val subs = subvectors(vecs, m, dims / m).persist()
    try {
      var cb: Seq[(Int, Long, Seq[Double])] = subs.filter(col("vec_id") < k)
        .select(col("sub"), col("vec_id").as("code"), col("sv"))
        .as[(Int, Long, Seq[Double])].collect().sortBy(x => (x._1, x._2)).toSeq
      for (_ <- 1 to rounds) {
        val assigned = argminCode(subs, cb)
        // float32 inputs have 24-bit mantissas: every partial sum below
        // stays exactly representable in double, so the mean is
        // order-independent without quantization (the IVF precedent).
        // One aggregation + O(m·k·dsub) collect; the means fold on the
        // driver through round6 (same shape as kmeansCentroids).
        val means = assigned.select(col("sub"), col("code"), posexplode(col("sv")))
          .groupBy(col("sub"), col("code"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
          .as[(Int, Long, Int, Double, Long)].collect()
          .groupBy(r => (r._1, r._2)).map { case (key, rows) =>
            key -> rows.sortBy(_._3).map(r => round6(r._4 / r._5)).toSeq
          }
        cb = cb.map { case (s, c, cv) => (s, c, means.getOrElse((s, c), cv)) }
      }
      cb
    } finally { subs.unpersist(false); () }
  }

  /** The trained PQ codebook as (sub, code, pos, val) rows — the model
    * export, hash-verified like [[trainedCentroids]]. */
  def pqCodebook(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                 rounds: Int = 2, dims: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    pqCodebookDF(spark, trainPqModel(embeddings, m, k, rounds, dims))
      .select(col("sub").cast("long").as("sub"), col("code"), posexplode(col("cv")))
      .select(col("sub"), col("code"), (col("pos") + 1).cast("long").as("pos"),
        round(col("col"), 6).as("val"))
  }

  /** Corpus-side PQ ENCODING over the trained codebook — one
    * (vec_id, sub, code) row per subspace: the stored compressed
    * corpus (m bytes per vector at k ≤ 256). The argmin is the
    * map-side-partial `min_by` aggregation, hash-verified against the
    * oracle's row_number replay. At scale this table IS the index
    * payload: stored code-major, it streams through ADC scans with no
    * raw-vector I/O at all. */
  def pqCodes(embeddings: DataFrame, m: Int = 8, k: Int = 16,
              rounds: Int = 2, dims: Int = 64): DataFrame =
    pqCodesAgainst(embeddings, trainPqModel(embeddings, m, k, rounds, dims),
      m, dims)

  /** X2 PQ distortion audit — per subspace, the mean and max L2²
    * quantization error of the trained codebook over the corpus: the
    * "is (m, k) enough" gate run before a PQ index replaces exact
    * vectors (distortion concentrating in one subspace means that
    * slice of the embedding carries structure 16 codewords cannot
    * represent — raise k or re-split). Completes the audit symmetry:
    * recall audits judge the SEARCH quality, this judges the
    * COMPRESSION quality feeding it. The per-(vector, subspace) min
    * distance is order-free (`min` over an identical candidate set,
    * distances bit-identical via the expanded compiled fold);
    * per-subspace means quantize each min to integer micro-units
    * first — the float-sum-order lesson.
    *
    * 100 TB: one broadcast-codebook join + two aggregations, O(m)
    * output rows; training replay is the oracle form (production
    * audits a STORED codebook via the same frame with
    * [[trainPqModel]]'s output passed in). */
  def pqDistortion(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                   rounds: Int = 2, dims: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val cb = trainPqModel(embeddings, m, k, rounds, dims)
    subvectors(withVec(embeddings), m, dims / m)
      .join(broadcast(pqCodebookDF(spark, cb)), Seq("sub"))
      .withColumn("dist",
        col("sn2") - lit(2.0) * dot_product(col("sv"), col("cv")) + col("cn2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("dist")).as("d"))
      .select(col("sub").cast("long").as("sub"),
        floor(col("d") * 1e6 + 0.5).cast("long").as("q"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("s"),
        max(col("q")).as("mx"))
      .select(col("sub"), col("n_vecs"),
        (col("s").cast("double") / (col("n_vecs").cast("double") * lit(1e6)))
          .as("mean_dist"),
        (col("mx").cast("double") / 1e6).as("max_dist"))
  }

  /** The SERVE path of PQ encoding — encode a batch against a STORED
    * codebook ([[trainPqModel]]'s output), the train-once / reuse form
    * every model artifact here carries (`trainIvfModel` →
    * `annIvfWithCentroids`, `unigramModel` → `unigramLogProbAgainst`):
    * a continuously-ingesting corpus trains its codebook once and
    * encodes every later batch with one broadcast join — no
    * retraining, no corpus rescan. Spec pins serve ≡ self-contained. */
  def pqCodesAgainst(embeddings: DataFrame, codebook: Seq[(Int, Long, Seq[Double])],
                     m: Int = 8, dims: Int = 64): DataFrame =
    pqCodesAgainstOnVectors(withVec(embeddings), codebook, m, dims)

  /** [[pqCodesAgainst]] over any (vec_id, v) frame — the encode half
    * of [[trainPqModelOnVectors]]' modality-agnostic contract. */
  def pqCodesAgainstOnVectors(vecs: DataFrame,
                              codebook: Seq[(Int, Long, Seq[Double])],
                              m: Int = 8, dims: Int = 64): DataFrame = {
    val subs = subvectors(vecs, m, dims / m)
    argminCode(subs, codebook)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** The full ADC (asymmetric distance computation) ranking frame
    * (q_id, n_id, adist_u, rank) over a code table + codebook, shared
    * by the ADC top-k and the re-ranked search: each query
    * precomputes a lookup table of partial distances to every
    * codeword (m·k entries), and a corpus vector's score is the sum
    * of m table hits — the corpus appears ONLY as m codes per vector
    * (the 100 TB point of PQ: the scan touches n·m bytes of codes
    * plus a broadcast LUT of O(queries·m·k)). Partial distances are
    * quantized to integer MICRO-UNITS before the per-vector sum: the
    * m partials arrive in arbitrary order under a hash aggregation, so
    * a float sum would be evaluation-order-dependent; the int64 sum is
    * exact and the ranking (distance asc, id tie-break)
    * engine-deterministic. Each partial is itself bit-identical
    * cross-engine (same expanded form, same fold order as
    * [[argminCode]]). */
  private def adcRankedOnCodesVectors(vecs: DataFrame, codes: DataFrame,
                                      codebook: Seq[(Int, Long, Seq[Double])],
                                      m: Int, dims: Int, nQueries: Int): DataFrame = {
    val spark = vecs.sparkSession
    val cdf = pqCodebookDF(spark, codebook)
    val subs = subvectors(vecs, m, dims / m)
    val lut = subs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sub"), col("sv"), col("sn2"))
      .join(cdf, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        floor((col("sn2") - lit(2.0) * dot_product(col("sv"), col("cv")) +
          col("cn2")) * 1000000 + 0.5).cast("long").as("pd"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist_u"), col("n_id"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("pd")).as("adist_u"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** X2 flat-ADC SERVE — the ADC top-k over the STORED compressed
    * corpus: the search plan reads the (vec_id, sub, code) table and
    * the driver-side codebook only; the raw corpus vectors exist in
    * the query batch alone (LUT construction is query-side
    * arithmetic). With [[annIvfPqOnArtifacts]] this completes the
    * serve ≡ self-contained contract for every PQ search shape;
    * `x2_ann_pq_serve` shares `x2_ann_pq`'s oracle by reference. */
  def pqAdcTopKOnCodes(embeddings: DataFrame, codes: DataFrame,
                       codebook: Seq[(Int, Long, Seq[Double])],
                       m: Int = 8, dims: Int = 64,
                       nQueries: Int = 20, kNn: Int = 3): DataFrame =
    pqAdcTopKOnVectors(withVec(embeddings), codes, codebook, m, dims,
      nQueries, kNn)

  /** [[pqAdcTopKOnCodes]] over any (vec_id, v) query frame — the
    * modality-agnostic form the media retrieval path composes. */
  def pqAdcTopKOnVectors(vecs: DataFrame, codes: DataFrame,
                         codebook: Seq[(Int, Long, Seq[Double])],
                         m: Int = 8, dims: Int = 64,
                         nQueries: Int = 20, kNn: Int = 3): DataFrame =
    adcRankedOnCodesVectors(vecs, codes, codebook, m, dims, nQueries)
      .filter(col("rank") <= kNn)
      .select(col("q_id"), col("n_id"),
        round(col("adist_u").cast("double") / 1000000.0, 6).as("adist"), col("rank"))

  /** X2 IVF-PQ SERVE — the composed IVF-PQ search over STORED index
    * artifacts: the (vec_id, cell) partition map and the (vec_id,
    * sub, code) compressed corpus, with both trained models
    * ([[trainIvfModel]] centroids, [[trainPqModel]] codebook) as
    * driver-side state. Nothing in the search plan trains, assigns,
    * or encodes the corpus — the query batch brings its own raw
    * vectors (probe selection + the ADC lookup table are query-side
    * arithmetic) and everything corpus-sized is a stored-frame probe:
    * the full production shape of the billion-scale architecture.
    * `x2_ann_ivfpq_serve` shares `x2_ann_ivfpq`'s oracle by
    * reference, so serve ≡ train-and-serve sits inside the hash
    * gate like the IVF, LSH, LM, anomaly, HLL, and KMV serve paths. */
  def annIvfPqOnArtifacts(embeddings: DataFrame, asg: DataFrame,
                          codes: DataFrame,
                          centroids: Seq[(Long, Seq[Double])],
                          codebook: Seq[(Int, Long, Seq[Double])],
                          m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                          k: Int = 3, nProbe: Int = 2): DataFrame =
    annIvfPqOnArtifactsVectors(withVec(embeddings), asg, codes, centroids,
      codebook, m, dims, nQueries, k, nProbe)

  /** [[annIvfPqOnArtifacts]] over any (vec_id, v: array<double>) frame
    * — the modality-agnostic serve form the media retrieval path
    * composes (`x5_mm_search_ivfpq_serve`). */
  def annIvfPqOnArtifactsVectors(vecs: DataFrame, asg: DataFrame,
                                 codes: DataFrame,
                                 centroids: Seq[(Long, Seq[Double])],
                                 codebook: Seq[(Int, Long, Seq[Double])],
                                 m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                                 k: Int = 3, nProbe: Int = 2): DataFrame = {
    val all = vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val cdf = pqCodebookDF(all.sparkSession, codebook)
    val subs = subvectors(all, m, dims / m)
    val probes = rankProbeCells(all, centroids, nQueries)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val lut = subs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sub"), col("sv"), col("sn2"))
      .join(cdf, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        floor((col("sn2") - lit(2.0) * dot_product(col("sv"), col("cv")) +
          col("cn2")) * 1000000 + 0.5).cast("long").as("pd"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist_u"), col("n_id"))
    asg.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("pd")).as("adist_u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"),
        round(col("adist_u").cast("double") / 1000000.0, 6).as("adist"), col("rank"))
  }

  // --------------------------------------------------------------------
  // RESIDUAL-encoded IVF-PQ — the true FAISS IVFPQ: within each trained
  // cell the PQ codebook encodes the RESIDUAL (v − centroid[cell]), not
  // the raw vector, concentrating the fixed code budget on WITHIN-cell
  // variance (the between-cell component is already carried by the cell
  // id). At fixed (nCells, m, kCodes) this is most of IVFPQ's recall
  // advantage. Exactness: residuals snap to the dyadic 2⁻²⁰ grid inside
  // one compiled kernel (ResidualDyadic) so the per-subspace Lloyd
  // training stays fold-order-exact cross-engine (raw `v − round6(c)`
  // residuals have full mantissas; the media dyadic-embed discipline).
  // --------------------------------------------------------------------

  /** Per-vector dyadic residual frame (vec_id, cell, v=residual): the
    * argmax-cosine cell assignment (identical to [[ivfAssignmentsFor]])
    * joined to its centroid — an O(nCells·dims) broadcast — with the
    * subtraction + grid snap in the compiled kernel. */
  private def residualVectors(all: DataFrame,
                              cmodel: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val cents = cmodel.toDF("cell", "ccv")
    argmaxCell(all, cmodel).select(col("vec_id"), col("cell"), col("v"))
      .join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell"),
        graft.functions.ResidualDyadic.residual_dyadic(col("v"), col("ccv")).as("v"))
  }

  /** Train the residual-PQ codebook: [[trainPqModelOnVectors]] over the
    * dyadic residual frame — same deterministic per-subspace Lloyd
    * (seeds = residual subvectors of vec_id < kCodes, fixed rounds,
    * round-6 means); the model a residual serve path keeps as driver
    * state next to the IVF centroids. */
  def trainResPqModel(embeddings: DataFrame, cmodel: Seq[(Long, Seq[Double])],
                      m: Int = 8, kCodes: Int = 16, rounds: Int = 2,
                      dims: Int = 64): Seq[(Int, Long, Seq[Double])] =
    trainResPqModelOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      cmodel, m, kCodes, rounds, dims)

  /** Corpus-side residual-PQ encoding against stored models — the
    * (vec_id, sub, code) compressed corpus where each code indexes the
    * RESIDUAL codebook of the vector's own cell assignment. */
  def resPqCodesAgainst(embeddings: DataFrame, cmodel: Seq[(Long, Seq[Double])],
                        codebook: Seq[(Int, Long, Seq[Double])],
                        m: Int = 8, dims: Int = 64): DataFrame =
    resPqCodesAgainstOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      cmodel, codebook, m, dims)

  /** The residual pair's TRAIN-ONCE entry: IVF centroids + residual-PQ
    * codebook through [[ModelCache]], keyed by corpus path — the
    * self-contained query (`x2_ann_ivfpq_res`) and its serve twin used
    * to each re-run the identical deterministic trainings at
    * construction; sharing the driver-side models halves the pair's
    * training cost without touching any plan (results are
    * bit-identical — the trainings have no RNG). */
  def resModels(embeddings: DataFrame, modelKey: String, nCells: Int = 8,
                trainRounds: Int = 2, m: Int = 8, kCodes: Int = 16,
                dims: Int = 64)
      : (Seq[(Long, Seq[Double])], Seq[(Int, Long, Seq[Double])]) = {
    // NOT one nested memo: computeIfAbsent inside computeIfAbsent on
    // the same map is a recursive update — the two models memoize
    // under separate keys, sequentially
    val cmodel = ivfModelCached(embeddings, modelKey, nCells, trainRounds)
    val pq = ModelCache.memo(ModelCache.key(modelKey,
        s"emb-respq-$nCells-$trainRounds-$m-$kCodes-$dims")) {
      trainResPqModel(embeddings, cmodel, m, kCodes, trainRounds, dims)
    }
    (cmodel, pq)
  }

  /** The coarse quantizer alone through [[ModelCache]] — shared by
    * every SEARCH composition over the same corpus (IVF flat, IVF×PQ,
    * IVF×SQ and both residual rungs) AND by the audit-ADJACENT
    * queries that measure the trained index or the data, not the
    * training (`x2_ivf_recall`, `x2_ivf_probe_curve`, `x2_ood`,
    * `x2_semdedup` — round 19): one Lloyd run per (corpus,
    * hyperparams), ever. Queries whose POINT is the training or a
    * training property keep their own runs (`x2_centroids`,
    * `x2_ivf_inertia`, `x2_pq_codebook`, `x2_ivfpq_recall`,
    * `x2_ivfsq_recall` — memoizing those would make the proof
    * circular). */
  def ivfModelCached(embeddings: DataFrame, modelKey: String, nCells: Int = 8,
                     trainRounds: Int = 2): Seq[(Long, Seq[Double])] =
    ModelCache.memo(ModelCache.key(modelKey, s"emb-ivf-$nCells-$trainRounds")) {
      trainIvfModel(embeddings, nCells, trainRounds)
    }

  /** The raw-vector PQ codebook through [[ModelCache]] —
    * [[ivfModelCached]]'s twin for the compression leg, shared by the
    * flat-ADC, rerank, and IVF×PQ search forms. */
  def pqModelCached(embeddings: DataFrame, modelKey: String, m: Int = 8,
                    kCodes: Int = 16, rounds: Int = 2,
                    dims: Int = 64): Seq[(Int, Long, Seq[Double])] =
    ModelCache.memo(ModelCache.key(modelKey, s"emb-pq-$m-$kCodes-$rounds-$dims")) {
      trainPqModel(embeddings, m, kCodes, rounds, dims)
    }

  /** Both raw-composition models via the memo — the IVF×PQ pair's
    * train-once entry ([[resModels]]' raw twin). */
  def ivfPqModels(embeddings: DataFrame, modelKey: String, nCells: Int = 8,
                  trainRounds: Int = 2, m: Int = 8, kCodes: Int = 16,
                  dims: Int = 64)
      : (Seq[(Long, Seq[Double])], Seq[(Int, Long, Seq[Double])]) =
    (ivfModelCached(embeddings, modelKey, nCells, trainRounds),
      pqModelCached(embeddings, modelKey, m, kCodes, trainRounds, dims))

  /** X2 IVF-PQ search — the two index legs COMPOSED, the standard
    * billion-scale ANN architecture (FAISS IVFPQ): the trained IVF
    * coarse quantizer PARTITIONS the corpus (a query scores only its
    * `nProbe` closest cells), and PQ COMPRESSES it (within the probed
    * cells the score is the ADC sum over the code table — raw vectors
    * are never read at query time). Candidate volume is bounded by
    * the probed cells' population, ADC I/O by m bytes per candidate:
    * the two knobs (cells, code size) tune cost independently. Both
    * models are passed in ([[ivfPqModels]] for `x2_ann_ivfpq`);
    * assignment and encoding stay lazy in the plan. */
  def annIvfPqWithModels(embeddings: DataFrame,
                         cmodel: Seq[(Long, Seq[Double])],
                         codebook: Seq[(Int, Long, Seq[Double])],
                         m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                         k: Int = 3, nProbe: Int = 2): DataFrame =
    annIvfPqWithModelsOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      cmodel, codebook, m, dims, nQueries, k, nProbe)

  /** [[annIvfPqWithModels]] over any (vec_id, v) frame — the
    * modality-agnostic form (`x5_mm_search_ivfpq` through
    * [[Multimodal.mediaIvfPqModels]], whose trainings need dyadic
    * component values to stay fold-order-exact cross-engine). */
  def annIvfPqWithModelsOnVectors(vecs: DataFrame,
                                  cmodel: Seq[(Long, Seq[Double])],
                                  codebook: Seq[(Int, Long, Seq[Double])],
                                  m: Int = 8, dims: Int = 64,
                                  nQueries: Int = 20, k: Int = 3,
                                  nProbe: Int = 2): DataFrame = {
    val all = vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val asg = argmaxCell(all, cmodel).select(col("vec_id"), col("cell"))
    val codes = argminCode(subvectors(all, m, dims / m), codebook)
      .select(col("vec_id"), col("sub"), col("code"))
    annIvfPqOnArtifactsVectors(vecs, asg, codes, cmodel, codebook,
      m, dims, nQueries, k, nProbe)
  }

  /** X2 flat-ADC top-k with the codebook passed in ([[pqModelCached]]
    * for `x2_ann_pq`) — corpus encoding stays lazy in the plan; the
    * ranking is [[adcRankedOnCodesVectors]]'. */
  def pqAdcTopKWithModel(embeddings: DataFrame,
                         codebook: Seq[(Int, Long, Seq[Double])],
                         m: Int = 8, dims: Int = 64,
                         nQueries: Int = 20, kNn: Int = 3): DataFrame = {
    val codes = argminCode(subvectors(withVec(embeddings), m, dims / m), codebook)
      .select(col("vec_id"), col("sub"), col("code"))
    pqAdcTopKOnCodes(embeddings, codes, codebook, m, dims, nQueries, kNn)
  }

  /** X2 PQ search with EXACT RE-RANKING — the production IVF-PQ serve
    * shape: the ADC pass over the code table yields a `shortlist` of
    * candidates per query (cheap, compressed-domain), and only those
    * S vectors are fetched raw and re-scored by exact L2 for the
    * final top-k. Quantization error then costs RECALL only when a
    * true neighbor falls outside the shortlist, not rank accuracy
    * inside it — the standard answer to a coarse codebook. Per query
    * the raw-vector I/O is S rows instead of the corpus (at 100 TB:
    * S point lookups against the vec_id-keyed store vs a full scan).
    * Exact distances use the same expanded form and fold order as the
    * oracle, ranked raw with id tie-breaks (the house rule). */
  def pqRerankTopKWithModel(embeddings: DataFrame,
                            codebook: Seq[(Int, Long, Seq[Double])],
                            m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                            shortlist: Int = 64, kNn: Int = 3): DataFrame = {
    val codes = argminCode(subvectors(withVec(embeddings), m, dims / m), codebook)
      .select(col("vec_id"), col("sub"), col("code"))
    val vecs = withVec(embeddings)
      .select(col("vec_id"), col("v"), dot_product(col("v"), col("v")).as("n2"))
    val short = adcRankedOnCodesVectors(withVec(embeddings), codes, codebook,
        m, dims, nQueries)
      .filter(col("rank") <= shortlist).select(col("q_id"), col("n_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("n_id"))
    short
      .join(vecs.select(col("vec_id").as("n_id"), col("v"), col("n2")), Seq("n_id"))
      .join(vecs.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2")), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        (col("n2") - lit(2.0) * dot_product(col("qv"), col("v")) + col("qn2"))
          .as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kNn)
      .select(col("q_id"), col("n_id"), round(col("dist"), 6).as("dist"), col("rank"))
  }

  /** X2 RESIDUAL IVF-PQ search — [[annIvfPqWithModels]] with the FAISS
    * residual refinement: the trained IVF coarse quantizer still
    * bounds the candidate set to nProbe cells, but the code table
    * stores per-subspace codewords of (v − centroid[cell]) and the
    * query builds ONE ADC lookup table PER PROBED CELL from its own
    * residual (q − centroid[cell]) — the distance estimate is then
    * ‖(q−c) − r‖² per candidate, the within-cell geometry both sides
    * share. Costs one LUT per (query, cell) instead of per query;
    * candidate I/O is unchanged at m bytes per candidate.
    * [[ivfPqRecallReport]] is the measured gate. Both models are
    * passed in ([[resModels]] for `x2_ann_ivfpq_res`); assignment and
    * residual encoding stay lazy in the plan. */
  def annIvfPqResWithModels(embeddings: DataFrame,
                            cmodel: Seq[(Long, Seq[Double])],
                            codebook: Seq[(Int, Long, Seq[Double])],
                            m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                            k: Int = 3, nProbe: Int = 2): DataFrame =
    annIvfPqResWithModelsOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      cmodel, codebook, m, dims, nQueries, k, nProbe)

  /** X2 residual IVF-PQ SERVE — [[annIvfPqResWithModels]] over STORED
    * artifacts: the (vec_id, cell) partition map, the (vec_id, sub,
    * code) residual-code corpus, and both trained models as driver
    * state. The search plan assigns/encodes nothing corpus-side; the
    * query batch brings its raw vectors (probe ranking + per-cell
    * residual LUTs are query-side arithmetic). `x2_ann_ivfpq_res_serve`
    * shares `x2_ann_ivfpq_res`'s oracle by reference. */
  def annIvfPqResOnArtifacts(embeddings: DataFrame, asg: DataFrame,
                             codes: DataFrame,
                             centroids: Seq[(Long, Seq[Double])],
                             codebook: Seq[(Int, Long, Seq[Double])],
                             m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                             k: Int = 3, nProbe: Int = 2): DataFrame =
    annIvfPqResOnArtifactsVectors(withVec(embeddings), asg, codes, centroids,
      codebook, m, dims, nQueries, k, nProbe)

  /** [[annIvfPqResWithModels]] over any (vec_id, v) frame — the
    * modality-agnostic form (`x5_mm_search_ivfpq_res` through
    * [[Multimodal.mediaResModels]]). Caller supplies the dyadic
    * component values the models were trained on, so the residual
    * snap stays fold-order-exact cross-engine. */
  def annIvfPqResWithModelsOnVectors(vecs: DataFrame,
                                     cmodel: Seq[(Long, Seq[Double])],
                                     codebook: Seq[(Int, Long, Seq[Double])],
                                     m: Int = 8, dims: Int = 64,
                                     nQueries: Int = 20, k: Int = 3,
                                     nProbe: Int = 2): DataFrame = {
    val all = vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val resv = residualVectors(all, cmodel)
    val asg = resv.select(col("vec_id"), col("cell"))
    val codes = argminCode(subvectors(resv, m, dims / m), codebook)
      .select(col("vec_id"), col("sub"), col("code"))
    annIvfPqResOnArtifactsVectors(vecs, asg, codes, cmodel, codebook,
      m, dims, nQueries, k, nProbe)
  }

  /** [[trainResPqModel]] over any (vec_id, v) frame — the
    * modality-agnostic residual-codebook training. */
  def trainResPqModelOnVectors(vecs: DataFrame,
                               cmodel: Seq[(Long, Seq[Double])],
                               m: Int = 8, kCodes: Int = 16, rounds: Int = 2,
                               dims: Int = 64): Seq[(Int, Long, Seq[Double])] =
    trainPqModelOnVectors(
      residualVectors(
        vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v")))), cmodel)
        .select(col("vec_id"), col("v")),
      m, kCodes, rounds, dims)

  /** [[resPqCodesAgainst]] over any (vec_id, v) frame. */
  def resPqCodesAgainstOnVectors(vecs: DataFrame,
                                 cmodel: Seq[(Long, Seq[Double])],
                                 codebook: Seq[(Int, Long, Seq[Double])],
                                 m: Int = 8, dims: Int = 64): DataFrame = {
    val resv = residualVectors(
      vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v")))), cmodel)
    argminCode(subvectors(resv, m, dims / m), codebook)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** [[annIvfPqResOnArtifacts]] over any (vec_id, v) frame — the
    * modality-agnostic residual serve form
    * (`x5_mm_search_ivfpq_res_serve`). */
  def annIvfPqResOnArtifactsVectors(vecs: DataFrame, asg: DataFrame,
                                    codes: DataFrame,
                                    centroids: Seq[(Long, Seq[Double])],
                                    codebook: Seq[(Int, Long, Seq[Double])],
                                    m: Int = 8, dims: Int = 64,
                                    nQueries: Int = 20, k: Int = 3,
                                    nProbe: Int = 2): DataFrame = {
    val all = vecs.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val cdf = pqCodebookDF(all.sparkSession, codebook)
    val dsub = dims / m
    // probes CARRY the query's dyadic residual against each probed
    // centroid — the per-(query, cell) LUT input
    val probes = rankProbeCells(all, centroids, nQueries)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"),
        graft.functions.ResidualDyadic.residual_dyadic(col("v"), col("cv")).as("qr"))
    val qsubs = probes.select(col("q_id"), col("cell"),
        posexplode(array((0 until m).map(t =>
          slice(col("qr"), t * dsub + 1, dsub)): _*)))
      .toDF("q_id", "cell", "sub", "sv")
      .withColumn("sn2", dot_product(col("sv"), col("sv")))
    val lut = qsubs.join(cdf, Seq("sub"))
      .select(col("q_id"), col("cell"), col("sub"), col("code"),
        floor((col("sn2") - lit(2.0) * dot_product(col("sv"), col("cv")) +
          col("cn2")) * 1000000 + 0.5).cast("long").as("pd"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist_u"), col("n_id"))
    // every candidate lives in exactly ONE cell, so the (q_id, cell,
    // sub, code) LUT probe contributes exactly m rows per candidate
    asg.join(broadcast(probes.select(col("q_id"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("vec_id"))
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "cell", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("pd")).as("adist_u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"),
        round(col("adist_u").cast("double") / 1000000.0, 6).as("adist"), col("rank"))
  }

  /** X2 IVF-PQ recall audit — the measured half of the residual claim:
    * per query, how many of the EXACT-L2 top-k (the metric ADC
    * approximates) each composition returns — `n_hits_raw` for the
    * raw-vector codes ([[annIvfPqWithModels]]) and `n_hits_res` for the residual
    * codes ([[annIvfPqResWithModels]]), at IDENTICAL (nCells, m, kCodes,
    * nProbe). The spec pins Σ n_hits_res ≥ Σ n_hits_raw — "residual
    * encoding helps" as a regression gate, not a slogan. Ground truth
    * uses the bounded-state top-k aggregate on −dist (expanded form,
    * oracle fold order); both approximate legs are k-bounded, so the
    * audit join is O(|Q|·k) rows beyond the two searches. */
  def ivfPqRecallReport(embeddings: DataFrame, nQueries: Int = 20, k: Int = 3,
                        nCells: Int = 8, trainRounds: Int = 2, m: Int = 8,
                        kCodes: Int = 16, dims: Int = 64,
                        nProbe: Int = 2): DataFrame =
    ivfPqRecallReportOnVectors(withVec(embeddings), nQueries, k, nCells,
      trainRounds, m, kCodes, dims, nProbe)

  /** [[ivfPqRecallReport]] over any (vec_id, v) frame — the media
    * modality's measured residual-PQ claim (`x5_mm_ivfpq_recall`): the
    * residual-vs-raw margin is DATA-DEPENDENT, so the media
    * distribution (dyadic stub embeddings) gets its own measurement
    * rather than inheriting the embedding table's. Trains its own
    * models BY DESIGN (the audit re-proves the claim — [[ModelCache]]
    * would make it circular). */
  def ivfPqRecallReportOnVectors(vectors: DataFrame, nQueries: Int = 20,
                                 k: Int = 3, nCells: Int = 8,
                                 trainRounds: Int = 2, m: Int = 8,
                                 kCodes: Int = 16, dims: Int = 64,
                                 nProbe: Int = 2): DataFrame = {
    // Materialize the vector frame ONCE for the whole audit: the two
    // trainings each persist a derivative of it and the final plan
    // reads it from ~8 separate subtrees (assignments, codes, probes,
    // residual snap, exact ground truth) — for the media twin each of
    // those re-ran the embed kernel over the collection. One
    // lineage-free checkpoint replaces three separate persist cycles
    // (strictly fewer corpus passes at any scale); blocks are
    // reclaimed when the frame is dropped (the eager-operator rule —
    // this is a localCheckpoint, never an escaping persist).
    val slim = vectors.select(col("vec_id"), col("v")).localCheckpoint()
    // ONE coarse-quantizer training shared by both legs: the raw and
    // residual compositions use the SAME (nCells, trainRounds) Lloyd
    // run over the same vectors, and training is deterministic, so the
    // shared model is bit-identical to each leg training its own —
    // the round-20 form ran kmeansCentroids twice per invocation (a
    // full extra training: seeds collect + one means job per round +
    // a second corpus materialization) for byte-identical centroids.
    // Sharing WITHIN the invocation is a cost fix, not ModelCache
    // memoization: every invocation still re-proves the claim from
    // scratch (the x2_ivfsq_recall precedent — its legs always shared
    // one training). What stays per-leg is everything the claim is
    // ABOUT: the raw-PQ and residual-PQ codebooks.
    // The raw-PQ training is independent of the IVF → residual-PQ
    // chain (it reads only the checkpointed vectors), so the two
    // training chains run as CONCURRENT driver jobs — each training's
    // own rounds stay driver-synchronized, but the chains' job
    // latencies overlap instead of summing. Each training is
    // deterministic on its own inputs, so interleaving cannot change
    // any model.
    val (rawPq, (cmodel, resPq)) = Par.both(
      trainPqModelOnVectors(slim, m, kCodes, trainRounds, dims),
      { val c = trainIvfModelOnVectors(slim, nCells, trainRounds)
        (c, trainResPqModelOnVectors(slim, c, m, kCodes, trainRounds, dims)) })
    val raw = annIvfPqWithModelsOnVectors(slim, cmodel, rawPq, m, dims,
        nQueries, k, nProbe)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit_raw"))
    val res = annIvfPqResWithModelsOnVectors(slim, cmodel, resPq, m, dims,
        nQueries, k, nProbe)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit_res"))
    composedRecallReport(slim, raw, res, nQueries, k)
  }

  /** The composed-recall audits' shared tail: exact-L2 ground truth
    * over the supplied vectors (bounded-state top-k on −dist, oracle
    * fold order) left-joined with the two k-bounded approximate legs,
    * per-query hit counts and recall. */
  private def composedRecallReport(slim: DataFrame, raw: DataFrame,
                                   res: DataFrame, nQueries: Int,
                                   k: Int): DataFrame = {
    // MEASURED (round 22): materializing the three k-bounded legs as
    // concurrent checkpointed jobs (Par.both per leg) is SLOWER than
    // this single lazy cascade at sf0.1 (x2 gate 2.6 → 3.2 s steady,
    // media 3.0 → 4.0 s) — the one-query form shares the slim scans /
    // assignment subtrees and AQE-reused exchanges across the legs,
    // which separate jobs forfeit, and the three checkpoint syncs add
    // driver latency. Keep the legs in ONE adaptive plan.
    val exact = exactL2TopK(slim, nQueries, k)
    exact.join(raw, Seq("q_id", "n_id"), "left")
      .join(res, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit_raw"), lit(0L))).as("n_hits_raw"),
        sum(coalesce(col("hit_res"), lit(0L))).as("n_hits_res"))
      .select(col("q_id"), col("n_hits_raw"), col("n_hits_res"),
        round(col("n_hits_raw").cast("double") / lit(k.toDouble), 4).as("recall_raw"),
        round(col("n_hits_res").cast("double") / lit(k.toDouble), 4).as("recall_res"))
  }

  /** Exact-L2 top-k over any (vec_id, v) frame — the ground truth
    * every composed and flat recall gate measures against:
    * bounded-state top-k on −dist via the TopKByScore aggregate
    * (oracle fold order; partial aggregation keeps map-side state at
    * O(k) per query), ties on id. */
  private def exactL2TopK(slim: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    val vecs = slim
      .select(col("vec_id"), col("v"), dot_product(col("v"), col("v")).as("n2"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    vecs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (-(col("n2") - lit(2.0) * dot_product(col("qv"), col("v")) + col("qn2")))
          .as("nd"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("nd"), col("n_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
  }

  /** X2 flat-ADC recall audit — the measured gate for the FLAT PQ rung
    * (`x2_pq_recall`): per query, how many of the exact-L2 top-k the
    * ADC ranking over the code table keeps. [[pqDistortion]] measures
    * reconstruction error and the composed gates measure raw-vs-
    * residual UNDER IVF — neither answers "how good is the flat ADC
    * search itself", which was the one deployed search form left
    * without a recall measurement. Takes the TRAINED codebook (the
    * deployed artifact — audit-adjacent, so [[ModelCache]]'s shared
    * model is the right input, like `x2_ivf_recall`); encode + ADC +
    * ground truth are all lazy plans over it. */
  def pqRecallReportWithModel(embeddings: DataFrame,
                              codebook: Seq[(Int, Long, Seq[Double])],
                              m: Int = 8, dims: Int = 64,
                              nQueries: Int = 20, k: Int = 3): DataFrame =
    pqRecallReportOnVectors(withVec(embeddings).select(col("vec_id"), col("v")),
      codebook, m, dims, nQueries, k)

  /** [[pqRecallReportWithModel]] over any (vec_id, v) frame — the
    * modality-agnostic flat-ADC gate (`x5_mm_pq_recall` composes it
    * over the dyadic media head with the shared media codebook);
    * measured per distribution, never inherited. */
  def pqRecallReportOnVectors(vecs: DataFrame,
                              codebook: Seq[(Int, Long, Seq[Double])],
                              m: Int = 8, dims: Int = 64,
                              nQueries: Int = 20, k: Int = 3): DataFrame = {
    val slim = vecs.select(col("vec_id"), col("v"))
    val codes = pqCodesAgainstOnVectors(slim, codebook, m, dims)
    val approx = pqAdcTopKOnVectors(slim, codes, codebook, m, dims, nQueries, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exactL2TopK(slim, nQueries, k), approx, k)
  }

  /** X2 PQ shortlist→rerank recall gate (`x2_pq_rerank_recall`) — the
    * measured proof of the two-stage contract: the rerank's final
    * order is EXACT L2 over the `shortlist`-bounded candidates, so any
    * recall lost versus [[pqRecallReportWithModel]]'s flat-ADC number
    * is purely candidate-boundary loss, and the recovery (flat 15/60 →
    * rerank ~50/60 at sf0.001, S=64) is what buys keeping raw vectors
    * to S point lookups per query. Same deployed codebook through the
    * shared memo (audit-adjacent). */
  def pqRerankRecallWithModel(embeddings: DataFrame,
                              codebook: Seq[(Int, Long, Seq[Double])],
                              m: Int = 8, dims: Int = 64, nQueries: Int = 20,
                              shortlist: Int = 64, k: Int = 3): DataFrame = {
    val approx = pqRerankTopKWithModel(embeddings, codebook, m, dims,
        nQueries, shortlist, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(
      exactL2TopK(withVec(embeddings).select(col("vec_id"), col("v")),
        nQueries, k),
      approx, k)
  }

  /** X2 SQ shortlist→rerank recall gate (`x2_sq_rerank_recall`) —
    * [[annSqRerank]]'s top-k against exact-MIPS ground truth: the
    * rerank's final order is the exact dot product over the int8
    * shortlist, so this measures what the kCand candidate boundary
    * costs (the flat gate [[sqRecallReport]] measures the int8 RANKING
    * itself). */
  def sqRerankRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                           kCand: Int = 20, k: Int = 5): DataFrame = {
    val exact = mipsBruteForce(embeddings, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val approx = annSqRerank(embeddings, nQueries, kCand, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    recallRollup(exact, approx, k)
  }

  /** X2 binary shortlist→rerank recall gate
    * (`x2_binary_rerank_recall`) — [[annBinaryRerank]]'s top-k against
    * exact-cosine ground truth: the 8-byte Hamming scan proposes, the
    * exact cosine re-orders, so the measured number is the candidate-
    * boundary cost of binarization — the production question for the
    * cheapest tier (the flat gate [[binaryRecallReport]] measures the
    * Hamming RANKING itself — which scores ZERO on the media
    * geometry, where only this rerank shape could ever serve). */
  def binaryRerankRecallReport(embeddings: DataFrame, nQueries: Int = 20,
                               kCand: Int = 20, k: Int = 5): DataFrame =
    binaryRerankRecallReportOnVectors(
      withVec(embeddings).select(col("vec_id"), col("v")),
      threshold = 0.0, nQueries, kCand, k)

  /** X2 IVF×SQ recall audit — the measured half of the residual claim
    * for the SQ composition, mirroring [[ivfPqRecallReport]]: per
    * query, how many of the EXACT-L2 top-k each int8 composition
    * returns — `n_hits_raw` for raw-vector codes and `n_hits_res` for
    * residual codes ([[annIvfSqRes]]) — at IDENTICAL (nCells, nProbe)
    * and an identical 1-byte/dim code budget. The production raw rung
    * (`x2_ann_ivfsq`) serves MIPS (asymmetric dot), so the raw leg
    * here re-prices the SAME probed candidates by the asymmetric L2
    * estimate ‖q‖² − 2·s_q·s_d·⟨q,d⟩ + s_d²·⟨d,d⟩ — holding the
    * METRIC fixed is what isolates the encoding (raw vs residual) as
    * the only variable. Trains its own model BY DESIGN (never
    * [[ModelCache]] — the audit re-proves the claim from scratch;
    * memoizing would make the proof circular). Ground truth is the
    * bounded-state top-k aggregate on −dist (oracle fold order); both
    * approximate legs are k-bounded, so the audit join is O(|Q|·k)
    * rows beyond the two searches. Spec pins Σ n_hits_res ≥
    * Σ n_hits_raw. */
  def ivfSqRecallReport(embeddings: DataFrame, nQueries: Int = 20, k: Int = 3,
                        nCells: Int = 8, trainRounds: Int = 2,
                        nProbe: Int = 2): DataFrame =
    ivfSqRecallReportOnVectors(withVec(embeddings), nQueries, k, nCells,
      trainRounds, nProbe)

  /** [[ivfSqRecallReport]] over any (vec_id, v) frame — the media
    * modality's measured residual-SQ claim (`x5_mm_ivfsq_recall`);
    * like the PQ gate, the margin is data-dependent, so the media
    * distribution gets its own measurement. Trains its own model BY
    * DESIGN. */
  def ivfSqRecallReportOnVectors(vectors: DataFrame, nQueries: Int = 20,
                                 k: Int = 3, nCells: Int = 8,
                                 trainRounds: Int = 2,
                                 nProbe: Int = 2): DataFrame = {
    // one materialization feeds the training persist and every
    // consume-time subtree (see ivfPqRecallReportOnVectors)
    val slim = vectors.select(col("vec_id"), col("v")).localCheckpoint()
    val cmodel = trainIvfModelOnVectors(slim, nCells, trainRounds)
    val raw = annIvfSqL2OnVectors(slim, cmodel, nQueries, k, nProbe)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit_raw"))
    val res = annIvfSqResOnArtifactsVectors(slim,
        resSqCodesForOnVectors(slim, cmodel), cmodel, nQueries, k, nProbe)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit_res"))
    composedRecallReport(slim, raw, res, nQueries, k)
  }

  /** [[ivfSqRecallReport]]'s raw-code leg: [[annIvfSqOnArtifacts]]'s candidate
    * plan (same trained cells, same cosine probe ranking) priced by
    * [[annIvfSqResOnArtifacts]]'s asymmetric L2 estimate over RAW
    * [[sqCodes]] — the exact query norm stands where the residual
    * norm stood, candidate codes/scales come from the raw int8 table.
    * Private because only the audit wants L2-from-raw-codes:
    * production raw IVF×SQ serves MIPS and the production L2 rung is
    * the residual one. */
  private def annIvfSqL2OnVectors(vectors: DataFrame,
                                  centroids: Seq[(Long, Seq[Double])],
                                  nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val all = vectors.withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
    val probes = rankProbeCells(all, centroids, nQueries)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val codes = sqCodesOnVectors(vectors)
    val qside = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), dot_product(col("v"), col("v")).as("qn2"))
      .join(codes.select(col("vec_id").as("q_id"), col("scale").as("qs"),
        col("q").as("qq")), Seq("q_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
    ivfAssignmentsForOnVectors(vectors, centroids)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(codes, "vec_id")
      .join(broadcast(qside), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (col("qn2") -
          lit(2) * (col("qs") * col("scale") * dot_product(col("qq"), col("q"))) +
          col("scale") * col("scale") * dot_product(col("q"), col("q")))
          .as("adist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"))
  }
}
