package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset sampling and sharding for a training-data pipeline
  * (SURVEY §2 X1-adjacent): deterministic hash splits and
  * token-budget shard packing.
  *
  * Random sampling via `rand()` is a correctness bug in a training
  * pipeline — re-running the job (speculative task, stage retry,
  * backfill) would reassign rows across train/val/test and leak test
  * data into training. Hash-based assignment is deterministic per key
  * on any engine, any cluster, any retry: the md5-derived 60-bit
  * integer (same `conv(substring(md5(k),1,15),16,10)` base as the
  * dedup family, reproduced bit-for-bit by the DuckDB oracle) is a
  * uniform function of the key alone. Both operators are a single
  * narrow projection or one window — no shuffle beyond the stated
  * partitioning, so they stream through 100 TB map-side.
  */
object Sampling {

  /** 60-bit md5 integer of a column, identical across engines — the
    * house key hash: sampling, folds, A/B arms and the HLL/KMV user
    * hash all take it from here. */
  private[graft] def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** X1 deterministic train/val/test split: percentile bucket =
    * hash(key) mod 100 → 80/10/10 assignment. Narrow, shuffle-free,
    * reproducible under retries and backfills. */
  def sampleSplit(documents: DataFrame, keyCol: String = "doc_id",
                  trainPct: Int = 80, valPct: Int = 10): DataFrame =
    documents.select(col("doc_id"), col("lang"),
        (hash60(col(keyCol)) % 100).as("pct"))
      .withColumn("split",
        when(col("pct") < trainPct, "train")
          .when(col("pct") < trainPct + valPct, "val")
          .otherwise("test"))

  /** X1 K-FOLD assignment + balance audit — deterministic
    * cross-validation folds (`hash(doc_id) mod k`, the [[sampleSplit]]
    * hash so folds are reproducible under retries/backfills and
    * uncorrelated with ingest order) with the per-fold balance report
    * consumed before trusting a CV estimate: doc count, token mass,
    * source coverage, mean length. A fold missing a source or holding
    * 2× the token mass invalidates fold-averaged metrics — this is
    * the audit that catches it before k trainings run. Narrow
    * assignment, one O(k)-row aggregation. */
  def kfoldReport(documents: DataFrame, k: Int = 5): DataFrame =
    documents.select((hash60(col("doc_id")) % k).as("fold"),
        col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        countDistinct(col("source")).as("n_sources"),
        round(sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_chars"))

  /** X1 EPOCH PLAN — the upsampling half of the `n^α` recipe
    * ([[temperatureSample]] is the DOWNSAMPLING half): per source,
    * its natural token share, its target share ∝ `n_tokens^alpha`,
    * and the epoch multiplier (target/natural) a training loader
    * applies to hit the mixture without discarding data. Cross-engine
    * exactness: each source's `pow` weight quantizes to 1e-6 integer
    * units BEFORE the total (a float Σ of pow values would be
    * fold-order-dependent; the int64 sum is exact), each share is
    * ONE division of exact integers rounded to 6, and the multiplier
    * is the ratio of the two ROUNDED shares (house rule). One
    * source-keyed aggregate, a 1-row total broadcast back, O(sources)
    * out. */
  def epochPlan(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val w = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor(pow(col("n_tokens").cast("double"), alpha) * 1000000 + 0.5)
          .cast("long").as("w6"))
    val tot = w.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w6")).as("tot_w6"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("tot_tokens").cast("double"), 6).as("natural_share"),
        round(col("w6").cast("double") /
          col("tot_w6").cast("double"), 6).as("target_share"))
      .withColumn("epochs",
        round(col("target_share") / col("natural_share"), 4))
  }

  /** X1 MIXTURE AUDIT — did the sample land where the recipe aimed?
    * Per source: corpus docs, docs kept by [[temperatureSample]], the
    * achieved keep-rate and output share, the `n^α` TARGET share
    * (doc-count basis, matching the sampler), and the miss
    * (achieved − target). The closing audit of the recipe loop
    * ([[epochPlan]] plans, [[temperatureSample]] executes, this
    * verifies — hash thinning is binomial, so small sources can land
    * off-target and this is where it shows). Exactness: the target
    * weight quantizes to int before its total ([[epochPlan]]'s rule),
    * every share is one division, and the delta subtracts two
    * identically-ROUNDED doubles. Two source-keyed aggregates and a
    * 1-row total broadcast. */
  def mixtureAudit(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val all = documents.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val kept = temperatureSample(documents, alpha)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    val joined = all.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        floor(pow(col("n_docs").cast("double"), alpha) * 1000000 + 0.5)
          .cast("long").as("w6"))
    val tot = joined.agg(sum(col("n_kept")).as("tot_kept"),
      sum(col("w6")).as("tot_w6"))
    joined.crossJoin(broadcast(tot))
      .withColumn("achieved_share",
        round(col("n_kept").cast("double") / col("tot_kept").cast("double"), 6))
      .withColumn("target_share",
        round(col("w6").cast("double") / col("tot_w6").cast("double"), 6))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("keep_rate"),
        col("achieved_share"), col("target_share"),
        round(col("achieved_share") - col("target_share"), 6).as("miss"))
  }

  /** X1 per-source balancing cap: keep at most `cap` documents per
    * source, chosen by hash order — a deterministic unbiased subset
    * (head-of-table order would bias toward whatever the upstream
    * writer emitted first; `rand()` would reshuffle on every retry).
    * One window per source partition; no global ordering anywhere, so
    * sources cap independently at any scale. */
  def sourceCap(documents: DataFrame, cap: Int = 15): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(hash60(col("doc_id")), col("doc_id"))
    documents.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
  }

  /** X1 source-mixture resampling — the data-mixology step that turns
    * raw per-source volumes into a TARGET mixture: each source keeps a
    * deterministic `frac` of its documents (hash threshold on the
    * doc key, the same retry/backfill-safe rule as [[sampleSplit]] —
    * `rand()` would re-draw the corpus every run). Upsampling (frac >
    * 1) is out of scope here: repetition-by-epoch belongs to the
    * training loader, not the corpus builder. Narrow projection +
    * filter, zero shuffle at any scale. */
  def mixtureSample(documents: DataFrame,
                    targets: Map[String, Double] = Map("src0" -> 1.0, "src1" -> 0.5),
                    defaultFrac: Double = 0.25): DataFrame = {
    val frac = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultFrac)) { case (e, (s, f)) =>
        when(col("source") === s, lit(f)).otherwise(e)
      }
    documents.select(col("doc_id"), col("source"), frac.as("frac"))
      // round, don't truncate: DuckDB's CAST(x AS BIGINT) rounds to
      // nearest, so a truncating cast here would disagree by one
      // hash bucket whenever frac·10⁶ is not exactly representable
      .filter(hash60(col("doc_id")) % 1000000L <
        round(col("frac") * 1000000L).cast("long"))
  }

  /** X1 temperature-mixed source sampling — the `n^α` re-weighting of
    * LLM data recipes: final per-source volumes become proportional to
    * `n_s^alpha` (α < 1 flattens the source distribution toward
    * uniform; α = 1 keeps natural proportions), realized as the
    * downsampling-only keep-rate `(n_min / n_s)^(1-α)` — the smallest
    * source is kept whole, larger sources are hash-thinned
    * ([[mixtureSample]]'s deterministic threshold; upsampling again
    * belongs to the training loader). Unlike [[mixtureSample]], the
    * rates are DERIVED from corpus statistics, not passed in: one tiny
    * source-keyed aggregate, broadcast back, then a narrow filter —
    * nothing global, nothing quadratic. Rates are rounded to 6
    * decimals before the threshold so `pow` libm noise cannot flip a
    * hash bucket across engines. */
  def temperatureSample(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val counts = documents.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("source"),
        round(pow(col("n_min").cast("double") / col("n_docs"), 1 - alpha), 6).as("frac"))
    documents.select(col("doc_id"), col("source"))
      .join(broadcast(rates), Seq("source"))
      .filter(hash60(col("doc_id")) % 1000000L <
        round(col("frac") * 1000000L).cast("long"))
      .select(col("doc_id"), col("source"), col("frac"))
  }

  /** X1 global token-budget data selection: keep the highest-quality
    * documents (quality desc, doc_id tie-break) until a GLOBAL token
    * budget is exhausted — the "select the best N tokens for this
    * training run" truncation step. A document is admitted while any
    * budget remains before it (`cum − n_tokens < budget`), so output
    * token mass lands in [budget, budget + max_doc).
    *
    * The global running sum is the scale problem: a bare
    * `sum().over(Window.orderBy(...))` with no partition moves EVERY
    * row to one partition (Spark warns exactly that). Instead this is
    * the classic DISTRIBUTED PREFIX SUM:
    *
    *  1. range-repartition + sort within partitions on the selection
    *     order (Spark's own distributed sort machinery);
    *  2. one tiny job aggregates per-partition token sums — P values
    *     to the driver (bounded by partition count, like the upsert
    *     sink's bucket listing), prefix-summed into per-partition
    *     START OFFSETS;
    *  3. one narrow `mapPartitions` adds the offset to a local running
    *     sum. Partitions whose offset already exceeds the budget emit
    *     NOTHING without consuming input, and within a partition the
    *     scan stops at the budget boundary (`takeWhile` — the running
    *     sum is monotone), so total work is O(selected) + one sort.
    *
    * The partition id is captured INTO THE DATA (`spark_partition_id`
    * projected before the persist), never read from `TaskContext` at
    * run time: a caller's downstream re-tasking — a `coalesce(1)`
    * write, AQE merging — runs many range partitions inside one task,
    * where the task id would claim partition 0 for every row and
    * silently zero all offsets. The sorted frame is persisted between
    * the offset job and the output job: range boundaries come from
    * sampling, and pids must come from the one materialization the
    * offsets were computed against (at production scale, checkpoint
    * or write the ranged frame instead). Results are deterministic
    * (strict total order; engine-independent quality — the same
    * formula the x3_quality oracle hash-matches). */
  def budgetSelect(documents: DataFrame, tokenBudget: Long = 10000L): DataFrame = {
    val spark = documents.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val scored = TextAnalysis.qualityScore(documents, extraCols = Seq("n_tokens"))
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val ranged = scored
      .repartitionByRange(parts, col("quality").desc, col("doc_id"))
      .sortWithinPartitions(col("quality").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val sums = ranged.groupBy(col("pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = Array.ofDim[Long](parts + 1)
    for (p <- 0 until parts) offsets(p + 1) = offsets(p) + sums.getOrElse(p, 0L)
    val offDf = spark.createDataFrame(
      (0 until parts).map(p => (p, offsets(p)))).toDF("pid", "off")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = ranged
      // partitions that start past the budget are pruned wholesale
      .join(broadcast(offDf.filter(col("off") < tokenBudget)), "pid")
      .withColumn("cum", col("off") + sum(col("n_tokens")).over(w))
      .filter(col("cum") - col("n_tokens") < tokenBudget)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum"))
      // the SELECTED set (bounded by the budget) is materialized and
      // DETACHED (lineage-free localCheckpoint, blocks reclaimed by the
      // ContextCleaner when the frame is dropped) so the full scored
      // corpus — cached only to keep range boundaries and pids
      // consistent between the offset and output jobs — is released
      // and nothing stays pinned in the CacheManager per call
      .localCheckpoint()
    ranged.unpersist(false)
    kept
  }

  /** X1 weighted random sampling WITHOUT replacement (Efraimidis–
    * Spirakis exponential race): each doc draws a deterministic
    * uniform u ∈ (0,1] from its id hash and races with key ln(u)/w —
    * the top-k keys are a weight-proportional sample, exactly as if
    * docs were drawn one by one ∝ w without replacement (the ln-space
    * form of u^(1/w)). Deterministic randomness (the house md5 hash)
    * makes the sample retry/backfill-reproducible where `rand()` is
    * not; the key is quantized to integer MICRO-units (floor half-up)
    * before the top-k ordering with full id tie-breaks, so selection
    * is engine-identical (raw libm `ln`/division outputs never order
    * the cut).
    *
    * 100 TB: keys are map-side arithmetic; top-k is
    * TakeOrderedAndProject (per-partition heaps, never a global
    * sort). Weight = token count here — "sample k docs ∝ length" —
    * any positive score column drops in. */
  def weightedSample(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (hash60(col("doc_id")) % Dedup.P).as("h"))
      .select(col("doc_id"), col("n_tokens"),
        floor(log((col("h") + 1).cast("double") / lit(2147483647.0)) /
          col("n_tokens").cast("double") * 1e6 + 0.5).cast("long").as("lk6"))
      .orderBy(col("lk6").desc, col("doc_id")).limit(k)

  /** X1 weighted SYSTEMATIC sampling — emit each document once per
    * multiple of `step` inside its interval (cum − n_tokens, cum] of
    * the hash-ordered cumulative token count ("one sample every `step`
    * tokens"). The estimator behind a 1-in-N-tokens eval slice:
    * inclusion probability is exactly proportional to token weight
    * with ZERO clumping variance (Bernoulli sampling draws each doc
    * independently, so slice size and corpus coverage both wobble;
    * the systematic walk hits every `step`-token stride exactly once),
    * `n_ticks` carries the Horvitz–Thompson multiplicity for docs
    * longer than `step`, and the md5 order decorrelates the walk from
    * ingestion order while staying deterministic under retries.
    *
    * Scale shape: the [[budgetSelect]] distributed prefix sum — range
    * partition on the hash order, one O(partitions) offset collect,
    * within-partition running sums on top of broadcast offsets; tick
    * membership is two INTEGER divisions, so selection is
    * bit-identical on any engine. Same cache discipline: the ranged
    * frame is released, the (small) selected set detaches via
    * localCheckpoint. */
  def systematicSample(documents: DataFrame, step: Long = 997L): DataFrame = {
    val spark = documents.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        hash60(col("doc_id")).as("h"))
      .repartitionByRange(parts, col("h"), col("doc_id"))
      .sortWithinPartitions(col("h"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val sums = ranged.groupBy(col("pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = Array.ofDim[Long](parts + 1)
    for (p <- 0 until parts) offsets(p + 1) = offsets(p) + sums.getOrElse(p, 0L)
    val offDf = spark.createDataFrame(
      (0 until parts).map(p => (p, offsets(p)))).toDF("pid", "off")
    val w = Window.partitionBy(col("pid")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = ranged
      .join(broadcast(offDf), "pid")
      .withColumn("cum", col("off") + sum(col("n_tokens")).over(w))
      .withColumn("n_ticks",
        expr(s"(cum div $step) - ((cum - n_tokens) div $step)"))
      .filter(col("n_ticks") > 0)
      .select(col("doc_id"), col("n_tokens"), col("cum"), col("n_ticks"))
      .localCheckpoint()
    ranged.unpersist(false)
    kept
  }

  /** X3/X1 token-budget shard packing (sequence packing): documents are
    * packed in key order per source into shards of ~`budget` tokens —
    * shard id = preceding cumulative token count over the budget. One
    * window (partition by source, order by doc_id); at 100 TB each
    * source packs independently, and the running sum is the same
    * single-pass prefix computation every engine executes identically
    * (integer arithmetic end to end). */
  def packShards(documents: DataFrame, budget: Long = 500L,
                 extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id") +: col("source") +: extraCols.map(col) :+
        size(split(col("text"), " ")).cast("long").as("n_tokens"): _*)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id") +: col("source") +: extraCols.map(col) :+
        col("n_tokens") :+ expr(s"(cum - n_tokens) div $budget").as("shard"): _*)
  }

  /** X1 CONTEXT-WINDOW packing WITH document splitting — the actual
    * pretraining data-loader layout: the corpus's token stream (docs
    * in doc_id order) is cut into fixed `contextLen`-token contexts,
    * and a document CROSSES context boundaries instead of leaving pad
    * slack — each (doc, context) intersection is one output row with
    * the doc-relative token slice [tok_from, tok_to). Every context
    * except the last is exactly full by construction ([[packShards]]
    * keeps whole docs and accepts overflow; this is the
    * zero-padding-waste complement). All arithmetic is exact integer
    * division on the global prefix sum.
    *
    * Scale shape: the prefix sum is DISTRIBUTED exactly as
    * [[budgetSelect]]'s (range partition by doc_id, O(partitions)
    * per-partition totals to the driver, broadcast start offsets,
    * per-partition window) — no single-partition stage; the boundary
    * explode emits 1 + crossings rows per doc. Eager
    * (persist → derive → localCheckpoint → unpersist, the house
    * ownership rule). */
  def packContexts(documents: DataFrame, contextLen: Long = 128L): DataFrame = {
    val spark = documents.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val sums = ranged.groupBy(col("pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = Array.ofDim[Long](parts + 1)
    for (p <- 0 until parts) offsets(p + 1) = offsets(p) + sums.getOrElse(p, 0L)
    val offDf = spark.createDataFrame(
      (0 until parts).map(p => (p, offsets(p)))).toDF("pid", "off")
    val w = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged
      .join(broadcast(offDf), "pid")
      .withColumn("cum", col("off") + sum(col("n_tokens")).over(w))
      .withColumn("start", col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start"),
        explode(sequence(expr(s"start div $contextLen"),
          expr(s"(cum - 1) div $contextLen"))).as("ctx_id"))
      .select(col("doc_id"), col("ctx_id"),
        greatest(lit(0L), col("ctx_id") * contextLen - col("start")).as("tok_from"),
        least(col("n_tokens"), (col("ctx_id") + 1) * contextLen - col("start"))
          .as("tok_to"))
      .withColumn("n_ctx_tokens", col("tok_to") - col("tok_from"))
      .localCheckpoint()
    ranged.unpersist(false)
    out
  }

  /** X1 curriculum ordering — the DATA-ORDERING artifact easy-to-hard
    * / source-interleaved training runs consume: each source's top
    * `quota` documents by quality, laid out so position p cycles the
    * sources round-robin in descending quality (source A's best, B's
    * best, …, A's 2nd best, …). The global position is ARITHMETIC —
    * `(rank−1)·n_sources + src_idx` — not a global row_number, so no
    * single-partition window exists: the per-source rank windows
    * partition by source, and the source index is a window over the
    * O(sources) distinct frame. Deterministic: quality ties break on
    * doc_id, source index on name order. */
  def curriculum(documents: DataFrame, quota: Int = 100): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    val ranked = TextAnalysis.qualityScore(documents, Seq("source"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= quota)
    val srcIdx = ranked.select(col("source")).distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy(col("source"))).cast("long"))
    val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(srcIdx), "source").crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"), col("quality"),
        ((col("rank") - 1) * col("n_src") + col("src_idx") - 1)
          .cast("long").as("global_pos"))
  }

  /** X1 split-LEAKAGE audit — the check every eval protocol needs and
    * byte-level splitting cannot give: hash splits assign near-dup
    * DOCUMENTS independently, so two rephrasings of one page can land
    * in train AND test — memorized-content leakage that inflates eval
    * scores. This report joins the near-dup clusters
    * ([[Dedup.clusterNearDups]]) with the [[sampleSplit]] assignment
    * and histograms clusters by the SET of splits their members touch:
    * every row whose `splits` contains a comma is leakage, and the
    * doc mass in those rows is the leaked volume. The fix (assign
    * splits by CLUSTER id, not doc id) is one join away from the same
    * frames.
    *
    * Scale shape: cluster labels are the audited bounded-round
    * propagation; everything after is a doc-id-keyed join and two
    * map-side-combining aggregations (cluster grain, then O(2^splits)
    * signature rows). */
  def splitLeakage(documents: DataFrame): DataFrame = {
    val split = sampleSplit(documents).select(col("doc_id"), col("split"))
    Dedup.clusterNearDups(documents)
      .join(split, "doc_id")
      .groupBy(col("cluster"))
      .agg(concat_ws(",", sort_array(collect_set(col("split")))).as("splits"),
        count(lit(1)).as("n_docs"))
      .groupBy(col("splits"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_docs")).as("n_docs"))
  }

  /** X1 DETERMINISTIC EPOCH SHUFFLE — a different but fully
    * reproducible read order per training epoch: each (epoch, doc)
    * pair keys on `md5(epoch:doc_id)` and ranks within its epoch.
    * Epoch-varying order matters (repeating one order over-fits batch
    * composition); `rand()` order is unrecoverable after a preemption
    * — this permutation replays exactly from (seed = epoch, doc_id).
    * The rank window here is the VERIFICATION form; at 100 TB the
    * shuffle itself realizes the order (range-partition by the hash
    * key and let the sorted shard write BE the permutation), so no
    * global window ever runs — the key column is the operator, the
    * rank is its audit. */
  def epochShuffle(documents: DataFrame, epochs: Int = 3): DataFrame = {
    val keyed = documents.select(col("doc_id"))
      .select(col("doc_id"), explode(
        array((0 until epochs).map(e => lit(e.toLong)): _*)).as("epoch"))
      .withColumn("key", hash60(
        concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
    keyed
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("epoch")).orderBy(col("key"), col("doc_id")))
        .cast("long"))
      .select(col("epoch"), col("doc_id"), col("pos"))
  }

  /** X1 GROUP-AWARE (leakage-safe) split — the FIX for what
    * [[splitLeakage]] measures: train/val/test assignment by the hash
    * of each document's near-dup CLUSTER id (the member-minimum
    * canonical of [[Dedup.clusterNearDups]]), so every member of a
    * near-dup group lands in the SAME split BY CONSTRUCTION — the
    * eval set can never hold a near-copy of a training document
    * (scikit-learn GroupShuffleSplit, applied at corpus scale with
    * the cluster id as the group key). Same md5-pct thresholds as
    * [[sampleSplit]], keyed on the cluster id; singleton clusters
    * (cluster == doc_id) degrade to exactly the per-doc split. The
    * spec pins zero leakage (one distinct split per cluster); cost =
    * the clustering (the stored artifact a resident pipeline already
    * maintains) + a narrow hash projection. */
  def groupedSplit(documents: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame =
    Dedup.clusterNearDups(documents)
      .select(col("doc_id"), col("cluster"),
        (hash60(col("cluster")) % 100).as("pct"))
      .withColumn("split",
        when(col("pct") < trainPct, "train")
          .when(col("pct") < trainPct + valPct, "val")
          .otherwise("test"))

  /** X1 GROUP-AWARE K-FOLD assignment — [[groupedSplit]]'s rule
    * applied to cross-validation: fold = `hash(CLUSTER id) mod k`
    * over the near-dup cluster labels (scikit-learn GroupKFold at
    * corpus scale), so every member of a near-dup group lands in the
    * SAME fold by construction. [[kfoldReport]]'s per-doc
    * `hash(doc_id) mod k` provably leaks near-copies across folds on
    * this corpus (the channel [[splitLeakage]] measures) — a CV
    * estimate averaged over contaminated folds overstates every
    * fold's metric. Row-level (doc_id, cluster, fold); the spec pins
    * one distinct fold per cluster. */
  def groupedKfold(documents: DataFrame, k: Int = 5): DataFrame =
    Dedup.clusterNearDups(documents)
      .select(col("doc_id"), col("cluster"),
        (hash60(col("cluster")) % k).as("fold"))

  /** X1 grouped-k-fold BALANCE report — [[kfoldReport]]'s audit shape
    * over the LEAKAGE-SAFE fold assignment: per fold, doc count,
    * token mass, source coverage, mean length. Group-whole folds
    * trade balance for validity (a giant cluster lands whole in one
    * fold) — this report is where that trade is checked before k
    * trainings run. Cost = the clustering (the stored artifact a
    * resident pipeline already maintains) + one O(k)-row
    * aggregation. */
  def groupedKfoldReport(documents: DataFrame, k: Int = 5): DataFrame =
    documents.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .join(groupedKfold(documents, k).select(col("doc_id"), col("fold")),
        "doc_id")
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        countDistinct(col("source")).as("n_sources"),
        round(sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_chars"))

  /** X1 TEMPORAL holdout + user-leakage audit — the time-series
    * counterpart of [[splitLeakage]]: events split at the 80% day
    * boundary (train strictly before, integer arithmetic on the
    * observed day range, so the same corpus always cuts at the same
    * day), and the one-row report carries what a forecasting/eval
    * pipeline must check before trusting the split — event and
    * distinct-user counts per side, the users present on BOTH sides
    * (the identity-level contamination channel a random split hides),
    * and their fraction of the train population. Two aggregates over
    * the day-keyed stream + one user-grain aggregate; the split day
    * is a broadcast scalar, nothing corpus-sized crosses. */
  def timeSplit(events: DataFrame): DataFrame = {
    val d = events.select(
      expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
    val s = d.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select((col("lo") + expr("(hi - lo) * 4 div 5")).as("split_day"))
    val t = d.crossJoin(broadcast(s))
      .withColumn("is_train", col("day") < col("split_day"))
    val ev = t.agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(col("is_train"), 0L).otherwise(1L)).as("n_test"))
    val us = t.groupBy(col("user_id"))
      .agg(max(when(col("is_train"), 1L).otherwise(0L)).as("in_train"),
        max(when(col("is_train"), 0L).otherwise(1L)).as("in_test"))
      .agg(sum(col("in_train")).as("n_train_users"),
        sum(col("in_test")).as("n_test_users"),
        sum(when(col("in_train") === 1 && col("in_test") === 1, 1L)
          .otherwise(0L)).as("n_cross_users"))
    s.crossJoin(ev).crossJoin(us)
      .select(col("split_day"), col("n_train"), col("n_test"),
        col("n_train_users"), col("n_test_users"), col("n_cross_users"),
        round(col("n_cross_users").cast("double") /
          col("n_train_users").cast("double"), 6).as("cross_frac"))
  }
}
