package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RollingHash.rolling_hash

/** Text analysis for a training-data pipeline (SURVEY §2 X3): token
  * stats, BPE-ish regex token counting, language ID (stopword n-gram
  * heuristic), quality scoring, and content fingerprinting — all over
  * the `documents` table.
  *
  * Everything is built from codegen'd `functions._` / higher-order
  * array functions (no UDFs): per-row narrow transforms, zero shuffle,
  * so at 100 TB these scale linearly with input splits and stay inside
  * one WholeStageCodegen span.
  *
  * Oracle-parity convention: the driver corpus is clean single-space
  * ASCII text, so `split(text, ' ')` in Spark ≡ `string_split(text,
  * ' ')` in DuckDB; computed ints are cast to long (DuckDB len/length
  * return BIGINT); fractional outputs are rounded identically on both
  * sides.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  /** Per-document token statistics. `avg_token_len` exploits the
    * single-space invariant: total token chars = n_chars - (n_tokens-1). */
  def textStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_tokens", size(toks).cast("long"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        col("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        round((length(col("text")) - (col("n_tokens") - 1)) /
          col("n_tokens").cast("double"), 6).as("avg_token_len"))

  /** BPE-ish tokenizer: greedy regex over letter-runs, digit-runs and
    * single punctuation, the usual pre-tokenization step of byte-pair
    * encoders. Counts only (the token table itself is `explode`-able
    * downstream). */
  def regexTokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("n_bpe_tokens"))

  /** Stopword lists for the language-ID heuristic. Deliberately tiny
    * and fixed: the heuristic must be reproducible in ANSI SQL. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Language ID by stopword scoring with a fixed priority order on
    * ties (en > de > es > fr > zh), 'und' when nothing matches. On real
    * corpora the lists would be per-language character n-grams; the
    * *operator shape* (argmax over per-language token scores) is the
    * same.
    *
    * All five scores come from ONE compiled pass over the token split
    * (`StopwordCounts` kernel) — the previous five interpreted
    * higher-order `filter` lambdas were the suite's most
    * JIT-pressure-sensitive hot path (8× slower inside a long bench
    * session). Counts are identical, so the oracle is unchanged. */
  def langId(documents: DataFrame, extraCols: Seq[String] = Nil): DataFrame = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val scored = documents.withColumn("sc",
      graft.functions.TextSignatureColumns.stopword_counts(
        col("text"), langs.map(stopwords)))
    val s: Map[String, Column] =
      langs.zipWithIndex.map { case (l, i) => l -> col("sc").getItem(i) }.toMap
    val pred = langs.foldRight(lit("und"): Column) { (l, elseCol) =>
      val geAll = langs.map(o => s(l) >= s(o)).reduce(_ && _)
      when(s(l) > 0 && geAll, lit(l)).otherwise(elseCol)
    }
    scored.select(col("doc_id") +: extraCols.map(col) :+
      pred.as("lang_pred") :+ s("en").as("s_en"): _*)
  }

  /** X3 language-ID confusion audit — predicted language vs the
    * stored `lang` column, as (lang, lang_pred, n): the calibration
    * matrix run before trusting either the detector or the metadata
    * (a bleeding cell is mislabeled source data or an under-trained
    * detector — at 100 TB this gate decides whether lang filters are
    * safe to apply). One [[langId]] projection + one O(langs²)
    * partial+final count. */
  def langIdConfusion(documents: DataFrame): DataFrame =
    langId(documents, Seq("lang"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  /** Quality score ∈ [0,1]: length saturation + stopword density +
    * alphabetic purity, the standard cheap pre-filter shape for LLM
    * training corpora. Formula is written identically in the oracle SQL
    * (operand order matters for float parity). `extraCols` ride along
    * so callers needing more than (doc_id, quality) — qualityFilter
    * wants lang — get ONE narrow projection, not a self-join. */
  def qualityScore(documents: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    documents
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("s_stop", graft.functions.TextSignatureColumns
        .stopword_counts(col("text"), Seq(stopwords("en"))).getItem(0))
      .withColumn("n_nonalpha",
        length(regexp_replace(col("text"), "[a-z ]", "")).cast("long"))
      .select(
        col("doc_id") +: extraCols.map(col) :+
        round(
          lit(0.4) * least(lit(1.0), col("n_tokens") / lit(50.0)) +
          lit(0.3) * (col("s_stop") / col("n_tokens").cast("double")) +
          // greatest(...,1): empty text counts as perfectly alphabetic
          // instead of throwing DIVIDE_BY_ZERO under ANSI mode
          lit(0.3) * (lit(1.0) - col("n_nonalpha") /
            greatest(length(col("text")), lit(1)).cast("double")),
          6).as("quality"): _*)

  /** X3 quality-score decile histogram per source — the calibration
    * report behind every quality threshold: where each source's mass
    * sits on the [0,1] score scale (a source whose mass piles into the
    * bottom deciles is a filter-rate surprise waiting to happen).
    * Decile = ⌊quality·10⌋ capped at 9 so a perfect 1.0 lands in the
    * top bucket; quality is already rounded to 6 decimals on both
    * engines, so the bucket boundary is deterministic. One narrow
    * score projection + one (source, decile)-keyed partial+final
    * count, O(sources·10) output. */
  def qualityDeciles(documents: DataFrame): DataFrame =
    qualityScore(documents, Seq("source"))
      .select(col("source"),
        least(floor(col("quality") * 10).cast("long"), lit(9L)).as("decile"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"))

  /** Content fingerprints: cryptographic (md5, cross-engine stable) and
    * the codegen'd polynomial rolling hash (graft.functions.RollingHash). */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      rolling_hash(col("text")).as("fp_roll"))

  /** Corpus vocabulary with term and document frequencies — the
    * explode-then-aggregate shape every corpus-level statistic uses.
    * One shuffle on token (cardinality = vocabulary size). */
  def vocabulary(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))

  /** X3 Zipf rank-frequency slope per source — the "is this natural
    * language" corpus audit: natural text follows freq ∝ rank^s with
    * s ≈ −1; a source drifting toward 0 is template/boilerplate
    * spam, one plunging far below −1 is a tiny degenerate vocabulary.
    * OLS slope of ln(freq) on ln(rank) over each source's top-`topN`
    * tokens. Cross-engine exactness: ln values quantize to integer
    * MICRO-NATS (the unigram-model discipline), all four OLS moment
    * sums are exact int64 (bounded: topN·lnmax² ≈ 6·10¹⁵ ≪ 2⁶³), and
    * the slope is ONE division of exact integers. The rank window
    * partitions over the per-source VOCABULARY (already aggregated,
    * bounded), never raw tokens. */
  def zipfSlope(documents: DataFrame, topN: Int = 100): DataFrame = {
    val freq = documents
      .select(col("source"), explode(toks).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("source")).orderBy(col("f").desc, col("tok"))
    freq.withColumn("r", row_number().over(w)).filter(col("r") <= topN)
      .select(col("source"),
        floor(log(col("r").cast("double")) * 1e6 + 0.5).cast("long").as("x"),
        floor(log(col("f").cast("double")) * 1e6 + 0.5).cast("long").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_vocab"),
        round((col("n_vocab") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_vocab") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"))
  }

  /** Per-(doc, token) TF-IDF: tf · ln(N/df). Document count and df come
    * from broadcast-able aggregates; the ln ratio is identical libm
    * math on both engines (rounded to 6 for safety). */
  def tfidf(documents: DataFrame): DataFrame = {
    val n = documents.select(countDistinct(col("doc_id")).as("n_docs"))
    val terms = documents.select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfs = terms.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    terms.join(broadcast(dfs), "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf") * log(col("n_docs") / col("df").cast("double")), 6)
          .as("tfidf"))
  }

  /** X3 quality-percentile filtering: keep each language's better half
    * (percent_rank ≥ minPr over the quality score) — the
    * quality-threshold pruning stage of a training pipeline, balanced
    * PER LANGUAGE so a high-resource language cannot crowd out the
    * rest. The window partitions by lang (parallel, no global sort);
    * rank ties break on doc_id so the kept set is deterministic. */
  def qualityFilter(documents: DataFrame, minPr: Double = 0.5,
                    extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))
    qualityScore(documents, extraCols = "lang" +: extraCols)
      .withColumn("pr", round(percent_rank().over(w), 6))
      .filter(col("pr") >= minPr)
      .select(col("doc_id") +: col("lang") +: extraCols.map(col)
        :+ col("quality") :+ col("pr"): _*)
  }

  /** PII patterns: (name, regex, replacement). The regexes avoid
    * backslash escapes entirely (`[.]`, explicit classes) so the SAME
    * pattern text is valid Java regex (Spark) and RE2 (DuckDB oracle)
    * with identical match semantics — no lookarounds, no backrefs. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}", "<EMAIL>"),
    ("phones", "[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ips", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"))

  /** PII redaction — the scrubbing pass every training corpus runs
    * before anything else. Per document: match counts per PII class
    * (counted on the ORIGINAL text) and the md5 of the redacted text
    * (classes replaced sequentially in [[piiPatterns]] order, so
    * earlier replacements cannot create later matches). Narrow
    * per-row regex work, zero shuffle, stays in whole-stage codegen. */
  def piiRedact(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = piiPatterns.map { case (nm, pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
        .cast("long").as(s"n_$nm")
    }
    val clean = piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    documents.select(col("doc_id") +: counts :+ md5(clean).as("clean_md5"): _*)
  }

  /** Deterministic synthetic PII injection — the driver corpus is
    * clean word-salad with no PII, so exercising [[piiRedact]] with
    * nonzero counts requires planting some. Everything is a pure
    * function of `doc_id`, reproduced verbatim in the oracle SQL, so
    * the redaction stays hash-checkable end-to-end (docs divisible by
    * 3 get an email, by 4 a phone, by 5 an ip). */
  def injectSyntheticPii(documents: DataFrame): DataFrame =
    documents.withColumn("text2", concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" u"), col("doc_id").cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit(" call 555-0142")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".99")))
        .otherwise(lit(""))))

  /** Gopher-style repetition signals — the cheap repetition screens a
    * training pipeline applies before any model-based filter:
    * duplicate-token fraction (1 − distinct/total) and the fraction of
    * the document covered by its single most-frequent word bigram
    * (ties broken lexicographically, so the kept bigram is
    * deterministic). Bigrams come from a narrow zip of the token array
    * with its own tail — no window sort over exploded tokens; the only
    * shuffles key on (doc_id, bigram) and doc_id, whose cardinality
    * grows with the corpus, so the plan re-partitions cleanly at
    * 100 TB. Single-token documents have no bigram: NULL top_bigram /
    * fraction via the left join, identical in the oracle. */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      toks.as("t"))
    // zip t with its tail via arrays_zip (a regular codegen'd
    // expression — the zip_with/filter higher-order form ran an
    // interpreted lambda per TOKEN on the corpus scan; same rows, the
    // concat happens post-explode as a plain projection): the last
    // slot pairs with NULL and is dropped by the p.r-not-null filter —
    // robust for 0/1-token docs where sequence() would run descending.
    // split() never yields a null token, so p.t is never null and the
    // filter on p.r alone drops exactly the pairs the concat would null
    val counts = base
      .select(col("doc_id"), col("t"),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))).as("r"))
      .select(col("doc_id"), explode(arrays_zip(col("t"), col("r"))).as("p"))
      .filter(col("p.r").isNotNull)
      .select(col("doc_id"), concat(col("p.t"), lit(" "), col("p.r")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
    // argmin over (−count, bigram) ≡ highest count, lexicographically
    // smallest bigram on ties — a hash aggregate with O(1) state per
    // doc and map-side partials, where the row_number window would
    // re-shuffle AND sort every (doc, bigram) row just to keep one
    val top = counts.groupBy(col("doc_id"))
      .agg(min_by(struct(col("bg"), col("c")),
        struct((-col("c")).as("nc"), col("bg"))).as("t"))
      .select(col("doc_id"), col("t.bg").as("top_bigram"), col("t.c").as("top_c"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_tokens").cast("double"), 6)
          .as("dup_token_frac"),
        col("top_bigram"),
        round(col("top_c") / (col("n_tokens") - 1).cast("double"), 6)
          .as("top_bigram_frac"))
  }

  /** Sliding-window document chunking — the context-window preparation
    * step between curation and tokenization: each document becomes
    * ⌈(n − chunk)/step⌉ + 1 overlapping chunks of `chunkTokens` tokens
    * with `overlap` tokens shared between neighbors (step = chunk −
    * overlap), the last chunk clipped. Chunk identity is
    * (doc_id, chunk_id) with deterministic token offsets, and the
    * chunk text ships as an md5 digest (the driver compare never
    * hashes multi-KB strings; a real pipeline would emit the text).
    * Narrow generate — `posexplode` over a computed index sequence —
    * zero shuffle, linear in output chunks. */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 64,
                     overlap: Int = 16): DataFrame = {
    require(overlap < chunkTokens, "overlap must be smaller than the chunk")
    val step = chunkTokens - overlap
    val n = size(col("t")).cast("long")
    val nChunks = when(n <= chunkTokens, lit(1L))
      .otherwise(ceil((n - chunkTokens).cast("double") / step).cast("long") + 1L)
    documents.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0L), nChunks - 1L)))
      .select(col("doc_id"), col("col").as("chunk_id"),
        (col("col") * step).as("start_tok"),
        least(lit(chunkTokens.toLong), n - col("col") * step).as("n_tok"),
        md5(array_join(slice(col("t"), (col("col") * step + 1L).cast("int"),
          least(lit(chunkTokens.toLong), n - col("col") * step).cast("int")), " "))
          .as("chunk_md5"))
  }

  /** Ordered per-group corpus assembly: concatenate each (lang, source)
    * group's documents in doc_id order — the context-assembly /
    * shard-file-build step of a training pipeline. The concatenation
    * order is pinned by sorting the collected (doc_id, text) structs,
    * NOT by assuming collect_list arrival order (which is
    * partition-nondeterministic); output carries length + md5 of the
    * assembled text rather than the text itself. One shuffle on the
    * group key; per-group state is the group's documents — at 100 TB
    * the group key must be chosen so a group fits an executor (that is
    * inherent to "assemble this group into one blob", not to the
    * plan). */
  /** X3 compression-ratio quality signal — the Gopher/RefinedWeb-style
    * repetitiveness gate: per document, DEFLATE-compressed size of the
    * UTF-8 text over its raw byte size. Templated or near-duplicate
    * boilerplate compresses far below natural prose (low ratio);
    * mojibake/random noise barely compresses (ratio near 1); a
    * training filter trims BOTH tails. Narrow per-row kernel
    * projection ([[graft.functions.DeflateSize]], whole-stage
    * codegen'd, hot loop in zlib), zero shuffle. Spec-tested rather
    * than oracle-matched: no SQL engine exposes deflate, and the ratio
    * is for ordering/thresholds, not a portable checksum. */
  def compressionStats(documents: DataFrame): DataFrame = {
    import graft.functions.DeflateSize.deflate_size
    documents.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        deflate_size(col("text")).as("n_deflate"))
      .withColumn("ratio", when(col("n_bytes") > 0,
        round(col("n_deflate").cast("double") / col("n_bytes"), 6)))
  }

  /** X3 unigram log-probability scoring — the statistical-LM quality
    * proxy (a perplexity filter without a model): score(doc) = mean
    * over its tokens of ln P(token), with P the corpus's OWN unigram
    * distribution. Low scorers are rare-token noise (boilerplate,
    * mojibake, codes); high scorers are stopword soup — both tails are
    * what a perplexity gate trims before training.
    *
    * Scale shape: tokens collapse to distinct (doc_id, token, k)
    * triples FIRST (map-side combine absorbs within-doc repetition),
    * so the corpus-count join back is 1:1 per distinct pair — a
    * stopword contributes one row per document that uses it, never one
    * per occurrence; nothing is quadratic and the final agg is
    * doc-keyed. Cross-engine float parity: each ln is quantized to
    * INTEGER micro-nats (`floor(ln·1e6 + 0.5)`, the suite's half-up
    * rule), the weighted sum is exact 64-bit integer arithmetic, and
    * the mean is ONE IEEE division of exactly-representable operands —
    * bit-identical on any engine, no final rounding step to tie-break.
    * (Summing decimal-ROUNDED doubles instead lands the sum exactly on
    * round(…, 4) ties, where engine-order float noise picks the side —
    * that formulation hash-mismatched 2 docs per 10k.)
    *
    * The self-contained form re-derives the count table for its total
    * (two aggregations over the same explode; Catalyst broadcasts the
    * vocabulary side). A resident pipeline calls [[unigramModel]] once
    * per corpus snapshot — it IS the unigram LM, a model artifact like
    * the IVF centroids — and serves every scoring batch through
    * [[unigramLogProbAgainst]] without touching the corpus again. */
  def unigramLogProb(documents: DataFrame): DataFrame =
    unigramLogProbAgainst(documents, unigramModel(documents))

  /** X3 TOKEN-ENTROPY quality signal — per-doc Shannon entropy of the
    * doc's own unigram distribution in nats, H = ln n − (Σ k·ln k)/n:
    * the lexical-diversity measure that separates natural prose
    * (≈ ln of the effective vocabulary) from keyword-stuffed spam and
    * looped boilerplate (entropy collapses toward 0) without any
    * corpus-side model. Same discipline as [[unigramLogProb]]: each
    * ln quantized to integer micro-nats, everything summed exactly in
    * int64 (n·lnμ(n) − Σ k·lnμ(k)), ONE IEEE division at the end —
    * bit-identical cross-engine, no operand-order hazard. One explode
    * + one (doc, token) partial+final count + one doc-keyed
    * aggregation; no joins, no windows. */
  def tokenEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
      .select(col("doc_id"), col("k"),
        (col("k") *
          floor(log(col("k").cast("double")) * 1e6 + 0.5).cast("long")).as("kl6"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("kl6")).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round((floor(log(col("n_tokens").cast("double")) * 1e6 + 0.5).cast("long") *
          col("n_tokens") - col("s")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)), 6).as("entropy"))

  /** X3 SIGNAL-CORRELATION audit — pairwise Pearson r between the
    * three workhorse per-document quality signals (composite quality
    * score, token count, token entropy): the "do my filters measure
    * the same thing" check run before gates are combined — two
    * signals at r ≈ 1 are one gate applied twice (their conjunction
    * adds nothing but another threshold to tune), and a NEGATIVE
    * quality↔length r flags a length term miscalibrated against the
    * rest of the score. Signals quantize to 1e-4 integer units, the
    * nine moment sums accumulate in decimal(38,0) — int64 n·Σx²
    * wraps silently past ~10⁵ docs, and DuckDB's BIGINT sums already
    * promote to int128 — so they are exact in any
    * fold order, and each r is computed from them in one fixed
    * expression; zero-variance signals yield null (CASE guard, both
    * engines). Three doc-keyed joins of slim signal frames, one
    * 1-row aggregate. */
  def signalCorr(documents: DataFrame): DataFrame = {
    val q = qualityScore(documents).select(col("doc_id"),
      floor(col("quality") * 10000 + 0.5).cast("long").as("x"))
    val s = textStats(documents).select(col("doc_id"), col("n_tokens").as("y"))
    val e = tokenEntropy(documents).select(col("doc_id"),
      floor(col("entropy") * 10000 + 0.5).cast("long").as("z"))
    def r(n: Column, sxy: Column, sx: Column, sy: Column,
          sxx: Column, syy: Column): Column = {
      val num = (n * sxy - sx * sy).cast("double")
      val dx = (n * sxx - sx * sx).cast("double")
      val dy = (n * syy - sy * sy).cast("double")
      when(dx > 0 && dy > 0, round(num / (sqrt(dx) * sqrt(dy)), 6))
    }
    q.join(s, "doc_id").join(e, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("z").cast("decimal(38,0)")).as("sz"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("z") * col("z")).cast("decimal(38,0)")).as("szz"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("z")).cast("decimal(38,0)")).as("sxz"),
        sum((col("y") * col("z")).cast("decimal(38,0)")).as("syz"))
      .select(col("n"),
        r(col("n"), col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
          .as("r_quality_len"),
        r(col("n"), col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
          .as("r_quality_entropy"),
        r(col("n"), col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
          .as("r_len_entropy"))
  }

  /** Train-once half of the unigram LM: one row per distinct token with
    * its corpus count `c` and the corpus token total `n` (constant
    * across rows — RLE-compressed to nothing in parquet, and carrying
    * it per row makes the stored table self-describing: no side file).
    * O(vocabulary) rows; one shuffle keyed on token with map-side
    * combine, so a stopword's billions of occurrences arrive at the
    * reducer as one partial count per map task. Materialize with
    * `.write.parquet` per corpus snapshot, exactly like the IVF
    * centroid export ([[Similarity.trainIvfModel]]). */
  def unigramModel(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    counts.crossJoin(broadcast(counts.agg(sum(col("c")).as("n"))))
  }

  /** Serve half: score a batch against a STORED model table — neither
    * the training corpus nor its count aggregation runs here; cost is
    * one explode of the batch plus a broadcast-hash probe into the
    * vocabulary. Tokens absent from the model are dropped from the
    * mean (inner join) — `n_tokens` counts SCORED tokens — so scoring
    * the training corpus against its own model is bit-identical to the
    * self-contained [[unigramLogProb]]. Same integer micro-nat
    * arithmetic for cross-engine parity. */
  def unigramLogProbAgainst(batch: DataFrame, model: DataFrame): DataFrame = {
    val perDoc = batch
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    perDoc.join(model, "tok")
      .select(col("doc_id"), col("k"),
        floor(log(col("c").cast("double") / col("n").cast("double")) * 1e6 + 0.5)
          .cast("long").as("lp6"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("k") * col("lp6")).as("lp_micro"))
      .select(col("doc_id"), col("n_tokens"),
        (col("lp_micro").cast("double") /
          (col("n_tokens").cast("double") * lit(1e6))).as("avg_logprob"))
  }

  /** X3 per-source LM fit — [[unigramLogProb]] rolled up to SOURCE
    * grain: the mean corpus-unigram log-probability of each source's
    * token mass, the one-number-per-source drift report ("which crawl
    * slice does the corpus LM find surprising") read next to
    * [[sourceDrift]]'s KL distance. Counts aggregate straight at
    * (source, token) — the doc grain never materializes — and the
    * per-source Σ k·lp6 is exact int64, so the mean needs ONE IEEE
    * division and no intermediate rounding anywhere; vocabulary-keyed
    * shuffles only. */
  def sourceLogProb(documents: DataFrame): DataFrame = {
    val model = unigramModel(documents)
    val perSource = documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("k"))
    perSource.join(model, "tok")
      .select(col("source"), col("k"),
        floor(log(col("c").cast("double") / col("n").cast("double")) * 1e6 + 0.5)
          .cast("long").as("lp6"))
      .groupBy(col("source"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("k") * col("lp6")).as("lp_micro"))
      .select(col("source"), col("n_tokens"),
        (col("lp_micro").cast("double") /
          (col("n_tokens").cast("double") * lit(1e6))).as("avg_logprob"))
  }

  /** X3 LEXICAL RICHNESS per source — type-token ratio (distinct
    * tokens over total tokens) and hapax-legomena rate (share of the
    * source's vocabulary appearing exactly once): the companion
    * natural-language audits to [[zipfSlope]]. Template spam shows a
    * collapsing TTR (few types repeated endlessly); a scraped
    * random-string source shows hapax rate → 1 with an exploding
    * TTR; natural prose sits in a stable band of both. One
    * aggregation at (source, token) grain — hot stopwords arrive at
    * reducers as map-side partials — then an O(vocabulary) per-source
    * rollup; both ratios are single divisions of exact int64 counts. */
  def lexicalRichness(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(toks).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("k"))
      .groupBy(col("source"))
      .agg(sum(col("k")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("k") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_rate"))

  /** X3 bigram conditional log-probability — one order up from
    * [[unigramLogProb]]: score(doc) = mean over its CONSECUTIVE token
    * pairs of ln P(b | a), with P the corpus MLE count(a,b)/count(a,·).
    * Context-sensitive where the unigram score is not: against a large
    * natural corpus (where one doc cannot move the corpus counts),
    * "the the the" has a high unigram score (all stopwords) but a
    * terrible bigram score (the→the is corpus-rare) — the repetition/
    * boilerplate signal a perplexity gate keys on. Docs with fewer
    * than two tokens have no bigrams and are absent from the output.
    *
    * Scale shape: pair formation is MAP-SIDE ONLY — `arrays_zip` of the
    * token array with its own tail (both codegen'd array builtins, no
    * per-element lambda, no window sort, no shuffle to line up
    * neighbors); the zip pads the final token's pair with null, which
    * the filter drops. Distinct (doc, a, b) triples collapse before
    * the probability join (same within-doc combine as the unigram
    * path). The corpus counts aggregate the RAW pair stream directly —
    * partial+final keyed on (a, b) / (a), so a hot stopword bigram
    * arrives at its reducer as one partial count per map task and the
    * exchanges stay vocabulary-sized (a window-by-prefix formulation
    * would do one less scan but pile every "the *" row onto a single
    * reducer — the skew bomb this shape avoids). Both count tables
    * broadcast into the join. Same integer micro-nat arithmetic for
    * bit-identical cross-engine means. */
  /** The per-doc adjacent-pair stream (doc_id, a, b) — map-side-only
    * pair formation shared by every bigram operator (`arrays_zip` of
    * the token array with its own tail; the zip pads the final token
    * with null, which the filter drops). */
  private def bigramStream(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("s"))
      .select(col("doc_id"), col("s"),
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))).as("r"))
      .select(col("doc_id"), explode(arrays_zip(col("s"), col("r"))).as("p"))
      .select(col("doc_id"), col("p.s").as("a"), col("p.r").as("b"))
      .filter(col("b").isNotNull)

  def bigramLogProb(documents: DataFrame): DataFrame = {
    val pairs = bigramStream(documents)
    val perDoc = pairs.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("k"))
    // ONE corpus scan: corpus bigram counts roll up from the per-doc
    // counts, and unigram-prefix counts roll up from those — identical
    // totals, but the raw pair stream is shingled once, not three times
    // (the pmiCollocations shape).
    val cb = perDoc.groupBy(col("a"), col("b")).agg(sum(col("k")).as("cb"))
    val ca = cb.groupBy(col("a")).agg(sum(col("cb")).as("ca"))
    perDoc.join(cb, Seq("a", "b")).join(ca, Seq("a"))
      .select(col("doc_id"), col("k"),
        floor(log(col("cb").cast("double") / col("ca").cast("double")) * 1e6 + 0.5)
          .cast("long").as("lp6"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("lp6")).as("lp_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("lp_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6))).as("avg_logprob"))
  }

  /** Train-once half of the bigram LM — the context-sensitive
    * counterpart of [[unigramModel]]: one row per distinct adjacent
    * pair with its corpus count `cb` and the prefix total `ca`
    * (carried per row so the stored table is self-describing, exactly
    * the unigram discipline; `ca` repeats across a prefix's rows and
    * RLE-compresses to nothing in parquet). O(bigram vocabulary)
    * rows; ONE corpus scan — the pair stream aggregates straight at
    * (a, b) with map-side combine, and the prefix totals roll up from
    * that table, so a stopword prefix's billions of pairs arrive at
    * the reducer as one partial count per map task. Materialize with
    * `.write.parquet` per corpus snapshot, like the IVF centroid and
    * unigram vocabulary exports. */
  def bigramModel(documents: DataFrame): DataFrame = {
    val cb = bigramStream(documents)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cb"))
    val ca = cb.groupBy(col("a")).agg(sum(col("cb")).as("ca"))
    cb.join(ca, Seq("a")).select(col("a"), col("b"), col("cb"), col("ca"))
  }

  /** Serve half of the bigram LM: score a batch against a STORED
    * [[bigramModel]] table — neither the training corpus nor its pair
    * aggregation runs here; cost is one map-side pair zip of the
    * batch plus a hash probe into the stored pair vocabulary. Pairs
    * absent from the model drop from the mean (inner join,
    * `n_bigrams` counts SCORED pairs — the [[unigramLogProbAgainst]]
    * OOV rule), so scoring the training corpus against its own model
    * is bit-identical to the self-contained [[bigramLogProb]]
    * (`x3_bigram_score_serve` shares its oracle by reference). Same
    * integer micro-nat arithmetic; with this the context-sensitive
    * quality gate ships as a nightly probe against a stored table,
    * closing the LM serve ladder unigram → bigram. */
  def bigramLogProbAgainst(batch: DataFrame, model: DataFrame): DataFrame = {
    val perDoc = bigramStream(batch)
      .groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("k"))
    perDoc.join(model, Seq("a", "b"))
      .select(col("doc_id"), col("k"),
        floor(log(col("cb").cast("double") / col("ca").cast("double")) * 1e6 + 0.5)
          .cast("long").as("lp6"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("lp6")).as("lp_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("lp_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6))).as("avg_logprob"))
  }

  /** X3 Jelinek-Mercer interpolated LM score: per-doc average of
    * `ln(λ·P(b|a) + (1−λ)·P(b))` — the smoothing [[bigramLogProb]]'s
    * raw MLE lacks (an unseen-in-context but common token no longer
    * scores the bigram floor; λ is the standard interpolation weight).
    * The interpolated probability is computed in ONE fixed operand
    * order (`λ·(cb/ca) + (1−λ)·(cu/T)` on exact int64 counts) before
    * the single quantized log, so the per-(a,b) score is
    * engine-identical and the per-doc sum is exact integer micro-nats.
    *
    * Two corpus scans by necessity (bigram stream + unigram counts —
    * the unigram marginal of the bigram PREFIX counts misses each
    * doc's final token); both are map-side-combined count shuffles,
    * and everything downstream is vocabulary-scale. */
  def interpLogProb(documents: DataFrame, lambdaPct: Int = 75): DataFrame = {
    val pairs = bigramStream(documents)
    val perDoc = pairs.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("k"))
    val cb = perDoc.groupBy(col("a"), col("b")).agg(sum(col("k")).as("cb"))
    val ca = cb.groupBy(col("a")).agg(sum(col("cb")).as("ca"))
    val cu = documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val tot = cu.agg(sum(col("cu")).as("t"))
    val lam = lambdaPct.toDouble / 100.0
    perDoc.join(cb, Seq("a", "b")).join(ca, Seq("a"))
      .join(cu.withColumnRenamed("tok", "b"), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("k"),
        floor(log(lit(lam) * (col("cb").cast("double") / col("ca").cast("double")) +
          lit(1.0 - lam) * (col("cu").cast("double") / col("t").cast("double"))) *
          1e6 + 0.5).cast("long").as("lp6"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("lp6")).as("lp_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("lp_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6))).as("avg_logprob"))
  }

  /** X3 document-length distribution in power-of-two buckets — the
    * length report every training pipeline runs before choosing a
    * sequence length / packing budget (where is the mass: 2^5..2^6
    * tokens? is there a truncation cliff?). Bucket = bit width of the
    * token count (`length(bin(n))`), an EXACT integer on every engine
    * — a float `floor(log2(n))` would disagree across engines exactly
    * at the power-of-two boundaries this report is about. One narrow
    * projection + one partial+final aggregation on O(log maxLen)
    * buckets; all-integer output. */
  def lengthHistogram(documents: DataFrame): DataFrame =
    documents
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))

  /** X3 PMI collocation mining — the top-k adjacent token pairs by
    * pointwise mutual information, PMI(a,b) = ln(c_ab·T / (c_a·c_b))
    * over the corpus bigram stream (T = total bigrams, c_a / c_b =
    * marginal first/second-position counts). High-PMI pairs are the
    * multi-word expressions ("new york", "machine learning") a
    * tokenizer/vocab builder promotes to single units; `minPairCount`
    * suppresses the noise floor where one co-occurrence of two hapaxes
    * maxes the score.
    *
    * Scale shape: the same map-side-only pair formation as
    * [[bigramLogProb]]; ONE corpus aggregation keyed on (a,b), then
    * both marginals and the total DERIVE from that vocabulary²-sized
    * count table (never a second pass over the corpus stream). Ranking
    * is on the INTEGER micro-nat score with full token tie-breaks —
    * deterministic on any engine; the only float op is the final
    * cosmetic division. */
  def pmiCollocations(documents: DataFrame, minPairCount: Long = 5L,
                      k: Int = 30): DataFrame = {
    val pairs = documents
      .select(split(col("text"), " ").as("s"))
      .select(col("s"),
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))).as("r"))
      .select(explode(arrays_zip(col("s"), col("r"))).as("p"))
      .select(col("p.s").as("a"), col("p.r").as("b"))
      .filter(col("b").isNotNull)
    val cab = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy(col("b")).agg(sum(col("c_ab")).as("c_b"))
    val total = cab.agg(sum(col("c_ab")).as("t"))
    cab.filter(col("c_ab") >= minPairCount)
      .join(ca, Seq("a")).join(cb, Seq("b")).crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c_ab"),
        floor(log((col("c_ab").cast("double") * col("t")) /
          (col("c_a").cast("double") * col("c_b"))) * 1e6 + 0.5)
          .cast("long").as("pmi6"))
      .orderBy(col("pmi6").desc, col("a"), col("b"))
      .limit(k)
      .select(col("a"), col("b"), col("c_ab"),
        (col("pmi6").cast("double") / lit(1e6)).as("pmi"))
  }

  /** X3 out-of-vocabulary rate per source, scored against a STORED
    * unigram model ([[unigramModel]]'s (tok, c, n) artifact) — the
    * vocabulary-coverage report a pipeline runs on every incoming
    * crawl slice: which sources are drifting away from the trusted
    * vocabulary (new jargon, new language, garbage)? `minCount` sets
    * the trust bar — tokens the model saw fewer times don't count as
    * vocabulary, so scoring a corpus against its own model is NOT
    * identically zero (the hapax mass is the signal).
    *
    * Scale shape: one explode of the batch, a token-keyed hash probe
    * into the O(vocabulary) model table (left join — absence IS the
    * measurement), one partial+final aggregation keyed by source.
    * Integer counts; the rate is the suite's one rounded division. */
  def oovRateAgainst(batch: DataFrame, model: DataFrame,
                     minCount: Long = 2L): DataFrame = {
    val vocab = model.filter(col("c") >= minCount)
      .select(col("tok"), lit(1L).as("in_v"))
    batch.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .join(vocab, Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Self-contained form of [[oovRateAgainst]] (trains the model on
    * the same corpus it scores — the hapax-share report). */
  def oovRate(documents: DataFrame, minCount: Long = 2L): DataFrame =
    oovRateAgainst(documents, unigramModel(documents), minCount)

  /** X3 per-source distribution drift — KL(P_source ‖ P_corpus) over
    * token unigram distributions, in nats: the one-number answer to
    * "which source's language is most unlike the corpus mix?" (domain
    * skew, contamination, or a scraper gone wrong). No smoothing
    * needed: every source token is by construction in the corpus, so
    * every log ratio is finite.
    *
    * Scale shape: ONE corpus pass aggregating (source, token) counts;
    * the corpus marginals, per-source totals, and grand total all
    * derive from that table. Per-token log ratios are quantized to
    * integer micro-nats and weighted-summed in exact 64-bit integer
    * arithmetic (the [[unigramLogProb]] discipline), so the per-source
    * KL is bit-identical on any engine: one IEEE division at the end. */
  def sourceDrift(documents: DataFrame): DataFrame = {
    val st = documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val ts = st.groupBy(col("source")).agg(sum(col("c_st")).as("t_s"))
    val total = ct.agg(sum(col("c_t")).as("t"))
    st.join(ct, Seq("tok")).join(ts, Seq("source")).crossJoin(broadcast(total))
      .select(col("source"), col("t_s"),
        (col("c_st") * floor(log((col("c_st").cast("double") * col("t")) /
          (col("t_s").cast("double") * col("c_t"))) * 1e6 + 0.5).cast("long"))
          .as("term"))
      .groupBy(col("source"), col("t_s"))
      .agg(sum(col("term")).as("kl_micro"))
      .select(col("source"), col("t_s").as("n_tokens"),
        (col("kl_micro").cast("double") /
          (col("t_s").cast("double") * lit(1e6))).as("kl_nats"))
  }

  /** X3 per-document top-k keyword extraction — the k highest-TF-IDF
    * terms of each document ([[tfidf]]'s scoring, the house ranking
    * rule: ROUNDED score, term tie-break). The per-doc keyword list is
    * what a curation UI shows and what topic clustering buckets on.
    * The rank window partitions by doc_id — bounded by the document's
    * own distinct-term count, never corpus-sized. */
  def keywordsTopK(documents: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    tfidf(documents)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("tfidf"),
        col("rank").cast("integer").as("rank"))
  }

  /** X3 stupid-backoff LM scoring of HELD-OUT documents — the
    * train/test form the self-scoring LM queries can't exercise:
    * `heldOut` docs score against a model trained only on `train`,
    * so unseen-in-training pairs actually occur and back off to the
    * unigram, `α·P(b)` with the standard α = 0.4 (Brants et al.'s
    * stupid backoff — no discounting, the large-corpus recipe).
    * Per doc: `n_scored` token-pairs priced (seen + backoff),
    * `n_backoff` of them via the unigram path, `n_oov` skipped
    * entirely (continuation token absent from the training
    * vocabulary — dropped from the mean, the [[unigramLogProbAgainst]]
    * OOV rule). Per-pair scores quantize to integer micro-nats (one
    * fixed-operand-order log each), sums are exact int64. The model
    * side is two vocabulary-scale aggregates joined back by hash;
    * only the held-out batch forms pairs. */
  def backoffLogProb(heldOut: DataFrame, train: DataFrame): DataFrame = {
    val pairs = bigramStream(heldOut)
      .groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("k"))
    val model = bigramModel(train)
    val cu = train.select(explode(toks).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cu"))
    val tot = cu.agg(sum(col("cu")).as("t"))
    val sc = pairs
      .join(model, Seq("a", "b"), "left")
      .join(cu, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("k"),
        when(col("cb").isNotNull,
          floor(log(col("cb").cast("double") / col("ca").cast("double"))
            * 1e6 + 0.5).cast("long"))
          .when(col("cu").isNotNull,
            floor(log(lit(0.4) * col("cu") / col("t")) * 1e6 + 0.5).cast("long"))
          .otherwise(lit(null).cast("long")).as("lp6"),
        (col("cb").isNull && col("cu").isNotNull).as("bo"))
    sc.groupBy(col("doc_id"))
      .agg(
        sum(when(col("lp6").isNotNull, col("k")).otherwise(0L)).as("n_scored"),
        sum(when(col("bo"), col("k")).otherwise(0L)).as("n_backoff"),
        sum(when(col("lp6").isNull, col("k")).otherwise(0L)).as("n_oov"),
        sum(when(col("lp6").isNotNull, col("k") * col("lp6")).otherwise(0L)).as("s"))
      .select(col("doc_id"), col("n_scored"), col("n_backoff"), col("n_oov"),
        when(col("n_scored") > 0,
          col("s").cast("double") / (col("n_scored").cast("double") * lit(1e6)))
          .otherwise(lit(null).cast("double")).as("avg_logprob"))
  }

  /** X3 BM25 inverted-index export — the postings-grain stored
    * artifact of full-text retrieval: one row per (doc_id, token)
    * posting carrying everything [[bm25ScoreAgainst]] needs to price
    * a hit with NO corpus re-aggregation (term frequency `tf`, doc
    * length `dl`, the Robertson idf in integer micro-nats `idf6`, and
    * the corpus-constant `avgdl` repeated per row so the table is
    * self-describing — the [[bigramModel]] discipline; the repeats
    * RLE-compress to nothing in parquet). ONE corpus scan: the
    * (doc, token) aggregation feeds both df and the posting rows, doc
    * lengths are a narrow per-row `size(split)`, and df/N/avgdl join
    * back as broadcasts (vocabulary- and scalar-sized). Robertson idf
    * `ln((N − df + ½)/(df + ½))` goes ≤ 0 exactly for terms in more
    * than half the corpus — the principled stop-term drop the scorer
    * applies (`idf6 > 0`), which is also what bounds the per-term
    * posting fan-out at scale.
    *
    * Cross-engine exactness: idf quantizes to micro-nats
    * (`floor(ln·1e6 + ½)`, the unigram-model discipline); `avgdl` is
    * one division of exact int64s (IEEE-exact both engines). */
  def bm25Index(documents: DataFrame): DataFrame =
    bm25IndexFromPostings(bm25RawPostings(documents))

  /** The tokenize-once half of [[bm25Index]]: raw (doc_id, token, tf,
    * dl) posting rows — the SHARD-level artifact of index
    * maintenance. Disjoint shards' raw postings union losslessly;
    * the corpus-global statistics (df, idf, avgdl) are NOT
    * shard-mergeable, so adding/removing a shard re-derives them via
    * [[bm25IndexFromPostings]] from the unioned raw rows — text is
    * never re-read or re-tokenized (spec pins shard-union rebuild ≡
    * whole-corpus build). */
  def bm25RawPostings(documents: DataFrame): DataFrame = {
    val terms = documents
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    terms.join(
      documents.select(col("doc_id"), size(toks).cast("long").as("dl")),
      "doc_id")
  }

  /** Rebuild the serveable [[bm25Index]] statistics (df, micro-nat
    * Robertson idf, avgdl) from raw posting rows alone — two
    * vocabulary/scalar-scale aggregates joined back by broadcast. */
  def bm25IndexFromPostings(raw: DataFrame): DataFrame = {
    val dl = raw.select(col("doc_id"), col("dl")).distinct()
    val nd = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfs = raw.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    raw.join(broadcast(dfs), "token").crossJoin(broadcast(nd))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"),
        floor(log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * 1e6 + 0.5).cast("long").as("idf6"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
  }

  /** Serve half of BM25 retrieval: score a batch of query texts
    * against a STORED [[bm25Index]] table — per-query top-`k` matches
    * by `Σ_t idf(t) · tf(t,d)·(k₁+1) / (tf + k₁·(1−b+b·dl/avgdl))`
    * with k₁ = 1.2, b = 0.75 and SET semantics on query terms (each
    * distinct query term contributes once — the standard short-query
    * form; a full document as query is just a longer term set). Only
    * the batch tokenizes here; candidates come from the posting lists
    * of the query's own positive-idf terms, so per-query cost is
    * Σ df(t) over its terms — the stop-term drop (`idf6 > 0`) is what
    * keeps that sum bounded when a query contains "the".
    *
    * Cross-engine exactness, the house top-k discipline: each hit's
    * contribution is floored to integer micro-nats BEFORE the
    * per-(query, doc) sum — the fraction is IEEE-exact given one fixed
    * operand order, `idf6·frac` rounds once to int64 — so scores are
    * order-independent exact integers and the rank window's
    * `(score desc, doc_id)` tie-break is engine-identical. The window
    * partitions per query over its own candidate set, never
    * corpus-sized. */
  def bm25ScoreAgainst(queries: DataFrame, index: DataFrame, k: Int = 5,
                       excludeSelf: Boolean = false): DataFrame = {
    val qTerms = queries
      .select(col("doc_id").as("q_id"), explode(toks).as("token"))
      .distinct()
    val hits = qTerms.join(index.filter(col("idf6") > 0), "token")
      .filter(if (excludeSelf) col("doc_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("doc_id"),
        floor(col("idf6") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / col("avgdl")))) + 0.5)
          .cast("long").as("c6"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("s6").desc, col("doc_id"))
    hits.groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("c6")).as("s6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id").as("match_id"),
        col("rank").cast("integer").as("rank"), col("n_hit"),
        (col("s6").cast("double") / lit(1e6)).as("score"))
  }

  /** X3 self-contained BM25 retrieval over the corpus: a deterministic
    * hash-sample of documents (the `x2_knn_sampled` predicate — about
    * `samplePct`% of doc ids) queries the full corpus through
    * [[bm25ScoreAgainst]], self-matches excluded. This is the
    * training-correctness form; production stores [[bm25Index]] once
    * and serves batches against it (`x3_bm25_serve` pins serve ≡ this
    * by oracle aliasing). */
  def bm25TopK(documents: DataFrame, k: Int = 5,
               samplePct: Int = 11): DataFrame =
    bm25ScoreAgainst(bm25QuerySample(documents, samplePct),
      bm25Index(documents), k, excludeSelf = true)

  /** The deterministic doc-id hash sample [[bm25TopK]] queries with —
    * exposed so the serve path (`x3_bm25_serve`) scores the SAME
    * query set against the stored index. */
  def bm25QuerySample(documents: DataFrame, samplePct: Int = 11): DataFrame =
    documents.filter(Sampling.hash60(col("doc_id")) % 100 < samplePct)

  /** X3 positional inverted-index export — BM25's postings with the
    * token POSITION kept: one (doc_id, pos, token) row per token
    * occurrence (1-based), the stored artifact exact-phrase retrieval
    * probes. Pure map-side posexplode — scales as one narrow pass. */
  def phraseIndex(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), posexplode(toks).as(Seq("p0", "token")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("token"))

  /** The deterministic 3-token phrase set `x3_phrase_search` looks up:
    * the first trigram of each doc-id hash-sampled document (each is
    * guaranteed ≥ 1 occurrence — its own source doc). */
  def phraseQueries(documents: DataFrame, samplePct: Int = 7): DataFrame =
    documents
      .filter(Sampling.hash60(col("doc_id")) % 100 < samplePct)
      .select(col("doc_id").as("q_id"), toks.as("s"))
      .filter(size(col("s")) >= 3)
      .select(col("q_id"), element_at(col("s"), 1).as("p1"),
        element_at(col("s"), 2).as("p2"), element_at(col("s"), 3).as("p3"))

  /** Serve half of exact-phrase retrieval: per (query, doc) occurrence
    * counts of each 3-token phrase against a STORED [[phraseIndex]]
    * table — the classic positional-postings walk: anchor on the
    * first token's postings, then two equi-joins stepping
    * (doc_id, pos+1) / (doc_id, pos+2) with the continuation token in
    * the join key. Everything is hash-joinable (no nested loop); the
    * anchor fan-out is Σ df(p1) over the query set — at scale a
    * rare-token-first anchor rotation or df cap bounds it, the BM25
    * stop-term discipline. */
  def phraseSearchAgainst(queries: DataFrame, index: DataFrame): DataFrame = {
    // MEASURED (round 22): a broadcast semi-join pruning each postings
    // leg to the query set's distinct tokens (guide §3.2) does NOT
    // prune on this corpus — the query trigrams' distinct-token set
    // (~30) covers the whole small vocabulary, so the "pruned" legs
    // kept 2.70E+5 of 2.71E+5 postings while adding three broadcast
    // stages (steady 1.8 → 2.5 s); reverted. The dominant job is the
    // genuine anchor fan-out (Σ df(p1) ≈ 3M probe rows on a
    // 30-token vocabulary), which the scaladoc's rare-token-first /
    // df-cap discipline — not token pruning — bounds at scale.
    def idx(pi: Int) = index.toDF(s"d$pi", s"pos$pi", s"t$pi")
    queries
      .join(idx(1), col("t1") === col("p1"))
      .join(idx(2), col("d2") === col("d1") &&
        col("pos2") === col("pos1") + 1 && col("t2") === col("p2"))
      .join(idx(3), col("d3") === col("d1") &&
        col("pos3") === col("pos1") + 2 && col("t3") === col("p3"))
      .groupBy(col("q_id"), col("d1").as("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** X3 self-contained exact-phrase retrieval over the corpus. */
  def phraseSearch(documents: DataFrame, samplePct: Int = 7): DataFrame =
    phraseSearchAgainst(phraseQueries(documents, samplePct),
      phraseIndex(documents))

  def groupConcat(documents: DataFrame): DataFrame =
    documents.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text"))).as("cat"))
      .select(col("lang"), col("source"), col("n_docs"),
        length(col("cat")).cast("long").as("cat_len"),
        md5(col("cat")).as("cat_md5"))
}
