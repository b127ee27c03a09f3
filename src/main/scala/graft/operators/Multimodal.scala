package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Feature vector produced by the (stubbed) media decoder. */
case class MediaFeatures(doc_id: Long, byte_len: Long, mean_byte: Double,
                         max_byte: Long)

/** Multimodal columns (SURVEY §2 X5): media as opaque `binary` columns
  * with typed metadata, decoded partition-wise into features.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * deterministic fake decoder (byte statistics) — clearly marked; the
  * Spark-side plumbing that matters at 100 TB is real: binary column +
  * metadata struct schema, partition-wise iterator decode with a typed
  * Encoder (the Scala analog of `mapInPandas` batch decode), and the
  * id-equi-join of media features to the embedding table. Swapping the
  * stub for a real JNI/FFmpeg decoder changes one function body, no
  * plan shape.
  */
object Multimodal {

  /** Build the media table: text bytes stand in for an image/audio
    * payload; metadata travels as a typed struct alongside the blob. */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      lit("application/octet-stream").as("media_type"),
      struct(col("lang"), col("source"), col("n_chars")).as("meta"))

  /** STUB decoder: a real pipeline would decode image/audio here
    * (resize, frame-sample, spectrogram). Deterministic byte stats keep
    * the oracle checkable while exercising the exact partition-wise
    * decode shape (iterator in, iterator out, typed Encoder). */
  def decodeStub(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          var sum = 0L
          var max = 0L
          var i = 0
          while (i < bytes.length) {
            val b = bytes(i) & 0xff
            sum += b
            if (b > max) max = b
            i += 1
          }
          MediaFeatures(id, bytes.length.toLong,
            if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length, max)
        }
      }
  }

  /** STUB resize: a real implementation decodes the image and
    * re-encodes at the target resolution; the deterministic fake keeps
    * the contract (binary in, smaller binary out, byte budget =
    * `targetBytes`) so the plan shape — narrow per-row binary
    * transform, no shuffle — is the real thing. */
  def resizeStub(media: DataFrame, targetBytes: Int): DataFrame =
    media.withColumn("media_resized",
      expr(s"CASE WHEN octet_length(media) <= $targetBytes THEN media " +
        s"ELSE substring(media, 1, $targetBytes) END"))

  /** STUB frame sampling: a real implementation pulls every k-th video
    * frame; the fake slices every k-th fixed-size chunk of the blob.
    * Output is one row per sampled "frame" with its index — the
    * explode-shaped plumbing (one media row → many frame rows, frame
    * count carried in metadata) is what matters at scale. */
  def frameSampleStub(spark: SparkSession, media: DataFrame,
                      chunkBytes: Int = 64, every: Int = 4): Dataset[(Long, Int, Array[Byte])] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nChunks = math.max(1, bytes.length / chunkBytes)
        (0 until nChunks by every).map { f =>
          (id, f, bytes.slice(f * chunkBytes, math.min((f + 1) * chunkBytes, bytes.length)))
        }
      }
  }

  /** X5 query surface: decode features (rounded for oracle parity). */
  def mediaFeatures(spark: SparkSession, documents: DataFrame): DataFrame =
    decodeStub(spark, mediaTable(documents)).toDF()
      .select(col("doc_id"), col("byte_len"),
        round(col("mean_byte"), 6).as("mean_byte"), col("max_byte"))

  /** Query surface for the resize stub: output byte budget per doc. */
  def resizedSizes(documents: DataFrame, targetBytes: Int = 100): DataFrame =
    resizeStub(mediaTable(documents), targetBytes)
      .select(col("doc_id"),
        octet_length(col("media_resized")).cast("long").as("rbytes"))

  /** Query surface for frame sampling: sampled-frame count per doc. */
  def frameCounts(spark: SparkSession, documents: DataFrame): DataFrame = {
    frameSampleStub(spark, mediaTable(documents)).toDF("doc_id", "frame", "chunk")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
  }

  /** STUB media embedding: a real pipeline runs an image/audio encoder
    * here; the deterministic fake samples `dim` codepoints at stride 7
    * and scales to [0,1], in the compiled
    * [[graft.functions.MediaEmbed]] kernel (the higher-order-lambda
    * formulation interpreted 64 `ascii(substring(...))` calls per row
    * and dominated the media-search bench). The downstream retrieval
    * plan (embed → ANN) is exactly the production shape. */
  def mediaEmbedding(documents: DataFrame, dim: Int = 64): DataFrame =
    documents.select(col("doc_id").as("vec_id"),
      graft.functions.MediaEmbed.media_embed(col("text"), dim, 7).as("v"))

  /** X5 capstone: end-to-end multimodal retrieval — media blob →
    * (stub) embedding → exact cosine top-k over the full corpus (the
    * verification baseline; [[mediaSearchLsh]] is the bucketed scale
    * path). Swap the stub encoder for a real one and this IS the
    * retrieval pipeline. */
  def mediaSearch(documents: DataFrame, nQueries: Int = 5, k: Int = 3): DataFrame =
    Similarity.annOnVectors(mediaEmbedding(documents), nQueries, k)

  /** X5 scale path: media blob → (stub) embedding → LSH-bucketed ANN.
    * Candidates come from the (table, bucket) hash join of
    * [[Similarity.annLshOnVectors]] — at 100 TB retrieval cost scales
    * with bucket occupancy, never with corpus size × queries. */
  def mediaSearchLsh(documents: DataFrame, nQueries: Int = 5, k: Int = 3): DataFrame =
    Similarity.annLshOnVectors(mediaEmbedding(documents), nQueries, k)

  /** The media corpus with its filter attribute: (vec_id, label, v)
    * where label = the asset's LANGUAGE — the predicate a filtered
    * media search restricts to ("same-language assets only", the
    * media twin of the embedding table's label column). */
  private def mediaLabeledVectors(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").as("vec_id"), col("lang").as("label"),
      graft.functions.MediaEmbed.media_embed(col("text"), 64, 7).as("v"))

  /** X5 FILTERED media retrieval — [[mediaSearchLsh]] under a metadata
    * predicate (same language), completing the media twin of the
    * filtered vector-search leg: the label rides IN the (tbl, bucket,
    * label) candidate key of the labeled media bucket index, so a
    * selective language PRUNES candidate generation instead of
    * post-filtering a truncated top-k (the x2_ann_filtered discipline
    * on the media modality — the one x2 index leg that had no media
    * twin). Same modality-agnostic core
    * ([[Similarity.annLshFilteredOnIndexVectors]]). */
  def mediaSearchFiltered(documents: DataFrame, nQueries: Int = 5,
                          k: Int = 3): DataFrame = {
    val vecs = mediaLabeledVectors(documents)
    Similarity.annLshFilteredOnIndexVectors(vecs,
      Similarity.lshLabeledBucketIndexOnVectors(vecs), nQueries, k)
  }

  /** X5 FILTERED media recall audit — the measure-don't-guess gate for
    * [[mediaSearchFiltered]]: per query, recall of the labeled media
    * search vs brute-force ground truth restricted to the SAME
    * language, on the SAME vectors and hyperplanes the production
    * filtered search uses (the `x2_filtered_recall` discipline on the
    * media modality). A selective language thins every bucket's
    * candidate population, so the unfiltered media recall
    * (`x5_mm_recall`) says nothing about this leg. */
  def mediaFilteredRecall(documents: DataFrame, nQueries: Int = 5,
                          k: Int = 3): DataFrame =
    Similarity.filteredRecallOnVectors(mediaLabeledVectors(documents),
      nQueries, k)

  /** [[mediaSearchFiltered]]'s SERVE path — the STORED labeled media
    * bucket table is the ingest-time artifact; the search plan never
    * re-embeds or re-hashes the collection (only the O(candidates)
    * scoring join touches embeddings). Must equal
    * [[mediaSearchFiltered]] exactly: `x5_mm_search_filtered_serve`
    * shares its oracle by reference. */
  def mediaSearchFilteredServe(documents: DataFrame, nQueries: Int = 5,
                               k: Int = 3): DataFrame = {
    val vecs = mediaLabeledVectors(documents)
    val idx = Similarity.lshLabeledBucketIndexOnVectors(vecs).localCheckpoint()
    Similarity.annLshFilteredOnIndexVectors(vecs, idx, nQueries, k)
  }

  /** X5 FILTERED media probe-budget curve — the tuning knob for
    * [[mediaSearchFiltered]], completing the media twin of the
    * filtered audit set (recall + CURVE + ranking + occupancy): the
    * one-pass min-probe-index trick of
    * [[Similarity.filteredProbeCurveOnVectors]] on the labeled MEDIA
    * index — same vectors, labels, and hyperplanes the production
    * filtered media search uses; the max budget reproduces
    * [[mediaFilteredRecall]]'s hit total exactly (spec-pinned). */
  def mediaFilteredProbeCurve(documents: DataFrame, nQueries: Int = 5,
                              k: Int = 3): DataFrame =
    Similarity.filteredProbeCurveOnVectors(mediaLabeledVectors(documents),
      nQueries, k)

  /** X5 FILTERED media ranking audit — graded recall (normalized by
    * the query's OWN max gain — a rare language can hold fewer than k
    * same-language mates) + MRR of the filtered media search vs the
    * same-language brute ground truth
    * ([[Similarity.filteredRankQualityOnVectors]] on the media
    * modality). */
  def mediaFilteredRankQuality(documents: DataFrame, nQueries: Int = 5,
                               k: Int = 3): DataFrame =
    Similarity.filteredRankQualityOnVectors(mediaLabeledVectors(documents),
      nQueries, k)

  /** X5 LABELED media index-health report — bucket occupancy of the
    * labeled media index at the (table, LANGUAGE) grain
    * ([[Similarity.labeledBucketStatsOnVectors]]): the filtered media
    * leg's pre-flight — one language collapsing into one bucket turns
    * ITS candidate join quadratic while the unlabeled media occupancy
    * report (`x5_mm_bucket_stats`) looks healthy. */
  def mediaLabeledBucketStats(documents: DataFrame): DataFrame =
    Similarity.labeledBucketStatsOnVectors(mediaLabeledVectors(documents))

  /** The media LSH SERVE path — [[mediaSearchLsh]] answered from a
    * STORED media bucket table: a resident pipeline embeds and
    * sign-hashes each asset ONCE at ingest ([[mediaBucketIndex]], 8·N
    * slim rows), and every retrieval call probes that table — the
    * collection is never re-embedded or re-hashed in the search plan
    * (only the O(candidates) scoring join touches embeddings). Must
    * equal [[mediaSearchLsh]] exactly: `x5_mm_search_lsh_serve`
    * shares its oracle by reference, the same serve ≡ self-contained
    * contract as every `x2_ann_*_serve`. */
  def mediaSearchLshServe(documents: DataFrame, nQueries: Int = 5,
                          k: Int = 3): DataFrame = {
    val vecs = mediaEmbedding(documents)
    val idx = mediaBucketIndex(documents).localCheckpoint()
    Similarity.annLshOnBucketIndexVectors(vecs, idx, nQueries, k)
  }

  /** The stored media bucket table itself — the ingest-time artifact
    * [[mediaSearchLshServe]] probes (one row per asset per hash
    * table; at scale this is the materialized media index, not a
    * query). */
  def mediaBucketIndex(documents: DataFrame): DataFrame =
    Similarity.lshBucketIndexOnVectors(mediaEmbedding(documents))

  /** X5 multimodal NEAR-DUP dedup: media blob → (stub) embedding →
    * sign-LSH bucketed senior dedup ([[Similarity.lshDedupOnVectors]])
    * — the re-encoded / re-compressed asset detector (the same image
    * saved twice lands at cosine ≈ 1 under any stable encoder while
    * its bytes differ, so byte-level fingerprints miss it). Swap the
    * stub encoder for a real one and this IS the pipeline; tau is high
    * (0.995) because stub embeddings of unrelated texts already sit
    * ~0.92 apart — real encoders separate better, tau is the knob. */
  def mediaDedup(documents: DataFrame, tau: Double = 0.995): DataFrame =
    Similarity.lshDedupOnVectors(mediaEmbedding(documents), tau)

  /** X5 INCREMENTAL media near-dup: flag an incoming media batch
    * against the already-accepted corpus ([[mediaDedup]]'s
    * continuous-ingestion shape; same wide centered dedup tables,
    * same tau knob). Only the batch is embedded and hashed per run —
    * the index side is a stored bucket table per generation at
    * scale. */
  def mediaDedupAgainstIndex(incoming: DataFrame, indexed: DataFrame,
                             tau: Double = 0.995): DataFrame =
    Similarity.lshDedupAgainstIndexOnVectors(
      mediaEmbedding(incoming), mediaEmbedding(indexed), tau)

  /** X5 cross-collection alignment mining — pair each incoming asset
    * with its standout counterpart in the accepted collection by the
    * MARGIN criterion ([[Similarity.marginMineOnVectors]]): best vs
    * runner-up cosine ratio, so near-duplicate hub assets that sit
    * close to everything are suppressed instead of flooding the pair
    * table. The caption↔image / clip↔transcript alignment shape —
    * swap the stub encoder for a real one and this IS the mining
    * pipeline. */
  def mediaAlign(incoming: DataFrame, indexed: DataFrame,
                 tau: Double = 1.001): DataFrame =
    Similarity.marginMineOnVectors(
      mediaEmbedding(incoming), mediaEmbedding(indexed), tau)

  /** X5 MEDIA PQ COMPRESSION — the product-quantization family
    * applied to the media modality: stub embeddings train a
    * per-subspace codebook and the collection compresses to m codes
    * per asset ([[Similarity.trainPqModelOnVectors]] /
    * [[Similarity.pqCodesAgainstOnVectors]], the same train-once
    * artifacts the `x2_pq_*` family hash-verifies) — a billion-asset
    * media index stores m bytes per item and ADC-scans codes, raw
    * blobs never read at query time. Exactness: the encoder's
    * `ord/255` outputs are NOT finite-binary, so components quantize
    * to the dyadic 2⁻²⁰ grid FIRST — Lloyd mean sums then fold
    * exactly in any order (the float32-mantissa argument, recreated
    * by construction), and both engines train the identical
    * codebook. */
  def mediaPqCodes(documents: DataFrame, m: Int = 8, k: Int = 16,
                   rounds: Int = 2, dims: Int = 64): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    Similarity.pqCodesAgainstOnVectors(vecs,
      Similarity.trainPqModelOnVectors(vecs, m, k, rounds, dims), m, dims)
  }

  /** X5 int8 media retrieval — the scalar-quantization leg of the
    * media index ladder (exact → LSH → PQ → SQ, mirroring the
    * embedding table's `x2_ann_sq`): assets encode once into the
    * 4×-smaller (scale, int8 codes) table and queries rank by the
    * asymmetric estimate `scale_q·scale_d·⟨q,d⟩` — integer inner
    * products, engine-exact, no training step (SQ's operational edge
    * over PQ: codebook-free, so ingest never retrains). */
  def mediaSearchSq(documents: DataFrame, nQueries: Int = 5,
                    k: Int = 3): DataFrame =
    Similarity.annSqOnCodes(
      Similarity.sqCodesOnVectors(mediaEmbedding(documents)), nQueries, k)

  /** [[mediaSearchSq]]'s SERVE path — the search runs against the
    * STORED media code table; assets are never re-embedded or
    * re-encoded in the search plan. `x5_mm_search_sq_serve` shares
    * `x5_mm_search_sq`'s oracle by reference. */
  def mediaSearchSqServe(documents: DataFrame, nQueries: Int = 5,
                         k: Int = 3): DataFrame =
    Similarity.annSqOnCodes(
      Similarity.sqCodesOnVectors(mediaEmbedding(documents)).localCheckpoint(),
      nQueries, k)

  /** X5 binary media retrieval — the cheapest media index leg (8
    * bytes/asset): stub embeddings CENTER to (v − 0.5) before the
    * sign-pack (the media-LSH-dedup lesson: the stub lives in [0,1],
    * so uncentered signs are all-ones and every asset collides),
    * then rank by Hamming distance — pure integer, engine-exact. */
  def mediaSearchBinary(documents: DataFrame, nQueries: Int = 5,
                        k: Int = 3): DataFrame =
    Similarity.annBinaryOnCodes(mediaBinaryCodes(documents), nQueries, k)

  /** The stored 2-word media code table [[mediaSearchBinary]] scans —
    * centered sign bits of the stub embedding. Centering rides as the
    * kernel's sign threshold (v > 0.5 ≡ (v − 0.5) > 0 exactly), so no
    * interpreted per-element lambda touches the hot path. */
  def mediaBinaryCodes(documents: DataFrame): DataFrame =
    Similarity.binaryCodesOnVectors(mediaEmbedding(documents), threshold = 0.5)

  /** [[mediaSearchBinary]]'s SERVE path over the STORED code table.
    * `x5_mm_search_binary_serve` aliases its oracle by reference. */
  def mediaSearchBinaryServe(documents: DataFrame, nQueries: Int = 5,
                             k: Int = 3): DataFrame =
    Similarity.annBinaryOnCodes(
      mediaBinaryCodes(documents).localCheckpoint(), nQueries, k)

  /** X5 media binary shortlist→rerank (`x5_mm_search_binary_rerank`)
    * — the only binary shape that could EVER serve on this modality:
    * `x5_mm_binary_recall` measured the flat Hamming ranking at ZERO
    * recall on the all-positive stub geometry, so if the 8-byte tier
    * serves at all here, it is as a candidate generator with an
    * exact-cosine re-order ([[Similarity.annBinaryRerankOnVectors]] at
    * the production 0.5 threshold) — the standard two-stage form the
    * x2 modality deploys at 45/100. */
  def mediaSearchBinaryRerank(documents: DataFrame, nQueries: Int = 5,
                              kCand: Int = 20, k: Int = 3): DataFrame =
    Similarity.annBinaryRerankOnVectors(mediaEmbedding(documents),
      threshold = 0.5, nQueries, kCand, k)

  /** X5 media binary RERANK recall gate (`x5_mm_binary_rerank_recall`)
    * — and the measurement says DON'T: even the two-stage form
    * recovers only 2/15 at sf0.001 (0/15 at sf0.01) at kCand=20 —
    * barely above a random shortlist — because the centered sign bits
    * carry almost no cosine signal on this geometry, so the candidate
    * generation itself is broken, not just the ranking. The deployable
    * cheap tier on this modality is int8 SQ (14/15); per-distribution
    * gates exist precisely to steer that tier choice before launch. */
  def mediaBinaryRerankRecall(documents: DataFrame, nQueries: Int = 5,
                              kCand: Int = 20, k: Int = 3): DataFrame =
    Similarity.binaryRerankRecallReportOnVectors(mediaEmbedding(documents),
      threshold = 0.5, nQueries, kCand, k)

  /** Media stub embeddings snapped to the dyadic 2⁻²⁰ grid — the
    * exactness precondition of every trained index on this modality
    * (see [[mediaPqCodes]]). The snap rides INSIDE the compiled
    * encoder kernel (one pass; the former post-hoc `transform` lambda
    * re-walked 64 elements interpreted per row in every trained-index
    * path). */
  private[graft] def dyadicMediaVectors(documents: DataFrame, dims: Int): DataFrame =
    documents.select(col("doc_id").as("vec_id"),
      graft.functions.MediaEmbed.media_embed_dyadic(col("text"), dims, 7).as("v"))

  /** The media PQ codebook through [[ModelCache]] — shared by the
    * flat-ADC and IVF×PQ media search pairs (one per-subspace Lloyd
    * run per collection, ever); the model-BUILD query `x5_mm_pq`
    * keeps its own training (re-proving the build is its role). */
  def mediaPqModelCached(documents: DataFrame, modelKey: String, m: Int = 8,
                         kCodes: Int = 16, rounds: Int = 2,
                         dims: Int = 64): Seq[(Int, Long, Seq[Double])] =
    ModelCache.memo(ModelCache.key(modelKey, s"media-pq-$m-$kCodes-$rounds-$dims")) {
      Similarity.trainPqModelOnVectors(dyadicMediaVectors(documents, dims),
        m, kCodes, rounds, dims)
    }

  /** X5 media flat-ADC recall audit — `x5_mm_pq_recall`:
    * [[Similarity.pqRecallReportOnVectors]] over the SAME dyadic stub
    * vectors and the SAME shared codebook `x5_mm_search_pq` serves
    * from (audit-adjacent — the gate measures the deployed artifact's
    * retrieval quality, so the memoized model is the right input;
    * the model-BUILD query `x5_mm_pq` keeps its own training): per
    * query, how many exact-L2 top-k neighbors the 8-byte ADC ranking
    * keeps on the media distribution. */
  def mediaPqRecall(documents: DataFrame, modelKey: String, m: Int = 8,
                    kCodes: Int = 16, rounds: Int = 2, dims: Int = 64,
                    nQueries: Int = 20, k: Int = 3): DataFrame =
    Similarity.pqRecallReportOnVectors(dyadicMediaVectors(documents, dims),
      mediaPqModelCached(documents, modelKey, m, kCodes, rounds, dims),
      m, dims, nQueries, k)

  /** The media coarse quantizer through [[ModelCache]] —
    * [[Similarity.ivfModelCached]]'s media twin, shared by the raw
    * IVF×PQ pair AND the residual pair: one media Lloyd run per
    * (collection, hyperparams), ever. */
  def mediaIvfModelCached(documents: DataFrame, modelKey: String,
                          nCells: Int = 8, trainRounds: Int = 2,
                          dims: Int = 64): Seq[(Long, Seq[Double])] =
    ModelCache.memo(ModelCache.key(modelKey, s"media-ivf-$nCells-$trainRounds")) {
      Similarity.trainIvfModelOnVectors(dyadicMediaVectors(documents, dims),
        nCells, trainRounds)
    }

  /** Both media raw-composition models via the memo — the media
    * IVF×PQ pair's train-once entry ([[mediaResModels]]' raw twin). */
  def mediaIvfPqModels(documents: DataFrame, modelKey: String, nCells: Int = 8,
                       trainRounds: Int = 2, m: Int = 8, kCodes: Int = 16,
                       dims: Int = 64)
      : (Seq[(Long, Seq[Double])], Seq[(Int, Long, Seq[Double])]) =
    (mediaIvfModelCached(documents, modelKey, nCells, trainRounds, dims),
      mediaPqModelCached(documents, modelKey, m, kCodes, trainRounds, dims))

  /** X5 COMPOSED media IVF-PQ search (`x5_mm_search_ivfpq`, both
    * models via [[mediaIvfPqModels]]) — [[mediaIvfAssign]]'s partition
    * map and [[mediaPqCodes]]' code table married into the
    * billion-asset retrieval architecture (the media twin of
    * `x2_ann_ivfpq`): a query probes its `nProbe` closest trained
    * cells, and within them the score is the ADC sum over the code
    * table, so raw media embeddings are never read collection-side at
    * query time. Assignment and encoding stay lazy in the plan. */
  def mediaSearchIvfPqWithModels(documents: DataFrame,
                                 cmodel: Seq[(Long, Seq[Double])],
                                 codebook: Seq[(Int, Long, Seq[Double])],
                                 m: Int = 8, dims: Int = 64,
                                 nQueries: Int = 20, kNn: Int = 3,
                                 nProbe: Int = 2): DataFrame =
    Similarity.annIvfPqWithModelsOnVectors(dyadicMediaVectors(documents, dims),
      cmodel, codebook, m, dims, nQueries, kNn, nProbe)

  /** [[mediaSearchIvfPqWithModels]]'s SERVE path — the (vec_id,
    * cell) partition map and the (vec_id, sub, code) compressed
    * collection materialize as stored artifacts, both trained models
    * are driver-side state, and nothing in the retrieval plan trains,
    * assigns, or encodes the collection. `x5_mm_search_ivfpq_serve`
    * shares `x5_mm_search_ivfpq`'s oracle by reference. */
  def mediaSearchIvfPqServeWithModels(documents: DataFrame,
                                      cmodel: Seq[(Long, Seq[Double])],
                                      codebook: Seq[(Int, Long, Seq[Double])],
                                      m: Int = 8, dims: Int = 64,
                                      nQueries: Int = 20, kNn: Int = 3,
                                      nProbe: Int = 2): DataFrame = {
    // embed the collection ONCE: both artifact builds and the
    // query-side derivation read the same checkpointed frame instead
    // of re-running the embed kernel per consumer; the two artifacts
    // then build as concurrent jobs (Par.both)
    val vecs = dyadicMediaVectors(documents, dims).localCheckpoint()
    val (asg, codes) = Par.both(
      Similarity.ivfAssignmentsForOnVectors(vecs, cmodel).localCheckpoint(),
      Similarity.pqCodesAgainstOnVectors(vecs, codebook, m, dims).localCheckpoint())
    Similarity.annIvfPqOnArtifactsVectors(vecs, asg, codes, cmodel, codebook,
      m, dims, nQueries, kNn, nProbe)
  }

  /** X5 COMPRESSED-DOMAIN media retrieval (`x5_mm_search_pq`, the
    * codebook via [[mediaPqModelCached]]) — the ADC search over the
    * media PQ index: queries probe the m-codes-per-asset table with a
    * broadcast lookup table; raw media embeddings are never read
    * collection-side. The media ladder's exact ([[mediaSearch]]) →
    * LSH ([[mediaSearchLsh]]) → PQ step, mirroring
    * `x2_ann_topk`/`x2_ann_lsh`/`x2_ann_pq`. Encoding stays lazy. */
  def mediaSearchPqWithModel(documents: DataFrame,
                             codebook: Seq[(Int, Long, Seq[Double])],
                             m: Int = 8, dims: Int = 64,
                             nQueries: Int = 20, kNn: Int = 3): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    val codes = Similarity.pqCodesAgainstOnVectors(vecs, codebook, m, dims)
    Similarity.pqAdcTopKOnVectors(vecs, codes, codebook, m, dims, nQueries, kNn)
  }

  /** [[mediaSearchPqWithModel]]'s SERVE path — the ADC search over
    * the STORED compressed collection: the (vec_id, sub, code) table
    * is the ingest-time artifact and the codebook driver-side state,
    * so the collection appears ONLY as codes. `x5_mm_search_pq_serve`
    * shares `x5_mm_search_pq`'s oracle by reference. */
  def mediaSearchPqServeWithModel(documents: DataFrame,
                                  codebook: Seq[(Int, Long, Seq[Double])],
                                  m: Int = 8, dims: Int = 64,
                                  nQueries: Int = 20, kNn: Int = 3): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    val codes = Similarity.pqCodesAgainstOnVectors(vecs, codebook, m, dims).localCheckpoint()
    Similarity.pqAdcTopKOnVectors(vecs, codes, codebook, m, dims, nQueries, kNn)
  }

  /** X5 media IVF×SQ — the composed third index leg on the media
    * modality (`x2_ann_ivfsq`'s twin, FAISS IVF_SQ8 for a media
    * collection): the trained coarse quantizer bounds candidates to
    * the probed cells and the int8 code table prices each candidate by
    * the asymmetric SQ estimate — 1 byte/dim + one scale per
    * candidate, codebook-free encode (SQ's operational edge: ingest
    * never retrains the compressor, only the coarse quantizer is a
    * model). Same modality-agnostic core
    * ([[Similarity.annIvfSqOnArtifactsVectors]]) over the dyadic stub
    * embeddings; the coarse quantizer comes through the shared
    * `#media-ivf` memo ([[mediaIvfModelCached]] — one media Lloyd run
    * per collection across the PQ, residual, and SQ compositions). */
  def mediaSearchIvfSqWithModel(documents: DataFrame,
                                cmodel: Seq[(Long, Seq[Double])],
                                dims: Int = 64, nQueries: Int = 20,
                                kNn: Int = 3, nProbe: Int = 4): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    Similarity.annIvfSqOnArtifactsVectors(vecs,
      Similarity.ivfAssignmentsForOnVectors(vecs, cmodel),
      Similarity.sqCodesOnVectors(vecs), cmodel, nQueries, kNn, nProbe)
  }

  /** [[mediaSearchIvfSqWithModel]]'s SERVE path — the STORED (vec_id,
    * cell) partition map and STORED int8 code table with the centroids
    * as driver state: nothing in the search plan assigns or encodes
    * the collection. `x5_mm_search_ivfsq_serve` shares
    * `x5_mm_search_ivfsq`'s oracle by reference. */
  def mediaSearchIvfSqServeWithModel(documents: DataFrame,
                                     cmodel: Seq[(Long, Seq[Double])],
                                     dims: Int = 64, nQueries: Int = 20,
                                     kNn: Int = 3, nProbe: Int = 4): DataFrame = {
    // one embed pass + concurrent artifact builds (see the IVF×PQ serve)
    val vecs = dyadicMediaVectors(documents, dims).localCheckpoint()
    val (asg, codes) = Par.both(
      Similarity.ivfAssignmentsForOnVectors(vecs, cmodel).localCheckpoint(),
      Similarity.sqCodesOnVectors(vecs).localCheckpoint())
    Similarity.annIvfSqOnArtifactsVectors(vecs, asg, codes,
      cmodel, nQueries, kNn, nProbe)
  }

  /** X5 media RESIDUAL IVF×SQ — the residual rung of the media SQ
    * composition (`x2_ann_ivfsq_res`'s twin): the int8 code quantizes
    * the dyadic residual (v − centroid[cell]) so the full ±127 range
    * prices within-cell variance; ranking is the estimated residual
    * L2, comparable across probed cells. Completes the media index
    * ladder's composition matrix — every x2 rung (exact, LSH,
    * filtered, PQ, IVF×PQ, residual IVF×PQ, SQ, IVF×SQ, residual
    * IVF×SQ, binary) now has its media twin. Same modality-agnostic
    * core ([[Similarity.annIvfSqResOnArtifactsVectors]] /
    * [[Similarity.resSqCodesForOnVectors]]); coarse quantizer via the
    * shared `#media-ivf` memo. */
  def mediaSearchIvfSqResWithModel(documents: DataFrame,
                                   cmodel: Seq[(Long, Seq[Double])],
                                   dims: Int = 64, nQueries: Int = 20,
                                   kNn: Int = 3, nProbe: Int = 2): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    Similarity.annIvfSqResOnArtifactsVectors(vecs,
      Similarity.resSqCodesForOnVectors(vecs, cmodel), cmodel,
      nQueries, kNn, nProbe)
  }

  /** [[mediaSearchIvfSqResWithModel]]'s SERVE path — the STORED
    * (vec_id, cell, scale, q) residual code table with driver
    * centroids. `x5_mm_search_ivfsq_res_serve` shares
    * `x5_mm_search_ivfsq_res`'s oracle by reference. */
  def mediaSearchIvfSqResServeWithModel(documents: DataFrame,
                                        cmodel: Seq[(Long, Seq[Double])],
                                        dims: Int = 64, nQueries: Int = 20,
                                        kNn: Int = 3, nProbe: Int = 2): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    Similarity.annIvfSqResOnArtifactsVectors(vecs,
      Similarity.resSqCodesForOnVectors(vecs, cmodel).localCheckpoint(),
      cmodel, nQueries, kNn, nProbe)
  }

  /** X5 media IVF-PQ recall audit — the measured residual claim ON THE
    * MEDIA DISTRIBUTION (`x5_mm_ivfpq_recall`): per query, hits of the
    * raw-code vs residual-code media IVF×PQ against exact-L2 ground
    * truth at identical (nCells, m, kCodes, nProbe). The margin is
    * data-dependent (the x2 gate measures the embedding table; dyadic
    * stub embeddings are a different geometry), so the media rungs get
    * their own measurement instead of inheriting x2's. Trains its own
    * models BY DESIGN — never [[ModelCache]]. */
  def mediaIvfPqRecall(documents: DataFrame, dims: Int = 64): DataFrame =
    Similarity.ivfPqRecallReportOnVectors(dyadicMediaVectors(documents, dims),
      dims = dims)

  /** X5 media IVF-SQ recall audit — `x5_mm_ivfsq_recall`, the SQ
    * composition's residual-vs-raw measurement on the media
    * distribution ([[mediaIvfPqRecall]]'s twin for the int8 rungs):
    * raw codes re-priced by the asymmetric L2 estimate vs residual
    * codes, exact-L2 ground truth, identical (nCells, nProbe). */
  def mediaIvfSqRecall(documents: DataFrame, dims: Int = 64): DataFrame =
    Similarity.ivfSqRecallReportOnVectors(dyadicMediaVectors(documents, dims))

  /** X5 media flat-SQ recall audit — `x5_mm_sq_recall`: the
    * [[Similarity.sqRecallReportOnVectors]] gate over the SAME stub
    * embeddings `x5_mm_search_sq` encodes — exact-MIPS ground truth vs
    * the int8 asymmetric-estimate top-k, per-query hits. The composed
    * media gates ([[mediaIvfPqRecall]]/[[mediaIvfSqRecall]]) proved
    * recall margins are distribution-dependent; this closes the same
    * measurement gap for the flat int8 rung (the media stub geometry
    * is all-positive [0,1] — a regime the x2 gate never measures). */
  def mediaSqRecall(documents: DataFrame, nQueries: Int = 5,
                    k: Int = 3): DataFrame =
    Similarity.sqRecallReportOnVectors(mediaEmbedding(documents), nQueries, k)

  /** X5 media flat-binary recall audit — `x5_mm_binary_recall`:
    * [[Similarity.binaryRecallReportOnVectors]] over the stub
    * embeddings at the production rung's centering threshold (0.5 —
    * the sign plane [[mediaBinaryCodes]] packs against): exact-cosine
    * ground truth vs the centered Hamming top-k. Completes the media
    * audit symmetry — every deployed media search form now carries a
    * measured recall gate on its own distribution. */
  def mediaBinaryRecall(documents: DataFrame, nQueries: Int = 5,
                        k: Int = 3): DataFrame =
    Similarity.binaryRecallReportOnVectors(mediaEmbedding(documents),
      threshold = 0.5, nQueries, k)

  /** The media residual pair's TRAIN-ONCE entry ([[Similarity.resModels]]'
    * media twin): IVF centroids + residual-PQ codebook over the dyadic
    * stub embeddings, memoized by corpus path — `x5_mm_search_ivfpq_res`
    * and its serve twin used to each re-run the identical deterministic
    * trainings at construction (the two most expensive bench rows);
    * sharing the driver-side models removes the duplicate without
    * touching any plan. */
  def mediaResModels(documents: DataFrame, modelKey: String, nCells: Int = 8,
                     trainRounds: Int = 2, m: Int = 8, kCodes: Int = 16,
                     dims: Int = 64)
      : (Seq[(Long, Seq[Double])], Seq[(Int, Long, Seq[Double])]) = {
    // the coarse quantizer comes from the SHARED media-ivf memo entry
    // (one Lloyd run per collection across the raw AND residual
    // pairs); only the res-PQ codebook memoizes under its own key.
    // NOT one nested memo: computeIfAbsent inside computeIfAbsent on
    // the same map is a recursive update — sequential, like resModels.
    val cmodel = mediaIvfModelCached(documents, modelKey, nCells, trainRounds,
      dims)
    val pq = ModelCache.memo(ModelCache.key(modelKey,
        s"media-respq-$nCells-$trainRounds-$m-$kCodes-$dims")) {
      Similarity.trainResPqModelOnVectors(dyadicMediaVectors(documents, dims),
        cmodel, m, kCodes, trainRounds, dims)
    }
    (cmodel, pq)
  }

  /** X5 media RESIDUAL IVF-PQ search (`x5_mm_search_ivfpq_res`, both
    * models via [[mediaResModels]]) — [[mediaSearchIvfPqWithModels]]
    * in the true FAISS layout: within each trained cell the PQ
    * codebook encodes the RESIDUAL (v − centroid[cell]) snapped to the
    * dyadic 2⁻²⁰ grid, so the fixed code budget prices WITHIN-cell
    * variance; the query builds one ADC lookup table per probed cell
    * from its own residual. Same modality-agnostic core as
    * `x2_ann_ivfpq_res` ([[Similarity.annIvfPqResWithModelsOnVectors]]).
    * Assignment and residual encoding stay lazy in the plan. */
  def mediaSearchIvfPqResWithModels(documents: DataFrame,
                                    cmodel: Seq[(Long, Seq[Double])],
                                    codebook: Seq[(Int, Long, Seq[Double])],
                                    m: Int = 8, dims: Int = 64,
                                    nQueries: Int = 20, kNn: Int = 3,
                                    nProbe: Int = 2): DataFrame =
    Similarity.annIvfPqResWithModelsOnVectors(dyadicMediaVectors(documents, dims),
      cmodel, codebook, m, dims, nQueries, kNn, nProbe)

  /** [[mediaSearchIvfPqResWithModels]]'s SERVE path — stored (vec_id,
    * cell) partition map + stored (vec_id, sub, code) RESIDUAL-code
    * collection + both trained models driver-side: nothing in the
    * retrieval plan trains, assigns, or encodes the collection.
    * `x5_mm_search_ivfpq_res_serve` shares `x5_mm_search_ivfpq_res`'s
    * oracle by reference. */
  def mediaSearchIvfPqResServeWithModels(documents: DataFrame,
                                         cmodel: Seq[(Long, Seq[Double])],
                                         codebook: Seq[(Int, Long, Seq[Double])],
                                         m: Int = 8, dims: Int = 64,
                                         nQueries: Int = 20, kNn: Int = 3,
                                         nProbe: Int = 2): DataFrame = {
    // one embed pass + concurrent artifact builds (see the IVF×PQ serve)
    val vecs = dyadicMediaVectors(documents, dims).localCheckpoint()
    val (asg, codes) = Par.both(
      Similarity.ivfAssignmentsForOnVectors(vecs, cmodel).localCheckpoint(),
      Similarity.resPqCodesAgainstOnVectors(vecs, cmodel, codebook, m, dims).localCheckpoint())
    Similarity.annIvfPqResOnArtifactsVectors(vecs, asg, codes, cmodel, codebook,
      m, dims, nQueries, kNn, nProbe)
  }

  /** X5 media index-health audit — [[Similarity.lshBucketStatsOnVectors]]
    * over the SAME stub embeddings and hyperplanes the media LSH
    * search hashes: per table, how the collection spreads over
    * buckets. THE pre-flight for this modality — the one-bucket
    * collapse (69% of sf0.1 media vectors in one cell before
    * centering) happened HERE, and this report is how it is caught
    * before the candidate join runs quadratic. */
  def mediaBucketStats(documents: DataFrame): DataFrame =
    Similarity.lshBucketStatsOnVectors(mediaEmbedding(documents))

  /** X5 media recall audit — per query, how many of the media LSH
    * index's top-k survive against [[mediaSearch]]'s exact ground
    * truth (the `x2_recall` discipline on the media modality): the
    * "measure, don't guess" gate before the bucketed path replaces
    * the exact one on a collection. Same vectors, same hyperplanes,
    * same house ranking rule as the production search. */
  def mediaRecallReport(documents: DataFrame, nQueries: Int = 5,
                        k: Int = 3): DataFrame =
    Similarity.lshRecallReportOnVectors(mediaEmbedding(documents), nQueries, k)

  /** X5 media RANKING-quality audit — `x2_rank_quality`'s graded
    * recall + MRR on the media modality: WHERE the bucketed media
    * search's hits land against the exact baseline, not just how many
    * ([[mediaRecallReport]]'s companion, same vectors and hyperplanes
    * as production). */
  def mediaRankQualityReport(documents: DataFrame, nQueries: Int = 5,
                             k: Int = 3): DataFrame =
    Similarity.rankQualityOnVectors(mediaEmbedding(documents), nQueries, k)

  /** X5 media PROBE-BUDGET tuning curve — `x2_probe_curve` on the
    * media modality: recall per probe budget from one candidate pass,
    * on the same vectors and hyperplanes as the production media
    * search ([[mediaRecallReport]]'s companion; completes the media
    * audit set: occupancy + recall + ranking + tuning). */
  def mediaProbeCurve(documents: DataFrame, nQueries: Int = 5,
                      k: Int = 3): DataFrame =
    Similarity.probeCurveOnVectors(mediaEmbedding(documents), nQueries, k)

  /** X5 MEDIA IVF PARTITION MAP — the coarse-quantizer leg for the
    * media modality ([[mediaPqCodes]] is the compression leg): stub
    * embeddings train the spherical k-means cells and every asset
    * gets its (vec_id, cell) row — at scale this IS the media index
    * layout (cell partitions the collection; probing = joining cell
    * ids), and together the two legs compose the media IVF-PQ
    * architecture. Same dyadic 2⁻²⁰ pre-quantization as the PQ leg
    * so Lloyd training is fold-order-exact cross-engine. */
  def mediaIvfAssign(documents: DataFrame, nCells: Int = 8,
                     trainRounds: Int = 2, dims: Int = 64): DataFrame = {
    val vecs = dyadicMediaVectors(documents, dims)
    Similarity.ivfAssignmentsForOnVectors(vecs,
      Similarity.trainIvfModelOnVectors(vecs, nCells, trainRounds))
  }

  /** X5 multimodal join: documents ⋈ embeddings on doc_id = vec_id with
    * vector metadata (dim + L2 norm). Both sides shuffle on the id (or
    * broadcast when one side is small); norm is a narrow per-row fold. */
  def docEmbeddingJoin(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val emb = embeddings
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))), 6)
          .as("norm"))
    documents.join(emb, documents("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"), col("dim"), col("norm"))
  }
}
