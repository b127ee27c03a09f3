package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sqrt}

import graft.functions.DotProduct.dot_product
import graft.operators.{Dedup, Multimodal, Similarity}

/** Generation-rolling near-dup index of a streaming ingestion gate
  * ([[StreamPipeline.curateStream]], [[StreamPipeline.mediaDedupStream]]):
  * generation `G` is the gate's PRE-BUILT probe side, materialized once
  * from the accepted `(doc_id, text)` corpus — the signing/embedding and
  * hashing run at refresh time, never per micro-batch — and swapped
  * atomically under one volatile read. A static index is a rolling
  * index that is never refreshed.
  *
  * The micro-batch loop reads [[current]] at every trigger, so
  * documents accepted into generation N start gating generation N+1
  * the moment [[refresh]] returns: no query restart, no streaming-state
  * reset, no re-signing of the corpus inside a trigger. A generation
  * with several frames (the media gate's buckets and vectors) is ONE
  * value, so an in-flight batch keeps candidates and scores within the
  * generation it read at its start even if a refresh lands mid-batch.
  *
  * Each generation's frames are eager `localCheckpoint`s — lineage-free,
  * owned by no CacheManager entry; a superseded generation's blocks are
  * reclaimed by the ContextCleaner once the last in-flight batch that
  * read it drops the reference.
  */
final class RollingIndex[G] private (materialize: DataFrame => G,
                                     @volatile private var cur: G) {

  /** The live generation. */
  def current: G = cur

  /** Roll to a new generation built from `accepted` (doc_id, text) —
    * typically the gate's upserted output read back
    * ([[StreamPipeline.readUpserted]]), or any superset of the corpus
    * the next generation must not near-duplicate. */
  def refresh(accepted: DataFrame): Unit = cur = materialize(accepted)
}

object RollingIndex {
  private def build[G](accepted: DataFrame)(materialize: DataFrame => G): RollingIndex[G] =
    new RollingIndex(materialize, materialize(accepted))

  /** The text gate's index: the aggregated (band, key, match_id) table
    * of [[Dedup.bandIndex]]. Generation 0 may be built from an empty
    * (doc_id, text) frame: it gates nothing until the first refresh. */
  def bands(accepted: DataFrame): RollingIndex[DataFrame] =
    build(accepted)(a => Dedup.bandIndex(a).localCheckpoint())

  /** The media gate's index: the (match_id, tbl, bucket) wide centered
    * bucket table of [[Similarity.lshDedupBucketIndex]] and the
    * normalized (vec_id, v, nrm) vectors the scoring join needs, both of
    * the [[Multimodal.mediaEmbedding]] of `accepted`. */
  def media(accepted: DataFrame): RollingIndex[(DataFrame, DataFrame)] =
    build(accepted) { a =>
      val vn = Multimodal.mediaEmbedding(a)
        .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
        .localCheckpoint()
      (Similarity.lshDedupBucketIndex(vn.select(col("vec_id"), col("v")))
        .localCheckpoint(), vn)
    }
}
