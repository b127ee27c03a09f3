package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.gen.DataGen
import graft.operators.Enrich
import graft.streaming.StreamPipeline

/** One micro-batch as reported by its `StreamingQueryProgress`. `endMs` is
  * the trigger's start plus its `triggerExecution` time: when the batch
  * committed. */
final case class Trig(batchId: Long, startMs: Long, endMs: Long, rows: Long,
                      endOffset: Long, durations: Map[String, Long]) {
  def ms: Long = endMs - startMs
  def phase(k: String): Long = durations.getOrElse(k, 0L)
}

/** The flagship pipeline fed from memory: Kafka-shaped rows (binary
  * `value`, `timestamp` of the event's creation) → `decodeOrderBytes` →
  * `enrichReference` against the generated 10k-row customers table, left
  * uncached → the append or upsert sink, triggered back to back. */
final class Pipe(spark: SparkSession, sink: String, val dir: String, partitions: Int) {
  private implicit val enc: Encoder[(Array[Byte], Long)] =
    Encoders.tuple(Encoders.BINARY, Encoders.scalaLong)
  private val mem = new MemoryStream[(Array[Byte], Long)](
    Pipe.ids.incrementAndGet(), spark, Some(partitions))
  val out = s"$dir/out"

  val query: StreamingQuery = {
    val kafkaRows = mem.toDF()
      .select(col("_1").as("value"), timestamp_millis(col("_2")).as("timestamp"))
    val enriched = Enrich.enrichReference(StreamPipeline.decodeOrderBytes(kafkaRows),
      Pipe.customers(spark))
    val writer = sink match {
      case "append" => StreamPipeline.writeEnriched(enriched, out, s"$dir/ck")
      case "upsert" => StreamPipeline.upsertEnriched(enriched, out, s"$dir/ck")
    }
    writer.trigger(Trigger.ProcessingTime(0)).start()
  }

  /** Offers events created at `createdMs`; returns the source offset that
    * covers them. */
  def offer(payloads: Iterable[Array[Byte]], createdMs: Iterable[Long]): Long =
    mem.addData(payloads.iterator.zip(createdMs.iterator).toSeq).json().toLong

  def drain(): Unit = query.processAllAvailable()

  def stop(): Unit = query.stop()

  /** Completed data triggers, in batch order. */
  def triggers: Seq[Trig] = query.recentProgress.toSeq
    .filter(p => p.durationMs.containsKey("addBatch") && p.sources.nonEmpty)
    .map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Trig(p.batchId, start, start + d("triggerExecution"), p.numInputRows,
        p.sources.head.endOffset.toLong, d)
    }.sortBy(_.batchId)

  /** Bytes one trigger wrote to the store: its `batch=` directory, or its
    * `gen=` directory in every bucket. */
  def batchBytes(batchId: Long): Long = {
    val root = Paths.get(out)
    val dirs = sink match {
      case "append" => Seq(root.resolve(s"batch=$batchId"))
      case "upsert" =>
        val s = Files.list(root)
        try s.iterator().asScala.map(_.resolve(s"gen=$batchId")).toList finally s.close()
    }
    dirs.filter(Files.isDirectory(_)).map { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }.sum
  }

  def readStore(): DataFrame = sink match {
    case "append" => spark.read.parquet(out)
    case "upsert" => StreamPipeline.readUpserted(spark, out)
  }
}

object Pipe {
  private val ids = new AtomicInteger(1000)

  def customers(spark: SparkSession): DataFrame = DataGen.customersBatch(spark, Gen.Customers)
}
