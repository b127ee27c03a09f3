package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.functions.{OrderEventDecode, SeededUuid}
import graft.operators.Enrich
import graft.sources.Tables

/** The reference pipeline as Structured Streaming (SURVEY §3.2):
  * Kafka-protocol source (C1) → JSON decode (C2) → stream-static
  * broadcast join (C9) → projection (C8) → document-store-style sink
  * with generated ids, partitioned by customer (C6).
  *
  * Connector choice is isolated behind [[OrderSource]] because the
  * offline environment has no Event Hubs/Kafka broker: production uses
  * [[KafkaOrders]]; tests use [[FileOrders]]/[[RateOrders]] — the
  * downstream plan is byte-identical (stream/batch unification, the
  * same flow the reference tests with `sample-orders.json`,
  * `README.md:182`).
  *
  * No watermark and no state store anywhere in the core pipeline: a
  * stream-static join is unbounded-state-free, and the static side is
  * re-read every micro-batch — exactly ASA's periodically-refreshed
  * reference data semantics (`README.md:145-153`).
  */
object StreamPipeline {

  /** One stream source abstraction over the three input flavors. Each
    * yields an `orders` streaming DataFrame carrying at least the event
    * schema (orderID, customerID, amount); `FileOrders(quarantine =
    * true)` adds a `_corrupt` column for callers that route rejects to
    * a dead-letter sink BEFORE enrichment — the enrichment join itself
    * drops unparseable rows either way (null keys never match). */
  sealed trait OrderSource { def load(spark: SparkSession): DataFrame }

  /** C1: Event Hubs over the Kafka wire protocol (reference
    * `README.md:139-143`; SASL config is the deployment's concern).
    * Value bytes decode via [[decodeOrderBytes]] with the explicit
    * event schema — never schema inference on a stream. */
  final case class KafkaOrders(bootstrap: String, topic: String) extends OrderSource {
    def load(spark: SparkSession): DataFrame =
      decodeOrderBytes(
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", bootstrap)
          .option("subscribe", topic)
          .option("startingOffsets", "latest")
          .load())
  }

  /** C2 consume-side decode of the reference producer's wire format
    * (keyed binary JSON, `orders-generator/main.go:88-89,104-108`):
    * Kafka-shaped rows (`value: binary`, plus whatever metadata columns
    * the connector adds) → typed order events. Factored out of
    * [[KafkaOrders]] so the decode contract is spec-testable offline —
    * the container has no broker or Kafka jars, so this function IS the
    * part of the consume path that can regress silently.
    *
    * The result is exactly `from_json(value.cast("string"),
    * orderEventSchema)`, which stays the one definition of the
    * semantics. In front of it runs [[graft.functions.OrderEventDecode]],
    * a byte-level parse of the producer's canonical JSON that skips
    * Spark's per-row reader and Jackson setup. It accepts only a strict
    * subset — one object of the keys `orderID` (printable ASCII string,
    * no escapes), `customerID` and `amount` (integers
    * `-?(0|[1-9][0-9]{0,17})`), each at most once, with JSON whitespace
    * around tokens — and returns null for anything else (BOM, non-ASCII,
    * `null`, nested values, duplicate or unknown keys, leading zeros,
    * fractions, exponents, trailing bytes), which `coalesce` then hands
    * to `from_json`. Inside the subset both give the same struct. */
  def decodeOrderBytes(kafkaRows: DataFrame): DataFrame =
    kafkaRows
      .select(coalesce(
        OrderEventDecode.decode_order_event(col("value").cast("binary")),
        from_json(col("value").cast("string"), Tables.orderEventSchema)).as("o"))
      .select("o.*")

  /** C5 as a stream: JSON-lines files appearing in a directory — the
    * offline stand-in for the broker, and the replay path for any
    * landed raw data. Malformed events are quarantined into a
    * `_corrupt` column (PERMISSIVE mode) rather than failing the
    * query — at production scale a poison message must never stop the
    * pipeline; `quarantine=false` drops them silently. */
  final case class FileOrders(dir: String, quarantine: Boolean = false)
      extends OrderSource {
    def load(spark: SparkSession): DataFrame = {
      val schema =
        if (quarantine) Tables.orderEventSchema.add("_corrupt", "string")
        else Tables.orderEventSchema
      val raw = spark.readStream
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(dir)
      if (quarantine) raw
      else raw.filter(col("orderID").isNotNull)
        .select("orderID", "customerID", "amount")
    }
  }

  /** C15–C17: rate-source generator reproducing the reference
    * producer's distributions (`orders-generator/main.go:82-84`):
    * customerID uniform 1..10000, amount uniform 20..499, configurable
    * events/sec (the reference emits 1 every 3 s; load tests crank it). */
  final case class RateOrders(rowsPerSecond: Int = 1) extends OrderSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toString).load()
        .select(graft.gen.DataGen.orderColumns(col("value")): _*)
  }

  /** The flagship continuous query: decode → broadcast-enrich. */
  def enriched(spark: SparkSession, source: OrderSource, customers: DataFrame): DataFrame =
    Enrich.enrichReference(source.load(spark), customers)

  /** C6: document-store-style sink — per-row generated `id` (Cosmos
    * system `id`, reference `README.md:118`), physically clustered by
    * the partition key `/customer_id` (`README.md:129`). foreachBatch
    * gives upsert-shaped batch writes on any target; here parquet.
    * Each micro-batch writes its own `batch=<id>` directory with
    * overwrite semantics, so a batch REPLAYED after a failure (run
    * again before its checkpoint committed) overwrites its previous
    * attempt instead of appending duplicates — the idempotence that
    * makes foreachBatch exactly-once. `coalesceTo` caps files per
    * batch (tiny-file control at scale).
    *
    * No per-batch value may enter generated code: Spark caches compiled
    * classes by their source text, so a batch id or seed written into
    * the source compiles the whole stage again every trigger. `uuid()`
    * inlines its seed; [[graft.functions.SeededUuid]] draws the same v4
    * ids from a fresh per-batch seed passed through `references[]`, so
    * ids stay distinct across batches and the code is reused. */
  def writeEnriched(enriched: DataFrame, outDir: String, checkpointDir: String,
                    coalesceTo: Int = 4): DataStreamWriter[org.apache.spark.sql.Row] =
    enriched.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("id", SeededUuid.seeded_uuid(scala.util.Random.nextLong()))
          .repartition(coalesceTo, col("customer_id"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  /** C6 upsert flavor: TRUE merge-on-key semantics, mirroring the
    * reference sink's Cosmos upsert by partition key
    * (`README.md:107-131`) — a re-delivered or updated order REPLACES
    * its previous row instead of appending a duplicate.
    *
    * The store is key-bucketed: `outDir/bucket=<hash(key) mod
    * nBuckets>/gen=<batchId>`. Each bucket holds one BASE generation (a
    * full snapshot) and the DELTA generations written since (each the
    * newest row per key of the batches it covers); readers merge them
    * newest-wins ([[readUpserted]]). A trigger writes only its own rows
    * as deltas, and folds a bucket's deltas into a new base only once
    * they outweigh it, so the amortized write per input row is a small
    * constant however large the stored state grows ([[upsertBatch]]).
    * Replay-idempotent: a replayed batch skips every bucket it already
    * committed.
    *
    * Sizing: all touched buckets commit in one Spark job, so `nBuckets`
    * sets the files per trigger and the unit of compaction, not the
    * number of jobs; keep it O(cluster parallelism). */
  def upsertEnriched(enriched: DataFrame, outDir: String, checkpointDir: String,
                     keyCol: String = "order_id",
                     nBuckets: Int = 8): DataStreamWriter[org.apache.spark.sql.Row] =
    enriched.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, outDir, batchId, keyCol, nBuckets)
      }

  /** Marker written by the sink itself after a generation's parquet
    * write returns — NOT the committer's _SUCCESS, which a cluster may
    * disable (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`)
    * and whose absence would then silently hide every generation. Its
    * content describes the generation ([[Gen]]); it is written under a
    * temporary name and renamed, so a reader never sees half of it. */
  private val CommitMarker = "_graft_commit"

  /** A bucket keeps at most this many live deltas: one more is merged
    * with its newest peers (never into the base), see [[upsertBatch]]. */
  private[graft] val DeltaCap = 8

  /** One committed generation of a bucket, as its marker describes it.
    * A base is a full snapshot of the bucket. A delta holds the newest
    * row per key of batches `from`..`gen`; it supersedes any older delta
    * of that range. `rows` is unknown (None) only for the empty markers
    * of stores written before markers had content, which are bases. */
  private final case class Gen(gen: Long, base: Boolean, key: Option[String],
                               rows: Option[Long], from: Long) {
    def render: String =
      s"kind=${if (base) "base" else "delta"}\nkey=${key.get}\nrows=${rows.get}\nfrom=$from\n"
  }

  private def parseGen(gen: Long, text: String): Gen = {
    val kv = text.linesIterator.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    Gen(gen, !kv.get("kind").contains("delta"), kv.get("key"),
      kv.get("rows").map(_.toLong), kv.get("from").fold(gen)(_.toLong))
  }

  /** Every generation directory of a bucket: its number and its marker,
    * None when the write never committed (torn). */
  private def listGens(fs: FileSystem, bucketDir: Path): Seq[(Long, Option[Gen])] =
    if (!fs.exists(bucketDir)) Nil
    else fs.listStatus(bucketDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("gen="))
      .map { p =>
        val g = p.getName.stripPrefix("gen=").toLong
        val marker =
          try {
            val in = fs.open(new Path(p, CommitMarker))
            try Some(parseGen(g, new String(in.readAllBytes(), StandardCharsets.UTF_8)))
            finally in.close()
          } catch { case _: java.io.FileNotFoundException => None }
        g -> marker
      }

  /** The generations a reader merges, base first: from the newest
    * committed generation back, skipping every generation a merged delta
    * covers, down to the first base. */
  private def liveChain(committed: Seq[Gen]): List[Gen] = {
    @scala.annotation.tailrec
    def walk(rest: List[Gen], acc: List[Gen]): List[Gen] = rest match {
      case g :: older =>
        if (g.base) g :: acc else walk(older.dropWhile(_.gen >= g.from), g :: acc)
      case Nil => acc
    }
    walk(committed.sortBy(-_.gen).toList, Nil)
  }

  /** Rows of a written generation, from its parquet footers (no job). */
  private def parquetRows(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, fs.getConf))
        try r.getRecordCount finally r.close()
      }.sum

  /** One merge-on-key commit (the foreachBatch body, exposed for replay
    * tests). Work is O(batch), amortized:
    *
    *  - one `groupBy(bucket).count()` job finds the touched buckets;
    *  - a bucket whose `gen=batchId` is already committed is skipped: it
    *    is a replay of an applied batch, and foreachBatch re-delivers the
    *    same rows under the same id;
    *  - every other touched bucket writes `gen=batchId` as one of
    *    - a BASE — base, live deltas and batch merged — once
    *      `delta rows + batch rows >= base rows`. The base about doubles
    *      at each compaction, so base rewrites cost about 2 rows written
    *      per input row, on top of the row's own delta write;
    *    - a DELTA of the batch's newest row per key. A bucket already at
    *      [[DeltaCap]] deltas merges the batch with its newest delta and
    *      each next-older one no larger than the merge so far (size
    *      tiers, the logarithmic method): a merge never reads the base,
    *      so the cap costs O(log(base / batch)) rewrites per row, not
    *      O(state);
    *  - in-key ties resolve newest first, then by the full payload
    *    descending (deterministic under replay, unlike dropDuplicates);
    *  - ALL buckets go out in ONE write job, one file per
    *    bucket-generation, and the markers only after it returns: a
    *    mid-write crash leaves every written generation torn (invisible)
    *    and the replay overwrites it;
    *  - after the markers, each touched bucket deletes its torn
    *    generations and every generation its live chain no longer
    *    reaches (older bases, merged deltas), so the store holds about
    *    one copy of the data.
    *
    * Steady-state triggers reuse compiled code: Spark caches generated
    * classes by source text, and a long literal is inlined there, so
    * `batchId` must not appear as one. Fresh rows rank with a constant
    * above every stored generation, and the `gen` partition value is a
    * string literal, which generated code reads from `references[]`. */
  def upsertBatch(batch: DataFrame, outDir: String, batchId: Long,
                  keyCol: String = "order_id", nBuckets: Int = 8): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataCols = batch.columns
    // the partitioned layout claims these names; a silent collision
    // would duplicate columns at the write (or worse, partition on the
    // caller's data column)
    val reserved = Seq("bucket", "gen", "_bucket", "_pri", "_rn")
    // case-INsensitive: Spark resolves names case-insensitively by
    // default, so "Bucket" collides exactly like "bucket" would
    require(!dataCols.exists(c => reserved.exists(_.equalsIgnoreCase(c))),
      s"upsert batch columns ${dataCols.mkString(",")} collide with the " +
        s"sink's reserved names ${reserved.mkString(",")}")
    def bucketDir(b: Long) = new Path(s"$outDir/bucket=$b")
    def genDir(b: Long, g: Long) = new Path(s"$outDir/bucket=$b/gen=$g")
    val keyed = batch.withColumn("_bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
      .persist()
    try {
      // O(nBuckets) driver values, not data
      val counts = keyed.groupBy("_bucket").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val listed = counts.keys.map(b => b -> listGens(fs, bucketDir(b))).toMap
      // a bucket to write: the generations merged into its `out`, and
      // its live chain once `out` is committed
      final case class Plan(bucket: Long, merged: List[Gen], out: Gen, chain: List[Gen])
      val plans = counts.toSeq.sortBy(_._1).flatMap { case (b, n) =>
        val committed = listed(b).flatMap(_._2)
        if (committed.exists(_.gen == batchId)) None
        else {
          val chain = liveChain(committed.filter(_.gen < batchId))
          val (bases, deltas) = chain.partition(_.base)
          val baseRows = bases.map(g => g.rows.getOrElse(parquetRows(fs, genDir(b, g.gen)))).sum
          val sizes = deltas.map(_.rows.get)
          val isBase = sizes.sum + n >= baseRows
          val merged =
            if (isBase) chain
            else if (deltas.size < DeltaCap) Nil
            else {
              // size tiers: the newest delta, then each next-older one
              // no larger than the merge so far
              var i = deltas.size - 1
              var acc = n + sizes(i)
              while (i > 0 && sizes(i - 1) <= acc) { i -= 1; acc += sizes(i) }
              deltas.drop(i)
            }
          val from = if (isBase) batchId else merged.headOption.fold(batchId)(_.from)
          val out = Gen(batchId, isBase, Some(keyCol), None, from)
          Some(Plan(b, merged, out, chain.filterNot(merged.contains) :+ out))
        }
      }
      if (plans.nonEmpty) {
        // filter only when a bucket is skipped, so the bucket list
        // reaches generated code only on replays
        val written =
          if (plans.size == counts.size) keyed
          else keyed.filter(col("_bucket").isin(plans.map(_.bucket): _*))
        // every stored generation is older than batchId < Long.MaxValue
        val fresh = written.withColumn("_pri", lit(Long.MaxValue))
        val stored = plans.flatMap(p => p.merged.map(g => genDir(p.bucket, g.gen).toString))
        val rows = if (stored.isEmpty) fresh else fresh.unionByName(
          spark.read.option("basePath", outDir).parquet(stored: _*)
            .select(dataCols.map(col) :+ col("bucket").cast("long").as("_bucket")
              :+ col("gen").cast("long").as("_pri"): _*))
        // the bucket is a function of the key, so partitioning the window
        // by (bucket, key) keeps it on the bucket exchange: one shuffle,
        // and each task writes whole buckets
        val w = Window.partitionBy(col("_bucket"), col(keyCol))
          .orderBy(col("_pri").desc +: dataCols.filterNot(_ == keyCol)
            .map(c => col(c).desc): _*)
        rows.repartition(col("_bucket"))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(dataCols.map(col) :+ col("_bucket").as("bucket")
            :+ lit(batchId.toString).as("gen"): _*)
          .write.mode("overwrite")
          // truncate ONLY the (bucket, gen) partitions this job writes —
          // a replay overwrites its own torn generation; every other
          // generation is untouched
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket", "gen")
          .parquet(outDir)
        plans.foreach { p =>
          val dir = genDir(p.bucket, batchId)
          val tmp = new Path(dir, s"$CommitMarker.tmp")
          val os = fs.create(tmp, true)
          try os.write(p.out.copy(rows = Some(parquetRows(fs, dir))).render
            .getBytes(StandardCharsets.UTF_8))
          finally os.close()
          fs.rename(tmp, new Path(dir, CommitMarker))
        }
      }
      // retire, only after every marker is down: torn generations and
      // generations no live chain reaches. Skipped buckets retire too —
      // their first attempt may have crashed before this step.
      val after = plans.map(p => p.bucket -> p.chain).toMap
      counts.keys.foreach { b =>
        val keep = after.getOrElse(b, liveChain(listed(b).flatMap(_._2))).map(_.gen).toSet
        listed(b).map(_._1).filter(g => g < batchId && !keep(g))
          .foreach(g => fs.delete(genDir(b, g), true))
      }
    } finally keyed.unpersist()
  }

  /** Snapshot of the upserted store — one row per key: every bucket's
    * live chain ([[upsertBatch]]) merged newest-wins. Torn generations
    * (no marker) are skipped, so a reader racing a crashed writer sees
    * the previous consistent state.
    *
    * Cost: a store without live deltas is a plain scan of the bases.
    * Otherwise only the delta rows are shuffled (a window keeps each
    * key's newest), and the bases stream through a left-anti join
    * against a BROADCAST of the delta keys — the base is never
    * shuffled, so a read costs O(base) scan + O(deltas) shuffle. */
  def readUpserted(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chains =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("bucket="))
          .map(b => b -> liveChain(listGens(fs, b).flatMap(_._2)))
      else Nil
    def paths(base: Boolean) = chains.flatMap { case (b, chain) =>
      chain.filter(_.base == base).map(g => s"$b/gen=${g.gen}") }
    val (bases, deltas) = (paths(base = true), paths(base = false))
    // an uninitialized store (or one whose only write was torn) reads
    // as an empty frame, not an error — the previous consistent state
    if (bases.isEmpty && deltas.isEmpty) spark.emptyDataFrame
    else if (deltas.isEmpty) spark.read.parquet(bases: _*)
    else {
      val keyCol = chains.flatMap(_._2).filterNot(_.base).flatMap(_.key).head
      val d = spark.read.option("basePath", outDir).parquet(deltas: _*)
      val cols = d.columns.filterNot(c => c == "bucket" || c == "gen").map(col)
      val newest = d
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col(keyCol)).orderBy(col("gen").cast("long").desc)))
        .filter(col("_rn") === 1).select(cols: _*)
      // every chain ends in a base: a bucket's first write is one
      val base = spark.read.parquet(bases: _*)
      val keys = broadcast(d.select(col(keyCol).as("_k")))
      base.join(keys, base(keyCol) <=> keys("_k"), "left_anti")
        .select(cols: _*).unionByName(newest)
    }
  }

  /** C18: serialize enriched rows back to Kafka-shaped (key, value)
    * pairs — message key = order id, like the reference producer
    * (`main.go:88`). */
  def toKafkaPayload(enriched: DataFrame): DataFrame =
    enriched.select(
      col("order_id").cast("string").as("key"),
      to_json(struct(col("order_id"), col("customer_id"),
        col("customer_name"), col("city"), col("purchase_amount"))).as("value"))

  /** C7: console/log sink — the debug path mirroring the reference
    * generator's per-record logging (`main.go:93`). */
  def consoleSink(df: DataFrame, rows: Int = 20): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("console").option("numRows", rows.toString)
      .outputMode("append")

  /** X1 streaming dedup: exactly-once semantics on the event id within
    * the watermark horizon — state is bounded by the watermark, the
    * only safe configuration at 100 TB/day. */
  def dedupStream(orders: DataFrame, eventTimeCol: String, watermark: String): DataFrame =
    orders.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("orderID")

  /** X7 streaming incremental curation — the continuous flavor of
    * [[graft.operators.Curation.curate]], composed from the audited
    * pieces: exact fingerprint dedup across micro-batches
    * (`dropDuplicatesWithinWatermark` on `md5(text)` — state bounded
    * by the watermark horizon), then per-batch quality filtering +
    * static-benchmark decontamination + merge-on-key upsert inside
    * foreachBatch ([[curateBatch]]).
    *
    * Two deliberate semantic deltas from the batch pipeline, both
    * forced by unbounded input: the quality gate is an ABSOLUTE score
    * threshold (a per-language percentile is a corpus-wide window — on
    * a stream it would be a per-batch artifact that reshuffles the
    * kept set every trigger), and the store-level dedup key is the
    * content fingerprint with last-write-wins (a duplicate arriving
    * AFTER the watermark evicted its state replaces its prior row
    * instead of appending — the upsert sink is what extends dedup
    * beyond the state horizon). Replay idempotence comes from the
    * generation-versioned upsert sink (C6b).
    *
    * `docs` must carry (doc_id, text, ts) plus any payload; `bench`
    * is a STATIC (doc_id, text) frame of eval documents — it
    * broadcasts per batch, the reference-data pattern of the flagship
    * join. Near-dedup against the already-accepted corpus — the
    * cross-generation catch the exact fingerprint cannot make — comes
    * in two forms: `index`, a STATIC (doc_id, text) frame signed and
    * band-aggregated ONCE at stream construction (one generation for
    * the query's lifetime), or `rollingIndex`, a [[RollingBandIndex]]
    * whose current generation is read at every trigger — refresh it
    * with the accepted output and generation N's documents gate
    * generation N+1 without restarting the query. When both are given
    * the rolling index wins.
    *
    * `autoRefreshEvery` > 0 drives that refresh cadence AUTOMATICALLY:
    * every N committed batches, a foreachBatch EPILOGUE re-materializes
    * the rolling index from [[readUpserted]] — after the upsert, inside
    * the same trigger, so the new generation deterministically includes
    * every batch up to and including this one (a
    * `StreamingQueryListener` would be the async alternative, but its
    * onQueryProgress races the next trigger; the epilogue gives the
    * hard guarantee the gating story needs: with cadence 1, documents
    * accepted in batch N gate batch N+1, no manual refresh ever). */
  def curateStream(docs: DataFrame, outDir: String, checkpointDir: String,
                   bench: Option[DataFrame] = None,
                   minQuality: Double = 0.5,
                   watermark: String = "10 minutes",
                   nBuckets: Int = 8,
                   index: Option[DataFrame] = None,
                   rollingIndex: Option[RollingBandIndex] = None,
                   autoRefreshEvery: Int = 0,
                   spanIndex: Option[DataFrame] = None,
                   maxSpanFrac: Double = 0.5): DataStreamWriter[org.apache.spark.sql.Row] = {
    // static index: signed + band-aggregated ONCE at stream
    // construction (eager, lineage-free), so triggers join the
    // materialized bucket table instead of re-deriving shingle hashes,
    // signatures, band keys, and the bucket-min per micro-batch
    val staticIdx = index.map(i =>
      graft.operators.Dedup.bandIndex(i).localCheckpoint())
    // span gate: the stored distinct-span artifact is likewise
    // materialized once — each trigger probes it with the batch's
    // spans only (the x4_span_incremental nightly shape, live)
    val staticSpanIdx = spanIndex.map(i =>
      graft.operators.Dedup.spanIndex(i).localCheckpoint())
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // rolling wins over static: read the CURRENT generation at
        // each trigger, so a refresh() between triggers takes effect
        // without restarting the query
        curateBatch(batch, outDir, batchId, bench, minQuality, nBuckets,
          rollingIndex.map(_.current).orElse(staticIdx),
          staticSpanIdx, maxSpanFrac)
        // auto-refresh epilogue: runs AFTER this batch's upsert
        // committed, so the rolled generation contains it. batchId is
        // replay-stable, so the cadence is too. The snapshot of an
        // uninitialized store is an EMPTY schemaless frame — nothing to
        // index yet, skip (the live generation already gates nothing).
        if (autoRefreshEvery > 0 && rollingIndex.isDefined &&
            (batchId + 1) % autoRefreshEvery == 0) {
          val snap = readUpserted(batch.sparkSession, outDir)
          if (snap.columns.contains("text"))
            rollingIndex.get.refresh(snap.select(col("doc_id"), col("text")))
        }
      }
  }

  /** One micro-batch of the streaming curation (exposed for replay
    * tests): quality-score the batch, keep docs at or above the
    * absolute threshold, drop docs contaminated by the static
    * benchmark and docs near-duplicating the index generation, upsert
    * survivors on their content fingerprint. `bandIdx` is a
    * PRE-AGGREGATED [[graft.operators.Dedup.bandIndex]] frame —
    * [[curateStream]] materializes it once per generation, so only
    * the batch itself is signed here. */
  def curateBatch(batch: DataFrame, outDir: String, batchId: Long,
                  bench: Option[DataFrame] = None,
                  minQuality: Double = 0.5, nBuckets: Int = 8,
                  bandIdx: Option[DataFrame] = None,
                  spanIdx: Option[DataFrame] = None,
                  maxSpanFrac: Double = 0.5): Unit = {
    val extras = batch.columns.filterNot(_ == "doc_id").toSeq
    val scored = graft.operators.TextAnalysis
      .qualityScore(batch, extraCols = extras)
      .filter(col("quality") >= minQuality)
    val clean = bench match {
      case Some(b) =>
        val flagged = graft.operators.Dedup
          .decontaminateAgainst(scored, b).select("doc_id").distinct()
        scored.join(flagged, Seq("doc_id"), "left_anti")
      case None => scored
    }
    val novel = bandIdx match {
      case Some(idx) =>
        val near = graft.operators.Dedup
          .nearDupAgainstBandIndex(clean, idx).select("doc_id")
        clean.join(near, Seq("doc_id"), "left_anti")
      case None => clean
    }
    // verbatim-span gate against the STORED span index (the rounded
    // fraction compares, house rule) — the boilerplate catch the
    // whole-doc band gate cannot make when a doc is byte-distinct but
    // mostly recycled spans
    val fresh = spanIdx match {
      case Some(idx) =>
        val spanHit = graft.operators.Dedup
          .spansAgainstIndex(novel, idx)
          .filter(col("index_frac") > maxSpanFrac).select("doc_id")
        novel.join(spanHit, Seq("doc_id"), "left_anti")
      case None => novel
    }
    upsertBatch(fresh, outDir, batchId, keyCol = "fp", nBuckets = nBuckets)
  }

  /** X5 streaming MEDIA ingestion gate — [[curateStream]]'s rolling
    * near-dup discipline for the VECTOR modality: each micro-batch of
    * assets is embedded (batch-side only), exact-deduped on the
    * content fingerprint within the watermark, then probed against the
    * live generation of a [[RollingVectorIndex]] — the pre-built wide
    * centered bucket table of the accepted collection — and survivors
    * upsert. The index side is NEVER re-embedded or re-hashed inside a
    * trigger; the per-batch cost is O(batch) embed + bucketize plus
    * the O(candidates) scoring join, the `x5_mm_incremental` nightly
    * shape live.
    *
    * `autoRefreshEvery` > 0 re-rolls the generation from the upserted
    * output inside the same foreachBatch epilogue `curateStream` uses
    * (after the upsert commits, so the new generation deterministically
    * contains this batch): with cadence 1, assets accepted in batch N
    * gate batch N+1 — no manual refresh, no query restart. The
    * re-encoded/re-compressed asset (bytes differ, embedding at cosine
    * ≈ 1) is exactly what the exact fingerprint gate upstream cannot
    * catch. */
  def mediaDedupStream(assets: DataFrame, outDir: String, checkpointDir: String,
                       rollingIndex: RollingVectorIndex,
                       tau: Double = 0.995,
                       watermark: String = "10 minutes",
                       nBuckets: Int = 8,
                       autoRefreshEvery: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] =
    assets
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one volatile read hands out BOTH generation frames, so
        // candidates and scores stay within one generation even if a
        // refresh lands mid-batch
        val (idxBuckets, idxVectors) = rollingIndex.current
        val vecs = graft.operators.Multimodal.mediaEmbedding(batch)
        val near = graft.operators.Similarity
          .lshDedupAgainstStoredBuckets(vecs, idxBuckets, idxVectors, tau)
          .select(col("vec_id").as("doc_id"))
        val fresh = batch.join(near, Seq("doc_id"), "left_anti")
        upsertBatch(fresh, outDir, batchId, keyCol = "fp", nBuckets = nBuckets)
        if (autoRefreshEvery > 0 && (batchId + 1) % autoRefreshEvery == 0) {
          val snap = readUpserted(batch.sparkSession, outDir)
          if (snap.columns.contains("text"))
            rollingIndex.refresh(graft.operators.Multimodal.mediaEmbedding(
              snap.select(col("doc_id"), col("text"))))
        }
      }

  /** X6 streaming Count-Min sketch: the counter grid maintained
    * incrementally over a document stream — CMS counters are plain
    * sums, so the streaming aggregation state IS the sketch and
    * update-mode emits revised counter rows per trigger. One-level
    * aggregation (each token occurrence feeds its `depth` buckets
    * directly — streaming forbids the batch build's aggregate-then-
    * hash two-phase, and the counters are identical either way);
    * state is bounded at `depth`×`width` rows forever, the whole
    * point of sketching an unbounded stream. Works on a batch frame
    * too (spec pins stream-final ≡ [[graft.operators.Profiling.cmsSketch]]
    * of the union). */
  def cmsSketchStream(docs: DataFrame, depth: Int = 4,
                      width: Int = 512): DataFrame =
    graft.operators.Profiling.cmsProbes(
      docs.select(explode(split(col("text"), " ")).as("token")), depth, width)
      .groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("c"))

  /** X6 streaming histogram sketch — [[graft.operators.Profiling
    * .histSketch]]'s bucket counters maintained incrementally over an
    * event stream: the aggregation state IS the quantile sketch,
    * bounded at O(types · range/width) rows forever; any later
    * quantile probe reads the sink table through
    * [[graft.operators.Profiling.histQuantilesFrom]] with no event
    * replay (spec pins stream-final ≡ batch sketch of the union). */
  def histSketchStream(events: DataFrame, width: Double = 5.0): DataFrame =
    events
      .select(col("event_type"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** [[histSketchStream]] at (type, DAY, bucket) grain — the state IS
    * the daily-sketch table [[graft.operators.Profiling
    * .histRollingFromDaily]] serves rolling quantiles from: the
    * stream maintains O(days · types · range/width) counters and the
    * rolling read never replays events (spec pins sink-served rolling
    * ≡ batch [[graft.operators.Profiling.histRolling]]). */
  def histDailyStream(events: DataFrame, width: Double = 5.0): DataFrame =
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** X6 streaming daily-count maintainer for the dow-seasonality
    * family — the (event_type, day) counts [[graft.operators.Windows
    * .dowBaselineFromDaily]] folds into the weekday moment baseline:
    * the aggregation state is O(types · days) rows forever, the
    * baseline fold and [[graft.operators.Windows.dowAnomalyAgainst]]
    * scoring read the SINK table with no event replay (spec pins
    * store-served baseline + scores ≡ batch, through the physical
    * `graft_orders` complete-mode epoch-replace sink — the nightly
    * artifact shape). */
  def dowDailyStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))

  /** X6 streaming A/B moment maintainer — the per-(event_type,
    * variant) exact centi-quantized counters [[graft.operators
    * .Windows.abTestFromMoments]] reads: the aggregation state is
    * O(types · 2) rows forever (counts and integer sums just add —
    * the mergeable-moment property the batch operator documents), so
    * the experimentation readout is served from the SINK table with
    * no event replay (spec pins store-served ≡ batch through the
    * physical `graft_orders` complete-mode sink). */
  def abMomentsStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        // the house md5-hash60 arm assignment — change together with
        // Windows.abMoments and the x6_ab_test oracle
        (conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2).as("variant"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))

  /** X6 streaming: tumbling event-time windows with watermarked late
    * data drop. Same expressions as the batch Windows.tumbling. */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     width: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** X6 streaming active users: tumbling event-time windows with an
    * APPROXIMATE distinct count (HLL++). Exact `count(distinct)` is
    * not supported under streaming aggregation (it would hold one
    * unbounded value set per window); `approx_count_distinct` keeps a
    * constant-size mergeable sketch per window — the form the batch
    * [[graft.operators.Windows.activeUsers]] documents as its 100 TB
    * swap-in. At rsd 1% the sketch answers exactly for small
    * cardinalities (sparse mode), so batch and stream agree on test
    * corpora while the stream stays bounded at any scale. */
  def activeUsersStream(events: DataFrame, watermark: String = "10 minutes",
                        width: String = "1 hour", rsd: Double = 0.01): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("ws_us"),
        col("n_users"), col("n_events"))

  /** X6 streaming HyperLogLog distinct users per day — the streaming
    * form of [[graft.operators.Profiling.hllUsers]], and the proof of
    * that sketch's design claim: registers MERGE, so continuous
    * ingestion is just per-key max-folding. State per day key is the
    * 64-register int array (constant size, no user set anywhere), via
    * `flatMapGroupsWithState` — chained streaming aggregations
    * (register max, then harmonic sum) would need two stateful aggs,
    * which structured streaming rejects; one custom-state operator
    * holds the registers and re-emits the day's refreshed estimate
    * each batch (Update mode).
    *
    * The hash/rho/estimate arithmetic is IDENTICAL to the batch
    * operator (hash and rho computed in the plan with the same column
    * expressions; the estimate re-derived in Scala with the same
    * operand order and HALF_UP 4-digit rounding), pinned by
    * StreamingSpec: after processAllAvailable the last emitted row per
    * day equals the batch operator's `(day, hll_users)` exactly.
    *
    * No timeout: day keys are naturally bounded (one per day of event
    * time) and a sketch row is the thing you KEEP; a retention window
    * would evict days past it with the [[milestoneAlerts]] timer
    * discipline. */
  def hllUsersStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val hashed = events.select(
      expr("unix_micros(ts) div 86400000000").as("day"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % lit(2147483647L)).as("h"))
      .select(col("day"),
        col("h").bitwiseAND(lit(63L)).cast("int").as("j"),
        when(shiftright(col("h"), 6) === 0, lit(26))
          .otherwise(lit(26) - length(bin(shiftright(col("h"), 6))))
          .cast("int").as("rho"))
      .as[(Long, Int, Int)]
    hashed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (day: Long, it: Iterator[(Long, Int, Int)],
       state: GroupState[(Array[Int], Long)]) =>
        var (regs, n) = state.getOption.getOrElse((new Array[Int](64), 0L))
        it.foreach { case (_, j, rho) =>
          n += 1
          if (rho > regs(j)) regs(j) = rho
        }
        state.update((regs, n))
        var z = 0L; var v = 0
        var i = 0
        while (i < 64) {
          z += 1L << (26 - regs(i))
          if (regs(i) == 0) v += 1
          i += 1
        }
        // same operand order as the batch estimate expression
        val raw = 0.709 * 64.0 * 64.0 * 67108864.0 / z.toDouble
        val est = if (v > 0 && raw <= 160.0) 64.0 * math.log(64.0 / v) else raw
        val rounded = BigDecimal(est)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        Iterator.single((day, n, rounded))
    }.toDF("day", "n_events", "hll_users")
  }

  /** X6 streaming KMV audience signature — the streaming form of
    * [[graft.operators.Profiling.kmvSignatures]], proving the OTHER
    * sketch of the family merges too: the k smallest distinct user
    * hashes of a day are exactly maintainable under continuous
    * ingestion because kmin_k(A ∪ B) = kmin_k(kmin_k(A) ∪ B) — fold
    * each micro-batch's hashes into the stored k-set and the state
    * never exceeds k longs per day key. Same
    * `flatMapGroupsWithState` shape as [[hllUsersStream]] (one
    * custom-state operator instead of a rejected chain of stateful
    * aggs); each batch re-emits the day's refreshed signature as a
    * SORTED array (Update mode), so the latest row per day IS the
    * batch operator's signature set — StreamingSpec pins that
    * equality after multi-batch ingestion, and
    * [[graft.operators.Profiling.audienceOverlap]]'s pairwise
    * estimator can run directly on the emitted signature table
    * without touching raw events (the x6_hll_serve discipline).
    *
    * Hash arithmetic identical to the batch sketch (house md5-derived
    * 31-bit hash, computed in the plan with the same column
    * expressions). No timeout: day keys are bounded by event time and
    * a signature is the thing you keep. */
  def audienceKmvStream(events: DataFrame, k: Int = 32): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val hashed = events.select(
      expr("unix_micros(ts) div 86400000000").as("day"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % lit(2147483647L)).as("h"))
      .as[(Long, Long)]
    hashed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (day: Long, it: Iterator[(Long, Long)],
       state: GroupState[Array[Long]]) =>
        val cur = scala.collection.mutable.SortedSet.empty[Long]
        state.getOption.foreach(cur ++= _)
        it.foreach { case (_, h) =>
          // distinctness is the SortedSet's; the contains guard keeps a
          // re-seen hash from evicting the k-th value, and the size
          // guard keeps the fold O(log k) per event with no post-hoc trim
          if (cur.size < k) cur += h
          else if (h < cur.last && !cur.contains(h)) { cur += h; cur -= cur.last }
        }
        val arr = cur.toArray
        state.update(arr)
        Iterator.single((day, arr.toSeq))
    }.toDF("day", "sig")
  }

  /** X6 streaming BOT-SCORE — the continuous form of
    * [[graft.operators.Profiling.botScore]]: the per-user
    * sufficient statistics (per-type event counts, distinct active
    * days) fold into `flatMapGroupsWithState` state, and every batch
    * re-emits the user's refreshed score row, so the traffic-quality
    * gate runs live instead of nightly — a scripted client is flagged
    * within a micro-batch of crossing the rate/entropy bars. State
    * per user is O(types + days) smallints, both naturally bounded
    * (event-type vocabulary; calendar days). Score arithmetic is the
    * batch operator's verbatim: integer micro-nat entropy
    * (`k·floor(ln k·1e6 + 0.5)` folded exactly, one final division),
    * HALF_UP rounding to the same scales, so StreamingSpec pins the
    * final emission per user ≡ [[graft.operators.Profiling.botScore]]
    * on the same rows. No timeout: the profile is the thing you keep
    * (a retention window would use the [[milestoneAlerts]] timer
    * discipline). */
  def botScoreStream(events: DataFrame, minEventsPerDay: Double = 2.5,
                     maxEntropy: Double = 1.58): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("user_id"),
      col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .as[(Long, String, Long)]
    slim.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (user: Long, it: Iterator[(Long, String, Long)],
       state: GroupState[(Map[String, Long], Seq[Long])]) =>
        var (types, days) = state.getOption.getOrElse((Map.empty[String, Long], Seq.empty[Long]))
        val daySet = scala.collection.mutable.SortedSet.empty[Long] ++ days
        it.foreach { case (_, tpe, day) =>
          types = types.updated(tpe, types.getOrElse(tpe, 0L) + 1L)
          daySet += day
        }
        state.update((types, daySet.toSeq))
        def lp6(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
        val n = types.valuesIterator.sum
        val s = types.valuesIterator.map(k => k * lp6(k.toDouble)).sum
        def r(x: Double, scale: Int): Double =
          BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
        val entropy = r((lp6(n.toDouble) * n - s).toDouble / (n.toDouble * 1e6), 6)
        val perDay = r(n.toDouble / daySet.size.toDouble, 4)
        Iterator.single((user, n, daySet.size.toLong, types.size.toLong,
          perDay, entropy, perDay > minEventsPerDay && entropy < maxEntropy))
    }.toDF("user_id", "n_events", "n_days", "n_types",
      "events_per_day", "type_entropy", "bot_flag")
  }

  /** X6 STREAMING SESSION-COVISIT maintainer — the continuous form of
    * [[graft.operators.Windows.covisitSessionPairs]]: per-user custom
    * state (`flatMapGroupsWithState`, Update mode) holds the batch
    * sessionizer's sufficient statistics — the last event time (the
    * gap rule's cursor), the OPEN session's item→count map (bounded by
    * the session's distinct items, what the batch build would hold for
    * the same rows), and the user's closed-session pair counters (the
    * same O(pairs-per-user) the batch pair table stores). Each batch
    * folds the user's events in (ts, event_id) order — the batch
    * gaps-and-islands order — closing a session exactly when the
    * strict `gap > gapMinutes` rule fires; a closing session's
    * top-`capPerSession` items (count desc, item tie-break — the
    * cap-before-pairing discipline) pair once into the closed
    * counters.
    *
    * After folding, the user emits only the keys whose STORED value
    * changed this batch (round-19 advice — the full-cumulative-table
    * re-emission made upsert write volume per batch grow with the
    * user's lifetime pair count): a key's stored value is
    * closed(k) + [k ∈ provisional], so the changed set is exactly the
    * keys a closing session touched plus the provisional symmetric
    * difference (both O(C(cap,2)) per batch, independent of history).
    * The open session's provisional contribution is recomputed every
    * batch, never accumulated, so re-ranking as counts grow cannot
    * double-count; a provisional pair that drops out of the cap
    * re-emits as an explicit ZERO row (the state tracks the
    * previously-emitted provisional keys, ≤ C(cap,2) of them) so the
    * keyed store never holds a stale nonzero. Rows carry a composite
    * `pair_key` for the merge-on-key
    * store ([[upsertEnriched]]/[[upsertBatch]] with
    * `keyCol = "pair_key"`): per-user pair tables are USER-DISJOINT
    * shards by construction, so the served shelf folds the store by
    * plain addition with the threshold after
    * ([[graft.operators.Windows.covisitSessionMerge]]'s law) and
    * equals the batch build exactly — StreamingSpec pins shelf and
    * pair counts through the physical upsert store.
    *
    * Same in-order contract as [[funnelStream]]: each batch sorts its
    * group before folding, so within-batch progression is exact; a
    * late cross-batch event folds from the state it finds, and the
    * batch build is the retrospective truth. Complete mode is not an
    * option here (flatMapGroupsWithState forbids it), which is why
    * this maintainer upserts per-key rows instead of epoch-replacing
    * a snapshot like [[histDailyStream]]. No timeout: the pair
    * counters are the thing you keep — state per user is bounded at
    * the gap cursor + the open session's item counts + ≤ C(cap,2)
    * closed counters per DISTINCT capped pair the user ever formed +
    * ≤ C(cap,2) provisional keys. The distinct-pair term grows with
    * user lifetime; a long-lived deployment bounds it by retiring
    * dormant users — a PROCESSING-time timeout that drops the user's
    * state AFTER re-keying its stored rows under a retirement
    * generation (e.g. `gen:user:a|b`), so a returning user's fresh
    * counters upsert under the live key and can never overwrite the
    * retired totals; generations are disjoint shards, so the merge
    * law folds them by the same addition. Never an event-time timeout
    * armed off the initial zero watermark (the 1970 trap). */
  def covisitSessionStream(events: DataFrame, gapMinutes: Int = 5,
                           capPerSession: Int = 20): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val extracted = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    // item = -1 marks a non-item event: it advances the gap cursor
    // (non-item events glue a session together, the batch rule) but
    // never enters the item counts
    val slim = events.select(col("user_id"),
        expr("unix_micros(ts)").as("us"), col("event_id"),
        coalesce(when(length(extracted) > 0, extracted.cast("long")),
          lit(-1L)).as("item"))
      .as[(Long, Long, Long, Long)]
    slim.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (user: Long, it: Iterator[(Long, Long, Long, Long)],
       state: GroupState[(Long, Map[Long, Long], Map[String, Long], Seq[String])]) =>
        var (lastUs, open, closed, prevProv) = state.getOption.getOrElse(
          (Long.MinValue, Map.empty[Long, Long], Map.empty[String, Long],
            Seq.empty[String]))
        // the closing session's canonical pairs: top-cap items by
        // (count desc, item), all a < b — the batch cap-before-pairing
        def sessionPairs(items: Map[Long, Long]): Seq[String] = {
          val top = items.toSeq.sortBy { case (item, cnt) => (-cnt, item) }
            .take(capPerSession).map(_._1).sorted
          for { i <- top.indices; j <- (i + 1) until top.length }
            yield s"${top(i)}|${top(j)}"
        }
        // keys whose CLOSED counter moved this batch — with the
        // provisional symmetric difference below, exactly the keys
        // whose stored value (closed + [k ∈ prov]) can have changed
        val touched = scala.collection.mutable.Set.empty[String]
        it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, us, _, item) =>
          if (lastUs != Long.MinValue && us - lastUs > gapUs) {
            sessionPairs(open).foreach { k =>
              closed = closed.updated(k, closed.getOrElse(k, 0L) + 1L)
              touched += k
            }
            open = Map.empty
          }
          lastUs = us
          if (item >= 0L) open = open.updated(item, open.getOrElse(item, 0L) + 1L)
        }
        val prov = sessionPairs(open)
        state.update((lastUs, open, closed, prov))
        val provSet = prov.toSet
        val changed = touched ++ (provSet diff prevProv.toSet) ++
          (prevProv.toSet diff provSet)
        def row(k: String, n: Long): (Long, String, Long, Long, Long) = {
          val Array(a, b) = k.split('|')
          (user, s"$user:$k", a.toLong, b.toLong, n)
        }
        changed.iterator.map { k =>
          row(k, closed.getOrElse(k, 0L) + (if (provSet(k)) 1L else 0L))
        }
    }.toDF("user_id", "pair_key", "item_a", "item_b", "n_sessions")
  }

  /** X6 STREAMING LIFETIME-COVISIT maintainer — the continuous form of
    * [[graft.operators.Windows.covisitPairs]], one grain up from
    * [[covisitSessionStream]]: at the lifetime grain each user
    * contributes an INDICATOR (0/1) per pair of its top-`capPerUser`
    * items, so the per-user state is the batch ranker's sufficient
    * statistic — the full item→count map (ranking is by LIFETIME
    * interaction counts; an item outside today's top cap can re-enter
    * it later, so the map cannot be truncated without changing the
    * batch semantics) plus the currently-asserted pair keys
    * (≤ C(cap,2)). Counts are fold-order-independent, so unlike the
    * session maintainer no per-batch sort is needed and late events
    * are handled exactly, not best-effort.
    *
    * Emission is delta-only from birth ([[covisitSessionStream]]'s
    * round-19 discipline): a pair entering the capped set upserts 1,
    * a pair re-ranked out of it tombstones to 0, an unchanged pair
    * writes nothing — per-batch write volume is bounded by the cap
    * churn, never by history. Per-user rows are user-disjoint shards,
    * so the served shelf folds the store by
    * [[graft.operators.Windows.covisitMerge]]'s law (addition, support
    * threshold after) and equals the batch [[graft.operators.Windows
    * .covisit]] exactly — StreamingSpec pins shelf and pair counts
    * through the physical upsert store. State growth and dormant-user
    * retirement follow [[covisitSessionStream]]'s note (re-key stored
    * rows under a retirement generation BEFORE dropping state; the
    * indicator is per-generation and generations add). */
  def covisitStream(events: DataFrame, capPerUser: Int = 20): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val extracted = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    val slim = events.select(col("user_id"),
        when(length(extracted) > 0, extracted.cast("long")).as("item"))
      .filter(col("item").isNotNull)
      .as[(Long, Long)]
    slim.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (user: Long, it: Iterator[(Long, Long)],
       state: GroupState[(Map[Long, Long], Seq[String])]) =>
        var (counts, prevPairs) = state.getOption.getOrElse(
          (Map.empty[Long, Long], Seq.empty[String]))
        it.foreach { case (_, item) =>
          counts = counts.updated(item, counts.getOrElse(item, 0L) + 1L)
        }
        // the batch cap-before-pairing rule verbatim: top-cap items by
        // (lifetime count desc, item), canonical a < b pairs
        val top = counts.toSeq.sortBy { case (item, cnt) => (-cnt, item) }
          .take(capPerUser).map(_._1).sorted
        val pairSet = (for { i <- top.indices; j <- (i + 1) until top.length }
          yield s"${top(i)}|${top(j)}").toSet
        val prevSet = prevPairs.toSet
        state.update((counts, pairSet.toSeq))
        def row(k: String, n: Long): (Long, String, Long, Long, Long) = {
          val Array(a, b) = k.split('|')
          (user, s"$user:$k", a.toLong, b.toLong, n)
        }
        (pairSet diff prevSet).iterator.map(row(_, 1L)) ++
          (prevSet diff pairSet).iterator.map(row(_, 0L))
    }.toDF("user_id", "pair_key", "item_a", "item_b", "n_users")
  }

  /** X6 STREAMING ANOMALY SCORER — [[graft.operators.Windows
    * .rateAnomalyAgainst]] running ON the stream: hourly per-type
    * counts score against the STORED moment baseline and the alarm
    * fires in the micro-batch that crosses the bar, not in tomorrow's
    * batch job. The baseline join happens BEFORE the windowed
    * aggregation (a stateless stream-static broadcast probe — joins
    * after a streaming aggregation are a rejected plan shape), with
    * the O(1)-per-type moments riding through the aggregation as
    * `max` (they are functionally dependent on the grouping key).
    * Same exact-integer z arithmetic as the batch scorer; types
    * absent from the baseline drop (inner join — unknown types are
    * schema events, not rate anomalies). State is the windowed-count
    * aggregation's, bounded by the watermark. */
  def anomalyStream(events: DataFrame, baseline: DataFrame,
                    watermark: String = "10 minutes",
                    threshold: Double = 2.0): DataFrame =
    events.withWatermark("ts", watermark)
      .join(broadcast(baseline), Seq("event_type"))
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), max(col("c")).as("c"),
        max(col("s")).as("s"), max(col("q")).as("q"))
      .filter(col("q") * col("c") - col("s") * col("s") > 0)
      .withColumn("z", round((col("n") * col("c") - col("s")).cast("double") /
        sqrt((col("q") * col("c") - col("s") * col("s")).cast("double")), 4))
      .filter(abs(col("z")) >= threshold)
      .select(col("event_type"), unix_micros(col("w.start")).as("ws_us"),
        col("n"), col("z"))

  /** X6 streaming session windows (native session_window operator). */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes",
                    gap: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** X6 streaming stream-stream interval join: each click pairs with
    * the same user's views from the preceding `horizon` — the
    * attribution join, with BOTH sides live streams (the flagship C9
    * join is stream-static and stateless; this one buffers). State is
    * bounded on both sides by the watermarks plus the join's time
    * range: Spark derives how long a buffered view can still match
    * (click.ts ∈ [view.ts, view.ts + horizon]) and evicts past it —
    * the only state discipline that survives 100 TB/day. Append-mode
    * output: a pair emits once both watermarks pass it. */
  def streamStreamAttribution(views: DataFrame, clicks: DataFrame,
                              watermark: String = "10 minutes",
                              horizon: String = "5 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    c.join(v,
      col("c_user") === col("v_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  /** X6 stream-stream LEFT OUTER attribution — the companion of the
    * inner join above that answers "which views NEVER converted": every
    * view pairs with same-user clicks in its following `horizon`; a
    * view with no click emits ONCE with null click columns, and only
    * after the watermark passes its join window — the moment "no click
    * yet" provably becomes "no click ever". That emission timing is
    * the essence of outer-join semantics under unbounded input: it
    * needs the watermark, not a timer, and both sides' state stays
    * bounded by watermark + horizon exactly as in the inner form. */
  def streamStreamAttributionOuter(views: DataFrame, clicks: DataFrame,
                                   watermark: String = "10 minutes",
                                   horizon: String = "5 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    v.join(c,
        col("c_user") === col("v_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"),
        "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("v_ts"), col("c_ts"))
  }

  /** X6 custom streaming state (flatMapGroupsWithState): per-user
    * running counters that EMIT ONLY ON CHANGE-OF-BEHAVIOR — here, a
    * row whenever a user's cumulative value crosses another multiple
    * of `threshold` (the "milestone alerts" shape: fraud scoring,
    * quota enforcement, lifetime-value tiers — none expressible as a
    * windowed aggregate because state never resets).
    *
    * State per key is two longs (count, cumulative value), the
    * smallest possible footprint, and is dropped after `timeout` of
    * event-time silence via watermark timeouts — unbounded key
    * populations (user ids at 100 TB) MUST have a state eviction
    * policy or the store grows forever. */
  def milestoneAlerts(events: DataFrame, threshold: Double = 100.0,
                      watermark: String = "10 minutes",
                      timeoutMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value")).as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
       state: GroupState[(Long, Double, Long)]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          // maxTs is PERSISTED: a batch of only late events must not
          // shrink the timer below the key's newest-ever event time,
          // or other keys advancing the watermark would evict a key
          // whose newest data is still ahead of it
          var (n, cum, maxTs) = state.getOption.getOrElse((0L, 0.0, 0L))
          val out = Iterator.newBuilder[(Long, Long, Double, Long)]
          // WITHIN-batch arrival order is not event-time order; sort
          // the batch so milestones attribute to the right running
          // prefix. ACROSS batches the fold order is batch order: a
          // late event (later batch, still inside the watermark) folds
          // in after larger-timestamp events, so attribution is exact
          // per batch but batch-boundary-dependent for late data —
          // full event-time ordering would mean buffering to the
          // watermark horizon (use the windowed aggregates for that)
          it.toSeq.sortBy(e => (e._2.getTime, e._3)).foreach { e =>
            val before = (cum / threshold).toLong
            n += 1; cum += e._3
            val after = (cum / threshold).toLong
            maxTs = math.max(maxTs, e._2.getTime)
            if (after > before) out += ((user, n, cum, after))
          }
          state.update((n, cum, maxTs))
          // arm relative to max(watermark, this key's newest event):
          // first batches run with watermark 0 (epoch), where a
          // watermark-only base creates an already-expired 1970 timer
          // that silently evicts live state on the next batch — while
          // skipping the arm entirely would leave keys seen only
          // before the first watermark update immortal
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs(), maxTs) + timeoutMs)
          out.result()
        }
    }.toDF("user_id", "n_events", "cum_value", "milestone")
  }

  /** X6 streaming funnel — the continuous counterpart of
    * [[graft.operators.Windows.funnel]]: emit one row per user the
    * moment their strictly event-time-ordered stage1 → stage2 → stage3
    * chain COMPLETES (the conversion alert a batch funnel can only
    * deliver at the next build). State per user is three stage
    * timestamps plus the newest-event timer base — constant size, no
    * event buffering — and is evicted after `timeoutMs` of event-time
    * silence (unbounded user populations MUST evict, same policy as
    * [[milestoneAlerts]]).
    *
    * Same greedy-earliest semantics as the batch operator on
    * in-order data: each batch is sorted by event time before folding,
    * so stage progression inside a batch is exact; a LATE cross-batch
    * event can only advance the funnel from the state it finds (a view
    * arriving after its click's batch does not retro-activate that
    * click) — the watermark bounds how long that asymmetry can matter,
    * and the batch funnel is the retrospective truth. */
  def funnelStream(events: DataFrame,
                   stages: Seq[String] = Seq("view", "click", "purchase"),
                   watermark: String = "10 minutes",
                   timeoutMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.length == 3, "funnel is three-stage")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, it: Iterator[(Long, java.sql.Timestamp, String)],
       state: GroupState[(Long, Long, Long, Long)]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          // (t1, t2, t3) in epoch-µs, 0 = stage not reached; maxTs
          // persists for the same timer reasons as milestoneAlerts
          var (t1, t2, t3, maxTs) = state.getOption.getOrElse((0L, 0L, 0L, 0L))
          val out = Iterator.newBuilder[(Long, Long, Long, Long)]
          // exact epoch-µs, NOT getTime*1000: getTime truncates to ms,
          // so two stage events inside the same millisecond would both
          // land on the same µs value and fail the strict us > t1 /
          // us > t2 guards — conversions the batch funnel (which folds
          // over the events table's true µs timestamps) does report.
          // getNanos carries the full sub-second part; getTime/1000
          // carries the whole seconds.
          def micros(ts: java.sql.Timestamp): Long =
            math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          it.toSeq.sortBy(e => (micros(e._2), e._3)).foreach { e =>
            val us = micros(e._2)
            maxTs = math.max(maxTs, e._2.getTime)
            if (t3 == 0L) {
              if (e._3 == stages(0) && t1 == 0L) t1 = us
              else if (e._3 == stages(1) && t1 != 0L && t2 == 0L && us > t1) t2 = us
              else if (e._3 == stages(2) && t2 != 0L && us > t2) {
                t3 = us
                out += ((user, t1, t2, t3))
              }
            }
          }
          state.update((t1, t2, t3, maxTs))
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs(), maxTs) + timeoutMs)
          out.result()
        }
    }.toDF("user_id", "t1_us", "t2_us", "t3_us")
  }

  /** Convenience: start the full pipeline end-to-end. */
  def run(spark: SparkSession, source: OrderSource, customers: DataFrame,
          outDir: String, checkpointDir: String,
          trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    writeEnriched(enriched(spark, source, customers), outDir, checkpointDir)
      .trigger(trigger).start()
}
