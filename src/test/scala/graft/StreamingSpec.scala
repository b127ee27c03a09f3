package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.parquet.column.Encoding
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.metadata.CompressionCodecName.{SNAPPY, ZSTD}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.StreamPipeline
import graft.functions.{OrderEventDecode, SeededUuid}
import graft.operators.{Profiling, Windows}
import graft.gen.DataGen
import graft.SparkTestBase.withConfs
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

case class OrderEvent(orderID: String, customerID: Long, amount: Long)
case class DocEvent(doc_id: Long, text: String, lang: String,
                    source: String, ts: Timestamp)
case class UserEvent(event_id: Long, ts: Timestamp, user_id: Long,
                     event_type: String, value: Double)
/** One column chunk of a parquet file, read from its footer. */
case class Chunk(column: String, codec: CompressionCodecName, dict: Boolean,
                 encodings: Set[Encoding], v2: Boolean)
case class PropsEvent(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double, props: String)

/** End-to-end Structured Streaming tests: the reference pipeline shape
  * (source → decode → stream-static join → foreachBatch sink) driven
  * through MemoryStream / file sources with processAllAvailable. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def customersHead = Seq(
    (1, "Willis Collins", "Dallas"), (2, "Casey Brady", "Chicago"),
    (3, "Walker Wong", "SanJose"), (4, "Randall Weeks", "SanDiego"),
    (5, "Gerardo Dorsey", "Dallas")).toDF("cust_id", "cust_name", "city")

  test("stream-static enrichment joins each micro-batch against the reference table") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[OrderEvent]
    val enriched = graft.operators.Enrich.enrichReference(mem.toDF(), customersHead)
    val q = enriched.writeStream.format("memory").queryName("enriched_mem")
      .outputMode("append").start()
    try {
      mem.addData(OrderEvent("o1", 1, 182), OrderEvent("o2", 2, 33),
        OrderEvent("o9", 99999, 7))
      q.processAllAvailable()
      val got = spark.table("enriched_mem")
        .as[(String, Long, String, String, Long)].collect().toSet
      assert(got === Set(("o1", 1L, "Willis Collins", "Dallas", 182L),
        ("o2", 2L, "Casey Brady", "Chicago", 33L)))
      // the plan must stay a broadcast join in streaming mode
      mem.addData(OrderEvent("o3", 3, 170))
      q.processAllAvailable()
      assert(spark.table("enriched_mem").count() === 3)
    } finally q.stop()
  }

  test("file-source pipeline writes id-stamped parquet partitioned by customer (C6)") {
    val dir = SparkTestBase.tempDir("graft-stream")
    val in = dir.resolve("in"); val out = dir.resolve("out"); val ck = dir.resolve("ck")
    Files.createDirectories(in)
    // enough repeats in each input file that a dictionary pays where the
    // layout keeps one: each input file is written as its own store file
    def repeats(r: Range) = r.map { i =>
      s"""{"orderID":"b$i","customerID":${5 - i % 5},"amount":${i % 7}}"""
    }.mkString("\n")
    Files.writeString(in.resolve("batch1.json"),
      """{"orderID":"a1","customerID":1,"amount":182}
        |{"orderID":"a2","customerID":2,"amount":33}
        |""".stripMargin + repeats(0 until 100))
    Files.writeString(in.resolve("batch2.json"), repeats(100 until 300))
    val q = StreamPipeline.run(spark, StreamPipeline.FileOrders(in.toString),
      customersHead, out.toString, ck.toString,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(out.toString)
    assert(got.count() === 302)
    assert(got.columns.contains("id"))
    assert(got.select("id").distinct().count() === 302) // generated per-row ids
    assert(got.filter(col("customer_id") === 1)
      .select("customer_name").distinct().head.getString(0) === "Willis Collins")
    // the store layout: zstd v2 pages, no dictionary for the unique ids and
    // the customer columns, one for city and amount
    val written = chunks(out)
    assert(written.map(_.column).toSet === got.columns.toSet - "batch")
    assert(written.forall(c => c.codec == ZSTD && c.v2), written)
    val plain = Set("id", "order_id", "customer_id", "customer_name")
    assert(written.filter(c => plain(c.column)).forall(c => !c.dict &&
      !c.encodings.exists(_.usesDictionary)), written)
    assert(written.filter(c => Set("city", "purchase_amount")(c.column)).forall(_.dict), written)
    assert(written.filter(_.column == "customer_id").forall(
      _.encodings.contains(Encoding.DELTA_BINARY_PACKED)), written)
    // every file holds its rows sorted by the partition key
    val files = parquetFiles(out)
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = fileColumn(f, "customer_id")(_.getLong(_, 0))
      assert(ids === ids.sorted, f)
    }
  }

  test("upsert sink merges on key: update, in-batch dup, and replay are all one row per key") {
    val dir = SparkTestBase.tempDir("graft-upsert")
    val out = dir.resolve("store").toString
    def rows(t: (String, Long, Long)*) = t.toDF("order_id", "customer_id", "amount")
    StreamPipeline.upsertBatch(rows(("a", 1L, 10L), ("b", 2L, 20L)), out, 0L)
    assert(StreamPipeline.readUpserted(spark, out).count() === 2)
    // batch 1: update b, insert c, duplicate d within the batch
    val b1 = rows(("b", 2L, 99L), ("c", 3L, 30L), ("d", 4L, 1L), ("d", 4L, 5L))
    StreamPipeline.upsertBatch(b1, out, 1L)
    val snap = StreamPipeline.readUpserted(spark, out)
    assert(snap.count() === 4)
    assert(snap.filter(col("order_id") === "b").select("amount").head.getLong(0) === 99L)
    assert(snap.filter(col("order_id") === "d").select("amount").head.getLong(0) === 5L)
    // replay of batch 1 (crash before checkpoint commit): state unchanged
    StreamPipeline.upsertBatch(b1, out, 1L)
    val replayed = StreamPipeline.readUpserted(spark, out)
    assert(replayed.count() === 4)
    assert(replayed.filter(col("order_id") === "b").select("amount").head.getLong(0) === 99L)
    // the hard replay case: a carried-forward key shares the bucket with
    // the updated key, and the batch's FIRST attempt completed (its
    // generation exists) before the crash — the replay must re-merge
    // from the pre-batch generation, not rebuild from batch rows alone
    val out1 = dir.resolve("store1").toString
    StreamPipeline.upsertBatch(rows(("a", 1L, 10L), ("b", 2L, 20L)), out1, 0L, nBuckets = 1)
    StreamPipeline.upsertBatch(rows(("a", 1L, 99L)), out1, 1L, nBuckets = 1)
    StreamPipeline.upsertBatch(rows(("a", 1L, 99L)), out1, 1L, nBuckets = 1) // replay
    val s1 = StreamPipeline.readUpserted(spark, out1)
    assert(s1.count() === 2) // key b survived the replay
    assert(s1.filter(col("order_id") === "b").select("amount").head.getLong(0) === 20L)
    assert(s1.filter(col("order_id") === "a").select("amount").head.getLong(0) === 99L)
  }

  test("upsert sink merges all affected buckets in one write, not a per-bucket job loop") {
    val dir = SparkTestBase.tempDir("graft-upsert-onejob")
    val out = dir.resolve("store").toString
    def rows(t: (String, Long, Long)*) = t.toDF("order_id", "customer_id", "amount")
    val keys = (0 until 32).map(i => (s"k$i", i.toLong, i.toLong))
    StreamPipeline.upsertBatch(rows(keys: _*), out, 0L)
    val touched = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(touched === 8, "32 keys should hit all 8 default buckets")
    // batch 1 touches all buckets again; count Spark jobs — the retired
    // per-bucket driver loop paid >= nBuckets write jobs, the one-shot
    // merge a small constant (scan/window/write + AQE stage jobs)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamPipeline.upsertBatch(rows(keys.map(k => (k._1, k._2, k._3 + 100)): _*), out, 1L)
      // listener bus is async: first wait for ANY job to be delivered
      // (exiting at jobs=0 would make the assert below pass vacuously),
      // then poll until the count is quiet
      var spins = 0
      while (jobs == 0 && spins < 25) { Thread.sleep(200); spins += 1 }
      var last = -1
      spins = 0
      while (jobs != last && spins < 15) { last = jobs; Thread.sleep(200); spins += 1 }
      assert(jobs > 0, "listener bus never delivered a job event")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the retired per-bucket loop paid ≥ 2·nBuckets jobs (a read + a
    // write per bucket); the one-shot merge is a small constant — the
    // margin below stays regression-sensitive while tolerating AQE
    // stage-count drift across configs
    assert(jobs < 12, s"bucket merge ran $jobs jobs — looks like one job per bucket again")
    val snap = StreamPipeline.readUpserted(spark, out)
    assert(snap.count() === 32)
    assert(snap.agg(sum(col("amount"))).head.getLong(0) ===
      keys.map(_._3 + 100).sum)
  }

  test("upsert sink: torn generations are invisible to readers and retired by the next batch") {
    val dir = SparkTestBase.tempDir("graft-upsert-torn")
    val out = dir.resolve("store").toString
    def rows(t: (String, Long, Long)*) = t.toDF("order_id", "customer_id", "amount")
    // empty/uninitialized store reads as an empty frame, not an error
    assert(StreamPipeline.readUpserted(spark, out).count() === 0)
    StreamPipeline.upsertBatch(rows(("a", 1L, 10L)), out, 0L, nBuckets = 1)
    // simulate a crash mid-write of batch 1: generation dir without the
    // commit marker (half-written parquet)
    val torn = java.nio.file.Paths.get(out, "bucket=0", "gen=1")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-00000.parquet"), "not parquet")
    val snap = StreamPipeline.readUpserted(spark, out)
    assert(snap.count() === 1) // reader sees the previous consistent state
    assert(snap.select("amount").head.getLong(0) === 10L)
    // the replay of batch 1 overwrites the torn dir and merges from gen=0
    StreamPipeline.upsertBatch(rows(("b", 2L, 20L)), out, 1L, nBuckets = 1)
    assert(StreamPipeline.readUpserted(spark, out).count() === 2)
    // batch 1 outweighed its base, so gen=1 is a new base and gen=0 is
    // already retired; batch 2 adds a delta over it
    StreamPipeline.upsertBatch(rows(("a", 1L, 11L)), out, 2L, nBuckets = 1)
    val gens = Files.list(java.nio.file.Paths.get(out, "bucket=0")).iterator()
    val names = scala.collection.mutable.Buffer[String]()
    while (gens.hasNext) names += gens.next().getFileName.toString
    assert(names.toSet === Set("gen=1", "gen=2"), names)
  }

  test("upsert sink end-to-end: re-delivered order replaces its row") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[OrderEvent]
    val dir = SparkTestBase.tempDir("graft-upsert-e2e")
    val enriched = graft.operators.Enrich.enrichReference(mem.toDF(), customersHead)
    val q = StreamPipeline.upsertEnriched(enriched, dir.resolve("store").toString,
      dir.resolve("ck").toString).start()
    try {
      mem.addData(OrderEvent("o1", 1, 100))
      q.processAllAvailable()
      mem.addData(OrderEvent("o1", 1, 250), OrderEvent("o2", 2, 60))
      q.processAllAvailable()
      val snap = StreamPipeline.readUpserted(spark, dir.resolve("store").toString)
      assert(snap.count() === 2)
      assert(snap.filter(col("order_id") === "o1")
        .select("purchase_amount").head.getLong(0) === 250L)
      // the enriched store: no dictionary for the key and the customer
      // columns, one for city and amount. Enough repeats that a dictionary
      // would pay; they rewrite every bucket they touch as a new base
      mem.addData((0 until 200).map(i => OrderEvent(s"p$i", 1 + i % 5, i % 7)))
      q.processAllAvailable()
      val store = dir.resolve("store")
      assert(StreamPipeline.readUpserted(spark, store.toString).count() === 202)
      val written = ls(store).map(_.resolve("gen=2")).filter(Files.exists(_)).flatMap(chunks)
      assert(written.nonEmpty && written.forall(_.v2), written)
      assert(written.filter(c => Set("order_id", "customer_id", "customer_name")(c.column))
        .forall(c => !c.dict && !c.encodings.exists(_.usesDictionary)), written)
      assert(written.filter(c => Set("city", "purchase_amount")(c.column)).forall(_.dict), written)
    } finally q.stop()
  }

  private def ls(d: Path): List[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  private def deleteTree(d: Path): Unit = if (Files.exists(d)) {
    val s = Files.walk(d)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  /** Every generation directory of an upsert store: (bucket, gen) → its
    * marker's content, None when torn. */
  private def storeGens(out: Path): Map[(Long, Long), Option[String]] =
    if (!Files.exists(out)) Map.empty
    else (for {
      b <- ls(out) if b.getFileName.toString.startsWith("bucket=")
      g <- ls(b) if g.getFileName.toString.startsWith("gen=")
    } yield {
      val m = g.resolve("_graft_commit")
      (b.getFileName.toString.stripPrefix("bucket=").toLong,
        g.getFileName.toString.stripPrefix("gen=").toLong) ->
        (if (Files.exists(m)) Some(Files.readString(m)) else None)
    }).toMap

  private def parquetFiles(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList.filter(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Every column chunk of the parquet files under `dir`, read from their
    * footers. */
  private def chunks(dir: Path): List[Chunk] = parquetFiles(dir).flatMap { f =>
    val r = ParquetFileReader.open(new LocalInputFile(f))
    try r.getFooter.getBlocks.asScala.toList.flatMap(_.getColumns.asScala).map { c =>
      Chunk(c.getPath.toDotString, c.getCodec, c.hasDictionaryPage,
        c.getEncodings.asScala.toSet, c.getEncodingStats.usesV2Pages)
    }
    finally r.close()
  }

  /** One column of a parquet file in stored row order, read with
    * parquet's own reader, not Spark. */
  private def fileColumn[T](f: Path, column: String)(get: (Group, String) => T): Vector[T] = {
    val r = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(f.toUri)).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).map(get(_, column)).toVector
    finally r.close()
  }

  private def markerField(marker: String, k: String): String =
    marker.linesIterator.collectFirst { case l if l.startsWith(s"$k=") => l.drop(k.length + 1) }
      .getOrElse(fail(s"marker has no $k: $marker"))

  /** Leaves `out` as a crash inside batch `id` would: every generation the
    * batch writes is on disk, but only buckets `keep` accepts got their
    * marker, and nothing was retired. The batch's write is a function of
    * the store and its rows, so a full run supplies the generations. */
  private def crashAfterWrite(out: Path, id: Long, keep: Long => Boolean)(run: => Unit): Unit = {
    val pre = out.resolveSibling(s"${out.getFileName}-pre")
    deleteTree(pre)
    if (Files.exists(out)) copyTree(out, pre) else Files.createDirectories(pre)
    run
    for (((b, g), _) <- storeGens(out) if g == id) {
      val t = pre.resolve(s"bucket=$b").resolve(s"gen=$g")
      copyTree(out.resolve(s"bucket=$b").resolve(s"gen=$g"), t)
      if (!keep(b)) {
        Files.delete(t.resolve("_graft_commit"))
        Files.deleteIfExists(t.resolve("._graft_commit.crc"))
      }
    }
    deleteTree(out)
    Files.move(pre, out)
  }

  test("upsert sink equals a last-write-wins model under replays, crashes and compactions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    for (nBuckets <- Seq(1, 8); keyCol <- Seq("order_id", "fp")) {
      val ctx = s"nBuckets=$nBuckets keyCol=$keyCol"
      val out = SparkTestBase.tempDir("graft-upsert-model").resolve("store")
      // the curate path appends its key `fp` last; the order sink leads with `order_id`
      val cols = if (keyCol == "fp") Seq("n", "s", "fp") else Seq("order_id", "n", "s")
      val schema = StructType(cols.map(c => StructField(c, if (c == "n") LongType else StringType)))
      def frame(rows: Seq[(String, Long, String)]) = spark.createDataFrame(
        rows.map { case (k, n, s) =>
          Row.fromSeq(cols.map { case "n" => n; case "s" => s; case _ => k })
        }.asJava, schema)
      // reference: per key the last batch's row; inside a batch the
      // largest payload (n, s), the sink's documented tie-break
      val model = scala.collection.mutable.Map.empty[String, (Long, String)]
      def applyModel(rows: Seq[(String, Long, String)]): Unit =
        rows.groupBy(_._1).foreach { case (k, rs) => model(k) = rs.map(r => (r._2, r._3)).max }
      def check(when: String): Unit = {
        val got = StreamPipeline.readUpserted(spark, out.toString)
          .select(keyCol, "n", "s").as[(String, Long, String)].collect()
        assert(got.length === model.size, s"$ctx $when: ${got.length} rows for ${model.size} keys")
        assert(got.map(r => r._1 -> (r._2, r._3)).toMap === model.toMap, s"$ctx $when")
      }
      val rnd = new scala.util.Random(nBuckets * 31 + keyCol.length)
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      def row(k: String) = (k, rnd.nextInt(4).toLong, rnd.alphanumeric.take(1).mkString)
      // a first batch of 30 keys per bucket, then small batches: 70% new
      // keys, 30% re-deliveries, some keys twice in one batch
      def batch(id: Int): Seq[(String, Long, String)] =
        (0 until (if (id == 0) 30 * nBuckets else 2 + rnd.nextInt(3 * nBuckets))).flatMap { _ =>
          val k =
            if (keys.nonEmpty && rnd.nextInt(10) < 3) keys(rnd.nextInt(keys.size))
            else { keys += s"k${keys.size}"; keys.last }
          if (rnd.nextInt(10) == 0) Seq(row(k), row(k)) else Seq(row(k))
        }
      val torn = Set(5, 19)
      val someMarkers = Set(9, 27)
      val allMarkers = Set(13, 30)
      val replayed = Set(3, 11, 22, 33)
      var compacted, tiered = false
      for (id <- 0 until 34) {
        val rows = batch(id)
        val df = frame(rows)
        def run(): Unit = StreamPipeline.upsertBatch(df, out.toString, id, keyCol, nBuckets)
        if (torn(id)) {
          // a crash mid-write left a half-written generation behind
          val t = out.resolve("bucket=0").resolve(s"gen=$id")
          Files.createDirectories(t)
          Files.writeString(t.resolve("part-00000.parquet"), "not parquet")
          check(s"torn gen=$id")
          run()
          applyModel(rows)
        } else if (someMarkers(id) || allMarkers(id)) {
          crashAfterWrite(out, id, b => allMarkers(id) || b % 2 == 1)(run())
          if (allMarkers(id)) {
            applyModel(rows)
            check(s"batch $id committed, not retired")
          }
          run() // the replay: skips committed buckets, writes the rest, retires
          applyModel(rows)
        } else {
          run()
          applyModel(rows)
        }
        check(s"after batch $id")
        if (replayed(id)) {
          run()
          check(s"replay of batch $id")
        }
        storeGens(out).foreach {
          case ((_, g), Some(m)) if g == id =>
            compacted |= id > 0 && markerField(m, "kind") == "base"
            tiered |= markerField(m, "kind") == "delta" && markerField(m, "from").toLong < id
          case _ =>
        }
      }
      assert(compacted && tiered, s"$ctx: compactions=$compacted, tiered delta merges=$tiered")
    }
  }

  test("upsert sink work is O(batch) amortized: rows written per input row and generations stay bounded") {
    val out = SparkTestBase.tempDir("graft-upsert-amortized").resolve("store")
    var next = 0
    def batch(n: Int) = {
      val rows = (next until next + n).map(i => (s"o$i", (i % 97).toLong, i.toLong))
      next += n
      rows.toDF("order_id", "customer_id", "amount")
    }
    val per = 80
    // grown first, like a store a stream has fed for a while: the window
    // holds its first compaction and the tiered delta merges after it
    StreamPipeline.upsertBatch(batch(16 * per), out.toString, 0L)
    val written = (1 to 40).map { id =>
      val df = batch(per)
      def run(): Unit = StreamPipeline.upsertBatch(df, out.toString, id.toLong)
      // trigger 9 is the first over the delta cap; it crashes before
      // retiring, and its replay must still retire what its merge covers
      if (id == 9) crashAfterWrite(out, id, _ => true)(run())
      run()
      val gens = storeGens(out)
      gens.groupBy(_._1._1).foreach { case (b, gs) =>
        assert(gs.size <= StreamPipeline.DeltaCap + 1,
          s"bucket $b holds ${gs.size} generations after trigger $id")
      }
      gens.collect { case ((_, g), Some(m)) if g == id => markerField(m, "rows").toLong }.sum
    }
    def ratio(ws: Seq[Long]) = ws.sum.toDouble / (ws.size * per)
    val (first, second) = written.splitAt(20)
    assert(ratio(written) <= 3.0, s"rows written per input row ${ratio(written)}: $written")
    assert(ratio(second) <= ratio(first),
      s"second half ${ratio(second)} above first half ${ratio(first)}: $written")
    assert(StreamPipeline.readUpserted(spark, out.toString).count() === 56 * per)
  }

  test("upsert sink merges an over-cap delta with its newest similar-sized peers, never the base") {
    val out = SparkTestBase.tempDir("graft-upsert-tiers").resolve("store")
    var next = 0
    def upsert(n: Int, id: Long): Unit = {
      StreamPipeline.upsertBatch((next until next + n).map(i => (s"o$i", 1L, i.toLong))
        .toDF("order_id", "customer_id", "amount"), out.toString, id, nBuckets = 1)
      next += n
    }
    upsert(1000, 0L)
    // one large delta, then small ones up to the cap
    val sizes = 100 +: Seq.fill(StreamPipeline.DeltaCap - 1)(10)
    sizes.zipWithIndex.foreach { case (n, i) => upsert(n, i + 1L) }
    val last = sizes.size + 1L
    upsert(10, last)
    val gens = storeGens(out)
    // the small deltas and the batch fold into one; the 100-row delta
    // and the base are left as they were
    assert(gens.keySet === Set((0L, 0L), (0L, 1L), (0L, last)))
    val m = gens((0L, last)).get
    assert(markerField(m, "kind") === "delta")
    assert(markerField(m, "rows").toLong === 10L * StreamPipeline.DeltaCap)
    assert(markerField(m, "from").toLong === 2L)
    assert(StreamPipeline.readUpserted(spark, out.toString).count() === next.toLong)
  }

  test("upsert reader: deltas merge through a broadcast anti-join, the base is never shuffled") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkTestBase.tempDir("graft-upsert-plan").resolve("store").toString
    def rows(t: Seq[(String, Long, Long)]) = t.toDF("order_id", "customer_id", "amount")
    val h = new AdaptiveSparkPlanHelper {}
    // bases are read without partition columns, deltas with them
    val baseScan: SparkPlan => Boolean = {
      case s: FileSourceScanExec => s.relation.partitionSchema.isEmpty
      case _ => false
    }
    StreamPipeline.upsertBatch(rows((0 until 64).map(i => (s"k$i", i.toLong, i.toLong))), out, 0L)
    val plain = StreamPipeline.readUpserted(spark, out)
    assert(plain.count() === 64)
    val p0 = plain.queryExecution.executedPlan
    assert(h.find(p0)(baseScan).isDefined)
    assert(h.collect(p0) { case j: BaseJoinExec => j; case w: WindowExec => w }.isEmpty, p0)
    // a few updates and inserts: deltas over every base
    StreamPipeline.upsertBatch(rows((0 until 8).map(i => (s"k${i * 8}", 0L, 1000L + i)) ++
      Seq(("new1", 1L, 1L), ("new2", 2L, 2L))), out, 1L)
    val snap = StreamPipeline.readUpserted(spark, out)
    val got = snap.as[(String, Long, Long)].collect()
    assert(got.length === 66)
    assert(got.count(_._3 >= 1000L) === 8)
    val plan = snap.queryExecution.executedPlan
    assert(h.collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }.nonEmpty, plan)
    assert(h.find(plan)(baseScan).isDefined, plan)
    val shuffled = h.collect(plan) { case e: ShuffleExchangeLike => e }
      .filter(e => h.find(e)(baseScan).isDefined)
    assert(shuffled.isEmpty, plan)
  }

  test("upsert sink reads and continues a store written with empty markers (two full generations)") {
    val out = SparkTestBase.tempDir("graft-upsert-legacy").resolve("store")
    // the earlier layout: each batch rewrote the bucket's whole state as a
    // new generation, kept the previous one and marked both with an empty
    // _graft_commit
    def legacyGen(gen: Long, t: Seq[(String, Long, Long)]): Unit = {
      t.toDF("order_id", "customer_id", "amount")
        .withColumn("bucket", lit(0L)).withColumn("gen", lit(gen))
        .write.mode("append").option("compression", "snappy")
        .partitionBy("bucket", "gen").parquet(out.toString)
      Files.createFile(out.resolve("bucket=0").resolve(s"gen=$gen").resolve("_graft_commit"))
    }
    val g0 = Seq(("a", 1L, 10L), ("b", 2L, 20L), ("c", 3L, 30L), ("d", 4L, 40L))
    val g1 = Seq(("a", 1L, 11L), ("b", 2L, 20L), ("c", 3L, 30L), ("d", 4L, 40L), ("e", 5L, 50L))
    legacyGen(0L, g0)
    legacyGen(1L, g1)
    def snap() = StreamPipeline.readUpserted(spark, out.toString)
      .as[(String, Long, Long)].collect().toSet
    assert(snap() === g1.toSet)
    StreamPipeline.upsertBatch(Seq(("b", 2L, 21L), ("f", 6L, 60L))
      .toDF("order_id", "customer_id", "amount"), out.toString, 2L, nBuckets = 1)
    val g2 = g1.filterNot(_._1 == "b") ++ Seq(("b", 2L, 21L), ("f", 6L, 60L))
    assert(snap() === g2.toSet)
    // the old base gen=1 stays under the new delta; gen=0 is retired
    assert(storeGens(out).keySet === Set((0L, 1L), (0L, 2L)))
    // the bucket now mixes layouts: the old base stays snappy v1, the new
    // delta is zstd v2 with no dictionary on its key
    def genChunks(g: Long) = chunks(out.resolve("bucket=0").resolve(s"gen=$g"))
    val (old, fresh) = (genChunks(1L), genChunks(2L))
    assert(old.nonEmpty && old.forall(c => c.codec == SNAPPY && !c.v2), old)
    assert(fresh.nonEmpty && fresh.forall(c => c.codec == ZSTD && c.v2), fresh)
    assert(fresh.filter(_.column == "order_id").forall(!_.dict), fresh)
    // 2 delta rows + 3 batch rows reach the 5-row base: the compaction
    // rewrites the whole bucket as zstd v2
    val b3 = Seq(("c", 3L, 31L), ("g", 7L, 70L), ("h", 8L, 80L))
    StreamPipeline.upsertBatch(b3.toDF("order_id", "customer_id", "amount"),
      out.toString, 3L, nBuckets = 1)
    assert(snap() === (g2.filterNot(_._1 == "c") ++ b3).toSet)
    assert(storeGens(out).keySet === Set((0L, 3L)))
    val compacted = genChunks(3L)
    assert(compacted.nonEmpty && compacted.forall(c => c.codec == ZSTD && c.v2), compacted)
  }

  test("upsert sink reads, merges and compacts v1 zstd generations next to v2 ones") {
    val out = SparkTestBase.tempDir("graft-upsert-v1").resolve("store")
    // the layout before v2 pages: zstd v1 pages in shuffle order, no
    // dictionary on the key, and markers with content
    def v1Gen(gen: Long, kind: String, t: Seq[(String, Long, Long)]): Unit = {
      t.toDF("order_id", "customer_id", "amount")
        .withColumn("bucket", lit(0L)).withColumn("gen", lit(gen))
        .write.mode("append").option("compression", "zstd")
        .option("parquet.enable.dictionary#order_id", "false")
        .partitionBy("bucket", "gen").parquet(out.toString)
      Files.writeString(out.resolve("bucket=0").resolve(s"gen=$gen").resolve("_graft_commit"),
        s"kind=$kind\nkey=order_id\nrows=${t.size}\nfrom=$gen\n")
    }
    val model = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def put(t: Seq[(String, Long, Long)]): Unit = t.foreach(r => model(r._1) = (r._2, r._3))
    def check(when: String): Unit = {
      val got = StreamPipeline.readUpserted(spark, out.toString)
        .as[(String, Long, Long)].collect()
      assert(got.length === model.size, when)
      assert(got.map(r => r._1 -> (r._2, r._3)).toMap === model.toMap, when)
    }
    def upsert(id: Long, t: Seq[(String, Long, Long)]): Unit = {
      StreamPipeline.upsertBatch(t.toDF("order_id", "customer_id", "amount"),
        out.toString, id, nBuckets = 1)
      put(t)
    }
    def genChunks(g: Long) = chunks(out.resolve("bucket=0").resolve(s"gen=$g"))
    val base = (0 until 40).map(i => (s"k${i * 17 % 40}", i % 3L, i.toLong))
    val delta = Seq(("k1", 2L, 100L), ("k50", 1L, 50L))
    v1Gen(0L, "base", base); put(base)
    v1Gen(1L, "delta", delta); put(delta)
    assert((genChunks(0L) ++ genChunks(1L)).forall(c => c.codec == ZSTD && !c.v2))
    check("v1 store")
    // a v2 delta over the v1 chain: updates of base and delta keys, a new key
    upsert(2L, Seq(("k3", 0L, 300L), ("k50", 2L, 51L), ("k60", 1L, 60L)))
    assert(storeGens(out).keySet === Set((0L, 0L), (0L, 1L), (0L, 2L)))
    assert(genChunks(2L).forall(c => c.codec == ZSTD && c.v2))
    check("v2 delta over v1 generations")
    // deltas plus batch reach the base: one v2 base replaces them all
    upsert(3L, (0 until 40).map(i => (s"k${i * 3}", 1L, 1000L + i)))
    assert(storeGens(out).keySet === Set((0L, 3L)))
    assert(markerField(storeGens(out)((0L, 3L)).get, "kind") === "base")
    assert(genChunks(3L).forall(c => c.codec == ZSTD && c.v2))
    check("compacted")
  }

  test("upsert sink writes every generation sorted by key, read from its files") {
    val out = SparkTestBase.tempDir("graft-upsert-sorted").resolve("store")
    val rnd = new scala.util.Random(7)
    // keys in random order, some re-delivered, five customers
    def batch(n: Int, from: Int) = rnd.shuffle((from until from + n).toList)
      .map(i => (s"o${rnd.nextInt(4 * n + from)}", (i % 5).toLong, s"c${i % 5}", i.toLong))
      .toDF("order_id", "customer_id", "customer_name", "amount")
    // generations are retired as the store grows: check each one once
    val seen = scala.collection.mutable.Set.empty[Path]
    var compacted = false
    for (id <- 0 to 12) {
      StreamPipeline.upsertBatch(if (id == 0) batch(400, 0) else batch(60, id * 100),
        out.toString, id.toLong, nBuckets = 2)
      compacted |= id > 0 && storeGens(out).exists {
        case ((_, g), Some(m)) => g == id && markerField(m, "kind") == "base"
        case _ => false
      }
      parquetFiles(out).filterNot(seen).foreach { f =>
        seen += f
        val keys = fileColumn(f, "order_id")(_.getString(_, 0))
        assert(keys.nonEmpty && keys.distinct.size === keys.size, f)
        assert(keys === keys.sorted, f)
      }
    }
    // every trigger wrote both buckets, and one of them compacted
    assert(compacted && seen.size >= 2 * 13, seen.size)
    // upsertBatch keeps every dictionary but the key's: the customer
    // columns lose theirs only in the enriched store (upsertEnriched)
    val written = chunks(out)
    assert(written.forall(c => c.codec == ZSTD && c.v2), written)
    assert(written.filter(_.column == "order_id").forall(!_.dict), written)
    assert(written.filter(_.column.startsWith("customer_")).forall(_.dict), written)
  }

  test("upsert sink: a crash between the write and the compaction leaves the previous state") {
    val dir = SparkTestBase.tempDir("graft-upsert-crash")
    val out = dir.resolve("store")
    def rows(t: Seq[(String, Long, Long)]) = t.toDF("order_id", "customer_id", "amount")
    // keys split by the sink's bucket function over 2 buckets
    val keys = (0 until 200).map(i => s"k$i")
    val bucketOf = keys.toDF("order_id")
      .select(col("order_id"), pmod(xxhash64(col("order_id")), lit(2L)))
      .as[(String, Long)].collect().toMap
    val (in0, in1) = keys.partition(bucketOf(_) == 0L)
    val model = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def upsert(t: Seq[(String, Long, Long)], id: Long): Unit = {
      StreamPipeline.upsertBatch(rows(t), out.toString, id, nBuckets = 2)
      t.foreach(r => model(r._1) = (r._2, r._3))
    }
    def check(when: String): Unit = {
      val got = StreamPipeline.readUpserted(spark, out.toString).as[(String, Long, Long)].collect()
      assert(got.length === model.size, when)
      assert(got.map(r => r._1 -> (r._2, r._3)).toMap === model.toMap, when)
    }
    upsert((in0.take(20) ++ in1.take(20)).map((_, 1L, 10L)), 0L)
    // batch 1 outweighs bucket 0's 20-row base, so bucket 0 compacts;
    // it does not touch bucket 1
    val b1 = (in0.take(10) ++ in0.slice(20, 35)).map((_, 2L, 20L))
    // the crash: bucket 0's gen=1 holds what the first write leaves, valid
    // parquet of the batch alone, and bucket 1 a valid gen=1 of other
    // rows; neither has a marker. A fresh store supplies both
    val scratch = dir.resolve("scratch")
    StreamPipeline.upsertBatch(rows(b1 ++ in1.slice(20, 25).map((_, 9L, 90L))),
      scratch.toString, 1L, nBuckets = 2)
    for (b <- 0 to 1) {
      val t = out.resolve(s"bucket=$b").resolve("gen=1")
      copyTree(scratch.resolve(s"bucket=$b").resolve("gen=1"), t)
      Files.delete(t.resolve("_graft_commit"))
      Files.deleteIfExists(t.resolve("._graft_commit.crc"))
    }
    check("after the crash")
    upsert(b1, 1L)
    check("after the replay")
    // bucket 0 is one base of 35 rows; bucket 1's torn gen=1 was neither
    // committed nor kept
    val gens = storeGens(out)
    assert(gens.keySet === Set((0L, 1L), (1L, 0L)), gens)
    assert(markerField(gens((0L, 1L)).get, "kind") === "base")
    assert(markerField(gens((0L, 1L)).get, "rows").toLong === 35L)
  }

  test("upsert sink rejects a store written with another bucket count or key") {
    val out = SparkTestBase.tempDir("graft-upsert-layout").resolve("store")
    val keys = (0 until 32).map(i => (s"k$i", i.toLong, i.toLong))
    StreamPipeline.upsertBatch(keys.toDF("order_id", "customer_id", "amount"), out.toString, 0L)
    val update = keys.map(k => (k._1, k._2, k._3 + 100)).toDF("order_id", "customer_id", "amount")
    // with other buckets, a key's new row would land in another bucket
    // than its stored one, and both would be read
    Seq[() => Unit](
      () => StreamPipeline.upsertBatch(update, out.toString, 1L, nBuckets = 4),
      () => StreamPipeline.upsertBatch(update, out.toString, 1L, nBuckets = 16),
      () => StreamPipeline.upsertBatch(update, out.toString, 1L, keyCol = "customer_id"),
      () => StreamPipeline.upsertBatch(update, out.toString, 1L, nBuckets = 0)
    ).foreach(f => intercept[IllegalArgumentException](f()))
    assert(storeGens(out).keySet.map(_._2) === Set(0L))
    StreamPipeline.upsertBatch(update, out.toString, 1L)
    val snap = StreamPipeline.readUpserted(spark, out.toString)
    assert(snap.count() === 32)
    assert(snap.agg(sum(col("amount"))).head.getLong(0) === keys.map(_._3 + 100).sum)
    storeGens(out).values.flatten.foreach(m => assert(markerField(m, "buckets") === "8", m))
  }

  test("streaming dedup keeps one row per order id within the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Long)]
    val df = mem.toDF().toDF("orderID", "ts", "amount")
    val q = StreamPipeline.dedupStream(df, "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_mem")
      .outputMode("append").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(("d1", t, 1L), ("d1", t, 1L), ("d2", t, 2L))
      q.processAllAvailable()
      assert(spark.table("dedup_mem").count() === 2)
    } finally q.stop()
  }

  test("streaming tumbling windows aggregate with watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("win_mem")
      .outputMode("complete").start()
    try {
      mem.addData(
        UserEvent(1, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "click", 1.0),
        UserEvent(2, Timestamp.valueOf("2024-01-01 00:02:00"), 7, "click", 2.0),
        UserEvent(3, Timestamp.valueOf("2024-01-01 00:07:00"), 7, "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("win_mem").select("n").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming active users: HLL distinct per window matches the exact batch answer") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.activeUsersStream(mem.toDF())
      .writeStream.format("memory").queryName("au_mem")
      .outputMode("complete").start()
    try {
      // hour 0: users 7, 7, 8 (2 distinct); hour 1: user 9 (1 distinct)
      val evs = Seq(
        UserEvent(1, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "click", 1.0),
        UserEvent(2, Timestamp.valueOf("2024-01-01 00:02:00"), 7, "view", 2.0),
        UserEvent(3, Timestamp.valueOf("2024-01-01 00:03:00"), 8, "click", 3.0),
        UserEvent(4, Timestamp.valueOf("2024-01-01 01:01:00"), 9, "click", 4.0))
      mem.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("au_mem").as[(Long, Long, Long)].collect()
        .sortBy(_._1).toList
      // at sketch-sparse cardinalities the HLL answer is exact, so the
      // stream must agree with the exact batch count(distinct)
      val batch = graft.operators.Windows.activeUsers(evs.toDF())
        .as[(Long, Long, Long)].collect().sortBy(_._1).toList
      assert(got === batch)
      assert(got.map(r => (r._2, r._3)) === List((2L, 3L), (1L, 1L)))
    } finally q.stop()
  }

  test("streaming session windows split on the gap") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sess_mem")
      .outputMode("complete").start()
    try {
      mem.addData(
        UserEvent(1, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "click", 1.0),
        UserEvent(2, Timestamp.valueOf("2024-01-01 00:03:00"), 7, "click", 1.0),
        UserEvent(3, Timestamp.valueOf("2024-01-01 00:30:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_mem").count() === 2) // two sessions for user 7
    } finally q.stop()
  }

  test("transformWithState: per-user running stats with typed ValueState") {
    implicit val sc = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Double)]
      val out = mem.toDS().groupByKey(_._2)
        .transformWithState(new graft.streaming.UserStatsProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      val q = out.writeStream.format("memory").queryName("tws_mem")
        .outputMode("update").start()
      try {
        mem.addData((1L, 7L, 2.0), (2L, 7L, 3.0), (3L, 8L, 5.0))
        q.processAllAvailable()
        mem.addData((4L, 7L, 10.0))
        q.processAllAvailable()
        val last = spark.table("tws_mem").as[(Long, Long, Double)].collect()
          .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
        assert(last(7L) === ((7L, 3L, 15.0))) // state survived across batches
        assert(last(8L) === ((8L, 1L, 5.0)))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("custom state: running per-user event count via mapGroupsWithState") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val counts = mem.toDS().groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[UserEvent], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (uid, n)
      }
    val q = counts.writeStream.format("memory").queryName("state_mem")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "c", 1.0),
        UserEvent(2, Timestamp.valueOf("2024-01-01 00:02:00"), 7, "c", 1.0))
      q.processAllAvailable()
      mem.addData(UserEvent(3, Timestamp.valueOf("2024-01-01 00:03:00"), 7, "c", 1.0))
      q.processAllAvailable()
      val last = spark.table("state_mem").as[(Long, Long)].collect().map(_._2).max
      assert(last === 3L)
    } finally q.stop()
  }

  test("restart from checkpoint resumes exactly-once (no reprocessing)") {
    val dir = SparkTestBase.tempDir("graft-ckpt")
    val in = dir.resolve("in"); val out = dir.resolve("out"); val ck = dir.resolve("ck")
    Files.createDirectories(in)
    Files.writeString(in.resolve("b1.json"),
      """{"orderID":"r1","customerID":1,"amount":10}""")
    def runOnce(): Unit = {
      val q = StreamPipeline.run(spark, StreamPipeline.FileOrders(in.toString),
        customersHead, out.toString, ck.toString,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out.toString).count() === 1)
    // second run, new file only: the checkpoint must skip b1.json
    Files.writeString(in.resolve("b2.json"),
      """{"orderID":"r2","customerID":2,"amount":20}""")
    runOnce()
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() === 2)
    assert(rows.select("order_id").as[String].collect().toSet === Set("r1", "r2"))
  }

  test("malformed events are dropped, not fatal (corrupt-record handling)") {
    val dir = SparkTestBase.tempDir("graft-corrupt")
    val in = dir.resolve("in"); val out = dir.resolve("out"); val ck = dir.resolve("ck")
    Files.createDirectories(in)
    Files.writeString(in.resolve("b.json"),
      """{"orderID":"g1","customerID":1,"amount":10}
        |this is not json at all
        |{"orderID":"g2","customerID":2,"amount":20}""".stripMargin)
    val q = StreamPipeline.run(spark, StreamPipeline.FileOrders(in.toString),
      customersHead, out.toString, ck.toString,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() === 2)
    assert(rows.select("order_id").as[String].collect().toSet === Set("g1", "g2"))
  }

  test("stream-stream interval join correlates events within the window") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[UserEvent]
    val views = MemoryStream[UserEvent]
    val c = clicks.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val v = views.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("vu"), col("ts").as("vts"), col("event_id").as("vid"))
    val joined = c.join(v,
      col("cu") === col("vu") &&
        col("vts") >= col("cts") && col("vts") <= col("cts") + expr("INTERVAL 5 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssj_mem")
      .outputMode("append").start()
    try {
      clicks.addData(UserEvent(1, Timestamp.valueOf("2024-01-01 00:00:00"), 7, "click", 1.0))
      views.addData(
        UserEvent(2, Timestamp.valueOf("2024-01-01 00:03:00"), 7, "view", 1.0),  // inside
        UserEvent(3, Timestamp.valueOf("2024-01-01 00:09:00"), 7, "view", 1.0),  // outside
        UserEvent(4, Timestamp.valueOf("2024-01-01 00:03:00"), 8, "view", 1.0))  // other user
      q.processAllAvailable()
      val got = spark.table("ssj_mem").select("cid", "vid").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 2L)))
    } finally q.stop()
  }

  test("kafka consume path decodes the reference producer's wire format (C1/C2)") {
    implicit val sc = spark.sqlContext
    // exactly the bytes orders-generator/main.go puts on the wire:
    // message key = orderID, value = JSON-marshalled order struct
    val wire = Seq(
      ("k1".getBytes, """{"orderID":"k1","customerID":3,"amount":170}""".getBytes),
      ("k2".getBytes, """{"orderID":"k2","customerID":1,"amount":42}""".getBytes),
      ("bad".getBytes, """not json""".getBytes))
      .toDF("key", "value")
    val decoded = StreamPipeline.decodeOrderBytes(wire)
    val good = decoded.filter(col("orderID").isNotNull)
      .as[(String, Long, Long)].collect().toSet
    assert(good === Set(("k1", 3L, 170L), ("k2", 1L, 42L)))
    // poison message yields a null row, not a query failure
    assert(decoded.count() === 3)
    // and the decoded stream enriches like any other source (streaming)
    val mem = MemoryStream[(Array[Byte], Array[Byte])]
    val stream = StreamPipeline.decodeOrderBytes(mem.toDF().toDF("key", "value"))
    val q = graft.operators.Enrich.enrichReference(stream, customersHead)
      .writeStream.format("memory").queryName("kafka_decode_mem")
      .outputMode("append").start()
    try {
      mem.addData(("k1".getBytes, """{"orderID":"k1","customerID":3,"amount":170}""".getBytes))
      q.processAllAvailable()
      assert(spark.table("kafka_decode_mem")
        .select("order_id", "customer_name").as[(String, String)].head() ===
        (("k1", "Walker Wong")))
    } finally q.stop()
  }

  /** Decode fuzz inputs, each tagged with its kind: the producer's
    * canonical bytes, other inputs inside the fast path's subset,
    * mutations of canonical bytes, random token soup, and hand-picked
    * cases the fast path must leave to `from_json`. */
  private def decodeFuzz(seed: Long, n: Int): Seq[(String, Array[Byte])] = {
    val rnd = new java.util.SplittableRandom(seed)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    def uuid() = new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString
    def canon() =
      s"""{"orderID":"${uuid()}","customerID":${1 + rnd.nextInt(10000)},"amount":${20 + rnd.nextInt(480)}}"""
    val ws = IndexedSeq("", "", " ", "\t", "\n", "\r\n", "  ")
    val printable = (0x20 to 0x7e).map(_.toChar).filterNot(c => c == '"' || c == '\\')
    val bigNums = IndexedSeq("0", "-0", "7", "-7", "123456789012345678", "-999999999999999999")
    def inSubset(): String = {
      val id = if (rnd.nextInt(4) == 0) "" else
        Seq.fill(1 + rnd.nextInt(40))(pick(printable)).mkString
      val fields = rnd.nextInt(3) match {
        case 0 => Seq(s""""orderID":"$id"""", s""""customerID":${pick(bigNums)}""",
          s""""amount":${rnd.nextLong(-1000, 1000)}""")
        case 1 => Seq(s""""orderID"${pick(ws)}:${pick(ws)}"${uuid()}"""",
          s""""amount":${1 + rnd.nextInt(500)}""")
        case _ => Seq(s""""customerID":${pick(bigNums)}""")
      }
      val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle(fields)
      pick(ws) + "{" + pick(ws) + shuffled.mkString(pick(ws) + "," + pick(ws)) + pick(ws) + "}" + pick(ws)
    }
    val soupBytes = IndexedSeq("{", "}", "[", "]", ":", ",", "\"", "\\", "-", ".", "e", "E",
      "0", "1", "9", " ", "\t", "\n", "\r", "n", "u", "l", "a", "\u0000", "é").map(_.getBytes("UTF-8")) ++
      IndexedSeq(Array(0xEF, 0xBB, 0xBF), Array(0xC3), Array(0xFF), Array(0x80)).map(_.map(_.toByte))
    def mutate(b: Array[Byte]): Array[Byte] = {
      var out = b
      (0 to rnd.nextInt(3)).foreach { _ =>
        val at = rnd.nextInt(out.length + 1)
        out = rnd.nextInt(3) match {
          case 0 => out.take(at) ++ pick(soupBytes) ++ out.drop(at)
          case 1 => out.take(at) ++ out.drop(at + 1)
          case _ if at < out.length =>
            out.updated(at, (if (rnd.nextBoolean()) rnd.nextInt(256) else pick(soupBytes).head).toByte)
          case _ => out.take(at)
        }
      }
      out
    }
    val tokens = IndexedSeq("{", "}", "[", "]", ":", ",", "\"orderID\"", "\"customerID\"", "\"amount\"",
      "\"OrderID\"", "\"orderid\"", "\"AMOUNT\"", "\"order\\u0049D\"", "\"x\"", "\"a\\\"b\"", "\"\\u0041\"",
      "null", "true", "false", "0", "-0", "01", "-01", "12", "-7", "1.5", "1e3", "1E+3", "-",
      "123456789012345678", "1234567890123456789", "99999999999999999999", "NaN", "'orderID'",
      "\"é\"", " ", "\t", "\n", "//c\n", "/*c*/")
    def soup(): Array[Byte] =
      if (rnd.nextInt(3) == 0) Seq.fill(rnd.nextInt(12))(pick(soupBytes)).flatten.toArray
      else Seq.fill(rnd.nextInt(14))(pick(tokens)).mkString.getBytes("UTF-8")
    val c = """{"orderID":"a","customerID":1,"amount":2}"""
    val cases = IndexedSeq(
      "\uFEFF" + c, c.replace("\"a\"", "\"é\""), c.replace("\"a\"", "\"a\\\"b\""),
      c.replace("\"a\"", "\"a\\\\b\""), c.replace("\"a\"", "\"\\u0041\""), c.replace("\"a\"", "\"a\\nb\""),
      c.replace("\"a\"", "null"), c.replace(":1,", ":null,"), c.replace(":2}", ":null}"),
      c.replace(":1,", ":{\"x\":1},"), c.replace(":2}", ":[2]}"), c.replace("\"a\"", "{}"),
      c.replace(":1,", ":1234567890123456789,"), c.replace(":2}", ":-9223372036854775808}"),
      c.replace(":2}", ":99999999999999999999}"), c.replace(":1,", ":01,"), c.replace(":2}", ":-00}"),
      c.replace(":2}", ":2.0}"), c.replace(":2}", ":2e0}"), c.replace(":2}", ":2E2}"),
      c.replace(":1,", ":\"1\","), c.replace(":2}", ":true}"),
      c.replace("}", ",\"amount\":3}"), c.replace("\"orderID\"", "\"OrderID\""),
      c.replace("\"amount\"", "\"Amount\""), c.replace("}", ",\"extra\":5}"),
      c + "x", c + c, c + ",", c + " \n", c.replace(",", ",,"), c.replace("}", ",}"),
      "{'orderID':'a'}", "{}", " { } ", "", "   ", "[]", "[" + c + "]", "null", "{\"orderID\":\"a\"",
      c.replace("\"a\"", "\"\u0001\""), c.replace("\"a\"", "\"\u007f\""),
      c.replace("\"a\"", "\"" + "x" * (OrderEventDecode.MaxIdBytes + 1) + "\""),
      c.replace("\"a\"", "\"" + "x" * OrderEventDecode.MaxIdBytes + "\"")
    ).map(_.getBytes("UTF-8")) ++ IndexedSeq(
      c.getBytes("UTF-8").updated(12, 0xC3.toByte), c.getBytes("UTF-16"), c.getBytes("UTF-16LE"), null)
    cases.map("case" -> _) ++ Seq.fill(n - cases.size) {
      rnd.nextInt(10) match {
        case 0 | 1 => "canonical" -> canon().getBytes("UTF-8")
        case 2 | 3 => "subset" -> inSubset().getBytes("UTF-8")
        case 4 | 5 | 6 => "mutated" -> mutate(canon().getBytes("UTF-8"))
        case 7 => "mutated" -> mutate(inSubset().getBytes("UTF-8"))
        case _ => "soup" -> soup()
      }
    }
  }

  test("order-event decode: the byte-level fast path equals from_json row for row (fuzz, codegen and interpreted)") {
    val dir = SparkTestBase.tempDir("graft-decode-fuzz")
    val inputs = decodeFuzz(20261017L, 30000) ++ decodeFuzz(7L, 30000)
    // materialized, so the optimizer cannot fold the input into eval
    inputs.toDF("kind", "value").coalesce(1).write.parquet(dir.resolve("in").toString)
    val src = spark.read.parquet(dir.resolve("in").toString)
    val fromJson = from_json(col("value").cast("string"), graft.sources.Tables.orderEventSchema)
    // from_json has no generated code, so the decode projection runs
    // outside whole-stage codegen as a compiled UnsafeProjection:
    // CODEGEN_ONLY forbids its interpreted fallback (the kernel's
    // doGenCode runs), NO_CODEGEN forces it (the kernel's eval runs)
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val decoded = StreamPipeline.decodeOrderBytes(src)
        val got = decoded.collect()
        val want = src.select(fromJson.as("o")).select("o.*").collect()
        assert(got.length === inputs.size)
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g === w, s"$mode: input $i ${Option(inputs(i)._2).map(new String(_, "UTF-8"))}")
        }
        // where the kernel answers, it answers exactly from_json's struct
        val pairs = src.select(col("kind"),
          OrderEventDecode.decode_order_event(col("value")).as("k"), fromJson.as("j")).collect()
        pairs.foreach(r => if (!r.isNullAt(1)) assert(r.get(1) === r.get(2)))
        // the producer's wire bytes always take the fast path
        assert(pairs.filter(_.getString(0) == "canonical").forall(!_.isNullAt(1)))
        val fast = pairs.count(!_.isNullAt(1))
        assert(fast > inputs.size / 4 && fast < inputs.size - inputs.size / 4, s"fast path taken $fast times")
      }
  }

  test("sinks reuse compiled code: steady-state triggers of both sinks compile nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-codegen-reuse")
    // compiles added by 3 same-shape triggers after one warm-up trigger
    def steadyCompiles(name: String,
        sink: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): Long = {
      val mem = MemoryStream[OrderEvent]
      val q = sink(graft.operators.Enrich.enrichReference(mem.toDF(), customersHead)).start()
      try {
        var next = 0
        def trigger(n: Int): Unit = {
          mem.addData((next until next + n).map(i => OrderEvent(s"$name$i", 1 + i % 5, 20 + i % 480)))
          next += n
          q.processAllAvailable()
        }
        // a large first trigger: the 3 small ones after it stay deltas
        // of the upsert store, never a compaction
        trigger(400)
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (1 to 3).foreach(_ => trigger(40))
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      } finally q.stop()
    }
    val append = steadyCompiles("a", StreamPipeline.writeEnriched(_,
      dir.resolve("append").toString, dir.resolve("append-ck").toString))
    val upsert = steadyCompiles("u", StreamPipeline.upsertEnriched(_,
      dir.resolve("upsert").toString, dir.resolve("upsert-ck").toString))
    assert((append, upsert) === ((0L, 0L)))
    // the triggers really went through the delta path
    assert(StreamPipeline.readUpserted(spark, dir.resolve("upsert").toString).count() === 520)
  }

  test("append trigger: the reference is read in one task and rows are written without a shuffle") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-append-jobs")
    val out = dir.resolve("out")
    val parts = 3
    val mem = MemoryStream[OrderEvent](parts)
    // the benchmark's reference: 10k rows over 32 partitions
    val customers = DataGen.customersBatch(spark, 10000)
    final case class Job(batch: Long, tasks: Int, broadcast: Boolean, stages: Seq[Int])
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val shuffled = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.add(Job(b.toLong, j.stageInfos.map(_.numTasks).sum,
            Option(j.properties.getProperty("spark.job.tags")).exists(_.contains("broadcast")),
            j.stageIds)))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => shuffled.merge(t.stageId,
          m.shuffleWriteMetrics.recordsWritten, (a: java.lang.Long, b: java.lang.Long) => a + b))
    }
    val rows = 300
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamPipeline.writeEnriched(
        graft.operators.Enrich.enrichReference(mem.toDF(), customers), out.toString,
        dir.resolve("ck").toString).start()
      try (0 until 4).foreach { b =>
        mem.addData((0 until rows).map(i => OrderEvent(s"$b-$i", 1 + (i * 7919 + b) % 10000, i % 480)))
        q.processAllAvailable()
      } finally q.stop()
      SparkTestBase.drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    val byBatch = jobs.asScala.toSeq.groupBy(_.batch)
    assert(byBatch.keySet === (0L until 4L).toSet, jobs)
    // steady triggers: the broadcast job in 1 task, the write in one task
    // per input partition, and no stage of either writes shuffle
    (1L until 4L).foreach { b =>
      val js = byBatch(b)
      assert(js.size === 2, js)
      assert(js.filter(_.broadcast).map(_.tasks) === Seq(1), js)
      assert(js.map(_.tasks).sum === 1 + parts, js)
      js.flatMap(_.stages).foreach(s => assert(shuffled.getOrDefault(s, 0L) === 0L, s"stage $s of $js"))
    }
    // each batch: at most one file per input partition, each sorted
    (0 until 4).foreach { b =>
      val files = parquetFiles(out.resolve(s"batch=$b"))
      assert(files.nonEmpty && files.size <= parts, files)
      files.foreach { f =>
        val ids = fileColumn(f, "customer_id")(_.getLong(_, 0))
        assert(ids === ids.sorted, f)
      }
      assert(files.map(fileColumn(_, "order_id")(_.getString(_, 0)).size).sum === rows)
    }
  }

  test("upsert trigger: a steady delta trigger runs the broadcast and the write, and caches nothing") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-upsert-jobs")
    val out = dir.resolve("store")
    val mem = MemoryStream[OrderEvent](3)
    // the benchmark's reference: 10k rows over 32 partitions
    val customers = DataGen.customersBatch(spark, 10000)
    final case class Job(batch: Long, broadcast: Boolean)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.add(Job(b.toLong,
            Option(j.properties.getProperty("spark.job.tags")).exists(_.contains("broadcast")))))
    }
    // registered before the query starts: its cloned session copies it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val executed = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(executed)
    try {
      val q = StreamPipeline.upsertEnriched(
        graft.operators.Enrich.enrichReference(mem.toDF(), customers), out.toString,
        dir.resolve("ck").toString).start()
      // a large first trigger: the 3 small ones after it stay deltas
      try Seq(2000, 100, 100, 100).zipWithIndex.foreach { case (n, b) =>
        mem.addData((0 until n).map(i => OrderEvent(s"$b-$i", 1 + (i * 7919 + b) % 10000, i % 480)))
        q.processAllAvailable()
      } finally q.stop()
      SparkTestBase.drainListenerBus()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(executed)
    }
    val byBatch = jobs.asScala.toSeq.groupBy(_.batch)
    assert(byBatch.keySet === (0L until 4L).toSet, jobs)
    // steady triggers: the broadcast job, then the write's map stage and
    // write under AQE; no cache build, no bucket count
    (1L until 4L).foreach { b =>
      val js = byBatch(b)
      assert(js.size <= 3, js)
      assert(js.count(_.broadcast) === 1, js)
    }
    val h = new AdaptiveSparkPlanHelper {}
    assert(plans.size >= 4, plans)
    plans.asScala.foreach(p =>
      assert(h.find(p)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty, p))
    assert(storeGens(out).collect { case ((_, g), Some(m)) if g > 0 =>
      markerField(m, "kind") }.toSet === Set("delta"))
    assert(StreamPipeline.readUpserted(spark, out.toString).count() === 2300)
  }

  test("append sink ids are v4 UUIDs, disjoint across identically partitioned batches") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-ids")
    val out = dir.resolve("out").toString
    val mem = MemoryStream[OrderEvent]
    val q = StreamPipeline.writeEnriched(
      graft.operators.Enrich.enrichReference(mem.toDF(), customersHead), out,
      dir.resolve("ck").toString).start()
    try {
      (0 until 2).foreach { b =>
        mem.addData((0 until 200).map(i => OrderEvent(s"$b-$i", 1 + i % 5, 20 + i % 480)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val ids = (0 until 2).map(b =>
      spark.read.parquet(s"$out/batch=$b").select("id").as[String].collect().toSet)
    val v4 = "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"
    ids.foreach { s =>
      assert(s.size === 200)
      assert(s.forall(_.matches(v4)), s.find(!_.matches(v4)))
    }
    assert(ids(0).intersect(ids(1)).isEmpty)
    // generated and interpreted evaluation draw the same ids from a seed
    val seeded = spark.range(0, 50, 1, 2).select(SeededUuid.seeded_uuid(42L))
    val interpreted = withConfs("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(seeded.as[String].collect().toSeq)
    assert(seeded.as[String].collect().toSeq === interpreted)
    assert(interpreted.distinct.size === 50)
  }

  test("kafka payload round-trips through from_json (C18)") {
    val enriched = Seq(("o1", 1L, "Willis Collins", "Dallas", 182L))
      .toDF("order_id", "customer_id", "customer_name", "city", "purchase_amount")
    val payload = StreamPipeline.toKafkaPayload(enriched)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_id string, customer_id long, customer_name string, city string, purchase_amount long")
    val back = payload.select(from_json(col("value"), schema).as("o")).select("o.*")
    assert(back.as[(String, Long, String, String, Long)].head() ===
      (("o1", 1L, "Willis Collins", "Dallas", 182L)))
  }

  test("rate-source generator matches the reference distributions (C15-C17)") {
    val df = DataGen.ordersBatch(spark, 2000)
    val stats = df.agg(min("customerID"), max("customerID"), min("amount"),
      max("amount"), countDistinct("orderID")).head
    assert(stats.getLong(0) >= 1 && stats.getLong(1) <= 10000)
    assert(stats.getLong(2) >= 20 && stats.getLong(3) <= 499)
    assert(stats.getLong(4) === 2000)
  }

  test("deterministic samplers run unchanged on a stream and equal the batch result (unification)") {
    implicit val sc = spark.sqlContext
    // stateless hash-threshold samplers (split, mixture) need no state
    // store: the SAME operator applied to a streaming frame must keep
    // the byte-identical document set the batch call keeps — the
    // retry/backfill-safety argument, demonstrated across modes
    val docs = (0 until 120).map { i =>
      DocEvent(i.toLong, s"doc $i", "en", s"src${i % 3}",
        new Timestamp(1704067200000L + i * 1000L))
    }
    val mem = MemoryStream[DocEvent]
    val q = graft.operators.Sampling.mixtureSample(mem.toDF())
      .writeStream.format("memory").queryName("sampler_mem")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(60): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(60): _*) // batch boundary must not matter
      q.processAllAvailable()
      val streaming = spark.table("sampler_mem").collect().toSet
      val batch = graft.operators.Sampling.mixtureSample(docs.toDF()).collect().toSet
      assert(streaming === batch && streaming.nonEmpty)
    } finally q.stop()
  }

  test("streaming windowed aggregation equals the batch operator on the same data (unification)") {
    implicit val sc = spark.sqlContext
    val events = (0 until 200).map { i =>
      UserEvent(i.toLong, new Timestamp(1704067200000L + i * 97000L),
        (i % 7).toLong, if (i % 3 == 0) "click" else "view", (i % 11) * 1.5)
    }
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.windowedCounts(mem.toDF(), width = "1 hour")
      .writeStream.format("memory").queryName("unif_mem")
      .outputMode("complete").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val streaming = spark.table("unif_mem")
        .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
        .collect().toSet
      // the BATCH X6 operator over the identical rows — same plan text,
      // different execution mode — must produce identical groups
      val batch = events.toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
        .collect().toSet
      assert(streaming === batch && streaming.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to preceding views (X6)") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[UserEvent]
    val clicks = MemoryStream[UserEvent]
    val q = StreamPipeline.streamStreamAttribution(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attr_mem")
      .outputMode("append").start()
    try {
      views.addData(
        UserEvent(10, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "view", 0.0),
        UserEvent(11, Timestamp.valueOf("2024-01-01 00:20:00"), 7, "view", 0.0),
        UserEvent(12, Timestamp.valueOf("2024-01-01 00:01:00"), 8, "view", 0.0))
      clicks.addData(
        // within 5 min of view 10, same user → attributed
        UserEvent(20, Timestamp.valueOf("2024-01-01 00:03:00"), 7, "click", 1.0),
        // 10 min after view 10 → outside horizon
        UserEvent(21, Timestamp.valueOf("2024-01-01 00:11:00"), 7, "click", 1.0),
        // right user-time window but different user → no pair
        UserEvent(22, Timestamp.valueOf("2024-01-01 00:03:00"), 9, "click", 1.0))
      q.processAllAvailable()
      // advance both watermarks far past the pairs so append mode emits
      // (distinct users, so the sentinels cannot pair with each other)
      views.addData(UserEvent(13, Timestamp.valueOf("2024-01-01 02:00:00"), 1, "view", 0.0))
      clicks.addData(UserEvent(23, Timestamp.valueOf("2024-01-01 02:00:00"), 2, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("attr_mem").select("click_id", "view_id")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((20L, 10L)))
    } finally q.stop()
  }

  test("left-outer attribution emits never-converted views with nulls after the watermark") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[UserEvent]
    val clicks = MemoryStream[UserEvent]
    val q = StreamPipeline.streamStreamAttributionOuter(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attro_mem")
      .outputMode("append").start()
    try {
      views.addData(
        // view 10 converts (click 20 within horizon); view 11 never does
        UserEvent(10, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "view", 0.0),
        UserEvent(11, Timestamp.valueOf("2024-01-01 00:02:00"), 8, "view", 0.0))
      clicks.addData(
        UserEvent(20, Timestamp.valueOf("2024-01-01 00:03:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // before the watermark passes view 11's join window, "no click
      // YET" must not emit — the null row would be retracted otherwise
      val early = spark.table("attro_mem")
        .filter(col("view_id") === 11L).count()
      assert(early === 0L, "unmatched view emitted before its window closed")
      // advance both watermarks past the window → null-side emission
      views.addData(UserEvent(12, Timestamp.valueOf("2024-01-01 02:00:00"), 1, "view", 0.0))
      clicks.addData(UserEvent(21, Timestamp.valueOf("2024-01-01 02:00:00"), 2, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("attro_mem").select("view_id", "click_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(got.contains((10L, Some(20L))), got.toString) // converted pair
      assert(got.contains((11L, None)), got.toString)      // never-converted
    } finally q.stop()
  }

  test("milestone state evicts after the event-time timeout (unbounded key safety)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.milestoneAlerts(mem.toDF(), threshold = 10.0,
      watermark = "1 minute", timeoutMs = 60000L)
      .writeStream.format("memory").queryName("evict_mem")
      .outputMode("append").start()
    try {
      mem.addData(UserEvent(1, Timestamp.valueOf("2024-01-01 00:00:00"), 7, "click", 11.0))
      q.processAllAvailable() // user 7: cum 11 → milestone 1 (n=1)
      // push the watermark far past user 7's timeout with OTHER users
      mem.addData(UserEvent(2, Timestamp.valueOf("2024-01-01 03:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(UserEvent(3, Timestamp.valueOf("2024-01-01 06:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      // user 7 returns: with state EVICTED the counter restarts —
      // cum 11 crosses the threshold AGAIN at n=1. Retained state
      // would report (n=3, cum=22, milestone 2) instead.
      mem.addData(UserEvent(4, Timestamp.valueOf("2024-01-01 06:01:00"), 7, "click", 11.0))
      q.processAllAvailable()
      val u7 = spark.table("evict_mem").where(col("user_id") === 7)
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(u7 === Seq((7L, 1L, 11.0, 1L), (7L, 1L, 11.0, 1L)),
        s"state not evicted (retained state would report n=3/cum=22): $u7")
    } finally q.stop()
  }

  test("streaming curation: cross-batch dedup, quality gate, post-watermark upsert replace, idempotent replay (X7)") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-stream")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    // ~0.63 quality (20 tokens, stopword-rich) — above the 0.5 gate
    val good = "the cat and the dog walk to the park and the bird sings " +
      "of the sun and the rain today"
    val good2 = "the fish and the frog swim to the lake and the duck calls " +
      "of the moon and the wind tonight"
    val junk = "zz qq ww" // ~0.32 quality — below the gate
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val mem = MemoryStream[DocEvent]
    val q = StreamPipeline.curateStream(mem.toDF(), out, ck).start()
    try {
      // in-batch duplicate + junk: one surviving row, the junk gated out
      mem.addData(DocEvent(10, good, "en", "s0", t(1)),
        DocEvent(11, good, "en", "s0", t(2)),
        DocEvent(12, junk, "en", "s0", t(3)))
      q.processAllAvailable()
      val s1 = StreamPipeline.readUpserted(spark, out)
      assert(s1.count() === 1)
      assert(s1.select("doc_id").as[Long].head() === 10L)
      // cross-batch duplicate within the watermark: still one row
      mem.addData(DocEvent(13, good, "en", "s0", t(4)))
      q.processAllAvailable()
      assert(StreamPipeline.readUpserted(spark, out).count() === 1)
      // distinct content appends
      mem.addData(DocEvent(14, good2, "en", "s0", t(5)))
      q.processAllAvailable()
      assert(StreamPipeline.readUpserted(spark, out).count() === 2)
      // a duplicate arriving AFTER the watermark evicted its dedup
      // state passes the stateful dedup but REPLACES its row in the
      // store (upsert on the content fingerprint): still one row per
      // content, now carrying the late doc's id
      mem.addData(DocEvent(15, "the owl and the hen fly to the barn and " +
        "the crow waits of the star and the cloud tonight", "en", "s0", t(90)))
      q.processAllAvailable() // watermark → 80 min; fp state for t(1..5) evicted
      mem.addData(DocEvent(16, good, "en", "s0", t(91)))
      q.processAllAvailable()
      val s4 = StreamPipeline.readUpserted(spark, out)
      assert(s4.count() === 3)
      val fpIds = s4.select("fp", "doc_id").as[(String, Long)].collect().toMap
      assert(fpIds.values.toSet.contains(16L) && !fpIds.values.toSet.contains(10L),
        s"late duplicate did not replace its row: $fpIds")
    } finally q.stop()
    // replay idempotence: re-running a batch id overwrites its own
    // generation instead of duplicating rows
    val batch = Seq((20L, good, "en", "s0", t(95), "fpX"))
      .toDF("doc_id", "text", "lang", "source", "ts", "fp")
    StreamPipeline.curateBatch(batch, out, batchId = 99L)
    StreamPipeline.curateBatch(batch, out, batchId = 99L)
    assert(StreamPipeline.readUpserted(spark, out)
      .filter(col("fp") === "fpX").count() === 1)
  }

  test("streaming curation drops micro-batch docs contaminated by the static benchmark") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-bench")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    val leaked = "the cat and the dog walk to the park and the bird sings " +
      "of the sun and the rain today"
    val clean = "the fish and the frog swim to the lake and the duck calls " +
      "of the moon and the wind tonight"
    val bench = Seq((0L, leaked)).toDF("doc_id", "text")
    val mem = MemoryStream[DocEvent]
    val q = StreamPipeline.curateStream(mem.toDF(), out, ck, bench = Some(bench))
      .start()
    try {
      mem.addData(
        DocEvent(30, leaked, "en", "s0", Timestamp.valueOf("2024-01-01 00:01:00")),
        DocEvent(31, clean, "en", "s0", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val ids = StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(31L), s"contaminated doc not dropped: $ids")
    } finally q.stop()
  }

  test("streaming curation span gate drops a byte-distinct doc of recycled spans") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-span")
    val indexed = Seq((0L, "the cat and the dog walk to the park and " +
      "the bird sings of the sun and the rain today")).toDF("doc_id", "text")
    // byte-distinct AND band-distinct enough for exact dedup, but 5 of
    // its 7 8-token windows are verbatim from the indexed doc
    val recycled = "the cat and the dog walk to the park and the bird here now"
    val fresh = "the fish and the frog swim to the lake and the duck calls " +
      "of the moon and the wind at dusk"
    def batchOf(rows: (Long, String)*) = rows.toSeq
      .map { case (id, tx) => (id, tx, "en", "s0",
        Timestamp.valueOf("2024-01-01 00:01:00"), s"fp$id") }
      .toDF("doc_id", "text", "lang", "source", "ts", "fp")
    // without the span index both docs are admitted — proving the drop
    // below is the span gate's, not quality's or the band gate's
    val outA = dir.resolve("a").toString
    StreamPipeline.curateBatch(batchOf(60L -> recycled, 61L -> fresh), outA, 0L)
    assert(StreamPipeline.readUpserted(spark, outA)
      .select("doc_id").as[Long].collect().toSet === Set(60L, 61L))
    // with the stored span index: 5/7 = 0.714286 > 0.5 → 60 dropped
    val outB = dir.resolve("b").toString
    StreamPipeline.curateBatch(batchOf(60L -> recycled, 61L -> fresh), outB, 0L,
      spanIdx = Some(graft.operators.Dedup.spanIndex(indexed)))
    assert(StreamPipeline.readUpserted(spark, outB)
      .select("doc_id").as[Long].collect().toSet === Set(61L))
  }

  test("streaming curation drops micro-batch docs near-duplicating the static index") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-index")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    val indexed = "the cat and the dog walk to the park and the bird sings " +
      "of the sun and the rain today"
    // near (NOT byte-identical) variant: exact fingerprint dedup would
    // pass it; only the band-key join against the index catches it
    val nearDup = indexed.replace("today", "tonight")
    val fresh = "the fish and the frog swim to the lake and the duck calls " +
      "of the moon and the wind at dusk"
    val index = Seq((0L, indexed)).toDF("doc_id", "text")
    val mem = MemoryStream[DocEvent]
    val q = StreamPipeline.curateStream(mem.toDF(), out, ck,
      rollingIndex = Some(streaming.RollingIndex.bands(index))).start()
    try {
      mem.addData(
        DocEvent(40, nearDup, "en", "s0", Timestamp.valueOf("2024-01-01 00:01:00")),
        DocEvent(41, fresh, "en", "s0", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val ids = StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(41L), s"near-dup of the index not dropped: $ids")
    } finally q.stop()
  }

  test("rolling index: docs accepted in generation N gate generation N+1 without restarting the query") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-rolling")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    val genN = "the cat and the dog walk to the park and the bird sings " +
      "of the sun and the rain today"
    // near (NOT byte-identical) variant of the generation-N doc: only
    // the band-key join against the refreshed index can catch it
    val nearDup = genN.replace("today", "tonight")
    val fresh = "the fish and the frog swim to the lake and the duck calls " +
      "of the moon and the wind at dusk"
    // generation 0: empty index, gates nothing
    val roll = streaming.RollingIndex.bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val mem = MemoryStream[DocEvent]
    val q = StreamPipeline.curateStream(mem.toDF(), out, ck,
      rollingIndex = Some(roll)).start()
    try {
      mem.addData(DocEvent(50, genN, "en", "s0", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      assert(StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet === Set(50L))
      // roll the index from the ACCEPTED output — generation N+1 —
      // while the query keeps running
      roll.refresh(StreamPipeline.readUpserted(spark, out)
        .select(col("doc_id"), col("text")))
      mem.addData(
        DocEvent(51, nearDup, "en", "s0", Timestamp.valueOf("2024-01-01 00:02:00")),
        DocEvent(52, fresh, "en", "s0", Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(50L, 52L),
        s"generation-N acceptance did not gate its N+1 near-dup: $ids")
    } finally q.stop()
  }

  test("rolling index auto-refresh: accepted docs gate the next batch with NO manual refresh call") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-autoroll")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    val genN = "the cat and the dog walk to the park and the bird sings " +
      "of the sun and the rain today"
    val nearDup = genN.replace("today", "tonight")
    val fresh = "the fish and the frog swim to the lake and the duck calls " +
      "of the moon and the wind at dusk"
    val roll = streaming.RollingIndex.bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val mem = MemoryStream[DocEvent]
    // cadence 1: the foreachBatch epilogue rolls the index after EVERY
    // committed batch — the spec's N+2-at-latest bound, met at N+1
    val q = StreamPipeline.curateStream(mem.toDF(), out, ck,
      rollingIndex = Some(roll), autoRefreshEvery = 1).start()
    try {
      mem.addData(DocEvent(60, genN, "en", "s0", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      assert(StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet === Set(60L))
      // no roll.refresh(...) here — the epilogue must have done it
      mem.addData(
        DocEvent(61, nearDup, "en", "s0", Timestamp.valueOf("2024-01-01 00:02:00")),
        DocEvent(62, fresh, "en", "s0", Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(60L, 62L),
        s"auto-refresh did not gate the generation-N near-dup: $ids")
    } finally q.stop()
  }

  test("a refresh cadence that cannot run is rejected when the writer is built") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-curate-cadence")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    val docs = MemoryStream[DocEvent].toDF()
    // a cadence with nothing to refresh, and a negative cadence, were
    // both silently treated as "off"
    intercept[IllegalArgumentException] {
      StreamPipeline.curateStream(docs, out, ck, autoRefreshEvery = 1)
    }
    val roll = streaming.RollingIndex.bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    intercept[IllegalArgumentException] {
      StreamPipeline.curateStream(docs, out, ck, rollingIndex = Some(roll),
        autoRefreshEvery = -1)
    }
    StreamPipeline.curateStream(docs, out, ck, rollingIndex = Some(roll),
      autoRefreshEvery = 1)
    StreamPipeline.curateStream(docs, out, ck)
  }

  test("streaming CMS: counters after two batches equal the batch sketch of the union") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamPipeline.cmsSketchStream(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_mem").start()
    try {
      def ev(id: Long, txt: String) =
        DocEvent(id, txt, "en", "s0", Timestamp.valueOf("2024-01-01 00:01:00"))
      mem.addData(ev(1, "alpha beta alpha"), ev(2, "beta gamma"))
      q.processAllAvailable()
      mem.addData(ev(3, "alpha delta"), ev(4, "gamma gamma beta"))
      q.processAllAvailable()
      val streamed = spark.table("cms_mem")
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val batch = graft.operators.Profiling.cmsSketch(Seq(
        (1L, "alpha beta alpha"), (2L, "beta gamma"),
        (3L, "alpha delta"), (4L, "gamma gamma beta")).toDF("doc_id", "text"))
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(streamed === batch)
      assert(streamed.values.sum === 40L) // 10 tokens x 4 tables
    } finally q.stop()
  }

  test("streaming histogram: bucket counters after two batches equal the batch sketch, quantiles read from the sink") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = graft.operators.Profiling.histSketch(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hist_mem").start()
    try {
      def ev(id: Long, typ: String, v: Double) =
        UserEvent(id, Timestamp.valueOf("2024-01-01 00:01:00"), id % 3, typ, v)
      val batch1 = Seq(ev(1, "click", 2.0), ev(2, "click", 7.0), ev(3, "view", 12.0))
      val batch2 = Seq(ev(4, "click", 3.0), ev(5, "click", 23.0), ev(6, "view", 12.5))
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("hist_mem")
        .as[(String, Long, Long)].collect().toSet
      val all = (batch1 ++ batch2).toDF()
      val batch = graft.operators.Profiling.histSketch(all)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch)
      // quantiles answered from the SINK table, no event replay
      val fromSink = graft.operators.Profiling
        .histQuantilesFrom(spark.table("hist_mem"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val fromBatch = graft.operators.Profiling.histQuantiles(all)
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(fromSink === fromBatch)
    } finally q.stop()
  }

  test("streaming daily histogram: sink-served rolling quantiles equal the batch read") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = graft.operators.Profiling.histDaily(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hist_daily_mem").start()
    try {
      def ev(id: Long, day: Int, v: Double) =
        UserEvent(id, Timestamp.valueOf(s"2024-01-0$day 00:01:00"),
          id % 3, "click", v)
      val b1 = (0 until 8).map(i => ev(i, 1, i.toDouble))
      val b2 = (0 until 8).map(i => ev(8L + i, 2, 30.0 + i))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = (b1 ++ b2).toDF()
      // the streamed state IS the daily sketch table
      assert(spark.table("hist_daily_mem").as[(String, Long, Long, Long)]
        .collect().toSet ===
        graft.operators.Profiling.histDaily(all)
          .as[(String, Long, Long, Long)].collect().toSet)
      // rolling quantiles served from the SINK equal the batch read
      // (snapshot the sink first: the rolling read self-joins its
      // input, and a MemorySink view can't deduplicate its own leaf —
      // a real deployment reads the stored table, which can)
      val stored = spark.table("hist_daily_mem").localCheckpoint()
      val served = graft.operators.Profiling.histRollingFromDaily(stored)
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      val batch = graft.operators.Profiling.histRolling(all)
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      assert(served === batch)
    } finally q.stop()
  }

  test("streaming daily histogram: rolling quantiles served from the PHYSICAL graft_orders store") {
    implicit val sc = spark.sqlContext
    import graft.sources.v2.GraftStore
    val mem = MemoryStream[UserEvent]
    val dir = SparkTestBase.tempDir("graft-hist-store")
    // complete-mode DSv2 sink: each epoch's snapshot REPLACES the
    // stored table (SupportsTruncate), so the store always holds
    // exactly the current daily sketch — the nightly artifact a
    // resident pipeline serves rolling quantiles from
    val q = graft.operators.Profiling.histDaily(mem.toDF())
      .writeStream.outputMode("complete")
      .format("graft_orders").option("table", "hist_daily_store")
      .option("checkpointLocation", dir.resolve("ck").toString)
      .start()
    try {
      def ev(id: Long, day: Int, v: Double) =
        UserEvent(id, Timestamp.valueOf(s"2024-01-0$day 00:01:00"),
          id % 3, "click", v)
      val b1 = (0 until 8).map(i => ev(i, 1, i.toDouble))
      val b2 = (0 until 8).map(i => ev(8L + i, 2, 30.0 + i))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = (b1 ++ b2).toDF()
      def stored() = spark.read.format("graft_orders")
        .option("table", "hist_daily_store").load()
      // the PHYSICALLY stored table is exactly the current sketch —
      // the second epoch replaced the first's snapshot, no epoch
      // concatenation
      assert(stored().as[(String, Long, Long, Long)].collect().toSet ===
        graft.operators.Profiling.histDaily(all)
          .as[(String, Long, Long, Long)].collect().toSet)
      // rolling quantiles served straight from the store (the DSv2
      // read deduplicates its own leaf — no snapshot copy needed,
      // unlike the MemorySink view in the previous test)
      val served = graft.operators.Profiling.histRollingFromDaily(stored())
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      val batch = graft.operators.Profiling.histRolling(all)
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      assert(served === batch)
    } finally { q.stop(); GraftStore.drop("hist_daily_store") }
  }

  test("streaming dow baseline: scores served from the PHYSICAL graft_orders store equal batch") {
    implicit val sc = spark.sqlContext
    import graft.sources.v2.GraftStore
    import graft.operators.Windows
    val mem = MemoryStream[UserEvent]
    val dir = SparkTestBase.tempDir("graft-dow-store")
    val q = Windows.dailyCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("graft_orders").option("table", "dow_daily_store")
      .option("checkpointLocation", dir.resolve("ck").toString)
      .start()
    try {
      // three Mondays with counts 1/1/4 + one Sunday (as the batch spec)
      def ev(id: Long, d: String) =
        UserEvent(id, Timestamp.valueOf(s"$d 12:00:00"), id % 3, "click", 0.0)
      val b1 = Seq(ev(1, "2024-01-01"), ev(2, "2024-01-08"), ev(3, "2024-01-07"))
      val b2 = (4 to 7).map(i => ev(i, "2024-01-15"))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = (b1 ++ b2).toDF()
      def stored() = spark.read.format("graft_orders")
        .option("table", "dow_daily_store").load()
      // the stored daily state folds into exactly the batch baseline
      val servedBase = Windows.dowBaselineFromDaily(stored())
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val batchBase = Windows.dowBaseline(all)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(servedBase === batchBase && servedBase.nonEmpty)
      // and scoring a batch against the store-served baseline ≡ self-contained
      val served = Windows.dowAnomalyAgainst(all, Windows.dowBaselineFromDaily(stored()))
        .collect().toSet
      assert(served === Windows.dowAnomaly(all).collect().toSet && served.nonEmpty)
    } finally { q.stop(); GraftStore.drop("dow_daily_store") }
  }

  test("streaming A/B moments: readout served from the PHYSICAL graft_orders store equals batch") {
    implicit val sc = spark.sqlContext
    import graft.sources.v2.GraftStore
    import graft.operators.Windows
    val mem = MemoryStream[UserEvent]
    val dir = SparkTestBase.tempDir("graft-ab-store")
    val q = Windows.abMoments(mem.toDF())
      .writeStream.outputMode("complete")
      .format("graft_orders").option("table", "ab_moments_store")
      .option("checkpointLocation", dir.resolve("ck").toString)
      .start()
    try {
      def ev(id: Long, u: Long, t: String, v: Double) =
        UserEvent(id, Timestamp.valueOf("2024-01-01 12:00:00"), u, t, v)
      // the hand-computed batch fixture, split across two micro-batches
      // (md5-hash60 % 2 arms: users 1,2 → arm 0; 3,4 → arm 1)
      val b1 = Seq(ev(1, 1, "a", 1.0), ev(2, 2, "a", 3.0),
        ev(3, 3, "a", 1.0), ev(4, 4, "a", 3.0))
      val b2 = Seq(ev(5, 1, "b", 1.0), ev(6, 2, "b", 2.0),
        ev(7, 3, "b", 5.0), ev(8, 4, "b", 6.0))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = (b1 ++ b2).toDF()
      def stored() = spark.read.format("graft_orders")
        .option("table", "ab_moments_store").load()
      val served = Windows.abTestFromMoments(stored()).collect().toSet
      assert(served === Windows.abTest(all).collect().toSet && served.size === 2)
    } finally { q.stop(); GraftStore.drop("ab_moments_store") }
  }

  test("rolling vector index: assets accepted in generation N gate generation N+1 without restart") {
    implicit val sc = spark.sqlContext
    val dir = SparkTestBase.tempDir("graft-media-roll")
    val out = dir.resolve("store").toString; val ck = dir.resolve("ck").toString
    // stub embedding samples codepoints at stride 7: a 14-char payload
    // exposes only positions 0 and 7, so editing position 2 changes the
    // bytes (md5) but NOT the embedding — the re-encoded-asset shape
    // the exact fingerprint gate upstream cannot catch
    val genA = "abcdefgzyxwvut"
    val nearDup = "abQdefgzyxwvut" // same chars at 0 and 7 → cosine 1.0
    // different sampled chars (z..a vs a..z): cosine ≈ 0.974 < 0.995
    val fresh = "zxxxxxxaxxxxxx"
    // generation 0: empty vector index, gates nothing
    val roll = streaming.RollingIndex.media(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val mem = MemoryStream[DocEvent]
    // cadence 1: the epilogue re-embeds the accepted output and rolls
    // the generation after every committed batch
    val q = StreamPipeline.mediaDedupStream(mem.toDF(), out, ck,
      rollingIndex = roll, autoRefreshEvery = 1).start()
    try {
      mem.addData(DocEvent(70, genA, "en", "s0", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      assert(StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet === Set(70L))
      // no manual refresh — the epilogue must have rolled the index
      mem.addData(
        DocEvent(71, nearDup, "en", "s0", Timestamp.valueOf("2024-01-01 00:02:00")),
        DocEvent(72, fresh, "en", "s0", Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = StreamPipeline.readUpserted(spark, out)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(70L, 72L),
        s"generation-N acceptance did not gate its N+1 embedding near-dup: $ids")
    } finally q.stop()
  }

  test("streaming funnel emits exactly the batch funnel's completions, across batches") {
    implicit val sc = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.funnelStream(mem.toDF())
      .writeStream.format("memory").queryName("funnel_mem")
      .outputMode("append").start()
    try {
      // batch 1: user 1 views + a decoy purchase BEFORE any click;
      // user 2 clicks before viewing; user 3 ties view/click timestamps
      mem.addData(
        UserEvent(1, ts(1), 1, "view", 0.0),
        UserEvent(2, ts(2), 1, "purchase", 0.0),
        UserEvent(5, ts(1), 2, "click", 0.0),
        UserEvent(6, ts(2), 2, "view", 0.0),
        UserEvent(7, ts(1), 3, "view", 0.0),
        UserEvent(8, ts(1), 3, "click", 0.0))
      q.processAllAvailable()
      assert(spark.table("funnel_mem").count() === 0)
      // batch 2: user 1's click then purchase — the chain completes
      // ACROSS batches off persisted state, and the decoy stays dead
      mem.addData(
        UserEvent(3, ts(3), 1, "click", 0.0),
        UserEvent(4, ts(5), 1, "purchase", 0.0))
      q.processAllAvailable()
      val got = spark.table("funnel_mem")
        .as[(Long, Long, Long, Long)].collect().toSet
      val expected = Windows.funnel(Seq(
          (1L, ts(1), 1L, "view", 0.0), (2L, ts(2), 1L, "purchase", 0.0),
          (3L, ts(3), 1L, "click", 0.0), (4L, ts(5), 1L, "purchase", 0.0),
          (5L, ts(1), 2L, "click", 0.0), (6L, ts(2), 2L, "view", 0.0),
          (7L, ts(1), 3L, "view", 0.0), (8L, ts(1), 3L, "click", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .filter(col("depth") === 3)
        .select("user_id", "t1_us", "t2_us", "t3_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === expected && got === Set((1L,
        ts(1).getTime * 1000, ts(3).getTime * 1000, ts(5).getTime * 1000)))
      // a second purchase must not re-emit a completed funnel
      mem.addData(UserEvent(9, ts(7), 1, "purchase", 0.0))
      q.processAllAvailable()
      assert(spark.table("funnel_mem").count() === 1)
    } finally q.stop()
  }

  test("funnel latency served from the streaming conversion sink equals batch on completions") {
    implicit val sc = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq(
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(1), 1L, "click", 0.0),
      (3L, ts(5), 1L, "purchase", 0.0),
      (4L, ts(0), 2L, "view", 0.0), (5L, ts(8), 2L, "click", 0.0),
      (6L, ts(9), 2L, "purchase", 0.0),
      // user 3 never purchases: contributes a view_click gap to the
      // BATCH profile but is invisible to the completed-conversion
      // serve — the spec compares on the completed subset
      (7L, ts(0), 3L, "view", 0.0), (8L, ts(2), 3L, "click", 0.0))
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.funnelStream(mem.toDF())
      .writeStream.format("memory").queryName("funnel_lat_mem")
      .outputMode("append").start()
    try {
      mem.addData(rows.map(r => UserEvent(r._1, r._2, r._3, r._4, r._5)))
      q.processAllAvailable()
      val served = graft.operators.Profiling
        .funnelLatencyFrom(spark.table("funnel_lat_mem"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val completed = Windows.funnel(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .filter(col("depth") === 3)
      val expect = graft.operators.Profiling.funnelLatencyFrom(completed)
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(served === expect && served.nonEmpty)
      // gaps: view->click 60 s (bucket 24, edge 64) and 480 s (bucket
      // 36, edge 512); click->purchase 240 s (edge 256) and 60 s
      assert(served === Set(("view_click", 2L, 64.0, 512.0, 512.0),
        ("click_purchase", 2L, 64.0, 256.0, 256.0)))
    } finally q.stop()
  }

  test("streaming session covisit: store-served pairs and shelf equal the batch build, stale provisionals tombstone") {
    implicit val sc = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def ev(id: Long, u: Long, m: Int, item: Int) =
      PropsEvent(id, ts(m), u, "view", 0.0, s"""{"k": $item}""")
    // capPerSession = 2 so within-session re-ranking is exercisable
    // with a handful of items
    val b1 = Seq(
      // user 1, open session: 5:1, 7:2 → provisional pair (5,7)
      ev(1, 1, 0, 5), ev(2, 1, 1, 7), ev(3, 1, 2, 7),
      // user 2, open session: 5, 7
      ev(4, 2, 0, 5), ev(5, 2, 1, 7))
    val b2 = Seq(
      // user 1, same session: 9 arrives ×3 → counts 5:1, 7:2, 9:3, the
      // cap-2 survivors become {7, 9} and the provisional (5,7) must
      // TOMBSTONE; then a >5 min gap closes the session (closed pair
      // (7,9)) and a new session opens on {5, 9}
      ev(6, 1, 3, 9), ev(7, 1, 4, 9), ev(8, 1, 5, 9),
      ev(9, 1, 20, 5), ev(10, 1, 21, 9),
      // user 2: the gap closes session 1 (pair (5,7)) and session 2
      // re-pairs (5,7) — cumulative 2
      ev(11, 2, 20, 5), ev(12, 2, 21, 7),
      // user 3, one session: {5, 9}
      ev(13, 3, 0, 5), ev(14, 3, 1, 9))
    val mem = MemoryStream[PropsEvent]
    val dir = SparkTestBase.tempDir("graft-covisit-store")
    val out = dir.resolve("store").toString
    val q = StreamPipeline.upsertEnriched(
        StreamPipeline.covisitSessionStream(mem.toDF(), capPerSession = 2),
        out, dir.resolve("ck").toString, keyCol = "pair_key")
      .start()
    try {
      // deliberately out of event-time order WITHIN each batch: the
      // maintainer sorts its group by (ts, event_id) before folding,
      // so arrival order inside a micro-batch must not matter
      mem.addData(b1.reverse: _*); q.processAllAvailable()
      mem.addData(b2.reverse: _*); q.processAllAvailable()
      val stored = StreamPipeline.readUpserted(spark, out)
      // the stale provisional (user 1's (5,7)) was overwritten with an
      // explicit zero — never a stale nonzero in the keyed store
      assert(stored.filter(col("user_id") === 1 && col("item_a") === 5 &&
        col("item_b") === 7).select("n_sessions").as[Long].collect().toSeq === Seq(0L))
      // per-user rows are user-disjoint shards: the covisit merge law
      // folds the store into the corpus pair table — ≡ batch build
      val all = (b1 ++ b2).toDF()
      val merged = Windows.covisitSessionMerge(
        Seq(stored.select("item_a", "item_b", "n_sessions")))
      assert(merged.as[(Long, Long, Long)].collect().toSet ===
        Windows.covisitSession(all, capPerSession = 2)
          .as[(Long, Long, Long)].collect().toSet)
      assert(merged.as[(Long, Long, Long)].collect().toSet ===
        Set((5L, 7L, 2L), (5L, 9L, 2L)))
      // the shelf read from the store-served pair table ≡ the batch
      // shelf — no event replay anywhere in the serve plan
      assert(Windows.alsoViewedSessionFrom(merged)
          .as[(Long, Long, Long, Long)].collect().toSet ===
        Windows.alsoViewedSession(all, capPerSession = 2)
          .as[(Long, Long, Long, Long)].collect().toSet)
    } finally q.stop()
  }

  test("streaming lifetime covisit: store-served pairs and shelf equal the batch build, re-ranked pairs tombstone") {
    implicit val sc = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def ev(id: Long, u: Long, m: Int, item: Int) =
      PropsEvent(id, ts(m), u, "view", 0.0, s"""{"k": $item}""")
    // capPerUser = 2 so lifetime re-ranking is exercisable
    val b1 = Seq(
      // user 1: items 5, 7 → indicator pair (5,7)
      ev(1, 1, 0, 5), ev(2, 1, 1, 7),
      // user 2: items 5, 7
      ev(3, 2, 0, 5), ev(4, 2, 1, 7))
    val b2 = Seq(
      // user 1: 9 arrives ×3 → lifetime counts 5:1, 7:1, 9:3; cap-2
      // survivors {9, 5} (count desc, item tie-break keeps 5 over 7),
      // so (5,7) must TOMBSTONE and (5,9) assert — an indicator flip,
      // not a count bump
      ev(5, 1, 2, 9), ev(6, 1, 3, 9), ev(7, 1, 4, 9),
      // user 3: items 7, 9; user 4: items 5, 9 → (5,9) reaches
      // support 2 across user-disjoint shards
      ev(8, 3, 0, 7), ev(9, 3, 1, 9),
      ev(10, 4, 0, 5), ev(11, 4, 1, 9))
    val mem = MemoryStream[PropsEvent]
    val dir = SparkTestBase.tempDir("graft-covisit-life-store")
    val out = dir.resolve("store").toString
    val q = StreamPipeline.upsertEnriched(
        StreamPipeline.covisitStream(mem.toDF(), capPerUser = 2),
        out, dir.resolve("ck").toString, keyCol = "pair_key")
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val stored = StreamPipeline.readUpserted(spark, out)
      // the re-ranked pair (user 1's (5,7)) was overwritten with an
      // explicit zero — never a stale nonzero in the keyed store
      assert(stored.filter(col("user_id") === 1 && col("item_a") === 5 &&
        col("item_b") === 7).select("n_users").as[Long].collect().toSeq === Seq(0L))
      // indicator semantics: 9 interacted 3× but (5,9) asserts as 1
      assert(stored.filter(col("user_id") === 1 && col("item_a") === 5 &&
        col("item_b") === 9).select("n_users").as[Long].collect().toSeq === Seq(1L))
      // user-disjoint shards fold by the covisit merge law ≡ batch
      val all = (b1 ++ b2).toDF()
      val merged = Windows.covisitMerge(
        Seq(stored.select("item_a", "item_b", "n_users")))
      assert(merged.as[(Long, Long, Long)].collect().toSet ===
        Windows.covisit(all, capPerUser = 2)
          .as[(Long, Long, Long)].collect().toSet)
      assert(merged.as[(Long, Long, Long)].collect().toSet ===
        Set((5L, 9L, 2L)))
      // the shelf read from the store-served pair table ≡ the batch shelf
      assert(Windows.alsoViewedFrom(merged)
          .as[(Long, Long, Long, Long)].collect().toSet ===
        Windows.alsoViewed(all, capPerUser = 2)
          .as[(Long, Long, Long, Long)].collect().toSet)
    } finally q.stop()
  }

  test("flatMapGroupsWithState milestone alerts: cross-threshold emission and batch-order independence (X6)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.milestoneAlerts(mem.toDF(), threshold = 10.0)
      .writeStream.format("memory").queryName("mile_mem")
      .outputMode("append").start()
    try {
      // deliberately out of event-time order within the batch
      mem.addData(
        UserEvent(2, Timestamp.valueOf("2024-01-01 00:02:00"), 7, "click", 6.0),
        UserEvent(1, Timestamp.valueOf("2024-01-01 00:01:00"), 7, "click", 5.0),
        UserEvent(3, Timestamp.valueOf("2024-01-01 00:03:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // sorted replay: 5.0 → 11.0 (crosses 10, milestone 1 at n=2) → 12.0
      val got = spark.table("mile_mem")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(got === Set((7L, 2L, 11.0, 1L)))
      // state persists across micro-batches: next event crosses 20
      mem.addData(UserEvent(4, Timestamp.valueOf("2024-01-01 00:04:00"), 7, "click", 9.0))
      q.processAllAvailable()
      val got2 = spark.table("mile_mem")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(got2 === Set((7L, 2L, 11.0, 1L), (7L, 4L, 21.0, 2L)))
    } finally q.stop()
  }

  test("streaming HLL folds registers across batches to the batch sketch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = Profiling.hllRegisters(mem.toDF())
      .writeStream.format("memory").queryName("hll_mem")
      .outputMode("complete").start()
    try {
      val day1 = (1 to 120).map(u =>
        UserEvent(u, Timestamp.valueOf("2024-01-01 08:00:00"), u, "click", 1.0))
      val day2 = (1 to 5).map(u =>
        UserEvent(200 + u, Timestamp.valueOf("2024-01-02 09:00:00"),
          1000L + u, "view", 1.0))
      // split day 1 across two micro-batches: the second fold must
      // merge into the first batch's persisted registers
      mem.addData(day1.take(60): _*)
      q.processAllAvailable()
      mem.addData((day1.drop(60) ++ day2): _*)
      q.processAllAvailable()
      val all = (day1 ++ day2).toDF()
      // snapshot the sink first: the rolling fold self-joins its input,
      // and a MemorySink view can't deduplicate its own leaf
      val stored = spark.table("hll_mem").localCheckpoint()
      val served = Profiling.hllUsersFromRegisters(stored)
        .select(col("day"), col("hll_users"))
        .as[(Long, Double)].collect().toMap
      val batch = Profiling.hllUsers(all)
        .select(col("day"), col("hll_users"))
        .as[(Long, Double)].collect().toMap
      assert(served === batch)
      // the streamed register table feeds the other serve folds too
      assert(Profiling.hllGlobalFromRegisters(stored).collect().toSeq ===
        Profiling.hllUsersGlobal(all).select("v_empty", "hll_users")
          .collect().toSeq)
      assert(Profiling.rollingActiveFromRegisters(stored)
        .as[(Long, Long, Double)].collect().toSet ===
        Profiling.rollingActiveHll(all).as[(Long, Long, Double)].collect().toSet)
    } finally q.stop()
  }

  test("streaming KMV merges k-min signatures across batches to the batch sketch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.audienceKmvStream(mem.toDF(), k = 8)
      .writeStream.format("memory").queryName("kmv_mem")
      .outputMode("update").start()
    try {
      // day 1: 40 distinct users (> k, so the signature saturates and
      // later batches must EVICT); day 2: 3 users (< k, stays partial);
      // duplicates within and across batches must not move the set
      val day1 = (1 to 40).map(u =>
        UserEvent(u, Timestamp.valueOf("2024-01-01 08:00:00"), u, "click", 1.0))
      val day2 = (1 to 3).map(u =>
        UserEvent(100 + u, Timestamp.valueOf("2024-01-02 09:00:00"),
          1000L + u, "view", 1.0))
      mem.addData(day1.take(20): _*)
      q.processAllAvailable()
      mem.addData((day1.drop(20) ++ day1.take(5) ++ day2): _*)
      q.processAllAvailable()
      val rows = spark.table("kmv_mem").as[(Long, Seq[Long])].collect()
      // update mode re-emits day 1 once per batch it appears in
      assert(rows.count(_._1 === 19723L) === 2)
      // the LAST emission per day carries the fully merged signature;
      // emissions are Seq-ordered by batch in the memory sink, so take
      // the final occurrence
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (d, rs) => d -> rs.maxBy(_._2)._1._2 }
      val batch = graft.operators.Profiling
        .kmvSignatures((day1 ++ day2).toDF(), k = 8)
        .groupBy(col("day")).agg(sort_array(collect_list(col("h"))).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(latest.keySet === batch.keySet)
      latest.foreach { case (d, sig) =>
        assert(sig === batch(d), s"day $d signature mismatch")
        assert(sig.size <= 8)
      }
    } finally q.stop()
  }

  test("streaming anomaly scorer fires against the stored baseline like the batch serve path") {
    implicit val sc = spark.sqlContext
    def t(d: Int, h: Int, m: Int) =
      Timestamp.valueOf(f"2024-01-0$d%d $h%02d:$m%02d:00")
    // baseline trained on day 1: type a hourly counts [1,1,1,1,9]
    val train = (Seq.tabulate(4)(h => ("a", t(1, h, 1))) ++
      Seq.tabulate(9)(m => ("a", t(1, 4, m + 1))))
      .map { case (tp, ts) => (0L, ts, 0L, tp, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val baseline = graft.operators.Windows.rateBaseline(train).localCheckpoint()
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.anomalyStream(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("anom_mem")
      .outputMode("complete").start()
    try {
      // day 2, split across micro-batches: hour 0 accumulates 10 "a"
      // events (z = 2.3125), hour 1 only 2 (unflagged), plus an
      // unknown type that must drop silently
      mem.addData((1 to 6).map(m =>
        UserEvent(m, t(2, 0, m), m, "a", 1.0)): _*)
      q.processAllAvailable()
      mem.addData(((7 to 10).map(m => UserEvent(m, t(2, 0, m), m, "a", 1.0)) ++
        Seq(UserEvent(11, t(2, 1, 1), 1, "a", 1.0),
          UserEvent(12, t(2, 1, 2), 2, "a", 1.0),
          UserEvent(13, t(2, 0, 1), 3, "zz", 1.0))): _*)
      q.processAllAvailable()
      val got = spark.table("anom_mem")
        .as[(String, Long, Long, Double)].collect().toSet
      val allDay2 = ((1 to 10).map(m => UserEvent(m, t(2, 0, m), m, "a", 1.0)) ++
        Seq(UserEvent(11, t(2, 1, 1), 1, "a", 1.0),
          UserEvent(12, t(2, 1, 2), 2, "a", 1.0),
          UserEvent(13, t(2, 0, 1), 3, "zz", 1.0))).toDF()
      val batch = graft.operators.Windows.rateAnomalyAgainst(allDay2, baseline)
        .as[(String, Long, Long, Double)].collect().toSet
      assert(got === batch && got.size === 1)
      assert(got.head._4 === 2.3125)
    } finally q.stop()
  }

  test("streaming bot-score folds per-user stats across batches to the batch audit") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamPipeline.botScoreStream(mem.toDF())
      .writeStream.format("memory").queryName("bot_mem")
      .outputMode("update").start()
    try {
      // user 7: 6 clicks in one day (high rate, zero entropy → bot);
      // user 8: 4 mixed events over two days (diverse → clean)
      val b1 = (1 to 3).map(i =>
        UserEvent(i, Timestamp.valueOf("2024-01-01 08:00:00"), 7, "click", 1.0)) ++
        Seq(UserEvent(10, Timestamp.valueOf("2024-01-01 09:00:00"), 8, "view", 1.0),
          UserEvent(11, Timestamp.valueOf("2024-01-01 10:00:00"), 8, "click", 1.0))
      val b2 = (4 to 6).map(i =>
        UserEvent(i, Timestamp.valueOf("2024-01-01 11:00:00"), 7, "click", 1.0)) ++
        Seq(UserEvent(12, Timestamp.valueOf("2024-01-02 09:00:00"), 8, "buy", 1.0),
          UserEvent(13, Timestamp.valueOf("2024-01-02 10:00:00"), 8, "view", 1.0))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val rows = spark.table("bot_mem")
        .as[(Long, Long, Long, Long, Double, Double, Boolean)].collect()
      // update mode: each user re-emits once per batch it appears in
      assert(rows.count(_._1 === 7L) === 2)
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      val batch = graft.operators.Profiling.botScore((b1 ++ b2).toDF())
        .as[(Long, Long, Long, Long, Double, Double, Boolean)]
        .collect().map(r => r._1 -> r).toMap
      assert(latest === batch)
      assert(latest(7L)._7 && !latest(8L)._7)
    } finally q.stop()
  }
}
