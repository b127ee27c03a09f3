package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The DataSource V2 order-generator connector: planning, pruning,
  * determinism, and reference-producer distributions. */
class DataSourceV2Spec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def orders(n: Long, parts: Int = 8) =
    spark.read.format("graft_orders")
      .option("numRows", n.toString).option("numPartitions", parts.toString)
      .load()

  test("short-name registration, row count, and split planning") {
    val df = orders(1000, 8)
    assert(df.count() === 1000)
    assert(df.rdd.getNumPartitions === 8)
    assert(df.columns.toSeq === Seq("id", "orderID", "customerID", "amount"))
  }

  test("id-range pushdown prunes split planning exactly") {
    val df = orders(1000, 8).where($"id" >= 250 && $"id" < 500)
    // filters fully absorbed: values exact with no post-scan re-filter
    val (lo, hi, n) = df.agg(min("id"), max("id"), count("*"))
      .as[(Long, Long, Long)].head()
    assert((lo, hi, n) === (250L, 499L, 250L))
    // split size stays numRows/numPartitions = 125 → 2 splits, not 8
    assert(df.rdd.getNumPartitions === 2)
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("PushedIdRange: [250, 500)"))
  }

  test("aggregate pushdown: count/min/max over id answer closed-form, one row, no generation") {
    val df = orders(100000000L, 8).where($"id" >= 100 && $"id" < 90000000L)
      .agg(count("*"), min("id"), max("id"))
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("PushedAggregates"), scan.scan.description())
    // 100M rows would take minutes to generate; the closed-form answer
    // coming back instantly IS the pushdown working
    assert(df.as[(Long, Long, Long)].head() === (89999900L, 100L, 89999999L))
  }

  test("aggregate pushdown declines payload columns and DISTINCT; results match the row scan") {
    val df = orders(1000, 4).agg(min("amount"), max("amount"), countDistinct("id"))
    // countDistinct plans exchanges, so AQE hides BatchScanExec until
    // execution — assert on the optimized plan's scan instead
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.nonEmpty && !scans.head.description().contains("PushedAggregates"),
      scans.map(_.description()).mkString)
    val (lo, hi, n) = df.as[(Long, Long, Long)].head()
    assert(n === 1000L && lo >= 20L && hi <= 499L)
  }

  test("aggregate pushdown over an empty pruned range: count 0, null extrema") {
    val df = orders(1000, 4).where($"id" >= 5000)
      .agg(count("*"), min("id"))
    val row = df.collect().head
    assert(row.getLong(0) === 0L && row.isNullAt(1))
  }

  test("columnar read path: vectorized scan plans ColumnarToRow and matches the row reader") {
    def colOrders(n: Long, parts: Int = 8) =
      spark.read.format("graft_orders")
        .option("numRows", n.toString).option("numPartitions", parts.toString)
        .option("columnar", "true").load()
    // 10000 rows > VectorCapacity forces multiple batches per split at
    // parts=2, plus a tail batch shorter than the capacity
    val row = orders(10000, 2).collect().toSet
    val vec = colOrders(10000, 2)
    assert(vec.collect().toSet === row)
    // the scan itself must be columnar: a ColumnarToRow boundary sits
    // above the BatchScan (absent from the row-based plan)
    def hasColumnarBoundary(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.exists {
        case _: org.apache.spark.sql.execution.ColumnarToRowExec => true
        case _ => false
      }
    assert(hasColumnarBoundary(vec))
    assert(!hasColumnarBoundary(orders(10000, 2)))
    // pruning and pushdown still reach the columnar scan
    val pruned = colOrders(1000, 8).where($"id" >= 250 && $"id" < 500)
      .select("customerID")
    assert(pruned.count() === 250)
    val scan = pruned.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("PushedIdRange: [250, 500)"))
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("customerID"))
    // zero-column projection (count(*)) rides on ColumnarBatch.numRows
    assert(colOrders(5000, 4).count() === 5000)
  }

  test("mem-table write path round-trips byte-identical rows") {
    val src = orders(300, 4)
    src.write.format("graft_orders").option("table", "rt").mode("overwrite").save()
    val back = spark.read.format("graft_orders").option("table", "rt").load()
    assert(back.schema === src.schema)
    assert(back.collect().toSet === src.collect().toSet)
    src.write.format("graft_orders").option("table", "rt").mode("append").save()
    assert(spark.read.format("graft_orders").option("table", "rt").load().count() === 600)
    orders(10, 2).write.format("graft_orders").option("table", "rt").mode("overwrite").save()
    assert(spark.read.format("graft_orders").option("table", "rt").load().count() === 10)
    graft.sources.v2.GraftStore.drop("rt")
  }

  test("streaming write: generator source to mem-table sink, exactly-once across restarts") {
    import graft.sources.v2.GraftStore
    val dir = SparkTestBase.tempDir("graft-dsv2-swrite")
    val ck = dir.resolve("ck").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_orders")
        .option("numRows", "100").option("numPartitions", "4").load()
        .writeStream.format("graft_orders").option("table", "sw")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      runOnce()
      val readBack = spark.read.format("graft_orders").option("table", "sw").load()
      assert(readBack.count() === 100)
      // rows round-trip byte-identical vs the batch read of the same ids
      assert(readBack.collect().toSet === orders(100, 4).collect().toSet)
      // restart resumes the cursor: next 100 ids appended, none replayed
      runOnce()
      val all = spark.read.format("graft_orders").option("table", "sw").load()
      assert(all.count() === 200)
      assert(all.select("orderID").distinct().count() === 200)
    } finally GraftStore.drop("sw")
  }

  test("streaming write commit is epoch-idempotent (replayed micro-batch is a no-op)") {
    import graft.sources.v2.GraftStore
    import org.apache.spark.sql.catalyst.InternalRow
    val schema = new org.apache.spark.sql.types.StructType().add("x", "long")
    try {
      GraftStore.appendEpoch("ep", "qA", schema, 0L, Seq(InternalRow(1L)))
      GraftStore.appendEpoch("ep", "qA", schema, 1L, Seq(InternalRow(2L)))
      GraftStore.appendEpoch("ep", "qA", schema, 1L, Seq(InternalRow(2L))) // replay
      GraftStore.appendEpoch("ep", "qA", schema, 0L, Seq(InternalRow(1L))) // stale
      assert(GraftStore.rowsOf("ep").map(_.getLong(0)) === Vector(1L, 2L))
      // a NEW query (fresh checkpoint, epochs restart at 0) writing to
      // the same table must NOT be swallowed by the old query's gate
      GraftStore.appendEpoch("ep", "qB", schema, 0L, Seq(InternalRow(3L)))
      assert(GraftStore.rowsOf("ep").map(_.getLong(0)) === Vector(1L, 2L, 3L))
    } finally GraftStore.drop("ep")
  }

  test("mem-table read: filter pushdown + column pruning reach the store scan") {
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5), (4L, "a", 4.5))
      .toDF("k", "s", "v")
      .write.format("graft_orders").option("table", "push_t")
      .mode("overwrite").save()
    val df = spark.read.format("graft_orders").option("table", "push_t").load()
      .where($"s" === "a" && $"k" >= 2).select("k", "v")
    assert(df.as[(Long, Double)].collect().toSet === Set((3L, 3.5), (4L, 4.5)))
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    // pruning: partitions carry only the projected columns
    assert(scan.output.map(_.name) === Seq("k", "v"))
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("k", "v"))
    // pushdown: both predicates absorbed by the scan, visible in its
    // description, and the surviving partitions hold ONLY matching rows
    val d = scan.scan.description()
    assert(d.contains("PushedFilters") && d.contains("EqualTo(s,a)") &&
      d.contains("GreaterThanOrEqual(k,2)"), d)
    assert(scan.scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().map(_.asInstanceOf[graft.sources.v2.MemPartition].rows.size)
      .sum === 2)
    graft.sources.v2.GraftStore.drop("push_t")
  }

  test("stored covisit shelf: the item filter pushes through the union into both scans") {
    Seq((5L, 7L, 2L), (5L, 9L, 2L), (7L, 9L, 3L)).toDF("item_a", "item_b", "n_users")
      .write.format("graft_orders").option("table", "covisit_pairs")
      .mode("overwrite").save()
    val stored = spark.read.format("graft_orders")
      .option("table", "covisit_pairs").load()
    // one item's shelf: the partition-key predicate pushes below the
    // rank window, splits across the symmetrizing union, and lands in
    // BOTH store scans as item_a=5 / item_b=5 — the serve plan reads
    // only the queried item's pair rows
    val shelf = graft.operators.Windows.alsoViewedFrom(stored)
      .where(col("item") === 5L)
    assert(shelf.as[(Long, Long, Long, Long)].collect().toSet ===
      Set((5L, 7L, 2L, 1L), (5L, 9L, 2L, 2L)))
    // the window forces an exchange, so the physical plan is adaptive —
    // the scans live inside the AQE plan, not on the wrapper
    val top = shelf.queryExecution.executedPlan
    val inner = top.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }.getOrElse(top)
    val scans = inner.collect { case b: BatchScanExec => b }.map(_.scan.description())
    assert(scans.exists(_.contains("EqualTo(item_a,5)")) &&
      scans.exists(_.contains("EqualTo(item_b,5)")), scans.mkString("\n"))
    graft.sources.v2.GraftStore.drop("covisit_pairs")
  }

  test("stored session shelf: the item filter pushes through the union into both scans") {
    // the session-grain twin of the covisit-shelf pushdown pin: the
    // serve read over a stored session pair table must also touch only
    // the queried item's rows
    Seq((5L, 7L, 2L), (5L, 9L, 3L), (7L, 9L, 2L))
      .toDF("item_a", "item_b", "n_sessions")
      .write.format("graft_orders").option("table", "covisit_session_pairs")
      .mode("overwrite").save()
    val stored = spark.read.format("graft_orders")
      .option("table", "covisit_session_pairs").load()
    val shelf = graft.operators.Windows.alsoViewedSessionFrom(stored)
      .where(col("item") === 5L)
    assert(shelf.as[(Long, Long, Long, Long)].collect().toSet ===
      Set((5L, 9L, 3L, 1L), (5L, 7L, 2L, 2L)))
    val top = shelf.queryExecution.executedPlan
    val inner = top.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }.getOrElse(top)
    val scans = inner.collect { case b: BatchScanExec => b }.map(_.scan.description())
    assert(scans.exists(_.contains("EqualTo(item_a,5)")) &&
      scans.exists(_.contains("EqualTo(item_b,5)")), scans.mkString("\n"))
    graft.sources.v2.GraftStore.drop("covisit_session_pairs")
  }

  test("mem-table read: COUNT(*) answers from the registry, filters included") {
    Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "a")).toDF("k", "s")
      .write.format("graft_orders").option("table", "cnt_t")
      .mode("overwrite").save()
    def load() = spark.read.format("graft_orders").option("table", "cnt_t").load()
    assert(load().count() === 4L)
    // filter + count: the pushed predicate gates the pushed count
    val df = load().where($"s" === "a")
    assert(df.count() === 3L)
    val scan = df.groupBy().count().queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get.scan
    assert(scan.description().contains("PushedAggregates: [COUNT(*)]") &&
      scan.description().contains("EqualTo(s,a)"), scan.description())
    // one single-row partition ships — no data movement
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().toSeq match {
        case Seq(p: graft.sources.v2.MemPartition) => p.rows.size == 1
        case _ => false
      })
    // empty table still answers count 0
    graft.sources.v2.GraftStore.truncate("cnt_t", load().schema)
    assert(load().count() === 0L)
    graft.sources.v2.GraftStore.drop("cnt_t")
  }

  test("mem-table read: unsupported predicates fall back to post-scan, results exact") {
    Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0)))
      .toDF("k", "arr")
      .write.format("graft_orders").option("table", "push_u")
      .mode("overwrite").save()
    // array equality is not store-evaluable — must survive via Spark's
    // post-scan filter, never silently dropped
    val df = spark.read.format("graft_orders").option("table", "push_u").load()
      .where($"arr" === array(lit(3.0), lit(4.0)))
    assert(df.select("k").as[Long].collect().toSeq === Seq(2L))
    graft.sources.v2.GraftStore.drop("push_u")
  }

  test("mem-table append rejects a conflicting schema instead of corrupting stored rows") {
    import graft.sources.v2.GraftStore
    val a = orders(10, 2)
    a.write.format("graft_orders").option("table", "sc").mode("overwrite").save()
    try {
      val swapped = a.select(col("orderID"), col("id"), col("customerID"), col("amount"))
      val e = intercept[Exception] {
        swapped.write.format("graft_orders").option("table", "sc").mode("append").save()
      }
      assert(e.getMessage.contains("schema") ||
        Option(e.getCause).exists(_.getMessage.contains("schema")), e.toString)
      // the stored rows are untouched
      assert(spark.read.format("graft_orders").option("table", "sc").load().count() === 10)
    } finally GraftStore.drop("sc")
  }

  test("streaming read honors an id-range predicate (clamped batches)") {
    val dir = SparkTestBase.tempDir("graft-dsv2-clamp")
    val q = spark.readStream.format("graft_orders")
      .option("numRows", "100").option("numPartitions", "4").load()
      .where($"id" >= 20 && $"id" < 50)
      .writeStream.format("memory").queryName("gclamp")
      .option("checkpointLocation", dir.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("gclamp").select("id").as[Long].collect().toSet
    assert(got === (20L until 50L).toSet)
  }

  test("column pruning reaches the generator (ReadSchema shrinks)") {
    val plan = orders(100).select("customerID").queryExecution.executedPlan
    val scan = plan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.output.map(_.name) === Seq("customerID"))
  }

  test("generation is a pure function of the row id (retry-safe)") {
    val a = orders(500, 4).collect().toSet
    val b = orders(500, 16).collect().toSet // different splits, same rows
    assert(a === b)
    assert(a.size === 500) // orderIDs unique
  }

  test("streaming read: deterministic offsets resume exactly-once from the checkpoint") {
    val dir = SparkTestBase.tempDir("graft-dsv2-stream")
    val ck = dir.resolve("ck").toString
    def runOnce(out: String) = {
      val q = spark.readStream.format("graft_orders")
        .option("numRows", "100").option("numPartitions", "4").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).select("orderID").as[String].collect().toSet
    }
    val out = dir.resolve("out").toString
    val first = runOnce(out)
    assert(first.size === 100)
    // restart from the same checkpoint + sink: the cursor resumes — the
    // second run appends the NEXT 100 ids, no replayed rows
    val all = runOnce(out)
    assert(all.size === 200 && first.subsetOf(all))
    // offset range [0, 100) regenerates exactly the batch-read rows
    assert(first === orders(100, 4).select("orderID").as[String].collect().toSet)
  }

  test("distributions match the reference producer") {
    val df = orders(20000, 8)
    val (minC, maxC, meanC, minA, maxA) = df
      .agg(min("customerID"), max("customerID"), avg("customerID"),
        min("amount"), max("amount"))
      .as[(Long, Long, Double, Long, Long)].head()
    assert(minC >= 1L && maxC <= 10000L)
    assert(math.abs(meanC - 5000.0) < 200.0, s"customerID mean $meanC")
    assert(minA >= 20L && maxA <= 499L)
    // the generated stream enriches against the generated customers
    val customers = graft.gen.DataGen.customersBatch(spark, 10000)
    val enriched = graft.operators.Enrich.enrichReference(
      orders(1000, 4).withColumnRenamed("orderID", "orderID"), customers)
    assert(enriched.count() === 1000)
  }
}
