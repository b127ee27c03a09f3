package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.sources.{Formats, Tables}

/** Storage breadth: every built-in format round-trips the corpus
  * byte-identically, and the columnar formats prune/push down. */
class FormatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def docs = Tables(spark, SparkTestBase.sf0001, "documents")

  test("documents round-trip through every supported format") {
    import spark.implicits._
    // include an EMPTY document: csv's default writer emits it as a
    // bare empty field, which reads back as NULL — the quoted
    // emptyValue in Formats.write must preserve it
    val src = docs.unionByName(Seq((99999L, "", "en", "srcE", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val expected = src.collect().toSet
    Formats.supported.foreach { fmt =>
      val dir = SparkTestBase.tempDir(s"graft-fmt-$fmt").toString
      Formats.write(src, dir, fmt)
      val back = Formats.read(spark, dir, fmt, src.schema)
      assert(back.schema === src.schema, s"$fmt schema drift")
      assert(back.collect().toSet === expected, s"$fmt content drift")
    }
  }

  test("partitioned parquet write prunes partitions at plan time") {
    val dir = SparkTestBase.tempDir("graft-fmt-part").toString
    val ev = Tables(spark, SparkTestBase.sf0001, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    Formats.write(ev, dir, "parquet", partitionBy = Seq("event_type"))
    val q = Formats.read(spark, dir, "parquet")
      .filter(col("event_type") === "click")
    val scan = q.queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    // the filter became a PARTITION filter: directories skipped, not rows
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")))
    assert(scan.relation.location.inputFiles.length >
      scan.selectedPartitions.totalNumberOfFiles,
      "pruning should select a strict subset of files")
    val total = ev.filter(col("event_type") === "click").count()
    assert(q.count() === total && total > 0)
  }

  test("bucketed tables join with no shuffle exchange on either side") {
    import org.apache.spark.sql.functions.sum
    val wh = SparkTestBase.tempDir("graft-bkt-wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bkt LOCATION '$wh'")
    val orders = Tables(spark, SparkTestBase.sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables(spark, SparkTestBase.sf0001, "customer")
      .select("c_custkey", "c_name")
    Formats.writeBucketed(orders, "bkt.orders_b", 4,
      Seq("o_custkey"), sortCols = Seq("o_custkey"))
    Formats.writeBucketed(customer, "bkt.customer_b", 4,
      Seq("c_custkey"), sortCols = Seq("c_custkey"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val j = spark.table("bkt.orders_b").join(spark.table("bkt.customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey").agg(sum("o_totalprice"))
      val p = j.queryExecution.executedPlan.toString
      // both sides arrive hash-partitioned from the FILES: the join
      // and the key-aligned aggregation above it need no shuffle
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SortMergeJoin"), p)
      assert(j.count() === orders.join(customer,
        col("o_custkey") === col("c_custkey")).select("c_custkey").distinct().count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
  }

  test("binaryFile ingestion globs, caps length, and preserves bytes") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("graft-bin")
    java.nio.file.Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(dir.resolve("b.img"), Array.fill[Byte](64)(7))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](9))
    val got = Formats.readBinary(spark, dir.toString, glob = "*.img", maxBytes = 32L)
      .select("path", "content").as[(String, Array[Byte])].collect()
    // glob drops the .txt; the length cap drops the 64-byte blob
    assert(got.length === 1 && got.head._1.endsWith("a.img"))
    assert(got.head._2.toSeq === Seq[Byte](1, 2, 3, 4))
    // the content column feeds the X5 kernels directly
    val feats = got.map(_._2.length).sum
    assert(feats === 4)
  }

  test("compaction collapses a many-small-files directory, content preserved") {
    val in = SparkTestBase.tempDir("graft-compact-in").toString
    val out = SparkTestBase.tempDir("graft-compact-out").toString + "/d"
    // 40 tiny files (one per partition)
    docs.repartition(40).write.mode("overwrite").parquet(in)
    val (before, after) = Formats.compact(spark, in, out, "parquet")
    assert(before === 40, s"setup wrote $before files")
    assert(after < 5, s"compaction left $after files")
    assert(spark.read.parquet(out).collect().toSet === docs.collect().toSet)
  }

  test("compaction preserves a hive-partitioned layout, per partition") {
    val in = SparkTestBase.tempDir("graft-compact-pin").toString
    val out = SparkTestBase.tempDir("graft-compact-pout").toString + "/d"
    // 10 tiny files inside EACH lang= partition directory
    docs.repartition(10).write.mode("overwrite").partitionBy("lang").parquet(in)
    def perPartition(root: String) = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("lang="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).toMap
    val inCounts = perPartition(in)
    assert(inCounts.nonEmpty && inCounts.values.forall(_ > 5), inCounts.toString)
    val (before, after) = Formats.compact(spark, in, out, "parquet")
    assert(before === inCounts.values.sum, s"counted $before input files")
    // same partition directories survive, each collapsed to a few files
    val outCounts = perPartition(out)
    assert(outCounts.keySet === inCounts.keySet, outCounts.toString)
    assert(outCounts.values.forall(_ < 5), outCounts.toString)
    assert(after === outCounts.values.sum, s"counted $after output files")
    // identical rows INCLUDING the partition column (re-selected in the
    // source order: a partitioned read appends partition columns last)
    assert(spark.read.parquet(out).select(docs.columns.map(col): _*)
      .collect().toSet === docs.collect().toSet)
  }

  test("compaction refuses same or nested in/out directories") {
    val dir = SparkTestBase.tempDir("graft-compact-guard").toString
    docs.limit(10).write.mode("overwrite").parquet(dir)
    // textual variants of the SAME path must be caught (trailing slash)
    intercept[IllegalArgumentException](Formats.compact(spark, dir, dir + "/"))
    intercept[IllegalArgumentException](Formats.compact(spark, dir, dir + "/nested"))
    intercept[IllegalArgumentException](Formats.compact(spark, dir + "/nested", dir))
  }

  test("parquet mergeSchema unifies drifted generations (schema evolution)") {
    import spark.implicits._
    // generation 1 lacks the column generation 2 added — the standard
    // crawl-over-time drift; a merged read must surface the union
    // schema with nulls for the older generation
    val dir = SparkTestBase.tempDir("graft-fmt-drift").toString
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/g=1")
    Seq((2L, "b", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/g=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang", "g"))
    val rows = merged.select("doc_id", "lang").as[(Long, Option[String])]
      .collect().toMap
    assert(rows === Map(1L -> None, 2L -> Some("en")))
  }

  test("permissive json read captures corrupt records instead of dropping them") {
    import spark.implicits._
    // ingestion robustness: one malformed line in a billion-line crawl
    // must neither kill the job (FAILFAST) nor vanish silently — the
    // corrupt text lands in its own column for quarantine
    val dir = SparkTestBase.tempDir("graft-fmt-corrupt")
    val f = dir.resolve("part-0.json")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "good"}
        |{"doc_id": 2, "text": BROKEN
        |{"doc_id": 3, "text": "also good"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, _corrupt_record STRING")
    val got = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
    // cache before splitting on the corrupt column: Spark forbids
    // filtering ONLY on _corrupt_record over a lazy json relation
    got.cache()
    try {
      assert(got.count() === 3)
      assert(got.filter(col("_corrupt_record").isNotNull).count() === 1)
      assert(got.filter(col("_corrupt_record").isNull)
        .select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    } finally got.unpersist()
  }

  test("orc predicate pushdown reaches the scan") {
    val dir = SparkTestBase.tempDir("graft-fmt-orc").toString
    Formats.write(docs, dir, "orc")
    val q = Formats.read(spark, dir, "orc", docs.schema)
      .filter(col("doc_id") >= 40)
    val scan = q.queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(doc_id,40)"))
    assert(q.count() === docs.filter(col("doc_id") >= 40).count())
  }
}
