package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.gen.DataGen
import graft.operators.Enrich
import graft.sources.Tables

/** Golden port of the reference's manual "Test query" flow
  * (`README.md:182`): 5 sample orders joined against the head of the
  * customers table must produce exactly 5 enriched rows with known
  * values (FIXTURES.md §A). Fixture values mirror
  * `sample-orders.json` amounts and `customers.csv:1-5`. */
class EnrichSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sampleOrders = Seq(
    ("ord-0001", 1L, 182L), ("ord-0002", 2L, 33L), ("ord-0003", 3L, 170L),
    ("ord-0004", 4L, 170L), ("ord-0005", 5L, 470L),
    ("ord-9999", 99999L, 7L)) // no matching customer → dropped by inner join
  private val customersHead = Seq(
    (1, "Willis Collins", "Dallas"), (2, "Casey Brady", "Chicago"),
    (3, "Walker Wong", "SanJose"), (4, "Randall Weeks", "SanDiego"),
    (5, "Gerardo Dorsey", "Dallas"))

  test("flagship enrichment join matches the reference golden sample") {
    val orders = sampleOrders.toDF("orderID", "customerID", "amount")
    val customers = customersHead.toDF("cust_id", "cust_name", "city")
    val got = Enrich.enrichReference(orders, customers)
      .orderBy("customer_id")
      .as[(String, Long, String, String, Long)].collect().toSeq
    assert(got === Seq(
      ("ord-0001", 1L, "Willis Collins", "Dallas", 182L),
      ("ord-0002", 2L, "Casey Brady", "Chicago", 33L),
      ("ord-0003", 3L, "Walker Wong", "SanJose", 170L),
      ("ord-0004", 4L, "Randall Weeks", "SanDiego", 170L),
      ("ord-0005", 5L, "Gerardo Dorsey", "Dallas", 470L)))
  }

  test("enrichment output schema matches the ASA projection (README.md:166)") {
    val df = Enrich.enrich(
      Tables(spark, SparkTestBase.sf0001, "orders"),
      Tables(spark, SparkTestBase.sf0001, "customer"))
    assert(df.columns.toSeq === Seq(
      "order_id", "customer_id", "customer_name", "city", "purchase_amount"))
  }

  test("enrichment plans a broadcast hash join") {
    val df = Enrich.enrich(
      Tables(spark, SparkTestBase.sf0001, "orders"),
      Tables(spark, SparkTestBase.sf0001, "customer"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("enrichReference reads a small reference in one task and keeps a large one's partitions") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val orders = sampleOrders.toDF("orderID", "customerID", "amount")
    def repartitions(customers: org.apache.spark.sql.DataFrame) =
      Enrich.enrichReference(orders, customers).queryExecution.optimizedPlan
        .collect { case r: Repartition => (r.numPartitions, r.shuffle) }
    // about 0.5 MB and 2.6 GB estimated against the 64 MB advisory size;
    // neither plan is run
    assert(repartitions(DataGen.customersBatch(spark, 10000)) === Seq((1, false)))
    assert(repartitions(DataGen.customersBatch(spark, 50000000L)) === Seq())
    // the rule follows the session's advisory size
    SparkTestBase.withConfs("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      assert(repartitions(DataGen.customersBatch(spark, 10000)) === Seq())
    }
  }

  test("enrichReference estimates a file reference's size without starting a job") {
    val dir = SparkTestBase.tempDir("graft-ref-estimate")
    val csv = dir.resolve("customers.csv")
    java.nio.file.Files.writeString(csv,
      customersHead.map { case (i, n, c) => s"$i,$n,$c" }.mkString("\n"))
    val custs = Tables.customersCsv(spark, csv.toString)
    val orders = sampleOrders.toDF("orderID", "customerID", "amount")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    SparkTestBase.drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      val df = Enrich.enrichReference(orders, custs)
      SparkTestBase.drainListenerBus()
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs === 0)
    assert(df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => (r.numPartitions, r.shuffle)
    } === Seq((1, false)))
    assert(df.count() === 5)
  }

  test("C4/C5 loaders: headerless CSV and multiline JSON round-trip") {
    val dir = SparkTestBase.tempDir("graft-fixtures")
    val csv = dir.resolve("customers.csv")
    java.nio.file.Files.writeString(csv,
      customersHead.map { case (i, n, c) => s"$i,$n,$c" }.mkString("\n"))
    val json = dir.resolve("orders.json")
    java.nio.file.Files.writeString(json,
      sampleOrders.take(2).map { case (o, c, a) =>
        s"""{"orderID": "$o", "customerID": $c, "amount": $a}"""
      }.mkString("[\n", ",\n", "\n]"))
    val custs = Tables.customersCsv(spark, csv.toString)
    assert(custs.count() === 5 &&
      custs.schema.fieldNames.toSeq === Seq("cust_id", "cust_name", "city"))
    val ords = Tables.ordersJson(spark, json.toString)
    assert(ords.count() === 2 &&
      ords.schema.fieldNames.toSeq === Seq("orderID", "customerID", "amount"))
  }
}
