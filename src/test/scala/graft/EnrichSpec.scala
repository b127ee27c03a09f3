package graft

import org.scalatest.funsuite.AnyFunSuite
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
