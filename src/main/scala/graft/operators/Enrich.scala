package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The flagship reference computation: continuous stream-to-reference
  * inner equi-join with projection/renaming (SURVEY §2 C8/C9; ASA query
  * at reference `README.md:166-170`).
  *
  * Spark-first shape: declarative join + select; Catalyst chooses
  * BroadcastHashJoin when the reference side is small (the reference's
  * `customers` is 10k rows — ASA likewise snapshots it to every node,
  * `README.md:145-153`). At 100 TB the fact side scales with
  * partitions while the broadcast side stays O(reference-table); if the
  * reference side ever outgrows the broadcast threshold, drop the
  * `broadcast` hint and Catalyst degrades to a shuffled hash/sort-merge
  * join on the equi-key — no code change in the callers.
  *
  * The same function serves batch and streaming inputs: with a
  * streaming `orders` this is exactly Spark's stream-static join —
  * unbounded-state-free, no watermark required (SURVEY §2.5).
  *
  * Reading the reference: a stream-static join re-reads its reference
  * side on every micro-batch to rebuild the broadcast, so
  * [[enrichReference]] reads it in ONE task when its optimized plan's
  * size estimate is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * (AQE's size for one task's data): a small table spread over many
  * partitions otherwise pays one task launch per partition per trigger.
  * A larger reference keeps its own partitioning.
  */
object Enrich {

  /** C8+C9 on the driver corpus roles (FIXTURES.md §B): `orders` is the
    * stream-role fact, `customer` the reference-role dimension —
    * [[enrichReference]] over them with the key and payload columns
    * renamed to the reference's schemas. */
  def enrich(orders: DataFrame, customers: DataFrame): DataFrame =
    enrichReference(
      orders.select(col("o_orderkey").as("orderID"),
        col("o_custkey").as("customerID"), col("o_totalprice").as("amount")),
      customers.select(col("c_custkey").as("cust_id"),
        col("c_name").as("cust_name"), col("c_mktsegment").as("city")))

  /** Reference-fidelity flavor over the reference's own schemas
    * (orders events ⋈ customers CSV) — used by the golden sample test
    * that ports the reference's manual "Test query" flow
    * (`README.md:182`). The reference side is read in one task when it
    * is small (see the object doc); the estimate comes from the plan's
    * statistics and starts no job. */
  def enrichReference(orderEvents: DataFrame, customers: DataFrame): DataFrame = {
    val oneTask = customers.sparkSession.sessionState.conf.getConf(
      SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val ref = if (customers.queryExecution.optimizedPlan.stats.sizeInBytes <= oneTask)
      customers.coalesce(1) else customers
    orderEvents.join(broadcast(ref),
        orderEvents("customerID") === ref("cust_id"), "inner")
      .select(
        orderEvents("orderID").as("order_id"),
        orderEvents("customerID").as("customer_id"),
        ref("cust_name").as("customer_name"),
        ref("city"),
        orderEvents("amount").as("purchase_amount"))
  }
}
