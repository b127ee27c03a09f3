package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  */
object Enrich {

  /** C8+C9 on the driver corpus roles (FIXTURES.md §B): `orders` is the
    * stream-role fact, `customer` the reference-role dimension.
    * Projection renames mirror reference `README.md:166`. */
  def enrich(orders: DataFrame, customers: DataFrame): DataFrame =
    orders.join(broadcast(customers), orders("o_custkey") === customers("c_custkey"), "inner")
      .select(
        orders("o_orderkey").as("order_id"),
        orders("o_custkey").as("customer_id"),
        customers("c_name").as("customer_name"),
        customers("c_mktsegment").as("city"),
        orders("o_totalprice").as("purchase_amount"))

  /** Reference-fidelity flavor over the reference's own schemas
    * (orders events ⋈ customers CSV) — used by the golden sample test
    * that ports the reference's manual "Test query" flow
    * (`README.md:182`). */
  def enrichReference(orderEvents: DataFrame, customers: DataFrame): DataFrame =
    orderEvents.join(broadcast(customers),
        orderEvents("customerID") === customers("cust_id"), "inner")
      .select(
        orderEvents("orderID").as("order_id"),
        orderEvents("customerID").as("customer_id"),
        customers("cust_name").as("customer_name"),
        customers("city"),
        orderEvents("amount").as("purchase_amount"))
}
