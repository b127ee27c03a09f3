package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver parquet corpus (TESTDATA.md) and the
  * reference-shaped inputs (SURVEY §1, FIXTURES.md §A).
  *
  * Reference surface covered here: C3 (SQL reference-data source →
  * parquet/csv stand-in), C4 (headerless CSV bulk load,
  * reference `README.md:94`), C5 (multiline JSON batch source,
  * reference `README.md:182`, `sample-orders.json:1-27`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** First read of a parquet path infers its schema by reading file
    * footers — a small Spark JOB per `spark.read.parquet` call. A
    * bench/verify session constructs each table hundreds of times, so
    * cache the inferred schema per path and pass it explicitly on
    * repeat reads: identical schema (it IS the inferred one), zero
    * inference jobs, and lazy queries stay job-free at construction
    * (which Bench's eager measurement relies on). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val cached = schemaCache.get(path)
    if (cached ne null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(path, df.schema)
      df
    }
  }

  /** Parquet table from a driver scale-factor dir. Column pruning +
    * predicate pushdown reach the scan because this is a plain
    * declarative `spark.read.parquet` (verify via
    * `.explain("formatted")` → `PushedFilters`/`ReadSchema`). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else readParquet(spark, s"$sfDir/$name.parquet")

  /** The driver's `events` table has stored `ts` as parquet
    * TIMESTAMP(NANOS) in some corpus generations (which Spark 4
    * rejects by default — PARQUET_TYPE_ILLEGAL) and as naive
    * TIMESTAMP(MICROS) in others. Normalize BOTH to a session
    * `TimestampType` of the same absolute microseconds DuckDB's
    * `epoch_us` sees, keyed on the type the footer actually carries:
    *
    *  - INT64 nanos (read as Long under the scoped legacy flag):
    *    truncate integer-exactly to µs — `timestamp_micros(ts div
    *    1000)` — the same truncation `epoch_us` applies.
    *  - TIMESTAMP_NTZ (isAdjustedToUTC=false µs): cast wall-clock to
    *    TimestampType. Every entrypoint pins
    *    `spark.sql.session.timeZone=UTC`, so the cast attaches UTC —
    *    exactly how the oracle treats the same naive values.
    *
    * The legacy-nanos flag is scoped to this read: it is restored to
    * its previous value once the scan's plan is resolved, so other
    * nanos-timestamp parquet reads in the session keep their own
    * behavior. (Resolution happens at `spark.read`, eagerly — the
    * DataFrame keeps the resolved schema afterwards.) */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val df = readParquet(spark, s"$sfDir/events.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Event schema of the reference's order stream — producer struct
    * `orders-generator/main.go:104-108`, docs `README.md:47-53`.
    * Always explicit on streams: never infer a schema from an
    * unbounded source. */
  val orderEventSchema: StructType = StructType(Seq(
    StructField("orderID", StringType, nullable = false),
    StructField("customerID", LongType, nullable = false),
    StructField("amount", LongType, nullable = false)))

  /** Reference table DDL — `customers.sql:4-8`. */
  val customerRefSchema: StructType = StructType(Seq(
    StructField("cust_id", IntegerType, nullable = false),
    StructField("cust_name", StringType),
    StructField("city", StringType)))

  /** C4: headerless comma-separated bulk load (reference bcp flags
    * `README.md:94`). */
  def customersCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(customerRefSchema).option("header", "false").csv(path)

  /** C5: the reference's offline test path — a multiline JSON array of
    * order objects (`sample-orders.json`). Batch mode of the same plan
    * the stream runs (stream/batch unification). */
  def ordersJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(orderEventSchema).json(path)
}
