package graft

import org.apache.spark.sql.SparkSession

/** The local session that `Bench`, `Verify`, the tools, `StreamDemo` and
  * the tests run on. */
private[graft] object LocalSession {
  /** The core count the entrypoints use: `SPARK_GRAFT_CPUS`, 4 if unset. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `cores` task threads and as many shuffle partitions, with:
    *  - session time zone UTC, the zone `sources.Tables` normalizes every
    *    event time to;
    *  - a codegen cache of 16384 classes (static conf, default 100): a
    *    bench session generates far more, and with the default the
    *    cache thrashes and warm runs compile again;
    *  - no UI, and WARN logging. */
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
