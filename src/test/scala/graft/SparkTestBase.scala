package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSession(4)

  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs, restoring them after. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Queries DELIBERATELY declared without oracle SQL (the driver
    * records its weaker rows-only check for these). Every entry needs
    * a reason here, and ContractSpec/CoreQueriesSpec fail on any
    * query missing from BOTH this set and oracleSql — a forgotten
    * oracle cannot hide:
    *  - x3_compression: DEFLATE exists in no SQL engine; semantics are
    *    pinned by TextDedupSpec (separation, determinism, null guard). */
  val intentionallyOracleless: Set[String] = Set("x3_compression")
}
