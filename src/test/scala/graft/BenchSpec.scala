package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's eager flag is measured: a query is eager iff building its
  * DataFrame starts a Spark job. */
class BenchSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  test("the eager probe flags a query whose construction runs jobs, and not a lazy one") {
    Bench.readTables(spark, SparkTestBase.sf0001)
    val probe = new Bench.EagerProbe(spark)
    try {
      // x4_cluster's construction localCheckpoints its fixpoint rounds;
      // the flagship enrichment only builds a plan
      Seq("x4_cluster", "c08_c09_enrich").foreach { name =>
        probe.construct(name)(SparkEntry.queries(name)(spark, SparkTestBase.sf0001))
      }
      assert(probe.eager("x4_cluster"))
      assert(!probe.eager("c08_c09_enrich"))
    } finally {
      probe.close()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }
}
