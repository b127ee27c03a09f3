package graft.tools

import graft.LocalSession

/** Prints the formatted physical plan (and optionally times) for named
  * SparkEntry queries. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <query1> [query2 ...]
  * Add `--time` to also execute each query and report seconds.
  * Add `--final` to execute the query's OWN QueryExecution (collect)
  * before printing, so the dump is the AQE FINAL plan
  * (isFinalPlan=true) including ReusedExchange / AQEShuffleRead nodes
  * — the only form in which runtime exchange reuse is visible.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val time = args.contains("--time")
    val finalPlan = args.contains("--final")
    val rest = args.filterNot(a => a == "--time" || a == "--final")
    val sfDir = rest.head
    val names = rest.tail
    val spark = LocalSession(LocalSession.envCores)
    // job accounting per query: how many Spark jobs a query launches
    // (driver-synchronized eager phases show up here) and how long
    // each ran — the first thing to look at when a composed eager
    // operator is slow for no per-plan reason
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { starts.put(j.jobId, j.time); () }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        jobs.add((j.jobId, if (s == 0L) 0L else j.time - s)); ()
      }
    })
    names.foreach { name =>
      println(s"========== $name ==========")
      // time CONSTRUCTION + execution: eager operators (x4_cluster's
      // propagation rounds, simhashTopK's certificate) do their real
      // work inside queries() — timing only count() would miss it
      jobs.clear()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      if (time) {
        val n = df.count()
        println(f"[time] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
        org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
        val js = jobs.toArray(Array.empty[(Int, Long)]).sortBy(_._1)
        println(s"[jobs] $name: ${js.length} jobs, " +
          js.map { case (id, ms) => s"#$id=${ms}ms" }.mkString(" "))
      }
      // --final: run THIS df's QueryExecution (collect executes the
      // df's own plan, unlike count/noop which plan a new query), so
      // explainString below prints the adaptively re-optimized final
      // plan with ReusedExchange nodes
      if (finalPlan) { df.collect(); () }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
