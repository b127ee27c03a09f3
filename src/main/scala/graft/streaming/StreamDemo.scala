package graft.streaming

import com.fasterxml.jackson.databind.json.JsonMapper
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger
import graft.LocalSession
import graft.gen.DataGen

/** End-to-end streaming smoke: rate-source order events (reference
  * producer distributions) → stream-static broadcast enrichment against
  * a generated customers table → id-stamped parquet sink, then reads
  * the sink back and prints one JSON status line: rows, distinct cities
  * and ids, whether the last trigger's executed plan joined by broadcast
  * hash join, and the sink's bytes on disk per stored row. The run's
  * temporary directory is deleted once the line is printed.
  *
  * Usage: runMain graft.streaming.StreamDemo [seconds] [rowsPerSecond]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val runSeconds = args.headOption.map(_.toInt).getOrElse(10)
    val rps = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = LocalSession(4)
    val dir = Files.createTempDirectory("graft-demo")
    try {
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val customers = DataGen.customersBatch(spark, 10000)
      val q = StreamPipeline.run(spark, StreamPipeline.RateOrders(rps), customers,
        out, ck, Trigger.ProcessingTime("1 second"))
      Thread.sleep(runSeconds * 1000L)
      q.stop()
      // null when no trigger ran
      val lastPlan = Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
        .map(_.executedPlan)
      val sink = spark.read.parquet(out)
      val n = sink.count()
      val files = Files.walk(Paths.get(out))
      val storeBytes =
        try files.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
        finally files.close()
      val mapper = JsonMapper.builder().build()
      val record = mapper.createObjectNode()
        .put("demo", "stream").put("rows", n)
        .put("cities", sink.select("city").distinct().count())
        .put("distinct_ids", sink.select("id").distinct().count())
        // the helper looks inside adaptive plans and their query stages
        .put("join_plan_broadcast", lastPlan.exists(p => new AdaptiveSparkPlanHelper {}
          .find(p)(_.isInstanceOf[BroadcastHashJoinExec]).isDefined))
      if (n > 0) record.put("store_bytes_per_row", storeBytes.toDouble / n)
      else record.putNull("store_bytes_per_row")
      println(mapper.writeValueAsString(record))
    } finally {
      // the sink's files and checkpoint: the run keeps nothing on disk
      val all = Files.walk(dir)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally all.close()
    }
    spark.stop()
  }
}
