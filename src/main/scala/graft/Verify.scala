package graft
import com.fasterxml.jackson.databind.json.JsonMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/compare.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...] — named
  * queries restrict both the run and oracle_sql.json to them (fast
  * iteration on a few oracles); with none, every query runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = LocalSession(LocalSession.envCores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query isolation: no query's internal caches survive into the
      // next query's run. Release persistent RDDs too — localCheckpoint
      // blocks from eager operators are not in the catalog cache and
      // otherwise accumulate until GC + ContextCleaner get around to it.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val oracles = SparkEntry.oracleSql.filter { case (name, _) => only.isEmpty || only(name) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), toJson(oracles))
    spark.stop()
  }

  /** One JSON object of name -> SQL, sorted by name, written by the
    * Jackson mapper Spark ships (every control character escaped, so
    * any JSON reader, such as compare.py's json.load, parses it). */
  private def toJson(oracles: Map[String, String]): String =
    JsonMapper.builder().build().writeValueAsString(new java.util.TreeMap(oracles.asJava))

  /** The full dump, exposed so the spec suite can parse it with a real
    * JSON parser on every run. */
  private[graft] def oracleJson: String = toJson(SparkEntry.oracleSql)
}
