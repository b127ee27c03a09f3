package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}
import org.apache.spark.sql.graft.ListenerBridge
object Bench {
  /** Consume a result so EVERY output column is evaluated: count()
    * lets Catalyst prune unevaluated projections, silently timing a
    * bare scan for narrow map-only queries. Hashing all columns into
    * one aggregate forces full expression evaluation while returning
    * O(1) rows to the driver.
    *
    * The hashes combine with bit_xor, NOT sum: Long is closed under
    * xor, whereas summing uniform 64-bit hashes overflows almost
    * immediately and Spark 4's default ANSI mode turns that into an
    * ARITHMETIC_OVERFLOW that kills the job mid-scan.
    */
  private def consume(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Reads every corpus table once. The first read of a parquet path
    * runs a footer-inference job; `graft.sources.Tables` caches the
    * schema, so after this call building a lazy query starts no job. */
  private[graft] def readTables(spark: SparkSession, sfDir: String): Unit =
    graft.sources.Tables.names.foreach(graft.sources.Tables(spark, sfDir, _))

  /** Measures which queries are eager: a query is eager iff building
    * its DataFrame (fixpoint loops, model-training collects,
    * `localCheckpoint` materialization) starts a Spark job. Each
    * construction runs with a local property naming the query, and the
    * listener keeps every name a started job carries. Call
    * [[readTables]] first, or first-read schema inference counts as
    * construction. */
  private[graft] final class EagerProbe(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val key = "graft.bench.construct"
    private val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    sc.addSparkListener(this)

    override def onJobStart(job: SparkListenerJobStart): Unit =
      Option(job.properties).flatMap(p => Option(p.getProperty(key)))
        .foreach { name => started.add(name); () }

    def construct(name: String)(build: => DataFrame): DataFrame = {
      sc.setLocalProperty(key, name)
      try build finally sc.setLocalProperty(key, null)
    }

    /** Whether a construction of `name` has started a job so far. */
    def eager(name: String): Boolean = { ListenerBridge.drain(sc); started.contains(name) }

    def close(): Unit = sc.removeSparkListener(this)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.envCores)
    // Warm-up: JVM/codegen/parquet-reader initialization otherwise lands
    // entirely on whichever query happens to run first.
    try consume(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    readTables(spark, sfDir)
    val probe = new EagerProbe(spark)
    // A failed query is REPORTED, never swallowed: its time still counts
    // (time-to-failure) but it carries an "errors" entry and decrements
    // "ok", so a query broken only at bench scale cannot hide behind a
    // normal-looking metric line.
    //
    // Each query is consumed FOUR times: the first (cold) run pays that
    // query's codegen/JIT/first-parquet-touch; the next three are warm
    // and "warm" reports their MEDIAN — the plan's steady-state cost. A
    // median of 3 survives one pass slowed by transient machine load.
    //
    // settle: drop what the last run cached or checkpointed (clearCache()
    // misses localCheckpoint blocks, which are persistent RDDs) and
    // collect the dead heap in UNTIMED space; a non-blocking unpersist
    // would do that work during the next timed run.
    def settle(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def run(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err = try { consume(probe.construct(name)(fn(spark, sfDir))); None } catch {
          case e: Throwable =>
            // control chars (tabs, stray \r) are blanked so the message
            // reads as one plain line
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}"
              .replaceAll("[\\p{Cntrl}]", " "))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val (cold, err1) = run()
      // "eager" (measured on the cold run, outside its timing): the
      // construction work re-runs on every invocation, so its warm median
      // ≈ cold BY DESIGN. Each run leaves checkpoint blocks + a dead heap
      // the next run would pay for mid-timing; settling between an eager
      // query's runs makes its warm median measure what a fresh
      // `PlanDump --time q q q` session does.
      val eager = probe.eager(name)
      // don't re-run (and double-count the time of) a failing query
      val res = if (err1.isDefined) (name, cold, cold, eager, err1)
      else {
        val warms = Seq.fill(3) { if (eager) settle(spark); run() }
        val err = warms.flatMap(_._2).headOption
        val warm = warms.map(_._1).sorted.apply(1) // median of 3
        (name, cold, warm, eager, err)
      }
      // query isolation: one query's caches and garbage can't inflate
      // (or subsidize) the next query's timings
      settle(spark)
      res
    }
    probe.close()
    // "value" stays the sum of COLD runs, comparable with earlier
    // single-run totals; "value_warm" is the steady-state total.
    val ok = timed.count(_._5.isEmpty)
    val mapper = JsonMapper.builder().build()
    val record = mapper.createObjectNode()
      .put("metric", "total").put("value", timed.map(_._2).sum).put("unit", "sec")
      .put("value_warm", timed.map(_._3).sum)
    val queries = record.putObject("queries")
    timed.foreach { case (k, c, w, eager, _) =>
      val q = queries.putObject(k).put("cold", c).put("warm", w)
      if (eager) q.put("eager", true)
    }
    record.put("ok", ok).put("failed", timed.size - ok)
    val errors = record.putObject("errors")
    timed.foreach { case (k, _, _, _, e) => e.foreach(errors.put(k, _)) }
    record.put("sf", sfDir)
    val line = mapper.writeValueAsString(record)
    println(line)
    // sbt interleaves Spark logs with stdout; also drop the metric on a
    // clean channel (a file) so harnesses can parse it reliably.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try Files.write(Paths.get(outPath), (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
