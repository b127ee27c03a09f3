package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, expr, xxhash64}
import graft.operators.{Analytics, Enrich}
import graft.streaming.StreamPipeline

/** Benchmark of the flagship stream pipeline. Workloads:
  *
  *  - `enrich_append`: open loop. Events are pre-encoded, stamped with a
  *    scheduled creation time and offered at a fixed rate; the append sink
  *    (`writeEnriched`) commits them.
  *  - `upsert_growing`: closed loop. A fixed number of events per trigger,
  *    5% of them re-delivering an earlier order id with a new amount, go
  *    into the merge-on-key sink (`upsertEnriched`) while its state grows.
  *
  * Both finish with the four reference analytics queries over the stored
  * result and an exact check of the store against values computed from
  * the generated events without Spark SQL.
  *
  * Usage: `StreamBench --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out DIR [--toy] [--fault drop_row|alter_value]`. It runs
  * on `local[nproc]`.
  */
object StreamBench {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, toy: Boolean, fault: Option[String]) {
    val cores: Int = Runtime.getRuntime.availableProcessors
    /** Open-loop offered rate (events/s) of `enrich_append`. */
    val rate: Int = if (toy) 4000 else 20000
    /** Open-loop warm-up before the measured window. */
    val warmSeconds: Int = if (toy) 1 else 3
    /** Events of the first trigger of every set-up round. */
    val setupEvents: Int = if (toy) 1000 else 2000
    /** Closed-loop events per trigger of `upsert_growing`. */
    val perTrigger: Int = if (toy) 3000 else 25000
    /** Events of the one trigger that grows the upsert store before the
      * measured window. */
    val growEvents: Int = if (toy) 20000 else 150000
    val redeliver = 0.05
    /** Triggers at the start of the upsert window that its CPU and write
      * metrics count. */
    val fixedTriggers = 2
  }

  final case class Check(name: String, ok: Boolean, detail: String)
  final case class Block(offset: Long, from: Int, until: Int, createdMs: Double, addedMs: Double)
  final case class Sample(query: String, constructMs: Double, planMs: Double,
                          execMs: Double, ok: Boolean) {
    def ms: Double = constructMs + planMs + execMs
  }

  /** What one pass of a workload measured. */
  final class Result {
    /** End-to-end metrics the benchmark gates on. */
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** Wall-clock end-to-end metrics: recorded, not gated (see README). */
    val wall = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val checks = mutable.ArrayBuffer.empty[Check]
    val params = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    var all: Seq[Trig] = Nil
    var measured: Seq[Trig] = Nil
    var samples: Seq[Sample] = Nil
    var backlogMax = 0L
    var generatorLateMs = 0.0
    var pipe: Pipe = _
    var span = 0L
    def correct: Boolean = checks.forall(_.ok) && failed == 0
  }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(c.work))
    Files.createDirectories(Paths.get(c.out))
    var spark = session(c.cores, c.work)
    val sessionS = (Spans.nowMs - jvmStart) / 1000
    val spans = new Spans
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> c.workload, "traced" -> c.trace, "seed" -> c.seed,
      "seconds" -> c.seconds, "toy" -> c.toy, "fault" -> c.fault.getOrElse(""),
      "timestamp" -> java.time.Instant.now().toString,
      "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[${c.cores}]",
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "corpus" -> "generated in-process from the seed")
    val summary: Result =
      if (!c.trace) {
        val r = runWorkload(spark, c, None, spans, rounds = 3, tag = "run", sessionS)
        record("wall_metrics") = metricsJson(r.wall)
        r
      } else {
        val probe = Probe.attach(spark)
        val traced = runWorkload(spark, c, Some(probe), spans, rounds = 1, tag = "traced", sessionS)
        layerProbes(spark, c, probe, spans, traced)
        Probe.drain(spark)
        layerMetrics(c, probe, spans, traced)
        Probe.detach(spark, probe)
        delete(traced.pipe.dir)
        val wide = scaling(spark, c)
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        spark = session(1, c.work)
        val single = scaling(spark, c)
        val l = traced.layer
        l("capacity.rows_per_s") = (wide, "rows/s")
        l("single_core.rows_per_s") = (single, "rows/s")
        l("single_core.scaling_ratio") = (wide / single, "ratio")
        traced.wall.foreach { case (k, v) => l(s"wall.$k") = v }
        l("trace.listener_ms") = (probe.busyNs / 1e6, "ms")
        l("trace.spans") = (spans.all.size.toDouble, "count")
        // end-to-end metrics of the traced pass: diff.py subtracts an
        // untraced record's from them to give the tracing overhead
        record("traced_metrics") = metricsJson(traced.e2e ++ traced.wall)
        val spanPath = s"${c.out}/spans-${c.workload}-seed${c.seed}.json"
        Files.write(Paths.get(spanPath), json.writeValueAsBytes(Map(
          "workload" -> c.workload, "seed" -> c.seed,
          "self_ms" -> spans.selfMs.toMap,
          "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
            "trace" -> s.trace, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
            "attrs" -> s.attrs)))))
        record("span_file") = spanPath
        record("layer_self_ms") = spans.selfMs.map { case (k, v) => k -> v }.to(mutable.LinkedHashMap)
        traced
      }
    spark.stop()
    val metrics = if (c.trace) summary.layer else summary.e2e
    record("params") = summary.params
    record("checks") = summary.checks.map(ck =>
      Map("name" -> ck.name, "ok" -> ck.ok, "detail" -> ck.detail))
    record("correct") = summary.correct
    record("attempted") = summary.attempted
    record("failed") = summary.failed
    record("metrics") = metricsJson(metrics)
    val recPath = s"${c.out}/record-${c.workload}-seed${c.seed}-trace${if (c.trace) 1 else 0}.json"
    Files.write(Paths.get(recPath), json.writeValueAsBytes(record))
    println(s"record: $recPath")
    println(json.writeValueAsString(mutable.LinkedHashMap("correct" -> summary.correct,
      "attempted" -> summary.attempted, "failed" -> summary.failed,
      "metrics" -> metricsJson(metrics))))
  }

  /** Renders records and span files; a value that is not finite renders as
    * a bare NaN or Infinity, which Python's json module reads. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  private def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }

  def parse(argv: Array[String]): Conf = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Set("enrich_append", "upsert_growing")(w), s"unknown workload $w")
    Conf(w, need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1",
      need("--work"), need("--out"), argv.contains("--toy"), kv.get("--fault"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- workloads

  def runWorkload(spark: SparkSession, c: Conf, probe: Option[Probe], spans: Spans,
                  rounds: Int, tag: String, sessionS: Double): Result = {
    val r = new Result
    val t0 = Spans.nowMs
    val customers = Pipe.customers(spark).collect()
      .map(row => row.getInt(0) -> (row.getString(1), row.getString(2))).toMap
    val inputS = (Spans.nowMs - t0) / 1000
    r.span = spans.add(0, s"${c.workload}:$tag", "workload", t0, t0)
    val (expect, prepS, setupRounds) = c.workload match {
      case "enrich_append" => enrichAppend(spark, c, r, rounds, tag, customers)
      case "upsert_growing" => upsertGrowing(spark, c, r, rounds, tag, customers)
    }
    r.params ++= Seq("cores" -> c.cores, "session_s" -> sessionS,
      "inputs_s" -> (inputS + prepS), "setup_round_s" -> setupRounds)
    // one set-up: start the pipeline's query and commit its first trigger
    r.e2e("setup_s") = (median(setupRounds), "s")
    finish(spark, c, r, expect, probe, spans)
    spans.close(r.span)
    r
  }

  /** Returns the expected store, the once-per-run input preparation time,
    * and the time of each set-up round (start the query, commit a first
    * trigger). */
  private def enrichAppend(spark: SparkSession, c: Conf, r: Result, rounds: Int, tag: String,
                           customers: Map[Int, (String, String)])
      : (Expect, Double, Seq[Double]) = {
    val g = new Gen(c.seed)
    val tGen = Spans.nowMs
    val openLoop = c.rate * (c.warmSeconds + c.seconds)
    val payloads = g.batch(c.setupEvents + openLoop)
    val genS = (Spans.nowMs - tGen) / 1000
    var pipe: Pipe = null
    val setup = (1 to rounds).map { i =>
      if (pipe != null) { pipe.stop(); delete(pipe.dir) }
      val t = Spans.nowMs
      pipe = new Pipe(spark, "append", s"${c.work}/${c.workload}-$tag-$i", c.cores)
      pipe.offer(payloads.take(c.setupEvents), Seq.fill(c.setupEvents)(t.toLong))
      pipe.drain()
      (Spans.nowMs - t) / 1000
    }
    r.pipe = pipe
    // open loop: event j is due at origin + j / rate, whatever the sink does
    val interval = 1000.0 / c.rate
    val origin = Spans.nowMs + 20
    val blocks = mutable.ArrayBuffer.empty[Block]
    val first = c.warmSeconds * c.rate
    @volatile var cpuFrom, cpuTo: Cpu = null
    val feeder = new Thread(() => {
      var i = 0
      while (i < openLoop) {
        if (i >= first && cpuFrom == null) cpuFrom = Cpu.now()
        val due = math.min(openLoop, math.floor((Spans.nowMs - origin) / interval).toInt + 1)
        if (due > i) {
          val from = c.setupEvents + i
          val off = pipe.offer(payloads.slice(from, c.setupEvents + due),
            (i until due).map(j => (origin + j * interval).toLong))
          blocks += Block(off, i, due, origin + i * interval, Spans.nowMs)
          r.generatorLateMs = math.max(r.generatorLateMs,
            Spans.nowMs - (origin + (due - 1) * interval))
          i = due
        }
        Thread.sleep(5)
      }
      cpuTo = Cpu.now()
    }, "perfbench-generator")
    feeder.setDaemon(true)
    feeder.start()
    feeder.join()
    pipe.drain()
    val trigs = pipe.triggers
    pipe.stop()
    // every block commits with the first trigger whose end offset covers it
    val commit = commitTimes(blocks.toSeq, trigs)
    val wStart = origin + c.warmSeconds * 1000.0
    val lat = new Array[Double](c.seconds * c.rate)
    var lastCommit = 0.0
    val measuredBatches = mutable.SortedSet.empty[Long]
    blocks.zip(commit).foreach { case (b, (batch, end)) =>
      var j = math.max(b.from, first)
      while (j < b.until && j < first + lat.length) {
        lat(j - first) = end - (origin + j * interval)
        lastCommit = math.max(lastCommit, end)
        measuredBatches += batch
        j += 1
      }
    }
    r.all = trigs
    r.measured = trigs.filter(t => measuredBatches(t.batchId))
    r.backlogMax = backlog(blocks.toSeq, trigs)
    java.util.Arrays.sort(lat)
    r.wall("event_latency_p50_ms") = (quantile(lat, 0.5), "ms")
    r.wall("event_latency_p99_ms") = (quantile(lat, 0.99), "ms")
    r.wall("delivered_rows_per_s") = (lat.length / ((lastCommit - wStart) / 1000), "rows/s")
    r.e2e("cpu_ms_per_1k_rows") = ((cpuTo.ns - cpuFrom.ns) / 1e6 / (lat.length / 1000.0), "ms")
    r.params("gc_ms_per_1k_rows") = (cpuTo.gcMs - cpuFrom.gcMs) / (lat.length / 1000.0)
    r.e2e("write_bytes_per_row") = (r.measured.map(t => pipe.batchBytes(t.batchId)).sum.toDouble /
      math.max(1L, r.measured.map(_.rows).sum), "B")
    r.params ++= Seq("loop" -> "open", "rate_events_per_s" -> c.rate,
      "warmup_s" -> c.warmSeconds, "measured_events" -> lat.length,
      "setup_events" -> c.setupEvents, "partitions" -> c.cores)
    r.attempted += c.setupEvents + openLoop
    (Gen.expected(g, (0 until c.setupEvents + openLoop).iterator, customers), genS, setup)
  }

  private def upsertGrowing(spark: SparkSession, c: Conf, r: Result, rounds: Int, tag: String,
                            customers: Map[Int, (String, String)])
      : (Expect, Double, Seq[Double]) = {
    var pipe: Pipe = null
    var g: Gen = null
    var offered = 0L
    val setup = (1 to rounds).map { i =>
      if (pipe != null) { pipe.stop(); delete(pipe.dir) }
      val t = Spans.nowMs
      g = new Gen(c.seed)
      pipe = new Pipe(spark, "upsert", s"${c.work}/${c.workload}-$tag-$i", c.cores)
      pipe.offer(g.batch(c.setupEvents), Seq.fill(c.setupEvents)(t.toLong))
      pipe.drain()
      (Spans.nowMs - t) / 1000
    }
    offered += c.setupEvents
    r.pipe = pipe
    // a generation is retired by later triggers: size it right after its own
    val written = mutable.HashMap.empty[Long, Long]
    def trigger(n: Int = c.perTrigger): Block = {
      val payloads = g.batch(n, c.redeliver)
      val t = Spans.nowMs
      val off = pipe.offer(payloads, Seq.fill(payloads.length)(t.toLong))
      pipe.drain()
      offered += payloads.length
      Option(pipe.query.lastProgress).foreach(p => written(p.batchId) = pipe.batchBytes(p.batchId))
      Block(off, 0, payloads.length, t, t)
    }
    trigger(c.growEvents)
    val blocks = mutable.ArrayBuffer.empty[Block]
    val t0 = Spans.nowMs
    val cpu = mutable.ArrayBuffer(Cpu.now())
    while (Spans.nowMs - t0 < c.seconds * 1000.0 || blocks.size < c.fixedTriggers) {
      blocks += trigger()
      cpu += Cpu.now()
    }
    val trigs = pipe.triggers
    pipe.stop()
    val commit = commitTimes(blocks.toSeq, trigs)
    val lat = blocks.zip(commit).map { case (b, (_, end)) => end - b.createdMs }.sorted.toArray
    val measuredBatches = commit.map(_._1).toSet
    r.all = trigs
    r.measured = trigs.filter(t => measuredBatches(t.batchId))
    val rows = blocks.map(b => b.until - b.from).sum
    r.wall("event_latency_p50_ms") = (quantile(lat, 0.5), "ms")
    r.wall("event_latency_p99_ms") = (quantile(lat, 0.99), "ms")
    r.wall("delivered_rows_per_s") = (rows / ((commit.map(_._2).max - t0) / 1000), "rows/s")
    // CPU and bytes count the first triggers of the window only: the same
    // store states in every run, however many triggers the window held
    val k = c.fixedTriggers
    val fixedRows = blocks.take(k).map(b => b.until - b.from).sum / 1000.0
    r.e2e("cpu_ms_per_1k_rows") = ((cpu(k).ns - cpu(0).ns) / 1e6 / fixedRows, "ms")
    r.params("gc_ms_per_1k_rows") = (cpu(k).gcMs - cpu(0).gcMs) / fixedRows
    r.e2e("write_bytes_per_row") = (r.measured.take(k).map(t => written.getOrElse(t.batchId, 0L))
      .sum / (fixedRows * 1000), "B")
    r.params ++= Seq("loop" -> "closed", "events_per_trigger" -> c.perTrigger,
      "redeliver_share" -> c.redeliver,
      "grow_events" -> c.growEvents,
      "measured_triggers" -> blocks.size, "setup_events" -> c.setupEvents,
      "stored_keys" -> g.keys, "partitions" -> c.cores)
    r.attempted += offered
    (Gen.expected(g, (0 until g.keys).iterator, customers), 0.0, setup)
  }

  /** Per block: (batch id, commit time) of the first trigger covering it. */
  private def commitTimes(blocks: Seq[Block], trigs: Seq[Trig]): Seq[(Long, Double)] = {
    var t = 0
    blocks.sortBy(_.offset).map { b =>
      while (t < trigs.size && trigs(t).endOffset < b.offset) t += 1
      require(t < trigs.size, s"offset ${b.offset} was never committed")
      (trigs(t).batchId, trigs(t).endMs.toDouble)
    }
  }

  /** Largest number of events offered but not yet committed, sampled at
    * each trigger's commit. */
  private def backlog(blocks: Seq[Block], trigs: Seq[Trig]): Long = {
    var committed = 0L
    trigs.map { t =>
      committed += t.rows
      blocks.filter(_.addedMs <= t.endMs).map(b => (b.until - b.from).toLong).sum - committed
    }.foldLeft(0L)(math.max)
  }

  // ------------------------------------------------------ store, checks, size

  private val storeQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "filter_city" -> (d => Analytics.filterCity(d, "Dallas")),
    "scalar_avg" -> (d => Analytics.scalarAvg(d, "Dallas")),
    "avg_by_city" -> (d => Analytics.avgByCity(d)),
    "sum_by_city" -> (d => Analytics.sumByCity(d)))

  /** Hashes every output column into one row, so the whole result is
    * computed while only O(1) rows are collected. */
  private def consumer(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(expr("bit_xor(h)"))

  private def scoped[T](spark: SparkSession, scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.scope", scope)
    try body finally sc.setLocalProperty("perfbench.scope", null)
  }

  private def finish(spark: SparkSession, c: Conf, r: Result, expect: Expect,
                     probe: Option[Probe], spans: Spans): Unit = {
    val pipe = r.pipe
    c.fault.foreach(f => plantFault(spark, pipe, f))
    val t0 = Spans.nowMs
    // exact store contents against the generated events
    val cols = Seq("order_id", "customer_id", "customer_name", "city", "purchase_amount")
    val store = pipe.readStore()
    val keyCol = if (c.workload == "enrich_append") "id" else "order_id"
    val got = store.agg(expr("count(1)"),
      expr(s"bit_xor(xxhash64(${cols.mkString(",")}))"), countDistinct(col(keyCol))).head()
    val rows = got.getLong(0)
    r.checks += Check("store_rows", rows == expect.rows, s"${rows} rows, expected ${expect.rows}")
    r.checks += Check("store_hash", got.getLong(1) == expect.xor,
      f"bit_xor ${got.getLong(1)}%016x, expected ${expect.xor}%016x")
    r.checks += Check(s"distinct_$keyCol", got.getLong(2) == rows,
      s"${got.getLong(2)} distinct $keyCol over $rows rows")
    if (!r.checks.forall(_.ok)) r.failed += math.max(1L, math.abs(expect.rows - rows))
    val checkMs = Spans.nowMs - t0
    // garbage the stream left behind is collected before the queries are timed
    System.gc()
    // the four reference queries over the stored result
    val samples = storeQueries.map { case (name, q) =>
      r.attempted += 1
      val trace = s"query:$name"
      val qid = spans.add(r.span, trace, "store_query", Spans.nowMs, Spans.nowMs,
        Map("query" -> name))
      def phase[T](p: String)(body: => T): (T, Double) = {
        val scope = s"store:$name:$p"
        val t = Spans.nowMs
        val v = scoped(spark, scope)(body)
        val end = Spans.nowMs
        spans.add(qid, trace, p, t, end, Map("scope" -> scope))
        (v, end - t)
      }
      try {
        // sum_by_city's 14 rows come back whole: its total is checked
        val keep = name == "sum_by_city"
        val (df, cMs) = phase("construct") {
          val d = q(pipe.readStore())
          if (keep) d else consumer(d)
        }
        val (_, pMs) = phase("plan")(df.queryExecution.executedPlan)
        val (res, eMs) = phase("exec")(df.collect())
        spans.close(qid)
        if (keep) {
          val total = res.map(_.getAs[Number]("total_purchase").longValue).sum
          r.checks += Check("sum_by_city_total", total == expect.amountTotal,
            s"$total total, expected ${expect.amountTotal}")
          if (total != expect.amountTotal) r.failed += 1
        }
        Sample(name, cMs, pMs, eMs, ok = true)
      } catch {
        case e: Exception =>
          r.failed += 1
          r.checks += Check(s"query_$name", ok = false, e.toString.take(200))
          Sample(name, 0, 0, 0, ok = false)
      }
    }
    r.samples = samples
    val (bytes, _, _) = storeFiles(pipe.out)
    val ms = r.measured.map(_.ms.toDouble).toArray
    r.wall("trigger_p50_ms") = (median(ms.toSeq), "ms")
    // the four queries in turn; not measured when one of them failed
    r.wall("store_query_ms") =
      (if (samples.forall(_.ok)) samples.map(_.ms).sum else Double.NaN, "ms")
    r.e2e("store_bytes_per_row") = (bytes.toDouble / math.max(1L, rows), "B")
    r.params("check_ms") = checkMs
    r.params("store_bytes") = bytes
    r.params("measured_triggers_ms") = ms.toSeq
    r.params("store_query_samples") = samples.map(s => Map("query" -> s.query,
      "construct_ms" -> s.constructMs, "plan_ms" -> s.planMs,
      "exec_ms" -> s.execMs))
    if (probe.isEmpty) delete(pipe.dir)
  }

  /** (bytes of every file, parquet files, generation directories) under `dir`. */
  private def storeFiles(dir: String): (Long, Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L, 0L)
    val s = Files.walk(p)
    try {
      var bytes = 0L; var parquet = 0L; var gens = 0L
      s.iterator().asScala.foreach { f =>
        val n = f.getFileName.toString
        if (Files.isRegularFile(f)) {
          bytes += Files.size(f)
          if (n.endsWith(".parquet")) parquet += 1
        } else if (n.startsWith("gen=")) gens += 1
      }
      (bytes, parquet, gens)
    } finally s.close()
  }

  /** Self-test fault: rewrites one data file of the store with one row
    * dropped or one amount changed. */
  private def plantFault(spark: SparkSession, pipe: Pipe, fault: String): Unit = {
    val root = Paths.get(pipe.out)
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    // the upsert store's readers see only the newest committed generation
    val live = files.filter { f =>
      val gen = f.getParent
      !gen.getFileName.toString.startsWith("gen=") ||
        Files.exists(gen.resolve("_graft_commit")) && {
          val n = gen.getFileName.toString.stripPrefix("gen=").toLong
          val s = Files.list(gen.getParent)
          try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("gen="))
            .filter(g => Files.exists(gen.getParent.resolve(g).resolve("_graft_commit")))
            .map(_.stripPrefix("gen=").toLong).max == n
          finally s.close()
        }
    }
    val target = live.maxBy(f => Files.size(f))
    val df = spark.read.parquet(target.toString)
    val rows = df.collect().toSeq
    require(rows.nonEmpty, s"no rows in $target")
    val amount = df.schema.fieldIndex("purchase_amount")
    val changed = fault match {
      case "drop_row" => rows.tail
      case "alter_value" =>
        val h = rows.head
        Row.fromSeq(h.toSeq.updated(amount, h.getLong(amount) + 1)) +: rows.tail
    }
    val tmp = s"${pipe.dir}/fault-tmp"
    spark.createDataFrame(changed.asJava, df.schema).coalesce(1).write.parquet(tmp)
    val part = {
      val s = Files.list(Paths.get(tmp))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    Files.move(part, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    delete(tmp)
  }

  // ------------------------------------------------------------- traced run

  /** Times decode and decode+join in isolation on static frames of the
    * workload's event payloads, through the same public functions. */
  private def layerProbes(spark: SparkSession, c: Conf, probe: Probe, spans: Spans,
                          r: Result): Unit = {
    val n = if (c.toy) 5000 else 100000
    val g = new Gen(c.seed ^ 0x5eed)
    val raw = spark.createDataset(g.batch(n).toSeq)(Encoders.BINARY).toDF("value")
      .repartition(c.cores).persist()
    raw.count()
    val customers = Pipe.customers(spark)
    def time(name: String, round: Int, df: => DataFrame): Double = {
      val t = Spans.nowMs
      scoped(spark, s"probe:$name:$round")(consumer(df).collect())
      val end = Spans.nowMs
      spans.add(r.span, s"probe:$round", s"probe.$name", t, end,
        Map("scope" -> s"probe:$name:$round"))
      end - t
    }
    val rounds = 1 to 2
    val dec = rounds.map(i => time("decode", i, StreamPipeline.decodeOrderBytes(raw)))
    val enr = rounds.map(i => time("enrich", i,
      Enrich.enrichReference(StreamPipeline.decodeOrderBytes(raw), customers)))
    raw.unpersist(blocking = true)
    Probe.drain(spark)
    val cpu = probe.totalsOf(probe.jobsIn(_.startsWith("probe:enrich:"))).cpuNs
    r.layer("decode.us_per_row") = (median(dec) * 1000 / n, "us")
    r.layer("enrich.us_per_row") = ((median(enr) - median(dec)) * 1000 / n, "us")
    r.layer("enrich.task_cpu_us_per_row") = (cpu / 1000.0 / (n * rounds.size), "us")
  }

  /** Capacity at this session's parallelism: `enrich_append` offers large
    * blocks back to back; `upsert_growing` times its first triggers. */
  private def scaling(spark: SparkSession, c: Conf): Double = {
    val cores = spark.sparkContext.defaultParallelism
    val g = new Gen(c.seed ^ 0xca9L)
    val sink = if (c.workload == "enrich_append") "append" else "upsert"
    val size = if (c.toy) 3000 else if (sink == "append") 60000 else 10000
    val pipe = new Pipe(spark, sink, s"${c.work}/scaling-$cores", cores)
    try {
      pipe.offer(g.batch(size), Seq.fill(size)(0L)); pipe.drain()
      (1 to (if (sink == "append") 3 else 2)).foreach { _ =>
        pipe.offer(g.batch(size, if (sink == "upsert") c.redeliver else 0.0), Seq.fill(size)(0L))
        pipe.drain()
      }
      val ms = pipe.triggers.drop(1).map(_.ms.toDouble)
      if (sink == "append") size / (median(ms) / 1000) else ms.size * size / (ms.sum / 1000)
    } finally { pipe.stop(); delete(pipe.dir) }
  }

  private def layerMetrics(c: Conf, probe: Probe, spans: Spans, r: Result): Unit = {
    val l = r.layer
    val runId = r.pipe.query.id.toString
    val measured = r.measured.map(t => s"trigger:$runId:${t.batchId}").toSet
    val sjobs = probe.jobsIn(measured)
    val st = probe.totalsOf(sjobs)
    val n = math.max(1, r.measured.size)
    val rows = math.max(1L, r.measured.map(_.rows).sum).toDouble
    def med(f: Trig => Double) = median(r.measured.map(f))
    l("microbatch.triggers") = (r.measured.size.toDouble, "count")
    l("microbatch.rows_per_trigger") = (med(_.rows.toDouble), "rows")
    l("microbatch.add_batch_ms") = (med(_.phase("addBatch").toDouble), "ms")
    l("microbatch.overhead_ms") = (med(t => (t.ms - t.phase("addBatch")).toDouble), "ms")
    l("microbatch.query_planning_ms") = (med(_.phase("queryPlanning").toDouble), "ms")
    l("source.backlog_rows_max") = (r.backlogMax.toDouble, "rows")
    l("generator.late_ms_max") = (r.generatorLateMs, "ms")
    // decode/enrich per-row costs were set by layerProbes
    val joined = probe.sqlMetric(sjobs, _.startsWith("BroadcastHashJoin"), "number of output rows")
    l("enrich.rows_in") = (rows, "rows")
    l("enrich.match_ratio") = (joined / rows, "ratio")
    val build = probe.sqlMetric(sjobs, _.startsWith("BroadcastExchange"), "time to build") +
      probe.sqlMetric(sjobs, _.startsWith("BroadcastExchange"), "time to collect")
    l("enrich.broadcast_build_ms") = (build.toDouble / n, "ms")
    val append = c.workload == "enrich_append"
    def only(ok: Boolean, v: Double) = if (ok) v else 0.0
    val (_, parquet, gens) = storeFiles(r.pipe.out)
    val batchFiles = if (append) r.measured.map { t =>
      val d = Paths.get(s"${r.pipe.out}/batch=${t.batchId}")
      val s = Files.list(d)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
    }.sum else 0
    l("sink_append.shuffle_write_bytes_per_row") = (only(append, st.shuffleWrite / rows), "B")
    l("sink_append.bytes_written_per_row") = (only(append, st.bytesWritten / rows), "B")
    l("sink_append.files_per_trigger") = (only(append, batchFiles.toDouble / n), "count")
    val scanned = probe.sqlMetric(sjobs, _.startsWith("Scan parquet"), "number of output rows")
    l("sink_upsert.rows_written_per_input_row") = (only(!append, st.recordsWritten / rows), "ratio")
    l("sink_upsert.rows_read_per_input_row") = (only(!append, scanned / rows), "ratio")
    l("sink_upsert.jobs_per_trigger") = (only(!append, sjobs.size.toDouble / n), "count")
    l("sink_upsert.shuffle_bytes_per_trigger") = (only(!append, st.shuffleWrite.toDouble / n), "B")
    l("sink_upsert.spill_bytes") = (only(!append, st.spill.toDouble), "B")
    l("sink_upsert.store_files") = (only(!append, parquet.toDouble), "count")
    l("sink_upsert.live_generations") = (only(!append, gens.toDouble), "count")
    l("sink_upsert.read_files_per_snapshot") =
      (only(!append, r.pipe.readStore().inputFiles.length.toDouble), "count")
    // construct / plan / exec of the store queries
    val ok = r.samples.filter(_.ok)
    val k = math.max(1, ok.size).toDouble
    def phaseJobs(p: String) = probe.jobsIn(s => s.startsWith("store:") && s.endsWith(s":$p"))
    val ex = probe.totalsOf(phaseJobs("exec"))
    val execWall = ok.map(_.execMs).sum
    l("construct.ms") = (median(ok.map(_.constructMs)), "ms")
    l("construct.jobs") = (phaseJobs("construct").size / k, "count")
    l("plan.ms") = (median(ok.map(_.planMs)), "ms")
    l("exec.ms") = (median(ok.map(_.execMs)), "ms")
    l("exec.jobs") = (phaseJobs("exec").size / k, "count")
    l("exec.tasks") = (ex.tasks / k, "count")
    l("exec.shuffle_write_bytes") = (ex.shuffleWrite / k, "B")
    l("exec.spill_bytes") = (ex.spill.toDouble, "B")
    l("exec.peak_exec_mem_bytes") = (ex.peakMem.toDouble, "B")
    l("exec.gc_ms") = (ex.gcMs / k, "ms")
    l("exec.cpu_utilisation") = (ex.cpuNs / 1e6 / math.max(1.0, execWall * c.cores), "ratio")
    l("sources.scan_bytes") = (ex.bytesRead / k, "B")
    l("sources.scan_rows") = (ex.recordsRead / k, "rows")
    traceSpans(probe, spans, r)
  }

  /** Trigger, micro-batch phase, job and stage spans of the traced pass. */
  private def traceSpans(probe: Probe, spans: Spans, r: Result): Unit = {
    val runId = r.pipe.query.id.toString
    // durationMs reports phase lengths only; lay them out in execution order
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val scopeSpan = mutable.HashMap.empty[String, Long]
    r.all.foreach { t =>
      val trace = s"trigger:${t.batchId}"
      val tid = spans.add(r.span, trace, "trigger", t.startMs, t.endMs,
        Map("batch_id" -> t.batchId, "rows" -> t.rows))
      var at = t.startMs.toDouble
      order.foreach { p =>
        val d = t.phase(p)
        if (d > 0) {
          val id = spans.add(tid, trace, s"microbatch.$p", at, at + d, Map("derived" -> true))
          if (p == "addBatch") scopeSpan(s"trigger:$runId:${t.batchId}") = id
          at += d
        }
      }
    }
    spans.all.foreach(s => s.attrs.get("scope").foreach(sc => scopeSpan(sc.toString) = s.id))
    probe.jobsIn(_ => true).foreach { j =>
      val parent = scopeSpan.getOrElse(j.scope, r.span)
      val trace = j.scope
      val jid = spans.add(parent, trace, "job", j.start, j.end,
        Map("job_id" -> j.id, "scope" -> j.scope))
      j.stages.flatMap(probe.stages.get).filter(_.completed > 0).foreach { s =>
        spans.add(jid, trace, "stage", s.submitted, s.completed,
          Map("stage_id" -> s.id, "tasks" -> s.totals.tasks, "cpu_ms" -> s.totals.cpuNs / 1e6))
      }
    }
  }

  // ------------------------------------------------------------------ utils

  /** CPU time of the whole JVM process at one instant (Spark tasks, stream
    * execution, GC and JIT threads, and threads that have ended), and the
    * collection time its garbage collectors report. */
  final case class Cpu(ns: Long, gcMs: Long)

  object Cpu {
    def now(): Cpu = Cpu(
      ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else quantile(xs.sorted.toArray, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }
}
