package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Task metrics summed over the tasks of one stage. */
final class Totals {
  var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L
  var bytesRead = 0L; var recordsRead = 0L
  var bytesWritten = 0L; var recordsWritten = 0L
  var spill = 0L; var peakMem = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1; cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    bytesRead += m.inputMetrics.bytesRead; recordsRead += m.inputMetrics.recordsRead
    bytesWritten += m.outputMetrics.bytesWritten
    recordsWritten += m.outputMetrics.recordsWritten
    spill += m.diskBytesSpilled
    peakMem = math.max(peakMem, m.peakExecutionMemory)
  }

  def add(o: Totals): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
  }
}

final case class JobRec(id: Int, scope: String, execId: Option[Long], start: Long,
                        var end: Long, stages: Seq[Int])
final class StageRec(val id: Int) {
  var submitted = 0L; var completed = 0L
  val totals = new Totals
}

/** Observes a session from outside through Spark's public listener events:
  * job/stage/task metrics keyed by the job's `streaming.sql.batchId`
  * property (stream triggers) or by the `perfbench.scope` local property
  * the benchmark sets around its own calls, and the SQL metrics of every
  * executed plan, read from the plan info of the SQL execution events and
  * the accumulator values of completed stages. Events are kept in memory
  * and read once the listener bus is drained. */
final class Probe extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  /** Per SQL execution id: (node name, metric name, accumulator id) of every
    * plan node, including nodes of cached plans it reads. */
  private val plans = mutable.HashMap.empty[Long, mutable.Set[(String, String, Long)]]
  private val accums = mutable.HashMap.empty[Long, Long]
  /** Time spent inside this listener's callbacks: the cost of tracing on
    * the listener bus. */
  @volatile var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    busyNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val scope = prop("perfbench.scope").orElse(
      for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield s"trigger:$q:$b").getOrElse("other")
    jobs(e.jobId) = JobRec(e.jobId, scope, prop("spark.sql.execution.id").map(_.toLong),
      e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId,
      new StageRec(e.stageInfo.stageId))
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages.get(e.stageInfo.stageId).foreach(
      _.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    e.stageInfo.accumulables.values.foreach { a =>
      a.value.foreach {
        case v: java.lang.Long => accums(a.id) = math.max(accums.getOrElse(a.id, 0L), v)
        case _ =>
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.taskMetrics != null)
      stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId)).totals.add(e.taskMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart => addPlan(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => addPlan(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accums(id) = math.max(accums.getOrElse(id, 0L), v) }
      case _ =>
    }
  }

  private def addPlan(exec: Long, info: SparkPlanInfo): Unit = {
    val acc = plans.getOrElseUpdate(exec, mutable.Set.empty)
    def visit(n: SparkPlanInfo): Unit = {
      n.metrics.foreach(m => acc += ((n.nodeName, m.name, m.accumulatorId)))
      n.children.foreach(visit)
    }
    visit(info)
  }

  def jobsIn(scopes: String => Boolean): Seq[JobRec] = synchronized {
    jobs.values.filter(j => scopes(j.scope)).toSeq
  }

  def totalsOf(js: Seq[JobRec]): Totals = synchronized {
    val t = new Totals
    js.flatMap(_.stages).distinct.flatMap(stages.get).foreach(s => t.add(s.totals))
    t
  }

  /** Sum of one SQL metric over the plans that ran `js`; a node of a cached
    * plan shared by several of them counts once. */
  def sqlMetric(js: Seq[JobRec], node: String => Boolean, metric: String): Long =
    synchronized {
      js.flatMap(_.execId).distinct.flatMap(plans.get).flatten
        .collect { case (n, m, id) if node(n) && m == metric => id }
        .distinct.map(accums.getOrElse(_, 0L)).sum
    }
}

object Probe {
  /** Attaches a probe to the session's listener buses. */
  def attach(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    p
  }

  def detach(spark: SparkSession, p: Probe): Unit = {
    spark.sparkContext.removeSparkListener(p)
  }

  /** Waits until every posted listener event has been delivered. The wait
    * is not part of Spark's public API, so it is reached reflectively; a
    * Spark without it gets a fixed grace period instead. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(1000) }
}

/** One span: a named interval with its parent and the request it serves. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      start: Double, end: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1L

  def add(parent: Long, trace: String, name: String, start: Double, end: Double,
          attrs: Map[String, Any] = Map.empty): Long = synchronized {
    val id = next; next += 1
    buf += Span(id, parent, trace, name, start, end, attrs)
    id
  }

  /** Ends an open span (one added with end = start) now. */
  def close(id: Long): Unit = synchronized {
    val i = buf.indexWhere(_.id == id)
    if (i >= 0) buf(i) = buf(i).copy(end = Spans.nowMs)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Self time per span name: a span's duration minus the part of it its
    * children cover. */
  def selfMs: Seq[(String, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0.0; var curA = Double.NaN; var curB = Double.NaN
      covered.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { sum += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) sum += curB - curA
      s.name -> (s.ms - sum)
    }
    self.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2)
  }
}

object Spans {
  /** Wall clock in ms with sub-ms resolution, on the epoch clock Spark's
    * listener events use. */
  private val origin = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = origin + System.nanoTime() / 1e6
}
