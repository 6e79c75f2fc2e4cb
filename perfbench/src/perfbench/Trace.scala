package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into the system. Times are epoch
 * milliseconds so they line up with the event times Spark's listener bus
 * carries; `durMs` comes from the monotonic clock. */
final class Span(val id: Int, val parent: Int, val name: String, val startMs: Long) {
  var endMs: Long = -1L
  var durMs: Double = 0.0
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** Per-job counters gathered by [[JobListener]]. */
final class JobRec(val jobId: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var taskMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
}

/**
 * Records every job and its tasks. Jobs are attributed to spans by time
 * window (job submission time inside the span), never by local properties:
 * `TripleStore.materialize` submits its POS/OSP/lineage jobs from pool
 * threads that do not inherit the caller's properties. The benchmark runs a
 * single client, so spans at one nesting level never overlap.
 */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        j.taskMs += m.executorRunTime
        // the scheduler-delay formula of Spark's web UI
        val other = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime +
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
        j.schedDelayMs += math.max(0L, info.duration - other)
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toList)

  def allEnded: Boolean = synchronized(jobs.values.forall(_.endMs >= 0))
}

/** Span recorder. Disabled, `span` only runs its body. Spans stay in memory
 * and are written as JSON lines once the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val listener = new JobListener
  val plans = new PlanCapture

  /** Listen only while a traced call runs, so that the untraced half of a
   * traced/untraced pair pays for no listener at all. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(plans)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(plans)
  }

  /** Run `body` traced: listeners attached, drained afterwards. */
  def traced[T](spark: SparkSession)(body: => T): T = {
    attach(spark)
    try body finally detach(spark)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toList

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        s.durMs = (System.nanoTime() - t0) / 1e6
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** The innermost open span. */
  def current: Span = stack.head

  /** The listener bus is asynchronous: wait until every submitted job has
   * reported its end and the task counts stop moving. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 20000
    var last = -1L
    var stable = 0
    while (stable < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(30)
      val n = listener.snapshot().map(_.tasks.toLong).sum
      if (listener.allEnded && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  private def contains(s: Span, tMs: Long): Boolean = tMs >= s.startMs && tMs <= s.endMs

  /** Jobs submitted inside the span (or one of its children). */
  def jobsIn(s: Span): Seq[JobRec] = listener.snapshot().filter(j => contains(s, j.startMs))

  /** Span wall time during which no job of the span was running: the fixed
   * driver term (planning, commit, listing, result handling). */
  def driverOnlyMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (j.startMs, math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, (s.endMs - s.startMs) - covered.toDouble)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- spans) {
      val js = jobsIn(s)
      val fields = mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs,
        "jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
        "task_ms" -> js.map(_.taskMs).sum, "sched_delay_ms" -> js.map(_.schedDelayMs).sum,
        "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> js.map(_.spillBytes).sum,
        "input_records" -> js.map(_.inputRecords).sum,
        "driver_only_ms" -> driverOnlyMs(s)) ++ s.attrs.toSeq
      sb.append(Json.write(fields)).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val Off = new Tracer(false)
}

/** Captures the executed plan of each noop sink write, for the catalyst
 * phase split and the per-scan row counts. Only the write command's event
 * counts: `Compiler.compile` runs Dataset actions of its own (eager
 * `localCheckpoint`s for OPTIONAL, NOT EXISTS and path closure rounds), and
 * each of those fires this listener too. Delivery is asynchronous, like the
 * job events. */
final class PlanCapture extends QueryExecutionListener {
  @volatile private var last: QueryExecution = null
  @volatile var sinks = 0L

  private def sink(qe: QueryExecution): Unit =
    if (qe.logical.isInstanceOf[V2WriteCommand]) { last = qe; sinks += 1 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = sink(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    sink(qe)

  /** The first sink plan delivered after `sinks` read `before`, or null. */
  def awaitAfter(before: Long): QueryExecution = {
    val deadline = System.currentTimeMillis() + 10000
    while (sinks <= before && System.currentTimeMillis() < deadline) Thread.sleep(5)
    if (sinks > before) last else null
  }
}

/** The JSON writer for records, spans and the result line: Jackson, which
 * ships with Spark, with its Scala module for Scala maps and sequences. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
