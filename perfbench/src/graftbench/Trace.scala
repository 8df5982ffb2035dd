package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a layer boundary crossed by the benchmark's own code. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, every call is a no-op apart from
  * running the body, so the untimed path pays nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = new ArrayBuffer[Span](1 << 16)
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0
  /** Nanoseconds spent inside the tracer itself: the direct tracing cost. */
  var selfNs = 0L

  def beginOp(opId: Int): Unit = op = opId

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val e0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s0 = System.nanoTime()
      selfNs += s0 - e0
      try body
      finally {
        val s1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, parent, op, s0, s1)
        selfNs += System.nanoTime() - s1
      }
    }

  /** Spans as JSON lines (name, start, end, parent, op). */
  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark-side events, stamped with wall-clock millis so they can be matched
  * to the benchmark's operation windows. Registered in every run; the
  * per-task detail feeds the `spark.*` layer metrics of the traced run and
  * the rows-scanned count of both runs.
  */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
      callSite: String)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, deserMs: Long, resultSerMs: Long,
      gettingResultMs: Long, shuffleWriteBytes: Long, inRows: Long,
      inBytes: Long)
  final case class Action(startMs: Long, durNs: Long, planMs: Long)

  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  /** Forget everything recorded so far (the warm-up's events). */
  def clear(): Unit = { jobs.clear(); tasks.clear(); actions.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val cs = Option(e.properties).map(_.getProperty("callSite.long", "")).getOrElse("")
    val j = Job(e.jobId, e.time, -1L, e.stageIds, cs)
    open.put(e.jobId, j); jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.resultSerializationTime,
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
        m.inputMetrics.bytesRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    actions.add(Action(start, durationNs, planMs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
}
