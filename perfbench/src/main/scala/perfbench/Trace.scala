package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval inside an op (`op` = -1 outside any op,
  * e.g. a per-round layer probe). `parent` is the enclosing span's id. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** In-memory span recorder. Disabled (the untraced run) it only runs
  * the body, so the timed path carries no bookkeeping. */
final class Spans(val enabled: Boolean) {
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, ms, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Spark-side counters, from the public listener APIs: job, stage and
  * task events from a [[SparkListener]], Catalyst phase times from a
  * [[QueryExecutionListener]]. Events carry wall-clock millis, so they
  * are attributed to spans by time window after the run. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final case class Task(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, inBytes: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, outBytes: Long)
  final case class Phase(name: String, startMs: Long, ms: Long)

  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.time); seen() }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = seen()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages.add(t); seen()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks.add(Task(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
    seen()
  }

  /** Phase times of one query execution; actions arrive through the
    * listener, a built-but-unexecuted frame's analysis through this. */
  def record(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (name, p) => phases.add(Phase(name, p.startTimeMs, p.durationMs)) }
    seen()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Block until no event has arrived for `quietMs` (bounded), so the
    * asynchronous listener bus has delivered the run's last events. */
  def drain(quietMs: Long = 400, maxMs: Long = 10000): Unit = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - lastEventMs < quietMs &&
      System.currentTimeMillis() - t0 < maxMs) Thread.sleep(50)
  }

  def jobsIn(s: Span): Int = jobs.asScala.count(t => t >= s.startMs && t <= s.endMs)
  def stagesIn(s: Span): Int = stages.asScala.count(t => t >= s.startMs && t <= s.endMs)
  def tasksIn(s: Span): Seq[Task] =
    tasks.asScala.filter(t => t.finish >= s.startMs && t.launch <= s.endMs).toSeq
  def phasesIn(s: Span): Seq[Phase] =
    phases.asScala.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs).toSeq
}
