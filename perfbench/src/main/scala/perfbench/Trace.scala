package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into the engine. Windows are wall-clock milliseconds,
  * the clock Spark stamps its job events with; `wallNs` is the precise
  * duration. */
final case class Span(name: String, startMs: Long, endMs: Long, wallNs: Long) {
  def wallMs: Double = wallNs / 1e6
}

/** Counters of one span, attributed from the Spark events of its window. */
final case class SpanCounters(jobs: Int, driverMs: Double, taskCpuMs: Double,
    shuffleBytes: Long, gcMs: Double)

/** Span recorder and the `SparkListener` that feeds it. Job and task
  * events are always kept, which is cheap and gives the job count of
  * every measured operation; spans are kept only while `tracing`.
  * Everything stays in memory; attribution runs after the session has
  * stopped, which drains the listener bus, so no event is missed. */
final class Trace extends SparkListener {
  @volatile var tracing: Boolean = false

  import Trace.{Job, Task}

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new Job(e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(Task(e.stageId, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten))
    }

  /** Runs `f` inside a span named `name` when tracing, and plainly when not. */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally spans += Span(name, startMs, System.currentTimeMillis(), System.nanoTime() - t0)
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Jobs started inside `[startMs, endMs]`. Read after the session stops. */
  def jobsIn(startMs: Long, endMs: Long): Int =
    jobs.values.asScala.count(j => j.startMs >= startMs && j.startMs <= endMs)

  /** Counters of `s`: the jobs started inside its window, the tasks of
    * those jobs' stages, and the span's wall time not covered by any of
    * those jobs, which is time the driver spent planning or waiting on
    * itself. Read after the session stops. */
  def counters(s: Span): SpanCounters = {
    val mine = jobs.values.asScala.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
    val stages = mine.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stages(t.stage))
    val busy = Trace.unionLength(
      mine.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)), s.startMs, s.endMs)
    SpanCounters(mine.size, math.max(0.0, s.wallMs - busy),
      ts.map(_.cpuNs).sum / 1e6, ts.map(_.shuffleBytes).sum, ts.map(_.gcMs).sum.toDouble)
  }
}

object Trace {
  private final class Job(val startMs: Long, val stages: Seq[Int]) { @volatile var endMs: Long = -1 }
  private final case class Task(stage: Int, cpuNs: Long, gcMs: Long, shuffleBytes: Long)

  /** Length of the union of closed intervals, clipped to `[lo, hi]`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
