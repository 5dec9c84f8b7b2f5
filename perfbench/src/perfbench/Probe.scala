package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Additive Spark counters for one interval or one span. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    gcMs: Long = 0, schedWaitMs: Long = 0) {
  private def zip(o: Counters, f: (Long, Long) => Long) = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(cpuNs, o.cpuNs),
    f(shuffleWrite, o.shuffleWrite), f(shuffleRead, o.shuffleRead),
    f(spill, o.spill), f(gcMs, o.gcMs), f(schedWaitMs, o.schedWaitMs))
  def +(o: Counters): Counters = zip(o, _ + _)
  def -(o: Counters): Counters = zip(o, _ - _)
  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_cpu_s" -> cpuNs / 1e9,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "gc_s" -> gcMs / 1e3, "scheduler_wait_s" -> schedWaitMs / 1e3)
}

object Probe {
  /** Local property naming the open trace span; jobs inherit it. */
  val SpanKey = "perfbench.span"
  /** Local property marking the listener-bus drain job. */
  val SentinelKey = "perfbench.sentinel"
  /** Local property marking untimed work (output checks): its jobs,
    * stages and tasks are charged to nothing. */
  val UntimedKey = "perfbench.untimed"
  private val Uncharged = "\u0000uncharged"
}

/** One SparkListener for every counter the benchmark reads. Jobs,
  * stages and tasks are charged to the run total and to the span named
  * by the job's [[Probe.SpanKey]] property; drain jobs and untimed jobs
  * are charged to nothing. Every callback and every read holds the same
  * lock. */
final class Probe extends SparkListener {
  import Probe._
  private var total = Counters()
  private val bySpan = mutable.Map.empty[String, Counters]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val sentinels = mutable.Set.empty[Int]
  @volatile private var latch = new CountDownLatch(0)

  private def charge(span: String, c: Counters): Unit = if (span != Uncharged) {
    total += c
    if (span.nonEmpty) bySpan(span) = bySpan.getOrElse(span, Counters()) + c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def has(k: String) = props.exists(_.getProperty(k) != null)
    if (has(SentinelKey)) sentinels += e.jobId
    val span =
      if (has(SentinelKey) || has(UntimedKey)) Uncharged
      else props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    e.stageIds.foreach(stageSpan(_) = span)
    if (span != Uncharged) jobStart(e.jobId) = e.time
    charge(span, Counters(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val wasSentinel = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => intervals += (t0 -> e.time))
      sentinels.remove(e.jobId)
    }
    if (wasSentinel) latch.countDown()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    charge(stageSpan.getOrElse(id, ""), Counters(stages = 1))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // scheduler wait: submission of a stage to the launch of its first task
    stageSubmitted.remove(e.stageId).foreach { t0 =>
      charge(stageSpan.getOrElse(e.stageId, ""),
        Counters(schedWaitMs = math.max(0L, e.taskInfo.launchTime - t0)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c =
      if (m == null) Counters(tasks = 1)
      else Counters(tasks = 1, cpuNs = m.executorCpuTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled, gcMs = m.jvmGCTime)
    charge(stageSpan.getOrElse(e.stageId, ""), c)
  }

  /** Wait until the listener bus has delivered every event posted so
    * far. Events arrive in order, so the end of a marked one-task job
    * means all earlier jobs, stages and tasks have been counted. */
  def drain(sc: SparkContext): Unit = {
    latch = new CountDownLatch(1)
    val prev = sc.getLocalProperty(SentinelKey)
    sc.setLocalProperty(SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, prev)
    require(latch.await(120, TimeUnit.SECONDS), "listener bus did not drain")
  }

  /** Run `body` with its Spark work charged to nothing. */
  def untimed[T](sc: SparkContext)(body: => T): T = {
    val prev = sc.getLocalProperty(UntimedKey)
    sc.setLocalProperty(UntimedKey, "1")
    try body finally sc.setLocalProperty(UntimedKey, prev)
  }

  def totals: Counters = synchronized(total)
  def span(id: String): Counters = synchronized(bySpan.getOrElse(id, Counters()))

  /** Job intervals (epoch ms) recorded since the last call. */
  def takeIntervals(): Seq[(Long, Long)] = synchronized {
    val out = intervals.toList
    intervals.clear()
    out
  }
}

/** Sums QueryPlanningTracker phase times (analysis, optimization,
  * planning) over every query execution, eager ones included. */
final class PlanningProbe extends QueryExecutionListener {
  val planningMs = new AtomicLong
  private def add(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => planningMs.addAndGet(p.durationMs))
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** In-memory trace spans. A span covers one public call; jobs started
  * inside it carry its id through [[Probe.SpanKey]]. `run` ties the
  * spans of one op together. A disabled tracer runs the body only. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  final class Span(val id: Int, val parent: Int, val name: String, val run: Int,
                   val start: Long) { var end: Long = start }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var run = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.getOrElse(-1), name, run, System.nanoTime())
      spans += s
      val prev = sc.getLocalProperty(Probe.SpanKey)
      sc.setLocalProperty(Probe.SpanKey, s.id.toString)
      open = s.id :: open
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Probe.SpanKey, prev)
      }
    }

  def toJson(probe: Probe): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start" -> s.start / 1e9, "end" -> s.end / 1e9) ++ probe.span(s.id.toString).toJson
  }
}
