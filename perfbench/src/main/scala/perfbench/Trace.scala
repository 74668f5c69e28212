package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory tracer for the traced run.
  *
  * Spans are opened and closed by the benchmark around calls into one
  * engine module's public functions; each has a name, a parent, the id of
  * the operation it belongs to, and wall-clock bounds. A [[SparkListener]]
  * records every job, stage and task; after the run each event is charged
  * to the innermost span that was open when the event started (by its own
  * start timestamp — AQE submits stages from pooled threads with generic
  * call sites, so neither thread-locals nor stage names identify the
  * caller). Only one operation runs at a time, so time containment is
  * exact up to the listener's millisecond clock.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var opId = 0L

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageSubmit = mutable.ArrayBuffer.empty[Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized { jobs += JobRec(e.jobId, e.time, Long.MaxValue) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized {
        val i = jobs.lastIndexWhere(_.id == e.jobId)
        if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.synchronized {
        stageSubmit += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val rec = TaskRec(
          launchMs = e.taskInfo.launchTime,
          durationMs = e.taskInfo.duration,
          runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime,
          gcMs = m.jvmGCTime,
          inputBytes = m.inputMetrics.bytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        )
        tasks.synchronized { tasks += rec }
      }
  }
  sc.addSparkListener(listener)

  /** A traced operation: the root span of one timed unit of work. Events
    * outside every span (untraced passes) are recorded but charged to
    * nothing. */
  def op[T](name: String)(f: => T): T = {
    opId += 1
    span(name)(f)
  }

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), opId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
    }
  }

  def close(): Unit = {
    org.apache.spark.PerfbenchListenerBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Attribute every recorded event to its innermost span and summarise
    * each span. Call after [[close]]. */
  def report(cores: Int): Seq[SpanStats] = {
    val stats = spans.map(s => new SpanStats(s))
    // innermost span containing time t: the open span that started last
    def owner(t: Long): Option[SpanStats] = {
      var best: SpanStats = null
      var i = 0
      while (i < stats.length) {
        val s = stats(i).span
        if (s.startMs <= t && t <= s.endMs && (best == null || s.startNs >= best.span.startNs)) best = stats(i)
        i += 1
      }
      Option(best)
    }
    jobs.foreach(j => owner(j.startMs).foreach(_.jobs += j))
    stageSubmit.foreach(t => owner(t).foreach(_.stages += 1))
    tasks.foreach(t => owner(t.launchMs).foreach(_.tasks += t))
    // self time: duration minus the union of the children's intervals
    val children = stats.groupBy(_.span.parent)
    stats.foreach { st =>
      val kids = children.get(st.span.id).toSeq.flatten.map(k => (k.span.startNs, k.span.endNs))
      st.selfMs = st.durMs - unionNs(kids) / 1e6
      st.cores = cores
    }
    stats.toSeq
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Long, startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = Long.MaxValue
  }
  final case class JobRec(id: Int, startMs: Long, endMs: Long)
  final case class TaskRec(
      launchMs: Long,
      durationMs: Long,
      runMs: Long,
      cpuNs: Long,
      gcMs: Long,
      inputBytes: Long,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      shuffleReadBytes: Long,
      fetchWaitMs: Long,
      spillBytes: Long
  )

  private[perfbench] def unionNs(iv: Seq[(Long, Long)]): Double = {
    var total = 0.0
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** One span with the Spark work charged to it: its own, not its
    * children's. */
  final class SpanStats(val span: Span) {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
    var stages = 0
    var selfMs = 0.0
    var cores = 1
    def durMs: Double = (span.endNs - span.startNs) / 1e6

    /** span time with no Spark job running (the driver's share) */
    def driverGapMs: Double = {
      val iv = jobs.map(j => (math.max(j.startMs, span.startMs), math.min(j.endMs, span.endMs)))
        .filter { case (s, e) => e > s }
      math.max(0.0, durMs - unionNs(iv.toSeq))
    }
    def counter(name: String): Double = name match {
      case "jobs"                 => jobs.size
      case "stages"               => stages
      case "tasks"                => tasks.size
      case "executor_cpu_ms"      => tasks.map(_.cpuNs).sum / 1e6
      case "executor_run_ms"      => tasks.map(_.runMs).sum.toDouble
      case "gc_ms"                => tasks.map(_.gcMs).sum.toDouble
      case "input_bytes"          => tasks.map(_.inputBytes).sum.toDouble
      case "shuffle_write_bytes"  => tasks.map(_.shuffleWriteBytes).sum.toDouble
      case "shuffle_write_records" => tasks.map(_.shuffleWriteRecords).sum.toDouble
      case "shuffle_read_bytes"   => tasks.map(_.shuffleReadBytes).sum.toDouble
      case "fetch_wait_ms"        => tasks.map(_.fetchWaitMs).sum.toDouble
      case "spill_bytes"          => tasks.map(_.spillBytes).sum.toDouble
      case "core_busy_ratio"      => if (durMs <= 0) 0.0 else tasks.map(_.runMs).sum / (durMs * cores)
      case "straggler_ratio"      =>
        if (tasks.isEmpty) 0.0
        else {
          val d = tasks.map(_.durationMs.toDouble).sorted
          val med = d(d.size / 2)
          if (med <= 0) d.last else d.last / med
        }
      case other => throw new IllegalArgumentException(s"unknown counter $other")
    }
  }

  val counters: Seq[String] = Seq("jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms", "gc_ms",
    "input_bytes", "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes", "fetch_wait_ms",
    "spill_bytes", "core_busy_ratio", "straggler_ratio")
}
