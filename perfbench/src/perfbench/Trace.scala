package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into a layer. `op` groups the spans of one workload
  * operation; `parent` is the enclosing span (0 at top level). Times are
  * epoch milliseconds so they line up with the Spark listener's job times.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark work of one job, summed over the tasks that ran for it. */
final class JobRec(val id: Int, val span: Long, val start: Long) {
  @volatile var end: Long = start
  @volatile var stages = 0
  @volatile var tasks = 0
  @volatile var cpuNs = 0L
  @volatile var shuffleWriteBytes = 0L
}

/** In-memory span recorder plus a Spark listener that attributes each job
  * to the span that was open on the submitting thread (through a job-local
  * property the tracer sets; Spark copies local properties into threads
  * the engine spawns). With tracing off every method just runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  private var nextId = 1L
  private var nextOp = 1L
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]

  private var paused = false
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      job(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  /** A top-level workload operation: a fresh op id for every span inside. */
  def op[A](name: String)(body: => A): A = open(name, newOp = true)(body)

  /** A call into one layer, nested in the enclosing span. */
  def span[A](name: String)(body: => A): A = open(name, newOp = false)(body)

  /** Run `body` with spans and the listener off, to price the tracing. */
  def untraced[A](body: => A): A =
    if (!enabled) body
    else {
      paused = true
      spark.sparkContext.removeSparkListener(listener)
      try body
      finally {
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.addSparkListener(listener)
        paused = false
      }
    }

  private def open[A](name: String, newOp: Boolean)(body: => A): A =
    if (!enabled || paused) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val op = if (newOp || stack.isEmpty) { nextOp += 1; nextOp - 1 } else stack.head._2
      stack = (id, op) :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        spans += Span(id, parent, op, name, start, nowMs)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (enabled) org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  private var childIndex: (Int, Map[Long, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Long, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  /** The span and every span nested in it. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs submitted while `s` or a span nested in it was innermost. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    allJobs.filter(j => ids(j.span))
  }

  /** Span duration not covered by any direct child span. */
  def selfMs(s: Span): Double =
    s.ms - Tracer.covered(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

  /** Span duration during which none of its Spark jobs was running: the
    * driver-side share of the call.
    */
  def driverGapMs(s: Span): Double =
    s.ms - Tracer.covered(s.start, s.end, jobsOf(s).map(j => (j.start.toDouble, j.end.toDouble)))

  def spanJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
}

object Tracer {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
