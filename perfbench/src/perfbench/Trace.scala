package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced layer call. Times are epoch milliseconds (the clock Spark
  * stamps job events with) plus a nanosecond duration for the span
  * itself. `op` groups the spans of one benchmark operation.
  */
final class Span(val id: Long, val name: String, val tag: String,
    val parent: Long, val op: Long, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = -1L
  var durNs: Long = 0L
  var rows: Long = -1L
  var count: Long = -1L
  def durMs: Double = durNs / 1e6
}

/** Task-level totals of one stage, filled from task-end events. */
final class StageAcc {
  var tasks = 0
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val jobId: Int, val startMs: Long, val spanProp: Long,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Span recorder plus the listener that charges Spark jobs, stages and
  * tasks to spans. Spans are opened and closed on the single client
  * thread; each span is published to Spark as the local property
  * [[Tracer.SpanProp]], so a job carries the span that was innermost when
  * it was submitted. A job whose property names no span that was open at
  * its start (threads that inherited a stale property) is charged to the
  * innermost span open at that time instead. Everything stays in memory
  * until [[writeJsonl]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var enabled: Boolean = false
  private var nextId = 0L
  private var currentOp = 0L
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  @volatile private var eventsSeen = 0L

  def beginOp(op: Long): Unit = currentOp = op

  def span[A](name: String, tag: String = "")(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val parent = if (stack.isEmpty) 0L else stack.top.id
      val s = new Span(nextId, name, tag, parent, currentOp,
        System.currentTimeMillis(), System.nanoTime())
      stack.push(s)
      spans += s
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        s.endMs = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  /** Attach a result row count to the innermost open span. */
  def rows(n: Long): Unit = if (enabled && stack.nonEmpty) stack.top.rows = n
  /** Attach a size figure (e.g. plan operators) to the innermost span. */
  def count(n: Long): Unit = if (enabled && stack.nonEmpty) stack.top.count = n

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, prop, e.stageIds))
    eventsSeen += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    eventsSeen += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
    acc.synchronized {
      acc.tasks += 1
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.taskMs += m.executorRunTime
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    eventsSeen += 1
  }

  /** Wait until the listener bus has delivered every event: no job left
    * open and no new event for a short quiet period (bounded).
    */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var waited = 0
    while ((quiet < 3 || jobs.values.asScala.exists(_.endMs < 0)) &&
        waited < 5000) {
      Thread.sleep(50)
      waited += 50
      if (eventsSeen == last) quiet += 1 else { quiet = 0; last = eventsSeen }
    }
  }

  /** Jobs charged to each span id (directly, not via children). */
  lazy val jobsBySpan: Map[Long, Seq[JobRec]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def openAt(s: Span, t: Long): Boolean =
      s.startMs <= t && (s.endMs < 0 || t <= s.endMs)
    jobs.values.asScala.toSeq.flatMap { j =>
      val direct = byId.get(j.spanProp).filter(openAt(_, j.startMs))
      direct.orElse(spans.filter(openAt(_, j.startMs))
        .sortBy(s => (s.startMs, s.id)).lastOption)
        .map(s => s.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Jobs of a span and all its descendants. */
  def allJobs(s: Span): Seq[JobRec] =
    jobsBySpan.getOrElse(s.id, Nil) ++
      children.getOrElse(s.id, Nil).flatMap(allJobs)

  def stageAcc(j: JobRec): Seq[StageAcc] =
    j.stageIds.flatMap(id => Option(stages.get(id)))

  /** Span time not covered by any of its (or its descendants') jobs: the
    * driver-side share — planning, job submission and inter-job gaps.
    */
  def driverGapMs(s: Span): Double = {
    val iv = allJobs(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.durMs - covered)
  }

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val js = allJobs(s)
      val acc = js.flatMap(stageAcc)
      s"""{"id":${s.id},"name":"${s.name}","tag":"${s.tag}",""" +
        s""""parent":${s.parent},"op":${s.op},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"dur_ms":${s.durMs},""" +
        s""""jobs":${js.size},"stages":${acc.count(_.tasks > 0)},""" +
        s""""tasks":${acc.map(_.tasks).sum},""" +
        s""""shuffle_read":${acc.map(_.shuffleRead).sum},""" +
        s""""shuffle_write":${acc.map(_.shuffleWrite).sum},""" +
        s""""rows":${s.rows}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
