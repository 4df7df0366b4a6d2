package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Executor-side totals of the Spark work one layer caused. */
final class LayerWork {
  var jobs = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** (start, end) epoch ms of every finished job, per call group. */
  val jobIntervals = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
}

/** A span: one timed call into a layer. Spans of one request or batch share
  * `req`; `parent` is the enclosing span's id (0 at the root). */
final case class Span(id: Long, req: Long, parent: Long, name: String, startMs: Long, endMs: Long)

/** Spans kept in memory plus a Spark listener that attributes task metrics
  * to the job group the benchmark sets around each call. The group id is
  * `<layer>#<call>`; work is summed per layer. Off unless `enabled`. */
final class Trace(sc: SparkContext, val enabled: Boolean) extends SparkListener {

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  /** Pauses recording (the untraced halves of a traced window). */
  @volatile var recording: Boolean = enabled

  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private var started = 0L
  private var ended = 0L
  private val work = mutable.HashMap.empty[String, LayerWork]
  val taskDelaysMs = mutable.ArrayBuffer.empty[Long]
  private val jobEndTimes = mutable.ArrayBuffer.empty[Long]

  if (enabled) sc.addSparkListener(this)

  private def layerOf(group: String): String = group.takeWhile(_ != '#')

  /** Runs `body` as one call of `layer`: a span, and a job group so the
    * listener can attribute the call's Spark work. A call inside another
    * call is its child and shares its request id. */
  def call[A](layer: String)(body: => A): A = {
    if (!enabled || !recording) return body
    val parent = current.get()
    val id = ids.incrementAndGet()
    val rq = if (parent != null) parent.req else id
    val group = s"$layer#$id"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    val start = System.currentTimeMillis()
    current.set(Span(id, rq, if (parent == null) 0L else parent.id, layer, start, start))
    try body
    finally {
      spans.add(Span(id, rq, if (parent == null) 0L else parent.id, layer, start, System.currentTimeMillis()))
      current.set(parent)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("untagged")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobEndTimes += e.time
    val g = jobGroup.remove(e.jobId).getOrElse("untagged")
    val st = jobStart.remove(e.jobId).getOrElse(e.time)
    if (recording) {
      val w = work.getOrElseUpdate(layerOf(g), new LayerWork)
      w.jobs += 1
      w.jobIntervals.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((st, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!recording || e.taskInfo == null) return
    val w = work.getOrElseUpdate(layerOf(stageGroup.getOrElse(e.stageId, "untagged")), new LayerWork)
    w.tasks += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s => taskDelaysMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      w.execCpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Waits until every started job's end event has been delivered. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(ended < started) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def layer(name: String): LayerWork = synchronized(work.getOrElse(name, new LayerWork))

  def jobsBetween(fromMs: Long, toMs: Long): Int =
    synchronized(jobEndTimes.count(t => t >= fromMs && t <= toMs))

  /** Call wall time not covered by the call's own Spark jobs, summed over
    * the layer's calls (ms). */
  def driverMs(layer: String): Double = synchronized {
    val calls = spans.toArray(Array.empty[Span]).filter(_.name == layer)
    val iv = work.get(layer).map(_.jobIntervals).getOrElse(mutable.HashMap.empty)
    calls.map(s => (s.endMs - s.startMs - Trace.covered(iv.getOrElse(s"$layer#${s.id}", Nil))).toDouble).sum
  }

  /** Writes the spans as JSON lines, with every Spark job as a child span of
    * the call that ran it, and each span's self time (duration minus the
    * union of its children). */
  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val all = spans.toArray(Array.empty[Span]).toSeq
    val byGroup = work.values.flatMap(_.jobIntervals).toMap
    val jobSpans = all.flatMap { s =>
      byGroup.getOrElse(s"${s.name}#${s.id}", Nil).map { case (a, b) =>
        Span(ids.incrementAndGet(), s.req, s.id, "spark.job", a, b)
      }
    }
    val every = all ++ jobSpans
    val children = every.groupBy(_.parent)
    def self(s: Span): Long =
      s.endMs - s.startMs - Trace.covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try every.sortBy(_.startMs).foreach { s =>
      w.write(s"""{"id": ${s.id}, "req": ${s.req}, "parent": ${s.parent}, "name": "${s.name}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": ${self(s)}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** Length of the union of `intervals` (ms). */
  def covered(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.toSeq.sortBy(_._1).foreach { case (a0, b) =>
      val a = math.max(a0, end)
      if (b > a) total += b - a
      end = math.max(end, b)
    }
    total
  }
}
