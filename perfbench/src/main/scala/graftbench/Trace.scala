package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span per public call the workload makes. Times are epoch
  * milliseconds with sub-millisecond precision, so they line up with the
  * listener's task launch and finish stamps. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Double, var end: Double = Double.NaN) {
  def dur: Double = end - start
}

/** Spans kept in memory and written out when the benchmark ends. While a
  * span is open, the thread-local Spark property [[Tracer.SpanProp]]
  * names it, so the listener can charge every job to the innermost span.
  * With tracing off every call is a plain pass-through. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var currentOp = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        currentOp, nowMs)
      spans += s
      stack.push(s)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Root span of one timed op; `op` ties its descendants together. */
  def op[T](id: Int, name: String)(body: => T): T = {
    currentOp = id
    try span(name)(body) finally currentOp = -1
  }

  /** Self time of every span: its duration minus the part its children
    * cover (children of one span run one after another). */
  def selfTimes: Map[Int, Double] = {
    val childCover = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childCover(s.parent) += s.dur)
    spans.map(s => s.id -> (s.dur - childCover(s.id))).toMap
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** What the listener saw of one job: the span it ran under, its wall
  * interval and the full call-site stack of its final stage. */
final case class JobRec(id: Int, span: Int, start: Double, var end: Double,
                        callSite: String, stages: Seq[Int])

final case class TaskRec(stage: Int, launch: Double, finish: Double,
                         runMs: Double, shuffleBytes: Long, spillBytes: Long)

/** Registered only in the traced run. Records jobs and tasks; all
  * attribution happens after the bus is drained. */
final class TraceListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  private val byId = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val j = JobRec(e.jobId, span, e.time.toDouble, Double.NaN,
      last.map(_.details).getOrElse(""), e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble, m.executorRunTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** Highest heap occupancy right after a collection, from GC
  * notifications, counted only while `armed`. */
final class HeapPeak extends NotificationListener {
  @volatile var armed = false
  @volatile var peakBytes = 0L
  @volatile var gcsSeen = 0

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (armed && n.getType ==
        "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
        .map(_.getUsed).sum
      synchronized {
        gcsSeen += 1
        if (used > peakBytes) peakBytes = used
      }
    }
}

object Intervals {
  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
