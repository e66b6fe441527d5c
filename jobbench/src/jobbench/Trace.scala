package jobbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `job` groups the spans of one traced
  * job; `parent` is the enclosing span (-1 at the root). */
final case class Span(id: Int, parent: Int, job: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Every span sets a Spark job group named after its id,
  * so Spark work started inside it is attributed to it by [[EngineListener]]. */
final class Tracer(val sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  var job = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, parent, job, name, t0, t1)
    }
  }

  def ofJob(j: Int): Seq[Span] = spans.filter(_.job == j).toSeq

  /** Self time per span: its duration minus the union of its children's. */
  def selfSeconds(ss: Seq[Span]): Map[Int, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"job":${s.job},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  def group(id: Int): String = s"jobbench-span-$id"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("jobbench-span-")).map(_.stripPrefix("jobbench-span-").toInt)

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Task and stage totals for one set of spans. */
final case class EngineTotals(jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    runS: Double, cpuS: Double, waitS: Double, gcS: Double, actionWallS: Double,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, inputB: Long, outputB: Long)

/** Scheduler observer: per task metrics keyed by the job group (span) of the
  * Spark job that ran them. */
final class EngineListener extends SparkListener {
  private final case class TaskRec(span: Int, ok: Boolean, runMs: Long, cpuNs: Long,
      waitMs: Long, gcMs: Long, shW: Long, shR: Long, spill: Long, in: Long, out: Long)
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // span, start, end
  private val stagesBySpan = mutable.Map.empty[Int, mutable.Set[(Int, Int)]]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(g).foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(st => stageSpan(st) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(s => jobs += ((s, jobStart(e.jobId), e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { s =>
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      stagesBySpan.getOrElseUpdate(s, mutable.Set.empty) += ((si.stageId, si.attemptNumber()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
      val ok = e.reason == org.apache.spark.Success
      tasks += (if (m == null) TaskRec(s, ok, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(s, ok, m.executorRunTime, m.executorCpuTime,
        math.max(0L, e.taskInfo.launchTime - submit), m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  def totals(spanIds: Set[Int]): EngineTotals = synchronized {
    val ts = tasks.filter(t => spanIds.contains(t.span))
    val js = jobs.filter(j => spanIds.contains(j._1))
    EngineTotals(
      jobs = js.size,
      stages = spanIds.toSeq.map(s => stagesBySpan.get(s).map(_.size).getOrElse(0)).sum,
      tasks = ts.size,
      failedTasks = ts.count(!_.ok),
      runS = ts.map(_.runMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      waitS = ts.map(_.waitMs).sum / 1e3,
      gcS = ts.map(_.gcMs).sum / 1e3,
      actionWallS = Tracer.unionNs(js.map(j => (j._2 * 1000000L, j._3 * 1000000L)).toSeq) / 1e9,
      shuffleWriteB = ts.map(_.shW).sum,
      shuffleReadB = ts.map(_.shR).sum,
      spillB = ts.map(_.spill).sum,
      inputB = ts.map(_.in).sum,
      outputB = ts.map(_.out).sum)
  }
}

/** Largest old-generation occupancy seen right after a major (full or mixed)
  * collection while armed; GC notifications carry the per-pool usage after the
  * collection. Minor collections are left out: the old generation they leave
  * depends on when promotion happened to run, not on what the job keeps. */
final class HeapMonitor extends NotificationListener {
  @volatile var armed = false
  @volatile private var peak = 0L
  private val majors = new java.util.concurrent.atomic.AtomicLong
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toList
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction.contains("major")) {
        if (armed) info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if ((pool.contains("Old Gen") || pool.contains("Tenured")) && u.getUsed > peak)
            peak = u.getUsed
        }
        majors.incrementAndGet()
      }
    }

  /** A full collection, returning once its notification has been handled
    * (notifications arrive on another thread). */
  def fullGc(): Unit = {
    val seen = majors.get
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (majors.get == seen && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def peakBytes: Long = peak

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => () })
}
