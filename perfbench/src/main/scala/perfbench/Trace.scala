package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the timestamps Spark puts on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(nanos: Long): Double = baseMs + (nanos - baseNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** One traced interval. Spans of one item execution share `item`. */
final case class Span(id: Int, parent: Int, item: Int, name: String,
    label: String, startNs: Long, var endNs: Long = -1L) {
  def startMs: Double = Clock.ms(startNs)
  def endMs: Double = Clock.ms(endNs)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder, kept in memory and written out when the run ends. A
  * disabled tracer only runs the wrapped code. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var items = 0

  def item[T](label: String)(body: => T): T =
    if (!enabled) body else { items += 1; within("item", label)(body) }
  def tables[T](label: String)(body: => T): T = within("tables", label)(body)
  def op[T](label: String)(body: => T): T = within("op", label)(body)

  private def within[T](name: String, label: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), items, name,
        label, System.nanoTime())
      spans += s
      open = s :: open
      try body finally { s.endNs = System.nanoTime(); open = open.tail }
    }
}

final case class JobRec(id: Int, startMs: Double, var endMs: Double = Double.NaN)
final case class TaskRec(launchMs: Double, finishMs: Double, runMs: Long,
    cpuNs: Long, inBytes: Long, inRecords: Long,
    shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long)
final case class ExecRec(atMs: Double, planMs: Double)

/** Spark listener for the traced passes: jobs, stages, tasks with their
  * metrics, persisted-block sizes and Catalyst phase times, each with the
  * time it happened so it can be charged to the span open at that time. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer[JobRec]()
  val stageSubmitMs = ArrayBuffer[Double]()
  val tasks = ArrayBuffer[TaskRec]()
  val execs = ArrayBuffer[ExecRec]()
  private val blocks = scala.collection.mutable.HashMap[String, Long]()
  private var cached = 0L
  private var cachePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitMs += e.stageInfo.submissionTime.getOrElse(0L).toDouble
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks += TaskRec(i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockManagerId.toString + "/" + info.blockId.name
        val size = info.memSize + info.diskSize
        cached += size - blocks.getOrElse(key, 0L)
        if (size == 0) blocks.remove(key) else blocks(key) = size
        cachePeak = math.max(cachePeak, cached)
      }
    }
  /** Starts a new peak window at the bytes cached now. */
  def resetCachePeak(): Unit = synchronized { cachePeak = cached }
  def cachePeakBytes: Long = synchronized(cachePeak)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) synchronized {
      execs += ExecRec(phases.values.map(_.startTimeMs).min.toDouble,
        phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageSubmitMs.clear(); tasks.clear(); execs.clear()
  }
}

/** The one listener of untraced passes: the finish time and peak execution
  * memory of every task, for `task_mem_peak_mb`. */
final class TaskMemListener extends SparkListener {
  val finishes = ArrayBuffer[(Double, Long)]()
  val lastJob = new AtomicLong(-1L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      finishes += ((e.taskInfo.finishTime.toDouble, e.taskMetrics.peakExecutionMemory))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJob.set(e.jobId)
  def peakBetween(fromMs: Double, toMs: Double): Long = synchronized {
    finishes.iterator.filter(f => f._1 >= fromMs && f._1 <= toMs)
      .map(_._2).foldLeft(0L)(math.max)
  }
}

/** Old-generation occupancy after each collection, and collection time. */
object GcWatch {
  private val after = ArrayBuffer[(Double, Long)]()
  private lazy val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              oldPool.flatMap(p => Option(info.getGcInfo.getMemoryUsageAfterGc
                  .get(p.getName))).foreach { u =>
                after.synchronized(after += ((Clock.nowMs, u.getUsed)))
              }
            }
        }, null, null)
      case _ =>
    }

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Highest old-gen bytes left after a collection inside the window, or
    * the current occupancy when no collection ran in it. */
  def liveOldPeak(fromMs: Double, toMs: Double): Long = {
    val inWindow = after.synchronized(after.filter(a =>
      a._1 >= fromMs && a._1 <= toMs).map(_._2).toList)
    if (inWindow.nonEmpty) inWindow.max
    else oldPool.map(_.getUsage.getUsed).getOrElse(0L)
  }
}

/** Sorted, disjoint [start, end) intervals in milliseconds. */
final case class Intervals(spans: Vector[(Double, Double)]) {
  def length: Double = spans.map(s => s._2 - s._1).sum
  def intersect(o: Intervals): Intervals = {
    val out = Vector.newBuilder[(Double, Double)]
    var i = 0; var j = 0
    while (i < spans.size && j < o.spans.size) {
      val (a0, a1) = spans(i); val (b0, b1) = o.spans(j)
      val lo = math.max(a0, b0); val hi = math.min(a1, b1)
      if (lo < hi) out += ((lo, hi))
      if (a1 < b1) i += 1 else j += 1
    }
    Intervals(out.result())
  }
}
object Intervals {
  def union(xs: Iterable[(Double, Double)]): Intervals = {
    val merged = Vector.newBuilder[(Double, Double)]
    var cur: Option[(Double, Double)] = None
    xs.filter(x => x._2 > x._1).toVector.sortBy(_._1).foreach { x =>
      cur match {
        case Some((s, e)) if x._1 <= e => cur = Some((s, math.max(e, x._2)))
        case Some(c) => merged += c; cur = Some(x)
        case None => cur = Some(x)
      }
    }
    cur.foreach(merged += _)
    Intervals(merged.result())
  }
}

/** Per-layer figures of one traced pass, derived from its spans and the
  * listener events that fall inside them. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def of(spans: Seq[Span], l: TraceListener, cores: Int, passFromMs: Double,
      passToMs: Double, gcS: Double, heapPeak: Long,
      cachePeak: Long): Map[String, Double] = {
    val ops = spans.filter(_.name == "op")
    val opIv = Intervals.union(ops.map(s => (s.startMs, s.endMs)))
    // listener timestamps are whole milliseconds: allow one either side
    def inOps(t: Double): Boolean =
      opIv.spans.exists(s => t >= s._1 - 1 && t <= s._2 + 1)
    def inPass(t: Double): Boolean = t >= passFromMs && t <= passToMs
    val (jobs, tasks, stages, execs) = l.synchronized {
      (l.jobs.toVector, l.tasks.toVector, l.stageSubmitMs.toVector,
        l.execs.toVector)
    }
    val opJobs = jobs.filter(j => inOps(j.startMs))
    val opTasks = tasks.filter(t => inOps(t.launchMs))
    val passTasks = tasks.filter(t => inPass(t.launchMs))
    val passExecs = execs.filter(e => inPass(e.atMs))
    val jobIv = Intervals.union(jobs.map(j =>
      (j.startMs, if (j.endMs.isNaN) passToMs else j.endMs)))
    val taskIv = Intervals.union(tasks.map(t => (t.launchMs, t.finishMs)))
    val jobInOps = jobIv.intersect(opIv)
    val opsS = ops.map(_.seconds).sum
    val taskRunS = opTasks.map(_.runMs).sum / 1e3
    Map(
      "tables.s" -> spans.filter(_.name == "tables").map(_.seconds).sum,
      "tables.input_mb" -> passTasks.map(_.inBytes).sum / MB,
      "tables.rows" -> passTasks.map(_.inRecords).sum.toDouble,
      "catalyst.executions" -> passExecs.size.toDouble,
      "catalyst.plan_s" -> passExecs.map(_.planMs).sum / 1e3,
      "ops.s" -> opsS,
      "ops.jobs" -> opJobs.size.toDouble,
      "ops.stages" -> stages.count(inOps).toDouble,
      "ops.tasks" -> opTasks.size.toDouble,
      "ops.driver_s" -> (opIv.length - jobInOps.length) / 1e3,
      "ops.job_idle_s" -> (jobInOps.length - jobInOps.intersect(taskIv).length) / 1e3,
      "ops.task_run_s" -> taskRunS,
      "ops.task_cpu_s" -> opTasks.map(_.cpuNs).sum / 1e9,
      "ops.utilization" -> (if (opsS > 0) taskRunS / (opsS * cores) else 0.0),
      "shuffle.write_mb" -> passTasks.map(_.shWrite).sum / MB,
      "shuffle.read_mb" -> passTasks.map(_.shRead).sum / MB,
      "shuffle.fetch_wait_s" -> passTasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> passTasks.map(_.spill).sum / MB,
      "memory.heap_live_peak_mb" -> heapPeak / MB,
      "memory.gc_s" -> gcS,
      "cache.peak_mb" -> cachePeak / MB)
  }
}
