package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters read from the outside, through listener events
  * only. Every task end is kept (stage id, launch/finish time, run time,
  * GC, shuffle and spill bytes), so any time window can be summarized after
  * the fact: the benchmark asks for the counters of its timed window and,
  * in traced runs, for the deltas across each span. */
final class EngineListener extends SparkListener {
  import EngineListener.Task

  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  // RDD blocks currently held (block id -> mem + disk bytes) and the peak
  // of their sum since the last reset
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobStarts += j.time }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) tasks += Task(t.stageId, t.taskInfo.launchTime, t.taskInfo.finishTime,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
    val info = b.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  def jobsSince(t0: Long): Int = synchronized { jobStarts.count(_ >= t0) }
  def taskRunMsSince(t0: Long): Long = synchronized { tasks.iterator.filter(_.launch >= t0).map(_.runMs).sum }
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockBytes }

  /** Counters of every job started and task launched in [t0, t1] (epoch
    * ms), over `cores` task slots. */
  def summary(t0: Long, t1: Long, cores: Int): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => t.launch >= t0 && t.finish <= t1)
    val wallS = math.max(1L, t1 - t0) / 1e3
    val taskS = ts.map(_.runMs).sum / 1e3
    // union of task intervals: wall time with at least one task running
    val busyMs = ts.map(t => (t.launch, t.finish)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (s >= end) (acc + (e - s), e)
        else if (e > end) (acc + (e - end), e)
        else (acc, end)
      }._1
    // worst stage's max/median task time (stages with >= 2 tasks)
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finish - t.launch).toDouble).sorted
      val med = Stats.median(d.toSeq)
      if (med <= 0) 1.0 else d.last / med
    }.foldLeft(1.0)((a, b) => math.max(a, b))
    Map(
      "spark.jobs" -> jobStarts.count(j => j >= t0 && j <= t1).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.core_busy_share" -> taskS / (wallS * cores),
      "spark.driver_only_s" -> math.max(0L, (t1 - t0) - busyMs) / 1e3,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> ts.map(_.spill).sum / 1e6,
      "spark.task_skew_max" -> skew,
      "spark.rdd_blocks_mb_peak" -> blockPeak / 1e6)
  }
}

object EngineListener {
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

object Engine {
  /** Attach a listener; the caller drains the bus before reading it. */
  def attach(sc: SparkContext): EngineListener = {
    val l = new EngineListener
    sc.addSparkListener(l)
    l
  }

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchShim.drainListeners(sc)
}

/** Peak old-generation occupancy after GC, from GC notifications. Only
  * notifications that arrive while `armed` count. */
object HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val oldPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .map(_.getName).filter(n => n.contains("Old") || n.contains("Tenured")).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if oldPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def arm(): Unit = { peak = 0L; armed = true }
  /** Disarm and return the peak in MB. A window with no GC at all reports
    * the current old-generation occupancy instead. */
  def disarm(): Double = {
    armed = false
    val p = if (peak > 0) peak else ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(b => oldPools(b.getName)).map(_.getUsage.getUsed).sum
    p / 1e6
  }
}
