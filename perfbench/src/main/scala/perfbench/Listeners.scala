package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Block-update bookkeeping for one pass, on in every run: storage memory
  * held by blocks written during the pass (pins, checkpoints, broadcast
  * pieces), the RDDs that stored blocks, and the broadcasts shipped.
  * Broadcast pieces count from when they are written to the end of the
  * pass: the context cleaner frees them whenever a GC happens to run, and
  * that timing is not the program's. */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L
  private val rdds = mutable.HashSet.empty[Int]
  private val broadcasts = mutable.HashSet.empty[Long]
  private var broadcastBytes = 0L

  def reset(): Unit = synchronized {
    sizes.clear(); total = 0L; peak = 0L
    rdds.clear(); broadcasts.clear(); broadcastBytes = 0L
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    val size = if (info.storageLevel.isValid) info.memSize else 0L
    val known = sizes.contains(id.name)
    id match {
      case b: BroadcastBlockId =>
        if (size > 0 && !known && b.field.startsWith("piece")) {
          sizes(id.name) = size
          total += size
          broadcasts += b.broadcastId
          broadcastBytes += size
        }
      case _ if size > 0 || known =>
        total += size - sizes.getOrElse(id.name, 0L)
        if (size > 0) sizes(id.name) = size else sizes.remove(id.name)
        id match {
          case RDDBlockId(rddId, _) if size > 0 => rdds += rddId
          case _ => ()
        }
      case _ => ()
    }
    peak = math.max(peak, total)
  }

  def peakMb: Double = synchronized(peak / 1048576.0)
  def pinnedRdds: Int = synchronized(rdds.size)
  def broadcastCount: Int = synchronized(broadcasts.size)
  def broadcastMb: Double = synchronized(broadcastBytes / 1048576.0)
}

/** Job, stage and task records of one traced pass. */
final class TraceListener extends SparkListener {
  import TraceListener.Task

  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages = 0
  private val tasks = mutable.ArrayBuffer.empty[Task]

  def reset(): Unit = synchronized {
    jobStarts.clear(); jobSpans.clear(); stages = 0; tasks.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobStarts(e.jobId) = e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(
      e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
  }

  /** Spark-engine metrics of the pass that ran from `startMs` to `endMs`
    * (epoch ms) on `cores` cores. */
  def metrics(startMs: Long, endMs: Long, cores: Int): Map[String, Double] =
    synchronized {
      val wallS = math.max(endMs - startMs, 1L) / 1000.0
      val runS = tasks.map(_.runMs).sum / 1000.0
      // union of the job intervals, clipped to the pass
      val covered = jobSpans.toSeq
        .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
          if (e <= reach) (acc, reach)
          else (acc + e - math.max(s, reach), e)
        }._1
      val longest = if (tasks.isEmpty) None else Some(tasks.maxBy(_.runMs))
      val skew = longest.fold(1.0) { t =>
        val times = tasks.filter(_.stage == t.stage).map(_.runMs.toDouble)
        val med = Stats.median(times.toSeq)
        if (med > 0) t.runMs / med else 1.0
      }
      val mb = 1048576.0
      Map(
        "spark.jobs" -> (jobSpans.size + jobStarts.size).toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.busy_frac" -> runS / (wallS * cores),
        "spark.driver_gap_s" -> (wallS - covered / 1000.0),
        "spark.task_run_s" -> runS,
        "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
        "spark.max_task_s" -> longest.fold(0.0)(_.runMs / 1000.0),
        "spark.task_skew" -> skew,
        "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
        "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
        "spark.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0,
        "spark.spill_mb" -> tasks.map(_.spill).sum / mb)
    }
}

object TraceListener {
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)
}
