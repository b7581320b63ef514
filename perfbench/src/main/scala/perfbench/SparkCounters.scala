package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{ListenerBusDrain, SparkContext, Success}
import org.apache.spark.scheduler._

/** Counters from Spark's own scheduler events, owned by the benchmark: the
  * program under test is never touched. Registered only for the traced
  * part of a run; [[snapshot]] drains the bus first so an action's tasks
  * are all counted. */
final class SparkCounters extends SparkListener {
  private val lock = new Object
  private var jobs = 0
  private var stages = 0
  private var tasks = 0
  private var taskFailures = 0
  private var taskBusyMs = 0L
  private var taskCpuNs = 0L
  private var shuffleWriteB = 0L
  private var shuffleReadB = 0L
  private var spillB = 0L
  private val jobStartMs = ArrayBuffer[Long]()
  private val jobIntervals = ArrayBuffer[(Long, Long)]()
  private val openJobs = scala.collection.mutable.Map[Int, Long]()
  private val taskMsByStage = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
  private val stageSpanMs = scala.collection.mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    jobStartMs += e.time
    openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    openJobs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      stages += 1
      val info = e.stageInfo
      for (s <- info.submissionTime; c <- info.completionTime)
        stageSpanMs(info.stageId) = c - s
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
    taskMsByStage.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      taskBusyMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(sc: SparkContext): Unit = {
    ListenerBusDrain(sc)
    lock.synchronized {
      jobs = 0; stages = 0; tasks = 0; taskFailures = 0
      taskBusyMs = 0; taskCpuNs = 0
      shuffleWriteB = 0; shuffleReadB = 0; spillB = 0
      jobStartMs.clear(); jobIntervals.clear(); openJobs.clear()
      taskMsByStage.clear(); stageSpanMs.clear()
    }
  }

  /** Counters accumulated since the last reset. `opStartsMs` are the
    * epoch-ms instants at which the benchmark called each action; `windowMs`
    * is the measured wall window they fall in. */
  def snapshot(sc: SparkContext, opStartsMs: Seq[Long], windowStartMs: Long,
      windowEndMs: Long): Map[String, Double] = {
    ListenerBusDrain(sc)
    lock.synchronized {
      val starts = jobStartMs.sorted
      // action call → first job start after it (query planning)
      val planMs = opStartsMs.map { t =>
        starts.find(_ >= t).map(_ - t).filter(_ >= 0).getOrElse(0L)
      }.sum
      // wall time inside the window during which no job was running
      val merged = jobIntervals.toSeq
        .map { case (s, e) => (math.max(s, windowStartMs), math.min(e, windowEndMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
          case (acc, iv) => iv :: acc
        }
      val jobMs = merged.map { case (s, e) => e - s }.sum
      val driverMs = math.max(0L, windowEndMs - windowStartMs - jobMs)
      // slowest task over the median task, in the stage that ran longest
      val skew = stageSpanMs.toSeq.sortBy(-_._2).headOption
        .flatMap { case (id, _) => taskMsByStage.get(id) }
        .filter(_.nonEmpty)
        .map { ds =>
          val s = ds.sorted
          val med = math.max(1L, s(s.size / 2))
          s.last.toDouble / med
        }.getOrElse(1.0)
      Map(
        "jobs" -> jobs.toDouble,
        "stages" -> stages.toDouble,
        "tasks" -> tasks.toDouble,
        "task_failures" -> taskFailures.toDouble,
        "plan_s" -> planMs / 1e3,
        "driver_s" -> driverMs / 1e3,
        "task_busy_s" -> taskBusyMs / 1e3,
        "task_cpu_s" -> taskCpuNs / 1e9,
        "shuffle_write_mb" -> shuffleWriteB / 1e6,
        "shuffle_read_mb" -> shuffleReadB / 1e6,
        "spill_mb" -> spillB / 1e6,
        "max_task_skew" -> skew)
    }
  }
}
