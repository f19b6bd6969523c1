package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own job, stage, task and SQL-planning events for the
  * traced run. Every job carries the span id of the op that submitted it
  * through the [[Tracer.SpanProperty]] local property, which the
  * benchmark sets on its single calling thread around each call. Raw
  * records only; run.py turns them into per-layer metrics. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class StageRec(val id: Int, val span: String, val submitMs: Long) {
    var firstLaunchMs = Long.MaxValue
    var completeMs = 0L
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillDiskBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  private var peakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (spanOf(e.properties), e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, t0, _) => jobs(e.jobId) = (s, t0, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, spanOf(e.properties),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      storedBytes += bytes - blockBytes.getOrElse(b.blockId.name, 0L)
      if (bytes == 0L) blockBytes.remove(b.blockId.name) else blockBytes(b.blockId.name) = bytes
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  private def recordPlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
  }

  /** Starts a new storage-peak window at the current level of RDD blocks. */
  def resetPeak(): Long = synchronized { peakBytes = storedBytes; storedBytes }

  def peak: Long = synchronized(peakBytes)

  def record: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.toSeq.map { case (id, (span, t0, t1)) =>
        Map("id" -> id, "span" -> span, "start_ms" -> t0, "end_ms" -> t1)
      },
      "stages" -> stages.values.toSeq.map { s =>
        Map("id" -> s.id, "job" -> stageJob.getOrElse(s.id, -1), "span" -> s.span,
          "submit_ms" -> s.submitMs,
          "first_launch_ms" -> (if (s.firstLaunchMs == Long.MaxValue) s.submitMs
                                else s.firstLaunchMs),
          "complete_ms" -> s.completeMs, "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs,
          "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_disk_bytes" -> s.spillDiskBytes)
      },
      "planning" -> planning.toSeq.map { case (t, ms) => Map("start_ms" -> t, "ms" -> ms) })
  }
}

object Tracer {
  /** Local property naming the span (op or output check) a job belongs to. */
  val SpanProperty = "perfbench.span"

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SpanProperty))).getOrElse("")
}
