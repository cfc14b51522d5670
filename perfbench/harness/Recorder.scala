package perfbench

import org.apache.spark.Success
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Microsecond wall clock. Spark stamps its events with
  * `System.currentTimeMillis`, so harness spans use the same epoch at a
  * finer grain; both meet in one timeline.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Task metrics of one stage attempt, summed as its tasks end. */
final class StageAgg(val stageId: Int, val attempt: Int) {
  var submitUs = -1L
  var endUs = -1L
  var failed = false
  val n: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "tasks" -> 0L, "empty_tasks" -> 0L, "task_failures" -> 0L,
    "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L, "delay_ms" -> 0L,
    "input_bytes" -> 0L, "input_rows" -> 0L, "peak_mem_bytes" -> 0L,
    "spill_bytes" -> 0L, "shuffle_write_bytes" -> 0L,
    "shuffle_records" -> 0L, "shuffle_read_bytes" -> 0L,
    "fetch_wait_ms" -> 0L)
  def add(k: String, v: Long): Unit = n(k) += v
}

/** Records the Spark events a traced pass needs, in memory, through the
  * three public listener interfaces. It is attached only for traced
  * passes; attribution to queries happens after the run, by job group
  * and by time.
  */
final class Recorder {
  final case class Job(id: Int, group: String, startUs: Long, stageIds: Seq[Int]) {
    var endUs = -1L
  }
  final case class Phase(name: String, startUs: Long, endUs: Long)
  final case class Progress(runId: String, atUs: Long, triggerMs: Long,
      planningMs: Long, commitMs: Long, stateRows: Long, stateBytes: Long)
  final case class FileWrite(executionId: Long, files: Long, bytes: Long, rows: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()
  private val phases = mutable.ArrayBuffer[Phase]()
  private val progress = mutable.ArrayBuffer[Progress]()
  private val writes = mutable.ArrayBuffer[FileWrite]()
  private val executionStartUs = mutable.HashMap[Long, Long]()

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = Job(e.jobId, group, e.time * 1000L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).submitUs =
        i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val i = e.stageInfo
      val a = stage(i.stageId, i.attemptNumber())
      a.endUs = i.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
      if (a.submitUs < 0) a.submitUs = i.submissionTime.map(_ * 1000L).getOrElse(a.endUs)
      a.failed = i.failureReason.isDefined
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val a = stage(e.stageId, e.stageAttemptId)
      a.add("tasks", 1)
      if (e.reason != Success) a.add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) a.add("empty_tasks", 1)
        a.add("run_ms", m.executorRunTime)
        a.add("cpu_ns", m.executorCpuTime)
        a.add("gc_ms", m.jvmGCTime)
        a.add("delay_ms", math.max(0L, delay))
        a.add("input_bytes", m.inputMetrics.bytesRead)
        a.add("input_rows", m.inputMetrics.recordsRead)
        a.n("peak_mem_bytes") = math.max(a.n("peak_mem_bytes"), m.peakExecutionMemory)
        a.add("spill_bytes", m.diskBytesSpilled)
        a.add("shuffle_write_bytes", sw.bytesWritten)
        a.add("shuffle_records", sw.recordsWritten)
        a.add("shuffle_read_bytes", sr.totalBytesRead)
        a.add("fetch_wait_ms", sr.fetchWaitTime)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        executionStartUs(s.executionId) = s.time * 1000L
      }
      // File writers post their job-level totals from the driver, in
      // one event per write; the metric names identify them.
      case u: SparkListenerDriverAccumUpdates =>
        val named = u.accumUpdates.flatMap { case (id, v) => BusAccess.accumName(id).map(_ -> v) }.toMap
        named.get("number of written files").foreach { files =>
          Recorder.this.synchronized {
            writes += FileWrite(u.executionId, files,
              named.getOrElse("written output", 0L), named.getOrElse("number of output rows", 0L))
          }
        }
      case _ => ()
    }
  }

  val execution: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      Recorder.this.synchronized {
        progress += Progress(p.runId.toString, at, ms("triggerExecution"), ms("queryPlanning"),
          ms("walCommit") + ms("commitOffsets") + ms("commitBatch"),
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  /** Everything recorded, as JSON-ready values. */
  def dump(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "group" -> j.group,
        "start_us" -> j.startUs, "end_us" -> j.endUs, "stages" -> j.stageIds)),
      "stages" -> stages.values.toSeq.map(s => Map("id" -> s.stageId, "attempt" -> s.attempt,
        "start_us" -> s.submitUs, "end_us" -> s.endUs, "failed" -> s.failed) ++ s.n),
      "phases" -> phases.toSeq.map(p => Map("name" -> p.name, "start_us" -> p.startUs, "end_us" -> p.endUs)),
      "progress" -> progress.toSeq.map(p => Map("run" -> p.runId, "at_us" -> p.atUs,
        "trigger_ms" -> p.triggerMs, "planning_ms" -> p.planningMs, "commit_ms" -> p.commitMs,
        "state_rows" -> p.stateRows, "state_bytes" -> p.stateBytes)),
      "file_writes" -> writes.toSeq.map(w => Map("start_us" -> executionStartUs.getOrElse(w.executionId, -1L),
        "files" -> w.files, "bytes" -> w.bytes, "rows" -> w.rows)))
  }
}
