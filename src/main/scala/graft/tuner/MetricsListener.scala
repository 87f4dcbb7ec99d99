package graft.tuner

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Flight-recorder listener on the public SparkListener API — replaces the
  * reference's sparkMeasure inheritance (/root/reference/src/main/scala/
  * com/highperformancespark/robinsparkles/Listener.scala:16-23), which is
  * unavailable offline (SURVEY.md §7).
  *
  * Runs on the listener-bus thread; buffers are synchronized and
  * snapshotted by [[Tuner.record]] after its body completes, then written
  * by [[MetricsStore.persistRows]]. Buffer volume is
  * O(stages + tasks) of one application run — driver-side bounded, not
  * data-scale-bound.
  */
class MetricsListener(runId: Int) extends SparkListener {
  private val stages = ArrayBuffer.empty[StageMetric]
  private val tasks = ArrayBuffer.empty[TaskMetric]

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    val tm = si.taskMetrics
    val row = StageMetric(
      runId = runId,
      stageId = si.stageId,
      attempt = si.attemptNumber(),
      executorCpuTimeMs = if (tm == null) 0L else tm.executorCpuTime / 1000000L,
      stageDurationMs = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield c - s).getOrElse(0L),
      bytesRead = if (tm == null) 0L else tm.inputMetrics.bytesRead,
      shuffleBytesWritten = if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      shuffleBytesRead = if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead,
      submittedAtMs = si.submissionTime.getOrElse(0L))
    stages.synchronized { stages += row }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val ti = ev.taskInfo
    if (ti != null) {
      val row = TaskMetric(
        runId = runId,
        stageId = ev.stageId,
        taskId = ti.taskId,
        executorId = ti.executorId,
        durationMs = ti.duration,
        peakMemory = if (ev.taskMetrics == null) 0L else ev.taskMetrics.peakExecutionMemory,
        shuffleReadBytes = if (ev.taskMetrics == null) 0L
          else ev.taskMetrics.shuffleReadMetrics.totalBytesRead)
      tasks.synchronized { tasks += row }
    }
  }

  def stageRows: Seq[StageMetric] = stages.synchronized { stages.toList }
  def taskRows: Seq[TaskMetric] = tasks.synchronized { tasks.toList }
}

/** Flight-recorder variant (the reference's FlightRecorder*Metrics
  * semantics, Listener.scala:16-23): an app that merely attaches this
  * listener gets its metrics persisted when the application ends, even if
  * it never reaches an explicit persist call (abnormal exit paths
  * included, as long as SparkContext.stop() runs — Spark's own shutdown
  * hook triggers it). The flush writes JSON-lines via the Hadoop FS API
  * because no Spark job can be submitted once stop() is underway; see
  * [[MetricsStore.persistDirect]].
  *
  * Use either this (ambient recording) or [[Tuner.record]] (scoped
  * recording, which [[Tuner.tuneAndRunTracked]] also uses) for a given
  * store — not both in one app, or the two will allocate the same run
  * id. */
class FlightRecorder(store: MetricsStore, runId: Int,
    hadoopConf: org.apache.hadoop.conf.Configuration)
  extends MetricsListener(runId) {
  @volatile private var flushed = false

  override def onApplicationEnd(ev: SparkListenerApplicationEnd): Unit = flush()

  /** Idempotent; safe to call early (e.g. from app code before a planned
    * exit) — the application-end delivery then becomes a no-op. */
  def flush(): Unit = synchronized {
    if (!flushed) {
      store.persistDirect(hadoopConf, this, runId)
      flushed = true
    }
  }
}
