package graft.tuner

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Flight-recorder listener on the public SparkListener API — replaces the
  * reference's sparkMeasure inheritance (/root/reference/src/main/scala/
  * com/highperformancespark/robinsparkles/Listener.scala:16-23), which is
  * unavailable offline (SURVEY.md §7).
  *
  * Runs on the listener-bus thread. It keeps one row per completed stage
  * attempt and, per stage id, an accumulator of every task-end event (the
  * executor ids and one shuffle-read value per task). [[stages]] reduces
  * them to per-stage summaries, so a summary counts every task of its
  * stage id whichever attempt ran it. State is O(stages + tasks) of one
  * run: driver-side bounded, not data-scale-bound.
  */
class MetricsListener extends SparkListener {
  private case class StageRow(stageId: Int, executorCpuTimeMs: Long,
      stageTimeMs: Long, inputBytes: Long, shuffle: ShuffleVolume)
  private class Tasks {
    val executors = mutable.Set.empty[String]
    val shuffleReads = mutable.ArrayBuffer.empty[Long]
  }
  private val rows = mutable.ArrayBuffer.empty[StageRow]
  private val tasks = mutable.Map.empty[Int, Tasks]

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    val tm = si.taskMetrics
    val row = StageRow(
      stageId = si.stageId,
      executorCpuTimeMs = if (tm == null) 0L else tm.executorCpuTime / 1000000L,
      stageTimeMs = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield c - s).getOrElse(0L),
      inputBytes = if (tm == null) 0L else tm.inputMetrics.bytesRead,
      shuffle = if (tm == null) ShuffleVolume(0L, 0L)
        else ShuffleVolume(tm.shuffleWriteMetrics.bytesWritten,
          tm.shuffleReadMetrics.totalBytesRead))
    synchronized { rows += row }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val ti = ev.taskInfo
    if (ti != null) {
      val read = if (ev.taskMetrics == null) 0L
        else ev.taskMetrics.shuffleReadMetrics.totalBytesRead
      synchronized {
        val t = tasks.getOrElseUpdate(ev.stageId, new Tasks)
        t.executors += ti.executorId
        t.shuffleReads += read
      }
    }
  }

  /** The stages completed so far in stage-id order, one summary per
    * completed attempt. */
  def stages: List[StageRunInfo] = synchronized {
    rows.sortBy(_.stageId).map { r =>
      val t = tasks.getOrElse(r.stageId, new Tasks)
      StageRunInfo.summarize(r.executorCpuTimeMs, r.stageTimeMs, r.inputBytes,
        t.executors.size, r.shuffle, t.shuffleReads.toSeq)
    }.toList
  }
}

/** Flight-recorder variant (the reference's FlightRecorder*Metrics
  * semantics, Listener.scala:16-23): an app that merely attaches this
  * listener gets its run written when the application ends, even if it
  * never reaches an explicit call (abnormal exit paths included, as long
  * as SparkContext.stop() runs — Spark's own shutdown hook triggers it).
  * No Spark job can run once stop() is underway; [[MetricsStore.write]]
  * runs none. The run takes its id when it is written, so it never
  * shares one with a [[Tuner.record]]ed run in the same store. */
class FlightRecorder(store: MetricsStore,
    hadoopConf: org.apache.hadoop.conf.Configuration) extends MetricsListener {
  @volatile private var flushed = false

  override def onApplicationEnd(ev: SparkListenerApplicationEnd): Unit = flush()

  /** Idempotent; safe to call early (e.g. from app code before a planned
    * exit) — the application-end delivery then becomes a no-op. A failed
    * write throws and leaves the recorder unflushed. */
  def flush(): Unit = synchronized {
    if (!flushed) {
      store.write(hadoopConf, stages)
      flushed = true
    }
  }
}
