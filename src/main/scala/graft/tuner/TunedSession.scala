package graft.tuner

import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.sql.SparkSession

/** The tuning loop (reference EP1, CountingApp.scala:61-84) rebuilt around
  * SparkSession: read history → pick the most-shuffle-expensive stage
  * series → recommend a partition count → apply → record this run.
  *
  * Spark-4 adaptation: every knob the loop sets (`spark.sql.shuffle.partitions`,
  * `spark.sql.files.maxPartitionBytes`, the AQE skew-join thresholds) is
  * runtime-settable, so the recommendation applies to the *current*
  * session immediately; [[TunedRun]] carries the applied values for a
  * caller that builds a next session.
  */
class Tuner(metricsRoot: String, appName: String) {
  val store = new MetricsStore(metricsRoot, appName)

  /** Attach an ambient flight recorder: the run is written on application
    * end with no further calls (reference flight-recorder contract).
    * Returns the listener so the app can flush() early if it wants the run
    * visible before shutdown. */
  def attachFlightRecorder(spark: SparkSession): FlightRecorder = {
    val fr = new FlightRecorder(store, spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.addSparkListener(fr)
    fr
  }

  /** Run `body` under a scoped [[MetricsListener]] and write what it
    * captured as the next run. Reads no history and sets no conf: the
    * record-only half of the loop (reference EP2), and the only place a
    * listener is attached for scoped recording. Launches no job besides
    * the body's. */
  def record[T](spark: SparkSession)(body: => T): RecordedRun[T] = {
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      // Listener-bus events are async; drain before snapshotting so the
      // recorded run is complete.
      ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      val stages = listener.stages
      RecordedRun(result, store.write(spark.sparkContext.hadoopConfiguration, stages), stages)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One loop step: tune this session from ONE history read, then
    * [[record]] `body` as the next run. The result carries the pre-run
    * history the recommendation was derived from and this run's own stage
    * infos, so a caller that wants the post-run history (e.g. the demo's
    * AQE-settle series) appends `recorded` to `priorHistory` instead of
    * re-reading the store: one history scan per iteration, shared by all
    * three tiers. */
  def tuneAndRunTracked[T](spark: SparkSession)(body: => T): TunedRun[T] = {
    val history = store.history(spark)
    val target = StageRunInfo.series(history)(_.shuffle.bytesWritten)
    val cp = new ComputePartitions(spark.conf.getAll)
    // Slot-floored at the application boundary (see applySlotFloor's doc):
    // an AQE-coalesced executed count must never come back as a sub-slot
    // initial count.
    val partitions = cp.applySlotFloor(cp.fromStageMetricSharedCluster(target))
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // Scan tier: split size from the biggest recorded input stage (cold
    // start → memory bound alone).
    val scans = StageRunInfo.series(history)(_.inputBytes)
    val splitBytes =
      cp.maxPartitionBytes(scans.lastOption.map(_.inputSizeMb).getOrElse(0.0))
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
    // Skew tier: the latest recorded run's per-task shuffle-read profile
    // decides whether this run needs AQE's skew-splitting thresholds
    // widened (SkewAdvisor). A balanced run, or one with no per-task
    // shuffle reads, sets nothing — AQE defaults stand.
    history.lastOption.flatMap(SkewAdvisor.analyze)
      .map(SkewAdvisor.knobs).getOrElse(Map.empty)
      .foreach { case (k, v) => spark.conf.set(k, v) }
    val run = record(spark)(body)
    TunedRun(run.result, partitions, splitBytes, run.runId, history, run.stages)
  }
}

/** One recorded run — see [[Tuner.record]]. */
case class RecordedRun[T](result: T, runId: Int, stages: List[StageRunInfo])

/** One tracked tuning-loop step — see [[Tuner.tuneAndRunTracked]]. */
case class TunedRun[T](result: T, partitions: Int, maxPartitionBytes: Long,
    runId: Int, priorHistory: List[List[StageRunInfo]],
    recorded: List[StageRunInfo])
