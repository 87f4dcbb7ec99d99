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
    val rec = Tuner.recommend(new ComputePartitions(spark.conf.getAll), history)
    rec.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val run = record(spark)(body)
    TunedRun(run.result, rec.partitions, rec.splitBytes, run.runId, history, run.stages)
  }
}

object Tuner {
  private[tuner] val PartitionsKey = "spark.sql.shuffle.partitions"
  private[tuner] val SplitKey = "spark.sql.files.maxPartitionBytes"

  /** Every session conf a tuned step can set. */
  val TunedKeys: Seq[String] = Seq(PartitionsKey, SplitKey) ++ SkewAdvisor.Keys

  /** The three tiers' decisions from one history, under `cp`'s cluster
    * profile. Pure: reads no conf and launches no job.
    *  - partitions: the decision table over the most shuffle-expensive
    *    stage series, slot-floored (see applySlotFloor's doc: an
    *    AQE-coalesced executed count must never come back as a sub-slot
    *    initial count);
    *  - split bytes: from the biggest recorded input stage (cold start →
    *    memory bound alone);
    *  - skew: the latest run's per-task shuffle-read profile. A balanced
    *    run, or one with no per-task shuffle reads, adds no conf, so
    *    AQE's defaults stand. */
  def recommend(cp: ComputePartitions,
      history: Seq[List[StageRunInfo]]): Recommendation = {
    val target = StageRunInfo.series(history)(_.shuffle.bytesWritten)
    val scans = StageRunInfo.series(history)(_.inputBytes)
    Recommendation(
      cp.applySlotFloor(cp.fromStageMetricSharedCluster(target)),
      cp.maxPartitionBytes(scans.lastOption.map(_.inputSizeMb).getOrElse(0.0)),
      history.lastOption.flatMap(SkewAdvisor.analyze))
  }

  /** Runs `body`, then puts every [[TunedKeys]] conf of `spark` back as
    * it found it, so a tuned step inside leaves the session unchanged. */
  def restoringConf[T](spark: SparkSession)(body: => T): T = {
    val saved = TunedKeys.map(k => k -> spark.conf.getOption(k))
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** See [[Tuner.recommend]]. `conf` is what a tuned step applies. */
case class Recommendation(partitions: Int, splitBytes: Long,
    skew: Option[SkewAdvisor.SkewReport]) {
  def conf: Map[String, String] =
    Map(Tuner.PartitionsKey -> partitions.toString, Tuner.SplitKey -> splitBytes.toString) ++
      skew.map(SkewAdvisor.knobs).getOrElse(Map.empty)
}

/** One recorded run — see [[Tuner.record]]. */
case class RecordedRun[T](result: T, runId: Int, stages: List[StageRunInfo])

/** One tracked tuning-loop step — see [[Tuner.tuneAndRunTracked]]. */
case class TunedRun[T](result: T, partitions: Int, maxPartitionBytes: Long,
    runId: Int, priorHistory: List[List[StageRunInfo]],
    recorded: List[StageRunInfo])
