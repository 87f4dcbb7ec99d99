package graft.tuner

/** Metrics data model (FIXTURES.md §A3) — the Spark-native replacement for
  * the reference's sparkMeasure-serialized records
  * (/root/reference/src/main/scala/com/highperformancespark/robinsparkles/
  * ComputePartitions.scala:11-34, Listener.scala:51-57).
  */
case class ShuffleVolume(bytesWritten: Long, bytesRead: Long)

/** One stage of one run, as the store keeps it: the per-stage facts the
  * three tuner tiers read, and nothing per task. Every field is an
  * integer, so a run re-read from the store equals the run the listener
  * summarized. Mirrors the reference's StageInfo
  * (ComputePartitions.scala:17-30).
  *
  * `numPartitionsUsed` is the stage's task count
  * (ComputePartitions.scala:28). The two task-read fields are the max and
  * the upper median of the stage's positive per-task shuffle-read bytes,
  * 0 when no task read any: the straggler signal [[SkewAdvisor]] reads. */
case class StageRunInfo(
    executorCpuTimeMs: Long,
    stageTimeMs: Long,
    inputBytes: Long,
    numExecutors: Int,
    shuffle: ShuffleVolume,
    numPartitionsUsed: Int,
    maxTaskShuffleReadBytes: Long,
    medianTaskShuffleReadBytes: Long) {
  def inputSizeMb: Double = inputBytes.toDouble / (1024 * 1024)
}

object StageRunInfo {
  /** The summary of one stage from its tasks: one entry of
    * `taskShuffleReadBytes` per task, so its length is the task count.
    * The only place the max/median skew rule is applied. */
  def summarize(executorCpuTimeMs: Long, stageTimeMs: Long, inputBytes: Long,
      numExecutors: Int, shuffle: ShuffleVolume,
      taskShuffleReadBytes: Seq[Long]): StageRunInfo = {
    val reads = taskShuffleReadBytes.filter(_ > 0).sorted
    StageRunInfo(executorCpuTimeMs, stageTimeMs, inputBytes, numExecutors.max(1),
      shuffle, taskShuffleReadBytes.length,
      maxTaskShuffleReadBytes = reads.lastOption.getOrElse(0L),
      medianTaskShuffleReadBytes = if (reads.isEmpty) 0L else reads(reads.length / 2))
  }

  /** Per run, the stage at the ordinal where the FIRST run's `key` peaks
    * (ComputePartitions.scala:52-61): the series each tuner tier reads.
    * `_.shuffle.bytesWritten` picks the most expensive shuffle (the
    * partition-count tier), `_.inputBytes` the biggest scan (the
    * input-split tier, `spark.sql.files.maxPartitionBytes`), and
    * `_.shuffle.bytesRead` the biggest shuffle's reducer side, whose task
    * count is what AQE settled on after coalescing. Runs without that ordinal
    * are skipped. Empty history gives Nil (fixes reference quirk Q2 — a
    * MatchError on a first-ever run).
    *
    * Alignment is by position only: a run whose AQE skipped a stage the
    * first run had shifts every later ordinal, and its entry is then a
    * different stage. Stable per-stage tags would fix that; none exist
    * yet. */
  def series(runs: Seq[List[StageRunInfo]])(key: StageRunInfo => Long): List[StageRunInfo] =
    runs.headOption.filter(_.nonEmpty) match {
      case None => Nil
      case Some(first) =>
        val idx = first.zipWithIndex.maxBy(p => key(p._1))._2
        runs.flatMap(_.lift(idx)).toList
    }
}
