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

  /** Per run, the stage with the largest shuffle bytesWritten; history is
    * aligned by stage ordinal across runs (ComputePartitions.scala:52-61).
    * Returns Nil on empty history (fixes reference quirk Q2 — MatchError
    * on a first-ever run). */
  def stagesWithMostExpensiveShuffle(runs: Seq[List[StageRunInfo]]): List[StageRunInfo] =
    runs.headOption match {
      case None => Nil
      case Some(first) if first.isEmpty => Nil
      case Some(first) =>
        val idx = first.zipWithIndex.maxBy(_._1.shuffle.bytesWritten)._2
        runs.flatMap(r => r.lift(idx)).toList
    }

  /** The scan tier: the stage with the largest INPUT read (file bytes, not
    * shuffle bytes), positionally aligned across runs like
    * [[stagesWithMostExpensiveShuffle]] — the series that feeds the
    * input-split recommendation (`spark.sql.files.maxPartitionBytes`). */
  def scanStagesWithMostInput(runs: Seq[List[StageRunInfo]]): List[StageRunInfo] =
    runs.headOption match {
      case None => Nil
      case Some(first) if first.isEmpty => Nil
      case Some(first) =>
        val idx = first.zipWithIndex.maxBy(_._1.inputBytes)._2
        runs.flatMap(r => r.lift(idx)).toList
    }

  /** The REDUCER side of the biggest shuffle (max bytes read), positionally
    * aligned across runs like [[stagesWithMostExpensiveShuffle]]. Its task
    * count is what AQE actually settled on after post-shuffle coalescing —
    * the series the tuner demo reports next to its own recommendation to
    * show the two mechanisms converging rather than fighting. */
  def reducersOfMostExpensiveShuffle(runs: Seq[List[StageRunInfo]]): List[StageRunInfo] =
    runs.headOption match {
      case None => Nil
      case Some(first) if first.isEmpty => Nil
      case Some(first) =>
        val idx = first.zipWithIndex.maxBy(_._1.shuffle.bytesRead)._2
        runs.flatMap(r => r.lift(idx)).toList
    }
}
