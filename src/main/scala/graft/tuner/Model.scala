package graft.tuner

/** Metrics data model (FIXTURES.md §A3) — the Spark-native replacement for
  * the reference's sparkMeasure-serialized records
  * (/root/reference/src/main/scala/com/highperformancespark/robinsparkles/
  * ComputePartitions.scala:11-34, Listener.scala:51-57).
  */
case class ShuffleVolume(bytesWritten: Long, bytesRead: Long)

case class TaskMetric(
    runId: Int,
    stageId: Int,
    taskId: Long,
    executorId: String,
    durationMs: Long,
    peakMemory: Long,
    // Per-task shuffle-read volume — the reducer-skew signal
    // (SkewAdvisor). Runs persisted before this field existed lack the
    // column and read back as 0 (MetricsStore zero-fills), which simply
    // disables skew analysis on those runs.
    shuffleReadBytes: Long = 0L)

case class StageMetric(
    runId: Int,
    stageId: Int,
    attempt: Int,
    executorCpuTimeMs: Long,
    stageDurationMs: Long,
    bytesRead: Long,
    shuffleBytesWritten: Long,
    shuffleBytesRead: Long,
    submittedAtMs: Long)

/** One stage of one historical run, with its tasks attached — mirrors the
  * reference's StageInfo (ComputePartitions.scala:17-30). */
case class StageRunInfo(
    executorCpuTimeMs: Long,
    stageTimeMs: Long,
    inputSizeMb: Double,
    numExecutors: Int,
    shuffle: ShuffleVolume,
    tasks: Seq[TaskMetric]) {
  /** Sum of task times (ComputePartitions.scala:26). */
  def totalTaskTimeMs: Long = tasks.foldLeft(0L)(_ + _.durationMs)
  /** Partitions used = number of tasks (ComputePartitions.scala:28). */
  def numPartitionsUsed: Int = tasks.length
}

object StageRunInfo {
  /** Join stage rows to their tasks by stageId — inner-join semantics like
    * the reference (Listener.scala:63-67), but a stage with zero tasks is
    * kept with an empty list instead of throwing. */
  def assemble(stages: Seq[StageMetric], tasks: Seq[TaskMetric]): List[StageRunInfo] = {
    val byStage = tasks.groupBy(_.stageId)
    stages.sortBy(_.stageId).map { st =>
      val ts = byStage.getOrElse(st.stageId, Seq.empty)
      StageRunInfo(
        executorCpuTimeMs = st.executorCpuTimeMs,
        stageTimeMs = st.stageDurationMs,
        inputSizeMb = st.bytesRead.toDouble / (1024 * 1024),
        numExecutors = ts.map(_.executorId).distinct.size.max(1),
        shuffle = ShuffleVolume(st.shuffleBytesWritten, st.shuffleBytesRead),
        tasks = ts)
    }.toList
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
        val idx = first.zipWithIndex.maxBy(_._1.inputSizeMb)._2
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
