package graft

import graft.tuner._

/** Ports the reference tuner test (/root/reference/src/test/scala/com/
  * highperformancespark/robinsparkles/ComputePartitionsTest.scala:10-36)
  * and covers every branch of the decision table (SURVEY.md §5 item 2)
  * plus the quirk fixes Q1/Q2. */
class ComputePartitionsSpec extends SparkSpec {

  private def mkStage(cpuMs: Long, stageMs: Long, inputMb: Long,
      execs: Int, partitions: Int): StageRunInfo =
    StageRunInfo.summarize(cpuMs, stageMs, inputMb << 20, execs,
      ShuffleVolume(20, 30), Seq.fill(partitions)(0L))

  // Reference fixture: executor mem chosen so taskMem = 1024*2 MB / cores
  // cancels the 0.6 * 0.5 factor (FIXTURES.md §A2).
  private val conf = Map(
    "spark.executor.instances" -> "4",
    "spark.executor.cores" -> "2",
    "spark.executor.memory" -> s"${math.round(1024 * 2 / (0.6 * 0.5))}m")
  private val cp = new ComputePartitions(conf)

  test("reference test point: improving history recommends more partitions") {
    // run1: 19 partitions, cpu 105; run2: 20 partitions, cpu 90 → grow.
    val history = List(
      mkStage(105, 105, 6144, 3, 19),
      mkStage(90, 95, 3072, 3, 20))
    val rec = cp.fromStageMetricSharedCluster(history)
    assert(rec > 20, s"expected growth beyond 20, got $rec")
  }

  test("cold start (Q2 fix): empty history uses default parallelism, else slots") {
    assert(cp.fromStageMetricSharedCluster(Nil) == 8) // 4 execs × 2 cores
    val withDefault = new ComputePartitions(conf + ("spark.default.parallelism" -> "17"))
    assert(withDefault.fromStageMetricSharedCluster(Nil) == 17)
  }

  test("single run ramps by executor count, floored by memory") {
    val rec = cp.fromStageMetricSharedCluster(List(mkStage(100, 100, 10, 3, 10)))
    assert(rec == 13) // 10 used + 3 executors; floor is small here
  }

  test("plateau converges (fixpoint)") {
    val h = List(mkStage(90, 95, 100, 3, 20), mkStage(88, 93, 100, 3, 20))
    assert(cp.fromStageMetricSharedCluster(h) == 20)
  }

  test("regression falls back to best historical run by cpu time") {
    val h = List(
      mkStage(80, 85, 100, 3, 19),  // best cpu
      mkStage(105, 110, 100, 3, 25)) // more partitions, worse cpu
    assert(cp.fromStageMetricSharedCluster(h) == 19)
  }

  test("memory floor dominates when input is large") {
    // taskMem ≈ 1024 MB ⇒ 64 GB input needs ≥ 64 partitions.
    val rec = cp.fromStageMetricSharedCluster(List(mkStage(100, 100, 65536, 3, 10)))
    assert(rec >= 64, s"memory floor ignored: $rec")
  }

  test("quirk Q1 fix: executor count from spark.executor.instances") {
    assert(cp.possibleConcurrentTasks() == 8)
    val noInstances = new ComputePartitions(Map("spark.executor.cores" -> "2"))
    assert(noInstances.possibleConcurrentTasks() == 2)
  }

  test("slot floor clamps applied recommendations, never raw formula output") {
    // The decision table may legitimately return a sub-slot count (an
    // AQE-coalesced stage echoed back by the regressing branch); the
    // APPLICATION boundary floors it at the cluster's slot count.
    assert(cp.applySlotFloor(1) == 8) // 4 execs × 2 cores
    assert(cp.applySlotFloor(8) == 8)
    assert(cp.applySlotFloor(200) == 200)
    // And the raw formula is unchanged: a regressing history whose best
    // run used fewer partitions than the slot count still RETURNS it.
    val h = List(
      mkStage(80, 85, 100, 3, 5),   // best cpu, 5 partitions < 8 slots
      mkStage(105, 110, 100, 3, 25))
    assert(cp.fromStageMetricSharedCluster(h) == 5)
  }

  test("memory string parsing") {
    assert(cp.parseMemoryMb("2g") == 2048.0)
    assert(cp.parseMemoryMb("512m") == 512.0)
    assert(cp.parseMemoryMb("1024k") == 1.0)
  }

  test("most-expensive-shuffle selection aligns by stage ordinal") {
    val run1 = List(
      mkStage(10, 10, 1, 1, 2),
      mkStage(99, 99, 1, 1, 2).copy(shuffle = ShuffleVolume(1000, 0)))
    val run2 = List(
      mkStage(11, 11, 1, 1, 2),
      mkStage(88, 88, 1, 1, 2).copy(shuffle = ShuffleVolume(900, 0)))
    val series = StageRunInfo.series(Seq(run1, run2))(_.shuffle.bytesWritten)
    assert(series.map(_.executorCpuTimeMs) == List(99, 88))
    assert(StageRunInfo.series(Nil)(_.shuffle.bytesWritten) == Nil)
  }
}
