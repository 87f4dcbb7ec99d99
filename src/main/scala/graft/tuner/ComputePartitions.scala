package graft.tuner

/** Partition-count recommendation — a re-derivation of the reference's
  * hill-climb decision table (/root/reference/src/main/scala/com/
  * highperformancespark/robinsparkles/ComputePartitions.scala:100-197)
  * with its quirks fixed:
  *   - Q1: executor count read from the real `spark.executor.instances`
  *     key (the reference reads the nonexistent `spark.num.executors`).
  *   - Q2: empty history handled (cold-start branch) instead of MatchError.
  *
  * The tuner targets `spark.sql.shuffle.partitions` (DataFrame shuffles
  * ignore `spark.default.parallelism` — SURVEY.md §7) and treats AQE's
  * post-shuffle coalescing as a downstream refinement: it recommends the
  * *initial* partition count that AQE then coalesces, never fights it.
  */
class ComputePartitions(conf: Map[String, String]) {

  private def confInt(key: String, default: Int): Int =
    conf.get(key).flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(default)

  /** Cluster slots = cores × executors (reference :145-147, quirk Q1
    * fixed). Local mode has neither executor conf — its slot count is the
    * `local[N]` thread count (`local[*]` = host cores, bare `local` = 1);
    * without this the scan-tier slots bound collapses to 1 on exactly the
    * sessions this library is tested on. Explicit executor confs win. */
  def possibleConcurrentTasks(): Int = {
    val explicit = conf.contains("spark.executor.cores") ||
      conf.contains("spark.executor.instances")
    conf.get("spark.master") match {
      case Some(m) if m.trim.startsWith("local") && !explicit =>
        val body = m.trim.stripPrefix("local")
        if (body.isEmpty) 1
        else body.stripPrefix("[").takeWhile(c => c != ']' && c != ',') match {
          case "*" => Runtime.getRuntime.availableProcessors()
          case n => scala.util.Try(n.toInt).toOption.filter(_ > 0).getOrElse(1)
        }
      case _ =>
        confInt("spark.executor.cores", 1) * confInt("spark.executor.instances", 1)
    }
  }

  /** Task working memory in MB: execMem × memory.fraction × (1 −
    * storageFraction) / cores (reference :154-173; Spark 3/4 defaults
    * fraction=0.6, storageFraction=0.5 carry over). */
  def taskMemoryMb(): Double = {
    val execMemMb = conf.get("spark.executor.memory")
      .map(parseMemoryMb).getOrElse(1024.0)
    val fraction = conf.get("spark.memory.fraction").map(_.toDouble).getOrElse(0.6)
    val storage = conf.get("spark.memory.storageFraction").map(_.toDouble).getOrElse(0.5)
    val cores = confInt("spark.executor.cores", 1)
    execMemMb * fraction * (1 - storage) / cores
  }

  private[graft] def parseMemoryMb(s: String): Double = {
    val t = s.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("g")) (t.dropRight(1), 1024.0)
      else if (t.endsWith("m")) (t.dropRight(1), 1.0)
      else if (t.endsWith("k")) (t.dropRight(1), 1.0 / 1024)
      else (t, 1.0 / (1024 * 1024)) // bare bytes
    num.toDouble * mult
  }

  /** Minimum partitions so a partition's input fits task memory
    * (reference :140-142), never below the slot count. */
  def partitionsFloor(inputSizeMb: Double): Int =
    math.max(math.round(inputSizeMb / taskMemoryMb()).toInt,
      possibleConcurrentTasks())

  /** Higher-partition run had lower executor CPU time (reference :181-184 —
    * doc says "stage time" but the code compares CPU time; code wins). */
  def morePartitionsIsBetter(a: StageRunInfo, b: StageRunInfo): Boolean = {
    val Seq(lo, hi) = Seq(a, b).sortBy(_.numPartitionsUsed)
    hi.executorCpuTimeMs < lo.executorCpuTimeMs
  }

  /** Hill-climb over the target stage's history (reference :100-138).
    *   no history    → configured default parallelism, else slots
    *   one run       → max(used + max(execs,1), memory floor)
    *   improving     → max(floor, p1, p2) + numExecutors
    *   plateau       → converged: keep
    *   regressing    → best historical run by min CPU time
    */
  def fromStageMetricSharedCluster(history: List[StageRunInfo]): Int = history match {
    case Nil =>
      confInt("spark.default.parallelism", possibleConcurrentTasks())
    case only :: Nil =>
      math.max(
        only.numPartitionsUsed + math.max(only.numExecutors, 1),
        partitionsFloor(only.inputSizeMb))
    case h =>
      val last2 = h.takeRight(2)
      val Seq(first, second) = last2.sortBy(_.numPartitionsUsed)
      val floor = partitionsFloor(second.inputSizeMb)
      if (first.numPartitionsUsed == second.numPartitionsUsed) {
        second.numPartitionsUsed // plateau → converged
      } else if (morePartitionsIsBetter(first, second)) {
        math.max(math.max(floor, first.numPartitionsUsed),
          second.numPartitionsUsed) + second.numExecutors.max(1)
      } else {
        h.minBy(_.executorCpuTimeMs).numPartitionsUsed // best so far
      }
  }

  /** Slot floor for APPLYING a recommendation: under AQE the recorded
    * `numPartitionsUsed` is the post-coalesce EXECUTED count, so the
    * plateau/regressing branches can echo a coalesced tiny stage back as
    * the next run's INITIAL count — two runs whose biggest shuffle AQE
    * coalesced to one task recommend 1, which at cluster scale parks
    * every slot but one behind a single shuffle task. The decision table
    * above stays the reference's formula (it is the spec); the SESSION
    * never applies fewer initial partitions than the cluster has slots —
    * idling cores is never the right initial plan, and AQE can only
    * coalesce DOWN from the initial count, never split a non-skewed stage
    * up. */
  def applySlotFloor(partitions: Int): Int =
    math.max(partitions, possibleConcurrentTasks())

  /** Scan-tier input-split recommendation (`spark.sql.files.maxPartitionBytes`)
    * — the [[partitionsFloor]] memory math inverted onto the scan tier,
    * which is the knob that matters most for a 100 TB read: the shuffle
    * tier re-partitions whatever the scan produced, but split sizing
    * decides the scan stage's task count and per-task memory up front.
    * Bounds, tightest wins:
    *   - memory: half the task working memory (parquet decompression and
    *     vectorized-batch expansion need headroom past the on-disk split);
    *   - first-wave parallelism: recorded scan input / cluster slots, so a
    *     small input still fans out across every slot instead of idling
    *     the cluster behind a few fat splits (pass 0 on a cold start —
    *     no recorded scan — to use the memory bound alone);
    *   - clamped to [4 MB, 1 GB]: below 4 MB (Spark's own openCostInBytes)
    *     scheduling overhead dominates; above 1 GB single-task reads hit
    *     2 GB buffer limits and straggle. */
  def maxPartitionBytes(inputSizeMb: Double): Long = {
    val byMemoryMb = taskMemoryMb() / 2
    val bySlotsMb =
      if (inputSizeMb <= 0) byMemoryMb
      else inputSizeMb / possibleConcurrentTasks()
    val mb = math.max(4.0, math.min(1024.0, math.min(byMemoryMb, bySlotsMb)))
    math.round(mb * 1024 * 1024)
  }
}
