package graft.tuner

/** Reducer-skew advisor — the third tuner tier next to the shuffle
  * partition count (reference decision table, `ComputePartitions`) and
  * the scan input split (`ComputePartitions.maxPartitionBytes`): the max
  * and median per-TASK shuffle-read volumes of the most
  * shuffle-read-expensive stage expose the straggler that per-STAGE totals
  * average away. A 1000-executor stage whose median task reads 64 MB but
  * whose max reads 6 GB is a one-hot-key job — wall-clock pinned to one
  * task — and no partition-count change fixes it; the fix is AQE
  * skew-join splitting (or salting, which `operators.SaltedJoin`
  * demonstrates plan-side).
  *
  * The advisor turns the observed max/median ratio into the two AQE
  * knobs that govern splitting: a partition is split when its size
  * exceeds BOTH `skewedPartitionFactor` × median AND
  * `skewedPartitionThresholdInBytes`. Recommending factor =
  * max(2, ⌈ratio/2⌉ capped at the default 5) and threshold = factor ×
  * observed median guarantees the observed straggler qualifies on both
  * conditions at the next run, while balanced stages leave the
  * defaults untouched.
  */
object SkewAdvisor {

  /** The classic straggler rule: max/median at or above this is skew. */
  private val SkewRatio = 4.0

  /** Analysis of one run's worst shuffle-read stage. `ratio` is
    * max/median per-task shuffle-read bytes; `skewed` applies
    * [[SkewRatio]]. */
  case class SkewReport(maxBytes: Long, medianBytes: Long, ratio: Double,
      skewed: Boolean, recommendedFactor: Int,
      recommendedThresholdBytes: Long)

  /** Inspect the latest run: pick the stage with the largest total
    * shuffle read and compare its straggler task to its median task
    * (the stage summary's max and upper-median positive per-task reads).
    * None when the run has no shuffle-reading stage with a positive
    * per-task read. */
  def analyze(run: List[StageRunInfo]): Option[SkewReport] =
    run.filter(_.shuffle.bytesRead > 0).sortBy(-_.shuffle.bytesRead).headOption
      .filter(_.maxTaskShuffleReadBytes > 0).map { st =>
        val median = st.medianTaskShuffleReadBytes
        val mx = st.maxTaskShuffleReadBytes
        val ratio = mx.toDouble / math.max(1L, median)
        val factor = math.min(5, math.max(2, math.ceil(ratio / 2.0).toInt))
        SkewReport(mx, median, ratio, ratio >= SkewRatio, factor,
          factor.toLong * median)
      }

  /** Conf deltas for the next run. Balanced runs return empty — the
    * advisor never narrows AQE's defaults, it only makes a PROVEN
    * straggler eligible for splitting. */
  def knobs(report: SkewReport): Map[String, String] =
    if (!report.skewed) Map.empty
    else Keys.zip(Seq("true", report.recommendedFactor.toString,
      report.recommendedThresholdBytes.toString)).toMap

  /** The AQE skew-join confs [[knobs]] sets: enabled, factor, threshold. */
  val Keys: Seq[String] = Seq(
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
}
