package graft

import org.apache.spark.sql.functions._
import graft.tuner._

/** SkewAdvisor correctness: the decision table on stage summaries built
  * from synthetic per-task reads, and a LIVE skewed aggregation recorded
  * through the real listener (per-task shuffle-read bytes captured
  * end-to-end). A store in an older layout is refused. */
class SkewAdvisorSpec extends SparkSpec {

  private def stage(taskBytes: Seq[Long]): StageRunInfo =
    StageRunInfo.summarize(executorCpuTimeMs = 1000L, stageTimeMs = 1000L,
      inputBytes = 0L, numExecutors = 1, shuffle = ShuffleVolume(0L, taskBytes.sum),
      taskShuffleReadBytes = taskBytes)

  test("one-hot-key stage is flagged; knobs make the straggler eligible") {
    val mb = 1024L * 1024L
    val run = List(stage(Seq.fill(9)(10L * mb) :+ 200L * mb))
    val r = SkewAdvisor.analyze(run).get
    assert(r.skewed && r.ratio == 20.0)
    assert(r.medianBytes == 10L * mb && r.maxBytes == 200L * mb)
    val conf = SkewAdvisor.knobs(r)
    // Split requires size > factor × median AND > threshold — both must
    // hold for the OBSERVED straggler, else the advice is vacuous.
    val factor = conf("spark.sql.adaptive.skewJoin.skewedPartitionFactor").toInt
    val thresh =
      conf("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes").toLong
    assert(r.maxBytes > factor.toLong * r.medianBytes && r.maxBytes > thresh)
  }

  test("balanced stage is not flagged and the conf stays untouched") {
    val run = List(stage(Seq.fill(10)(50L * 1024 * 1024)))
    val r = SkewAdvisor.analyze(run).get
    assert(!r.skewed && r.ratio == 1.0)
    assert(SkewAdvisor.knobs(r).isEmpty)
  }

  test("no shuffle-read volumes (pre-evolution history) yields None, not advice") {
    val legacy = List(stage(Seq(0L, 0L, 0L)))
    assert(SkewAdvisor.analyze(legacy).isEmpty)
  }

  test("a live one-hot-key aggregation is flagged through the recorded run") {
    val tuner = new Tuner(graft.core.TempDirs.create("graft-skew-store"), "skew")
    // 200k rows, 99% on one key; 8 reduce partitions with AQE coalescing
    // disabled so the hot partition stays visible to the task metrics.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val tracked = tuner.tuneAndRunTracked(spark) {
        // repartition BY the hot key: unlike a partial-aggregable
        // groupBy (map-side combine collapses the hot key before the
        // wire), the exchange ships every row, so one reducer task
        // reads ~99% of the bytes — the shape a skewed fact-fact join's
        // probe side produces.
        spark.range(0, 200000)
          .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
            concat(lit("payload-payload-payload-"), col("id")).as("v"))
          .repartition(8, col("k"))
          .count()
      }
      val report = SkewAdvisor.analyze(tracked.recorded)
      assert(report.nonEmpty, "no shuffle-read stage recorded")
      assert(report.get.skewed,
        s"hot-key stage not flagged (ratio ${report.get.ratio})")
      // The NEXT tuned run sees the skewed history and auto-applies the
      // AQE skew knobs to the session before running.
      tuner.tuneAndRunTracked(spark) { spark.range(10).count() }
      val factor = spark.conf
        .getOption("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      assert(factor.exists(_.toInt >= 2),
        "skew advice not auto-applied by the tuning loop")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      Seq("spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        .foreach(spark.conf.unset)
    }
  }

  test("a store holding an older layout is refused with its dir in the message") {
    val root = graft.core.TempDirs.create("graft-skew-legacy")
    val legacy = new java.io.File(s"$root/legacy/kind=task/run=0")
    assert(legacy.mkdirs())
    val store = new MetricsStore(root, "legacy")
    Seq(() => store.history(spark), () => store.nextRunId(spark)).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(s"$root/legacy/kind=task"), e.getMessage)
    }
  }
}
