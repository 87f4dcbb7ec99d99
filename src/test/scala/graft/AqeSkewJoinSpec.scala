package graft

import org.apache.spark.sql.functions._

/** AQE skew-join gate: the engine's story for skewed keys is salting
  * where the skew is known (operators/SaltedJoin) and AQE's runtime
  * skew-split where it is not. This spec proves the AQE half actually
  * fires: a hot-key join with skew thresholds scaled to the fixture must
  * mark the sort-merge join skew=true in the final adaptive plan. */
class AqeSkewJoinSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    val restore = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // Fixture-scale thresholds: treat any partition 2x the median and
      // over 4 KiB as skewed, split toward 2 KiB targets.
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4096")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

      // 50k rows on one hot key vs 5k spread over 100 keys.
      val left = spark.range(50000).select(lit(0L).as("k"), col("id").as("v"))
        .union(spark.range(5000).select((col("id") % 100 + 1).as("k"), col("id").as("v")))
      val right = spark.range(101).select(col("id").as("k"), (col("id") * 10).as("w"))
      // Global aggregate on top: a groupBy on the join key would REQUIRE
      // hash distribution and make AQE (correctly) refuse to skew-split;
      // a global agg accepts any partitioning, so the split is legal.
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum("w").as("ws"))
      val row = joined.collect().head
      assert(row.getLong(0) == 55000L, s"rows ${row.getLong(0)}")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n${finalPlan.take(1500)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
