package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Skew-mitigating salted equi-join: the probe (skewed) side gets a
  * deterministic salt in [0, n) derived from its whole row hash; the
  * build side is replicated across all n salts; the join key becomes
  * (key, salt), splitting one hot key's rows across n reducers.
  *
  * This is the manual fallback for skew AQE cannot fix (e.g. a hot key
  * inside a single shuffle partition that skew-join splitting leaves
  * alone because the build side is not shuffle-local). Result is
  * identical to the plain join — H-checked against the unsalted oracle.
  */
object SaltedJoin {

  /** left ⋈ right on leftKey = rightKey with `salts`-way salting.
    * Right side is replicated `salts`× — use with a dimension-sized right. */
  def saltedEquiJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col).toSeq: _*)), lit(salts)))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedLeft.join(saltedRight,
        saltedLeft("__salt") === saltedRight("__salt") &&
        col(leftKey) === col(rightKey))
      .drop("__salt")
  }

  /** Registry query: lineitem ⋈ orders salted 8 ways, revenue by status.
    * Result must equal the plain join (the oracle is unsalted SQL). */
  def query(s: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
    saltedEquiJoin(t(s, dir, "lineitem"), t(s, dir, "orders"),
        "l_orderkey", "o_orderkey", salts = 8)
      .groupBy("o_orderstatus")
      .agg(money(sum(rev)).as("revenue"), count(lit(1)).as("line_cnt"))
      .orderBy("o_orderstatus")
  }

  val oracle: String = """
    SELECT o_orderstatus,
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      count(*) AS line_cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""
}
