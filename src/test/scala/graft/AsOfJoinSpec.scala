package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.plans.AsOfJoin

/** Custom as-of operator: handcrafted interleaved timelines with known
  * answers, physical-plan shape, and the inner-join drop semantics. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq( // (key, time, quote_id)
    (1L, ts("2024-01-01 10:00:00"), 100L),
    (1L, ts("2024-01-01 10:05:00"), 101L),
    (1L, ts("2024-01-01 10:10:00"), 102L),
    (2L, ts("2024-01-01 09:00:00"), 200L)
  ).toDF("qkey", "qtime", "quote_id")

  private val trades = Seq( // (key, time, trade_id)
    (1L, ts("2024-01-01 10:04:59"), 1L), // → quote 100
    (1L, ts("2024-01-01 10:05:00"), 2L), // boundary: inclusive → quote 101
    (1L, ts("2024-01-01 11:00:00"), 3L), // → quote 102
    (2L, ts("2024-01-01 09:30:00"), 4L), // → quote 200
    (2L, ts("2024-01-01 08:00:00"), 5L), // before any quote → dropped
    (3L, ts("2024-01-01 12:00:00"), 6L)  // no quotes for key → dropped
  ).toDF("tkey", "ttime", "trade_id")

  test("as-of picks the latest right row at or before each left time") {
    val out = AsOfJoin.asof(trades, quotes, "tkey", "qkey", "ttime", "qtime")
      .select("trade_id", "quote_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 100L, 2L -> 101L, 3L -> 102L, 4L -> 200L))
  }

  test("plan uses AsOfJoinExec with planner-inserted exchanges and sorts") {
    val df = AsOfJoin.asof(trades, quotes, "tkey", "qkey", "ttime", "qtime")
    // AQE wraps the physical plan, so assert on the rendered tree.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"AsOfJoinExec missing from plan:\n$plan")
    // EnsureRequirements must have inserted clustering + ordering.
    assert(plan.contains("Exchange hashpartitioning"), "expected planner-inserted exchanges")
    assert(plan.contains("Sort ["), "expected planner-inserted sorts")
  }

  test("agrees with a window-based reference implementation on testdata") {
    import org.apache.spark.sql.expressions.Window
    val got = graft.queries.AsOfOps.queries("q_asof_join")(spark, sf)
      .select("event_id", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // Independent spelling: range join + row_number (quadratic per key —
    // test-only; the operator exists precisely to avoid this shape).
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val ordersDedup = graft.core.Tables.t(spark, sf, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    val pick = Window.partitionBy("event_id").orderBy(desc("o_orderdate"))
    val expected = graft.core.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(ordersDedup, col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"))
      .withColumn("pick", row_number().over(pick)).filter(col("pick") === 1)
      .select("event_id", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got == expected)
  }

  test("LEFT outer keeps unmatched left rows with a null right side") {
    val out = AsOfJoin.asofLeft(trades, quotes, "tkey", "qkey", "ttime", "qtime")
      .select("trade_id", "quote_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out == Map(
      1L -> Some(100L), 2L -> Some(101L), 3L -> Some(102L), 4L -> Some(200L),
      5L -> None, // before any quote for its key
      6L -> None  // key with no quotes at all
    ))
  }

  test("results are stable under repartitioning of inputs") {
    val out1 = AsOfJoin.asof(trades.repartition(7), quotes.repartition(3),
        "tkey", "qkey", "ttime", "qtime")
      .select("trade_id", "quote_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out2 = AsOfJoin.asof(trades.coalesce(1), quotes.coalesce(1),
        "tkey", "qkey", "ttime", "qtime")
      .select("trade_id", "quote_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out1 == out2)
  }
}
