package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Model-evaluation and feature-engineering operators — the measurement
  * tier of a training-data pipeline (how good is a quality score, how is
  * a metric trending, is a scored split calibrated, how to draw a
  * weighted sample without a pass per stratum).
  *
  * Determinism canon (SURVEY.md §2B): every ranking statistic is computed
  * in exact integer arithmetic (midranks doubled to stay integral, values
  * in centi-units via DECIMAL casts) up to a single final
  * double-division + round(6), written with the identical operation order
  * in both engines so the IEEE results are bit-equal. No transcendentals.
  *
  * Scale notes:
  * - `q_auc_rank` aggregates to one row per (group, distinct score)
  *   before the midrank window, so the window input is bounded by the
  *   score cardinality, not the corpus; everything shuffles on `source`.
  * - `q_linreg_closed` is a pure partial-aggregable 6-sum pass (n, Σx,
  *   Σy, Σxy, Σx², Σy²) — one shuffle, closed-form OLS on the driver-free
  *   combine; the only scalar (min day) rides a broadcast cross join.
  * - `q_calibration_bins` ranks within `source` partitions (never a
  *   global window), then re-aggregates on the bounded bin key.
  * - `q_weighted_sample` is systematic weighted sampling in md5 order: a
  *   two-level distributed prefix sum (256 md5-prefix buckets → bounded
  *   offset table → within-bucket window) replaces the global cumulative
  *   window a naive implementation would use; the oracle's global window
  *   is semantically identical because the bucket id is the hash prefix,
  *   so (bucket, hash) order IS hash order. Selection is exact integer
  *   stride arithmetic — no RNG, reproducible under any partitioning.
  */
object MlOps {
  type Q = (SparkSession, String) => DataFrame

  /** Target sample size for `q_weighted_sample` (expected hits; exact
    * count can differ by the rows straddling stride boundaries). Shared
    * with the oracle. */
  val SampleK = 50

  val queries: Map[String, Q] = Map(
    // Rank-sum (Mann-Whitney) AUC of the n_chars "quality score"
    // predicting lang='en', per source. Midranks handle ties exactly:
    // with per-score counts n and positives np, and cnt_lt the count of
    // strictly-smaller scores, 2·midrank = 2·cnt_lt + n + 1, so
    // 2R⁺ = Σ np·(2·cnt_lt + n + 1) stays integral; AUC =
    // (2R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻).
    "q_auc_rank" -> { (s, dir) =>
      val scored = t(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("long").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val perScore = scored.groupBy("source", "score")
        .agg(count(lit(1)).as("n"), sum("pos").as("np"))
      val w = Window.partitionBy("source").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      perScore
        .withColumn("cnt_lt", coalesce(sum("n").over(w), lit(0L)))
        .groupBy("source")
        .agg(sum(col("np") * (lit(2L) * col("cnt_lt") + col("n") + lit(1L)))
            .as("two_r_pos"),
          sum("np").as("n_pos"), sum(col("n") - col("np")).as("n_neg"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("source"), col("n_pos"), col("n_neg"),
          round((col("two_r_pos") - col("n_pos") * (col("n_pos") + lit(1L)))
              .cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6)
            .as("auc"))
        .orderBy("source")
    },

    // Closed-form per-group OLS of value (centi-units) on the day offset
    // since the corpus' first day: slope/intercept/R² from the six exact
    // integer sums. The global min-day scalar broadcasts; magnitudes
    // (value ≤ 5·10⁴ centi, offset ≤ a few thousand days) keep every sum
    // far inside int64 through sf100.
    "q_linreg_closed" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"),
        (col("value").cast("decimal(18,4)") * 100).cast("long").as("iv"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day"))
      val d0 = ev.agg(min("day").as("d0"))
      val agg = ev.crossJoin(broadcast(d0))
        .select(col("event_type"), (col("day") - col("d0")).as("x"),
          col("iv").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      def d(c: String) = col(c).cast("double")
      val sNum = d("n") * d("sxy") - d("sx") * d("sy")
      val sDen = d("n") * d("sxx") - d("sx") * d("sx")
      val yDen = d("n") * d("syy") - d("sy") * d("sy")
      agg.select(col("event_type"), col("n"),
          round(sNum / sDen / 100.0, 6).as("slope"),
          round((d("sy") * d("sxx") - d("sx") * d("sxy")) / sDen / 100.0, 6)
            .as("intercept"),
          round(sNum * sNum / (sDen * yDen), 6).as("r2"))
        .orderBy("event_type")
    },

    // Reliability diagram: the within-source percent-rank of n_chars as a
    // [0,1] "predicted quality" score, binned into deciles, against the
    // lang='en' outcome rate. Well-calibrated ⇔ frac_pos flat across
    // bins (the fixture's score is uninformative by construction, so the
    // oracle doubles as a negative control). Rank windows partition by
    // source; per-term rounding to DECIMAL(18,6) makes the bin mean
    // summation-order-free.
    "q_calibration_bins" -> { (s, dir) =>
      val nSrc = Window.partitionBy("source")
      val rw = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .withColumn("score", (rank().over(rw) - lit(1)).cast("double")
          / (count(lit(1)).over(nSrc) - lit(1)).cast("double"))
        .filter(col("score").isNotNull)
        .select(least(floor(col("score") * 10).cast("long"), lit(9L)).as("bin"),
          round(col("score"), 6).cast("decimal(18,6)").as("score6"),
          col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(sum("score6").cast("double") / count(lit(1)), 6)
            .as("avg_score"),
          round(sum("pos").cast("double") / count(lit(1)), 6).as("frac_pos"))
        .orderBy("bin")
    },

    // Systematic weighted sampling (~SampleK docs, n_chars-proportional):
    // a doc is selected iff its weight interval [cum−wt, cum) in md5
    // order straddles a stride boundary j·tot/SampleK — integer-division
    // arithmetic only. The cumulative sum is distributed: per-bucket
    // totals (bucket = first md5 byte) roll into a 256-row offset table
    // whose window is bounded, then each bucket scans independently.
    "q_weighted_sample" -> { (s, dir) =>
      val w = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("wt"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bkt", expr("conv(substring(h, 1, 2), 16, 10)")
          .cast("long"))
      val bktTot = w.groupBy("bkt").agg(sum("wt").as("bw"))
      val off = bktTot.withColumn("boff",
        coalesce(sum("bw").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val tot = bktTot.agg(sum("bw").as("tot"))
      val inBkt = Window.partitionBy("bkt").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      w.join(broadcast(off.select("bkt", "boff")), "bkt")
        .withColumn("cum", sum("wt").over(inBkt) + col("boff"))
        .crossJoin(broadcast(tot))
        .filter(expr(s"cum * ${SampleK}L div tot") >
          expr(s"(cum - wt) * ${SampleK}L div tot"))
        .select(col("doc_id"), col("wt"),
          expr(s"(cum - wt) * ${SampleK}L div tot").as("slot"))
        .orderBy("doc_id")
    })

  val oracle: Map[String, String] = Map(
    "q_auc_rank" -> """
      WITH scored AS (
        SELECT source, CAST(n_chars AS BIGINT) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents),
      per_score AS (
        SELECT source, score, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
        FROM scored GROUP BY 1, 2),
      ranked AS (
        SELECT source, score, n, np,
               coalesce(CAST(sum(n) OVER (PARTITION BY source ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                 0) AS cnt_lt
        FROM per_score),
      g AS (
        SELECT source,
               CAST(sum(np * (2 * cnt_lt + n + 1)) AS BIGINT) AS two_r_pos,
               CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(n - np) AS BIGINT) AS n_neg
        FROM ranked GROUP BY source)
      SELECT source, n_pos, n_neg,
             CAST(round(CAST(two_r_pos - n_pos * (n_pos + 1) AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS DOUBLE) AS auc
      FROM g WHERE n_pos > 0 AND n_neg > 0
      ORDER BY source
    """,
    "q_linreg_closed" -> """
      WITH ev AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS iv,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS day
        FROM events),
      base AS (SELECT min(day) AS d0 FROM ev),
      xy AS (SELECT event_type, day - d0 AS x, iv AS y
             FROM ev CROSS JOIN base),
      agg AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM xy GROUP BY event_type)
      SELECT event_type, n,
        CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6)
          AS DOUBLE) AS slope,
        CAST(round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6)
          AS DOUBLE) AS intercept,
        CAST(round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
          / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS DOUBLE) AS r2
      FROM agg ORDER BY event_type
    """,
    "q_calibration_bins" -> """
      WITH scored AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               CAST(rank() OVER (PARTITION BY source
                   ORDER BY n_chars, doc_id) - 1 AS DOUBLE)
                 / CAST(count(*) OVER (PARTITION BY source) - 1 AS DOUBLE)
                 AS score
        FROM documents),
      binned AS (
        SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
               CAST(round(score, 6) AS DECIMAL(18,6)) AS score6, pos
        FROM scored WHERE score IS NOT NULL)
      SELECT bin, count(*) AS n,
             CAST(round(CAST(sum(score6) AS DOUBLE) / count(*), 6) AS DOUBLE)
               AS avg_score,
             CAST(round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS DOUBLE)
               AS frac_pos
      FROM binned GROUP BY bin ORDER BY bin
    """,
    "q_weighted_sample" -> s"""
      WITH w AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      c AS (
        SELECT doc_id, wt,
               CAST(sum(wt) OVER (ORDER BY h, doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(sum(wt) OVER () AS BIGINT) AS tot
        FROM w)
      SELECT doc_id, wt, (cum - wt) * ${SampleK} // tot AS slot
      FROM c
      WHERE cum * ${SampleK} // tot > (cum - wt) * ${SampleK} // tot
      ORDER BY doc_id
    """)
}
