package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Data-layout and profiling operators: the tools a 100 TB table owner runs
  * BEFORE deciding how to lay data out, plus the layout key itself.
  *
  * - `q_zorder_key`: 16-bit Morton (Z-order) interleave of two scan
  *   dimensions. Sorting / range-partitioning a table by this key clusters
  *   rows so that per-file min/max statistics become tight rectangles in
  *   BOTH dimensions — the standard multi-dimensional file-skipping layout
  *   (Delta/Iceberg OPTIMIZE ZORDER does exactly this). The query reports
  *   per-cell row counts and min/max of both dims; the bounded widths ARE
  *   the pruning guarantee. Pure map-side bit arithmetic, one small agg.
  * - `q_key_skew`: log2-bucketed key-frequency histogram — the profiler
  *   that decides salting / AQE-skew thresholds. Two aggregations: the
  *   per-key count (partial-agg, the only corpus-sized shuffle) and a
  *   ≤64-row histogram.
  * - `q_cms_topk`: count-min sketch (depth 3 × width 4096, md5-derived
  *   bucket hashes so both engines compute identical sketches) with the
  *   min-over-rows estimate compared against exact counts for the top-20
  *   tokens. The sketch counters are derived from the single token-count
  *   shuffle; at 100 TB the same three ≤4096-cell tables aggregate
  *   partial counts from every executor without ever materializing the
  *   long-tail vocabulary. Overcount (est - exact) ≥ 0 is the CMS
  *   one-sided error invariant, spec-asserted.
  *
  * Determinism: everything here is integer arithmetic or md5-derived —
  * no doubles anywhere.
  */
object LayoutOps {
  type Q = (SparkSession, String) => DataFrame

  /** Spread the low 16 bits of `c` into the even bit positions (Morton
    * "part1by1" magic-number spread — public-domain bit-twiddling hack).
    * Callers must hand in values already in [0, 65535]: the mask makes
    * out-of-domain keys alias NON-locally (k and k+65536 collide, so a
    * cell's min/max rectangle spans the whole table and the pruning
    * guarantee silently dies). [[zorderCells]] quantizes first. */
  private def part1by1(c: Column): Column = {
    val m0 = c.cast("long").bitwiseAND(lit(65535L))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(16711935L))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(252645135L))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(858993459L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(1431655765L))
  }

  /** 32-bit Morton key: x in even bits, y in odd bits. Inputs must be in
    * [0, 65535] — see [[part1by1]]; use [[zorderCells]] / [[quant16Sql]]
    * for unbounded key domains. */
  def zorder(x: Column, y: Column): Column =
    part1by1(x).bitwiseOR(shiftleft(part1by1(y), 1))

  /** Linear 16-bit quantizer as a Spark SQL string: bucket =
    * v * 65536 div (max+1), integer-exact (BIGINT in, BIGINT out).
    * Injective while max < 65536 (scale ≥ 1); past that, only ADJACENT
    * keys share a bucket, so each Morton cell's per-dimension min/max
    * rectangle stays bounded by 256 * ceil((max+1)/65536) raw values —
    * the locality-preserving degradation the bare mask lacks. */
  private def quant16Sql(colName: String, maxPlus1: Long): String =
    s"((CAST($colName AS BIGINT) * 65536) DIV $maxPlus1)"

  /** q_zorder_key core, factored for spec reuse on synthetic domains:
    * per-cell row counts and raw-dimension bounds of the quantized
    * Morton layout key over (l_partkey, l_suppkey). The 1-row max agg
    * that feeds the quantizer is parquet-footer work at 100 TB (column
    * stats), not a second data pass. */
  def zorderCells(li: DataFrame): DataFrame = {
    val mx = li.agg(max(col("l_partkey").cast("long")),
      max(col("l_suppkey").cast("long"))).first()
    val (mp1, ms1) = (mx.getLong(0) + 1L, mx.getLong(1) + 1L)
    val z = zorder(expr(quant16Sql("l_partkey", mp1)),
      expr(quant16Sql("l_suppkey", ms1)))
    li.select(col("l_partkey"), col("l_suppkey"),
        shiftright(z, 16).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
      .orderBy("cell")
  }

  /** The same part1by1 spread as a SQL string (DuckDB + Spark SQL agree on
    * `&`, `|`, `<<` over BIGINT; everything fully parenthesized). */
  private def sqlPart1by1(e: String): String = {
    val m0 = s"(($e) & 65535)"
    val m1 = s"((($m0) | (($m0) << 8)) & 16711935)"
    val m2 = s"((($m1) | (($m1) << 4)) & 252645135)"
    val m3 = s"((($m2) | (($m2) << 2)) & 858993459)"
    s"((($m3) | (($m3) << 1)) & 1431655765)"
  }

  private def sqlZorder(x: String, y: String): String =
    s"(${sqlPart1by1(x)} | (${sqlPart1by1(y)} << 1))"

  /** 0-based value of the k-th (1-based) hex char of md5(e) — the
    * engine-portable hash primitive shared with q_data_mix et al. */
  private def hexAt(e: String, k: Int): String =
    s"(instr('0123456789abcdef', substring(md5($e), $k, 1)) - 1)"

  /** CMS row hash i: first 3 md5 hex chars of the salted token → 0..4095.
    * Identical string evaluates in both Spark SQL and DuckDB. */
  private def cmsBucketSql(i: Int, tok: String): String = {
    val e = s"concat('cms$i:', $tok)"
    s"(((${hexAt(e, 1)}) * 16 + (${hexAt(e, 2)})) * 16 + (${hexAt(e, 3)}))"
  }

  val queries: Map[String, Q] = Map(
    // Z-order layout key over (l_partkey, l_suppkey): per-2^16-cell row
    // counts and dim bounds. The bounded min/max rectangles are what
    // file-level stats pruning consumes after a ZORDER rewrite.
    "q_zorder_key" -> { (s, dir) => zorderCells(t(s, dir, "lineitem")) },

    // Key-frequency histogram: bucket = bit-length of the per-key row
    // count (integer-exact in both engines via bin(); no float log2).
    "q_key_skew" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .groupBy(length(bin(col("cnt"))).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"))
        .orderBy("bucket")
    },

    // Deterministic per-group "reservoir": the k smallest md5(doc_id)
    // ranks per lang — a uniform, reproducible k-sample per group (the
    // md5 order is independent of the data's physical order, so the
    // sample is stable across partitionings and engines — rerunnable at
    // 100 TB without a seed registry). One window shuffle on lang.
    "q_reservoir_sample" -> { (s, dir) =>
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    },

    // Data-quality profiler: per-column null and distinct counts plus
    // min/max over orders — the table-stats pass every ingest runs. One
    // aggregation job; distincts are exact (at 100 TB you'd swap in
    // approx_count_distinct, the declared T-class variant — q37 covers
    // that contract).
    "q_null_profile" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_orderdate"),
        countDistinct(col("o_custkey")).as("nd_custkey"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        countDistinct(col("o_orderpriority")).as("nd_priority"),
        min(col("o_orderkey")).as("min_orderkey"),
        max(col("o_orderkey")).as("max_orderkey"),
        money(sum(dec(col("o_totalprice")))).as("sum_price"))
    },

    // MERGE / upsert as a relational plan (the Delta-MERGE semantics,
    // engine-native): a deterministic delta — updates for keys ≡ 0
    // (mod 10), inserts keyed past the base max — full-outer-joins the
    // base on the key; matched rows take the delta's values, unmatched
    // keep the base, insert-only rows appear. One shuffle join on the
    // merge key + the verification agg; at 100 TB this is exactly the
    // shuffle MERGE INTO plans to, and partition-pruning the base to
    // touched partitions is the standard refinement. Output = per-status
    // row/price stats of the merged table (proves update, keep, and
    // insert paths all landed).
    "q_merge_upsert" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("price"))
      val maxK = base.agg(max("k").as("maxk"))
      val updates = base.filter(col("k") % 10 === 0)
        .select(col("k"), lit("U").as("st"), (col("price") + 100.0).as("price"))
      val inserts = base.filter(col("k") % 97 === 0).crossJoin(maxK)
        .select((col("k") + col("maxk")).as("k"), lit("I").as("st"),
          lit(1.0).as("price"))
      val delta = updates.unionByName(inserts)
      val merged = base.as("b")
        .join(delta.as("d"), col("b.k") === col("d.k"), "full_outer")
        .select(
          coalesce(col("d.k"), col("b.k")).as("k"),
          coalesce(col("d.st"), col("b.st")).as("st"),
          coalesce(col("d.price"), col("b.price")).as("price"))
      merged.groupBy("st")
        .agg(count(lit(1)).as("n"), money(sum(dec(col("price")))).as("total"))
        .orderBy("st")
    },

    // Incremental rollup (materialized-view maintenance): the Q115 merge
    // identity promoted to an operator. The MV is built from the initial
    // load (even event_ids) as (day, event_type) partials — sum of exact
    // decimals + count — and PERSISTED to parquet; a late-arriving delta
    // (odd ids) then lands in the SAME groups, so the refresh is the real
    // merge case: union of stored and delta partials, re-aggregated as
    // sum-of-sums / sum-of-counts. At 100 TB this is how every rollup
    // stays fresh — the refresh scans the delta plus the (tiny) partial
    // table, never the base corpus; partial aggregation is the same
    // identity applied per-partition. Decimal partials make the two-stage
    // sum exactly equal the direct one, so the oracle IS the direct
    // full-table aggregation.
    "q_incr_rollup" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
          col("value"), col("event_id"))
      def partial(df: DataFrame) =
        df.groupBy("day", "event_type")
          .agg(sum(dec(col("value"))).as("s"), count(lit(1)).as("c"))
      val mv = graft.core.Materialize(partial(ev.filter(col("event_id") % 2 === 0)), "mv")
      mv.unionByName(partial(ev.filter(col("event_id") % 2 === 1)))
        .groupBy("day", "event_type")
        .agg(sum("s").as("s"), sum("c").as("c"))
        .select(tsStr(col("day")).as("day"), col("event_type"),
          money(col("s")).as("sum_value"), col("c").as("cnt"))
        .orderBy("day", "event_type")
    },

    // Small-file compaction planner (the OPTIMIZE pass every 100 TB table
    // needs): a deterministic file inventory — 16 md5 shards per lang,
    // byte size = text bytes — is packed into merge groups of ~4× the
    // mean shard size by exclusive-running-sum division, PER LANG
    // (compaction never merges across table partitions, so the packing
    // window partitions on lang and the inventory is file-metadata-sized,
    // never corpus-sized). The scale-free target (4× mean) keeps the plan
    // non-degenerate at every sf. Output: per (lang, merge group) file
    // count, bytes, and the shard range the rewrite would coalesce.
    "q_compaction_plan" -> { (s, dir) =>
      val shard = expr(
        "(instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 1, 1)) - 1) % 16")
      val inv = t(s, dir, "documents")
        .groupBy(col("lang"), shard.cast("long").as("shard"))
        .agg(sum(length(col("text"))).as("bytes"), count(lit(1)).as("n_docs"))
      val mean = inv.agg(avg("bytes").as("mean_bytes"))
      val w = Window.partitionBy("lang").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      inv.crossJoin(mean)
        .filter(col("bytes") < lit(2.0) * col("mean_bytes"))
        .withColumn("grp", floor(
          coalesce(sum("bytes").over(w), lit(0L)) /
            (lit(4.0) * col("mean_bytes"))).cast("long"))
        .groupBy("lang", "grp")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes"),
          min("shard").as("first_shard"), max("shard").as("last_shard"))
        .orderBy("lang", "grp")
    },

    // Two-phase exact distinct: groupBy(key, value) THEN count per key —
    // the shape that replaces COUNT(DISTINCT) at 100 TB. A single-phase
    // distinct aggregation ships every (key, value) pair to the key's
    // one reducer (hot keys melt it); phase 1 here dedups on the
    // COMPOSITE key, spreading a hot key's values across all reducers,
    // and phase 2 is a partial-aggregable count. Result provably equals
    // the built-in (the oracle IS count(distinct)).
    "q_twophase_distinct" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type").agg(count(lit(1)).as("nd_users"))
        .orderBy("event_type")
    },

    // Count-min sketch heavy hitters: 3×4096 counters vs exact top-20.
    "q_cms_topk" -> { (s, dir) =>
      // Materialized: tf feeds the three sketch rows AND the exact top-20
      // — four replays of the corpus tokenize+count without the barrier
      // (ReuseProbe r9: subtle per-consumer pruning defeats ReuseExchange).
      val tf = graft.core.Materialize(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("cnt")),
        "cms-tf")
      val sketches = (0 until 3).map { i =>
        val b = expr(cmsBucketSql(i, "w"))
        tf.groupBy(b.as("b")).agg(sum("cnt").as(s"row$i"))
      }
      val top = tf.orderBy(desc("cnt"), asc("w")).limit(20)
        .withColumnRenamed("cnt", "exact")
      val joined = (0 until 3).foldLeft(top) { (acc, i) =>
        acc.join(sketches(i).hint("broadcast"),
          expr(cmsBucketSql(i, "w")) === sketches(i)("b"))
          .drop("b")
      }
      joined
        .select(col("w"), col("exact"),
          least(col("row0"), col("row1"), col("row2")).as("est"))
        .withColumn("overcount", col("est") - col("exact"))
        .orderBy(desc("exact"), asc("w"))
    }
  )

  val oracle: Map[String, String] = Map(
    // mx MATERIALIZED: the quantizer constants appear ~30× inside the
    // expanded part1by1 strings, and DuckDB re-inlines plain CTEs per
    // reference (BENCH_NOTES round-7 methodology note). `//` is DuckDB's
    // integer division (Spark side says DIV — Spark never parses this).
    "q_zorder_key" -> s"""
      WITH mx AS MATERIALIZED (
        SELECT CAST(max(l_partkey) + 1 AS BIGINT) AS mp,
               CAST(max(l_suppkey) + 1 AS BIGINT) AS ms
        FROM lineitem)
      SELECT (${sqlZorder("((CAST(l_partkey AS BIGINT) * 65536) // mp)",
        "((CAST(l_suppkey AS BIGINT) * 65536) // ms)")} >> 16) AS cell,
             count(*) AS n_rows,
             min(l_partkey) AS min_part, max(l_partkey) AS max_part,
             min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
      FROM lineitem, mx GROUP BY 1 ORDER BY 1""",

    "q_key_skew" -> """
      WITH kc AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1)
      SELECT CAST(len(bin(cnt)) AS INT) AS bucket, count(*) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt
      FROM kc GROUP BY 1 ORDER BY 1""",

    "q_twophase_distinct" -> """
      SELECT event_type, count(DISTINCT user_id) AS nd_users
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_compaction_plan" -> """
      WITH inv AS (
        SELECT lang,
               CAST((instr('0123456789abcdef',
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 16
                 AS BIGINT) AS shard,
               CAST(sum(len(text)) AS BIGINT) AS bytes
        FROM documents GROUP BY 1, 2),
      m AS (SELECT avg(bytes) AS mean_bytes FROM inv),
      small AS (
        SELECT inv.lang, inv.shard, inv.bytes, m.mean_bytes
        FROM inv, m WHERE inv.bytes < 2.0 * m.mean_bytes),
      packed AS (
        SELECT lang, shard, bytes,
               CAST(floor(coalesce(sum(bytes) OVER (PARTITION BY lang
                 ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) / (4.0 * mean_bytes)) AS BIGINT) AS grp
        FROM small)
      SELECT lang, grp, count(*) AS n_files,
             CAST(sum(bytes) AS BIGINT) AS bytes,
             min(shard) AS first_shard, max(shard) AS last_shard
      FROM packed GROUP BY 1, 2 ORDER BY 1, 2""",

    // The merge identity means the incremental path must equal the direct
    // full aggregation — so the direct aggregation IS the oracle.
    "q_incr_rollup" -> """
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
             event_type,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
             count(*) AS cnt
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_merge_upsert" -> """
      WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price
        FROM orders),
      mk AS (SELECT max(k) AS maxk FROM base),
      delta AS (
        SELECT k, 'U' AS st, price + 100.0 AS price FROM base WHERE k % 10 = 0
        UNION ALL
        SELECT k + mk.maxk, 'I', 1.0 FROM base, mk WHERE k % 97 = 0),
      merged AS (
        SELECT coalesce(d.k, b.k) AS k, coalesce(d.st, b.st) AS st,
               coalesce(d.price, b.price) AS price
        FROM base b FULL OUTER JOIN delta d ON b.k = d.k)
      SELECT st, count(*) AS n,
             CAST(round(sum(CAST(price AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS total
      FROM merged GROUP BY st ORDER BY st""",

    "q_reservoir_sample" -> """
      WITH r AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT lang, doc_id, n_chars, rk FROM r
      WHERE rk <= 5 ORDER BY lang, rk""",

    "q_null_profile" -> """
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_orderdate,
             count(DISTINCT o_custkey) AS nd_custkey,
             count(DISTINCT o_orderstatus) AS nd_status,
             count(DISTINCT o_orderpriority) AS nd_priority,
             min(o_orderkey) AS min_orderkey,
             max(o_orderkey) AS max_orderkey,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_price
      FROM orders""",

    "q_cms_topk" -> {
      val sketch = (0 until 3).map { i =>
        s"s$i AS (SELECT ${cmsBucketSql(i, "w")} AS b, CAST(sum(cnt) AS BIGINT) AS row$i FROM tf GROUP BY 1)"
      }.mkString(",\n      ")
      val joins = (0 until 3).map { i =>
        s"JOIN s$i ON ${cmsBucketSql(i, "top.w")} = s$i.b"
      }.mkString(" ")
      s"""
      WITH tf AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      $sketch,
      top AS (SELECT w, cnt AS exact FROM tf ORDER BY cnt DESC, w LIMIT 20)
      SELECT top.w, top.exact,
             least(s0.row0, s1.row1, s2.row2) AS est,
             least(s0.row0, s1.row1, s2.row2) - top.exact AS overcount
      FROM top $joins
      ORDER BY top.exact DESC, top.w"""
    }
  )
}
