package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.functions.Udfs

/** Q36 UDF/UDAF/UDTF surface + Q37 approximate distinct.
  *
  * UDFs are a last resort in this engine (they block codegen); they exist
  * here because the declared surface requires demonstrating them. The
  * Jaccard UDF is the same function the MinHash rerank uses.
  */
object UdfOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Q36a — scalar UDF: Jaccard of consecutive documents' token sets.
    "q36_udf_jaccard" -> { (s, dir) =>
      val jac = udf(Udfs.jaccard _)
      val docs = t(s, dir, "documents")
      val a = docs.select(col("doc_id").as("id1"), split(col("text"), " ").as("toks1"))
      val b = docs.select(col("doc_id").as("id2"), split(col("text"), " ").as("toks2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(col("id1"), col("id2"),
          round(jac(col("toks1"), col("toks2")), 6).as("jaccard"))
        .orderBy("id1")
    },

    // Q36b — typed Aggregator (UDAF): priority-weighted mean order price
    // per status. Weight = 6 - priority digit (URGENT=5 … LOW=1).
    "q36_udaf_weighted_mean" -> { (s, dir) =>
      val wm = udaf(Udfs.WeightedMean)
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_totalprice"),
          (lit(6) - substring(col("o_orderpriority"), 1, 1).cast("int")).as("w"))
        .groupBy("o_orderstatus")
        .agg(round(wm(col("o_totalprice"), col("w")), 6).as("wmean"))
        .orderBy("o_orderstatus")
    },

    // Q36c — generator (UDTF-style): posexplode of tokens.
    "q36_posexplode" -> { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "tok")
        .filter(col("tok") =!= "")
        .orderBy("doc_id", "pos")
    },

    // Q37 — approx_count_distinct (HLL++), made a self-checking H row
    // (VERDICT r8 item 4): alongside the exact distinct count the result
    // carries `within_5pct`, the sketch-vs-exact relative-error check the
    // spec asserts, computed IN the query. The HLL++ estimate is
    // deterministic for fixed data, so the row hashes stably, and the
    // DuckDB twin recomputes the exact count and emits `true` — the
    // driver's hash compare now covers the sketch path without needing
    // DuckDB to reproduce the estimate. rsd=0.02 keeps the sketch in
    // sparse (near-exact) mode at test scale while staying a true HLL at
    // 100 TB cardinalities. ±5% bound additionally spec-asserted.
    "q37_approx_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          count_distinct(col("l_partkey")).as("exact_nd_part"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("exact_nd_part"), col("cnt"),
          (abs(col("approx") - col("exact_nd_part")).cast("double") /
            col("exact_nd_part") <= 0.05).as("within_5pct"))
        .orderBy("l_returnflag")
    },

    // Approximate percentile (KLL-style quantile sketch), self-checking
    // like Q37: p50/p95 are computed EXACTLY (percentile_approx with
    // accuracy ≥ n returns the true discrete quantile element — no
    // interpolation, so both engines pick the same stored value), and
    // `within_1pct` checks the bounded-accuracy sketch (accuracy=1000,
    // the at-scale configuration) against them inside the query.
    "q_approx_percentile" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("a50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("a95"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000000)).as("p50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000000)).as("p95"))
        .select(col("l_returnflag"), col("p50"), col("p95"),
          (abs(col("a50") - col("p50")) / col("p50") <= 0.01 &&
            abs(col("a95") - col("p95")) / col("p95") <= 0.01).as("within_1pct"))
        .orderBy("l_returnflag")
    },

    // HLL sketch build + MERGE — the sketch op a 100 TB pipeline actually
    // needs: per-shard sketches are tiny, mergeable, and reusable, so
    // "distinct users per segment AND overall" costs one pass over the
    // data plus a sketch-sized shuffle (vs a full re-shuffle per rollup
    // for exact distinct). Per-status estimates ride the sketch column;
    // the union row re-merges the SAME sketches. Self-checking H row like
    // Q37: the hashed output is the EXACT distinct count (cheap at test
    // scale; at 100 TB the sketch IS the product and this exact twin is
    // the audit query) plus `within_5pct` comparing the sketch estimate
    // to it in-query. Error bound additionally spec-asserted.
    "q_hll_union" -> { (s, dir) =>
      // Materialize the (tiny: one row per status) sketch table to scratch
      // parquet so BOTH consumers — per-status estimates and the merged ALL
      // row — reuse one scan+sketch pass; without it each branch re-plans
      // the full aggregation and the corpus is sketched twice. Scratch
      // beats persist() here: repeated registry invocations in one JVM
      // (Verify + Bench reps) were accumulating never-unpersisted cache
      // entries for the process lifetime; TempDirs sweeps the files.
      val sk = graft.core.Materialize(t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk")), "hll-sk")
      val per = sk.select(col("o_orderstatus"),
        hll_sketch_estimate(col("sk")).as("approx_custs"))
      val union = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_custs"))
        .select(lit("ALL").as("o_orderstatus"), col("approx_custs"))
      val approx = per.union(union)
      // Exact side through one materialized distinct (status, cust)
      // projection: the per-status and ALL branches each scanned orders
      // unbarriered (ReuseProbe r9), and both reduce over this frame.
      // count(col), not count(lit(1)), over the distinct projection: the
      // oracle's count(DISTINCT o_custkey) excludes NULLs but still emits
      // a 0-count row for a group whose keys are all NULL — so NULLs are
      // skipped INSIDE the count rather than filtered before the groupBy,
      // which would drop such a group entirely (ADVICE r9 + r10
      // self-review; o_custkey is non-null in TPC-H data either way).
      val dc = graft.core.Materialize(
        t(s, dir, "orders").select(col("o_orderstatus"), col("o_custkey"))
          .distinct(), "hll-dc")
      val exactPer = dc.groupBy("o_orderstatus")
        .agg(count(col("o_custkey")).as("exact_custs"))
      val exactAll = dc.select(col("o_custkey")).distinct()
        .agg(count(col("o_custkey")).as("exact_custs"))
        .select(lit("ALL").as("o_orderstatus"), col("exact_custs"))
      exactPer.union(exactAll).join(approx, "o_orderstatus")
        .select(col("o_orderstatus"), col("exact_custs"),
          (abs(col("approx_custs") - col("exact_custs")).cast("double") /
            col("exact_custs") <= 0.05).as("within_5pct"))
        .orderBy("o_orderstatus")
    }
  )

  val oracle: Map[String, String] = Map(
    "q36_udf_jaccard" -> """
      WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
      ORDER BY id1""",

    "q36_udaf_weighted_mean" -> """
      SELECT o_orderstatus,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))
                            * (6 - CAST(substring(o_orderpriority, 1, 1) AS INT))) AS DOUBLE)
                   / sum(6 - CAST(substring(o_orderpriority, 1, 1) AS INT)), 6) AS wmean
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q36_posexplode" -> """
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, string_split(text, ' ')[i] AS tok
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, len(string_split(text, ' ')))) AS i) u
      WHERE doc_id < 20 AND string_split(text, ' ')[i] <> ''
      ORDER BY doc_id, pos""",

    // Self-checking sketch twins: DuckDB recomputes the EXACT side and
    // asserts `true` for the in-query tolerance check — any sketch drift
    // past tolerance (or exact-side bug) hash-mismatches.
    "q37_approx_distinct" -> """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS exact_nd_part,
             CAST(count(*) AS BIGINT) AS cnt,
             true AS within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_approx_percentile" -> """
      SELECT l_returnflag,
             quantile_disc(l_extendedprice, 0.5) AS p50,
             quantile_disc(l_extendedprice, 0.95) AS p95,
             true AS within_1pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_hll_union" -> """
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_custs,
             true AS within_5pct
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ALL', count(DISTINCT o_custkey), true FROM orders
      ORDER BY o_orderstatus"""
  )
}
