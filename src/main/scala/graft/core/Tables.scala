package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders + result-canonicalization helpers shared by every query.
  *
  * Canonicalization rules (SURVEY.md §2B determinism canon): monetary /
  * double aggregates are computed over exact DECIMAL(18,4) casts so the sum
  * is order-independent (a plain double sum differs between Spark's partial
  * aggregation tree and DuckDB's sequential sum); the final value is rounded
  * and cast back to double. Every query ends in a total ORDER BY with a
  * unique tie-break key. Timestamps leave the engine as UTC-formatted
  * strings.
  */
object Tables {

  /** Declared layout of the nine fixed-layout fixture tables (FIXTURES.md
    * §B), column order and nullability as `spark.read.parquet` infers
    * them under the session factory's conf. Reading with a declared schema
    * skips the footer-inference job a schema-less read runs per table;
    * TablesSchemaSpec compares each entry with the inferred schema of
    * every fixture dir, so a regenerated layout fails there instead of
    * reading NULLs here. `events` is absent: see [[t]]. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (n, ddl) => n -> StructType.fromDDL(ddl) }

  /** Load one fixture table (TESTDATA.md layout): `events` with
    * schema inference, every other table with its [[schemas]] entry.
    *
    * `events.parquet` has had three on-disk layouts:
    * TIMESTAMP(NANOS) (readable only as a nanos long), TIMESTAMP(µs)
    * without the UTC flag (read as TIMESTAMP_NTZ under Spark's default
    * NTZ inference), and ScaleData's UTC-flagged TIMESTAMP(µs). So it
    * keeps inference, and all three normalize to the same µs-precision
    * TIMESTAMP — the type DuckDB also derives — so every downstream query
    * and oracle sees identical values.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Left set for the session, never restored after the load: the
      // conf is consulted again task-side when the scan executes (the
      // Parquet reader's schema conversion reads a hadoopConf snapshot
      // taken at physical planning, not at load), so a load-then-restore
      // would break the deferred events read.
      // Session-wide effect: any OTHER table with a TIMESTAMP(NANOS)
      // column read after this call comes back as LongType — no current
      // fixture table has one (only events ever shipped nanos), and
      // normEventTs branches on the read dtype so every events layout
      // still normalizes identically regardless of load order.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** Normalize an `events.ts` column of any on-disk layout to TIMESTAMP
    * (µs, session-TZ = UTC everywhere in this project, so the NTZ cast is
    * value-preserving). */
  def normEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Exact decimal view of a double column — makes aggregation
    * order-independent and engine-portable. */
  def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** Canonical money output: round(2) then back to double. Apply AFTER the
    * decimal aggregate. */
  def money(c: Column): Column = round(c, 2).cast("double")

  /** Canonical mean: exact decimal sum cast to double, divided by count,
    * rounded to 6 dp. IEEE double division is deterministic across engines;
    * the decimal sum removes aggregation-order dependence. */
  def avg6(sumDec: Column, cnt: Column): Column =
    round(sumDec.cast("double") / cnt, 6)

  /** Canonical UTC timestamp rendering for result sets. */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
}
