package graft

import org.apache.spark.sql.functions._
import graft.tools.ReuseProbe

/** Pins the object-walk plan audit (VERDICT r12 item 5): the probe that
  * gates corpus-scan budgets must itself be proven against one
  * known-reused and one known-not-reused shape — round 12 showed how
  * quietly a plan probe can go blind (it had been reading un-executed
  * initial plans for three rounds). String-format drift in a Spark
  * upgrade now breaks these assertions instead of silently zeroing the
  * audit. */
class ReuseProbeSpec extends SparkSpec {

  test("known-not-reused shape: one corpus scan, zero reuse markers") {
    val df = spark.read.parquet(s"$sf/region.parquet")
      .filter(col("r_regionkey") >= 0)
      .select(col("r_name"))
    val a = ReuseProbe.audit(df)
    assert(a.corpus == 1, s"testdata read must classify as corpus: $a")
    assert(a.scratch == 0, s"no scratch reads in this plan: $a")
    assert(a.reusedStages == 0 && a.reusedNodes == 0,
      s"single-branch scan-filter-project cannot reuse anything: $a")
  }

  test("the simhash-fp barrier reads the corpus once") {
    graft.GraftExtensions.ensureRegistered(spark)
    graft.core.Tables.t(spark, sf, "documents").createOrReplaceTempView("documents")
    val a = ReuseProbe.audit(spark.sql(graft.queries.SimhashSql.fpSql))
    assert(a.corpus == 1, s"fingerprints and block keys come from one scan: $a")
  }

  test("self-union of an aggregate: AQE runtime stage reuse is detected") {
    val dir = graft.core.TempDirs.create("graft-reuseprobe-spec")
    import spark.implicits._
    (1 to 400).map(i => (i % 7, i.toLong)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val agg = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("k").agg(sum("v").as("s"))
    // Two canonically-identical shuffle exchanges: AQE's stage cache
    // must serve the second branch from the first (as a duplicate stage
    // reference or a ReusedExchange marker — either counts).
    val a = ReuseProbe.audit(agg.union(agg))
    assert(a.corpus == 0, s"temp-dir reads must classify as scratch: $a")
    assert(a.scratch >= 1, s"the union reads the scratch parquet: $a")
    assert(a.reusedStages + a.reusedNodes > 0,
      s"identical agg branches must show runtime reuse: $a")
  }
}
