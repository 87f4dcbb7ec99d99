package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** A Materialize barrier reads back with the schema it wrote instead of
  * inferring it. That is only meaning-preserving while a parquet
  * round-trip infers exactly the written schema, which this spec pins
  * for the types the registry's barriers carry. */
class MaterializeSpec extends SparkSpec {
  private def frame = spark.range(3).select(
    col("id"), // non-null BIGINT
    timestamp_micros(col("id") * 1000000L).as("ts"),
    timestamp_micros(col("id") * 1000000L).cast("timestamp_ntz").as("ts_ntz"),
    (col("id") / 7).cast("decimal(18,4)").as("amount"),
    array(col("id").cast("float"), lit(0.5f)).as("vec"),
    map(col("id").cast("string"), col("id").cast("double")).as("props"),
    struct(col("id").as("k"), lit("v").as("s")).as("rec"),
    lit(1).as("one")) // non-null literal INT

  test("read-back schema equals the inferred schema of the written files") {
    val df = frame
    assert(!df.schema("id").nullable && !df.schema("one").nullable)
    val m = Materialize(df, "spec")
    val dir = new Path(m.inputFiles.head).getParent.toString
    val inferred = spark.read.parquet(dir).schema
    assert(m.schema == inferred, s"${m.schema.toDDL} != ${inferred.toDDL}")
    assert(m.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("the barrier runs its write job and no inference job") {
    val (_, jobs) = JobCount(spark)(Materialize(frame, "spec-jobs"))
    assert(jobs == 1, s"$jobs jobs, expected the write alone")
  }

  test("observed: the metric equals a recount and rides the write job") {
    val df = frame.filter(col("id") > 0)
    val dir = graft.core.TempDirs.create("graft-mat-observed")
    val ((back, n), jobs) = JobCount(spark)(
      Materialize.observed[Long](df, dir, count(lit(1))))
    assert(jobs == 1, s"$jobs jobs, expected the write alone")
    assert(n == df.count())
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.count() == n)
  }

  test("iterate: steps until converged or the cap, keeps only the last snapshot") {
    def run(maxIters: Int, stopAt: Long) =
      Materialize.iterate[Long](spark.range(1).select(lit(1L).as("x")),
          "spec", maxIters) { st =>
        val next = st.select((col("x") * 2).as("x"))
        (next, max(col("x")))
      }(_ >= stopAt)
    val (st, iters, v) = run(10, 8L)
    assert((iters, v) == (3, 8L))
    assert(st.head().getLong(0) == 8L)
    val scratch = new java.io.File(new Path(st.inputFiles.head).toUri).getParentFile.getParentFile
    assert(scratch.list().toSeq == Seq("iter=3"), "consumed snapshots are deleted")
    assert(run(2, 8L)._2 == 2, "maxIters caps the loop")
    assert(run(10, 0L)._2 == 1, "one step runs even when already converged")
  }
}
