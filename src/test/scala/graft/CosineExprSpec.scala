package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import graft.GraftExtensions

/** Native CosineSimilarity expression: value parity with the HOF-fold
  * spelling, null handling, and codegen participation. */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  test("matches the fold-based cosine to the last ulp") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -0.25, 0.125, 8.0), Array(1.0, 1.0, 1.0, 1.0)),
      (Array(1e-8, 1e8), Array(1e8, 1e-8))).toDF("a", "b")
    val fold = df.select(
      (aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), _ + _) /
        (sqrt(aggregate(zip_with(col("a"), col("a"), (x, y) => x * y), lit(0.0), _ + _)) *
         sqrt(aggregate(zip_with(col("b"), col("b"), (x, y) => x * y), lit(0.0), _ + _))))
        .as("c")).collect().map(_.getDouble(0))
    val native = df.select(call_function("graft_cosine", col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    fold.zip(native).foreach { case (f, n) => assert(f == n, s"$f != $n") }
  }

  test("null input yields null") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]])).toDF("a", "b")
    val r = df.select(call_function("graft_cosine", col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("expression participates in whole-stage codegen") {
    GraftExtensions.ensureRegistered(spark)
    // A parquet scan keeps the projection in the physical plan (a local
    // relation is constant-folded before codegen ever runs).
    val emb = graft.core.Tables.t(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("a"))
    val df = emb.select(call_function("graft_cosine", col("a"), col("a")).as("c"))
    val hasWsc = df.queryExecution.executedPlan.exists {
      case _: WholeStageCodegenExec => true
      case _ => false
    }
    assert(hasWsc, s"no WholeStageCodegen in:\n${df.queryExecution.executedPlan}")
  }

  test("sql-registered via extensions class works through spark.sql") {
    GraftExtensions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").collect()
    assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-12)
  }

  test("length mismatch or a null element yields null on both eval paths") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(
      (1, Seq(Some(1.0), None, Some(3.0)), Seq(Some(4.0), Some(5.0), Some(6.0))),
      (2, Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), None)),
      (3, Seq(Some(1.0), Some(2.0), Some(3.0)), Seq(Some(4.0), Some(5.0))),
      (4, Seq(Some(1.0)), Seq.empty[Option[Double]]),
      (5, Seq(Some(3.0), Some(4.0)), Seq(Some(3.0), Some(4.0)))).toDF("id", "a", "b")
    def cosines(in: org.apache.spark.sql.DataFrame) =
      in.select(call_function("graft_cosine", col("a"), col("b")).as("c"), col("id"))
        .orderBy("id").collect()
    // Interpreted: a local relation constant-folds through nullSafeEval.
    val local = cosines(df)
    // Codegen: a parquet-rooted projection runs doGenCode's loop.
    val dir = graft.core.TempDirs.create("graft-cosspec-null")
    df.write.mode("overwrite").parquet(dir)
    val scanned = cosines(spark.read.parquet(dir))
    Seq(local, scanned).foreach { got =>
      (0 until 4).foreach(i =>
        assert(got(i).isNullAt(0), s"row ${i + 1}: expected null, got ${got(i).get(0)}"))
      assert(!got(4).isNullAt(0) && got(4).getDouble(0) == 25.0 / (5.0 * 5.0))
    }
  }

  test("array<float> input fails analysis naming both argument types") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f), Array(1.0, 2.0)))
      .toDF("f1", "f2", "d")
    Seq(("f1", "f2", "array<float> and array<float>"),
        ("f1", "d", "array<float> and array<double>")).foreach { case (a, b, types) =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(call_function("graft_cosine", col(a), col(b))).collect()
      }
      assert(e.getMessage.contains(s"graft_cosine requires two array<double> " +
        s"arguments, got $types"), e.getMessage)
    }
  }
}
