package graft

import org.apache.spark.sql.functions._

/** Native DotProduct expression: ragged-input hardening (round 17,
  * VERDICT r16 item 6). The HOF spelling graft_dot replaced returned NULL
  * when the arrays differ in length (zip_with pads with nulls → null
  * sum); the first native cut truncated to min(length) and returned a
  * plausible PARTIAL sum — a silent wrong-answer path for malformed
  * embeddings. Equal-length behavior must stay bit-identical to the fold. */
class DotExprSpec extends SparkSpec {
  import spark.implicits._

  test("equal-length dot matches the fold spelling to the last ulp") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -0.25, 0.125, 8.0), Array(1.0, 1.0, 1.0, 1.0)),
      (Array(1e-8, 1e8, -3.5), Array(1e8, 1e-8, 2.0))).toDF("a", "b")
    val fold = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), _ + _)
        .as("d")).collect().map(_.getDouble(0))
    val native = df.select(call_function("graft_dot", col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0))
    fold.zip(native).foreach { case (f, n) => assert(f == n, s"$f != $n") }
  }

  test("length-mismatched arrays yield null, like the padded fold did") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0)),
      (Array(1.0), Array.empty[Double]),
      (Array.empty[Double], Array(2.0, 3.0))).toDF("a", "b")
    val rows = df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    rows.foreach(r => assert(r.isNullAt(0), s"expected null, got ${r.get(0)}"))
    // ... and equal-length empty arrays are a real 0.0, not null.
    val empty = Seq((Array.empty[Double], Array.empty[Double])).toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b"))).collect()
    assert(!empty.head.isNullAt(0) && empty.head.getDouble(0) == 0.0)
  }

  test("null input yields null") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]])).toDF("a", "b")
    val r = df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("ragged null survives the codegen path (parquet-scan rooted)") {
    GraftExtensions.ensureRegistered(spark)
    // A parquet round-trip keeps the projection in a codegen'd physical
    // plan (a local relation constant-folds before codegen ever runs), so
    // this exercises doGenCode's isNull branch, not just nullSafeEval.
    val dir = graft.core.TempDirs.create("graft-dotspec")
    Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0)),
        (Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(call_function("graft_dot", col("a"), col("b")).as("d"),
        size(col("a")).as("na"))
      .orderBy("na").collect()
    assert(!got(0).isNullAt(0) && got(0).getDouble(0) == 11.0) // 1·3 + 2·4
    assert(got(1).isNullAt(0))
  }

  test("a null element in either array yields null on both eval paths") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(
      (1, Seq(Some(1.0), None, Some(3.0)), Seq(Some(4.0), Some(5.0), Some(6.0))),
      (2, Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), None)),
      (3, Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0)))).toDF("id", "a", "b")
    def dots(in: org.apache.spark.sql.DataFrame) =
      in.select(call_function("graft_dot", col("a"), col("b")).as("d"), col("id"))
        .orderBy("id").collect()
    // Interpreted: a local relation constant-folds through nullSafeEval.
    val local = dots(df)
    // Codegen: a parquet-rooted projection runs doGenCode's loop.
    val dir = graft.core.TempDirs.create("graft-dotspec-nullelem")
    df.write.mode("overwrite").parquet(dir)
    val scanned = dots(spark.read.parquet(dir))
    Seq(local, scanned).foreach { got =>
      assert(got(0).isNullAt(0), s"null in a: got ${got(0).get(0)}")
      assert(got(1).isNullAt(0), s"null in b: got ${got(1).get(0)}")
      assert(!got(2).isNullAt(0) && got(2).getDouble(0) == 11.0) // 1·3 + 2·4
    }
  }

  test("non-array input fails analysis with the type-check message") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq((1.0, Array(1.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("graft_dot") ||
      e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }
}
