package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.MinHash

/** Native graft_minhash: the universal-hash minima of a plain-Scala
  * reference on both eval paths, NULL when no hash is there to take a
  * minimum of, and a seed that must be a constant. */
class MinHashExprSpec extends SparkSpec {
  import spark.implicits._

  /** Value i = min over the non-NULL h of ((h mod P)·a_i + b_i) mod P, in
    * exact BigInt arithmetic, with (a_i, b_i) drawn in order from the
    * seed's Rng stream. None when there is no such h. */
  private def reference(hs: Seq[Option[Long]], seed: Long): Option[Seq[Long]] = {
    val p = BigInt(MinHash.Prime)
    val rng = new graft.core.Rng(seed)
    val coeffs = Seq.fill(MinHash.NumHashes) {
      val a = (rng.nextLong() & Long.MaxValue) % MinHash.Prime | 1L
      (a, (rng.nextLong() & Long.MaxValue) % MinHash.Prime)
    }
    val present = hs.flatten
    if (present.isEmpty) None
    else Some(coeffs.map { case (a, b) =>
      present.map(h => ((BigInt(h).mod(p) * a + b) mod p).toLong).min })
  }

  private val inputs: Seq[Seq[Option[Long]]] = Seq(
    Seq(Some(Long.MinValue), Some(-1L), Some(0L), Some(Long.MaxValue), Some(12345L)),
    Seq(Some(7L), None, Some(MinHash.Prime), Some(-MinHash.Prime - 3L)),
    (1 to 200).map(i => Some(i * 0x9E3779B97F4A7C15L)),
    Seq(None, None),
    Seq.empty)

  test("matches the plain-Scala reference on both eval paths, NULL without hashes") {
    GraftExtensions.ensureRegistered(spark)
    val df = inputs.zipWithIndex.map { case (hs, i) => (i, hs) }.toDF("id", "hs")
    def signed(in: DataFrame) = in.select(col("id"),
        call_function("graft_minhash", col("hs")).as("d"),
        call_function("graft_minhash", col("hs"), lit(7L)).as("s7"))
      .orderBy("id").collect()
    val dir = graft.core.TempDirs.create("graft-minhash-expr")
    df.write.mode("overwrite").parquet(dir)
    // Interpreted (local relation) and generated (parquet scan) paths.
    Seq(signed(df), signed(spark.read.parquet(dir))).foreach { rows =>
      rows.foreach { r =>
        val hs = inputs(r.getInt(0))
        Seq((1, MinHash.DefaultSeed), (2, 7L)).foreach { case (c, seed) =>
          val got = Option(r.getSeq[Long](c)).map(_.toSeq)
          assert(got == reference(hs, seed), s"input ${r.getInt(0)} seed $seed")
        }
      }
    }
  }

  test("a seed that is not a constant fails analysis") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq((Seq(1L, 2L), 3L)).toDF("hs", "seed")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_minhash", col("hs"), col("seed"))).collect()
    }
    assert(e.getMessage.contains("constant bigint seed"), e.getMessage)
  }
}
