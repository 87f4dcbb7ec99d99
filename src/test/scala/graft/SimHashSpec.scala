package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import graft.tools.ReuseProbe

/** `graft_simhash` against the 48-`sum` spelling it replaced: the per-bit
  * vote sums and the 48-term `CASE` sum, kept here as the reference. Both
  * read the same `(doc_id, v)` rows, so any difference is the aggregate's. */
class SimHashSpec extends SparkSpec {

  private val referenceVotes: String = (0 until 48).map { b =>
    val sh = 4 * (11 - b / 4) + (b % 4)
    s"sum(2 * (shiftright(v, $sh) % 2) - 1) AS v$b"
  }.mkString(",\n")
  private val referenceFromVotes: String = (0 until 48)
    .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b}L ELSE 0L END")
    .mkString("\n + ")

  /** Both spellings over `occ(doc_id, v)`: (reference, graft_simhash). */
  private def both(occ: DataFrame): (DataFrame, DataFrame) = {
    GraftExtensions.ensureRegistered(spark)
    occ.createOrReplaceTempView("simhash_occ")
    val ref = spark.sql(s"""
      SELECT doc_id, $referenceFromVotes AS simhash FROM (
        SELECT doc_id, $referenceVotes FROM simhash_occ GROUP BY doc_id)""")
    val got = spark.sql(
      "SELECT doc_id, graft_simhash(v) AS simhash FROM simhash_occ GROUP BY doc_id")
    (ref, got)
  }

  private def assertSameRows(ref: DataFrame, got: DataFrame): Unit = {
    assert(ref.exceptAll(got).count() == 0, "reference rows missing from graft_simhash")
    assert(got.exceptAll(ref).count() == 0, "graft_simhash rows missing from reference")
    assert(got.count() == ref.count())
  }

  /** The registry's token hashes: one row per non-empty token occurrence. */
  private def fixtureOcc: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("bigint").as("v"))

  test("fixture documents: graft_simhash equals the 48-sum spelling both ways") {
    val (ref, got) = both(fixtureOcc)
    assert(got.count() > 0)
    assertSameRows(ref, got)
  }

  test("planted cases: ties give 0, one token gives its bits, NULLs are skipped") {
    import spark.implicits._
    val all48 = (1L << 48) - 1
    val occ = Seq[(Long, Option[Long])](
      // Bit 0 reads hash bit 44: these two tokens tie on it and agree on
      // every other bit, so only bit 0 is cleared.
      (1L, Some(all48)), (1L, Some(all48 - (1L << 44))),
      // One token: bit b of the fingerprint is hash bit s_b.
      (2L, Some(1L << 44)),
      (3L, Some(1L << 47)),
      // A NULL hash casts no vote.
      (4L, Some(1L << 44)), (4L, None),
      // Only NULLs: no vote is > 0.
      (5L, None), (5L, None)
    ).toDF("doc_id", "v")
    val (ref, got) = both(occ)
    assertSameRows(ref, got)
    assert(got.as[(Long, Long)].collect().toMap == Map(
      1L -> (all48 - 1L), 2L -> 1L, 3L -> 8L, 4L -> 1L, 5L -> 0L))
  }

  test("partitioning of the input does not change the fingerprints") {
    val (ref, _) = both(fixtureOcc)
    Seq(1, 7).foreach { n =>
      val (_, got) = both(fixtureOcc.repartition(n))
      assertSameRows(ref, got)
    }
  }

  test("a non-BIGINT argument is an analysis error") {
    GraftExtensions.ensureRegistered(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_simhash('a')").collect())
    assert(e.getMessage.contains("graft_simhash expects a BIGINT argument"))
  }

  test("q_simhash runs one aggregate function per aggregate node") {
    val df = SparkEntry.queries("q_simhash")(spark, sf)
    df.queryExecution.toRdd.count()
    val aggs = ReuseProbe.nodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec => a
    }
    assert(aggs.nonEmpty, "q_simhash has no aggregate node")
    aggs.foreach { a =>
      assert(a.aggregateExpressions.map(_.aggregateFunction.prettyName) == Seq("graft_simhash"),
        s"aggregate node ${a.nodeName} runs ${a.aggregateExpressions.size} functions")
    }
  }
}
