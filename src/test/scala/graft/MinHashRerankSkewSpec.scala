package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import graft.dedup.MinHashDedup

/** Hub-doc hardening for the exact rerank: a doc appearing in thousands of
  * candidate pairs would concentrate all of its pair rows, each carrying
  * its shingle array, in the one task owning its id1 hash. The salted
  * rerank replicates only a hub doc's one signature row and spreads its
  * pairs by hash(id2), so per-(id1, salt) cell membership is bounded
  * while the intersection counts stay row-for-row identical. Below the
  * cap no doc can be a hub, and the plan carries no fan-out aggregate. */
class MinHashRerankSkewSpec extends SparkSpec {

  private val HubPairs = 200
  private val Cap = 50

  /** Hub fixture built directly at the rerank interface: doc 0 is a
    * candidate of 200 docs; a handful of disjoint cold pairs ride along.
    * Every doc's hash array is given, with doc 0 sharing a known overlap
    * with each partner so the expected counts are closed-form. */
  private lazy val (cands, sigs) = {
    import spark.implicits._
    val hub = (1 to HubPairs).map(i => (0L, i.toLong))
    val cold = Seq((500L, 501L), (502L, 503L), (504L, 505L))
    val c = (hub ++ cold).toDF("id1", "id2")
    // doc 0: hashes 0..9. Partner i: hashes 0..4 plus 5 private ones —
    // every hub pair intersects in exactly 5 hashes. Cold docs: pairs
    // (k, k+1) share hashes {k*100..k*100+2} → intersection 3.
    val hubHs = (0L, (0L until 10L).toSeq) +:
      (1 to HubPairs).map(i =>
        (i.toLong, (0L until 5L) ++ (0L until 5L).map(p => 1000L + i * 10 + p)))
    val coldHs = Seq(500L, 502L, 504L).flatMap { k =>
      val shared = (0L until 3L).map(h => k * 100 + h)
      Seq((k, shared), (k + 1, shared))
    }
    (c, (hubHs ++ coldHs).map { case (d, hs) => (d, hs.size.toLong, hs.toArray) }
      .toDF("doc_id", "n_toks", "hs"))
  }

  private lazy val nCands = cands.count()

  private def intersections(cap: Int) =
    MinHashDedup.intersections(cands, nCands, sigs, maxFanout = cap)

  /** Aggregates in `df`'s executed plan; call after `df` has run. */
  private def aggregates(df: DataFrame) =
    graft.tools.ReuseProbe.nodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec => a
    }

  test("hub fan-out table holds exactly the over-cap doc, broadcast-small") {
    val hubs = MinHashDedup.hubFanouts(cands, Cap).collect()
    assert(hubs.length == 1, s"expected 1 hub, got ${hubs.length}")
    assert(hubs.head.getLong(0) == 0L)
    assert(hubs.head.getInt(1) == 4, s"gs = ${hubs.head.getInt(1)} != ceil(200/50)")
  }

  test("salting bounds per-(id1, salt) cell membership on the hub") {
    val hubs = MinHashDedup.hubFanouts(cands, Cap)
    val maxCell = MinHashDedup.saltedPairs(cands, hubs)
      .groupBy("id1", "salt").count().agg(max("count")).head().getLong(0)
    // Hash salting is uneven on 200 keys; ~cap-bounded is the point, not
    // 200 pairs in one task.
    assert(maxCell <= (Cap * 2.5).toLong,
      s"max rerank cell $maxCell exceeds ${(Cap * 2.5).toLong} — salting not bounding tasks")
  }

  test("salted intersection counts are IDENTICAL to the unsalted ones") {
    val salted = intersections(Cap)
    val unsalted = intersections(Int.MaxValue)
    assert(salted.exceptAll(unsalted).count() == 0, "salting added/changed counts")
    assert(unsalted.exceptAll(salted).count() == 0, "salting lost counts")
    // Closed-form: every hub pair intersects in exactly 5 hashes, colds in 3.
    val rows = salted.select("id1", "id2", "inter").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows.size == HubPairs + 3)
    assert((1 to HubPairs).forall(i => rows((0L, i.toLong)) == 5))
    assert(Seq(500L, 502L, 504L).forall(k => rows((k, k + 1)) == 3))
  }

  test("a candidate count over the cap runs the salted branch and its fan-out aggregate") {
    assert(nCands > Cap)
    val salted = intersections(Cap)
    assert(salted.collect().length == HubPairs + 3)
    assert(aggregates(salted).nonEmpty,
      s"no hub fan-out aggregate in:\n${salted.queryExecution.executedPlan}")
  }

  test("a candidate count at or below the cap plans no hub aggregate") {
    Seq(nCands.toInt, Int.MaxValue).foreach { cap =>
      val plain = intersections(cap)
      assert(plain.collect().length == HubPairs + 3)
      assert(aggregates(plain).isEmpty,
        s"cap $cap: aggregate in:\n${plain.queryExecution.executedPlan}")
    }
  }
}
