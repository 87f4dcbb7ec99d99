package graft

import org.apache.spark.sql.functions._
import graft.dedup.MinHashDedup

/** Planted-skew hardening for the LSH bucket self-join: one (lang, source)
  * block holding a degenerate hot bucket — half the corpus sharing every
  * band signature — must not concentrate B²/2 pair generation in one
  * task. The salted triangle
  * split bounds per-cell membership while producing the IDENTICAL pair
  * set (recall unchanged by construction, asserted as set equality). */
class MinHashSkewSpec extends SparkSpec {

  private val HotDocs = 200
  private val Cap = 50

  /** Hot block: 200 docs with the SAME token set (identical minhash
    * signatures → every band bucket holds all 200). Cold blocks: unique
    * texts plus a couple of planted near-dup pairs. */
  private lazy val docs = {
    import spark.implicits._
    val hot = (0 until HotDocs).map(i =>
      (i.toLong, "en", "hot", "alpha beta gamma delta epsilon zeta eta theta"))
    val cold = (0 until 100).map(i =>
      (1000L + i, if (i % 2 == 0) "en" else "de", "web",
        s"unique document number $i with filler tokens x$i y$i z$i"))
    val nearDups = Seq(
      (2000L, "en", "web", "the quick brown fox jumps over the lazy dog"),
      (2001L, "en", "web", "the quick brown fox jumps over the lazy cat"))
    (hot ++ cold ++ nearDups).toDF("doc_id", "lang", "source", "text")
  }

  private lazy val bands =
    MinHashDedup.bandSignatures(MinHashDedup.signatures(docs))

  test("fixture really is skewed: hot buckets hold half the corpus") {
    val maxBucket = bands.groupBy("lang", "source", "band", "sig")
      .count().agg(max("count")).head().getLong(0)
    assert(maxBucket == HotDocs, s"hot bucket size $maxBucket != $HotDocs")
  }

  test("capped pair set is IDENTICAL to the uncapped one (recall unchanged)") {
    val capped = MinHashDedup.candidatePairs(bands, maxBucket = Cap)
    val uncapped = MinHashDedup.candidatePairs(bands, maxBucket = Int.MaxValue)
    // The hot bucket alone contributes C(200,2) pairs; both paths must
    // agree exactly, both directions.
    assert(capped.count() == uncapped.count())
    assert(capped.exceptAll(uncapped).count() == 0, "capped emitted extra pairs")
    assert(uncapped.exceptAll(capped).count() == 0, "capped lost pairs")
    assert(uncapped.count() >= HotDocs.toLong * (HotDocs - 1) / 2)
  }

  test("salting bounds per-cell membership on the hot bucket") {
    val salted = MinHashDedup.saltedCells(bands, Cap)
    // Hot buckets split g = ceil(200/50) = 4 ways; cold buckets stay g=1.
    val gs = salted.select("g").distinct().collect().map(_.getInt(0)).toSet
    assert(gs.contains(4) && gs.contains(1), s"expected split factors {1,4}, got $gs")
    // Per-task join input for cell (i,j) is |salt group i| + |salt group j|.
    // Hash salting is uneven on 200 keys, so allow 2.5x headroom over the
    // ideal cap — the point is ~cap-bounded, not 200 in one task.
    val maxGroup = salted.groupBy("lang", "source", "band", "sig", "salt")
      .count().agg(max("count")).head().getLong(0)
    assert(maxGroup <= (Cap * 2.5).toLong,
      s"max salt-group size $maxGroup exceeds ${(Cap * 2.5).toLong} — salting not bounding tasks")
    // And the planted cross-block near-dup still comes through the full
    // capped pipeline at full similarity.
    val pairs = MinHashDedup.candidatePairs(bands, maxBucket = Cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2000L, 2001L)), "planted cold near-dup lost")
  }
}
