package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.dedup.MinHashDedup

/** Property test for the hub-salted rerank: over GENERATED candidate
  * pairs and per-document hash arrays (not just the crafted hub fixture),
  * the salted intersection counts must be row-for-row identical to the
  * unsalted ones for every cap — salting may only move rows between
  * tasks, never change them. Raw scalacheck Gen with fixed seeds, like
  * TunerPropertySpec. */
class MinHashRerankPropertySpec extends SparkSpec {

  private case class Fixture(pairs: Seq[(Long, Long)], hs: Seq[(Long, Seq[Long])])

  private val fixtureGen: Gen[Fixture] = for {
    nDocs <- Gen.choose(5, 40)
    nPairs <- Gen.choose(1, 120)
    // b = (a + delta) mod nDocs with delta >= 1 guarantees a != b without
    // a Gen filter: a filtered Gen can evaluate to None and silently
    // shrink the sample set below the advertised count, and the size
    // assertion below holds the count.
    pairs <- Gen.listOfN(nPairs, for {
      a <- Gen.choose(0L, nDocs - 1L)
      delta <- Gen.choose(1L, nDocs - 1L)
      b = (a + delta) % nDocs
    } yield (math.min(a, b), math.max(a, b)))
    hs <- Gen.sequence[Seq[(Long, Seq[Long])], (Long, Seq[Long])](
      (0L until nDocs).map(d =>
        Gen.choose(1, 12).flatMap(k =>
          Gen.listOfN(k, Gen.choose(0L, 30L)).map(h => (d, h.distinct)))))
  } yield Fixture(pairs.distinct, hs)

  private def samples(n: Int): Seq[Fixture] =
    (0 until n).flatMap(i => fixtureGen(Gen.Parameters.default, Seed(1234L + i)))

  test("salted intersection counts are identical to unsalted for arbitrary inputs and caps") {
    import spark.implicits._
    val fixtures = samples(5)
    assert(fixtures.size == 5,
      s"generator must yield every requested sample (got ${fixtures.size}/5)")
    fixtures.zipWithIndex.foreach { case (f, i) =>
      val cands = f.pairs.toDF("id1", "id2")
      val sigs = f.hs.map { case (d, h) => (d, h.size.toLong, h.toArray) }
        .toDF("doc_id", "n_toks", "hs")
      def counts(cap: Int) =
        MinHashDedup.intersections(cands, f.pairs.size.toLong, sigs, maxFanout = cap)
          .select("id1", "id2", "inter")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val reference = counts(Int.MaxValue)
      // The reference is the plain-Scala intersection, not another run.
      val byDoc = f.hs.toMap
      assert(reference == f.pairs.map { case (a, b) =>
        (a, b, byDoc(a).intersect(byDoc(b)).size) }.toSet,
        s"sample $i: unsalted counts differ from the plain-Scala intersections")
      Seq(1, 3, 50).foreach { cap =>
        val salted = counts(cap)
        assert(salted == reference,
          s"sample $i cap $cap: salted counts diverged " +
            s"(${salted.diff(reference).size} extra, ${reference.diff(salted).size} missing)")
      }
    }
  }
}
