package graft

import org.apache.spark.sql.functions.{col, lit, pmod}
import graft.core.Tables
import graft.dedup.MinHashDedup
import graft.queries.TextOps

/** Q43 gate: MinHash-LSH candidate recall vs the exact Q31 Jaccard pairs
  * (SURVEY.md §2B — recall ≥ 0.9 on sf0.001; band shape 32×2 should give
  * ~1.0). Precision is 1.0 by construction (exact rerank). */
class MinHashDedupSpec extends SparkSpec {

  test("minhash-lsh finds >=90% of exact jaccard>=0.5 pairs, no false positives") {
    val exact = TextOps.queries("q31_jaccard_pairs")(spark, sf)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = MinHashDedup.query(spark, sf)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact pair set must not be empty for a meaningful recall check")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9 (missed ${(exact diff approx).size})")
    // Rerank keeps only true pairs, and blocking matches Q31's: no extras.
    assert((approx diff exact).isEmpty, s"unexpected pairs: ${(approx diff exact).take(5)}")
  }

  test("signatures are deterministic across runs") {
    val docs = Tables.t(spark, sf, "documents").limit(50)
    val a = MinHashDedup.signatures(docs).orderBy("doc_id").collect()
    val b = MinHashDedup.signatures(docs).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("persisted index: pairsFromIndex answers without re-signing and survives a fresh session") {
    val docs = Tables.t(spark, sf, "documents")
    val idx = graft.core.TempDirs.create("graft-minhash-idx")
    MinHashDedup.buildIndex(docs, idx)
    val fromIdx = MinHashDedup.pairsFromIndex(spark, idx)
    // Plan-level no-refit proof: the rerank reads the persisted signature
    // rows, and signing (the graft_minhash kernel over the shingle split)
    // happens only in buildIndex, so the index-read plan holds neither
    // (no corpus scan at all).
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.contains(idx), s"pairs plan must scan the index dir:\n${plan.take(2000)}")
    assert(!plan.contains("graft_minhash"), "signing leaked into the index-read path")
    assert(!plan.contains("split("), "corpus re-tokenization leaked into the index-read path")
    val a = fromIdx.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = MinHashDedup.nearDuplicates(docs)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "index-served pairs must equal the one-shot pipeline")
    // Fresh session, same store: the index is plain parquet on disk, and
    // pairsFromIndex no longer needs the corpus at all.
    val s2 = spark.newSession()
    val c = MinHashDedup.pairsFromIndex(s2, idx)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c == b, "fresh-session pairs from the persisted index must agree")
  }

  test("appendToIndex surfaces new-vs-old near-dup pairs without re-reading the corpus") {
    val docs = Tables.t(spark, sf, "documents")
    val idx = graft.core.TempDirs.create("graft-minhash-append")
    MinHashDedup.buildIndex(docs, idx)
    val before = MinHashDedup.pairsFromIndex(spark, idx)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Append an exact copy of doc 0's text under a fresh id: the next
    // index query must pair it with doc 0 at jaccard 1.0.
    val d0 = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .collect().head
    val dup = spark.createDataFrame(Seq(
      (99999L, d0.getAs[String]("text"), d0.getAs[String]("lang"), d0.getAs[String]("source"))))
      .toDF("doc_id", "text", "lang", "source")
    MinHashDedup.appendToIndex(dup, idx)
    val after = MinHashDedup.pairsFromIndex(spark, idx)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.contains((0L, 99999L)), s"appended duplicate not paired: ${after diff before}")
    assert(before.subsetOf(after), "append must not lose existing pairs")
  }

  test("after k appends pairsFromIndex equals a fresh build and the exact Jaccard") {
    import spark.implicits._
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "lang", "source", "text")
    // Planted near-duplicates: docs 0..11 again with their last token
    // dropped, each under an id that lands in a later slice than its
    // original. Two docs with no token must get no signature row.
    val planted = docs.filter(col("doc_id") < 12).as[(Long, String, String, String)]
      .collect().map { case (id, lang, src, text) =>
        (10001L + id, lang, src, Option(text.split(" ").init.mkString(" "))) }
    val all = docs.union((planted.toSeq ++ Seq((20000L, "en", "src0", Some("")),
        (20001L, "en", "src0", Option.empty[String]))).toDF(docs.columns.toIndexedSeq: _*))
    val k = 3
    def slice(i: Int) = all.filter(pmod(col("doc_id"), lit(k + 1)) === i)
    val idx = graft.core.TempDirs.create("graft-minhash-k-appends")
    MinHashDedup.buildIndex(slice(0), idx)
    (1 to k).foreach(i => MinHashDedup.appendToIndex(slice(i), idx))
    val fresh = graft.core.TempDirs.create("graft-minhash-k-fresh")
    MinHashDedup.buildIndex(all, fresh)
    def read(dir: String) = MinHashDedup.pairsFromIndex(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val appended = read(idx)
    assert(appended == read(fresh), "k appends must equal one fresh build")
    // Plain-Scala exact Jaccard over the same blocks and tokens.
    val rows = all.as[(Long, String, String, Option[String])].collect()
    val toks = rows.map { case (id, _, _, t) =>
      id -> t.getOrElse("").split(" ").filter(_.nonEmpty).toSet }.toMap
    val block = rows.map { case (id, lang, src, _) => id -> (lang, src) }.toMap
    def jaccard(a: Long, b: Long) = {
      val inter = (toks(a) intersect toks(b)).size
      BigDecimal(inter.toDouble / (toks(a).size + toks(b).size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    appended.foreach { case ((a, b), j) =>
      assert(a < b && block(a) == block(b), s"pair ($a, $b) crosses blocks")
      assert(j == jaccard(a, b) && j >= 0.5, s"pair ($a, $b): $j vs exact ${jaccard(a, b)}")
    }
    (0L until 12L).foreach(i =>
      assert(appended.contains((i, 10001L + i)), s"planted pair ($i, ${10001L + i}) missed"))
    assert(spark.read.parquet(s"$idx/sigs").count() == toks.count(_._2.nonEmpty))
  }

  test("2-gram shingles tighten similarity vs unigrams") {
    val docs = Tables.t(spark, sf, "documents")
    val uni = MinHashDedup.nearDuplicates(docs, threshold = 0.3).count()
    val bi = MinHashDedup.nearDuplicates(docs, threshold = 0.3, shingleSize = 2).count()
    // Shared-vocab docs overlap heavily on unigrams but far less on word
    // pairs — bigram shingling must prune pairs.
    assert(bi < uni, s"bigram pairs $bi not < unigram pairs $uni")
    // short docs (< w tokens) must not crash the shingler
    val tiny = spark.createDataFrame(Seq((1L, "one", "en", "s"), (2L, "", "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    assert(MinHashDedup.nearDuplicates(tiny, shingleSize = 2).count() == 0)
  }
}
