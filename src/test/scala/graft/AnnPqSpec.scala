package graft

import graft.similarity.AnnPq

/** PQ-ADC gate, mirroring the IVF/LSH family specs: recall ≥ 0.9 on the
  * planted-cluster fixture is a REQUIREMENT (siblings sit at cosine
  * ≈ 0.996 — an 8×-compressed code that loses them is broken), search
  * must run purely from the persisted index (no fit machinery in the
  * plan, fresh-session identical answers), and append must code new
  * vectors against the frozen codebook.
  */
class AnnPqSpec extends SparkSpec {

  test("chooseCodes grows as sqrt(N) and is capped at one byte") {
    assert(AnnPq.chooseCodes(500) == 23)
    assert(AnnPq.chooseCodes(100) == 16)
    assert(AnnPq.chooseCodes(10000000) == AnnPq.MAX_CODES)
  }

  test("planted clusters: PQ-ADC recall >= 0.9 after exact rerank") {
    graft.GraftExtensions.ensureRegistered(spark) // exactTopK scores via graft_cosine
    val e = PlantedEmbeddings.df(spark)
    val idx = graft.core.TempDirs.create("graft-pq-planted")
    AnnPq.fit(e, idx, iters = 2)
    val exact = PlantedEmbeddings.exactTopK(e, AnnPq.TOP_K)
    val approx = AnnPq.search(spark, idx, PlantedEmbeddings.queries(e))
      .select("qid", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = PlantedEmbeddings.recall(exact, approx)
    assert(recall >= 0.9, s"pq planted recall $recall below 0.9")
  }

  test("search runs from the persisted index and survives a fresh session") {
    val e = PlantedEmbeddings.df(spark)
    val idx = graft.core.TempDirs.create("graft-pq-idx-reuse")
    AnnPq.fit(e, idx, iters = 2)
    val q = PlantedEmbeddings.queries(e)
    val out1 = AnnPq.search(spark, idx, q)
    val plan = out1.queryExecution.executedPlan.toString
    assert(plan.contains(idx), s"search must scan the index dir:\n$plan")
    assert(!plan.toLowerCase.contains("posexplode"),
      "codebook-update machinery leaked into the search plan")
    val r1 = out1.select("qid", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s2 = spark.newSession()
    val q2 = PlantedEmbeddings.queries(PlantedEmbeddings.df(s2))
    val r2 = AnnPq.search(s2, idx, q2)
      .select("qid", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 == r2, "fresh-session search from the persisted index must agree")
  }

  test("append codes new vectors against the frozen codebook; search finds them") {
    import org.apache.spark.sql.functions._
    val e = PlantedEmbeddings.df(spark)
    val idx = graft.core.TempDirs.create("graft-pq-append")
    AnnPq.fit(e, idx, iters = 2)
    val cbBefore = spark.read.parquet(s"$idx/codebook").orderBy("m", "code")
      .collect().map(_.toString).toSeq
    // New vectors = exact copies of cluster-0 members shifted to fresh ids:
    // their nearest neighbors are their originals, so post-append search
    // for them must surface the planted originals.
    val newVecs = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("emb"))
    AnnPq.append(spark, idx, newVecs)
    assert(spark.read.parquet(s"$idx/codebook").orderBy("m", "code")
      .collect().map(_.toString).toSeq == cbBefore,
      "append must not refit the codebook")
    val q = newVecs.select(col("vec_id").as("qid"), col("emb").as("qemb"))
    // Each appended copy's top hit (rank 1; search rows carry no order)
    // must be its identical original.
    val topHit = AnnPq.search(spark, idx, q).filter(col("rn") === 1)
      .select("qid", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(topHit.map(_._1).toSet == Set(100000L, 100001L, 100002L, 100003L, 100004L),
      s"one rank-1 hit per appended copy expected, got ${topHit.toSeq}")
    topHit.foreach { case (qid, cand) =>
      assert(cand == qid - 100000L,
        s"appended copy $qid should retrieve its original, got $cand")
    }
  }
}
