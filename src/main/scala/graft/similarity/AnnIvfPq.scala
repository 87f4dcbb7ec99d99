package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.IndexManifest
import graft.functions.DotProduct

/** IVF-PQ hybrid — the billion-scale ANN composition (FAISS IVFPQ): a
  * coarse quantizer routes queries to cells AND centers the data, and
  * product quantization codes the RESIDUAL (vector − its centroid), so
  * the fine detail the coarse cells lose is exactly what the codes
  * keep. Memory per vector: one cell id + M bytes of codes (vs 256 B of
  * floats); scan cost per query: nprobe cells' worth of code rows via a
  * broadcast LUT — never the vector column.
  *
  * Approx score (normalized query q, candidate x in cell c with codes
  * k_m): ⟨q, x⟩ ≈ ⟨q, centroid_c⟩ + Σ_m ⟨q_m, cw_{m,k_m}⟩ — the first
  * term rides the probe table, the second is the ADC lookup sum over
  * RESIDUAL codebooks.
  *
  * Every part is a sibling family's. Fit: [[AnnPq.writeVectors]], then
  * [[AnnIvf.fitCentroids]] and [[AnnIvf.assign]] on the normalized
  * corpus, then [[AnnPq.subvectors]], [[AnnPq.fitCodebook]] and
  * [[AnnPq.encode]] on the residuals (pre-centered, not unit vectors).
  * Search: [[AnnPq.normalizedQueries]], [[AnnIvf.probeCells]] scored by
  * the normalized dot, [[AnnIvf.cellMembers]], then [[AnnPq.adcSearch]]
  * with the probe score as the coarse term. Persisted-index contract:
  * centroids + assignments + codebook + codes + vectors under an
  * ivfpq-cosine manifest; search never runs fit machinery.
  */
object AnnIvfPq {
  val COARSE_K = 64     // coarse cells (≤ AnnIvf.MAX_K; fixture-scaled)
  val NPROBE = 8
  val TOP_K = 5

  /** Fit coarse cells on the normalized corpus, code the residuals, and
    * persist the whole index through [[IndexManifest.build]]. */
  def fit(e: DataFrame, indexDir: String, coarseK: Int = COARSE_K,
      iters: Int = 2): Unit = {
    val s = e.sparkSession
    graft.GraftExtensions.ensureRegistered(s)
    IndexManifest.build(s, indexDir, Map("family" -> "ivfpq-cosine",
        "coarse_k" -> coarseK.toString, "m" -> AnnPq.M.toString)) { b =>
      val (en, n) = AnnPq.writeVectors(e, b)
      val stride = math.max(1L, n / coarseK)
      val seeds = en.filter(col("vec_id") % stride === 0 &&
          col("vec_id") / stride < coarseK)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val centroids = b.write("centroids", AnnIvf.fitCentroids(en, seeds, iters))
      // Residuals: vector minus its cell centroid — what PQ actually codes.
      // Derived from the PERSISTED assignment and materialized once, so the
      // lineage is truncated: built on the un-truncated assignment plan,
      // every codebook-fit action would replay the full N·K assignment
      // scoring (OPTIMIZATION_r16.md records multi-second single-task CPU
      // stages for each replay at sf0.1).
      val assigned = b.write("assigned",
        AnnIvf.assign(en, centroids).select("vec_id", "cid"))
      val residuals = graft.core.Materialize(
        en.join(assigned, "vec_id")
          .join(broadcast(centroids), "cid")
          .select(col("vec_id"),
            zip_with(col("emb"), col("cemb"), (x, c) => x - c).as("emb")),
        "ivfpq-resid")
      val rsv = AnnPq.subvectors(residuals)
      val codes = AnnPq.chooseCodes(n)
      b.param("codes", codes.toString)
      val book = b.write("codebook", AnnPq.fitCodebook(rsv, n, codes, iters))
      b.write("codes", AnnPq.encode(rsv, book))
    }
  }

  /** Probe nprobe cells, ADC-score their code rows, exact-rerank the
    * shortlist → the top-`topK` rows (qid, cand_id, cos_sim, rn) per
    * query, ranked as [[AnnIvf.topKPerQuery]] ranks them. Rows are NOT
    * ordered across queries, and no caller may rely on row order: sort on
    * (qid, rn) if you need it. Scan-and-join jobs only — no fit machinery. */
  def search(s: SparkSession, indexDir: String, q: DataFrame,
      nprobe: Int = NPROBE, topK: Int = TOP_K): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    val index = IndexManifest.open(s, indexDir,
      Map("family" -> "ivfpq-cosine"), "AnnIvfPq.search")
    val qn = AnnPq.normalizedQueries(q)
    val probes = AnnIvf.probeCells(qn, "qn", index.table("centroids"),
        DotProduct.dot, nprobe)
      .select(col("qid"), col("cid"), col("qcsim"))
    AnnPq.adcSearch(qn, index.table("codebook"), index.table("codes"),
      index.table("vectors"),
      cells = Some(AnnIvf.cellMembers(probes, index.table("assigned"))), topK)
  }

  /** Registry query ([[AnnIvf.fitOnceSearchOnce]]). */
  def query(s: SparkSession, dir: String): DataFrame =
    AnnIvf.fitOnceSearchOnce(s, dir, "ivfpq") { (e, idx) =>
      fit(e, idx)
      search(s, idx, _)
    }
}
