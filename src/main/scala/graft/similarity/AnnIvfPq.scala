package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
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
    * persist the whole index (manifest last — crash-consistency canon). */
  def fit(e: DataFrame, indexDir: String, coarseK: Int = COARSE_K,
      iters: Int = 2): Unit = {
    val s = e.sparkSession
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.invalidate(s, indexDir)
    val (vectors, en, n) = AnnPq.writeVectors(e, indexDir)
    val stride = math.max(1L, n / coarseK)
    val seeds = en.filter(col("vec_id") % stride === 0 &&
        col("vec_id") / stride < coarseK)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    val centroids = AnnIvf.fitCentroids(en, seeds, iters)
    val persistedC = graft.core.Materialize.at(centroids, s"$indexDir/centroids")
    val assigned = AnnIvf.assign(en, persistedC).select("vec_id", "cid")
    // Residuals: vector minus its cell centroid — what PQ actually codes.
    // Derived from the PERSISTED assignment and materialized once, so the
    // lineage is truncated: built on the un-truncated `assigned` plan,
    // every codebook-fit action would replay the full N·K assignment
    // scoring (OPTIMIZATION_r16.md records multi-second single-task CPU
    // stages for each replay at sf0.1).
    val assignedP = graft.core.Materialize.at(assigned, s"$indexDir/assigned")
    val residuals = graft.core.Materialize(
      en.join(assignedP, "vec_id")
        .join(broadcast(persistedC), "cid")
        .select(col("vec_id"),
          zip_with(col("emb"), col("cemb"), (x, c) => x - c).as("emb")),
      "ivfpq-resid")
    val rsv = AnnPq.subvectors(residuals)
    val codes = AnnPq.chooseCodes(n)
    val book = AnnPq.fitCodebook(rsv, n, codes, iters)
    val cb = graft.core.Materialize.at(book, s"$indexDir/codebook")
    val coded = AnnPq.encode(rsv, cb)
    coded.write.mode("overwrite").parquet(s"$indexDir/codes")
    graft.core.IndexManifest.write(s, indexDir,
      Map("family" -> "ivfpq-cosine", "coarse_k" -> coarseK.toString,
        "m" -> AnnPq.M.toString, "codes" -> codes.toString) ++
        graft.core.IndexManifest.tableFields("vectors" -> vectors,
          "centroids" -> centroids, "assigned" -> assigned,
          "codebook" -> book, "codes" -> coded))
  }

  /** Probe nprobe cells, ADC-score their code rows, exact-rerank the
    * shortlist → the top-`topK` rows (qid, cand_id, cos_sim, rn) per
    * query, ranked as [[AnnIvf.topKPerQuery]] ranks them. Rows are NOT
    * ordered across queries, and no caller may rely on row order: sort on
    * (qid, rn) if you need it. Scan-and-join jobs only — no fit machinery. */
  def search(s: SparkSession, indexDir: String, q: DataFrame,
      nprobe: Int = NPROBE, topK: Int = TOP_K): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    val manifest = graft.core.IndexManifest.verify(s, indexDir,
      Map("family" -> "ivfpq-cosine"), "AnnIvfPq.search")
    def table(name: String) = graft.core.IndexManifest.table(s, indexDir, manifest, name)
    val qn = AnnPq.normalizedQueries(q)
    val probes = AnnIvf.probeCells(qn, "qn", table("centroids"), DotProduct.dot, nprobe)
      .select(col("qid"), col("cid"), col("qcsim"))
    AnnPq.adcSearch(qn, table("codebook"), table("codes"), table("vectors"),
      cells = Some(AnnIvf.cellMembers(probes, table("assigned"))), topK)
  }

  /** Registry query: fit-once-search-once through a scratch index dir
    * (sibling-family shape). */
  def query(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val idx = graft.core.TempDirs.create("graft-ivfpq-idx")
    fit(e, idx)
    search(s, idx, e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb")))
  }
}
