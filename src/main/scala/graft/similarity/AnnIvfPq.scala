package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

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
  * RESIDUAL codebooks. Exact rerank of the shortlist restores true
  * cosine at the top (AnnPq convention).
  *
  * Reuses the sibling families' parts: the coarse fit IS AnnIvf's
  * deterministic Lloyd ([[AnnIvf.fitCentroids]] on the normalized
  * corpus), the residual codebooks ARE AnnPq's long-form per-subspace
  * fit ([[AnnPq.fitCodebook]] with normalization off — residuals are
  * pre-centered, not unit vectors). Persisted-index contract:
  * centroids + assignments + codebook + codes + vectors under an
  * ivfpq-cosine manifest; search never runs fit machinery.
  */
object AnnIvfPq {
  val COARSE_K = 64     // coarse cells (≤ AnnIvf.MAX_K; fixture-scaled)
  val NPROBE = 8
  val TOP_K = 5
  val RERANK_FACTOR = 4

  /** Native single-pass dot, never the HOF spelling, which is an
    * interpreted fold; bit-identical accumulation. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** Unit-normalize with the norm hoisted into its own column: inlined
    * inside the transform lambda the dot-fold re-evaluates per ELEMENT —
    * dim² interpreted work per row. */
  private def normalized(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"),
        sqrt(dot(col("emb"), col("emb"))).as("nrm"))
      .select(col("vec_id"), transform(col("emb"), x => x / col("nrm")).as("emb"))

  /** Fit coarse cells on the normalized corpus, code the residuals, and
    * persist the whole index (manifest last — crash-consistency canon). */
  def fit(e: DataFrame, indexDir: String, coarseK: Int = COARSE_K,
      iters: Int = 2): Unit = {
    val s = e.sparkSession
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.invalidate(s, indexDir)
    // Normalize ONCE into the index's vectors table (as in AnnPq.fit),
    // so no fit-side consumer (seeds, each k-means iteration's two assign
    // sides, the assignment, residuals) replays the interpreted normalize
    // kernel, which runs single-threaded on a one-file fixture scan.
    // Repartitioned by vec_id to the session's default parallelism so the
    // kernel work is spread across cores whatever the input file count.
    // The corpus count rides the same write job, so it costs no pass.
    val vectors = normalized(e)
      .select(col("vec_id"), col("emb").as("nemb"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val (written, n) = graft.core.Materialize.observed[Long](vectors,
      s"$indexDir/vectors", count(lit(1)))
    val en = written.select(col("vec_id"), col("nemb").as("emb"))
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
    val rsv = AnnPq.subvectorsOf(residuals, normalize = false)
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
    val centroids = table("centroids")
    val assigned = table("assigned")
    val cb = table("codebook")
    val codesT = table("codes")
    val vectors = table("vectors")
    val qn = normalized(q.select(col("qid").as("vec_id"), col("qemb").as("emb")))
      .select(col("vec_id").as("qid"), col("emb").as("qn"))
    // Probe: top-nprobe cells by ⟨q, centroid⟩; the dot rides along as
    // the coarse term of the ADC score.
    val probeW = Window.partitionBy("qid").orderBy(desc("qc"), asc("cid"))
    val probes = qn.join(broadcast(centroids))
      .select(col("qid"), col("qn"), col("cid"),
        dot(col("qn"), col("cemb")).as("qc"))
      .withColumn("rn", row_number().over(probeW)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("qn"), col("cid"), col("qc"))
    // Residual LUT: ⟨q_m, cw⟩ per (qid, m, code) — |q|·M·codes rows.
    val qsv = AnnPq.subvectorsOf(
        qn.select(col("qid").as("vec_id"), col("qn").as("emb")),
        normalize = false)
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
    val lut = qsv.join(broadcast(cb), "m")
      .select(col("qid"), col("m"), col("code"),
        dot(col("qsv"), col("cw")).as("pd"))
    // Candidates = vectors in probed cells; ADC score = coarse dot +
    // partial-agg sum of residual lookups over that candidate's codes.
    val cands = probes.select(col("qid"), col("cid"), col("qc"))
      .join(assigned, "cid")
      .filter(col("vec_id") =!= col("qid"))
    val adc = cands.join(codesT, "vec_id")
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg((first(col("qc")) + sum(col("pd"))).as("approx_sim"))
    val shortW = Window.partitionBy("qid")
      .orderBy(desc("approx_sim"), asc("vec_id"))
    val shortlist = adc
      .withColumn("rn", row_number().over(shortW))
      .filter(col("rn") <= topK * RERANK_FACTOR)
      .select(col("qid"), col("vec_id"))
    AnnIvf.topKPerQuery(shortlist.join(vectors, "vec_id")
      .join(qn.select(col("qid"), col("qn")), "qid")
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(dot(col("qn"), col("nemb")), 6).as("cos_sim")), topK)
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
