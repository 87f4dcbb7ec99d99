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

  /** Native single-pass dot (optimization r16, guide §4 — the HOF
    * spelling was an interpreted fold; bit-identical accumulation). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** Unit-normalize with the norm hoisted into its own column
    * (optimization r16): inlined inside the transform lambda the dot-fold
    * re-evaluated per ELEMENT — dim² interpreted work per row. Same norm
    * value, same divisions — bit-identical. */
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
    // Normalize ONCE into the index's vectors table (optimization r16 —
    // same rationale as AnnPq.fit): every fit-side consumer (count,
    // seeds, each k-means iteration's two assign sides, the assignment,
    // residuals, the final vectors copy) used to replay the interpreted
    // normalize kernel, single-threaded on the one-file fixture scan.
    // Repartitioned by vec_id to the session's default parallelism so the
    // kernel work is spread across cores whatever the input file count.
    // Corpus count rides the SAME write job as an observe() metric —
    // the separate count() job it replaces was a full extra pass.
    val cnt = org.apache.spark.sql.Observation("ivfpq-fit-n")
    normalized(e)
      .select(col("vec_id"), col("emb").as("nemb"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .observe(cnt, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$indexDir/vectors")
    val en = s.read.parquet(s"$indexDir/vectors")
      .select(col("vec_id"), col("nemb").as("emb"))
    val n = cnt.get("n").asInstanceOf[Long]
    val stride = math.max(1L, n / coarseK)
    val seeds = en.filter(col("vec_id") % stride === 0 &&
        col("vec_id") / stride < coarseK)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    val centroids = AnnIvf.fitCentroids(en, seeds, iters)
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val persistedC = s.read.parquet(s"$indexDir/centroids")
    val assigned = AnnIvf.assign(en, persistedC)
    assigned.select("vec_id", "cid").write.mode("overwrite")
      .parquet(s"$indexDir/assigned")
    // Residuals: vector minus its cell centroid — what PQ actually codes.
    // Derived from the PERSISTED assignment and materialized once
    // (optimization r16, lineage truncation): the old frame reused the
    // un-truncated `assigned` plan, so every codebook-fit action replayed
    // the full N·K assignment scoring — OPTIMIZATION_r16.md records
    // multi-second single-task CPU stages for each replay at sf0.1. Same rows,
    // same doubles (assignment values come from the same persisted table).
    val assignedP = s.read.parquet(s"$indexDir/assigned")
    val residuals = graft.core.Materialize(
      en.join(assignedP, "vec_id")
        .join(broadcast(persistedC), "cid")
        .select(col("vec_id"),
          zip_with(col("emb"), col("cemb"), (x, c) => x - c).as("emb")),
      "ivfpq-resid")
    val rsv = AnnPq.subvectorsOf(residuals, normalize = false)
    val codes = AnnPq.chooseCodes(n)
    AnnPq.fitCodebook(rsv, n, codes, iters)
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
    val cb = s.read.parquet(s"$indexDir/codebook")
    AnnPq.encode(rsv, cb).write.mode("overwrite").parquet(s"$indexDir/codes")
    graft.core.IndexManifest.write(s, indexDir,
      Map("family" -> "ivfpq-cosine", "coarse_k" -> coarseK.toString,
        "m" -> AnnPq.M.toString, "codes" -> codes.toString))
  }

  /** Probe nprobe cells, ADC-score their code rows, exact-rerank the
    * shortlist. Scan-and-join jobs only — no fit machinery. */
  def search(s: SparkSession, indexDir: String, q: DataFrame,
      nprobe: Int = NPROBE, topK: Int = TOP_K): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.verify(s, indexDir,
      Map("family" -> "ivfpq-cosine"), "AnnIvfPq.search")
    val centroids = s.read.parquet(s"$indexDir/centroids")
    val assigned = s.read.parquet(s"$indexDir/assigned")
    val cb = s.read.parquet(s"$indexDir/codebook")
    val codesT = s.read.parquet(s"$indexDir/codes")
    val vectors = s.read.parquet(s"$indexDir/vectors")
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
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), asc("cand_id"))
    shortlist.join(vectors, "vec_id")
      .join(qn.select(col("qid"), col("qn")), "qid")
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(dot(col("qn"), col("nemb")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .orderBy("qid", "rn")
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
