package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.IndexManifest
import graft.core.Tables._
import graft.functions.CosineSimilarity

/** IVF-style approximate nearest neighbor over the embedding column — the
  * scale path behind Q32's exact brute-force top-k.
  *
  * Coarse quantizer: K centroids with K = min(MAX_K, ⌈√N⌉), taken as a
  * deterministic stride sample of the corpus (at 100 TB this would be a
  * k-means|| fit persisted once; a fixed stride keeps the POC
  * deterministic). K growing as √N bounds BOTH sides of the IVF cost:
  * assignment is O(N·K) = O(N^1.5) map-side work against a broadcast
  * centroid table, and the exact cosine rerank of a probe is limited to
  * the O(nprobe·N/K) = O(N^0.5) rows of its probed cells; MAX_K caps the
  * broadcast size. The probe does NOT read only those cells: `assigned`
  * is stored unclustered, so every [[search]] scans the whole table and
  * equi-joins it against the probed cell ids (at bench size the planner
  * broadcasts all of `assigned` for that join). The argmin itself is a
  * single partial-aggregable max_by groupBy (map-side combine shuffles
  * one row per vec_id per mapper) — NOT a row_number window, which would
  * shuffle and sort all N×K scored rows.
  *
  * nprobe: the fixture embeddings are near-uniform-random, so recall ≈
  * fraction of cells probed — the default probes ~30% of cells to keep
  * the recall spec meaningful. Real clustered corpora use a small fixed
  * nprobe (8–32) independent of K; pass it explicitly.
  *
  * Recall vs exact Q32 top-k is asserted in AnnIvfSpec.
  */
object AnnIvf {
  /** Broadcast-size cap on centroid count (4096 × dim 64 doubles ≈ 2 MB). */
  val MAX_K = 4096
  val TOP_K = 5

  /** Production-default probe width: a small FIXED cell count independent
    * of K, the setting that makes the rerank sublinear (~ nprobe·N/K
    * scored rows per query; the `assigned` scan stays O(N)). On clustered
    * corpora — the case IVF exists for — recall ≥ 0.9 holds at this
    * default (AnnIvfSpec planted gate); only near-uniform-random corpora
    * need coverage-proportional probing. */
  val DEFAULT_NPROBE = 16

  def chooseK(n: Long): Int =
    math.min(MAX_K, math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Assign each embedding row to its nearest centroid id: broadcast the
    * centroids, score map-side, reduce with max_by (partial aggregation —
    * one surviving row per vec_id per mapper reaches the shuffle).
    * Tie-break = highest csim then lowest cid; the ordering struct
    * compares fields left-to-right, so (csim, -cid) encodes exactly that.
    *
    * The scored intermediate is N·K rows, so it must carry ONLY
    * (vec_id, cid, csim) — ~24 B/row — and the winner's vector joins
    * back by key afterwards (one linear N-row equi-join). The first
    * version kept the embedding array on every scored row, copying the
    * corpus K times through codegen'd row writes (measured at sf10 with
    * K = 775: 465 M rows × ~550 B ≈ 240 GB of pure array memcpy, read as
    * the q_ann_ivf e = 1.90 decade knee; K ~ √N makes that term N^1.5
    * with a corpus-sized constant). Scores and tie-breaks are unchanged,
    * so the assignment — and every index built from it — is bit-identical.
    *
    * Preconditions: `vec_id` must be UNIQUE in `emb` — the
    * join-back fans out duplicates where the old max_by emitted one row
    * per vec_id (holds for every current caller: embeddings.parquet keys
    * vec_id, and fitCentroids passes the same frame through unchanged).
    * `emb` is also referenced twice (scored side + join-back), so a
    * derived/expensive `emb` is evaluated twice per assign — cheap for
    * the parquet-backed callers; persist it first if a future caller
    * feeds a computed frame through iterated fitCentroids. */
  def assign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val best = emb.join(broadcast(centroids))
      .select(col("vec_id"), col("cid"),
        CosineSimilarity.cosine(col("emb"), col("cemb")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("ord"))).as("cid"))
    emb.join(best, "vec_id").select(col("vec_id"), col("emb"), col("cid"))
  }

  /** Deterministic Lloyd refinement of the stride-sampled seeds — the
    * production quantizer fit (k-means with deterministic init; at 100 TB
    * you fit once on a sample and persist). Each iteration is two
    * shuffles: assignment (the max_by reduce above) and the centroid
    * update, which recomputes each cell's mean element-wise via
    * posexplode → groupBy(cid, pos) avg → rebuild ordered array — the
    * same O(N·dim) shuffle shape MLlib's k-means pays per iteration.
    * Cells that lose all members drop out (K can only shrink), and cid is
    * re-assigned by cell order so ids stay dense and deterministic. */
  def fitCentroids(emb: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    var centroids = seeds
    for (_ <- 0 until iters) {
      val assigned = assign(emb, centroids)
      centroids = assigned
        .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cemb"))
        .select(col("cid"), col("cemb"))
    }
    // Dense, order-stable ids (windowless: small K rows, but rank via
    // zipWithIndex-free expression — row_number over a single partition
    // of K rows is fine since K ≤ MAX_K).
    centroids
      .withColumn("cid", row_number().over(
        Window.orderBy(col("cid"))).cast("long") - 1L)
  }

  def query(s: SparkSession, dir: String): DataFrame =
    fitOnceSearchOnce(s, dir, "ivf") { (e, idx) =>
      val n = e.count()
      val k = chooseK(n)
      fit(e, idx, k, fitIters = 2, knownN = n)
      // Production default: fixed nprobe (capped at K for tiny corpora).
      // The uniform-random fixture keeps its recall floor in AnnIvfSpec
      // via an explicit coverage-proportional nprobe there; the registry
      // query runs the setting a real clustered corpus would.
      search(s, idx, _, math.min(k, DEFAULT_NPROBE))
    }

  /** The registry shape of every ANN entry: load `embeddings` as
    * (vec_id, emb array<double>), let `fit` build an index in a scratch
    * dir, and run the search `fit` returns on the vec_id < 10 batch as
    * (qid, qemb). Fit-once-search-once through a persisted index is the
    * path a production pipeline takes: the fit is never inlined into the
    * search plan. */
  private[similarity] def fitOnceSearchOnce(s: SparkSession, dir: String,
      family: String)(fit: (DataFrame, String) => DataFrame => DataFrame): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val search = fit(e, graft.core.TempDirs.create(s"graft-$family-idx"))
    search(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb")))
  }

  /** Fit the IVF index once and persist it: centroids (the coarse
    * quantizer) and per-vector cell assignments land as parquet under
    * indexDir. At 100 TB this runs once per corpus version; every
    * subsequent [[search]] reads the index without re-running any fit
    * or assignment job. */
  def fit(e: DataFrame, indexDir: String, k: Int, fitIters: Int = 2,
      knownN: Long = -1L): Unit = {
    // fit/append are public entry points too: assignment evaluates the
    // graft_cosine call_function, which resolves only after the extension
    // registers it (idempotent — no-op when query()/search() already did).
    graft.GraftExtensions.ensureRegistered(e.sparkSession)
    IndexManifest.build(e.sparkSession, indexDir, Map("family" -> "ivf-cosine",
        "k" -> k.toString, "fit_iters" -> fitIters.toString)) { b =>
      // knownN lets a caller that already counted the corpus (query()
      // does, for chooseK) skip a second full-scan count job here.
      val n = if (knownN >= 0) knownN else e.count()
      val stride = math.max(1L, n / k)
      val seeds = e.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val centroids =
        if (fitIters > 0) fitCentroids(e, seeds, fitIters) else seeds
      // Assignment reads the PERSISTED centroids so the k-means lineage is
      // truncated — the assignment plan never replays the fit.
      val persisted = b.write("centroids", centroids)
      b.write("assigned", assign(e, persisted))
    }
  }

  /** Incremental index update: assign ONLY the new vectors against the
    * persisted centroids and append them to the assignment table — the
    * daily-ingest path of a 100 TB corpus (no refit, no touch of the
    * existing billions of rows; periodic refit stays a separate, rarer
    * job). Parquet append keeps old files untouched. */
  def append(s: SparkSession, indexDir: String, newVecs: DataFrame): Unit = {
    graft.GraftExtensions.ensureRegistered(s)
    // IVF appends assign against the PERSISTED centroids, so the quantizer
    // is compatible by construction — the manifest check guards against
    // pointing append at a different index family's directory.
    val index = IndexManifest.open(s, indexDir,
      Map("family" -> "ivf-cosine"), "AnnIvf.append")
    index.requireColumns("assigned", newVecs)
    index.append("assigned" -> assign(newVecs, index.table("centroids")))
  }

  /** Probe a persisted index: queries (qid, qemb) → the top-`topK` rows
    * (qid, cand_id, cos_sim, rn) per query, as [[topKPerQuery]] ranks them.
    * Rows are NOT ordered across queries, and no caller may rely on row
    * order: sort on (qid, rn) if you need it. Runs only scan +
    * broadcast-probe + rerank jobs — no fit and no global sort. */
  def search(s: SparkSession, indexDir: String, q: DataFrame,
      nprobe: Int = DEFAULT_NPROBE, topK: Int = TOP_K): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    val index = IndexManifest.open(s, indexDir,
      Map("family" -> "ivf-cosine"), "AnnIvf.search")
    val probes = probeCells(q, "qemb", index.table("centroids"),
        CosineSimilarity.cosine, nprobe)
      .select(col("qid"), col("qemb"), col("cid"))
    // Exact rerank inside probed cells only.
    topKPerQuery(cellMembers(probes, index.table("assigned"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(CosineSimilarity.cosine(col("qemb"), col("emb")), 6).as("cos_sim")), topK)
  }

  /** Each query's `nprobe` best centroid cells: (qid, `qvec`, cid, qcsim,
    * rn), where qcsim = `score(query vector, cemb)` and ties go to the
    * lower cid. The ranking window sorts K rows per query (K is capped),
    * not corpus rows. */
  private[similarity] def probeCells(q: DataFrame, qvec: String,
      centroids: DataFrame, score: (Column, Column) => Column,
      nprobe: Int): DataFrame =
    topKPerQuery(q.join(broadcast(centroids))
        .select(col("qid"), col(qvec), col("cid"),
          score(col(qvec), col("cemb")).as("qcsim")),
      nprobe, score = "qcsim", id = "cid")

  /** The members of the probed cells, each query's own vector excluded:
    * the one read of `assigned` every IVF search makes (an equi-join on
    * cid over the whole unclustered table, see the class doc). */
  private[similarity] def cellMembers(probes: DataFrame,
      assigned: DataFrame): DataFrame =
    probes.join(assigned, "cid").filter(col("vec_id") =!= col("qid"))

  /** The one per-query ranker: the `topK` best rows per qid with rn =
    * 1-based rank within the query (`score` descending, then `id`
    * ascending), so for each qid rn runs 1..k over non-increasing scores.
    * The window's exchange clusters rows by qid only; nothing sorts
    * across queries, because no caller needs it and a global sort would
    * add a range-partitioning exchange plus its sampling job to every
    * search. The defaults rank scored (qid, cand_id, cos_sim) rows, the
    * tail of every search. */
  private[graft] def topKPerQuery(scored: DataFrame, topK: Int,
      score: String = "cos_sim", id: String = "cand_id"): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc(score), asc(id))))
      .filter(col("rn") <= topK)
}
