package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Product-quantization ANN (ADC flavor) — the third index family next to
  * IVF cells ([[AnnIvf]]) and hyperplane buckets ([[AnnLsh]]), and the one
  * whose 100 TB story is MEMORY: a dim-64 float vector (256 B) compresses
  * to M = 8 sub-codes (8 B at 256 codewords), so the scored table shrinks
  * 32× and the scan that ranks candidates reads codes, never vectors.
  *
  * Fit: vectors are unit-normalized (so inner product = cosine), split
  * into M contiguous dim/M subvectors, and each subspace learns its own
  * codebook by deterministic Lloyd iterations (stride-sampled seeds, L2
  * argmin, min-code tie-break) — all M fits ride ONE long-form frame
  * keyed by (m, code), so the shuffle count does not grow with M.
  *
  * Search (asymmetric distance computation): each query dots its M
  * subvectors against the ≤ M·256-row codebook → a broadcastable lookup
  * table; the codes table joins that LUT map-side and a partial-aggregable
  * sum over m reconstructs approx cosine per (query, vector). The top
  * RERANK_FACTOR·k approximate candidates are reranked with exact cosine
  * against the original vectors (index-stored, fetched by equi-join) —
  * the standard PQ refine step that restores exactness at the top.
  *
  * Persisted-index contract mirrors the sibling families: fit() writes
  * codebook + codes + normalized vectors under a manifest
  * (family=pq-adc); search() runs scan+join jobs only; append() codes new
  * vectors against the FROZEN codebook (daily-ingest path, no refit).
  * Recall ≥ 0.9 on planted clusters is a requirement (AnnPqSpec).
  */
object AnnPq {
  val M = 8               // subspaces
  val MAX_CODES = 256     // codewords per subspace (1-byte codes)
  val TOP_K = 5
  val RERANK_FACTOR = 4   // approx candidates reranked exactly per query

  def chooseCodes(n: Long): Int =
    math.min(MAX_CODES, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Native single-pass dot (graft.functions.DotProduct) — optimization
    * r16, guide §4: the HOF aggregate(zip_with(...)) spelling here was an
    * interpreted fold; bit-identical accumulation order. Callers go
    * through an entry point that calls GraftExtensions.ensureRegistered. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** (vec_id, nemb) unit-normalized rows. The norm is hoisted into its
    * own projected column (optimization r16): spelled inline inside the
    * transform lambda, the full dot-fold re-evaluated PER ELEMENT
    * (interpreted HOF lambdas get no subexpression elimination) — dim²
    * work per row. Same norm value, same divisions — bit-identical. */
  private[similarity] def normalized(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"),
        sqrt(dot(col("emb"), col("emb"))).as("nrm"))
      .select(col("vec_id"), transform(col("emb"), x => x / col("nrm")).as("nemb"))

  /** Explode pre-normalized/pre-centered (vec_id, emb) rows into the
    * (vec_id, m, sv) long form; dim must divide evenly into M subspaces
    * (the fixture dim 64 → 8×8). Callers normalize first where the PQ
    * family requires unit vectors — IVFPQ feeds centered residuals. */
  private[similarity] def subvectorsOf(e: DataFrame, normalize: Boolean): DataFrame = {
    val base =
      if (normalize) normalized(e).select(col("vec_id"), col("nemb").as("emb"))
      else e
    base.select(col("vec_id"), col("emb").as("nemb"),
        (size(col("emb")) / M).cast("int").as("sd"))
      .select(col("vec_id"), col("nemb"), col("sd"),
        explode(sequence(lit(0), lit(M - 1))).as("m"))
      .select(col("vec_id"), col("m"),
        slice(col("nemb"), col("m") * col("sd") + 1, col("sd")).as("sv"))
  }

  private def subvectors(e: DataFrame): DataFrame = subvectorsOf(e, normalize = true)

  /** Nearest codeword per (vec_id, m): L2 argmin over the codebook as a
    * tight primitive-loop kernel. The codebook is BOUNDED (≤ M·256 rows ·
    * dim/M doubles ≈ 16 KB) so it travels as a task-serialized array —
    * the bounded-small-table exception to functions-not-UDFs: the
    * declarative alternative (broadcast join + min_by over N·M·codes
    * joined rows) materializes every (subvector, codeword) pair with a
    * per-pair array allocation, which measured SUPER-linear (exponent
    * 1.14) at the sf0.1→sf1 decade, while this kernel keeps encode a
    * pure map — zero shuffles — and restores linear scaling. Min-code
    * tie-break = first-hit-wins scan order. */
  private def encodeUdf(cb: Array[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (m: Int, sv: Seq[Double]) =>
      val cws = cb(m)
      val x = sv.toArray
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var d = 0.0; var i = 0
        while (i < x.length) { val t = x(i) - cw(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** Collect a codebook frame into the kernel layout [m][code][dim];
    * code ids are dense per subspace (fit's seed carry-over guarantees
    * no cell ever vanishes). */
  private def collectCodebook(cbDf: DataFrame): Array[Array[Array[Double]]] = {
    val rows = cbDf.collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Int]("code"),
        r.getAs[Seq[Double]]("cw").toArray))
    val byM = rows.groupBy(_._1)
    (0 until M).toArray.map { m =>
      require(byM.contains(m),
        s"no codewords for subspace $m — codebook table is incomplete")
      byM(m).sortBy(_._2).map(_._3)
    }
  }

  private[similarity] def encode(sv: DataFrame, cbDf: DataFrame): DataFrame = {
    val kernel = encodeUdf(collectCodebook(cbDf))
    sv.select(col("vec_id"), col("m"),
      kernel(col("m"), col("sv")).as("code"))
  }

  /** Per-subspace Lloyd fit on the long-form frame: assignment is the
    * map-side kernel above; the only shuffle per iteration is the
    * centroid-update aggregation (posexplode → partial-agg avg). Codes
    * whose cell empties keep their previous codeword (seed carry-over)
    * so ids stay dense and the kernel layout stays rectangular.
    *
    * The book lives as a LOCAL array between iterations (optimization
    * r16, lineage truncation): it is driver-scale by construction
    * (≤ M·codes rows ≈ 16 KB) and ALREADY crossed the driver once per
    * iteration via collectCodebook — but the old DataFrame carry-over
    * chain made iteration k's plan contain iterations 0..k-1's full sv
    * aggregations, so every collect and the final codebook write
    * REPLAYED them (OPTIMIZATION_r16.md, sf0.1: ~6 corpus-derived passes
    * for a 2-iteration fit where 3 suffice). Each iteration now runs
    * exactly ONE job over sv; the returned frame is a local relation
    * with the same (m, code, cw) row multiset, bit-identical values. */
  def fitCodebook(sv: DataFrame, n: Long, codes: Int, iters: Int): DataFrame = {
    val s = sv.sparkSession
    val stride = math.max(1L, n / codes)
    def rowsOf(df: DataFrame): Array[(Int, Int, Seq[Double])] =
      df.collect().map(r => (r.getAs[Int]("m"), r.getAs[Int]("code"),
        r.getAs[Seq[Double]]("cw")))
    def layout(b: Array[(Int, Int, Seq[Double])]): Array[Array[Array[Double]]] = {
      val byM = b.groupBy(_._1)
      (0 until M).toArray.map { m =>
        // Diagnosable failure instead of a bare NoSuchElementException
        // (ADVICE r16): sparse / non-contiguous vec_ids can leave a
        // subspace with no stride-sampled seed rows at all.
        require(byM.contains(m),
          s"no seed codewords for subspace $m — vec_ids may not cover the stride sample")
        byM(m).sortBy(_._2).map(_._3.toArray)
      }
    }
    var book = rowsOf(sv
      .filter(col("vec_id") % stride === 0 && col("vec_id") / stride < codes)
      .select(col("m"), (col("vec_id") / stride).cast("int").as("code"),
        col("sv").as("cw")))
    for (_ <- 0 until iters) {
      val kernel = encodeUdf(layout(book))
      val updated = rowsOf(sv
        .select(col("m"), kernel(col("m"), col("sv")).as("code"), col("sv"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("code"), col("pos")).agg(avg(col("x")).as("v"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          st => st.getField("v")).as("cw")))
      // Seed carry-over in driver arithmetic — same semantics as the old
      // unionByName + left_anti: emptied cells keep their previous cw.
      val updKeys = updated.map(t => (t._1, t._2)).toSet
      book = updated ++ book.filter(t => !updKeys((t._1, t._2)))
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cw",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    s.createDataFrame(
      book.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)).toSeq.asJava,
      schema)
  }

  /** Fit once, persist codebook + codes + normalized vectors, manifest
    * last (crash-consistency canon shared with the sibling families). */
  def fit(e: DataFrame, indexDir: String, iters: Int = 2): Unit = {
    val s = e.sparkSession
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.invalidate(s, indexDir)
    // Normalize ONCE into the index's vectors table and derive the whole
    // fit (seed book, iterations, encode) from the read-back
    // (optimization r16): the old shape re-ran the per-row normalize
    // kernel in every codebook job, and on a single-file fixture scan
    // all of it ran in ONE task. Repartitioned by vec_id to the
    // session's default parallelism so kernel work spreads across cores
    // whatever the input's file count (scale-adaptive, no constant).
    // Same doubles after the parquet round-trip — bit-identical index.
    // Corpus count rides the SAME write job as an observe() metric —
    // the separate count() job it replaces was a full extra pass.
    val cnt = org.apache.spark.sql.Observation("pq-fit-n")
    normalized(e)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .observe(cnt, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$indexDir/vectors")
    val en = s.read.parquet(s"$indexDir/vectors")
      .select(col("vec_id"), col("nemb").as("emb"))
    val sv = subvectorsOf(en, normalize = false)
    val n = cnt.get("n").asInstanceOf[Long]
    val codes = chooseCodes(n)
    fitCodebook(sv, n, codes, iters)
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
    val cb = s.read.parquet(s"$indexDir/codebook")
    encode(sv, cb).write.mode("overwrite").parquet(s"$indexDir/codes")
    graft.core.IndexManifest.write(s, indexDir,
      Map("family" -> "pq-adc", "m" -> M.toString,
        "codes" -> codes.toString))
  }

  /** Code new vectors against the frozen codebook and append — the
    * ingest path; the codebook is never refit here. */
  def append(s: SparkSession, indexDir: String, newVecs: DataFrame): Unit = {
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.verify(s, indexDir,
      Map("family" -> "pq-adc"), "AnnPq.append")
    val cb = s.read.parquet(s"$indexDir/codebook")
    // Vectors BEFORE codes: every shortlist candidate originates from the
    // codes table and is inner-joined back to vectors for the exact
    // rerank, so an orphan vector row (crash after the first write) is
    // unreachable and harmless — but an orphan CODE row would enter the
    // ADC shortlist and then be silently dropped by the rerank join,
    // degrading top-k quality with no error. This is the two-table
    // analogue of the sibling families' manifest-last canon.
    normalized(newVecs)
      .write.mode("append").parquet(s"$indexDir/vectors")
    encode(subvectors(newVecs), cb)
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** ADC search: LUT join + partial-agg score sum + exact rerank of the
    * shortlist. q = (qid, qemb). */
  def search(s: SparkSession, indexDir: String, q: DataFrame,
      topK: Int = TOP_K): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.verify(s, indexDir,
      Map("family" -> "pq-adc"), "AnnPq.search")
    val cb = s.read.parquet(s"$indexDir/codebook")
    val codesT = s.read.parquet(s"$indexDir/codes")
    val vectors = s.read.parquet(s"$indexDir/vectors")
    val qsv = subvectors(q.select(col("qid").as("vec_id"), col("qemb").as("emb")))
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
    // LUT: |queries| × M × codes rows of partial dot products — tiny, and
    // broadcast so the big codes table never shuffles for scoring.
    val lut = qsv.join(broadcast(cb), "m")
      .select(col("qid"), col("m"), col("code"),
        dot(col("qsv"), col("cw")).as("pd"))
    val approx = codesT.join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pd")).as("approx_sim"))
      .filter(col("vec_id") =!= col("qid"))
    val shortW = Window.partitionBy("qid")
      .orderBy(desc("approx_sim"), asc("vec_id"))
    val shortlist = approx
      .withColumn("rn", row_number().over(shortW))
      .filter(col("rn") <= topK * RERANK_FACTOR)
      .select(col("qid"), col("vec_id"))
    // Exact rerank: true cosine (normalized dot) on the shortlist only.
    val qn = normalized(q.select(col("qid").as("vec_id"), col("qemb").as("emb")))
      .select(col("vec_id").as("qid"), col("nemb").as("qn"))
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), asc("cand_id"))
    shortlist.join(vectors, "vec_id").join(qn, "qid")
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(dot(col("qn"), col("nemb")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .orderBy("qid", "rn")
  }

  /** Registry query: fit-once-search-once through a scratch index dir on
    * the driver embeddings table (same shape as q_ann_ivf / q_ann_lsh). */
  def query(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val idx = graft.core.TempDirs.create("graft-pq-idx")
    fit(e, idx, iters = 2)
    search(s, idx, e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb")))
  }
}
