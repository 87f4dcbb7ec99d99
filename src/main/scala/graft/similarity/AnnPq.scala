package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.IndexManifest
import graft.functions.DotProduct

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
  *
  * The codec is shared with [[AnnIvfPq]]: [[normalized]], [[writeVectors]],
  * [[subvectors]], [[fitCodebook]], [[encode]] and [[adcSearch]].
  */
object AnnPq {
  val M = 8               // subspaces
  val MAX_CODES = 256     // codewords per subspace (1-byte codes)
  val TOP_K = 5
  val RERANK_FACTOR = 4   // approx candidates reranked exactly per query

  def chooseCodes(n: Long): Int =
    math.min(MAX_CODES, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** (vec_id, nemb) unit-normalized rows. The norm is hoisted into its
    * own projected column: spelled inline inside the transform lambda,
    * the full dot-fold re-evaluates PER ELEMENT (interpreted HOF lambdas
    * get no subexpression elimination) — dim² work per row. */
  private[similarity] def normalized(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"),
        sqrt(DotProduct.dot(col("emb"), col("emb"))).as("nrm"))
      .select(col("vec_id"), transform(col("emb"), x => x / col("nrm")).as("nemb"))

  /** Queries (qid, qemb) → (qid, qn), unit-normalized by [[normalized]]. */
  private[similarity] def normalizedQueries(q: DataFrame): DataFrame =
    normalized(q.select(col("qid").as("vec_id"), col("qemb").as("emb")))
      .select(col("vec_id").as("qid"), col("nemb").as("qn"))

  /** Write the unit-normalized corpus `e` (vec_id, emb) as the index's
    * `vectors` table (vec_id, nemb). Returns the table read back as
    * (vec_id, emb) and its row count. The fit derives everything from the
    * read-back, so no fit job re-runs the interpreted normalize kernel (on
    * a single-file fixture scan it would run in ONE task); the repartition
    * by vec_id to the session's default parallelism spreads that kernel
    * across cores whatever the input's file count. The count rides the
    * write job, so it costs no pass. The doubles survive the parquet
    * round-trip, so the index is bit-identical. */
  private[similarity] def writeVectors(e: DataFrame,
      b: IndexManifest.Builder): (DataFrame, Long) = {
    val vectors = normalized(e)
      .repartition(e.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
    val (written, n) = b.observed[Long]("vectors", vectors, count(lit(1)))
    (written.select(col("vec_id"), col("nemb").as("emb")), n)
  }

  /** Explode (vec_id, emb) rows into the (vec_id, m, sv) long form; dim
    * must divide evenly into M subspaces (the fixture dim 64 → 8×8). PQ
    * feeds unit vectors, IVF-PQ centered residuals. */
  private[similarity] def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"),
        (size(col("emb")) / M).cast("int").as("sd"))
      .select(col("vec_id"), col("emb"), col("sd"),
        explode(sequence(lit(0), lit(M - 1))).as("m"))
      .select(col("vec_id"), col("m"),
        slice(col("emb"), col("m") * col("sd") + 1, col("sd")).as("sv"))

  /** Nearest codeword per (vec_id, m): L2 argmin over the codebook as a
    * tight primitive-loop kernel. The codebook is BOUNDED (≤ M·256 rows ·
    * dim/M doubles ≈ 16 KB) so it travels as a task-serialized array —
    * the bounded-small-table exception to functions-not-UDFs: the
    * declarative alternative (broadcast join + min_by over N·M·codes
    * joined rows) materializes every (subvector, codeword) pair with a
    * per-pair array allocation, which measured SUPER-linear (exponent
    * 1.14) at the sf0.1→sf1 decade, while this kernel keeps encode a
    * pure map — zero shuffles — and restores linear scaling. Min-code
    * tie-break = first-hit-wins scan order.
    *
    * The kernel reads the book in the layout [m][code][dim]. Code ids are
    * dense per subspace (fit's seed carry-over guarantees no cell ever
    * vanishes); a subspace with no codewords at all fails here with its
    * cause, not with a bare NoSuchElementException. */
  private def encodeUdf(book: Array[(Int, Int, Seq[Double])])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val byM = book.groupBy(_._1)
    val cb = (0 until M).toArray.map { m =>
      require(byM.contains(m), s"no codewords for subspace $m — the codebook " +
        "table is incomplete, or the vec_ids do not cover the stride sample")
      byM(m).sortBy(_._2).map(_._3.toArray)
    }
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
  }

  /** Codebook rows (m, code, cw), collected to the driver. */
  private def bookRows(df: DataFrame): Array[(Int, Int, Seq[Double])] =
    df.collect().map(r => (r.getAs[Int]("m"), r.getAs[Int]("code"),
      r.getAs[Seq[Double]]("cw")))

  private[similarity] def encode(sv: DataFrame, cbDf: DataFrame): DataFrame = {
    val kernel = encodeUdf(bookRows(cbDf))
    sv.select(col("vec_id"), col("m"),
      kernel(col("m"), col("sv")).as("code"))
  }

  /** Per-subspace Lloyd fit on the long-form frame: assignment is the
    * map-side kernel above; the only shuffle per iteration is the
    * centroid-update aggregation (posexplode → partial-agg avg). Codes
    * whose cell empties keep their previous codeword (seed carry-over)
    * so ids stay dense and the kernel layout stays rectangular.
    *
    * The book lives as a LOCAL array between iterations, which truncates
    * the lineage: it is small by construction (≤ M·codes rows ≈ 16 KB)
    * and is collected once per iteration anyway. Carried
    * as a DataFrame, iteration k's plan would contain iterations
    * 0..k-1's full sv aggregations, so every collect and the final
    * codebook write would replay them (OPTIMIZATION_r16.md, sf0.1: ~6
    * corpus-derived passes for a 2-iteration fit where 3 suffice). Each
    * iteration runs exactly ONE job over sv; the returned frame is a
    * local relation of (m, code, cw) rows. */
  def fitCodebook(sv: DataFrame, n: Long, codes: Int, iters: Int): DataFrame = {
    val s = sv.sparkSession
    val stride = math.max(1L, n / codes)
    var book = bookRows(sv
      .filter(col("vec_id") % stride === 0 && col("vec_id") / stride < codes)
      .select(col("m"), (col("vec_id") / stride).cast("int").as("code"),
        col("sv").as("cw")))
    for (_ <- 0 until iters) {
      val kernel = encodeUdf(book)
      val updated = bookRows(sv
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

  /** Fit once and persist normalized vectors, codebook and codes through
    * [[IndexManifest.build]]. */
  def fit(e: DataFrame, indexDir: String, iters: Int = 2): Unit = {
    val s = e.sparkSession
    graft.GraftExtensions.ensureRegistered(s)
    IndexManifest.build(s, indexDir,
        Map("family" -> "pq-adc", "m" -> M.toString)) { b =>
      val (en, n) = writeVectors(e, b)
      val sv = subvectors(en)
      val codes = chooseCodes(n)
      b.param("codes", codes.toString)
      val book = b.write("codebook", fitCodebook(sv, n, codes, iters))
      b.write("codes", encode(sv, book))
    }
  }

  /** Code new vectors against the frozen codebook and append — the
    * ingest path; the codebook is never refit here. */
  def append(s: SparkSession, indexDir: String, newVecs: DataFrame): Unit = {
    graft.GraftExtensions.ensureRegistered(s)
    val index = IndexManifest.open(s, indexDir,
      Map("family" -> "pq-adc"), "AnnPq.append")
    val nv = normalized(newVecs)
    index.append("vectors" -> nv,
      "codes" -> encode(subvectors(nv.select(col("vec_id"), col("nemb").as("emb"))),
        index.table("codebook")))
  }

  /** ADC search: q = (qid, qemb) → the top-`topK` rows (qid, cand_id,
    * cos_sim, rn) per query, as [[adcSearch]] scores and ranks them.
    * Rows are NOT ordered across queries, and no caller may rely on row
    * order: sort on (qid, rn) if you need it. */
  def search(s: SparkSession, indexDir: String, q: DataFrame,
      topK: Int = TOP_K): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    val index = IndexManifest.open(s, indexDir,
      Map("family" -> "pq-adc"), "AnnPq.search")
    adcSearch(normalizedQueries(q), index.table("codebook"), index.table("codes"),
      index.table("vectors"), cells = None, topK)
  }

  /** The ADC search PQ and IVF-PQ share, as the class doc's Search
    * paragraph describes it: lookup table, approximate score, a
    * `topK`·RERANK_FACTOR shortlist, exact rerank, ranked by
    * [[AnnIvf.topKPerQuery]]. `qn` holds the (qid, qn) unit-normalized
    * queries. `cells` holds IVF-PQ's per-query candidates (qid, vec_id,
    * qcsim): only their codes are scored, and the coarse term qcsim is
    * added to the lookup sum. Without it every coded vector but the
    * query's own is scored. */
  private[similarity] def adcSearch(qn: DataFrame, cb: DataFrame,
      codesT: DataFrame, vectors: DataFrame, cells: Option[DataFrame],
      topK: Int): DataFrame = {
    val qsv = subvectors(qn.select(col("qid").as("vec_id"), col("qn").as("emb")))
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
    val lut = qsv.join(broadcast(cb), "m")
      .select(col("qid"), col("m"), col("code"),
        DotProduct.dot(col("qsv"), col("cw")).as("pd"))
    val approx = cells match {
      case None =>
        codesT.join(broadcast(lut), Seq("m", "code"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("pd")).as("approx_sim"))
          .filter(col("vec_id") =!= col("qid"))
      case Some(c) =>
        c.join(codesT, "vec_id")
          .join(broadcast(lut), Seq("qid", "m", "code"))
          .groupBy(col("qid"), col("vec_id"))
          .agg((first(col("qcsim")) + sum(col("pd"))).as("approx_sim"))
    }
    val shortlist = AnnIvf.topKPerQuery(approx, topK * RERANK_FACTOR,
        score = "approx_sim", id = "vec_id")
      .select(col("qid"), col("vec_id"))
    AnnIvf.topKPerQuery(shortlist.join(vectors, "vec_id").join(qn, "qid")
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(DotProduct.dot(col("qn"), col("nemb")), 6).as("cos_sim")), topK)
  }

  /** Registry query ([[AnnIvf.fitOnceSearchOnce]]). */
  def query(s: SparkSession, dir: String): DataFrame =
    AnnIvf.fitOnceSearchOnce(s, dir, "pq") { (e, idx) =>
      fit(e, idx, iters = 2)
      search(s, idx, _)
    }
}
