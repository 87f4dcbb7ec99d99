package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Random-hyperplane LSH approximate nearest neighbor — the second scale
  * path for similarity search (complements AnnIvf): fixed pseudo-random
  * hyperplanes turn each vector into a bit signature; signatures are split
  * into bands, vectors sharing any band bucket become candidates
  * (equi-join, never a cross join), and candidates are reranked exactly
  * with the native cosine expression.
  *
  * The band shape is the recall/cost dial and is now a first-class
  * parameter. With b bits per band a bucket holds ~N/2^b of the corpus, so
  * candidate volume scales as N²·bands/2^b: 2-bit bands (round-1 shape)
  * are near-all-pairs at scale, while the default [[Sharp]] shape
  * (12-bit bands) keeps buckets at ~N/4096. Sharp bands lose recall on
  * weakly-similar corpora, which multi-probe recovers for free on the
  * query side: each query also probes every bucket whose band signature
  * differs by one bit (bands·bitsPerBand extra lookups per query, zero
  * extra data-side state — Lv et al., "Multi-Probe LSH", VLDB'07).
  *
  * Hyperplane coefficients come from a fixed-seed SplitMix64 stream mapped
  * to [-1, 1] — deterministic across runs and engines, no RNG at runtime.
  * For sign bits only the hyperplane direction matters, so uniform
  * components are as good as Gaussian ones at dim 64.
  *
  * Recall at BOTH shapes and the Sharp candidate-pair bound (≪ N²/4) are
  * asserted in AnnLshSpec.
  */
object AnnLsh {
  /** bands × bitsPerBand sign bits; multiProbe is the Hamming radius
    * probed on the query side (0 = exact bucket only, 1 = all one-bit
    * flips, 2 = also all two-bit flips, …). Probe count per band grows as
    * Σ_{r≤radius} C(bitsPerBand, r) — radius 2 at 12-bit bands is 79
    * lookups/band vs 13 at radius 1, still query-side-only cost. */
  final case class Shape(bands: Int, bitsPerBand: Int, multiProbe: Int) {
    require(multiProbe >= 0 && multiProbe <= bitsPerBand,
      "multiProbe radius must be in [0, bitsPerBand]")
    val signBits: Int = bands * bitsPerBand
  }

  /** Scale-sane default: 4096-way buckets, one-bit multi-probe. */
  val Sharp = Shape(bands = 16, bitsPerBand = 12, multiProbe = 1)

  /** Sharp buckets with radius-2 probing — the next notch on the
    * recall/cost dial for clustered corpora where radius 1 misses
    * neighbors two sign-flips away; data-side state is unchanged. */
  val Sharp2 = Shape(bands = 16, bitsPerBand = 12, multiProbe = 2)

  /** Recall-ceiling shape for near-orthogonal corpora (the round-1 shape).
    * Near-all-pairs at scale — use only when the corpus is small or
    * neighbors are weakly similar AND exhaustive rerank is affordable. */
  val Loose = Shape(bands = 8, bitsPerBand = 2, multiProbe = 0)

  val TOP_K = 5

  private def planes(seed: Long, bits: Int, dim: Int): Array[Array[Double]] = {
    val rng = new graft.core.Rng(seed)
    Array.fill(bits, dim)(rng.nextSignedUnit())
  }

  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine(a, b)

  /** Bit b of the signature = sign of ⟨v, plane_b⟩, as an int column.
    * Native graft_dot (optimization r16, guide §4): the HOF spelling paid
    * an interpreted fold per plane — bands·bitsPerBand = 192 folds of
    * dim 64 per corpus row was the single hottest stage of the index
    * build (OPTIMIZATION_r16.md: 3.7 s CPU of q_ann_lsh's 6.6 s at sf0.1).
    * Same accumulation order, bit-identical signs. */
  private def signatureBits(emb: Column, ps: Array[Array[Double]]): Seq[Column] =
    ps.toSeq.map { plane =>
      val planeCol = array(plane.map(lit).toIndexedSeq: _*)
      (graft.functions.DotProduct.dot(emb, planeCol) > 0).cast("int")
    }

  /** (vec_id, emb, band, sig) bucket rows. With probe=true additionally
    * emits, per band, every probe signature within Hamming radius
    * shape.multiProbe of the exact band signature (multi-probe: query side
    * only — the data side always stores exact buckets).
    *
    * The signBits hyperplane dot products are materialized ONCE into an
    * array column *below* the band/flip generators — the per-variant sig
    * is then plain array slicing. Building each variant's sig directly
    * from the dot-product expressions would replicate every 64-dim fold
    * bands×(1+bitsPerBand) times (CollapseProject cannot deduplicate
    * across an exploded struct array); Generate nodes pass the
    * materialized column through untouched. */
  def bucketed(e: DataFrame, shape: Shape = Sharp, probe: Boolean = false,
               seed: Long = 7L, dim: Int = 64): DataFrame = {
    // signatureBits evaluates the graft_dot call_function (same contract
    // as the cosine sites: resolution needs the session registration).
    graft.GraftExtensions.ensureRegistered(e.sparkSession)
    val ps = planes(seed, shape.signBits, dim)
    val withBits = e.select(col("vec_id"), col("emb"),
      array(signatureBits(col("emb"), ps): _*).as("bits"))
    // Probe flip sets: all bit-position subsets of size ≤ multiProbe
    // (combinations(0) = the empty set = the exact bucket). Generated
    // driver-side as literals — per band this is a fixed small constant
    // (79 at 12-bit/radius-2), never data-dependent.
    val flipSets: Seq[Seq[Int]] =
      (0 to (if (probe) shape.multiProbe else 0))
        .flatMap(r => (0 until shape.bitsPerBand).combinations(r).map(_.toSeq))
    // slice() is 1-based; flip positions are 0-based within the band.
    // transform's index arg i is 0-based over the band slice.
    val bandSlice = expr(s"slice(bits, band * ${shape.bitsPerBand} + 1, ${shape.bitsPerBand})")
    val sig = concat_ws("",
      transform(bandSlice, (x, i) =>
        when(array_contains(col("flips"), i), lit(1) - x).otherwise(x).cast("string")))
    withBits
      .select(col("vec_id"), col("emb"), col("bits"),
        explode(sequence(lit(0), lit(shape.bands - 1))).as("band"))
      .select(col("vec_id"), col("emb"), col("bits"), col("band"),
        explode(array(flipSets.map(fs =>
          array(fs.map(i => lit(i)): _*).cast("array<int>")): _*)).as("flips"))
      .select(col("vec_id"), col("emb"), col("band"), sig.as("sig"))
  }

  /** Distinct candidate pairs (a < b) the shape would rerank over the whole
    * corpus — the cost side of the recall/cost dial; asserted ≪ N²/4 for
    * [[Sharp]] in AnnLshSpec. */
  def candidatePairs(e: DataFrame, shape: Shape): Long = {
    val b = bucketed(e, shape)
    val l = b.select(col("band"), col("sig"), col("vec_id").as("a"))
    val r = b.select(col("band"), col("sig"), col("vec_id").as("b"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
  }

  def query(s: SparkSession, dir: String): DataFrame = query(s, dir, Sharp)

  def query(s: SparkSession, dir: String, shape: Shape): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // Registry shape = build-once-search-once through a scratch index dir
    // (the persisted path a production pipeline takes).
    val idx = graft.core.TempDirs.create("graft-lsh-idx")
    buildIndex(e, idx, shape)
    search(s, idx, e.filter(col("vec_id") < 10), shape)
  }

  /** Persist the data-side bucket table — the LSH index. Build once per
    * corpus version; every [[search]] equi-joins against it without
    * re-hashing the corpus. */
  /** Index-contract fields ([[graft.core.IndexManifest]]): seed, band
    * shape and dim pin the hyperplane family — a mismatch on any of them
    * makes stored and probed signatures unrelated (silently zero recall),
    * so append/search verify before touching the bucket table. multiProbe
    * is deliberately NOT part of the contract: it is a query-side knob. */
  private def manifestFields(shape: Shape, seed: Long, dim: Int): Map[String, String] =
    Map("family" -> "lsh-hyperplane", "seed" -> seed.toString,
      "bands" -> shape.bands.toString,
      "bits_per_band" -> shape.bitsPerBand.toString, "dim" -> dim.toString,
      // Layout version (ADVICE r16): r16 split the index into
      // vectors/ + payload-free buckets/ — an index written by pre-split
      // code has no vectors/ table, and without this field it would pass
      // verify() and then fail search with a path error instead of the
      // contract error the manifest check exists to give.
      "layout" -> "split-v2")

  def buildIndex(e: DataFrame, indexDir: String, shape: Shape = Sharp,
      seed: Long = 7L, dim: Int = 64): Unit = {
    // Invalidate FIRST (see IndexManifest.invalidate): rebuilds must not
    // leave a stale manifest over a partially overwritten bucket table.
    graft.core.IndexManifest.invalidate(e.sparkSession, indexDir)
    // Index layout split (optimization r16, guide §2.3 "shuffle keys and
    // metadata instead of payloads"): bucket rows used to carry the full
    // emb array on every one of the `bands` rows per vector — a 16×
    // payload duplication in the stored table, the band-join shuffle AND
    // the candidate distinct (which deduped ~550 B rows instead of 16 B
    // id pairs). Buckets now store (vec_id, band, sig) only; the rerank
    // fetches vectors by id from the once-stored vectors table.
    // Vectors BEFORE buckets (the AnnPq two-table canon): an orphan
    // vector row after a crash is unreachable, while an orphan BUCKET row
    // would silently drop from the rerank join.
    e.select(col("vec_id"), col("emb"))
      .write.mode("overwrite").parquet(s"$indexDir/vectors")
    bucketed(e, shape, probe = false, seed, dim)
      .select("vec_id", "band", "sig")
      .write.mode("overwrite").parquet(s"$indexDir/buckets")
    // Manifest LAST: presence certifies a complete bucket table.
    graft.core.IndexManifest.write(e.sparkSession, indexDir,
      manifestFields(shape, seed, dim))
  }

  /** Incremental update: bucket ONLY the new vectors (same planes — the
    * hash family is the index contract) and parquet-append; existing
    * bucket files are untouched. */
  def append(indexDir: String, newVecs: DataFrame, shape: Shape = Sharp,
      seed: Long = 7L, dim: Int = 64): Unit = {
    graft.core.IndexManifest.verify(newVecs.sparkSession, indexDir,
      manifestFields(shape, seed, dim), "AnnLsh.append")
    // Vectors before buckets — same crash-ordering rationale as buildIndex.
    newVecs.select(col("vec_id"), col("emb"))
      .write.mode("append").parquet(s"$indexDir/vectors")
    bucketed(newVecs, shape, probe = false, seed, dim)
      .select("vec_id", "band", "sig")
      .write.mode("append").parquet(s"$indexDir/buckets")
  }

  /** Probe a persisted index with query vectors (vec_id, emb): hash ONLY
    * the queries (plus their one-bit multi-probe flips), bucket-join
    * against the stored corpus table, rerank exactly. */
  def search(s: SparkSession, indexDir: String, queries: DataFrame,
      shape: Shape = Sharp, topK: Int = TOP_K,
      seed: Long = 7L, dim: Int = 64): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    graft.core.IndexManifest.verify(s, indexDir,
      manifestFields(shape, seed, dim), "AnnLsh.search")
    val buckets = s.read.parquet(s"$indexDir/buckets")
    val vectors = s.read.parquet(s"$indexDir/vectors")
    // qemb rides the QUERY side of the bucket join (it is probe-fan-out ×
    // |queries| rows — tiny by construction), so the queries frame is
    // scanned exactly once; only the corpus-side payload was removed
    // (optimization r16). The candidate distinct still dedupes before the
    // vectors join fetches each candidate's embedding once.
    val qb = bucketed(queries, shape, probe = true, seed, dim)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("band"), col("sig"))
    val cands = qb.join(buckets, Seq("band", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qemb"), col("vec_id").as("cand_id"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), asc("cand_id"))
    cands.join(vectors, col("cand_id") === vectors("vec_id"))
      .select(col("qid"), col("cand_id"),
        round(cosine(col("qemb"), col("emb")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .orderBy("qid", "rn")
  }
}
