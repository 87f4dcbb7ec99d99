package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.IndexManifest

/** Random-hyperplane LSH approximate nearest neighbor — the second scale
  * path for similarity search (complements AnnIvf): fixed pseudo-random
  * hyperplanes turn each vector into a bit signature; signatures are split
  * into bands, vectors sharing any band bucket become candidates
  * (equi-join, never a cross join), and candidates are reranked exactly
  * with the native cosine expression.
  *
  * The band shape is the recall/cost dial and is now a first-class
  * parameter. With b bits per band a bucket holds ~N/2^b of the corpus, so
  * candidate volume scales as N²·bands/2^b: 2-bit bands ([[Loose]])
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

  /** Recall-ceiling shape for near-orthogonal corpora. Its 4-way buckets
    * make it near-all-pairs at scale — use only when the corpus is small or
    * neighbors are weakly similar AND exhaustive rerank is affordable. */
  val Loose = Shape(bands = 8, bitsPerBand = 2, multiProbe = 0)

  val TOP_K = 5

  private def planes(seed: Long, bits: Int, dim: Int): Array[Array[Double]] = {
    val rng = new graft.core.Rng(seed)
    Array.fill(bits, dim)(rng.nextSignedUnit())
  }

  /** Bit b of the signature = sign of ⟨v, plane_b⟩, as an int column.
    * Native graft_dot, never a higher-order-function fold: an interpreted
    * fold per plane — bands·bitsPerBand = 192 folds of dim 64 per corpus
    * row — made this the hottest stage of the index build
    * (OPTIMIZATION_r16.md: 3.7 s CPU of q_ann_lsh's 6.6 s at sf0.1).
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

  def query(s: SparkSession, dir: String, shape: Shape): DataFrame =
    AnnIvf.fitOnceSearchOnce(s, dir, "lsh") { (e, idx) =>
      buildIndex(e, idx, shape)
      search(s, idx, _, shape)
    }

  /** Index-contract fields ([[graft.core.IndexManifest]]): seed, band
    * shape and dim pin the hyperplane family — a mismatch on any of them
    * makes stored and probed signatures unrelated (silently zero recall),
    * so append/search check them before touching the bucket table.
    * multiProbe is deliberately NOT part of the contract: it is a
    * query-side knob. */
  private def manifestFields(shape: Shape, seed: Long, dim: Int): Map[String, String] =
    Map("family" -> "lsh-hyperplane", "seed" -> seed.toString,
      "bands" -> shape.bands.toString,
      "bits_per_band" -> shape.bitsPerBand.toString, "dim" -> dim.toString)

  /** Persist the LSH index: the vectors table and the data-side bucket
    * table. Build once per corpus version; every [[search]] equi-joins
    * against the buckets without re-hashing the corpus.
    *
    * Buckets store keys, never payloads: (vec_id, band, sig) only, and the
    * rerank fetches vectors by id from the once-stored vectors table. An
    * emb array on each of the `bands` rows per vector would be a 16×
    * payload duplication in the stored table, the band-join shuffle AND
    * the candidate distinct (~550 B rows deduped instead of 16 B id
    * pairs). */
  def buildIndex(e: DataFrame, indexDir: String, shape: Shape = Sharp,
      seed: Long = 7L, dim: Int = 64): Unit =
    IndexManifest.build(e.sparkSession, indexDir,
        manifestFields(shape, seed, dim)) { b =>
      b.write("vectors", e.select(col("vec_id"), col("emb")))
      b.write("buckets", bucketRows(e, shape, seed, dim))
    }

  /** Incremental update: bucket ONLY the new vectors (same planes — the
    * hash family is the index contract) and parquet-append; existing
    * bucket files are untouched. */
  def append(indexDir: String, newVecs: DataFrame, shape: Shape = Sharp,
      seed: Long = 7L, dim: Int = 64): Unit =
    IndexManifest.open(newVecs.sparkSession, indexDir,
        manifestFields(shape, seed, dim), "AnnLsh.append")
      .append("vectors" -> newVecs.select(col("vec_id"), col("emb")),
        "buckets" -> bucketRows(newVecs, shape, seed, dim))

  /** The stored bucket rows (vec_id, band, sig) of data-side vectors. */
  private def bucketRows(e: DataFrame, shape: Shape, seed: Long, dim: Int): DataFrame =
    bucketed(e, shape, probe = false, seed, dim).select("vec_id", "band", "sig")

  /** Probe a persisted index with queries (qid, qemb): hash ONLY the
    * queries (plus their multi-probe flips), bucket-join against the
    * stored corpus table, rerank exactly. Returns the top-`topK` rows
    * (qid, cand_id, cos_sim, rn) per query, ranked as
    * [[AnnIvf.topKPerQuery]] ranks them. Rows are NOT ordered across
    * queries, and no caller may rely on row order: sort on (qid, rn) if
    * you need it. */
  def search(s: SparkSession, indexDir: String, queries: DataFrame,
      shape: Shape = Sharp, topK: Int = TOP_K,
      seed: Long = 7L, dim: Int = 64): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    val index = IndexManifest.open(s, indexDir,
      manifestFields(shape, seed, dim), "AnnLsh.search")
    val vectors = index.table("vectors")
    // qemb rides the QUERY side of the bucket join (it is probe-fan-out ×
    // |queries| rows — tiny by construction), so the queries frame is
    // scanned exactly once; the corpus side carries ids only. The
    // candidate distinct dedupes before the vectors join fetches each
    // candidate's embedding once.
    val qb = bucketed(queries.select(col("qid").as("vec_id"), col("qemb").as("emb")),
        shape, probe = true, seed, dim)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("band"), col("sig"))
    val cands = qb.join(index.table("buckets"), Seq("band", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qemb"), col("vec_id").as("cand_id"))
      .distinct()
    AnnIvf.topKPerQuery(cands.join(vectors, col("cand_id") === vectors("vec_id"))
      .select(col("qid"), col("cand_id"),
        round(graft.functions.CosineSimilarity.cosine(col("qemb"), col("emb")), 6)
          .as("cos_sim")), topK)
  }
}
