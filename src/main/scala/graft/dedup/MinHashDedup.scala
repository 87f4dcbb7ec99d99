package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{IndexManifest, Materialize, TempDirs}
import graft.core.Tables._
import graft.functions.MinHash

/** MinHash + LSH near-duplicate detection — the 100 TB scale path for
  * Q31's exact token-Jaccard pairs (SURVEY.md §2B Q43).
  *
  * Pipeline (all equi-join shuffles, never a global cross join):
  *   1. sign: one row per document with its distinct shingles' 64-bit
  *      hashes (`hs`, xxhash64) and the native `graft_minhash(hs)`
  *      signature of NUM_HASHES universal-hash minima — no explode, no
  *      shuffle ([[signatures]])
  *   2. signature → BANDS bands of ROWS_PER_BAND values; band signature =
  *      xxhash64 of the band's values
  *   3. candidate pairs = docs sharing any (block, band, signature)
  *      bucket — a self-equi-join on the bucket key. The (lang, source)
  *      block key mirrors Q31's blocking and bounds bucket sizes.
  *   4. exact Jaccard rerank of candidates only: |A∩B| =
  *      size(array_intersect) of the two rows' `hs`, keep pairs ≥
  *      threshold
  *
  * The signature rows are the whole index: a persisted index is one
  * `sigs` table, and steps 2–4 read nothing else.
  *
  * Precondition: `doc_id` is unique in the input, as it is in
  * `documents`. Rows are signed one by one, so two rows with one id would
  * both enter the band join as the same document.
  *
  * Band shape 16×2 gives candidate probability 1-(1-j²)¹⁶ — ≈ 0.990 at
  * j = 0.5 and ≥ 0.9998 at j = 0.65, so recall vs the exact Q31 pairs
  * stays well above the 0.9 gate (asserted in the spec) at half the
  * signature cost of a 64-hash family.
  * Determinism: fixed seed → fixed (a_i, b_i); no RNG at runtime.
  */
object MinHashDedup {
  val NUM_HASHES: Int = MinHash.NumHashes
  val BANDS = 16
  val ROWS_PER_BAND: Int = NUM_HASHES / BANDS

  /** Word w-shingles of the text column as an array (w = 1 → tokens).
    * Docs shorter than w yield an empty array (sequence() would otherwise
    * count downward on a negative span). A NULL text reads as "", so the
    * array is never NULL. */
  private def shingles(shingleSize: Int) = {
    val toks = filter(split(coalesce(col("text"), lit("")), " "), _ =!= "")
    if (shingleSize <= 1) toks
    else when(size(toks) >= shingleSize,
      transform(
        sequence(lit(0), size(toks) - shingleSize),
        i => concat_ws(" ", slice(toks, i + 1, lit(shingleSize)))))
      .otherwise(array())
  }

  /** One row per doc: (doc_id, lang, source, mh_0..mh_{NUM_HASHES-1},
    * n_toks, hs). `hs` holds the xxhash64 of each distinct shingle
    * (shingleSize = 1 gives plain tokens, what the exact Q31 oracle uses;
    * w > 1 gives word w-shingles, the standard unit for web-scale near-dup
    * where unigram overlap is too forgiving), n_toks = |hs| and the mh_*
    * values are `graft_minhash(hs)`. A doc with no shingle gets no row, so
    * no Jaccard denominator n1 + n2 − |A∩B| can be 0. */
  def signatures(docs: DataFrame, seed: Long = MinHash.DefaultSeed,
      shingleSize: Int = 1): DataFrame = {
    graft.GraftExtensions.ensureRegistered(docs.sparkSession)
    val keys = Seq(col("doc_id"), col("lang"), col("source"))
    val hashed = docs
      .select(keys :+ transform(array_distinct(shingles(shingleSize)),
        t => xxhash64(t)).as("hs"): _*)
      .filter(size(col("hs")) > 0)
    // graft_minhash is evaluated once per row in its own projection; the
    // NUM_HASHES element reads project from it.
    val signed = hashed.select(keys ++ Seq(
      call_function("graft_minhash", col("hs"), lit(seed)).as("mh"), col("hs")): _*)
    signed.select(keys ++ (0 until NUM_HASHES).map(i => col("mh")(i).as(s"mh_$i")) ++
      Seq(size(col("hs")).cast("long").as("n_toks"), col("hs")): _*)
  }

  /** (doc_id, block keys, band, band_sig) — LSH bucket keys. */
  def bandSignatures(sigs: DataFrame): DataFrame = {
    val bandCols: Seq[Column] = (0 until BANDS).map { b =>
      val slice = (0 until ROWS_PER_BAND).map(r => col(s"mh_${b * ROWS_PER_BAND + r}"))
      struct(lit(b).as("band"), xxhash64(concat_ws("_", slice: _*)).as("sig"))
    }
    sigs.select(col("doc_id"), col("lang"), col("source"),
        explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Per-task bucket-size cap for [[candidatePairs]]. A degenerate hot
    * bucket (boilerplate corpus: thousands of docs sharing one band
    * signature in one (lang, source) block) makes the plain self-join emit
    * all B²/2 of that bucket's pairs inside ONE task — the classic skew
    * straggler/OOM at 100 TB. Buckets above the cap are salted into a
    * g = ⌈B/cap⌉-way triangle of cells so the same pair set is produced by
    * g(g+1)/2 tasks of ≤ ~cap members per side each. */
  val DEFAULT_MAX_BUCKET = 1024

  /** Candidate pairs (id1 < id2) from shared LSH buckets within a block.
    *
    * Skew-hardened self-join: each bucket row learns its bucket size and a
    * deterministic salt in [0, g). The x side replicates into triangle
    * cells (salt, j≥salt), the y side into (i≤salt, salt); equi-joining on
    * (bucket, cell) then yields every unordered pair exactly once per
    * bucket — cross-salt pairs once in their (min, max) salt cell, and
    * same-salt pairs on the diagonal under the doc_id< predicate. g = 1
    * (every bucket under the cap) degenerates to the plain single-cell
    * self-join, so unskewed corpora pay only the bucket-count aggregation.
    * The pair SET is identical for any cap — asserted in
    * MinHashSkewSpec — only the per-task bound changes. */
  def candidatePairs(bands: DataFrame,
      maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    // Singleton buckets (bcnt = 1) cannot produce a pair — drop them
    // before either join side replicates/explodes. At web scale the vast
    // majority of band buckets are singletons, so this prunes most of the
    // self-join input for free (bcnt already rides the window exchange);
    // the pair set is unchanged (a pair needs 2 docs in one bucket).
    val salted = saltedCells(bands, maxBucket).filter(col("bcnt") >= 2)
    val x = salted.select(col("lang"), col("source"), col("band"), col("sig"),
      col("doc_id"), col("salt").as("cell_i"),
      explode(sequence(col("salt"), col("g") - 1)).as("cell_j"))
    val y = salted.select(col("lang"), col("source"), col("band"), col("sig"),
      col("doc_id"), col("salt").as("cell_j"),
      explode(sequence(lit(0), col("salt"))).as("cell_i"))
    x.as("x").join(y.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.cell_i") === col("y.cell_i") && col("x.cell_j") === col("y.cell_j") &&
        (col("x.cell_i") =!= col("x.cell_j") || col("x.doc_id") < col("y.doc_id")))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id2"))
      .distinct()
  }

  /** Bucket rows annotated with (g, salt): g = ⌈bucket size / cap⌉ split
    * ways, salt = deterministic hash of doc_id into [0, g). Exposed for
    * the skew spec, which bounds per-cell membership directly.
    *
    * bcnt is a window count over the bucket key, not a separate
    * groupBy + equi-join back onto the rows: the window rides ONE hash
    * exchange of the band table instead of aggregating it a second time
    * and shuffling the join, so an unskewed corpus pays no extra shuffle
    * for the skew insurance (the groupBy + join shape took q43 from 3.77
    * to 5.14 s). */
  private[graft] def saltedCells(bands: DataFrame, maxBucket: Int): DataFrame = {
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source", "band", "sig")
    bands
      .withColumn("bcnt", count(lit(1)).over(bucket))
      .withColumn("g", ceil(col("bcnt") / lit(maxBucket.toDouble)).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), col("g")).cast("int"))
  }

  /** Full pipeline: candidates reranked with exact Jaccard ≥ threshold
    * over the same shingle unit the signatures used. Returns (id1 < id2,
    * jaccard) rows as [[pairs]] does: unordered, so no caller may rely on
    * row order (sort on (id1, id2) if you need it).
    *
    * The signature rows are materialized once: they feed both band-join
    * sides and both rerank sides, and each consumer would otherwise
    * re-read and re-sign the corpus. */
  def nearDuplicates(docs: DataFrame, threshold: Double = 0.5,
      seed: Long = MinHash.DefaultSeed, shingleSize: Int = 1): DataFrame = {
    requirePositive(threshold)
    pairs(Materialize(signatures(docs, seed, shingleSize), "minhash-sigs"), threshold)
  }

  /** Index-contract manifest fields for [[graft.core.IndexManifest]]: the
    * parameters that must match between build and every later
    * append/search, or band buckets and signatures silently diverge.
    * `layout` names the one-`sigs`-table layout; an index in another
    * layout (a separate token table) is refused with a rebuild message. */
  private def manifestFields(seed: Long, shingleSize: Int): Map[String, String] =
    readFields ++ Map("seed" -> seed.toString, "shingle_size" -> shingleSize.toString)

  /** The fields every read checks: seed and shingle unit are baked into
    * the stored rows, so only the family, band shape and layout are
    * checkable there. */
  private val readFields: Map[String, String] =
    Map("family" -> "minhash-lsh", "layout" -> "doc-rows",
      "num_hashes" -> NUM_HASHES.toString, "bands" -> BANDS.toString)

  /** Persist the minhash index: the [[signatures]] rows, one per
    * document, in one `sigs` table. This is the only time the raw corpus
    * is touched; every near-dup query (banding, rerank, sizes) is
    * answered from this table. */
  def buildIndex(docs: DataFrame, indexDir: String, seed: Long = MinHash.DefaultSeed,
      shingleSize: Int = 1): Unit =
    IndexManifest.build(docs.sparkSession, indexDir,
        manifestFields(seed, shingleSize)) { b =>
      b.write("sigs", signatures(docs, seed, shingleSize))
    }

  /** Incremental update: sign ONLY the new docs (same hash family — the
    * index contract) and parquet-append their rows; the existing corpus
    * is never re-read. New-vs-old near-dup pairs then fall out of the
    * next pairsFromIndex call's band join. */
  def appendToIndex(newDocs: DataFrame, indexDir: String, seed: Long = MinHash.DefaultSeed,
      shingleSize: Int = 1): Unit =
    // Fail fast on a family mismatch: appending rows signed with a
    // different seed/shingle unit would not error — it would just stop
    // old-vs-new pairs from ever sharing a band bucket.
    IndexManifest.open(newDocs.sparkSession, indexDir,
        manifestFields(seed, shingleSize), "MinHashDedup.appendToIndex")
      .append("sigs" -> signatures(newDocs, seed, shingleSize))

  /** Near-dup pairs served ENTIRELY from a persisted index: banding, the
    * bucket self-join and the exact rerank all read the stored `sigs`
    * table — no job touches the raw corpus. Rows are unordered, as
    * [[pairs]] returns them. */
  def pairsFromIndex(s: SparkSession, indexDir: String,
      threshold: Double = 0.5): DataFrame = {
    requirePositive(threshold)
    pairs(IndexManifest.open(s, indexDir, readFields, "MinHashDedup.pairsFromIndex")
      .table("sigs"), threshold)
  }

  private def requirePositive(threshold: Double): Unit =
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are never emitted)")

  /** The one pair pipeline over signature rows: the band self-join, a
    * barrier that writes the candidates and counts them in the same job,
    * and the exact rerank. The barrier's count decides whether the rerank
    * needs its hub salting at all ([[intersections]]). The (id1 < id2,
    * jaccard) rows are NOT sorted: no caller may rely on row order (sort
    * on (id1, id2) if you need it). A terminal sort would cost every pair
    * read a range-partitioning exchange plus its sampling job, and at
    * scale range-shuffle the whole pair set. */
  private def pairs(sigs: DataFrame, threshold: Double): DataFrame = {
    val (cands, n) = Materialize.observed[Long](candidatePairs(bandSignatures(sigs)),
      TempDirs.create("graft-mat-minhash-cands"), count(lit(1)))
    intersections(cands, n, sigs)
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-document fan-out cap for the exact rerank. A hub doc appearing
    * in ~10⁴ candidate pairs concentrates ALL of its pair rows in the one
    * task owning its id1 hash, each row carrying its shingle array — the
    * same straggler class candidatePairs was salted against, one join
    * later. */
  val DEFAULT_MAX_PAIR_FANOUT = 4096

  /** Docs whose candidate fan-out (pairs as id1) exceeds the cap, with
    * their split count gs = ⌈fan / cap⌉. ≤ |pairs|/cap rows by
    * construction — always broadcastable. */
  private[graft] def hubFanouts(cands: DataFrame, maxFanout: Int): DataFrame =
    cands.groupBy("id1").agg(count(lit(1)).as("fan"))
      .filter(col("fan") > maxFanout)
      .select(col("id1").as("hub_id"),
        ceil(col("fan") / lit(maxFanout.toDouble)).cast("int").as("gs"))

  /** Candidate pairs annotated with a rerank salt: hub pairs spread over
    * [0, gs) by a deterministic hash of the OTHER doc id, everything else
    * salt 0. Exposed for the skew spec, which bounds per-(id1, salt) cell
    * membership directly. */
  private[graft] def saltedPairs(cands: DataFrame, hubs: DataFrame): DataFrame =
    cands.join(broadcast(hubs), col("id1") === col("hub_id"), "left")
      .withColumn("salt",
        pmod(xxhash64(col("id2")), coalesce(col("gs"), lit(1))).cast("int"))
      .select("id1", "id2", "salt")

  /** (id1, id2, inter = |A∩B|, n1, n2) per candidate pair: each pair
    * joins the (doc_id, n_toks, hs) rows of `sigs` on id1 and on id2, and
    * |A∩B| is the size of the two `hs` arrays' intersection.
    *
    * The id1 join is hub-salted: a hub doc's one row is replicated gs
    * ways and its pairs spread over the copies ([[saltedPairs]]), so no
    * task receives more than ~cap pairs for any one doc. A doc's fan-out
    * is at most `nCands`, the candidate count, so when `nCands` ≤ the cap
    * the hub table is empty by construction and the plan joins on id1
    * alone, with no fan-out aggregate. The counts are identical on both
    * branches and for every cap (asserted in MinHashRerankSkewSpec and
    * MinHashRerankPropertySpec). The id2 side is dispersed by the pairs'
    * own spread and needs no salt. `cands` is read twice on the salted
    * branch (fan-out count + join side), so callers pass a materialized
    * frame. */
  private[graft] def intersections(cands: DataFrame, nCands: Long, sigs: DataFrame,
      maxFanout: Int = DEFAULT_MAX_PAIR_FANOUT): DataFrame = {
    def side(k: Int) = sigs.select(col("doc_id").as(s"id$k"),
      col("n_toks").as(s"n$k"), col("hs").as(s"hs$k"))
    val withId1 =
      if (nCands <= maxFanout) cands.select("id1", "id2").join(side(1), "id1")
      else {
        val hubs = hubFanouts(cands, maxFanout)
        val copies = side(1)
          .join(broadcast(hubs), col("id1") === col("hub_id"), "left")
          .withColumn("salt",
            explode(sequence(lit(0), coalesce(col("gs"), lit(1)) - 1)))
          .drop("hub_id", "gs")
        saltedPairs(cands, hubs).join(copies, Seq("id1", "salt"))
      }
    withId1.join(side(2), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("hs1"), col("hs2"))).as("inter"),
        col("n1"), col("n2"))
  }

  /** Registry entry (rows-only driver check; recall vs Q31 in the spec). */
  def query(s: SparkSession, dir: String): DataFrame =
    nearDuplicates(t(s, dir, "documents"))
}
