package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.IndexManifest
import graft.core.Tables._

/** MinHash + LSH near-duplicate detection — the 100 TB scale path for
  * Q31's exact token-Jaccard pairs (SURVEY.md §2B Q43).
  *
  * Pipeline (all equi-join shuffles, never a global cross join):
  *   1. tokenize → distinct (doc, token) pairs
  *   2. token → 64-bit hash (xxhash64), then NUM_HASHES universal-hash
  *      permutations h_i(x) = (a_i·x + b_i) mod p, min per doc — computed
  *      as one groupBy with NUM_HASHES min() aggregates (single shuffle)
  *   3. signature → BANDS bands of ROWS_PER_BAND values; band signature =
  *      xxhash64 of the band's values
  *   4. candidate pairs = docs sharing any (block, band, signature)
  *      bucket — a self-equi-join on the bucket key. The (lang, source)
  *      block key mirrors Q31's blocking and bounds bucket sizes.
  *   5. exact Jaccard rerank of candidates only (array_intersect on the
  *      per-doc distinct token arrays), keep pairs ≥ threshold
  *
  * Band shape 16×2 gives candidate probability 1-(1-j²)¹⁶ — ≈ 0.990 at
  * j = 0.5 and ≥ 0.9998 at j = 0.65, so recall vs the exact Q31 pairs
  * stays well above the 0.9 gate (asserted in the spec) at half the
  * signature cost of a 64-hash family.
  * Determinism: fixed seed → fixed (a_i, b_i); no RNG at runtime.
  */
object MinHashDedup {
  val NUM_HASHES = 32
  val BANDS = 16
  val ROWS_PER_BAND: Int = NUM_HASHES / BANDS
  /** Mersenne prime 2^31 - 1 — universal-hash modulus. 31-bit operands
    * keep h·a within a long (≤ 2^62), so the codegen'd integer math never
    * overflows under ANSI mode (Spark 4 default). */
  val PRIME: Long = (1L << 31) - 1

  /** Deterministic hash-family coefficients from the shared fixed-seed
    * SplitMix64 stream. */
  private def coeffs(seed: Long, n: Int): Array[(Long, Long)] = {
    val rng = new graft.core.Rng(seed)
    Array.fill(n)((
      (rng.nextLong() & Long.MaxValue) % PRIME | 1L,
      (rng.nextLong() & Long.MaxValue) % PRIME))
  }

  /** Word w-shingles of the text column as an array (w = 1 → tokens).
    * Docs shorter than w yield an empty array (sequence() would otherwise
    * count downward on a negative span). */
  private def shingles(shingleSize: Int) = {
    val toks = filter(split(col("text"), " "), _ =!= "")
    if (shingleSize <= 1) toks
    else when(size(toks) >= shingleSize,
      transform(
        sequence(lit(0), size(toks) - shingleSize),
        i => concat_ws(" ", slice(toks, i + 1, lit(shingleSize)))))
      .otherwise(array())
  }

  /** Distinct (doc_id, block keys, shingle) rows. shingleSize = 1 gives
    * plain tokens (what the exact Q31 oracle uses); w > 1 gives word
    * w-shingles, the standard unit for web-scale near-dup where unigram
    * overlap is too forgiving. */
  def tokens(docs: DataFrame, shingleSize: Int = 1): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(shingles(shingleSize))).as("tok"))
      .filter(col("tok") =!= "")

  /** One row per doc with the NUM_HASHES minhash signature values plus
    * n_toks = |distinct shingle set| — the set size rides the SAME single
    * shuffle as the signature (one extra count aggregate), so the exact
    * rerank never has to re-aggregate or re-ship token arrays. */
  def signatures(docs: DataFrame, seed: Long = 42L, shingleSize: Int = 1): DataFrame =
    signaturesOfHashes(hashedTokens(docs, shingleSize), seed)

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
    * jaccard) rows as [[finishPairs]] does: unordered, so no caller may
    * rely on row order (sort on (id1, id2) if you need it).
    *
    * The rerank never ships token ARRAYS (joining two array<string> sides
    * per candidate pair costs wide rows and a per-pair O(|A|+|B|) array
    * intersection). Instead: |A∩B| falls out of two
    * equi-joins over the flat (doc, token) rows restricted to candidate
    * docs followed by a partial-aggregable count, and |A|,|B| ride the
    * signature shuffle (n_toks). Jaccard = i / (n1 + n2 − i). Pairs with
    * empty intersection drop out of the count join — correct, since their
    * Jaccard is 0 < threshold. */
  def nearDuplicates(docs: DataFrame, threshold: Double = 0.5, seed: Long = 42L,
      shingleSize: Int = 1): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are never emitted)")
    // One-shot path: materialize ONLY the signature table (it feeds both
    // band-join sides plus the size lookup — without materialization the
    // 32-way min aggregation recomputes per consumer) and rerank from
    // inline tokenization. Persisting the token-hash table too (what
    // buildIndex does) costs a corpus-sized write that only pays off when
    // the index is queried more than once — measured at sf0.1, the write
    // is slower than the two extra tokenize passes it saves here.
    val sigs = graft.core.Materialize(
      signatures(docs, seed, shingleSize), "minhash-sigs")
    // Pair list materialized too: the rerank reads it twice (hub fan-out
    // count + join side) and a re-derivation would replay the whole band
    // self-join; the pairs table is tiny next to the corpus.
    val cands = graft.core.Materialize(
      candidatePairs(bandSignatures(sigs)), "minhash-cands")
    val toks = tokens(docs, shingleSize)
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    finishPairs(intersectionCounts(cands, toks), sigs, threshold)
  }

  /** Index-contract manifest fields for [[graft.core.IndexManifest]]: the
    * parameters that must match between build and every later
    * append/search, or band buckets and signatures silently diverge. */
  private def manifestFields(seed: Long, shingleSize: Int): Map[String, String] =
    Map("family" -> "minhash-lsh", "seed" -> seed.toString,
      "shingle_size" -> shingleSize.toString,
      "num_hashes" -> NUM_HASHES.toString, "bands" -> BANDS.toString)

  /** Persist the minhash index: the 64-bit token-hash table (one tokenize
    * pass — the only time the raw corpus is touched) and the signature
    * table computed FROM the persisted hashes. A production 100 TB
    * pipeline builds this once per corpus version; every near-dup query
    * (banding, rerank, sizes) is answered entirely from the index.
    * Persisting toks also collapses what used to be three tokenize passes
    * per query (signatures + both rerank sides) into one. */
  def buildIndex(docs: DataFrame, indexDir: String, seed: Long = 42L,
      shingleSize: Int = 1): Unit =
    IndexManifest.build(docs.sparkSession, indexDir,
        manifestFields(seed, shingleSize)) { b =>
      val toks = b.write("toks", hashedTokens(docs, shingleSize))
      b.write("sigs", signaturesOfHashes(toks, seed))
    }

  /** The index's token-hash rows (doc_id, lang, source, h = xxhash64(tok)). */
  private def hashedTokens(docs: DataFrame, shingleSize: Int): DataFrame =
    tokens(docs, shingleSize)
      .select(col("doc_id"), col("lang"), col("source"),
        xxhash64(col("tok")).as("h"))

  /** Signature rows from [[hashedTokens]] rows: the universal-hash input
    * is pmod(xxhash64(tok), PRIME), projected once, not re-evaluated
    * inside each of the NUM_HASHES min-aggregates (aggregate exprs are
    * not reliably CSE'd). */
  private def signaturesOfHashes(hashedToks: DataFrame, seed: Long): DataFrame = {
    val cs = coeffs(seed, NUM_HASHES)
    val hashed = hashedToks.withColumn("hp", pmod(col("h"), lit(PRIME)))
    val aggs: Seq[Column] = cs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("hp") * lit(a) + lit(b), lit(PRIME))).as(s"mh_$i")
    }.toSeq :+ count(lit(1)).as("n_toks")
    hashed.groupBy("doc_id", "lang", "source").agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental update: tokenize + sign ONLY the new docs (same hash
    * family — the index contract) and parquet-append both tables; the
    * existing corpus is never re-read. New-vs-old near-dup pairs then
    * fall out of the next pairsFromIndex call's band join. */
  def appendToIndex(newDocs: DataFrame, indexDir: String, seed: Long = 42L,
      shingleSize: Int = 1): Unit = {
    // Fail fast on a family mismatch: appending rows signed with a
    // different seed/shingle unit would not error — it would just stop
    // old-vs-new pairs from ever sharing a band bucket.
    val index = IndexManifest.open(newDocs.sparkSession, indexDir,
      manifestFields(seed, shingleSize), "MinHashDedup.appendToIndex")
    // Tokenize+hash the new docs ONCE: persist() the hashed frame so the
    // toks append materializes it and the signature aggregation reads the
    // cache instead of re-tokenizing (re-reading the whole appended toks
    // table would be worse — it scans the old corpus files too).
    val hashedToks = hashedTokens(newDocs, shingleSize).persist()
    try index.append("toks" -> hashedToks,
      "sigs" -> signaturesOfHashes(hashedToks, seed))
    finally hashedToks.unpersist()
  }

  /** Near-dup pairs served ENTIRELY from a persisted index: banding, the
    * bucket self-join, the |A|,|B| size lookup and the exact-intersection
    * rerank all read the stored tables — no job touches the raw corpus.
    * Materializing sigs also means the band join's two sides share one
    * scan instead of recomputing the signature aggregation per consumer
    * (the broadcast side of a bucket join cannot reuse the stream side's
    * exchange). Rows are unordered, as [[finishPairs]] returns them. */
  def pairsFromIndex(s: SparkSession, indexDir: String,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are never emitted)")
    // Banding layout must match what the stored sigs were built with (seed
    // and shingle unit are baked into the stored tables, so only the
    // family + band shape are checkable here).
    val index = IndexManifest.open(s, indexDir,
      Map("family" -> "minhash-lsh", "num_hashes" -> NUM_HASHES.toString,
        "bands" -> BANDS.toString), "MinHashDedup.pairsFromIndex")
    val sigs = index.table("sigs")
    val cands = graft.core.Materialize(
      candidatePairs(bandSignatures(sigs)), "minhash-cands")
    // The intersection join runs on the raw 64-bit token hash, not the
    // token string — the same distinct-per-doc rows, ~60% less shuffle
    // width. xxhash64 collisions within one doc pair (~|A||B|/2^64 ≈
    // 1e-15) are the standard exact-in-practice hash-join trade.
    val toks = index.table("toks").select("doc_id", "h")
    finishPairs(intersectionCounts(cands, toks), sigs, threshold)
  }

  /** Per-pair fan-out cap for the exact-intersection rerank. A hub doc
    * appearing in ~10⁴ candidate pairs concentrates ALL of its pair rows ×
    * token rows in the one task owning its id1 hash — the same straggler
    * class candidatePairs was salted against, one join later. */
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

  /** |A∩B| per candidate pair via two equi-joins over flat (doc, hash)
    * rows — skew-hardened on the id1 side: hub docs' token rows are
    * replicated gs ways (non-hub docs: once, salt 0 — the common case pays
    * one broadcast left join and an explode of a 1-element range) and the
    * pair side is salted to match, so no task receives more than ~cap
    * pairs × tokens for any one doc. Join output is row-for-row identical
    * to the unsalted shape (asserted in MinHashRerankSkewSpec). The second
    * join keys on (id2, h) — the token hash disperses it, no salting
    * needed. `cands` is consumed twice (fan-out count + join side), so
    * callers pass a materialized frame. */
  private[graft] def intersectionCounts(cands: DataFrame, toks: DataFrame,
      maxFanout: Int = DEFAULT_MAX_PAIR_FANOUT): DataFrame = {
    val hubs = hubFanouts(cands, maxFanout)
    val toksSalted = toks
      .join(broadcast(hubs), col("doc_id") === col("hub_id"), "left")
      .withColumn("salt",
        explode(sequence(lit(0), coalesce(col("gs"), lit(1)) - 1)))
      .select(col("doc_id").as("id1"), col("salt"), col("h"))
    saltedPairs(cands, hubs)
      .join(toksSalted, Seq("id1", "salt"))
      .join(toks.select(col("doc_id").as("id2"), col("h")), Seq("id2", "h"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
  }

  /** Jaccard = i / (n1 + n2 − i) from intersection counts plus the n_toks
    * sizes riding the signature table, then the threshold filter. The
    * (id1, id2, jaccard) rows are NOT sorted: no caller may rely on row
    * order (sort on (id1, id2) if you need it). A terminal sort would cost
    * every pair read a range-partitioning exchange plus its sampling job,
    * and at scale range-shuffle the whole pair set. */
  private def finishPairs(inter: DataFrame, sigs: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sigs.select(col("doc_id"), col("n_toks"))
    inter
      .join(sizes.select(col("doc_id").as("id1"), col("n_toks").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n_toks").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Registry entry (rows-only driver check; recall vs Q31 in the spec). */
  def query(s: SparkSession, dir: String): DataFrame =
    nearDuplicates(t(s, dir, "documents"))
}
