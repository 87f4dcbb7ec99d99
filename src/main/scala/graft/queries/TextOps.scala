package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Text / LLM-training-data operators over the `documents` table: exact
  * dedup (Q30), exact near-dup via token Jaccard (Q31), the reference's
  * WordCount semantics (Q33 — tokenize on `[#%?!. ]`, lowercase, drop
  * stopwords; /root/reference/src/main/scala/com/highperformancespark/
  * robinsparkles/WordCount.scala:15-27), language-ID heuristic, quality
  * scoring, token counting, fingerprinting, and SimHash.
  *
  * Portability trick used throughout: content hashes that must agree with
  * the DuckDB oracle are derived from md5 hex strings (identical in every
  * engine) rather than engine-native hash functions. SimHash bits come
  * from md5 hex-char arithmetic for the same reason.
  *
  * Scale notes: Q31's token self-join is blocked on (lang, source) — at
  * 100 TB the quadratic pair expansion is bounded per block, and the
  * MinHash-LSH path (Dedup.scala) replaces it entirely. All token
  * explodes aggregate map-side before shuffling (groupBy on
  * (doc_id, tok) after explode).
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Stopword/marker list shared by language-ID, corpus-clean and the
    * best-in-cluster dedup (DedupClusters.keepBestQuery) — single source
    * of truth so the scoring formula cannot silently diverge. */
  val enMarkers = Seq("the", "a", "of", "and", "is", "in", "to")

  /** The corpus-clean quality score (0.4·length + 0.3·non-stop +
    * 0.3·distinct, rounded 6 dp) as a reusable per-row expression over a
    * `text` column. */
  def qualityExpr: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    round(
      lit(0.4) * least(nTok.cast("double") / 50, lit(1.0))
        + lit(0.3) * (lit(1.0) -
          size(filter(toks, x => x.isin(enMarkers: _*))).cast("double") / nTok)
        + lit(0.3) * size(array_distinct(toks)).cast("double") / nTok, 6)
  }

  /** Reference WordCount semantics (/root/reference/.../WordCount.scala:15-27):
    * split on the separator class, trim+lowercase, drop empties and
    * (lowercased) stopwords, count per token. */
  def wordCount(docs: DataFrame, sepClass: String, stopWords: Seq[String]): DataFrame = {
    val lcStop = stopWords.map(_.toLowerCase)
    docs.select(explode(split(col("text"), sepClass)).as("raw"))
      .select(lower(trim(col("raw"))).as("token"))
      .filter(col("token") =!= "" && !col("token").isin(lcStop: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
  }

  /** Default per-(lang, source) block-size ceiling for the EXACT pair
    * tier. Within-block cost of the token self-join is quadratic in block
    * density, so the tier's 100 TB contract is "q43's banded MinHash path
    * is the at-scale candidate feed". This guard ENFORCES that contract
    * (VERDICT r9 item 2) instead of leaving it documentation: 1 M docs in
    * one block is far past where exact all-pairs is defensible and far
    * above any test/bench fixture (sf1 ≈ 60 k docs total). Override with
    * `spark.graft.exactPairs.maxBlockDocs`; <= 0 disables. */
  val defaultMaxExactBlockDocs: Long = 1000000L

  // Validated (docs-plan semanticHash, input-files hash, ceiling) keys:
  // the guard scan runs once per fixture per JVM, not once per query
  // construction (q31 plus four curation riders share the same documents
  // frame per verify sweep). The inputFiles component keeps the memo
  // honest across in-JVM fixture regeneration: a rewritten parquet dir
  // gets fresh part-file names, so the same-path-new-data case re-checks
  // instead of riding a stale validation (r10 self-review finding).
  // BoundedMemo (VERDICT r11 item 6): LRU-capped so a many-dir sweep
  // can't grow the validation memo monotonically; eviction only means the
  // 2-column guard pre-scan re-runs on the next construction.
  private val exactPairGuardCache =
    new graft.core.BoundedMemo[(Int, Int, Long), Boolean]()

  /** Tokenized (doc_id, lang, source, tok) feed for the exact pair tier
    * (q31 + the curation riders), with the block-size contract enforced:
    * per-(lang, source) doc counts are checked against
    * `spark.graft.exactPairs.maxBlockDocs` by an EAGER bounded pre-scan
    * (2 columns, one partial-agg, `limit(1)` collect of offenders only),
    * so an oversized block aborts here — before the quadratic pair
    * expansion is even scheduled — with an error naming the block, the
    * config, and the MinHash route. Eager-by-design (same contract note
    * as core.Materialize): constructing an exact-tier frame runs the
    * guard job. A first in-plan variant (assert_true on the build side of
    * a broadcast join) was measured +15% on q31 at sf0.1 — the probe
    * replays on both self-join sides — so the guard lives off the hot
    * path and is memoized per (docs plan, ceiling). `ExactPairGuardSpec`
    * proves the adversarial single-block fixture trips it. */
  private[graft] def exactPairTok(s: SparkSession, docs: DataFrame): DataFrame = {
    // Loud parse (ADVICE r10): a malformed ceiling ('1e6', '1_000_000')
    // must name the config key and offending value, not surface as a bare
    // NumberFormatException at query construction.
    val maxBlock = s.conf.getOption("spark.graft.exactPairs.maxBlockDocs")
      .map { raw =>
        scala.util.Try(raw.trim.toLong).getOrElse(throw new IllegalArgumentException(
          s"spark.graft.exactPairs.maxBlockDocs='$raw' is not a long " +
            "(plain digits only, e.g. 1000000); set <= 0 to disable the " +
            "exact-pair block-size guard deliberately"))
      }.getOrElse(defaultMaxExactBlockDocs)
    if (maxBlock > 0L) {
      val key = (docs.queryExecution.analyzed.semanticHash(),
        docs.inputFiles.toSeq.hashCode, maxBlock)
      // A guard that throws caches nothing (BoundedMemo contract), so a
      // failed validation re-checks on the next construction — same
      // behavior as the pre-r12 contains/put pair.
      exactPairGuardCache.getOrElseUpdate(key) {
        val over = docs.groupBy("lang", "source").agg(count(lit(1)).as("block_docs"))
          .filter(col("block_docs") > maxBlock)
          .orderBy(desc("block_docs")).limit(1).collect()
        over.headOption.foreach { r =>
          throw new IllegalStateException(
            s"graft exact-pair tier: block (lang=${r.get(0)}, source=${r.get(1)}) " +
              s"holds ${r.getLong(2)} docs, over spark.graft.exactPairs." +
              s"maxBlockDocs=$maxBlock. The within-block pair cost is quadratic; " +
              "at this scale use the banded MinHash path (q43 / " +
              "MinHashDedup.candidatePairs) as the candidate feed, or " +
              "raise/disable the ceiling deliberately.")
        }
        true
      }
    }
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .filter(col("tok") =!= "")
  }

  val queries: Map[String, Q] = Map(
    // Q30 — exact dedup: keep min doc_id per distinct text, count per lang.
    "q30_exact_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val reps = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      docs.join(reps, "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("survivors"))
        .orderBy("lang")
    },

    // Q31 — exact near-dup: token-set Jaccard >= 0.5 within (lang, source)
    // blocks. Exact oracle for the MinHash recall check.
    "q31_jaccard_pairs" -> { (s, dir) =>
      val tok = exactPairTok(s, t(s, dir, "documents"))
      // sizes is consumed by both rerank sides and replays its
      // tokenize+agg per side — MEASURED (BENCH_NOTES.md, same-JVM
      // interleaved sf0.1): a Materialize barrier here is ~10% SLOWER (2.41 vs
      // 2.17 s min-of-5) because the replayed agg is small and overlaps
      // the self-join stages, while the barrier serializes on a write.
      // q31 is the bench-timed exact-oracle twin; its 100 TB path is q43.
      val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = tok.as("a").join(tok.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("ix"))
      val jac = col("ix").cast("double") /
        (col("s1.sz") + col("s2.sz") - col("ix"))
      inter.join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
        .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
        .filter(jac >= 0.5)
        .select(col("id1"), col("id2"), round(jac, 6).as("jaccard"))
        .orderBy("id1", "id2")
    },

    // Q33 — reference WordCount port: separators [#%?!. ], lowercase,
    // stopword filter (default stopword set = {"the"}), top 20.
    "q33_wordcount" -> { (s, dir) =>
      wordCount(t(s, dir, "documents"), "[#%?!. ]", Seq("the"))
        .orderBy(desc("cnt"), asc("token"))
        .limit(20)
    },

    // Language-ID heuristic: marker-token ratio (n-gram-profile stand-in;
    // deterministic and oracle-checkable).
    "q_lang_id" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val markers = size(filter(toks, x => x.isin(enMarkers: _*)))
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(markers.cast("double") / size(toks), 6).as("marker_ratio"),
          when(markers.cast("double") / size(toks) > 0.05, "en")
            .otherwise("und").as("pred_lang"))
        .orderBy("doc_id")
    },

    // Quality scoring: length, stopword ratio, type-token ratio.
    "q_quality_score" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val nDistinct = size(array_distinct(toks))
      val nStop = size(filter(toks, x => x.isin(enMarkers: _*)))
      val ttr = nDistinct.cast("double") / nTok
      val stopRatio = nStop.cast("double") / nTok
      val lenScore = least(nTok.cast("double") / 50, lit(1.0))
      t(s, dir, "documents")
        .select(col("doc_id"), nTok.cast("long").as("n_tok"),
          nDistinct.cast("long").as("n_distinct"),
          round(stopRatio, 6).as("stop_ratio"),
          round(ttr, 6).as("ttr"),
          round(lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - stopRatio)
            + lit(0.3) * ttr, 6).as("quality"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens vs word-regex tokens vs chars.
    "q_token_count" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("tok_re"),
          length(col("text")).cast("long").as("chars"))
        .orderBy("doc_id")
    },

    // Document fingerprint: md5 content hash (portable across engines)
    // + per-source distinct-fingerprint rollup folded in as a window count.
    "q_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // SimHash (48-bit) from md5 hex-char bits, voted over token
    // occurrences by the native graft_simhash aggregate.
    "q_simhash" -> { (s, dir) =>
      graft.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(SimhashSql.spark)
    },

    // SimHash near-dup pairs: banded Hamming-distance join (pigeonhole:
    // 6 × 8-bit bands catch every pair within Hamming distance 5).
    "q_simhash_pairs" -> { (s, dir) =>
      graft.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      // ONE barrier (see SimhashSql.fpSql doc): the block-keyed
      // fingerprint table; the band self-join reads only this
      // doc-count-sized scratch, never the corpus.
      graft.core.Materialize(s.sql(SimhashSql.fpSql), "simhash-fp")
        .createOrReplaceTempView("simhash_fp")
      s.sql(SimhashSql.pairsFromFp)
    },

    // Repetition/diversity quality signals (the Gopher-rule family):
    // duplicate-2-gram ratio, unigram entropy, and top-token fraction per
    // doc. All per-row projections + one token aggregation — no shuffle
    // beyond the per-doc groupBy. Entropy sums ~hundreds of ~1e-2 terms,
    // so 4 dp rounding absorbs aggregation-order float noise.
    "q_gopher_quality" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val grams = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2))))).otherwise(array())
      // dup2 is computed in its own select below the explode: in the
      // explode's select it would be evaluated above Generate, once per
      // token instead of once per document.
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"),
          (lit(1.0) - size(array_distinct(grams)).cast("double") /
            greatest(size(grams), lit(1))).as("dup2"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"), col("dup2"))
        .filter(col("tok") =!= "")
      val tf = base.groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"), first(col("dup2")).as("dup2"))
        .withColumn("len", sum(col("tf")).over(Window.partitionBy("doc_id")))
      val p = col("tf").cast("double") / col("len")
      tf.groupBy("doc_id")
        .agg(round(first(col("dup2")), 6).as("dup_2gram_ratio"),
          round(-sum(p * log(p)), 4).as("entropy"),
          round(max(col("tf")).cast("double") / first(col("len")), 6)
            .as("top_tok_frac"))
        .orderBy("doc_id")
    },

    // TF-IDF keyword extraction: per-doc top-3 tokens by tf·idf. The df
    // table is one token-level aggregation (shared across all docs — at
    // 100 TB it is computed once and reused); scoring is a map-side join
    // of token counts against the broadcast df table. Scores are rounded
    // to 6 dp BEFORE ranking so last-ulp ln() differences between engines
    // cannot flip ranks; ties break on the token string.
    "q_tfidf_keywords" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // Corpus size N as a broadcast one-row scalar joined into the plan:
      // a driver-side docs.count() here would cost an extra Spark job per
      // invocation and serialize the pipeline on the driver.
      val n = docs.agg(count(lit(1)).cast("double").as("n"))
      val tok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      // Materialized: tf feeds both the df rollup and the scoring join —
      // unbarriered, each consumer replays the tokenize+count shuffle
      // (ReuseProbe r9: per-consumer pruning defeats ReuseExchange).
      val tf = graft.core.Materialize(
        tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")), "tfidf-tf")
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val score = round(col("tf") * log(col("n") / col("df")), 6)
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("tok"))
      tf.join(broadcast(df), "tok").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), score.as("tfidf"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3 && col("doc_id") < 100)
        .select(col("doc_id"), col("rn"), col("tok"), col("tfidf"))
        .orderBy("doc_id", "rn")
    },

    // Eval-set contamination check: a train doc (source <> 'src0') is
    // contaminated if it shares any word n-gram with the eval set
    // (source = 'src0'), containment-style. The shingle equi-join is
    // blocked per lang and the train side goes through a LEFT SEMI join
    // — no row multiplication, and at 100 TB the eval shingle set is the
    // small side. Real decontamination uses 8–13-gram windows; the
    // fixture's shuffled-vocab text only produces collisions at 3-grams,
    // so 3 is the demonstration width.
    "q_contamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = split(col("text"), " ")
      val grams = when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i, lit(3)))))
        .otherwise(array())
      val sh = docs.select(col("doc_id"), col("lang"), col("source"),
        explode(grams).as("shingle"))
      val ev = sh.filter(col("source") === "src0")
        .select("lang", "shingle").distinct()
      val tr = sh.filter(col("source") =!= "src0")
        .join(ev, Seq("lang", "shingle"), "leftsemi")
        .select("lang", "doc_id").distinct()
      val tot = docs.filter(col("source") =!= "src0")
        .groupBy("lang").agg(count(lit(1)).as("train_total"))
      val cnt = tr.groupBy("lang").agg(count(lit(1)).as("contaminated"))
      tot.join(cnt, Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("contaminated"), lit(0L)).as("contaminated"),
          col("train_total"),
          round(coalesce(col("contaminated"), lit(0L)).cast("double")
            / col("train_total"), 6).as("rate"))
        .orderBy("lang")
    },

    // Deterministic stratified sampling for data mixing: each doc's
    // sample bucket (0..255) comes from the md5 of its id — reproducible
    // across runs and engines, no RNG — and per-stratum rates pick the
    // mixture (en 205/256 ≈ 0.8, others 77/256 ≈ 0.3). Pure map-side
    // filter + one aggregation shuffle: the shape a 100 TB mixture job
    // wants (sampling never shuffles the corpus).
    "q_data_mix" -> { (s, dir) =>
      val bucket = expr(
        "(instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 1, 1)) - 1) * 16" +
          " + (instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 2, 1)) - 1)")
      t(s, dir, "documents")
        .filter(bucket < when(col("lang") === "en", 205).otherwise(77))
        .groupBy("lang")
        .agg(count(lit(1)).as("kept"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
        .orderBy("lang")
    },

    // The composed training-data prep pipeline: quality gate → exact
    // dedup (min-doc_id representative per text) → per-(lang, source)
    // corpus stats. One declarative plan, so Catalyst fuses the scoring
    // projection into the scan and the dedup/stat aggregations are the
    // only shuffles — the shape a 100 TB corpus-clean job wants. The
    // deterministic-average canon applies: decimal sum → double ÷ count.
    "q_corpus_clean" -> { (s, dir) =>
      val nTok = size(split(col("text"), " "))
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          nTok.cast("long").as("n_tok"), qualityExpr.as("quality"))
        .filter(col("quality") >= 0.5)
      val reps = scored.groupBy(col("text")).agg(min("doc_id").as("doc_id"))
      scored.join(reps.select("doc_id"), "doc_id")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("kept"),
          sum(col("n_tok")).as("tokens_kept"),
          round(sum(col("quality").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("avg_quality"))
        .orderBy("lang", "source")
    },

    // PII scrubbing: the redaction pass every training-data pipeline runs
    // before anything else. The synthetic corpus carries no PII, so the
    // query PLANTS a deterministic email + phone per doc, then scrubs
    // with the same regexes both engines run — md5 of the scrubbed text
    // hash-proves the two redactions are byte-identical, and the counted
    // matches prove the patterns actually fired. Pure per-row projection:
    // zero shuffles beyond the final sort.
    "q_pii_scrub" -> { (s, dir) =>
      val dirty = concat(col("text"),
        lit(" contact user_"), col("doc_id").cast("string"),
        lit("@example.com or 555-"), col("doc_id").cast("string"))
      val emailPat = "[a-z0-9_]+@[a-z0-9.]+"
      val phonePat = "555-[0-9]+"
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(dirty, lit(emailPat)).cast("long").as("n_email"),
          regexp_count(dirty, lit(phonePat)).cast("long").as("n_phone"),
          md5(regexp_replace(regexp_replace(dirty, emailPat, "<EMAIL>"),
            phonePat, "<PHONE>")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },

    // Corpus 3-gram frequency table (top 20): the repeated-boilerplate
    // detector (navigation chrome, license headers) — one explode + one
    // count shuffle; at 100 TB the long tail is cut by the limit pushed
    // into a TakeOrdered, never a full sort.
    "q_ngram_freq" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val grams = when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", slice(toks, i + 1, lit(3))))).otherwise(array())
      t(s, dir, "documents")
        .select(explode(grams).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("ngram"))
        .limit(20)
    },

    // Context-window packing: split each doc's token stream into fixed
    // 128-token chunks (what a pretraining tokenizer-packer emits).
    // posexplode gives stable in-doc positions; chunking is integer math
    // on the position — per-doc work only, one aggregation shuffle.
    "q_chunk_pack" -> { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .select(col("doc_id"), (col("pos") / 128).cast("long").as("chunk_id"))
        .groupBy("doc_id", "chunk_id").agg(count(lit(1)).as("n_toks"))
        .orderBy("doc_id", "chunk_id")
    },

    // Cross-document span ownership (the C4/RefinedWeb line-dedup
    // analogue over 5-gram spans): a span occurring in several docs is
    // owned by the smallest doc_id; other docs count it as borrowed —
    // the removal signal a corpus-level span-dedup pass filters on.
    // Ownership is a window min over the span partition, NOT a groupBy +
    // join-back: one exchange of the span rows and ONE corpus scan (the
    // join shape would re-derive spanRows for its second consumer).
    "q_span_dedup" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val spans = when(size(toks) >= 5,
        transform(sequence(lit(1), size(toks) - 4),
          i => concat_ws(" ", slice(toks, i, lit(5))))).otherwise(array())
      val spanRows = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(spans)).as("span"))
      // Plain span window key, MEASURED (OPTIMIZATION_r16.md, same-JVM
      // interleaved min-of-5): the r15 hash-prefix idiom — (xxhash64(span), span) —
      // reads 2.17 vs 2.08 s here: the sorter's built-in 8-byte string
      // prefix already covers these keys, so the extra hash column is
      // pure cost at this key width. The idiom pays off only where keys
      // share long common prefixes (bigram/novelty window keys at sf100).
      spanRows
        .withColumn("owner", min("doc_id").over(Window.partitionBy("span")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("owner") =!= col("doc_id"), 1L).otherwise(0L)).as("n_borrowed"))
        .select(col("doc_id"), col("n_spans"), col("n_borrowed"),
          round(col("n_borrowed").cast("double") / col("n_spans"), 6).as("borrowed_frac"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test assignment: md5-bucket the doc key
    // into 256 bins, carve 230/13/13 — the split never depends on row
    // order or partitioning, so any engine (or rerun) assigns every doc
    // identically. Stratified report per (lang, subset); the assignment
    // itself is a map-side projection, the report one aggregation.
    "q_split_assign" -> { (s, dir) =>
      val bucket = expr(
        "(instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 1, 1)) - 1) * 16" +
          " + (instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 2, 1)) - 1)")
      t(s, dir, "documents")
        .withColumn("subset",
          when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test"))
        .groupBy("lang", "subset")
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
        .orderBy("lang", "subset")
    },

    // Temperature-based multilingual re-sampling (the mT5/XLM-R mixing
    // scheme): natural token share p_l per lang → re-weighted share
    // q_l = p_l^α / Σ p^α (α = 0.3) → per-lang sampling factor
    // f_l = q_l / p_l → deterministic per-doc epoch count
    // ⌊f⌋ + (md5-bucket < 256·frac(f)). The factor table has one row per
    // lang, so the join back to the corpus is a broadcast and the
    // assignment a map-side projection — at 100 TB the corpus is scanned
    // once and never shuffled; the two scalar reductions (total tokens,
    // Σ p^α) are one-row broadcast joins, the tfidf-N pattern. The
    // epoch threshold is rounded to an integer bucket count BEFORE the
    // comparison so an ulp of pow() divergence between engines cannot
    // flip a doc's assignment.
    "q_temperature_mix" -> { (s, dir) =>
      // ONE corpus pass, for real: the lang totals AND the per-doc epoch
      // assignment both reduce to the (lang, md5-bucket) grain — docs
      // with the same bucket get the same ⌊f⌋ + (bucket < thr) epoch
      // count — so the corpus aggregates once into a ≤ langs×256-row
      // table (materialized: every downstream consumer reads the tiny
      // parquet, never the corpus; the first spelling's static plan
      // carried NINE corpus scans through the factor-chain branches).
      // planned_copies = docs_l·base_l + Σ_{bucket<thr} bucket_docs —
      // identical to summing per-doc epochs.
      val langBuck = graft.core.Materialize(t(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          bucketExpr.cast("long").as("bucket"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("docs"), sum("n_tok").as("tokens")), "tempmix")
      val langTok = langBuck.groupBy("lang")
        .agg(sum("docs").as("docs"), sum("tokens").as("tokens"))
      val tot = langTok.agg(sum("tokens").cast("double").as("tot_tokens"))
      val withP = langTok.crossJoin(broadcast(tot))
        .withColumn("p", col("tokens").cast("double") / col("tot_tokens"))
        .withColumn("pa", pow(col("p"), 0.3))
      val spa = withP.agg(sum("pa").as("spa"))
      val fct = withP.crossJoin(broadcast(spa))
        .withColumn("q", col("pa") / col("spa"))
        .withColumn("f", col("q") / col("p"))
        .withColumn("base", floor(col("f")).cast("long"))
        .withColumn("thr", round((col("f") - col("base")) * 256, 0))
        .select("lang", "docs", "tokens", "p", "q", "f", "base", "thr")
      val extra = langBuck
        .join(broadcast(fct.select(col("lang"), col("thr"))), "lang")
        .filter(col("bucket") < col("thr"))
        .groupBy("lang").agg(sum("docs").as("extra"))
      fct.join(extra, Seq("lang"), "left")
        .select(col("lang"), col("docs"), col("tokens"),
          round(col("p"), 6).as("p_nat"),
          round(col("q"), 6).as("p_temp"),
          round(col("f"), 6).as("factor"),
          (col("docs") * col("base") + coalesce(col("extra"), lit(0L)))
            .as("planned_copies"))
        .orderBy("lang")
    },

    // Sharded training-data export manifest: md5-bucket each doc into 16
    // shards (bucket % 16 — engine-portable, order/partitioning
    // independent) and report per-shard doc/token counts and the id
    // range. The manifest is what an export job writes next to the
    // shards so a trainer can plan reads without listing files; the
    // assignment is a map-side projection and the manifest one 16-row
    // aggregation — at 100 TB the write itself is
    // `repartition(n, shard).write.partitionBy(shard)`, exercised in
    // ShardExportSpec.
    "q_shard_manifest" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), (bucketExpr % 16).cast("long").as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"), sum("n_tok").as("tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    },

    // BM25 ranking against a query token set (Robertson/Lucene variant,
    // k1=1.2 b=0.75, idf = ln((N-df+.5)/(df+.5)+1) — always positive):
    // the relevance-filter/RAG-retrieval staple. Scale shape: the token
    // explode is FILTERED to the query's tokens before any shuffle (at
    // 100 TB the match set, not the corpus, pays the tf aggregation),
    // df and the (N, avgdl) scalars are broadcast one-row/tiny joins,
    // and the top-20 is a TakeOrdered, never a full sort. Scores are
    // rounded to 6 dp BEFORE ranking (tfidf canon) with doc_id
    // tie-break so last-ulp ln()/sum differences cannot flip the cut.
    "q_bm25_rank" -> { (s, dir) =>
      val qToks = Seq("spark", "window", "hash")
      // Materialized: d (doc lengths) feeds the corpus stats AND the
      // scoring join; tf (match set) feeds df AND the scoring join — the
      // isin filter runs post-explode, so every unbarriered replay paid a
      // full tokenize (ReuseProbe r9: 4 corpus scans).
      val d = graft.core.Materialize(
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("dl")),
        "bm25-dl")
      val stats = d.agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl").cast("double")).as("avgdl"))
      val tf = graft.core.Materialize(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok").isin(qToks: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")),
        "bm25-tf")
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
      val sat = col("tf") * (lit(1.2) + 1) /
        (col("tf") + lit(1.2) * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
      tf.join(broadcast(df), "tok").join(d, "doc_id").crossJoin(broadcast(stats))
        .groupBy("doc_id").agg(round(sum(idf * sat), 6).as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(20)
    },

    // Directed token-set containment C(A→B) = |A∩B| / |A| >= 0.8 within
    // (lang, source) blocks: the near-SUPERSET detector — a doc wrapped
    // in boilerplate contains its original almost whole while symmetric
    // Jaccard (Q31) dilutes below threshold. Rides Q31's blocked
    // equi-join: intersections computed ONCE per unordered pair (a < b),
    // then both directions emitted by a cheap union against the size
    // table — no second corpus self-join for the reverse direction.
    "q_containment_pairs" -> { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok") =!= "")
      val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // Materialized: the union of directions consumes inter twice, and
      // unbarriered THE WHOLE blocked token self-join ran twice
      // (ReuseProbe r9). The pair list is tiny next to the join that
      // builds it. tok's two join sides stay unmaterialized — the
      // corpus-sized write costs more than the extra tokenize pass (the
      // MinHash token-table trade).
      val inter = graft.core.Materialize(
        tok.as("a").join(tok.as("b"),
            col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
          .agg(count(lit(1)).as("ix")),
        "containment-inter")
      val directed = inter.select(col("id1").as("src_doc"), col("id2").as("dst_doc"), col("ix"))
        .union(inter.select(col("id2"), col("id1"), col("ix")))
        .join(sizes.withColumnRenamed("doc_id", "src_doc"), "src_doc")
      val c = col("ix").cast("double") / col("sz")
      directed.filter(c >= 0.8)
        .select(col("src_doc"), col("dst_doc"), round(c, 6).as("containment"))
        .orderBy("src_doc", "dst_doc")
    },

    // Exact-prefix duplicate clusters: docs sharing their first 8 tokens
    // — the cheap CommonCrawl-style screen that catches templated /
    // mirrored pages before any MinHash work. One scan, one shuffle; the
    // group key is md5 of the prefix (32-char fixed) so the exchange
    // never carries the prefix text itself, and md5 keeps the key
    // engine-portable for the oracle. min(doc_id) is the canonical
    // survivor, same convention as exact dedup (Q30).
    "q_prefix_dup" -> { (s, dir) =>
      val pref = concat_ws(" ", slice(split(col("text"), " "), 1, 8))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(pref).as("prefix_key"))
        .groupBy("prefix_key")
        .agg(count(lit(1)).as("docs"), min("doc_id").as("canonical_doc"))
        .filter(col("docs") > 1)
        .orderBy("prefix_key")
    },

    // Corpus-relative rare-token ratio: the fraction of a doc's token
    // occurrences whose corpus frequency sits below 0.25× the mean token
    // frequency — the OCR-garbage / fabricated-text signal (real docs
    // draw from the common vocabulary; noise draws from the long tail).
    // Relative threshold, not absolute count, so the definition survives
    // corpus growth. Shape: per-doc tf aggregates map-side before the
    // (doc_id, tok) shuffle; the corpus-frequency table aggregates FROM
    // tf (vocabulary-sized input, not the corpus); the mean is a one-row
    // broadcast. The tf subtree appears three times in the logical DAG
    // but executes ONCE: AQE exchange reuse collapses the cf and mean
    // copies to ReusedExchange (verified on the executed plan), so the
    // corpus is scanned and token-shuffled a single time.
    "q_rare_token_ratio" -> { (s, dir) =>
      // Materialized: tf feeds the corpus-frequency rollup AND the
      // rare-flag join — the AQE exchange-reuse this relied on does not
      // actually fire (ReuseProbe r9: per-consumer pruning breaks plan
      // identity), so each branch replayed tokenize+shuffle. The count
      // table is smaller than the raw text it summarizes (repeats
      // collapse, the text column drops), so the one write wins.
      val tf = graft.core.Materialize(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")),
        "raretok-tf")
      val cf = tf.groupBy("tok").agg(sum("tf").as("cf"))
      val mean = cf.agg(avg(col("cf").cast("double")).as("mean_cf"))
      tf.join(cf, "tok").crossJoin(broadcast(mean))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tok"),
          sum(when(col("cf") < lit(0.25) * col("mean_cf"), col("tf"))
            .otherwise(lit(0L))).as("rare"))
        .select(col("doc_id"), col("n_tok"),
          round(col("rare").cast("double") / col("n_tok"), 6).as("rare_frac"))
        .orderBy("doc_id")
    },

    // Document-level PMI collocations: pmi(a,b) = ln(co·N / (df_a·df_b))
    // over the top-100 vocabulary by document frequency — the phrase /
    // collocation miner behind tokenizer-merge and boilerplate-phrase
    // analysis. Scale shape: the corpus restricts to a BROADCAST top-100
    // vocab before the self-join, so the per-doc pair fan-out is bounded
    // at C(100,2) regardless of doc length, and the pair aggregate has at
    // most 4950 keys. Vocab rank ties break on the token string so the
    // top-100 cut is deterministic across engines; pmi rounds to 6 dp
    // before the final order/limit with a (tok_a, tok_b) tie-break.
    "q_pmi_pairs" -> { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("tok")).limit(100)
      val n = t(s, dir, "documents").agg(count(lit(1)).cast("double").as("n"))
      // Materialized: vtok (corpus restricted to the top-100 vocab — tiny,
      // ≤ 100 rows/doc) feeds BOTH self-join sides; unbarriered each side
      // replays the corpus tokenize + vocab join (ReuseProbe r9: 5 scans).
      val vtok = graft.core.Materialize(
        tok.join(broadcast(vocab), "tok"), "pmi-vtok")
      val co = vtok.as("a").join(vtok.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
        .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
          col("a.df").as("df_a"), col("b.df").as("df_b"))
        .agg(count(lit(1)).as("co"))
      co.filter(col("co") >= 5).crossJoin(broadcast(n))
        .select(col("tok_a"), col("tok_b"), col("co"),
          round(log(col("co") * col("n") /
            (col("df_a") * col("df_b")).cast("double")), 6).as("pmi"))
        .orderBy(desc("pmi"), asc("tok_a"), asc("tok_b"))
        .limit(20)
    },

    // BPE merge-pair counting — the tokenizer-training inner loop: count
    // adjacent character pairs inside every word; the argmax pair is the
    // next BPE merge. One step shown (real training repeats this agg
    // after applying the merge — same shape every iteration). Scale
    // shape: fully partial-aggregable — the explode feeds a map-side
    // combine and the shuffle carries 2-char keys with counts, so
    // reducer input is bounded by the PAIR VOCABULARY per mapper, not by
    // corpus size. Top-20 is a TakeOrdered with a pair tie-break.
    "q_bpe_merges" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("pair"))
        .limit(20)
    },

    // Charset profile: per-(lang, source) character-class composition —
    // the encoding-sanity signal (mojibake / OCR garbage shows up as a
    // non-alnum spike). Class counts via length-difference after a
    // global regexp strip (identical POSIX classes in both engines);
    // ratios from exact integer sums, rounded at the end. Pure map-side
    // projection + one small agg.
    "q_charset_profile" -> { (s, dir) =>
      val alnum = length(col("text")) -
        length(regexp_replace(col("text"), "[a-zA-Z0-9]", ""))
      val space = length(col("text")) -
        length(regexp_replace(col("text"), "[ ]", ""))
      t(s, dir, "documents")
        .select(col("lang"), col("source"), length(col("text")).as("n"),
          alnum.as("na"), space.as("ns"))
        .groupBy("lang", "source")
        .agg(sum(col("n").cast("long")).as("chars"),
          round(sum(col("na").cast("long")).cast("double")
            / sum(col("n").cast("long")), 6).as("alnum_ratio"),
          round(sum(col("ns").cast("long")).cast("double")
            / sum(col("n").cast("long")), 6).as("space_ratio"))
        .orderBy("lang", "source")
    },

    // Bigram language-model scoring (the CCNet-style perplexity-proxy
    // quality filter): per-doc mean negative log P(w2|w1) under the
    // corpus's own bigram MLE. Two vocab-keyed aggregations build the
    // model (c2 = bigram counts, c1 = prefix totals derived FROM c2,
    // never a second corpus scan); scoring is ONE equi-join on the
    // bigram key — every shuffle is linear in corpus tokens or
    // bounded by vocabulary. Each -ln term is rounded to 6 dp and
    // decimal-cast BEFORE the per-doc sum (the TF-IDF ln() parity
    // canon, made order-independent by the exact decimal aggregation).
    "q_bigram_lm" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 2)
      val bg = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1)," +
          " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"))
        .as("pair"))
      // Materialized: c2 feeds the prefix rollup AND the probability
      // join; unbarriered each replays the corpus bigram shuffle. bg
      // itself stays unmaterialized (corpus-sized — the write would cost
      // more than its one extra pass, the MinHash token-table trade).
      val c2 = graft.core.Materialize(
        bg.groupBy("pair").agg(count(lit(1)).as("c2")), "bigramlm-c2")
      val c1 = c2.groupBy(expr("split_part(pair, ' ', 1)").as("w1"))
        .agg(sum("c2").as("c1"))
      // Model assembled at VOCAB scale before the corpus is touched again
      // (round 15): c2 ⋈ c1 on the first word is a distinct-bigram-sized
      // join, so the per-pair -ln term is computed once per DISTINCT
      // bigram. The previous shape joined the corpus-sized bg stream on
      // w1 directly — a Zipf-skewed shuffle whose hottest first-word key
      // grows linearly with the corpus, measured super-linear at the
      // sf10→sf100 decade (bytes-exponent 1.11,
      // bench_evidence/r14_third_decade_fixed.json). Scoring now pays ONE
      // corpus-sized join, keyed on the far-less-skewed full bigram; the
      // summed term multiset per doc is unchanged (decimal(18,6) sum is
      // exact and order-independent), so the oracle hash is identical.
      val model = c2
        .join(c1, expr("split_part(pair, ' ', 1)") === col("w1"))
        .select(col("pair"),
          round(-log(col("c2").cast("double") / col("c1").cast("double")), 6)
            .cast("decimal(18,6)").as("term"))
      // Hash-prefixed join key: the scoring SMJ sorts the corpus-sized bg
      // stream, and comparing long bigram STRINGS dominates that sort at
      // the sf100 tier. Joining on (xxhash64(pair), pair) keeps exact
      // equi-join semantics (the hash is functionally dependent on pair;
      // the string tie-break fires only on hash collisions) while the
      // sort compares an 8-byte long first — the same trick a 100 TB
      // cluster would use to sort-shuffle wide text keys.
      val bgH = bg.withColumn("hp", xxhash64(col("pair")))
      val modelH = model.withColumn("hp", xxhash64(col("pair")))
      bgH.join(modelH, Seq("hp", "pair"))
        .select(col("doc_id"), col("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum("term").cast("double") / count(lit(1)), 6).as("avg_nll"))
        .orderBy("doc_id")
    },

    // Inverted-index posting-list profile: per token, document frequency,
    // doc-id span, and the delta+varint-encoded size a posting-list
    // writer would emit (the retrieval-tier cost model). Gaps come from
    // ONE lag window over (token, doc_id) rows; varint bytes =
    // ceil(bitlen/7) in exact integer arithmetic (bin() length, the
    // key-skew canon) — the first posting pays its absolute id, the rest
    // their gaps. Everything shuffles on token (vocabulary-keyed);
    // output bounded to the top-50 tokens by df.
    "q_posting_stats" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(length(col("tok")) > 0)
      val w = Window.partitionBy("tok").orderBy("doc_id")
      def varintBytes(c: org.apache.spark.sql.Column) =
        ceil(length(bin(c)) / lit(7.0)).cast("long")
      toks.withColumn("gap", col("doc_id") - lag("doc_id", 1).over(w))
        .groupBy("tok")
        .agg(count(lit(1)).as("df"),
          (max("doc_id") - min("doc_id")).as("span"),
          sum(when(col("gap").isNull, varintBytes(col("doc_id")))
            .otherwise(varintBytes(col("gap")))).as("bytes_est"))
        .orderBy(desc("df"), asc("tok"))
        .limit(50)
    },

    // Lang-ID confusion matrix: the heuristic predictor (q_lang_id)
    // audited against the labeled lang column — the label-quality /
    // classifier-drift monitor every curation pipeline runs before
    // trusting a filter. One corpus scan into a |langs|² agg; rates via
    // a window over the lang marginal (same exchange as the agg key).
    "q_langid_confusion" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val markers = size(filter(toks, x => x.isin(enMarkers: _*)))
      val byLang = Window.partitionBy("lang")
      t(s, dir, "documents")
        .select(col("lang"),
          when(markers.cast("double") / size(toks) > 0.05, "en")
            .otherwise("und").as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("rate",
          round(col("n").cast("double") / sum("n").over(byLang), 6))
        .orderBy("lang", "pred_lang")
    },

    // Dunning log-likelihood-ratio distinctive tokens: for each lang,
    // the tokens whose in-lang frequency most exceeds the rest-of-corpus
    // expectation — the corpus-comparison keyword miner (Dunning 1993).
    // The 2×2 cell counts derive from ONE (lang, token) shuffle; token
    // and lang marginals are re-aggregations of that table (vocab- and
    // |langs|-sized), joined back vocab-side/broadcast. Each of the four
    // k·ln(k/e) terms is rounded to 6 dp before summing (the TF-IDF ln()
    // parity canon) and ranking cuts on the rounded score with a token
    // tie-break.
    "q_llr_keywords" -> { (s, dir) =>
      // Materialized: tf feeds the token totals, lang totals, grand total
      // AND the contingency join — four corpus replays unbarriered
      // (ReuseProbe r9); the (lang, tok) count table is vocab-sized.
      val tf = graft.core.Materialize(
        t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("lang", "tok").agg(count(lit(1)).as("k11")),
        "llr-tf")
      val tokTot = tf.groupBy("tok").agg(sum("k11").as("tok_tot"))
      val langTot = tf.groupBy("lang").agg(sum("k11").as("lang_tot"))
      val nTot = tf.agg(sum("k11").as("n_tot"))
      def term(k: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
        when(k > 0, round(k.cast("double") * log(k.cast("double") / e), 6))
          .otherwise(lit(0.0))
      val cells = tf.join(tokTot, "tok").join(broadcast(langTot), "lang")
        .crossJoin(broadcast(nTot))
        .withColumn("k12", col("tok_tot") - col("k11"))
        .withColumn("k21", col("lang_tot") - col("k11"))
        .withColumn("k22",
          col("n_tot") - col("tok_tot") - col("lang_tot") + col("k11"))
      val n = col("n_tot").cast("double")
      val llr = round(lit(2.0) * (
        term(col("k11"), col("lang_tot") * col("tok_tot") / n) +
        term(col("k12"), (n - col("lang_tot")) * col("tok_tot") / n) +
        term(col("k21"), col("lang_tot") * (n - col("tok_tot")) / n) +
        term(col("k22"), (n - col("lang_tot")) * (n - col("tok_tot")) / n)), 4)
      val w = Window.partitionBy("lang").orderBy(desc("llr"), asc("tok"))
      cells
        .withColumn("llr", llr)
        .filter(col("k11").cast("double") / col("lang_tot") >
          col("tok_tot").cast("double") / n) // overrepresented only
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("tok"), col("k11"), col("llr"))
        .orderBy("lang", "rk")
    },

    // Stratified proportional sample: an exact 10% quota per
    // (lang, source) stratum — quota = ceil(n/10) in integer arithmetic —
    // filled in md5(doc_id) order (the engine-/layout-independent
    // sampling key the reservoir sampler established). Preserves the
    // corpus mix by construction, which uniform sampling only does in
    // expectation. Both windows (rank and stratum size) ride ONE
    // exchange on the stratum key.
    "q_stratified_sample" -> { (s, dir) =>
      val rankW = Window.partitionBy("lang", "source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val sizeW = Window.partitionBy("lang", "source")
      t(s, dir, "documents")
        .select(col("lang"), col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(rankW).cast("long"))
        .withColumn("quota",
          ((count(lit(1)).over(sizeW) + 9L) / 10L).cast("long"))
        .filter(col("rk") <= col("quota"))
        .orderBy("lang", "source", "rk")
    },

    // Gopher-style repetition signals per document: duplicate-token
    // fraction (1 − distinct/total) and the mass of the single most
    // frequent bigram — the two cheapest detectors of degenerate
    // boilerplate/spam text. Token and bigram aggregation both key on
    // doc_id (bigram counts partial-aggregate map-side), so the shuffle
    // carries one row per distinct (doc, bigram) — bounded by document
    // length, independent of corpus size. Integer counts end in one
    // rounded division per column (identical op order in the oracle).
    "q_repetition_ratio" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 2)
      val base = toks.select(col("doc_id"),
        size(col("ts")).cast("long").as("n"),
        size(array_distinct(col("ts"))).cast("long").as("nd"))
      val bg = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1)," +
          " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"))
        .as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("maxbg"), sum("c").as("nbg"))
      base.join(bg, "doc_id")
        .select(col("doc_id"), col("n").as("n_tokens"),
          round((col("n") - col("nd")).cast("double") / col("n"), 6)
            .as("dup_token_frac"),
          round(col("maxbg").cast("double") / col("nbg"), 6)
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // Vocabulary coverage curve (tokenizer sizing): the smallest vocab
    // of top-frequency tokens covering 50/75/90/95/99% of corpus token
    // mass. Threshold crossing is exact integer arithmetic
    // (prev·100 < thr·total ≤ cum·100); only the reported coverage is a
    // final rounded division. The global window runs over the DISTINCT
    // vocabulary (Heaps-law-bounded, ~√corpus), never corpus rows — the
    // token count aggregation before it is the only corpus-sized
    // shuffle, and it partial-aggregates map-side. At 100 TB the vocab
    // table still fits one executor; if it ever didn't, the same
    // crossing test two-levels over count-range buckets exactly like
    // q_weighted_sample's prefix sum.
    "q_vocab_cdf" -> { (s, dir) =>
      // Materialized: counts feeds the ranking window AND the total —
      // two corpus tokenize replays unbarriered (ReuseProbe r9).
      val counts = graft.core.Materialize(
        t(s, dir, "documents")
          .select(explode(expr("filter(split(text, ' '), t -> t <> '')"))
            .as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c")),
        "vocabcdf-counts")
      val ord = Window.orderBy(desc("c"), asc("tok"))
      val ranked = counts
        .withColumn("rn", row_number().over(ord).cast("long"))
        .withColumn("cum", sum("c").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val total = counts.agg(sum("c").as("total"))
      val thr = ranked.sparkSession.range(0, 5)
        .select(element_at(typedLit(Seq(50L, 75L, 90L, 95L, 99L)),
          col("id").cast("int") + 1).as("thr_pct"))
      ranked.crossJoin(broadcast(total)).crossJoin(broadcast(thr))
        .filter(col("cum") * 100 >= col("thr_pct") * col("total") &&
          (col("cum") - col("c")) * 100 < col("thr_pct") * col("total"))
        .select(col("thr_pct"), col("rn").as("vocab_size"),
          round(col("cum").cast("double") / col("total"), 6).as("coverage"))
        .orderBy("thr_pct")
    },

    // Positional co-occurrence (skip-gram window ≤ 2): global (w1, w2)
    // counts for ordered token pairs at distance 1 or 2, top-30. Pairs
    // are GENERATED by an array transform over each document — never a
    // positional self-join, whose per-doc L² intermediate (join on
    // doc_id, filter on pos) would melt at corpus scale; generation is
    // linear in tokens with fan-out exactly 2. The only shuffle is the
    // (w1, w2) count, partial-aggregated map-side and bounded by the
    // pair vocabulary.
    "q_cooccur_window" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 2)
      val d1 = expr("transform(sequence(1, size(ts) - 1)," +
        " i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")
      val d2 = expr("IF(size(ts) >= 3, transform(sequence(1, size(ts) - 2)," +
        " i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 2) AS w2))," +
        " array())")
      // Hash-prefixed grouping key (round 16, the q_bigram_lm canon —
      // VERDICT r15 watch item): the corpus-sized pair aggregation
      // shuffles and, at the sf100 tier, SPILL-SORTS on two wide token
      // strings; leading the grouping with xxhash64(w1, w2) makes the
      // external-sort comparisons and the exchange's partitioning hash
      // ride an 8-byte long, reaching the strings only on collisions.
      // Groups are unchanged (the hash is functionally dependent on the
      // pair), the prefix is dropped before the top-30, and the final
      // order is total on (cnt, w1, w2) — output byte-identical.
      toks.select(explode(concat(d1, d2)).as("pr"))
        .select(col("pr.w1"), col("pr.w2"))
        .groupBy(xxhash64(col("w1"), col("w2")).as("hp"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w1"), col("w2"), col("cnt"))
        .orderBy(desc("cnt"), asc("w1"), asc("w2"))
        .limit(30)
    },

    // Character-entropy quality signal: per-document Shannon entropy of
    // the character distribution (nats) — near-zero entropy flags
    // degenerate repeated-char spam, abnormally high flags binary
    // mojibake. Per-(doc, char) counts partial-aggregate map-side and
    // the per-char −p·ln p term follows the ln()-parity canon (round 6
    // dp, decimal-cast, THEN sum) so the per-doc result is
    // order-independent and engine-portable.
    "q_char_entropy" -> { (s, dir) =>
      val cc = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .groupBy("doc_id", "c").agg(count(lit(1)).as("n"))
      val tot = cc.groupBy("doc_id").agg(sum("n").as("nt"))
      cc.join(tot, "doc_id")
        .select(col("doc_id"),
          round(-(col("n").cast("double") / col("nt")) *
            log(col("n").cast("double") / col("nt")), 6)
            .cast("decimal(18,6)").as("term"))
        .groupBy("doc_id")
        .agg(round(sum("term").cast("double"), 6).as("entropy"))
        .orderBy("doc_id")
    },

    // Zipf-law fit over the corpus vocabulary: OLS slope/intercept of
    // ln(freq) on ln(rank) — the distributional health check for a
    // training corpus (natural text sits near slope −1; synthetic or
    // template-heavy corpora flatten). The regression input is one row
    // per DISTINCT token (Heaps-bounded); six exact sums over 6
    // dp-rounded decimal terms feed the closed form, with identical
    // operation order in the oracle (the q_linreg_closed canon applied
    // to the vocabulary).
    "q_zipf_slope" -> { (s, dir) =>
      val c = t(s, dir, "documents")
        .select(explode(expr("filter(split(text, ' '), t -> t <> '')"))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val rk = c.withColumn("rn",
        row_number().over(Window.orderBy(desc("c"), asc("tok"))))
      val xy = rk.select(round(log(col("rn").cast("double")), 6).as("x"),
        round(log(col("c").cast("double")), 6).as("y"))
      xy.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
          sum(round(col("x") * col("y"), 6).cast("decimal(18,6)"))
            .cast("double").as("sxy"),
          sum(round(col("x") * col("x"), 6).cast("decimal(18,6)"))
            .cast("double").as("sxx"))
        .select(col("n").as("vocab"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("intercept"))
    },

    // N-gram novelty curve (doc_id = ingestion order): the fraction of
    // each document's distinct 3-grams first seen in THAT document —
    // the marginal-contribution signal dataset curation ranks new
    // sources by. Two corpus-linear shuffles (ngram → first-doc min,
    // doc_id → per-doc ratio). Restructured in round 15: (doc, ngram)
    // pairs duplicate only WITHIN a document, so the old corpus-wide
    // distinct() (a full-row shuffle) collapses into a map-side
    // array_distinct before the explode; and first-seen detection is a
    // window min over the ngram key instead of a groupBy + corpus-sized
    // self-join — the join re-shuffled and re-sorted the whole stream a
    // second time and measured super-linear at the sf10→sf100 decade
    // (bytes-exponent 1.07, bench_evidence/r14_third_decade_fixed.json).
    // Four corpus shuffles down to two; identical output. Precondition
    // the old global distinct did not need: doc_id rows are unique (the
    // fixture's primary key — TESTDATA.md; a violation would hash-FAIL
    // against the oracle's global-DISTINCT shape at the next gate).
    "q_ngram_novelty" -> { (s, dir) =>
      val g = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(ts) - 2)," +
            " i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)," +
            " element_at(ts, i + 2))))"))
          .as("ng"))
      // Hash-prefixed window key (same trick as q_bigram_lm's join): the
      // window shuffle sorts by its partition keys, and 3-gram STRINGS
      // are ~3 tokens wide — leading with xxhash64(ng) makes the sort
      // compare an 8-byte long and reach the string only on collisions.
      // Grouping is unchanged (the hash is functionally dependent on ng).
      g.withColumn("fd",
          min("doc_id").over(Window.partitionBy(xxhash64(col("ng")), col("ng"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_ngrams"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    },

    // Per-source KL divergence from the corpus token distribution — the
    // domain-shift / source-signature monitor (a source whose KL spikes
    // changed its content mix). Every table in the join is
    // vocabulary-bounded after the one corpus-sized (source, token)
    // count; totals ride broadcasts. ln()-parity canon per term.
    "q_source_kl" -> { (s, dir) =>
      // Materialized: st feeds the per-source totals, the corpus token
      // totals, the grand total AND the KL join — four corpus replays
      // unbarriered (ReuseProbe r9).
      val st = graft.core.Materialize(
        t(s, dir, "documents")
          .select(col("source"),
            explode(expr("filter(split(text, ' '), t -> t <> '')")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c")),
        "sourcekl-st")
      val ssum = st.groupBy("source").agg(sum("c").as("sn"))
      val ct = st.groupBy("tok").agg(sum("c").as("cc"))
      val tot = st.agg(sum("c").as("n"))
      st.join(ssum, "source").join(ct, "tok").crossJoin(broadcast(tot))
        .select(col("source"),
          round((col("c").cast("double") / col("sn")) *
            log((col("c").cast("double") / col("sn")) /
              (col("cc").cast("double") / col("n"))), 6)
            .cast("decimal(18,6)").as("term"))
        .groupBy("source")
        .agg(round(sum("term").cast("double"), 6).as("kl"))
        .orderBy("source")
    },

    // Per-block near-dup contamination report — "how dirty is each
    // (lang, source)": doc count, exact jaccard ≥ 0.5 pair count, and
    // the fraction of docs in at least one near-dup pair. Rides Q31's
    // blocked exact pair join (the oracle-twin tier; q43 MinHash is
    // the at-scale candidate generator feeding the same report); the
    // involved-doc count is a distinct over pair endpoints, bounded by
    // block size. The curation dashboard number that decides which
    // source needs dedup FIRST.
    "q_dedup_rate" -> { (s, dir) =>
      val tok = exactPairTok(s, t(s, dir, "documents"))
      // Unbarriered size table — the replayed agg overlaps the self-join
      // stages and beats a write barrier here (BENCH_NOTES.md: 2.17 vs 2.41 s).
      val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = tok.as("a").join(tok.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.lang").as("lang"), col("a.source").as("source"),
          col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("ix"))
      val jac = col("ix").cast("double") /
        (col("s1.sz") + col("s2.sz") - col("ix"))
      val pairs = inter
        .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
        .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
        .filter(jac >= 0.5)
        .select(col("lang"), col("source"), col("id1"), col("id2"))
      // ONE pass over the pair tier (separate involved/n_pairs branches
      // would replay the token self-join twice — the q_threshold_sweep
      // plan audit): per-(block, doc) membership counts m give
      // n_dup_docs = #rows and n_pairs = Σm/2 in a single agg chain.
      val pd = pairs
        .select(col("lang"), col("source"), explode(array(col("id1"), col("id2"))).as("d"))
        .groupBy("lang", "source", "d").agg(count(lit(1)).as("m"))
        .groupBy("lang", "source").agg(
          (sum("m") / 2).cast("long").as("n_pairs"),
          count(lit(1)).as("n_dup_docs"))
      val blocks = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
      blocks.join(pd, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"), col("n_docs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
          round(coalesce(col("n_dup_docs"), lit(0L)).cast("double") /
            col("n_docs"), 6).as("dup_rate"))
        .orderBy("lang", "source")
    },

    // Dedup-threshold sweep: pair and involved-doc counts at each
    // candidate jaccard threshold — the curve a curation team reads to
    // CHOOSE the dedup threshold (too low deletes distinct docs, too
    // high keeps near-dups). Rides the Q31 exact-pair tier once; the
    // fixed 5-threshold fan-out is a bounded explode, everything after
    // is partial-aggregable counts keyed on a 5-value domain.
    "q_threshold_sweep" -> { (s, dir) =>
      val pairs = queries("q31_jaccard_pairs")(s, dir)
        .select(col("id1"), col("id2"), col("jaccard"))
      val ts = array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)
      // ONE pass over the pair tier (a separate n_pairs branch and a
      // distinct-docs branch would each replay the q31 token self-join —
      // the plan carried the whole pair subtree twice): explode to
      // (threshold, doc) rows and count each doc's pair memberships m;
      // then per threshold n_dup_docs = #rows and n_pairs = Σm / 2
      // (every pair contributes one membership to each of its two docs,
      // so the sum is exactly even).
      val pd = pairs.withColumn("threshold", explode(ts))
        .filter(col("jaccard") >= col("threshold"))
        .select(col("threshold"),
          explode(array(col("id1"), col("id2"))).as("d"))
        .groupBy("threshold", "d").agg(count(lit(1)).as("m"))
        .groupBy("threshold").agg(
          (sum("m") / 2).cast("long").as("n_pairs"),
          count(lit(1)).as("n_dup_docs"))
      // Left join from the full threshold domain so an empty high bucket
      // still emits a zero row (the curve must cover every candidate).
      s.range(1).select(explode(ts).as("threshold"))
        .join(pd, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
        .orderBy("threshold")
    },

    // Per-source token-inflation report: how much compute duplicates
    // waste. Tokens before vs after near-dup dedup (one min-id rep kept
    // per Q31/CC cluster; unpaired docs keep themselves). Q31 blocks
    // pairs on (lang, source), so clusters never straddle a source and
    // the per-source attribution is exact. The CC labels join is the
    // only non-local step; everything else is one map-side projection
    // plus a source-keyed partial agg.
    "q_dup_inflation" -> { (s, dir) =>
      val pairs = queries("q31_jaccard_pairs")(s, dir).select("id1", "id2")
      val comp = graft.dedup.DedupClusters.connectedComponents(pairs)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      docs.join(comp, docs("doc_id") === comp("id"), "left")
        .withColumn("rep", coalesce(col("comp"), col("doc_id")))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum("n_tok").as("tokens"),
          sum(when(col("doc_id") === col("rep"), 1L).otherwise(0L)).as("docs_after"),
          sum(when(col("doc_id") === col("rep"), col("n_tok"))
            .otherwise(0L)).as("tokens_after"))
        .select(col("source"), col("docs"), col("tokens"), col("docs_after"),
          col("tokens_after"),
          round(col("tokens").cast("double") / col("tokens_after"), 6)
            .as("inflation"))
        .orderBy("source")
    },

    // Per-source quota sampling: keep at most CAP docs per source,
    // chosen by the deterministic md5 order every mixing op in this
    // engine shares — the "cap, don't scale" primitive that bounds any
    // one source's contribution to a training mix (weighted/temperature
    // sampling rescale; quotas clip). The rank ≤ cap filter triggers
    // Catalyst's InferWindowGroupLimit: the physical plan (PLANS.md)
    // carries a PARTIAL WindowGroupLimit before the exchange, so each
    // map task forwards only its local top-cap per source and the
    // reducer-side sort sees ≤ cap × map-partitions rows per source —
    // a mega-source never funnels its full row set through one task.
    // (A hand-rolled two-phase salt/re-rank spelling was measured: it
    // produces the identical result with one MORE exchange — the engine
    // already does the bounding.)
    "q_quota_sample" -> { (s, dir) =>
      val cap = 10
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= cap)
        .orderBy("source", "rn")
    }
  )

  /** 0..255 bucket from the first two md5 hex chars of doc_id — the
    * deterministic sampling key shared by q_data_mix / q_split_assign
    * (spelled inline there) and the temperature-mix / shard operators. */
  private def bucketExpr = expr(
    "(instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 1, 1)) - 1) * 16" +
      " + (instr('0123456789abcdef', substring(md5(cast(doc_id AS string)), 2, 1)) - 1)")

  /** Q31's oracle body, shared verbatim by every oracle that rides the
    * exact-pair tier (q_dedup_clusters and friends in DedupClusters,
    * q_threshold_sweep, q_dup_inflation). */
  val q31OracleSql: String = """
      WITH tok AS (
        SELECT DISTINCT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      tokf AS (SELECT * FROM tok WHERE tok <> ''),
      sizes AS (SELECT doc_id, count(*) AS sz FROM tokf GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix
        FROM tokf a JOIN tokf b
          ON a.lang = b.lang AND a.source = b.source
         AND a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2,
             round(CAST(ix AS DOUBLE) / (s1.sz + s2.sz - ix), 6) AS jaccard
      FROM inter
      JOIN sizes s1 ON id1 = s1.doc_id
      JOIN sizes s2 ON id2 = s2.doc_id
      WHERE CAST(ix AS DOUBLE) / (s1.sz + s2.sz - ix) >= 0.5
      ORDER BY id1, id2"""

  val oracle: Map[String, String] = Map(
    "q_span_dedup" -> """
      WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sp AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(ts) >= 5
            THEN list_transform(range(1, len(ts) - 3),
                   i -> array_to_string(list_slice(ts, i, i + 4), ' '))
            ELSE [] END)) AS span
        FROM tokd),
      own AS (SELECT span, min(doc_id) AS owner FROM sp GROUP BY span)
      SELECT s.doc_id, count(*) AS n_spans,
             CAST(sum(CASE WHEN own.owner <> s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_borrowed,
             round(CAST(sum(CASE WHEN own.owner <> s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS borrowed_frac
      FROM sp s JOIN own ON s.span = own.span
      GROUP BY s.doc_id ORDER BY s.doc_id""",

    "q_split_assign" -> """
      WITH b AS (
        SELECT lang, text,
          (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bk
        FROM documents)
      SELECT lang,
             CASE WHEN bk < 230 THEN 'train'
                  WHEN bk < 243 THEN 'val' ELSE 'test' END AS subset,
             count(*) AS docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_pii_scrub" -> """
      SELECT doc_id,
        CAST(len(regexp_extract_all(text || ' contact user_' || doc_id
          || '@example.com or 555-' || doc_id, '[a-z0-9_]+@[a-z0-9.]+')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text || ' contact user_' || doc_id
          || '@example.com or 555-' || doc_id, '555-[0-9]+')) AS BIGINT) AS n_phone,
        md5(regexp_replace(regexp_replace(text || ' contact user_' || doc_id
          || '@example.com or 555-' || doc_id,
          '[a-z0-9_]+@[a-z0-9.]+', '<EMAIL>', 'g'), '555-[0-9]+', '<PHONE>', 'g')) AS scrubbed_md5
      FROM documents ORDER BY doc_id""",

    "q_ngram_freq" -> """
      WITH tokd AS (SELECT string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT array_to_string(list_slice(toks, i, i + 2), ' ') AS ngram
        FROM (SELECT toks, unnest(range(1, greatest(len(toks) - 1, 1))) AS i
              FROM tokd))
      SELECT ngram, count(*) AS cnt FROM g
      GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT 20""",

    "q_chunk_pack" -> """
      SELECT doc_id, CAST((i - 1) // 128 AS BIGINT) AS chunk_id,
             count(*) AS n_toks
      FROM (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS i
            FROM documents WHERE doc_id < 50)
      GROUP BY 1, 2 ORDER BY doc_id, chunk_id""",

    "q30_exact_dedup" -> """
      WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
      SELECT lang, count(*) AS survivors
      FROM documents JOIN reps USING (doc_id)
      GROUP BY lang ORDER BY lang""",

    "q31_jaccard_pairs" -> q31OracleSql,

    "q33_wordcount" -> """
      WITH tk AS (
        SELECT unnest(regexp_split_to_array(lower(text), '[#%?!. ]')) AS token
        FROM documents)
      SELECT token, count(*) AS cnt FROM tk
      WHERE token <> '' AND token NOT IN ('the')
      GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",

    "q_lang_id" -> """
      WITH m AS (
        SELECT doc_id,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the','a','of','and','is','in','to'))) AS markers,
          len(string_split(text, ' ')) AS n_tok
        FROM documents)
      SELECT doc_id,
             round(CAST(markers AS DOUBLE) / n_tok, 6) AS marker_ratio,
             CASE WHEN CAST(markers AS DOUBLE) / n_tok > 0.05
                  THEN 'en' ELSE 'und' END AS pred_lang
      FROM m ORDER BY doc_id""",

    "q_quality_score" -> """
      WITH m AS (
        SELECT doc_id,
          len(string_split(text, ' ')) AS n_tok,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the','a','of','and','is','in','to'))) AS n_stop
        FROM documents)
      SELECT doc_id,
             CAST(n_tok AS BIGINT) AS n_tok,
             CAST(n_distinct AS BIGINT) AS n_distinct,
             round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio,
             round(CAST(n_distinct AS DOUBLE) / n_tok, 6) AS ttr,
             round(0.4 * least(CAST(n_tok AS DOUBLE) / 50, 1.0)
                 + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
                 + 0.3 * CAST(n_distinct AS DOUBLE) / n_tok, 6) AS quality
      FROM m ORDER BY doc_id""",

    "q_token_count" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_ws,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS tok_re,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents ORDER BY doc_id""",

    "q_fingerprint" -> """
      SELECT doc_id, source, md5(text) AS fp
      FROM documents ORDER BY doc_id""",

    "q_simhash" -> SimhashSql.duck,
    "q_simhash_pairs" -> SimhashSql.pairsDuck,

    "q_gopher_quality" -> """
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      g AS (SELECT doc_id,
              CASE WHEN len(ts) >= 2
                THEN list_transform(range(1, len(ts)),
                       i -> array_to_string(list_slice(ts, i, i + 1), ' '))
                ELSE [] END AS grams
            FROM toks),
      dup AS (SELECT doc_id,
                1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                    / greatest(len(grams), 1) AS dup2
              FROM g),
      tokf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      tokff AS (SELECT * FROM tokf WHERE tok <> ''),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tokff GROUP BY 1, 2),
      lens AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
      ent AS (
        SELECT tf.doc_id,
          round(-sum((CAST(tf.tf AS DOUBLE) / lens.len)
              * ln(CAST(tf.tf AS DOUBLE) / lens.len)), 4) AS entropy,
          round(CAST(max(tf.tf) AS DOUBLE) / max(lens.len), 6) AS top_tok_frac
        FROM tf JOIN lens USING (doc_id) GROUP BY tf.doc_id)
      SELECT e.doc_id, round(dup.dup2, 6) AS dup_2gram_ratio,
             e.entropy, e.top_tok_frac
      FROM ent e JOIN dup USING (doc_id)
      ORDER BY doc_id""",

    "q_tfidf_keywords" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tokf AS (SELECT * FROM tok WHERE tok <> ''),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tokf GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      n AS (SELECT count(*) AS n FROM documents),
      sc AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (tok), n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
            FROM sc)
      SELECT doc_id, CAST(rn AS BIGINT) AS rn, tok, tfidf
      FROM r WHERE rn <= 3 AND doc_id < 100 ORDER BY doc_id, rn""",

    "q_contamination" -> """
      WITH tokd AS (
        SELECT doc_id, lang, source, string_split(text, ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, lang, source,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM (SELECT doc_id, lang, source, toks,
                     unnest(range(1, greatest(len(toks) - 1, 1))) AS i
              FROM tokd)),
      ev AS (SELECT DISTINCT lang, shingle FROM sh WHERE source = 'src0'),
      tr AS (
        SELECT DISTINCT s.lang, s.doc_id
        FROM sh s JOIN ev e ON s.lang = e.lang AND s.shingle = e.shingle
        WHERE s.source <> 'src0'),
      tot AS (
        SELECT lang, count(*) AS train_total
        FROM documents WHERE source <> 'src0' GROUP BY lang),
      cnt AS (SELECT lang, count(*) AS contaminated FROM tr GROUP BY lang)
      SELECT tot.lang,
        CAST(coalesce(cnt.contaminated, 0) AS BIGINT) AS contaminated,
        CAST(tot.train_total AS BIGINT) AS train_total,
        round(CAST(coalesce(cnt.contaminated, 0) AS DOUBLE) / tot.train_total, 6) AS rate
      FROM tot LEFT JOIN cnt ON tot.lang = cnt.lang
      ORDER BY tot.lang""",

    "q_data_mix" -> """
      WITH b AS (
        SELECT lang, text,
          (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        FROM documents)
      SELECT lang, count(*) AS kept,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM b
      WHERE bucket < CASE WHEN lang = 'en' THEN 205 ELSE 77 END
      GROUP BY lang ORDER BY lang""",

    "q_corpus_clean" -> """
      WITH m AS (
        SELECT doc_id, lang, source, text,
          len(string_split(text, ' ')) AS n_tok,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the','a','of','and','is','in','to'))) AS n_stop
        FROM documents),
      scored AS (
        SELECT doc_id, lang, source, text, CAST(n_tok AS BIGINT) AS n_tok,
          round(0.4 * least(CAST(n_tok AS DOUBLE) / 50, 1.0)
              + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
              + 0.3 * CAST(n_distinct AS DOUBLE) / n_tok, 6) AS quality
        FROM m),
      kept AS (SELECT * FROM scored WHERE quality >= 0.5),
      reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text)
      SELECT lang, source, count(*) AS kept,
        CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
        round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
          / count(*), 6) AS avg_quality
      FROM kept JOIN reps USING (doc_id)
      GROUP BY lang, source ORDER BY lang, source""",

    "q_temperature_mix" -> """
      WITH d AS (
        SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        FROM documents),
      lt AS (SELECT lang, count(*) AS docs, CAST(sum(n_tok) AS BIGINT) AS tokens
             FROM d GROUP BY lang),
      tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS tot_tokens FROM lt),
      w AS (SELECT lang, docs, tokens, tokens / tot_tokens AS p,
                   pow(tokens / tot_tokens, 0.3) AS pa
            FROM lt, tot),
      s AS (SELECT sum(pa) AS spa FROM w),
      fct AS (SELECT lang, docs, tokens, p, pa / spa AS q, (pa / spa) / p AS f,
                     CAST(floor((pa / spa) / p) AS BIGINT) AS base,
                     round(((pa / spa) / p - floor((pa / spa) / p)) * 256, 0) AS thr
              FROM w, s),
      ep AS (SELECT d.lang,
                    CAST(sum(base + CASE WHEN d.bucket < thr THEN 1 ELSE 0 END) AS BIGINT)
                      AS planned_copies
             FROM d JOIN fct ON d.lang = fct.lang GROUP BY d.lang)
      SELECT fct.lang, docs, tokens,
             round(p, 6) AS p_nat, round(q, 6) AS p_temp, round(f, 6) AS factor,
             planned_copies
      FROM fct JOIN ep ON fct.lang = ep.lang
      ORDER BY fct.lang""",

    "q_shard_manifest" -> """
      WITH b AS (
        SELECT doc_id,
          CAST(((instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 16
            AS BIGINT) AS shard,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents)
      SELECT shard, count(*) AS docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
             min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM b GROUP BY shard ORDER BY shard""",

    "q_bm25_rank" -> """
      WITH d AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl,
                        string_split(text,' ') AS ts
                 FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       avg(CAST(dl AS DOUBLE)) AS avgdl FROM d),
      tok AS (SELECT doc_id, unnest(ts) AS tok FROM d),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok
             WHERE tok IN ('spark','window','hash') GROUP BY 1, 2),
      df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
      sc AS (SELECT tf.doc_id,
               sum( ln((n - df + 0.5) / (df + 0.5) + 1)
                    * tf * (1.2 + 1)
                    / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) ) AS raw
             FROM tf JOIN df USING (tok) JOIN d USING (doc_id), stats
             GROUP BY tf.doc_id)
      SELECT doc_id, round(raw, 6) AS bm25 FROM sc
      ORDER BY bm25 DESC, doc_id LIMIT 20""",

    "q_containment_pairs" -> """
      WITH tok AS (
        SELECT doc_id, lang, source,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents),
      tk AS (SELECT * FROM tok WHERE tok <> ''),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
                FROM tk GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS ix
        FROM tk a JOIN tk b ON a.lang = b.lang AND a.source = b.source
          AND a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      directed AS (
        SELECT id1 AS src_doc, id2 AS dst_doc, ix FROM inter
        UNION ALL
        SELECT id2, id1, ix FROM inter)
      SELECT src_doc, dst_doc,
             round(CAST(ix AS DOUBLE) / s.sz, 6) AS containment
      FROM directed JOIN sizes s ON src_doc = s.doc_id
      WHERE CAST(ix AS DOUBLE) / s.sz >= 0.8
      ORDER BY src_doc, dst_doc""",

    "q_prefix_dup" -> """
      WITH p AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(string_split(text, ' '), 1, 8),
                   ' ')) AS prefix_key
        FROM documents)
      SELECT prefix_key, CAST(count(*) AS BIGINT) AS docs,
             min(doc_id) AS canonical_doc
      FROM p GROUP BY prefix_key HAVING count(*) > 1
      ORDER BY prefix_key""",

    "q_rare_token_ratio" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             FROM tok WHERE tok <> '' GROUP BY 1, 2),
      cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY tok),
      m AS (SELECT avg(CAST(cf AS DOUBLE)) AS mean_cf FROM cf)
      SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
             round(CAST(sum(CASE WHEN cf < 0.25 * mean_cf THEN tf ELSE 0 END)
                        AS DOUBLE) / sum(tf), 6) AS rare_frac
      FROM tf JOIN cf USING (tok), m
      GROUP BY tf.doc_id
      ORDER BY tf.doc_id""",

    "q_pmi_pairs" -> """
      WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      tk AS (SELECT * FROM tok WHERE tok <> ''),
      vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk
                GROUP BY tok ORDER BY df DESC, tok LIMIT 100),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      vtok AS (SELECT tk.doc_id, tk.tok, vocab.df
               FROM tk JOIN vocab USING (tok)),
      co AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
               CAST(count(*) AS BIGINT) AS co
        FROM vtok a JOIN vtok b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2, 3, 4)
      SELECT tok_a, tok_b, co,
             round(ln(co * n / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi
      FROM co, n WHERE co >= 5
      ORDER BY pmi DESC, tok_a, tok_b LIMIT 20""",

    "q_bpe_merges" -> """
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      w2 AS (SELECT w FROM w WHERE len(w) >= 2),
      p AS (SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
            FROM w2, LATERAL (SELECT unnest(range(1, len(w))) AS i))
      SELECT pair, CAST(count(*) AS BIGINT) AS cnt
      FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",

    "q_charset_profile" -> """
      WITH c AS (
        SELECT lang, source, len(text) AS n,
               len(text) - len(regexp_replace(text, '[a-zA-Z0-9]', '', 'g')) AS na,
               len(text) - len(regexp_replace(text, '[ ]', '', 'g')) AS ns
        FROM documents)
      SELECT lang, source, CAST(sum(n) AS BIGINT) AS chars,
             round(CAST(sum(na) AS DOUBLE) / sum(n), 6) AS alnum_ratio,
             round(CAST(sum(ns) AS DOUBLE) / sum(n), 6) AS space_ratio
      FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_bigram_lm" -> """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents),
      t2 AS (SELECT doc_id, ts FROM toks WHERE len(ts) >= 2),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                 i -> ts[i] || ' ' || ts[i + 1])) AS pair
        FROM t2),
      c2 AS (SELECT pair, count(*) AS c2 FROM bg GROUP BY pair),
      c1 AS (SELECT split_part(pair, ' ', 1) AS w1, sum(c2) AS c1
             FROM c2 GROUP BY 1),
      terms AS (
        SELECT bg.doc_id,
               CAST(round(-ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS term
        FROM bg JOIN c2 USING (pair)
                JOIN c1 ON split_part(bg.pair, ' ', 1) = c1.w1)
      SELECT doc_id, count(*) AS n_bigrams,
             round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS avg_nll
      FROM terms GROUP BY doc_id ORDER BY doc_id""",

    "q_langid_confusion" -> """
      WITH p AS (
        SELECT lang,
               CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','of','and','is','in','to')))
                      AS DOUBLE) / len(string_split(text, ' ')) > 0.05
                    THEN 'en' ELSE 'und' END AS pred_lang
        FROM documents),
      c AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
      SELECT lang, pred_lang, n,
             round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6)
               AS rate
      FROM c ORDER BY lang, pred_lang""",

    "q_llr_keywords" -> """
      WITH tf AS MATERIALIZED (
        SELECT lang, tok, count(*) AS k11
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE len(tok) > 0 GROUP BY 1, 2),
      tt AS MATERIALIZED (SELECT tok, sum(k11) AS tok_tot FROM tf GROUP BY 1),
      lt AS (SELECT lang, sum(k11) AS lang_tot FROM tf GROUP BY 1),
      nt AS (SELECT sum(k11) AS n_tot FROM tf),
      cells AS (
        SELECT tf.lang, tf.tok, tf.k11, tt.tok_tot, lt.lang_tot, nt.n_tot,
               tt.tok_tot - tf.k11 AS k12,
               lt.lang_tot - tf.k11 AS k21,
               nt.n_tot - tt.tok_tot - lt.lang_tot + tf.k11 AS k22
        FROM tf JOIN tt USING (tok) JOIN lt USING (lang), nt),
      scored AS (
        SELECT lang, tok, k11,
               round(2.0 * (
                 CASE WHEN k11 > 0 THEN round(CAST(k11 AS DOUBLE) *
                   ln(CAST(k11 AS DOUBLE) /
                      (lang_tot * tok_tot / CAST(n_tot AS DOUBLE))), 6)
                   ELSE 0.0 END +
                 CASE WHEN k12 > 0 THEN round(CAST(k12 AS DOUBLE) *
                   ln(CAST(k12 AS DOUBLE) /
                      ((CAST(n_tot AS DOUBLE) - lang_tot) * tok_tot
                        / CAST(n_tot AS DOUBLE))), 6)
                   ELSE 0.0 END +
                 CASE WHEN k21 > 0 THEN round(CAST(k21 AS DOUBLE) *
                   ln(CAST(k21 AS DOUBLE) /
                      (lang_tot * (CAST(n_tot AS DOUBLE) - tok_tot)
                        / CAST(n_tot AS DOUBLE))), 6)
                   ELSE 0.0 END +
                 CASE WHEN k22 > 0 THEN round(CAST(k22 AS DOUBLE) *
                   ln(CAST(k22 AS DOUBLE) /
                      ((CAST(n_tot AS DOUBLE) - lang_tot) *
                       (CAST(n_tot AS DOUBLE) - tok_tot)
                        / CAST(n_tot AS DOUBLE))), 6)
                   ELSE 0.0 END), 4) AS llr
        FROM cells
        WHERE CAST(k11 AS DOUBLE) / lang_tot > CAST(tok_tot AS DOUBLE) / n_tot),
      ranked AS (
        SELECT lang, tok, k11, llr,
               row_number() OVER (PARTITION BY lang
                 ORDER BY llr DESC, tok) AS rk
        FROM scored)
      SELECT lang, rk, tok, k11, llr FROM ranked
      WHERE rk <= 10 ORDER BY lang, rk""",

    "q_posting_stats" -> """
      WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE len(tok) > 0),
      g AS (
        SELECT tok, doc_id,
               doc_id - lag(doc_id) OVER (PARTITION BY tok ORDER BY doc_id)
                 AS gap
        FROM toks)
      SELECT tok, count(*) AS df,
             max(doc_id) - min(doc_id) AS span,
             CAST(sum(CASE WHEN gap IS NULL
                           THEN ceil(len(bin(doc_id)) / 7.0)
                           ELSE ceil(len(bin(gap)) / 7.0) END)
               AS BIGINT) AS bytes_est
      FROM g GROUP BY tok ORDER BY df DESC, tok LIMIT 50""",

    "q_stratified_sample" -> """
      WITH r AS (
        SELECT lang, source, doc_id,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
               count(*) OVER (PARTITION BY lang, source) AS n
        FROM documents)
      SELECT lang, source, doc_id, rk, (n + 9) // 10 AS quota
      FROM r WHERE rk <= (n + 9) // 10
      ORDER BY lang, source, rk""",

    "q_repetition_ratio" -> """
      WITH f AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents),
      f2 AS (SELECT doc_id, ts FROM f WHERE len(ts) >= 2),
      base AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n,
                      CAST(len(list_distinct(ts)) AS BIGINT) AS nd FROM f2),
      bg AS (
        SELECT doc_id, array_to_string(list_slice(ts, i, i + 1), ' ') AS bg
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM f2)),
      bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
      bga AS (SELECT doc_id, max(c) AS maxbg, sum(c) AS nbg
              FROM bgc GROUP BY doc_id)
      SELECT b.doc_id, n AS n_tokens,
             round(CAST(n - nd AS DOUBLE) / n, 6) AS dup_token_frac,
             round(CAST(maxbg AS DOUBLE) / nbg, 6) AS top_bigram_frac
      FROM base b JOIN bga USING (doc_id) ORDER BY doc_id""",

    "q_vocab_cdf" -> """
      WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents),
      c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
      tot AS (SELECT sum(c) AS total FROM c),
      ranked AS (
        SELECT tok, c,
               row_number() OVER (ORDER BY c DESC, tok) AS rn,
               sum(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
        FROM c),
      hits AS (
        SELECT t.thr, r.rn, r.cum, r.c, tot.total
        FROM ranked r CROSS JOIN tot
        JOIN (SELECT unnest([50, 75, 90, 95, 99]) AS thr) t
          ON r.cum * 100 >= t.thr * tot.total
         AND (r.cum - r.c) * 100 < t.thr * tot.total)
      SELECT CAST(thr AS BIGINT) AS thr_pct, CAST(rn AS BIGINT) AS vocab_size,
             round(CAST(cum AS DOUBLE) / total, 6) AS coverage
      FROM hits ORDER BY thr_pct""",

    "q_cooccur_window" -> """
      WITH tok AS (
        SELECT doc_id, i AS pos, ts[i] AS tok
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t <> '') AS ts
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
      pr AS (
        SELECT a.tok AS w1, b.tok AS w2
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2)
      SELECT w1, w2, count(*) AS cnt FROM pr GROUP BY w1, w2
      ORDER BY cnt DESC, w1, w2 LIMIT 30""",

    "q_char_entropy" -> """
      WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
      tot AS (SELECT doc_id, sum(n) AS nt FROM cc GROUP BY doc_id),
      terms AS (
        SELECT cc.doc_id,
               CAST(round(-(n / nt) * ln(n / nt), 6) AS DECIMAL(18,6)) AS term
        FROM cc JOIN tot USING (doc_id))
      SELECT doc_id, round(CAST(sum(term) AS DOUBLE), 6) AS entropy
      FROM terms GROUP BY doc_id ORDER BY doc_id""",

    "q_zipf_slope" -> """
      WITH c AS (
        SELECT tok, count(*) AS c
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                       t -> t <> '')) AS tok FROM documents)
        GROUP BY tok),
      rk AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn
             FROM c),
      xy AS (SELECT round(ln(rn), 6) AS x, round(ln(c), 6) AS y FROM rk),
      s AS (SELECT count(*) AS n,
                   CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx
            FROM xy)
      SELECT CAST(n AS BIGINT) AS vocab,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept
      FROM s""",

    "q_ngram_novelty" -> """
      WITH f AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(ts, i, i + 2), ' ') AS ng
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
              FROM f WHERE len(ts) >= 3)),
      first AS (SELECT ng, min(doc_id) AS fd FROM g GROUP BY ng),
      j AS (
        SELECT g.doc_id, count(*) AS n,
               sum(CASE WHEN fi.fd = g.doc_id THEN 1 ELSE 0 END) AS novel
        FROM g JOIN first fi USING (ng) GROUP BY g.doc_id)
      SELECT doc_id, CAST(n AS BIGINT) AS n_ngrams,
             CAST(novel AS BIGINT) AS n_novel,
             round(CAST(novel AS DOUBLE) / n, 6) AS novelty
      FROM j ORDER BY doc_id""",

    "q_source_kl" -> """
      WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                 t -> t <> '')) AS tok
        FROM documents),
      st AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok),
      ssum AS (SELECT source, sum(c) AS sn FROM st GROUP BY source),
      ct AS (SELECT tok, sum(c) AS cc FROM st GROUP BY tok),
      tot AS (SELECT sum(c) AS n FROM st),
      terms AS (
        SELECT st.source,
               CAST(round((st.c / ssum.sn) * ln((st.c / ssum.sn) /
                      (ct.cc / tot.n)), 6) AS DECIMAL(18,6)) AS term
        FROM st JOIN ssum USING (source) JOIN ct USING (tok) CROSS JOIN tot)
      SELECT source, round(CAST(sum(term) AS DOUBLE), 6) AS kl
      FROM terms GROUP BY source ORDER BY source""",

    "q_dedup_rate" -> """
      WITH tok AS (
        SELECT DISTINCT doc_id, lang, source,
               unnest(string_split(text, ' ')) AS tok
        FROM documents),
      tokf AS (SELECT * FROM tok WHERE tok <> ''),
      sizes AS (SELECT doc_id, count(*) AS sz FROM tokf GROUP BY doc_id),
      inter AS (
        SELECT a.lang, a.source, a.doc_id AS id1, b.doc_id AS id2,
               count(*) AS ix
        FROM tokf a JOIN tokf b
          ON a.lang = b.lang AND a.source = b.source
         AND a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      pairs AS (
        SELECT i.lang, i.source, id1, id2
        FROM inter i
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(ix AS DOUBLE) / (s1.sz + s2.sz - ix) >= 0.5),
      inv AS (
        SELECT lang, source, count(*) AS n_dup_docs
        FROM (SELECT DISTINCT lang, source, unnest([id1, id2]) AS d FROM pairs)
        GROUP BY 1, 2),
      np AS (SELECT lang, source, count(*) AS n_pairs FROM pairs GROUP BY 1, 2),
      blocks AS (SELECT lang, source, count(*) AS n_docs
                 FROM documents GROUP BY 1, 2)
      SELECT b.lang, b.source, b.n_docs,
             coalesce(np.n_pairs, 0) AS n_pairs,
             coalesce(inv.n_dup_docs, 0) AS n_dup_docs,
             round(CAST(coalesce(inv.n_dup_docs, 0) AS DOUBLE) / b.n_docs, 6)
               AS dup_rate
      FROM blocks b
      LEFT JOIN np USING (lang, source)
      LEFT JOIN inv USING (lang, source)
      ORDER BY b.lang, b.source""",

    "q_threshold_sweep" -> s"""
      WITH pairs AS ($q31OracleSql),
      t(threshold) AS (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)),
      pe AS (
        SELECT CAST(t.threshold AS DOUBLE) AS threshold, p.id1, p.id2
        FROM t JOIN pairs p ON p.jaccard >= t.threshold),
      np AS (SELECT threshold, count(*) AS n_pairs FROM pe GROUP BY 1),
      nd AS (
        SELECT threshold, count(*) AS n_dup_docs
        FROM (SELECT DISTINCT threshold, unnest([id1, id2]) AS d FROM pe)
        GROUP BY 1)
      SELECT CAST(t.threshold AS DOUBLE) AS threshold,
             CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
             CAST(coalesce(nd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
      FROM t
      LEFT JOIN np ON np.threshold = CAST(t.threshold AS DOUBLE)
      LEFT JOIN nd ON nd.threshold = CAST(t.threshold AS DOUBLE)
      ORDER BY threshold""",

    "q_dup_inflation" -> s"""
      WITH RECURSIVE pairs AS ($q31OracleSql),
      edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      r(id, n) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.id, e.b FROM r JOIN edges e ON r.n = e.a),
      comp AS (SELECT id, min(n) AS rep FROM r GROUP BY id),
      d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      j AS (
        SELECT d.doc_id, d.source, d.n_tok,
               coalesce(c.rep, d.doc_id) AS rep
        FROM d LEFT JOIN comp c ON d.doc_id = c.id)
      SELECT source,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(n_tok) AS BIGINT) AS tokens,
             CAST(sum(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_after,
             CAST(sum(CASE WHEN doc_id = rep THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_after,
             round(CAST(sum(n_tok) AS DOUBLE)
               / sum(CASE WHEN doc_id = rep THEN n_tok ELSE 0 END), 6)
               AS inflation
      FROM j GROUP BY source ORDER BY source""",

    "q_quota_sample" -> """
      SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      WHERE rn <= 10 ORDER BY source, rn"""
  )
}

/** Shared SimHash SQL: the same fingerprint spelled for Spark and for
  * DuckDB. Each token occurrence is hashed to the first 12 md5 hex chars
  * (48 bits); bit b of a document's fingerprint is 1 iff the ±1 votes of
  * its token occurrences on that bit sum to more than 0, so a tie gives 0.
  *
  * What must stay true of the Spark chain (`fpChain`):
  *  - ONE corpus scan and ONE exchange: votes are summed over raw token
  *    occurrences (sum of count·sign over distinct (doc, tok) pairs equals
  *    the sum of signs over occurrences), so no (doc, tok) pre-aggregation,
  *    vocabulary branch or join exists. The only exchange is the per-doc
  *    one between the partial and the final `graft_simhash` aggregate.
  *  - The 48 votes are one native aggregate ([[graft.functions.SimHash]]),
  *    not 48 `sum` columns: the same integer votes, one aggregate function
  *    per aggregate node (pinned by `SimHashSpec`).
  *  - DuckDB's row-per-bit SQL (`duck`, `pairsDuck`) is the spec the Spark
  *    spelling is oracle-checked against; it is not a scale path.
  */
object SimhashSql {
  /** The chain grouped by `keys` (doc_id first; any further key is a
    * per-document column of `documents`, carried through the scan). */
  private def fpChain(keys: String): String = s"""
    WITH occ AS (
      SELECT $keys,
             CAST(conv(substring(md5(tok), 1, 12), 16, 10) AS BIGINT) AS v
      FROM (SELECT $keys, explode(split(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''),
    fp AS (
      SELECT $keys, graft_simhash(v) AS simhash
      FROM occ
      GROUP BY $keys)"""

  val spark: String = s"""${fpChain("doc_id")}
    SELECT doc_id, simhash FROM fp ORDER BY doc_id"""

  /** Fingerprints with their (lang, source) block keys, for the pairs
    * query: it materializes this doc-count-sized table once so both sides
    * of the band self-join read it instead of each re-running the chain
    * over the corpus (inline CTEs re-execute per reference). The block
    * keys are grouping keys of the chain, since doc_id determines them,
    * so the corpus is scanned once and no join back to `documents` is
    * needed. */
  val fpSql: String = s"""${fpChain("doc_id, lang, source")}
    SELECT doc_id, simhash, lang, source FROM fp"""

  /** Near-dup PAIRS by banded SimHash over the materialized `simhash_fp`
    * view: split the 48-bit fingerprint into 6 bands of 8 bits; by
    * pigeonhole, any two fingerprints within Hamming distance 5 agree
    * exactly on at least one band, so the band-equality equi-join
    * (blocked on (lang, source) like every other candidate generator
    * here) finds ALL such pairs — never a cross join. Hamming distance
    * via bit_count(xor) on the exact candidates only. The 6-row band
    * expansion is a LATERAL VIEW explode, not a CROSS JOIN against a
    * 6-row frame: identical rows, but a Generate node instead of a join
    * the planner must pick a strategy for (round 14 — under
    * autoBroadcastJoinThreshold=-1 the old spelling degenerated to a
    * CartesianProduct, tripping plan_check's no-cartesian invariant). */
  val pairsFromFp: String = """
    WITH bands AS (
      SELECT doc_id, simhash, lang, source, b,
             (simhash div CAST(pow(256, b) AS BIGINT)) % 256 AS bv
      FROM simhash_fp
      LATERAL VIEW explode(sequence(0, 5)) bs AS b),
    cand AS (
      SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
             x.simhash AS f1, y.simhash AS f2
      FROM bands x JOIN bands y
        ON x.lang = y.lang AND x.source = y.source
       AND x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT id1, id2, CAST(bit_count(f1 ^ f2) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(f1 ^ f2) <= 5
    ORDER BY id1, id2"""

  val duck: String = """
    WITH tok AS (
      SELECT doc_id, tok, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY doc_id, tok),
    vocab AS (SELECT tok, md5(tok) AS h FROM (SELECT DISTINCT tok FROM tok)),
    tokbits AS (
      SELECT tok, b,
             2 * ((CAST(instr('0123456789abcdef',
                   substring(h, CAST(b // 4 AS INT) + 1, 1)) - 1 AS INT)
                 // CAST(pow(2, b % 4) AS INT)) % 2) - 1 AS sgn
      FROM vocab, (SELECT unnest(range(0, 48)) AS b)),
    bits AS (
      SELECT t.doc_id, tb.b, sum(t.cnt * tb.sgn) AS vote
      FROM tok t JOIN tokbits tb ON t.tok = tb.tok
      GROUP BY t.doc_id, tb.b)
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id ORDER BY doc_id"""

  val pairsDuck: String = """
    WITH tok AS (
      SELECT doc_id, tok, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY doc_id, tok),
    vocab AS (SELECT tok, md5(tok) AS h FROM (SELECT DISTINCT tok FROM tok)),
    tokbits AS (
      SELECT tok, b,
             2 * ((CAST(instr('0123456789abcdef',
                   substring(h, CAST(b // 4 AS INT) + 1, 1)) - 1 AS INT)
                 // CAST(pow(2, b % 4) AS INT)) % 2) - 1 AS sgn
      FROM vocab, (SELECT unnest(range(0, 48)) AS b)),
    bits AS (
      SELECT t.doc_id, tb.b, sum(t.cnt * tb.sgn) AS vote
      FROM tok t JOIN tokbits tb ON t.tok = tb.tok
      GROUP BY t.doc_id, tb.b),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT f.doc_id, f.simhash, d.lang, d.source, bs.b,
             CAST((f.simhash // CAST(pow(256, bs.b) AS BIGINT)) % 256 AS BIGINT) AS bv
      FROM fp f JOIN documents d ON f.doc_id = d.doc_id
      CROSS JOIN (SELECT unnest(range(0, 6)) AS b) bs),
    cand AS (
      SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
             x.simhash AS f1, y.simhash AS f2
      FROM bands x JOIN bands y
        ON x.lang = y.lang AND x.source = y.source
       AND x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT id1, id2, CAST(bit_count(xor(f1, f2)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(f1, f2)) <= 5
    ORDER BY id1, id2"""
}
