package graft.tools

import graft.SparkEntry
import graft.core.{IoProbe, Measure}
import org.apache.spark.sql.functions.{col, length, sum}

/** Batch scale sweep: each query of the scale suite timed at a base dir
  * and at a scaled dir (~`factor`× the data, built by [[ScaleData]]), so
  * per-query scaling exponents e = log(t_scaled/t_base)/log(factor) are
  * measured, not argued. e ≈ 1 is linear; `tools/scale_check.py` gates the
  * records named in SCALE_LEDGER.txt.
  *
  * Usage: runMain graft.tools.BatchScale <baseDir> <scaledDir> <factor>
  *
  * Prints one JSON line, `{"metric":"scale",…}`, whose `scale` object
  * carries the per-dir min seconds, both exponent maps and the IO-probe
  * samples with the window's `healthy` stamp. Capture it with
  * `| grep '"metric":"scale"'`.
  *
  * SPARK_GRAFT_SCALE_SUITE (csv of query names) scopes the suite — e.g.
  * a decade whose scaled fixture carries `documents` alone. Partial
  * fixtures are allowed: a query whose table is missing fails into the -1
  * sentinel, never silently. SPARK_GRAFT_MAX_PARTITION_BYTES sets the scan
  * split size: a single-file compressed-text fixture starves the tokenize
  * stage at the default 128 MB split (one 79 MB documents file = one scan
  * task on 32 cores), which reads as impossible sub-linear exponents. The
  * override, or null, is stamped into the record so a timing taken off
  * the out-of-box conf says so.
  */
object BatchScale {
  /** The headline queries minus the tuner loop (a fixed 3-iteration cost,
    * not data-bound), plus the dedup/ANN scale paths and every pipeline
    * operator: a new operator ships with scale evidence. */
  val scaleSuite: Seq[String] = Seq(
    "q01_pricing_summary", "q04_multiway_join", "q15_window_rank",
    "q18_topk", "q31_jaccard_pairs", "q32_cosine_topk",
    "q34_sessionization", "q43_minhash_lsh", "q_simhash",
    "q_dedup_clusters", "q_ann_ivf", "q_ann_lsh", "q_span_dedup",
    "q_bm25_rank", "q_containment_pairs", "q_temperature_mix",
    "q_shard_manifest", "q_prefix_dup", "q_rare_token_ratio",
    "q_pmi_pairs", "q_bpe_merges", "q_label_centroid",
    // q_edit_distance is excluded by design: its per-pair cost is O(len²)
    // (~400× a jaccard intersection), and its scale path is a rerank after
    // MinHash/prefix blocking, not the profiling query itself.
    "q_zorder_key", "q_key_skew", "q_cms_topk", "q_pagerank_parts",
    "q_triangle_count", "q_event_transitions", "q_decay_sum", "q_ann_pq",
    "q_bigram_lm", "q_ann_ivfpq", "q_incr_rollup",
    "q_posting_stats", "q_stratified_sample", "q_debounce_dedup",
    "q_anomaly_zscore", "q_mad_outliers", "q_equidepth_bins",
    "q_compaction_plan", "q_langid_confusion", "q_llr_keywords",
    "q_scd2_dim", "q_session_concurrency", "q_spacesaving_topk",
    "q_group_topk_sketch", "q_variant_json", "q_embed_standardize",
    "q_auc_rank", "q_linreg_closed", "q_calibration_bins",
    "q_weighted_sample", "q_ohlc_resample", "q_gap_fill", "q_bfs_hops",
    // q_knn_graph is the declared exact twin (quadratic by contract); its
    // scale path is the IVF construction measured via q_ann_ivf.
    "q_interval_merge", "q_repetition_ratio", "q_vocab_cdf",
    "q_skyline", "q_cooccur_window", "q_char_entropy", "q_zipf_slope",
    "q_time_weighted_avg", "q_first_touch", "q_user_overlap",
    "q_ngram_novelty", "q_source_kl", "q_cohort_ltv", "q_rfm",
    "q_degree_dist", "q_changepoint",
    "q_cumulative_users", "q_rolling_dau",
    "q_dedup_rate",
    "q_threshold_sweep", "q_dup_inflation", "q_cluster_size_stats",
    "q_quota_sample", "q_simhash_pairs")

  /** Timed passes per dir; the min is the published basis. */
  private val Passes = 2

  def main(args: Array[String]): Unit = {
    val usage = "usage: BatchScale <baseDir> <scaledDir> <factor>"
    require(args.length == 3, usage)
    val Array(baseDir, scaledDir, rawFactor) = args
    // A factor <= 1 makes the log-ratio denominator meaningless; a
    // defaulted one would emit plausible-looking but wrong exponents.
    val factor = scala.util.Try(rawFactor.trim.toDouble).toOption
      .filter(_ > 1.0)
      .getOrElse(throw new IllegalArgumentException(
        s"factor '$rawFactor' is not a number > 1; $usage"))
    require(Seq("lineitem", "documents").exists(t =>
      new java.io.File(s"$scaledDir/$t.parquet").exists()),
      s"$scaledDir holds neither lineitem nor documents; $usage")

    val cpus = graft.core.Session.cpus(32)
    val mpbOverride = sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    val spark = graft.core.Session.local(s"local[$cpus]", cpus,
      mpbOverride.map("spark.sql.files.maxPartitionBytes" -> _).toSeq: _*)
    val suite = graft.core.EnvSuite.scope("SPARK_GRAFT_SCALE_SUITE",
      scaleSuite, SparkEntry.queries.contains, "batchscale")
    def runAt(name: String, dir: String): Double =
      Measure.time("batchscale", name)(SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())

    val ioPath = IoProbe.path(spark.conf.getOption("spark.local.dir"))
    val ioSamples = scala.collection.mutable.ArrayBuffer[Double]()
    // One warm pass per dir charges plan compilation, codegen and footer
    // caches to warmup; a cold first pass at the scaled dir alone would
    // bias every exponent upward. Probes ride BETWEEN the timed passes:
    // the sweep's own spill writeback leaves the device busy at its end,
    // so one pre/post pair would read degraded even when the first pass
    // ran clean. Returns each query's min and whether any timed pass was
    // certified — the min can only come from a pass at least that fast.
    def minOfPasses(dir: String): (Map[String, Double], Boolean) = {
      suite.foreach(runAt(_, dir))
      val probes = scala.collection.mutable.ArrayBuffer(IoProbe.mbPerSec(ioPath))
      val passes = Seq.fill(Passes) {
        val p = suite.map(q => q -> runAt(q, dir)).toMap
        probes += IoProbe.mbPerSec(ioPath)
        p
      }
      ioSamples ++= probes
      (suite.map(q => q -> Measure.min(passes.map(_(q)))).toMap,
        (0 until Passes).exists(i => IoProbe.certifies(probes(i), probes(i + 1))))
    }
    val (base, baseOk) = minOfPasses(baseDir)
    val (big, bigOk) = minOfPasses(scaledDir)

    // ScaleData's token salting lengthens tokens at each expansion level,
    // so the documents corpus grows by more than `factor` in bytes and a
    // byte-bound query's raw exponent overreads. The record therefore
    // carries the per-dir corpus char counts and a second exponent map
    // normalized by the measured byte growth — the reading that
    // scale_check gates; row-bound queries keep the raw map as theirs.
    def corpusChars(dir: String): Double = scala.util.Try {
      spark.read.parquet(s"$dir/documents.parquet")
        .agg(sum(length(col("text")))).head().getLong(0).toDouble
    }.getOrElse(-1.0)
    val charsBase = corpusChars(baseDir)
    val charsBig = corpusChars(scaledDir)
    val bytesFactor =
      if (charsBase > 0 && charsBig > 0) charsBig / charsBase else -1.0
    def secObj(m: Map[String, Double]) =
      Measure.obj(suite.map(q => q -> Measure.num(m(q))): _*)
    def expObj(denom: Double) = Measure.obj(suite.map { q =>
      val e =
        if (base(q) <= 0 || big(q) <= 0 || denom <= 1.0) -1.0
        else math.log(big(q) / base(q)) / math.log(denom)
      q -> Measure.num(e, 2)
    }: _*)
    // An exponent needs both sides trustworthy: each dir's min must have
    // a certified pass to draw from.
    val scale = Measure.obj(
      "dir" -> Measure.str(scaledDir),
      "factor" -> Measure.num(factor),
      "corpus_chars" -> Measure.obj("base" -> Measure.num(charsBase),
        "scaled" -> Measure.num(charsBig)),
      "base_sec" -> secObj(base),
      "scaled_sec" -> secObj(big),
      "exponents" -> expObj(factor),
      "bytes_factor" -> Measure.num(bytesFactor),
      "exponents_bytes" -> expObj(bytesFactor),
      "io_mb_s" -> Measure.arr(ioSamples.map(Measure.num(_)).toSeq),
      "healthy" -> (baseOk && bigOk).toString)
    val record = Measure.obj(
      "metric" -> Measure.str("scale"),
      "sf" -> Measure.str(baseDir),
      "max_partition_bytes_override" ->
        mpbOverride.map(Measure.str).getOrElse("null"),
      "scale" -> scale)
    graft.core.TempDirs.cleanupAll()
    spark.stop()
    println(record)
  }
}
