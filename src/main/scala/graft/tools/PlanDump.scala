package graft.tools

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md from the live registry:
  * `sbt "runMain graft.tools.PlanDump"`. Run after plan-affecting changes.
  */
object PlanDump {
  def main(a: Array[String]): Unit = {
    val s = graft.core.Session.local("local[8]", 8)
    s.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val targets = Seq(
      "q01_pricing_summary" -> "Pushdown + column pruning + partial/final hash agg",
      "q04_multiway_join" -> "Dimension joins all broadcast; no shuffle joins",
      "q31_jaccard_pairs" -> "Blocked token self-join: every shuffle is an equi-key exchange",
      "q32_cosine_topk" -> "Broadcast query set; native codegen'd graft_cosine; windowed top-k",
      "q_asof_join" -> "Custom AsOfJoin node; EnsureRequirements inserts one exchange+sort per side",
      "q34_sessionization" -> "Window + groupBy share the user_id hash partitioning (single exchange)",
      "q_dpp_prune" -> "Dynamic partition pruning: fact scan's PartitionFilters carries dynamicpruningexpression fed by the dim join",
      "q_simhash" -> "De-amplified vote shuffle: one row per (doc, token) with 48 partial-aggregable sum columns (was 48 rows per pair)",
      "q_asof_left" -> "LEFT outer as-of: same merge exec, right side null-extended",
      "q_hll_union" -> "Mergeable-sketch rollup: per-group HLL sketches, union re-merges sketch column (objHashAggregate)",
      "q43_minhash_lsh" -> "Salted LSH dedup: window bucket-counts ride the band exchange (no count-join); hot buckets split into bounded triangle cells; rerank joins hub-salted with broadcast fan-out table",
      "q_ann_lsh" -> "Radius-2 multi-probe LSH search from the persisted bucket table: fixed 79-lookup/band probe fan-out on the query side only, windowed top-k rerank",
      "q_ann_ivf" -> "IVF search at the fixed production nprobe=16: broadcast centroid probe, cell-restricted exact rerank, windowed top-k",
      "q_span_dedup" -> "Cross-doc span ownership: window min over the span partition (one exchange, ONE corpus scan — no groupBy+join-back), then a partial-aggregable per-doc rollup; never doc×doc",
      "q_bm25_rank" -> "BM25 retrieval: explode filtered to query tokens before any shuffle; match-set tf and doc-length tables MATERIALIZED so df/stats branches read them instead of re-tokenizing (ReuseProbe r9); df + (N, avgdl) broadcast, top-20 as TakeOrdered",
      "q_rare_token_ratio" -> "Corpus-frequency quality signal: the (doc, tok) count table is MATERIALIZED once — cf rollup and the rare-flag join both read it (the exchange-reuse this previously relied on does not fire: per-consumer pruning breaks plan identity, ReuseProbe r9); mean_cf is a one-row broadcast",
      "q_pmi_pairs" -> "PMI collocations: corpus restricted to the BROADCAST top-100 vocab, then MATERIALIZED so both self-join sides read the tiny filtered table (ReuseProbe r9) — pair fan-out bounded at C(100,2) per doc, pair agg <= 4950 keys",
      "q_temperature_mix" -> "Temperature re-sampling: corpus aggregates ONCE into a materialized (lang, md5-bucket) table (the write job holds the only corpus scan); the factor chain and planned-copies sum all read that <= langs*256-row parquet — every FileScan below is the tiny table, never documents",
      "q_zorder_key" -> "Z-order layout key: pure bit-arithmetic projection fused into the scan (2-column ReadSchema), one small cell agg",
      "q_cms_topk" -> "Count-min sketch: the token-count table is MATERIALIZED once and the three counter rows + exact top-20 all read it (ReuseProbe r9 showed the claimed exchange reuse never fired — four corpus replays); sketch rows broadcast-joined back",
      "q_pagerank_parts" -> "PageRank: delta-terminated join+partial-agg rounds over a materialized edge list (lineage truncated per round); driver holds only the 1-row convergence scalar",
      "q_decay_sum" -> "Half-life decay: exact integer shift arithmetic in a map-side projection; single per-user agg; anchor day is a 1-row cross join",
      "q_incr_rollup" -> "Incremental rollup refresh: persisted (day,type) partial table unioned with delta partials, re-agg sum-of-sums/sum-of-counts — refresh cost scales with delta + MV size, never the base corpus",
      "q_posting_stats" -> "Inverted-index profile: one lag window + one agg, both on the token key (vocabulary-keyed shuffles); varint math is exact integer bin()-length arithmetic",
      "q_stratified_sample" -> "Stratified quota sample: rank and stratum-size windows share ONE exchange on (lang, source); md5 order makes the sample layout-independent",
      "q_compaction_plan" -> "Small-file compaction planner: packing window runs over the file-metadata-sized inventory partitioned per lang — compaction never crosses table partitions, so no global sort exists",
      "q_scd2_dim" -> "SCD2 build: lag + running-sum + lead windows AND the run-collapse agg all ride ONE user_id exchange (HashPartitioning(user_id) satisfies the (user_id, ver) clustering); only the state rollup re-shuffles",
      "q_embed_standardize" -> "Per-dim standardization: 64-row stats table broadcast back; exploded values partial-aggregate to (label, dim) before the only data shuffle",
      "q_auc_rank" -> "Rank-sum AUC: per-(source,score) pre-aggregation bounds the midrank window input by score cardinality, not corpus size; window and both aggs share the source exchange",
      "q_weighted_sample" -> "Systematic weighted sample: two-level distributed prefix sum (256 md5-prefix bucket totals broadcast as the offset table) replaces the global cumulative window; stride selection is exact integer arithmetic",
      "q_bfs_hops" -> "Multi-source frontier BFS: each level is one frontier-edges equi-join + one left-anti vs visited, snapshots parquet-materialized per level (lineage truncation), driver holds only the 1-row frontier count",
      "q_interval_merge" -> "Interval union: running-max-end break + running-sum block id + both aggs ALL ride one user_id exchange; interval payload is 3 longs",
      "q_first_touch" -> "Attribution via the custom AsOfJoin node (second consumer): one merge pass per user, 7-day window as a post-filter on the unique as-of winner — no purchases-by-clicks pair blowup",
      "q_skyline" -> "Pareto frontier: max-per-quantity pre-collapse partial-aggregates map-side, then ONE descending window over distinct quantities per flag — no dominance self-join",
      "q_cooccur_window" -> "Skip-gram co-occurrence: pairs GENERATED by array transform in the scan projection (fan-out 2), never a positional self-join; only shuffle is the map-side-combined pair count",
      "q_rolling_dau" -> "Rolling 7-day distinct: explode-to-observation-days turns the BETWEEN range join (BNLJ) into fixed-fan-out equi-joins; distinct partial-aggregates map-side",
      "q_knn_graph" -> "Exact kNN graph (oracle twin): broadcast NLJ + windowed top-4 — quadratic BY CONTRACT; the scale path is the persisted IVF index (see q_ann_ivf), recall-gated vs this graph",
      "q_threshold_sweep" -> "Threshold curve: ONE pass over the Q31 pair tier — (threshold, doc) membership counts give n_dup_docs = rows and n_pairs = sum(m)/2 in a single agg (two branches would replay the pair subtree twice)",
      "q_dup_inflation" -> "Token-inflation report: CC labels equi-joined to a map-side token-count projection; one source-keyed partial agg",
      "q_quota_sample" -> "Per-source top-cap: the rank<=cap filter triggers InferWindowGroupLimit — a PARTIAL WindowGroupLimit runs before the exchange, so map tasks forward only local top-cap rows and no mega-source funnels through one task",
      "q_cumulative_users" -> "Growth curve: first-seen-day agg then a running sum over the calendar-bounded day spine — the cumulative window never sees user rows")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of representative queries (sf0.01, AQE on)\n\n"
    sb ++= "Generated by `sbt \"runMain graft.tools.PlanDump\"`; regenerate after plan-affecting changes.\n\n"
    targets.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(s, dir)
      sb ++= s"## $name\n\n$note\n\n```\n"
      sb ++= df.queryExecution.executedPlan.toString.trim
      sb ++= "\n```\n\n"
    }
    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"PLANS.md written (${new File("PLANS.md").length()} bytes)")
    s.stop()
  }
}
