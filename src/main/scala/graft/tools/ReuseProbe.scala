package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Runtime exchange-reuse audit: static EXPLAIN (PLANS.md) shows the
  * UN-finalized adaptive plan, where a frame consumed by two branches
  * prints its subtree twice even when AQE will reuse one exchange at
  * runtime. This probe EXECUTES each query and walks the final adaptive
  * plan, counting FileScans vs ReusedExchange/ReusedSubquery nodes — the
  * ground truth for "does this corpus actually get scanned twice".
  * Shared subtrees that end in broadcast joins or differing partial
  * aggregates are NOT deduped by AQE (q_threshold_sweep, q_dedup_rate and
  * q_temperature_mix were rewritten for that reason); distinct- and
  * aggregate-shared shapes reuse fine.
  *
  * The audit walks the executed plan OBJECTS, never their string
  * rendering, because the rendering miscounts:
  *   - a nested adaptive subquery prints BOTH its "== Final Plan ==" and
  *     "== Initial Plan ==" sections, so a text scan double-counts that
  *     subquery's FileScan (q29_subqueries reads corpus 3, not 4;
  *     bench_evidence/r13_scan_audit_treewalk.txt);
  *   - nested adaptive plans each number stages from 0, so equal stage
  *     ids across plans are no reuse (see auditPlan).
  * The walk is pinned by ReuseProbeSpec against one known-reused and one
  * known-not-reused shape.
  */
object ReuseProbe {

  /** One query's executed-plan audit. corpus/scratch = FileScan counts
    * split by whether the scan's root path is under /testdata/ (scratch
    * reads of a materialized intermediate are the cheap byproduct of a
    * barrier, not redundant corpus work). reusedStages = AQE stage
    * references beyond the first per stage id; reusedNodes =
    * ReusedExchange + ReusedSubquery markers. */
  final case class Audit(corpus: Int, scratch: Int, reusedStages: Int,
      reusedNodes: Int)

  /** Every node of the EXECUTED tree, in print order: recurses through
    * `AdaptiveSparkPlanExec.executedPlan`, `QueryStageExec.plan` (stages
    * are LeafExecNodes, so a plain `.collect` stops at them) and each
    * node's expression subqueries (`QueryPlan.subqueries` — the same
    * plans the tree string prints as innerChildren). A stage shared by
    * two parents is visited once per REFERENCE — exactly how
    * `generateTreeString` prints it — so scan counts keep the replay
    * semantics the committed budgets were calibrated against.
    * ReusedExchange/ReusedSubquery are reuse MARKERS (leaf pointers at
    * another node's output): counted, never descended into. */
  private[graft] def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    }
    (p +: below) ++ p.subqueries.flatMap(nodes)
  }

  /** Object-walk audit of an executed plan. Call it after the plan has
    * actually run: an un-executed AdaptiveSparkPlanExec shows its initial
    * plan, without the reuse and stage choices AQE makes at run time. */
  def auditPlan(plan: SparkPlan): Audit = {
    val all = nodes(plan)
    // v1 FileSourceScanExec covers every format this engine reads
    // (parquet/orc/csv/json/text/binaryFile are all on Spark's default
    // v1 list); the BatchScanExec arm keeps the audit honest if a source
    // ever migrates to DSv2 — non-file v2 scans are not file replays.
    val scanPaths: Seq[String] = all.flatMap {
      case f: FileSourceScanExec =>
        Some(f.relation.location.rootPaths.mkString(","))
      case b: BatchScanExec => b.scan match {
        case f: FileScan => Some(f.fileIndex.rootPaths.mkString(","))
        case _ => None
      }
      case _ => None
    }
    val corpus = scanPaths.count(_.contains("/testdata/"))
    // Stage reuse = the same stage OBJECT referenced from two tree
    // positions. Identity, NOT id numbers: a nested adaptive subquery is
    // its own AdaptiveSparkPlan with stage ids numbered from 0, so
    // comparing ids across plans manufactures false "reuse" whenever the
    // subquery's ShuffleQueryStage 0 meets the outer plan's
    // BroadcastQueryStage 0 (a reusedStages=1 reading on q29_subqueries
    // was exactly this collision). AQE's actual reuse
    // path wraps a ReusedExchangeExec in a fresh stage, so the real
    // runtime-reuse signal is reusedNodes; this counter stays as the
    // defensive net for a literally-shared stage object.
    val stageRefs = all.collect { case q: QueryStageExec => q }
    val distinctStages = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    stageRefs.foreach(distinctStages.add)
    Audit(
      corpus = corpus,
      scratch = scanPaths.length - corpus,
      reusedStages = stageRefs.length - distinctStages.size,
      reusedNodes = all.count {
        case _: ReusedExchangeExec | _: ReusedSubqueryExec => true
        case _ => false
      })
  }

  /** Execute df's OWN QueryExecution and audit the finalized plan. A
    * df.write...save() would build and run a SEPARATE QueryExecution for
    * the write command, leaving df.queryExecution un-executed: its
    * AdaptiveSparkPlanExec would report the INITIAL plan, with reuse 0 by
    * construction and scan counts from the pre-AQE tree. toRdd is the
    * same instance's executedPlan.execute(); count() drives it to
    * completion distributed-side with zero driver-side row
    * materialization, and AQE finalizes in doExecute. */
  def audit(df: DataFrame): Audit = {
    df.queryExecution.toRdd.count()
    auditPlan(df.queryExecution.executedPlan)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // --all: sweep the whole batch registry (streaming queries excluded —
    // their cost is the drain harness, not a batch plan shape).
    val names: Seq[String] = if (args.sameElements(Array("--all")))
      graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(n => n.startsWith("q_stream") ||
          Seq("q38", "q39", "q40", "q41", "q42").exists(n.startsWith))
    else if (args.nonEmpty) args.toSeq else Seq(
      "q31_jaccard_pairs", "q_cms_topk", "q_rolling_dau", "q_bm25_rank",
      "q_hll_union", "q_pmi_pairs", "q_rare_token_ratio", "q_user_overlap",
      "q_bigram_lm", "q_tfidf_keywords", "q_containment_pairs",
      "q_source_kl", "q_vocab_cdf", "q_zipf_slope", "q_dedup_rate",
      "q_threshold_sweep", "q_temperature_mix", "q_cumulative_users")
    val spark = graft.core.Session.local("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-24s corpus scratch reusedStages reusedNodes")
    names.foreach { n =>
      val a = audit(graft.SparkEntry.queries(n)(spark, dir))
      println(f"$n%-24s corpus=${a.corpus}%2d scratch=${a.scratch}%2d " +
        f"reusedStages=${a.reusedStages}%2d reusedNodes=${a.reusedNodes}%2d")
    }
    spark.stop()
  }
}
