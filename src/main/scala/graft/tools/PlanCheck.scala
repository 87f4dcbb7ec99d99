package graft.tools

import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-SHAPE regression gate (VERDICT r13 item 6): PLANS.md is
  * regenerated every gate run but only eyeballed — a removed
  * `broadcast()` hint or a join that degenerates to a cartesian product
  * would ship as a diff nobody reads. This main EXECUTES the headline
  * queries (same object-walk ground truth as ReuseProbe — the final
  * adaptive plan, not the initial one) and asserts machine-checkable
  * invariants on each; any violation exits nonzero with a `plan_check
  * FAIL:` line.
  *
  * Size-based broadcasts are DISABLED in this session
  * (autoBroadcastJoinThreshold = -1, both planner and AQE): at gate scale
  * (sf0.01) every table fits under the default 10 MB threshold, so AQE
  * would "helpfully" broadcast whatever the code forgot to — and a
  * deleted `broadcast()` hint would pass at sf0.01 while regressing to a
  * shuffle join on the 100 TB cluster this engine is designed for. With
  * thresholds off, a BroadcastHashJoin in the executed plan can come
  * ONLY from an explicit hint: the check verifies intent, not
  * small-fixture luck. (The mutation drill in
  * bench_evidence/r14_plan_mutation.txt proves a planted hint removal
  * FAILs this gate.)
  *
  *   runMain graft.tools.PlanCheck            # SPARK_GRAFT_SF_DIR or sf0.01
  */
object PlanCheck {

  /** Executed-plan shape counts, via ReuseProbe's node walk. Extended in
    * round 16 (VERDICT r15 item 1, carrying r14 task 5) with the fields
    * that pin the restructured q_bigram_lm / q_ngram_novelty plans:
    *   - matScans: scans of a Materialize scratch dir ("graft-mat-") —
    *     the barrier's read-back consumers; 0 means the barrier is gone
    *     and its producer replays once per consumer.
    *   - exchanges: ShuffleExchangeExec count (hash AND range) — the
    *     number of times data crosses the wire; a dropped map-side
    *     array_distinct or a revived corpus self-join shows up here.
    *   - xxhash: XxHash64 expressions anywhere in the plan — the
    *     hash-prefix sort-key trick (TextOps q_bigram_lm/q_ngram_novelty)
    *     leaves at least one per prefixed key; 0 means a refactor dropped
    *     the prefix and wide-string sorts are back on the 100 TB path.
    *   - windowParts: partitionSpec arity of each WindowExec — the
    *     novelty first-seen window must key on (xxhash64(ng), ng), arity
    *     2; arity 1 means the prefix was dropped from the window key.
    *   - corpusJoinKeys: equi-key arity of each join whose subtree scans
    *     the corpus — q_bigram_lm's ONE corpus-sized join must ride
    *     (hp, pair), arity 2; a second entry means the vocab-scale model
    *     join regressed to a corpus-sided shape (the r14 super-linear
    *     mechanism), arity 1 means the hash prefix fell off. */
  final case class Shape(bhj: Int, shuffleJoins: Int, cartesian: Int,
      bnlj: Int, corpusScans: Int, pushedCorpusScans: Int, matScans: Int,
      exchanges: Int, xxhash: Int, windowParts: Seq[Int],
      corpusJoinKeys: Seq[Int]) {
    override def toString: String =
      s"bhj=$bhj shuffleJoins=$shuffleJoins cartesian=$cartesian " +
        s"bnlj=$bnlj corpusScans=$corpusScans pushed=$pushedCorpusScans " +
        s"matScans=$matScans exchanges=$exchanges xxhash=$xxhash " +
        s"windowParts=${windowParts.mkString("[", ",", "]")} " +
        s"corpusJoinKeys=${corpusJoinKeys.mkString("[", ",", "]")}"
  }

  private def scanPath(f: FileSourceScanExec): String =
    f.relation.location.rootPaths.mkString(",")

  private def subtreeHasCorpus(p: SparkPlan): Boolean =
    ReuseProbe.nodes(p).exists {
      case f: FileSourceScanExec => scanPath(f).contains("/testdata/")
      case _ => false
    }

  def shape(plan: SparkPlan): Shape = {
    val all = ReuseProbe.nodes(plan)
    val corpus = all.collect {
      case f: FileSourceScanExec if scanPath(f).contains("/testdata/") => f
    }
    Shape(
      bhj = all.count(_.isInstanceOf[BroadcastHashJoinExec]),
      shuffleJoins = all.count(n => n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec]),
      cartesian = all.count(_.isInstanceOf[CartesianProductExec]),
      bnlj = all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      corpusScans = corpus.length,
      pushedCorpusScans = corpus.count(
        _.metadata.get("PushedFilters").exists(s => s != "[]" && s.nonEmpty)),
      matScans = all.count {
        case f: FileSourceScanExec => scanPath(f).contains("graft-mat-")
        case _ => false
      },
      exchanges = all.count(_.isInstanceOf[ShuffleExchangeExec]),
      xxhash = all.map(_.expressions.map(
        _.collect { case _: XxHash64 => 1 }.sum).sum).sum,
      windowParts = all.collect { case w: WindowExec => w.partitionSpec.length },
      corpusJoinKeys = all.collect {
        case j: BaseJoinExec if j.leftKeys.nonEmpty && subtreeHasCorpus(j) =>
          j.leftKeys.length
      })
  }

  /** name -> invariant (None = pass, Some(violation)). Calibrated against
    * the committed plans these queries are SUPPOSED to have (VERDICT r13's
    * plan audit), not whatever they happened to produce. */
  val checks: Seq[(String, Shape => Option[String])] = Seq(
    // q01: the date-range filter must reach the parquet scan. A scan
    // reading all row groups for a filtered aggregate is the first thing
    // that breaks at 100 TB.
    "q01_pricing_summary" -> { s =>
      if (s.pushedCorpusScans >= 1) None
      else Some(s"no corpus scan with pushed filters ($s)")
    },
    // q04: all three dims explicitly broadcast, exactly one shuffle join
    // (lineitem⋈orders), nothing degenerate.
    "q04_multiway_join" -> { s =>
      if (s.bhj == 3 && s.shuffleJoins == 1 && s.cartesian + s.bnlj == 0) None
      else Some(s"want bhj=3 shuffleJoins=1 no-cartesian/bnlj, got ($s)")
    },
    // q43: the LSH pipeline must never fall back to an all-pairs shape —
    // every join is an equi-join on band/bucket/doc keys by construction.
    "q43_minhash_lsh" -> { s =>
      if (s.cartesian + s.bnlj == 0) None
      else Some(s"cartesian/BNLJ in the LSH plan ($s)")
    },
    // q_simhash_pairs: the banded Hamming join is pigeonhole-complete
    // AND an equi-join — a BNLJ here means the banding got lost.
    "q_simhash_pairs" -> { s =>
      if (s.cartesian + s.bnlj == 0) None
      else Some(s"cartesian/BNLJ in the simhash band join ($s)")
    },
    // q31: the oracle-tier pair join reads the corpus exactly twice in
    // THIS session (both blocked self-join sides; under default
    // thresholds one side broadcasts and ReuseProbe counts 3 — the
    // SCAN_BUDGET number — because AQE cannot reuse a broadcast exchange
    // against a shuffle one, while the all-shuffle plan here reuses it).
    // More is a replay regression; fewer means a self-join side got
    // optimized away and the recall oracle no longer measures anything.
    "q31_jaccard_pairs" -> { s =>
      if (s.corpusScans == 2 && s.cartesian + s.bnlj == 0) None
      else Some(s"want corpusScans=2 no-cartesian/bnlj, got ($s)")
    },
    // q_bigram_lm (round 16, pinning the r15 restructure that cleared the
    // sf10→sf100 super-linear reading): ONE corpus pass (corpusScans=1 —
    // the c2 bigram count is assembled behind a Materialize barrier at
    // construction time, so the final plan re-reads scratch, not corpus);
    // the barrier feeds BOTH consumers (matScans=2: the c1 prefix rollup
    // and the probability join); the model is assembled at VOCAB scale
    // (exactly one join subtree touches the corpus — a second entry in
    // corpusJoinKeys means the w1-keyed model join regressed to a
    // corpus-sided shape, the r14 super-linear mechanism); and the one
    // corpus-sized scoring join rides the (xxhash64(pair), pair)
    // hash-prefix key (arity 2, xxhash>=2 for the two prefix projections).
    "q_bigram_lm" -> { s =>
      if (s.corpusScans == 1 && s.matScans == 2 && s.corpusJoinKeys == Seq(2) &&
          s.xxhash >= 2 && s.cartesian + s.bnlj == 0) None
      else Some("want corpusScans=1 matScans=2 corpusJoinKeys=[2] xxhash>=2 " +
        s"no-cartesian/bnlj, got ($s)")
    },
    // q_ngram_novelty (same round): ONE corpus scan, NO join at all (the
    // r14 shape re-joined the corpus-sized stream against its own groupBy
    // and measured super-linear; first-seen detection is now a window
    // min), the first-seen window keyed on (xxhash64(ng), ng) — arity 2
    // with at least one XxHash64 in the plan — and exactly the two
    // corpus-linear shuffles the restructure promised plus the final
    // per-doc range sort (exchanges=3; a revived corpus distinct() or
    // self-join adds a fourth).
    "q_ngram_novelty" -> { s =>
      if (s.corpusScans == 1 && s.corpusJoinKeys.isEmpty &&
          s.windowParts == Seq(2) && s.xxhash >= 1 && s.exchanges <= 3 &&
          s.cartesian + s.bnlj == 0) None
      else Some("want corpusScans=1 no-joins windowParts=[2] xxhash>=1 " +
        s"exchanges<=3 no-cartesian/bnlj, got ($s)")
    },
    // q_cooccur_window (round 16 — pinned the same round its plan
    // changed, so the guard ships with the change it guards): ONE corpus
    // scan, NO join (pairs are GENERATED by array transform, never a
    // positional self-join — the quadratic shape this query must never
    // regress to), the pair aggregation keyed with an xxhash64 prefix
    // (xxhash>=1; 0 means the 8-byte sort-key trick fell off and sf100
    // spill-sorts compare wide token strings again), and exactly ONE
    // exchange (the partial->final agg shuffle; the top-30 is a
    // TakeOrdered, not a global sort exchange).
    "q_cooccur_window" -> { s =>
      if (s.corpusScans == 1 && s.corpusJoinKeys.isEmpty && s.xxhash >= 1 &&
          s.exchanges <= 1 && s.cartesian + s.bnlj == 0) None
      else Some("want corpusScans=1 no-joins xxhash>=1 exchanges<=1 " +
        s"no-cartesian/bnlj, got ($s)")
    })

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session.local("local[8]", 8,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    checks.foreach { case (name, inv) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.queryExecution.toRdd.count() // finalize the adaptive plan
      val s = shape(df.queryExecution.executedPlan)
      inv(s) match {
        case None => println(s"plan_check OK: $name ($s)")
        case Some(err) => println(s"plan_check FAIL: $name — $err"); failed += 1
      }
    }
    spark.stop()
    if (failed > 0) {
      println(s"plan_check FAIL: $failed of ${checks.length} invariants violated")
      sys.exit(1)
    }
    println(s"plan_check OK: ${checks.length}/${checks.length} headline plan shapes hold")
  }
}
