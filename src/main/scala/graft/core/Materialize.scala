package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.col

/** Explicit multi-consumer barrier: write a frame to scratch parquet once
  * and hand every consumer the read-back.
  *
  * Why not rely on exchange reuse: Spark's ReuseExchange (and AQE stage
  * reuse) only dedupes BYTE-IDENTICAL plan subtrees, and two consumers of
  * the same `val` almost never produce identical subtrees — each parent
  * pushes its own column pruning and null filters into the shared scan,
  * so the "shared" frame recomputes per consumer. `tools/ReuseProbe` on
  * executed final adaptive plans, before these barriers: q_rolling_dau
  * scanned events 3x, q_user_overlap 4x, q_temperature_mix 9x, with ZERO
  * ReusedExchange nodes across the whole audited registry.
  *
  * When to use: the frame is consumed >= 2 times AND is materially
  * smaller than the work that produces it (a distinct projection, a
  * vocabulary-sized count table, a pair list). Then one write + k cheap
  * reads beats k replays of scan+shuffle at every scale. When NOT to:
  * corpus-sized frames consumed twice by cheap readers — the write can
  * cost more than the replay. An exploded (doc, token) table is the
  * typical case; MinHashDedup avoids it by keeping each document's
  * shingle hashes as an array on its signature row, so the one barrier
  * it writes serves the band join and the rerank.
  *
  * EAGER-EXECUTION CONTRACT: `apply` runs the write job at
  * DataFrame-CONSTRUCTION time, so any registry entry that uses a
  * Materialize barrier (directly or via a helper) is not lazy —
  * EXPLAIN-only tooling, schema checks, and PlanDump pay the execution
  * and allocate one scratch dir per construction. The dirs are owned by
  * TempDirs: swept by `TempDirs.cleanupAll()` (Verify/Bench call it) and
  * by the JVM shutdown hook, so they are bounded per process, not leaked
  * — but a long interactive session that constructs Materialize-backed
  * plans in a loop should call `TempDirs.cleanupAll()` between sweeps.
  * The same contract note applies to the other deliberately-eager
  * construction step, `TextOps.exactPairTok`'s block-size guard (which
  * is memoized and allocates nothing). Plan-only tooling that must stay
  * cheap should target queries without barriers, or accept the cost —
  * the registry's `SparkEntry.queries` doc lists the contract.
  *
  * The read-back passes the schema the frame was written with, so it
  * runs no footer-inference job; MaterializeSpec pins that a parquet
  * round-trip infers exactly that schema.
  *
  * LOOP CONTRACT (`iterate`): a driver loop whose state is a frame, for
  * the iterative queries (PageRank, connected components). Each step is
  * - eager: written at once, with its convergence scalar collected by
  *   that same write job (`observed`), so a step costs its write alone;
  * - lineage-truncating: the next step reads the snapshot back, so step
  *   k never replays steps 0..k-1 and the loop stays linear;
  * - bounded on disk: once step k is written, the snapshot step k read
  *   (step k-1's) is deleted, because no later plan scans it.
  */
object Materialize {
  def apply(df: DataFrame, label: String): DataFrame =
    at(df, TempDirs.create(s"graft-mat-$label"))

  /** Overwrite `path` with `df` and read it back with `df`'s schema. For
    * barriers whose files must live at a caller-owned path (an index
    * table). */
  def at(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** `at`, plus the value of the aggregate `metric` over `df`, collected
    * by the write job itself (an `observe()` under a name unique to this
    * call), so the scalar costs no second pass. */
  def observed[T](df: DataFrame, path: String, metric: Column): (DataFrame, T) =
    observedThen[T](df, path, metric, identity)

  /** Run `step` from `init` until `converged` holds for its metric value,
    * or `maxIters` steps have run; at least one step runs. `step` returns
    * the next state and the metric over it; the state frame may carry
    * extra columns the metric reads (a join to the previous state), and
    * only `init`'s columns are written. Step k is written to
    * `<scratch>/iter=k` (see the loop contract above). Returns the last
    * state, the steps run and the last metric value. */
  def iterate[T](init: DataFrame, label: String, maxIters: Int)(
      step: DataFrame => (DataFrame, Column))(
      converged: T => Boolean): (DataFrame, Int, T) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val dir = TempDirs.create(s"graft-iter-$label")
    val cols = init.columns.map(c => col(s"`$c`")).toSeq
    @annotation.tailrec
    def loop(state: DataFrame, k: Int): (DataFrame, Int, T) = {
      val (next, metric) = step(state)
      val (back, v) = observedThen[T](next, s"$dir/iter=$k", metric,
        _.select(cols: _*))
      if (k >= 2) TempDirs.delete(s"$dir/iter=${k - 1}")
      if (k == maxIters || converged(v)) (back, k, v) else loop(back, k + 1)
    }
    loop(init, 1)
  }

  private def observedThen[T](df: DataFrame, path: String, metric: Column,
      project: DataFrame => DataFrame): (DataFrame, T) = {
    val obs = Observation()
    val back = at(project(df.observe(obs, metric.as("value"))), path)
    (back, obs.get("value").asInstanceOf[T])
  }
}
