package graft.core

/** Targeted log suppression, applied to every `Session.local` session.
  * Each rule silences one known WARN that carries no signal and floods
  * the driver's truncated stdout/stderr tails. A rule names the logger
  * that emits it (or its package), never a global level drop, so every
  * other WARN stays visible.
  *
  *   - `WindowExec`'s "No Partition Defined for Window operation",
  *     emitted by AnnIvf's centroid-ranking window, which is bounded at
  *     K ≤ 4096 rows by construction (documented at `AnnIvf.scala`).
  *     Scoped to the window-exec package.
  *   - `StreamingJoinHelper`'s "Error trying to extract state constraint
  *     from condition", a full `[INTERNAL_ERROR]` stack trace in every
  *     micro-batch of the stream-stream interval joins
  *     (`StreamingOps.intervalPairs`): the state-watermark extraction
  *     tries the `lid < rid` conjunct as a time bound and throws. The two
  *     time conjuncts still give the bound, so state is evicted as
  *     usual (StreamingSpec's left- and right-outer cases emit their
  *     null partners only after eviction). Moving the conjunct out of the
  *     join condition would be exact only for the inner join.
  */
object LogQuiet {
  def boundedWindowWarnings(): Unit = quiet("org.apache.spark.sql.execution.window")

  def streamingJoinWarnings(): Unit =
    quiet("org.apache.spark.sql.catalyst.analysis.StreamingJoinHelper")

  private def quiet(logger: String): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      logger, org.apache.logging.log4j.Level.ERROR)
}
