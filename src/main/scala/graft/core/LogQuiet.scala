package graft.core

/** Targeted log suppression, applied to every `Session.local` session.
  *
  * The one known offender: `WindowExec`'s "No Partition Defined for Window
  * operation" warning, emitted by AnnIvf's centroid-ranking window — which
  * is bounded at K ≤ 4096 rows by construction (documented at
  * `AnnIvf.scala`), so the warning is noise that spams the driver's
  * truncated stdout/stderr tails. Scoped to the window-exec package, not a
  * global level drop: every other WARN stays visible.
  */
object LogQuiet {
  def boundedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
}
