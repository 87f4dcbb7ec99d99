package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Process-scoped temp-dir registry with eager delete + JVM-shutdown
  * cleanup. Every scratch directory the operator library creates (format
  * roundtrips, Materialize barriers and loop snapshots, streaming chunk
  * stages) goes through here, so one Verify/Bench/test run
  * leaves /tmp clean instead of accumulating hundreds of MB per run.
  *
  * Artifacts that are semantically an INDEX (persisted minhash signatures,
  * ANN centroids) take an explicit caller-supplied path instead — see
  * MinHashDedup.buildIndex / AnnIvf.fit.
  */
object TempDirs {
  private val registered = mutable.LinkedHashSet[Path]()
  @volatile private var hooked = false

  private def ensureHook(): Unit = if (!hooked) synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => cleanupAll(), "graft-tempdirs-cleanup"))
      hooked = true
    }
  }

  /** Create and register a scratch dir (deleted at cleanupAll/JVM exit). */
  def create(prefix: String): String = synchronized {
    ensureHook()
    val p = Files.createTempDirectory(prefix)
    registered += p
    p.toString
  }

  /** Eagerly delete one dir (idempotent) and drop it from the registry.
    * Call as soon as the data it holds is no longer reachable from any
    * live plan — e.g. the previous CC iteration snapshot. */
  def delete(dir: String): Unit = synchronized {
    val p = Paths.get(dir)
    registered -= p
    deleteRecursively(p)
  }

  /** Snapshot of currently-registered (not yet cleaned) dirs — lets tests
    * assert lifecycle against the registry itself instead of racing other
    * processes over a shared /tmp listing. */
  def registeredDirs: Seq[String] = synchronized {
    registered.toSeq.map(_.toString)
  }

  /** Delete every registered dir. Verify/Bench call this before exit; the
    * shutdown hook is the backstop for abnormal exits. */
  def cleanupAll(): Unit = synchronized {
    registered.foreach(deleteRecursively)
    registered.clear()
  }

  // The walk Stream must be closed (javadoc contract), and a traversal
  // failure on ONE dir (AccessDenied subdir, entry vanishing mid-walk —
  // surfaces as UncheckedIOException from the iterator) must not escape:
  // in cleanupAll's loop it would abort the sweep before
  // registered.clear(), leaking every later-registered dir, and in the
  // shutdown hook it would silently kill the hook thread.
  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(p)
        val all = try walk.iterator().asScala.toSeq finally walk.close()
        all.reverseIterator.foreach(f =>
          try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
      }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
