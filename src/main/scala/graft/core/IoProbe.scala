package graft.core

/** Shared disk-write probe: 64 × 1 MB writes + fsync, MB/s. Bench and
  * StreamScale bracket their timed runs with this so every committed
  * record carries its own IO-health evidence (the healthy band on the
  * 4-vCPU reference VM is ≥ 179 MB/s). One implementation for both, so
  * they probe the same device: a second copy had drifted to passing the
  * raw SPARK_LOCAL_DIRS value to File(), mishandling the comma-separated
  * list format and ignoring spark.local.dir entirely.
  */
object IoProbe {

  /** The filesystem Spark's local dirs actually use: SPARK_LOCAL_DIRS /
    * spark.local.dir are comma-separated lists — take the first
    * non-empty entry (probing the raw list string would mkdir a junk
    * path named after the whole list); fall back to java.io.tmpdir.
    * Probing /tmp while shuffle rides another device would silently
    * decouple io_mb_s from the device the drift corroboration reasons
    * about, so callers record the probed path for auditability.
    *
    * @param localDirConf the session's spark.local.dir, when a session
    *   is available to ask.
    * @param env SPARK_LOCAL_DIRS — parameterized (defaulting to the real
    *   env var) so the comma-list precedence rules are spec-testable. */
  def path(localDirConf: Option[String],
      env: Option[String] = sys.env.get("SPARK_LOCAL_DIRS")): String =
    env.orElse(localDirConf)
      .flatMap(_.split(",").map(_.trim).find(_.nonEmpty))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** MB/s of 64 MB written and fsync'd under `dirPath`; -1.0 when the
    * probe cannot run (never throws — the probe is evidence, not a
    * precondition). */
  def mbPerSec(dirPath: String): Double = {
    var f: java.io.File = null
    try {
      val dir = new java.io.File(dirPath)
      if (!dir.isDirectory) dir.mkdirs()
      f = java.io.File.createTempFile("graft-io-probe", ".bin", dir)
      val block = new Array[Byte](1 << 20)
      new java.util.Random(42).nextBytes(block)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        var i = 0; while (i < 64) { out.write(block); i += 1 }
        out.getFD.sync()
      } finally out.close()
      64.0 / ((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => -1.0 }
    finally if (f != null) f.delete()
  }
}
