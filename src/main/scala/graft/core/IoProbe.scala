package graft.core

/** The IO-health policy of every measurement main: one disk-write probe
  * (64 × 1 MB writes + fsync, MB/s), one healthy band, one certification
  * rule and one wait-for-band loop. Suite time tracks the write throughput
  * of the device Spark's shuffle and temp files ride (12 → 460 MB/s across
  * minutes on an idle guest, bench_evidence/r11_drift_io.txt), which a CPU
  * probe cannot see; a record taken in a degraded window carries a load
  * tax the code does not. One implementation, so every main probes the
  * same device and certifies by the same rule.
  */
object IoProbe {

  /** Floor of the healthy write band, MB/s. */
  val HealthyMbS: Double = 250.0

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

  /** A sample that ran and read below the band. A -1 sample is not
    * degraded: a probe that cannot run proves nothing either way, so it
    * never makes a caller wait or retry. */
  def degraded(mbS: Double): Boolean = mbS >= 0 && mbS < HealthyMbS

  /** The certification rule: a timed window is certified only when a
    * probe ran on each side of it and both met the band. One in-band
    * sample next to a -1 does not certify — the device could have
    * throttled through the window. */
  def certifies(pre: Double, post: Double): Boolean =
    pre >= HealthyMbS && post >= HealthyMbS

  /** Wait for the device to re-enter the band: starting from the sample
    * `first`, re-probe every `waitMs` while the last sample is degraded,
    * up to `maxSamples` samples in all. Returns every sample; the last
    * one is the pre-probe of whatever timed window the caller opens next.
    * Waits are cheap next to a timed window that cannot certify. */
  def awaitBand(dirPath: String, first: Double, maxSamples: Int, tag: String,
      waitMs: Long = 45000): Seq[Double] = {
    val samples = scala.collection.mutable.ArrayBuffer(first)
    while (degraded(samples.last) && samples.length < maxSamples) {
      System.err.println(s"[$tag] io probe ${Measure.num(samples.last, 0)} MB/s " +
        s"below the healthy band (${Measure.num(HealthyMbS, 0)}) — waiting " +
        s"${waitMs / 1000} s")
      Thread.sleep(waitMs)
      samples += mbPerSec(dirPath)
    }
    samples.toSeq
  }
}
