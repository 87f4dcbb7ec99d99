package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.IoProbe

/** Pins the shared IO probe's path resolution, failure contract and
  * certification rule: a copy of the probe once mkdir'd a junk directory
  * named after the whole SPARK_LOCAL_DIRS comma list, and each main that
  * kept its own health rule handled the -1 sample its own way. */
class IoProbeSpec extends AnyFunSuite {

  test("SPARK_LOCAL_DIRS comma list: first non-empty trimmed entry wins") {
    assert(IoProbe.path(None, env = Some("/disk1/tmp,/disk2/tmp"))
      == "/disk1/tmp")
    assert(IoProbe.path(None, env = Some(" , /disk2/tmp ")) == "/disk2/tmp")
  }

  test("env wins over spark.local.dir; conf used when env absent") {
    assert(IoProbe.path(Some("/conf/dir"), env = Some("/env/dir"))
      == "/env/dir")
    assert(IoProbe.path(Some("/conf/a,/conf/b"), env = None) == "/conf/a")
  }

  test("all-empty sources fall back to java.io.tmpdir") {
    val tmp = System.getProperty("java.io.tmpdir")
    assert(IoProbe.path(None, env = None) == tmp)
    assert(IoProbe.path(Some(" , "), env = Some(",")) == tmp)
  }

  test("mbPerSec measures a writable dir and returns -1 on an impossible one") {
    val dir = graft.core.TempDirs.create("graft-ioprobe-spec")
    assert(IoProbe.mbPerSec(dir) > 0.0)
    // /dev/null is a file: mkdirs under it fails, probe must report -1
    // rather than throw (the probe is evidence, not a precondition).
    assert(IoProbe.mbPerSec("/dev/null/sub") == -1.0)
  }

  test("a window certifies only between two in-band probes that both ran") {
    val ok = IoProbe.HealthyMbS
    assert(IoProbe.certifies(ok, ok + 100))
    assert(!IoProbe.certifies(ok - 1, ok + 100))
    assert(!IoProbe.certifies(-1.0, ok + 100))
    assert(!IoProbe.certifies(ok + 100, -1.0))
  }

  test("a -1 sample is not degraded, so it never waits") {
    assert(IoProbe.degraded(IoProbe.HealthyMbS - 1))
    assert(!IoProbe.degraded(IoProbe.HealthyMbS))
    assert(!IoProbe.degraded(-1.0))
    assert(IoProbe.awaitBand("/dev/null/sub", -1.0, 5, "spec", waitMs = 0)
      == Seq(-1.0))
    assert(IoProbe.awaitBand("/dev/null/sub", IoProbe.HealthyMbS, 5, "spec",
      waitMs = 0) == Seq(IoProbe.HealthyMbS))
    // Degraded: re-probes; the impossible dir reads -1 and ends the wait.
    assert(IoProbe.awaitBand("/dev/null/sub", 10.0, 5, "spec", waitMs = 0)
      == Seq(10.0, -1.0))
  }
}
