package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Measure

/** The shared measurement harness: failed runs are -1 sentinels that no
  * statistic counts, and every rendered record is valid JSON whatever the
  * JVM locale or the text it carries. Pure JVM. */
class MeasureSpec extends AnyFunSuite {

  test("a timed call returns wall seconds, or -1 when the body throws") {
    assert(Measure.time("spec", "ok")(Thread.sleep(5)) >= 0.005)
    assert(Measure.time("spec", "boom")(throw new RuntimeException("x")) == -1.0)
    assert(Measure.timed("spec", "ok")(41 + 1)._2.contains(42))
    assert(Measure.timed("spec", "boom")(sys.error("x"))._2.isEmpty)
  }

  test("median and min ignore -1 samples and read -1 only when none ran") {
    assert(Measure.median(Seq(3.0, -1.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(4.0, -1.0, 2.0)) == 4.0) // upper median
    assert(Measure.min(Seq(-1.0, 3.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(-1.0, -1.0)) == -1.0)
    assert(Measure.min(Nil) == -1.0)
  }

  test("numbers render as Locale.ROOT decimals and the sentinel as -1") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Measure.num(1.23456) == "1.2346")
      assert(Measure.num(0.5, 2) == "0.50")
      assert(Measure.num(-0.04, 2) == "-0.04")
      assert(Measure.num(-1.0) == "-1")
    } finally java.util.Locale.setDefault(saved)
  }

  test("strings escape quote, backslash and every control character") {
    assert(Measure.str("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Measure.str("x\ny\tz\r\u0001\u007f") ==
      "\"x\\ny\\tz\\r\\u0001\\u007f\"")
    assert(Measure.obj("k" -> Measure.num(1.0), "s" -> Measure.str("v")) ==
      "{\"k\":1.0000,\"s\":\"v\"}")
    assert(Measure.arr(Seq("1", "2")) == "[1,2]")
  }
}
