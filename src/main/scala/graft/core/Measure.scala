package graft.core

/** The one measurement harness the mains share (Bench, BatchScale,
  * StreamScale, AnnScale, Verify): how a run is timed, how its samples
  * reduce, and how its record renders. Every record one of these mains
  * prints is machine-parsed, so a number or string that renders
  * differently in one main is a parse failure in the tool that reads it.
  */
object Measure {

  /** Wall seconds of `body` and its result; (-1, None) with one
    * `[tag] name failed: …` stderr line when it throws. A failed run is a
    * sentinel in the record, never an exception out of the main: a
    * measurement main prints its record even when one run fails. */
  def timed[A](tag: String, name: String)(body: => A): (Double, Option[A]) = {
    val t0 = System.nanoTime()
    try {
      val a = body
      ((System.nanoTime() - t0) / 1e9, Some(a))
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      (-1.0, None)
    }
  }

  /** Wall seconds of `body`, or -1 when it throws (see [[timed]]). */
  def time(tag: String, name: String)(body: => Any): Double =
    timed(tag, name)(body)._1

  private def ran(samples: Iterable[Double]): Seq[Double] =
    samples.filter(_ >= 0).toSeq.sorted

  /** Upper median of the samples that ran; -1 when none did. A -1 is a
    * failure, not a time, so it never pulls a statistic down. */
  def median(samples: Iterable[Double]): Double = {
    val ok = ran(samples)
    if (ok.isEmpty) -1.0 else ok(ok.length / 2)
  }

  /** Min of the samples that ran; -1 when none did. Contention only ever
    * adds time, so the min is the steady-state estimate. */
  def min(samples: Iterable[Double]): Double =
    ran(samples).headOption.getOrElse(-1.0)

  /** JSON number: Locale.ROOT decimal with `digits` places (the default
    * JVM locale may use a decimal comma, which is not JSON); the -1
    * sentinel renders as `-1`. */
  def num(d: Double, digits: Int = 4): String =
    if (d == -1.0) "-1"
    else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(d))

  /** JSON string literal. Quote, backslash and every control character are
    * escaped: an unescaped newline in a path or SQL text would split a
    * one-line record, and a quote would end the string early. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c.isControl => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON object from already-rendered values, keys in the given order. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** JSON array from already-rendered values. */
  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")
}
