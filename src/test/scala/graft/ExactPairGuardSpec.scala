package graft

import graft.queries.TextOps

/** The exact pair tier's block-size contract (VERDICT r9 item 2): q31 and
  * its curation riders self-join tokens within (lang, source) blocks, a
  * cost quadratic in block density, and the documented 100 TB path for a
  * dense block is q43's banded MinHash candidates. `TextOps.exactPairTok`
  * must ENFORCE that contract — fail fast with an actionable error when a
  * block exceeds `spark.graft.exactPairs.maxBlockDocs` — while leaving
  * results untouched below the ceiling and supporting an explicit opt-out.
  */
class ExactPairGuardSpec extends SparkSpec {
  import spark.implicits._

  private val conf = "spark.graft.exactPairs.maxBlockDocs"

  /** One dense (lang, source) block: every doc shares the same key. */
  private def singleBlock(n: Int) =
    (0 until n).map(i => (i.toLong, "en", "web", s"tok$i shared common words"))
      .toDF("doc_id", "lang", "source", "text")

  private def withCeiling[A](v: Option[String])(body: => A): A = {
    val prev = spark.conf.getOption(conf)
    v match { case Some(x) => spark.conf.set(conf, x); case None => spark.conf.unset(conf) }
    try body
    finally prev match {
      case Some(x) => spark.conf.set(conf, x); case None => spark.conf.unset(conf)
    }
  }

  test("adversarial single-block fixture trips the guard with an actionable error") {
    withCeiling(Some("10")) {
      val e = intercept[Exception] {
        // Run the tier exactly as q31 consumes it; the guard must fire
        // during broadcast build, before the quadratic self-join.
        TextOps.exactPairTok(spark, singleBlock(20)).count()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("maxBlockDocs"), s"error must name the config: $msg")
      assert(msg.contains("lang=en") && msg.contains("source=web"),
        s"error must name the oversized block: $msg")
      assert(msg.contains("MinHash"), s"error must point at the scale route: $msg")
    }
  }

  test("blocks at or under the ceiling pass unchanged") {
    withCeiling(Some("20")) {
      val rows = TextOps.exactPairTok(spark, singleBlock(20)).count()
      // 20 docs x 4 distinct tokens each.
      assert(rows === 80L)
    }
  }

  test("guard is enforced through the registry q31 entry at the default ceiling") {
    // Default 1 M ceiling: the sf0.001 fixture is far below it, so q31
    // still produces its oracle-checked pairs with the schema intact.
    val df = SparkEntry.queries("q31_jaccard_pairs")(spark, sf)
    assert(df.columns.toSeq === Seq("id1", "id2", "jaccard"))
    assert(df.count() > 0L, "sf0.001 fixture is known to contain near-dup pairs")
    // And the WIRING is pinned, not just the happy path: at ceiling 1,
    // any (lang, source) block with >= 2 docs must abort q31's
    // construction — if a refactor reverted the registry entry to inline
    // tokenization, this intercept would fail (r10 self-review: the
    // previous count >= 0 assertion was vacuous).
    withCeiling(Some("1")) {
      val e = intercept[Exception] {
        SparkEntry.queries("q31_jaccard_pairs")(spark, sf).count()
      }
      assert(Option(e.getMessage).getOrElse("").contains("maxBlockDocs"))
    }
  }

  test("malformed ceiling fails loudly, naming the config key and value") {
    // ADVICE r10: a bare NumberFormatException at query construction is
    // not actionable; the repo's loud-failure convention for malformed
    // knobs names the key, the offending value, and the remedy.
    withCeiling(Some("1e6")) {
      val e = intercept[IllegalArgumentException] {
        TextOps.exactPairTok(spark, singleBlock(2)).count()
      }
      val msg = Option(e.getMessage).getOrElse("")
      assert(msg.contains("maxBlockDocs"), s"error must name the config: $msg")
      assert(msg.contains("1e6"), s"error must quote the offending value: $msg")
    }
  }

  test("ceiling <= 0 disables the guard (deliberate opt-out)") {
    withCeiling(Some("0")) {
      assert(TextOps.exactPairTok(spark, singleBlock(50)).count() === 200L)
    }
  }
}
