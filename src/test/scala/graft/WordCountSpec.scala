package graft

import graft.queries.TextOps

/** Ports the reference's end-to-end WordCount test
  * (/root/reference/src/test/scala/com/highperformancespark/robinsparkles/
  * WordCountTest.scala:11-31) onto the DataFrame implementation. */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    "How happy was the panda? You ask.",
    "Panda is the most happy panda in all the#!?ing land!")
  private val stopWords = Seq("a", "the", "in", "was", "there", "she", "he")

  private def counts: Map[String, Long] = {
    val docs = lines.toDF("text")
    TextOps.wordCount(docs, "[#%?!. ]", stopWords)
      .as[(String, Long)].collect().toMap
  }

  test("stopwords and separators are removed") {
    val c = counts
    assert(!c.contains("the"))
    assert(!c.contains("?"))
    assert(!c.contains("#!?ing"))
    assert(c.contains("ing")) // '#!?' are separators, 'ing' survives
  }

  test("panda counted case-insensitively across lines") {
    assert(counts("panda") == 3L)
  }

  test("default-path fixture: 'words' aggregates case-insensitively") {
    // Words.txt semantics (reference src/test/resources/Words.txt).
    val docs = Seq("I am some words", "Words And words Woooooooooooo",
      "Panda words").toDF("text")
    val c = TextOps.wordCount(docs, "[ ]", Seq("the")).as[(String, Long)]
      .collect().toMap
    assert(c("words") == 4L)
    assert(c("panda") == 1L)
  }
}
