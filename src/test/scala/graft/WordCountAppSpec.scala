package graft

import java.nio.file.{Files, Paths}
import graft.core.TempDirs
import graft.apps.WordCountApp
import graft.tuner.ComputePartitions

/** EP1 app port: arg parsing (quirk Q5 fix) and the cross-run tuning loop
  * through the text-file surface. */
class WordCountAppSpec extends SparkSpec {

  test("named-flag parser rejects the reference's silent arg skipping") {
    assert(WordCountApp.parseArgs(Array("--input", "a")).isLeft)
    assert(WordCountApp.parseArgs(Array("--input", "a", "--bogus", "x")).isLeft)
    val ok = WordCountApp.parseArgs(Array(
      "--input", "i", "--output", "o", "--metrics", "m", "--app-name", "n"))
    assert(ok.exists(a => a.input == "i" && a.appName == "n"))
  }

  test("--tune off records metrics without touching conf (reference EP2)") {
    val in = Paths.get(TempDirs.create("words2"), "words.txt")
    Files.writeString(in, "alpha beta beta\n")
    val out = TempDirs.create("wc2-out")
    val metrics = TempDirs.create("wc2-metrics")
    val args = WordCountApp.Args(in.toString, out, metrics, "wc2-spec", tune = false)

    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val (partitions, runId) = WordCountApp.run(spark, args)
      assert(runId == 0)
      assert(partitions == 7, "record-only mode reports the ambient setting")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7",
        "record-only mode must not rewrite conf")
      val tuner = new graft.tuner.Tuner(metrics, "wc2-spec")
      assert(tuner.store.history(spark).length == 1, "metrics still recorded")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  private def fixtureArgs(app: String): WordCountApp.Args = {
    val in = Paths.get(TempDirs.create("words"), "words.txt")
    Files.writeString(in, "I am some words\nWords And words Woooooooooooo\nPanda words\n")
    WordCountApp.Args(in.toString, TempDirs.create("wc-out"),
      TempDirs.create("wc-metrics"), app)
  }

  test("two tuned runs share history through the metrics store") {
    val args = fixtureArgs("wc-spec")
    restoringTunerConf {
      val (_, run0) = WordCountApp.run(spark, args)
      val (_, run1) = WordCountApp.run(spark, args)
      assert(run0 == 0 && run1 == 1, "run ids must advance via the store")
      // Output is the reference fixture's expectation: words→4 (case-folded).
      val rows = spark.read.csv(args.output).collect()
        .map(r => r.getString(0) -> r.getString(1).toLong).toMap
      assert(rows("words") == 4L)
      assert(rows("panda") == 1L)
      assert(!rows.contains("the"))
    }
  }

  test("tuned runs never apply fewer shuffle partitions than the session has slots") {
    // AQE coalesces this fixture's shuffle to one task, so from the third
    // run the decision table's plateau recommends 1; the tuned run must
    // apply the slot floor instead.
    val args = fixtureArgs("wc-floor")
    val slots = new ComputePartitions(spark.conf.getAll).possibleConcurrentTasks()
    restoringTunerConf {
      val runs = (0 until 3).map(_ => WordCountApp.run(spark, args))
      assert(runs.map(_._2) == Seq(0, 1, 2))
      assert(runs(2)._1 == slots, s"(partitions, runId) per run: $runs")
    }
  }
}
