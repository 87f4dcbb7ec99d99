package graft.apps

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.TextOps
import graft.tuner.Tuner

/** The reference's CountingLocalApp (EP1) rebuilt Spark-native: tuned
  * WordCount over a text file with cross-run metrics recording
  * (/root/reference/src/main/scala/com/highperformancespark/robinsparkles/
  * CountingApp.scala:7-49). A named-flag parser replaces the reference's
  * positional args that silently skipped args(2) (quirk Q5).
  *
  * Each invocation is one `Tuner.tuneAndRunTracked` step: read history →
  * apply the slot-floored shuffle partitions, scan split size and skew
  * knobs → run the WordCount with recording → persist this run's metrics.
  * Re-running with the same --metrics dir reproduces the reference's
  * cross-process feedback loop.
  */
object WordCountApp {

  case class Args(input: String, output: String, metrics: String,
      appName: String = "wordcount", master: String = "local[4]",
      tune: Boolean = true)

  def parseArgs(argv: Array[String]): Either[String, Args] = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val unknown = m.keys.filterNot(
      Set("--input", "--output", "--metrics", "--app-name", "--master", "--tune"))
    if (argv.length % 2 != 0) Left("flags must come in --key value pairs")
    else if (unknown.nonEmpty) Left(s"unknown flags: ${unknown.mkString(", ")}")
    else if (!m.getOrElse("--tune", "on").matches("on|off"))
      Left("--tune takes on|off")
    else (m.get("--input"), m.get("--output"), m.get("--metrics")) match {
      case (Some(i), Some(o), Some(x)) =>
        Right(Args(i, o, x, m.getOrElse("--app-name", "wordcount"),
          m.getOrElse("--master", "local[4]"),
          m.getOrElse("--tune", "on") == "on"))
      case _ => Left("required: --input <file> --output <dir> --metrics <dir>")
    }
  }

  /** One run; returns (partition setting in effect, run id).
    *
    * `tune = false` is the reference's EP2 cluster entry
    * (CountingApp.scala:52-57): run under whatever conf spark-submit
    * supplied — no history read, no conf rewrite — but still RECORD this
    * run's metrics, so cluster runs feed the same store later tuned runs
    * learn from. */
  def run(spark: SparkSession, a: Args): (Int, Int) = {
    val tuner = new Tuner(a.metrics, a.appName)
    def wordCount(): Unit = {
      val lines = spark.read.text(a.input).withColumnRenamed("value", "text")
      TextOps.wordCount(lines, "[ ]", Seq("the"))
        .orderBy(desc("cnt"), asc("token"))
        .write.mode(SaveMode.Overwrite).csv(a.output)
    }
    if (a.tune) {
      val r = tuner.tuneAndRunTracked(spark)(wordCount())
      (r.partitions, r.runId)
    } else
      (spark.conf.get("spark.sql.shuffle.partitions").toInt,
        tuner.record(spark)(wordCount()).runId)
  }

  def main(argv: Array[String]): Unit = parseArgs(argv) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(2)
    case Right(a) =>
      val spark = SparkSession.builder()
        .master(a.master).appName(a.appName)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      try {
        val (partitions, runId) = run(spark, a)
        println(s"run=$runId partitions=$partitions output=${a.output}")
      } finally spark.stop()
  }
}
