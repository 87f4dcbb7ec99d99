package graft.tuner

import scala.util.Try
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.core.TextFile

/** The tuner's run history (FIXTURES.md §A3): one JSON-lines file per run,
  * one [[StageRunInfo]] per line, in stage-id order.
  *
  *   <root>/<appName>/run-N.jsonl
  *
  * Written and read on the driver through the Hadoop FS API, so recording
  * a run and reading history launch no Spark job, and the end-of-app flush
  * (when no job can run any more) uses the same writer as a scoped record.
  * Replaces the reference's Java-serialized sparkMeasure files, one file
  * per run as there (Listener.scala:25-42).
  *
  * A store laid out by an older version (`kind=stage|task` parquet or
  * `flight_stage|task` directories) is refused, not read.
  */
class MetricsStore(root: String, appName: String) {
  private val base = new Path(s"$root/$appName")
  private val RunFile = "^run-(\\d+)\\.jsonl$".r
  private val OldLayouts = Set("kind=stage", "kind=task", "flight_stage", "flight_task")

  /** Write `stages` as a new run and return its id, one above every id in
    * the store (a run file with no readable stage still holds its id). The
    * file is created without overwrite, so two writers that pick the same
    * id make the second one throw instead of replacing the first run. */
  def write(conf: Configuration, stages: Seq[StageRunInfo]): Int = {
    val fs = base.getFileSystem(conf)
    val runId = nextRunId(fs)
    TextFile.write(fs, new Path(base, s"run-$runId.jsonl"),
      stages.map(MetricsStore.json.writeValueAsString(_) + "\n").mkString,
      overwrite = false)
    runId
  }

  /** Every run with at least one readable stage, in id order. A line that
    * does not parse or lacks a field is dropped, so a writer that died
    * mid-line costs only its torn stage; empty or absent store ⇒ Nil. */
  def history(spark: SparkSession): List[List[StageRunInfo]] = {
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    runFiles(fs).sortBy(_._1).map { case (_, p) =>
      TextFile.read(fs, p).linesIterator.flatMap(line =>
        Try(MetricsStore.json.readValue(line, classOf[StageRunInfo])).toOption
          .filter(_ != null)).toList
    }.filter(_.nonEmpty).toList
  }

  /** The id the next [[write]] takes. */
  def nextRunId(spark: SparkSession): Int =
    nextRunId(base.getFileSystem(spark.sparkContext.hadoopConfiguration))

  private def nextRunId(fs: FileSystem): Int =
    runFiles(fs).map(_._1).foldLeft(-1)(math.max) + 1

  private def runFiles(fs: FileSystem): Seq[(Int, Path)] =
    if (!fs.exists(base)) Nil
    else {
      val children = fs.listStatus(base).toSeq.map(_.getPath)
      children.find(p => OldLayouts(p.getName)).foreach { p =>
        throw new IllegalStateException(
          s"metrics store at $base holds $p, a layout this version does not " +
            s"read; delete $base or choose another metrics root")
      }
      children.flatMap(p => RunFile.findFirstMatchIn(p.getName).map(_.group(1).toInt -> p))
    }
}

object MetricsStore {
  /** Case-class binding; a line missing any field fails to parse. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
}
