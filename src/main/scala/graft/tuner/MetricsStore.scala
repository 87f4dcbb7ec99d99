package graft.tuner

import org.apache.spark.sql.{Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet metrics store, one layout for both kinds (fixes reference quirk
  * Q3 — the reference wrote stage metrics outside its own subdir):
  *
  *   <root>/<appName>/kind=stage/run=N/  (parquet files)
  *   <root>/<appName>/kind=task/run=N/   (parquet files)
  *
  * Replaces the reference's Java-serialized sparkMeasure files
  * (Listener.scala:25-42). Partition discovery over `run=N` gives the
  * history scan and next-run-id allocation for free.
  */
class MetricsStore(root: String, appName: String) {
  private def base = s"$root/$appName"

  /** True iff the store path exists on whatever FS `root` points at.
    * Checked BEFORE reading so a first-ever run takes the empty-history
    * path without an AnalysisException ever being thrown (the thrown/
    * caught variant left stack traces in app stderr and hid real
    * corruption behind the same catch). */
  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path)
  }

  /** Persist explicit row snapshots. A caller that also wants an
    * in-memory view of the run (Tuner.record) snapshots the listener ONCE
    * and passes the same rows here — the persist jobs' own stage/task
    * events keep arriving on the still-attached listener, so two separate
    * listener reads would record different runs. */
  def persistRows(spark: SparkSession, stages: Seq[StageMetric],
      tasks: Seq[TaskMetric], runId: Int): Unit = {
    import spark.implicits._
    stages.toDS()
      .write.mode(SaveMode.Overwrite).parquet(s"$base/kind=stage/run=$runId")
    tasks.toDS()
      .write.mode(SaveMode.Overwrite).parquet(s"$base/kind=task/run=$runId")
  }

  /** Flight-recorder sidecar layout: JSON-lines written via the Hadoop FS
    * API — by the time SparkListenerApplicationEnd is delivered,
    * SparkContext.stop() has set the stopped flag and no Spark job can
    * run, so the end-of-app flush cannot go through parquet writes.
    * history() reads both layouts and merges by run id. */
  private def flightBase(kind: String) = s"$base/flight_$kind"

  private def stageJsonLine(m: StageMetric): String =
    s"""{"runId":${m.runId},"stageId":${m.stageId},"attempt":${m.attempt},""" +
      s""""executorCpuTimeMs":${m.executorCpuTimeMs},"stageDurationMs":${m.stageDurationMs},""" +
      s""""bytesRead":${m.bytesRead},"shuffleBytesWritten":${m.shuffleBytesWritten},""" +
      s""""shuffleBytesRead":${m.shuffleBytesRead},"submittedAtMs":${m.submittedAtMs}}"""

  private def taskJsonLine(m: TaskMetric): String =
    s"""{"runId":${m.runId},"stageId":${m.stageId},"taskId":${m.taskId},""" +
      s""""executorId":"${m.executorId.replace("\\", "\\\\").replace("\"", "\\\"")}",""" +
      s""""durationMs":${m.durationMs},"peakMemory":${m.peakMemory},""" +
      s""""shuffleReadBytes":${m.shuffleReadBytes}}"""

  /** Persist without Spark jobs (application-end flush path). */
  def persistDirect(hadoopConf: org.apache.hadoop.conf.Configuration,
      listener: MetricsListener, runId: Int): Unit = {
    def write(dir: String, lines: Seq[String]): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/run-$runId.jsonl")
      val fs = p.getFileSystem(hadoopConf)
      val out = fs.create(p, true)
      val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        out, java.nio.charset.StandardCharsets.UTF_8))
      try lines.foreach(w.println) finally w.close()
    }
    write(flightBase("stage"), listener.stageRows.map(stageJsonLine))
    write(flightBase("task"), listener.taskRows.map(taskJsonLine))
  }

  /** Rows of one kind across both layouts (parquet runs + flight sidecar),
    * both read with the model's schema: no footer-inference job, and every
    * run keeps every column even when another run's files lack one. */
  private def readKind[T: Encoder](spark: SparkSession, parquetPath: String,
      jsonPath: String, cols: Seq[String]): Seq[T] = {
    val enc = implicitly[Encoder[T]]
    // Schema evolution of the store itself: a field added to the model
    // after a run was written (TaskMetric.shuffleReadBytes) reads as null
    // for that run and is zero-filled, so old runs stay readable and
    // merely opt out of the analyses that need the new signal.
    val laterFields = Seq("shuffleReadBytes").filter(cols.contains)
    def filled(df: org.apache.spark.sql.DataFrame) =
      df.na.fill(0L, laterFields).select(cols.map(col): _*)
    val fromParquet =
      if (pathExists(spark, parquetPath))
        filled(spark.read.schema(enc.schema).parquet(parquetPath))
          .as[T](enc).collect().toSeq
      else Nil
    // Flight files are the crashed-writer path by design, so a truncated
    // trailing line is expected, not exceptional: drop malformed lines and
    // any parsed row missing a required field instead of letting the
    // non-nullable decode throw and poison every later tuned run against
    // this store.
    val fromFlight =
      if (pathExists(spark, jsonPath))
        filled(spark.read.schema(enc.schema)
            .option("mode", "DROPMALFORMED").json(jsonPath))
          .na.drop("any").as[T](enc).collect().toSeq
      else Nil
    fromParquet ++ fromFlight
  }

  /** All runs in id order, each assembled into per-stage infos. Missing or
    * unreadable store ⇒ empty history (reference quirk Q2 fixed; R22
    * error-tolerant read). */
  def history(spark: SparkSession): List[List[StageRunInfo]] = {
    import spark.implicits._
    try {
      // The embedded runId column is authoritative; the discovered `run`
      // partition column is dropped by the projection inside readKind.
      val stages = readKind[StageMetric](spark, s"$base/kind=stage",
        flightBase("stage"),
        Seq("runId", "stageId", "attempt", "executorCpuTimeMs",
          "stageDurationMs", "bytesRead", "shuffleBytesWritten",
          "shuffleBytesRead", "submittedAtMs"))
      val tasks = readKind[TaskMetric](spark, s"$base/kind=task",
        flightBase("task"),
        Seq("runId", "stageId", "taskId", "executorId", "durationMs",
          "peakMemory", "shuffleReadBytes"))
      val tasksByRun = tasks.groupBy(_.runId)
      stages.groupBy(_.runId).toList.sortBy(_._1).map { case (rid, st) =>
        StageRunInfo.assemble(st, tasksByRun.getOrElse(rid, Nil))
      }
    } catch {
      // R22 error-tolerance is ONLY for a layout the read cannot resolve
      // (AnalysisException): warn + empty history. A run dir a crashed
      // writer left without data files reads as empty under the declared
      // schema. Runtime corruption (SparkException etc.) propagates.
      case e: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"[graft.tuner] unreadable metrics store at $base: ${e.getMessage}")
        Nil
    }
  }

  /** Next run id = max(recorded run ids across both layouts) + 1
    * (reference R27 allocated sequentially; counting assembled history
    * reused ids whenever a run captured zero stages — the new id must
    * clear every id any layout has ever written, or persistDirect's
    * overwriting create silently clobbers the prior run file). */
  def nextRunId(spark: SparkSession): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    def ids(dir: String, extract: String => Option[Int]): Seq[Int] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap(st => extract(st.getPath.getName))
    }
    val parquetRun = "^run=(\\d+)$".r
    val flightRun = "^run-(\\d+)\\.jsonl$".r
    val recorded =
      Seq("stage", "task").flatMap { k =>
        ids(s"$base/kind=$k", n => parquetRun.findFirstMatchIn(n).map(_.group(1).toInt)) ++
          ids(flightBase(k), n => flightRun.findFirstMatchIn(n).map(_.group(1).toInt))
      }
    recorded.foldLeft(-1)(math.max) + 1
  }
}
