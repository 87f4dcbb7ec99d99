package graft

import java.nio.file.{Files, Paths}
import graft.core.TempDirs
import graft.tuner._

/** Listener + store integration (fills the reference's empty
  * MetricsCollectorApp stub — SURVEY.md §5 item 5): run real shuffle jobs
  * with recording, assert metrics rows are captured, persisted, re-read,
  * and that the tuning loop produces a recommendation from them. */
class TunerIntegrationSpec extends SparkSpec {

  test("recording a job captures stage+task metrics and advances run ids") {
    val dir = TempDirs.create("graft-metrics")
    val tuner = new Tuner(dir, "itest")

    def job(): Long = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").count().count()

    val run0 = tuner.record(spark)(job())
    assert(run0.runId == 0)
    val h1 = tuner.store.history(spark)
    assert(h1.length == 1, "one recorded run expected")
    assert(h1.head.nonEmpty, "stages captured")
    assert(h1.head.exists(_.numPartitionsUsed > 0), "tasks counted")
    assert(h1.head.exists(_.executorCpuTimeMs > 0), "cpu time recorded")

    assert(run0.stages == h1.head, "in-memory view equals the persisted run")

    // Second recorded run → id 1; recording alone leaves the conf as is.
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert(tuner.record(spark)(job()).runId == 1)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)

    // A tuned step recommends from both runs and applies the result to the
    // live session.
    restoringTunerConf {
      val tuned = tuner.tuneAndRunTracked(spark)(job())
      assert(tuned.priorHistory.length == 2 && tuned.runId == 2)
      assert(tuned.partitions > 0)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == tuned.partitions.toString)
      assert(spark.conf.get("spark.sql.files.maxPartitionBytes") ==
        tuned.maxPartitionBytes.toString)
    }
  }

  test("a tuned step and a recorded step launch only the body's jobs") {
    // Reading history and writing the run happen on the driver.
    val tuner = new Tuner(TempDirs.create("graft-jobs"), "jobs")
    restoringTunerConf {
      tuner.record(spark)(spark.range(10).count())
      val (_, bodyJobs) = JobCount(spark)(spark.range(10).count())
      val (_, tunedJobs) =
        JobCount(spark)(tuner.tuneAndRunTracked(spark)(spark.range(10).count()))
      val (_, recordJobs) = JobCount(spark)(tuner.record(spark)(spark.range(10).count()))
      assert(bodyJobs > 0)
      assert(tunedJobs == bodyJobs, s"tuned step ran $tunedJobs jobs, its body $bodyJobs")
      assert(recordJobs == bodyJobs, s"record-only ran $recordJobs jobs, its body $bodyJobs")
    }
  }

  test("tracked run's (priorHistory :+ recorded) equals a fresh store read") {
    // The q_tuner_loop one-read optimization rests on this equality: the
    // listener-assembled current run plus the pre-run history must be
    // indistinguishable from re-reading the persisted store afterward.
    val dir = TempDirs.create("graft-tracked")
    val tuner = new Tuner(dir, "tracked")
    def job(): Long = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    restoringTunerConf {
      val r1 = tuner.tuneAndRunTracked(spark)(job())
      val r2 = tuner.tuneAndRunTracked(spark)(job())
      assert(r1.priorHistory.isEmpty && r2.priorHistory.length == 1)
      val reread = tuner.store.history(spark)
      assert(reread == r2.priorHistory :+ r2.recorded,
        "tracked view diverged from the persisted store")
    }
  }

  test("tuner loop reports AQE's settled counts and converges toward them") {
    // Live three-iteration loop through the real Tuner API (the same
    // cycle TunerDemo runs internally before emitting its canonical
    // walk): record → re-tune → record, then compare the recommendation
    // trajectory to the post-AQE settle series.
    val dir = TempDirs.create("graft-loop")
    val tuner = new Tuner(dir, "loop")
    val (recs, settled) = restoringTunerConf {
      val runs = (0 until 3).map { _ =>
        tuner.tuneAndRunTracked(spark) {
          graft.queries.RelationalA.queries("q01_pricing_summary")(spark, sf).count()
        }
      }
      assert(runs.map(_.runId) == Seq(0, 1, 2), "run ids advance")
      val fullHistory = runs.last.priorHistory :+ runs.last.recorded
      (runs.map(_.partitions),
        graft.tuner.StageRunInfo.series(fullHistory)(_.shuffle.bytesRead)
          .map(_.numPartitionsUsed))
    }
    assert(settled.forall(_ > 0), s"AQE-settled series missing: $settled")
    // Convergence direction: the tuner learns from post-AQE task counts,
    // so the gap between its initial-count recommendation and AQE's
    // settle point must not widen over the loop, and the final round's
    // recommendation is the closest of the trajectory.
    val diffs = recs.zip(settled).map { case (r, a) => math.abs(r - a) }
    assert(diffs.last <= diffs.head,
      s"recommendation diverged from AQE settle point: $diffs")
    assert(diffs.last == diffs.min,
      s"final recommendation is not the closest to AQE: rec=$recs aqe=$settled")
  }

  test("q_tuner_loop emits the canonical decision walk with a healthy live loop") {
    val out = graft.tuner.TunerDemo.query(spark, sf).collect()
    assert(out.map(_.getString(1)).toSeq ==
      Seq("cold_start", "single_run", "improving", "regressing", "plateau"),
      "all five decision branches visited in order")
    assert(out.forall(_.getBoolean(6)), "live loop self-check failed")
    assert(out.forall(_.getInt(2) > 0))
    // The planted straggler flags skew exactly once, on the plateau step.
    assert(out.map(r => r.getBoolean(5)).toSeq ==
      Seq(false, false, false, false, true))
  }

  test("flight recorder persists on application end without explicit persist") {
    val dir = TempDirs.create("graft-flight")
    val tuner = new Tuner(dir, "flight")
    val fr = tuner.attachFlightRecorder(spark)
    try {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      // Deliver the real application-end event through the real listener
      // bus (stopping the shared test context would kill other suites;
      // in production Spark's shutdown hook posts this during stop()).
      org.apache.spark.graftaccess.ListenerBusAccess.postApplicationEnd(spark.sparkContext)
      org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      val h = tuner.store.history(spark)
      assert(h.length == 1, "flushed run visible in history")
      assert(h.head.nonEmpty && h.head.exists(_.numPartitionsUsed > 0),
        "stages and tasks captured through the flush path")
      assert(tuner.store.nextRunId(spark) == 1,
        "flight-recorded runs advance the run-id sequence")
    } finally spark.sparkContext.removeSparkListener(fr)
  }

  test("a tuned step inside Tuner.restoringConf leaves no skew-join conf behind") {
    // A planted straggler (one task reads 512 MB, the rest 64 MB) makes
    // the tuned step set AQE's skew-join confs; the save/restore the
    // q_tuner_loop live loop runs under must hand all of them back.
    val tuner = new Tuner(TempDirs.create("graft-skew-restore"), "skew")
    tuner.store.write(spark.sparkContext.hadoopConfiguration, List(
      StageRunInfo.summarize(executorCpuTimeMs = 1000L, stageTimeMs = 100L,
        inputBytes = 0L, numExecutors = 1,
        shuffle = ShuffleVolume(bytesWritten = 1L << 30, bytesRead = 1L << 30),
        taskShuffleReadBytes =
          Seq.tabulate(8)(i => if (i == 0) 512L << 20 else 64L << 20))))
    val factorKey = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    val before = SkewAdvisor.Keys.map(spark.conf.getOption)
    Tuner.restoringConf(spark) {
      tuner.tuneAndRunTracked(spark)(spark.range(10).count())
      assert(spark.conf.get(factorKey) == "4", "the planted skew was not acted on")
    }
    assert(SkewAdvisor.Keys.map(spark.conf.getOption) == before,
      "skew-join confs leaked out of the tuned step")
  }

  test("empty store yields cold-start recommendation, not an error (Q2)") {
    val tuner = new Tuner(TempDirs.create("graft-empty"), "none")
    assert(tuner.store.nextRunId(spark) == 0)
    restoringTunerConf {
      val r = tuner.tuneAndRunTracked(spark)(spark.range(10).count())
      assert(r.priorHistory.isEmpty && r.runId == 0)
      assert(r.partitions > 0)
    }
  }

  test("truncated flight jsonl line is tolerated, not fatal (crashed-writer path)") {
    val dir = TempDirs.create("graft-corrupt")
    val tuner = new Tuner(dir, "crash")
    val fr = tuner.attachFlightRecorder(spark)
    try {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      org.apache.spark.graftaccess.ListenerBusAccess.postApplicationEnd(spark.sparkContext)
      org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(fr)
    val clean = tuner.store.history(spark)
    assert(clean.length == 1 && clean.head.nonEmpty)
    // Simulate the writer dying mid-line: append a parsed-but-incomplete
    // record plus a truncated one to the run file.
    val appDir = Paths.get(dir, "crash")
    val f = appDir.resolve("run-0.jsonl")
    Files.writeString(f,
      "{\"executorCpuTimeMs\":7,\"stageTimeMs\":9}\n{\"executorCpuTimeMs\":8,\"stag",
      java.nio.file.StandardOpenOption.APPEND)
    // Drop the Hadoop checksum sidecar: a REAL torn write dies before the
    // crc is updated too, and a stale crc would fail the read for the
    // wrong reason (checksum error, not parse error).
    Files.deleteIfExists(appDir.resolve(".run-0.jsonl.crc"))
    // History still assembles the intact run; the torn rows are dropped
    // instead of crashing every later tuned run against this store.
    val h = tuner.store.history(spark)
    assert(h.length == 1, s"corrupt lines dropped, got ${h.length} runs")
    assert(h == clean)
    restoringTunerConf {
      val r = tuner.tuneAndRunTracked(spark)(spark.range(10).count())
      assert(r.priorHistory == h && r.partitions > 0)
    }
  }

  test("run ids never reuse an existing id even when a run recorded zero stages") {
    val dir = TempDirs.create("graft-runid")
    val tuner = new Tuner(dir, "gap")
    // A recorded run that captured NO stages (e.g. flight recorder attached
    // but the app did no work): its run file exists but holds no stage —
    // counting history would re-issue id 0.
    val fr = tuner.attachFlightRecorder(spark)
    org.apache.spark.graftaccess.ListenerBusAccess.postApplicationEnd(spark.sparkContext)
    org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(fr)
    assert(tuner.store.history(spark).isEmpty, "zero-stage run assembles to empty history")
    assert(tuner.store.nextRunId(spark) == 1,
      "id allocation must clear the zero-stage run-0 file, not reuse id 0")
    val run = tuner.record(spark) {
      spark.read.parquet(s"$sf/lineitem.parquet").groupBy("l_returnflag").count().count()
    }
    assert(run.runId == 1)
    assert(tuner.store.nextRunId(spark) == 2)
  }

  test("a flight recorder and a recorded run in one app take distinct run ids") {
    val tuner = new Tuner(TempDirs.create("graft-both"), "both")
    val fr = tuner.attachFlightRecorder(spark)
    val run = try {
      val r = tuner.record(spark) {
        spark.read.parquet(s"$sf/lineitem.parquet").groupBy("l_returnflag").count().count()
      }
      org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      fr.flush()
      r
    } finally spark.sparkContext.removeSparkListener(fr)
    val h = tuner.store.history(spark)
    assert(run.runId == 0 && h.length == 2, s"${h.length} runs in history")
    assert(h.head == run.stages, "the flush merged into or replaced the recorded run")
  }

  test("a run file whose close fails makes the flush throw") {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.failclose.impl", classOf[CloseFailingFileSystem].getName)
    conf.setBoolean("fs.failclose.impl.disable.cache", true)
    val root = "failclose://" + TempDirs.create("graft-failclose")
    val fr = new FlightRecorder(new MetricsStore(root, "lost"), conf)
    spark.sparkContext.addSparkListener(fr)
    try {
      spark.range(10).count()
      org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(fr)
    val e = intercept[java.io.IOException](fr.flush())
    assert(e.getMessage.contains(CloseFailingFileSystem.Message))
  }

  test("input-split recommendation changes the scan stage's task count across runs") {
    // The memory bound binds: 64m executor memory → task working memory
    // 19.2 MB → 9.6 MB splits. The fixture below is bigger than one split
    // but smaller than the 128 MB default, so the recommendation is what
    // flips the scan from one task to several — the scan-tier analogue of
    // the shuffle hill-climb, measurable as FilePartition counts.
    val cp = new graft.tuner.ComputePartitions(Map("spark.executor.memory" -> "64m"))
    val rec = cp.maxPartitionBytes(inputSizeMb = 100000.0)
    assert(rec == math.round(9.6 * 1024 * 1024), s"unexpected recommendation $rec")
    // Cold start (no recorded scan) must still recommend from memory alone,
    // and a huge memory must clamp at 1 GB.
    assert(cp.maxPartitionBytes(0.0) == rec)
    assert(new graft.tuner.ComputePartitions(Map("spark.executor.memory" -> "512g"))
      .maxPartitionBytes(1e9) == 1024L * 1024 * 1024)
    // Tiny input across many slots clamps at the 4 MB floor (first-wave
    // bound would make sub-openCost splits).
    assert(new graft.tuner.ComputePartitions(Map(
      "spark.executor.cores" -> "32", "spark.executor.instances" -> "4"))
      .maxPartitionBytes(64.0) == 4L * 1024 * 1024)
    val dir = TempDirs.create("graft-split")
    // ~20-30 MB of incompressible-ish parquet (md5 strings).
    spark.range(1200000L)
      .selectExpr("id", "md5(cast(id as string)) AS a",
        "md5(cast(id + 7 as string)) AS b")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    def scanTasks(): Int = spark.read.parquet(dir).rdd.getNumPartitions
    try {
      spark.conf.set(key, (128L * 1024 * 1024).toString)
      val defaultTasks = scanTasks()
      spark.conf.set(key, rec.toString)
      val tunedTasks = scanTasks()
      assert(tunedTasks > defaultTasks,
        s"recommendation $rec did not change scan task count " +
          s"($defaultTasks -> $tunedTasks)")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
