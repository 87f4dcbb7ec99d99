package graft.tools


/** Streaming-tier scale measurement — the decade evidence the batch
  * (sf0.1→sf1→sf10) and similarity (AnnScale) tiers already carry,
  * applied to Structured Streaming replay: wall time and events/sec for
  * representative stateful queries at sf0.1 and a scaled dir (default
  * `localdata/sf1`, ScaleData ×10).
  *
  * Replay shape is held constant (6 chunks, maxFilesPerTrigger=1 ⇒ 6
  * micro-batches at every scale) so the measurement isolates per-event
  * state-machine cost: watermarked window aggregation (q38), streaming
  * dedup state (q41), and the interval-join state store
  * (q_stream_stream_join) — the three state layouts production jobs
  * combine. Chunk building is warmed OUT of the timing (it is fixture
  * prep, not streaming cost).
  *
  * Usage: runMain graft.tools.StreamScale [baseDir scaledDir]
  * Prints one JSON line per (query, dir) with min-of-two wall seconds.
  *
  * SPARK_GRAFT_STREAM_SUITE (csv of query names) scopes the suite and
  * SPARK_GRAFT_STREAM_RUNS overrides the timed-run count (default 2) —
  * the re-adjudication knobs for a stream_diff FAIL on one query: this
  * tier's wall times carry checkpoint/shuffle IO noise the epoch itself
  * shows as a 1.7× same-binary spread (r11 q_stream_join_right@sf10
  * runs: [58.989, 34.588]), so a single borderline reading is retested
  * min-of-N in isolation before being believed (BENCH_NOTES round 12).
  *
  * Round 13 (VERDICT r12 item 2): the run brackets itself with the same
  * 64 MB fsync'd write probe Bench uses, emitted as `#`-comment JSON
  * lines stream_diff skips — so a recorded epoch file carries its own
  * IO-health evidence (the r11 epoch baked in one sample from a
  * throttled window, which forced a manual adjudication in round 12).
  * Capture with `grep -E '^#|\"query\"'` to keep the probe lines.
  */
object StreamScale {

  /** Locale-pinned decimal rendering for every number on a parsed line
    * (ADVICE r6, and a round-13 review catch HERE: the f interpolator
    * uses the default JVM locale, so a comma-decimal locale would emit
    * invalid JSON on the record lines and silently split each probe
    * sample in two). */
  private def fmt(d: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(d))

  /** Three graft.core.IoProbe samples 5 s apart, ALL recorded: a single
    * post-run sample reads the run's own page-cache writeback backlog,
    * not the environment (measured: 93 MB/s immediately after a sf10
    * drain, 438+ within a minute). Contention only ever subtracts, so
    * the MAX sample is the environment's capability — that is what the
    * healthy-band check (≥ 179 MB/s, r11 drift audit) applies to; the
    * spread documents the artifact. */
  private def printIoProbe(when: String, path: String): Unit = {
    val samples = (0 until 3).map { i =>
      if (i > 0) Thread.sleep(5000)
      graft.core.IoProbe.mbPerSec(path)
    }
    println(s"""# {"io_probe_mb_s":[${samples.map(fmt(_, 1)).mkString(",")}],"when":"$when","path":"$path"}""")
  }
  private val Queries = Seq(
    "q38_stream_tumbling", "q41_stream_dedup", "q_stream_stream_join",
    // Right-outer interval join: same state store as the inner join
    // plus watermark-driven finalization of unmatched right rows — the
    // outer-null path is the part the inner measurement can't see.
    "q_stream_join_right")

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scaled = args.lift(1).getOrElse("/root/repo/localdata/sf1")
    val cpus = graft.core.Session.cpus(32)
    val spark = graft.core.Session.local(s"local[$cpus]", cpus)

    // Noop-sink drain (round 11): the registry queries drain to a MEMORY
    // sink so the oracle can hash the rows — but the memory sink holds
    // every output row on the driver heap, which at sf10 (10 M events,
    // 10 M-row dedup/join outputs) OOMs the default 8 g heap and charges
    // driver-side row accumulation to the state machine being measured.
    // measurementStreams exposes the identical pre-sink pipelines; the
    // noop sink executes them fully with zero row retention. (Numbers
    // from rounds <= 10 included memory-sink cost — both dirs here are
    // measured under the same sink, so the decade exponents stay
    // internally consistent; see BENCH_NOTES.)
    def runOnce(name: String, dir: String): Double = {
      val (stream, mode) = graft.streaming.StreamingOps
        .measurementStreams(name)(spark, dir)
      val t0 = System.nanoTime()
      val q = stream.writeStream.format("noop").outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    // Suite scope + run count: unknown names are dropped loudly (the
    // shared EnvSuite contract), malformed run counts fall back to the
    // default instead of crashing the measurement.
    val suite = graft.core.EnvSuite.scope("SPARK_GRAFT_STREAM_SUITE",
      Queries, Queries.contains, "streamscale")
    val nRuns = math.max(1, scala.util.Try(
      sys.env("SPARK_GRAFT_STREAM_RUNS").trim.toInt).getOrElse(2))
    val probePath =
      graft.core.IoProbe.path(spark.conf.getOption("spark.local.dir"))
    printIoProbe("pre", probePath)
    Seq(base, scaled).filter(d => new java.io.File(d).exists).foreach { dir =>
      val n = graft.core.Tables.t(spark, dir, "events").count()
      graft.streaming.StreamingOps.prepareChunks(spark, dir) // warm fixture
      suite.foreach { name =>
        runOnce(name, dir) // warm pass: plan compile + codegen
        val secs = (0 until nRuns).map(_ => runOnce(name, dir))
        val best = secs.min
        println(s"""{"query":"$name","dir":"$dir","events":$n,"sink":"noop","runs":[${secs.map(fmt(_, 3)).mkString(",")}],"min_sec":${fmt(best, 3)},"events_per_sec":${(n / best).toLong}}""")
      }
    }
    printIoProbe("post", probePath)
    graft.core.TempDirs.cleanupAll()
    spark.stop()
  }
}
