package graft

import graft.core.{IoProbe, Measure}
import scala.collection.mutable.ArrayBuffer

/** Benchmark main (driver contract): one JSON line with per-query seconds
  * on SPARK_GRAFT_SF_DIR. Headline set per BASELINE.md — one query per
  * heavy category — plus the tuner loop. Results are forced through the
  * noop sink so the full plan executes (a bare count() lets Catalyst prune
  * the work being measured). Per-query scale exponents are
  * graft.tools.BatchScale's record, not this one.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", // scan + filter + hash agg
    "q04_multiway_join",   // multi-way broadcast join
    "q15_window_rank",     // window functions
    "q18_topk",            // shuffle agg + top-k
    "q31_jaccard_pairs",   // blocked token self-join (near-dup exact)
    "q32_cosine_topk",     // similarity search
    "q34_sessionization",  // sessionization windows
    "q43_minhash_lsh",     // minhash LSH dedup (scale path)
    "q_simhash",           // simhash fingerprints
    // The AQE-on twin of q_stratified_sample__aqe_off, so the
    // skew-hardened shape's off/on ratio is an in-record fact like q43's.
    "q_stratified_sample") // per-stratum quota sampling (salted)

  /** Harness-paced entries: timed and gated like the headline set — same
    * interleaved passes, same regression tolerance — but reported under a
    * separate "meta" section so the headline total stays a pure
    * plan-quality number. q_tuner_loop is a 3-iteration driver loop with
    * metrics-store IO; its ~2 s measures harness + tuner overhead. */
  val metaSuite: Seq[String] = Seq(
    "q_tuner_loop")        // tuner record+recommend loop (3 runs of Q01)

  /** Extra timed passes the IO gate may spend on a degraded bracket. */
  private val IoRetryBudget = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Session.cpus(32)
    val spark = graft.core.Session.local(s"local[$cpus]", cpus)

    // Machine-load metadata: 1-min load average per pass plus the
    // /proc/stat busy fraction over the whole run, so VM-drift
    // adjudication is mechanical (gate_diff prints it).
    def readProcLine(path: String): Option[String] = scala.util.Try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().next() finally src.close()
    }.toOption
    def loadAvg1: Double = readProcLine("/proc/loadavg")
      .flatMap(l => scala.util.Try(l.split("\\s+")(0).toDouble).toOption)
      .getOrElse(-1.0)
    // /proc/stat line 1: cpu user nice system idle iowait irq softirq
    // steal guest guest_nice. busy = total - idle - iowait, with the
    // total truncated to the first 8 fields — guest/guest_nice are
    // already folded into user/nice and double-counting them would bias
    // the busy fraction low on guest-running hosts.
    def cpuJiffies: (Long, Long) = readProcLine("/proc/stat")
      .flatMap(l => scala.util.Try {
        val f = l.split("\\s+").drop(1).take(8).map(_.toLong)
        val total = f.sum
        val idle = f(3) + (if (f.length > 4) f(4) else 0L)
        (total - idle, total)
      }.toOption).getOrElse((-1L, -1L))
    val loadPasses = ArrayBuffer[Double]()
    val (busy0, total0) = cpuJiffies

    // Fixed-work probes, each min-of-N after a discarded warmup rep, so
    // every record carries machine-speed numbers comparable across
    // records. Host-level slowdown on an idle guest is invisible to every
    // in-guest load metric. `acc == 42` defeats dead-code elimination.
    //  - host: single-thread xorshift64 + sum, register-only, seconds;
    //  - mem: 128 MB sequential long-sum (beyond any LLC), GB/s — the
    //    bandwidth contention a host neighbour imposes, which Spark's
    //    scan and shuffle working sets feel and the register loop cannot.
    def minRep(n: Int)(body: => Long): Double = {
      def rep(): Double = {
        val t0 = System.nanoTime()
        if (body == 42L) println("")
        (System.nanoTime() - t0) / 1e9
      }
      rep()
      Seq.fill(n)(rep()).min
    }
    val probeSec = minRep(3) {
      var x = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
      }
      acc
    }
    val memGbS = {
      val a = Array.tabulate(16 * 1024 * 1024)(_.toLong)
      val sec = minRep(5) {
        var s = 0L; var j = 0
        while (j < a.length) { s += a(j); j += 1 }
        s
      }
      (a.length * 8.0 / (1L << 30)) / sec
    }

    // IO gate: wait for the band before the suite, so the first timed
    // pass is not spent in a window that cannot certify.
    val ioPath = IoProbe.path(spark.conf.getOption("spark.local.dir"))
    val ioPre = IoProbe.awaitBand(ioPath, IoProbe.mbPerSec(ioPath), 5, "bench")

    def run(name: String): Double = Measure.time("bench", name)(
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    def aqeOff[A](body: => A): A = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }

    // SPARK_GRAFT_BENCH_SUITE scopes the timed headline set for evidence
    // runs; graded invocations never set it, so a committed BENCH_r*.json
    // always carries the full suite. The meta and AQE-off blocks run
    // their defaults ∩ the scoped set. Meta entries ride in the SAME
    // passes as the headline queries, so the meta split is reporting only.
    val benchScoped = sys.env.contains("SPARK_GRAFT_BENCH_SUITE")
    val headlineRun = graft.core.EnvSuite.scope("SPARK_GRAFT_BENCH_SUITE",
      headline, SparkEntry.queries.contains, "bench")
    val metaRun = if (benchScoped) metaSuite.filter(headlineRun.contains)
      else metaSuite
    val suiteRun = (headlineRun.filterNot(metaSuite.contains) ++ metaRun).distinct
    // AQE interaction record (BASELINE.md): every headline query also runs
    // with adaptive execution off. On a real cluster AQE's skew-split
    // thresholds differ from local[N], so each plan — above all q43's
    // salted triangle-cell LSH join and q_stratified_sample's per-stratum
    // quota — must hold its per-task bounds WITHOUT AQE's help; the
    // __aqe_off twin makes that a record, not an argument.
    val aqeOffNames = headline.filter(headlineRun.contains)
    def offName(n: String) = s"${n}__aqe_off"

    // Steady-state measurement: one untimed pass first, so whole-stage
    // codegen compilation and parquet footer caches are charged to
    // warmup, not to whichever query happens to run first. Off entries
    // warm under the AQE-off conf their timed runs use, since the on
    // warmup compiles only the AQE-on plans.
    suiteRun.foreach(run)
    aqeOff(aqeOffNames.foreach(run))

    // Guarded parse clamped to >= 1: a malformed env value must not crash
    // main() before the JSON line is emitted, and zero reps would report
    // the -1 sentinel for every query.
    val reps = math.max(1,
      scala.util.Try(sys.env("SPARK_GRAFT_BENCH_REPS").trim.toInt).getOrElse(3))
    // Pass-major (interleaved) repetition: each timed pass runs the whole
    // suite and stats are taken ACROSS passes, never over back-to-back
    // reps of one query. A transient load spike then inflates one rep of
    // several queries — which the min shrugs off — rather than every rep
    // of one query, and back-to-back reps would inherit each other's JIT
    // and page-cache warmth. The AQE-off twins run inside the same pass,
    // so their off/on ratio reads AQE, not a window shift between blocks
    // on a device whose throughput swings mid-suite (q43 off/on read
    // 1.40-1.51× as a tail block vs 1.08× same-window,
    // bench_evidence/r15_q43_aqe_ab.json). One load sample per half-pass
    // feeds load.avg1_passes.
    val samples = (suiteRun ++ aqeOffNames.map(offName))
      .map(_ -> ArrayBuffer[Double]()).toMap
    def timedPass(): Unit = {
      suiteRun.foreach(n => samples(n) += run(n))
      loadPasses += loadAvg1
      aqeOff(aqeOffNames.foreach(n => samples(offName(n)) += run(n)))
      loadPasses += loadAvg1
    }
    for (_ <- 1 to reps) timedPass()

    // The published basis is min-of-N and contention only ever ADDS time,
    // so a certified record needs exactly ONE pass inside an in-band
    // bracket. While the last bracket read degraded, wait for the band,
    // then spend one extra pass (at most IoRetryBudget); a probe that
    // cannot run ends the retries, since no pass could certify without
    // it. load.healthy is the LAST pass's own bracket — the pair that
    // surrounds timed work the min can draw from.
    val ioPost = ArrayBuffer(IoProbe.mbPerSec(ioPath))
    var bracket = (ioPre.last, ioPost.last)
    var extraPasses = 0
    var probeRan = true
    while (probeRan && extraPasses < IoRetryBudget &&
        (IoProbe.degraded(bracket._1) || IoProbe.degraded(bracket._2))) {
      System.err.println(s"[bench] io bracket ${Measure.num(bracket._1, 0)}/" +
        s"${Measure.num(bracket._2, 0)} MB/s degraded — waiting for the " +
        "band, then one extra timed pass")
      val waited = IoProbe.awaitBand(ioPath, bracket._2, 4, "bench")
      ioPost ++= waited.tail
      probeRan = waited.last >= 0
      if (probeRan) {
        timedPass()
        extraPasses += 1
        ioPost += IoProbe.mbPerSec(ioPath)
        bracket = (waited.last, ioPost.last)
      }
    }

    def statObj(names: Seq[String], stat: Iterable[Double] => Double) =
      Measure.obj(names.map(n => n -> Measure.num(stat(samples(n)))): _*)
    val timedNames = suiteRun.filterNot(metaSuite.contains) ++ aqeOffNames.map(offName)
    val metaNames = suiteRun.filter(metaSuite.contains)
    // Plan-quality total only: meta entries are timed and gated per-query
    // (gate_diff merges the sections) but stay out of the headline sum.
    val total = timedNames.map(n => Measure.median(samples(n))).filter(_ >= 0).sum
    val (busy1, total1) = cpuJiffies
    val statBusy =
      if (busy0 < 0 || busy1 < 0 || total1 <= total0) -1.0
      else (busy1 - busy0).toDouble / (total1 - total0)
    // ncpu anchors the load average (load 8 is headroom on 32 ways and
    // saturation on 8); io_mb_s carries every IO sample, around the
    // headline passes only, for gate_diff's drift reasoning; io_path names
    // the device the probe wrote.
    val load = Measure.obj(
      "avg1_passes" -> Measure.arr(loadPasses.map(Measure.num(_)).toSeq),
      "stat_busy" -> Measure.num(statBusy),
      "ncpu" -> Runtime.getRuntime.availableProcessors().toString,
      "probe_sec" -> Measure.num(probeSec), "mem_gb_s" -> Measure.num(memGbS),
      "io_mb_s" -> Measure.arr((ioPre ++ ioPost).map(Measure.num(_))),
      "io_path" -> Measure.str(ioPath),
      "healthy" -> IoProbe.certifies(bracket._1, bracket._2).toString,
      "healthy_thr_mb_s" -> Measure.num(IoProbe.HealthyMbS),
      "io_retried" -> (extraPasses > 0).toString)
    // reps_effective counts the IO gate's extra passes, which the stats
    // also cover. aqe_off_window "same_pass" tells tooling the off entries
    // share their on twins' windows.
    val record = Measure.obj(
      "metric" -> Measure.str("total"), "value" -> Measure.num(total),
      "unit" -> Measure.str("sec"),
      "queries" -> statObj(timedNames, Measure.median),
      "queries_min" -> statObj(timedNames, Measure.min),
      "meta" -> statObj(metaNames, Measure.median),
      "meta_min" -> statObj(metaNames, Measure.min),
      "reps" -> reps.toString, "reps_effective" -> (reps + extraPasses).toString,
      "aqe_off_window" -> Measure.str("same_pass"),
      "mode" -> Measure.str("interleaved"), "sf" -> Measure.str(sfDir),
      "load" -> load)

    // The record's reader parses the last line of a 2000-char stdout
    // tail, so no late log line may follow the record: logging goes OFF
    // before stop(), in case the caller merges stderr into stdout. The
    // mirror file holds the same record.
    spark.sparkContext.setLogLevel("OFF")
    graft.core.TempDirs.cleanupAll()
    spark.stop()
    System.err.flush()
    try {
      val w = new java.io.PrintWriter("/tmp/graft_bench.json")
      try w.println(record) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write /tmp/graft_bench.json: ${e.getMessage}")
    }
    if (record.length > 1900)
      System.err.println(s"[bench] WARNING: stdout JSON line is ${record.length} " +
        "chars — the driver's tail window is 2000; trim the line")
    println(record)
    System.out.flush()
  }
}
