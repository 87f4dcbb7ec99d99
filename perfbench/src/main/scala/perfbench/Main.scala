package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed unit of a pass. `isOp` marks the workload's read operations
  * (the latency samples); other steps (index builds, appends) only count
  * toward the pass wall and the layers. */
final case class OpRec(id: Int, pass: Int, kind: String, isOp: Boolean,
    seconds: Double, ok: Boolean, startMs: Long, endMs: Long, traced: Boolean)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, cpus: Int)

/** Everything a workload needs: the session, the tracer, the listener
  * probe and the operation log. */
final class Ctx(val a: Args, val spark: SparkSession, val tracer: Tracer,
    val probe: Probe) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0
  private var nextId = 0

  /** Run one step of a pass inside a root span named after its kind. A
    * step that throws is recorded as failed and the pass goes on. */
  def step(kind: String, isOp: Boolean)(body: => Unit): Unit = {
    nextId += 1
    tracer.op = nextId
    probe.op = nextId
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { tracer.span(kind)(body); true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    if (tracer.on)
      org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    ops += OpRec(nextId, pass, kind, isOp, sec, ok, ms0, ms1, tracer.on)
  }

  def op(kind: String)(body: => Unit): Unit = step(kind, isOp = true)(body)

  /** Wall seconds of `body`, also when tracing is off. */
  def timed[T](acc: mutable.Map[String, Double], key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally acc(key) = acc.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

object Main {
  /** Set-ups per run; setup_s reports their median. The first runs from
    * process start through the warm pass; the others stop the session and
    * build a new one in the warm process, register the extension, prepare
    * the workload and warm it again (Workload.rewarm). */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("cpus").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.LogQuiet.boundedWindowWarnings()
    graft.GraftExtensions.ensureRegistered(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    var wl: Workload = null
    val setupLayers = mutable.Map.empty[String, Double]
    for (k <- 0 until Setups) {
      if (ctx != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val spark = session(a)
      val probe = new Probe
      ctx = new Ctx(a, spark, new Tracer(spark.sparkContext), probe)
      wl = Workload(a.workload, ctx)
      if (k == 0) wl.warm() else wl.rewarm()
      setupLayers ++= wl.layerFigures
      val sec = (System.nanoTime() - t0) / 1e9
      setups += (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else sec)
    }
    ctx.ops.clear()

    // Closed loop, one client: each pass starts when the previous returns.
    // A traced run alternates untraced and traced passes, so the tracing
    // overhead is the gap between the two kinds of pass.
    val passWall = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val passExtra = mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var p = 0
    // A traced run alternates, so it measures twice the passes.
    val minPasses = wl.minPasses * (if (a.trace) 2 else 1)
    while ((p < minPasses || System.nanoTime() < deadline) && p < wl.maxPasses) {
      val traced = a.trace && p % 2 == 1
      ctx.pass = p
      ctx.tracer.on = traced
      if (traced) {
        ctx.spark.sparkContext.addSparkListener(ctx.probe)
        ctx.spark.listenerManager.register(ctx.probe)
      }
      val t0 = System.nanoTime()
      val extra = wl.pass(p)
      passWall += (((System.nanoTime() - t0) / 1e9, traced))
      passExtra += extra
      if (traced) {
        org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(ctx.spark.sparkContext)
        ctx.spark.sparkContext.removeSparkListener(ctx.probe)
        ctx.spark.listenerManager.unregister(ctx.probe)
      }
      ctx.tracer.on = false
      p += 1
    }

    val checks = wl.check()
    val layers =
      if (a.trace) Layers(ctx, passExtra.toSeq) ++ setupLayers else Map.empty[String, Double]
    val selfTime = ctx.tracer.selfSeconds(ctx.ops.filter(_.traced).map(_.id).toSet)
    if (a.trace) {
      Files.write(Paths.get(s"${a.work}/spans.jsonl"),
        ctx.tracer.jsonLines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    graft.core.TempDirs.cleanupAll()
    ctx.spark.stop()

    val j = new Json
    j.obj {
      j.field("workload", a.workload); j.field("seed", a.seed); j.field("cpus", a.cpus)
      j.field("input_bytes", wl.inputBytes)
      j.field("setup_s", setups.toSeq)
      j.field("peak_rss_mb", rss)
      j.field("pass_wall_s", passWall.map(_._1).toSeq)
      j.field("pass_traced", passWall.map(_._2).toSeq)
      j.key("ops"); j.arr(ctx.ops.toSeq) { o =>
        j.obj {
          j.field("kind", o.kind); j.field("pass", o.pass); j.field("op", o.isOp)
          j.field("s", o.seconds); j.field("ok", o.ok); j.field("traced", o.traced)
        }
      }
      j.key("pass_extra"); j.arr(passExtra.toSeq)(m => j.map(m))
      j.key("layers"); j.map(layers)
      j.key("self_s"); j.map(selfTime)
      j.key("summary"); j.map(wl.summary)
      j.key("checks"); j.arr(checks) { c =>
        j.obj { j.field("name", c.name); j.field("ok", c.ok); j.field("detail", c.detail)
          j.field("kinds", c.kinds) }
      }
    }
    Files.write(Paths.get(s"${a.work}/result.json"), j.toString.getBytes("UTF-8"))
  }
}

/** One output check; a failed check marks every operation of `kinds`
  * failed. */
final case class Check(name: String, ok: Boolean, detail: String, kinds: Seq[String])

/** Minimal JSON writer for the result file. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb += ','; first = false }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def key(k: String): Unit = { sep(); sb ++= str(k) += ':'; first = true }
  def field(k: String, v: Any): Unit = { key(k); sep(); sb ++= value(v) }
  def obj(body: => Unit): Unit = { sep(); sb += '{'; first = true; body; sb += '}'; first = false }
  def arr[T](xs: Seq[T])(each: T => Unit): Unit = {
    sep(); sb += '['; first = true; xs.foreach(each); sb += ']'; first = false
  }
  def map(m: Map[String, Double]): Unit =
    obj { m.toSeq.sortBy(_._1).foreach { case (k, v) => field(k, v) } }
  override def toString: String = sb.toString
}
