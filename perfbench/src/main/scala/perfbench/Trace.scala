package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine: a name, its interval, the span that
  * caused it and the operation it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. When `on` is
  * false every call runs its body untouched, so an untraced pass pays
  * nothing. Each open span is also published as the `perfbench.span`
  * local property, so the Spark jobs it launches carry its id. */
final class Tracer(sc: SparkContext) {
  var on = false
  var op = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        op, name, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time per span name: duration minus the part of it covered by
    * child spans (children of one span never overlap: one thread). */
  def selfSeconds(ops: Set[Int]): Map[String, Double] = {
    val chosen = spans.filter(s => ops(s.op))
    val childNs = chosen.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    chosen.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

object Tracer { val Prop = "perfbench.span" }

final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long,
    stageIds: Seq[Int], site: String, details: String)

final class StageRec(val stageId: Int) {
  var startMs, endMs = 0L
  var tasks, failedTasks = 0
  var cpuNs, inBytes, shWrite, shRead, fetchWaitMs, spillBytes, gcMs, outBytes = 0L
}

final case class QeRec(op: Int, planMs: Long)

/** Listener-side counts at the same boundaries as the spans: every job
  * with the span that launched it and its call site, every stage with its
  * task metrics, every query execution with its planning phases. The
  * benchmark drains the listener bus at the end of each traced operation,
  * so `op` is current when that operation's query executions arrive. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var op = 0
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(0)
    val last = e.stageInfos.maxBy(_.stageId)
    jobs += JobRec(e.jobId, span, e.time, e.time, e.stageIds, last.name, last.details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId)
    s.startMs = si.submissionTime.getOrElse(0L)
    s.endMs = si.completionTime.getOrElse(s.startMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.reason != org.apache.spark.Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    qes += QeRec(op, Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum)
  }
}
