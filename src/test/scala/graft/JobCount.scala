package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches from the calling thread: the
  * block runs under a unique local property, and a listener counts the
  * job starts that carry it once the listener bus has drained. */
object JobCount {
  private val Key = "graft.spec.jobcount"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag)) seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      ListenerBusAccess.waitUntilEmpty(sc)
      (out, seen.get)
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
