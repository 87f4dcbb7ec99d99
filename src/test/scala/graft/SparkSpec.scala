package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (plain scalatest — the
  * reference's spark-testing-base is unavailable offline; SURVEY.md §7). */
object SparkSpec {
  // local[4, 2]: 4 threads with task maxFailures = 2, so the retry
  // path is live (plain local[N] pins maxFailures to 1 and any injected
  // task failure would kill the job instead of retrying — the
  // RetryIdempotenceSpec contract needs the scheduler's real retry).
  lazy val spark: SparkSession = graft.core.Session.local("local[4, 2]", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
