package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session builder for every main and the spec suite. It
  * owns the engine's session invariants: UTC session time; parquet
  * `timestamp[us]` columns without the UTC flag (the fixtures' layout,
  * e.g. lineitem.l_shipdate) read as TIMESTAMP, not TIMESTAMP_NTZ; no
  * UI; WARN logging with the bounded window warnings quieted. Callers
  * pass only what differs: master, shuffle partitions and extra confs.
  */
object Session {
  /** SPARK_GRAFT_CPUS, or `default` when unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def local(master: String, shufflePartitions: Int,
      extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LogQuiet.boundedWindowWarnings()
    LogQuiet.streamingJoinWarnings()
    s
  }
}
