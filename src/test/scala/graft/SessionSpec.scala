package graft

import org.apache.spark.sql.types.TimestampType

/** Session invariants owned by `graft.core.Session.local` (the factory
  * behind SparkSpec.spark and every local main). */
class SessionSpec extends SparkSpec {
  test("factory session: UTC time zone, unflagged parquet timestamps read as TIMESTAMP") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // lineitem stores l_shipdate as parquet timestamp[us] without the UTC
    // flag; Spark's default inference would read it as TIMESTAMP_NTZ.
    val dt = spark.read.parquet(s"$sf/lineitem.parquet").schema("l_shipdate").dataType
    assert(dt == TimestampType, s"l_shipdate read as $dt")
  }
}
