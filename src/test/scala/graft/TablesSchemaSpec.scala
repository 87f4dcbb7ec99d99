package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import graft.core.Tables

/** The declared fixture schemas in `Tables.schemas` must equal what
  * footer inference reads from every fixture dir — column order, element
  * types and nullability included — so a regenerated layout fails here
  * instead of reading NULLs through a stale declaration. */
object TablesSchemaSpec {
  /** One message per table of `dir` that is not `events` and either has
    * no declaration or whose `Tables.t` schema differs from the inferred
    * one. */
  def mismatches(spark: SparkSession, dir: String): Seq[String] = {
    val onDisk = new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .filterNot(_ == "events")
    (Tables.schemas.keySet ++ onDisk).toSeq.sorted.flatMap { name =>
      if (!Tables.schemas.contains(name)) Some(s"$dir/$name: no declared schema")
      else {
        val declared = Tables.t(spark, dir, name).schema
        val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
        if (declared == inferred) None
        else Some(s"$dir/$name: declared ${declared.toDDL} != inferred ${inferred.toDDL}")
      }
    }
  }
}

class TablesSchemaSpec extends SparkSpec {
  private val fixtures = new java.io.File(sf).getParent

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { sfName =>
    test(s"declared schemas equal the inferred ones at $sfName") {
      val bad = TablesSchemaSpec.mismatches(spark, s"$fixtures/$sfName")
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("declared tables load without a schema-inference job") {
    val (_, jobs) = JobCount(spark) {
      Tables.schemas.keys.foreach(Tables.t(spark, sf, _))
    }
    assert(jobs == 0, s"$jobs jobs while loading the declared tables")
  }

  test("events keeps inference and returns ts as TIMESTAMP") {
    val ev = Tables.t(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }
}
