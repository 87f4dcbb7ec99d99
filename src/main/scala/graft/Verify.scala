package graft
import java.nio.file.{Files, Paths}
import graft.core.Measure
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args scope the dump to named queries (local
    // iteration); the driver always calls with exactly two.
    val only = args.drop(2).toSet
    val cpus = graft.core.Session.cpus(4)
    val spark = graft.core.Session.local(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Remove any stale output from a previous run so the compare step
        // reports a hard failure instead of silently passing on old data.
        // Recursive: a failed write can leave a nested _temporary tree.
        graft.core.TempDirs.delete(s"$outDir/$name")
      }
    }
    // Measure.str escapes every control character: a tab or CR in the
    // SQL text would otherwise make the oracle compare's json.load fail
    // and zero the correctness check.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Measure.obj(
      SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Measure.str(v) }: _*))
    // Full registry listing: oracle_sql.json is only the SQL-expressible
    // SUBSET of the registry by contract, so tools that need "every
    // registered query" (scan_check's budgeted-but-unprobed cross-check)
    // must not use it as the registry — a future oracle-less query would
    // silently fall outside their guarantee.
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      Measure.arr(SparkEntry.queries.keys.toSeq.sorted.map(Measure.str)))
    graft.core.TempDirs.cleanupAll()
    spark.stop()
  }
}
