package graft
import java.nio.file.{Files, Paths}
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full registry listing: oracle_sql.json is only the SQL-expressible
    // SUBSET of the registry by contract, so tools that need "every
    // registered query" (scan_check's budgeted-but-unprobed cross-check)
    // must not use it as the registry — a future oracle-less query would
    // silently fall outside their guarantee.
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    graft.core.TempDirs.cleanupAll()
    spark.stop()
  }
}
