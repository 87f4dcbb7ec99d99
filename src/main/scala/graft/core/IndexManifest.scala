package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, StructType}

/** Persisted-index manifest: a tiny JSON sidecar (`manifest.json`) written
  * next to every index an operator persists (MinHash signature tables, IVF
  * centroids, LSH bucket tables) recording the parameters that are part of
  * the index CONTRACT — hash-family seed, band shape, K, schema version —
  * and, in one `table.<name>` field per table, the `StructType.toDDL`
  * schema of the frame the builder wrote to `<indexDir>/<name>`.
  *
  * The table fields let every later read pass the schema instead of
  * inferring it ([[table]]: no footer-inference job per read), and let
  * appends refuse a frame whose layout differs from the index's
  * ([[appendTables]]). Manifests from before the table fields carry
  * schema_version "1" and fail [[verify]] with a rebuild message.
  *
  * Why: `append`/`search` only produce correct results when called with the
  * SAME family parameters the index was built with. Before the manifest the
  * contract lived in scaladoc only, so an append with a different seed
  * silently corrupted the index (new rows hashed into unrelated buckets —
  * no error, just missing pairs). Now every read/append path calls
  * [[verify]] and fails fast on any mismatch or on a missing manifest.
  *
  * Written through the Hadoop FS API (not java.nio) so index dirs can live
  * on HDFS/S3 on a real cluster, same as the parquet tables beside them.
  */
object IndexManifest {
  val FILE = "manifest.json"

  /** Bump when an index layout changes shape incompatibly. "2": every
    * table's schema is recorded in a `table.<name>` field. */
  val SCHEMA_VERSION = "2"

  private def fsPath(s: SparkSession, indexDir: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$FILE")
    (p, p.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Write the manifest (overwrites — build owns the dir). Values are kept
    * as strings; callers stringify numbers so compare is exact. */
  def write(s: SparkSession, indexDir: String, fields: Map[String, String]): Unit = {
    val all = fields + ("schema_version" -> SCHEMA_VERSION)
    // The flat unescaped format below round-trips ONLY for quote-,
    // backslash- and control-free strings; reject anything else up front
    // rather than writing a manifest read() would silently mis-parse.
    all.foreach { case (k, v) =>
      Seq(k, v).foreach { str =>
        require(!str.exists(c => c == '"' || c == '\\' || c.isControl),
          s"IndexManifest field ${k}=${v} contains a quote/backslash/control " +
            "char — unsupported in the flat manifest format")
      }
    }
    val json = all.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val (p, fs) = fsPath(s, indexDir)
    // A write that returns is a complete manifest: its presence certifies
    // a complete build.
    TextFile.write(fs, p, json + "\n", overwrite = true)
  }

  /** Delete the manifest if present. Builders call this FIRST, before
    * overwriting any index table: manifest-last alone only certifies the
    * first build into a dir — a REBUILD that dies between table writes
    * would otherwise leave the previous build's manifest sitting next to
    * mixed old/new tables, and verify() (which compares parameters, not
    * data) would accept the wreck. Delete-first + write-last makes the
    * manifest's presence certify a complete build in every case. */
  def invalidate(s: SparkSession, indexDir: String): Unit = {
    val (p, fs) = fsPath(s, indexDir)
    // Hadoop delete reports failure by returning FALSE (permissions,
    // leases), not only by throwing — an ignored false would leave the
    // OLD manifest certifying whatever mix of tables the rebuild dies
    // between, the exact wreck delete-first exists to prevent. Re-check
    // exists to tolerate a concurrent delete.
    if (fs.exists(p) && !fs.delete(p, false) && fs.exists(p))
      throw new java.io.IOException(
        s"IndexManifest.invalidate: could not delete $p — refusing to " +
          "start a rebuild under a stale manifest")
  }

  /** Read the manifest; empty map if absent (callers decide how to fail).
    * Throws on any content [[write]] could not have produced — a nested or
    * hand-edited manifest must fail loudly, not parse silently-wrong: this
    * file guards the build parameters of five index families, and a
    * lenient parse that "finds" some pairs inside unexpected structure
    * would let verify() accept a manifest whose real content it never saw. */
  def read(s: SparkSession, indexDir: String): Map[String, String] = {
    val (p, fs) = fsPath(s, indexDir)
    if (!fs.exists(p)) Map.empty else parseFlat(TextFile.read(fs, p))
  }

  /** Strict parser for exactly the flat `{"k":"v",...}` shape [[write]]
    * emits (no nesting, no escapes, no non-string values, no whitespace
    * between tokens other than a trailing newline). Anything else throws. */
  private[graft] def parseFlat(text: String): Map[String, String] = {
    val t = text.trim
    var i = 0
    def fail(what: String): Nothing = throw new IllegalStateException(
      s"malformed index manifest ($what at offset $i): not the flat " +
        "string-map format IndexManifest.write produces — rebuild the index")
    def expect(c: Char): Unit = {
      if (i >= t.length || t(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def str(): String = {
      expect('"')
      val start = i
      while (i < t.length && t(i) != '"') {
        if (t(i) == '\\' || t(i).isControl) fail("escape or control char")
        i += 1
      }
      if (i >= t.length) fail("unterminated string")
      val s = t.substring(start, i)
      i += 1
      s
    }
    expect('{')
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (i < t.length && t(i) == '}') i += 1
    else {
      var more = true
      while (more) {
        val k = str()
        expect(':')
        val v = str()
        if (out.contains(k)) fail(s"duplicate key '$k'")
        out += k -> v
        if (i < t.length && t(i) == ',') i += 1
        else { expect('}'); more = false }
      }
    }
    if (i != t.length) fail("trailing content")
    out.toMap
  }

  /** Fail-fast compatibility check: every expected (param, value) must match
    * the stored manifest exactly. Throws with the full mismatch list so the
    * caller sees seed-vs-seed, not just "incompatible". Returns the stored
    * manifest, whose `table.<name>` fields [[table]] and [[appendTables]]
    * read. */
  def verify(s: SparkSession, indexDir: String,
      expected: Map[String, String], op: String): Map[String, String] = {
    val stored = read(s, indexDir)
    if (stored.isEmpty)
      throw new IllegalStateException(
        s"$op: no $FILE under $indexDir — not a graft index, or built by a " +
          "pre-manifest version; rebuild with buildIndex/fit")
    stored.get("schema_version").filter(_ != SCHEMA_VERSION).foreach { v =>
      throw new IllegalStateException(
        s"$op: index at $indexDir has layout schema_version '$v', this " +
          s"version reads '$SCHEMA_VERSION'; rebuild with buildIndex/fit")
    }
    val want = expected + ("schema_version" -> SCHEMA_VERSION)
    val bad = want.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      stored.get(k) match {
        case Some(`v`) => None
        case Some(other) => Some(s"$k: index has '$other', caller passed '$v'")
        case None => Some(s"$k: missing from manifest, caller passed '$v'")
      }
    }
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"$op: incompatible index at $indexDir — ${bad.mkString("; ")}")
    stored
  }

  /** `table.<name>` fields recording the schema of each frame a builder
    * writes to `<indexDir>/<name>`; builders add them to [[write]]. */
  def tableFields(tables: (String, DataFrame)*): Map[String, String] =
    tables.map { case (name, df) => s"table.$name" -> df.schema.toDDL }.toMap

  /** The recorded schema of table `name`; a contract error naming the
    * table when the manifest has none (there is no inference fallback). */
  private def schemaOf(manifest: Map[String, String], indexDir: String,
      name: String): StructType =
    StructType.fromDDL(manifest.getOrElse(s"table.$name",
      throw new IllegalStateException(
        s"index manifest under $indexDir records no schema for table " +
          s"'$name' (field table.$name); rebuild with buildIndex/fit")))

  /** Read `<indexDir>/<name>` with its recorded schema: no footer-inference
    * job. `manifest` is what [[verify]] returned. */
  def table(s: SparkSession, indexDir: String, manifest: Map[String, String],
      name: String): DataFrame =
    s.read.schema(schemaOf(manifest, indexDir, name)).parquet(s"$indexDir/$name")

  /** Parquet-append each (name, frame) to `<indexDir>/<name>`, in order.
    * Every frame's schema is checked against the table's recorded one
    * (ignoring nullability, which a parquet read drops anyway) before the
    * first write, so a mismatched append — an INT key into a BIGINT
    * table, `array<float>` into `array<double>` — fails with both schemas
    * instead of leaving files that a declared read mis-decodes. */
  def appendTables(indexDir: String, manifest: Map[String, String], op: String,
      tables: (String, DataFrame)*): Unit = {
    tables.foreach { case (name, df) =>
      val want = schemaOf(manifest, indexDir, name)
      if (relaxed(want) != relaxed(df.schema))
        throw new IllegalStateException(
          s"$op: table '$name' at $indexDir has schema ${want.toDDL}, the " +
            s"appended frame has ${df.schema.toDDL}")
    }
    tables.foreach { case (name, df) =>
      df.write.mode("append").parquet(s"$indexDir/$name")
    }
  }

  /** `t` with every field, element and value nullable and no metadata. */
  private def relaxed(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relaxed(f.dataType), nullable = true,
        metadata = Metadata.empty)))
    case ArrayType(e, _) => ArrayType(relaxed(e), containsNull = true)
    case MapType(k, v, _) => MapType(relaxed(k), relaxed(v), valueContainsNull = true)
    case other => other
  }
}
