package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, StructType}

/** The lifecycle of a persisted index, for all five index families
  * (MinHash signature tables, IVF, LSH, PQ and IVF-PQ): [[build]] writes
  * an index, [[open]] checks one and returns the [[Index]] handle that
  * reads and appends its tables.
  *
  * On disk an index is its parquet tables `<indexDir>/<name>` plus a tiny
  * JSON sidecar (`manifest.json`). The manifest records the parameters
  * that are part of the index CONTRACT (hash-family seed, band shape, K,
  * schema version) and, in one `table.<name>` field per table, the
  * `StructType.toDDL` schema of the frame the build wrote there.
  *
  * Why the contract: `append`/`search` only produce correct results when
  * called with the SAME family parameters the index was built with. An
  * unchecked append with a different seed silently corrupts the index
  * (new rows hash into unrelated buckets: no error, just missing pairs),
  * so [[open]] fails fast on any mismatch or on a missing manifest.
  *
  * Why the table fields: every read passes the recorded schema instead of
  * inferring it (no footer-inference job per read), and an append refuses
  * a frame whose layout differs from the index's. Manifests from before
  * the table fields carry schema_version "1" and fail [[open]] with a
  * rebuild message.
  *
  * Written through the Hadoop FS API (not java.nio) so index dirs can live
  * on HDFS/S3 on a real cluster, same as the parquet tables beside them.
  */
object IndexManifest {
  private[graft] val FILE = "manifest.json"

  /** Bump when an index layout changes shape incompatibly. "2": every
    * table's schema is recorded in a `table.<name>` field. */
  private[graft] val SCHEMA_VERSION = "2"

  private def fsPath(s: SparkSession, indexDir: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$FILE")
    (p, p.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Writes the tables of one [[build]]. Each table goes to
    * `<indexDir>/<name>` through [[Materialize]], and the schema of the
    * frame written is what the manifest records for it, so no table can
    * land without its `table.<name>` field. */
  final class Builder private[IndexManifest] (indexDir: String) {
    private[IndexManifest] val fields =
      scala.collection.mutable.Map.empty[String, String]

    private def path(name: String, df: DataFrame): String = {
      fields(s"table.$name") = df.schema.toDDL
      s"$indexDir/$name"
    }

    /** Overwrite table `name` with `df`; returns the read-back. */
    def write(name: String, df: DataFrame): DataFrame =
      Materialize.at(df, path(name, df))

    /** [[write]], plus `metric` over `df` collected by the same write job
      * ([[Materialize.observed]]). */
    def observed[T](name: String, df: DataFrame, metric: Column): (DataFrame, T) =
      Materialize.observed[T](df, path(name, df), metric)

    /** A contract field known only once a table is written (a code count
      * derived from the corpus size the first write counted). */
    def param(key: String, value: String): Unit = fields(key) = value
  }

  /** Build an index in `indexDir`: delete the old manifest, let `body`
    * write every table through the [[Builder]], then write the manifest
    * with `fields`, the builder's params and the recorded table schemas.
    *
    * The manifest's presence certifies a complete build, in every case:
    *   - delete first: a REBUILD that dies between table writes would
    *     otherwise leave the previous build's manifest next to mixed
    *     old/new tables, and [[open]] (which compares parameters, not
    *     data) would accept the wreck;
    *   - write last, and only if `body` returned: a build that dies
    *     mid-write leaves a dir [[open]] refuses, not a half-index that
    *     passes the check. */
  def build(s: SparkSession, indexDir: String, fields: Map[String, String])(
      body: Builder => Unit): Unit = {
    invalidate(s, indexDir)
    val b = new Builder(indexDir)
    body(b)
    write(s, indexDir, fields ++ b.fields)
  }

  /** Write the manifest (overwrites: build owns the dir). Values are kept
    * as strings; callers stringify numbers so compare is exact. */
  private def write(s: SparkSession, indexDir: String, fields: Map[String, String]): Unit = {
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
    // A write that returns is a complete manifest.
    TextFile.write(fs, p, json + "\n", overwrite = true)
  }

  /** Delete the manifest if present ([[build]]'s first step). */
  private def invalidate(s: SparkSession, indexDir: String): Unit = {
    val (p, fs) = fsPath(s, indexDir)
    // Hadoop delete reports failure by returning FALSE (permissions,
    // leases), not only by throwing. An ignored false would leave the OLD
    // manifest certifying whatever mix of tables the rebuild dies
    // between. Re-check exists to tolerate a concurrent delete.
    if (fs.exists(p) && !fs.delete(p, false) && fs.exists(p))
      throw new java.io.IOException(
        s"IndexManifest.build: could not delete $p — refusing to " +
          "start a rebuild under a stale manifest")
  }

  /** Read the manifest; empty map if absent (callers decide how to fail).
    * Throws on any content [[write]] could not have produced: a nested or
    * hand-edited manifest must fail loudly, not parse silently-wrong,
    * because a lenient parse that "finds" some pairs inside unexpected
    * structure would let [[open]] accept a manifest whose real content it
    * never saw. */
  private[graft] def read(s: SparkSession, indexDir: String): Map[String, String] = {
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

  /** Open the index in `indexDir` for operation `op`: every expected
    * (param, value) must match the stored manifest exactly. Throws with
    * the full mismatch list so the caller sees seed-vs-seed, not just
    * "incompatible". */
  def open(s: SparkSession, indexDir: String,
      expected: Map[String, String], op: String): Index = {
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
    // A field the manifest lacks is a layout this version does not read
    // (e.g. a MinHash index with a separate token table, from before the
    // `layout` field): only a rebuild helps. A differing value may be the
    // caller's parameter, so both fixes are named.
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"$op: incompatible index at $indexDir — ${bad.mkString("; ")}; " +
          "call with the index's parameters or rebuild with buildIndex/fit")
    new Index(s, indexDir, stored, op)
  }

  /** An index [[open]] accepted: reads and appends its tables with the
    * schemas its manifest records. */
  final class Index private[IndexManifest] (s: SparkSession, indexDir: String,
      manifest: Map[String, String], op: String) {

    /** The recorded schema of table `name`; a contract error naming the
      * table when the manifest has none (there is no inference fallback). */
    private def schemaOf(name: String): StructType =
      StructType.fromDDL(manifest.getOrElse(s"table.$name",
        throw new IllegalStateException(
          s"index manifest under $indexDir records no schema for table " +
            s"'$name' (field table.$name); rebuild with buildIndex/fit")))

    /** Read `<indexDir>/<name>` with its recorded schema: no
      * footer-inference job. */
    def table(name: String): DataFrame =
      s.read.schema(schemaOf(name)).parquet(s"$indexDir/$name")

    /** Parquet-append each (name, frame) to `<indexDir>/<name>`.
      *
      * Every frame's schema is checked against the table's recorded one
      * (ignoring nullability, which a parquet read drops anyway) before
      * the first write, so a mismatched append (an INT key into a BIGINT
      * table, `array<float>` into `array<double>`) fails with both
      * schemas instead of leaving files that a declared read mis-decodes.
      *
      * Tables are written in the order given, and there is no manifest
      * step to certify an append, so a caller passes the table its
      * readers join back to first: `vectors` before LSH buckets or PQ
      * codes. Searches find candidates in the later table and inner-join
      * them to the earlier one, so an append that dies between the writes
      * leaves orphan rows that no search reaches. The other order would
      * leave candidates the rerank join silently drops, a degraded top-k
      * with no error. */
    def append(tables: (String, DataFrame)*): Unit = {
      tables.foreach { case (name, df) =>
        if (relaxed(schemaOf(name)) != relaxed(df.schema)) refuse(name, df)
      }
      tables.foreach { case (name, df) =>
        df.write.mode("append").parquet(s"$indexDir/$name")
      }
    }

    /** The [[append]] check for a frame the appended rows are derived
      * from: each of its columns that table `name` records must carry the
      * recorded type. A derivation that reads the column (IVF's cosine
      * cell assignment reads `emb`) would otherwise fail on the wrong
      * type first, with an error that names neither schema. */
    def requireColumns(name: String, df: DataFrame): Unit = {
      val want = schemaOf(name)
      if (df.schema.fields.exists(f => want.fieldNames.contains(f.name) &&
          relaxed(want(f.name).dataType) != relaxed(f.dataType)))
        refuse(name, df)
    }

    private def refuse(name: String, df: DataFrame): Nothing =
      throw new IllegalStateException(
        s"$op: table '$name' at $indexDir has schema ${schemaOf(name).toDDL}, " +
          s"the appended frame has ${df.schema.toDDL}")
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
