package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{IndexManifest, TempDirs}
import graft.dedup.MinHashDedup
import graft.similarity.{AnnIvf, AnnIvfPq, AnnLsh, AnnPq}

/** Index-contract manifests: every persisted index carries a
  * manifest.json pinning its hash-family parameters, and append/search
  * fail FAST on a mismatch instead of silently corrupting the index (an
  * append signed with a different seed produces no error — just pairs
  * that can never match). */
class IndexManifestSpec extends SparkSpec {

  private def docsFixture = {
    import spark.implicits._
    Seq(
      (1L, "en", "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "web", "the quick brown fox jumps over the lazy cat"),
      (3L, "en", "web", "a completely different document about spark"),
      (4L, "de", "web", "ein ganz anderes dokument")
    ).toDF("doc_id", "lang", "source", "text")
  }

  test("manifest write/read roundtrip with schema version") {
    val dir = TempDirs.create("graft-manifest-rt")
    IndexManifest.build(spark, dir, Map("family" -> "test", "seed" -> "42")) { b =>
      b.write("t", spark.range(3).toDF("id"))
      b.param("k", "3")
    }
    val m = IndexManifest.read(spark, dir)
    assert(m("family") == "test" && m("seed") == "42" && m("k") == "3")
    assert(m("schema_version") == IndexManifest.SCHEMA_VERSION)
    assert(m("table.t") == "id BIGINT NOT NULL", m)
    assert(IndexManifest.open(spark, dir, Map("family" -> "test"), "spec")
      .table("t").count() == 3)
  }

  test("strict parse: nested or hand-edited manifests throw, never parse partially") {
    // A lenient parse would "find" the inner pairs of a nested object and
    // silently check against them; the strict parser must reject
    // everything a build could not have written.
    val good = """{"family":"minhash-lsh","seed":"42"}"""
    assert(IndexManifest.parseFlat(good) ==
      Map("family" -> "minhash-lsh", "seed" -> "42"))
    assert(IndexManifest.parseFlat("{}").isEmpty)
    val bad = Seq(
      """{"family":{"name":"minhash-lsh"},"seed":"42"}""", // nested object
      """{"family":"minhash-lsh","seed":42}""",            // non-string value
      """{"family":"minhash\"-lsh"}""",                    // escape
      """{"family":"minhash-lsh",}""",                     // trailing comma
      """{"family":"a","family":"b"}""",                   // duplicate key
      """{"family":"a"} extra""",                          // trailing content
      """{"family": "a"}""",                               // inner whitespace
      """["family","a"]""",                                // not an object
      """{"family":"a"""                                   // truncated
    )
    bad.foreach { s =>
      val ex = intercept[IllegalStateException](IndexManifest.parseFlat(s))
      assert(ex.getMessage.contains("malformed index manifest"), s"input: $s")
    }
    // End-to-end: a hand-edited manifest on disk fails open loudly
    // instead of being accepted via a lenient partial parse.
    val dir = TempDirs.create("graft-manifest-tamper")
    IndexManifest.build(spark, dir, Map("family" -> "test"))(_ => ())
    val p = new java.io.File(s"$dir/${IndexManifest.FILE}")
    new java.io.File(s"$dir/.${IndexManifest.FILE}.crc").delete()
    java.nio.file.Files.writeString(p.toPath,
      """{"family":{"inner":"test"},"schema_version":"1"}""" + "\n")
    intercept[IllegalStateException] {
      IndexManifest.open(spark, dir, Map("family" -> "test"), "spec")
    }
  }

  test("minhash appendToIndex with a different seed fails fast, right seed appends") {
    val idx = TempDirs.create("graft-mh-manifest")
    MinHashDedup.buildIndex(docsFixture, idx, seed = 42L)
    import spark.implicits._
    val more = Seq((5L, "en", "web", "the quick brown fox jumps over the lazy dogs"))
      .toDF("doc_id", "lang", "source", "text")
    val ex = intercept[IllegalStateException] {
      MinHashDedup.appendToIndex(more, idx, seed = 43L)
    }
    assert(ex.getMessage.contains("seed"), s"mismatch message must name the seed: ${ex.getMessage}")
    // …and a wrong shingle unit is equally fatal.
    intercept[IllegalStateException] {
      MinHashDedup.appendToIndex(more, idx, seed = 42L, shingleSize = 3)
    }
    // The matching contract appends cleanly and the new near-dup is found.
    MinHashDedup.appendToIndex(more, idx, seed = 42L)
    val pairs = MinHashDedup.pairsFromIndex(spark, idx, threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), s"appended near-dup pair missing: $pairs")
  }

  test("lsh search/append with a different seed or shape fails fast") {
    graft.GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark).limit(50)
    val q = e.limit(1).select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val idx = TempDirs.create("graft-lsh-manifest")
    AnnLsh.buildIndex(e, idx, AnnLsh.Sharp)
    val ex = intercept[IllegalStateException] {
      AnnLsh.search(spark, idx, q, AnnLsh.Sharp, seed = 8L)
    }
    assert(ex.getMessage.contains("seed"))
    intercept[IllegalStateException] {
      AnnLsh.append(idx, e.limit(1), AnnLsh.Loose) // band shape mismatch
    }
    // multiProbe is a query-side knob, NOT index contract: same bands/bits
    // with a different probe radius must pass the check.
    AnnLsh.search(spark, idx, q, AnnLsh.Sharp2).collect()
  }

  test("ivf search refuses a directory without a manifest; family mismatch refused") {
    graft.GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark).limit(50)
    val bare = TempDirs.create("graft-ivf-bare")
    val ex = intercept[IllegalStateException] {
      AnnIvf.search(spark, bare, e.select(col("vec_id").as("qid"), col("emb").as("qemb")))
    }
    assert(ex.getMessage.contains("manifest"))
    // Pointing an IVF append at an LSH index dir is caught by family.
    val lshIdx = TempDirs.create("graft-lsh-as-ivf")
    AnnLsh.buildIndex(e, lshIdx, AnnLsh.Sharp)
    val ex2 = intercept[IllegalStateException] {
      AnnIvf.append(spark, lshIdx, e)
    }
    assert(ex2.getMessage.contains("family"))
  }

  test("failed rebuild over an existing index leaves no stale manifest") {
    graft.GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark).limit(50)
    val q = e.limit(2).select(col("vec_id").as("qid"), col("emb").as("qemb"))
    // A rebuild whose first table write dies mid-flight: the udf throws on
    // every row, so the first job (a table write; IVF is passed knownN so
    // it runs no count first) fails after the old manifest was already
    // deleted.
    val boom = udf((s: String) => {
      if (s != null) throw new RuntimeException("boom"); s
    })
    val boomEmb = udf((v: Seq[Double]) => {
      if (v != null) throw new RuntimeException("boom"); v
    })
    val brokenEmb = e.withColumn("emb", boomEmb(col("emb")))
    // (family, input, broken input, build, a search or append that opens)
    val families: Seq[(String, DataFrame, DataFrame, (DataFrame, String) => Unit,
        String => Unit)] = Seq(
      ("minhash", docsFixture, docsFixture.withColumn("text", boom(col("text"))),
        (in, d) => MinHashDedup.buildIndex(in, d, seed = 42L),
        d => MinHashDedup.appendToIndex(docsFixture, d, seed = 42L)),
      ("ivf", e, brokenEmb, (in, d) => AnnIvf.fit(in, d, k = 4, knownN = 50L),
        d => AnnIvf.search(spark, d, q)),
      ("lsh", e, brokenEmb, (in, d) => AnnLsh.buildIndex(in, d),
        d => AnnLsh.append(d, e.limit(1))),
      ("pq", e, brokenEmb, (in, d) => AnnPq.fit(in, d),
        d => AnnPq.append(spark, d, e.limit(1))),
      ("ivfpq", e, brokenEmb, (in, d) => AnnIvfPq.fit(in, d, coarseK = 8),
        d => AnnIvfPq.search(spark, d, q)))
    families.foreach { case (family, input, broken, build, opens) =>
      val idx = TempDirs.create(s"graft-$family-rebuild")
      build(input, idx)
      assert(IndexManifest.read(spark, idx).nonEmpty, s"$family: no manifest after a build")
      intercept[Exception](build(broken, idx))
      // Presence certifies a COMPLETE build: the wrecked dir must carry no
      // manifest (the previous build's was deleted before the first
      // overwrite), so every read/append path fails fast instead of
      // accepting mixed old/new tables whose parameters happen to match.
      assert(IndexManifest.read(spark, idx).isEmpty,
        s"$family: stale manifest survived a failed rebuild")
      val ex = intercept[IllegalStateException](opens(idx))
      assert(ex.getMessage.contains(s"no ${IndexManifest.FILE}"), s"$family: ${ex.getMessage}")
    }
  }

  /** Overwrite the manifest with raw JSON, as an older build would have
    * written it (IndexManifest.write always stamps the current version). */
  private def rawManifest(dir: String, fields: Map[String, String]): Unit = {
    new java.io.File(s"$dir/.${IndexManifest.FILE}.crc").delete()
    java.nio.file.Files.writeString(
      new java.io.File(s"$dir/${IndexManifest.FILE}").toPath,
      fields.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}\n"))
  }

  test("append refuses a frame whose schema differs from the recorded table, before writing") {
    import spark.implicits._
    val idx = TempDirs.create("graft-mh-append-schema")
    MinHashDedup.buildIndex(docsFixture, idx, seed = 42L)
    def files = new java.io.File(s"$idx/sigs").list().toSet
    val before = files
    val intIds = Seq((5, "en", "web", "the quick brown fox jumps over the lazy dogs"))
      .toDF("doc_id", "lang", "source", "text")
    val ex = intercept[IllegalStateException] {
      MinHashDedup.appendToIndex(intIds, idx, seed = 42L)
    }
    Seq("'sigs'", "doc_id BIGINT", "doc_id INT").foreach(w =>
      assert(ex.getMessage.contains(w), s"message lacks $w: ${ex.getMessage}"))
    assert(files == before, "a refused append must write nothing")
    // Nullability alone is no mismatch: the same docs read back from
    // parquet (every column nullable) append cleanly.
    val dir = TempDirs.create("graft-mh-append-nullable")
    Seq((5L, "en", "web", "the quick brown fox jumps over the lazy dogs"))
      .toDF("doc_id", "lang", "source", "text").write.mode("overwrite").parquet(dir)
    MinHashDedup.appendToIndex(spark.read.parquet(dir), idx, seed = 42L)
    assert(MinHashDedup.pairsFromIndex(spark, idx).select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).contains((1L, 5L)))

    graft.GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark).limit(50)
    val ivf = TempDirs.create("graft-ivf-append-schema")
    AnnIvf.fit(e, ivf, k = 4)
    val assignedBefore = new java.io.File(s"$ivf/assigned").list().toSet
    val floats = e.limit(3).select((col("vec_id") + 1000L).as("vec_id"),
      col("emb").cast("array<float>").as("emb"))
    val ex2 = intercept[IllegalStateException](AnnIvf.append(spark, ivf, floats))
    Seq("'assigned'", "ARRAY<DOUBLE>", "ARRAY<FLOAT>").foreach(w =>
      assert(ex2.getMessage.contains(w), s"message lacks $w: ${ex2.getMessage}"))
    assert(new java.io.File(s"$ivf/assigned").list().toSet == assignedBefore)
  }

  test("a MinHash index with a separate token table is refused with a rebuild message") {
    // The layout before one row per document: a `toks` (doc_id, lang,
    // source, h) table beside a `sigs` table without `hs`, under a
    // manifest with no `layout` field. Both entry points must refuse it
    // at open, before any read could fail on the missing column.
    val idx = TempDirs.create("graft-mh-toks-layout")
    val sigs = MinHashDedup.signatures(docsFixture)
    IndexManifest.build(spark, idx, Map("family" -> "minhash-lsh", "seed" -> "42",
        "shingle_size" -> "1", "num_hashes" -> "32", "bands" -> "16")) { b =>
      b.write("toks", sigs.select(col("doc_id"), col("lang"), col("source"),
        explode(col("hs")).as("h")))
      b.write("sigs", sigs.drop("hs"))
    }
    Seq[() => Any](
        () => MinHashDedup.pairsFromIndex(spark, idx),
        () => MinHashDedup.appendToIndex(docsFixture, idx)).foreach { call =>
      val ex = intercept[IllegalStateException](call())
      assert(ex.getMessage.contains("layout: missing from manifest") &&
        ex.getMessage.contains("rebuild with buildIndex"), ex.getMessage)
    }
  }

  test("search refuses an index whose manifest predates table schemas") {
    graft.GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark).limit(50)
    val q = e.limit(2).select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val idx = TempDirs.create("graft-ivf-v1")
    AnnIvf.fit(e, idx, k = 4)
    val current = IndexManifest.read(spark, idx)
    rawManifest(idx, current.filter(!_._1.startsWith("table.")) + ("schema_version" -> "1"))
    val ex = intercept[IllegalStateException](AnnIvf.search(spark, idx, q))
    assert(ex.getMessage.contains("rebuild") && ex.getMessage.contains("'1'"), ex.getMessage)
    // A current-version manifest missing one table's schema fails the
    // read with a contract error naming that table, not an inferred read.
    rawManifest(idx, current - "table.assigned")
    val ex2 = intercept[IllegalStateException](AnnIvf.search(spark, idx, q))
    assert(ex2.getMessage.contains("'assigned'"), ex2.getMessage)
  }
}
