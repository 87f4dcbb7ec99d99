package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, MapType, Metadata, StructType}
import graft.core.{IndexManifest, Materialize, TempDirs}
import graft.dedup.MinHashDedup
import graft.similarity.{AnnIvf, AnnIvfPq, AnnLsh, AnnPq}
import graft.tuner.{MetricsStore, ShuffleVolume, StageRunInfo}

/** Persisted-index reads pass a recorded schema, so they launch no
  * footer-inference job; the metrics store is read on the driver and
  * launches none at all; and every index family's `table.<name>` manifest
  * field is the schema its index build wrote. Index reads end at the
  * per-query top-k (ANN) or the threshold filter (pairs): no global sort,
  * so no range-partitioning exchange or sampling job, and the ANN rank
  * column carries the order a caller may need. */
class IndexReadJobsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "en", "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "web", "the quick brown fox jumps over the lazy cat"),
      (3L, "en", "web", "a completely different document about spark"),
      (4L, "de", "web", "ein ganz anderes dokument")
    ).toDF("doc_id", "lang", "source", "text")
  }

  test("building AnnIvf.search launches no job") {
    GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark)
    val idx = TempDirs.create("graft-ivf-jobs")
    AnnIvf.fit(e, idx, k = 8)
    val (out, jobs) = JobCount(spark)(
      AnnIvf.search(spark, idx, PlantedEmbeddings.queries(e)))
    assert(jobs == 0, s"AnnIvf.search ran $jobs jobs while being built")
    assert(out.count() > 0)
  }

  /** Range-partitioning exchanges in `df`'s executed plan; call after
    * `df` has run, so an adaptive plan reports its final stages. */
  private def rangeExchanges(df: DataFrame) =
    graft.tools.ReuseProbe.nodes(df.queryExecution.executedPlan).collect {
      case x: ShuffleExchangeLike if x.outputPartitioning.isInstanceOf[RangePartitioning] => x
    }

  test("AnnIvf.search: no global sort, 4 jobs per collect, rn ranks each query 1..k") {
    GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark)
    val idx = TempDirs.create("graft-ivf-topk")
    AnnIvf.fit(e, idx, k = 8)
    val out = AnnIvf.search(spark, idx, PlantedEmbeddings.queries(e))
    val (rows, jobs) = JobCount(spark)(out.collect())
    // Two broadcasts (centroids, assigned), the map stage of the one qid
    // exchange both windows share, and the result stage. A terminal sort
    // added a sampling job and a range-exchange stage (6 jobs).
    assert(jobs == 4, s"one AnnIvf.search collect ran $jobs jobs")
    assert(rangeExchanges(out).isEmpty,
      s"search plan has a range exchange:\n${out.queryExecution.executedPlan}")
    val byQuery = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQuery.size == 10)
    byQuery.foreach { case (qid, hits) =>
      val ranked = hits.sortBy(_.getAs[Int]("rn"))
      assert(ranked.map(_.getAs[Int]("rn")).toSeq == (1 to AnnIvf.TOP_K),
        s"qid $qid ranks ${ranked.map(_.getAs[Int]("rn")).toSeq}")
      val sims = ranked.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"qid $qid cos_sim not non-increasing in rn: ${sims.toSeq}")
    }
  }

  test("pairsFromIndex ends at the threshold filter: no range exchange") {
    val idx = TempDirs.create("graft-mh-nosort")
    MinHashDedup.buildIndex(docs, idx)
    val pairs = MinHashDedup.pairsFromIndex(spark, idx)
    assert(pairs.collect().length == 1)
    assert(rangeExchanges(pairs).isEmpty,
      s"pair plan has a range exchange:\n${pairs.queryExecution.executedPlan}")
  }

  test("MetricsStore.history on a two-run store launches no job") {
    val store = new MetricsStore(TempDirs.create("graft-store-jobs"), "app")
    val stage = StageRunInfo(5L, 100L, 0L, 1, ShuffleVolume(0L, 1024L), 1, 1024L, 1024L)
    (0 to 1).foreach(_ => store.write(spark.sparkContext.hadoopConfiguration, Seq(stage)))
    val (hist, jobs) = JobCount(spark)(store.history(spark))
    assert(hist.size == 2)
    assert(jobs == 0, s"history ran $jobs jobs")
  }

  test("building pairsFromIndex runs only its candidate barrier's jobs") {
    val idx = TempDirs.create("graft-mh-jobs")
    MinHashDedup.buildIndex(docs, idx)
    val index = IndexManifest.open(spark, idx, Map.empty, "spec")
    val (_, barrier) = JobCount(spark)(Materialize(
      MinHashDedup.candidatePairs(MinHashDedup.bandSignatures(
        index.table("sigs"))), "minhash-cands"))
    val (pairs, jobs) = JobCount(spark)(MinHashDedup.pairsFromIndex(spark, idx))
    assert(barrier > 0 && jobs == barrier,
      s"pairsFromIndex ran $jobs jobs while being built; its barrier runs $barrier")
    assert(pairs.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((1L, 2L)))
  }

  test("one pairsFromIndex read runs 7 jobs, building and collecting") {
    val idx = TempDirs.create("graft-mh-collect-jobs")
    MinHashDedup.buildIndex(docs, idx)
    val (rows, jobs) = JobCount(spark)(MinHashDedup.pairsFromIndex(spark, idx).collect())
    // The candidate barrier's write (band self-join, its count observed
    // by the same job) and the rerank collect, which joins the signature
    // rows twice. Below the fan-out cap there is no hub aggregate, so an
    // extra job here is an extra pass over the index.
    assert(jobs == 7, s"one pairsFromIndex read ran $jobs jobs")
    assert(rows.length == 1)
  }

  /** The Catalyst schema Spark stored in a parquet part file's footer. */
  private def footerSchema(tableDir: String): StructType = {
    val part = new java.io.File(tableDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getPath), spark.sparkContext.hadoopConfiguration))
    try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
    finally reader.close()
  }

  /** What DDL can express: field nullability and element types, but not
    * array element / map value nullability or field metadata. */
  private def ddlView(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = ddlView(f.dataType), metadata = Metadata.empty)))
    case ArrayType(e, _) => ArrayType(ddlView(e), containsNull = true)
    case MapType(k, v, _) => MapType(ddlView(k), ddlView(v), valueContainsNull = true)
    case other => other
  }

  test("every family records the schema it wrote and reads tables back with it") {
    GraftExtensions.ensureRegistered(spark)
    val e = PlantedEmbeddings.df(spark)
    def dir(f: String) = TempDirs.create(s"graft-ddl-$f")
    val built = Seq(
      ("minhash", Set("sigs"), { (d: String) => MinHashDedup.buildIndex(docs, d) }),
      ("ivf", Set("centroids", "assigned"), { (d: String) => AnnIvf.fit(e, d, k = 8) }),
      ("lsh", Set("vectors", "buckets"), { (d: String) => AnnLsh.buildIndex(e, d) }),
      ("pq", Set("vectors", "codebook", "codes"), { (d: String) => AnnPq.fit(e, d) }),
      ("ivfpq", Set("vectors", "centroids", "assigned", "codebook", "codes"),
        { (d: String) => AnnIvfPq.fit(e, d, coarseK = 8) })
    ).map { case (family, tables, build) =>
      val d = dir(family)
      build(d)
      (family, d, tables, IndexManifest.read(spark, d))
    }
    built.foreach { case (family, d, tables, manifest) =>
      val recorded = manifest.collect {
        case (k, ddl) if k.startsWith("table.") => k.stripPrefix("table.") -> ddl
      }
      assert(recorded.keySet == tables, s"$family records tables ${recorded.keySet}")
      recorded.foreach { case (name, ddl) =>
        val declared = StructType.fromDDL(ddl)
        assert(declared.toDDL == ddl, s"$family/$name: DDL does not round-trip")
        assert(declared == ddlView(footerSchema(s"$d/$name")),
          s"$family/$name: recorded $ddl, wrote ${footerSchema(s"$d/$name").toDDL}")
        assert(IndexManifest.open(spark, d, Map.empty, "spec").table(name).schema ==
          spark.read.parquet(s"$d/$name").schema, s"$family/$name: read schema")
      }
    }
    // Spot checks that NOT NULL and element types survive the DDL.
    def field(family: String, table: String, col: String) =
      StructType.fromDDL(built.find(_._1 == family).get._4(s"table.$table"))(col)
    assert(!field("minhash", "sigs", "n_toks").nullable)
    assert(field("minhash", "sigs", "hs").dataType == ArrayType(LongType))
    assert(!field("pq", "codebook", "code").nullable)
    assert(field("ivf", "assigned", "emb").dataType == ArrayType(DoubleType))
    assert(field("ivfpq", "codebook", "cw").dataType == ArrayType(DoubleType))
  }
}
