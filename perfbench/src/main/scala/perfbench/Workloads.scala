package perfbench

import java.io.File
import scala.collection.mutable
import scala.io.Source
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dedup.MinHashDedup
import graft.similarity.AnnIvf
import graft.tuner.Tuner

/** A workload: its warm pass (part of set-up), one measured pass, and the
  * output checks made after the measured passes. */
abstract class Workload(val ctx: Ctx) {
  protected def spark = ctx.spark
  protected def work = ctx.a.work
  protected def inputs = s"$work/inputs"
  def inputBytes: Long
  /** The first set-up's warm pass: every operation kind once. */
  def warm(): Unit
  /** A later set-up's warm-up, in the already warm process. */
  def rewarm(): Unit
  /** Passes measured even when one pass outlasts --seconds, so every run
    * averages the same number of passes. */
  def minPasses: Int = 1
  /** Runs one pass; returns per-pass figures (layer sizes, counts). */
  def pass(p: Int): Map[String, Double]
  def check(): Seq[Check]
  /** Figures known only after the checks (e.g. recall). */
  def summary: Map[String, Double] = Map.empty
  /** Per-layer figures measured outside the passes (during set-up). */
  def layerFigures: Map[String, Double] = Map.empty
  /** Passes the workload's inputs allow. */
  def maxPasses: Int = Int.MaxValue
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "analytics" => new Analytics(ctx)
    case "ingest_cycle" => new IngestCycle(ctx)
  }

  def fileBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(fileBytes).sum
    else if (f.exists()) f.length() else 0L

  def bytes(path: String): Long = fileBytes(new File(path))

  def lines(path: String): Seq[String] = {
    val s = Source.fromFile(path)
    try s.getLines().filter(_.nonEmpty).toList finally s.close()
  }
}

/** Lazy single-plan registry queries, each built with
  * `SparkEntry.queries(name)(spark, dir)` and executed to the noop sink,
  * in the seeded order of `order.txt`. */
final class Analytics(c: Ctx) extends Workload(c) {
  private val dir = ctx.a.data
  private val orders = Workload.lines(s"$inputs/order.txt").map(_.split(",").toSeq)
  private val queries = orders.head.sorted
  val inputBytes: Long = Seq("lineitem", "orders", "customer", "nation", "region",
    "events", "documents").map(t => Workload.bytes(s"$dir/$t.parquet")).sum

  private def run(q: String, sinkDir: Option[String]): Unit = {
    val df = ctx.tracer.span("queries.construct") {
      graft.SparkEntry.queries(q)(spark, dir)
    }
    ctx.tracer.span("spark.execute") {
      sinkDir match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(d)
      }
    }
  }

  /** Writes each result, with its oracle SQL, to check/<query> for the
    * DuckDB compare that follows the run. */
  def warm(): Unit = queries.foreach { q =>
    run(q, Some(s"$work/check/$q"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/check/$q.sql"),
      graft.SparkEntry.oracleSql(q).getBytes("UTF-8"))
  }

  /** A full pass: the first pass in a new session runs about a fifth
    * slower than later ones, so the measured passes must not be it. */
  def rewarm(): Unit = queries.foreach(run(_, None))
  override def minPasses: Int = 3

  def pass(p: Int): Map[String, Double] = {
    orders(p % orders.size).foreach(q => ctx.op(q)(run(q, None)))
    Map.empty
  }

  def check(): Seq[Check] = Nil
}

/** One ingest cycle per pass: append the next delta slice to the dedup
  * (MinHash) index and read the near-duplicate pairs; append it to the IVF
  * index and run the seeded search batches; then one tune → run → record
  * iteration of the WordCount app against a metrics store that grows every
  * pass. The indexes are built (buildIndex, fit) on the 90% base during the
  * first set-up; its warm pass and each measured pass ingest their own 1%
  * slice of the remaining 10%, so the indexes only grow. */
final class IngestCycle(c: Ctx) extends Workload(c) {
  private def docsFile(d: Int) = s"$inputs/docs_delta_$d.parquet"
  private def embFile(d: Int) = s"$inputs/emb_delta_$d.parquet"
  private val deltas = Iterator.from(0).takeWhile(d => new File(docsFile(d)).exists).size
  private val text = s"$inputs/wordcount.txt"
  val inputBytes: Long = Workload.bytes(text)
  override def maxPasses: Int = deltas - 1
  private val minhashDir = s"$work/index/minhash"
  private val ivfDir = s"$work/index/ivf"
  private val store = s"$work/tuner/store"
  val TopK = 10

  private def emb(f: String) = spark.read.parquet(f)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
  private val docsBase = spark.read.parquet(s"$inputs/docs_base.parquet")
  private val embBase = emb(s"$inputs/emb_base.parquet")
  private val batches: Seq[DataFrame] = {
    val q = spark.read.parquet(s"$inputs/ann_queries.parquet").collect()
    val schema = StructType(Seq(
      StructField("qid", LongType), StructField("qemb", ArrayType(DoubleType))))
    q.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows.toSeq.map(r =>
        Row(r.getLong(1), r.getSeq[Float](2).map(_.toDouble))): _*), schema)
    }
  }

  private val prep = mutable.Map.empty[String, Double]
  if (!new File(minhashDir).exists) {
    graft.core.TempDirs.delete(s"$work/tuner")
    ctx.timed(prep, "dedup.build_s")(MinHashDedup.buildIndex(docsBase, minhashDir))
    ctx.timed(prep, "similarity.fit_s")(
      AnnIvf.fit(embBase, ivfDir, AnnIvf.chooseK(embBase.count())))
  }

  // Outputs of every measured read, checked after the run: (delta slice
  // ingested last, rows).
  private val pairs = mutable.ArrayBuffer.empty[(Int, Set[(Long, Long, Double)])]
  private val hits = mutable.ArrayBuffer.empty[(Int, Seq[(Long, Long, Double)])]
  private val runs = mutable.ArrayBuffer.empty[(Int, Int)]
  private var tunerFigures = Map.empty[String, Double]

  private def readPairs(): Set[(Long, Long, Double)] =
    MinHashDedup.pairsFromIndex(spark, minhashDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Tune from the store's history, run the app's WordCount body (timed
    * inside the closure), record the run. */
  private def tunerIteration(tuner: Tuner, out: String): Unit = {
    var bodyS = 0.0
    val r = ctx.tracer.span("tuner.tuneAndRunTracked") {
      tuner.tuneAndRunTracked(spark) {
        val t0 = System.nanoTime()
        ctx.tracer.span("apps.body") {
          val lines = spark.read.text(text).withColumnRenamed("value", "text")
          graft.queries.TextOps.wordCount(lines, "[ ]", Seq("the"))
            .orderBy(desc("cnt"), asc("token"))
            .write.mode(SaveMode.Overwrite).csv(out)
        }
        bodyS = (System.nanoTime() - t0) / 1e9
      }
    }
    runs += ((r.runId, r.partitions))
    tunerFigures = Map("body_s" -> bodyS, "tuner.partitions" -> r.partitions.toDouble,
      "tuner.history_runs" -> r.priorHistory.size.toDouble)
  }

  private def cycle(d: Int, storeRoot: String, out: String, searches: Seq[DataFrame]): Unit = {
    ctx.step("dedup.append", isOp = false)(
      MinHashDedup.appendToIndex(spark.read.parquet(docsFile(d)), minhashDir))
    ctx.op("dedup.pairs")(pairs += ((d, readPairs())))
    ctx.step("similarity.append", isOp = false)(AnnIvf.append(spark, ivfDir, emb(embFile(d))))
    searches.foreach { q =>
      ctx.op("similarity.search") {
        val rows = AnnIvf.search(spark, ivfDir, q, topK = TopK).collect()
        hits += ((d, rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq))
      }
    }
    ctx.op("apps.wordcount")(tunerIteration(new Tuner(storeRoot, "wordcount"), out))
  }

  /** Every operation kind once (one search batch), ingesting slice 0. */
  def warm(): Unit = {
    cycle(0, s"$work/tuner/warm-store", s"$work/tuner/warm-out", batches.take(1))
    Seq("warm-store", "warm-out").foreach(d => graft.core.TempDirs.delete(s"$work/tuner/$d"))
    clear()
  }

  /** One search: repeating the whole cycle would cost a slice per set-up
    * and about 20 s per run. */
  def rewarm(): Unit = {
    ctx.op("similarity.search")(AnnIvf.search(spark, ivfDir, batches.head, topK = TopK).collect())
    clear()
  }

  private def clear(): Unit = { pairs.clear(); hits.clear(); runs.clear() }

  private def corpusBytes(d: Int): Long =
    Seq(s"$inputs/docs_base.parquet", s"$inputs/emb_base.parquet").map(Workload.bytes).sum +
      (0 to d).map(i => Workload.bytes(docsFile(i)) + Workload.bytes(embFile(i))).sum

  def pass(p: Int): Map[String, Double] = {
    val d = p + 1
    cycle(d, store, s"$work/tuner/out/iter=$p", batches)
    val dedupMb = Workload.bytes(minhashDir) / 1e6
    val ivfMb = Workload.bytes(ivfDir) / 1e6
    tunerFigures ++ Map("dedup.index_mb" -> dedupMb, "similarity.index_mb" -> ivfMb,
      "index_per_corpus_byte" -> (dedupMb + ivfMb) * 1e6 / corpusBytes(d),
      "ingest_bytes" -> (Workload.bytes(docsFile(d)) + Workload.bytes(embFile(d))).toDouble,
      "dedup.pairs_out" -> pairs.last._2.size.toDouble,
      "tuner.store_mb" -> Workload.bytes(store) / 1e6)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / math.sqrt(na * nb)
  }

  private var recall = Double.NaN
  override def summary: Map[String, Double] = Map("recall_at_10" -> recall)
  override def layerFigures: Map[String, Double] = prep.toMap

  def check(): Seq[Check] =
    if (pairs.isEmpty || hits.isEmpty)
      Seq(Check("ingest.outputs", ok = false, "no pairs or search output to check",
        Seq("dedup.pairs", "similarity.search")))
    else checkOutputs()

  private def checkOutputs(): Seq[Check] = {
    val last = pairs.map(_._1).max
    // Every slice up to `last` is in the index once `last` is appended.
    val freshDir = s"$work/index/minhash_fresh"
    MinHashDedup.buildIndex(spark.read.parquet(
      (s"$inputs/docs_base.parquet" +: (0 to last).map(docsFile)): _*), freshDir)
    val fresh = MinHashDedup.pairsFromIndex(spark, freshDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val chain = pairs.map(_._2)
    // Query vectors come from the whole corpus, indexed or not.
    val slice = "emb_delta_(\\d+)".r.unanchored
    val all = spark.read.parquet((s"$inputs/emb_base.parquet" +: (0 until deltas).map(embFile)): _*)
      .select(col("vec_id"), col("embedding").cast("array<double>"), input_file_name())
      .collect()
    val vecs = all.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val sliceOf: Map[Long, Int] = all.flatMap(r => r.getString(2) match {
      case slice(i) => Some(r.getLong(0) -> i.toInt)
      case _ => None
    }).toMap
    def visible(id: Long, d: Int) = vecs.contains(id) && sliceOf.get(id).forall(_ <= d)
    val badHits = hits.flatMap { case (d, rows) =>
      rows.filterNot { case (qid, cand, cs) =>
        visible(cand, d) && cand != qid && vecs.contains(qid) &&
          math.abs(cs - BigDecimal(cosine(vecs(qid), vecs(cand)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6
      }
    }
    // Recall of the last pass's searches against the exact top-10 over the
    // corpus indexed at that point, self excluded.
    val post = hits.filter(_._1 == last).flatMap(_._2).groupBy(_._1)
    recall = post.map { case (qid, rs) =>
      val exact = vecs.keys.toSeq.filter(id => id != qid && visible(id, last))
        .sortBy(id => (-cosine(vecs(qid), vecs(id)), id)).take(TopK).toSet
      rs.count(r => exact(r._2)).toDouble / TopK
    }.sum / math.max(1, post.size)
    graft.apps.WordCountApp.run(spark, graft.apps.WordCountApp.Args(text,
      s"$work/tuner/untuned", s"$work/tuner/untuned-store", tune = false))
    val ids = runs.map(_._1)
    Seq(
      Check("dedup.pairs_grow_with_appends",
        chain.zip(chain.drop(1)).forall { case (a, b) => a.subsetOf(b) },
        s"pairs after each append: ${chain.map(_.size).mkString(",")}", Seq("dedup.pairs")),
      Check("dedup.append_equals_fresh_build", chain.last == fresh,
        s"fresh build over base and slices 0..$last: ${fresh.size} pairs", Seq("dedup.pairs")),
      Check("similarity.hits_exact", badHits.isEmpty,
        s"${badHits.size} hits with a missing vector or a wrong cos_sim" +
          badHits.headOption.map(h => s", first $h").getOrElse(""),
        Seq("similarity.search")),
      Check("tuner.run_ids_rise", ids.zip(ids.drop(1)).forall { case (x, y) => y > x },
        ids.mkString(","), Seq("apps.wordcount")),
      Check("tuner.partitions_positive", runs.forall(_._2 > 0),
        runs.map(_._2).distinct.mkString(","), Seq("apps.wordcount")))
  }
}
