package graft.tools

import graft.PlantedEmbeddings
import graft.similarity.{AnnIvf, AnnIvfPq, AnnLsh}

/** Second-measured-decade evidence for the similarity tier (VERDICT r8
  * item 9; extended to the full family set per VERDICT r9 item 6):
  * fit + search latency AND recall for IVF, LSH, and IVF-PQ at the 10×
  * and 100× planted-cluster corpus sizes (5k → 50k vectors — the same
  * decade the relational scale suite measures as sf1 → sf10).
  *
  * The PLANTED fixture is used instead of the chained-rotation
  * `localdata/sf10` embeddings because the 64-dim rotation family runs
  * out of distinct transforms at a 100-replica chain and plants exact
  * duplicates (documented fixture limit, BENCH_NOTES r7) — recall
  * against duplicated ground truth would be ill-defined. Planted
  * clusters keep recall a REQUIREMENT at every scale: each query's true
  * neighbors are its cluster siblings by construction.
  *
  * The probe ratio is held at the production 1/8 across the decade
  * (coarseK 64→256 ~ √N scaling, nprobe 8→32), so the measurement
  * answers "does the SAME configuration policy hold recall while cost
  * scales sub-linearly", not "can a retuned index".
  *
  * Usage: runMain graft.tools.AnnScale [numClusters coarseK nprobe]
  * Prints one JSON line per configured point.
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val cpus = graft.core.Session.cpus(32)
    val spark = graft.core.Session.local(s"local[$cpus]", cpus)
    graft.GraftExtensions.ensureRegistered(spark)

    val points: Seq[(Int, Int, Int)] = args.toSeq match {
      case Seq(n, k, p) => Seq((n.toInt, k.toInt, p.toInt))
      case _ => Seq((500, 64, 8), (5000, 256, 32))
    }
    // Restrict to one family via SPARK_GRAFT_ANN_FAMILIES=ivf,lsh,ivfpq.
    // Unknown names are dropped LOUDLY (same treatment as Bench's
    // SPARK_GRAFT_SCALE_SUITE): a typo must not buy a zero-line run that
    // still pays the fixture/ground-truth cost and exits 0.
    val Known = Seq("ivfpq", "ivf", "lsh")
    val families = sys.env.get("SPARK_GRAFT_ANN_FAMILIES") match {
      case None => Known
      case Some(csv) =>
        val asked = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val (known, unknown) = asked.partition(Known.contains)
        if (unknown.nonEmpty)
          System.err.println(s"[annscale] unknown families skipped: " +
            s"${unknown.mkString(",")} (known: ${Known.mkString(",")})")
        if (known.isEmpty)
          sys.error(s"SPARK_GRAFT_ANN_FAMILIES='$csv' selects no known family")
        known
    }
    points.foreach { case (numClusters, coarseK, nprobe) =>
      val e = PlantedEmbeddings.df(spark, numClusters)
        .repartition(cpus.toInt).cache()
      val n = e.count() // materialize before timing
      val q = PlantedEmbeddings.queries(e, maxQid = 1000)
      val nq = q.count()
      // Exact ground truth computed once per point, shared by the families.
      val exact = PlantedEmbeddings.exactTopK(e, AnnIvfPq.TOP_K, q)

      // Each family follows the same protocol: timed persisted fit, warm
      // search pass (plan compile), timed search, recall vs the planted
      // truth. The shape policies are the production ones — coarse_k ~ √N
      // for the IVF quantizers, the Sharp 4096-bucket shape for LSH —
      // held FIXED across the decade so the measurement answers "does the
      // same configuration policy hold recall while cost scales".
      def measure(family: String)(fit: String => Unit,
          search: String => org.apache.spark.sql.DataFrame): Unit = {
        val idx = graft.core.TempDirs.create(s"graft-annscale-$family-$numClusters")
        val t0 = System.nanoTime()
        fit(idx)
        val fitS = (System.nanoTime() - t0) / 1e9
        search(idx).count() // warm
        val t1 = System.nanoTime()
        val approx = search(idx).select("qid", "cand_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val searchS = (System.nanoTime() - t1) / 1e9
        val recall = PlantedEmbeddings.recall(exact, approx)
        // Locale-pinned decimals on the machine-parsed JSONL line
        // (ADVICE r6 class, swept round 13): the f interpolator uses
        // the default JVM locale; comma decimals would break the parse.
        def jfmt(d: Double, digits: Int) = String.format(
          java.util.Locale.ROOT, s"%.${digits}f", Double.box(d))
        println(s"""{"family":"$family","n":$n,"num_clusters":$numClusters,"coarse_k":$coarseK,"nprobe":$nprobe,"queries":$nq,"fit_sec":${jfmt(fitS, 2)},"search_sec":${jfmt(searchS, 3)},"recall":${jfmt(recall, 4)}}""")
      }
      if (families.contains("ivfpq"))
        measure("ivfpq")(
          idx => AnnIvfPq.fit(e, idx, coarseK = coarseK, iters = 2),
          idx => AnnIvfPq.search(spark, idx, q, nprobe = nprobe))
      if (families.contains("ivf"))
        measure("ivf")(
          idx => AnnIvf.fit(e, idx, k = coarseK, fitIters = 2, knownN = n),
          idx => AnnIvf.search(spark, idx, q, nprobe = nprobe))
      if (families.contains("lsh"))
        measure("lsh")(
          idx => AnnLsh.buildIndex(e, idx, AnnLsh.Sharp),
          idx => AnnLsh.search(spark, idx,
            q.select(org.apache.spark.sql.functions.col("qid").as("vec_id"),
              org.apache.spark.sql.functions.col("qemb").as("emb")),
            AnnLsh.Sharp))
      e.unpersist()
    }
    graft.core.TempDirs.cleanupAll()
    spark.stop()
  }
}
