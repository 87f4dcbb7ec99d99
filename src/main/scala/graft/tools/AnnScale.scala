package graft.tools

import graft.PlantedEmbeddings
import graft.core.Measure
import graft.similarity.{AnnIvf, AnnIvfPq, AnnLsh}

/** Second-measured-decade evidence for the similarity tier:
  * fit + search latency AND recall for IVF, LSH, and IVF-PQ at the 10×
  * and 100× planted-cluster corpus sizes (5k → 50k vectors — the same
  * decade the relational scale suite measures as sf1 → sf10).
  *
  * The PLANTED fixture is used instead of the chained-rotation
  * `localdata/sf10` embeddings because the 64-dim rotation family runs
  * out of distinct transforms at a 100-replica chain and plants exact
  * duplicates (a documented fixture limit, BENCH_NOTES.md) — recall
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
    // A selection with no known family fails: a typo must not buy a
    // zero-line run that still pays the fixture/ground-truth cost and
    // exits 0.
    val Known = Seq("ivfpq", "ivf", "lsh")
    val families = graft.core.EnvSuite.scope("SPARK_GRAFT_ANN_FAMILIES", Known,
      Known.contains, "annscale")
    if (families.isEmpty)
      sys.error(s"SPARK_GRAFT_ANN_FAMILIES='${sys.env("SPARK_GRAFT_ANN_FAMILIES")}' " +
        "selects no known family")
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
        val fitS = Measure.time("annscale", s"$family fit")(fit(idx))
        // A failed fit or warm search leaves nothing to time: the line
        // reads -1 for what could not run instead of ending the sweep.
        val warmed = fitS >= 0 &&
          Measure.time("annscale", s"$family search warmup")(search(idx).count()) >= 0
        val (searchS, approx) =
          if (!warmed) (-1.0, None)
          else Measure.timed("annscale", s"$family search")(
            search(idx).select("qid", "cand_id").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet)
        val recall = approx.map(PlantedEmbeddings.recall(exact, _)).getOrElse(-1.0)
        println(Measure.obj("family" -> Measure.str(family), "n" -> n.toString,
          "num_clusters" -> numClusters.toString, "coarse_k" -> coarseK.toString,
          "nprobe" -> nprobe.toString, "queries" -> nq.toString,
          "fit_sec" -> Measure.num(fitS, 2), "search_sec" -> Measure.num(searchS, 3),
          "recall" -> Measure.num(recall, 4)))
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
          idx => AnnLsh.search(spark, idx, q, AnnLsh.Sharp))
      e.unpersist()
    }
    graft.core.TempDirs.cleanupAll()
    spark.stop()
  }
}
