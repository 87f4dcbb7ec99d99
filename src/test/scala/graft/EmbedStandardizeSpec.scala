package graft

import graft.queries.SimilarityOps

/** q_embed_standardize invariants: the per-(label, dim) class means,
  * weighted by class size, recombine to ~0 for every dimension (the
  * defining property of standardization), and the output covers the
  * full label × dim grid.
  */
class EmbedStandardizeSpec extends SparkSpec {

  test("class means recombine to zero per dimension; grid is complete") {
    val out = SimilarityOps.queries("q_embed_standardize")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    val emb = graft.core.Tables.t(spark, sf, "embeddings")
    val nLabels = emb.select("label").distinct().count()
    val dims = out.map(_._2).distinct
    assert(dims.length == 64 && out.length == nLabels * 64,
      "label x dim grid incomplete")
    // Σ_label n_label · z_mean(label, d) = Σ z over dim d = 0 (up to the
    // 6 dp per-group rounding, amplified by at most the corpus size).
    val n = emb.count()
    dims.foreach { d =>
      val total = out.filter(_._2 == d).map(t => t._3 * t._4).sum
      assert(math.abs(total) <= n * 1e-5,
        s"dim $d standardized mass $total not ~0")
    }
  }
}
