package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Materialize, TempDirs}

/** Near-duplicate CLUSTERS: a pair list is not actionable for dedup until
  * it is grouped into connected components with a canonical
  * representative per component (keep the rep, drop the rest).
  *
  * Components come from iterative min-label propagation: every doc starts
  * labeled with its own id; each round it takes the min of its own label
  * and its neighbors' labels; fixpoint = components labeled by their min
  * doc_id. Each round is one equi-join plus one partial-aggregable min —
  * the standard CC-on-Spark shape (GraphX/GraphFrames ship the
  * small-star/large-star variant of the same idea, which converges in
  * fewer rounds on high-diameter graphs; near-dup components are
  * low-diameter, so plain propagation converges in a handful). The rounds
  * run through `Materialize.iterate`, which snapshots the labels every
  * round to truncate lineage — without this, round k replays rounds
  * 0..k-1 and the loop goes quadratic.
  *
  * The driver-side loop holds only a changed-row COUNT per round, never
  * data; convergence detection is part of the algorithm (same pattern as
  * the k-means fit in AnnIvf).
  */
object DedupClusters {

  /** Component label (min doc_id reachable) for every doc in `pairs`.
    * Throws if labels still change after `maxIters` rounds. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // The edge list is one barrier: `pairs` is usually an expensive plan
    // (q31's blocked token self-join) and every round joins the edges, so
    // an unmaterialized edge frame would recompute the pairs per round.
    // Both orientations come from ONE pass over the pair plan (a union
    // of two selects would scan it twice even inside the single write).
    val edgeDir = TempDirs.create("graft-cc-edges")
    val edges = Materialize.at(pairs.select(explode(array(
        struct(col("id1").as("a"), col("id2").as("b")),
        struct(col("id2").as("a"), col("id1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")), edgeDir)
    // The changed-label count is observed on a join to the previous
    // labels. Propagation never drops a node (labels start as every edge
    // endpoint), so the inner join keeps every row. count(when(...)), not
    // sum(): it is 0, never null, on an empty graph.
    val (labels, _, changed) = Materialize.iterate[Long](
        edges.select(col("a").as("id")).distinct()
          .select(col("id"), col("id").as("comp")), "cc", maxIters) { labels =>
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("comp")), "b")
        .select(col("a").as("id"), col("comp"))
      (neighborMin.union(labels)
        .groupBy("id").agg(min("comp").as("comp"))
        .join(labels.withColumnRenamed("comp", "old"), "id"),
        count(when(col("comp") =!= col("old"), lit(1))))
    }(_ == 0L)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters iterations " +
          s"($changed labels still changing) — labels would be wrong; raise maxIters " +
          "(component diameter exceeds the iteration budget)")
    // The returned labels scan only the last snapshot, so the last round
    // was the edge table's last reader: drop the pair-sized edges now
    // rather than at process exit, which bounds the scratch-disk
    // high-water mark of a run that builds several cluster queries.
    TempDirs.delete(edgeDir)
    labels
  }

  /** Registry entry: cluster every doc that appears in an exact Q31
    * near-dup pair; emit (doc_id, rep = min id in component, size). */
  def query(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.queries.TextOps.queries("q31_jaccard_pairs")(s, dir)
      .select("id1", "id2")
    val comp = connectedComponents(pairs)
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("rep"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Cluster-size HISTOGRAM: per cluster size, how many clusters, how
    * many docs they hold, and how many a keep-one-rep dedup would drop —
    * the "what did dedup find" summary read before shipping a dedup pass
    * (a corpus whose mass sits in giant clusters needs different
    * treatment — template/boilerplate removal — than one with many
    * pairs). Domain is bounded by the largest cluster, so the final agg
    * is tiny; the cost is the same CC the cluster queries share. */
  def statsQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.queries.TextOps.queries("q31_jaccard_pairs")(s, dir)
      .select("id1", "id2")
    connectedComponents(pairs)
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("removable"))
      .orderBy("cluster_size")
  }

  val statsOracle: String = {
    val pairs = s"(${graft.queries.TextOps.q31OracleSql})"
    s"""
      WITH RECURSIVE p AS (SELECT id1, id2 FROM $pairs),
      edges AS (
        SELECT id1 AS a, id2 AS b FROM p
        UNION
        SELECT id2, id1 FROM p),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      r(id, n) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.id, e.b FROM r JOIN edges e ON r.n = e.a),
      comp AS (SELECT id, min(n) AS rep FROM r GROUP BY id),
      sizes AS (SELECT rep, count(*) AS cluster_size FROM comp GROUP BY rep)
      SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
             CAST((cluster_size - 1) * count(*) AS BIGINT) AS removable
      FROM sizes GROUP BY cluster_size ORDER BY cluster_size"""
  }

  /** Canonical-doc SELECTION: within each near-dup cluster keep the
    * highest-QUALITY doc (corpus-clean scoring formula), not merely the
    * min-id — what a production dedup actually ships downstream. One
    * extra per-doc projection + a max_by over the cluster groupBy; the
    * argmax is partial-aggregable (no per-cluster sort). */
  def keepBestQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.queries.TextOps.queries("q31_jaccard_pairs")(s, dir)
      .select("id1", "id2")
    val comp = connectedComponents(pairs)
    val q = graft.core.Tables.t(s, dir, "documents")
      .select(col("doc_id"), graft.queries.TextOps.qualityExpr.as("quality"))
    comp.join(q, comp("id") === q("doc_id"))
      .groupBy(col("comp").as("rep"))
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("doc_id"), struct(col("quality"), (-col("doc_id")).as("o"))).as("best_doc"),
        max(col("quality")).as("best_quality"))
      .orderBy("rep")
  }

  val keepBestOracle: String = {
    val pairs =
      s"(SELECT id1, id2 FROM (${graft.queries.TextOps.oracle("q31_jaccard_pairs")}))"
    s"""
      WITH RECURSIVE edges AS (
        SELECT id1 AS a, id2 AS b FROM $pairs
        UNION
        SELECT id2, id1 FROM $pairs),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      r(id, n) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.id, e.b FROM r JOIN edges e ON r.n = e.a),
      comp AS (SELECT id, min(n) AS rep FROM r GROUP BY id),
      m AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the','a','of','and','is','in','to'))) AS n_stop
        FROM documents),
      q AS (
        SELECT doc_id, round(0.4 * least(CAST(n_tok AS DOUBLE) / 50, 1.0)
            + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
            + 0.3 * CAST(n_distinct AS DOUBLE) / n_tok, 6) AS quality
        FROM m),
      j AS (SELECT c.rep, c.id, q.quality FROM comp c JOIN q ON c.id = q.doc_id),
      ranked AS (
        SELECT rep, id, quality,
               row_number() OVER (PARTITION BY rep ORDER BY quality DESC, id ASC) AS rn
        FROM j)
      SELECT r1.rep, CAST(cnt.n AS BIGINT) AS cluster_size,
             r1.id AS best_doc, r1.quality AS best_quality
      FROM ranked r1 JOIN (SELECT rep, count(*) AS n FROM j GROUP BY rep) cnt USING (rep)
      WHERE rn = 1 ORDER BY rep"""
  }

  /** DuckDB oracle: transitive closure by recursive CTE over the SAME
    * pair query (q31's oracle text reused verbatim), min per node. */
  val oracle: String = {
    val pairs =
      s"(SELECT id1, id2 FROM (${graft.queries.TextOps.oracle("q31_jaccard_pairs")}))"
    s"""
      WITH RECURSIVE edges AS (
        SELECT id1 AS a, id2 AS b FROM $pairs
        UNION
        SELECT id2, id1 FROM $pairs),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      r(id, n) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.id, e.b FROM r JOIN edges e ON r.n = e.a),
      comp AS (SELECT id, min(n) AS rep FROM r GROUP BY id)
      SELECT c.id AS doc_id, c.rep AS rep, CAST(cnt.n AS BIGINT) AS cluster_size
      FROM comp c JOIN (SELECT rep, count(*) AS n FROM comp GROUP BY rep) cnt USING (rep)
      ORDER BY doc_id"""
  }
}
