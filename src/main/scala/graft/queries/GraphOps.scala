package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Materialize, TempDirs}
import graft.core.Tables._

/** Graph and pairwise-comparison operators.
  *
  * - `q_pagerank_parts`: delta-terminated PageRank (d = 0.85) over the
  *   part co-occurrence graph (parts sharing an order, distinct directed
  *   edges both ways). Each iteration is one shuffle join (contributions
  *   = rank/out-degree shipped along edges) plus one partial-aggregable
  *   sum per destination — the classic Pregel-as-SQL shape that scales:
  *   the edge list partitions on src, the rank vector on node. The edge
  *   table is one barrier and the rounds run through
  *   `Materialize.iterate`, which snapshots each rank vector (without
  *   that, round k replays rounds 0..k-1 and the loop goes quadratic);
  *   the driver holds only the 1-row convergence scalar per round.
  *   Termination: stop after the first iteration whose max |Δrank|,
  *   relative to the uniform rank 1/N (i.e. N·max|Δ|), drops below
  *   [[PrEps]], else after [[PrMaxIter]] iterations; the executed count
  *   is reported in the `iters` column. The delta is rounded to 9 dp
  *   before the compare so both engines decide from the same grain
  *   (cross-engine sum-order error is ~1e-15 relative, while successive
  *   deltas shrink geometrically — a boundary collision needs the delta
  *   within ~1e-12 of the threshold at exactly the stopping round).
  *   The oracle unrolls [[PrMaxIter]] iterations as chained MATERIALIZED
  *   CTEs with a per-iteration delta scalar and a CASE that picks the
  *   first converged round — DuckDB forbids aggregates inside recursive
  *   CTEs, so unrolling IS the honest SQL twin. Every node here has
  *   out-edges (undirected construction), so there is no dangling-mass
  *   term.
  * - `q_edit_distance`: blocked Levenshtein near-dup profile. All-pairs
  *   edit distance is O(n²·len²) and unrunnable at scale, so pairs are
  *   generated only within (lang, source) blocks over short docs
  *   (n_chars ≤ 200) with a ±20-char length prefilter (|len(a)-len(b)|
  *   is a lower bound on edit distance, so the prefilter is lossless
  *   for the ≤20 threshold). Output is the per-block profile — block
  *   size, surviving pair count, min distance, pairs within 30 edits —
  *   which stays non-empty even when a corpus has no short near-dups.
  *
  * Determinism: PageRank ranks are IEEE doubles; contributions per node
  * are few hundred at most, so cross-engine summation-order error is
  * ~1e-15 relative while the 6 dp output rounding grain is ~2e-3 of the
  * rank magnitude — boundary collisions are effectively impossible.
  * Levenshtein is the standard unit-cost edit distance in both engines.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Convergence threshold on N·max|Δrank| (delta relative to the uniform
    * rank). Shared by the Spark loop and the unrolled oracle. */
  val PrEps = 0.001
  /** Iteration cap; also the oracle's unroll depth, so the two always
    * agree on the worst-case output. */
  val PrMaxIter = 12

  /** BFS hop cap — also the oracle's recursion depth bound, so both
    * engines agree when the cap (not frontier exhaustion) terminates. */
  val BfsMaxHops = 6

  /** One BFS level: the nodes one hop past `frontier` over edges `e` that
    * the visited set under `visitedDir` does not hold yet, tagged `level`.
    * The visited set is read with the frontier's `node` type declared.
    * The anti-join sees the visited files listed when this frame is BUILT
    * (`read.parquet` lists its input at resolution): the caller writes
    * this level's rows under `visitedDir` too, and they must not count as
    * already visited. BfsListingSpec pins that snapshot. */
  private[graft] def bfsLevel(s: SparkSession, frontier: DataFrame,
      e: DataFrame, visitedDir: String, level: Int): DataFrame = {
    val node = frontier.select("node")
    node.join(e, col("node") === col("src"))
      .select(col("dst").as("node")).distinct()
      .join(s.read.schema(node.schema).parquet(visitedDir).select("node"),
        Seq("node"), "left_anti")
      .select(col("node"), lit(level).as("dist"))
  }

  /** Part co-occurrence pairs (x ≠ y, both directions, once per order) —
    * the edge feed all four graph queries share. Built by aggregating
    * each order's distinct part set and exploding the pairs from the
    * array, so the corpus is shuffled once, on orderkey: collect_set
    * dedupes (orderkey, partkey) exactly like a distinct, and the
    * per-order pair fan-out equals an orderkey self-join's, which would
    * need a distinct shuffle plus a re-shuffle of both join sides. The
    * row multiset is that of the self-join, so every downstream support
    * count and distinct is unchanged. */
  private def coPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(collect_set("l_partkey").as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .where(col("src") =!= col("dst"))

  val queries: Map[String, Q] = Map(
    "q_pagerank_parts" -> { (s, dir) =>
      // The edge table carries each src's out-degree d as a window over
      // the src key it already groups on, so the rank step needs no
      // separate degree table or join; one barrier holds (src, dst, d).
      val edeg = Materialize(coPairs(s, dir).distinct()
        .withColumn("d", count(lit(1)).over(Window.partitionBy("src"))),
        "pr-edeg")
      // The uniform rank 1/n needs n before the first step, so the node
      // snapshot stores nodes only, n rides its write, and the rank is
      // projected onto the read-back.
      val (nodes, nNodes) = Materialize.observed[Long](
        edeg.select(col("src").as("node")).distinct(),
        TempDirs.create("graft-pr-nodes"), count(lit(1)))
      val n = nNodes.toDouble
      // One write per step: the delta is observed on a join to the
      // previous ranks. Every node keeps a row (undirected graph, so every
      // node receives contributions), so the inner join drops none.
      val (r, iters, _) = Materialize.iterate[Double](
          nodes.withColumn("rank", lit(1.0 / n)), "pr", PrMaxIter) { r =>
        (edeg.join(r, col("src") === col("node"))
          .select(col("dst"), (col("rank") / col("d")).as("c"))
          .groupBy("dst").agg(sum("c").as("m"))
          .select(col("dst").as("node"),
            (lit(0.15 / n) + lit(0.85) * col("m")).as("rank"))
          .join(r.select(col("node"), col("rank").as("prev")), "node"),
          max(abs(col("rank") - col("prev"))))
      }(d => math.round(d * n * 1e9) / 1e9 < PrEps)
      r.select(col("node"), round(col("rank"), 6).as("rank"),
          lit(iters).as("iters"))
        .orderBy(desc("rank"), asc("node"))
        .limit(20)
    },

    // Triangle count over the part co-occurrence graph on a degree-capped
    // subgraph (standard hub-truncation: drop nodes with degree > 128
    // BEFORE wedge generation, so the wedge join is bounded by cap·|E| —
    // linear in edges with a fixed constant — instead of Σd², which a
    // single celebrity key makes quadratic at 100 TB). Canonical src<dst
    // orientation means each triangle is generated exactly once as
    // a<b<c. The truncation is part of the declared semantics; the
    // output reports how much of the graph survived the cap.
    "q_triangle_count" -> { (s, dir) =>
      // Materialized twice: e0 feeds the degree union (2x) and the
      // truncated edge build; e feeds both wedge-join sides, the closing
      // join and the edge count. Unbarriered the replays CASCADE — every
      // consumer of e replays e0, which replays the pair build and the
      // degree branches — and the executed plan carried 44 corpus
      // scans. With the two barriers: one pair-build pass.
      val e0 = Materialize(
        coPairs(s, dir)
          .where(col("src") < col("dst"))
          .distinct(),
        "tri-e0")
      val deg = e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") <= 128).select("node")
      val e = Materialize(
        e0.join(keep.withColumnRenamed("node", "src"), "src")
          .join(keep.withColumnRenamed("node", "dst"), "dst")
          .select("src", "dst"),
        "tri-e")
      val wedges = e.as("x")
        .join(e.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("u"), col("x.dst").as("v"), col("y.dst").as("w"))
      val tri = wedges
        .join(e.as("z"), col("u") === col("z.src") && col("w") === col("z.dst"))
      tri.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(keep.agg(count(lit(1)).as("n_nodes")))
        .select("n_nodes", "n_edges", "n_triangles")
    },

    "q_edit_distance" -> { (s, dir) =>
      val short = t(s, dir, "documents")
        .filter(col("n_chars") <= 200)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val blocks = short.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"))
      val pairStats = short.as("a")
        .join(short.as("b"), Seq("lang", "source"))
        .where(col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.text")) - length(col("b.text"))) <= 20)
        .select(col("lang"), col("source"),
          levenshtein(col("a.text"), col("b.text")).cast("long").as("dist"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_pairs"), min("dist").as("min_dist"),
          sum(when(col("dist") <= 30, 1L).otherwise(0L)).as("n_close"))
      blocks.join(pairStats, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"), col("n_docs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          col("min_dist"),
          coalesce(col("n_close"), lit(0L)).as("n_close"))
        .orderBy("lang", "source")
    },

    // Multi-source BFS (frontier algorithm) over the min-support-2 part
    // co-occurrence graph: hop distance from the p_size=50 seed set,
    // reported as a per-level histogram with a node-id checksum plus a
    // dist=-1 row for nodes the cap never reaches. Each level is ONE
    // equi-join (frontier ⋈ edges on src) and ONE left-anti join against
    // the visited set — the textbook distributed BFS shape: work is
    // O(edges touched per level), state is the visited table, and both
    // partition on the node key. Frontier and visited snapshots
    // materialize to parquet per level (lineage truncation, the PageRank
    // canon) and the driver holds only the 1-row frontier count that
    // drives early termination. The min-support-2 edge filter keeps the
    // graph sparse enough to have real depth at the verify scale (sf0.01:
    // levels 0..6 plus unreached nodes, so the hop cap binds; at sf0.001
    // the graph is denser relative to its size and BFS saturates in 2
    // hops, exercising the frontier-empty termination path instead. The
    // support-1 graph's diameter is 2 everywhere — every frequent part
    // pair rides one hub order).
    // Oracle: DuckDB WITH RECURSIVE, UNION-distinct on (node, dist),
    // same BfsMaxHops cap, min(dist) collapse outside the recursion.
    "q_bfs_hops" -> { (s, dir) =>
      val e = Materialize(coPairs(s, dir)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select("src", "dst"), "bfs-edges")
      val nodes = e.select(col("src").as("node")).distinct()
      // The visited set is one dir with a lvl=<k> subdir per level, and
      // each level's one write serves both of its readers: the next
      // frontier reads the lvl=<k> leaf back, and the next level's
      // anti-join reads the visited root (see bfsLevel for why it never
      // sees its own level). Each write observes the level's row count,
      // the frontier size that stops the loop.
      val visited = s"${TempDirs.create("graft-bfs")}/visited"
      val (seeds, nSeeds) = Materialize.observed[Long](
        nodes.join(t(s, dir, "part").filter(col("p_size") === 50)
            .select(col("p_partkey").as("node")), "node")
          .select(col("node"), lit(0).as("dist")),
        s"$visited/lvl=0", count(lit(1)))
      var frontier = seeds.select("node")
      var frontierSize = nSeeds
      var level = 0
      while (level < BfsMaxHops && frontierSize > 0) {
        level += 1
        val (next, size) = Materialize.observed[Long](
          bfsLevel(s, frontier, e, visited, level),
          s"$visited/lvl=$level", count(lit(1)))
        frontier = next.select("node")
        frontierSize = size
      }
      nodes.join(s.read.schema(seeds.schema).parquet(visited), Seq("node"),
          "left_outer")
        .select(col("node"), coalesce(col("dist"), lit(-1)).as("dist"))
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_sum"))
        .orderBy("dist")
    },

    // Degree distribution of the min-support-2 co-occurrence graph —
    // the first thing to look at before ANY graph algorithm at scale
    // (a heavy tail says salt the hubs; see the MinHash rerank).
    // Out-degree = in-degree (undirected construction), so one groupBy
    // on src suffices; the histogram re-aggregates on the tiny degree
    // domain. Edges stay in the shuffle, never the driver.
    "q_degree_dist" -> { (s, dir) =>
      coPairs(s, dir)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    }
  )

  val oracle: Map[String, String] = Map(
    "q_bfs_hops" -> s"""
      WITH RECURSIVE
      li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS MATERIALIZED (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b USING (l_orderkey)
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      seeds AS (SELECT node FROM nodes JOIN part ON p_partkey = node
                WHERE p_size = 50),
      bfs(node, dist) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON bfs.node = e.src
        WHERE bfs.dist < ${BfsMaxHops}),
      dists AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
      SELECT dist, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS node_sum
      FROM (SELECT n.node, coalesce(d.dist, -1) AS dist
            FROM nodes n LEFT JOIN dists d USING (node))
      GROUP BY dist ORDER BY dist
    """,
    "q_pagerank_parts" -> {
      // PrMaxIter unrolled power iterations (rK = rank vector after K)
      // each with its 1-row relative-delta scalar dK; `pick` selects the
      // first converged round exactly like the Spark loop's early stop.
      // Every rK is referenced up to three times (r(K+1), dK, the final
      // union), so MATERIALIZED (a DuckDB-only hint; Spark never parses
      // oracles) is what keeps the unroll linear instead of exponential.
      val iters = (1 to PrMaxIter).map { k =>
        s"""r$k AS MATERIALIZED (
          SELECT e.dst AS node,
                 0.15 / max(n.n) + 0.85 * sum(r${k - 1}.rank / deg.d) AS rank
          FROM e JOIN deg ON e.src = deg.src
                 JOIN r${k - 1} ON e.src = r${k - 1}.node, n
          GROUP BY e.dst),
      d$k AS (
          SELECT round(max(abs(r$k.rank - r${k - 1}.rank)) * (SELECT n FROM n), 9) AS delta
          FROM r$k JOIN r${k - 1} ON r$k.node = r${k - 1}.node)"""
      }.mkString(",\n      ")
      val pickArms = (1 to PrMaxIter - 1).map { k =>
        s"WHEN (SELECT delta FROM d$k) < $PrEps THEN $k"
      }.mkString("\n        ")
      val union = (1 to PrMaxIter).map { k =>
        s"SELECT node, rank, $k AS k FROM r$k"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
      deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
      r0 AS MATERIALIZED (SELECT deg.src AS node, 1.0 / n.n AS rank FROM deg, n),
      $iters,
      pick AS (SELECT CASE
        $pickArms
        ELSE $PrMaxIter END AS it),
      ranks AS (
        $union)
      SELECT ranks.node, round(ranks.rank, 6) AS rank, pick.it AS iters
      FROM ranks, pick WHERE ranks.k = pick.it
      ORDER BY rank DESC, ranks.node LIMIT 20"""
    },

    "q_triangle_count" -> """
      WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey),
      deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)
        GROUP BY node),
      keep AS (SELECT node FROM deg WHERE d <= 128),
      e AS MATERIALIZED (
        SELECT src, dst FROM e0
        JOIN keep ka ON e0.src = ka.node
        JOIN keep kb ON e0.dst = kb.node)
      SELECT (SELECT count(*) FROM keep) AS n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             (SELECT count(*)
              FROM e x JOIN e y ON x.dst = y.src
                       JOIN e z ON z.src = x.src AND z.dst = y.dst)
               AS n_triangles""",

    "q_edit_distance" -> """
      WITH short AS (
        SELECT doc_id, lang, source, text FROM documents WHERE n_chars <= 200),
      blocks AS (
        SELECT lang, source, count(*) AS n_docs FROM short GROUP BY 1, 2),
      ps AS (
        SELECT a.lang, a.source, count(*) AS n_pairs,
               min(levenshtein(a.text, b.text)) AS min_dist,
               CAST(sum(CASE WHEN levenshtein(a.text, b.text) <= 30
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_close
        FROM short a JOIN short b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE abs(len(a.text) - len(b.text)) <= 20
        GROUP BY 1, 2)
      SELECT b.lang, b.source, b.n_docs,
             coalesce(ps.n_pairs, 0) AS n_pairs, ps.min_dist,
             coalesce(ps.n_close, 0) AS n_close
      FROM blocks b LEFT JOIN ps ON b.lang = ps.lang AND b.source = ps.source
      ORDER BY b.lang, b.source""",

    "q_degree_dist" -> """
      WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e0 AS (SELECT a.p AS src, b.p AS dst, count(*) AS support
             FROM pp a JOIN pp b ON a.o = b.o AND a.p <> b.p
             GROUP BY a.p, b.p),
      e AS (SELECT src, dst FROM e0 WHERE support >= 2),
      d AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
      SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
      FROM d GROUP BY deg ORDER BY deg"""
  )
}
