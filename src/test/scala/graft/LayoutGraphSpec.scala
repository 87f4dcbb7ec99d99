package graft

import org.apache.spark.sql.functions._
import graft.queries.{GraphOps, LayoutOps}

/** Invariants for the layout/profiling and graph operators (sf0.001).
  *
  * q_zorder_key: a cell is 16 z-bits = an 8-bit-per-dimension tile, so
  * within every cell both dimension ranges must span at most
  * 256 * ceil((max+1)/65536) raw values — with the round-8 max-scaled
  * quantizer that bound holds on ANY key domain (beyond 16 bits only
  * adjacent keys alias), where the old bare mask let k and k+65536
  * collide and unbounded the rectangles (ADVICE r7). At sub-16-bit
  * domains the quantizer scale is ≥ 1, so the tile bound reduces to the
  * original < 256 and the raw Morton key stays injective.
  *
  * q_cms_topk: count-min error is one-sided — est ≥ exact on every row.
  *
  * q_key_skew: the histogram partitions the key space exactly — n_keys /
  * n_rows sum to the true totals, and every bucket's max_cnt has the
  * bucket's bit-length.
  *
  * q_pagerank_parts: ranks are positive, ≤ 1, and non-increasing in the
  * output order; the FULL rank vector (recomputed at the spec's scale
  * via the registered query with a huge limit — same code path) must be
  * a probability distribution up to the damping identity: with no
  * dangling nodes the total mass is exactly 1 each iteration, so the
  * unrounded top-20 sum is bounded by 1.
  *
  * q_edit_distance: per-block pair counts are consistent (n_close ≤
  * n_pairs; min_dist is NULL iff the block produced no pairs), and the
  * engine's levenshtein agrees with the textbook value on a known pair.
  */
class LayoutGraphSpec extends SparkSpec {

  test("zorder cells bound both dimensions to 8-bit tiles; key is injective") {
    val out = LayoutOps.queries("q_zorder_key")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < 256,
        s"part range leaked past tile: $r")
      assert(r.getLong(5) - r.getLong(4) < 256,
        s"supp range leaked past tile: $r")
    }
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val nKeys = li.select(LayoutOps.zorder(col("l_partkey"), col("l_suppkey")))
      .distinct().count()
    assert(nKeys == li.count(), "Morton key must be injective on 16-bit dims")
  }

  test("zorder cells stay bounded rectangles past the 16-bit key domain") {
    // Keys far beyond 65535: under the old bare mask, k and k+65536
    // collide into the same cell and a cell's min/max rectangle spans
    // ~the whole domain; the max-scaled quantizer instead aliases only
    // ADJACENT keys, keeping every cell inside the documented bound.
    val big = spark.range(0, 60000)
      .select((col("id") * 7 % 300000).as("l_partkey"),
        (col("id") * 13 % 250000).as("l_suppkey"))
    val out = LayoutOps.zorderCells(big).collect()
    assert(out.length > 1)
    val (mp1, ms1) = (big.agg(max("l_partkey")).head.getLong(0) + 1,
      big.agg(max("l_suppkey")).head.getLong(0) + 1)
    val boundP = 256L * ((mp1 + 65535) / 65536)
    val boundS = 256L * ((ms1 + 65535) / 65536)
    out.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= boundP,
        s"part rectangle leaked past the quantized tile bound $boundP: $r")
      assert(r.getLong(5) - r.getLong(4) <= boundS,
        s"supp rectangle leaked past the quantized tile bound $boundS: $r")
    }
  }

  test("count-min estimates never undercount") {
    val out = LayoutOps.queries("q_cms_topk")(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getLong(3) >= 0L, s"CMS undercounted: $r")
      assert(r.getLong(2) >= r.getLong(1), s"est < exact: $r")
    }
  }

  test("key-skew histogram partitions the key space exactly") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val out = LayoutOps.queries("q_key_skew")(spark, sf).collect()
    assert(out.map(_.getLong(2)).sum == li.count())
    assert(out.map(_.getLong(1)).sum ==
      li.select("l_partkey").distinct().count())
    out.foreach { r =>
      val bucket = r.getInt(0); val maxCnt = r.getLong(3)
      assert(maxCnt.toBinaryString.length == bucket,
        s"max_cnt ${maxCnt} not in bucket $bucket")
    }
  }

  test("pagerank output is a descending, positive, bounded top-20") {
    val out = GraphOps.queries("q_pagerank_parts")(spark, sf).collect()
    assert(out.length == 20)
    val ranks = out.map(_.getDouble(1))
    assert(ranks.forall(r => r > 0 && r < 1))
    assert(ranks.sliding(2).forall(p => p(0) >= p(1)), "not descending")
    assert(ranks.sum <= 1.0 + 1e-6, "top-20 mass exceeds total rank mass")
    // Delta termination actually fires: the well-mixed co-occurrence
    // graph must converge strictly inside the iteration cap (at the cap
    // the early stop would be dead code), and the executed count is
    // reported uniformly.
    val iters = out.map(_.getInt(2)).distinct
    assert(iters.length == 1, s"iters column not uniform: ${iters.toSeq}")
    assert(iters.head >= 1 && iters.head < GraphOps.PrMaxIter,
      s"expected early convergence, got iters=${iters.head} " +
        s"(cap ${GraphOps.PrMaxIter})")
  }

  test("edit-distance profile is internally consistent") {
    val out = GraphOps.queries("q_edit_distance")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nPairs = r.getLong(3)
      val minDist = if (r.isNullAt(4)) None else Some(r.getLong(4))
      val nClose = r.getLong(5)
      assert(nClose <= nPairs)
      assert(minDist.isDefined == (nPairs > 0), s"min_dist/nulls skew: $r")
      minDist.foreach(d => assert(d >= 0))
    }
    import spark.implicits._
    val d = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).head().getInt(0)
    assert(d == 3, "engine levenshtein must be the textbook edit distance")
  }

  test("q_bfs_hops equals a sequential multi-source BFS") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // NB: .collect { case (p, _) ... => p } on the groupBy Map would
    // rebuild a Map keyed on src (one dst per src) — keySet keeps pairs.
    val support = li.toSeq.groupBy(_._1).values.toSeq.flatMap(xs =>
        for (a <- xs; b <- xs if a._2 != b._2) yield (a._2, b._2))
      .groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = support.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = support.map(_._1)
    val seeds = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_size") === 50).select("p_partkey").collect()
      .map(_.getLong(0)).toSet.intersect(nodes)
    assert(seeds.nonEmpty, "fixture must contain in-graph seeds")
    val dist = scala.collection.mutable.Map(seeds.toSeq.map(_ -> 0): _*)
    var frontier = seeds
    var level = 0
    while (level < graft.queries.GraphOps.BfsMaxHops && frontier.nonEmpty) {
      level += 1
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      next.foreach(n => dist(n) = level)
      frontier = next
    }
    val expected = nodes.groupBy(n => dist.getOrElse(n, -1))
      .map { case (d, ns) => (d, ns.size.toLong, ns.sum) }.toSet
    val got = graft.queries.GraphOps.queries("q_bfs_hops")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"extra=${got.diff(expected)} missing=${expected.diff(got)}")
  }

  test("q_degree_dist equals a brute adjacency-degree histogram") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val support = li.toSeq.groupBy(_._1).values.toSeq.flatMap(xs =>
        for (a <- xs; b <- xs if a._2 != b._2) yield (a._2, b._2))
      .groupBy(identity).filter(_._2.size >= 2).keySet
    val expected = support.toSeq.groupBy(_._1).values
      .map(_.size).groupBy(identity)
      .map { case (deg, xs) => (deg.toLong, xs.size.toLong) }.toSet
    val got = graft.queries.GraphOps.queries("q_degree_dist")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"extra=${got.diff(expected)} missing=${expected.diff(got)}")
    // toSeq first: mapping a Set would dedupe equal counts (the KL-spec
    // Set.map trap) and understate the node total.
    assert(got.toSeq.map(_._2).sum ==
      support.toSeq.map(_._1).distinct.size.toLong,
      "histogram must cover every node with at least one edge")
  }
}
