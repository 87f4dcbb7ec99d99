package graft

import graft.queries.TextOps

/** Invariants tying the round-7 corpus-signal operators to ground truth
  * recomputed independently (driver-side, sf0.001 = 500 docs).
  *
  * q_prefix_dup: the whole output table must equal a driver-side
  * recomputation of the duplicated-prefix groups — Java MessageDigest +
  * String.split, sharing no code path with the Spark operator.
  *
  * q_rare_token_ratio: every doc appears exactly once; rare_frac is
  * nonzero iff the doc contains at least one token whose corpus
  * frequency sits below 0.25x the mean (threshold recomputed here from
  * raw token counts, not via the operator under test).
  */
class QualitySignalsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("prefix-dup groups equal an independent driver-side recomputation") {
    val expected = docs.select("doc_id", "text").collect()
      .map(r => (md5hex(r.getString(1).split(" ").take(8).mkString(" ")),
        r.getLong(0)))
      .groupBy(_._1)
      .collect { case (k, xs) if xs.length > 1 =>
        (k, xs.length.toLong, xs.map(_._2).min) }
      .toSet
    assert(expected.nonEmpty, "fixture should contain duplicated prefixes")
    val got = TextOps.queries("q_prefix_dup")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"mismatch: extra=${got.diff(expected)} missing=${expected.diff(got)}")
  }

  test("rare_frac is nonzero exactly for docs holding a sub-threshold token") {
    val tokens = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq
    }
    val cf = tokens.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length }
    val mean = cf.values.sum.toDouble / cf.size
    val rareToks = cf.filter(_._2 < 0.25 * mean).keySet
    assert(rareToks.nonEmpty, "fixture should plant a rare token")
    val rows = TextOps.queries("q_rare_token_ratio")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq.sorted == tokens.map(_._1).toSeq.sorted,
      "every doc must appear exactly once")
    val frac = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    tokens.foreach { case (id, ts) =>
      val expectRare = ts.exists(rareToks.contains)
      assert((frac(id) > 0.0) == expectRare,
        s"doc $id rare_frac=${frac(id)} but expectRare=$expectRare")
      val expected = ts.count(rareToks.contains).toDouble / ts.length
      assert(math.abs(frac(id) - expected) < 1e-6,
        s"doc $id rare_frac=${frac(id)} != recomputed $expected")
    }
  }

  test("repetition signals equal a per-doc driver-side recomputation") {
    val tokens = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq
    }.filter(_._2.length >= 2)
    val got = TextOps.queries("q_repetition_ratio")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == tokens.map(_._1).toSet)
    tokens.foreach { case (id, ts) =>
      val (n, dup, top) = got(id)
      assert(n == ts.length)
      val dupExp = (ts.length - ts.distinct.length).toDouble / ts.length
      assert(math.abs(dup - dupExp) < 1e-6, s"doc $id dup $dup != $dupExp")
      val bgs = ts.zip(ts.tail).map { case (a, b) => s"$a $b" }
      val topExp = bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.length
      assert(math.abs(top - topExp) < 1e-6, s"doc $id top $top != $topExp")
    }
  }

  test("q_gopher_quality evaluates its 2-gram ratio per document, not per token") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    def distinct(es: Seq[Expression]) = es.exists(_.exists(_.isInstanceOf[ArrayDistinct]))
    val plan = TextOps.queries("q_gopher_quality")(spark, sf).queryExecution.optimizedPlan
    assert(plan.exists(n => distinct(n.expressions)), "no 2-gram ratio in the plan")
    // A node that evaluates array_distinct over a Generate evaluates it
    // once per generated row.
    val perToken = plan.collect {
      case n if distinct(n.expressions) && n.exists(_.isInstanceOf[Generate]) => n
    }
    assert(perToken.isEmpty, s"array_distinct above the explode:\n${perToken.mkString("\n")}")
  }

  test("vocab CDF crossings are exact against brute token-count ranking") {
    val cf = docs.collect()
      .flatMap(_.getString(1).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val ranked = cf.toSeq.sortBy { case (t, c) => (-c, t) }
    val total = ranked.map(_._2).sum
    val cums = ranked.scanLeft(0L)(_ + _._2).tail
    val got = TextOps.queries("q_vocab_cdf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(50L, 75L, 90L, 95L, 99L))
    got.foreach { case (thr, vs, cov) =>
      val expVs = cums.indexWhere(_ * 100 >= thr * total) + 1
      assert(vs == expVs, s"thr $thr vocab_size $vs != $expVs")
      assert(cov >= thr / 100.0, s"thr $thr coverage $cov below threshold")
      assert(math.abs(cov - cums(expVs - 1).toDouble / total) < 1e-6)
    }
    // vocab_size must be nondecreasing in the threshold.
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted)
  }

  test("ngram novelty equals a first-seen scan in doc_id order") {
    val grams = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").filter(_.nonEmpty).sliding(3)
          .filter(_.length == 3).map(_.mkString(" ")).toSet)
      .sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = grams.filter(_._2.nonEmpty).map { case (id, gs) =>
      val novel = gs.count(g => !seen.contains(g))
      seen ++= gs
      (id, gs.size.toLong, novel.toLong,
        math.round(novel.toDouble / gs.size * 1e6) / 1e6)
    }.toSeq
    val got = TextOps.queries("q_ngram_novelty")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // The curve must actually decay: later docs repeat earlier content.
    assert(got.last._4 < got.head._4, "novelty did not decay over the corpus")
  }

  test("per-source KL is nonnegative and equals an exact recomputation") {
    val toks = docs.select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(0), t)))
    val st = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sn = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cc = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = toks.length.toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // toSeq before mapping: Map.keys has Set semantics, and mapping a
    // Set to per-term BigDecimals silently DEDUPES equal terms from
    // different tokens before the sum.
    val expected = st.keys.toSeq.groupBy(_._1).map { case (src, keys) =>
      src -> keys.map { case (s, t) =>
        val p = st((s, t)).toDouble / sn(s)
        r6(p * math.log(p / (cc(t) / n)))
      }.sum.toDouble
    }
    val got = TextOps.queries("q_source_kl")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (src, kl) =>
      assert(kl >= 0.0, s"KL($src) negative: $kl")
      assert(math.abs(kl - expected(src)) < 1e-5,
        s"KL($src) $kl vs ${expected(src)}")
    }
  }

  test("dedup-rate report is consistent with the q31 exact pair set") {
    val meta = docs.select("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val pairs = TextOps.queries("q31_jaccard_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perBlock = pairs.groupBy(p => meta(p._1))
    val got = TextOps.queries("q_dedup_rate")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.values.map(_._1).sum == meta.size, "blocks must cover the corpus")
    got.foreach { case (blk, (nDocs, nPairs, nDup, rate)) =>
      val expPairs = perBlock.get(blk).map(_.length.toLong).getOrElse(0L)
      val expDup = perBlock.get(blk)
        .map(ps => ps.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
        .getOrElse(0L)
      assert(nPairs == expPairs, s"$blk pairs $nPairs != $expPairs")
      assert(nDup == expDup, s"$blk dup docs $nDup != $expDup")
      assert(nDup <= nDocs && math.abs(rate - nDup.toDouble / nDocs) < 1e-6)
    }
    assert(got.values.exists(_._2 > 0), "fixture should contain near-dups")
  }

  test("co-occurrence window counts equal a positional recomputation") {
    val texts = docs.collect().map(_.getString(1).split(" ").filter(_.nonEmpty))
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { ts =>
      for (i <- ts.indices; d <- 1 to 2 if i + d < ts.length)
        counts((ts(i), ts(i + d))) =
          counts.getOrElse((ts(i), ts(i + d)), 0L) + 1L
    }
    val expected = counts.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(30)
      .map { case ((w1, w2), c) => (w1, w2, c) }
    val got = TextOps.queries("q_cooccur_window")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("char entropy is maximal for uniform text, zero for one repeated char") {
    // Property check on the operator's own corpus: entropy bounded by
    // ln(alphabet size) and positive for every multi-char doc.
    val got = TextOps.queries("q_char_entropy")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, t) =>
      val k = t.toSeq.distinct.size
      assert(got(id) > 0.0, s"doc $id entropy not positive")
      assert(got(id) <= math.log(k.toDouble) + 1e-4,
        s"doc $id entropy ${got(id)} exceeds ln($k)")
      // Exact recomputation (same rounding canon).
      val n = t.length.toDouble
      val exp = t.groupBy(identity).values.map { g =>
        BigDecimal(-(g.length / n) * math.log(g.length / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(math.abs(got(id) - exp) < 1e-6, s"doc $id: ${got(id)} vs $exp")
    }
  }

  test("zipf slope equals a driver-side OLS over the ranked vocabulary") {
    val cf = docs.collect()
      .flatMap(_.getString(1).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val ranked = cf.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = ranked.map { case (_, i) => r6(math.log((i + 1).toDouble)) }
    val ys = ranked.map { case ((_, c), _) => r6(math.log(c.toDouble)) }
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => r6(x * y) }.sum
    val sxx = xs.map(x => r6(x * x)).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val row = TextOps.queries("q_zipf_slope")(spark, sf).head()
    assert(row.getLong(0) == xs.length)
    assert(math.abs(row.getDouble(1) - slope) < 1e-5,
      s"slope ${row.getDouble(1)} vs $slope")
    assert(row.getDouble(1) < 0.0, "token frequency must decay with rank")
  }
}
