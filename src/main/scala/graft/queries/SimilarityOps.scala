package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.functions.CosineSimilarity.cosine
import graft.similarity.AnnIvf.topKPerQuery

/** Embedding similarity + multimodal-column operators (SURVEY.md §2B Q32,
  * Q47 + the training-pipeline extensions).
  *
  * Scale design: the exact top-k (Q32) broadcasts the small query set
  * against the corpus — a map-side-only plan, no shuffle until the final
  * per-query top-k (which is a windowed partial top-k). The label-blocked
  * near-dup bounds its self-join per block. The IVF/LSH scale paths live
  * in [[graft.similarity.AnnIvf]] / [[graft.dedup.MinHashDedup]].
  */
object SimilarityOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Q32 — exact cosine top-5 for query vectors vec_id < 10.
    "q32_cosine_topk" -> { (s, dir) =>
      graft.GraftExtensions.ensureRegistered(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      topKPerQuery(e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cand_id"),
            round(cosine(col("qemb"), col("emb")), 6).as("cos_sim")), 5)
        .orderBy("qid", "rn")
    },

    // Embedding-cosine near-dup: label-blocked exact pairs above 0.35.
    "q_embed_neardup" -> { (s, dir) =>
      graft.GraftExtensions.ensureRegistered(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
      val a = e.select(col("vec_id").as("id1"), col("label"), col("emb").as("emb1"))
      val b = e.select(col("vec_id").as("id2"), col("label").as("label2"), col("emb").as("emb2"))
      a.join(b, col("label") === col("label2") && col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("label"),
          round(cosine(col("emb1"), col("emb2")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.35)
        .orderBy("id1", "id2")
    },

    // Int8 scalar quantization of the embedding column — the 4× memory/IO
    // reduction path for 100 TB vector stores. Per-vector max-abs scale;
    // quantized value q_i = round(x_i / scale) ∈ [-127, 127]. The query
    // emits deterministic integer/rounded stats per vector (H-checked);
    // the top-k recall of search over DEquantized vectors vs exact Q32 is
    // asserted in QuantizedCosineSpec.
    "q_embed_quantize" -> { (s, dir) =>
      val emb = col("embedding").cast("array<double>")
      val scale = greatest(
        aggregate(emb, lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0,
        lit(1e-12))
      t(s, dir, "embeddings")
        .select(col("vec_id"), round(scale, 9).as("scale"),
          aggregate(transform(emb, x => abs(round(x / scale)).cast("long")),
            lit(0L), (acc, x) => acc + x).as("qnorm"))
        .orderBy("vec_id")
    },

    // Q47 — multimodal row: text + vector + struct metadata in one frame,
    // filtered/projected through nested fields.
    "q47_multimodal_join" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("emb"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
        .filter(col("meta.n_chars") > 100)
        .select(col("doc_id"),
          col("meta.lang").as("lang"),
          col("meta.source").as("source"),
          col("meta.n_chars").as("n_chars"),
          size(col("emb")).cast("long").as("dim"),
          round(element_at(col("emb"), 1), 6).as("emb_head"))
        .orderBy("doc_id")
    },

    // Multimodal binary plumbing: opaque binary payload column + typed
    // metadata derived without decoding (decode itself is the stubbed
    // path in graft.multimodal.MediaPipeline).
    "q_binary_meta" -> { (s, dir) =>
      val bin = col("text").cast("binary")
      t(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(bin).cast("long").as("byte_len"),
          hex(substring(col("text"), 1, 4)).as("head_hex"),
          md5(col("text")).as("body_md5"))
        .orderBy("doc_id")
    },

    // Per-label mean-pooled centroid — the group summary vector a
    // mix-steering / contrastive-sampling pipeline maintains per domain.
    // posexplode widens rows by the fixed embedding dim (not by corpus
    // size), the per-(label, dim) mean aggregates partially map-side,
    // and the output is labels×dim rows — no array reassembly and no
    // full-vector shuffle. 6 dp rounding absorbs the sum-order ulp
    // difference between Spark's partial averages and the oracle's
    // sequential one.
    "q_label_centroid" -> { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg("x"), 6).as("mean_x"), count(lit(1)).as("n_vecs"))
        .orderBy("label", "dim")
    },

    // Per-dimension standardization (feature scaling): the 64-row dim
    // stats table (mu, sigma) broadcasts back onto the exploded values,
    // and the standardized per-(label, dim) class means expose
    // feature-wise class separation — the scaling pass run before any
    // distance-based model. Shuffles are dim-keyed (64 keys) and
    // (label × dim)-keyed; the full vectors never shuffle.
    "q_embed_standardize" -> { (s, dir) =>
      val xs = t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      val stats = xs.groupBy("dim")
        .agg(avg("x").as("mu"), stddev_samp("x").as("sigma"))
      xs.join(broadcast(stats), "dim")
        .groupBy("label", "dim")
        .agg(round(avg((col("x") - col("mu")) / col("sigma")), 6).as("z_mean"),
          count(lit(1)).as("n"))
        .orderBy("label", "dim")
    },

    // Embedding-health profile: per-label L2-norm stats — the drift /
    // degenerate-vector monitor every embedding pipeline runs before
    // indexing (zero or exploding norms break cosine ranking). Norms
    // are rounded per row, then min/max are exact and the mean uses the
    // decimal-sum canon. Map-side projection + one small agg.
    "q_norm_stats" -> { (s, dir) =>
      val nrm = round(sqrt(aggregate(
        transform(col("embedding").cast("array<double>"), x => x * x),
        lit(0.0), (a, v) => a + v)), 6)
      t(s, dir, "embeddings")
        .select(col("label"), nrm.as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(min("nrm"), 6).as("min_norm"),
          round(max("nrm"), 6).as("max_norm"),
          avg6(sum(col("nrm").cast("decimal(18,6)")), count(lit(1)))
            .as("avg_norm"))
        .orderBy("label")
    },

    // Exact k-NN graph (top-4 cosine neighbors for EVERY vector) — the
    // substrate for embedding-based dedup clustering and diversity
    // curation. This registry entry is the oracle-tier exact twin
    // (broadcast NLJ, quadratic — fine at oracle SF, NOT the 100 TB
    // path); the scale path builds the same graph through the persisted
    // IVF index (cell-routed equi-join, all vectors as queries), with
    // recall ≥ 0.9 against this exact graph asserted in KnnGraphSpec —
    // the same exact-twin/ANN-path contract as q31 vs q43.
    "q_knn_graph" -> { (s, dir) =>
      graft.GraftExtensions.ensureRegistered(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      topKPerQuery(e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cand_id"),
            round(cosine(col("qemb"), col("emb")), 6).as("cos_sim")), 4)
        .orderBy("qid", "rn")
    }
  )

  val oracle: Map[String, String] = Map(
    "q32_cosine_topk" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
      s AS (SELECT qid, e.vec_id AS cand_id,
                   round(list_cosine_similarity(qemb, emb), 6) AS cos_sim
            FROM q JOIN e ON e.vec_id <> qid),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cand_id) AS rn
            FROM s)
      SELECT qid, cand_id, cos_sim, CAST(rn AS INT) AS rn
      FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    "q_embed_quantize" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      s AS (SELECT vec_id, emb,
              greatest(list_max(list_transform(emb, x -> abs(x))) / 127.0, 1e-12) AS scale
            FROM e)
      SELECT vec_id, round(scale, 9) AS scale,
        CAST(list_sum(list_transform(emb, x -> CAST(abs(round(x / scale)) AS BIGINT))) AS BIGINT) AS qnorm
      FROM s ORDER BY vec_id""",

    "q_embed_neardup" -> """
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      SELECT a.vec_id AS id1, b.vec_id AS id2, a.label,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.35
      ORDER BY id1, id2""",

    "q47_multimodal_join" -> """
      SELECT doc_id, lang, source, n_chars,
             CAST(len(embedding) AS BIGINT) AS dim,
             round(CAST(embedding[1] AS DOUBLE), 6) AS emb_head
      FROM documents JOIN embeddings ON doc_id = vec_id
      WHERE n_chars > 100
      ORDER BY doc_id""",

    "q_binary_meta" -> """
      SELECT doc_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
             hex(substring(text, 1, 4)) AS head_hex,
             md5(text) AS body_md5
      FROM documents ORDER BY doc_id""",

    "q_embed_standardize" -> """
      WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
      x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, emb[i] AS x
            FROM (SELECT label, emb, generate_subscripts(emb, 1) AS i FROM e)),
      st AS (SELECT dim, avg(x) AS mu, stddev_samp(x) AS sigma
             FROM x GROUP BY 1)
      SELECT label, x.dim, round(avg((x - mu) / sigma), 6) AS z_mean,
             count(*) AS n
      FROM x JOIN st ON x.dim = st.dim
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_label_centroid" -> """
      WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
      x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, emb[i] AS x
            FROM (SELECT label, emb, generate_subscripts(emb, 1) AS i FROM e))
      SELECT label, dim, round(avg(x), 6) AS mean_x,
             CAST(count(*) AS BIGINT) AS n_vecs
      FROM x GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_norm_stats" -> """
      WITH e AS (
        SELECT label,
               round(sqrt(list_sum(list_transform(
                 CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS nrm
        FROM embeddings)
      SELECT label, count(*) AS n_vecs,
             round(min(nrm), 6) AS min_norm,
             round(max(nrm), 6) AS max_norm,
             round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS avg_norm
      FROM e GROUP BY label ORDER BY label""",

    "q_knn_graph" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      s AS (SELECT q.vec_id AS qid, e.vec_id AS cand_id,
                   round(list_cosine_similarity(q.emb, e.emb), 6) AS cos_sim
            FROM e q JOIN e ON e.vec_id <> q.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY cos_sim DESC, cand_id) AS rn
            FROM s)
      SELECT qid, cand_id, cos_sim, CAST(rn AS INT) AS rn
      FROM r WHERE rn <= 4 ORDER BY qid, rn"""
  )
}
