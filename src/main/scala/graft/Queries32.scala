package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Delta, Quantiles, RankEval}

/** Thirty-second query wave: cross-source score calibration (q226),
  * per-token release drift (q227), and rerank agreement (q228).
  */
object Queries32 {

  /** Pooled-decile mix of each source's quality scores — the
    * score-calibration table (q189 picks one cutoff per group; this
    * shows where every source's mass sits in the pooled distribution). */
  val q226DecileMix: Q = (spark, dir) =>
    Quantiles.pooledDecileMix(
        Tables.documents(spark, dir).select(col("source"),
          graft.functions.TextFns.qualityScoreMicro(col("text"))
            .as("score")),
        "source", "score")
      .orderBy("source", "decile")

  val q226Sql: String = {
    val cutoffCols = (1 to 9)
      .map(d => s"min(CASE WHEN cum * 10 >= n * $d THEN s END) AS q$d")
      .mkString(",\n|    ")
    val decileExpr = (1 to 9)
      .map(d => s"(CASE WHEN s > c.q$d THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT source, ${Queries2.QualitySqlExpr}::BIGINT AS s
       |  FROM documents),
       |h AS (SELECT s, count(*)::BIGINT AS c FROM d GROUP BY 1),
       |r AS (SELECT s,
       |    (sum(c) OVER (ORDER BY s ASC ROWS UNBOUNDED PRECEDING))::BIGINT
       |      AS cum,
       |    (sum(c) OVER ())::BIGINT AS n
       |  FROM h),
       |co AS (SELECT
       |    $cutoffCols
       |  FROM r),
       |asg AS (SELECT d.source,
       |    (1 + $decileExpr)::BIGINT AS decile
       |  FROM d CROSS JOIN co c),
       |g AS (SELECT source, decile, count(*)::BIGINT AS n
       |  FROM asg GROUP BY 1, 2)
       |SELECT source, decile, n,
       |  (n * 1000000 // sum(n) OVER (PARTITION BY source))::BIGINT
       |    AS share_ppm
       |FROM g ORDER BY source, decile""".stripMargin
  }

  /** Emerging terms between the even-id "previous release" and odd-id
    * "current release" document slices — top 50 by smoothed rate lift. */
  val q227EmergingTerms: Q = (spark, dir) =>
    Delta.emergingTerms(Tables.documents(spark, dir), "text",
        isNew = col("doc_id") % 2L === 1L, topK = 50)

  val q227Sql: String =
    """WITH tok AS (SELECT doc_id % 2 = 1 AS isnew,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |c AS (SELECT term,
      |    sum(CASE WHEN isnew THEN 0 ELSE 1 END)::BIGINT AS c_old,
      |    sum(CASE WHEN isnew THEN 1 ELSE 0 END)::BIGINT AS c_new
      |  FROM tok WHERE term <> '' GROUP BY 1),
      |t AS (SELECT sum(c_old)::BIGINT AS t_old, sum(c_new)::BIGINT AS t_new,
      |    count(*)::BIGINT AS v FROM c),
      |rr AS (SELECT term, c_old, c_new,
      |    ((c_old + 1) * 1000000000 // (t.t_old + t.v))::BIGINT AS r_old_ppb,
      |    ((c_new + 1) * 1000000000 // (t.t_new + t.v))::BIGINT AS r_new_ppb
      |  FROM c CROSS JOIN t)
      |SELECT term, c_old, c_new, r_old_ppb, r_new_ppb,
      |  (r_new_ppb * 1000000 // greatest(r_old_ppb, 1))::BIGINT AS lift_ppm
      |FROM rr
      |ORDER BY lift_ppm DESC, term ASC LIMIT 50""".stripMargin

  /** Kendall-τ rerank agreement: the lexical BM25@20 shortlist of each
    * query RE-RANKED by the semantic scorer over the SAME 20 items —
    * how much a cross-scoring pass actually reorders the first-stage
    * retrieval (τ near 1e6 ⇒ reranking is a no-op; near 0 ⇒ the routes
    * disagree and fusion/reranking earns its cost). Scoring the
    * first-stage item set (not intersecting two independent top-20s,
    * which goes empty as the corpus grows) keeps m = k everywhere. */
  val q228RerankAgreement: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val lex = Queries11.bm25TopK(d, 20)
      .select(col("q_id"), col("doc_id").as("vec_id"),
        col("rank").as("rank_lex"))
    val qv = Queries11.vecQueries(e)
    val scored = lex
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(qv, Seq("q_id"))
      .withColumn("__sim", round(graft.expr.VectorExprs.cosine(
        col("embedding"), col("qvec")), 6))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("__sim").desc, col("vec_id").asc)
    val reranked = scored
      .withColumn("rank_sem", row_number().over(wq).cast("long"))
      .select(col("q_id"), col("vec_id"), col("rank_lex"), col("rank_sem"))
    RankEval.kendallTau(reranked, "q_id", "rank_lex", "rank_sem")
      .orderBy("q_id")
  }

  val q228Sql: String =
    s"""WITH ${Queries11.bm25CtesShared(20)},
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id % 50 = 7),
       |com AS MATERIALIZED (SELECT q_id, vec_id, ra,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC,
       |      vec_id ASC) AS rb
       |  FROM (SELECT l.q_id, l.doc_id AS vec_id, l.rank AS ra,
       |      round(list_cosine_similarity(e.embedding::DOUBLE[],
       |        q.qvec::DOUBLE[]), 6) AS sim
       |    FROM lexrk l JOIN embeddings e ON e.vec_id = l.doc_id
       |    JOIN qs q ON q.q_id = l.q_id)),
       |m AS (SELECT q_id, count(*)::BIGINT AS m FROM com GROUP BY 1),
       |pr AS (SELECT a.q_id, count(*)::BIGINT AS n_pairs,
       |    sum(CASE WHEN a.rb > b.rb THEN 1 ELSE 0 END)::BIGINT AS n_disc
       |  FROM com a JOIN com b ON a.q_id = b.q_id AND a.ra < b.ra
       |  GROUP BY 1)
       |SELECT pr.q_id, m.m, pr.n_pairs, pr.n_disc,
       |  ((pr.n_pairs - 2 * pr.n_disc) * 1000000 // pr.n_pairs)::BIGINT
       |    AS tau_ppm
       |FROM pr JOIN m ON m.q_id = pr.q_id
       |ORDER BY pr.q_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q226_decile_mix", q226DecileMix, q226Sql),
    QueryDef("q227_emerging_terms", q227EmergingTerms, q227Sql),
    QueryDef("q228_rerank_agreement", q228RerankAgreement, q228Sql))
}
