package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{RankEval, Similarity}

/** Forty-second query wave: MATRYOSHKA truncation audits — how much
  * retrieval quality survives when the index serves a PREFIX of each
  * embedding (the MRL deployment question: a 16-of-64-dim index is 4×
  * smaller and 4× faster to scan; what does it cost in top-k fidelity?).
  * q258 is the per-query overlap table at one truncation; q259 sweeps the
  * prefix dims in one plan against a single pinned full-dim reference.
  */
object Queries42 {

  /** Brute-force top-10 by cosine at an optional prefix truncation —
    * the q19 exact-kNN route (bounded query sample broadcast through the
    * corpus; at deploy scale the IVF/PQ routes q37/q151 replace the
    * scan, and THIS audit is how the truncated variants get compared). */
  private def route(emb: DataFrame, queries: DataFrame,
      dim: Option[Int]): DataFrame = {
    def cut(df: DataFrame, vecCol: String): DataFrame = dim.fold(df)(d =>
      df.withColumn(vecCol, slice(col(vecCol), 1, d)))
    Similarity.knnJoin(
      cut(emb, "embedding"), "vec_id", "embedding",
      cut(queries, "qvec"), "q_id", "qvec", k = 10)
  }

  /** Per-query top-10 overlap between the full-dim index and a 16-dim
    * prefix index. [[graft.ops.RankEval.overlapAtK]] columns: n_a is the
    * full-dim reference, containment_ppm the share the prefix retained. */
  val q258MatryoshkaOverlap: Q = (spark, dir) => q258With(spark, dir, 50L)

  private[graft] def q258With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val qs = Queries11.vecQueries(emb, queryMod)
    // both routes pinned: overlapAtK's n_a/n_b/common branches each
    // consume their input, and Catalyst shares no subtrees — unpinned,
    // every brute-force scan would run twice (review-pass finding)
    RankEval.overlapAtK(
        route(emb, qs, None).localCheckpoint(false),
        route(emb, qs, Some(16)).localCheckpoint(false),
        "q_id", "vec_id")
      .orderBy("q_id")
  }

  private def knnCteSql(name: String, sliceExpr: String,
      queryMod: Long): String =
    s"""$name AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(list_cosine_similarity(
       |        (e.embedding$sliceExpr)::DOUBLE[],
       |        (q.embedding$sliceExpr)::DOUBLE[]), 6) DESC, e.vec_id)
       |      AS rank
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id % $queryMod = 7 AND e.vec_id != q.vec_id)
       |  WHERE rank <= 10)""".stripMargin

  /** Per-query overlap of the top-10 shortlists `fa` and `fb`, in
    * [[graft.ops.RankEval.overlapAtK]]'s columns (q258, q267). */
  private def overlapSql: String =
    s"""na AS (SELECT q_id, count(*)::BIGINT AS n_a FROM fa GROUP BY 1),
       |nb AS (SELECT q_id, count(*)::BIGINT AS n_b FROM fb GROUP BY 1),
       |cm AS (SELECT q_id, count(*)::BIGINT AS n_common
       |  FROM fa JOIN fb USING (q_id, vec_id) GROUP BY 1)
       |SELECT q_id, coalesce(n_a, 0)::BIGINT AS n_a,
       |  coalesce(n_b, 0)::BIGINT AS n_b,
       |  coalesce(n_common, 0)::BIGINT AS n_common,
       |  (CASE WHEN coalesce(n_a, 0) + coalesce(n_b, 0)
       |          - coalesce(n_common, 0) = 0 THEN null
       |        ELSE coalesce(n_common, 0) * 1000000
       |          // (coalesce(n_a, 0) + coalesce(n_b, 0)
       |             - coalesce(n_common, 0)) END)::BIGINT AS jaccard_ppm,
       |  (CASE WHEN coalesce(n_a, 0) = 0 THEN null
       |        ELSE coalesce(n_common, 0) * 1000000
       |          // n_a END)::BIGINT AS containment_ppm
       |FROM na FULL OUTER JOIN nb USING (q_id) LEFT JOIN cm USING (q_id)
       |ORDER BY q_id""".stripMargin

  val q258Sql: String = q258SqlWith(50L)

  private[graft] def q258SqlWith(queryMod: Long): String =
    s"""WITH ${knnCteSql("fa", "", queryMod)},
       |${knnCteSql("fb", "[1:16]", queryMod)},
       |$overlapSql""".stripMargin

  /** Prefix-dim SWEEP against one pinned full-dim reference: pooled
    * top-10 containment at dims {8, 16, 32} — the MRL quality curve in
    * one plan (the reference shortlist is computed once and joined by
    * each truncation's route). Output per dim: (dim, n_queries, n_full,
    * n_common, containment_ppm). */
  val q259MatryoshkaSweep: Q = (spark, dir) => q259With(spark, dir, 50L)

  private[graft] val sweepDims: Seq[Int] = Seq(8, 16, 32)

  private[graft] def q259With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val qs = Queries11.vecQueries(emb, queryMod)
    // the full-dim reference shortlist is shared by every truncation —
    // pinned, or each overlap branch re-runs the full-dim scan
    val full = route(emb, qs, None).localCheckpoint(false)
    sweepDims.map { d =>
      // each truncated route pinned too: overlapAtK consumes it twice
      RankEval.overlapAtK(full,
          route(emb, qs, Some(d)).localCheckpoint(false), "q_id", "vec_id")
        .agg(count(lit(1)).as("n_queries"),
          coalesce(sum(col("n_a")), lit(0L)).as("n_full"),
          coalesce(sum(col("n_common")), lit(0L)).as("n_common"))
        .select(lit(d.toLong).as("dim"), col("n_queries"), col("n_full"),
          col("n_common"),
          when(col("n_full") > 0L,
            expr("n_common * 1000000L div n_full"))
            .otherwise(lit(0L)).cast("long").as("containment_ppm"))
    }.reduce(_ unionByName _).orderBy("dim")
  }

  val q259Sql: String = q259SqlWith(50L)

  private[graft] def q259SqlWith(queryMod: Long): String = {
    val cuts = sweepDims.map(d =>
      knnCteSql(s"t$d", s"[1:$d]", queryMod)).mkString(",\n")
    // n_queries from the fa/t$d q_id UNION — the same set overlapAtK's
    // full-outer join rows count on the engine side, so the equivalence
    // holds even if a truncated route ever returns a query the full
    // route doesn't (ADVICE r15; degenerate corpora only — both routes
    // share the query sample here)
    val arms = sweepDims.map(d =>
      s"""SELECT $d::BIGINT AS dim,
         |  (SELECT count(*) FROM (SELECT q_id FROM fa
         |    UNION SELECT q_id FROM t$d))::BIGINT AS n_queries,
         |  (SELECT count(*) FROM fa)::BIGINT AS n_full,
         |  (SELECT count(*) FROM fa JOIN t$d USING (q_id, vec_id))::BIGINT
         |    AS n_common""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH ${knnCteSql("fa", "", queryMod)},
       |$cuts,
       |u AS ($arms)
       |SELECT dim, n_queries, n_full, n_common,
       |  (CASE WHEN n_full > 0 THEN n_common * 1000000 // n_full
       |        ELSE 0 END)::BIGINT AS containment_ppm
       |FROM u ORDER BY dim""".stripMargin
  }

  /** The IVF route at an optional prefix truncation — the index the
    * truncation would actually DEPLOY against (r15 verdict task 8: q258/
    * q259 compare exact-kNN routes; the deployment question is how the
    * TRUNCATED IVF index degrades vs the full-dim one). Both the coarse
    * routing (centroids of the sliced vectors ≡ sliced centroids — the
    * mean is per-coordinate) and the in-bucket scan run at the truncated
    * dimension, exactly as a 16-dim index would serve. */
  private def ivfRoute(emb: DataFrame, queries: DataFrame,
      dim: Option[Int]): DataFrame = {
    def cut(df: DataFrame, vecCol: String): DataFrame = dim.fold(df)(d =>
      df.withColumn(vecCol, slice(col(vecCol), 1, d)))
    Similarity.ivfKnnJoin(cut(emb, "embedding"), "vec_id", "embedding",
      "label", cut(queries, "qvec"), "q_id", "qvec", nprobe = 3, k = 10)
  }

  /** Per-query top-10 overlap between the full-dim IVF route and the
    * 16-dim-truncated IVF route (nprobe 3 of the 10 coarse buckets on
    * both): the matryoshka audit closed over the deployed index shape.
    * Divergence here includes ROUTING drift (a truncated centroid can
    * send the query to different buckets), which the exact-route audits
    * q258/q259 cannot see. */
  val q267MatryoshkaIvf: Q = (spark, dir) => q267With(spark, dir, 50L)

  private[graft] def q267With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val qs = Queries11.vecQueries(emb, queryMod)
    // both routes pinned: overlapAtK consumes each side several times
    // (n_a/n_b/common branches) — the q258 rule
    RankEval.overlapAtK(
        ivfRoute(emb, qs, None).localCheckpoint(false),
        ivfRoute(emb, qs, Some(16)).localCheckpoint(false),
        "q_id", "vec_id")
      .orderBy("q_id")
  }

  /** One IVF route as oracle CTEs: probe the top-3 centroids (per-pos
    * mean fold from [[Queries2.CentroidSqlCte]]'s `a`, optionally
    * truncated via `posFilter`), then exact top-10 inside the probed
    * buckets with the engine's tiebreaks (sim DESC rounded at 6dp,
    * vec_id ASC, self-excluded). */
  private def ivfRouteCteSql(name: String, centsRel: String,
      sliceExpr: String): String =
    s"""p$name AS (SELECT q_id, label FROM (
       |  SELECT q.q_id, c.label, row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY round(list_cosine_similarity(c.centroid,
       |        (q.embedding$sliceExpr)::DOUBLE[]), 6) DESC, c.label) AS rk
       |  FROM qs q CROSS JOIN $centsRel c) WHERE rk <= 3),
       |$name AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |  SELECT p.q_id, e.vec_id, row_number() OVER (PARTITION BY p.q_id
       |      ORDER BY round(list_cosine_similarity(
       |        (e.embedding$sliceExpr)::DOUBLE[],
       |        (q.embedding$sliceExpr)::DOUBLE[]), 6) DESC, e.vec_id)
       |      AS rank
       |  FROM p$name p JOIN embeddings e USING (label)
       |    JOIN qs q USING (q_id)
       |  WHERE e.vec_id != q.q_id) WHERE rank <= 10)""".stripMargin

  val q267Sql: String = q267SqlWith(50L)

  private[graft] def q267SqlWith(queryMod: Long): String =
    s"""${Queries2.CentroidSqlCte},
       |cf AS (SELECT label, list(m ORDER BY pos) AS centroid
       |  FROM a GROUP BY label),
       |ct AS (SELECT label, list(m ORDER BY pos) AS centroid
       |  FROM a WHERE pos <= 16 GROUP BY label),
       |qs AS (SELECT vec_id AS q_id, embedding FROM embeddings
       |  WHERE vec_id % $queryMod = 7),
       |${ivfRouteCteSql("fa", "cf", "")},
       |${ivfRouteCteSql("fb", "ct", "[1:16]")},
       |$overlapSql""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q258_matryoshka_overlap", q258MatryoshkaOverlap, q258Sql),
    QueryDef("q259_matryoshka_sweep", q259MatryoshkaSweep, q259Sql),
    QueryDef("q267_matryoshka_ivf", q267MatryoshkaIvf, q267Sql))
}
