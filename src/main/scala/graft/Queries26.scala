package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Graph, Series, Similarity}

/** Twenty-sixth query wave: deadline-bounded funnel conversion (q204)
  * and personalized PageRank curation from a trusted seed slice (q205).
  */
object Queries26 {

  // ----------------------------------------------- funnel conversion
  private val FunnelPairs =
    Seq(("view", "click"), ("click", "purchase"), ("signup", "purchase"))
  private val FunnelWindowSec = 3600L

  /** Same-user step-pair conversion within one hour — see
    * [[graft.ops.Series.funnelConversion]]. */
  val q204FunnelConversion: Q = (spark, dir) =>
    Series.funnelConversion(Tables.events(spark, dir), "user_id", "ts",
        "event_type", "event_id", FunnelPairs, FunnelWindowSec)
      .orderBy("step_a", "step_b")

  val q204Sql: String = {
    val values = FunnelPairs.map { case (a, b) => s"('$a', '$b')" }
      .mkString(", ")
    s"""WITH p AS (SELECT * FROM (VALUES $values) AS t(step_a, step_b)),
       |src AS (SELECT e.user_id AS u, e.event_id AS eid,
       |    p.step_a, p.step_b, epoch_us(e.ts) AS t0
       |  FROM events e JOIN p ON e.event_type = p.step_a),
       |conv AS (SELECT step_a, step_b, count(*)::BIGINT AS n_conv
       |  FROM src s
       |  WHERE EXISTS (SELECT 1 FROM events t WHERE t.user_id = s.u
       |    AND t.event_type = s.step_b AND epoch_us(t.ts) > s.t0
       |    AND epoch_us(t.ts) <= s.t0 + ${FunnelWindowSec * 1000000L})
       |  GROUP BY 1, 2),
       |base AS (SELECT step_a, step_b, count(*)::BIGINT AS n_src
       |  FROM src GROUP BY 1, 2)
       |SELECT b.step_a, b.step_b, b.n_src,
       |  coalesce(c.n_conv, 0)::BIGINT AS n_conv,
       |  (coalesce(c.n_conv, 0) * 1000000 // b.n_src)::BIGINT
       |    AS conversion_ppm
       |FROM base b LEFT JOIN conv c USING (step_a, step_b)
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------ personalized PageRank
  private val PprIters = 5
  private val PprSeedMod = 50L

  /** Graph proximity to a trusted seed slice (every 50th vector) over
    * the q133 3-NN graph — see
    * [[graft.ops.Graph.personalizedPageRankPpb]]. */
  val q205PersonalizedPr: Q = (spark, dir) => {
    val s = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0L)
    val qv = s.select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val edges = Similarity.knnJoin(s, "vec_id", "embedding", qv, "q_id",
      "qvec", 3)
    val seeds = s.filter(col("vec_id") % PprSeedMod === 0L)
      .select(col("vec_id"))
    Graph.personalizedPageRankPpb(edges, "q_id", "vec_id", seeds, PprIters)
      .orderBy("node")
  }

  private def pprRoundSql(k: Int): String =
    s"""${Queries11.prContribCte(k)},
       |r$k AS MATERIALIZED (SELECT n.v,
       |    ((CASE WHEN n.v % $PprSeedMod = 0
       |        THEN 3000000000 // (20 * (SELECT n FROM ns)) ELSE 0 END)
       |      + coalesce(c.c, 0))::BIGINT AS r
       |  FROM nodes n LEFT JOIN c$k c ON c.v = n.v)""".stripMargin

  val q205Sql: String = {
    val rounds = (1 to PprIters).map(pprRoundSql).mkString(",\n")
    s"""WITH s AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 5 = 0),
       |k3 AS MATERIALIZED (SELECT q_id AS src, vec_id AS dst FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
       |      AS rk
       |  FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |      round(list_cosine_similarity(e.embedding::DOUBLE[],
       |        q.embedding::DOUBLE[]), 6) AS sim
       |    FROM s e JOIN s q ON e.vec_id != q.vec_id) p) r
       |  WHERE rk <= 3),
       |od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS od
       |  FROM k3 GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT src AS v FROM k3 UNION ALL SELECT dst FROM k3)),
       |ns AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nodes
       |  WHERE v % $PprSeedMod = 0),
       |r0 AS MATERIALIZED (SELECT v,
       |    (CASE WHEN v % $PprSeedMod = 0
       |       THEN 1000000000 // (SELECT n FROM ns) ELSE 0 END)::BIGINT AS r
       |  FROM nodes),
       |$rounds
       |SELECT n.v AS node, r$PprIters.r AS rank_ppb,
       |  (n.v % $PprSeedMod = 0) AS is_seed
       |FROM nodes n JOIN r$PprIters ON r$PprIters.v = n.v
       |ORDER BY node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q204_funnel_conversion", q204FunnelConversion, q204Sql),
    QueryDef("q205_personalized_pr", q205PersonalizedPr, q205Sql))
}
