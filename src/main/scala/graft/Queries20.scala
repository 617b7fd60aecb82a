package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.TextFns
import graft.ops.{Graph, Linalg, Mixture, Scrub, Similarity, Sketch}

/** Twentieth query wave: matrix/graph/privacy curation — distributed
  * power iteration for the top principal embedding direction (q181),
  * triangle counting / local clustering coefficient on the LSH candidate
  * graph (q182), priority sampling with Horvitz–Thompson estimates
  * (q183), k-anonymity suppression audit (q184), and the HLL shard-merge
  * union estimate (q185). Same determinism rules as [[Queries]]:
  * md5-bridge hashing, fixed-point integer arithmetic, every estimate
  * carries its exact audit in the same frame.
  */
object Queries20 {

  // ------------------------------------------------- power iteration
  private val PiRounds = 8

  /** Top principal direction of the mean-centered embedding matrix by
    * 8 rounds of integer power iteration — see
    * [[graft.ops.Linalg.powerIterationTop]]. */
  val q181PowerIteration: Q = (spark, dir) =>
    Linalg.powerIterationTop(Tables.embeddings(spark, dir), "vec_id",
        "embedding", PiRounds)
      .orderBy("d")

  /** The integer power-iteration CTEs over the centered, quantized
    * embedding matrix `x`: mean `mu`, md5 start vector `v0` and rounds
    * `s1/w1/v1 … vN` (q181, q186; the SQL twin of [[graft.ops.Linalg.iterate]]). */
  private[graft] def powerIterationCtes(n: Int): String = {
    val rounds = (1 to n).map { r =>
      s"""s$r AS MATERIALIZED (SELECT x.vec_id,
         |    (sum(x.e * v.v)::BIGINT // 1000)::BIGINT AS s
         |  FROM x JOIN v${r - 1} v ON v.d = x.d GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT x.d, sum(x.e * s$r.s)::BIGINT AS w
         |  FROM x JOIN s$r ON s$r.vec_id = x.vec_id GROUP BY 1),
         |v$r AS MATERIALIZED (SELECT d,
         |    (w // greatest((SELECT max(abs(w)) FROM w$r) // 1000000,
         |       1))::BIGINT AS v
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""x0 AS MATERIALIZED (
       |  SELECT vec_id, j - 1 AS d, floor(e::DOUBLE * 1000 + 0.5)::BIGINT AS q
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
       |               unnest(embedding) AS e FROM embeddings)),
       |mu AS MATERIALIZED (SELECT d,
       |    ((s - ((s % n + n) % n)) / n)::BIGINT AS mu
       |  FROM (SELECT d, sum(q)::BIGINT AS s, count(*)::BIGINT AS n
       |        FROM x0 GROUP BY 1)),
       |x AS MATERIALIZED (SELECT x0.vec_id, x0.d, (x0.q - mu.mu)::BIGINT AS e
       |  FROM x0 JOIN mu ON mu.d = x0.d),
       |v0 AS MATERIALIZED (SELECT d,
       |    ((('0x' || substr(md5('pi:' || d), 1, 8))::BIGINT % 2000001)
       |       - 1000000)::BIGINT AS v
       |  FROM mu),
       |$rounds""".stripMargin
  }

  val q181Sql: String =
    s"""WITH ${powerIterationCtes(PiRounds)},
       |c AS (SELECT sum((a.v // 1000) * (b.v // 1000))::BIGINT AS ab,
       |    sum((a.v // 1000) * (a.v // 1000))::BIGINT AS aa,
       |    sum((b.v // 1000) * (b.v // 1000))::BIGINT AS bb
       |  FROM v${PiRounds - 1} a JOIN v$PiRounds b ON b.d = a.d)
       |SELECT v.d, v.v AS v_e6,
       |  (ab * ab // greatest(aa, 1) * 1000000
       |     // greatest(bb, 1))::BIGINT AS cos2_ppm
       |FROM v$PiRounds v, c ORDER BY v.d""".stripMargin

  // ------------------------------------------------ triangle counting
  /** Triangle counts and local clustering coefficient per node of the
    * q47 sign-RP-LSH near-dup candidate graph — the transitivity QA of a
    * dedup graph (true duplicate cliques are triangle-dense; hash noise
    * is triangle-free). See [[graft.ops.Graph.triangleStats]].
    *
    * Resolution-parameterized (the q83/q104 precedent): the registered
    * query binds the fixture defaults; `tools/VerifyScaled` re-derives
    * (planes, bits) via `lshBitsFor` so the 8×/64× proofs run at constant
    * band occupancy. */
  def q182TriangleWith(spark: SparkSession, dir: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    val pairs = Similarity.rpLshNearDup(Tables.embeddings(spark, dir),
      "vec_id", "embedding", planes, bits, threshold = 0.35)
    Graph.triangleStats(pairs, "id_a", "id_b").orderBy("node")
  }

  val q182TriangleStats: Q = (spark, dir) =>
    q182TriangleWith(spark, dir, Queries3.rpPlanes, Queries3.rpBits)

  def q182SqlWith(planes: Array[Array[Double]], bits: Int): String =
    s"""WITH ${Queries3.rpPairsCte("embeddings", 0.35, planes, bits)},
       |e AS (SELECT DISTINCT id_a AS u, id_b AS v FROM pairs
       |  WHERE id_a <> id_b),
       |deg AS (SELECT node, count(*)::BIGINT AS deg
       |  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
       |  GROUP BY 1),
       |dir AS (SELECT
       |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v
       |      END AS src,
       |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u
       |      END AS dst
       |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
       |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
       |  FROM dir e1 JOIN dir e2 ON e2.src = e1.dst
       |  JOIN dir e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |pn AS (SELECT node, count(*)::BIGINT AS tri
       |  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |        UNION ALL SELECT z FROM tri)
       |  GROUP BY 1)
       |SELECT deg.node, deg.deg, coalesce(pn.tri, 0)::BIGINT AS tri,
       |  (CASE WHEN deg.deg < 2 THEN 0
       |        ELSE 2 * coalesce(pn.tri, 0) * 1000000
       |             // (deg.deg * (deg.deg - 1)) END)::BIGINT AS lcc_ppm
       |FROM deg LEFT JOIN pn ON pn.node = deg.node
       |ORDER BY deg.node""".stripMargin

  val q182Sql: String = q182SqlWith(Queries3.rpPlanes, Queries3.rpBits)

  // ------------------------------------------------ priority sampling
  private val PsK = 8

  /** Priority sample of 8 documents per language, weighted by length,
    * with Horvitz–Thompson weights and the per-stratum estimated-vs-exact
    * weight total as the unbiasedness audit — see
    * [[graft.ops.Mixture.prioritySample]]. */
  val q183PrioritySample: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val sampled = Mixture.prioritySample(docs, "lang", "doc_id",
      "n_chars", PsK)
    val est = sampled.groupBy(col("lang"))
      .agg(sum(col("ht_w")).as("est_total"))
    val exact = docs.groupBy(col("lang"))
      .agg(sum(greatest(col("n_chars").cast("long"), lit(1L)))
        .as("exact_total"))
    sampled.join(est, Seq("lang")).join(exact, Seq("lang"))
      .select(col("lang"), col("doc_id"), col("w"), col("priority"),
        col("tau"), col("ht_w"), col("est_total"), col("exact_total"))
      .orderBy("lang", "doc_id")
  }

  val q183Sql: String =
    s"""WITH b AS (SELECT lang, doc_id,
       |    greatest(n_chars::BIGINT, 1) AS w,
       |    ('0x' || substr(md5('ps:' || doc_id), 1, 8))::BIGINT AS h
       |  FROM documents),
       |p AS (SELECT lang, doc_id, w,
       |    (w * ${1L << 32} // (h + 1))::BIGINT AS priority FROM b),
       |r AS (SELECT lang, doc_id, w, priority,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY priority DESC, doc_id ASC) AS rn
       |  FROM p),
       |t AS (SELECT lang,
       |    coalesce(max(CASE WHEN rn = ${PsK + 1} THEN priority END),
       |      0)::BIGINT AS tau
       |  FROM r WHERE rn <= ${PsK + 1} GROUP BY 1),
       |smp AS (SELECT r.lang, r.doc_id, r.w, r.priority, t.tau,
       |    greatest(r.w, t.tau)::BIGINT AS ht_w
       |  FROM r JOIN t USING (lang) WHERE r.rn <= $PsK),
       |est AS (SELECT lang, sum(ht_w)::BIGINT AS est_total
       |  FROM smp GROUP BY 1),
       |ex AS (SELECT lang, sum(greatest(n_chars::BIGINT, 1))::BIGINT
       |    AS exact_total
       |  FROM documents GROUP BY 1)
       |SELECT s.lang, s.doc_id, s.w, s.priority, s.tau, s.ht_w,
       |  est.est_total, ex.exact_total
       |FROM smp s JOIN est USING (lang) JOIN ex USING (lang)
       |ORDER BY s.lang, s.doc_id""".stripMargin

  // ------------------------------------------------ k-anonymity audit
  private val KAnon = 5L

  /** k-anonymity suppression report per source over the quasi-identifier
    * (source, lang, 256-char length bucket): how many rows a k=5 privacy
    * gate would suppress, and the smallest surviving group — see
    * [[graft.ops.Scrub.kAnonymity]]. */
  val q184KAnonymity: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
      .withColumn("len_bucket", expr("cast(n_chars AS bigint) div 256L"))
    Scrub.kAnonymity(docs, Seq("source", "lang", "len_bucket"), KAnon)
      .groupBy(col("source"))
      .agg(sum(col("group_n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("suppressed"), 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("suppressed"), col("group_n")).otherwise(0L))
          .as("suppressed_rows"))
      .withColumn("suppression_ppm",
        expr("suppressed_rows * 1000000L div n_rows"))
      .orderBy("source")
  }

  val q184Sql: String =
    s"""WITH g AS (SELECT source, lang, n_chars::BIGINT // 256 AS len_bucket,
       |    count(*)::BIGINT AS group_n
       |  FROM documents GROUP BY 1, 2, 3)
       |SELECT source,
       |  sum(group_n)::BIGINT AS n_rows,
       |  count(*)::BIGINT AS n_groups,
       |  sum(CASE WHEN group_n < $KAnon THEN 1 ELSE 0 END)::BIGINT
       |    AS n_small_groups,
       |  sum(CASE WHEN group_n < $KAnon THEN group_n ELSE 0 END)::BIGINT
       |    AS suppressed_rows,
       |  (sum(CASE WHEN group_n < $KAnon THEN group_n ELSE 0 END) * 1000000
       |     // sum(group_n))::BIGINT AS suppression_ppm
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- HLL shard merge
  private val HllB = 8

  /** HLL shard-merge: per-source register sets collapse register-wise
    * into the union sketch (no corpus re-scan), whose estimate is
    * audited against the exact global distinct count and against the
    * naive sum of per-source estimates (the double-counting baseline the
    * merge exists to avoid) — see [[graft.ops.Sketch.hllMergeAll]]. */
  val q185HllMerge: Q = (spark, dir) => {
    val occ = Tables.documents(spark, dir).select(col("source"),
      explode(TextFns.wordTokens(col("text"))).as("token"))
    val regs = Sketch.hllRegisters(occ, "source", "token", HllB)
    val perSrc = Sketch.hllEstimate(regs, "source", HllB)
      .agg(count(lit(1)).as("n_sources"), max(col("m")).as("m"),
        sum(col("hll_estimate")).as("sum_source_est"))
    val merged = Sketch.hllEstimate(
        Sketch.hllMergeAll(regs, "source"), "source", HllB)
      .select(col("hll_estimate").as("merged_est"))
    val exact = occ.agg(countDistinct(col("token")).as("exact_global"))
    perSrc.crossJoin(merged).crossJoin(exact)
      .select(col("m"), col("n_sources"), col("sum_source_est"),
        col("merged_est"), col("exact_global"),
        expr("abs(merged_est - exact_global) * 1000000L div exact_global")
          .as("err_ppm"),
        expr("sum_source_est * 1000000L div merged_est")
          .as("dup_factor_ppm"))
  }

  val q185Sql: String = {
    val m = 1 << HllB
    val r = 32 - HllB + 1
    val alpha = Sketch.hllAlphaE6(m)
    // estimator body shared by the per-source and merged branches: input
    // rel must provide (source, reg, mreg) DENSE over all m registers
    def estCte(regRel: String, out: String): String =
      s"""${out}_agg AS (SELECT source, count(*)::BIGINT AS m,
         |    sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
         |    sum(1::BIGINT << ($r - mreg)::INT)::BIGINT AS s
         |  FROM $regRel GROUP BY 1),
         |$out AS (SELECT a.source, a.m,
         |    (CASE WHEN a.n_zero > 0 AND
         |       (($alpha::BIGINT * ${m.toLong * m} * ${1L << r}) // a.s
         |          // 1000000) <= ${5L * m / 2}
         |     THEN l.est
         |     ELSE (($alpha::BIGINT * ${m.toLong * m} * ${1L << r}) // a.s
         |          // 1000000) END)::BIGINT AS hll_estimate
         |  FROM ${out}_agg a LEFT JOIN lc l ON l.v = a.n_zero)""".stripMargin
    s"""WITH ${Queries18.hllRegisterCtes(HllB)},
       |${Queries18.hllLinearCountCte(m)},
       |${estCte("dense", "est_s")},
       |mrg AS (SELECT 'merged' AS source, reg, max(mreg)::BIGINT AS mreg
       |  FROM dense GROUP BY 2),
       |${estCte("mrg", "est_g")},
       |tot AS (SELECT count(*)::BIGINT AS n_sources, max(m)::BIGINT AS m,
       |    sum(hll_estimate)::BIGINT AS sum_source_est
       |  FROM est_s),
       |ex AS (SELECT count(DISTINCT w)::BIGINT AS exact_global FROM occ)
       |SELECT tot.m, tot.n_sources, tot.sum_source_est,
       |  est_g.hll_estimate AS merged_est, ex.exact_global,
       |  (abs(est_g.hll_estimate - ex.exact_global) * 1000000
       |     // ex.exact_global)::BIGINT AS err_ppm,
       |  (tot.sum_source_est * 1000000
       |     // est_g.hll_estimate)::BIGINT AS dup_factor_ppm
       |FROM tot, est_g, ex""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q181_power_iteration", q181PowerIteration, q181Sql),
    QueryDef("q182_triangle_stats", q182TriangleStats, q182Sql),
    QueryDef("q183_priority_sample", q183PrioritySample, q183Sql),
    QueryDef("q184_k_anonymity", q184KAnonymity, q184Sql),
    QueryDef("q185_hll_merge", q185HllMerge, q185Sql))
}
