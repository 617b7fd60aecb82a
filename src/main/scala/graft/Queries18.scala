package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.TextFns
import graft.ops.{Preference, RankEval, Sketch, Vocab}

/** Eighteenth query wave: mergeable sketches and robust statistics — the
  * count-min heavy-hitter audit (q172), HyperLogLog cardinality with the
  * classic small-range correction (q173), GRPO-style group-relative rank
  * advantages (q174), per-language vocabulary coverage budgets (q175) and
  * trimmed-mean robust eval scores (q176). Same determinism rules as
  * [[Queries]]: md5-prefix integer hashing (the MinHash bridge), literal
  * driver-computed correction tables (the signTestTable discipline),
  * integer division throughout.
  */
object Queries18 {

  // ---------------------------------------------- count-min sketch audit
  private val CmsDepth = 4
  private val CmsWidth = 1024
  private val CmsTopK = 32

  /** Count-min heavy-hitter audit: sketch the whole token stream into a
    * 4×1024 mergeable frame, then for the 32 true heaviest tokens compare
    * the sketch estimate against the exact count — the overestimate audit
    * that prices the sketch before a fleet relies on it. See
    * [[graft.ops.Sketch.countMinSketch]]/[[graft.ops.Sketch.cmsEstimate]]. */
  val q172CmsHeavyHitters: Q = (spark, dir) => {
    val occ = Tables.documents(spark, dir)
      .select(explode(TextFns.wordTokens(col("text"))).as("token"))
    val cms = Sketch.countMinSketch(occ, "token", CmsDepth, CmsWidth)
    val top = occ.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
      .limit(CmsTopK)
    top.join(Sketch.cmsEstimate(cms, top, "token", CmsDepth, CmsWidth),
        Seq("token"))
      .withColumn("over_ppm",
        expr("(cms_count - exact_cnt) * 1000000L div exact_cnt"))
      .orderBy("token")
  }

  val q172Sql: String =
    s"""WITH occ AS (SELECT unnest(
       |    string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |ex AS (SELECT w, count(*)::BIGINT AS exact_cnt FROM occ GROUP BY 1),
       |top AS (SELECT w, exact_cnt FROM ex
       |  ORDER BY exact_cnt DESC, w LIMIT $CmsTopK),
       |cms AS (SELECT r,
       |    ('0x' || substr(md5(r::VARCHAR || ':' || w), 1, 8))::BIGINT
       |      % $CmsWidth AS cell,
       |    count(*)::BIGINT AS cnt
       |  FROM occ, unnest(generate_series(0, ${CmsDepth - 1})) AS u(r)
       |  GROUP BY 1, 2),
       |probe AS (SELECT t.w, t.exact_cnt, u.r,
       |    ('0x' || substr(md5(u.r::VARCHAR || ':' || t.w), 1, 8))::BIGINT
       |      % $CmsWidth AS cell
       |  FROM top t, unnest(generate_series(0, ${CmsDepth - 1})) AS u(r)),
       |est AS (SELECT p.w, p.exact_cnt,
       |    min(coalesce(c.cnt, 0))::BIGINT AS cms_count
       |  FROM probe p LEFT JOIN cms c ON c.r = p.r AND c.cell = p.cell
       |  GROUP BY 1, 2)
       |SELECT w AS token, exact_cnt, cms_count,
       |  ((cms_count - exact_cnt) * 1000000 // exact_cnt)::BIGINT AS over_ppm
       |FROM est ORDER BY token""".stripMargin

  // ------------------------------------------------- HLL cardinality
  private val HllB = 8 // 256 registers

  /** HyperLogLog distinct-token cardinality per source, 256 registers,
    * with the exact distinct count as the audit column — the sketch a
    * 100 TB sweep keeps per shard and merges by register max. See
    * [[graft.ops.Sketch.hllRegisters]]/[[graft.ops.Sketch.hllEstimate]]. */
  val q173HllCardinality: Q = (spark, dir) => {
    val occ = Tables.documents(spark, dir).select(col("source"),
      explode(TextFns.wordTokens(col("text"))).as("token"))
    val est = Sketch.hllEstimate(
      Sketch.hllRegisters(occ, "source", "token", HllB), "source", HllB)
    val exact = occ.groupBy(col("source"))
      .agg(countDistinct(col("token")).as("exact_distinct"))
    est.join(exact, Seq("source"))
      .withColumn("err_ppm",
        expr("abs(hll_estimate - exact_distinct) * 1000000L div exact_distinct"))
      .orderBy("source")
  }

  /** HLL register CTEs over the word tokens `occ(source, w)`: md5 hash,
    * register and rank `rk`, per-register max `mx` and `dense`, every one
    * of a source's 2^b registers (q173, q185). */
  private[graft] def hllRegisterCtes(b: Int): String = {
    val m = 1 << b
    val r = 32 - b + 1
    val tailMask = (1L << (32 - b)) - 1L
    s"""occ AS (SELECT source, unnest(
       |    string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |h AS (SELECT source,
       |    ('0x' || substr(md5('0:' || w), 1, 8))::BIGINT AS hv
       |  FROM occ),
       |rk AS (SELECT source, hv >> ${32 - b} AS reg,
       |    (CASE WHEN (hv & $tailMask) = 0 THEN $r
       |          ELSE $r - length(bin(hv & $tailMask)) END)::BIGINT AS rank
       |  FROM h),
       |mx AS (SELECT source, reg, max(rank)::BIGINT AS mreg
       |  FROM rk GROUP BY 1, 2),
       |dense AS (SELECT d.source, d.reg, coalesce(m.mreg, 0)::BIGINT AS mreg
       |  FROM (SELECT source, g.reg
       |        FROM (SELECT DISTINCT source FROM documents),
       |             unnest(generate_series(0, ${m - 1})) AS g(reg)) d
       |  LEFT JOIN mx m ON m.source = d.source AND m.reg = d.reg)""".stripMargin
  }

  /** The linear-counting table `lc(v, est)` for `m` registers. */
  private[graft] def hllLinearCountCte(m: Int): String =
    Sketch.linearCountTable(m).map { case (v, e) => s"($v, $e)" }
      .mkString("lc AS (SELECT * FROM (VALUES ", ", ", ") AS t(v, est))")

  val q173Sql: String = {
    val m = 1 << HllB
    val r = 32 - HllB + 1
    val alpha = Sketch.hllAlphaE6(m)
    s"""WITH ${hllRegisterCtes(HllB)},
       |agg AS (SELECT source, count(*)::BIGINT AS m,
       |    sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       |    sum(1::BIGINT << ($r - mreg)::INT)::BIGINT AS s
       |  FROM dense GROUP BY 1),
       |raw AS (SELECT source, m, n_zero,
       |    (($alpha::BIGINT * ${m.toLong * m} * ${1L << r}) // s
       |       // 1000000)::BIGINT AS raw_e
       |  FROM agg),
       |${hllLinearCountCte(m)},
       |sel AS (SELECT r.source, r.m, r.n_zero, r.raw_e,
       |    (CASE WHEN r.n_zero > 0 AND r.raw_e <= ${5L * m / 2}
       |          THEN l.est ELSE r.raw_e END)::BIGINT AS hll_estimate
       |  FROM raw r LEFT JOIN lc l ON l.v = r.n_zero),
       |ex AS (SELECT source, count(DISTINCT w)::BIGINT AS exact_distinct
       |  FROM occ GROUP BY 1)
       |SELECT s.source, s.m, s.n_zero, s.raw_e, s.hll_estimate,
       |  e.exact_distinct,
       |  (abs(s.hll_estimate - e.exact_distinct) * 1000000
       |     // e.exact_distinct)::BIGINT AS err_ppm
       |FROM sel s JOIN ex e USING (source) ORDER BY s.source""".stripMargin
  }

  // --------------------------------------------- GRPO rank advantage
  /** Group-relative rank advantages over the q147 candidate groups
    * (prompt = doc_id % 25, reward = q21 quality): the policy-gradient
    * data-prep normalization — see
    * [[graft.ops.Preference.groupRankAdvantage]]. */
  val q174GrpoAdvantage: Q = (spark, dir) => {
    val cand = Tables.documents(spark, dir).select(
      (col("doc_id") % 25L).as("prompt_id"), col("doc_id"),
      TextFns.qualityScoreMicro(col("text")).as("reward"))
    Preference.groupRankAdvantage(cand, "prompt_id", "doc_id", "reward")
      .orderBy("prompt_id", "rank")
  }

  val q174Sql: String =
    s"""WITH c AS (SELECT doc_id % 25 AS prompt_id, doc_id,
       |    ${Queries2.QualitySqlExpr} AS reward
       |  FROM documents),
       |r AS (SELECT prompt_id, doc_id, reward,
       |    row_number() OVER (PARTITION BY prompt_id
       |      ORDER BY reward DESC, doc_id ASC)::BIGINT AS rank,
       |    (count(*) OVER (PARTITION BY prompt_id))::BIGINT AS n
       |  FROM c)
       |SELECT prompt_id, doc_id, reward, rank, n,
       |  (CASE WHEN n = 1 THEN 0
       |        ELSE (n + 1 - 2 * rank) * 1000000 // (n - 1) END)::BIGINT
       |    AS adv_ppm
       |FROM r ORDER BY prompt_id, rank""".stripMargin

  // ------------------------------------------- vocabulary coverage budget
  private val CovThresholds = Seq(500000L, 900000L, 990000L)

  /** Per-language tokenizer budget table: word types needed to cover
    * 50/90/99% of token occurrences — see
    * [[graft.ops.Vocab.coverageBudget]]. */
  val q175CoverageBudget: Q = (spark, dir) =>
    Vocab.coverageBudget(Tables.documents(spark, dir), "lang", "text",
        CovThresholds)
      .orderBy("lang")

  val q175Sql: String = {
    val mins = CovThresholds.map { t =>
      s"""min(CASE WHEN cum * 1000000 >= tot * $t THEN rank END)::BIGINT
         |    AS types_$t,
         |  min(CASE WHEN cum * 1000000 >= tot * $t THEN cum END)::BIGINT
         |    AS cum_$t""".stripMargin
    }.mkString(",\n  ")
    val covs = CovThresholds.map(t =>
      s"(cum_$t * 1000000 // n_tokens)::BIGINT AS cov_${t}_ppm").mkString(",\n  ")
    val typeCols = CovThresholds.map(t => s"types_$t").mkString(", ")
    s"""WITH occ AS (SELECT lang, unnest(list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'),
       |    x -> x != '')) AS w
       |  FROM documents),
       |c AS (SELECT lang, w, count(*)::BIGINT AS cnt FROM occ GROUP BY 1, 2),
       |r AS (SELECT lang, cnt,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY cnt DESC, w ASC)::BIGINT AS rank,
       |    (sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC
       |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
       |    (sum(cnt) OVER (PARTITION BY lang))::BIGINT AS tot
       |  FROM c),
       |a AS (SELECT lang, count(*)::BIGINT AS n_types,
       |    max(tot)::BIGINT AS n_tokens,
       |  $mins
       |  FROM r GROUP BY 1)
       |SELECT lang, n_types, n_tokens, $typeCols,
       |  $covs
       |FROM a ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------ trimmed-mean eval
  private val TrimK = 1

  /** Trimmed-mean robust scores over the q153 task groups (doc_id div 8,
    * q21 quality scores, trim 1 each side) — see
    * [[graft.ops.RankEval.trimmedMean]]. */
  val q176TrimmedEval: Q = (spark, dir) => {
    val s = Tables.documents(spark, dir).select(
      expr("doc_id div 8").as("task_id"), col("doc_id"),
      TextFns.qualityScoreMicro(col("text")).as("score"))
    RankEval.trimmedMean(s, "task_id", "doc_id", "score", TrimK)
      .orderBy("task_id")
  }

  val q176Sql: String =
    s"""WITH s AS (SELECT doc_id // 8 AS task_id, doc_id,
       |    ${Queries2.QualitySqlExpr} AS score
       |  FROM documents),
       |r AS (SELECT task_id, doc_id, score,
       |    row_number() OVER (PARTITION BY task_id
       |      ORDER BY score ASC, doc_id ASC) AS ra,
       |    row_number() OVER (PARTITION BY task_id
       |      ORDER BY score DESC, doc_id DESC) AS rd
       |  FROM s),
       |a AS (SELECT task_id, count(*)::BIGINT AS n_samples,
       |    sum(score)::BIGINT AS ssum,
       |    sum(CASE WHEN ra > $TrimK AND rd > $TrimK THEN score END)::BIGINT
       |      AS ts,
       |    count(CASE WHEN ra > $TrimK AND rd > $TrimK THEN 1 END)::BIGINT
       |      AS tn
       |  FROM r GROUP BY 1)
       |SELECT task_id, n_samples, (ssum // n_samples)::BIGINT AS mean_ppm,
       |  (CASE WHEN tn > 0 THEN ts // tn
       |        ELSE ssum // n_samples END)::BIGINT AS trimmed_mean_ppm,
       |  (tn > 0) AS trimmed,
       |  ((CASE WHEN tn > 0 THEN ts // tn ELSE ssum // n_samples END)
       |     - (ssum // n_samples))::BIGINT AS delta_ppm
       |FROM a ORDER BY task_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q172_cms_heavy_hitters", q172CmsHeavyHitters, q172Sql),
    QueryDef("q173_hll_cardinality", q173HllCardinality, q173Sql),
    QueryDef("q174_grpo_advantage", q174GrpoAdvantage, q174Sql),
    QueryDef("q175_coverage_budget", q175CoverageBudget, q175Sql),
    QueryDef("q176_trimmed_eval", q176TrimmedEval, q176Sql))
}
