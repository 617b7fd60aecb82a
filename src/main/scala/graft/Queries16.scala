package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Bitext, Preference}

/** Sixteenth query wave: preference-graph aggregation and mined-corpus
  * cleaning — the Bradley-Terry leaderboard over DPO preference pairs
  * (q163) and the bitext cleaning audit over mined parallel pairs
  * (q164). Same determinism rules as [[Queries]]: fixed-point rounds in
  * exact BIGINT arithmetic, every ratio integer-divided and 0-guarded.
  */
object Queries16 {

  // --------------------------------------------- Bradley-Terry leaderboard
  private val BtRounds = 6

  /** Bradley-Terry strengths over the q147 preference pairs (chosen =
    * winner): the reward-model-data leaderboard — see
    * [[graft.ops.Preference.bradleyTerry]]. */
  val q163BradleyTerry: Q = (spark, dir) =>
    Preference.bradleyTerry(Queries13.qualityPairs(Tables.documents(spark, dir)),
        "chosen_id", "rejected_id", BtRounds)
      .orderBy("item")

  val q163Sql: String = {
    val T = 1000000000000L
    val roundCtes = (1 to BtRounds).map { r =>
      s"""s$r AS MATERIALIZED (SELECT item, n_wins, n_matches,
         |    (CASE WHEN norm = 0 THEN u ELSE u * 1000000 // norm END)::BIGINT AS s
         |  FROM (SELECT item, n_wins, n_matches, u,
         |      (sum(u) OVER ()) // (count(*) OVER ()) AS norm
         |    FROM (SELECT p.item, p.n_wins, p.n_matches,
         |        (CASE WHEN d.den IS NULL OR d.den = 0 THEN p.s
         |              ELSE p.n_wins * $T // d.den END)::BIGINT AS u
         |      FROM s${r - 1} p LEFT JOIN (
         |        SELECT e.i AS item,
         |          sum(e.n_ij * $T // (si.s + sj.s))::BIGINT AS den
         |        FROM ed e JOIN s${r - 1} si ON si.item = e.i
         |        JOIN s${r - 1} sj ON sj.item = e.j
         |        GROUP BY 1) d USING (item))))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Queries13.PrefPairCtes},
       |dir AS (SELECT chosen_id AS i, rejected_id AS j, count(*)::BIGINT AS w
       |  FROM pairs GROUP BY 1, 2),
       |ed AS MATERIALIZED (SELECT i, j, sum(n)::BIGINT AS n_ij FROM (
       |    SELECT i, j, w AS n FROM dir
       |    UNION ALL SELECT j AS i, i AS j, w AS n FROM dir) GROUP BY 1, 2),
       |wn AS (SELECT i AS item, sum(w)::BIGINT AS n_wins FROM dir GROUP BY 1),
       |s0 AS (SELECT e.item, coalesce(w.n_wins, 0)::BIGINT AS n_wins,
       |    e.n_matches, 1000000::BIGINT AS s
       |  FROM (SELECT i AS item, sum(n_ij)::BIGINT AS n_matches
       |        FROM ed GROUP BY 1) e
       |  LEFT JOIN wn w USING (item)),
       |$roundCtes
       |SELECT item, n_matches, n_wins, s AS bt_ppm
       |FROM s$BtRounds ORDER BY item""".stripMargin
  }

  // --------------------------------------------- bitext cleaning audit
  private val LenMin = 600000L
  private val LenMax = 1666667L

  /** Cleaning audit over the q157 mined pairs: length-ratio bounds and
    * identical-text rejection, per-rule verdicts — see
    * [[graft.ops.Bitext.cleanAudit]]. */
  val q164BitextClean: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val mined = Queries14.minedBitext(Tables.embeddings(spark, dir), d)
    Bitext.cleanAudit(mined,
        d.select(col("doc_id"), col("text")), "doc_id",
        d.select(col("doc_id"), col("text")), "doc_id", "text",
        minLenPpm = LenMin, maxLenPpm = LenMax)
      .orderBy("src_id")
  }

  val q164Sql: String =
    s"""WITH ${Queries14.BitextCtes},
       |mined AS (SELECT src_id, tgt_id, margin_ppm FROM m
       |  WHERE margin_ppm >= ${Queries14.BitextMargin}),
       |nrm AS MATERIALIZED (SELECT doc_id,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |  FROM documents),
       |j AS (SELECT p.src_id, p.tgt_id, p.margin_ppm,
       |    (length(s.nt)::BIGINT * 1000000
       |       // greatest(length(t.nt), 1)::BIGINT)::BIGINT AS len_ratio_ppm,
       |    (s.nt != t.nt) AS dup_ok
       |  FROM mined p JOIN nrm s ON s.doc_id = p.src_id
       |  JOIN nrm t ON t.doc_id = p.tgt_id)
       |SELECT src_id, tgt_id, margin_ppm, len_ratio_ppm,
       |  (len_ratio_ppm >= $LenMin AND len_ratio_ppm <= $LenMax) AS len_ok,
       |  dup_ok,
       |  (len_ratio_ppm >= $LenMin AND len_ratio_ppm <= $LenMax
       |     AND dup_ok) AS keep
       |FROM j ORDER BY src_id""".stripMargin

  // ----------------------------------------------- sign-test significance
  private val SignMaxN = 16
  private val SignAlpha = 50000L
  private val SignThresh = 640000L

  /** Exact sign-test significance gate over synthetic A/B comparison
    * groups (doc_id div 16 blocks; side A "wins" when the q21 quality
    * clears 0.64): the leaderboard gate that separates a real win rate
    * from coin-flip noise — see [[graft.ops.RankEval.signTest]]. The
    * p-value table is driver-computed exact BigInt arithmetic, emitted
    * as literals into BOTH engines. */
  val q165SignTest: Q = (spark, dir) => {
    val m = Tables.documents(spark, dir).select(
      expr(s"doc_id div $SignMaxN").as("pair_id"),
      (graft.functions.TextFns.qualityScoreMicro(col("text")) >= SignThresh)
        .as("aw"))
    graft.ops.RankEval.signTest(m, "pair_id", col("aw"), SignMaxN, SignAlpha)
      .orderBy("pair_id")
  }

  val q165Sql: String = {
    val rows = graft.ops.RankEval.signTestTable(SignMaxN)
      .map { case (n, w, p) => s"($n, $w, $p)" }.mkString(", ")
    s"""WITH tbl AS (SELECT * FROM (VALUES $rows) AS t(n, w, p)),
       |s AS (SELECT doc_id // $SignMaxN AS pair_id,
       |    (${Queries2.QualitySqlExpr} >= $SignThresh) AS aw
       |  FROM documents),
       |a AS (SELECT pair_id, count(*)::BIGINT AS n_comparisons,
       |    sum(CASE WHEN aw THEN 1 ELSE 0 END)::BIGINT AS a_wins
       |  FROM s GROUP BY 1)
       |SELECT a.pair_id, a.n_comparisons, a.a_wins, t.p::BIGINT AS p_ppm,
       |  (t.p < $SignAlpha) AS significant
       |FROM a JOIN tbl t ON t.n = a.n_comparisons AND t.w = a.a_wins
       |WHERE a.n_comparisons <= $SignMaxN
       |ORDER BY a.pair_id""".stripMargin
  }

  // ----------------------------------------------- paged-KV block reuse
  private val BlockChars = 16

  /** Paged-KV cache block-reuse over the q154 prompt fleet at 16-char
    * blocks — see [[graft.ops.Sft.pagedBlockReuse]]. */
  val q166BlockReuse: Q = (spark, dir) =>
    graft.ops.Sft.pagedBlockReuse(
        Queries14.routedPrompts(Tables.documents(spark, dir)),
        "route_id", "prompt", BlockChars)
      .orderBy("route_id")

  val q166Sql: String =
    s"""WITH ${Queries14.PromptCte},
       |b AS (SELECT route_id,
       |    md5(substr(prompt, 1, (i * $BlockChars)::INT)) AS key
       |  FROM p, unnest(generate_series(1, length(prompt) // $BlockChars)) AS g(i)),
       |a AS (SELECT route_id, count(*)::BIGINT AS n_blocks,
       |    count(DISTINCT key)::BIGINT AS n_distinct
       |  FROM b GROUP BY 1)
       |SELECT r.route_id,
       |  coalesce(a.n_blocks, 0)::BIGINT AS n_blocks,
       |  coalesce(a.n_distinct, 0)::BIGINT AS n_distinct,
       |  (coalesce(a.n_blocks, 0) - coalesce(a.n_distinct, 0))::BIGINT
       |    AS saved_blocks,
       |  (CASE WHEN coalesce(a.n_blocks, 0) = 0 THEN 0
       |        ELSE (a.n_blocks - a.n_distinct) * 1000000 // a.n_blocks
       |   END)::BIGINT AS hit_ppm
       |FROM (SELECT DISTINCT route_id FROM p) r LEFT JOIN a USING (route_id)
       |ORDER BY r.route_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q163_bradley_terry", q163BradleyTerry, q163Sql),
    QueryDef("q164_bitext_clean", q164BitextClean, q164Sql),
    QueryDef("q165_sign_test", q165SignTest, q165Sql),
    QueryDef("q166_block_reuse", q166BlockReuse, q166Sql))
}
