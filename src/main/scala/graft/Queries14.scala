package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{RankEval, Sft}

/** Fourteenth query wave: eval statistics, serving capacity planning and
  * post-training selection — the unbiased pass@k estimator (q153), the
  * radix-prefix-cache savings report (q154), best-of-n rejection sampling
  * (q155), DoReMi-lite domain reweighting (q156), ratio-margin bitext
  * mining (q157) and unigram-LM Viterbi segmentation (q158). Same
  * determinism rules as [[Queries]]: integer micro-units, falling-
  * factorial and multiplicative-weights arithmetic expanded as BIGINT
  * expressions, every derived numeric cast to long.
  */
object Queries14 {

  // ------------------------------------------------- pass@k estimation
  private val PassGroup = 8 // samples per synthetic task (doc_id div 8)
  private val PassThresh = 650000L // quality_e6 floor for "correct"

  /** pass@{1,2,4} over a synthetic eval log: tasks are doc_id div 8
    * blocks (8 samples per task), a sample is "correct" when its q21
    * quality score clears 0.65 — see [[graft.ops.RankEval.passAtK]] for
    * the unbiased estimator and its integer-exact spelling. */
  val q153PassAtK: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val samples = docs.select(
      expr(s"doc_id div $PassGroup").as("task_id"),
      graft.functions.TextFns.qualityScoreMicro(col("text")).as("quality_e6"))
    RankEval.passAtK(samples, "task_id",
        col("quality_e6") >= PassThresh, Seq(1, 2, 4))
      .orderBy("task_id")
  }

  val q153Sql: String = {
    def pass(k: Int): String = {
      val num = (0 until k).map(i => s"(n_samples - n_correct - $i)").mkString(" * ")
      val den = (0 until k).map(i => s"(n_samples - $i)").mkString(" * ")
      s"""(CASE WHEN n_samples - n_correct >= $k
         |    THEN 1000000 - (($num) * 1000000 // ($den))
         |    ELSE 1000000 END)::BIGINT AS pass_${k}_ppm""".stripMargin
    }
    s"""WITH s AS (SELECT doc_id // $PassGroup AS task_id,
       |    (${Queries2.QualitySqlExpr} >= $PassThresh) AS ok
       |  FROM documents),
       |a AS (SELECT task_id, count(*)::BIGINT AS n_samples,
       |    sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_correct
       |  FROM s GROUP BY 1)
       |SELECT task_id, n_samples, n_correct,
       |  ${pass(1)},
       |  ${pass(2)},
       |  ${pass(4)}
       |FROM a WHERE n_samples >= 4 ORDER BY task_id""".stripMargin
  }

  // -------------------------------------------- prefix-cache savings
  /** Serving-side prefix-cache capacity report: prompts assemble under a
    * per-route template (route = doc_id % 10 — ten system-prompt
    * families), and [[graft.ops.Sft.prefixCacheReport]] reports per route
    * how many characters a radix prefix cache absorbs. */
  val q154PrefixCache: Q = (spark, dir) =>
    Sft.prefixCacheReport(routedPrompts(Tables.documents(spark, dir)),
        "route_id", "prompt")
      .orderBy("route_id")

  /** Each document as a prompt on one of 10 routes: a shared system
    * line, a per-route task line, then the text (q154, q166). */
  private[graft] def routedPrompts(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") % 10L).as("route_id"),
      concat(lit("sys: answer concisely\ntask "),
        (col("doc_id") % 10L).cast("string"), lit(": "),
        col("text")).as("prompt"))

  /** q154's prompt-assembly CTE, shared with q166's block-reuse report. */
  private[graft] val PromptCte: String =
    """p AS (SELECT doc_id % 10 AS route_id,
      |    'sys: answer concisely' || chr(10) || 'task ' ||
      |      (doc_id % 10)::VARCHAR || ': ' || text AS prompt
      |  FROM documents)""".stripMargin

  val q154Sql: String =
    s"""WITH $PromptCte,
       |a AS (SELECT route_id, count(*)::BIGINT AS n_prompts,
       |    sum(length(prompt))::BIGINT AS total_chars,
       |    min(prompt) AS mn, max(prompt) AS mx
       |  FROM p GROUP BY 1),
       |l AS (SELECT route_id, n_prompts, total_chars,
       |    (CASE WHEN least(length(mn), length(mx)) = 0 THEN 0
       |          ELSE len(list_filter(
       |            generate_series(1, least(length(mn), length(mx))),
       |            i -> substr(mn, 1, i) = substr(mx, 1, i))) END)::BIGINT
       |      AS lcp_chars
       |  FROM a)
       |SELECT route_id, n_prompts, total_chars, lcp_chars,
       |  ((n_prompts - 1) * lcp_chars)::BIGINT AS saved_chars,
       |  (CASE WHEN total_chars = 0 THEN 0
       |        ELSE ((n_prompts - 1) * lcp_chars) * 1000000 // total_chars
       |   END)::BIGINT AS saved_ppm
       |FROM l ORDER BY route_id""".stripMargin

  // ------------------------------------------ best-of-n rejection sampling
  private val BonFloor = 400000L
  private val BonN = 3

  /** RFT-style best-of-3 selection: candidates group into prompts
    * (doc_id % 25, the q147 grouping), reward is the q21 quality score,
    * near-identical responses collapse by a 20-char normalized-prefix
    * fingerprint — see [[graft.ops.Preference.bestOfN]]. */
  val q155BestOfN: Q = (spark, dir) => {
    val cand = Tables.documents(spark, dir).select(
      (col("doc_id") % 25L).as("prompt_id"), col("doc_id"),
      graft.functions.TextFns.qualityScoreMicro(col("text")).as("quality_e6"),
      substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 1, 20)
        .as("fp"))
    graft.ops.Preference.bestOfN(cand, "prompt_id", "doc_id", "quality_e6",
        "fp", minScore = BonFloor, n = BonN)
      .select(col("prompt_id"), col("doc_id"), col("quality_e6"), col("rank"))
      .orderBy("prompt_id", "rank")
  }

  val q155Sql: String =
    s"""WITH cand AS (SELECT doc_id % 25 AS prompt_id, doc_id,
       |    ${Queries2.QualitySqlExpr} AS quality_e6,
       |    substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 20) AS fp
       |  FROM documents),
       |u AS (SELECT prompt_id, doc_id, quality_e6,
       |    row_number() OVER (PARTITION BY prompt_id, fp
       |                       ORDER BY quality_e6 DESC, doc_id ASC) AS rfp
       |  FROM cand WHERE quality_e6 >= $BonFloor),
       |r AS (SELECT prompt_id, doc_id, quality_e6,
       |    row_number() OVER (PARTITION BY prompt_id
       |                       ORDER BY quality_e6 DESC, doc_id ASC) AS rank
       |  FROM u WHERE rfp = 1)
       |SELECT prompt_id, doc_id, quality_e6, rank::BIGINT AS rank
       |FROM r WHERE rank <= $BonN ORDER BY prompt_id, rank""".stripMargin

  // ------------------------------------------------ DoReMi reweighting
  private val DoremiRounds = 8
  private val DoremiEta = 250000L

  /** DoReMi-lite domain reweighting over the language strata: loss proxy
    * is the quality deficit (1e6 − quality_e6), 8 multiplicative-weights
    * rounds at η = 0.25 — see [[graft.ops.Mixture.doremiWeights]]. The
    * output is the sampling-weight table a mixture run consumes. */
  val q156DoremiWeights: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    graft.ops.Mixture.doremiWeights(docs, "lang",
        lit(1000000L) - graft.functions.TextFns.qualityScoreMicro(col("text")),
        rounds = DoremiRounds, etaPpm = DoremiEta)
      .orderBy("lang")
  }

  val q156Sql: String = {
    val roundCtes = (1 to DoremiRounds).map { r =>
      s"""w$r AS (SELECT lang, n_docs, loss_avg_e6, excess_e6,
         |    (u * 1000000 // (sum(u) OVER ()))::BIGINT AS w
         |  FROM (SELECT *, (w * (1000000 + $DoremiEta * excess_e6 // 1000000)
         |                     // 1000000)::BIGINT AS u
         |        FROM w${r - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH d0 AS (SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(1000000 - ${Queries2.QualitySqlExpr})::BIGINT AS s
       |  FROM documents GROUP BY 1),
       |d1 AS (SELECT lang, n_docs, (s // n_docs)::BIGINT AS loss_avg_e6, s
       |  FROM d0),
       |e AS (SELECT lang, n_docs, loss_avg_e6,
       |    greatest(0, loss_avg_e6 -
       |      (SELECT (sum(s) // sum(n_docs))::BIGINT FROM d0))::BIGINT AS excess_e6
       |  FROM d1),
       |w0 AS (SELECT lang, n_docs, loss_avg_e6, excess_e6,
       |    1000000::BIGINT AS w FROM e),
       |$roundCtes
       |SELECT lang, n_docs, loss_avg_e6, excess_e6, w AS weight_ppm
       |FROM w$DoremiRounds ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------ bitext margin mining
  private[graft] val BitextK = 4
  private[graft] val BitextMargin = 1050000L

  /** Cross-lingual parallel-pair mining: English-side embeddings vs
    * French-side (the doc_id = vec_id pairing), ratio-margin k = 4,
    * mined at margin ≥ 1.05 — see [[graft.ops.Bitext.marginMine]]. This
    * binding is the exact-grid parity spelling (en × fr is bounded by the
    * lang split); the at-scale route runs the same margin arithmetic over
    * LSH-banded candidates. */
  val q157BitextMining: Q = (spark, dir) =>
    minedBitext(Tables.embeddings(spark, dir), Tables.documents(spark, dir))
      .orderBy("src_id")

  /** Margin-mined en→fr pairs over the embeddings `e` of the documents
    * `d` in each language (q157, q164). */
  private[graft] def minedBitext(e: DataFrame, d: DataFrame): DataFrame = {
    def side(lang: String) = e.join(d.filter(col("lang") === lang),
        e("vec_id") === d("doc_id"))
      .select(e("vec_id"), col("embedding"))
    graft.ops.Bitext.marginMine(
        side("en"), "vec_id", "embedding",
        side("fr"), "vec_id", "embedding",
        k = BitextK, minMarginPpm = BitextMargin)
  }

  /** q157's oracle CTE chain, shared with q164's cleaning audit (the
    * q142/q143 shared-prefix precedent): ends at `m` = all best-forward
    * pairs with margins, pre-threshold. */
  private[graft] val BitextCtes: String =
    s"""sd AS (SELECT e.vec_id AS src_id, e.embedding
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
       |  WHERE d.lang = 'en'),
       |td AS (SELECT e.vec_id AS tgt_id, e.embedding
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
       |  WHERE d.lang = 'fr'),
       |p AS MATERIALIZED (SELECT s.src_id, t.tgt_id,
       |    floor(round(list_cosine_similarity(
       |        s.embedding::DOUBLE[], t.embedding::DOUBLE[]), 6)
       |      * 1000000 + 0.5)::BIGINT + 1000000 AS s_e6
       |  FROM sd s, td t),
       |fr AS MATERIALIZED (SELECT src_id, tgt_id, s_e6,
       |    row_number() OVER (PARTITION BY src_id
       |                       ORDER BY s_e6 DESC, tgt_id) AS r FROM p),
       |fs AS (SELECT src_id, sum(s_e6)::BIGINT AS fsum,
       |    count(*)::BIGINT AS kf FROM fr WHERE r <= $BitextK GROUP BY 1),
       |bs AS (SELECT tgt_id, sum(s_e6)::BIGINT AS bsum,
       |    count(*)::BIGINT AS kb FROM (
       |    SELECT tgt_id, s_e6,
       |      row_number() OVER (PARTITION BY tgt_id
       |                         ORDER BY s_e6 DESC, src_id) AS r FROM p)
       |  WHERE r <= $BitextK GROUP BY 1),
       |m AS (SELECT f.src_id, f.tgt_id, (f.s_e6 - 1000000)::BIGINT AS sim_e6,
       |    (CASE WHEN fs.fsum * bs.kb + bs.bsum * fs.kf = 0 THEN 0
       |          ELSE f.s_e6 * (2 * fs.kf * bs.kb) * 1000000
       |               // (fs.fsum * bs.kb + bs.bsum * fs.kf) END)::BIGINT
       |      AS margin_ppm
       |  FROM fr f JOIN fs USING (src_id) JOIN bs USING (tgt_id)
       |  WHERE f.r = 1)""".stripMargin

  val q157Sql: String =
    s"""WITH $BitextCtes
       |SELECT src_id, tgt_id, sim_e6, margin_ppm FROM m
       |WHERE margin_ppm >= $BitextMargin ORDER BY src_id""".stripMargin

  // ---------------------------------------- unigram-LM Viterbi encoding
  private val UniMaxLen = 12
  private val UniBigrams = 12
  private val UniTrigrams = 8

  /** Unigram-LM (SentencePiece-family) segmentation of the corpus
    * vocabulary: piece inventory = every character + the top-12 bigrams
    * + top-8 trigrams by occurrence-weighted frequency, then the exact
    * Viterbi DP per distinct word — see [[graft.ops.Unigram]]. Output is
    * the tokenizer's encode table: word, corpus count, piece count,
    * score mass, and the segmentation itself. */
  val q158UnigramSegment: Q = (spark, dir) => {
    val wc = graft.ops.Vocab.wordCounts(Tables.documents(spark, dir), "text")
      .localCheckpoint(false)
    // the piece inventory is an ARTIFACT (charset + top-N grams, ≤ ~50
    // rows by construction), not data — collecting it feeds the fused
    // single-job DP (the q149 keptMs contract); the generic round-frame
    // spelling stays the spec-tested reference (UnigramSpec fused ≡
    // generic)
    val vocab = graft.ops.Unigram.pieceVocab(wc, "word", "cnt",
        UniBigrams, UniTrigrams)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Unigram.viterbiSegmentFused(wc, "word", vocab, UniMaxLen)
      .join(wc, Seq("word"))
      .select(col("word"), col("cnt"), col("n_pieces"), col("score_sum"),
        col("seg"))
      .orderBy("word")
  }

  val q158Sql: String = {
    val S = graft.ops.Unigram.Scale
    val dpRounds = (1 to UniMaxLen).map { p =>
      val arms = (1 to math.min(3, p)).map { l =>
        s"""SELECT d.w, d.cost + $S - v.score AS cost, ${p - l}::BIGINT AS bj
           |        FROM dp${p - l} d JOIN vocab v
           |          ON v.piece = substr(d.w, ${p - l + 1}, $l)
           |        WHERE len(d.w) >= $p""".stripMargin
      }.mkString("\n        UNION ALL\n        ")
      s"""dp$p AS MATERIALIZED (SELECT w, cost, bj FROM (
         |    SELECT w, cost, bj,
         |      row_number() OVER (PARTITION BY w ORDER BY cost, bj) AS rk
         |    FROM ($arms)) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dpAll = (1 to UniMaxLen).map(p =>
      s"SELECT w, $p::BIGINT AS p, cost, bj FROM dp$p")
      .mkString("\n  UNION ALL\n  ")
    val btRounds = (1 to UniMaxLen).map { r =>
      s"""bt$r AS MATERIALIZED (SELECT b.w,
         |    CASE WHEN b.pos = 0 THEN 0 ELSE d.bj END AS pos,
         |    CASE WHEN b.pos = 0 THEN b.seg
         |         ELSE substr(b.w, (d.bj + 1)::INT, (b.pos - d.bj)::INT) ||
         |              CASE WHEN b.seg = '' THEN '' ELSE ' ' END || b.seg
         |    END AS seg
         |  FROM bt${r - 1} b LEFT JOIN dpall d ON d.w = b.w AND d.p = b.pos)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH wt AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> '' GROUP BY 1),
       |g1 AS (SELECT substr(w, i, 1) AS piece, sum(cnt)::BIGINT AS score
       |  FROM wt, unnest(generate_series(1, len(w))) AS t(i) GROUP BY 1),
       |g2 AS (SELECT piece, sum(cnt)::BIGINT AS score FROM (
       |    SELECT substr(w, i, 2) AS piece, cnt FROM wt,
       |      unnest(generate_series(1, len(w) - 1)) AS t(i)
       |    WHERE len(w) >= 2) GROUP BY 1),
       |g3 AS (SELECT piece, sum(cnt)::BIGINT AS score FROM (
       |    SELECT substr(w, i, 3) AS piece, cnt FROM wt,
       |      unnest(generate_series(1, len(w) - 2)) AS t(i)
       |    WHERE len(w) >= 3) GROUP BY 1),
       |b2 AS (SELECT piece, score FROM (
       |    SELECT piece, score,
       |      row_number() OVER (ORDER BY score DESC, piece) AS rk FROM g2)
       |  WHERE rk <= $UniBigrams),
       |b3 AS (SELECT piece, score FROM (
       |    SELECT piece, score,
       |      row_number() OVER (ORDER BY score DESC, piece) AS rk FROM g3)
       |  WHERE rk <= $UniTrigrams),
       |vocab AS MATERIALIZED (SELECT * FROM g1
       |  UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3),
       |wf AS MATERIALIZED (SELECT w, cnt FROM wt WHERE len(w) <= $UniMaxLen),
       |dp0 AS (SELECT w, 0::BIGINT AS cost FROM wf),
       |$dpRounds,
       |dpall AS MATERIALIZED (
       |  $dpAll),
       |bt0 AS (SELECT w, len(w)::BIGINT AS pos, '' AS seg FROM wf),
       |$btRounds
       |SELECT f.w AS word, t.cnt,
       |  ((f.cost + ${S - 1}) // $S)::BIGINT AS n_pieces,
       |  (((f.cost + ${S - 1}) // $S) * $S - f.cost)::BIGINT AS score_sum,
       |  b.seg
       |FROM dpall f JOIN wf t ON t.w = f.w AND f.p = len(t.w)
       |JOIN bt$UniMaxLen b ON b.w = f.w
       |ORDER BY word""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q153_pass_at_k", q153PassAtK, q153Sql),
    QueryDef("q154_prefix_cache", q154PrefixCache, q154Sql),
    QueryDef("q155_best_of_n", q155BestOfN, q155Sql),
    QueryDef("q156_doremi_weights", q156DoremiWeights, q156Sql),
    QueryDef("q157_bitext_mining", q157BitextMining, q157Sql),
    QueryDef("q158_unigram_segment", q158UnigramSegment, q158Sql))
}
