package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.TextFns
import graft.ops.{Dedup, RankEval, Sft}

/** Seventeenth query wave: eval/annotation governance and serving
  * acceptance analytics — self-consistency majority voting (q167), ECE
  * calibration bins (q168), Fleiss' kappa annotator agreement (q169),
  * speculative-decoding draft acceptance (q170) and edit-distance
  * confirmation of blocked near-dup candidates (q171). Same determinism
  * rules as [[Queries]]: integer micro-units throughout, deterministic
  * tie-breaks, truncate-toward-zero integer division in both engines
  * (verified for the one signed case, kappa).
  */
object Queries17 {

  // ------------------------------------------- self-consistency voting
  private val ScGroup = 8 // samples per synthetic task (doc_id div 8)

  /** Majority-vote answer selection over the q153 synthetic eval log:
    * tasks are doc_id div 8 blocks, the extracted "answer" is the q21
    * quality score's 100k-wide bucket, and the gold reference is the
    * FIRST sample's answer (greedy decode) — so the artifact measures
    * how often voting agrees with greedy, per task. See
    * [[graft.ops.RankEval.selfConsistency]]. */
  val q167SelfConsistency: Q = (spark, dir) => {
    val base = Tables.documents(spark, dir).select(
      expr(s"doc_id div $ScGroup").as("task_id"), col("doc_id"),
      TextFns.qualityScoreMicro(col("text")).as("q"))
    val samples = base
      .withColumn("answer", expr("q div 100000"))
      .withColumn("gold", first(col("answer"))
        .over(Window.partitionBy(col("task_id")).orderBy(col("doc_id"))))
    RankEval.selfConsistency(samples, "task_id", "answer", "gold")
      .orderBy("task_id")
  }

  val q167Sql: String =
    s"""WITH s AS (SELECT doc_id // $ScGroup AS task_id, doc_id,
       |    ${Queries2.QualitySqlExpr} // 100000 AS answer
       |  FROM documents),
       |g AS (SELECT task_id, answer,
       |    first_value(answer) OVER (PARTITION BY task_id ORDER BY doc_id)
       |      AS gold
       |  FROM s),
       |v AS (SELECT task_id, answer, min(gold) AS gold,
       |    count(*)::BIGINT AS nv
       |  FROM g GROUP BY 1, 2),
       |r AS (SELECT task_id, answer, gold, nv,
       |    row_number() OVER (PARTITION BY task_id
       |      ORDER BY nv DESC, answer ASC) AS rn,
       |    sum(nv) OVER (PARTITION BY task_id) AS n_samples,
       |    count(*) OVER (PARTITION BY task_id) AS n_distinct_answers,
       |    sum(CASE WHEN answer = gold THEN nv ELSE 0 END)
       |      OVER (PARTITION BY task_id) AS ncorr
       |  FROM v)
       |SELECT task_id, n_samples::BIGINT AS n_samples,
       |  n_distinct_answers::BIGINT AS n_distinct_answers,
       |  answer AS majority_answer, nv AS majority_n,
       |  (nv * 1000000 // n_samples)::BIGINT AS majority_share_ppm,
       |  (ncorr * 1000000 // n_samples)::BIGINT AS sample_correct_ppm,
       |  gold, (answer = gold) AS majority_correct
       |FROM r WHERE rn = 1 ORDER BY task_id""".stripMargin

  // ------------------------------------------------- ECE calibration
  private val EceBins = 10
  private val EceLenFloor = 256L

  /** Calibration of the q21 quality score read as a confidence that a
    * document clears the 256-char substance floor: 10 confidence deciles,
    * per-bin confidence-vs-accuracy gap, global ECE — see
    * [[graft.ops.RankEval.calibrationBins]]. */
  val q168Ece: Q = (spark, dir) => {
    val preds = Tables.documents(spark, dir).select(
      TextFns.qualityScoreMicro(col("text")).as("conf_ppm"), col("n_chars"))
    RankEval.calibrationBins(preds, "conf_ppm",
        col("n_chars") >= EceLenFloor, EceBins)
      .orderBy("bin")
  }

  val q168Sql: String =
    s"""WITH p AS (SELECT ${Queries2.QualitySqlExpr} AS conf,
       |    (n_chars >= $EceLenFloor) AS ok
       |  FROM documents),
       |a AS (SELECT least(conf // 100000, ${EceBins - 1})::BIGINT AS bin,
       |    count(*)::BIGINT AS n_preds, sum(conf)::BIGINT AS sc,
       |    sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS nc
       |  FROM p GROUP BY 1),
       |b AS (SELECT bin, n_preds,
       |    (sc // n_preds)::BIGINT AS avg_conf_ppm,
       |    (nc * 1000000 // n_preds)::BIGINT AS acc_ppm
       |  FROM a)
       |SELECT bin, n_preds, avg_conf_ppm, acc_ppm,
       |  abs(acc_ppm - avg_conf_ppm)::BIGINT AS gap_ppm,
       |  (sum(n_preds * abs(acc_ppm - avg_conf_ppm)) OVER ()
       |     // sum(n_preds) OVER ())::BIGINT AS ece_ppm
       |FROM b ORDER BY bin""".stripMargin

  // -------------------------------------------- Fleiss' kappa agreement
  private val KappaBatch = 64 // items per annotation batch

  /** Inter-annotator agreement per 64-item annotation batch: three
    * synthetic raters label each document with its quality quartile, each
    * rater flipping deterministically on its own (doc_id + 7r) % 5 grid —
    * see [[graft.ops.RankEval.fleissKappa]]. */
  val q169FleissKappa: Q = (spark, dir) => {
    val ratings = Tables.documents(spark, dir)
      .select(expr(s"doc_id div $KappaBatch").as("batch_id"), col("doc_id"),
        TextFns.qualityScoreMicro(col("text")).as("q"),
        explode(sequence(lit(0L), lit(2L))).as("rater"))
      .withColumn("base", least(expr("q div 250000"), lit(3L)))
      .withColumn("label",
        when(expr("(doc_id + 7L * rater) % 5L") === 0L,
          expr("(base + 1L + rater) % 4L")).otherwise(col("base")))
    RankEval.fleissKappa(ratings, "batch_id", "doc_id", "label")
      .orderBy("batch_id")
  }

  val q169Sql: String =
    s"""WITH q AS (SELECT doc_id,
       |    least(${Queries2.QualitySqlExpr} // 250000, 3) AS base
       |  FROM documents),
       |r AS (SELECT doc_id // $KappaBatch AS batch_id, doc_id,
       |    CASE WHEN (doc_id + 7 * u.r) % 5 = 0
       |         THEN (base + 1 + u.r) % 4 ELSE base END AS label
       |  FROM q, unnest(generate_series(0, 2)) AS u(r)),
       |c AS (SELECT batch_id, doc_id, label, count(*)::BIGINT AS nij
       |  FROM r GROUP BY 1, 2, 3),
       |i AS (SELECT batch_id, doc_id,
       |    sum(nij * (nij - 1))::BIGINT AS pairs, sum(nij)::BIGINT AS ni
       |  FROM c GROUP BY 1, 2),
       |i2 AS (SELECT batch_id,
       |    (pairs * 1000000 // (ni * (ni - 1)))::BIGINT AS poi, ni
       |  FROM i WHERE ni >= 2),
       |po AS (SELECT batch_id, count(*)::BIGINT AS n_items,
       |    sum(ni)::BIGINT AS n_ratings,
       |    (sum(poi) // count(*))::BIGINT AS po_ppm
       |  FROM i2 GROUP BY 1),
       |l AS (SELECT batch_id, label, sum(nij)::BIGINT AS nj
       |  FROM c GROUP BY 1, 2),
       |l2 AS (SELECT batch_id, nj,
       |    sum(nj) OVER (PARTITION BY batch_id) AS tot
       |  FROM l),
       |pe AS (SELECT batch_id,
       |    sum((nj * 1000000 // tot) * (nj * 1000000 // tot)
       |        // 1000000)::BIGINT AS pe_ppm
       |  FROM l2 GROUP BY 1)
       |SELECT po.batch_id, n_items, n_ratings, po_ppm, pe_ppm,
       |  (CASE WHEN pe_ppm = 1000000 THEN 1000000
       |        ELSE (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
       |   END)::BIGINT AS kappa_ppm
       |FROM po JOIN pe USING (batch_id) ORDER BY po.batch_id""".stripMargin

  // ------------------------------------ speculative-decoding acceptance
  private val SpecGamma = 4 // drafted tokens per decoding step
  private val SpecSkip = 7L // draft diverges at every 7th grid position

  /** Draft-model acceptance over the unified word-token stream: the
    * target stream is q119's wordTokens contract, the draft corrupts
    * every position on the (pos + doc_id) % 7 grid, and the report prices
    * gamma=4 speculative decoding per document — see
    * [[graft.ops.Sft.speculativeAcceptance]]. */
  val q170SpecDecode: Q = (spark, dir) => {
    val seqs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.wordTokens(col("text")).as("target"))
      .withColumn("draft", transform(col("target"),
        (x, i) => when((i.cast("long") + col("doc_id")) % SpecSkip === 0L,
          concat(x, lit("~"))).otherwise(x)))
    Sft.speculativeAcceptance(seqs, "doc_id", "draft", "target", SpecGamma)
      .orderBy("doc_id")
  }

  val q170Sql: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |m AS (SELECT doc_id, g.i - 1 AS pos,
       |    NOT ((g.i - 1 + doc_id) % $SpecSkip = 0) AS mt
       |  FROM t, unnest(generate_series(1, len(tk))) AS g(i)),
       |b AS (SELECT doc_id, pos // $SpecGamma AS blk,
       |    count(*)::BIGINT AS bn,
       |    sum(CASE WHEN mt THEN 1 ELSE 0 END)::BIGINT AS nm,
       |    min(CASE WHEN NOT mt THEN pos % $SpecGamma END)::BIGINT AS miss
       |  FROM m GROUP BY 1, 2),
       |d AS (SELECT doc_id, count(*)::BIGINT AS n_steps,
       |    sum(bn)::BIGINT AS n_tokens, sum(nm)::BIGINT AS n_match,
       |    sum(coalesce(miss, bn))::BIGINT AS accepted
       |  FROM b GROUP BY 1)
       |SELECT doc_id, n_tokens, n_match,
       |  (n_match * 1000000 // n_tokens)::BIGINT AS match_ppm,
       |  n_steps, accepted AS accepted_tokens,
       |  (accepted + n_steps)::BIGINT AS produced_tokens,
       |  (accepted * 1000000 // n_steps)::BIGINT AS mean_accept_ppm,
       |  ((accepted + n_steps) * 1000000 // n_steps)::BIGINT AS speedup_ppm
       |FROM d ORDER BY doc_id""".stripMargin

  // --------------------------------------- edit-distance confirmation
  private val EditHamming = 6L
  private val EditMinSim = 900000L

  /** Exact-stage confirmation of the SimHash blocking pipeline: q73's
    * bucket candidates widened to hamming ≤ 6, then Levenshtein-verified
    * at 0.9 normalized similarity over ASCII-normalized text — rejected
    * pairs stay in the artifact as the blocking stage's false-positive
    * audit. See [[graft.ops.Dedup.editConfirmPairs]]. */
  val q171EditConfirm: Q = (spark, dir) =>
    q171EditConfirmWith(spark, dir, prefixBits = 8)

  /** q171 at a caller-chosen SimHash bucket resolution — the scale knob
    * (`Dedup.simHashBitsFor`); the registered query binds the fixture's
    * 8 bits, VerifyScaled re-derives bits from the scaled corpus. */
  private[graft] def q171EditConfirmWith(spark: SparkSession, dir: String,
      prefixBits: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fp = Dedup.simHashFingerprintsMd5(docs, "doc_id", "text", prefixBits)
    val a = fp.select(col("bucket"), col("doc_id").as("id_a"),
      col("simhash").as("sh_a"))
    val b = fp.select(col("bucket"), col("doc_id").as("id_b"),
      col("simhash").as("sh_b"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= EditHamming)
    Dedup.editConfirmPairs(pairs, "id_a", "id_b",
        docs, "doc_id", "text", EditMinSim)
      .orderBy("id_a", "id_b")
  }

  val q171Sql: String = q171SqlWith(prefixBits = 8)

  private[graft] def q171SqlWith(prefixBits: Int): String =
    s"""WITH ${Queries2.simHashCteWith(prefixBits)},
       |nrm AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
       |      '[^\\x20-\\x7e]', '', 'g') AS nt
       |  FROM documents),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |  FROM fp a JOIN fp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $EditHamming),
       |ev AS (SELECT c.id_a, c.id_b, c.hamming,
       |    levenshtein(x.nt, y.nt)::BIGINT AS dist,
       |    greatest(length(x.nt), length(y.nt))::BIGINT AS mx
       |  FROM cand c JOIN nrm x ON x.doc_id = c.id_a
       |  JOIN nrm y ON y.doc_id = c.id_b)
       |SELECT id_a, id_b, hamming, dist,
       |  (CASE WHEN mx = 0 THEN 1000000
       |        ELSE 1000000 - dist * 1000000 // mx END)::BIGINT AS sim_ppm,
       |  ((CASE WHEN mx = 0 THEN 1000000
       |         ELSE 1000000 - dist * 1000000 // mx END) >= $EditMinSim)
       |    AS keep
       |FROM ev ORDER BY id_a, id_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q167_self_consistency", q167SelfConsistency, q167Sql),
    QueryDef("q168_ece", q168Ece, q168Sql),
    QueryDef("q169_fleiss_kappa", q169FleissKappa, q169Sql),
    QueryDef("q170_spec_decode", q170SpecDecode, q170Sql),
    QueryDef("q171_edit_confirm", q171EditConfirm, q171Sql))
}
