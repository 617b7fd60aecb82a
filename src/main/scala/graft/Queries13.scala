package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Preference

/** Thirteenth query wave: post-training data prep and index compression —
  * RLHF/DPO preference-pair construction from reward-ranked candidates
  * (q147), usage-based BPE vocabulary pruning with its re-encode
  * inflation report (q148/q149), and product-quantization ANN
  * (codebooks / ADC search / recall audit, q150–q152). Same determinism
  * rules as [[Queries]]: integer micro-unit rewards, total-order window
  * tiebreaks, every derived numeric cast to long.
  */
object Queries13 {

  // ------------------------------------- preference-pair construction
  /** DPO data prep over the documents corpus: candidates group into
    * prompts (doc_id % 25 — the q05-style synthetic grouping), the reward
    * is the q21 integer quality score, and pairs come from
    * [[graft.ops.Preference.pairsFromRanked]] — mirrored best-vs-worst,
    * margin ≥ 0.01 (10 000 µ), at most 4 pairs per prompt. Output hashes
    * the full pair artifact: ids, both rewards, and the margin. */
  val q147PreferencePairs: Q = (spark, dir) =>
    qualityPairs(Tables.documents(spark, dir))
      .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
        col("chosen_e6"), col("rejected_e6"), col("margin_e6"))
      .orderBy("prompt_id", "chosen_id")

  /** Preference pairs from 25 prompts' candidate docs ranked by q21
    * quality, margin at least 0.01, at most 4 per prompt (q147, q163,
    * q223). */
  private[graft] def qualityPairs(docs: DataFrame): DataFrame =
    Preference.pairsFromRanked(
      docs.select((col("doc_id") % 25L).as("prompt_id"), col("doc_id"),
        graft.functions.TextFns.qualityScoreMicro(col("text")).as("quality_e6")),
      "prompt_id", "doc_id", "quality_e6", minMargin = 10000L, maxPairs = 4)

  /** q147's oracle pair-construction CTEs, shared with q163's
    * Bradley-Terry leaderboard (ends at `pairs`). */
  private[graft] val PrefPairCtes: String =
    s"""cand AS (SELECT doc_id % 25 AS prompt_id, doc_id,
       |    ${Queries2.QualitySqlExpr} AS quality_e6
       |  FROM documents),
       |rk AS (SELECT prompt_id, doc_id, quality_e6,
       |    row_number() OVER (PARTITION BY prompt_id
       |                       ORDER BY quality_e6 DESC, doc_id ASC) AS rb,
       |    row_number() OVER (PARTITION BY prompt_id
       |                       ORDER BY quality_e6 ASC, doc_id DESC) AS rw
       |  FROM cand),
       |pairs AS (SELECT c.prompt_id,
       |    c.doc_id AS chosen_id, r.doc_id AS rejected_id,
       |    c.quality_e6 AS chosen_e6, r.quality_e6 AS rejected_e6,
       |    (c.quality_e6 - r.quality_e6)::BIGINT AS margin_e6
       |  FROM rk c JOIN rk r ON r.prompt_id = c.prompt_id AND r.rw = c.rb
       |  WHERE c.rb <= 4 AND c.quality_e6 - r.quality_e6 >= 10000)""".stripMargin

  val q147Sql: String =
    s"""WITH $PrefPairCtes
       |SELECT prompt_id, chosen_id, rejected_id, chosen_e6, rejected_e6,
       |  margin_e6
       |FROM pairs ORDER BY prompt_id, chosen_id""".stripMargin

  // --------------------------------------- BPE vocabulary pruning
  private val Rounds = Queries10.Rounds

  /** Usage-based tokenizer pruning: train on the 90% split (the q125
    * split), count how often each learned merge FIRES when the held-out
    * 10% is encoded ([[graft.ops.Bpe.mergeUsage]]), keep the 3 most-used
    * merges plus their producer closure
    * ([[graft.ops.Bpe.pruneByUsage]]). Output: the annotated merge
    * table — the artifact a vocab-budget review reads. */
  val q148VocabPrune: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val (mergesDf, _) = graft.ops.Bpe.learn(
      docs.filter(col("doc_id") % 10 =!= 3L), "text", Rounds)
    val ms = graft.ops.Bpe.mergeSeq(mergesDf)
    val usage = graft.ops.Bpe.mergeUsage(
      docs.filter(col("doc_id") % 10 === 3L), "text", ms)
    graft.ops.Bpe.pruneByUsage(mergesDf, usage, keep = 3)
      .orderBy("merge_round")
  }

  /** Shared pruning oracle prefix: the q125 training chain (90% split) →
    * the held-out word frame `hw` → the full encode chain `ov1..ovR`
    * (ALL held-out words, not just OOV — usage needs every application)
    * → per-round usage `us` → the kept set `k$R` (top-3 seeds + producer
    * closure, unrolled `R` fixpoint steps — closure depth is bounded by
    * the merge count). */
  private val PruneCtes: String = {
    val segRounds = (1 to Rounds).map(Queries10.segRoundSql).mkString(",\n")
    val usage = (1 to Rounds).map(k =>
      s"""SELECT $k::BIGINT AS merge_round,
         |    (SELECT coalesce(sum(h.cnt), 0) FROM cc$k c
         |     JOIN hw h USING (w))::BIGINT AS n_applied""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    val allm = (1 to Rounds).map(k =>
      s"SELECT $k::BIGINT AS merge_round, l, r FROM m$k")
      .mkString("\n  UNION ALL\n  ")
    val closure = (1 to Rounds).map(i =>
      s"""k$i AS (SELECT merge_round FROM k${i - 1} UNION
         |  SELECT m2.merge_round FROM allm m2
         |  JOIN allm m1 ON m2.merge_round < m1.merge_round
         |    AND (m2.l || m2.r = m1.l OR m2.l || m2.r = m1.r)
         |  JOIN k${i - 1} kk ON kk.merge_round = m1.merge_round)""".stripMargin)
      .mkString(",\n")
    s"""${Queries10.trainCtes("WHERE doc_id % 10 != 3")},
       |hw AS MATERIALIZED (SELECT tok AS w, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |        FROM documents WHERE doc_id % 10 = 3)
       |  WHERE tok <> '' GROUP BY 1),
       |ov0 AS MATERIALIZED (SELECT w,
       |    regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS sym
       |  FROM hw),
       |$segRounds,
       |us AS MATERIALIZED (
       |  $usage),
       |allm AS MATERIALIZED (
       |  $allm),
       |sd AS (SELECT merge_round,
       |    row_number() OVER (ORDER BY n_applied DESC, merge_round) AS rr
       |  FROM us),
       |k0 AS (SELECT merge_round FROM sd WHERE rr <= 3),
       |$closure""".stripMargin
  }

  val q148Sql: String =
    s"""WITH $PruneCtes
       |SELECT a.merge_round, a.l AS left_sym, a.r AS right_sym,
       |  u.n_applied,
       |  (a.merge_round IN (SELECT merge_round FROM k$Rounds)) AS kept
       |FROM allm a JOIN us u USING (merge_round)
       |ORDER BY a.merge_round""".stripMargin

  /** One PRUNED encode round: [[Queries10.segRoundSql]]'s structure with
    * the round's merge gated on kept-set membership (`pm$$k`) — a pruned
    * round matches no positions and passes the symbol state through
    * unchanged, so the chain shape stays static while the kept set stays
    * data-dependent. */
  private def prunedRoundSql(k: Int): String = {
    val prev = s"pv${k - 1}"
    s"""pm$k AS MATERIALIZED (SELECT l, r FROM m$k
       |  WHERE $k IN (SELECT merge_round FROM k$Rounds)),
       |qp$k AS MATERIALIZED (SELECT w, string_split(sym, ' ') AS syms FROM $prev),
       |qq$k AS MATERIALIZED (SELECT w, syms, i, syms[i] AS s
       |  FROM qp$k, unnest(generate_series(1, len(syms))) AS g(i)),
       |qd$k AS MATERIALIZED (SELECT p.w, p.i FROM qq$k p, pm$k m
       |  WHERE p.i < len(p.syms) AND p.s = m.l AND p.syms[p.i + 1] = m.r),
       |qi$k AS MATERIALIZED (SELECT w, i, row_number() OVER (PARTITION BY w, g ORDER BY i) AS rn
       |  FROM (SELECT w, i,
       |          i - row_number() OVER (PARTITION BY w ORDER BY i) AS g
       |        FROM qd$k)),
       |qc$k AS MATERIALIZED (SELECT w, i FROM qi$k WHERE rn % 2 = 1),
       |pv$k AS MATERIALIZED (SELECT q.w, string_agg(q.o, ' ' ORDER BY q.i) AS sym
       |  FROM (SELECT p.w, p.i,
       |          CASE WHEN c1.i IS NOT NULL THEN (SELECT l || r FROM pm$k)
       |               ELSE p.s END AS o
       |        FROM qq$k p
       |        LEFT JOIN qc$k c1 ON c1.w = p.w AND c1.i = p.i
       |        LEFT JOIN qc$k c2 ON c2.w = p.w AND c2.i = p.i - 1
       |        WHERE c2.i IS NULL) q
       |  GROUP BY q.w)""".stripMargin
  }

  /** The pruning IMPACT report: re-encode the held-out split under the
    * kept merges only and compare against the full tokenizer — per
    * held-out document, token count, symbol totals under both merge
    * tables, and `inflation_ppm = n_sym_pruned · 1e6 div n_sym_full`
    * (≥ 1e6 by construction: pruning can only lengthen encodings). The
    * cost-model every vocab-budget decision weighs: artifact size saved
    * vs sequence length paid. */
  val q149PruneImpact: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val held = docs.filter(col("doc_id") % 10 === 3L)
    val (mergesDf, _) = graft.ops.Bpe.learn(
      docs.filter(col("doc_id") % 10 =!= 3L), "text", Rounds)
    val ms = graft.ops.Bpe.mergeSeq(mergesDf)
    val usage = graft.ops.Bpe.mergeUsage(held, "text", ms)
    // kept-round collect: loop control over the artifact-sized merge
    // table (the mergeSeq contract), not data movement
    val keptRounds = graft.ops.Bpe.pruneByUsage(mergesDf, usage, keep = 3)
      .filter(col("kept")).select(col("merge_round"))
      .collect().map(_.getLong(0)).toSet
    val keptMs = ms.zipWithIndex.collect {
      case (p, i) if keptRounds(i + 1L) => p }
    // one tokenization pass feeds BOTH encode chains
    val hv = graft.ops.Vocab.wordCounts(held, "text")
      .select(col("word").as("w")).localCheckpoint(false)
    val full = graft.ops.Bpe.segmentWords(hv, "w", ms)
      .select(col("w"), size(split(col("sym"), " ")).cast("long").as("n_full"))
    val pruned = graft.ops.Bpe.segmentWords(hv, "w", keptMs)
      .select(col("w"), size(split(col("sym"), " ")).cast("long").as("n_pruned"))
    val toks = held.select(col("doc_id"),
      explode(filter(graft.functions.TextFns.wordTokens(col("text")),
        t => t =!= "")).as("w"))
    val agg = toks.join(full, Seq("w")).join(pruned, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_full")).as("n_sym_full"),
        sum(col("n_pruned")).as("n_sym_pruned"))
    held.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_sym_full"), lit(0L)).as("n_sym_full"),
        coalesce(col("n_sym_pruned"), lit(0L)).as("n_sym_pruned"))
      .withColumn("inflation_ppm",
        when(col("n_sym_full") === 0L, lit(0L))
          .otherwise(expr("n_sym_pruned * 1000000L div n_sym_full")))
      .orderBy("doc_id")
  }

  val q149Sql: String = {
    val prunedRounds = (1 to Rounds).map(prunedRoundSql).mkString(",\n")
    s"""WITH $PruneCtes,
       |pv0 AS (SELECT w, sym FROM ov0),
       |$prunedRounds,
       |fc AS (SELECT w, len(string_split(sym, ' '))::BIGINT AS n_full FROM ov$Rounds),
       |pc AS (SELECT w, len(string_split(sym, ' '))::BIGINT AS n_pruned FROM pv$Rounds),
       |ht AS MATERIALIZED (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents WHERE doc_id % 10 = 3) WHERE w <> ''),
       |ag AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(f.n_full)::BIGINT AS n_sym_full,
       |    sum(p.n_pruned)::BIGINT AS n_sym_pruned
       |  FROM ht t JOIN fc f USING (w) JOIN pc p USING (w) GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(a.n_sym_full, 0)::BIGINT AS n_sym_full,
       |  coalesce(a.n_sym_pruned, 0)::BIGINT AS n_sym_pruned,
       |  (CASE WHEN coalesce(a.n_sym_full, 0) = 0 THEN 0
       |        ELSE a.n_sym_pruned * 1000000 // a.n_sym_full END)::BIGINT AS inflation_ppm
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 3) d
       |LEFT JOIN ag a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------- product quantization (PQ)
  private val PqSubDim = 16 // 64-dim embeddings → m = 4 subspaces
  private val PqK = 8
  private val PqRounds = 3
  private val PqTopK = 10

  /** PQ codebook health report: train per-subspace codebooks
    * ([[graft.ops.Pq.train]] — one grouped integer Lloyd's over all
    * subspaces), encode the corpus, and report per (subspace, code) the
    * population and total quantization distortion — the table an index
    * operator reads before shipping a codebook (empty or overloaded
    * codes mean a bad split). */
  val q150PqCodebook: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val (_, codes) = graft.ops.Pq.train(e, "vec_id", "embedding",
      PqSubDim, PqK, PqRounds)
    codes.groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("dist2")).as("distortion"))
      .orderBy("sub", "code")
  }

  /** Shared PQ oracle prefix: quantized sub-vector points, md5-scatter
    * seeds, `PqRounds` unrolled grouped-Lloyd's cycles (the q31 chain
    * with (sub) riding every key), final encode `fin`. */
  private val PqCtes: String = {
    def assignSql(cents: String): String =
      s"""SELECT id, sub, j, dist2 FROM (
         |    SELECT id, sub, j, dist2,
         |      row_number() OVER (PARTITION BY id, sub ORDER BY dist2, j) AS rk
         |    FROM (SELECT p.id, p.sub, c.j,
         |            sum((p.q - c.c) * (p.q - c.c))::BIGINT AS dist2
         |          FROM pts p JOIN $cents c ON c.sub = p.sub AND c.dloc = p.dloc
         |          GROUP BY 1, 2, 3)) WHERE rk = 1""".stripMargin
    val roundsSql = (1 until PqRounds).map { r =>
      s"""a$r AS MATERIALIZED (${assignSql(s"c${r - 1}")}),
         |c$r AS MATERIALIZED (SELECT sub, j, dloc,
         |    ((s - ((s % n) + n) % n) // n)::BIGINT AS c
         |  FROM (SELECT a.sub, a.j, p.dloc, sum(p.q)::BIGINT AS s,
         |          count(*)::BIGINT AS n
         |        FROM pts p JOIN a$r a ON a.id = p.id AND a.sub = p.sub
         |        GROUP BY 1, 2, 3)),""".stripMargin
    }.mkString("\n")
    s"""pts AS MATERIALIZED (SELECT vec_id AS id,
       |    ((d - 1) // $PqSubDim)::BIGINT AS sub,
       |    ((d - 1) % $PqSubDim)::BIGINT AS dloc,
       |    floor(embedding[d]::DOUBLE * 1000 + 0.5)::BIGINT AS q
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(d)),
       |c0 AS MATERIALIZED (SELECT s.j, p.sub, p.dloc, p.q AS c
       |  FROM (SELECT id,
       |          (row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1)::BIGINT AS j
       |        FROM (SELECT vec_id AS id FROM embeddings
       |              ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqK)) s
       |  JOIN pts p USING (id)),
       |$roundsSql
       |fin AS MATERIALIZED (${assignSql(s"c${PqRounds - 1}")})""".stripMargin
  }

  val q150Sql: String =
    s"""WITH $PqCtes
       |SELECT sub, j AS code, count(*)::BIGINT AS n_vectors,
       |  sum(dist2)::BIGINT AS distortion
       |FROM fin GROUP BY 1, 2 ORDER BY sub, code""".stripMargin

  /** ADC top-10 search: the q151 query sample (vec_id % 100 = 7 — a
    * bounded sample by contract, the q122 discipline) scored against the
    * PQ-encoded corpus via per-subspace distance tables — see
    * [[graft.ops.Pq.adcTopK]]. The whole search is an equi-join on
    * (subspace, code) + an integer sum; no float kernel touches the
    * corpus. */
  val q151PqAdcTopk: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val (cents, codes) = graft.ops.Pq.train(e, "vec_id", "embedding",
      PqSubDim, PqK, PqRounds)
    val queries = e.filter(col("vec_id") % 100L === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    graft.ops.Pq.adcTopK(codes, "vec_id", cents, queries, "q_id", "qvec",
        PqSubDim, PqTopK)
      .orderBy("q_id", "rank")
  }

  /** Query-side oracle CTEs shared by q151/q152: distance tables `dt`,
    * ADC scores `sc`, ADC ranking `rk`. */
  private val PqAdcCtes: String =
    s"""qs AS (SELECT id AS q_id, sub, dloc, q FROM pts WHERE id % 100 = 7),
       |dt AS MATERIALIZED (SELECT s.q_id, s.sub, c.j AS code,
       |    sum((s.q - c.c) * (s.q - c.c))::BIGINT AS pd
       |  FROM qs s JOIN c${PqRounds - 1} c
       |    ON c.sub = s.sub AND c.dloc = s.dloc
       |  GROUP BY 1, 2, 3),
       |sc AS MATERIALIZED (SELECT d.q_id, f.id AS vec_id,
       |    sum(d.pd)::BIGINT AS adc_dist2
       |  FROM fin f JOIN dt d ON d.sub = f.sub AND d.code = f.j
       |  WHERE f.id != d.q_id GROUP BY 1, 2),
       |rk AS (SELECT q_id, vec_id, adc_dist2,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY adc_dist2, vec_id) AS rank
       |  FROM sc)""".stripMargin

  val q151Sql: String =
    s"""WITH $PqCtes,
       |$PqAdcCtes
       |SELECT q_id, rank::BIGINT AS rank, vec_id, adc_dist2
       |FROM rk WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  /** PQ recall governance: ADC top-10 audited against exact integer-L2
    * top-10 on the same quantized grid, per query, truncation-aware
    * denominator — see [[graft.ops.Pq.recallAudit]]. The number that
    * decides whether a codebook ships. */
  val q152PqRecall: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") % 100L === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    graft.ops.Pq.recallAudit(e, "vec_id", "embedding", queries, "q_id",
        "qvec", PqSubDim, PqK, PqRounds, PqTopK)
      .orderBy("q_id")
  }

  val q152Sql: String =
    s"""WITH $PqCtes,
       |$PqAdcCtes,
       |ex AS MATERIALIZED (SELECT s.q_id, p.id AS vec_id,
       |    sum((p.q - s.q) * (p.q - s.q))::BIGINT AS dist2
       |  FROM pts p JOIN qs s ON s.sub = p.sub AND s.dloc = p.dloc
       |  WHERE p.id != s.q_id GROUP BY 1, 2),
       |exr AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY dist2, vec_id) AS rank
       |    FROM ex) WHERE rank <= $PqTopK),
       |adcr AS (SELECT q_id, vec_id FROM rk WHERE rank <= $PqTopK),
       |ne AS (SELECT q_id, count(*)::BIGINT AS n_exact FROM exr GROUP BY 1),
       |nh AS (SELECT a.q_id, count(*)::BIGINT AS n_hits
       |  FROM adcr a JOIN exr e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  GROUP BY 1)
       |SELECT ne.q_id, coalesce(nh.n_hits, 0)::BIGINT AS n_hits, ne.n_exact,
       |  (coalesce(nh.n_hits, 0) * 1000000
       |     // least($PqTopK, ne.n_exact))::BIGINT AS recall_ppm
       |FROM ne LEFT JOIN nh USING (q_id) ORDER BY ne.q_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q147_preference_pairs", q147PreferencePairs, q147Sql),
    QueryDef("q148_vocab_prune", q148VocabPrune, q148Sql),
    QueryDef("q149_prune_impact", q149PruneImpact, q149Sql),
    QueryDef("q150_pq_codebook", q150PqCodebook, q150Sql),
    QueryDef("q151_pq_adc_topk", q151PqAdcTopk, q151Sql),
    QueryDef("q152_pq_recall", q152PqRecall, q152Sql))
}
