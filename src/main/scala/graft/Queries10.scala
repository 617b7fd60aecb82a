package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Bpe

/** Tenth query wave: tokenizer TRAINING — distributed BPE merge learning
  * over the documents corpus (q120) and the corpus-side segmentation /
  * compression report under the learned merges (q121). Both integer-exact:
  * the oracle unrolls the merge rounds as CTE chains (the q31 Lloyd's
  * technique), so labels, counts and the learned merge table itself
  * hash-compare bit for bit against DuckDB.
  */
object Queries10 {

  private[graft] val Rounds = 6

  // ------------------------------------------------- BPE merge learning
  /** The learned merge table: `Rounds` rounds of (most frequent adjacent
    * symbol pair → merge), ties to the binary-smallest (l, r). See
    * [[graft.ops.Bpe.learn]] for the scale shape (one corpus shuffle, then
    * vocab-only rounds). */
  val q120BpeMerges: Q = (spark, dir) =>
    Bpe.learn(Tables.documents(spark, dir), "text", Rounds)._1
      .orderBy("merge_round")

  /** One round of the oracle's merge chain: pair counts over `w$prev`,
    * 1-row winner `m$k`, gaps-and-islands greedy application → `w$k`.
    * Candidate runs (overlap) only exist when l == r; `rn % 2 = 1` keeps
    * the 1st/3rd/5th… of each run — greedy left-to-right, exactly the
    * fused kernel's scan. */
  private def roundSql(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""s$k AS MATERIALIZED (SELECT w, cnt, string_split(sym, ' ') AS syms FROM $prev),
       |c$k AS MATERIALIZED (SELECT syms[i] AS l, syms[i + 1] AS r,
       |    sum(cnt)::BIGINT AS pair_cnt
       |  FROM s$k, unnest(generate_series(1, len(syms) - 1)) AS g(i)
       |  GROUP BY 1, 2),
       |m$k AS MATERIALIZED (SELECT l, r, pair_cnt FROM c$k
       |  ORDER BY pair_cnt DESC, l, r LIMIT 1),
       |p$k AS MATERIALIZED (SELECT w, cnt, syms, i, syms[i] AS s
       |  FROM s$k, unnest(generate_series(1, len(syms))) AS g(i)),
       |d$k AS MATERIALIZED (SELECT p.w, p.i FROM p$k p, m$k m
       |  WHERE p.i < len(p.syms) AND p.s = m.l AND p.syms[p.i + 1] = m.r),
       |i$k AS MATERIALIZED (SELECT w, i, row_number() OVER (PARTITION BY w, g ORDER BY i) AS rn
       |  FROM (SELECT w, i,
       |          i - row_number() OVER (PARTITION BY w ORDER BY i) AS g
       |        FROM d$k)),
       |ch$k AS MATERIALIZED (SELECT w, i FROM i$k WHERE rn % 2 = 1),
       |w$k AS MATERIALIZED (SELECT q.w, max(q.cnt) AS cnt,
       |    string_agg(q.o, ' ' ORDER BY q.i) AS sym
       |  FROM (SELECT p.w, p.cnt, p.i,
       |          CASE WHEN c1.i IS NOT NULL THEN (SELECT l || r FROM m$k)
       |               ELSE p.s END AS o
       |        FROM p$k p
       |        LEFT JOIN ch$k c1 ON c1.w = p.w AND c1.i = p.i
       |        LEFT JOIN ch$k c2 ON c2.w = p.w AND c2.i = p.i - 1
       |        WHERE c2.i IS NULL) q
       |  GROUP BY q.w)""".stripMargin
  }

  /** Shared training prefix: word counts (the wordTokens contract, blanks
    * dropped) → per-code-point initial symbols + `</w>` → `Rounds`
    * unrolled merge rounds. `docFilter` (a full `WHERE ...` clause)
    * restricts the TRAINING corpus — q125 trains on a split. */
  private[graft] def trainCtes(docFilter: String = ""): String = {
    val rounds = (1 to Rounds).map(roundSql).mkString(",\n")
    s"""wc AS MATERIALIZED (SELECT tok AS w, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |        FROM documents $docFilter)
       |  WHERE tok <> '' GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS sym, cnt
       |  FROM wc),
       |$rounds""".stripMargin
  }

  val q120Sql: String = {
    val union = (1 to Rounds)
      .map(k => s"SELECT $k::BIGINT AS merge_round, l AS left_sym, " +
        s"r AS right_sym, pair_cnt FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${trainCtes()}
       |$union
       |ORDER BY merge_round""".stripMargin
  }

  // ------------------------------------------- BPE compression report
  /** Per-document symbol totals before/after the learned merges and the
    * integer compression ratio — the report a tokenizer budget review
    * reads. The corpus is segmented by JOINING the token stream to the
    * trained vocab's final segmentations (see
    * [[graft.ops.Bpe.compressionStats]]), never by re-running merges per
    * token. */
  val q121BpeCompression: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    Bpe.compressionStats(docs, "doc_id", "text",
        Bpe.learn(docs, "text", Rounds)._2)
      .orderBy("doc_id")
  }

  val q121Sql: String =
    s"""WITH ${trainCtes()},
       |tk AS MATERIALIZED (SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> ''),
       |cost AS MATERIALIZED (SELECT w, (length(w) + 1)::BIGINT AS n_before,
       |    len(string_split(sym, ' '))::BIGINT AS n_after
       |  FROM w$Rounds),
       |a AS MATERIALIZED (SELECT t.doc_id,
       |    sum(c.n_before)::BIGINT AS n_sym_before,
       |    sum(c.n_after)::BIGINT AS n_sym_after,
       |    sum(CASE WHEN c.n_before IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
       |  FROM tk t LEFT JOIN cost c USING (w) GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(a.n_sym_before, 0)::BIGINT AS n_sym_before,
       |  coalesce(a.n_sym_after, 0)::BIGINT AS n_sym_after,
       |  coalesce(a.n_oov, 0)::BIGINT AS n_oov_tokens,
       |  CASE WHEN coalesce(a.n_sym_before, 0) = 0 THEN 0
       |       ELSE a.n_sym_after * 1000000 // a.n_sym_before
       |  END::BIGINT AS compression_ppm
       |FROM documents d LEFT JOIN a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------- BPE encode of unseen text
  /** The BPE ENCODE step q121 only gestures at: train the tokenizer on a
    * 90% split (doc_id % 10 != 3), then segment the WHOLE corpus — words
    * absent from the trained vocab run the learned merge list in order
    * (greedy kernel per merge), so every token gets a real symbol count
    * instead of being excluded as OOV. See
    * [[graft.ops.Bpe.segmentCorpus]]. */
  val q125BpeSegmentNew: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val (merges, words) =
      Bpe.learn(docs.filter(col("doc_id") % 10 =!= 3L), "text", Rounds)
    Bpe.segmentCorpus(docs, "doc_id", "text", merges, words)
      .orderBy("doc_id")
  }

  /** One APPLICATION-ONLY round of the oracle's encode chain: apply the
    * already-learned `m$k` to `ov${k - 1}` (no winner selection — the
    * merge table is fixed at training), same gaps-and-islands greedy
    * selection as [[roundSql]]. */
  private[graft] def segRoundSql(k: Int): String = {
    val prev = s"ov${k - 1}"
    s"""sp$k AS MATERIALIZED (SELECT w, string_split(sym, ' ') AS syms FROM $prev),
       |pp$k AS MATERIALIZED (SELECT w, syms, i, syms[i] AS s
       |  FROM sp$k, unnest(generate_series(1, len(syms))) AS g(i)),
       |dd$k AS MATERIALIZED (SELECT p.w, p.i FROM pp$k p, m$k m
       |  WHERE p.i < len(p.syms) AND p.s = m.l AND p.syms[p.i + 1] = m.r),
       |ii$k AS MATERIALIZED (SELECT w, i, row_number() OVER (PARTITION BY w, g ORDER BY i) AS rn
       |  FROM (SELECT w, i,
       |          i - row_number() OVER (PARTITION BY w ORDER BY i) AS g
       |        FROM dd$k)),
       |cc$k AS MATERIALIZED (SELECT w, i FROM ii$k WHERE rn % 2 = 1),
       |ov$k AS MATERIALIZED (SELECT q.w, string_agg(q.o, ' ' ORDER BY q.i) AS sym
       |  FROM (SELECT p.w, p.i,
       |          CASE WHEN c1.i IS NOT NULL THEN (SELECT l || r FROM m$k)
       |               ELSE p.s END AS o
       |        FROM pp$k p
       |        LEFT JOIN cc$k c1 ON c1.w = p.w AND c1.i = p.i
       |        LEFT JOIN cc$k c2 ON c2.w = p.w AND c2.i = p.i - 1
       |        WHERE c2.i IS NULL) q
       |  GROUP BY q.w)""".stripMargin
  }

  /** Shared encode prefix: training chain on `trainFilter`'s split, the
    * full corpus tokenized (`alltok`), OOV words segmented by the merge
    * list (`ov$Rounds`), per-word symbol costs (`acost`), per-doc totals
    * (`ag`) — q125 reads `ag` per document, q126 folds it by language. */
  private def segmentCtes(trainFilter: String): String = {
    val segRounds = (1 to Rounds).map(segRoundSql).mkString(",\n")
    s"""${trainCtes(trainFilter)},
       |alltok AS MATERIALIZED (SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> ''),
       |known AS MATERIALIZED (SELECT w, sym FROM w$Rounds),
       |ov0 AS MATERIALIZED (SELECT w,
       |    regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS sym
       |  FROM (SELECT DISTINCT w FROM alltok)
       |  WHERE w NOT IN (SELECT w FROM known)),
       |$segRounds,
       |acost AS MATERIALIZED (
       |  SELECT w, len(string_split(sym, ' '))::BIGINT AS n_sym, 0 AS is_oov FROM known
       |  UNION ALL
       |  SELECT w, len(string_split(sym, ' '))::BIGINT, 1 FROM ov$Rounds),
       |ag AS MATERIALIZED (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(c.is_oov)::BIGINT AS n_oov, sum(c.n_sym)::BIGINT AS n_sym
       |  FROM alltok t JOIN acost c USING (w) GROUP BY 1)""".stripMargin
  }

  val q125Sql: String =
    s"""WITH ${segmentCtes("WHERE doc_id % 10 != 3")}
       |SELECT d.doc_id,
       |  coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(a.n_oov, 0)::BIGINT AS n_oov_tokens,
       |  coalesce(a.n_sym, 0)::BIGINT AS n_sym,
       |  CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
       |       ELSE a.n_sym * 1000000 // a.n_tokens
       |  END::BIGINT AS sym_per_token_ppm
       |FROM documents d LEFT JOIN ag a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------- per-language fertility report
  /** Tokenizer FERTILITY by language — the multilingual-governance table
    * a shared tokenizer ships with (symbols per token by language; the
    * language whose fertility is highest pays the most sequence length
    * under the shared vocab): train on the WHOLE corpus, segment it, fold
    * the per-doc totals by the documents table's `lang` column. Same
    * integer arithmetic as q125, one extra hint-free equi-join (doc_id →
    * lang) and a |langs|-row aggregation. */
  val q126TokenizerFertility: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val (merges, words) = Bpe.learn(docs, "text", Rounds)
    Bpe.segmentCorpus(docs, "doc_id", "text", merges, words)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_oov_tokens")).as("n_oov_tokens"),
        sum(col("n_sym")).as("n_sym"))
      .withColumn("fertility_ppm",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("n_sym * 1000000L div n_tokens")))
      .orderBy("lang")
  }

  val q126Sql: String =
    s"""WITH ${segmentCtes("")}
       |SELECT d.lang,
       |  count(*)::BIGINT AS n_docs,
       |  sum(coalesce(a.n_tokens, 0))::BIGINT AS n_tokens,
       |  sum(coalesce(a.n_oov, 0))::BIGINT AS n_oov_tokens,
       |  sum(coalesce(a.n_sym, 0))::BIGINT AS n_sym,
       |  CASE WHEN sum(coalesce(a.n_tokens, 0)) = 0 THEN 0
       |       ELSE sum(coalesce(a.n_sym, 0)) * 1000000 // sum(coalesce(a.n_tokens, 0))
       |  END::BIGINT AS fertility_ppm
       |FROM documents d LEFT JOIN ag a USING (doc_id)
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin

  // ------------------------------------------- cross-set span-leak audit
  /** Span-granular memorization audit: for each held-out eval document
    * (doc_id % 10 == 3, the q125 split), how many of its 8-token spans
    * occur verbatim anywhere in the train split, and how widespread the
    * hottest leak is. See [[graft.ops.Decontaminate.spanLeakAudit]]. */
  val q127SpanLeakAudit: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    graft.ops.Decontaminate.spanLeakAudit(
        docs.filter(col("doc_id") % 10 =!= 3L), "doc_id",
        docs.filter(col("doc_id") % 10 === 3L)
          .select(col("doc_id").as("eval_id"), col("text")),
        "eval_id", "text", k = 8)
      .orderBy("eval_id")
  }

  val q127Sql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |esp AS (SELECT doc_id AS eval_id, i AS pos,
      |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM t WHERE doc_id % 10 = 3 AND len(toks) >= 8)),
      |tfp AS (SELECT fp, count(DISTINCT doc_id)::BIGINT AS n_train
      |  FROM (SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS fp
      |        FROM (SELECT doc_id, toks,
      |                unnest(generate_series(1, len(toks) - 7)) AS i
      |              FROM t WHERE doc_id % 10 != 3 AND len(toks) >= 8))
      |  GROUP BY fp),
      |mk AS (SELECT e.eval_id, count(*)::BIGINT AS n_spans,
      |    sum(CASE WHEN f.n_train IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_leaked,
      |    coalesce(max(f.n_train), 0)::BIGINT AS mx
      |  FROM esp e LEFT JOIN tfp f USING (fp) GROUP BY 1)
      |SELECT d.doc_id AS eval_id,
      |  coalesce(m.n_spans, 0)::BIGINT AS n_spans,
      |  coalesce(m.n_leaked, 0)::BIGINT AS n_leaked_spans,
      |  coalesce(m.mx, 0)::BIGINT AS max_span_train_docs,
      |  CASE WHEN coalesce(m.n_spans, 0) = 0 THEN 0
      |       ELSE m.n_leaked * 1000000 // m.n_spans
      |  END::BIGINT AS leak_ppm
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 3) d
      |LEFT JOIN mk m ON m.eval_id = d.doc_id
      |ORDER BY eval_id""".stripMargin

  // --------------------------------------------------- ANN recall audit
  /** Recall@10 of the IVF route (nprobe 3 of 10 label cells) against exact
    * brute force, per query of a bounded sample (every 100th vec_id) — the
    * governance artifact an approximate index ships with. See
    * [[graft.ops.Similarity.ivfRecallAudit]]. */
  val q122IvfRecall: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") % 100 === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    graft.ops.Similarity.ivfRecallAudit(e, "vec_id", "embedding", "label",
        queries, "q_id", "qvec", nprobe = 3, k = 10)
      .orderBy("q_id")
  }

  val q122Sql: String = Queries2.CentroidSqlCte +
    """,
      |c AS (SELECT label, list(m ORDER BY pos) AS centroid FROM a GROUP BY label),
      |qs AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
      |  WHERE vec_id % 100 = 7),
      |pr AS (SELECT q_id, label FROM (
      |  SELECT q.q_id, c.label,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      round(list_cosine_similarity(c.centroid, q.qvec::DOUBLE[]), 6) DESC,
      |      c.label) AS rk
      |  FROM c, qs q) WHERE rk <= 3),
      |appr AS (SELECT q_id, vec_id FROM (
      |  SELECT p.q_id, e.vec_id,
      |    row_number() OVER (PARTITION BY p.q_id ORDER BY
      |      round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 6) DESC,
      |      e.vec_id) AS rk
      |  FROM embeddings e JOIN pr p ON e.label = p.label
      |  JOIN qs q ON q.q_id = p.q_id
      |  WHERE e.vec_id != p.q_id) WHERE rk <= 10),
      |ex AS (SELECT q_id, vec_id FROM (
      |  SELECT q.q_id, e.vec_id,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 6) DESC,
      |      e.vec_id) AS rk
      |  FROM embeddings e, qs q WHERE e.vec_id != q.q_id) WHERE rk <= 10),
      |h AS (SELECT ex.q_id, count(*)::BIGINT AS n_hits
      |  FROM ex JOIN appr USING (q_id, vec_id) GROUP BY 1),
      |xn AS (SELECT q_id, count(*)::BIGINT AS n_exact FROM ex GROUP BY 1)
      |SELECT q.q_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
      |  CASE WHEN coalesce(x.n_exact, 0) = 0 THEN 1000000
      |       ELSE coalesce(h.n_hits, 0) * 1000000 // least(10, x.n_exact)
      |  END::BIGINT AS recall_ppm
      |FROM qs q LEFT JOIN h USING (q_id) LEFT JOIN xn x USING (q_id)
      |ORDER BY q_id""".stripMargin

  // --------------------------------------- bigram predictability score
  /** Integer LM-score quality signal: per-doc mean of
    * `p(w2|w1) = c(w1 w2)/c(w1)` in ppm from corpus counts — see
    * [[graft.ops.Vocab.bigramPredictability]]. */
  val q123BigramPredictability: Q = (spark, dir) =>
    graft.ops.Vocab.bigramPredictability(
        Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q123Sql: String =
    """WITH uni AS (SELECT tok AS w1, count(*)::BIGINT AS w1_cnt
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok <> '' GROUP BY 1),
      |tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |db AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg, toks[i] AS w1
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM tok WHERE len(toks) >= 2)),
      |bc AS (SELECT bg, count(*)::BIGINT AS bg_cnt FROM db GROUP BY 1),
      |sc AS (SELECT d.doc_id, count(*)::BIGINT AS n_bigrams,
      |    sum(b.bg_cnt * 1000000 // u.w1_cnt)::BIGINT AS ps
      |  FROM db d JOIN bc b USING (bg) JOIN uni u USING (w1)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
      |  coalesce(s.ps // s.n_bigrams, 0)::BIGINT AS mean_p_ppm
      |FROM documents d LEFT JOIN sc s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- packing-efficiency report
  /** Sequence-capacity planning: q62's offset-division packing swept over
    * candidate training sequence lengths (128/256/512/1024) in ONE plan —
    * the per-source token cumsum is capacity-independent, so the window
    * runs once and the capacity column explodes AFTER it; each capacity
    * then costs one hash aggregation, not a corpus re-scan. Per
    * capacity: pack count, token total (invariant), packs under 50%
    * full, and the overall fill ratio in ppm — the table a training
    * pipeline reads to pick max_seq_len (throughput = fill ratio;
    * shorter sequences pack tighter but cost more attention windows). */
  val q129PackingEfficiency: Q = (spark, dir) =>
    Queries5.chunkCumTokens(Tables.documents(spark, dir))
      .select(col("source"), col("n_tok"), col("cum_tok"),
        explode(array(Seq(128L, 256L, 512L, 1024L).map(lit): _*)).as("capacity"))
      .groupBy(col("capacity"), col("source"),
        expr("(cum_tok - n_tok) div capacity").as("pack_id"))
      .agg(sum(col("n_tok")).as("pk_tok"))
      .groupBy(col("capacity"))
      .agg(count(lit(1)).as("n_packs"), sum(col("pk_tok")).as("n_tokens"),
        count(when(col("pk_tok") * 2 < col("capacity"), 1)).as("n_underfull"))
      .withColumn("fill_ppm", expr("n_tokens * 1000000L div (n_packs * capacity)"))
      .orderBy("capacity")

  val q129Sql: String =
    s"""WITH ${Queries5.chunkCumTokensCtes},
      |e AS (SELECT j.*, cap FROM j, unnest([128, 256, 512, 1024]) AS u(cap)),
      |p AS (SELECT cap, source, ((cum_tok - n_tok) // cap)::BIGINT AS pack_id,
      |    sum(n_tok)::BIGINT AS pk_tok
      |  FROM e GROUP BY 1, 2, 3)
      |SELECT cap::BIGINT AS capacity,
      |  count(*)::BIGINT AS n_packs,
      |  sum(pk_tok)::BIGINT AS n_tokens,
      |  sum(CASE WHEN pk_tok * 2 < cap THEN 1 ELSE 0 END)::BIGINT AS n_underfull,
      |  (sum(pk_tok) * 1000000 // (count(*) * cap))::BIGINT AS fill_ppm
      |FROM p GROUP BY cap
      |ORDER BY capacity""".stripMargin

  // --------------------------------- trigram backoff predictability
  /** Held-out LM quality score: stupid-backoff trigram predictability of
    * EVERY document against counts from the train split only (doc_id %
    * 10 != 3) — unseen trigrams back off through the bigram to the
    * unigram with α = 0.4 in integer ppm, so held-out docs full of
    * LM-unseen text actually score low (q123's self-scored bigram can
    * never see an unseen n-gram). See
    * [[graft.ops.Vocab.trigramBackoffPredictability]]. */
  val q128TrigramBackoff: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    graft.ops.Vocab.trigramBackoffPredictability(docs, "doc_id", "text",
        lm = docs.filter(col("doc_id") % 10 =!= 3L))
      .orderBy("doc_id")
  }

  val q128Sql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |luni AS (SELECT tok AS w, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(toks) AS tok FROM t WHERE doc_id % 10 != 3)
      |  WHERE tok <> '' GROUP BY 1),
      |tot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n_lm FROM luni),
      |lbg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bg, count(*)::BIGINT AS cnt
      |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
      |  WHERE doc_id % 10 != 3 AND len(toks) >= 2 GROUP BY 1),
      |ltr AS (SELECT toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg,
      |    count(*)::BIGINT AS cnt
      |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)
      |  WHERE doc_id % 10 != 3 AND len(toks) >= 3 GROUP BY 1),
      |dtg AS (SELECT doc_id,
      |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg,
      |    toks[i] || ' ' || toks[i + 1] AS pfx,
      |    toks[i + 1] || ' ' || toks[i + 2] AS suf,
      |    toks[i + 1] AS w2, toks[i + 2] AS w3
      |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)
      |  WHERE len(toks) >= 3),
      |sc AS (SELECT d.doc_id, count(*)::BIGINT AS n_trigrams,
      |    sum(CASE WHEN tr.cnt IS NOT NULL THEN tr.cnt * 1000000 // pb.cnt
      |             WHEN sb.cnt IS NOT NULL THEN sb.cnt * 400000 // u2.cnt
      |             WHEN u3.cnt IS NOT NULL THEN u3.cnt * 160000 // (SELECT n_lm FROM tot)
      |             ELSE 0 END)::BIGINT AS ps
      |  FROM dtg d
      |  LEFT JOIN ltr tr ON tr.tg = d.tg
      |  LEFT JOIN lbg pb ON pb.bg = d.pfx
      |  LEFT JOIN lbg sb ON sb.bg = d.suf
      |  LEFT JOIN luni u2 ON u2.w = d.w2
      |  LEFT JOIN luni u3 ON u3.w = d.w3
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(s.n_trigrams, 0)::BIGINT AS n_trigrams,
      |  coalesce(s.ps // s.n_trigrams, 0)::BIGINT AS mean_p_ppm
      |FROM documents d LEFT JOIN sc s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- embedding-space decontamination
  /** Semantic benchmark decon: every 50th vector plays the eval set; train
    * vectors within cosine 0.35 of any eval vector (candidates via shared
    * sign-RP band keys, the q47 resolution) are flagged with their best
    * match. See [[graft.ops.Similarity.semanticDecon]]. */
  val q124SemanticDecon: Q = (spark, dir) =>
    q124SemanticDeconWith(spark, dir, Queries3.rpPlanes, Queries3.rpBits)

  /** [[q124SemanticDecon]] with the band resolution as a parameter — the
    * q83/q104 precedent: resolution is a deploy-time knob sized by
    * [[graft.ops.Similarity.lshBitsFor]] from the corpus (the registered
    * query binds the fixture-sized q47 defaults, which ARE that rule's
    * output at fixture n); `tools/VerifyScaled` re-derives it for the
    * scaled fixtures so the 64× hash-proof runs at constant occupancy
    * instead of the ~4096×-candidate blowup of a fixed 6×6 resolution. */
  def q124SemanticDeconWith(spark: SparkSession, dir: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val train = e.filter(col("vec_id") % 50 =!= 3L)
    val evalSet = e.filter(col("vec_id") % 50 === 3L)
      .select(col("vec_id").as("eval_id"), col("embedding").as("eval_vec"))
    graft.ops.Similarity.semanticDecon(train, "vec_id", "embedding",
        evalSet, "eval_id", "eval_vec", planes, bits, threshold = 0.35)
      .orderBy("vec_id")
  }

  val q124Sql: String = q124SqlWith(Queries3.rpPlanes, Queries3.rpBits)

  /** Resolution-parameterized oracle SQL generator, paired with
    * [[q124SemanticDeconWith]] for scaled-fixture correctness runs. */
  def q124SqlWith(planes: Array[Array[Double]], bits: Int): String = {
    // bucket-key SQL comes from the SAME generator as the q47-family
    // oracles (Queries3.rpKeyExpr/RpQuantExpr) — one spelling to drift
    def keysRel(src: String): String = (0 until planes.length / bits)
      .map(t =>
        s"SELECT vec_id, $t AS t, ${Queries3.rpKeyExpr(t, planes, bits)} AS key FROM $src")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT vec_id,
       |    ${Queries3.RpQuantExpr} AS qv
       |  FROM embeddings),
       |tr AS (SELECT vec_id, qv FROM q WHERE vec_id % 50 != 3),
       |ev AS (SELECT vec_id, qv FROM q WHERE vec_id % 50 = 3),
       |kt AS (${keysRel("tr")}),
       |ke AS (${keysRel("ev")}),
       |c AS (SELECT DISTINCT kt.vec_id AS id, ke.vec_id AS eid
       |      FROM kt JOIN ke ON kt.t = ke.t AND kt.key = ke.key),
       |s AS (SELECT id, eid, sim FROM (
       |    SELECT c.id, c.eid,
       |      round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
       |    FROM c JOIN embeddings a ON a.vec_id = c.id
       |           JOIN embeddings b ON b.vec_id = c.eid) v
       |  WHERE sim >= 0.35),
       |h AS (SELECT id, count(*)::BIGINT AS n_eval_hits FROM s GROUP BY 1),
       |tp AS (SELECT id, eid AS top_eval_id, sim AS top_sim FROM (
       |    SELECT id, eid, sim,
       |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, eid) AS rk
       |    FROM s) WHERE rk = 1)
       |SELECT tr.vec_id,
       |  (h.id IS NOT NULL) AS contaminated,
       |  coalesce(h.n_eval_hits, 0)::BIGINT AS n_eval_hits,
       |  tp.top_eval_id, tp.top_sim
       |FROM tr LEFT JOIN h ON h.id = tr.vec_id
       |LEFT JOIN tp ON tp.id = tr.vec_id
       |ORDER BY tr.vec_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q120_bpe_merges", q120BpeMerges, q120Sql),
    QueryDef("q121_bpe_compression", q121BpeCompression, q121Sql),
    QueryDef("q122_ivf_recall", q122IvfRecall, q122Sql),
    QueryDef("q123_bigram_predictability", q123BigramPredictability, q123Sql),
    QueryDef("q124_semantic_decon", q124SemanticDecon, q124Sql),
    QueryDef("q125_bpe_segment_new", q125BpeSegmentNew, q125Sql),
    QueryDef("q126_tokenizer_fertility", q126TokenizerFertility, q126Sql),
    QueryDef("q127_span_leak_audit", q127SpanLeakAudit, q127Sql),
    QueryDef("q128_trigram_backoff", q128TrigramBackoff, q128Sql),
    QueryDef("q129_packing_efficiency", q129PackingEfficiency, q129Sql))
}
