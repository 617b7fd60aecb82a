package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Batch, Mixture, Shard}

/** Thirty-seventh query wave: the consumer-side efficiency audits a 100 TB
  * export feeds — the multi-phase annealing schedule (q244), the
  * length-batching padding-waste A/B (q245), the packed-attention cost
  * audit (q246), and the resharding-stability audit (q247). All four ride
  * the engine's scale primitives (two-phase global order, map-side
  * explodes, bounded windows) — none plans a single-partition exchange.
  */
object Queries37 {

  /** Per-document (lang, tokens, unique-token-ratio quality score) — the
    * q235 scoring spelling, shared by the wave's corpus-shaped inputs. */
  private def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        array_remove(graft.functions.TextFns.wordTokens(col("text")), "")
          .as("__toks"))
      .select(col("doc_id"), col("lang"),
        size(col("__toks")).cast("long").as("n_tok"),
        size(array_distinct(col("__toks"))).cast("long").as("__uniq"))
      .filter(col("n_tok") > 0L)
      .withColumn("score_ppm", expr("__uniq * 1000000L div n_tok"))

  private val scoredSql: String =
    """tok AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> '') AS ts
      |  FROM documents),
      |sc AS (SELECT doc_id, lang, len(ts)::BIGINT AS n_tok,
      |    (len(list_distinct(ts)) * 1000000 // len(ts))::BIGINT AS score_ppm
      |  FROM tok WHERE len(ts) > 0)""".stripMargin

  /** Two-phase annealing schedule: a warmup phase over the whole corpus
    * (20k tokens, no floor) and an anneal phase restricted to documents
    * with ≥ 60% unique tokens (5k tokens) — per (phase, lang) allocation
    * under the α=0.5 temperature rule. epochs_ppm > 1e6 marks cells that
    * must repeat data. [[graft.ops.Mixture.annealSchedule]]. */
  val q244AnnealSchedule: Q = (spark, dir) =>
    Mixture.annealSchedule(scoredDocs(spark, dir), "lang", col("n_tok"),
        col("score_ppm"), Seq(
          Mixture.AnnealPhase("p1_warmup", floorPpm = 0L, budgetTokens = 20000L),
          Mixture.AnnealPhase("p2_anneal", floorPpm = 600000L, budgetTokens = 5000L)))
      .orderBy("phase", "lang")

  val q244Sql: String =
    s"""WITH $scoredSql,
       |ph(phase, floor_ppm, budget) AS (VALUES
       |  ('p1_warmup', 0, 20000), ('p2_anneal', 600000, 5000)),
       |ag AS (SELECT phase, lang, budget, count(*)::BIGINT AS n_docs,
       |    sum(n_tok)::BIGINT AS n_tokens
       |  FROM ph JOIN sc ON sc.score_ppm >= ph.floor_ppm
       |  GROUP BY phase, lang, budget),
       |ms AS (SELECT *, floor(sqrt(n_tokens::DOUBLE) * 1e6 + 0.5)::BIGINT
       |    AS mass6 FROM ag),
       |tt AS (SELECT *, sum(mass6) OVER (PARTITION BY phase) AS tot FROM ms),
       |al AS (SELECT phase, lang, n_docs, n_tokens, mass6,
       |    (CASE WHEN tot <= 0 THEN 0
       |          ELSE budget::HUGEINT * mass6 // tot END)::BIGINT
       |      AS alloc_tokens FROM tt)
       |SELECT phase, lang, n_docs, n_tokens, mass6, alloc_tokens,
       |  (CASE WHEN n_tokens > 0
       |        THEN alloc_tokens::HUGEINT * 1000000 // n_tokens
       |        ELSE 0 END)::BIGINT AS epochs_ppm
       |FROM al ORDER BY phase, lang""".stripMargin

  /** Padding-waste A/B at batch size 16: length-sorted batches vs
    * hash-shuffled batches over per-document token counts (empty docs
    * kept — they pad like anything else). On the fixture the sorted
    * policy cuts the padded-compute share ~17×.
    * [[graft.ops.Batch.paddingWaste]]. */
  val q245LengthBatching: Q = (spark, dir) =>
    Batch.paddingWaste(tokenLengths(Tables.documents(spark, dir)),
        "doc_id", "n_tok", batchSize = 16)
      .orderBy("policy")

  /** Each document's non-empty word-token count `n_tok` (q245, q246). */
  private def tokenLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(array_remove(graft.functions.TextFns.wordTokens(col("text")), ""))
        .cast("long").as("n_tok"))

  val q245Sql: String =
    """WITH lens AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> ''))::BIGINT AS n_tok
      |  FROM documents),
      |so AS (SELECT n_tok, ((row_number() OVER (ORDER BY n_tok ASC, doc_id
      |    ASC) - 1) // 16)::BIGINT AS batch FROM lens),
      |ro AS (SELECT n_tok, ((row_number() OVER (ORDER BY md5(doc_id::VARCHAR)
      |    ASC, doc_id ASC) - 1) // 16)::BIGINT AS batch FROM lens),
      |sb AS (SELECT 'sorted' AS policy, count(*)::BIGINT AS n,
      |    max(n_tok) AS mx, sum(n_tok)::BIGINT AS s FROM so GROUP BY batch),
      |rb AS (SELECT 'random' AS policy, count(*)::BIGINT AS n,
      |    max(n_tok) AS mx, sum(n_tok)::BIGINT AS s FROM ro GROUP BY batch),
      |u AS (SELECT * FROM sb UNION ALL SELECT * FROM rb),
      |g AS (SELECT policy, count(*)::BIGINT AS n_batches,
      |    sum(s)::BIGINT AS n_tokens, sum(n * mx - s)::BIGINT AS pad_tokens
      |  FROM u GROUP BY policy)
      |SELECT policy, n_batches, n_tokens, pad_tokens,
      |  (CASE WHEN pad_tokens + n_tokens <= 0 THEN 0
      |        WHEN pad_tokens + n_tokens <= 9223372036854
      |          THEN pad_tokens * 1000000 // (pad_tokens + n_tokens)
      |        ELSE pad_tokens // ((pad_tokens + n_tokens) // 1000000)
      |   END)::BIGINT AS pad_ppm
      |FROM g ORDER BY policy""".stripMargin

  /** Packed-attention cost audit at seqLen 512: full-window vs
    * document-masked attention FLOPs over q62-packed sequences in
    * deterministic loader order — on the fixture masking saves ~87% of
    * the attention compute. [[graft.ops.Batch.attentionCost]]. */
  val q246AttentionCost: Q = (spark, dir) =>
    Batch.attentionCost(
      tokenLengths(Tables.documents(spark, dir)).filter(col("n_tok") > 0L),
      "doc_id", "n_tok", seqLen = 512)

  val q246Sql: String =
    """WITH lens AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> ''))::BIGINT AS n_tok
      |  FROM documents),
      |lf AS (SELECT * FROM lens WHERE n_tok > 0),
      |r AS (SELECT n_tok, sum(n_tok) OVER (ORDER BY md5(doc_id::VARCHAR) ASC,
      |    doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |    AS cum FROM lf),
      |b AS (SELECT ((cum - n_tok) // 512)::BIGINT AS bin,
      |    sum(n_tok)::BIGINT AS blen, sum(n_tok * n_tok)::BIGINT AS bmask
      |  FROM r GROUP BY 1),
      |g AS (SELECT count(*)::BIGINT AS n_bins, sum(blen)::BIGINT AS n_tokens,
      |    sum(bmask)::BIGINT AS masked_cost,
      |    sum(blen * blen)::BIGINT AS naive_cost FROM b)
      |SELECT 512::BIGINT AS seq_len, n_bins, n_tokens, masked_cost,
      |  naive_cost,
      |  (CASE WHEN naive_cost <= 0 THEN 0
      |        WHEN naive_cost <= 9223372036854
      |          THEN (naive_cost - masked_cost) * 1000000 // naive_cost
      |        ELSE (naive_cost - masked_cost) // (naive_cost // 1000000)
      |   END)::BIGINT AS savings_ppm
      |FROM g""".stripMargin

  /** Resharding-stability audit for a 64 → 80 shard grow: mod-hash moves
    * ~79% of documents, rendezvous ~21% (the provable 1 − 64/80 minimum).
    * [[graft.ops.Shard.reshardStability]]. */
  val q247ReshardStability: Q = (spark, dir) =>
    Shard.reshardStability(
        Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", nOld = 64, nNew = 80)
      .orderBy("scheme")

  /** Rendezvous shard of every id of `ids` before (64) and after (80) the
    * grow, as `mv(<k>, rdv_old, rdv_new)`; `kStr` is the id as text
    * (q247, q254, q269). */
  private[graft] def rendezvousMovesCte(k: String, kStr: String): String =
    s"""mv AS (SELECT i.$k,
       |    arg_max(t.s, md5($kStr || ':' || t.s::VARCHAR))
       |      FILTER (WHERE t.s < 64) AS rdv_old,
       |    arg_max(t.s, md5($kStr || ':' || t.s::VARCHAR))
       |      AS rdv_new
       |  FROM ids i CROSS JOIN range(80) t(s) GROUP BY i.$k)""".stripMargin

  /** The moved share per scheme from `u(scheme, n_docs, n_moved)`. */
  private[graft] def movedPpmSelect: String =
    """SELECT scheme, n_docs, n_moved,
      |  (CASE WHEN n_docs <= 0 THEN 0
      |        WHEN n_moved <= 9223372036854
      |          THEN n_moved * 1000000 // n_docs
      |        ELSE n_moved // (n_docs // 1000000) END)::BIGINT AS moved_ppm
      |FROM u ORDER BY scheme""".stripMargin

  val q247Sql: String =
    s"""WITH ids AS (SELECT doc_id FROM documents),
      |${rendezvousMovesCte("doc_id", "i.doc_id::VARCHAR")},
      |md AS (SELECT doc_id,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
      |  FROM ids),
      |g AS (SELECT count(*)::BIGINT AS n_docs,
      |    sum(CASE WHEN (hv % 64) <> (hv % 80) THEN 1 ELSE 0 END)::BIGINT
      |      AS mod_moved,
      |    sum(CASE WHEN rdv_old <> rdv_new THEN 1 ELSE 0 END)::BIGINT
      |      AS rdv_moved
      |  FROM mv JOIN md USING (doc_id)),
      |u AS (SELECT 'mod' AS scheme, n_docs, mod_moved AS n_moved FROM g
      |  UNION ALL SELECT 'rendezvous', n_docs, rdv_moved FROM g)
      |$movedPpmSelect""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q244_anneal_schedule", q244AnnealSchedule, q244Sql),
    QueryDef("q245_length_batching", q245LengthBatching, q245Sql),
    QueryDef("q246_attention_cost", q246AttentionCost, q246Sql),
    QueryDef("q247_reshard_stability", q247ReshardStability, q247Sql))
}
