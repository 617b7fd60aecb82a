package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Rag

/** Thirty-ninth query wave: RAG GROUNDEDNESS governance — the serving-side
  * audit the q143 family feeds: does the generated answer actually come
  * from the retrieved context (q251), and which retrieved document
  * deserves the citation (q252)? The "generated" answer is synthesized
  * deterministically (extractive head of the top-1 retrieved document +
  * the tail of the query document, which the self-excluding retrieval
  * cannot have placed in context) so the audit exercises BOTH supported
  * and unsupported spans with no model in the loop.
  */
object Queries39 {

  /** (answers, context) for the groundedness pair: BM25 top-3 context
    * over the q130 query sample; answer = first 12 tokens of the top-1
    * doc + last 6 tokens of the query doc. */
  private[graft] def groundednessInputs(spark: SparkSession, dir: String,
      queryMod: Long = 50L): (DataFrame, DataFrame) = {
    val d = Tables.documents(spark, dir)
    val queries = Queries11.textQueries(d, queryMod)
    val ranked = Queries11.bm25TopK(d, 3, queryMod)
    // ONE probe: the ranked context (with text and rank) is pinned and
    // feeds the answer synthesis AND both audits — joining `ranked` again
    // for the top-1 would re-run the whole BM25 probe
    val context = ranked
      .join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"), col("text"), col("rank"))
      .localCheckpoint(false)
    val topToks = graft.functions.TextFns.wordTokens(
      coalesce(col("__top_text"), lit("")))
    val qToks = graft.functions.TextFns.wordTokens(col("q_text"))
    val answers = queries
      .join(context.filter(col("rank") === 1)
        .select(col("q_id"), col("text").as("__top_text")), Seq("q_id"), "left")
      .select(col("q_id"),
        concat(
          array_join(slice(topToks, 1, 12), " "), lit(" "),
          array_join(slice(qToks,
            greatest(size(qToks) - 5, lit(1)), lit(6)), " ")).as("answer"))
      // answers feeds the span join and the per-query totals — pinned so
      // the query-sample scan + top-1 join run once, not per consumer
      .localCheckpoint(false)
    (answers, context)
  }

  /** Per-query groundedness: supported-span share, extractive
    * "hallucination" ppm, and the top-support citation.
    * [[graft.ops.Rag.groundednessAudit]] at word 4-grams. */
  val q251Groundedness: Q = (spark, dir) => q251With(spark, dir, 50L)

  /** q251 with the BM25-family bounded query-sample modulus (the q130
    * scale-proof rule). */
  private[graft] def q251With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val (answers, context) = groundednessInputs(spark, dir, queryMod)
    Rag.groundednessAudit(answers, "q_id", "answer",
        context, "doc_id", "text", n = 4)
      .orderBy("q_id")
  }

  /** The (answers, context) CTE chain shared by q251/q252 AND the q255
    * span-size sweep: BM25 context + the synthesized extractive answers,
    * WITHOUT the fixed-n span CTEs. */
  private[graft] def baseCtesWith(queryMod: Long): String =
    s"""${Queries11.bm25CtesSharedWith(3, queryMod)},
       |ctx AS MATERIALIZED (SELECT r.q_id, r.doc_id, r.rank, d.text
       |  FROM lexrk r JOIN documents d USING (doc_id)),
       |qdoc AS (SELECT doc_id AS q_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS qt
       |  FROM documents WHERE doc_id % $queryMod = 7),
       |t1 AS (SELECT q_id,
       |    string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS tt
       |  FROM ctx WHERE rank = 1),
       |ans AS MATERIALIZED (SELECT q.q_id,
       |    array_to_string(coalesce(t.tt,
       |      string_split_regex('', '\\s+'))[1:12], ' ') || ' ' ||
       |    array_to_string(q.qt[greatest(len(q.qt) - 5, 1):len(q.qt)], ' ')
       |      AS answer
       |  FROM qdoc q LEFT JOIN t1 t USING (q_id))""".stripMargin

  private[graft] def inputCtesWith(queryMod: Long): String =
    s"""${baseCtesWith(queryMod)},
       |asp AS MATERIALIZED (SELECT DISTINCT q_id,
       |    array_to_string(at[i : i + 3], ' ') AS span
       |  FROM (SELECT q_id, at, unnest(generate_series(1, len(at) - 3)) AS i
       |        FROM (SELECT q_id,
       |            string_split_regex(lower(trim(answer)), '\\s+') AS at
       |          FROM ans) WHERE len(at) >= 4)),
       |csp AS MATERIALIZED (SELECT DISTINCT q_id, doc_id,
       |    array_to_string(ct[i : i + 3], ' ') AS span
       |  FROM (SELECT q_id, doc_id, ct,
       |        unnest(generate_series(1, len(ct) - 3)) AS i
       |        FROM (SELECT q_id, doc_id,
       |            string_split_regex(lower(trim(text)), '\\s+') AS ct
       |          FROM ctx) WHERE len(ct) >= 4)),
       |hits AS MATERIALIZED (SELECT a.q_id, a.span, c.doc_id
       |  FROM asp a JOIN csp c ON c.q_id = a.q_id AND c.span = a.span),
       |tot AS (SELECT q_id, count(*)::BIGINT AS n_spans FROM asp GROUP BY 1),
       |sup AS (SELECT q_id, count(DISTINCT span)::BIGINT AS n_supported
       |  FROM hits GROUP BY 1),
       |perdoc AS (SELECT q_id, doc_id, count(*)::BIGINT AS cnt
       |  FROM hits GROUP BY 1, 2)""".stripMargin

  /** The per-query groundedness row over `ans`, `tot`, `sup` and the
    * top citation `top`, whose reported id column is `topDoc` (q251,
    * q265). */
  private[graft] def groundednessSelect(topDoc: String): String =
    s"""SELECT a.q_id,
       |  coalesce(t.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(s.n_supported, 0)::BIGINT AS n_supported,
       |  (CASE WHEN coalesce(t.n_spans, 0) > 0
       |        THEN (t.n_spans - coalesce(s.n_supported, 0)) * 1000000
       |             // t.n_spans
       |        ELSE 0 END)::BIGINT AS unsupported_ppm,
       |  $topDoc,
       |  (CASE WHEN coalesce(s.n_supported, 0) > 0
       |        THEN p.cnt * 1000000 // s.n_supported
       |        ELSE 0 END)::BIGINT AS top_share_ppm
       |FROM ans a LEFT JOIN tot t USING (q_id)
       |  LEFT JOIN sup s USING (q_id) LEFT JOIN top p USING (q_id)
       |ORDER BY a.q_id""".stripMargin

  val q251Sql: String = q251SqlWith(50L)

  private[graft] def q251SqlWith(queryMod: Long): String =
    s"""WITH ${inputCtesWith(queryMod)},
       |top AS (SELECT q_id, doc_id, cnt FROM (
       |  SELECT q_id, doc_id, cnt, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cnt DESC, doc_id ASC) AS rn FROM perdoc) WHERE rn = 1)
       |${groundednessSelect("coalesce(p.doc_id, -1)::BIGINT AS top_doc")}""".stripMargin

  /** Citation-level attribution: each context document's share of the
    * supported answer spans (redundant support visible — shares can sum
    * past 1e6). [[graft.ops.Rag.attributionTable]]. */
  val q252Attribution: Q = (spark, dir) => q252With(spark, dir, 50L)

  private[graft] def q252With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val (answers, context) = groundednessInputs(spark, dir, queryMod)
    Rag.attributionTable(answers, "q_id", "answer",
        context, "doc_id", "text", n = 4)
      .orderBy("q_id", "doc_id")
  }

  val q252Sql: String = q252SqlWith(50L)

  private[graft] def q252SqlWith(queryMod: Long): String =
    s"""WITH ${inputCtesWith(queryMod)}
       |SELECT c.q_id, c.doc_id,
       |  coalesce(p.cnt, 0)::BIGINT AS n_hits,
       |  (CASE WHEN coalesce(s.n_supported, 0) > 0
       |        THEN coalesce(p.cnt, 0) * 1000000 // s.n_supported
       |        ELSE 0 END)::BIGINT AS share_ppm
       |FROM (SELECT DISTINCT q_id, doc_id FROM ctx) c
       |  LEFT JOIN perdoc p USING (q_id, doc_id)
       |  LEFT JOIN sup s USING (q_id)
       |ORDER BY c.q_id, c.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q251_groundedness", q251Groundedness, q251Sql),
    QueryDef("q252_attribution", q252Attribution, q252Sql))
}
