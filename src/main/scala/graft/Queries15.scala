package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Delta, Synthesize, Vocab}

/** Fifteenth query wave: self-supervised example synthesis and corpus
  * diversity governance — fill-in-the-middle reordering (q159), T5 span
  * corruption (q160), the distinct-n diversity report (q161) and
  * release-novelty by shingle containment (q162). Same determinism
  * rules as [[Queries]]: hash-free integer cut points, sorted in-group
  * collects, every derived numeric cast to long, 0-guarded divisions.
  */
object Queries15 {

  private val TokList =
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"

  // --------------------------------------------------- fill-in-the-middle
  /** FIM over the documents corpus at a 50% rate (doc_id parity gate):
    * hash-derived double cut, PSM rendering — see
    * [[graft.ops.Synthesize.fimTransform]]. */
  val q159Fim: Q = (spark, dir) =>
    Synthesize.fimTransform(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q159Sql: String =
    """WITH c AS (SELECT doc_id, text, length(text)::BIGINT AS n,
      |    (doc_id % 2 = 0 AND length(text) >= 3) AS gated,
      |    CASE WHEN length(text) >= 3 THEN
      |      1 + ((doc_id % 1000000007) * 2654435761)
      |          % (length(text)::BIGINT - 1) END AS c1,
      |    CASE WHEN length(text) >= 3 THEN
      |      1 + ((doc_id % 1000000007) * 40503)
      |          % (length(text)::BIGINT - 1) END AS c2
      |  FROM documents),
      |d AS (SELECT doc_id, text, n, gated,
      |    least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
      |SELECT doc_id,
      |  CASE WHEN gated THEN 'psm' ELSE 'raw' END AS mode,
      |  (CASE WHEN gated THEN lo ELSE n END)::BIGINT AS n_prefix,
      |  (CASE WHEN gated THEN hi - lo ELSE 0 END)::BIGINT AS n_middle,
      |  (CASE WHEN gated THEN n - hi ELSE 0 END)::BIGINT AS n_suffix,
      |  CASE WHEN gated THEN
      |    '<PRE>' || substr(text, 1, lo::INT) ||
      |    '<SUF>' || substr(text, (hi + 1)::INT, (n - hi)::INT) ||
      |    '<MID>' || substr(text, (lo + 1)::INT, (hi - lo)::INT)
      |  ELSE text END AS rendered
      |FROM d ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- span corruption
  /** T5 denoising pairs: windows of 10 tokens, one 3-token span dropped
    * per window at a hash-derived offset — see
    * [[graft.ops.Synthesize.spanCorrupt]]. */
  val q160SpanCorrupt: Q = (spark, dir) =>
    Synthesize.spanCorrupt(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q160Sql: String =
    s"""WITH tok AS MATERIALIZED (SELECT doc_id, (i - 1)::BIGINT AS pos, lst[i] AS tok
       |  FROM (SELECT doc_id, $TokList AS lst FROM documents),
       |    unnest(generate_series(1, len(lst))) AS g(i)),
       |f AS (SELECT doc_id, pos, tok, w,
       |    (iw >= off AND iw < off + 3) AS corr, (iw = off) AS frst
       |  FROM (SELECT doc_id, pos, tok, pos // 10 AS w,
       |      (doc_id + (pos // 10) * 2654435761) % 8 AS off, pos % 10 AS iw
       |    FROM tok)),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(CASE WHEN corr THEN 1 ELSE 0 END)::BIGINT AS n_corrupted,
       |    string_agg(CASE WHEN NOT corr THEN tok
       |                    WHEN frst THEN '<X' || w::VARCHAR || '>' END,
       |               ' ' ORDER BY pos) AS input_text,
       |    string_agg(CASE WHEN corr THEN
       |        CASE WHEN frst THEN '<X' || w::VARCHAR || '> ' || tok
       |             ELSE tok END END,
       |      ' ' ORDER BY pos) AS target_text
       |  FROM f GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(a.n_corrupted, 0)::BIGINT AS n_corrupted,
       |  coalesce(a.input_text, '') AS input_text,
       |  coalesce(a.target_text, '') AS target_text
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------- distinct-n diversity
  /** Distinct-2 diversity per language slice — see
    * [[graft.ops.Vocab.distinctNgramReport]]. */
  val q161Diversity: Q = (spark, dir) =>
    Vocab.distinctNgramReport(Tables.documents(spark, dir), "lang", "text", 2)
      .orderBy("lang")

  val q161Sql: String =
    s"""WITH s AS (SELECT lang, $TokList AS lst FROM documents),
       |g AS (SELECT lang, lst[i] || ' ' || lst[i + 1] AS sh
       |  FROM s, unnest(generate_series(1, len(lst) - 1)) AS t(i)),
       |c AS (SELECT lang, sh, count(*)::BIGINT AS c FROM g GROUP BY 1, 2)
       |SELECT lang, sum(c)::BIGINT AS n_total, count(*)::BIGINT AS n_distinct,
       |  (count(*) * 1000000 // sum(c))::BIGINT AS distinct_ppm
       |FROM c GROUP BY 1 ORDER BY lang""".stripMargin

  // --------------------------------------------------- release novelty
  /** Shingle-containment novelty of the would-be-new release slice
    * (doc_id % 11 = 0 — the q100 release convention's `added` class)
    * against the existing corpus, word trigrams — see
    * [[graft.ops.Delta.shingleNovelty]]. */
  val q162Novelty: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    Delta.shingleNovelty(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  val q162Sql: String =
    s"""WITH lst AS MATERIALIZED (SELECT doc_id, $TokList AS lst FROM documents),
       |ps AS MATERIALIZED (SELECT DISTINCT
       |    lst[i] || ' ' || lst[i + 1] || ' ' || lst[i + 2] AS sh
       |  FROM lst, unnest(generate_series(1, len(lst) - 2)) AS t(i)
       |  WHERE doc_id % 11 != 0),
       |cs AS (SELECT DISTINCT doc_id,
       |    lst[i] || ' ' || lst[i + 1] || ' ' || lst[i + 2] AS sh
       |  FROM lst, unnest(generate_series(1, len(lst) - 2)) AS t(i)
       |  WHERE doc_id % 11 = 0),
       |a AS (SELECT c.doc_id, count(*)::BIGINT AS n_shingles,
       |    sum(CASE WHEN p.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |      AS n_contained
       |  FROM cs c LEFT JOIN ps p USING (sh) GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.n_shingles, 0)::BIGINT AS n_shingles,
       |  coalesce(a.n_contained, 0)::BIGINT AS n_contained,
       |  (CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 1000000
       |        ELSE (a.n_shingles - a.n_contained) * 1000000 // a.n_shingles
       |   END)::BIGINT AS novelty_ppm
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 11 = 0) d
       |LEFT JOIN a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q159_fim", q159Fim, q159Sql),
    QueryDef("q160_span_corrupt", q160SpanCorrupt, q160Sql),
    QueryDef("q161_diversity", q161Diversity, q161Sql),
    QueryDef("q162_novelty", q162Novelty, q162Sql))
}
