package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Audit, Dedup, Preference, Vocab}

/** Thirty-first query wave: release-governance depth — template-flood
  * detection (q221), provenance-union dedup manifests (q222),
  * preference position-bias audit (q223), per-source nucleus vocabulary
  * (q224), and the vector-store integrity audit (q225).
  */
object Queries31 {

  /** Template floods per source: skeleton = digits→0, case/whitespace
    * folded — the synthetic-flood canary exact dedup cannot see. */
  val q221TemplateFloods: Q = (spark, dir) =>
    Dedup.templateFloodReport(Tables.documents(spark, dir),
        "source", "text", minClusterSize = 3L)
      .orderBy("source")

  val q221Sql: String =
    """WITH sk AS (SELECT source,
      |    md5(regexp_replace(regexp_replace(lower(trim(text)),
      |      '[0-9]+', '0', 'g'), '\s+', ' ', 'g')) AS s
      |  FROM documents),
      |g AS (SELECT source, s, count(*)::BIGINT AS n FROM sk GROUP BY 1, 2)
      |SELECT source, sum(n)::BIGINT AS n_docs,
      |  count(*)::BIGINT AS n_skeletons, max(n)::BIGINT AS max_cluster,
      |  (sum(CASE WHEN n >= 3 THEN n ELSE 0 END) * 1000000
      |    // sum(n))::BIGINT AS flood_ppm
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** Provenance-union manifest over boilerplate-opening clusters (the
    * q180 5-token prefix fingerprint — exact-dup clusters only appear at
    * sf0.1 in this fixture; licensing follows the strictest member, so
    * the keeper carries the source union either way). */
  val q222ProvenanceManifest: Q = (spark, dir) =>
    Dedup.provenanceManifest(Tables.documents(spark, dir),
        "doc_id", "source",
        md5(array_join(slice(
          graft.functions.TextFns.wordTokens(col("text")), 1, 5), " ")))
      .orderBy("fp")

  val q222Sql: String =
    """WITH f AS (SELECT
      |    md5(array_to_string(
      |      string_split_regex(lower(trim(text)), '\s+')[1:5], ' ')) AS fp,
      |    doc_id, source
      |  FROM documents),
      |g AS (SELECT fp, min(doc_id)::BIGINT AS keep_id,
      |    count(*)::BIGINT AS n_dups,
      |    count(DISTINCT source)::BIGINT AS n_sources,
      |    array_to_string(list_sort(list_distinct(list(source))), ',')
      |      AS sources
      |  FROM f GROUP BY 1)
      |SELECT fp, keep_id, n_dups, n_sources, sources,
      |  (CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)::BIGINT
      |    AS cross_source
      |FROM g WHERE n_dups >= 2 ORDER BY fp""".stripMargin

  /** Position-bias audit over the q147 preference pairs: first-shown
    * side drawn by a deterministic md5 bit (the fixture has no recorded
    * presentation order), win share per 0.1-quality margin bucket —
    * unbiased collection reads ≈500000 ppm everywhere. */
  val q223PositionBias: Q = (spark, dir) => {
    val pairs = Queries13.qualityPairs(Tables.documents(spark, dir))
    val withFirst = pairs.withColumn("first_win",
      substring(md5(concat(col("chosen_id").cast("string"), lit("_"),
        col("rejected_id").cast("string"))), 1, 1) < lit("8"))
    Preference.positionBias(withFirst, "first_win", "margin_e6",
        bucketE6 = 100000L)
      .orderBy("margin_bucket")
  }

  val q223Sql: String =
    s"""WITH ${Queries13.PrefPairCtes},
       |m AS (SELECT margin_e6,
       |    substr(md5(chosen_id::VARCHAR || '_' || rejected_id::VARCHAR),
       |      1, 1) < '8' AS fw
       |  FROM pairs)
       |SELECT (abs(margin_e6) // 100000)::BIGINT AS margin_bucket,
       |  count(*)::BIGINT AS n,
       |  sum(CASE WHEN fw THEN 1 ELSE 0 END)::BIGINT AS n_first_win,
       |  (sum(CASE WHEN fw THEN 1 ELSE 0 END) * 1000000
       |    // count(*))::BIGINT AS first_win_ppm,
       |  (sum(CASE WHEN fw THEN 1 ELSE 0 END) * 1000000 // count(*)
       |    - 500000)::BIGINT AS bias_ppm
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-source nucleus vocabulary at 90% token mass — the effective-
    * vocabulary readout (top-p's corpus-side dual). */
  val q224NucleusVocab: Q = (spark, dir) =>
    Vocab.nucleusVocab(Tables.documents(spark, dir),
        "source", "text", massPpm = 900000L)
      .orderBy("source")

  val q224Sql: String =
    """WITH tok AS (SELECT source,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents),
      |c AS (SELECT source, word, count(*)::BIGINT AS cnt
      |  FROM tok WHERE word <> '' GROUP BY 1, 2),
      |r AS (SELECT source, word, cnt,
      |    row_number() OVER w::BIGINT AS rank,
      |    sum(cnt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW)::BIGINT AS cum,
      |    sum(cnt) OVER (PARTITION BY source)::BIGINT AS tot
      |  FROM c WINDOW w AS (PARTITION BY source
      |    ORDER BY cnt DESC, word ASC))
      |SELECT source, min(tot)::BIGINT AS total_tokens,
      |  count(*)::BIGINT AS vocab_size,
      |  sum(CASE WHEN (cum - cnt) * 1000000 < tot * 900000
      |    THEN 1 ELSE 0 END)::BIGINT AS nucleus_size,
      |  (sum(CASE WHEN rank <= 10 THEN cnt ELSE 0 END) * 1000000
      |    // min(tot))::BIGINT AS top10_ppm
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Vector-store integrity: documents ⟷ embeddings reconciliation +
    * dimension/finite-value conformance. */
  val q225VectorStoreAudit: Q = (spark, dir) =>
    Audit.vectorStoreAudit(Tables.documents(spark, dir), "doc_id",
      Tables.embeddings(spark, dir), "vec_id", "embedding")

  val q225Sql: String =
    """WITH v AS (SELECT vec_id AS id, 1 AS vec,
      |    len(embedding)::BIGINT AS dim,
      |    (isnan(list_max(embedding))
      |      OR list_max(embedding) = 'Infinity'::FLOAT
      |      OR list_min(embedding) = '-Infinity'::FLOAT) AS bad
      |  FROM embeddings),
      |d AS (SELECT doc_id AS id, 1 AS doc FROM documents),
      |md AS (SELECT dim AS modal_dim FROM (
      |  SELECT dim, count(*) AS c FROM v GROUP BY 1
      |  ORDER BY c DESC, dim ASC LIMIT 1)),
      |j AS (SELECT d.doc, v.vec, v.dim, v.bad
      |  FROM d FULL OUTER JOIN v ON d.id = v.id)
      |SELECT sum(coalesce(doc, 0))::BIGINT AS n_docs,
      |  sum(coalesce(vec, 0))::BIGINT AS n_vectors,
      |  sum(CASE WHEN doc IS NOT NULL AND vec IS NOT NULL
      |    THEN 1 ELSE 0 END)::BIGINT AS n_matched,
      |  sum(CASE WHEN vec IS NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_doc_only,
      |  sum(CASE WHEN doc IS NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_vec_only,
      |  min(md.modal_dim)::BIGINT AS modal_dim,
      |  sum(CASE WHEN dim IS NOT NULL AND dim <> md.modal_dim
      |    THEN 1 ELSE 0 END)::BIGINT AS n_dim_anomaly,
      |  sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite
      |FROM j CROSS JOIN md""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q221_template_floods", q221TemplateFloods, q221Sql),
    QueryDef("q222_provenance_manifest", q222ProvenanceManifest, q222Sql),
    QueryDef("q223_position_bias", q223PositionBias, q223Sql),
    QueryDef("q224_nucleus_vocab", q224NucleusVocab, q224Sql),
    QueryDef("q225_vector_store_audit", q225VectorStoreAudit, q225Sql))
}
