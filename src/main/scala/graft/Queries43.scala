package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.UrlFns

/** Forty-third query wave: crawl-side URL hygiene — canonicalization as an
  * oracle-checked per-row transform (q260) and canonical-URL dedup rolled
  * up by registered domain (q261), the TIER-0 dedup a web corpus runs
  * before any content fingerprint: re-crawls differing only in case,
  * default port, fragment, tracking params, query order, or
  * percent-encoding spelling collapse on a map-side key, no document
  * bytes touched.
  *
  * The fixture has no URL column, so both engines synthesize the same
  * deterministic URLs from (doc_id, source) — mixed-case scheme/host, a
  * `:443` default port, a PER-DOCUMENT `utm_campaign` tracking param (so
  * zero duplicates exist unless tracking-param removal works), unsorted
  * params, a per-document fragment, a lowercase-hex UNRESERVED escape
  * (`%7e` → `~`), a lowercase-hex RESERVED escape (`%2f` → `%2F`,
  * case-normalized but NOT decoded), a malformed escape (`%zz`, passed
  * through verbatim), and a `.CO.UK`-registry arm on odd ids (so the
  * registered-domain rollup is wrong under any two-label heuristic —
  * the r15 public-suffix-LITE gap, closed). Canonical-key cardinality is
  * 2·3·5·7 = 210 per source, so real duplicate mass exists at every SF.
  */
object Queries43 {

  private def synthUrl(d: Column, source: Column): Column =
    concat(lit("HTTPS://WWW."), source, lit(".Example"),
      (d % 3).cast("string"),
      when(d % 2 === 0, lit(".COM")).otherwise(lit(".CO.UK")),
      lit(":443/Docs/%7e"), (d % 5).cast("string"), lit("%2fx%zz"),
      lit("?utm_campaign=c"), d.cast("string"),
      lit("&id="), (d % 7).cast("string"),
      lit("#sec"), d.cast("string"))

  private val synthUrlSql: String =
    "'HTTPS://WWW.' || source || '.Example' || (doc_id % 3)::VARCHAR ||" +
      " (CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.CO.UK' END) ||" +
      " ':443/Docs/%7e' || (doc_id % 5)::VARCHAR || '%2fx%zz' ||" +
      " '?utm_campaign=c' || doc_id::VARCHAR ||" +
      " '&id=' || (doc_id % 7)::VARCHAR || '#sec' || doc_id::VARCHAR"

  /** The 66 unreserved hex codes as a DuckDB list literal — rendered from
    * the SAME Scala constant the engine kernel reads, so the two engines
    * cannot drift. */
  private val unreservedHexSql: String =
    UrlFns.UnreservedHex.map(h => s"'$h'").mkString("[", ", ", "]")

  // The registered-domain CASE (plain + wildcard + exception rules) is
  // shared with wave 47 — Queries47.domCaseSql renders the SAME Scala
  // lists the engine matches against, LAZILY (ADVICE r16: the list-shape
  // requires fire when the ORACLE is built, not at registry load from
  // engine-only paths). r17 review: q261's oracle previously spelled only
  // the plain arms and silently relied on its fixture never touching a
  // wildcard TLD; sharing the full CASE removes that latent divergence.

  /** The canonicalization steps in DuckDB, mirroring
    * [[graft.functions.UrlFns.canonicalizeUrl]] one-for-one (step 0 is
    * [[graft.functions.UrlFns.normalizePercentEncoding]]: split on `%`,
    * decode unreserved triplets, uppercase surviving triplet hex, pass
    * malformed escapes through) — parameterized on the synthetic-URL
    * expression so Queries47's host-escape fixture (q272) rides the
    * SAME spelling instead of a copy. */
  private[graft] def canonCteFor(urlSql: String): String =
    s"""raw AS (SELECT doc_id, $urlSql AS url FROM documents),
       |pe AS (SELECT doc_id,
       |    ps[1] || array_to_string(list_transform(ps[2:], p ->
       |      CASE WHEN list_contains($unreservedHexSql, upper(p[1:2]))
       |             THEN chr(('0x' || upper(p[1:2]))::INT) || p[3:]
       |           WHEN regexp_matches(upper(p[1:2]), '^[0-9A-F]{2}$$')
       |             THEN '%' || upper(p[1:2]) || p[3:]
       |           ELSE '%' || p END), '') AS u
       |  FROM (SELECT doc_id, string_split(url, '%') AS ps FROM raw)),
       |nf AS (SELECT doc_id, regexp_replace(u, '#.*$$', '') AS u FROM pe),
       |pieces AS (SELECT doc_id,
       |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(u,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
       |    regexp_extract(u,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$$', 1) AS rest
       |  FROM nf),
       |parts AS (SELECT doc_id, scheme,
       |    CASE WHEN scheme = 'https'
       |           THEN regexp_replace(hostport, ':443$$', '')
       |         WHEN scheme = 'http'
       |           THEN regexp_replace(hostport, ':80$$', '')
       |         ELSE hostport END AS host,
       |    regexp_extract(rest, '^([^?]*)', 1) AS path,
       |    regexp_extract(rest, '\\?(.*)$$', 1) AS query
       |  FROM pieces),
       |canon AS (SELECT doc_id, scheme, host,
       |    scheme || '://' || host ||
       |    (CASE WHEN path = '' THEN '/' ELSE path END) ||
       |    (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS canonical
       |  FROM (SELECT *, array_to_string(list_sort(list_filter(
       |          string_split(query, '&'),
       |          p -> p <> '' AND NOT regexp_matches(p,
       |            '^(utm_[^=]*|fbclid|gclid)(=|$$)'))), '&') AS sq
       |        FROM parts))""".stripMargin

  private val canonCteSql: String = canonCteFor(synthUrlSql)

  /** Per-row canonicalization on a deterministic id slice — the transform
    * itself hash-checked (percent-normalization, case, port, fragment,
    * tracking removal, and param sort each visible in the output).
    * [[graft.functions.UrlFns.canonicalizeUrl]]. */
  val q260UrlCanonical: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id"),
        UrlFns.canonicalizeUrl(synthUrl(col("doc_id"), col("source")))
          .as("canonical"))
      .orderBy("doc_id")

  val q260Sql: String =
    s"""WITH $canonCteSql
       |SELECT doc_id, canonical FROM canon WHERE doc_id % 10 = 3
       |ORDER BY doc_id""".stripMargin

  /** Canonical-URL dedup by registered domain under the PUBLIC-SUFFIX
    * list: per domain the raw URL count, distinct canonical count, and
    * the duplicate share removed by canonicalization ALONE (every URL
    * here is unique pre-canonical — the per-doc utm_campaign guarantees
    * it). The `.CO.UK` arm groups as `exampleN.co.uk` (suffix-list
    * match), not `co.uk` (what the r15 two-label rule would emit).
    * [[graft.functions.UrlFns.registeredDomain]]. */
  val q261UrlDedupDomains: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(
        UrlFns.canonicalizeUrl(synthUrl(col("doc_id"), col("source")))
          .as("canonical"))
      .select(col("canonical"),
        UrlFns.registeredDomain(UrlFns.urlHost(col("canonical")))
          .as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("canonical")).as("n_canonical"))
      .select(col("domain"), col("n_urls"), col("n_canonical"),
        expr("(n_urls - n_canonical) * 1000000L div n_urls")
          .cast("long").as("dup_ppm"))
      .orderBy("domain")

  lazy val q261Sql: String =
    s"""WITH $canonCteSql,
       |dom AS (SELECT canonical,
       |    ${Queries47.domCaseSql} AS domain
       |  FROM (SELECT canonical, host, string_split(host, '.') AS ls
       |        FROM canon)),
       |g AS (SELECT domain, count(*)::BIGINT AS n_urls,
       |    count(DISTINCT canonical)::BIGINT AS n_canonical
       |  FROM dom GROUP BY 1)
       |SELECT domain, n_urls, n_canonical,
       |  ((n_urls - n_canonical) * 1000000 // n_urls)::BIGINT AS dup_ppm
       |FROM g ORDER BY domain""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q260_url_canonical", q260UrlCanonical, q260Sql),
    QueryDef("q261_url_dedup_domains", q261UrlDedupDomains, q261Sql))
}
