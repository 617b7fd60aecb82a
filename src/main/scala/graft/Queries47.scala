package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.UrlFns

/** Forty-seventh query wave: the public-suffix list's WILDCARD and
  * EXCEPTION rules (r16 verdict task 3) plus the host percent-escape
  * decision as a fixture (task 4). q270 hash-checks
  * [[graft.functions.UrlFns.registeredDomain]] PER ROW over synthetic
  * hosts that exercise every rule class — plain entry, 1-label wildcard
  * (`*.ck`), deep exception (`!www.ck`), 2-label wildcard
  * (`*.kawasaki.jp`), the host-IS-public-suffix pass-through, and the
  * 3-label city exception; q271 rolls the same hosts up by registered
  * domain (the q261 dedup-mass shape — the exception arm collapses a
  * whole fixture arm onto ONE domain); q272 re-runs the q260 per-row
  * canonicalization check over URLs carrying percent-escapes in the
  * HOSTNAME, making the documented decision (unreserved decodes then
  * case-folds; reserved survives with its hex folded to lowercase by the
  * host fold, unlike the path where it stays uppercase) oracle-visible.
  */
object Queries47 {

  /** Synthetic lowercase hosts, one PSL rule class per `doc_id % 7` arm
    * (7 is coprime with the q270 slice modulus 10, so the slice hits
    * every arm). */
  private def synthHost(d: Column, source: Column): Column = {
    val ex = concat(lit("example"), (d % 3).cast("string"))
    val stem = concat(lit("www."), lower(source), lit("."), ex)
    when(d % 7 === 0, concat(stem, lit(".com")))        // default rule
      .when(d % 7 === 1, concat(stem, lit(".co.uk")))   // plain PSL entry
      .when(d % 7 === 2, concat(stem, lit(".ck")))      // *.ck wildcard
      .when(d % 7 === 3,                                // !www.ck, deep
        concat(lower(source), lit("."), ex, lit(".www.ck")))
      .when(d % 7 === 4,                                // *.kawasaki.jp
        concat(stem, lit(".kawasaki.jp")))
      .when(d % 7 === 5,                                // IS a public suffix
        concat(ex, lit(".kawasaki.jp")))
      .otherwise(lit("www.city.kawasaki.jp"))           // !city.kawasaki.jp
  }

  private val synthHostSql: String =
    """CASE doc_id % 7
      |  WHEN 0 THEN 'www.' || lower(source) || '.example' ||
      |    (doc_id % 3)::VARCHAR || '.com'
      |  WHEN 1 THEN 'www.' || lower(source) || '.example' ||
      |    (doc_id % 3)::VARCHAR || '.co.uk'
      |  WHEN 2 THEN 'www.' || lower(source) || '.example' ||
      |    (doc_id % 3)::VARCHAR || '.ck'
      |  WHEN 3 THEN lower(source) || '.example' ||
      |    (doc_id % 3)::VARCHAR || '.www.ck'
      |  WHEN 4 THEN 'www.' || lower(source) || '.example' ||
      |    (doc_id % 3)::VARCHAR || '.kawasaki.jp'
      |  WHEN 5 THEN 'example' || (doc_id % 3)::VARCHAR || '.kawasaki.jp'
      |  ELSE 'www.city.kawasaki.jp' END""".stripMargin

  /** The PSL rule lists as DuckDB literals, rendered from the SAME Scala
    * constants the engine matches against (the shared-constant rule).
    * LAZY with requires pinning the label counts each oracle CASE arm
    * assumes — a list entry outside those shapes must fail when the
    * ORACLE is built, with a message naming the arm to add (ADVICE r16;
    * Wave47Spec asserts the same constraints directly). These literals
    * feed [[domCaseSql]], which q261's oracle shares. */
  private lazy val psl2Sql: String = {
    require(UrlFns.publicSuffixes.forall(_.count(_ == '.') == 1),
      "q261/q270/q271 oracles spell ONLY the two-label plain-PSL arm - " +
        "a 3+-label entry in UrlFns.publicSuffixes needs a matching arm")
    UrlFns.publicSuffixes.map(s => s"'$s'").mkString("[", ", ", "]")
  }
  private lazy val wildSql: Map[Int, String] = {
    require(UrlFns.publicSuffixWildcards
        .forall(w => Set(0, 1)(w.count(_ == '.'))),
      "q261/q270/q271 oracles spell 1- and 2-label wildcard bases - a " +
        "longer base in UrlFns.publicSuffixWildcards needs a matching arm")
    UrlFns.publicSuffixWildcards.groupBy(_.count(_ == '.') + 1)
      .map { case (k, ws) =>
        k -> ws.map(w => s"'$w'").mkString("[", ", ", "]") }
  }
  private lazy val excSql: Map[Int, String] = {
    require(UrlFns.publicSuffixExceptions
        .forall(e => Set(1, 2)(e.count(_ == '.'))),
      "q261/q270/q271 oracles spell 2- and 3-label exception rules - a " +
        "longer rule in UrlFns.publicSuffixExceptions needs a matching arm")
    UrlFns.publicSuffixExceptions.groupBy(_.count(_ == '.') + 1)
      .map { case (k, es) =>
        k -> es.map(e => s"'$e'").mkString("[", ", ", "]") }
  }

  /** DuckDB spelling of [[graft.functions.UrlFns.registeredDomain]] with
    * wildcard + exception rules, arms in the engine's precedence order:
    * exceptions (longest first), then rules by RULE length (a wildcard's
    * `*` counts, so 2-label bases are 3-label rules and outrank both
    * 1-label wildcard bases and plain 2-label entries), then the default
    * rule. The `len = |w|+1` pass-through arm (host IS a wildcard public
    * suffix) must precede the shorter-rule arms or the default would
    * truncate it. A label-count group with no shipped entries renders as
    * a typed EMPTY list (arm inert) rather than a bare key-not-found at
    * oracle build — the requires above still bound the MAXIMUM shapes.
    * Shared with q261's oracle (Queries43), which would otherwise
    * silently rely on its fixture never touching a wildcard TLD. */
  private[graft] lazy val domCaseSql: String = {
    def lastK(k: Int) = s"array_to_string(ls[len(ls) - ${k - 1} : len(ls)], '.')"
    def wild(k: Int) = wildSql.getOrElse(k, "[]::VARCHAR[]")
    def exc(k: Int) = excSql.getOrElse(k, "[]::VARCHAR[]")
    s"""CASE WHEN len(ls) >= 3 AND list_contains(${exc(3)}, ${lastK(3)})
       |       THEN ${lastK(3)}
       |     WHEN len(ls) >= 2 AND list_contains(${exc(2)}, ${lastK(2)})
       |       THEN ${lastK(2)}
       |     WHEN len(ls) >= 4 AND list_contains(${wild(2)}, ${lastK(2)})
       |       THEN ${lastK(4)}
       |     WHEN len(ls) = 3 AND list_contains(${wild(2)}, ${lastK(2)})
       |       THEN host
       |     WHEN len(ls) >= 3 AND list_contains(${wild(1)}, ${lastK(1)})
       |       THEN ${lastK(3)}
       |     WHEN len(ls) >= 3 AND list_contains($psl2Sql, ${lastK(2)})
       |       THEN ${lastK(3)}
       |     WHEN len(ls) >= 2 THEN ${lastK(2)}
       |     ELSE host END""".stripMargin
  }

  private lazy val domCteSql: String =
    s"""hosts AS (SELECT doc_id, $synthHostSql AS host FROM documents),
       |dom AS (SELECT doc_id, host, $domCaseSql AS domain
       |  FROM (SELECT doc_id, host, string_split(host, '.') AS ls
       |        FROM hosts))""".stripMargin

  /** Per-row registered-domain over the synthetic PSL fixture on a
    * deterministic id slice — every wildcard/exception behavior visible
    * in the output. [[graft.functions.UrlFns.registeredDomain]]. */
  val q270PslDomains: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id"),
        synthHost(col("doc_id"), col("source")).as("host"))
      .withColumn("domain", UrlFns.registeredDomain(col("host")))
      .orderBy("doc_id")

  lazy val q270Sql: String =
    s"""WITH $domCteSql
       |SELECT doc_id, host, domain FROM dom WHERE doc_id % 10 = 3
       |ORDER BY doc_id""".stripMargin

  /** Rollup of the same fixture by registered domain: host count and
    * distinct-host count per domain — the q261 dedup-mass shape; the
    * `!www.ck` arm collapses its whole fixture arm onto ONE domain while
    * the `*.ck` arm fans out per (source, id%3). */
  val q271PslRollup: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(synthHost(col("doc_id"), col("source")).as("host"))
      .withColumn("domain", UrlFns.registeredDomain(col("host")))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_hosts"),
        count_distinct(col("host")).as("n_distinct"))
      .orderBy("domain")

  lazy val q271Sql: String =
    s"""WITH $domCteSql
       |SELECT domain, count(*)::BIGINT AS n_hosts,
       |  count(DISTINCT host)::BIGINT AS n_distinct
       |FROM dom GROUP BY domain ORDER BY domain""".stripMargin

  /** URLs with percent-escapes in the HOSTNAME (and the same escapes in
    * the path, for contrast): `%41` is unreserved → decodes to `A` and
    * case-folds with the host (stays `A` in the path); `%2f` is
    * reserved → survives encoded with hex uppercased by step 0, then
    * lowercased again by the HOST case fold only. See the decision note
    * on [[graft.functions.UrlFns.canonicalizeUrl]]. */
  private def synthUrl272(d: Column, source: Column): Column =
    concat(lit("HTTP://H%41S%2fT."), source, lit(".Example"),
      (d % 3).cast("string"), lit(".COM:80/P%41th%2f"),
      (d % 5).cast("string"),
      lit("?id="), (d % 7).cast("string"),
      lit("&utm_source=u"), d.cast("string"),
      lit("#f"), d.cast("string"))

  private val synthUrl272Sql: String =
    "'HTTP://H%41S%2fT.' || source || '.Example' || (doc_id % 3)::VARCHAR" +
      " || '.COM:80/P%41th%2f' || (doc_id % 5)::VARCHAR ||" +
      " '?id=' || (doc_id % 7)::VARCHAR ||" +
      " '&utm_source=u' || doc_id::VARCHAR || '#f' || doc_id::VARCHAR"

  /** Per-row canonicalization of the host-escape fixture on the q260
    * slice: expected key `http://has%2ft.<source>.exampleN.com/PAth%2FM?id=K`
    * — `%41` decoded then folded in the host, preserved as `A` in the
    * path; `%2f` → `%2F` → `%2f` in the host, `%2F` in the path; `:80`
    * stripped; tracking param dropped; fragment gone.
    * [[graft.functions.UrlFns.canonicalizeUrl]]. */
  val q272HostEscapes: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id"),
        UrlFns.canonicalizeUrl(synthUrl272(col("doc_id"), col("source")))
          .as("canonical"))
      .orderBy("doc_id")

  lazy val q272Sql: String =
    s"""WITH ${Queries43.canonCteFor(synthUrl272Sql)}
       |SELECT doc_id, canonical FROM canon WHERE doc_id % 10 = 3
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q270_psl_domains", q270PslDomains, q270Sql),
    QueryDef("q271_psl_rollup", q271PslRollup, q271Sql),
    QueryDef("q272_host_escapes", q272HostEscapes, q272Sql))
}
