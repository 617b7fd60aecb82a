package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Audit, Journey}

/** Twenty-ninth query wave: forensic/concentration audits and the rest
  * of the attribution family — Benford first-digit conformance (q211),
  * per-source Gini concentration (q212), half-life-decayed engagement
  * (q213), session entry paths (q214), linear multi-touch attribution
  * with a lookback deadline (q215).
  */
object Queries29 {

  /** Benford audit of lineitem extended prices (integer cents — Benford
    * is scale-invariant, so the 1e-2 units audit the amounts). */
  val q211Benford: Q = (spark, dir) =>
    Audit.benford(Tables.lineitem(spark, dir)
        .select(round(col("l_extendedprice") * 100).cast("long")
          .as("cents")), "cents")
      .orderBy("digit")

  val q211Sql: String = {
    val values = Audit.BenfordPpm
      .map { case (d, p) => s"('$d', ${p})" }.mkString(", ")
    s"""WITH c AS (SELECT substr((round(l_extendedprice * 100)::BIGINT)::VARCHAR, 1, 1) AS digit
       |    FROM lineitem WHERE round(l_extendedprice * 100)::BIGINT > 0),
       |g AS (SELECT digit, count(*)::BIGINT AS n FROM c GROUP BY 1),
       |tot AS (SELECT sum(n)::BIGINT AS t FROM g),
       |e(digit, exp_ppm) AS (VALUES $values)
       |SELECT g.digit, g.n,
       |  (g.n * 1000000 // tot.t)::BIGINT AS obs_ppm,
       |  e.exp_ppm::BIGINT AS exp_ppm,
       |  abs(g.n * 1000000 // tot.t - e.exp_ppm)::BIGINT AS dev_ppm
       |FROM g CROSS JOIN tot JOIN e ON e.digit = g.digit
       |ORDER BY g.digit""".stripMargin
  }

  /** Per-source Gini concentration of document lengths — how unequally
    * a source's bytes are spread over its documents (mixture-weighting
    * input: a source whose mass sits in a few giants needs doc-level
    * caps, not source-level ones). */
  val q212Gini: Q = (spark, dir) =>
    Audit.giniByGroup(Tables.documents(spark, dir),
        "source", "n_chars", "doc_id")
      .orderBy("source")

  val q212Sql: String =
    """WITH r AS (SELECT source, n_chars::BIGINT AS x,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars ASC, doc_id ASC)::BIGINT AS i
      |  FROM documents),
      |a AS (SELECT source, count(*)::BIGINT AS n, sum(x)::BIGINT AS total,
      |    sum(i * x)::BIGINT AS s1 FROM r GROUP BY 1)
      |SELECT source, n, total,
      |  (CASE WHEN n * total // 1000000 = 0 THEN NULL
      |    ELSE (2 * s1 - (n + 1) * total) // (n * total // 1000000)
      |    END)::BIGINT AS gini_ppm
      |FROM a ORDER BY source""".stripMargin

  /** Half-life-decayed per-user engagement (4-week half-life, power-of-2
    * decay — integer shifts, no float exp). */
  val q213DecayScore: Q = (spark, dir) =>
    Journey.decayScore(Tables.events(spark, dir),
        "user_id", "ts", "value", halfLifeWeeks = 4)
      .orderBy("user_id")

  val q213Sql: String =
    """WITH b AS (SELECT user_id,
      |    (epoch_us(ts) // 86400000000)::BIGINT AS d,
      |    round(value * 10000)::BIGINT AS v FROM events),
      |ref AS (SELECT max(d) AS r FROM b)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |  sum(v)::BIGINT AS raw_e4,
      |  sum(v // (1::BIGINT << least((ref.r - d) // 7 // 4, 62)::INT))::BIGINT
      |    AS decayed_e4
      |FROM b CROSS JOIN ref GROUP BY 1 ORDER BY 1""".stripMargin

  /** Session entry paths: the first 3 event types of each 30-min-gap
    * session — which openings lead sessions. */
  val q214SessionPaths: Q = (spark, dir) =>
    Journey.sessionPaths(Tables.events(spark, dir),
        "user_id", "ts", "event_id", "event_type",
        gapMinutes = 30, depth = 3)
      .orderBy("path")

  val q214Sql: String =
    s"""WITH ${Queries2.sessionGapCte("user_id, ts, event_id, event_type")},
      |s2 AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    (sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
      |      AS session_idx
      |  FROM s),
      |r AS (SELECT user_id, session_idx, event_type,
      |    row_number() OVER (PARTITION BY user_id, session_idx
      |      ORDER BY ts, event_id) AS rn
      |  FROM s2),
      |p AS (SELECT user_id, session_idx,
      |    string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT path, count(*)::BIGINT AS n_sessions,
      |  count(DISTINCT user_id)::BIGINT AS n_users
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Linear multi-touch attribution of purchase value across the
    * distinct prior touch channels within a 30-day lookback. */
  val q215LinearAttribution: Q = (spark, dir) =>
    Journey.linearAttribution(Tables.events(spark, dir),
        "user_id", "ts", "event_id", "event_type", "value",
        convType = "purchase", lookbackSec = 30L * 86400L)
      .orderBy("channel")

  val q215Sql: String =
    """WITH c AS (SELECT user_id AS u, event_id AS cid, epoch_us(ts) AS ct,
      |    round(value * 10000)::BIGINT AS v
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT user_id AS u, event_type AS channel,
      |    epoch_us(ts) AS tt, event_id AS tid
      |  FROM events WHERE event_type <> 'purchase'),
      |p AS (SELECT DISTINCT c.u, c.cid, c.v, t.channel
      |  FROM c JOIN t ON c.u = t.u
      |    AND (t.tt < c.ct OR (t.tt = c.ct AND t.tid < c.cid))
      |    AND t.tt >= c.ct - 2592000000000),
      |w AS (SELECT u, cid, v, channel,
      |    count(*) OVER (PARTITION BY u, cid)::BIGINT AS nch FROM p),
      |cr AS (SELECT channel, count(*)::BIGINT AS n_credits,
      |    sum(v * (1000000 // nch) // 1000000)::BIGINT AS credit_e4
      |  FROM w GROUP BY 1),
      |d AS (SELECT '(direct)' AS channel, count(*)::BIGINT AS n_credits,
      |    coalesce(sum(v), 0)::BIGINT AS credit_e4
      |  FROM c WHERE NOT EXISTS (SELECT 1 FROM p
      |    WHERE p.u = c.u AND p.cid = c.cid))
      |SELECT channel, n_credits, credit_e4 FROM (
      |  SELECT * FROM cr UNION ALL
      |  SELECT * FROM d WHERE d.n_credits > 0)
      |ORDER BY channel""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q211_benford", q211Benford, q211Sql),
    QueryDef("q212_gini_concentration", q212Gini, q212Sql),
    QueryDef("q213_decay_score", q213DecayScore, q213Sql),
    QueryDef("q214_session_paths", q214SessionPaths, q214Sql),
    QueryDef("q215_linear_attribution", q215LinearAttribution, q215Sql))
}
