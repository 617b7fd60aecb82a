package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Analyze, Series}

/** Twenty-fifth query wave: warehouse-analytics staples the event/ops
  * side of a data platform runs — weekly cohort retention (q201),
  * forward-filled daily series (q202) and the ANALYZE-style column
  * statistics profile (q203).
  */
object Queries25 {

  // ---------------------------------------------------- cohort matrix
  /** Weekly cohort retention over the event log — see
    * [[graft.ops.Series.cohortRetention]]. */
  val q201CohortRetention: Q = (spark, dir) =>
    Series.cohortRetention(Tables.events(spark, dir), "user_id", "ts")
      .orderBy("cohort_week", "offset_weeks")

  val q201Sql: String =
    """WITH w AS (SELECT DISTINCT user_id AS u,
      |    epoch_us(ts) // 86400000000 // 7 AS wk FROM events),
      |f AS (SELECT u, min(wk) AS cw FROM w GROUP BY 1),
      |s AS (SELECT cw, count(*)::BIGINT AS cohort_size FROM f GROUP BY 1)
      |SELECT f.cw::BIGINT AS cohort_week,
      |  (w.wk - f.cw)::BIGINT AS offset_weeks,
      |  count(*)::BIGINT AS n_active, s.cohort_size,
      |  (count(*) * 1000000 // s.cohort_size)::BIGINT AS retention_ppm
      |FROM w JOIN f USING (u) JOIN s ON s.cw = f.cw
      |GROUP BY 1, 2, s.cohort_size
      |ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------- forward fill
  /** LOCF-imputed daily value series per event type — see
    * [[graft.ops.Series.forwardFillDaily]]. */
  val q202ForwardFill: Q = (spark, dir) =>
    Series.forwardFillDaily(Tables.events(spark, dir), "event_type", "ts",
        "value")
      .orderBy("event_type", "day")

  val q202Sql: String =
    """WITH d AS (SELECT event_type,
      |    epoch_us(ts) // 86400000000 AS day,
      |    sum(round(value * 10000)::BIGINT)::BIGINT AS s
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
      |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
      |        FROM d GROUP BY 1)),
      |j AS (SELECT g.event_type, g.day, d.s
      |  FROM g LEFT JOIN d USING (event_type, day)),
      |v AS (SELECT event_type, day, s,
      |    (last_value(s IGNORE NULLS) OVER (PARTITION BY event_type
      |       ORDER BY day ROWS UNBOUNDED PRECEDING))::BIGINT AS value_e4
      |  FROM j)
      |SELECT event_type, day::BIGINT AS day, value_e4,
      |  (s IS NULL AND value_e4 IS NOT NULL) AS filled
      |FROM v ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------- column profile
  private val ProfLongCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val ProfStrCols = Seq("l_returnflag", "l_linestatus")

  /** ANALYZE-style column statistics over lineitem — one scan, all
    * columns; see [[graft.ops.Analyze.columnProfile]]. */
  val q203ColumnProfile: Q = (spark, dir) =>
    Analyze.columnProfile(Tables.lineitem(spark, dir), ProfLongCols,
        ProfStrCols)
      .orderBy("column")

  val q203Sql: String = {
    def block(c: String, asLong: Boolean): String = {
      val v = if (asLong) s"$c::BIGINT" else c
      s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         |  count(DISTINCT $v)::BIGINT AS n_distinct,
         |  min($v)::VARCHAR AS min_str, max($v)::VARCHAR AS max_str
         |FROM lineitem""".stripMargin
    }
    (ProfLongCols.map(block(_, asLong = true)) ++
      ProfStrCols.map(block(_, asLong = false)))
      .mkString("", "\nUNION ALL ", "\nORDER BY \"column\"")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q201_cohort_retention", q201CohortRetention, q201Sql),
    QueryDef("q202_forward_fill", q202ForwardFill, q202Sql),
    QueryDef("q203_column_profile", q203ColumnProfile, q203Sql))
}
