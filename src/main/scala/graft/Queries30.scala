package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Audit, Journey, Series}

/** Thirtieth query wave: the warehouse night-shift — ABC/Pareto
  * classification (q216), weekday seasonality baselines (q217),
  * parent/child reconciliation (q218), purchase-cadence intervals
  * (q219), and the out-of-order lateness profile that sizes streaming
  * watermarks (q220).
  */
object Queries30 {

  /** ABC classification of parts by lineitem revenue (integer cents) —
    * which SKUs carry the business; 80/95 cuts. */
  val q216AbcParts: Q = (spark, dir) =>
    Audit.abcClassification(Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("rev_e2")),
      "l_partkey", "rev_e2")
      .orderBy("rank")

  /** Integer-cent revenue per part, `per(l_partkey, value)` (q216, q236,
    * q239). */
  private[graft] def partRevenueCte: String =
    """per AS (SELECT l_partkey,
      |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS value
      |  FROM lineitem GROUP BY 1)""".stripMargin

  val q216Sql: String =
    s"""WITH $partRevenueCte,
      |r AS (SELECT l_partkey, value,
      |    row_number() OVER (ORDER BY value DESC, l_partkey ASC)::BIGINT
      |      AS rank,
      |    sum(value) OVER (ORDER BY value DESC, l_partkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS cum
      |  FROM per),
      |tot AS (SELECT sum(value)::BIGINT AS t FROM per),
      |s AS (SELECT l_partkey, value, rank,
      |    (CASE WHEN tot.t <= 9223372036854 THEN cum * 1000000 // tot.t
      |      ELSE cum // (tot.t // 1000000) END)::BIGINT AS cum_ppm
      |  FROM r CROSS JOIN tot)
      |SELECT l_partkey, value, rank, cum_ppm,
      |  CASE WHEN cum_ppm <= 800000 THEN 'A'
      |       WHEN cum_ppm <= 950000 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM s ORDER BY rank""".stripMargin

  /** Weekday seasonality of event volume per event type (exact lower
    * medians of daily counts; weekday 0 = Thursday, epoch-day mod 7). */
  val q217WeekdayProfile: Q = (spark, dir) =>
    Series.weekdayProfile(Tables.events(spark, dir), "event_type", "ts")
      .orderBy("event_type", "weekday")

  val q217Sql: String =
    """WITH daily AS (SELECT event_type,
      |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
      |    count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |wd AS (SELECT event_type, (day % 7)::BIGINT AS weekday,
      |    count(*)::BIGINT AS n_days,
      |    (list_sort(list(c))[((count(*) - 1) // 2 + 1)::INT])::BIGINT
      |      AS median_daily
      |  FROM daily GROUP BY 1, 2),
      |ov AS (SELECT event_type,
      |    (list_sort(list(c))[((count(*) - 1) // 2 + 1)::INT])::BIGINT
      |      AS allmed
      |  FROM daily GROUP BY 1)
      |SELECT wd.event_type, wd.weekday, wd.n_days, wd.median_daily,
      |  (wd.median_daily * 1000000 // ov.allmed)::BIGINT AS lift_ppm
      |FROM wd JOIN ov ON ov.event_type = wd.event_type
      |ORDER BY 1, 2""".stripMargin

  /** Orders ⟷ lineitems reconciliation: orphan lineitems, childless
    * orders, and orders whose o_totalprice disagrees with Σ extended
    * price beyond 1000.00 (the synthetic fixture prices independently,
    * so mismatches EXIST — the audit must surface, not assume, them). */
  val q218Reconcile: Q = (spark, dir) =>
    Audit.reconcile(Tables.orders(spark, dir), Tables.lineitem(spark, dir),
        "o_orderkey", "l_orderkey", "o_totalprice", "l_extendedprice",
        toleranceE2 = 100000L)
      .orderBy("issue", "entity_key")

  val q218Sql: String =
    """WITH p AS (SELECT o_orderkey AS k,
      |    round(o_totalprice * 100)::BIGINT AS pa FROM orders),
      |c AS (SELECT l_orderkey AS k, count(*)::BIGINT AS n,
      |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS csum
      |  FROM lineitem GROUP BY 1),
      |j AS (SELECT coalesce(p.k, c.k) AS k, p.pa, c.n, c.csum
      |  FROM p FULL OUTER JOIN c ON p.k = c.k)
      |SELECT issue, entity_key, detail_e2 FROM (
      |  SELECT 'orphan_child' AS issue, k AS entity_key, n AS detail_e2
      |    FROM j WHERE pa IS NULL
      |  UNION ALL
      |  SELECT 'childless_parent', k, 0 FROM j
      |    WHERE pa IS NOT NULL AND n IS NULL
      |  UNION ALL
      |  SELECT 'amount_mismatch', k, pa - csum FROM j
      |    WHERE pa IS NOT NULL AND n IS NOT NULL
      |      AND abs(pa - csum) > 100000)
      |ORDER BY issue, entity_key""".stripMargin

  /** Purchase-cadence: distribution of per-user gaps between consecutive
    * purchases, in whole days. */
  val q219PurchaseIntervals: Q = (spark, dir) =>
    Journey.interEventIntervals(Tables.events(spark, dir),
        "user_id", "ts", "event_id", "event_type", "purchase")
      .orderBy("gap_days")

  val q219Sql: String =
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC)) // 86400000000 AS gap_days
      |  FROM events WHERE event_type = 'purchase')
      |SELECT gap_days::BIGINT AS gap_days, count(*)::BIGINT AS n_intervals,
      |  count(DISTINCT user_id)::BIGINT AS n_users
      |FROM g WHERE gap_days IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin

  /** Watermark-sizing audit: per event type, how often events arrive
    * (event_id order) behind an already-seen later event time, and the
    * lateness tail. */
  val q220LatenessProfile: Q = (spark, dir) =>
    Journey.latenessProfile(Tables.events(spark, dir),
        "event_type", "ts", "event_id")
      .orderBy("type")

  val q220Sql: String =
    """WITH l AS (SELECT event_type AS type,
      |    greatest(coalesce(
      |      max(epoch_us(ts)) OVER (PARTITION BY event_type
      |        ORDER BY event_id ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - epoch_us(ts), 0), 0) AS late
      |  FROM events)
      |SELECT type, count(*)::BIGINT AS n,
      |  (sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*))::BIGINT AS late_ppm,
      |  (max(late) // 1000000)::BIGINT AS max_late_s,
      |  (sum(late) // 1000000)::BIGINT AS sum_late_s
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q216_abc_parts", q216AbcParts, q216Sql),
    QueryDef("q217_weekday_profile", q217WeekdayProfile, q217Sql),
    QueryDef("q218_reconcile", q218Reconcile, q218Sql),
    QueryDef("q219_purchase_intervals", q219PurchaseIntervals, q219Sql),
    QueryDef("q220_lateness_profile", q220LatenessProfile, q220Sql))
}
