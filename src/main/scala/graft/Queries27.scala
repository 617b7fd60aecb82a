package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Quantiles

/** Twenty-seventh query wave: RFM user segmentation (q206) — the classic
  * recency/frequency/monetary quintile grid over the event log, the
  * user-base health table next to q201's cohort matrix.
  */
object Queries27 {

  private val DayUs = 86400000000L

  /** Per-user R/F/M quintiles via exact-rank histogram cutoffs
    * ([[graft.ops.Quantiles.rankBuckets]] — no unpartitioned ntile
    * window; the per-user frame scales with the event log), rolled up to
    * the segment grid: (r_q, f_q, m_q, n_users, avg_monetary_e4).
    * Recency buckets on the NEGATED last-seen day (quintile 1 = most
    * recent); frequency/monetary bucket ascending (quintile 5 = best).
    *
    * Tie semantics (vs the pre-round-13 ntile spelling): equal metric
    * values always share a quintile — the cutoff cut, identical in any
    * engine; ntile split ties by row order. The oracle SQL spells the
    * SAME cutoff rule. */
  val q206RfmSegments: Q = (spark, dir) => {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(expr(s"unix_micros(ts) div ${DayUs}L")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 10000).cast("long")).as("monetary_e4"))
      .withColumn("neg_recency", -col("last_day"))
    Quantiles.rankBuckets(perUser,
        Seq(("neg_recency", "r_q"), ("freq", "f_q"), ("monetary_e4", "m_q")),
        k = 5)
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        expr("sum(monetary_e4) div count(1)").as("avg_monetary_e4"))
      .orderBy("r_q", "f_q", "m_q")
  }

  val q206Sql: String = {
    // per-metric exact-rank cutoff CTEs: cutoff q = min value whose
    // cumulative count reaches n·q/5 over the distinct-value histogram
    def cuts(metric: String, alias: String): String =
      s"""h_$alias AS (SELECT s, sum(c) OVER (ORDER BY s ASC) AS cum FROM (
         |    SELECT $metric AS s, count(*)::BIGINT AS c FROM pu GROUP BY 1)),
         |c_$alias AS (SELECT
         |    min(CASE WHEN cum * 5 >= (SELECT n FROM nn) * 1 THEN s END) AS ${alias}1,
         |    min(CASE WHEN cum * 5 >= (SELECT n FROM nn) * 2 THEN s END) AS ${alias}2,
         |    min(CASE WHEN cum * 5 >= (SELECT n FROM nn) * 3 THEN s END) AS ${alias}3,
         |    min(CASE WHEN cum * 5 >= (SELECT n FROM nn) * 4 THEN s END) AS ${alias}4
         |  FROM h_$alias)""".stripMargin
    def bucket(metric: String, alias: String): String =
      s"(1 + (CASE WHEN $metric > ${alias}1 THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN $metric > ${alias}2 THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN $metric > ${alias}3 THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN $metric > ${alias}4 THEN 1 ELSE 0 END))::BIGINT"
    s"""WITH pu AS (SELECT user_id,
       |    max(epoch_us(ts) // $DayUs)::BIGINT AS last_day,
       |    count(*)::BIGINT AS freq,
       |    sum(round(value * 10000)::BIGINT)::BIGINT AS monetary_e4
       |  FROM events GROUP BY 1),
       |nn AS (SELECT count(*)::BIGINT AS n FROM pu),
       |${cuts("-last_day", "r")},
       |${cuts("freq", "f")},
       |${cuts("monetary_e4", "m")},
       |qt AS (SELECT
       |    ${bucket("-last_day", "r")} AS r_q,
       |    ${bucket("freq", "f")} AS f_q,
       |    ${bucket("monetary_e4", "m")} AS m_q,
       |    monetary_e4
       |  FROM pu CROSS JOIN c_r CROSS JOIN c_f CROSS JOIN c_m)
       |SELECT r_q, f_q, m_q, count(*)::BIGINT AS n_users,
       |  (sum(monetary_e4) // count(*))::BIGINT AS avg_monetary_e4
       |FROM qt GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q206_rfm_segments", q206RfmSegments, q206Sql))
}
