package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Basket, Delta, Journey}

/** Twenty-eighth query wave: the event-log / warehouse modeling staples
  * still missing from the board — market-basket association rules (q207),
  * the Markov transition matrix between event types (q208), last-touch
  * conversion attribution (q209), and the SCD Type-2 effective-dated
  * dimension build (q210).
  */
object Queries28 {

  private val DayUs = 86400000000L

  /** Brand co-occurrence rules over order baskets: which part brands
    * ship together. Baskets = orders, items = the brands of their line
    * items (lineitem ⋈ part, a dimension join AQE broadcasts). A-priori
    * two-pass in [[Basket.frequentPairs]]; 0.5% support floor. */
  val q207AssocRules: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val memberships = li
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
    Basket.frequentPairs(memberships, "basket", "item", minSupportPpm = 5000L)
      .orderBy("item_a", "item_b")
  }

  val q207Sql: String =
    """WITH b AS (SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |tot AS (SELECT count(DISTINCT basket)::BIGINT AS n FROM b),
      |s AS (SELECT item, count(*)::BIGINT AS c FROM b GROUP BY 1),
      |keep AS (SELECT s.item, s.c FROM s, tot
      |    WHERE s.c * 1000000 // tot.n >= 5000),
      |kb AS (SELECT b.basket, b.item FROM b
      |    WHERE b.item IN (SELECT item FROM keep)),
      |p AS (SELECT a.item AS item_a, c.item AS item_b,
      |      count(*)::BIGINT AS pair_cnt
      |    FROM kb a JOIN kb c ON a.basket = c.basket AND a.item < c.item
      |    GROUP BY 1, 2)
      |SELECT p.item_a, p.item_b, p.pair_cnt,
      |  (p.pair_cnt * 1000000 // tot.n)::BIGINT AS support_ppm,
      |  (p.pair_cnt * 1000000 // ka.c)::BIGINT AS conf_ab_ppm,
      |  (p.pair_cnt * 1000000 // kb2.c)::BIGINT AS conf_ba_ppm,
      |  ((p.pair_cnt * 1000000 // ka.c) * 1000000
      |    // (kb2.c * 1000000 // tot.n))::BIGINT AS lift_ppm
      |FROM p
      |JOIN keep ka ON ka.item = p.item_a
      |JOIN keep kb2 ON kb2.item = p.item_b
      |CROSS JOIN tot
      |WHERE p.pair_cnt * 1000000 // tot.n >= 5000
      |ORDER BY 1, 2""".stripMargin

  /** First-order Markov transition matrix between event types, per-user
    * timelines ordered by (ts, event_id). */
  val q208MarkovTransitions: Q = (spark, dir) =>
    Journey.transitionMatrix(Tables.events(spark, dir),
        "user_id", "ts", "event_id", "event_type")
      .orderBy("prev_type", "next_type")

  val q208Sql: String =
    """WITH t AS (SELECT
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC) AS prev_type,
      |    event_type AS next_type
      |  FROM events),
      |c AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
      |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  (n * 1000000 // sum(n) OVER (PARTITION BY prev_type))::BIGINT
      |    AS p_ppm
      |FROM c ORDER BY 1, 2""".stripMargin

  /** Last-touch attribution of purchase value to the most recent prior
    * non-purchase event type of the same user. */
  val q209LastTouch: Q = (spark, dir) =>
    Journey.lastTouchAttribution(Tables.events(spark, dir),
        "user_id", "ts", "event_id", "event_type", "value", "purchase")
      .orderBy("channel")

  val q209Sql: String =
    """WITH ch AS (SELECT event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |        THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |SELECT coalesce(touch, '(direct)') AS channel,
      |  count(*)::BIGINT AS n_conversions,
      |  sum(round(value * 10000)::BIGINT)::BIGINT AS attributed_e4
      |FROM ch WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCD Type-2 customer-priority dimension: each customer's
    * o_orderpriority history from the order log, collapsed to
    * effective-dated versions on the absolute day index. */
  val q210Scd2Dimension: Q = (spark, dir) => {
    val log = Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderpriority"),
      // orders ships TIMESTAMP_NTZ; the session pins UTC so the cast is
      // value-identical (the Tables.normalizeEventsTs convention)
      expr(s"unix_micros(cast(o_orderdate as timestamp)) div ${DayUs}L")
        .as("day"),
      col("o_orderkey"))
    Delta.scd2(log, "o_custkey", "o_orderpriority", "day", "o_orderkey")
      .orderBy("key", "version")
  }

  val q210Sql: String =
    s"""WITH o AS (SELECT o_custkey AS k, o_orderpriority AS a,
       |    (epoch_us(o_orderdate) // $DayUs)::BIGINT AS d,
       |    o_orderkey AS tie FROM orders),
       |m AS (SELECT k, a, d, tie,
       |    CASE WHEN lag(a) OVER w IS NULL OR lag(a) OVER w <> a
       |      THEN 1 ELSE 0 END AS chg
       |  FROM o WINDOW w AS (PARTITION BY k ORDER BY d ASC, tie ASC)),
       |v AS (SELECT k, a, d,
       |    sum(chg) OVER (PARTITION BY k ORDER BY d ASC, tie ASC
       |      ROWS UNBOUNDED PRECEDING)::BIGINT AS version
       |  FROM m),
       |isl AS (SELECT k AS key, version, min(a) AS attr,
       |    min(d)::BIGINT AS effective_from, count(*)::BIGINT AS n_rows
       |  FROM v GROUP BY 1, 2)
       |SELECT key, version, attr, effective_from,
       |  lead(effective_from) OVER w2::BIGINT AS effective_to,
       |  (CASE WHEN lead(effective_from) OVER w2 IS NULL
       |    THEN 1 ELSE 0 END)::BIGINT AS is_current, n_rows
       |FROM isl WINDOW w2 AS (PARTITION BY key ORDER BY version ASC)
       |ORDER BY key, version""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q207_assoc_rules", q207AssocRules, q207Sql),
    QueryDef("q208_markov_transitions", q208MarkovTransitions, q208Sql),
    QueryDef("q209_last_touch", q209LastTouch, q209Sql),
    QueryDef("q210_scd2_dimension", q210Scd2Dimension, q210Sql))
}
