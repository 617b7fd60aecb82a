package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Components, Similarity}

/** Fourth query wave: multi-level aggregation (rollup), analytic window
  * functions, connected-components dedup clusters, pivot, anti-join,
  * set operations, deterministic hash sampling, and the batch form of the
  * stream-stream interval join. Same determinism rules as [[Queries]]:
  * money/value doubles go to exact integer units BEFORE any sum, every
  * window carries a total-order tiebreak, derived ints cast to long.
  */
object Queries4 {

  // -------------------------------------------------------- rollup / cube
  /** Multi-level aggregate: order counts and exact-cents revenue by
    * (status, priority) with subtotals and grand total — the grouping-sets
    * family the reference never reaches for but any reporting layer needs.
    * One shuffle; Spark expands the rollup into a single expand+aggregate,
    * so the cost is 3 aggregated copies of the input, not 3 scans. */
  val q50Rollup: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_c"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("revenue_c"))
  val q50Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      | GROUPING_ID(o_orderstatus, o_orderpriority)::BIGINT AS gid,
      | count(*) AS n_orders,
      | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_c
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin

  // -------------------------------------------------- analytic windows
  /** Per-user event analytics: row numbers, gap to the previous event,
    * quartile bucket, and an exact running value sum — lag/ntile/running
    * frames (none of which the reference's single row_number reaches).
    * One shuffle on user_id serves all four functions (same window). */
  val q51WindowAnalytics: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 10000).cast("long").as("value_e4"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        row_number().over(w).cast("long").as("rn"),
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("prev_gap_us"),
        ntile(4).over(w).cast("long").as("quartile"),
        sum(col("value_e4")).over(wRun).as("run_value_e4"))
  }
  val q51Sql: String =
    """SELECT user_id, event_id, epoch_us(ts)::BIGINT AS ts_us,
      | row_number() OVER w AS rn,
      | epoch_us(ts)::BIGINT - lag(epoch_us(ts)::BIGINT, 1) OVER w AS prev_gap_us,
      | ntile(4) OVER w AS quartile,
      | (sum(round(value * 10000)::BIGINT)
      |   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_value_e4
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // ------------------------------------------- dedup clusters (components)
  /** Near-dup pairs → dedup groups: connected components over the q47
    * sign-RP-LSH pairs, with per-group size and the canonical (min-id)
    * representative — the step that turns pairwise similarity into the
    * "keep one copy" decision a corpus dedup actually ships. Iterative
    * min-label propagation (see [[graft.ops.Components]]); the DuckDB
    * oracle recomputes it as a recursive reachability closure. */
  val q52DedupClusters: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    val pairs = Similarity.rpLshNearDup(emb, "vec_id", "embedding",
      Queries3.rpPlanes, Queries3.rpBits, threshold = 0.35)
    Components.dedupClusters(emb.select("vec_id"), "vec_id", pairs, "id_a", "id_b")
  }
  /** Connected components of the undirected `pairs(id_a, id_b)` graph
    * as a recursive reachability closure from every `vec_id` of
    * `seedRel`: `comp(vec_id, component)`, component = min reachable id
    * (q52, q104, and Queries6's cluster labels). */
  private[graft] def componentCtes(seedRel: String): String =
    s"""e AS (SELECT id_a AS s, id_b AS t FROM pairs
       |      UNION ALL SELECT id_b AS s, id_a AS t FROM pairs),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS lbl FROM $seedRel
       |  UNION
       |  SELECT e.t AS id, reach.lbl FROM reach JOIN e ON e.s = reach.id),
       |comp AS (SELECT id AS vec_id, min(lbl) AS component FROM reach GROUP BY id)""".stripMargin

  val q52Sql: String =
    s"""WITH RECURSIVE ${Queries3.rpPairsCteBody},
       |${componentCtes("embeddings")}
       |SELECT vec_id, component,
       | (count(*) OVER (PARTITION BY component))::BIGINT AS comp_size,
       | vec_id = component AS is_canonical
       |FROM comp""".stripMargin

  // ----------------------------------------------------------- pivot
  /** Pivot: per-user event counts, one column per event type (explicit
    * value list, so the plan is a single aggregate — no extra pass to
    * discover the pivot domain). */
  val q53Pivot: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
  val q53Sql: String =
    """SELECT user_id,
      | count(*) FILTER (event_type = 'click') AS click,
      | count(*) FILTER (event_type = 'error') AS error,
      | count(*) FILTER (event_type = 'purchase') AS purchase,
      | count(*) FILTER (event_type = 'signup') AS signup,
      | count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin

  // -------------------------------------------------------- anti-join
  /** Anti-join: customers with no high-value order (the missing-join-type
    * gap in the reference's join set — SURVEY.md §2.3 notes it has none).
    * The filter on the right side pushes into the scan; the anti join
    * itself plans as a broadcast/shuffled hash anti join on the key — no
    * row explosion. */
  val q54AntiJoin: Q = (spark, dir) =>
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 250000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("long").as("c_nationkey"))
  val q54Sql: String =
    """SELECT c_custkey, c_name, c_nationkey::BIGINT AS c_nationkey
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)""".stripMargin

  // -------------------------------------------------- intersect / except
  /** Set operations: segment users by click/purchase behavior with
    * INTERSECT and EXCEPT (absent from the reference, SURVEY.md §2.6).
    * Each leg is a distinct-aggregate-shaped shuffle on user_id. */
  val q55SetOps: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    def users(t: String): DataFrame =
      e.filter(col("event_type") === t).select(col("user_id")).distinct()
    val clicks = users("click"); val purchases = users("purchase")
    clicks.intersect(purchases).withColumn("segment", lit("both"))
      .unionByName(clicks.except(purchases).withColumn("segment", lit("click_only")))
      .unionByName(purchases.except(clicks).withColumn("segment", lit("purchase_only")))
  }
  val q55Sql: String =
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT user_id, 'both' AS segment FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
      |UNION ALL
      |SELECT user_id, 'click_only' FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
      |UNION ALL
      |SELECT user_id, 'purchase_only' FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)""".stripMargin

  // ------------------------------------------------ deterministic sample
  /** Hash-split sampling: keep ~1/8 of documents by an md5 prefix of the
    * id — the engine-portable, rerun-stable way to carve train/eval splits
    * at 100 TB (no RNG state, no sampleBy seed drift across engines; the
    * same row lands in the same split forever). Pushes down as a scan
    * filter. */
  val q56HashSample: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "20")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  val q56Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE substring(md5(doc_id::VARCHAR), 1, 2) < '20'""".stripMargin

  // ------------------------------------- stream-stream interval join (batch)
  /** Purchase↔click correlation: clicks by the same user within the hour
    * before each purchase, aggregated per purchase. This is the BATCH form
    * of a watermarked stream-stream interval join (StreamingSpec runs the
    * same plan on two MemoryStreams); the equi-key is user_id, the time
    * bound keeps streaming state finite. */
  val q57IntervalJoin: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        round(col("value") * 10000).cast("long").as("click_e4"))
    // the same operator runs incrementally on two streams (watermarks are
    // no-ops here in batch) — see StreamingSpec's parity test
    graft.streaming.Stream.intervalJoin(
        purchases, clicks, "user_id", "p_ts", "c_ts", "1 hour")
      .groupBy(col("user_id"), col("purchase_id"))
      .agg(
        unix_micros(first(col("p_ts"))).as("purchase_us"),
        count(lit(1)).as("n_clicks"),
        max(col("click_e4")).as("max_click_e4"))
  }
  val q57Sql: String =
    """SELECT p.user_id, p.event_id AS purchase_id,
      | epoch_us(p.ts)::BIGINT AS purchase_us,
      | count(*) AS n_clicks,
      | max(round(c.value * 10000)::BIGINT) AS max_click_e4
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON c.user_id = p.user_id
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------ unpivot
  /** Unpivot (melt): wide per-part metrics to long (metric, value) rows —
    * the inverse of q53's pivot and the missing half of the reshaping
    * family. Spark plans this as a single Expand over one scan (no join,
    * no shuffle); values are cast to one type up front since a melted
    * column has exactly one. */
  val q58Unpivot: Q = (spark, dir) =>
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        col("p_size").cast("long").as("size"),
        round(col("p_retailprice") * 100).cast("long").as("retail_c"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail_c")),
        "metric", "value")
  val q58Sql: String =
    """SELECT p_partkey, metric, value FROM (
      |  SELECT p_partkey, p_size::BIGINT AS size,
      |         round(p_retailprice * 100)::BIGINT AS retail_c FROM part)
      |UNPIVOT (value FOR metric IN (size, retail_c))""".stripMargin

  // ------------------------------------------------- distinct aggregates
  /** Distinct aggregates: per event type, row count, exact distinct-user
    * count, and exact value sum. count(DISTINCT) expands to a two-phase
    * aggregate (dedup on (type, user), then count) — one extra shuffle,
    * no driver involvement. The approximate HLL form is spec-tested for
    * error bounds instead (engines' sketches differ, so it can't be
    * hash-compared). */
  val q59DistinctAgg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 10000).cast("long")).as("value_e4"))
  val q59Sql: String =
    """SELECT event_type, count(*) AS n_events,
      | count(DISTINCT user_id)::BIGINT AS n_users,
      | sum(round(value * 10000)::BIGINT)::BIGINT AS value_e4
      |FROM events GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q50_rollup", q50Rollup, q50Sql),
    QueryDef("q51_window_analytics", q51WindowAnalytics, q51Sql),
    QueryDef("q52_dedup_clusters", q52DedupClusters, q52Sql),
    QueryDef("q53_pivot", q53Pivot, q53Sql),
    QueryDef("q54_anti_join", q54AntiJoin, q54Sql),
    QueryDef("q55_set_ops", q55SetOps, q55Sql),
    QueryDef("q56_hash_sample", q56HashSample, q56Sql),
    QueryDef("q57_interval_join", q57IntervalJoin, q57Sql),
    QueryDef("q58_unpivot", q58Unpivot, q58Sql),
    QueryDef("q59_distinct_agg", q59DistinctAgg, q59Sql))
}
