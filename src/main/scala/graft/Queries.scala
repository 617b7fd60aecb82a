package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Clean, Merge, Relate, TopK}
import graft.functions.TextFns

/** The engine's query surface: one named query per operator family from
  * SURVEY.md §2, each paired with equivalent DuckDB SQL in [[Queries.defs]]
  * for the driver's hash-compare.
  *
  * Determinism rules (SURVEY.md §7.4): every float produced by arithmetic is
  * `round`ed; every collect is sorted; every window has a total-order
  * tiebreak; derived integers are cast to long to match DuckDB's BIGINT.
  */
object Queries {

  // ---------------------------------------------------------------- A1-ish
  /** Pricing summary — hash aggregate with map-side partial agg; one shuffle
    * on the two low-cardinality group keys. */
  val q01PricingSummary: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }
  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      | round(avg(l_quantity), 4) AS avg_qty,
      | count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------- W1
  /** Top-3 lineitems per order by price — the reference's top-20-comments-
    * per-post shape (REDDIT-Nettoyage-Comms.py:60-67) with a deterministic
    * tiebreak. Spark's InferWindowGroupLimit turns the rank filter into a
    * per-group limit before the sort. */
  val q02TopNPerGroup: Q = (spark, dir) => {
    TopK.rankPerGroup("l_orderkey", "l_extendedprice", "l_linenumber", 3, "rn")(
      Tables.lineitem(spark, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("rn"))
  }
  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      | SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  row_number() OVER (PARTITION BY l_orderkey
      |                     ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      | FROM lineitem) t WHERE rn <= 3""".stripMargin

  // ------------------------------------------------------------------- A1
  /** Grouped child-id collection (REDDIT-jointure.py:67-68), emitted as a
    * sorted CSV string for engine-stable hashing. */
  val q03GroupCollect: Q = (spark, dir) =>
    Relate.collectChildIdsCsv("l_orderkey", "l_linenumber", "line_numbers", "n_items")(
      Tables.lineitem(spark, dir))
  val q03Sql: String =
    """SELECT l_orderkey,
      | string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS line_numbers,
      | count(*) AS n_items
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  // ------------------------------------------------------------------- J1
  /** Left-enrich parents with grouped children (REDDIT-jointure.py:71-75);
    * orders without lineitems keep the row with empty list / zero count. */
  val q04EnrichLeftJoin: Q = (spark, dir) => {
    val grouped = Relate.collectChildIdsCsv(
      "l_orderkey", "l_linenumber", "line_numbers", "n_items")(Tables.lineitem(spark, dir))
    Relate.enrich(Tables.orders(spark, dir), grouped, "o_orderkey", "l_orderkey")
      .select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("line_numbers"), lit("")).as("line_numbers"))
  }
  val q04Sql: String =
    """SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
      | coalesce(g.n_items, 0) AS n_items,
      | coalesce(g.line_numbers, '') AS line_numbers
      |FROM orders o LEFT JOIN (
      | SELECT l_orderkey,
      |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS line_numbers,
      |  count(*) AS n_items
      | FROM lineitem GROUP BY l_orderkey) g ON o.o_orderkey = g.l_orderkey""".stripMargin

  // ------------------------------------------------------------------- J2
  /** Semi-join membership filter (PLATFORM-GenerationLLM.py:163-164's isin,
    * as a distributed left_semi). */
  val q05SemiJoin: Q = (spark, dir) => {
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey").as("l_orderkey"))
    Relate.semiJoin(Tables.lineitem(spark, dir), bigOrders, "l_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }
  val q05Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)""".stripMargin

  // ------------------------------------------------------------------- U1
  /** Cross-platform union by NAME (fixing the reference's positional union,
    * PLATFORM-Merge.py:56) + key dedup (U3). */
  val q06UnionEntities: Q = (spark, dir) => {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ent_id"), col("c_name").as("name"),
      lit("customer").as("kind"), col("c_acctbal").as("acctbal"))
    val s = Tables.supplier(spark, dir).select(
      col("s_suppkey").as("ent_id"), col("s_name").as("name"),
      lit("supplier").as("kind"), col("s_acctbal").as("acctbal"))
    Merge.dedupByKey("kind", "ent_id")(Merge.unionPlatforms(c, s))
  }
  val q06Sql: String =
    """SELECT DISTINCT ent_id, name, kind, acctbal FROM (
      | SELECT c_custkey AS ent_id, c_name AS name, 'customer' AS kind, c_acctbal AS acctbal FROM customer
      | UNION ALL
      | SELECT s_suppkey, s_name, 'supplier', s_acctbal FROM supplier) t""".stripMargin

  // ------------------------------------------------------------------- U3
  /** Exact dedup by key columns — one shuffle on the key. */
  val q07DedupExact: Q = (spark, dir) =>
    Tables.lineitem(spark, dir).select(col("l_suppkey"), col("l_partkey")).distinct()
  val q07Sql: String = "SELECT DISTINCT l_suppkey, l_partkey FROM lineitem"

  // ------------------------------------------------------------------- P8
  /** Point lookup by primary key (PLATFORM-GenerationLLM.py:64-72's
    * df.loc[id == x]); pushes an equality predicate into the scan. */
  val q08PointLookup: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") === 42L)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
  val q08Sql: String =
    "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey = 42"

  // ------------------------------------------------------------------- J4
  /** Two-hop expansion: filtered parents → children → dimension
    * (PLATFORM-GenerationLLM.py:139-147's post → similar → comments walk).
    * The part dimension is broadcast — no shuffle of the fact side. */
  val q09TwoHop: Q = (spark, dir) => {
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0).select("o_orderkey")
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    hot.join(li, hot("o_orderkey") === li("l_orderkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("p_name"), col("p_brand"))
  }
  val q09Sql: String =
    """SELECT o.o_orderkey, l.l_linenumber, p.p_name, p.p_brand
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE o.o_totalprice > 450000.0""".stripMargin

  // ---------------------------------------------------------------- P3+P4
  /** Marker + bot-regex + membership filters on documents — the reference's
    * comment-cleaning predicates (REDDIT-Nettoyage-Comms.py:49,76-88). */
  val q10DocFilter: Q = (spark, dir) => {
    val base = Tables.documents(spark, dir)
    Clean.dropBots("text")(Clean.dropDeleted("text")(base))
      .filter(col("lang").isin("en", "fr", "de"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }
  val q10Sql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE text NOT IN ('[deleted]', '[removed]')
       | AND NOT regexp_matches(text, '${Clean.BotRegex}')
       | AND lang IN ('en', 'fr', 'de')""".stripMargin

  // ------------------------------------------------------------------- O9
  /** HTML strip (STACK-Nettoyage-Posts.py:77-87). The fixture text is plain,
    * so we wrap it in markup first — both sides strip the same synthetic
    * tags+entities, proving tag removal and single-pass entity decode. */
  val q11HtmlStrip: Q = (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFns.htmlStrip(
        concat(lit("<p class=\"body\">"), col("text"), lit("</p> &amp; <br/>done&nbsp;&lt;eof&gt;")))
        .as("clean_text"))
  val q11Sql: String = {
    val wrapped = """'<p class="body">' || text || '</p> &amp; <br/>done&nbsp;&lt;eof&gt;'"""
    s"SELECT doc_id, ${TextFns.htmlStripSql(wrapped)} AS clean_text FROM documents"
  }

  // ------------------------------------------------------------------ P13
  /** Embed-text assembly (PLATFORM-contextual-Chunking.py:58-65). */
  val q12TextAssembly: Q = (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFns.assembleEmbedText(
        concat(lit("doc-"), col("doc_id").cast("string")), col("text")).as("embed_text"))
  val q12Sql: String =
    """SELECT doc_id,
      | CASE WHEN length(trim(coalesce(text, ''))) = 0
      |  THEN 'Title : doc-' || CAST(doc_id AS VARCHAR)
      |  ELSE 'Title : doc-' || CAST(doc_id AS VARCHAR) || chr(10) || 'Body : ' || trim(text)
      | END AS embed_text
      |FROM documents""".stripMargin

  // ------------------------------------------------------- registry ------
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", q01PricingSummary, q01Sql),
    QueryDef("q02_topn_per_group", q02TopNPerGroup, q02Sql),
    QueryDef("q03_group_collect", q03GroupCollect, q03Sql),
    QueryDef("q04_enrich_left_join", q04EnrichLeftJoin, q04Sql),
    QueryDef("q05_semi_join", q05SemiJoin, q05Sql),
    QueryDef("q06_union_entities", q06UnionEntities, q06Sql),
    QueryDef("q07_dedup_exact", q07DedupExact, q07Sql),
    QueryDef("q08_point_lookup", q08PointLookup, q08Sql),
    QueryDef("q09_two_hop", q09TwoHop, q09Sql),
    QueryDef("q10_doc_filter", q10DocFilter, q10Sql),
    QueryDef("q11_html_strip", q11HtmlStrip, q11Sql),
    QueryDef("q12_text_assembly", q12TextAssembly, q12Sql))
}
