package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Clean, Relate, TopK}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 M1): the reference's clean → top-N per
    * group → grouped collect → left-enrich pipeline
    * (REDDIT-Nettoyage-Comms.py + REDDIT-jointure.py), expressed over the
    * orders/lineitem parent/child stand-in at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    // clean: viable children only (stand-in for marker/bot filters)
    val cleaned = li.filter(col("l_quantity") > 0)
    // top-20 children per parent by score (= extendedprice), deterministic
    val top = TopK.topNPerGroup("l_orderkey", "l_extendedprice", "l_linenumber", 20)(cleaned)
    // grouped child ids
    val grouped = Relate.collectChildIds("l_orderkey", "l_linenumber", "line_numbers")(top)
    // left-enrich parents
    Relate.enrich(Tables.orders(spark, dir), grouped, "o_orderkey", "l_orderkey")
  }

  /** Every registered query, wave by wave. Built once: no query object
    * reads SparkEntry while initializing, so the eager flatten cannot
    * cycle. */
  val defs: Seq[QueryDef] = Seq(
    Queries.defs, Queries2.defs, Queries3.defs, Queries4.defs,
    Queries5.defs, Queries6.defs, Queries7.defs, Queries8.defs,
    Queries9.defs, Queries10.defs, Queries11.defs, Queries12.defs,
    Queries13.defs, Queries14.defs, Queries15.defs, Queries16.defs,
    Queries17.defs, Queries18.defs, Queries19.defs, Queries20.defs,
    Queries21.defs, Queries22.defs, Queries23.defs, Queries24.defs,
    Queries25.defs, Queries26.defs, Queries27.defs, Queries28.defs,
    Queries29.defs, Queries30.defs, Queries31.defs, Queries32.defs,
    Queries33.defs, Queries34.defs, Queries35.defs, Queries36.defs,
    Queries37.defs, Queries38.defs, Queries39.defs, Queries40.defs,
    Queries41.defs, Queries42.defs, Queries43.defs, Queries44.defs,
    Queries45.defs, Queries46.defs, Queries47.defs).flatten

  private val byName: Map[String, QueryDef] = QueryDef.byName(defs)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.transform((_, d) => d.run)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = byName.transform((_, d) => d.oracleSql)
}

/** One registered query: its name, its Spark plan over a fixture dir, and
  * the DuckDB SQL the oracle compare runs on the same parquet tables. */
final case class QueryDef(name: String, run: Q, oracleSql: String)

object QueryDef {
  /** Index by name. A duplicate name throws: a later wave must not
    * silently replace an earlier wave's query. */
  def byName(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
