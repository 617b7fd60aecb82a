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

  /** One entry per implemented operator from SURVEY.md §2. Built once:
    * no query object reads SparkEntry while initializing, so the eager
    * concatenation cannot cycle. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all ++ Queries2.all ++ Queries3.all ++ Queries4.all ++ Queries5.all ++ Queries6.all ++ Queries7.all ++ Queries8.all ++ Queries9.all ++ Queries10.all ++ Queries11.all ++ Queries12.all ++ Queries13.all ++ Queries14.all ++ Queries15.all ++ Queries16.all ++ Queries17.all ++ Queries18.all ++ Queries19.all ++ Queries20.all ++ Queries21.all ++ Queries22.all ++ Queries23.all ++ Queries24.all ++ Queries25.all ++ Queries26.all ++ Queries27.all ++ Queries28.all ++ Queries29.all ++ Queries30.all ++ Queries31.all ++ Queries32.all ++ Queries33.all ++ Queries34.all ++ Queries35.all ++ Queries36.all ++ Queries37.all ++ Queries38.all ++ Queries39.all ++ Queries40.all ++ Queries41.all ++ Queries42.all ++ Queries43.all ++ Queries44.all ++ Queries45.all ++ Queries46.all ++ Queries47.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    Queries.oracle ++ Queries2.oracle ++ Queries3.oracle ++ Queries4.oracle ++ Queries5.oracle ++ Queries6.oracle ++ Queries7.oracle ++ Queries8.oracle ++ Queries9.oracle ++ Queries10.oracle ++ Queries11.oracle ++ Queries12.oracle ++ Queries13.oracle ++ Queries14.oracle ++ Queries15.oracle ++ Queries16.oracle ++ Queries17.oracle ++ Queries18.oracle ++ Queries19.oracle ++ Queries20.oracle ++ Queries21.oracle ++ Queries22.oracle ++ Queries23.oracle ++ Queries24.oracle ++ Queries25.oracle ++ Queries26.oracle ++ Queries27.oracle ++ Queries28.oracle ++ Queries29.oracle ++ Queries30.oracle ++ Queries31.oracle ++ Queries32.oracle ++ Queries33.oracle ++ Queries34.oracle ++ Queries35.oracle ++ Queries36.oracle ++ Queries37.oracle ++ Queries38.oracle ++ Queries39.oracle ++ Queries40.oracle ++ Queries41.oracle ++ Queries42.oracle ++ Queries43.oracle ++ Queries44.oracle ++ Queries45.oracle ++ Queries46.oracle ++ Queries47.oracle
}
