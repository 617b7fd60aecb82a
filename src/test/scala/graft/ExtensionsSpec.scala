package graft

import org.apache.spark.sql.functions._

import graft.ext.GraftExtensions
import graft.expr.{TextExprs, VectorExprs}

/** The SQL-registered native functions must resolve in spark.sql and agree
  * with their Column-API forms. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim / dot_product resolve in SQL and match the Column API") {
    GraftExtensions.register(spark)
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    df.createOrReplaceTempView("vspec")
    val sql = spark.sql("SELECT cosine_sim(a, b) AS c, dot_product(a, b) AS d FROM vspec")
      .as[(Double, Double)].head()
    val api = df.select(
      VectorExprs.cosine($"a", $"b"), VectorExprs.dot($"a", $"b"))
      .as[(Double, Double)].head()
    assert(sql == api)
    assert(math.abs(sql._2 - 32.0) < 1e-12)
  }

  test("word_shingles / char_shingles / minhash_band_keys resolve in SQL") {
    GraftExtensions.register(spark)
    Seq(("a b c d")).toDF("t").createOrReplaceTempView("tspec")
    val ws = spark.sql("SELECT word_shingles(t, 2) FROM tspec")
      .as[Seq[String]].head()
    assert(ws == Seq("a b", "b c", "c d"))
    val cs = spark.sql("SELECT char_shingles(t, 3) FROM tspec").as[Seq[String]].head()
    val csApi = Seq(("a b c d")).toDF("t")
      .select(TextExprs.charShingles($"t", 3)).as[Seq[String]].head()
    assert(cs == csApi)
    val bk = spark.sql("SELECT minhash_band_keys(word_shingles(t, 2), 12, 4) FROM tspec")
      .as[Seq[String]].head()
    assert(bk.size == 4)
  }

  test("simhash_md5 resolves in SQL and matches the Column API") {
    GraftExtensions.register(spark)
    Seq(("alpha beta gamma")).toDF("t").createOrReplaceTempView("tsim")
    val sqlV = spark.sql("SELECT simhash_md5(split(t, ' ')) FROM tsim").as[Long].head()
    val apiV = Seq(("alpha beta gamma")).toDF("t")
      .select(graft.expr.HashExprs.simHashMd5(split($"t", " "))).as[Long].head()
    assert(sqlV == apiV && sqlV >= 0L && sqlV <= 0xffffffffL)
  }

  test("bpe_merge_pair resolves in SQL and matches the Column API") {
    GraftExtensions.register(spark)
    Seq(("a a a a </w>", "a", "a")).toDF("sym", "l", "r")
      .createOrReplaceTempView("bpespec")
    val sqlV = spark.sql("SELECT bpe_merge_pair(sym, l, r) FROM bpespec")
      .as[String].head()
    assert(sqlV == "aa aa </w>", "greedy left-to-right non-overlapping")
    val apiV = Seq(("a a a a </w>", "a", "a")).toDF("sym", "l", "r")
      .select(graft.expr.BpeExprs.bpeMergePair($"sym", $"l", $"r"))
      .as[String].head()
    assert(sqlV == apiV)
  }

  test("non-literal shingle size is rejected with a clear error") {
    GraftExtensions.register(spark)
    Seq(("x", 2)).toDF("t", "n").createOrReplaceTempView("badspec")
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles(t, n) FROM badspec").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
