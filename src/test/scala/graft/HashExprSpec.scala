package graft

import org.apache.spark.sql.functions._

import graft.expr.HashExprs
import graft.functions.HashFns

/** The fused MinHash band-key kernel must produce exactly the band keys of
  * the pure-builtin spelling (md5Long → affine permutations → concat_ws
  * band slices) — the oracle SQL is written against that spec. */
class HashExprSpec extends SparkSpec {
  import spark.implicits._

  test("MinHashBandKeys equals the builtin minHash pipeline band keys") {
    val docs = io.Tables.documents(spark, sfDir).limit(200)
    val sh = docs.select($"doc_id", Reference.wordShingles($"text", 2).as("sh"))
    val k = 12; val bands = 4; val rows = 3
    val builtin = sh
      .select($"doc_id", Reference.minHashBase($"sh").as("hb"))
      .select($"doc_id", Reference.minHashSigFromBase($"hb", k).as("sig"))
      .select($"doc_id", Reference.bandSigs($"sig", bands, rows).as("keys"))
    val fused = sh.select($"doc_id",
      HashExprs.minHashBandKeys($"sh", HashFns.minHashCoeffs(k), bands).as("keys"))
    val b = builtin.as[(Long, Seq[String])].collect().toMap
    val f = fused.as[(Long, Seq[String])].collect().toMap
    assert(f.keySet == b.keySet)
    f.foreach { case (id, keys) => assert(keys == b(id), s"doc $id") }
  }

  test("SimHashMd5 kernel equals the HOF md5 spelling bitwise") {
    val docs = io.Tables.documents(spark, sfDir).limit(200)
    val toks = docs.select($"doc_id",
      split(graft.ops.Dedup.normalized($"text"), " ").as("tk"))
    val hof = toks.select($"doc_id", Reference.simHashMd5Hof($"tk").as("sh"))
      .as[(Long, Long)].collect().toMap
    val fused = toks.select($"doc_id", HashExprs.simHashMd5($"tk").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(fused.keySet == hof.keySet && fused.nonEmpty)
    fused.foreach { case (id, v) => assert(v == hof(id), s"doc $id") }
    // 32-bit range
    fused.values.foreach(v => assert(v >= 0L && v <= 0xffffffffL))
  }

  test("SimHashMd5 null/empty semantics match the HOF spelling") {
    val df = Seq(
      (1L, Seq("a", "b", "a")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "tk")
    val out = df.select($"id", HashExprs.simHashMd5($"tk").as("sh"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val hof = df.select($"id", Reference.simHashMd5Hof($"tk").as("sh"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out == hof)
    assert(out(2L) == Some(0xffffffffL)) // empty: ones(0) >= zeros(0) sets every bit
    assert(out(3L) == Some(0L)) // null array → 0 (every vote predicate null)
  }

  test("MinHashBandKeys null/empty semantics") {
    val df = Seq(
      (1L, Seq("a b", "b c")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "sh")
    val out = df.select($"id",
      HashExprs.minHashBandKeys($"sh", HashFns.minHashCoeffs(4), 2).as("keys"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(out(1L).exists(_.size == 2))
    assert(out(2L).isEmpty) // empty shingle set → null
    assert(out(3L).isEmpty) // null array → null
  }
}
