package graft

import org.apache.spark.sql.functions._

import graft.expr.TextExprs
import graft.functions.TextFns

/** The fused shingling kernel must equal the builtin HOF spelling exactly
  * (the oracle SQL is written against that spec). */
class TextExprSpec extends SparkSpec {
  import spark.implicits._

  test("WordShingles equals builtin wordShingles on fixture documents") {
    val docs = io.Tables.documents(spark, sfDir)
    Seq(2, 8).foreach { n => // 2 = the MinHash unit; 8 = q76's decontamination gram
      val both = docs.select(
        Reference.wordShingles($"text", n).as("builtin"),
        TextExprs.wordShingles($"text", n).as("fused"))
      val bad = both.filter(not($"builtin" === $"fused")).count()
      assert(bad == 0, s"n=$n")
    }
  }

  test("WordShingles edge cases match builtin") {
    val df = Seq("", "   ", "one", "a  b\t c\nd", "ONE Two one two", "héllo WÖRLD x")
      .toDF("text")
    val rows = df.select(
      Reference.wordShingles($"text", 2).as("builtin"),
      TextExprs.wordShingles($"text", 2).as("fused")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("CharShingles equals builtin charShingles on fixture documents") {
    val docs = io.Tables.documents(spark, sfDir)
    val both = docs.select(
      Reference.charShingles($"text", 4).as("builtin"),
      TextExprs.charShingles($"text", 4).as("fused"))
    assert(both.filter(not($"builtin" === $"fused")).count() == 0)
  }

  test("CharShingles edge cases match builtin (short, unicode, blank)") {
    val df = Seq("", "ab", "abcd", "  AB cd  EF ", "中文字符测试abc", "ａｂｃｄｅ")
      .toDF("text")
    df.select(
      Reference.charShingles($"text", 4).as("builtin"),
      TextExprs.charShingles($"text", 4).as("fused")).collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }

  test("WordShingles null in, null out") {
    val df = Seq(Option.empty[String], Some("x y z")).toDF("text")
    val out = df.select(TextExprs.wordShingles($"text", 2)).collect()
    assert(out.exists(_.isNullAt(0)) && out.exists(!_.isNullAt(0)))
  }

  test("SortedJaccard equals builtin intersect/union jaccard on shingle pairs") {
    // cross a small doc sample with itself so the kernel sees identical,
    // disjoint, and partially-overlapping sorted-distinct arrays
    val sh = io.Tables.documents(spark, sfDir).limit(40)
      .select($"doc_id", TextExprs.charShingles($"text", 4).as("sh"))
    val pairs = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
      .crossJoin(sh.select($"doc_id".as("id_b"), $"sh".as("sh_b")))
    val bad = pairs.filter(not(
      TextExprs.sortedJaccard($"sh_a", $"sh_b") ===
        Reference.jaccard($"sh_a", $"sh_b"))).count()
    assert(bad == 0)
  }

  test("SortedJaccard edge cases: empty arrays, null in, identity") {
    val df = Seq(
      (Some(Seq[String]()), Some(Seq[String]())),
      (Some(Seq[String]()), Some(Seq("a", "b"))),
      (Some(Seq("a", "b")), None),
      (Some(Seq("a", "b", "c")), Some(Seq("a", "b", "c")))).toDF("a", "b")
    val rows = df.select(TextExprs.sortedJaccard($"a", $"b")).collect()
    assert(rows(0).getDouble(0) == 0.0) // both-empty guard, like the builtin
    assert(rows(1).getDouble(0) == 0.0)
    assert(rows(2).isNullAt(0))
    assert(rows(3).getDouble(0) == 1.0)
  }

  test("tokenSetHits kernel equals the explode+isin aggregate spelling") {
    val docs = graft.io.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
      .unionByName(Seq((-1L, ""), (-2L, "the le der el 的"),
        (-3L, "  THE  Le  "), (-4L, "😀 the 😀")).toDF("doc_id", "text"))
    val sets = TextFns.LangMarkers.map(_._2)
    val fused = docs.select($"doc_id",
      TextExprs.tokenSetHits($"text", sets).as("__h"))
      .select($"doc_id" +: sets.indices.map(i => $"__h" (i).as(s"h_$i")): _*)
    val toks = docs.select($"doc_id",
      explode_outer(split(lower(trim($"text")), "\\s+")).as("tok"))
    val aggCols = sets.zipWithIndex.map { case (ms, i) =>
      sum(when($"tok".isin(ms: _*), 1L).otherwise(0L)).as(s"h_$i")
    }
    val agg = toks.groupBy($"doc_id").agg(aggCols.head, aggCols.tail: _*)
    assert(fused.exceptAll(agg).isEmpty && agg.exceptAll(fused).isEmpty,
      "token-set kernel diverged from the aggregate spelling")
  }
}
