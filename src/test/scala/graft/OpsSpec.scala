package graft

import org.apache.spark.sql.functions._
import graft.ops.{Clean, Merge, Relate, TopK}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Clean.dropDeleted removes marker rows only") {
    val df = Seq("keep me", "[deleted]", "[removed]", "also keep").toDF("body")
    val out = Clean.dropDeleted("body")(df).as[String].collect().sorted
    assert(out.toSeq == Seq("also keep", "keep me"))
  }

  test("Clean.dropBots removes anchored bot messages, keeps mid-string mentions") {
    val df = Seq(
      "I am a bot, beep boop",          // dropped (anchored match)
      "he said I am a bot yesterday",   // kept (anchor means no match)
      "Your post has been removed",     // dropped
      "Welcome to the jungle",          // dropped
      "normal comment").toDF("body")
    val out = Clean.dropBots("body")(df).as[String].collect().toSet
    assert(out == Set("he said I am a bot yesterday", "normal comment"))
  }

  test("TopK.topNPerGroup keeps n rows per group with deterministic ties") {
    val df = Seq(
      ("p1", "c1", 10L), ("p1", "c2", 10L), ("p1", "c3", 5L),
      ("p2", "c4", 1L)).toDF("post", "id", "score")
    val out = TopK.topNPerGroup("post", "score", "id", 2)(df)
      .select("id").as[String].collect().toSet
    // tie on score 10 broken by id asc: c1 then c2; c3 excluded
    assert(out == Set("c1", "c2", "c4"))
  }

  test("Relate.collectChildIds sorts ids; enrich keeps childless parents") {
    val children = Seq(("p1", "b"), ("p1", "a"), ("p2", "z")).toDF("parent", "id")
    val parents = Seq(("p1", 1), ("p2", 2), ("p3", 3)).toDF("pid", "v")
    val grouped = Relate.collectChildIds("parent", "id", "ids")(children)
    val out = Relate.enrich(parents, grouped, "pid", "parent")
      .select($"pid", $"ids").collect().map(r => r.getString(0) -> Option(r.getSeq[String](1)))
      .toMap
    assert(out("p1").get == Seq("a", "b"))
    assert(out("p2").get == Seq("z"))
    assert(out("p3").isEmpty) // left join keeps the parent with null ids
  }

  test("Relate.clusterNeighbors excludes self, caps, empties noise") {
    val df = Seq(
      ("a", 0), ("b", 0), ("c", 0),
      ("n", -1), ("m", -1),
      ("x", 1)).toDF("id", "cluster")
    val out = Relate.clusterNeighbors(df, "id", "cluster", "neighbors", 2)
      .select($"id", $"neighbors").as[(String, Seq[String])].collect().toMap
    assert(out("a") == Seq("b", "c"))
    assert(out("b") == Seq("a", "c"))
    assert(out("n") == Seq())            // noise → empty
    assert(out("x") == Seq())            // singleton cluster → empty
  }

  test("Merge.unionPlatforms aligns by name with missing columns") {
    val a = Seq(("1", "x")).toDF("id", "title")
    val b = Seq(("2", 5L)).toDF("id", "score")
    val out = Merge.unionPlatforms(a, b)
    assert(out.columns.toSet == Set("id", "title", "score"))
    assert(out.count() == 2)
    val row2 = out.filter($"id" === "2").collect().head
    assert(row2.getAs[String]("title") == null && row2.getAs[Long]("score") == 5L)
  }

  test("Merge.dedupByKey is idempotent") {
    val df = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDF("k", "v")
    val once = Merge.dedupByKey("k")(df)
    assert(once.count() == 2)
    assert(Merge.dedupByKey("k")(once).count() == 2)
  }
}
