package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.Pipeline

/** End-to-end test of the composed 7-stage flow (SURVEY.md §5.2.4): raw
  * platform tables → normalize → clean → top-N → enrich → merge, asserted
  * against hand-computed goldens. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("full pipeline: normalize, clean, top-N, enrich, merge") {
    // raw Reddit-shaped posts: epoch-double dates, platform column names
    val redditRaw = Seq(
      ("r1", "scala", "Good post", "body1", 10L, 1700000000.0, "http://r/1", 3L),
      ("r1", "scala", "Good post DUP", "body1", 10L, 1700000000.0, "http://r/1", 3L), // dup id
      ("r2", "scala", "[deleted]", "x", 1L, 1700000100.0, "http://r/2", 5L),          // deleted title
      ("r3", "spark", "Thin post", "y", 2L, 1700000200.0, "http://r/3", 1L),          // < 2 comments
      ("r4", "spark", "Another", "z", 7L, 1700000300.0, "http://r/4", 2L))
      .toDF("id", "subreddit", "title", "selftext", "score", "created_utc", "url", "num_comments")
    val redditPosts = Pipeline.normalizePosts("reddit", Map(
      "community" -> col("subreddit"), "id_post" -> col("id"),
      "title" -> col("title"), "body" -> col("selftext"), "score" -> col("score"),
      "date" -> timestamp_seconds(col("created_utc")), "link" -> col("url"),
      "num_comments" -> col("num_comments")))(redditRaw)

    // raw comments: one bot, one deleted, four real on r1 (keep top 2)
    val redditCommsRaw = Seq(
      ("c1", "fine answer", 5L, 1700000500.0, "r1"),
      ("c2", "better answer", 9L, 1700000600.0, "r1"),
      ("c3", "best answer", 9L, 1700000700.0, "r1"), // tie with c2 → c2 first by id
      ("c4", "[deleted]", 3L, 1700000800.0, "r1"),
      ("c5", "I am a bot, beep", 99L, 1700000900.0, "r1"),
      ("c6", "lone comment", 1L, 1700001000.0, "r4"))
      .toDF("cid", "text", "score", "created", "parent")
    val redditComments = Pipeline.normalizeComments(Map(
      "id_comment" -> col("cid"), "body" -> col("text"), "score" -> col("score"),
      "created_utc" -> timestamp_seconds(col("created")),
      "parent_post_id" -> col("parent")))(redditCommsRaw)

    // raw Stack-shaped: long epoch, html bodies
    val stackRaw = Seq(
      (101L, "so", "Stack Q", "<p>html body</p>", 3L, 1700002000L, "http://so/101", 1L))
      .toDF("question_id", "site", "title", "body", "score", "creation_date", "link", "answer_count")
    val stackPosts = Pipeline.normalizePosts("stack", Map(
      "community" -> col("site"), "id_post" -> col("question_id"),
      "title" -> col("title"), "body" -> col("body"), "score" -> col("score"),
      "date" -> timestamp_seconds(col("creation_date")), "link" -> col("link"),
      "num_comments" -> col("answer_count")))(stackRaw)

    val stackCommsRaw = Seq(
      (201L, "<b>bold</b> &amp; fine", 4L, 1700002100L, 101L))
      .toDF("answer_id", "body", "score", "created_date", "parent_question_id")
    val stackComments = Pipeline.normalizeComments(Map(
      "id_comment" -> col("answer_id"), "body" -> col("body"), "score" -> col("score"),
      "created_utc" -> timestamp_seconds(col("created_date")),
      "parent_post_id" -> col("parent_question_id")))(stackCommsRaw)

    val out = Pipeline.run(redditPosts, redditComments, stackPosts, stackComments,
      minComments = 2, keepPerPost = 2)

    val rows = out.select($"platform", $"id_post", $"comment_ids")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[String](2).toList).toMap

    // golden: r2 (deleted), r3 (thin) dropped; r1 deduped; stack kept (min 1? no — min 2 applies)
    assert(rows.keySet == Set("reddit" -> "r1", "reddit" -> "r4"))
    // r1: c4 deleted, c5 bot dropped; top-2 of (c2=9, c3=9, c1=5) tie by id → c2, c3
    assert(rows("reddit" -> "r1").sorted == Seq("c2", "c3"))
    assert(rows("reddit" -> "r4") == Seq("c6"))

    // with minComments = 1 the stack post joins the merged table, html-stripped
    val out2 = Pipeline.run(redditPosts, redditComments, stackPosts, stackComments,
      minComments = 1, keepPerPost = 2)
    val stackRow = out2.filter($"platform" === "stack").collect()
    assert(stackRow.length == 1)
    assert(stackRow.head.getSeq[String](
      stackRow.head.fieldIndex("comment_ids")).toList == List("201"))
  }

  test("merge is by name, not position (the reference's latent bug)") {
    val a = Seq(("reddit", "p1", "t", 1L)).toDF("platform", "id_post", "title", "score")
    // same columns, different order — positional union would scramble
    val b = Seq((2L, "p2", "stack", "u")).toDF("score", "id_post", "platform", "title")
    val m = Pipeline.merge(a, b)
    val byId = m.collect().map(r => r.getAs[String]("id_post") -> r.getAs[String]("platform")).toMap
    assert(byId == Map("p1" -> "reddit", "p2" -> "stack"))
  }
}
