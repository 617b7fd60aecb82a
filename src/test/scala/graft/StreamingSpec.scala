package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Stream

/** Real Structured Streaming runs (MemoryStream → transform → memory sink):
  * the same Stream.* transforms that are batch-oracle-checked in q27/q34/q35
  * must produce identical results incrementally, across multiple
  * micro-batches, with watermark state eviction active. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  test("windowedTypeCounts: incremental result equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = Stream.windowedTypeCounts(df, "ts", "event_type", "value")
      .writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    try {
      input.addData((ts(0), "click", 1.5), (ts(10), "click", 2.0), (ts(70), "view", 0.5))
      q.processAllAvailable()
      input.addData((ts(20), "click", 1.0), (ts(80), "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = Stream.windowedTypeCounts(
        Seq((ts(0), "click", 1.5), (ts(10), "click", 2.0), (ts(70), "view", 0.5),
          (ts(20), "click", 1.0), (ts(80), "view", 1.0))
          .toDF("ts", "event_type", "value"), "ts", "event_type", "value")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.exists { case (_, t, n, v) => t == "click" && n == 3 && v == 45000L })
    } finally q.stop()
  }

  test("sessionWindowStats: streaming session merge across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val q = Stream.sessionWindowStats(df, "user_id", "ts", "value", "30 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    try {
      // u1: two events 10 min apart (one session), then a 40-min gap (new session)
      input.addData(("u1", ts(0), 1.0), ("u1", ts(10), 1.0))
      q.processAllAvailable()
      input.addData(("u1", ts(50), 2.0), ("u2", ts(0), 3.0))
      q.processAllAvailable()
      val out = spark.table("sessions")
        .select($"user_id", $"n_events", $"value_e4")
        .as[(String, Long, Long)].collect().sorted
      assert(out.toSeq == Seq(("u1", 1L, 20000L), ("u1", 2L, 20000L), ("u2", 1L, 30000L)))
    } finally q.stop()
  }

  test("file-source streaming over the events fixture equals the batch result") {
    // the real readStream path: parquet file source + schema + watermarked
    // tumbling windows, checked against the oracle-verified batch transform
    // the file stream source requires a directory; stage the fixture file
    val dir = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sfDir/events.parquet"), dir.resolve("events.parquet"))
    val path = dir.toString
    // Tables.eventsStream probes the footer and branches on the actual ts
    // type — hand-rolling the read here once embedded the nanos-era div
    // 1000 and silently diverged from the batch loader when the fixture
    // regenerated as micros
    val stream = io.Tables.eventsStream(spark, path)
    val q = Stream.windowedTypeCounts(stream, "ts", "event_type", "value")
      .writeStream.format("memory").queryName("file_win").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_win")
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = Stream.windowedTypeCounts(
        io.Tables.events(spark, sfDir), "ts", "event_type", "value")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("intervalJoin: stream-stream join equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(String, Long, Timestamp)]
    val clicks = MemoryStream[(String, Long, Timestamp)]
    val pDf = purchases.toDF().toDF("user_id", "purchase_id", "p_ts")
    val cDf = clicks.toDF().toDF("user_id", "click_id", "c_ts")
    val q = Stream.intervalJoin(pDf, cDf, "user_id", "p_ts", "c_ts", "1 hour")
      .select($"user_id", $"purchase_id", $"click_id")
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      // u1 clicks at 0 and 30 min and buys at 45 min: both clicks are
      // within the preceding hour. The 100-min purchase only matches the
      // later 70-min click (the earlier ones are >1h before it). u2's
      // click is 2h before its purchase — never matches.
      clicks.addData(("u1", 1L, ts(0)), ("u1", 2L, ts(30)), ("u2", 3L, ts(0)))
      purchases.addData(("u1", 10L, ts(45)))
      q.processAllAvailable()
      clicks.addData(("u1", 4L, ts(70)))
      purchases.addData(("u1", 11L, ts(100)), ("u2", 12L, ts(120)))
      q.processAllAvailable()
      val streamed = spark.table("ivj")
        .as[(String, Long, Long)].collect().toSet
      val batchP = Seq(("u1", 10L, ts(45)), ("u1", 11L, ts(100)), ("u2", 12L, ts(120)))
        .toDF("user_id", "purchase_id", "p_ts")
      val batchC = Seq(("u1", 1L, ts(0)), ("u1", 2L, ts(30)), ("u2", 3L, ts(0)),
        ("u1", 4L, ts(70)))
        .toDF("user_id", "click_id", "c_ts")
      val batch = Stream.intervalJoin(batchP, batchC, "user_id", "p_ts", "c_ts", "1 hour")
        .select($"user_id", $"purchase_id", $"click_id")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch == Set(("u1", 10L, 1L), ("u1", 10L, 2L), ("u1", 11L, 4L)))
    } finally q.stop()
  }

  test("windowedMoments: incremental exact stats equal the batch run bitwise") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = Stream.windowedMoments(df, "ts", "event_type", "value")
      .writeStream.format("memory").queryName("moments").outputMode("complete").start()
    try {
      val rows = Seq((ts(0), "click", 1.5), (ts(10), "click", 2.5), (ts(20), "click", 4.0),
        (ts(5), "view", 3.0), (ts(70), "click", 1.0))
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("moments")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val batch = Stream.windowedMoments(
        rows.toDF("ts", "event_type", "value"), "ts", "event_type", "value")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
      // hand-check one window: clicks at 0/10/20 min → mean (1.5+2.5+4)/3
      val click = batch.find { case (_, t, n, _, _) => t == "click" && n == 3 }.get
      assert(click._4 == 2666667L, click) // mean_e6
    } finally q.stop()
  }

  test("dedupKeyed: duplicate keys within watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("event_id", "ts", "payload")
    val q = Stream.dedupKeyed(df, Seq("event_id"), "ts")
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      input.addData((1L, ts(0), "a"), (1L, ts(1), "a-dup"), (2L, ts(2), "b"))
      q.processAllAvailable()
      input.addData((2L, ts(3), "b-dup"), (3L, ts(4), "c"))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("live URL frontier: canonical-key dedup across micro-batches equals batch distinct") {
    // the crawl-frontier shape: re-crawl URLs arrive as a stream, the
    // BATCH canonicalization column (UrlFns.canonicalizeUrl) is the
    // dedup key, and dedupKeyed drops within-watermark re-crawls - the
    // same operator serves batch corpus hygiene and the live frontier
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "url")
      .withColumn("canonical",
        graft.functions.UrlFns.canonicalizeUrl(
          org.apache.spark.sql.functions.col("url")))
    val q = Stream.dedupKeyed(df, Seq("canonical"), "ts")
      .writeStream.format("memory").queryName("frontier")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "HTTPS://Example.COM:443/a?utm_x=1&b=2&a=1#f1"),
        (2L, ts(1), "https://example.com/a?a=1&b=2"),  // same canonical
        (3L, ts(2), "https://example.com/b"))
      q.processAllAvailable()
      input.addData(
        (4L, ts(3), "https://EXAMPLE.com/b#frag"),     // re-crawl of /b
        (5L, ts(4), "https://example.com/c"))
      q.processAllAvailable()
      val got = spark.table("frontier").select("canonical")
        .as[String].collect().sorted
      assert(got.toSeq == Seq(
        "https://example.com/a?a=1&b=2",
        "https://example.com/b",
        "https://example.com/c"))
    } finally q.stop()
  }

  test("live manifest: the batch Shard.manifest over a stream equals a batch rebuild") {
    // the export-integrity monitor: Shard.manifest is a plain keyed
    // aggregation, so the SAME operator maintains a live per-shard
    // manifest in complete mode - and manifestDelta between the live
    // snapshot and a later release reconciles without a batch re-scan
    implicit val sqlCtx = spark.sqlContext
    val docsData = (1L to 40L).map(i => (i, s"doc number $i with words"))
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val tok = org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " ")).cast("long")
    val q = graft.ops.Shard.manifest(
        graft.ops.Shard.assignShards(df, "doc_id", 4), "shard", "doc_id", tok)
      .writeStream.format("memory").queryName("live_manifest")
      .outputMode("complete").start()
    try {
      input.addData(docsData.take(15): _*)
      q.processAllAvailable()
      input.addData(docsData.drop(15): _*)
      q.processAllAvailable()
      val live = spark.table("live_manifest")
      val batch = graft.ops.Shard.manifest(
        graft.ops.Shard.assignShards(docsData.toDF("doc_id", "text"),
          "doc_id", 4), "shard", "doc_id", tok)
      assert(live.as[(Long, Long, Long, Long)].collect().toSet ==
        batch.as[(Long, Long, Long, Long)].collect().toSet)
      // reconcile the live snapshot against a shrunk next release
      val next = graft.ops.Shard.manifest(
        graft.ops.Shard.assignShards(
          docsData.filter(_._1 % 5L != 0L).toDF("doc_id", "text"),
          "doc_id", 4), "shard", "doc_id", tok)
      val delta = graft.ops.Shard.manifestDelta(live, next)
      val byStatus = delta.groupBy("status").count()
        .as[(String, Long)].collect().toMap
      assert(byStatus.keySet.subsetOf(Set("changed", "unchanged")))
      val rowDelta = delta.agg(
        org.apache.spark.sql.functions.sum("row_delta")).as[Long].head()
      assert(rowDelta == -8L)
    } finally q.stop()
  }

  test("postingsStream: live index equals batch postings AND serves identical BM25") {
    implicit val sqlCtx = spark.sqlContext
    val docsData = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple cherry cherry durian"), (4L, "banana banana banana"),
      (5L, "durian apple"))
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.Stream.postingsStream(df, "doc_id", "text")
      .writeStream.format("memory").queryName("live_postings")
      .outputMode("complete").start()
    try {
      input.addData(docsData.take(2): _*)
      q.processAllAvailable()
      input.addData(docsData.drop(2): _*)
      q.processAllAvailable()
      val live = spark.table("live_postings")
      val batchDocs = docsData.toDF("doc_id", "text")
      // 1) the maintained table IS the batch postings table
      val batchTf = graft.ops.Retrieval.postings(batchDocs, "doc_id", "text").tf
        .select($"doc_id", $"__term".as("term"), $"__tf".as("tf"))
      assert(live.as[(Long, String, Long)].collect().toSet ==
        batchTf.as[(Long, String, Long)].collect().toSet)
      // 2) BM25 over the LIVE index answers exactly like a batch rebuild
      val queries = Seq((1L, "apple banana apple")).toDF("q_id", "q_text")
      val qterms = graft.ops.Retrieval.queryTerms(queries, "q_id", "q_text")
      val fromLive = graft.ops.Retrieval.bm25Rank(
          graft.ops.Retrieval.postingsFromTf(live, "doc_id", "term", "tf"),
          "doc_id", qterms, "q_id", k = 10)
        .as[(Long, Long, Long, Long)].collect().toSet
      val fromBatch = graft.ops.Retrieval.bm25Rank(
          graft.ops.Retrieval.postings(batchDocs, "doc_id", "text"),
          "doc_id", qterms, "q_id", k = 10)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fromLive == fromBatch && fromLive.nonEmpty)
    } finally q.stop()
  }
}
