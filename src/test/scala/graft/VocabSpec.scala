package graft

import org.apache.spark.sql.functions._

import graft.ops.Vocab

/** Vocabulary coverage curve, in-vocab quality scoring, and deterministic
  * split assignment (the tokenizer-design / split-governance wave). */
class VocabSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat", "en"),
    (2L, "the dog ate the cat food", "en"),
    (3L, "zzz qqq xxx", "und"),
    (4L, "", "und"),
    (5L, "the the the", "en"))
    .toDF("doc_id", "text", "lang")

  test("topVocab: ranks by count desc then word asc; coverage is a monotone ppm curve") {
    val out = Vocab.topVocab(docs, "text", 4).orderBy("rank").collect()
    assert(out.length == 4)
    // "the" appears 7 times; clear winner
    assert(out.head.getString(1) == "the" && out.head.getLong(2) == 7L)
    // ties (cat=2) resolved by word asc before singletons
    assert(out(1).getString(1) == "cat")
    val ppm = out.map(_.getLong(4))
    assert(ppm.sameElements(ppm.sorted), "coverage must be non-decreasing")
    assert(ppm.last <= 1000000L)
    // rank 1 coverage: 7 of 18 tokens = 388888 ppm exactly (integer div)
    assert(out.head.getLong(4) == 7L * 1000000L / 18L)
  }

  test("topVocab: cum_cnt of the full vocab reaches the token total (k >= |vocab|)") {
    val out = Vocab.topVocab(docs, "text", 100).orderBy(desc("rank")).first()
    assert(out.getLong(4) == 1000000L, "full vocab must cover 1e6 ppm exactly")
  }

  test("inVocabScore: ppm fractions against a fixed vocab; empty docs kept at zero") {
    val vocab = Seq("the", "cat").toDF("word")
    val out = Vocab.inVocabScore(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").collect()
    assert(out.length == 5, "operator must be total over input rows")
    val byId = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byId(1L) == ((6L, 3L, 500000L)))   // the,cat of 6 tokens
    assert(byId(3L) == ((3L, 0L, 0L)))        // all OOV
    assert(byId(4L) == ((0L, 0L, 0L)))        // empty doc: no tokens, score 0
    assert(byId(5L) == ((3L, 3L, 1000000L)))  // fully in-vocab
  }

  test("inVocabScore: vocab lands as a broadcast join; no shuffle on the vocab side") {
    val vocab = Vocab.topVocab(docs, "text", 2)
    val plan = Vocab.inVocabScore(docs, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$plan")
  }

  test("splitAssign: deterministic, exhaustive, and matching the md5-prefix contract") {
    val ids = spark.range(0, 2000).toDF("doc_id")
    val out = Vocab.splitAssign(ids, "doc_id")
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    assert(counts.values.sum == 2000L)
    // rerun-stable (no RNG anywhere)
    val a = out.orderBy("doc_id").as[(Long, String)].collect().toSeq
    val b = Vocab.splitAssign(ids, "doc_id").orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(a == b)
    // contract: the bucket boundaries are exactly the md5 prefix ranges
    val check = Vocab.splitAssign(ids, "doc_id")
      .withColumn("p", substring(md5($"doc_id".cast("string")), 1, 2))
      .filter(($"p" < "f0" && $"split" =!= "train") ||
        ($"p" >= "f0" && $"p" < "f8" && $"split" =!= "val") ||
        ($"p" >= "f8" && $"split" =!= "test"))
    assert(check.count() == 0)
  }

  test("repeatedSpans: shared spans need a DISTINCT other doc; short docs yield zero spans") {
    val d = Seq(
      (1L, "a b c d e f"),        // spans: "a b c d e", "b c d e f"
      (2L, "x a b c d e f y"),    // contains both of doc 1's spans
      (3L, "p q r s t"),          // unique single span
      (4L, "u v w"),              // < n tokens: zero spans
      (5L, "m m m m m m"))        // self-repeated span in ONE doc only: not shared
      .toDF("doc_id", "text")
    val out = Vocab.repeatedSpans(d, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1000000L)), "both doc-1 spans occur in doc 2")
    assert(out(2L)._1 == 4L && out(2L)._2 == 2L, "doc 2: 4 spans, 2 shared with doc 1")
    assert(out(3L) == ((1L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)), "sub-n doc must survive with zero spans")
    assert(out(5L) == ((2L, 0L, 0L)), "within-doc repetition alone is not 'shared'")
  }

  test("wordSpans kernel is element-identical to the HOF reference spelling") {
    // edge cases: empty text, pure whitespace, sub-n doc, exact-n doc,
    // interior whitespace runs, leading tab surviving the space-only trim,
    // mixed case, repeated spans (duplicates MUST be preserved, in order)
    val texts = Seq(
      "", "   ", "\t\n  ", "a b c d", "a b c d e", "A  B\tC   d E f",
      "\tx a b c d e", "m m m m m m", "one two three four five six seven",
      (1 to 40).map(i => s"tok${i % 7}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select($"id",
      graft.expr.TextExprs.wordSpans($"text", 5).as("kernel"),
      Reference.spansReference($"text", 5).as("hof"))
      .as[(Long, Seq[String], Seq[String])].collect()
    both.foreach { case (id, k, h) =>
      assert(k == h, s"id=$id kernel=$k hof=$h")
    }
  }

  test("wordTokens contract: the declarative token stream IS wordSpans at n=1") {
    // the single corpus tokenization contract (TextFns.wordTokens) and the
    // fused span kernel must agree token-for-token — crossDocSpanDedup
    // aligns positions between the two streams, so any divergence (empty
    // tokens, trim dialect, whitespace class) silently misaligns dedup
    val texts = Seq(
      "", "   ", "\t\n  ", "a b c d", "A  B\tC   d E f",
      "\tx a b c d e", "m m m m m m", "one  two\nthree\tfour",
      "Trailing space ", " café Ünïcode 中文 token")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select($"id",
      graft.functions.TextFns.wordTokens($"text").as("contract"),
      graft.expr.TextExprs.wordSpans($"text", 1).as("kernel"))
      .as[(Long, Seq[String], Seq[String])].collect()
    both.foreach { case (id, c, k) =>
      assert(c == k, s"id=$id contract=$c kernel=$k")
    }
  }

  test("wordSpans participates in whole-stage codegen") {
    val plan = graft.io.Tables.documents(spark, sfDir)
      .select(graft.expr.TextExprs.wordSpans($"text", 5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"span kernel fell out of codegen:\n$plan")
  }

  test("crossSplitLeaks: a span shared across split boundaries is counted once") {
    // find two ids the md5 split sends to different splits, then plant the
    // same 5-token span in both documents
    val probe = ops.Vocab.splitAssign(spark.range(0, 200).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    val trainId = probe.collectFirst { case (id, "train") => id }.get
    val valId = probe.collectFirst { case (id, "val") => id }.get
    val span = "one two three four five"
    val d = Seq(
      (trainId, s"$span and some train padding"),
      (valId, s"prefix words here $span"),
      (probe.collectFirst { case (id, "train") => id }.get + 0L, s"$span and some train padding"))
      .toDF("doc_id", "text").distinct()
    val out = ops.Vocab.crossSplitLeaks(d, "doc_id", "text", n = 5)
      .as[(Long, Long, Long)].head()
    assert(out._1 >= 1L, s"planted train/val span leak must be found: $out")
    assert(out._3 == 0L, s"no val/test span exists: $out")
  }

  test("q90/q91 fixture run: shapes and invariants at sf0.001") {
    val q90 = Queries7.q90VocabCoverage(spark, sfDir).collect()
    assert(q90.length == 20)
    assert(q90.map(_.getLong(0)).toSet == (1L to 20L).toSet)
    val q91 = Queries7.q91OovQuality(spark, sfDir)
    assert(q91.filter(col("score_ppm") > 1000000L).count() == 0)
    assert(q91.filter(col("in_vocab") > col("n_tokens")).count() == 0)
  }

  test("q107 materialized vocab: row-identical to q91; one documents scan + broadcast") {
    val q91 = Queries7.q91OovQuality(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val q107df = Queries7.q107VocabMaterialized(spark, sfDir)
    assert(q107df.as[(Long, Long, Long, Long)].collect().sorted.toSeq == q91)
    // the scale shape q91 lacks: the vocab head is a persisted artifact, so
    // the scoring plan scans the corpus ONCE and broadcasts the head
    val plan = q107df.queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans == 2, s"expected 2 documents scan refs (score + left-join restore), got $docScans:\n$plan")
    // the token-stream join against the vocab must be a broadcast hash
    // join keyed on the word (the 16-row distinct inside the broadcast
    // side may legitimately exchange its own rows first)
    assert(plan.contains("BroadcastHashJoin [__w"), s"vocab join must broadcast on __w:\n$plan")
  }
}
