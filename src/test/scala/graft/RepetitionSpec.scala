package graft

import org.apache.spark.sql.functions._

import graft.ops.Repetition

/** WITHIN-document repetition signals (Gopher quality rules) — the
  * self-repetition complement of the cross-doc scrub/span family. */
class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    // a ×3 of 4 lines → dup_line 2/4; bigram tie (a b, b a, a a) → "a a"
    (1L, "a\nb\na\na", "web"),
    // degenerate: "x x" occurs 3× overlapping, covers >1e6 ppm of 7 chars
    (2L, "x x x x", "web"),
    // empty doc: 1 empty line, 0 chars, <2 tokens — all signals 0
    (3L, "", "books"),
    // no repetition at all
    (4L, "one two three", "books"))
    .toDF("doc_id", "text", "source")

  test("repetitionSignals: hand-computed ppm for dup lines, chars, top bigram") {
    val out = Reference.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: dup_lines 2/4 = 500000 ppm; dup chars 2/4 = 500000 ppm;
    // top bigram "a a" (tie → lexicographically smallest) count 1, len 3,
    // norm len 7 → 1*3*1e6 div 7 = 428571
    assert(out(1L) == ((1L, 500000L, 500000L, 428571L)))
    // doc 2: one line, no dups; "x x" count 3 (overlaps counted per
    // occurrence), len 3, norm 7 → 9e6 div 7 = 1285714 — above 1e6 by design
    assert(out(2L) == ((2L, 0L, 0L, 1285714L)))
    // doc 3: the empty doc is one empty line (no dup), zero chars and
    // fewer than two tokens — every signal 0, no nulls, no div-by-zero
    assert(out(3L) == ((3L, 0L, 0L, 0L)))
    assert(out(4L)._2 == 0L && out(4L)._3 == 0L)
  }

  test("repetitionGate: ANY signal over threshold fails; rollup by source") {
    val out = Repetition.repetitionGate(docs, "doc_id", "text", "source",
        maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
        maxTopBigramPpm = 180000L)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // web: doc1 fails dup-line AND dup-char AND bigram; doc2 fails bigram
    assert(out("web") == (("web", 2L, 1L, 1L, 2L, 0L)))
    // books: doc4's only bigram covers 7/13 of its chars — over 18%, so it
    // fails coverage (faithful to the rule: tiny docs trivially fail and
    // are meant to be caught by separate length gates); empty doc3 passes
    assert(out("books") == (("books", 2L, 0L, 0L, 1L, 1L)))
  }

  test("plan shape: argmax is an aggregate, not a window; doc-keyed shuffles only") {
    val df = Reference.repetitionSignals(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString()
    // the top-bigram pick must stay a min(struct) hash aggregate — a
    // per-doc window sort would be a second shuffle + sort for nothing
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"joins on doc_id must broadcast/hash at this size:\n$plan")
  }

  test("fused kernel is row-identical to the aggregate spelling on the fixture corpus") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    val agg = Reference.repetitionSignals(docs, "doc_id", "text")
    val fused = Repetition.repetitionSignalsFused(docs, "doc_id", "text")
    assert(agg.exceptAll(fused).isEmpty && fused.exceptAll(agg).isEmpty,
      "kernel diverged from the aggregate reference")
    // and on the edge cases the fixture may not cover
    val edge = Seq(
      (1L, ""), (2L, "\n\n"), (3L, "a\na\na"), (4L, "x y x y x y"),
      (5L, "  word  "), (6L, "émoji 😀 émoji 😀 émoji 😀")).toDF("doc_id", "text")
    val ea = Reference.repetitionSignals(edge, "doc_id", "text")
    val ef = Repetition.repetitionSignalsFused(edge, "doc_id", "text")
    assert(ea.exceptAll(ef).isEmpty && ef.exceptAll(ea).isEmpty)
  }

  test("fused kernel plan: pure projection, zero exchanges") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    val plan = Repetition.repetitionSignalsFused(docs, "doc_id", "text")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"),
      s"doc-local signals must not shuffle:\n$plan")
    assert(plan.contains("[codegen id :"), s"kernel fell out of codegen:\n$plan")
  }
}
