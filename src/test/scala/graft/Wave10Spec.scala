package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Tenth-wave semantics: cross-document repeated-span dedup — the Lee et
  * al. 2022 suffix-array dedup, approximated by span-hash bucketing. */
class Wave10Spec extends SparkSpec {
  import spark.implicits._

  test("crossDocSpanDedup: hand-built corpus — first occurrence kept, later cut") {
    // docs 1 and 2 share the 3-token spans "a b c" AND "b c tail"; doc 3
    // is disjoint. Doc 1 holds the smallest (id, pos) for both, keeps
    // everything; doc 2's occurrences are cut — their coverage unions to
    // positions 2..5, leaving only "head".
    val df = Seq(
      (1L, "a b c tail one"),
      (2L, "head a b c tail"),
      (3L, "x y z w")).toDF("doc_id", "text")
    val out = Dedup.crossDocSpanDedup(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((5L, 5L, 0L, "a b c tail one")))
    assert(out(2L) == ((5L, 1L, 4L, "head")))
    assert(out(3L) == ((4L, 4L, 0L, "x y z w")))
  }

  test("crossDocSpanDedup: overlapping cut spans union their coverage") {
    // "a b c d" repeats across docs as TWO overlapping 3-spans ("a b c",
    // "b c d"); coverage of the cut copy must union to all four tokens,
    // not double-count the overlap
    val df = Seq(
      (1L, "a b c d"),
      (2L, "pre a b c d post")).toDF("doc_id", "text")
    val out = Dedup.crossDocSpanDedup(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((4L, 4L, 0L, "a b c d")))
    assert(out(2L) == ((6L, 2L, 4L, "pre post")))
  }

  test("crossDocSpanDedup: within-doc repeats cut only when the span is cross-doc") {
    // "p q r" appears twice inside doc 1 but in no other doc — within-doc
    // repetition alone is q93/q110 territory, NOT cross-doc span dedup
    val df = Seq(
      (1L, "p q r u v p q r"),
      (2L, "entirely different words here")).toDF("doc_id", "text")
    val out = Dedup.crossDocSpanDedup(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }

  test("crossDocSpanDedup: fully-cut and sub-k documents round-trip") {
    // doc 2 is exactly one shared span — everything cut, '' reassembled;
    // doc 3 is sub-k and passes through whole (normalized tokens)
    val df = Seq(
      (1L, "a b c plus more content"),
      (2L, "a b c"),
      (3L, "Tiny  Doc")).toDF("doc_id", "text")
    val out = Dedup.crossDocSpanDedup(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(2L) == ((3L, 0L, 3L, "")))
    assert(out(3L) == ((2L, 2L, 0L, "tiny doc")))
  }

  test("crossDocSpanDedup fixture invariants: conservation and verdict stability") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    def run() = Dedup.crossDocSpanDedup(docs, "doc_id", "text", k = 8)
    val out = run().collect()
    assert(out.length == docs.count(), "every document gets a verdict")
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"doc ${r.getLong(0)}: token conservation broken")
      val rejoined = r.getString(4)
      assert(r.getLong(2) == 0L && rejoined.isEmpty ||
        rejoined.split("\\s+").length.toLong == r.getLong(2),
        s"doc ${r.getLong(0)}: new_text token count != n_kept")
    }
    assert(out.exists(_.getLong(3) > 0L),
      "fixture has cross-doc spans at k=8 — some doc must lose tokens")
    assert(out.exists(_.getLong(3) == 0L),
      "not every doc shares spans — some doc must pass through whole")
    val again = run().collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out.forall(r => again(r.getLong(0)) == r.getString(4)),
      "verdict must be rerun-stable")
  }

  /** q31's Lloyd's: one-subspace PQ training, code as cluster. */
  private def lloyd(df: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.ops.Pq.train(df, "vec_id", "embedding", Int.MaxValue, k, rounds)._2
      .select($"vec_id", $"code".as("cluster"), $"dist2")

  test("Lloyd's via Pq: valid labels, non-trivial split, rerun-stable, hand-checkable") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    def run() = lloyd(emb, k = 10, rounds = 4)
    val out = run().collect()
    assert(out.length == emb.count(), "every vector must get a label")
    val clusters = out.map(_.getLong(1)).toSet
    assert(clusters.subsetOf((0L until 10L).toSet), s"labels out of range: $clusters")
    assert(clusters.size >= 2, "degenerate clustering")
    assert(out.forall(_.getLong(2) >= 0L), "squared distance cannot be negative")
    val again = run().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall(r => again(r.getLong(0)) == r.getLong(1)),
      "fixed-round integer Lloyd's must be rerun-stable")
    // 1-round degenerate case on a hand corpus: two well-separated pairs.
    // Seeds come in md5-hash order of the id string:
    //   md5("4")=a87f… < md5("1")=c4ca… < md5("2")=c81e… < md5("3")=eccb…
    // so k=2 seeds are id 4 (j=0) and id 1 (j=1); 2 joins 4's cluster and
    // 3 joins 1's on the first assignment
    val tiny = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.1f, 0.0f)), (4L, Seq(10.0f, 9.9f))).toDF("vec_id", "embedding")
    val t = lloyd(tiny, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(t(4L) == ((0L, 0L)) && t(1L) == ((1L, 0L)))
    assert(t(2L) == ((0L, 100L * 100L)), "9.9 vs 10.0 quantizes to a 100 gap")
    assert(t(3L) == ((1L, 100L * 100L)), "0.1 quantizes to 100; dist2 = 100^2")
  }

  test("crossDocSpanDedup plan: span shuffle carries fingerprints, never span text") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    val p = Dedup.crossDocSpanDedup(docs, "doc_id", "text", k = 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("hashpartitioning(fp#"),
      s"first-occurrence agg must key its exchange on the md5 fingerprint:\n$p")
    assert(!p.contains("hashpartitioning(span#"),
      s"no exchange may carry k-token span text:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"span dedup must stay an equi-join pipeline:\n$p")
  }
}
