package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, RankEval, Retrieval, TopK}

/** Wave 12 follow-on: PRF expansion, nDCG/MRR audit, label propagation. */
class Wave13Spec extends SparkSpec {
  import spark.implicits._

  test("prfExpansion: feedback terms weighted, query terms excluded") {
    // query "apple" retrieves docs 2/3 (both contain it); their terms
    // weight by tf*1e6 div dl, summed across the feedback set
    val docs = Seq(
      (1L, "apple"),
      (2L, "apple banana banana cherry"),
      (3L, "apple banana durian durian")).toDF("doc_id", "text")
    val q = Seq((1L, "apple")).toDF("q_id", "q_text")
    val p = Retrieval.postings(docs, "doc_id", "text")
    val qt = Retrieval.queryTerms(q, "q_id", "q_text")
    val fb = Retrieval.bm25Rank(p, "doc_id", qt, "q_id", 2)
      .select($"q_id", $"doc_id")
    val out = Retrieval.prfExpansion(p, "doc_id", fb, qt, "q_id", nTerms = 10)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    // banana: doc2 2/4 + doc3 1/4 -> 500000 + 250000 = 750000 (rank 1)
    // durian: doc3 2/4 -> 500000 (rank 2); cherry: doc2 1/4 -> 250000
    // apple is a query term -> excluded despite appearing in both docs
    assert(out == Map(
      "banana" -> ((750000L, 1L)),
      "durian" -> ((500000L, 2L)),
      "cherry" -> ((250000L, 3L))))
  }

  test("ndcgAudit: hand-checked gains, truncation-aware ideal") {
    // q1: rel docs {11, 13, 99}; ranked 11@1 (hit), 12@2, 13@3 (hit)
    //   dcg = g(1)+g(3); ideal = 3 rels -> cum(3); mrr = 1e6 div 1
    // q2: no rels -> all zeros, vacuous ndcg 0
    val ranked = Seq(
      (1L, 11L, 1L), (1L, 12L, 2L), (1L, 13L, 3L),
      (2L, 11L, 1L), (2L, 12L, 2L)).toDF("q_id", "doc_id", "rank")
    val rels = Seq((1L, 11L), (1L, 13L), (1L, 99L)).toDF("q_id", "doc_id")
    val g = RankEval.dcgGainsE6(10)
    val cum = RankEval.idealCumE6(10)
    val out = RankEval.ndcgAudit(ranked, "q_id", "doc_id", "rank", rels, 10)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val dcg1 = g(0) + g(2)
    assert(out(1L) == ((1L, 2L, 3L, 1000000L, dcg1, cum(2),
      dcg1 * 1000000L / cum(2))))
    assert(out(2L) == ((2L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // gain table sanity: g(1) is exactly 1e6 (log2(2) = 1), monotone down
    assert(g(0) == 1000000L && g.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("ndcgAudit: more relevant docs than k caps the ideal at k") {
    val ranked = (1L to 10L).map(r => (1L, 100L + r, r)).toDF("q_id", "doc_id", "rank")
    val rels = (1L to 30L).map(d => (1L, 100L + d)).toDF("q_id", "doc_id")
    val out = RankEval.ndcgAudit(ranked, "q_id", "doc_id", "rank", rels, 10)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    // every ranked doc is relevant -> dcg == idcg == cum(10), ndcg == 1e6
    assert(out == ((1L, 10L, 30L, 1000000L,
      RankEval.idealCumE6(10).last, RankEval.idealCumE6(10).last, 1000000L)))
  }

  test("bm25Rank: ranks like the shared weight table, and a widened probe only adds score") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple cherry cherry durian"), (4L, "banana banana banana"))
      .toDF("doc_id", "text")
    val q = Seq((9L, "apple banana")).toDF("q_id", "q_text")
    val p = Retrieval.postings(docs, "doc_id", "text")
    val viaText = Retrieval.bm25Rank(p, "doc_id",
        Retrieval.queryTerms(q, "q_id", "q_text"), "q_id", 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaShared = TopK.rankPerGroup("q_id", "score_e6", "doc_id", 10, "rank")(
        Retrieval.bm25Scores(Retrieval.bm25WeightsShared(p, "doc_id"), "doc_id",
          Retrieval.queryTerms(q, "q_id", "q_text"), "q_id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaText == viaShared && viaText.nonEmpty)
    // widening the probe set can only ADD score mass: every doc's score
    // under (original + one extra matching term) dominates the original
    val widened = Retrieval.bm25Rank(p, "doc_id",
        Retrieval.queryTerms(q, "q_id", "q_text")
          .unionByName(Seq((9L, "cherry")).toDF("q_id", "__term")), "q_id", 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    val base = viaText.map(r => r._2 -> r._3).toMap
    assert(base.forall { case (d, s) => widened(d) >= s })
    assert(widened(2L) > base(2L), "doc 2 gains from the cherry term")
  }

  test("normOutlierGate: hand-checked fences on a known norm distribution") {
    // 9 unit-ish vectors (norm2 = 1e6 at quantScale 1000) + one collapsed
    // and one exploded: quartiles sit inside the unit mass, so exactly
    // the two pathological vectors are flagged
    val rows = (1L to 9L).map(i => (i, Array(1.0f, 0.0f))) ++
      Seq((10L, Array(0.001f, 0.0f)), (11L, Array(9.0f, 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.ops.Embed.normOutlierGate(df, "vec_id", "embedding")
      .as[(Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    for (i <- 1L to 9L) assert(out(i) == ((1000000L, false, false)))
    assert(out(10L) == ((1L, true, false)), "collapsed encode flagged low")
    assert(out(11L) == ((81000000L, false, true)), "exploded encode flagged high")
  }

  test("psiReport: hand arithmetic incl. a bucket empty on one side") {
    // prev: A x8, B x2; cur: A x5, C x5. union buckets {A,B,C}, Laplace:
    //   ta=10, tb=10, nb=3 -> denom 13
    //   A: pa=(9)*1e6//13=692307, pb=(6)*1e6//13=461538
    //   B: pa=230769, pb=76923;  C: pa=76923, pb=461538
    val prev = (Seq.fill(8)("A") ++ Seq.fill(2)("B")).toDF("b")
    val cur = (Seq.fill(5)("A") ++ Seq.fill(5)("C")).toDF("b")
    val out = graft.ops.Delta.psiReport(prev, cur, "b")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    def psi(pa: Long, pb: Long): Long =
      math.floor((pa - pb).toDouble * math.log(pa.toDouble / pb.toDouble) + 0.5).toLong
    assert(out("A") == (("A", 8L, 5L, 692307L, 461538L, psi(692307L, 461538L))))
    assert(out("B") == (("B", 2L, 0L, 230769L, 76923L, psi(230769L, 76923L))))
    assert(out("C") == (("C", 0L, 5L, 76923L, 461538L, psi(76923L, 461538L))))
    // drift is positive in every shifted bucket — the headline PSI sums
    assert(out.values.map(_._6).sum > 0L)
  }

  test("sentenceChunks: boundaries respected, long sentences never split") {
    val docs = Seq(
      // 3+4+3 tokens at cap 6: s1+s2 overflow into chunk 0/0? cum=3,7,10
      // chunk_id = (cum - n_tok) div 6 -> s1:0, s2:0, s3:1
      (1L, "One two three. Four five six seven! Eight nine ten?"),
      // a single 9-token sentence at cap 6 stays WHOLE in chunk 0
      (2L, "a b c d e f g h i"),
      (3L, "")).toDF("doc_id", "text")
    val out = graft.ops.Chunk.sentenceChunks(docs, "doc_id", "text", 6)
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out((1L, 0L)) ==
      (("One two three. Four five six seven!", 2L, 7L)))
    assert(out((1L, 1L)) == (("Eight nine ten?", 1L, 3L)))
    assert(out((2L, 0L)) == (("a b c d e f g h i", 1L, 9L)),
      "passage integrity beats the cap")
    assert(!out.keySet.exists(_._1 == 3L), "empty text yields no chunks")
  }

  test("interleavedPacking: image patch budget, whole-doc integrity, zero-cost packs") {
    // shard A at capacity 100: doc1 text 40 + 1 img (64) = 104 (> cap,
    // lands whole in pack 0); doc2 cost 30 -> cum 134 -> pack 1;
    // doc3 cost 80 -> cum 214 -> pack 1 (134 div 100)
    val df = Seq(
      ("A", 1L, 40L, 1L), ("A", 2L, 30L, 0L), ("A", 3L, 16L, 1L),
      ("B", 4L, 0L, 0L)) // zero-cost doc: share is 0, not a div error
      .toDF("source", "doc_id", "n_text_tok", "n_images")
    val out = graft.ops.Multimodal.interleavedPacking(df, "source", "doc_id",
        "n_text_tok", "n_images", imageTokens = 64, capacity = 100)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(out(("A", 0L)) == ((1L, 40L, 64L, 1040000L, 615384L)))
    assert(out(("A", 1L)) == ((2L, 46L, 64L, 1100000L, 581818L)))
    assert(out(("B", 0L)) == ((1L, 0L, 0L, 0L, 0L)))
  }

  test("renderConversations: spans address exactly the assistant text") {
    val turns = Seq(
      (1L, 0L, "user", "hi"),
      (1L, 1L, "assistant", "hello!"),
      (1L, 2L, "user", "bye"),
      (1L, 3L, "assistant", ""), // empty assistant turn: degenerate span
      (2L, 0L, "user", "solo")) // no assistant at all
      .toDF("conv_id", "turn", "role", "text")
    val out = graft.ops.Sft.renderConversations(turns, "conv_id", "turn",
        "role", "text")
      .as[(Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n1, na1, rendered, spans) = out(1L)
    assert(n1 == 4L && na1 == 2L)
    assert(rendered ==
      "<|user|>\nhi\n<|assistant|>\nhello!\n<|user|>\nbye\n<|assistant|>\n\n")
    // every span must slice exactly its assistant text out of `rendered`
    val parsed = spans.split(",").map { s =>
      val Array(a, b) = s.split("-"); (a.toInt, b.toInt)
    }
    assert(parsed.length == 2)
    assert(rendered.substring(parsed(0)._1 - 1, parsed(0)._2) == "hello!")
    assert(parsed(1)._2 == parsed(1)._1 - 1, "empty text -> degenerate span")
    assert(out(2L)._3 == 0L && out(2L)._5 == "", "no assistant, no spans")
  }

  test("labelPropagation: clamping, majority, tie-break, unreachable") {
    // seeds: 1->7, 2->9. edges: 3->{1,2} (tie -> smallest label 7);
    // 4->{1} (adopts 7); 5->{6} (6 unlabeled forever -> 5 stays -1);
    // 2 is a seed pointing at 1 — must NOT flip to 7
    val edges = Seq((3L, 1L), (3L, 2L), (4L, 1L), (5L, 6L), (2L, 1L), (6L, 5L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 7), (2L, 9)).toDF("node", "label")
    val out = Graph.labelPropagation(edges, "src", "dst", seeds, "node", "label", 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((7L, true)) && out(2L) == ((9L, true)))
    assert(out(3L) == ((7L, false)), "tie breaks to the smallest label")
    assert(out(4L) == ((7L, false)))
    assert(out(5L) == ((-1L, false)) && out(6L) == ((-1L, false)),
      "an unlabeled island stays -1")
  }

  test("labelPropagation: labels reach two hops in two rounds, not one") {
    // chain 3 -> 2 -> 1(seed): after 1 round only 2 is labeled; after 2, 3 too
    val edges = Seq((2L, 1L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq((1L, 5)).toDF("node", "label")
    def labOf(iters: Int): Map[Long, Long] =
      Graph.labelPropagation(edges, "src", "dst", seeds, "node", "label", iters)
        .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(labOf(1) == Map(1L -> 5L, 2L -> 5L, 3L -> -1L))
    assert(labOf(2) == Map(1L -> 5L, 2L -> 5L, 3L -> 5L))
  }
}
