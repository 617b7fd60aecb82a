package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

import graft.ops.{Graph, Retrieval, TopK}

/** Wave 12: BM25 lexical retrieval, reciprocal-rank fusion, hard-negative
  * mining, and integer PageRank over an edge list. */
class Wave12Spec extends SparkSpec {
  import spark.implicits._

  /** BM25@k of `queries(q_id, q_text)` over `docs(doc_id, text)`. */
  private def bm25Rank(docs: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Retrieval.bm25Rank(Retrieval.postings(docs, "doc_id", "text"), "doc_id",
      Retrieval.queryTerms(queries, "q_id", "q_text"), "q_id", k)

  /** The single-pass BM25 score table of `q`, cut at `maxDfPpm`. */
  private def bm25Scores(docs: DataFrame, q: DataFrame,
      maxDfPpm: Option[Long]): DataFrame =
    Retrieval.bm25Scores(
      Retrieval.bm25Weights(Retrieval.postings(docs, "doc_id", "text"), "doc_id"),
      "doc_id", Retrieval.queryTerms(q, "q_id", "q_text"), "q_id", maxDfPpm)

  test("bm25Rank matches a reference Scala spelling of the formula") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry durian"),
      (4L, "banana banana banana")).toDF("doc_id", "text")
    val queries = Seq((1L, "apple banana apple")).toDF("q_id", "q_text")
    val out = bm25Rank(docs, queries, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r._3).toMap

    // independent driver-side spelling with the same association
    val corpus = Map(
      1L -> Seq("apple", "banana", "apple"),
      2L -> Seq("banana", "cherry"),
      3L -> Seq("apple", "cherry", "cherry", "durian"),
      4L -> Seq("banana", "banana", "banana"))
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    val dfOf = corpus.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size)
    def score(qTerms: Set[String], doc: Seq[String]): Long =
      qTerms.toSeq.sorted.flatMap { t =>
        val tf = doc.count(_ == t).toDouble
        if (tf == 0) None else {
          val df = dfOf(t).toDouble
          val idf = math.log(((n - df) + 0.5) / (df + 0.5) + 1.0)
          val tfn = (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (doc.size.toDouble / avgdl)))
          Some(math.floor(idf * tfn * 1e6 + 0.5).toLong)
        }
      }.sum
    val qt = Set("apple", "banana")
    assert(out.keySet == Set(2L, 3L, 4L), "self excluded, all matches kept")
    for ((id, doc) <- corpus if id != 1L)
      assert(out(id) == score(qt, doc), s"doc $id")
  }

  test("bm25Rank: rare-term match outranks common-term match") {
    // 'zebra' appears once in the corpus, 'the' is everywhere: the zebra
    // doc must rank first for a 'zebra the' query even though the common
    // term matches every document
    val docs = (1L to 9L).map(i => (i, "the quick fox")).toDF("doc_id", "text")
      .union(Seq((10L, "the zebra")).toDF("doc_id", "text"))
    val q = Seq((99L, "zebra the")).toDF("q_id", "q_text")
    val top = bm25Rank(docs, q, 3)
      .filter(col("rank") === 1L).as[(Long, Long, Long, Long)].collect()
    assert(top.length == 1 && top.head._2 == 10L)
  }

  test("maxDfPpm drops exactly the over-threshold terms from the probe") {
    // 'the' in 10/10 docs (1e6 ppm), 'fox' in 5/10, 'zebra' in 1/10 —
    // a 500000-ppm cutoff must remove 'the' alone: every score equals
    // the uncut score minus the 'the' contribution, and docs matching
    // ONLY 'the' vanish from the result
    val docs = ((1L to 5L).map(i => (i, "the fox runs")) ++
      (6L to 9L).map(i => (i, "the river bends")) :+ ((10L, "the zebra")))
      .toDF("doc_id", "text")
    val q = Seq((99L, "zebra the fox")).toDF("q_id", "q_text")
    def scores(cut: Option[Long]): Map[Long, Long] =
      bm25Scores(docs, q, cut)
        .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    val full = scores(None)
    val cut = scores(Some(500000L))
    assert(full.keySet == (1L to 10L).toSet) // everything matches 'the'
    assert(cut.keySet == (1L to 5L).toSet + 10L) // 'the'-only docs gone
    // surviving docs lost exactly their (per-doc constant-tf) 'the' term:
    // same dl ⇒ same tfn for the dropped term within each doc group
    val theContrib = (1L to 5L).map(i => full(i) - cut(i)).distinct
    assert(theContrib.size == 1 && theContrib.head > 0)
  }

  test("conservative maxDfPpm preserves the top-k ranking") {
    // uniform-length docs with tf('the')=1 everywhere: the stopword adds
    // the SAME amount to every candidate, so dropping it shifts scores by
    // a constant — ranking (and its id tiebreak) must be bit-identical
    val topics = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val docs = (1L to 40L)
      .map(i => (i, s"the ${topics((i % 5).toInt)} ${topics(((i / 5) % 5).toInt)}"))
      .toDF("doc_id", "text")
    val q = Seq((99L, "the alpha gamma")).toDF("q_id", "q_text")
    def topk(cut: Option[Long]): Seq[(Long, Long)] =
      TopK.rankPerGroup("q_id", "score_e6", "doc_id", 10, "rank")(
          bm25Scores(docs, q, cut))
        .as[(Long, Long, Long, Long)].collect().toSeq
        .map(r => (r._4, r._2)).sorted
    assert(topk(Some(800000L)) == topk(None))
  }

  test("bm25WeightsShared scores the sf0.01 passages exactly like bm25Weights, uncut and cut") {
    val (p, queries) = Queries12.passagePostings(spark, "/root/testdata/sf0.01", 50L)
    val qterms = Retrieval.queryTerms(queries, "q_id", "q_text")
    val single = Retrieval.bm25Weights(p, "passage_id")
    val shared = Retrieval.bm25WeightsShared(p, "passage_id")
    for (cut <- Seq(None, Some(300000L))) {
      def scores(wt: DataFrame) =
        Retrieval.bm25Scores(wt, "passage_id", qterms, "q_id", cut)
          .select($"q_id", $"passage_id", $"score_e6")
      val (a, b) = (scores(single), scores(shared))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"cut $cut")
      assert(!a.isEmpty, s"cut $cut")
    }
  }

  test("a single-pass df cut is planned below the doc repartition") {
    // the cut filters the FINISHED weight table; Catalyst must push it
    // into the dfreq × stats cross join, so cut terms never reach the
    // doc shuffle (it could not if stats joined after the dl join)
    val docs = Seq((1L, "the fox"), (2L, "the river"), (3L, "the zebra"))
      .toDF("doc_id", "text")
    val q = Seq((9L, "the fox")).toDF("q_id", "q_text")
    val plan = bm25Scores(docs, q, Some(500000L)).queryExecution.optimizedPlan
    def cuts(p: LogicalPlan): Int = p.collect {
      case f: Filter if f.condition.references.exists(_.name == "__df") => f
      case j: Join if j.condition.exists(_.references.exists(_.name == "__df")) => j
    }.size
    val pins = plan.collect { case r: RepartitionByExpression => r }
    assert(pins.size == 1, plan)
    assert(cuts(plan) == 1 && cuts(pins.head.child) == 1, plan)
  }

  test("the shared weight checkpoint adds no exchange to the weight build") {
    // bm25WeightsShared's checkpoint repartitions by doc at the session's
    // shuffle parallelism — bm25Weights' own doc pin — so the planner
    // must drop it and the build shuffles the weights once
    val p = Retrieval.postings(
      Seq((1L, "the fox"), (2L, "the river")).toDF("doc_id", "text"), "doc_id", "text")
    val n = spark.sessionState.conf.numShufflePartitions
    val plan = Retrieval.bm25Weights(p, "doc_id").repartition(n, $"doc_id")
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    val pins = plan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(pins.size == 1, plan)
  }

  test("rrfFuse: hand-checked points, bi-modal docs outrank single-route") {
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("q_id", "doc_id", "rank")
    val sem = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("q_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(lex, sem), "q_id", "doc_id", "rank", k = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    // 1e6 div 61 = 16393, div 62 = 16129, div 63 = 15873
    assert(out(11L) == ((2L, 16393L + 16129L, 1L)), "rank-2+rank-1 bi-modal wins")
    assert(out(10L) == ((1L, 16393L, 2L)))
    assert(out(13L) == ((1L, 16129L, 3L)))
    assert(out(12L) == ((1L, 15873L, 4L)))
  }

  test("marginHardNegatives: cutoff tracks each anchor's own positive") {
    val cands = Seq(
      // anchor 1: pos at 0.40 -> cutoff 0.30
      (1L, 20L, 0.40), (1L, 21L, 0.32), // 0.32 > 0.30: inside the margin gap
      (1L, 22L, 0.30), (1L, 23L, 0.25), (1L, 24L, 0.10),
      // anchor 2: much denser neighborhood, pos at 0.80 -> cutoff 0.70
      (2L, 30L, 0.80), (2L, 31L, 0.69), (2L, 32L, 0.50))
      .toDF("q_id", "vec_id", "sim")
    val out = Retrieval.marginHardNegatives(cands, "q_id", "vec_id", "sim",
        margin = 0.10, nNeg = 2)
      .as[(Long, String, Long, Double, Long)].collect().toSet
    assert(out == Set(
      (1L, "pos", 20L, 0.40, 1L),
      (1L, "neg", 22L, 0.30, 1L), (1L, "neg", 23L, 0.25, 2L),
      (2L, "pos", 30L, 0.80, 1L),
      (2L, "neg", 31L, 0.69, 1L), (2L, "neg", 32L, 0.50, 2L)))
    intercept[IllegalArgumentException] {
      Retrieval.marginHardNegatives(cands, "q_id", "vec_id", "sim", 0.0, 2)
    }
  }

  test("pageRankPpb: two hand-iterated rounds on a 3-node graph") {
    // a(1)->b(2), a->c(3), b->a; c is dangling. N=3, r0 = 333333333,
    // teleport = 3e9 div 60 = 50000000
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.pageRankPpb(edges, "src", "dst", iters = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((212916666L, 1L, 2L)))
    assert(out(2L) == ((191666666L, 1L, 1L)))
    assert(out(3L) == ((191666666L, 1L, 0L)))
  }

  test("pageRankPpb: rank mass only leaks downward, never grows") {
    val e = graft.io.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 5 === 0L)
    val qv = e.select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val edges = graft.ops.Similarity.knnJoin(
      e, "vec_id", "embedding", qv, "q_id", "qvec", 3)
    val pr = Graph.pageRankPpb(edges, "q_id", "vec_id", iters = 3)
    val total = pr.agg(sum(col("rank_ppb"))).as[Long].head()
    assert(total <= 1000000000L, "integer flooring cannot create mass")
    assert(total >= 900000000L, "a 3-round walk retires only remainders" +
      " and the dangling share")
    val floorPpb = pr.agg(min(col("rank_ppb"))).as[Long].head()
    val n = pr.count()
    assert(floorPpb >= 3000000000L / (20L * n), "teleport floor holds")
  }
}
