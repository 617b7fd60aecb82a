package graft

import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** Distributed BPE merge learning (q120/q121): kernel-vs-reference merge
  * application, the classic hand-checkable corpus, and fixture invariants. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("mergePair kernel is identical to the gaps-and-islands reference fold") {
    // overlap runs (l == r), odd runs, match at start/end, multi-char
    // symbols, no match, single symbol
    val cases = Seq(
      ("a a a a </w>", "a", "a"),
      ("a a a </w>", "a", "a"),
      ("a b a b </w>", "a", "b"),
      ("x y z </w>", "y", "z"),
      ("x y z </w>", "z", "</w>"),
      ("es t es t </w>", "es", "t"),
      ("q </w>", "q", "</w>"),
      ("hello</w>", "x", "y"),
      ("m n </w>", "n", "m"))
    val df = cases.zipWithIndex
      .map { case ((s, l, r), i) => (i.toLong, s, l, r) }
      .toDF("id", "sym", "l", "r")
    val both = df.select($"id",
        graft.expr.BpeExprs.bpeMergePair($"sym", $"l", $"r").as("kernel"),
        Reference.mergePairReference($"sym", $"l", $"r").as("ref"))
      .as[(Long, String, String)].collect()
    both.foreach { case (id, k, ref) =>
      assert(k == ref, s"case $id: kernel=$k ref=$ref")
    }
    // and the canonical greedy expectations, by hand
    val byId = both.map(b => b._1 -> b._2).toMap
    assert(byId(0L) == "aa aa </w>", "run of 3 candidates merges 1st and 3rd")
    assert(byId(1L) == "aa a </w>", "odd run leaves the unpaired tail")
    assert(byId(2L) == "ab ab </w>")
    assert(byId(7L) == "hello</w>", "fully merged word passes through")
  }

  test("checkpoint cadence changes cost only: merges identical at every-1 vs every-5") {
    // the cadence knob bounds plan depth between lineage cuts; the
    // learned table must be bit-identical regardless (the literal-merge
    // projections compose associatively between checkpoints)
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = Seq((1L, corpus.mkString(" "))).toDF("doc_id", "text")
    def run(every: Int) =
      Bpe.learn(df, "text", rounds = 12, checkpointEvery = every)._1
        .orderBy("merge_round").as[(Long, String, String, Long)].collect().toSeq
    val a = run(1)
    val b = run(5)
    assert(a.nonEmpty && a == b)
  }

  test("segmentCorpus encodes unseen words by the merge list: the 'lowest' hand case") {
    // train on the Sennrich corpus, segment a doc containing the UNSEEN
    // word "lowest": l o w e s t </w> --(e,s)-> l o w es t --(es,t)->
    // l o w est --(est,</w>)-> l o w est</w> --(l,o)-> lo w est</w>
    // --(lo,w)-> low est</w> --(e,w)-> (no-op) = 2 symbols; plus the
    // known "low" (1 symbol, "low </w>" is 2) from the trained vocab
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val train = Seq((1L, corpus.mkString(" "))).toDF("doc_id", "text")
    val (merges, words) = Bpe.learn(train, "text", rounds = 6)
    val target = Seq((1L, "low lowest"), (2L, "")).toDF("doc_id", "text")
    val got = Bpe.segmentCorpus(target, "doc_id", "text", merges, words)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: 2 tokens, 1 OOV; "low </w>" = 2 syms + "low est</w>" = 2 syms
    assert(got == Seq((1L, 2L, 1L, 4L, 2000000L), (2L, 0L, 0L, 0L, 0L)))
    // and the OOV segmentation itself, directly
    val seg = Bpe.segmentWords(Seq("lowest").toDF("w"), "w",
        merges.orderBy("merge_round").as[(Long, String, String, Long)]
          .collect().map(m => (m._2, m._3)).toSeq)
      .as[(String, String)].head()
    assert(seg == ("lowest", "low est</w>"))
  }

  test("segmentWords checkpoint cadence does not change the segmentation") {
    val ms = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"),
      ("lo", "w"))
    val words = Seq("lowest", "best", "lo").toDF("w")
    def run(every: Int) =
      Bpe.segmentWords(words, "w", ms, checkpointEvery = every)
        .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(run(1) == run(2) && run(2) == run(64))
  }

  test("BPE consistency: replaying the merge list reproduces the trained segmentation") {
    // the encode/train agreement theorem: for every TRAINING word,
    // segmentWords (apply merges in learned order) must land exactly the
    // segmentation the incremental trainer left in the vocab frame —
    // greedy application order is the only thing that makes this hold
    val docs = graft.io.Tables.documents(spark, sfDir)
    val (merges, words) = Bpe.learn(docs, "text", rounds = 6)
    val ms = merges.orderBy("merge_round")
      .as[(Long, String, String, Long)].collect().map(m => (m._2, m._3)).toSeq
    val replayed = Bpe.segmentWords(words.select($"w"), "w", ms)
      .as[(String, String)].collect().toMap
    val trained = words.select($"w", $"sym").as[(String, String)].collect().toMap
    assert(trained.nonEmpty && replayed == trained)
  }

  test("q126 fertility invariants: whole-corpus training leaves zero OOV; totals fold") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    val got = Queries10.q126TokenizerFertility(spark, sfDir).collect()
    assert(got.nonEmpty)
    // trained on the SAME corpus it scores: every word is in-vocab
    assert(got.forall(_.getAs[Long]("n_oov_tokens") == 0L))
    assert(got.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // fertility is symbols per token: >= 1 token's worth wherever text exists
    assert(got.filter(_.getAs[Long]("n_tokens") > 0L)
      .forall(_.getAs[Long]("fertility_ppm") >= 1000000L))
  }

  test("learn matches the Sennrich corpus by hand: merges, order, tiebreaks") {
    // the classic example: low x5, lower x2, newest x6, widest x3.
    // Round-1 pair counts tie at 9 for (e,s),(s,t),(t,</w>) — the binary
    // tiebreak must pick (e,s); round 6 ties at 6 for (n,e),(e,w),
    // (w,est</w>) — must pick (e,w).
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = Seq((1L, corpus.mkString(" "))).toDF("doc_id", "text")
    val (merges, words) = Bpe.learn(df, "text", rounds = 6)
    val got = merges.orderBy("merge_round")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "e", "s", 9L), (2L, "es", "t", 9L), (3L, "est", "</w>", 9L),
      (4L, "l", "o", 7L), (5L, "lo", "w", 7L), (6L, "e", "w", 6L)))
    val sym = words.as[(String, String, Long)].collect()
      .map(w => w._1 -> w._2).toMap
    assert(sym("low") == "low </w>")
    assert(sym("lower") == "low e r </w>")
    assert(sym("newest") == "n ew est</w>")
    assert(sym("widest") == "w i d est</w>")
    // q121 arithmetic on the same corpus: before 95 symbols, after 48
    val stats = Bpe.compressionStats(df, "doc_id", "text", words)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(stats == ((1L, 95L, 48L, 0L, 48L * 1000000L / 95L)))
    // OOV visibility: score a NEW doc against the trained vocab — the
    // unseen word must be counted, not silently dropped
    val fresh = Seq((9L, "low zzz lowest")).toDF("doc_id", "text")
    val f = Bpe.compressionStats(fresh, "doc_id", "text", words)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(f == ((9L, 4L, 2L, 2L, 500000L)),
      "only 'low' is in vocab (4 syms -> 2); zzz + lowest are OOV")
  }

  test("learn stops early when the corpus runs out of pairs") {
    // two single-char words: round 1 merges (a,</w>) or (b,</w>) by count,
    // rounds beyond exhaustion must not emit rows or corrupt the vocab
    val df = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val (merges, words) = Bpe.learn(df, "text", rounds = 10)
    val got = merges.orderBy("merge_round")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "</w>", 3L), (2L, "b", "</w>", 1L)),
      s"got $got")
    val sym = words.as[(String, String, Long)].collect()
      .map(w => w._1 -> w._2).toMap
    assert(sym == Map("a" -> "a</w>", "b" -> "b</w>"))
  }

  test("learn on a pairless corpus returns an empty typed merge table, not a crash") {
    // every doc blank -> no words at all; single-char... a blank corpus is
    // the degenerate floor: zero merges, zero vocab, all-zero stats
    val df = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val (merges, words) = Bpe.learn(df, "text", rounds = 3)
    assert(merges.count() == 0L && words.count() == 0L)
    assert(merges.columns.toSeq ==
      Seq("merge_round", "left_sym", "right_sym", "pair_cnt"))
    val stats = Bpe.compressionStats(df, "doc_id", "text", words)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(stats == Set((1L, 0L, 0L, 0L, 0L), (2L, 0L, 0L, 0L, 0L)))
  }

  test("q120/q121 fixture invariants: 6 rounds, non-increasing counts, exact totals") {
    val merges = SparkEntry.queries("q120_bpe_merges")(spark, sfDir)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(merges.map(_._1) == (1L to 6L), "exactly rounds 1..6")
    assert(merges.map(_._4) == merges.map(_._4).sorted.reverse,
      "a later merge can never beat an earlier round's winning count")
    assert(merges.map(m => (m._2, m._3)).distinct.size == 6,
      "the same pair cannot be learned twice")
    val stats = SparkEntry.queries("q121_bpe_compression")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(stats.length ==
      graft.io.Tables.documents(spark, sfDir).count().toInt)
    assert(stats.forall(s => s._3 <= s._2),
      "merging can only shrink the symbol count")
    assert(stats.forall(_._4 == 0L),
      "training corpus == scored corpus, so no token can be OOV")
    assert(stats.forall(s => s._2 == 0 || (s._5 > 0 && s._5 <= 1000000L)),
      "compression ppm must be in (0, 1e6] for non-empty docs")
  }

  test("the merge kernel participates in whole-stage codegen") {
    val plan = graft.io.Tables.documents(spark, sfDir)
      .select(graft.expr.BpeExprs.bpeMergePair(
        Bpe.initialSym(lower($"text")), lit("e"), lit("s")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"BPE kernel fell out of codegen:\n$plan")
  }
}
