package graft

import graft.ops.Unigram

/** Unigram-LM Viterbi segmentation: vocabulary construction and the
  * lexicographic (fewest-pieces, highest-score, earliest-split) DP. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("pieceVocab: singles always present, top-N grams by weighted count") {
    val words = Seq(("ab", 2L), ("abc", 1L)).toDF("word", "cnt")
    val v = Unigram.pieceVocab(words, "word", "cnt", nBigrams = 1, nTrigrams = 1)
      .as[(String, Long)].collect().toMap
    // singles weighted by word count: a/b in "ab"(2) and "abc"(1)
    assert(v == Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "ab" -> 3L, "abc" -> 1L))
  }

  test("pieceVocab: top-N tie breaks on the piece string") {
    val words = Seq(("ab", 1L), ("cd", 1L)).toDF("word", "cnt")
    val v = Unigram.pieceVocab(words, "word", "cnt", nBigrams = 1, nTrigrams = 0)
      .as[(String, Long)].collect().toMap
    // ab and cd both score 1 -> "ab" wins the single bigram slot
    assert(v.contains("ab") && !v.contains("cd"))
  }

  test("viterbiSegment: fewest pieces, then highest score") {
    val vocab = Seq(("a", 5L), ("b", 4L), ("ab", 3L), ("ba", 2L))
      .toDF("piece", "score")
    val words = Seq("aba", "abab", "b").toDF("w")
    val out = Reference.viterbiSegment(words, "w", vocab, maxLen = 12)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // [ab, a] (score 8) beats [a, ba] (7) at the same piece count
    assert(out("aba") == (("aba", 2L, 8L, "ab a")))
    assert(out("abab") == (("abab", 2L, 6L, "ab ab")))
    assert(out("b") == (("b", 1L, 4L, "b")))
  }

  test("viterbiSegment: cost ties break on the earliest split point") {
    val vocab = Seq(("a", 3L), ("aa", 3L)).toDF("piece", "score")
    val out = Reference.viterbiSegment(Seq("aaa").toDF("w"), "w", vocab, 12)
      .as[(String, Long, Long, String)].collect()
    // [a, aa] and [aa, a] tie at 2 pieces / score 6; bj ASC picks the
    // longer FINAL piece -> "a aa"
    assert(out.toSeq == Seq(("aaa", 2L, 6L, "a aa")))
  }

  test("viterbiSegment: out-of-vocab chars and over-length words drop") {
    val vocab = Seq(("a", 1L)).toDF("piece", "score")
    val words = Seq("axa", "a", "aaaaaaaaaaaaa").toDF("w") // 13 a's > maxLen 12
    val out = Reference.viterbiSegment(words, "w", vocab, 12)
      .as[(String, Long, Long, String)].collect()
    assert(out.toSeq == Seq(("a", 1L, 1L, "a")))
  }

  test("viterbiSegment ≡ brute-force enumeration on random words") {
    val rnd = new scala.util.Random(7)
    val pieces = Map("a" -> 9L, "b" -> 7L, "c" -> 5L, "ab" -> 8L,
      "bc" -> 6L, "ca" -> 4L, "abc" -> 10L, "cab" -> 3L)
    val vocab = pieces.toSeq.toDF("piece", "score")
    val words = Seq.fill(40)((1 to (1 + rnd.nextInt(8)))
      .map(_ => "abc" (rnd.nextInt(3))).mkString).distinct
    // brute force: all decompositions into pieces of length 1..3
    def segs(w: String): Seq[List[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(3, w.length)).flatMap { l =>
        val p = w.take(l)
        if (pieces.contains(p)) segs(w.drop(l)).map(p :: _) else Nil
      }
    val expect = words.flatMap { w =>
      val all = segs(w)
      if (all.isEmpty) None
      else {
        // lexicographic objective; the DP's bj-ASC tiebreak = prefer the
        // LONGEST final piece, recursively toward the front. Mirror: among
        // equal-cost segs, minimize the reversed length sequence mapped
        // through (4 - len) — single digits, so string lex order works.
        val best = all.minBy { s =>
          (s.length.toLong * Unigram.Scale - s.map(pieces).sum,
            s.reverse.map(p => 4 - p.length).mkString)
        }
        Some(w -> ((best.length.toLong, best.map(pieces).sum, best.mkString(" "))))
      }
    }.toMap
    val got = Reference.viterbiSegment(words.toDF("w"), "w", vocab, 12)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == expect.keySet)
    for ((w, e) <- expect) assert(got(w) == e, s"word $w")
    // the fused single-job spelling is bitwise-identical to the generic
    // round-frame spelling — including OOV drops and length cutoffs
    val fused = Unigram.viterbiSegmentFused(words.toDF("w"), "w", pieces, 12)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(fused == got)
  }

  test("viterbiSegmentFused: OOV and over-length words drop identically") {
    val vocab = Map("a" -> 1L)
    val words = Seq("axa", "a", "aaaaaaaaaaaaa").toDF("w")
    val out = Unigram.viterbiSegmentFused(words, "w", vocab, 12)
      .as[(String, Long, Long, String)].collect()
    assert(out.toSeq == Seq(("a", 1L, 1L, "a")))
  }
}
