package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Wave 44: tf-weighted (multiset) Jaccard near-dup verification. */
class Wave44Spec extends SparkSpec {
  import spark.implicits._

  test("weighted vs set Jaccard: repetition mass is visible") {
    // docs 1/2 have IDENTICAL bigram-shingle SETS ({spam spam, spam
    // eggs}) - identical signatures, guaranteed candidates, and
    // jaccard_set = 1.0 - but different repetition mass; doc 3 is an
    // exact copy of 1. Set-Jaccard calls all three pairs identical; the
    // weighted verify separates them.
    val docs = Seq(
      (1L, "spam spam spam spam spam eggs"),
      (2L, "spam spam spam eggs"),
      (3L, "spam spam spam spam spam eggs"))
      .toDF("doc_id", "text")
    val out = Dedup.weightedJaccardPairs(docs, "doc_id", "text", 12, 4, 0L)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // exact copy: both metrics saturate
    val c = out((1L, 3L))
    assert(c._3 == 1.0 && c._4 == 6L && c._5 == 1000000L)
    // same shingle SET, different tf: set says 1.0, weighted says
    // inter = min(5,3)+min(1,1) = 4, union = 6+4-4 = 6 -> 666666 ppm
    for (p <- Seq((1L, 2L), (2L, 3L))) {
      val r = out(p)
      assert(r._3 == 1.0 && r._4 == 4L && r._5 == 666666L, r.toString)
    }
  }

  test("weightedJaccardPairs ≡ driver brute force over the candidate set") {
    val rnd = new scala.util.Random(47)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1L to 30L).map { i =>
      i -> (1 to 5 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.weightedJaccardPairs(df, "doc_id", "text", 12, 4, 0L)
      .as[(Long, Long, Double, Long, Long)].collect()
    val tf = docs.toMap.view.mapValues(
      _.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap).toMap
    for ((a, b, _, inter, ppm) <- got) {
      val (ta, tb) = (tf(a), tf(b))
      val expInter = (ta.keySet & tb.keySet).toSeq
        .map(t => math.min(ta(t), tb(t))).sum
      val union = ta.values.sum + tb.values.sum - expInter
      assert(inter == expInter, s"($a,$b)")
      assert(ppm == (if (union <= 0) 0L else expInter * 1000000L / union),
        s"($a,$b)")
    }
    assert(got.nonEmpty)
  }

  test("weightedMinHashLshPairs: reordering with repetition shifts IS a candidate") {
    // doc 2 is doc 1 reordered with the repetition moved onto another
    // token — the identical unigram MULTISET. q262's bigram-shingle
    // banding documents this as out of candidate reach (different
    // shingle sets); the expansion banding keys on the multiset, so the
    // signatures are IDENTICAL and the pair is a guaranteed candidate
    // with jaccard 1.0. Doc 3 shares the support but not the mass.
    val docs = Seq(
      (1L, "alpha alpha alpha beta gamma"),
      (2L, "gamma beta alpha alpha alpha"),
      (3L, "alpha beta beta gamma gamma"))
      .toDF("doc_id", "text")
    val out = Dedup.weightedMinHashLshPairs(docs, "doc_id", "text",
        numHashes = 12, bands = 4, threshold = 0.0, tfCap = 8)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0, out.toString)
    // (1,3): expansions {a1,a2,a3,b1,g1} vs {a1,b1,b2,g1,g2} — inter 3
    // (a1,b1,g1), union 7 -> 0.428571
    for (p <- Seq((1L, 3L), (2L, 3L)) if out.contains(p))
      assert(out(p) == 0.428571, s"$p -> ${out(p)}")
  }

  test("weightedMinHashLshPairs: tfCap saturates the repeat mass") {
    // 12 repeats vs 4 repeats: uncapped weighted Jaccard is 4/12 = 0.33,
    // but at tfCap=8 doc 1 expands to 8 shingles -> 4/8 = 0.5 exactly
    val docs = Seq(
      (1L, Seq.fill(12)("w").mkString(" ")),
      (2L, Seq.fill(4)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.weightedMinHashLshPairs(docs, "doc_id", "text",
        numHashes = 12, bands = 4, threshold = 0.0, tfCap = 8)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 0.5)), out.mkString(","))
  }

  test("weightedMinHashLshPairs: zero-token docs are not candidates") {
    val docs = Seq((1L, "   "), (2L, ""), (3L, "x y"), (4L, "x y"))
      .toDF("doc_id", "text")
    val out = Dedup.weightedMinHashLshPairs(docs, "doc_id", "text",
        numHashes = 12, bands = 4, threshold = 0.0, tfCap = 8)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((3L, 4L, 1.0)), out.mkString(","))
  }

  test("narrow (term,k) spelling equals the r16 expanded-array spelling " +
    "on the fixture (r17 task 2: same candidates, same jaccard)") {
    // threshold 0.0 keeps EVERY band-collision candidate, so the
    // equivalence covers the verify join's full domain, not just the
    // >=0.6 survivors
    val docs = graft.io.Tables.documents(spark, sfDir)
    val narrow = Dedup.weightedMinHashLshPairs(docs, "doc_id", "text",
        numHashes = 12, bands = 4, threshold = 0.0, tfCap = 8)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val array = Reference.weightedMinHashLshPairsExpanded(docs, "doc_id",
        "text", numHashes = 12, bands = 4, threshold = 0.0, tfCap = 8)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(narrow.nonEmpty && narrow == array,
      s"narrow=${narrow.size} array=${array.size}")
  }
}
