package graft

import org.apache.spark.sql.functions._

import graft.ops.Pq

/** Product-quantization semantics: codebook shape, code contract, and
  * the ADC ≡ exact identity on a lossless corpus (n = k → every vector
  * seeds its own centroid → zero quantization error). */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 4 distinct 4-dim vectors, subDim 2 → m = 2, k = 4: lossless PQ
  private lazy val vecs = Seq(
    (0L, Seq(0.1f, 0.2f, 0.9f, 0.8f)),
    (1L, Seq(0.5f, 0.4f, 0.1f, 0.2f)),
    (2L, Seq(0.9f, 0.8f, 0.5f, 0.4f)),
    (3L, Seq(0.3f, 0.7f, 0.2f, 0.6f)))
    .toDF("vec_id", "embedding")

  test("codebooks: one codebook per subspace, dloc spans the sub-dimensions") {
    val (cb, _) = Pq.train(vecs, "vec_id", "embedding", subDim = 2, k = 4, rounds = 2)
    val c = cb.collect()
    val subs = c.map(_.getLong(0)).distinct.sorted
    assert(subs.toSeq == Seq(0L, 1L))
    assert(c.map(_.getLong(2)).forall(d => d >= 0 && d < 2)) // dloc
    // every (sub, j) centroid has exactly subDim components
    val bySubJ = c.groupBy(r => (r.getLong(0), r.getLong(1)))
    assert(bySubJ.values.forall(_.length == 2))
  }

  test("one subspace when subDim >= width: sub = 0 and dloc = d (q31's k-means)") {
    // n = k and rounds = 1: the centroids are the quantized vectors
    // themselves, so each centroid read in dloc order must equal one
    // vector read in d order
    val want = vecs.as[(Long, Seq[Float])].collect()
      .map(_._2.map(x => math.floor(x * 1000.0 + 0.5).toLong)).toSet
    for (subDim <- Seq(4, Int.MaxValue)) {
      val (cb, codesDf) = Pq.train(vecs, "vec_id", "embedding", subDim, k = 4, rounds = 1)
      val c = cb.as[(Long, Long, Long, Long)].collect()
      assert(c.forall(_._1 == 0L), s"subDim $subDim: one subspace")
      val cents = c.groupBy(_._2).values
        .map(_.sortBy(_._3).map(r => r._3 -> r._4).toSeq).toSeq
      assert(cents.forall(_.map(_._1) == (0L until 4L)), "dloc = d")
      assert(cents.map(_.map(_._2)).toSet == want)
      val codes = codesDf.as[(Long, Long, Long, Long)].collect()
      assert(codes.length == 4 && codes.forall(r => r._2 == 0L && r._4 == 0L))
    }
  }

  test("encode: m codes per vector, zero distortion when n = k") {
    val (_, codesDf) = Pq.train(vecs, "vec_id", "embedding", 2, 4, 2)
    val codes = codesDf.collect()
    assert(codes.length == 4 * 2) // n · m rows
    assert(codes.forall(_.getLong(3) == 0L)) // lossless → dist2 = 0
  }

  test("ADC equals exact integer L2 on a lossless corpus") {
    val (c, codesDf) = Pq.train(vecs, "vec_id", "embedding", 2, 4, 2)
    val codes = codesDf.drop("dist2")
    val q = vecs.select($"vec_id".as("q_id"), $"embedding".as("qvec"))
    val adc = Pq.adcTopK(codes, "vec_id", c, q, "q_id", "qvec", 2, 3)
      .select($"q_id", $"rank", $"vec_id", $"adc_dist2".as("d"))
    val exact = Pq.exactTopK(vecs, "vec_id", "embedding", q, "q_id", "qvec", 3)
      .select($"q_id", $"rank", $"vec_id", $"dist2".as("d"))
    assert(adc.exceptAll(exact).isEmpty && exact.exceptAll(adc).isEmpty)
  }

  test("recallAudit: perfect recall on a lossless corpus, truncation-aware denominator") {
    val q = vecs.select($"vec_id".as("q_id"), $"embedding".as("qvec"))
    // topK = 10 > n - 1 = 3 eligible neighbors: denominator must shrink
    val out = Pq.recallAudit(vecs, "vec_id", "embedding", q, "q_id", "qvec",
        2, 4, 2, topK = 10)
      .collect()
    assert(out.length == 4)
    assert(out.forall(_.getLong(2) == 3L)) // n_exact
    assert(out.forall(_.getLong(3) == 1000000L)) // recall
  }

  test("adcTopK excludes the query's own row") {
    val (c, codesDf) = Pq.train(vecs, "vec_id", "embedding", 2, 4, 2)
    val codes = codesDf.drop("dist2")
    val q = vecs.select($"vec_id".as("q_id"), $"embedding".as("qvec"))
    val out = Pq.adcTopK(codes, "vec_id", c, q, "q_id", "qvec", 2, 10).collect()
    assert(out.forall(r => r.getLong(0) != r.getLong(2)))
  }
}
