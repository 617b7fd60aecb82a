package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expr.VectorExprs
import graft.functions.TextFns
import graft.ops.{Dedup, Merge, TopK}

/** Property-based invariants (SURVEY.md §5.2.2), driven by ScalaCheck with
  * evaluation through real Spark plans on generated data. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic generator sampling (scalatest-plus isn't on the offline
    * classpath, so we drive ScalaCheck's generators directly; each sample
    * runs a real Spark job, so keep counts modest). */
  private val params = Gen.Parameters.default.withSize(12)
  private def samples[A](g: Gen[A], n: Int = 8): Seq[A] =
    (0 until n).flatMap(i => g.apply(params, Seed(i.toLong)))

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    samples(g).foreach(f)
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    samples(Gen.zip(g1, g2)).foreach { case (a, b) => f(a, b) }
  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val vecGen: Gen[List[Float]] =
    Gen.chooseNum(2, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10f, 10f).suchThat(f => !f.isNaN)))

  test("cosine ∈ [-1, 1] and self-similarity = 1 for nonzero vectors") {
    forAll(vecGen, vecGen) { (a, b) =>
      whenever(a.nonEmpty && b.nonEmpty) {
        val df = Seq((a, b)).toDF("a", "b")
        val r = df.select(
          VectorExprs.cosine($"a", $"a").as("self"),
          when(length(lit("x")) > 0, VectorExprs.cosine($"a", lit(null).cast("array<float>"))).as("nul"))
          .head()
        if (a.exists(_ != 0f)) assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
        assert(r.isNullAt(1))
        if (a.length == b.length) {
          val sim = df.select(VectorExprs.cosine($"a", $"b")).head().getDouble(0)
          assert(sim >= -1.0 - 1e-9 && sim <= 1.0 + 1e-9)
        }
      }
    }
  }

  private val textGen: Gen[String] = for {
    words <- Gen.listOf(Gen.oneOf("alpha", "beta", "<b>", "&amp;", "x", "gamma delta"))
  } yield words.mkString(" ")

  test("htmlStrip is idempotent and leaves no complete tags") {
    forAll(textGen) { t =>
      val df = Seq(s"<p>$t</p>").toDF("t")
      val Array(once, twice) = df.select(
        TextFns.htmlStrip($"t").as("o"),
        TextFns.htmlStrip(TextFns.htmlStrip($"t")).as("tw"))
        .head().toSeq.map(_.asInstanceOf[String]).toArray
      assert(once == twice) // idempotent
      assert(!once.matches(".*<[^>]*>.*")) // no tags survive
    }
  }

  test("dedup is idempotent and never increases row count") {
    forAll(Gen.listOf(Gen.chooseNum(0, 20))) { keys =>
      whenever(keys.nonEmpty) {
        val df = keys.map(k => (s"k$k", k)).toDF("k", "v")
        val once = Merge.dedupByKey("k")(df)
        val n1 = once.count()
        assert(n1 <= keys.size && n1 == once.select("k").distinct().count())
        assert(Merge.dedupByKey("k")(once).count() == n1)
      }
    }
  }

  test("topNPerGroup keeps at most n per group, and exactly the max-score rows") {
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 100L))),
      Gen.chooseNum(1, 4)) { (rows, n) =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((g, s), i) => (s"g$g", s"id$i", s) }.toDF("grp", "id", "score")
        val kept = TopK.topNPerGroup("grp", "score", "id", n)(df)
          .as[(String, String, Long)].collect()
        val byGroup = kept.groupBy(_._1)
        assert(byGroup.values.forall(_.length <= n))
        // every kept score >= every dropped score in the same group
        val all = rows.zipWithIndex.map { case ((g, s), i) => (s"g$g", s"id$i", s) }
        byGroup.foreach { case (g, keptRows) =>
          val keptIds = keptRows.map(_._2).toSet
          val dropped = all.filter(r => r._1 == g && !keptIds.contains(r._2))
          if (dropped.nonEmpty)
            assert(keptRows.map(_._3).min >= dropped.map(_._3).max - 0)
        }
      }
    }
  }

  test("MinHash signature values are within [0, p) and length k") {
    forAll(Gen.nonEmptyListOf(Gen.oneOf("a b", "b c", "c d", "d e"))) { sh =>
      val df = Seq(sh.distinct).toDF("sh")
      val sig = df.select(Reference.minHashSig($"sh", 8)).as[Seq[Long]].head()
      assert(sig.length == 8)
      assert(sig.forall(v => v >= 0 && v < graft.functions.HashFns.MinHashP))
    }
  }

  test("connected components equal a driver-side union-find on random graphs") {
    val graphGen: Gen[(Int, List[(Long, Long)])] = for {
      n <- Gen.chooseNum(1, 24)
      m <- Gen.chooseNum(0, 30)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(1L, n.toLong), Gen.chooseNum(1L, n.toLong)))
    } yield (n, edges)
    forAll(graphGen) { case (n, edges) =>
      // reference: plain union-find
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map { v =>
        // min id of the component = fully-compressed root (roots are always
        // the minimum because union always points the larger root at the smaller)
        v.toLong -> find(v).toLong
      }.toMap
      val got = graft.ops.Components.connectedComponents(
          (1L to n.toLong).toDF("id"), "id",
          edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"n=$n edges=$edges")
    }
  }

  test("SimHashMd5 kernel equals a driver-side reference on random token lists") {
    val tokGen: Gen[List[String]] =
      Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "word", "déjà", "x1")))
    forAll(tokGen) { toks =>
      // driver-side reference: md5 first-4-bytes hash, per-bit majority vote
      val md = java.security.MessageDigest.getInstance("MD5")
      val ones = new Array[Int](32)
      toks.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        (0 until 32).foreach(j => if (((h >>> j) & 1L) != 0L) ones(j) += 1)
      }
      val expected = (0 until 32).map(j =>
        if (2 * ones(j) >= toks.size) 1L << j else 0L).sum
      val got = Seq(Tuple1(toks)).toDF("tk")
        .select(graft.expr.HashExprs.simHashMd5($"tk").as("sh"))
        .as[Long].head()
      assert(got == expected, s"tokens=$toks")
    }
  }

  test("int8 quantization bounds: |q| <= 127 and reconstruction error <= amax/254") {
    forAll(vecGen) { vec =>
      // the same expressions q74 applies, over a literal frame
      val out = Seq((1L, vec)).toDF("vec_id", "embedding")
        .select($"vec_id", transform($"embedding", x => x.cast("double")).as("x"))
        .select($"vec_id", $"x", array_max(transform($"x", a => abs(a))).as("amax"))
        .select($"x", $"amax",
          when($"amax" === 0.0, transform($"x", _ => lit(0L)))
            .otherwise(transform($"x",
              a => floor(a * (lit(127.0) / $"amax") + 0.5).cast("long"))).as("q8"))
        .as[(Seq[Double], Double, Seq[Long])].head()
      val (x, amax, q8) = out
      q8.foreach(q => assert(math.abs(q) <= 127L))
      if (amax > 0) {
        val scale = amax / 127.0
        x.zip(q8).foreach { case (orig, q) =>
          assert(math.abs(q * scale - orig) <= scale / 2 + 1e-9, s"vec=$vec")
        }
      } else assert(q8.forall(_ == 0L))
    }
  }

  test("ZInterleave is per-dimension monotone and matches a driver reference") {
    graft.ext.GraftExtensions.register(spark)
    val keyGen = Gen.zip(Gen.chooseNum(0L, (1L << 21) - 1), Gen.chooseNum(0L, (1L << 21) - 1))
    def refSpread(v: Long): Long = {
      var x = v & 0x1fffffL
      x = (x | (x << 32)) & 0x1f00000000ffffL
      x = (x | (x << 16)) & 0x1f0000ff0000ffL
      x = (x | (x << 8)) & 0x100f00f00f00f00fL
      x = (x | (x << 4)) & 0x10c30c30c30c30c3L
      x = (x | (x << 2)) & 0x1249249249249249L
      x
    }
    forAll(keyGen, keyGen) { (p, q) =>
      val df = Seq(p, q).toDF("a", "b")
        .select($"a", $"b", expr("z_interleave(a, b)").as("z"))
      val rows = df.as[(Long, Long, Long)].collect()
        .map { case (a, b, z) => ((a, b), z) }.toMap
      Seq(p, q).foreach { case (a, b) =>
        assert(rows((a, b)) == (refSpread(a) | (refSpread(b) << 1)), s"($a,$b)")
      }
      // monotone in a for fixed b (and symmetric for b): compare the pair
      // when one coordinate matches
      if (p._2 == q._2 && p._1 != q._1) {
        val (lo, hi) = if (p._1 < q._1) (p, q) else (q, p)
        assert(rows(lo) < rows(hi))
      }
    }
  }

  test("jaccard is symmetric, 1 on self, and within [0, 1]") {
    val arrGen = Gen.nonEmptyListOf(Gen.oneOf("p", "q", "r", "s", "t")).map(_.distinct)
    forAll(arrGen, arrGen) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        Reference.jaccard($"a", $"b").as("ab"),
        Reference.jaccard($"b", $"a").as("ba"),
        Reference.jaccard($"a", $"a").as("self")).head()
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == 1.0)
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
    }
  }

  test("BPE mergePair: kernel == reference fold, preserves characters, leaves no mergeable pair") {
    // a tiny alphabet with substring-related symbols (a, b, ab) forces
    // overlap runs, adjacent re-matches, and merged-token/extant-token
    // collisions — the cases where a wrong scan order shows
    val symGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "</w>")))
    val pairGen = Gen.zip(Gen.oneOf("a", "b", "ab"), Gen.oneOf("a", "b", "ab", "</w>"))
    forAll(Gen.zip(symGen, pairGen)) { case (toks, (l, r)) =>
      val sym = toks.mkString(" ")
      val df = Seq((sym, l, r)).toDF("sym", "l", "r")
      val (kernel, ref) = df.select(
          graft.expr.BpeExprs.bpeMergePair($"sym", $"l", $"r"),
          Reference.mergePairReference($"sym", $"l", $"r"))
        .as[(String, String)].head()
      assert(kernel == ref, s"sym='$sym' ($l,$r): kernel='$kernel' ref='$ref'")
      assert(kernel.replace(" ", "") == sym.replace(" ", ""),
        "a merge must never create or destroy characters")
      val out = kernel.split(" ", -1)
      assert(!out.iterator.sliding(2).withPartial(false)
          .exists(p => p.head == l && p(1) == r),
        s"greedy scan left a mergeable ($l,$r) adjacency in '$kernel'")
      val merges = toks.length - out.length
      assert(merges >= 0 && sym.length - kernel.length == merges,
        "each merge removes exactly one delimiter and one token")
    }
  }

  private val corpusDocGen: Gen[String] =
    Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ab", "cd", "abc", "dd")).map(_.mkString(" ")))

  test("spanLeakAudit equals a driver-side brute force on random corpora") {
    def spansOf(s: String, k: Int): Seq[String] = {
      val t = s.toLowerCase.trim.split("\\s+", -1).toSeq
      if (t.length < k) Seq.empty else t.sliding(k).map(_.mkString(" ")).toSeq
    }
    val k = 2
    forAll(Gen.listOfN(4, corpusDocGen), Gen.listOfN(3, corpusDocGen)) {
      (trainTexts, evalTexts) =>
        val train = trainTexts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val evalSet = evalTexts.zipWithIndex
          .map { case (t, i) => (100L + i, t) }.toDF("eval_id", "text")
        val got = graft.ops.Decontaminate
          .spanLeakAudit(train, "doc_id", evalSet, "eval_id", "text", k)
          .as[(Long, Long, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
        val trainDocsPerSpan = trainTexts.zipWithIndex
          .flatMap { case (t, i) => spansOf(t, k).map(_ -> i) }
          .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
        evalTexts.zipWithIndex.foreach { case (t, i) =>
          val ss = spansOf(t, k)
          val leaked = ss.filter(trainDocsPerSpan.contains)
          val mx = leaked.map(trainDocsPerSpan).maxOption.getOrElse(0L)
          val ppm =
            if (ss.isEmpty) 0L else leaked.size.toLong * 1000000L / ss.size
          assert(got(100L + i) ==
            ((ss.size.toLong, leaked.size.toLong, mx, ppm)),
            s"eval doc '$t' vs train $trainTexts")
        }
    }
  }

  test("BPE encode/train consistency holds on random corpora") {
    // for ANY corpus: replaying the learned merge list over the training
    // vocabulary reproduces the trainer's segmentations — the greedy
    // application order is the entire content of this theorem, so it
    // guards both the kernel and the learn loop at once
    forAll(Gen.listOfN(4, corpusDocGen)) { texts =>
      whenever(texts.exists(_.nonEmpty)) {
        val df = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val (merges, words) = graft.ops.Bpe.learn(df, "text", rounds = 4)
        val ms = merges.orderBy("merge_round")
          .as[(Long, String, String, Long)].collect().map(m => (m._2, m._3)).toSeq
        val replayed = graft.ops.Bpe.segmentWords(words.select($"w"), "w", ms)
          .as[(String, String)].collect().toMap
        val trained = words.select($"w", $"sym").as[(String, String)]
          .collect().toMap
        assert(replayed == trained, s"corpus $texts merges $ms")
      }
    }
  }

  private val sentTextGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 10)
    sents <- Gen.listOfN(n, for {
      w <- Gen.chooseNum(1, 6)
      ws <- Gen.listOfN(w, Gen.alphaLowerStr.map(_.take(4)).suchThat(_.nonEmpty))
      term <- Gen.oneOf(".", "!", "?", "")
    } yield ws.mkString(" ") + term)
  } yield sents.mkString(" ")

  test("sentenceChunks conserves every sentence exactly once, in order") {
    forAll(Gen.listOfN(4, sentTextGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.ops.Chunk.sentenceChunks(docs, "doc_id", "text", 5)
        .as[(Long, Long, String, Long, Long)].collect()
      // reassembling chunks in chunk order reproduces the sentence stream
      val rebuilt = out.groupBy(_._1).view.mapValues(
        _.sortBy(_._2).map(_._3).mkString(" ")).toMap
      for ((t, i) <- texts.zipWithIndex) {
        val expected = "[^.!?]+[.!?]*".r.findAllIn(t)
          .map(_.trim).filter(_.nonEmpty).mkString(" ")
        assert(rebuilt.getOrElse(i.toLong, "") == expected, s"doc $i: '$t'")
      }
      // token accounting: chunk token sums equal the per-sentence sums
      for ((id, rows) <- out.groupBy(_._1)) {
        val total = rows.map(_._5).sum
        val expect = "[^.!?]+[.!?]*".r.findAllIn(texts(id.toInt))
          .map(_.trim).filter(_.nonEmpty)
          .map(_.split("\\s+").length.toLong).sum
        assert(total == expect)
      }
    }
  }

  test("interleavedPacking conserves tokens and respects per-shard density") {
    val rowGen = for {
      src <- Gen.oneOf("a", "b")
      tt <- Gen.chooseNum(0L, 40L)
      ni <- Gen.chooseNum(0L, 3L)
    } yield (src, tt, ni)
    forAll(Gen.listOfN(12, rowGen)) { rows =>
      val df = rows.zipWithIndex
        .map { case ((s, tt, ni), i) => (s, i.toLong, tt, ni) }
        .toDF("source", "doc_id", "n_text_tok", "n_images")
      val out = graft.ops.Multimodal.interleavedPacking(df, "source",
          "doc_id", "n_text_tok", "n_images", imageTokens = 10, capacity = 50)
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      // conservation: no token created or lost by packing
      assert(out.map(r => r._4 + r._5).sum ==
        rows.map { case (_, tt, ni) => tt + ni * 10 }.sum)
      assert(out.map(_._3).sum == rows.length)
      // offset-division shape: pack ids start at 0 and advance by at most
      // ceil(maxCost/capacity) — an over-cap document (up to 70 tokens
      // here against capacity 50) may legitimately skip ONE id, never more
      for ((_, packs) <- out.groupBy(_._1)) {
        val ids = packs.map(_._2).sorted
        assert(ids.head == 0L &&
          ids.zip(ids.tail).forall(p => p._2 - p._1 >= 1L && p._2 - p._1 <= 2L),
          s"pack ids not offset-division-shaped: ${ids.toSeq}")
      }
    }
  }

  test("globalRankCumsum ≡ single-task scan on random frames, any partition count") {
    val rowsGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(0L, 20L))))
    forAll(Gen.zip(rowsGen, Gen.chooseNum(1, 9))) { case (rows, parts) =>
      // tiebreak on a unique index so the order is total (the op's contract)
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "i")
      val (out, tot, n) = graft.ops.Ids.globalRankCumsum(df,
        Seq($"k".asc, $"i".asc), "v", "rank", "cum", Some(parts))
      val got = out.select($"i", $"rank", $"cum")
        .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
      val want = rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
        .sortBy(t => (t._1, t._2))
        .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, c), (_, i, v)) =>
          (i, 0L, v, c + v) }
        .tail.zipWithIndex
        .map { case ((i, _, _, c), r) => (i, r + 1L, c) }
      assert(n == rows.size.toLong && tot == rows.map(_._2).sum)
      assert(got == want, s"parts=$parts rows=$rows")
    }
  }

  test("rankBuckets: buckets are monotone in the metric and ties always share") {
    val rowsGen = Gen.chooseNum(2, 50).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-9L, 9L)))
    forAll(Gen.zip(rowsGen, Gen.chooseNum(2, 6))) { case (vs, k) =>
      val df = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "i")
      val got = graft.ops.Quantiles.rankBuckets(df, Seq(("v", "q")), k)
        .select($"v", $"q").as[(Long, Long)].collect().toSeq
      val byV = got.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      assert(byV.values.forall(_.size == 1), s"ties split a bucket: $byV")
      val ordered = byV.toSeq.sortBy(_._1).map(_._2.head)
      assert(ordered.zip(ordered.tail).forall(p => p._1 <= p._2),
        s"buckets not monotone: $ordered")
      assert(got.forall(t => t._2 >= 1 && t._2 <= k))
      // exact-rank cutoff semantics: bucket of v = 1 + #cutoffs strictly below v
      val n = vs.size
      val sorted = vs.sorted
      def cum(x: Long) = sorted.count(_ <= x).toLong
      val cuts = (1 until k).map(q => sorted.find(s => cum(s) * k >= n.toLong * q).get)
      got.foreach { case (v, q) =>
        assert(q == 1 + cuts.count(c => v > c), s"v=$v q=$q cuts=$cuts") }
    }
  }

  // ------- order-statistics family ≡ driver sort-and-scan (random frames,
  // random input partitioning; zero weights, all-ties and empty edges)

  test("orderStatistics ≡ sorted-scan rank-ceil select on random frames") {
    val rowsGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-40L, 40L)))
    val psGen = Gen.nonEmptyListOf(Gen.chooseNum(1, 100))
    forAll(Gen.zip(rowsGen, psGen, Gen.chooseNum(1, 7))) { case (vs, ps, parts) =>
      val df = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "i").repartition(parts)
      val got = graft.ops.Quantiles.orderStatistics(df, "v", "i", ps)
        .select($"p", $"rank", $"v").as[(Long, Long, Long)].collect()
        .sortBy(_._1).toSeq
      val sorted = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .sortBy(identity)
      val n = vs.size.toLong
      val want = ps.distinct.sorted.map { p =>
        val rank = (p.toLong * n + 99L) / 100L
        (p.toLong, rank, sorted((rank - 1).toInt)._1)
      }
      assert(got == want, s"vs=$vs ps=$ps parts=$parts")
    }
    // empty-input edge: no rank 0 exists, so the output is empty
    val empty = Seq.empty[(Long, Long)].toDF("v", "i")
    assert(graft.ops.Quantiles.orderStatistics(empty, "v", "i", Seq(50)).count() == 0L)
  }

  test("weightedOrderStatistics ≡ weighted sorted scan, incl. zero weights and all-ties") {
    val rowsGen = Gen.chooseNum(1, 50).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(-20L, 20L), Gen.chooseNum(0L, 9L))))
    forAll(Gen.zip(rowsGen, Gen.chooseNum(1, 7))) { case (rows, parts) =>
      val ps = Seq(1, 50, 90, 100)
      val df = rows.zipWithIndex.map { case ((v, w), i) => (v, w, i.toLong) }
        .toDF("v", "w", "i").repartition(parts)
      val got = graft.ops.Quantiles.weightedOrderStatistics(df, "v", "w", "i", ps)
        .select($"p", $"target_weight", $"v")
        .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
      val sorted = rows.zipWithIndex.map { case ((v, w), i) => (v, w, i.toLong) }
        .sortBy(t => (t._1, t._3))
      val cw = sorted.map(_._2).scanLeft(0L)(_ + _).tail
      val totW = rows.map(_._2).sum
      val want = ps.map { p =>
        val tgt = (BigInt(totW) * p + 99) / 100
        val hit = sorted.zip(cw).find { case (_, c) => c >= tgt.toLong }
        (p.toLong, tgt.toLong, hit.map(_._1._1))
      }
      assert(got == want, s"rows=$rows parts=$parts")
    }
    // all-ties: every percentile reports the tied value
    val ties = Seq.fill(20)((7L, 3L)).zipWithIndex
      .map { case ((v, w), i) => (v, w, i.toLong) }.toDF("v", "w", "i")
    val t = graft.ops.Quantiles.weightedOrderStatistics(ties, "v", "w", "i",
      Seq(10, 50, 100)).select($"v").as[Long].collect().toSeq
    assert(t == Seq(7L, 7L, 7L))
  }

  test("coverageDepth ≡ descending scan to each threshold target") {
    val rowsGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 9), Gen.chooseNum(0L, 50L))))
    forAll(Gen.zip(rowsGen, Gen.chooseNum(1, 7))) { case (rows, parts) =>
      val ts = Seq(100000L, 500000L, 900000L, 1000000L)
      val df = rows.map { case (k, v) => (s"k$k", v) }
        .toDF("key", "v").repartition(parts)
      val got = graft.ops.Audit.coverageDepth(df, "key", "v", ts)
        .select($"threshold_ppm", $"entities_needed", $"value_covered")
        .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
      val per = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toSeq
        .map { case (k, v) => (s"k$k", v) }
        .sortBy { case (k, v) => (-v, k) }
      val tot = per.map(_._2).sum
      val cum = per.map(_._2).scanLeft(0L)(_ + _).tail
      val want = ts.map { t =>
        val tgt = (BigInt(tot) * t + 999999) / 1000000
        val idx = cum.indexWhere(_ >= tgt.toLong)
        if (idx < 0) (t, None, None)
        else (t, Some(idx + 1L), Some(cum(idx)))
      }
      assert(got == want, s"rows=$rows parts=$parts")
    }
  }

  test("lorenzCurve ≡ descending-rank bucket rollup with exact ppm shares") {
    val rowsGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 9), Gen.chooseNum(0L, 50L))))
    forAll(Gen.zip(rowsGen, Gen.chooseNum(1, 6), Gen.chooseNum(1, 7))) {
      case (rows, nBuckets, parts) =>
        val df = rows.map { case (k, v) => (s"k$k", v) }
          .toDF("key", "v").repartition(parts)
        val got = graft.ops.Audit.lorenzCurve(df, "key", "v", nBuckets)
          .select($"bucket", $"n_entities", $"value_sum", $"cum_value",
            $"cum_share_ppm")
          .as[(Long, Long, Long, Long, Option[Long])].collect()
          .sortBy(_._1).toSeq
        val per = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
          .map { case (k, v) => (s"k$k", v) }.sortBy { case (k, v) => (-v, k) }
        val n = per.size.toLong
        val tot = per.map(_._2).sum
        val cum = per.map(_._2).scanLeft(0L)(_ + _).tail
        val want = per.zipWithIndex
          .map { case ((_, v), i) =>
            val rank = i + 1L
            ((rank * nBuckets + n - 1L) / n, v, cum(i)) }
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (b, g) =>
            val cv = g.map(_._3).max
            val share = if (tot <= 0L) None else Some(cv * 1000000L / tot)
            (b, g.size.toLong, g.map(_._2).sum, cv, share) }
        assert(got == want, s"rows=$rows B=$nBuckets parts=$parts")
    }
  }

  test("annealSchedule ≡ per-phase brute-force floor+temperature allocation") {
    val rowsGen = Gen.chooseNum(1, 50).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 1000000L))))
    val phaseGen = Gen.listOfN(2, Gen.zip(
      Gen.chooseNum(0L, 900000L), Gen.chooseNum(0L, 5000L)))
    forAll(Gen.zip(rowsGen, phaseGen, Gen.chooseNum(1, 7))) {
      case (rows, phs, parts) =>
        val phases = phs.zipWithIndex.map { case ((fl, bud), i) =>
          graft.ops.Mixture.AnnealPhase(s"p$i", fl, bud) }
        val df = rows.toDF("s", "tok", "score").repartition(parts)
        val got = graft.ops.Mixture.annealSchedule(df, "s", col("tok"),
            col("score"), phases)
          .as[(String, String, Long, Long, Long, Long, Long)]
          .collect().sortBy(r => (r._1, r._2)).toSeq
        val want = phases.flatMap { p =>
          val el = rows.filter(_._3 >= p.floorPpm)
          val cells = el.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, g) =>
            (s, g.size.toLong, g.map(_._2).sum) }
          val mass = cells.map { case (_, _, t) =>
            math.floor(math.sqrt(t.toDouble) * 1e6 + 0.5).toLong }
          val tot = mass.sum
          cells.zip(mass).map { case ((s, nd, nt), m) =>
            val alloc = if (tot == 0L) 0L
              else (BigInt(p.budgetTokens) * m / tot).toLong
            val ep = if (nt > 0) alloc * 1000000L / nt else 0L
            (p.name, s, nd, nt, m, alloc, ep) }
        }.sortBy(r => (r._1, r._2))
        assert(got == want, s"parts=$parts rows=$rows phases=$phases")
    }
  }

  test("lengthBandReweight ≡ driver band rollup with exact integer shares") {
    val rowsGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 5000L)))
    val tgtGen = Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 12L),
      Gen.chooseNum(0L, 1000000L)))
    forAll(Gen.zip(rowsGen, tgtGen, Gen.chooseNum(1, 7))) {
      case (lens, tgt, parts) =>
        val df = lens.toDF("n").repartition(parts)
        val got = graft.ops.Mixture.lengthBandReweight(df, col("n"), tgt)
          .as[(Long, Long, Long, Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
        def band(v: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(v)
        val total = lens.sum
        val want = lens.groupBy(band).toSeq.sortBy(_._1).map { case (b, g) =>
          val nt = g.sum
          val nat = if (total <= 0L) 0L else nt * 1000000L / total
          val tp = tgt.getOrElse(b, 0L)
          val w = if (nat > 0L) tp * 1000000L / nat else 0L
          (b, g.size.toLong, nt, nat, tp, w) }
        assert(got == want, s"parts=$parts lens=$lens tgt=$tgt")
    }
  }

  test("groundednessAudit ≡ driver set-membership reference on random frames") {
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val textGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val caseGen = for {
      nq <- Gen.chooseNum(1, 5)
      answers <- Gen.listOfN(nq, textGen)
      ctx <- Gen.listOfN(nq * 2, Gen.zip(Gen.chooseNum(1, nq),
        Gen.chooseNum(1, 9), textGen))
    } yield (answers.zipWithIndex.map { case (a, i) => (i + 1L, a) },
      ctx.map { case (q, d, t) => (q.toLong, d.toLong, t) })
    forAll(Gen.zip(caseGen, Gen.chooseNum(1, 5))) { case ((ans, ctx), parts) =>
      val n = 3
      def spans(t: String): Seq[String] = {
        val toks = t.trim.toLowerCase.split("\\s+").toSeq.filterNot(_ == "")
        // wordSpans contract: < n tokens -> no spans (positional, then set)
        if (toks.size < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      }
      val got = graft.ops.Rag.groundednessAudit(
          ans.toDF("q_id", "answer").repartition(parts),
          "q_id", "answer",
          ctx.toDF("q_id", "doc_id", "text").repartition(parts),
          "doc_id", "text", n)
        .as[(Long, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      val want = ans.map { case (q, a) =>
        val asp = spans(a)
        val docSpans = ctx.filter(_._1 == q)
          .groupBy(_._2).map { case (d, rows) =>
            d -> rows.flatMap(r => spans(r._3)).toSet }
        val perDoc = docSpans.map { case (d, ds) =>
          d -> asp.count(ds.contains) }.filter(_._2 > 0)
        val supported = asp.count(s => docSpans.values.exists(_.contains(s)))
        val (topDoc, topHits) =
          if (perDoc.isEmpty) (-1L, 0L)
          else { val m = perDoc.toSeq.sortBy(p => (-p._2, p._1)).head
            (m._1, m._2.toLong) }
        (q, asp.size.toLong, supported.toLong,
          if (asp.nonEmpty) (asp.size - supported).toLong * 1000000L / asp.size
          else 0L,
          topDoc,
          if (supported > 0) topHits * 1000000L / supported else 0L)
      }.sortBy(_._1)
      assert(got == want, s"parts=$parts ans=$ans ctx=$ctx")
    }
  }
}
