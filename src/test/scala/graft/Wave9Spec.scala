package graft

import org.apache.spark.sql.functions._

import graft.ops.{Classify, Dedup, Mixture}

/** Ninth-wave semantics: linear quality classification, per-group
  * probabilistic capping, and paragraph-level first-occurrence dedup. */
class Wave9Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ classifier
  test("qualityLogit: features and logit match a hand computation") {
    // "the cat! 42" → 3 tokens? no: "the", "cat!", "42" = 3 words, 1 stop hit
    val df = Seq((1L, "src", "the cat! 42")).toDF("doc_id", "source", "text")
    val r = Reference.qualityLogit(df, "doc_id", "text", Seq("source"))
      .collect().head
    val nChars = 11L; val punct = 1L; val digit = 2L
    val stopPpm = 1L * 1000000L / 3L
    val punctPpm = punct * 1000000L / nChars
    val digitPpm = digit * 1000000L / nChars
    val M = Classify.Distilled
    val logit = M.bias + M.wStopPpm * stopPpm + M.wPunctPpm * punctPpm +
      M.wDigitPpm * digitPpm + M.wWordCap * 3L
    assert(r.getAs[Long]("n_words") == 3L)
    assert(r.getAs[Long]("stop_ppm") == stopPpm)
    assert(r.getAs[Long]("punct_ppm") == punctPpm)
    assert(r.getAs[Long]("digit_ppm") == digitPpm)
    assert(r.getAs[Long]("logit_e6") == logit)
    assert(r.getAs[Boolean]("keep") == (logit > 0))
  }

  test("qualityLogit: stopword-rich prose scores above digit/punct soup") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a good day for the cat to be here"),
      (2L, "x9$!@ 77#% 123!! &&** 00-%% 4#2@1 9!9!9")).toDF("doc_id", "text")
    val out = Reference.qualityLogit(df, "doc_id", "text")
      .select($"doc_id", $"logit_e6").as[(Long, Long)].collect().toMap
    assert(out(1L) > out(2L))
    assert(out(1L) > 0L && out(2L) < 0L)
  }

  // ------------------------------------------------------------ group cap
  test("groupCap: under-cap groups survive whole, over-cap groups thin to ~cap") {
    val small = (1L to 50L).map(i => ("small", i))
    val big = (1000L to 11000L).map(i => ("big", i))
    val df = (small ++ big).toDF("grp", "id")
    val out = Mixture.groupCap(df, "grp", "id", cap = 100L)
      .groupBy($"grp").agg(
        count(lit(1)).as("n"),
        sum(when($"keep", 1L).otherwise(0L)).as("kept"))
      .as[(String, Long, Long)].collect()
      .map { case (k, n, c) => (k, (n, c)) }.toMap
    assert(out("small") == ((50L, 50L)))            // n <= cap: all kept
    val (bigN, bigKept) = out("big")
    assert(bigN == 10001L)
    // expected kept ≈ cap; binomial(10001, ~0.01) — allow wide slack
    assert(bigKept > 50L && bigKept < 200L, s"kept $bigKept not near cap 100")
  }

  test("groupCap: keep decision is per-row deterministic (rerun-stable)") {
    val df = (1L to 500L).map(i => ("g", i)).toDF("grp", "id")
    def run() = Mixture.groupCap(df, "grp", "id", cap = 50L)
      .filter($"keep").select($"id").as[Long].collect().sorted.toSeq
    assert(run() == run())
  }

  test("groupCap: NULL group key is a real stratum, not silently dropped") {
    // rows with no domain must survive as their own group — an equi-join
    // back to the counts would drop every NULL-key row
    val df = Seq((Some("g"), 1L), (None, 2L), (None, 3L))
      .toDF("grp", "id")
    val out = Mixture.groupCap(df, "grp", "id", cap = 100L)
    assert(out.count() == 3L, "NULL-group rows vanished through the join")
    val nullRows = out.filter($"grp".isNull)
      .select($"grp_n", $"keep").as[(Long, Boolean)].collect()
    assert(nullRows.length == 2 && nullRows.forall(_ == ((2L, true))),
      nullRows.mkString(","))
  }

  // ------------------------------------------------------------ heaps fit
  test("heapsFit: growing vocabulary fits 0 < beta < 1; saturated vocab fits beta 0") {
    // one fresh word per doc while doc length grows linearly: V(c) ~ c,
    // N(c) ~ c² → beta ≈ 0.5, the classic sublinear regime
    val grow = (1L to 20L).map { i =>
      (i, (Seq.fill(i.toInt)("stem") :+ s"fresh$i").mkString(" "))
    }.toDF("doc_id", "text")
    val g = graft.ops.Vocab.heapsFit(grow, "doc_id", "text", points = 5)
      .as[(Long, Double, Double)].collect().head
    assert(g._1 == 5L)
    assert(g._2 > 0.2 && g._2 < 0.9, s"beta ${g._2}")
    // fixed template vocabulary → flat curve, beta ~ 0
    val flat = (1L to 20L).map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
    val f = graft.ops.Vocab.heapsFit(flat, "doc_id", "text", points = 5)
      .as[(Long, Double, Double)].collect().head
    assert(math.abs(f._2) < 1e-9, s"beta ${f._2}")
  }

  // ------------------------------------------------------------ paragraph dedup
  test("paragraphDedupFirst: keeps first corpus occurrence only, empty lines pass") {
    val df = Seq(
      (1L, "alpha\nbeta\n\ngamma"),
      (2L, "beta\ndelta\nalpha"),
      (3L, "beta\nbeta")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupFirst(df, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, String)].collect()
    // doc1: all lines first occurrences (incl. the empty line) → unchanged
    assert(out(0) == ((1L, 4L, 4L, 0L, "alpha\nbeta\n\ngamma")))
    // doc2: beta and alpha already seen in doc1 → only delta survives
    assert(out(1) == ((2L, 3L, 1L, 2L, "delta")))
    // doc3: both betas are repeats (first occurrence was doc1:2) → empty
    assert(out(2) == ((3L, 2L, 0L, 2L, "")))
  }

  test("paragraphDedupFirst: within-doc repeats keep only the earliest") {
    val df = Seq((7L, "x\ny\nx\nx")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupFirst(df, "doc_id", "text")
      .as[(Long, Long, Long, Long, String)].collect().head
    assert(out == ((7L, 4L, 2L, 2L, "x\ny")))
  }

  // ------------------------------------------------------------ DSIR
  test("importanceWeights: target-like docs outscore off-target docs") {
    // target rows share bigram vocabulary; raw rows use disjoint tokens —
    // a raw doc written in target language must outweigh one that isn't
    val df = Seq(
      (1L, true, "good clean prose flows here"),
      (2L, true, "good clean prose reads well"),
      (3L, false, "good clean prose flows here"), // target-like raw doc
      (4L, false, "zzz qqq xxx vvv kkk"),
      (5L, false, "zzz qqq xxx vvv kkk")).toDF("doc_id", "t", "text")
    val w = graft.ops.Dsir.importanceWeights(df, "doc_id", "text", $"t")
      .select($"doc_id", $"weight").as[(Long, Double)].collect().toMap
    assert(w(3L) > w(4L))
    assert(w(3L) > 0.0 && w(4L) < 0.0)
  }

  test("importanceWeights: short docs get weight 0 and survive the left join") {
    val df = Seq((1L, true, "one two three"), (2L, false, "single")).toDF("doc_id", "t", "text")
    val out = graft.ops.Dsir.importanceWeights(df, "doc_id", "text", $"t")
    val r = out.filter($"doc_id" === 2L)
      .select($"n_bigrams", $"weight").as[(Long, Double)].collect().head
    assert(r == ((0L, 0.0)))
  }

  test("paragraphDedupFirst: total line mass is conserved") {
    val df = Seq(
      (1L, "a\nb\nc"), (2L, "b\nc\nd"), (3L, "\n\n"), (4L, "a")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupFirst(df, "doc_id", "text")
    val sums = out.agg(sum($"n_lines"), sum($"n_kept") + sum($"n_removed"))
      .as[(Long, Long)].collect().head
    assert(sums._1 == sums._2)
  }

  // --------------------------------------------------- semantic dedup
  test("semanticDedup: exactly one centroid-nearest keeper per bucket, rerun-stable") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val planes = graft.expr.VectorExprs.rademacherPlanes(8, 64, 42L)
    def run() = graft.ops.Similarity
      .semanticDedup(emb, "vec_id", "embedding", planes, 8)
    val out = run().collect()
    assert(out.length == emb.count(), "every vector must get a verdict")
    // exactly one keeper per bucket, and it attains the bucket-min distance
    val byBucket = out.groupBy(_.getAs[Long]("bucket"))
    byBucket.foreach { case (b, rows) =>
      val keepers = rows.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length == 1, s"bucket $b has ${keepers.length} keepers")
      val minD = rows.map(_.getAs[Long]("dist2")).min
      assert(keepers.head.getAs[Long]("dist2") == minD,
        s"bucket $b keeper is not centroid-nearest")
      assert(rows.forall(_.getAs[Long]("n_members") == rows.length.toLong))
    }
    // hash-partition determinism: a rerun reproduces the identical verdict
    val again = run().collect().map(r => (r.getLong(0), r.getAs[Boolean]("keep"))).toMap
    assert(out.forall(r => again(r.getLong(0)) == r.getAs[Boolean]("keep")))
  }

  test("semanticDedup plan: no pairwise join; broadcast pinned only under the static small bound") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val planes = graft.expr.VectorExprs.rademacherPlanes(8, 64, 42L)
    val p = graft.ops.Similarity.semanticDedup(emb, "vec_id", "embedding", planes, 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"semantic dedup must never build a pairwise or shuffled join:\n$p")
    // 2^8 buckets · 64 dims = 16k rows ≤ smallAggRowCap ⇒ hints pinned
    assert(p.contains("BroadcastHashJoin"),
      s"small bucket aggregates must come back as broadcasts:\n$p")
    // past the cap (2^26 · 64 ≫ smallAggRowCap) the hints must vanish: a
    // forced broadcast of a linear-in-n aggregate is a guaranteed driver
    // OOM at deploy scale. The (bucket, d)-keyed joins co-partition
    // instead (e and s derive from the same exploded frame), and AQE may
    // still choose a runtime broadcast if the aggregate is actually tiny.
    val planes26 = graft.expr.VectorExprs.rademacherPlanes(26, 64, 42L)
    val big = graft.ops.Similarity.semanticDedup(
      emb, "vec_id", "embedding", planes26, 26)
    assert(!big.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "bucket aggregates past the small bound must not carry broadcast hints")
    val pb = big.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!pb.contains("CartesianProduct"),
      s"unhinted semantic dedup must still never go pairwise:\n$pb")
  }

  test("embeddingDispersion: closed form equals the brute-force pairwise sum") {
    // Σ_{i≠j} ||x_i − x_j||² = 2nΣ||x||² − 2||Σx||² — verify the identity
    // against an actual O(n²) pairwise computation on a small slice
    val emb = graft.io.Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < 100).select($"label", $"vec_id", $"embedding")
    val out = graft.ops.Similarity.embeddingDispersion(emb, "label", "embedding")
      .collect().map(r => r.get(0).toString ->
        (r.getAs[Long]("n"), r.getAs[Long]("pair_dist2_sum"))).toMap
    val rows = emb.collect().map(r => (r.get(0).toString,
      r.getSeq[Float](2).map(x => math.floor(x * 1000.0 + 0.5).toLong).toArray))
    rows.groupBy(_._1).foreach { case (label, vs) =>
      val brute = (for {
        (_, a) <- vs; (_, b) <- vs
      } yield a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum).sum
      assert(out(label) == ((vs.length.toLong, brute)),
        s"label $label: closed form ${out(label)} vs brute ($brute)")
    }
    // and singleton groups report zero mean without dividing by zero
    val single = graft.ops.Similarity.embeddingDispersion(
      emb.limit(1), "label", "embedding").head()
    assert(single.getAs[Long]("n") == 1L && single.getAs[Long]("mean_dist2_e6") == 0L)
  }

  test("embeddingDispersion fails loudly on ragged vector widths") {
    // the closed-form identity silently breaks if vectors in a group have
    // different widths — the op must raise, not return a wrong statistic
    val ragged = Seq(("g", Seq(1.0f, 2.0f)), ("g", Seq(1.0f)))
      .toDF("label", "embedding")
    val ex = intercept[Exception] {
      graft.ops.Similarity.embeddingDispersion(ragged, "label", "embedding")
        .collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("ragged vector widths"))),
      s"expected the ragged-width raise, got: $ex")
  }

  test("q117 report composes q115 and q116 exactly; survivors = one per bucket") {
    val rep = SparkEntry.queries("q117_semantic_thinning_report")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("pair_dist2_sum"))).toMap
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val verdict = SparkEntry.queries("q115_semantic_dedup")(spark, sfDir)
    val nBuckets = verdict.select($"bucket").distinct().count()
    assert(rep("before")._1 == emb.count())
    assert(rep("after")._1 == nBuckets, "one survivor per bucket")
    // the 'after' numbers must equal running dispersion over the q115
    // survivors independently
    val keptIds = verdict.filter($"keep").select($"vec_id")
    val after = graft.ops.Similarity.embeddingDispersion(
        emb.join(keptIds, Seq("vec_id"), "left_semi")
          .select(lit("after").as("phase"), $"embedding"),
        "phase", "embedding").head()
    assert((after.getAs[Long]("n"), after.getAs[Long]("pair_dist2_sum")) ==
      rep("after"))
  }

  test("qualityLogitFused is row-identical to the aggregate spelling") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    val agg = Reference.qualityLogit(docs, "doc_id", "text", Seq("source"))
    val fused = Classify.qualityLogitFused(docs, "doc_id", "text", Seq("source"))
    assert(agg.exceptAll(fused).isEmpty && fused.exceptAll(agg).isEmpty,
      "classifier kernel diverged from the aggregate reference")
    // edge cases: empty text (one '' token), punct/digit-only, astral
    val edge = Seq((1L, ""), (2L, "!!! 123"), (3L, "the 😀 the"),
      (4L, "  the  a  ")).toDF("doc_id", "text")
    val ea = Reference.qualityLogit(edge, "doc_id", "text")
    val ef = Classify.qualityLogitFused(edge, "doc_id", "text")
    assert(ea.exceptAll(ef).isEmpty && ef.exceptAll(ea).isEmpty)
    // and the fused plan is a pure projection
    val p = fused.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"doc-local features must not shuffle:\n$p")
  }

  test("q118 agreement cells partition each source's documents") {
    val rows = SparkEntry.queries("q118_filter_agreement")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cells = Seq("both_keep", "cls_only", "gate_only", "both_drop")
        .map(r.getAs[Long])
      assert(cells.sum == r.getAs[Long]("n_docs"),
        s"cells ${cells} do not partition n_docs=${r.getAs[Long]("n_docs")}")
      assert(cells.forall(_ >= 0L))
    }
  }

  // --------------------------------------------------- selection capstone
  test("q113: one documents scan (shared checkpoint) and pre-tokenized " +
      "branches match the derive-from-text spelling") {
    // the capstone materializes one tokenized projection and branches the
    // classifier / gate / DSIR off it; its executed plan must contain NO
    // parquet file scan (the single scan runs inside the checkpoint)
    val out = SparkEntry.queries("q113_selection_capstone")(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      "q113 plan re-scans parquet outside the shared checkpoint")

    // pre-tokenized variants are value-identical to the in-op tokenization
    val docs = graft.io.Tables.documents(spark, sfDir).limit(50)
    val base = docs.select($"doc_id", $"source", $"text",
      split(lower(trim($"text")), "\\s+").as("toks"),
      graft.expr.TextExprs.wordSpans($"text", 2).as("spans"))
    val clsA = Reference.qualityLogit(docs, "doc_id", "text")
      .select($"doc_id", $"logit_e6")
    val clsB = Reference.qualityLogit(base, "doc_id", "text",
        toksCol = Some("toks"))
      .select($"doc_id", $"logit_e6")
    assert(clsA.exceptAll(clsB).isEmpty && clsB.exceptAll(clsA).isEmpty)
    val sigA = Reference.repetitionSignals(docs, "doc_id", "text")
    val sigB = Reference.repetitionSignals(base, "doc_id", "text",
      spansCol = Some("spans"))
    assert(sigA.exceptAll(sigB).isEmpty && sigB.exceptAll(sigA).isEmpty)
    val wA = graft.ops.Dsir.importanceWeights(docs, "doc_id", "text",
        isTarget = $"source" === "src0")
      .select($"doc_id", $"n_bigrams", round($"weight", 6))
    val wB = graft.ops.Dsir.importanceWeights(base, "doc_id", "text",
        isTarget = $"source" === "src0", spansCol = Some("spans"))
      .select($"doc_id", $"n_bigrams", round($"weight", 6))
    assert(wA.exceptAll(wB).isEmpty && wB.exceptAll(wA).isEmpty)
  }
}
