package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Model-based document quality classification — the "trained filter" stage
  * of a pretraining-data pipeline (the fasttext-style quality classifiers of
  * GPT-3 §A / CCNet §4.3), distilled to a linear model over cheap lexical
  * features so scoring is a pure map-side projection. Complements
  * [[graft.functions.TextFns.qualityScoreMicro]] (a hand-tuned rule): here
  * the shape is weights × feature vector, the thing you'd re-fit offline and
  * redeploy without touching the plan.
  *
  * All features and the logit are exact integer micro-units (ppm ratios,
  * integer division), so the score is bit-identical in any engine — no
  * float-boundary ambiguity in the keep/drop decision.
  *
  * Scale shape: one map-side projection per document — a fused feature
  * kernel and a codegen'd logit, no shuffle.
  */
object Classify {

  /** Linear quality model: integer weights applied to ppm-scaled features.
    * `bias` and the weighted sum are in logit micro-units (1e-6). */
  final case class LinearModel(
      bias: Long,
      wStopPpm: Long,
      wPunctPpm: Long,
      wDigitPpm: Long,
      wWordCap: Long,
      wordCap: Int)

  /** Default weights, distilled offline from the hand rule: reward stopword
    * mass and length, penalize punctuation and digit density. The bias puts
    * the keep frontier near the median of ordinary prose (≈50 words, ≈6%
    * stopword mass scores just above zero), so both verdicts occur on real
    * corpora rather than the model degenerating to keep-all/drop-all. */
  val Distilled: LinearModel = LinearModel(
    bias = -200000L, wStopPpm = 2L, wPunctPpm = -3L, wDigitPpm = -4L,
    wWordCap = 1500L, wordCap = 400)

  /** Per-document features + logit + keep verdict under `model`, as a
    * MAP-SIDE projection — the five lexical features from ONE fused kernel
    * pass per document ([[graft.expr.ClassifyKernels.features]]),
    * value-identical to the explode+aggregate spelling (Wave9Spec pins row
    * identity against it) with ZERO shuffles: the features are doc-local,
    * so the aggregate spelling's exchange and per-token explode buy
    * nothing. Pure projection, so it also composes into streaming with no
    * watermark constraints.
    *
    * Output: the id and carry columns, `n_words`, `stop_ppm`, `punct_ppm`,
    * `digit_ppm`, `logit_e6`, `keep` (logit > 0). */
  def qualityLogitFused(df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil,
      model: LinearModel = Distilled): DataFrame = {
    val f = graft.expr.TextExprs.classifyFeatures(col(textCol), TextFns.Stopwords)
    df.select((col(idCol) +: carryCols.map(col)) :+ f.as("__f"): _*)
      .select(
        (col(idCol) +: carryCols.map(col)) ++ Seq(
          col("__f").getItem(3).as("n_words"),
          expr("__f[4] * 1000000 DIV __f[3]").as("stop_ppm"),
          expr("__f[1] * 1000000 DIV greatest(__f[0], 1L)").as("punct_ppm"),
          expr("__f[2] * 1000000 DIV greatest(__f[0], 1L)").as("digit_ppm")): _*)
      .withColumn("logit_e6",
        lit(model.bias)
          + lit(model.wStopPpm) * col("stop_ppm")
          + lit(model.wPunctPpm) * col("punct_ppm")
          + lit(model.wDigitPpm) * col("digit_ppm")
          + lit(model.wWordCap) * least(col("n_words"), lit(model.wordCap.toLong)))
      .withColumn("keep", col("logit_e6") > 0L)
  }
}
