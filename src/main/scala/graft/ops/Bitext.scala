package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.VectorExprs

/** Bitext mining — margin-based parallel-pair extraction between two
  * monolingual embedding sets (Artetxe & Schwenk 2019, the
  * LASER/CCMatrix recipe; the workhorse behind every web-mined parallel
  * corpus an MT or multilingual-LLM run trains on). A raw cosine
  * threshold over-fires in dense neighborhoods ("hubs" match everything);
  * the ratio margin divides each candidate's similarity by the mean of
  * its two endpoint neighborhoods, so only pairs that stand OUT of their
  * neighborhoods survive.
  *
  * Determinism: similarities are the engine-exact 6-dp cosine shifted to
  * the nonnegative scale `1 + cos` in micro-units (the shift keeps every
  * neighborhood sum positive, so the ratio is a well-defined integer
  * division — raw-cosine neighborhoods can sum to zero or negative on
  * synthetic vectors). With kF = |fwd top-k|, kB = |bwd top-k| (count,
  * not k — truncation-aware on small corpora):
  *
  *   margin_ppm = s_e6 · 2·kF·kB · 1e6  div  (ΣF_e6·kB + ΣB_e6·kF)
  *
  * — exactly `sim / mean(avgF, avgB)` in ppm, all BIGINT (bounded by
  * 2e6 · 2k² · 1e6 ≪ 2^63 for k ≤ 1000).
  *
  * Scale shape: THIS spelling scores the exact |src|×|tgt| grid — the
  * parity verifier for bounded inputs (the q16/q19 contract). At corpus
  * scale the identical margin arithmetic runs over banded candidates
  * (sign-RP LSH band keys on both sides — [[Similarity.rpLshNearDup]]'s
  * candidate generator — with the neighborhood sums taken over each
  * point's candidate set), which keeps the join an equi-join on band
  * keys; the ratio-margin formula is unchanged.
  */
object Bitext {

  /** Mine best-forward-match pairs with ratio margin ≥ `minMarginPpm`.
    *
    * Input: `src(srcIdCol, srcVecCol)`, `tgt(tgtIdCol, tgtVecCol)` — two
    * embedding sets (disjoint id spaces not required; sides are kept
    * apart). Output: (`src_id`, `tgt_id`, `sim_e6`, `margin_ppm`), one
    * row per src whose best tgt clears the margin. `k` sizes both
    * neighborhoods.
    */
  def marginMine(src: DataFrame, srcIdCol: String, srcVecCol: String,
      tgt: DataFrame, tgtIdCol: String, tgtVecCol: String,
      k: Int, minMarginPpm: Long): DataFrame = {
    require(k >= 1, "k must be positive")
    val s = src.select(col(srcIdCol).as("src_id"), col(srcVecCol).as("__sv"))
    val t = tgt.select(col(tgtIdCol).as("tgt_id"), col(tgtVecCol).as("__tv"))
    // one scored grid feeds the forward ranks, backward ranks and the
    // mined candidates — materialize so the cosine kernel runs once
    val pairs = s.join(t)
      .withColumn("sim", round(VectorExprs.cosine(col("__sv"), col("__tv")), 6))
      .withColumn("s_e6",
        floor(col("sim") * 1000000.0 + 0.5).cast("long") + 1000000L)
      .select(col("src_id"), col("tgt_id"), col("sim"), col("s_e6"))
      .localCheckpoint(false)
    val fw = Window.partitionBy(col("src_id"))
      .orderBy(col("s_e6").desc, col("tgt_id").asc)
    val bw = Window.partitionBy(col("tgt_id"))
      .orderBy(col("s_e6").desc, col("src_id").asc)
    val fRank = pairs.withColumn("__r", row_number().over(fw))
    val fStats = fRank.filter(col("__r") <= k)
      .groupBy(col("src_id"))
      .agg(sum(col("s_e6")).as("__fsum"), count(lit(1)).as("__kf"))
    val bStats = pairs.withColumn("__r", row_number().over(bw))
      .filter(col("__r") <= k)
      .groupBy(col("tgt_id"))
      .agg(sum(col("s_e6")).as("__bsum"), count(lit(1)).as("__kb"))
    fRank.filter(col("__r") === 1)
      .join(fStats, Seq("src_id"))
      .join(bStats, Seq("tgt_id"))
      .withColumn("margin_ppm",
        expr("""CASE WHEN __fsum * __kb + __bsum * __kf = 0 THEN 0L
                ELSE s_e6 * (2 * __kf * __kb) * 1000000L
                     div (__fsum * __kb + __bsum * __kf) END"""))
      .filter(col("margin_ppm") >= minMarginPpm)
      .select(col("src_id"), col("tgt_id"),
        (col("s_e6") - 1000000L).as("sim_e6"), col("margin_ppm"))
  }

  /** Bitext CLEANING audit over mined pairs — the rule filters every
    * mined parallel corpus passes before training (Moses/OPUS cleaning,
    * CCMatrix §4): length-ratio bounds (a 5× longer "translation" is
    * misalignment) and identical-normalized-text rejection (copy-through
    * rows teach the model to parrot). Emits the per-rule verdicts, not
    * just the survivors — the audit artifact reviewers read.
    *
    * Scale shape: two equi-joins of the mined-pair frame (bounded by
    * |src| — one best match per source) against the normalized doc
    * sides; per-row integer arithmetic after that. */
  def cleanAudit(pairs: DataFrame, srcDocs: DataFrame, srcIdCol: String,
      tgtDocs: DataFrame, tgtIdCol: String, textCol: String,
      minLenPpm: Long, maxLenPpm: Long): DataFrame = {
    require(minLenPpm >= 1 && maxLenPpm >= minLenPpm)
    def nrm(d: DataFrame, idCol: String, as: String, tas: String) =
      d.select(col(idCol).as(as),
        regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as(tas))
    pairs
      .join(nrm(srcDocs, srcIdCol, "src_id", "__st"), Seq("src_id"))
      .join(nrm(tgtDocs, tgtIdCol, "tgt_id", "__tt"), Seq("tgt_id"))
      .withColumn("len_ratio_ppm", expr(
        "CAST(length(__st) AS BIGINT) * 1000000 div " +
          "CAST(greatest(length(__tt), 1) AS BIGINT)"))
      .withColumn("len_ok",
        col("len_ratio_ppm") >= minLenPpm && col("len_ratio_ppm") <= maxLenPpm)
      .withColumn("dup_ok", col("__st") =!= col("__tt"))
      .withColumn("keep", col("len_ok") && col("dup_ok"))
      .select(col("src_id"), col("tgt_id"), col("margin_ppm"),
        col("len_ratio_ppm"), col("len_ok"), col("dup_ok"), col("keep"))
  }
}
