package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WITHIN-document repetition signals — the Gopher quality rules (Rae et
  * al. 2021, appendix A1.1) that reject machine-generated and boilerplate-
  * heavy text by measuring how much a document repeats ITSELF. The
  * cross-document siblings live elsewhere: [[Scrub.stripBoilerplateLines]]
  * (lines repeated across docs) and [[Vocab.repeatedSpans]] (spans shared
  * across docs); these signals need no second document and therefore no
  * corpus-wide state.
  *
  * All three signals are integer ppm (floor), per the oracle determinism
  * convention — no floats anywhere.
  *
  * Scale shape: the signals are one fused kernel call per document, a
  * map-side projection with no shuffle (no corpus-global hot keys, unlike
  * the cross-doc ops which key by the span itself). Everything scales
  * with documents, embarrassingly.
  */
object Repetition {

  /** Per-document repetition signals over `textCol`, as a MAP-SIDE
    * projection — one fused kernel call per document
    * ([[graft.expr.RepetitionKernels.signals]]):
    *
    *  - `dup_line_ppm`: duplicated lines / lines (a line is duplicated if
    *    an identical line occurred earlier in the SAME doc; ppm of line
    *    count beyond first occurrences).
    *  - `dup_line_char_ppm`: characters in those beyond-first-occurrence
    *    lines / total line characters (0 when the doc has no characters).
    *  - `top_bigram_ppm`: characters covered by the most frequent word
    *    2-gram (count × its length, over the normalized doc length; ties
    *    broken to the lexicographically smallest bigram; 0 for docs with
    *    fewer than two tokens). Overlapping occurrences are counted per
    *    occurrence — as in the published rule — so heavily degenerate docs
    *    can exceed 1e6; thresholds compare, they don't normalize.
    *
    * Tokenization matches the span family ([[Vocab.repeatedSpans]], q93):
    * lowercase, space-trim, split on `\s+`. Value-identical to the
    * aggregate spelling `Reference.repetitionSignals` (RepetitionSpec pins
    * the row identity on the fixture corpus) with ZERO shuffles: the
    * signals are doc-local, so that spelling's two exchanges (distinct
    * (doc, line) and (doc, span) pairs, carrying line/span TEXT) buy
    * nothing but codegen'd combining that the kernel does in-row. Being
    * pure projection it also composes into Structured Streaming pipelines
    * with no watermark or output-mode constraints. */
  def repetitionSignalsFused(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.expr.TextExprs.repetitionStats(col(textCol)).as("__r"))
      .select(col(idCol),
        col("__r").getItem(0).as("dup_line_ppm"),
        col("__r").getItem(1).as("dup_line_char_ppm"),
        col("__r").getItem(2).as("top_bigram_ppm"))

  /** Per-document gate verdict: [[repetitionSignalsFused]] plus a
    * `gate_pass` boolean (the published rule is a conjunction of
    * acceptances — a doc fails if ANY signal exceeds its threshold). The
    * per-doc form the APPLY step consumes ([[Decontaminate.applyVerdicts]],
    * q106); [[repetitionGate]] (q102) is its per-source rollup. */
  def gateVerdictsFused(df: DataFrame, idCol: String, textCol: String,
      maxDupLinePpm: Long, maxDupLineCharPpm: Long,
      maxTopBigramPpm: Long): DataFrame =
    repetitionSignalsFused(df, idCol, textCol).withColumn("gate_pass",
      col("dup_line_ppm") <= maxDupLinePpm &&
        col("dup_line_char_ppm") <= maxDupLineCharPpm &&
        col("top_bigram_ppm") <= maxTopBigramPpm)

  /** Gopher-style repetition GATE: apply rejection thresholds to
    * [[repetitionSignalsFused]] and roll pass/fail rates up by `byCol` — the
    * per-source acceptance report a filtering run publishes. A document
    * fails if ANY signal exceeds its threshold (the published rule is a
    * conjunction of acceptances). Thresholds are in ppm. */
  def repetitionGate(df: DataFrame, idCol: String, textCol: String,
      byCol: String, maxDupLinePpm: Long, maxDupLineCharPpm: Long,
      maxTopBigramPpm: Long): DataFrame = {
    val sig = repetitionSignalsFused(df, idCol, textCol)
    df.select(col(idCol), col(byCol))
      .join(sig, Seq(idCol))
      .groupBy(col(byCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dup_line_ppm") > maxDupLinePpm, 1L).otherwise(0L))
          .as("fail_dup_line"),
        sum(when(col("dup_line_char_ppm") > maxDupLineCharPpm, 1L).otherwise(0L))
          .as("fail_dup_line_char"),
        sum(when(col("top_bigram_ppm") > maxTopBigramPpm, 1L).otherwise(0L))
          .as("fail_top_bigram"),
        sum(when(col("dup_line_ppm") <= maxDupLinePpm &&
            col("dup_line_char_ppm") <= maxDupLineCharPpm &&
            col("top_bigram_ppm") <= maxTopBigramPpm, 1L).otherwise(0L))
          .as("n_pass"))
  }
}
