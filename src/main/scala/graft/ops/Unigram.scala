package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM subword segmentation — the SentencePiece-family
  * counterpart to [[Bpe]]: given a piece inventory with scores, each
  * word segments into the piece sequence an exact Viterbi DP selects.
  * Where BPE applies learned merges greedily, the unigram model solves
  * a per-word shortest-path problem over all piece decompositions — the
  * segmentation every unigram tokenizer (SentencePiece, the Llama/T5
  * vocabularies) performs at encode time.
  *
  * This implementation is the deterministic integer core: piece scores
  * are corpus frequency COUNTS (not float log-probs — the DP objective
  * below never needs a logarithm), and the Viterbi objective is
  * lexicographic (fewest pieces, then highest total score, then earliest
  * split), encoded in one BIGINT key:
  *
  *   cost(piece) = SCALE − score(piece),  SCALE = 1e12
  *   DP[i]       = min over valid (j → i) of DP[j] + cost(piece(j, i))
  *
  * — minimizing Σcost minimizes piece count first (each piece pays
  * ~SCALE) and maximizes Σscore second (scores are ≪ SCALE); ties break
  * on the smallest predecessor j (= the longest final piece). A real
  * unigram-LM's float log-prob objective slots into the same DP by
  * swapping the cost column; the integer spelling is what makes the
  * result hash-checkable across engines.
  *
  * Scale shape: everything runs on the DISTINCT-WORD frame (the
  * [[Vocab.wordCounts]] contract — corpus text is touched once to build
  * it), so segmentation cost is independent of corpus size.
  */
object Unigram {

  val Scale = 1000000000000L // 1e12 — dominates any realistic score sum

  /** Piece inventory from the corpus token stream: every single
    * character (the OOV floor — any word segments), plus the
    * `nBigrams` / `nTrigrams` most frequent character 2-/3-grams.
    * Scores are occurrence-weighted frequency counts; top-N ties break
    * on the piece string. Runs on the distinct-word frame weighted by
    * word count. */
  def pieceVocab(words: DataFrame, wordCol: String, cntCol: String,
      nBigrams: Int, nTrigrams: Int): DataFrame = {
    val w = words.select(col(wordCol).as("w"), col(cntCol).as("cnt"))
    // sequence(1, 0) is DESCENDING in Spark — emit no grams for words
    // shorter than n instead of relying on an empty range
    def grams(n: Int): DataFrame = w
      .select(col("cnt"), explode(expr(
        s"CASE WHEN length(w) >= $n THEN " +
          s"transform(sequence(1, length(w) - ${n - 1}), i -> substring(w, i, $n)) " +
          "ELSE array() END")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("score"))
    // orderBy+limit plans as TakeOrderedAndProject (per-partition heads
    // merged on the driver — the Vocab.topVocabFromCounts discipline);
    // the old row_number-over-global-window spelling sorted the FULL
    // char-gram frame on one task before the ≤n filter
    def topN(df: DataFrame, n: Int): DataFrame =
      df.orderBy(col("score").desc, col("piece").asc).limit(n)
    grams(1)
      .unionByName(topN(grams(2), nBigrams))
      .unionByName(topN(grams(3), nTrigrams))
  }

  /** Viterbi-segment `words(wordCol)` over `vocab` (piece → score).
    * Pieces are 1–3 characters (the [[pieceVocab]] shapes); words longer
    * than `maxLen` are OUT OF CONTRACT and dropped. Output: (`wordCol`,
    * n_pieces, score_sum, seg) — seg is the space-joined piece sequence.
    *
    * The whole DP and backtrack run inside two `aggregate` higher-order
    * functions with the vocabulary as a broadcast map LITERAL — one Spark
    * job, zero joins, zero per-round barriers, versus the generic
    * spelling's 2·maxLen round frames. The trade: the vocabulary must be
    * driver-resident — fine by construction for [[pieceVocab]] output
    * (every single character + top-N 2-/3-grams: charset + N entries, an
    * artifact, not data — the q149 keptMs contract). Semantics are
    * identical (UnigramSpec proves fused ≡ generic on random words; the
    * struct `array_min` realizes the same (cost, bj) lexicographic rank).
    * Interpreted-HOF cost is per DISTINCT WORD (≤ maxLen · 3 map probes),
    * off the corpus hot path. */
  def viterbiSegmentFused(words: DataFrame, wordCol: String,
      vocab: Map[String, Long], maxLen: Int): DataFrame = {
    require(maxLen >= 1 && vocab.nonEmpty)
    def cand(l: Int): String =
      s"""CASE WHEN p >= $l
         |  AND element_at(__vmap, substring(w, p - ${l - 1}, $l)) IS NOT NULL
         |  AND element_at(acc, p - ${l - 1}).cost IS NOT NULL
         |THEN named_struct(
         |  'cost', element_at(acc, p - ${l - 1}).cost + $Scale
         |          - element_at(__vmap, substring(w, p - ${l - 1}, $l)),
         |  'bj', CAST(p - $l AS BIGINT)) END""".stripMargin
    val dp =
      s"""aggregate(sequence(1, length(w)),
         |  array(named_struct('cost', CAST(0 AS BIGINT), 'bj', CAST(-1 AS BIGINT))),
         |  (acc, p) -> array_append(acc, coalesce(
         |    array_min(filter(
         |      array(${cand(1)}, ${cand(2)}, ${cand(3)}),
         |      x -> x.cost IS NOT NULL)),
         |    named_struct('cost', CAST(NULL AS BIGINT), 'bj', CAST(NULL AS BIGINT)))))"""
        .stripMargin
    val bt =
      s"""aggregate(sequence(1, $maxLen),
         |  named_struct('pos', CAST(length(w) AS BIGINT), 'seg', ''),
         |  (s, r) -> CASE WHEN s.pos IS NULL OR s.pos <= 0 THEN s
         |    ELSE named_struct(
         |      'pos', element_at(__dp, CAST(s.pos AS INT) + 1).bj,
         |      'seg', concat(
         |        substring(w,
         |          CAST(element_at(__dp, CAST(s.pos AS INT) + 1).bj AS INT) + 1,
         |          CAST(s.pos - element_at(__dp, CAST(s.pos AS INT) + 1).bj AS INT)),
         |        CASE WHEN s.seg = '' THEN '' ELSE ' ' END,
         |        s.seg)) END)""".stripMargin
    words.select(col(wordCol).as("w")).distinct()
      .filter(length(col("w")) > 0 && length(col("w")) <= maxLen)
      .withColumn("__vmap", typedLit(vocab))
      .withColumn("__dp", expr(dp))
      .withColumn("__fc", expr("element_at(__dp, length(w) + 1).cost"))
      .filter(col("__fc").isNotNull)
      .withColumn("__bt", expr(bt))
      .select(col("w").as(wordCol),
        expr(s"(__fc + ${Scale - 1}) div $Scale").as("n_pieces"),
        expr(s"((__fc + ${Scale - 1}) div $Scale) * $Scale - __fc").as("score_sum"),
        expr("__bt.seg").as("seg"))
  }
}
