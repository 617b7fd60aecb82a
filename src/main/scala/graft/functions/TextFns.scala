package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text scalar functions, all composed from built-in (codegen'd) Catalyst
  * expressions — no UDFs in the hot path.
  */
object TextFns {

  /** Entity table shared, in this exact order, by the Scala impl and the
    * DuckDB oracle SQL. `&amp;` is decoded LAST so `&amp;lt;` does not
    * double-decode into `<` (single-pass entity semantics, approximating
    * BeautifulSoup's get_text()).
    */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  val TagRegex = "<[^>]*>"

  /** O9 — HTML strip: remove tags, decode the common entities the reference's
    * BeautifulSoup pass handles (reference: STACK-Nettoyage-Posts.py:77-87,
    * STACK-Nettoyage-Comms.py:75-81). Null-safe (null in → null out), built
    * entirely from codegen'd built-ins, so it stays in whole-stage codegen.
    */
  def htmlStrip(c: Column): Column = {
    val noTags = regexp_replace(c, TagRegex, "")
    Entities.foldLeft(noTags) { case (acc, (ent, ch)) => replace(acc, lit(ent), lit(ch)) }
  }

  /** The same transformation as DuckDB SQL over a column expression, for
    * oracle construction. DuckDB regexp_replace needs the 'g' flag to match
    * Spark's replace-all semantics.
    */
  def htmlStripSql(expr: String): String =
    Entities.foldLeft(s"regexp_replace($expr, '$TagRegex', '', 'g')") {
      case (acc, (ent, ch)) =>
        val lit = ch.replace("'", "''")
        s"replace($acc, '$ent', '$lit')"
    }

  /** P13 — text assembly for embedding: "Title : t" when the body is blank,
    * else "Title : t\nBody : b" (reference: PLATFORM-contextual-Chunking.py:58-65). */
  def assembleEmbedText(title: Column, body: Column): Column =
    when(length(trim(coalesce(body, lit("")))) === 0,
      concat(lit("Title : "), title))
      .otherwise(concat(lit("Title : "), title, lit("\nBody : "), trim(body)))

  /** Whitespace token count; empty/blank → 0. (Training-data token-counting
    * extension; BPE-ish variant below.) */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** BPE-ish subword-unit estimate: counts runs of letters, digits, or single
    * punctuation — a deterministic proxy for tokenizer load. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Punctuation ratio: punctuation chars / total chars (0 for empty). */
  def punctRatio(c: Column): Column = {
    val punct = length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))
    when(length(c) === 0, lit(0.0)).otherwise(punct.cast("double") / length(c).cast("double"))
  }

  /** THE corpus word-tokenization contract — every word-unit operator in
    * the engine speaks this one dialect:
    *
    *   `split(lower(trim(text)), "\s+")`
    *
    * Semantics pinned by the spelling: `trim` is SPACE-only (tab/newline at
    * the edges become a leading/trailing empty token, matching Java regex
    * split), interior whitespace runs collapse to one boundary, and a blank
    * document yields `[""]` — exactly one empty token. Callers that want
    * "no tokens" filter it out ([[graft.ops.Vocab]]) or size-guard; others
    * RELY on the `[""]` floor (e.g.
    * [[graft.ops.Dedup.crossDocSpanDedup]]'s full_outer reassembly assumes
    * no document has zero tokens). The fused span kernel
    * ([[graft.expr.ShingleKernels.wordSpans]]) implements the same contract
    * imperatively — its n=1 output IS this token stream, cross-checked in
    * VocabSpec. DuckDB oracles mirror it as
    * `string_split_regex(lower(trim(text)), '\s+')`. Consumers:
    * [[stopwordRatio]], Vocab/DSIR, Classify features,
    * crossDocSpanDedup. */
  def wordTokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** English stopword ratio over whitespace tokens — quality-scoring signal. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "this", "by", "at", "be", "are")

  def stopwordRatio(c: Column): Column = {
    val toks = wordTokens(c)
    val stops = filter(toks, t => t.isin(Stopwords: _*))
    when(length(trim(c)) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: blend of length, punctuation and
    * stopword signals (training-data quality-scoring extension), in
    * integer micro-units via floor(x*1e6 + 0.5) — the same IEEE double ops
    * in any engine, so oracle hash-comparable with no round-half-way
    * ambiguity (Spark HALF_UP vs DuckDB's libm rounding). */
  def qualityScoreMicro(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(c) * 5.0, lit(0.0))
    val stopScore = least(stopwordRatio(c) * 5.0, lit(1.0))
    floor((lenScore * 0.4 + punctPenalty * 0.3 + stopScore * 0.3) * 1000000.0 + 0.5)
      .cast("long")
  }

  /** Heuristic language ID: scores text against per-language marker-word
    * sets and returns the best-scoring language code, "und" when nothing
    * matches. Cheap n-gram/stopword heuristic — the standard trick when a
    * real langid model isn't available; fully codegen'd.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "you", "that", "with"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es" -> Seq("el", "los", "es", "una", "por", "que", "para"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不", "人"))

  /** Priority-chain pick over already-projected hit-count columns: the
    * first language (in [[LangMarkers]] order) whose count is positive and
    * >= every other language's — portable to plain SQL CASE. */
  def langPick(hits: Seq[(String, Column)]): Column =
    hits.foldRight(lit("und")) { case ((lang, h), rest) =>
      val others = hits.collect { case (l, o) if l != lang => h >= o }
      when(others.reduce(_ && _) && h > 0, lit(lang)).otherwise(rest)
    }
}
