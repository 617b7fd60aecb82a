package graft.ops

import org.apache.spark.sql.DataFrame

/** Cleaning operators — the reference's per-table "Nettoyage" stage.
  *
  * All predicates are plain Catalyst expressions so they stay inside
  * whole-stage codegen and are pushed down to the Parquet scan where
  * possible; nothing here touches the driver.
  */
object Clean {

  /** Deletion markers dropped by the reference
    * (reference: REDDIT-Nettoyage-Comms.py:49, STACK-Nettoyage-Comms.py:69). */
  val DeletedMarkers: Seq[String] = Seq("[deleted]", "[removed]")

  /** P3 — NOT-IN filter on deletion markers. */
  def dropDeleted(col: String)(df: DataFrame): DataFrame =
    df.filter(!df(col).isin(DeletedMarkers: _*))

  /** Bot/moderator auto-message patterns, mirroring the 7 anchored
    * alternates of the reference (reference: REDDIT-Nettoyage-Comms.py:76-88,
    * STACK-Nettoyage-Comms.py:108-120). Kept RE2-compatible (no
    * backreferences / lookaround) so the DuckDB oracle evaluates the exact
    * same regex semantics as Java's `rlike` (unanchored search).
    */
  val BotPatterns: Seq[String] = Seq(
    "^I am a bot",
    "^Your (post|submission|comment) (has been|was) removed",
    "^This (post|thread) (has been|was) locked",
    "^Welcome to",
    "^Thank you for your (post|submission)",
    "^Please contact the moderators",
    "^As an AI")

  val BotRegex: String = BotPatterns.mkString("|")

  /** P4 — negated regex filter dropping bot/mod auto-messages. */
  def dropBots(col: String, pattern: String = BotRegex)(df: DataFrame): DataFrame =
    df.filter(!df(col).rlike(pattern))
}
