package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top-N-per-group (W1) — the reference keeps the 20 highest-score comments
  * per post via `row_number` over a score-desc window
  * (reference: REDDIT-Nettoyage-Comms.py:60-67, STACK-Nettoyage-Comms.py:92-99).
  *
  * Differences by design:
  *  - an explicit tiebreak column makes the result deterministic (the
  *    reference's ties are arbitrary — SURVEY.md §7.4);
  *  - Spark 3.5+'s `InferWindowGroupLimit` rewrites the `rank <= n` filter
  *    into a per-group limit before the sort, so at 100 TB this is one
  *    shuffle on the group key with a bounded per-group heap, not a full
  *    partition sort.
  */
object TopK {

  /** Keep the top `n` rows per `groupCol`, ordered by `orderCol` descending,
    * ties broken ascending by `tiebreak` (must be unique within a group for
    * full determinism). Drops the rank column, like the reference does. */
  def topNPerGroup(groupCol: String, orderCol: String, tiebreak: String, n: Int)(
      df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol).desc, col(tiebreak).asc)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** Same, keeping the rank as `rankCol` (cast to long for oracle parity —
    * DuckDB's row_number() is BIGINT, Spark's is INT). */
  def rankPerGroup(groupCol: String, orderCol: String, tiebreak: String, n: Int,
      rankCol: String)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol).desc, col(tiebreak).asc)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= n)
  }
}
