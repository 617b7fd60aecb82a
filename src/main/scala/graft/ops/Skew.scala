package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew diagnosis for shuffle joins.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) handles most cases at runtime; the audit here finds the keys
  * that dominate a join's output before it runs, which is when salting a
  * hot key or retuning the AQE threshold is decided.
  */
object Skew {

  /** Join-amplification audit — the pre-flight a 100 TB join wants
    * BEFORE AQE discovers the skew at runtime: per join key, both
    * sides' row counts and the output amplification n_left·n_right,
    * top `topK` keys by output with each key's share of the total join
    * output in ppm. A handful of keys owning most of the output is the
    * signature that calls for salting the hot keys or an AQE skew
    * threshold retune.
    *
    * Output: (key, n_left, n_right, out_rows, share_ppm), top `topK`
    * by (out_rows desc, key asc). Scale shape: one keyed aggregate per
    * side, a key-frame equi-join (never the row-level join itself), a
    * 1-row total, and a TakeOrderedAndProject top-k.
    *
    * Overflow posture — this audit targets EXACTLY the inputs where
    * naive int64 arithmetic dies (a 1e7×1e6 hot key is 1e13 output
    * rows), so every step is magnitude-guarded, in both engines:
    * `out_rows` is a saturating product (exact below 2^63, pinned to
    * Long.MaxValue above — a key past 9.2e18 output rows needs no finer
    * ppm to be flagged), the total accumulates in decimal(38,0) (DuckDB:
    * sum(BIGINT) is HUGEINT natively), and the share BRANCHES on the
    * total's magnitude like [[Audit.abcClassification]]: numerator-
    * upscale while tot ≤ ⌊2^63/1e6⌋ (exact; out_rows ≤ tot so the
    * product fits), denominator-downscale above (error ≤ 1e6/tot). */
  def joinAmplification(leftDf: org.apache.spark.sql.DataFrame,
      rightDf: org.apache.spark.sql.DataFrame, leftKey: String,
      rightKey: String, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val l = leftDf.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val r = rightDf.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    joinAmplificationCounts(l, r, topK)
  }

  /** [[joinAmplification]] over PRE-AGGREGATED per-key count frames
    * `l(key, n_left)` / `r(key, n_right)` — the entry point when key
    * profiles already exist (a stats catalog), and the level where the
    * overflow arithmetic is unit-testable with planet-scale counts
    * (SkewSpec feeds literal 1e10-row keys no fixture could).
    *
    * A stats catalog can carry zero (or garbage-negative) counts;
    * those keys contribute out_rows = 0 instead of aborting the whole
    * audit on the saturation guard's ANSI division. */
  def joinAmplificationCounts(l: DataFrame, r: DataFrame,
      topK: Int): DataFrame = {
    require(topK >= 1)
    val j = l.join(r, Seq("key"))
      // saturating product; the <=0 arm also keeps the guard division
      // away from n_right = 0
      .withColumn("out_rows", expr(
        s"CASE WHEN n_left <= 0L OR n_right <= 0L THEN 0L" +
          s" WHEN n_left <= ${Long.MaxValue}L div n_right" +
          s" THEN n_left * n_right ELSE ${Long.MaxValue}L END"))
      .localCheckpoint(false)
    j.crossJoin(broadcast(
        j.agg(sum(col("out_rows").cast("decimal(38,0)")).as("__tot"))))
      .withColumn("share_ppm", expr(
        "CASE WHEN __tot <= 0 THEN 0L" + // all-zero catalog: no output rows
          " WHEN __tot <= 9223372036854 THEN" +
          " out_rows * 1000000L div cast(__tot as long)" +
          " ELSE out_rows div cast(__tot div 1000000L as long) END"))
      .orderBy(col("out_rows").desc, col("key").asc)
      .limit(topK)
      .select(col("key"), col("n_left"), col("n_right"), col("out_rows"),
        col("share_ppm"))
  }
}
