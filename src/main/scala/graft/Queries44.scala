package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Dedup

/** Forty-fourth query wave: TF-WEIGHTED near-dup verification — the
  * multiset Jaccard refinement of the q14 candidates (q262). Set-Jaccard
  * cannot tell a template stuffed with one repeated phrase from a single
  * occurrence; the weighted measure prices repetition mass, and emitting
  * BOTH metrics per pair makes the divergence auditable.
  */
object Queries44 {

  /** Weighted-Jaccard near-dup pairs at wj >= 0.6 over the q14 banding
    * (12 hashes × 4 bands). [[graft.ops.Dedup.weightedJaccardPairs]]. */
  val q262WeightedJaccard: Q = (spark, dir) =>
    Dedup.weightedJaccardPairs(Tables.documents(spark, dir),
        "doc_id", "text", numHashes = 12, bands = 4, thresholdPpm = 600000L)
      .orderBy("id_a", "id_b")

  /** [[q262WeightedJaccard]] restricted to pairs with BOTH endpoints in
    * a deterministic id slice — the 64× proof spelling (the q249
    * precedent): banding signatures and term frequencies are per-doc, so
    * filtering finished pairs to the slice equals running on the slice,
    * while the oracle shingles/tokenizes only the slice. */
  private[graft] def q262Sliced(spark: SparkSession, dir: String,
      m: Long, r: Long): DataFrame =
    Dedup.weightedJaccardPairs(Tables.documents(spark, dir),
        "doc_id", "text", numHashes = 12, bands = 4, thresholdPpm = 600000L)
      .filter(col("id_a") % m === r && col("id_b") % m === r)
      .orderBy("id_a", "id_b")

  private[graft] def q262SqlSliced(m: Long, r: Long): String =
    q262SqlWhere(s"docs AS (SELECT * FROM documents WHERE doc_id % $m = $r)")

  val q262Sql: String = q262SqlWhere("docs AS (SELECT * FROM documents)")

  private def q262SqlWhere(docsCte: String): String =
    s"""WITH $docsCte,
       |${Queries2.shinglesCteFrom("docs")},
       |${Queries2.minHashCandCtes("doc_id")},
       |cj AS MATERIALIZED (SELECT id_a, id_b,
       |    round(len(list_intersect(x.sh, y.sh))::DOUBLE
       |          / len(list_distinct(list_concat(x.sh, y.sh))), 6)
       |      AS jaccard_set
       |  FROM cand JOIN sh x ON x.doc_id = cand.id_a
       |            JOIN sh y ON y.doc_id = cand.id_b),
       |tfq AS MATERIALIZED (SELECT doc_id, t AS term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(list_filter(
       |          string_split_regex(lower(trim(text)), '\\s+'),
       |          x -> x <> '')) AS t
       |        FROM docs) GROUP BY 1, 2),
       |lq AS (SELECT doc_id, sum(tf)::BIGINT AS len FROM tfq GROUP BY 1),
       |iv AS (SELECT c.id_a, c.id_b,
       |    sum(least(a.tf, b.tf))::BIGINT AS inter_tf
       |  FROM cj c JOIN tfq a ON a.doc_id = c.id_a
       |            JOIN tfq b ON b.doc_id = c.id_b AND b.term = a.term
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, jaccard_set, inter_tf, wj_ppm FROM (
       |  SELECT c.id_a, c.id_b, c.jaccard_set,
       |    coalesce(iv.inter_tf, 0)::BIGINT AS inter_tf,
       |    (CASE WHEN la.len + lb.len - coalesce(iv.inter_tf, 0) <= 0 THEN 0
       |          ELSE coalesce(iv.inter_tf, 0) * 1000000
       |               // (la.len + lb.len - coalesce(iv.inter_tf, 0))
       |     END)::BIGINT AS wj_ppm
       |  FROM cj c LEFT JOIN iv ON iv.id_a = c.id_a AND iv.id_b = c.id_b
       |    JOIN lq la ON la.doc_id = c.id_a
       |    JOIN lq lb ON lb.doc_id = c.id_b) v
       |WHERE wj_ppm >= 600000 ORDER BY id_a, id_b""".stripMargin

  /** MULTISET-faithful banded near-dup pairs: MinHash over the quantized
    * repeated-shingle expansion (`term#1 … term#min(tf,8)`), so the
    * banding itself samples tf-capped WEIGHTED Jaccard — repetition-mass
    * near-dups and reorderings-with-repetition reach the candidate stage
    * that q262's set-semantic bigram banding documents as out of reach.
    * [[graft.ops.Dedup.weightedMinHashLshPairs]]. */
  val q268WeightedMinhash: Q = (spark, dir) =>
    Dedup.weightedMinHashLshPairs(Tables.documents(spark, dir),
        "doc_id", "text", numHashes = 12, bands = 4, threshold = 0.6,
        tfCap = 8)
      .orderBy("id_a", "id_b")

  /** [[q268WeightedMinhash]] restricted to pairs with BOTH endpoints in a
    * deterministic id slice — the 64× proof spelling (the q249/q262
    * precedent: expansion and signatures are per-doc, candidate
    * generation pairwise, so slice-filtered full pairs equal
    * slice-restricted pairs while the oracle expands only the slice). */
  private[graft] def q268Sliced(spark: SparkSession, dir: String,
      m: Long, r: Long): DataFrame =
    Dedup.weightedMinHashLshPairs(Tables.documents(spark, dir),
        "doc_id", "text", numHashes = 12, bands = 4, threshold = 0.6,
        tfCap = 8)
      .filter(col("id_a") % m === r && col("id_b") % m === r)
      .orderBy("id_a", "id_b")

  private[graft] def q268SqlSliced(m: Long, r: Long): String =
    q268SqlWhere(s"docs AS (SELECT * FROM documents WHERE doc_id % $m = $r)")

  val q268Sql: String = q268SqlWhere("docs AS (SELECT * FROM documents)")

  private def q268SqlWhere(docsCte: String): String =
    s"""WITH $docsCte,
       |tfq AS (SELECT doc_id, t AS term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(list_filter(
       |          string_split_regex(lower(trim(text)), '\\s+'),
       |          x -> x <> '')) AS t
       |        FROM docs) GROUP BY 1, 2),
       |sh AS MATERIALIZED (SELECT doc_id,
       |    list_sort(list(term || '#' || k::VARCHAR)) AS sh
       |  FROM (SELECT doc_id, term,
       |          unnest(generate_series(1, least(tf, 8))) AS k FROM tfq)
       |  GROUP BY doc_id),
       |${Queries2.minHashCandCtes("doc_id")}
       |${Queries2.minHashJaccardSelect("doc_id", "0.6 ORDER BY id_a, id_b")}""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q262_weighted_jaccard", q262WeightedJaccard, q262Sql),
    QueryDef("q268_weighted_minhash_lsh", q268WeightedMinhash, q268Sql))
}
