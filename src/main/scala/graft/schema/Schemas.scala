package graft.schema

import org.apache.spark.sql.types._

/** Explicit schemas for the unified data model (SURVEY.md §1.4).
  *
  * The reference infers schema at every scan (`inferSchema=True` at all 9
  * Spark read sites, e.g. reference: REDDIT-jointure.py:39,55), paying a
  * full extra pass per read and letting id/date types drift between stages.
  * Declaring the `StructType` once fixes both by design — and at 100 TB an
  * inference pass over the corpus is simply not an option.
  */
object Schemas {

  /** Unified post row (reference: the rename conventions of
    * REDDIT-Nettoyage-Posts.py:57-58 and STACK-Nettoyage-Posts.py:60-62
    * converge on this shape; `date` is a real timestamp, not epoch floats). */
  val posts: StructType = StructType(Seq(
    StructField("platform", StringType, nullable = false),
    StructField("community", StringType, nullable = true),
    StructField("id_post", StringType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("body", StringType, nullable = true),
    StructField("score", LongType, nullable = true),
    StructField("date", TimestampType, nullable = true),
    StructField("link", StringType, nullable = true),
    StructField("num_comments", LongType, nullable = true)))

  /** Unified comment/answer row (reference: STACK-Nettoyage-Comms.py:54-56
    * renames answers into this shape). */
  val comments: StructType = StructType(Seq(
    StructField("id_comment", StringType, nullable = false),
    StructField("body", StringType, nullable = true),
    StructField("score", LongType, nullable = true),
    StructField("created_utc", TimestampType, nullable = true),
    StructField("parent_post_id", StringType, nullable = false)))
}
