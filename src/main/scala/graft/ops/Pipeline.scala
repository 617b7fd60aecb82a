package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** The reference's whole 7-stage ETL, composed as pure DataFrame → DataFrame
  * stages in ONE SparkSession / ONE Catalyst plan per output.
  *
  * The reference runs each stage as a separate `spark-submit` with a CSV
  * round-trip through MinIO and a full driver collect in between
  * (reference: main-spark.py:4-10; toPandas at REDDIT-Nettoyage-Posts.py:63-84
  * and 7 more sites). Composing the stages lets Catalyst plan across stage
  * boundaries — filters push below the window, column pruning reaches the
  * scan, and nothing ever lands on the driver.
  */
object Pipeline {

  /** Stage 2a (posts side): normalize a per-platform raw post table to the
    * unified schema (SURVEY.md §1.4) — the rename/drop/epoch-cast convention
    * of REDDIT-Nettoyage-Posts.py:57-58 / STACK-Nettoyage-Posts.py:60-68,
    * expressed once as a declarative mapping.
    *
    * @param mapping unified-column → source expression
    */
  def normalizePosts(platform: String, mapping: Map[String, Column])(raw: DataFrame): DataFrame = {
    val cols = graft.schema.Schemas.posts.fields.map { f =>
      if (f.name == "platform") lit(platform).as("platform")
      else mapping.get(f.name)
        .map(_.cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }
    raw.select(cols.toSeq: _*)
  }

  /** Stage 2b: same for comments/answers
    * (reference: STACK-Nettoyage-Comms.py:54-60). */
  def normalizeComments(mapping: Map[String, Column])(raw: DataFrame): DataFrame = {
    val cols = graft.schema.Schemas.comments.fields.map { f =>
      mapping.get(f.name)
        .map(_.cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }
    raw.select(cols.toSeq: _*)
  }

  /** Stage 2 (cleaning, posts): id-dedup + viability predicates
    * (reference: REDDIT-Ingestion.py:116-121 — dedup, empty/deleted title,
    * minimum comment count). */
  def cleanPosts(minComments: Long)(posts: DataFrame): DataFrame =
    posts
      .filter(col("title").isNotNull && length(trim(col("title"))) > 0 &&
        !col("title").isin(Clean.DeletedMarkers: _*) &&
        coalesce(col("num_comments"), lit(0L)) >= minComments)
      .dropDuplicates("id_post")

  /** Stage 2 (cleaning, comments): deletion markers (P3), bot regex (P4),
    * HTML strip (O9), top-N per post by score with deterministic tiebreak
    * (W1 — reference keeps 20, REDDIT-Nettoyage-Comms.py:60-67). */
  def cleanComments(keepPerPost: Int, stripHtml: Boolean = false)(comments: DataFrame): DataFrame = {
    val base = Clean.dropBots("body")(Clean.dropDeleted("body")(comments))
    val stripped =
      if (stripHtml) base.withColumn("body", TextFns.htmlStrip(col("body"))) else base
    TopK.topNPerGroup("parent_post_id", "score", "id_comment", keepPerPost)(stripped)
  }

  /** Stages 3+4 (jointure): aggregate child ids per post (A1) and
    * left-enrich the posts (J1) — childless posts keep an empty list
    * (reference: REDDIT-jointure.py:67-75). */
  def enrich(posts: DataFrame, comments: DataFrame): DataFrame = {
    val grouped = Relate.collectChildIds("parent_post_id", "id_comment", "comment_ids")(comments)
    Relate.enrich(posts, grouped, "id_post", "parent_post_id")
      .withColumn("comment_ids",
        coalesce(col("comment_ids"), array().cast("array<string>")))
  }

  /** Stage 5 (merge): union by NAME + id dedup — fixing the reference's
    * positional `union` (reference: PLATFORM-Merge.py:56, the latent bug
    * SURVEY.md §1.3 flags). */
  def merge(platforms: DataFrame*): DataFrame =
    Merge.dedupByKey("platform", "id_post")(Merge.unionPlatforms(platforms: _*))

  /** The full batch flow for one platform pair: normalized raw tables in,
    * merged enriched table out. Embedding/clustering/indexing (stages 5-6)
    * continue via [[Embed]] / [[Relate.clusterNeighbors]] / [[Similarity]];
    * serving via [[Rag.contextDocs]]. */
  def run(redditPosts: DataFrame, redditComments: DataFrame,
      stackPosts: DataFrame, stackComments: DataFrame,
      minComments: Long = 2, keepPerPost: Int = 20): DataFrame = {
    val rp = cleanPosts(minComments)(redditPosts)
    val rc = cleanComments(keepPerPost)(redditComments)
    val sp = cleanPosts(minComments)(stackPosts)
    val sc = cleanComments(keepPerPost, stripHtml = true)(stackComments)
    merge(enrich(rp, rc), enrich(sp, sc))
  }
}
