package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Ids, Rag}

/** Forty-sixth query wave: the SURROGATE-ID helper the groundedness
  * contract implies (r15 verdict task 6). `requireIntegralDocId` refuses
  * string doc-ids with "map string ids to a numeric surrogate first";
  * [[graft.ops.Ids.surrogateKey]] is now that op. q266 oracle-checks the
  * helper itself (dense 0-based rank in total key order); q265 exercises
  * the full deliverable — groundedness over a STRING-id context via the
  * surrogate, with the citation mapped BACK to the string key so the
  * caller never sees the numeric domain.
  */
object Queries46 {

  /** Groundedness audit over string-keyed context: the q251 inputs with
    * the context doc identity re-keyed as `doc-<id>` strings, routed
    * through [[graft.ops.Ids.surrogateKey]] (dense numeric surrogate,
    * 0-based — never collides with the −1 no-support sentinel), audited
    * by [[graft.ops.Rag.groundednessAudit]], and the winning citation
    * joined back to its string key (`-` when nothing is supported).
    * Ties between context docs break by SURROGATE order ≡ string-key
    * order (rank is order-preserving), which the oracle mirrors. */
  val q265GroundednessStrId: Q = (spark, dir) => q265With(spark, dir, 50L)

  private[graft] def q265With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val (answers, context) = Queries39.groundednessInputs(spark, dir, queryMod)
    val strCtx = context.select(col("q_id"),
      concat(lit("doc-"), col("doc_id").cast("string")).as("doc_key"),
      col("text"))
    // the surrogate build (distinct + rank + join) runs once into the
    // audit; the key map reuses the SAME frame pinned, or the span join
    // and the map-back branch would each re-run the BM25 context upstream
    val withSid = Ids.surrogateKey(strCtx, "doc_key", "doc_sid")
      .localCheckpoint(false)
    val audited = Rag.groundednessAudit(answers, "q_id", "answer",
      withSid, "doc_sid", "text", n = 4)
    val keyMap = withSid.select(col("doc_sid").as("top_doc"), col("doc_key"))
      .distinct()
    audited.join(keyMap, Seq("top_doc"), "left")
      .select(col("q_id"), col("n_spans"), col("n_supported"),
        col("unsupported_ppm"),
        coalesce(col("doc_key"), lit("-")).as("top_doc_key"),
        col("top_share_ppm"))
      .orderBy("q_id")
  }

  val q265Sql: String = q265SqlWith(50L)

  private[graft] def q265SqlWith(queryMod: Long): String =
    s"""WITH ${Queries39.inputCtesWith(queryMod)},
       |top AS (SELECT q_id, doc_id, cnt FROM (
       |  SELECT q_id, doc_id, cnt, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cnt DESC, 'doc-' || doc_id::VARCHAR ASC) AS rn
       |  FROM perdoc) WHERE rn = 1)
       |${Queries39.groundednessSelect(
         "coalesce('doc-' || p.doc_id::VARCHAR, '-') AS top_doc_key")}""".stripMargin

  /** The helper itself, oracle-checked: dense 0-based surrogates in total
    * string-key order over the documents table. Keys are unique per doc
    * here, so the expected surrogate is `row_number() − 1` in key order —
    * the helper's contract on ANY input (dense_rank of distinct keys).
    * [[graft.ops.Ids.surrogateKey]]. */
  val q266SurrogateIds: Q = (spark, dir) =>
    Ids.surrogateKey(
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            concat(lit("doc-"), col("doc_id").cast("string")).as("doc_key")),
        "doc_key", "doc_sid")
      .select(col("doc_id"), col("doc_key"), col("doc_sid"))
      .orderBy("doc_id")

  val q266Sql: String =
    """SELECT doc_id, 'doc-' || doc_id::VARCHAR AS doc_key,
      |  (row_number() OVER (ORDER BY 'doc-' || doc_id::VARCHAR) - 1)::BIGINT
      |    AS doc_sid
      |FROM documents ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q265_groundedness_str_id", q265GroundednessStrId, q265Sql),
    QueryDef("q266_surrogate_ids", q266SurrogateIds, q266Sql))
}
