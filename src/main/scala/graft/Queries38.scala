package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Mixture, Multimodal, Shard}

/** Thirty-eighth query wave: export/maintenance ops around the shipped
  * corpus — incremental-export manifest reconciliation (q248), byte-level
  * near-dup detection over binary assets (q249), and the long-context
  * length-band mix planner (q250).
  */
object Queries38 {

  private def tokCount = size(array_remove(
    graft.functions.TextFns.wordTokens(col("text")), "")).cast("long")

  private val lensSql: String =
    """lens AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> ''))::BIGINT AS n_tok
      |  FROM documents)""".stripMargin

  /** Incremental-export reconciliation: manifest of release A (all
    * documents over 32 shards) vs release B (the same export minus a
    * ~6% hash slice — simulated deletions), classified per shard so a
    * resumed export rewrites only `changed` shards.
    * [[graft.ops.Shard.manifestDelta]]. */
  val q248ManifestDelta: Q = (spark, dir) => {
    // ONE tokenization pass (the oracle's shared tokc CTE): the projected
    // (id, tokens, drop-slice key) frame is pinned and feeds both
    // manifests — prev and next overlap ~94%, and without the pin each
    // side would re-run wordTokens over the corpus
    val staged = Tables.documents(spark, dir)
      .select(col("doc_id"), tokCount.as("__tok"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("__h2"))
      .localCheckpoint(false)
    val prev = Shard.manifest(
      Shard.assignShards(staged, "doc_id", 32), "shard", "doc_id",
      col("__tok"))
    val next = Shard.manifest(
      Shard.assignShards(staged.filter(col("__h2") >= "10"), "doc_id", 32),
      "shard", "doc_id", col("__tok"))
    Shard.manifestDelta(prev, next).orderBy("shard")
  }

  val q248Sql: String =
    s"""WITH $lensSql,
       |tokc AS (SELECT l.doc_id, n_tok,
       |    ('0x' || substr(md5(l.doc_id::VARCHAR), 1, 8))::BIGINT % 32
       |      AS shard,
       |    ('0x' || substr(md5(l.doc_id::VARCHAR), 1, 8))::BIGINT AS csum,
       |    substr(md5(l.doc_id::VARCHAR), 1, 2) AS h2
       |  FROM lens l),
       |prev AS (SELECT shard, count(*)::BIGINT AS rp, sum(n_tok)::BIGINT
       |    AS tp, sum(csum)::BIGINT AS cp FROM tokc GROUP BY 1),
       |nxt AS (SELECT shard, count(*)::BIGINT AS rn, sum(n_tok)::BIGINT
       |    AS tn, sum(csum)::BIGINT AS cn FROM tokc WHERE h2 >= '10'
       |  GROUP BY 1),
       |j AS (SELECT coalesce(p.shard, n.shard) AS shard, rp, tp, cp, rn,
       |    tn, cn FROM prev p FULL OUTER JOIN nxt n ON p.shard = n.shard)
       |SELECT shard,
       |  CASE WHEN rp IS NULL THEN 'added' WHEN rn IS NULL THEN 'removed'
       |       WHEN rp = rn AND tp = tn AND cp = cn THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  coalesce(rp, 0)::BIGINT AS rows_prev,
       |  coalesce(rn, 0)::BIGINT AS rows_next,
       |  coalesce(tp, 0)::BIGINT AS tokens_prev,
       |  coalesce(tn, 0)::BIGINT AS tokens_next,
       |  (coalesce(rn, 0) - coalesce(rp, 0))::BIGINT AS row_delta,
       |  (coalesce(tn, 0) - coalesce(tp, 0))::BIGINT AS token_delta
       |FROM j ORDER BY shard""".stripMargin

  /** Byte-level near-dup pairs over binary assets: 16-byte hex shingles
    * → MinHash(12) + LSH(4 bands × 3) → exact byte-Jaccard ≥ 0.5 — no
    * codec involved, so it runs on any modality's raw bytes.
    * [[graft.ops.Multimodal.assetNearDup]]. */
  val q249AssetNearDup: Q = (spark, dir) => {
    val assets = Multimodal.fromText(
      Tables.documents(spark, dir), "doc_id", "text", "image")
    Multimodal.assetNearDup(assets, "asset_id", "content",
        shingleBytes = 16, numHashes = 12, bands = 4, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** [[q249AssetNearDup]] restricted to pairs with BOTH endpoints in a
    * deterministic id slice — the 64× proof spelling (the q122 id-slice
    * precedent): the ENGINE still runs the full banded LSH over the whole
    * corpus (candidate generation is pairwise, so filtering finished
    * pairs to the slice equals running on the slice), while the oracle
    * shingles only the slice — bounding the DuckDB side's list-heavy
    * hex re-shingling that made the full 64× compare impractical. */
  private[graft] def q249Sliced(spark: SparkSession, dir: String,
      m: Long, r: Long): DataFrame =
    q249AssetNearDup(spark, dir)
      .filter(col("id_a") % m === r && col("id_b") % m === r)

  val q249Sql: String = q249SqlWhere("")

  private[graft] def q249SqlSliced(m: Long, r: Long): String =
    q249SqlWhere(s" WHERE doc_id % $m = $r")

  private def q249SqlWhere(docFilter: String): String =
    s"""WITH t AS (SELECT doc_id AS id, hex(text::BLOB) AS hx
       |  FROM documents$docFilter),
       |sh AS (SELECT id,
       |  CASE WHEN len(hx) < 32 THEN [hx]
       |       ELSE list_distinct(list_transform(
       |              generate_series(1, len(hx) - 31, 2),
       |              i -> substr(hx, i::INT, 32))) END AS sh
       |  FROM t),
       |${Queries2.minHashCandCtes("id")}
       |${Queries2.minHashJaccardSelect("id", "0.5")}""".stripMargin

  /** Long-context mix planner: power-of-two token-length bands vs a
    * target token-share distribution (the long bands upweighted; the
    * band-7 target has no fixture documents and stays absent — the
    * unrealizable-target signal). [[graft.ops.Mixture.lengthBandReweight]]. */
  val q250LengthBandMix: Q = (spark, dir) => {
    val lens = Tables.documents(spark, dir)
      .select(tokCount.as("n_tok"))
      .filter(col("n_tok") > 0L)
    Mixture.lengthBandReweight(lens, col("n_tok"), Map(
        3L -> 50000L, 4L -> 150000L, 5L -> 300000L, 6L -> 400000L,
        7L -> 100000L))
      .orderBy("band")
  }

  val q250Sql: String =
    s"""WITH $lensSql,
       |lf AS (SELECT n_tok FROM lens WHERE n_tok > 0),
       |b AS (SELECT (length(bin(n_tok)) - 1)::BIGINT AS band, n_tok FROM lf),
       |pb AS (SELECT band, count(*)::BIGINT AS n_docs,
       |    sum(n_tok)::BIGINT AS n_tokens FROM b GROUP BY 1),
       |tt AS (SELECT sum(n_tokens)::BIGINT AS total FROM pb),
       |tg(band, target_ppm) AS (VALUES (3, 50000), (4, 150000),
       |  (5, 300000), (6, 400000), (7, 100000)),
       |sel AS (SELECT pb.band, n_docs, n_tokens,
       |    (CASE WHEN total <= 0 THEN 0
       |          WHEN total <= 9223372036854 THEN n_tokens * 1000000 // total
       |          ELSE n_tokens // (total // 1000000) END)::BIGINT
       |      AS natural_ppm,
       |    coalesce(tg.target_ppm, 0)::BIGINT AS target_ppm
       |  FROM pb CROSS JOIN tt LEFT JOIN tg ON tg.band = pb.band)
       |SELECT band, n_docs, n_tokens, natural_ppm, target_ppm,
       |  (CASE WHEN natural_ppm > 0
       |        THEN target_ppm * 1000000 // natural_ppm
       |        ELSE 0 END)::BIGINT AS weight_ppm
       |FROM sel ORDER BY band""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q248_manifest_delta", q248ManifestDelta, q248Sql),
    QueryDef("q249_asset_near_dup", q249AssetNearDup, q249Sql),
    QueryDef("q250_length_band_mix", q250LengthBandMix, q250Sql))
}
