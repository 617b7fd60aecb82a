package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Shard

/** Forty-first query wave: BM25 on a ZIPFIAN token distribution as a
  * first-class CORRECTNESS target (q256 — the r14 verdict's item 8: the
  * base fixture's ~31-word vocabulary is the degenerate regime for
  * inverted-index work, and until now the representative distribution was
  * proven only in the out-of-band scale runs), and the three-scheme
  * shard-balance audit (q257).
  */
object Queries41 {

  /** Zipf vocabulary size for the q256 remap (matches GenScale's). */
  private val ZipfV = 20000

  /** ln(V+1), materialized as ONE double literal shared verbatim by the
    * Spark expression and the DuckDB SQL: each engine's own log() may
    * differ in the last ulp, and the inverse-CDF floor sits downstream of
    * it — pinning the constant removes that divergence channel (exp()
    * remains, a ≤1-ulp libm delta on ≤1e6 distinct inputs; the floor
    * boundary is ~4e-12 wide per draw, negligible and deterministic). */
  private val LnV1: Double = math.log(ZipfV + 1.0)

  /** The GenScale zipf remap as a PORTABLE inline expression: every token
    * re-drawn from a 20k-word Zipfian vocabulary via the inverse log-CDF
    * `rank = ⌊e^(u·ln(V+1))⌋`, u seeded by the md5 bucket of
    * (doc id, 1-based position, original token) — the engine-portable
    * hash, unlike GenScale's xxhash64 (which is why GenScale must
    * materialize parquet while this variant can be ORACLE-CHECKED
    * inline). Test-harness device, not a production operator: the
    * interpreted per-token HOF is fine at fixture scale, and a real
    * corpus needs no synthetic remap. */
  private[graft] def zipfText(idCol: Column, textCol: Column): Column = {
    val toks = filter(graft.functions.TextFns.wordTokens(textCol),
      t => t =!= "")
    array_join(transform(toks, (t, j) =>
      concat(lit("w"),
        least(greatest(floor(exp(
            (pmod(graft.functions.HashFns.md5Long(
                concat(idCol.cast("string"), lit(":"),
                  (j + 1).cast("string"), lit(":"), t)), lit(1000000L))
              .cast("double") / 1000000.0) * LnV1)),
          lit(1.0)), lit(ZipfV.toDouble))
          .cast("long").cast("string"))), " ")
  }

  /** The same remap as the oracle's token CTE — (doc_id, term) rows
    * directly (BM25 needs the multiset, not reconstructed text), swapped
    * into the standard chain via [[Queries11.bm25CtesFromTok]]. */
  private def zipfTokCte: String =
    // NOTE: this CTE is re-processed by the CALLERS' stripMargin (it is
    // interpolated into bm25CtesFromTok and again into q256SqlWith), so no
    // line here may start with '|' after its own margin — keep every
    // string-concat '||' at line END
    s"""tok AS MATERIALIZED (SELECT doc_id,
       |    'w' || CAST(CAST(least(greatest(floor(exp(
       |        ((('0x' || substr(md5(doc_id::VARCHAR || ':' ||
       |            i::VARCHAR || ':' || ts[i]), 1, 8))::BIGINT
       |            % 1000000)::DOUBLE
       |          / 1000000.0) * $LnV1)),
       |      1.0), $ZipfV.0) AS BIGINT) AS VARCHAR) AS term
       |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
       |        FROM (SELECT doc_id,
       |            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |              t -> t <> '') AS ts
       |          FROM documents)))""".stripMargin

  /** BM25 top-10 over the zipf-remapped corpus — the q130 probe on the
    * distribution inverted-index retrieval is designed for (a short
    * stopword-like head, a long informative tail), now inside the
    * driver's CORRECTNESS gate instead of only the out-of-band 64×
    * runs. [[graft.ops.Retrieval.bm25Rank]] via [[Queries11.bm25TopK]]. */
  val q256Bm25Zipf: Q = (spark, dir) => q256With(spark, dir, 50L)

  private[graft] def q256With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame =
    Queries11.bm25TopK(Tables.documents(spark, dir)
        .select(col("doc_id"), zipfText(col("doc_id"), col("text")).as("text")),
        10, queryMod)
      .orderBy("q_id", "rank")

  val q256Sql: String = q256SqlWith(50L)

  private[graft] def q256SqlWith(queryMod: Long): String =
    s"""WITH ${Queries11.bm25CtesFromTok(10, queryMod, zipfTokCte)}
       |SELECT q_id, doc_id, score_e6, rank::BIGINT AS rank
       |FROM lexrk ORDER BY q_id, rank""".stripMargin

  /** Shard-balance audit at 64 shards: jump / mod / rendezvous peak load
    * factors over the document ids — all three read ≈1e6 (uniform), which
    * is the evidence the O(log n) jump assignment can replace the digest
    * schemes in the export layout. [[graft.ops.Shard.shardBalance]]. */
  val q257ShardBalance: Q = (spark, dir) =>
    Shard.shardBalance(
        Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", numShards = 64)
      .orderBy("scheme")

  /** Per-scheme shard loads of `asg(scheme, shard)` at 64 shards and the
    * peak load factor (q257, q264). */
  private[graft] def shardBalanceSql: String =
    s"""h AS (SELECT scheme, shard, count(*)::BIGINT AS c
       |  FROM asg GROUP BY 1, 2),
       |g AS (SELECT scheme, count(*)::BIGINT AS n_shards_used,
       |    min(c)::BIGINT AS min_docs, max(c)::BIGINT AS max_docs,
       |    sum(c)::BIGINT AS n FROM h GROUP BY 1)
       |SELECT scheme, n_shards_used, min_docs, max_docs,
       |  (CASE WHEN n <= 0 THEN 0
       |        WHEN max_docs <= ${Long.MaxValue / (64L * 1000000L)}
       |          THEN max_docs * 64 * 1000000 // n
       |        ELSE max_docs * 64 // (n // 1000000) END)::BIGINT AS peak_ppm
       |FROM g ORDER BY scheme""".stripMargin

  val q257Sql: String =
    s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
       |jmp AS (
       |  SELECT doc_id, doc_id::UBIGINT AS k, -1::BIGINT AS b, 0::BIGINT AS j
       |  FROM ids
       |  UNION ALL
       |  SELECT doc_id, k2, j AS b,
       |    floor((j + 1) * (2147483648.0 / ((k2 >> 33) + 1)::DOUBLE))::BIGINT
       |  FROM (SELECT doc_id, j,
       |          ((k::HUGEINT * 2862933555777941757 + 1)
       |            % 18446744073709551616)::UBIGINT AS k2
       |        FROM jmp WHERE j < 64)),
       |asg AS (
       |  SELECT 'mod' AS scheme,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 64 AS shard
       |  FROM ids
       |  UNION ALL
       |  SELECT 'rendezvous', arg_max(t.s,
       |      md5(i.doc_id::VARCHAR || ':' || t.s::VARCHAR))
       |  FROM ids i CROSS JOIN range(64) t(s) GROUP BY i.doc_id
       |  UNION ALL
       |  SELECT 'jump', b FROM jmp WHERE j >= 64),
       |$shardBalanceSql""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q256_bm25_zipf", q256Bm25Zipf, q256Sql),
    QueryDef("q257_shard_balance", q257ShardBalance, q257Sql))
}
