package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Audit, Dedup, Mixture}

/** Thirty-third query wave: pipeline self-QA — chi-square uniformity of
  * the md5 split sampler (q229), variance-weighted QC-sample allocation
  * (q230), and near-miss pair mining for a learned dedup classifier
  * (q231).
  */
object Queries33 {

  private val Buckets = 64

  /** Uniformity audit of the q56 hash splitter over the lineitem
    * composite key — the sampler itself under QC. */
  val q229SamplerUniformity: Q = (spark, dir) =>
    Audit.samplerUniformity(Tables.lineitem(spark, dir),
      concat(col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")), Buckets)

  val q229Sql: String =
    s"""WITH b AS (SELECT
       |    ('0x' || substr(md5(l_orderkey::VARCHAR || '_' ||
       |      l_linenumber::VARCHAR), 1, 8))::BIGINT % $Buckets AS bk
       |  FROM lineitem),
       |g AS (SELECT bk, count(*)::BIGINT AS o FROM b GROUP BY 1),
       |t AS (SELECT sum(o)::BIGINT AS n FROM g)
       |SELECT min(t.n)::BIGINT AS n, $Buckets::BIGINT AS k,
       |  count(*)::BIGINT AS buckets_seen,
       |  ((sum(($Buckets * o::HUGEINT - t.n) * ($Buckets * o::HUGEINT - t.n))
       |    + ($Buckets - count(*))::HUGEINT * min(t.n) * min(t.n)) * 1000000
       |    // ($Buckets::HUGEINT * min(t.n)))::BIGINT AS chi2_e6,
       |  ${Buckets - 1}::BIGINT AS dof
       |FROM g CROSS JOIN t""".stripMargin

  /** Variance-weighted inspection budget (1000 docs) across sources —
    * spread strata get more QC eyeballs. */
  val q230VarianceAllocation: Q = (spark, dir) =>
    Mixture.varianceAllocation(Tables.documents(spark, dir),
        "source", "n_chars", budget = 1000L)
      .orderBy("source")

  val q230Sql: String =
    """WITH per AS (SELECT source, count(*)::BIGINT AS n,
      |    sum(n_chars)::BIGINT AS sv,
      |    sum(n_chars::BIGINT * n_chars::BIGINT)::BIGINT AS sv2
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, n,
      |    (sv2 - 2 * (sv // n) * sv + n * (sv // n) * (sv // n))::BIGINT
      |      AS var_weight
      |  FROM per),
      |t AS (SELECT sum(var_weight)::BIGINT AS tw, sum(n)::BIGINT AS tn
      |  FROM w)
      |SELECT source, n, var_weight,
      |  least(n, CASE WHEN t.tw = 0 THEN 1000 * n // t.tn
      |    ELSE 1000 * var_weight // t.tw END)::BIGINT AS alloc
      |FROM w CROSS JOIN t ORDER BY source""".stripMargin

  /** Near-miss pairs in the hamming (3, 10] band above q73's dup cut —
    * the labeled boundary cases a learned dedup classifier trains on.
    * The registered query binds the fixture 8-bit bucket resolution;
    * [[q231NearMissWith]] re-derives it (`Dedup.simHashBitsFor`) for the
    * scaled proofs — the q171 precedent. */
  val q231NearMissPairs: Q = (spark, dir) => q231NearMissWith(spark, dir, 8)

  def q231NearMissWith(spark: SparkSession, dir: String,
      prefixBits: Int): DataFrame =
    Dedup.nearMissPairs(Tables.documents(spark, dir), "doc_id", "text",
        hamLo = 4, hamHi = 10, prefixBits = prefixBits)
      .orderBy("id_a", "id_b")

  val q231Sql: String = q231SqlWith(8)

  def q231SqlWith(prefixBits: Int): String =
    s"""WITH ${Queries2.simHashCteWith(prefixBits)},
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |  FROM fp a JOIN fp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) BETWEEN 4 AND 10),
       |sh2 AS (SELECT doc_id,
       |    CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
       |         ELSE list_distinct(list_transform(
       |           generate_series(1, len(tk) - 1),
       |           i -> tk[i::INT] || ' ' || tk[(i + 1)::INT])) END AS sh
       |  FROM t)
       |SELECT c.id_a, c.id_b, c.hamming,
       |  round(len(list_intersect(x.sh, y.sh))::DOUBLE
       |    / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
       |FROM cand c JOIN sh2 x ON x.doc_id = c.id_a
       |JOIN sh2 y ON y.doc_id = c.id_b
       |ORDER BY c.id_a, c.id_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q229_sampler_uniformity", q229SamplerUniformity, q229Sql),
    QueryDef("q230_variance_allocation", q230VarianceAllocation, q230Sql),
    QueryDef("q231_near_miss_pairs", q231NearMissPairs, q231Sql))
}
