package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.{HashFns, TextFns}
import graft.ops.{Dedup, Sketch}

/** Nineteenth query wave: corpus-audit sketches and provenance — KMV
  * bottom-k distinct estimation (q177), MinHash source-overlap matrix
  * (q178), mergeable histogram quantile sketch (q179) and the
  * cross-source duplication/containment matrix (q180). Same determinism
  * rules as [[Queries]]: md5-bridge hashing, integer estimators, every
  * audit carries its exact counterpart in the same row.
  */
object Queries19 {

  /** Shared tokenization CTE over documents (the q119 wordTokens mirror). */
  private val TokCte =
    """occ AS (SELECT source, lang, unnest(
      |    string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents)""".stripMargin

  // ----------------------------------------------------- KMV distinct
  private val KmvK = 16

  /** KMV bottom-16 sketch of distinct DOCUMENT fingerprints per source,
    * with the exact distinct count as the audit — the tiny mergeable
    * state a shard manifest keeps to answer "how many unique documents
    * does each source contribute" — see
    * [[graft.ops.Sketch.kmvDistinct]]. */
  val q177KmvDistinct: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("text"))
    val est = Sketch.kmvDistinct(docs, "source", "text", KmvK)
    val exact = docs.distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, Seq("source"))
      .withColumn("err_ppm",
        expr("abs(kmv_estimate - exact_distinct) * 1000000L div exact_distinct"))
      .orderBy("source")
  }

  val q177Sql: String =
    s"""WITH h AS (SELECT source,
       |    ('0x' || substr(md5('0:' || text), 1, 8))::BIGINT AS hv
       |  FROM documents),
       |d AS (SELECT DISTINCT source, hv FROM h),
       |r AS (SELECT source, hv,
       |    row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rn
       |  FROM d),
       |k AS (SELECT source, count(*)::BIGINT AS n_seen,
       |    max(hv)::BIGINT AS kth_hash
       |  FROM r WHERE rn <= $KmvK GROUP BY 1),
       |est AS (SELECT source, n_seen, kth_hash,
       |    (CASE WHEN n_seen < $KmvK THEN n_seen
       |          ELSE (${KmvK - 1}::BIGINT * ${1L << 32})
       |               // greatest(kth_hash, 1) END)::BIGINT AS kmv_estimate
       |  FROM k),
       |ex AS (SELECT source,
       |    count(DISTINCT text)::BIGINT AS exact_distinct
       |  FROM documents GROUP BY 1)
       |SELECT e.source, e.n_seen, e.kth_hash, e.kmv_estimate,
       |  x.exact_distinct,
       |  (abs(e.kmv_estimate - x.exact_distinct) * 1000000
       |     // x.exact_distinct)::BIGINT AS err_ppm
       |FROM est e JOIN ex x USING (source) ORDER BY e.source""".stripMargin

  // ------------------------------------------- source overlap matrix
  private val OverlapHashes = 32

  /** MinHash source-overlap matrix: one 32-component signature per
    * source over its token set, pairwise component agreement as the
    * Jaccard estimate, exact token-set Jaccard as the audit — the
    * mixture-planning table that shows which corpora duplicate each
    * other's vocabulary. See [[graft.ops.Sketch.minHashSignature]]. */
  val q178SourceOverlap: Q = (spark, dir) => {
    val occ = Tables.documents(spark, dir).select(col("source"),
      explode(TextFns.wordTokens(col("text"))).as("token"))
    val sig = Sketch.minHashSignature(occ, "source", "token", OverlapHashes)
    val pairs = sig.as("a").join(sig.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          m => m)).cast("long").as("n_match"))
      .withColumn("mh_jaccard_ppm",
        expr(s"n_match * 1000000L div ${OverlapHashes}L"))
    val dt = occ.distinct()
    val sizes = dt.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val inter = dt.as("x").join(dt.as("y"),
        col("x.token") === col("y.token") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("__i"))
    pairs
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(sizes.select(col("source").as("src_a"), col("__n").as("__na")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("__n").as("__nb")),
        Seq("src_b"))
      .withColumn("__i", coalesce(col("__i"), lit(0L)))
      .withColumn("exact_jaccard_ppm",
        expr("__i * 1000000L div (__na + __nb - __i)"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        col("mh_jaccard_ppm"), col("exact_jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  val q178Sql: String = {
    val p = HashFns.MinHashP
    val perms = HashFns.minHashCoeffs(OverlapHashes).zipWithIndex.map {
      case ((a, b), i) => s"min(($a * hb + $b) % $p) AS m$i"
    }.mkString(",\n    ")
    val sigList = HashFns.minHashCoeffs(OverlapHashes).indices
      .map(i => s"m$i").mkString(", ")
    s"""WITH $TokCte,
       |hb AS (SELECT source,
       |    ('0x' || substr(md5('0:' || w), 1, 8))::BIGINT % $p AS hb
       |  FROM occ),
       |sig AS (SELECT source,
       |    $perms
       |  FROM hb GROUP BY 1),
       |sg AS (SELECT source, [$sigList] AS sig FROM sig),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
       |    len(list_filter(list_transform(generate_series(1, $OverlapHashes),
       |      i -> a.sig[i::INT] = b.sig[i::INT]), x -> x))::BIGINT AS n_match
       |  FROM sg a JOIN sg b ON a.source < b.source),
       |dt AS (SELECT DISTINCT source, w FROM occ),
       |sz AS (SELECT source, count(*)::BIGINT AS n FROM dt GROUP BY 1),
       |iv AS (SELECT x.source AS src_a, y.source AS src_b,
       |    count(*)::BIGINT AS i
       |  FROM dt x JOIN dt y ON x.w = y.w AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, p.n_match,
       |  (p.n_match * 1000000 // $OverlapHashes)::BIGINT AS mh_jaccard_ppm,
       |  (coalesce(iv.i, 0) * 1000000
       |     // (sa.n + sb.n - coalesce(iv.i, 0)))::BIGINT AS exact_jaccard_ppm
       |FROM pairs p
       |LEFT JOIN iv ON iv.src_a = p.src_a AND iv.src_b = p.src_b
       |JOIN sz sa ON sa.source = p.src_a
       |JOIN sz sb ON sb.source = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin
  }

  // --------------------------------------- histogram quantile sketch
  private val HistBin = 16L
  private val HistQs = Seq(50, 90, 99)

  /** Mergeable histogram quantile sketch over document lengths per
    * source (16-char bins, P50/P90/P99), exact percentiles as the audit
    * — see [[graft.ops.Sketch.histogramQuantiles]]. */
  val q179HistQuantiles: Q = (spark, dir) =>
    Sketch.histogramQuantiles(Tables.documents(spark, dir), "source",
        "n_chars", HistBin, HistQs)
      .orderBy("source")

  val q179Sql: String = {
    val exacts = HistQs.map(q =>
      s"min(CASE WHEN r * 100 >= n * $q THEN v END)::BIGINT AS exact_p$q")
      .mkString(",\n    ")
    val sks = HistQs.map(q =>
      s"""min(CASE WHEN cum * 100 >= n * $q THEN (b + 1) * $HistBin
         |      END)::BIGINT AS sketch_p$q""".stripMargin).mkString(",\n    ")
    val outCols = HistQs.map(q => s"sk.sketch_p$q, ex.exact_p$q")
      .mkString(",\n  ")
    s"""WITH v AS (SELECT source, n_chars::BIGINT AS v FROM documents),
       |rk AS (SELECT source, v,
       |    row_number() OVER (PARTITION BY source ORDER BY v ASC)::BIGINT AS r,
       |    (count(*) OVER (PARTITION BY source))::BIGINT AS n
       |  FROM v),
       |ex AS (SELECT source, max(n)::BIGINT AS n_values,
       |    $exacts
       |  FROM rk GROUP BY 1),
       |hist AS (SELECT source, v // $HistBin AS b, count(*)::BIGINT AS c
       |  FROM v GROUP BY 1, 2),
       |ch AS (SELECT source, b, c,
       |    (sum(c) OVER (PARTITION BY source ORDER BY b ASC
       |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
       |    (sum(c) OVER (PARTITION BY source))::BIGINT AS n
       |  FROM hist),
       |sk AS (SELECT source, count(*)::BIGINT AS n_bins,
       |    $sks
       |  FROM ch GROUP BY 1)
       |SELECT ex.source, ex.n_values, sk.n_bins,
       |  $outCols
       |FROM ex JOIN sk USING (source) ORDER BY ex.source""".stripMargin
  }

  // ------------------------------------- cross-source dup containment
  private val FpTokens = 5

  /** Cross-source boilerplate containment: sources sharing 5-token
    * normalized PREFIX fingerprints (the template audit — full-text md5
    * finds exact mirrors, the prefix finds shared openings), counts and
    * asymmetric containment per pair — see
    * [[graft.ops.Dedup.crossSourceDupMatrix]]. */
  val q180CrossSourceDups: Q = (spark, dir) => {
    val fp = md5(array_join(
      slice(TextFns.wordTokens(col("text")), 1, FpTokens), " "))
    Dedup.crossSourceDupMatrix(Tables.documents(spark, dir), "source", fp)
      .orderBy("src_a", "src_b")
  }

  val q180Sql: String =
    s"""WITH fp AS (SELECT DISTINCT source,
       |    md5(array_to_string(
       |      string_split_regex(lower(trim(text)), '\\s+')[1:$FpTokens],
       |      ' ')) AS f
       |  FROM documents),
       |sz AS (SELECT source, count(*)::BIGINT AS n FROM fp GROUP BY 1),
       |sh AS (SELECT a.source AS src_a, b.source AS src_b,
       |    count(*)::BIGINT AS n_shared
       |  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT sh.src_a, sh.src_b, sh.n_shared,
       |  sa.n AS n_a, sb.n AS n_b,
       |  (sh.n_shared * 1000000 // sa.n)::BIGINT AS cont_a_ppm,
       |  (sh.n_shared * 1000000 // sb.n)::BIGINT AS cont_b_ppm
       |FROM sh JOIN sz sa ON sa.source = sh.src_a
       |JOIN sz sb ON sb.source = sh.src_b
       |ORDER BY sh.src_a, sh.src_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q177_kmv_distinct", q177KmvDistinct, q177Sql),
    QueryDef("q178_source_overlap", q178SourceOverlap, q178Sql),
    QueryDef("q179_hist_quantiles", q179HistQuantiles, q179Sql),
    QueryDef("q180_cross_source_dups", q180CrossSourceDups, q180Sql))
}
