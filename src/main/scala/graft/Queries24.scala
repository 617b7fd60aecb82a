package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Dedup, Scrub, Sketch, Vocab}

/** Twenty-fourth query wave: submodular selection and the release
  * datasheet capstone — greedy maximum-coverage document selection
  * (q199) and the per-source release-governance datasheet composing the
  * wave-19/21/22 audit family into one artifact (q200).
  */
object Queries24 {

  // ------------------------------------------------ greedy coverage
  private val CovK = 8

  /** Greedy max-coverage pick of 8 documents over word-BIGRAM shingles
    * (the fixture's unigram pool is ~31 words — one document covers it,
    * a degenerate objective; bigrams give the real submodular curve) —
    * see [[graft.ops.Vocab.greedyCoverage]]. */
  val q199GreedyCoverage: Q = (spark, dir) =>
    Vocab.greedyCoverage(Tables.documents(spark, dir), "doc_id", "text",
        CovK, shingleN = 2)
      .orderBy("round")

  val q199Sql: String = {
    val rounds = (1 to CovK).map { r =>
      val prevCov = s"cov${r - 1}"
      val prevPk = s"pk${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS c
         |  FROM dt d LEFT JOIN $prevCov c ON c.w = d.w
         |  WHERE c.w IS NULL
         |    AND doc_id NOT IN (SELECT doc_id FROM $prevPk)
         |  GROUP BY 1 ORDER BY c DESC, doc_id ASC LIMIT 1),
         |pk$r AS MATERIALIZED (SELECT doc_id FROM $prevPk
         |  UNION ALL SELECT doc_id FROM p$r),
         |cov$r AS MATERIALIZED (SELECT DISTINCT w FROM (
         |  SELECT w FROM $prevCov
         |  UNION ALL SELECT d.w FROM dt d JOIN p$r USING (doc_id)))"""
        .stripMargin
    }.mkString(",\n")
    val sel = (1 to CovK).map(r =>
      s"SELECT $r::BIGINT AS round, doc_id, c FROM p$r").mkString(
      "\nUNION ALL ")
    s"""WITH ${Queries2.ShinglesCte},
       |dt AS MATERIALIZED (SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(sh) AS w FROM sh) WHERE w <> ''),
       |tot AS (SELECT count(DISTINCT w)::BIGINT AS n FROM dt),
       |cov0 AS MATERIALIZED (SELECT w FROM dt WHERE 1 = 0),
       |pk0 AS MATERIALIZED (SELECT doc_id FROM dt WHERE 1 = 0),
       |$rounds,
       |u AS ($sel)
       |SELECT u.round, u.doc_id, u.c AS new_tokens,
       |  (sum(u.c) OVER (ORDER BY u.round
       |     ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens,
       |  ((sum(u.c) OVER (ORDER BY u.round ROWS UNBOUNDED PRECEDING))
       |     * 1000000 // greatest(tot.n, 1))::BIGINT AS coverage_ppm
       |FROM u, tot ORDER BY u.round""".stripMargin
  }

  // --------------------------------------------- release datasheet v2
  private val DsKmvK = 16
  private val DsKAnon = 5L
  private val DsP = 90

  /** Per-source release datasheet composing the round-12 audit family:
    * document counts, exact vs KMV-estimated distinct documents, exact
    * duplication rate, k-anonymity suppression rate, worst cross-source
    * mirror containment (full-text md5), and the P90 document length
    * (histogram-cumulative percentile). One row per source — the table
    * a release review reads first. */
  val q200ReleaseDatasheet: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val base = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val kmv = Sketch.kmvDistinct(docs.select(col("source"), col("text")),
        "source", "text", DsKmvK)
      .select(col("source"), col("kmv_estimate"))
    val exact = docs.select(col("source"), col("text")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
    val supp = Scrub.kAnonymity(
        docs.withColumn("len_bucket",
          expr("cast(n_chars AS bigint) div 256L")),
        Seq("source", "lang", "len_bucket"), DsKAnon)
      .groupBy(col("source"))
      .agg(sum(col("group_n")).as("__n"),
        sum(when(col("suppressed"), col("group_n")).otherwise(0L))
          .as("__s"))
      .select(col("source"),
        expr("__s * 1000000L div __n").as("suppression_ppm"))
    val mat = Dedup.crossSourceDupMatrix(docs, "source",
      graft.functions.HashFns.md5Hex(Dedup.normalized(col("text"))))
    val mirror = mat.select(col("src_a").as("source"),
        col("cont_a_ppm").as("c"))
      .unionByName(mat.select(col("src_b").as("source"),
        col("cont_b_ppm").as("c")))
      .groupBy(col("source")).agg(max(col("c")).as("max_mirror_ppm"))
    import org.apache.spark.sql.expressions.Window
    val hc = docs.groupBy(col("source"),
        col("n_chars").cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wv = Window.partitionBy(col("source")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p90 = hc
      .withColumn("__cum", sum(col("__c")).over(wv))
      .withColumn("__n",
        sum(col("__c")).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(min(when(col("__cum") * 100L >= col("__n") * DsP, col("__v")))
        .as("p90_chars"))
    base.join(exact, Seq("source")).join(kmv, Seq("source"))
      .join(supp, Seq("source"))
      .join(mirror, Seq("source"), "left")
      .join(p90, Seq("source"))
      .select(col("source"), col("n_docs"), col("exact_distinct"),
        col("kmv_estimate"),
        expr("(n_docs - exact_distinct) * 1000000L div n_docs")
          .as("dup_ppm"),
        col("suppression_ppm"),
        coalesce(col("max_mirror_ppm"), lit(0L)).as("max_mirror_ppm"),
        col("p90_chars"))
      .orderBy("source")
  }

  val q200Sql: String =
    s"""WITH base AS (SELECT source, count(*)::BIGINT AS n_docs
       |  FROM documents GROUP BY 1),
       |h AS (SELECT source,
       |    ('0x' || substr(md5('0:' || text), 1, 8))::BIGINT AS hv
       |  FROM documents),
       |kd AS (SELECT DISTINCT source, hv FROM h),
       |kr AS (SELECT source, hv,
       |    row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rn
       |  FROM kd),
       |kk AS (SELECT source, count(*)::BIGINT AS n_seen,
       |    max(hv)::BIGINT AS kth FROM kr WHERE rn <= $DsKmvK GROUP BY 1),
       |kmv AS (SELECT source,
       |    (CASE WHEN n_seen < $DsKmvK THEN n_seen
       |          ELSE (${DsKmvK - 1}::BIGINT * ${1L << 32})
       |               // greatest(kth, 1) END)::BIGINT AS kmv_estimate
       |  FROM kk),
       |ex AS (SELECT source, count(DISTINCT text)::BIGINT AS exact_distinct
       |  FROM documents GROUP BY 1),
       |ka AS (SELECT source,
       |    (sum(CASE WHEN gn < $DsKAnon THEN gn ELSE 0 END) * 1000000
       |       // sum(gn))::BIGINT AS suppression_ppm
       |  FROM (SELECT source, count(*)::BIGINT AS gn
       |        FROM (SELECT source, lang, n_chars::BIGINT // 256 AS lb
       |              FROM documents)
       |        GROUP BY source, lang, lb)
       |  GROUP BY 1),
       |fp AS (SELECT DISTINCT source,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |  FROM documents),
       |fsz AS (SELECT source, count(*)::BIGINT AS n FROM fp GROUP BY 1),
       |sh AS (SELECT a.source AS src_a, b.source AS src_b,
       |    count(*)::BIGINT AS n_shared
       |  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
       |  GROUP BY 1, 2),
       |mir AS (SELECT source, max(c)::BIGINT AS max_mirror_ppm FROM (
       |    SELECT sh.src_a AS source,
       |      sh.n_shared * 1000000 // sa.n AS c
       |    FROM sh JOIN fsz sa ON sa.source = sh.src_a
       |    UNION ALL
       |    SELECT sh.src_b, sh.n_shared * 1000000 // sb.n
       |    FROM sh JOIN fsz sb ON sb.source = sh.src_b)
       |  GROUP BY 1),
       |hc AS (SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS c
       |  FROM documents GROUP BY 1, 2),
       |rl AS (SELECT source, v,
       |    (sum(c) OVER (PARTITION BY source ORDER BY v ASC
       |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
       |    (sum(c) OVER (PARTITION BY source))::BIGINT AS n
       |  FROM hc),
       |p90 AS (SELECT source,
       |    min(CASE WHEN cum * 100 >= n * $DsP THEN v END)::BIGINT
       |      AS p90_chars
       |  FROM rl GROUP BY 1)
       |SELECT b.source, b.n_docs, ex.exact_distinct, kmv.kmv_estimate,
       |  ((b.n_docs - ex.exact_distinct) * 1000000 // b.n_docs)::BIGINT
       |    AS dup_ppm,
       |  ka.suppression_ppm,
       |  coalesce(mir.max_mirror_ppm, 0)::BIGINT AS max_mirror_ppm,
       |  p90.p90_chars
       |FROM base b JOIN ex USING (source) JOIN kmv USING (source)
       |JOIN ka USING (source)
       |LEFT JOIN mir USING (source)
       |JOIN p90 USING (source)
       |ORDER BY b.source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q199_greedy_coverage", q199GreedyCoverage, q199Sql),
    QueryDef("q200_release_datasheet", q200ReleaseDatasheet, q200Sql))
}
