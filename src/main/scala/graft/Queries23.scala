package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.HashFns
import graft.ops.{Decontaminate, Dedup, Similarity}

/** Twenty-third query wave: governance syntheses over the dedup/decon
  * families — reciprocal-nearest-neighbor confirmation of the LSH graph
  * (q195), decontamination n-gram tier sweep (q196), duplicated-span
  * position profile (q197), and the dedup-tier Venn reconciliation
  * (q198). Every query composes already-proven operators; the value is
  * the cross-method audit artifact.
  */
object Queries23 {

  // ------------------------------------------------ mutual-kNN filter
  private val MutualM = 3

  /** Reciprocal top-3 confirmation of the q47 candidate graph —
    * resolution-parameterized like q182/q190; see
    * [[graft.ops.Similarity.mutualRankFilter]]. */
  def q195MutualWith(spark: SparkSession, dir: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    val pairs = Similarity.rpLshNearDup(Tables.embeddings(spark, dir),
      "vec_id", "embedding", planes, bits, threshold = 0.35)
    Similarity.mutualRankFilter(pairs, MutualM).orderBy("id_a", "id_b")
  }

  val q195Mutual: Q = (spark, dir) =>
    q195MutualWith(spark, dir, Queries3.rpPlanes, Queries3.rpBits)

  def q195SqlWith(planes: Array[Array[Double]], bits: Int): String =
    s"""WITH ${Queries3.rpPairsCte("embeddings", 0.35, planes, bits)},
       |dirr AS (SELECT id_a AS src, id_b AS dst, sim FROM pairs
       |  UNION ALL SELECT id_b, id_a, sim FROM pairs),
       |rk AS (SELECT src, dst, sim,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst ASC)::BIGINT AS rnk
       |  FROM dirr),
       |f AS (SELECT * FROM rk WHERE rnk <= $MutualM)
       |SELECT x.src AS id_a, x.dst AS id_b, x.sim,
       |  x.rnk AS rank_ab, r.rnk AS rank_ba
       |FROM f x JOIN f r ON r.src = x.dst AND r.dst = x.src
       |  AND x.src < x.dst
       |ORDER BY id_a, id_b""".stripMargin

  val q195Sql: String = q195SqlWith(Queries3.rpPlanes, Queries3.rpBits)

  // ---------------------------------------------- decon tier sweep
  private val DeconTiers = Seq(5, 13)

  /** Decontamination n-gram tier sweep (the GPT-3/PaLM 8-/13-gram
    * tiers, here 5 vs 13): per tier, how many held-out docs leak, how
    * many spans, and the corpus leak rate — the table that picks the n
    * a release gates on. Composes [[Decontaminate.spanLeakAudit]] over
    * the q127 split (doc_id % 10 = 3 is eval). */
  val q196DeconTiers: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 10 =!= 3L)
    val ev = docs.filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id").as("eval_id"), col("text"))
    DeconTiers.map { k =>
      Decontaminate.spanLeakAudit(train, "doc_id", ev, "eval_id", "text", k)
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("n_leaked_spans") > 0L, 1L).otherwise(0L))
            .as("n_flagged"),
          sum(col("n_leaked_spans")).as("spans_leaked"),
          sum(col("n_spans")).as("spans_total"))
        .select(lit(k.toLong).as("k_tier"), col("n_eval"), col("n_flagged"),
          col("spans_leaked"), col("spans_total"),
          expr("CASE WHEN spans_total = 0 THEN 0L" +
            " ELSE spans_leaked * 1000000L div spans_total END")
            .as("corpus_leak_ppm"))
    }.reduce(_ unionByName _).orderBy("k_tier")
  }

  val q196Sql: String = {
    val blocks = DeconTiers.map { k =>
      val km1 = k - 1
      s"""e$k AS (SELECT doc_id AS eval_id, count(*)::BIGINT AS n_spans,
         |    count(tf.fp)::BIGINT AS n_leaked
         |  FROM (SELECT doc_id, md5(array_to_string(toks[i : i + $km1], ' '))
         |          AS fp
         |        FROM (SELECT doc_id, toks,
         |                unnest(generate_series(1, len(toks) - $km1)) AS i
         |              FROM t WHERE doc_id % 10 = 3 AND len(toks) >= $k)) es
         |  LEFT JOIN (SELECT DISTINCT
         |        md5(array_to_string(toks[i : i + $km1], ' ')) AS fp
         |      FROM (SELECT toks,
         |              unnest(generate_series(1, len(toks) - $km1)) AS i
         |            FROM t WHERE doc_id % 10 != 3 AND len(toks) >= $k)) tf
         |    USING (fp)
         |  GROUP BY 1),
         |a$k AS (SELECT $k::BIGINT AS k_tier,
         |    count(*)::BIGINT AS n_eval,
         |    sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END)::BIGINT
         |      AS n_flagged,
         |    sum(n_leaked)::BIGINT AS spans_leaked,
         |    sum(n_spans)::BIGINT AS spans_total
         |  FROM (SELECT ev.doc_id, coalesce(e$k.n_spans, 0) AS n_spans,
         |          coalesce(e$k.n_leaked, 0) AS n_leaked
         |        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 3) ev
         |        LEFT JOIN e$k ON e$k.eval_id = ev.doc_id))""".stripMargin
    }.mkString(",\n")
    val sel = DeconTiers.map(k => s"SELECT * FROM a$k").mkString(
      "\nUNION ALL ")
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |$blocks
       |SELECT k_tier, n_eval, n_flagged, spans_leaked, spans_total,
       |  (CASE WHEN spans_total = 0 THEN 0
       |        ELSE spans_leaked * 1000000 // spans_total END)::BIGINT
       |    AS corpus_leak_ppm
       |FROM ($sel) ORDER BY k_tier""".stripMargin
  }

  // ------------------------------------------- span position profile
  private val SpanK = 8

  /** Position-decile histogram of the cross-document duplicated-span
    * occurrences q119 cuts — see
    * [[graft.ops.Dedup.spanPositionProfile]]. */
  val q197SpanPositions: Q = (spark, dir) =>
    Dedup.spanPositionProfile(Tables.documents(spark, dir), "doc_id",
        "text", SpanK)
      .orderBy("decile")

  val q197Sql: String =
    s"""WITH ${Queries9.spanCutCtes(SpanK)},
       |nt AS (SELECT doc_id, len(toks)::BIGINT AS n FROM t)
       |SELECT ((cut.pos - 1) * 10 // nt.n)::BIGINT AS decile,
       |  count(*)::BIGINT AS n_spans,
       |  count(DISTINCT cut.doc_id)::BIGINT AS n_docs
       |FROM cut JOIN nt USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ dedup-tier Venn
  private val VennHashes = 12
  private val VennBands = 4
  private val VennJaccard = 0.5
  private val VennHamming = 3

  /** Dedup-tier Venn: per document, would EXACT dedup flag it (non-keeper
    * of a >1 md5 group), would MINHASH near-dup flag it (larger id of a
    * verified q14 pair), would SIMHASH flag it (larger id of a q73
    * bucket pair at Hamming ≤ 3) — and the eight-region count table
    * reconciling the three methods. The governance artifact that answers
    * "what does each extra dedup tier actually add?". */
  val q198DedupVenn: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val fp = docs.select(col("doc_id"),
      HashFns.md5Hex(Dedup.normalized(col("text"))).as("__fp"))
    val g = fp.groupBy(col("__fp"))
      .agg(min(col("doc_id")).as("__keep"), count(lit(1)).as("__n"))
    val exactF = fp.join(g, Seq("__fp"))
      .select(col("doc_id"),
        (col("__n") > 1L && col("doc_id") =!= col("__keep")).as("exact_dup"))
    val mhF = Dedup.minHashLshPairs(docs, "doc_id", "text", VennHashes,
        VennBands, VennJaccard)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("minhash_dup", lit(true))
    val shPairs = {
      val f = Dedup.simHashFingerprintsMd5(docs, "doc_id", "text")
      val a = f.select(col("bucket"), col("doc_id").as("id_a"),
        col("simhash").as("sh_a"))
      val b = f.select(col("bucket"), col("doc_id").as("id_b"),
        col("simhash").as("sh_b"))
      a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .filter(expr(s"bit_count(sh_a ^ sh_b) <= $VennHamming"))
    }
    val shF = shPairs.select(col("id_b").as("doc_id")).distinct()
      .withColumn("simhash_dup", lit(true))
    exactF.join(mhF, Seq("doc_id"), "left").join(shF, Seq("doc_id"), "left")
      .select(col("exact_dup"),
        coalesce(col("minhash_dup"), lit(false)).as("minhash_dup"),
        coalesce(col("simhash_dup"), lit(false)).as("simhash_dup"))
      .groupBy(col("exact_dup"), col("minhash_dup"), col("simhash_dup"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("exact_dup", "minhash_dup", "simhash_dup")
  }

  /** [[Queries2.SimHashCte]] minus its leading `t` CTE — q198's WITH
    * already defines the IDENTICAL `t` via [[Queries2.ShinglesCte]]
    * (both spell `string_split(NormSql, ' ')`), and SQL forbids the
    * duplicate name. */
  private def simHashTail: String =
    Queries2.SimHashCte.split("\n").drop(1).mkString("\n")

  val q198Sql: String = {
    val p = HashFns.MinHashP
    val perms = HashFns.minHashCoeffs(VennHashes).map { case (a, b) =>
      s"list_min(list_transform(hb, h -> ($a * h + $b) % $p))"
    }.mkString(",\n       ")
    s"""WITH ${Queries2.ShinglesCte},
       |xf AS (SELECT doc_id, md5(${Queries2.NormSql}) AS fp FROM documents),
       |xg AS (SELECT fp, min(doc_id) AS keep, count(*)::BIGINT AS n
       |  FROM xf GROUP BY 1),
       |ex AS (SELECT xf.doc_id,
       |    (xg.n > 1 AND xf.doc_id != xg.keep) AS exact_dup
       |  FROM xf JOIN xg USING (fp)),
       |hbs AS (SELECT doc_id, list_transform(sh,
       |          s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % $p) AS hb
       |        FROM sh),
       |mhsig AS (SELECT doc_id, [$perms] AS sig FROM hbs),
       |bands AS (SELECT doc_id, b,
       |    array_to_string(list_slice(sig, b*3 + 1, b*3 + 3), '_') AS bsig
       |  FROM mhsig, unnest(generate_series(0, ${VennBands - 1})) AS u(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bsig = c.bsig
       |    AND a.doc_id < c.doc_id),
       |mhf AS (SELECT DISTINCT id_b AS doc_id FROM (
       |    SELECT id_a, id_b,
       |      round(len(list_intersect(x.sh, y.sh))::DOUBLE
       |            / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS j
       |    FROM cand JOIN sh x ON x.doc_id = cand.id_a
       |              JOIN sh y ON y.doc_id = cand.id_b)
       |  WHERE j >= $VennJaccard),
       |${simHashTail},
       |shf AS (SELECT DISTINCT b.doc_id FROM fp a JOIN fp b
       |  ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $VennHamming)
       |SELECT ex.exact_dup,
       |  (mhf.doc_id IS NOT NULL) AS minhash_dup,
       |  (shf.doc_id IS NOT NULL) AS simhash_dup,
       |  count(*)::BIGINT AS n_docs
       |FROM ex LEFT JOIN mhf ON mhf.doc_id = ex.doc_id
       |LEFT JOIN shf ON shf.doc_id = ex.doc_id
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q195_mutual_knn", q195Mutual, q195Sql),
    QueryDef("q196_decon_tiers", q196DeconTiers, q196Sql),
    QueryDef("q197_span_positions", q197SpanPositions, q197Sql),
    QueryDef("q198_dedup_venn", q198DedupVenn, q198Sql))
}
