package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Graph, Linalg, Shard, Similarity, Vocab}

/** Twenty-first query wave: corpus-geometry and split governance —
  * all-but-the-top embedding deflation audit (q186), PMI-lift
  * collocation mining (q187), duplicate-cluster-aware fold assignment
  * (q188), per-language quality-threshold calibration (q189) and
  * k-core peeling of the near-dup candidate graph (q190). Same
  * determinism rules as [[Queries]]: fixed-point integer arithmetic,
  * md5-bridge hashing, denominator-downscaled ratios (never numerator
  * upscales that overflow at 64×).
  */
object Queries21 {

  // ------------------------------------------------- all-but-the-top
  private val PiRounds = 8

  /** Variance audit of removing the dominant embedding direction — see
    * [[graft.ops.Linalg.allButTop]]. */
  val q186AllButTop: Q = (spark, dir) =>
    Linalg.allButTop(Tables.embeddings(spark, dir), "vec_id", "embedding",
      PiRounds)

  val q186Sql: String =
    s"""WITH ${Queries20.powerIterationCtes(PiRounds)},
       |vv AS (SELECT sum(v * v)::BIGINT AS vv FROM v$PiRounds),
       |cc AS MATERIALIZED (SELECT x.vec_id, sum(x.e * v.v)::BIGINT AS c
       |  FROM x JOIN v$PiRounds v ON v.d = x.d GROUP BY 1),
       |rr AS MATERIALIZED (SELECT vec_id,
       |    (c * 1000000 // (SELECT vv FROM vv))::BIGINT AS r FROM cc),
       |ep AS MATERIALIZED (SELECT x.vec_id, x.d,
       |    (x.e - (rr.r * v.v // 1000000))::BIGINT AS e2
       |  FROM x JOIN rr USING (vec_id) JOIN v$PiRounds v ON v.d = x.d),
       |c2 AS (SELECT ep.vec_id, sum(ep.e2 * v.v)::BIGINT AS c2
       |  FROM ep JOIN v$PiRounds v ON v.d = ep.d GROUP BY 1),
       |bf AS (SELECT count(*)::BIGINT AS n_vectors,
       |    sum((c // 1000000) * (c // 1000000))::BIGINT AS var_top_before_q
       |  FROM cc),
       |af AS (SELECT
       |    sum((c2 // 1000000) * (c2 // 1000000))::BIGINT AS var_top_after_q
       |  FROM c2),
       |tt AS (SELECT sum(e * e)::BIGINT AS total_var_q FROM x)
       |SELECT bf.n_vectors, vv.vv, bf.var_top_before_q, af.var_top_after_q,
       |  ((bf.var_top_before_q - af.var_top_after_q)
       |     // greatest(bf.var_top_before_q // 1000000, 1))::BIGINT
       |    AS reduction_ppm,
       |  tt.total_var_q,
       |  ((bf.var_top_before_q // greatest(vv.vv // 1000000000000, 1))
       |     // greatest(tt.total_var_q // 1000000, 1))::BIGINT
       |    AS top_share_ppm
       |FROM bf, af, vv, tt""".stripMargin

  // --------------------------------------------------- collocations
  private val ColMinCount = 5L
  private val ColTopK = 50

  /** Top-50 bigram collocations by PMI lift with a count floor — see
    * [[graft.ops.Vocab.collocations]]. */
  val q187Collocations: Q = (spark, dir) =>
    Vocab.collocations(Tables.documents(spark, dir), "text", ColMinCount,
        ColTopK)
      .orderBy(col("lift_ppm").desc, col("w1").asc, col("w2").asc)

  val q187Sql: String =
    s"""WITH uni AS (SELECT tok AS word, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |          AS tok FROM documents)
       |  WHERE tok <> '' GROUP BY 1),
       |tot AS (SELECT sum(cnt)::BIGINT AS n_tokens FROM uni),
       |tok AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bg,
       |    toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM tok WHERE len(toks) >= 2)),
       |bc AS (SELECT w1, w2, count(*)::BIGINT AS bg_cnt
       |  FROM bg GROUP BY 1, 2 HAVING count(*) >= $ColMinCount)
       |SELECT b.w1, b.w2, b.bg_cnt, u1.cnt AS c1, u2.cnt AS c2,
       |  (b.bg_cnt * 1000000 // u1.cnt * tot.n_tokens // u2.cnt)::BIGINT
       |    AS lift_ppm
       |FROM bc b JOIN uni u1 ON u1.word = b.w1
       |JOIN uni u2 ON u2.word = b.w2, tot
       |ORDER BY lift_ppm DESC, b.w1 ASC, b.w2 ASC
       |LIMIT $ColTopK""".stripMargin

  // ------------------------------------------- cluster-aware folds
  private val NumFolds = 5

  /** Duplicate-cluster-aware fold report: per fold, sizes under the
    * leakage-safe assignment, plus the corpus-level straddle audit —
    * clusters split across folds under cluster-aware (must be 0) vs
    * doc-level naive hashing (the leak the op exists to prevent). See
    * [[graft.ops.Shard.clusterAwareFolds]]. */
  val q188ClusterFolds: Q = (spark, dir) => {
    val folds = Shard.clusterAwareFolds(Tables.documents(spark, dir),
      "doc_id", "text", NumFolds)
    val perFold = folds.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    val straddle = folds.groupBy(col("cluster_id"))
      .agg(countDistinct(col("fold")).as("__fa"),
        countDistinct(col("naive_fold")).as("__fn"))
      .agg(sum(when(col("__fa") > 1L, 1L).otherwise(0L))
          .as("straddling_clusters"),
        sum(when(col("__fn") > 1L, 1L).otherwise(0L))
          .as("naive_straddling_clusters"))
    perFold.crossJoin(broadcast(straddle)).orderBy("fold")
  }

  val q188Sql: String =
    s"""WITH fp AS (SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |cl AS (SELECT fp, min(doc_id)::BIGINT AS cluster_id
       |  FROM fp GROUP BY 1),
       |asg AS (SELECT f.doc_id, c.cluster_id,
       |    ('0x' || substr(md5('fold:' || c.cluster_id), 1, 4))::BIGINT
       |      % $NumFolds AS fold,
       |    ('0x' || substr(md5('fold:' || f.doc_id), 1, 4))::BIGINT
       |      % $NumFolds AS naive_fold
       |  FROM fp f JOIN cl c USING (fp)),
       |pf AS (SELECT fold, count(*)::BIGINT AS n_docs,
       |    count(DISTINCT cluster_id)::BIGINT AS n_clusters
       |  FROM asg GROUP BY 1),
       |st AS (SELECT
       |    sum(CASE WHEN fa > 1 THEN 1 ELSE 0 END)::BIGINT
       |      AS straddling_clusters,
       |    sum(CASE WHEN fn > 1 THEN 1 ELSE 0 END)::BIGINT
       |      AS naive_straddling_clusters
       |  FROM (SELECT cluster_id, count(DISTINCT fold)::BIGINT AS fa,
       |          count(DISTINCT naive_fold)::BIGINT AS fn
       |        FROM asg GROUP BY 1))
       |SELECT pf.fold, pf.n_docs, pf.n_clusters,
       |  st.straddling_clusters, st.naive_straddling_clusters
       |FROM pf, st ORDER BY pf.fold""".stripMargin

  // --------------------------------------- threshold calibration
  private val KeepPct = 30 // keep the longest 30% — cutoff at the 70th pct

  /** Per-language quality-threshold calibration: the per-language score
    * cutoff that keeps the top 30% (rank-ceil percentile, the q179 exact
    * spelling) vs what the single GLOBAL cutoff would keep in each
    * language — the keep-rate skew that motivates per-stratum
    * thresholds. */
  val q189ThresholdCalibration: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pct = 100 - KeepPct
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars").cast("long").as("score"))
    // histogram-cumulative percentile (the Quantiles.profile spelling):
    // windows run over DISTINCT-score frames, bounded by the value
    // domain — never a corpus-length sort partition
    val cnt = docs.groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("__c"))
    val wl = Window.partitionBy(col("lang")).orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lang = cnt
      .withColumn("__cum", sum(col("__c")).over(wl))
      .withColumn("__n",
        sum(col("__c")).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(max(col("__n")).as("n"),
        min(when(col("__cum") * 100L >= col("__n") * pct, col("score")))
          .as("lang_cutoff"))
    val gcnt = docs.groupBy(col("score")).agg(count(lit(1)).as("__c"))
    val wg = Window.orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = gcnt
      .withColumn("__cum", sum(col("__c")).over(wg))
      .withColumn("__n", sum(col("__c")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .agg(min(when(col("__cum") * 100L >= col("__n") * pct, col("score")))
        .as("global_cutoff"))
    val kept = docs.crossJoin(broadcast(global))
      .groupBy(col("lang"))
      .agg(sum(when(col("score") >= col("global_cutoff"), 1L).otherwise(0L))
          .as("__kg"),
        max(col("global_cutoff")).as("global_cutoff"))
    val keptLang = docs
      .join(lang.select(col("lang"), col("lang_cutoff")), Seq("lang"))
      .groupBy(col("lang"))
      .agg(sum(when(col("score") >= col("lang_cutoff"), 1L).otherwise(0L))
        .as("__kl"))
    lang.join(kept, Seq("lang")).join(keptLang, Seq("lang"))
      .select(col("lang"), col("n"), col("lang_cutoff"), col("global_cutoff"),
        expr("__kl * 1000000L div n").as("calibrated_keep_ppm"),
        expr("__kg * 1000000L div n").as("naive_keep_ppm"))
      .orderBy("lang")
  }

  val q189Sql: String = {
    val pct = 100 - KeepPct
    s"""WITH d AS (SELECT lang, n_chars::BIGINT AS score FROM documents),
       |hc AS (SELECT lang, score, count(*)::BIGINT AS c
       |  FROM d GROUP BY 1, 2),
       |rl AS (SELECT lang, score,
       |    (sum(c) OVER (PARTITION BY lang ORDER BY score ASC
       |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
       |    (sum(c) OVER (PARTITION BY lang))::BIGINT AS n
       |  FROM hc),
       |lc AS (SELECT lang, max(n)::BIGINT AS n,
       |    min(CASE WHEN cum * 100 >= n * $pct THEN score END)::BIGINT
       |      AS lang_cutoff
       |  FROM rl GROUP BY 1),
       |gh AS (SELECT score, count(*)::BIGINT AS c FROM d GROUP BY 1),
       |rg AS (SELECT score,
       |    (sum(c) OVER (ORDER BY score ASC
       |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
       |    (sum(c) OVER ())::BIGINT AS n
       |  FROM gh),
       |gc AS (SELECT min(CASE WHEN cum * 100 >= n * $pct THEN score
       |    END)::BIGINT AS global_cutoff FROM rg),
       |kp AS (SELECT d.lang,
       |    sum(CASE WHEN d.score >= gc.global_cutoff THEN 1 ELSE 0
       |      END)::BIGINT AS kg,
       |    max(gc.global_cutoff)::BIGINT AS global_cutoff
       |  FROM d, gc GROUP BY 1),
       |kl AS (SELECT d.lang,
       |    sum(CASE WHEN d.score >= lc.lang_cutoff THEN 1 ELSE 0
       |      END)::BIGINT AS kl
       |  FROM d JOIN lc USING (lang) GROUP BY 1)
       |SELECT lc.lang, lc.n, lc.lang_cutoff, kp.global_cutoff,
       |  (kl.kl * 1000000 // lc.n)::BIGINT AS calibrated_keep_ppm,
       |  (kp.kg * 1000000 // lc.n)::BIGINT AS naive_keep_ppm
       |FROM lc JOIN kp USING (lang) JOIN kl USING (lang)
       |ORDER BY lc.lang""".stripMargin
  }

  // ------------------------------------------------------- k-core
  private val CoreK = 2L
  private val CoreRounds = 8

  /** 8-round 2-core peel of the q47 LSH candidate graph — strip pendant
    * trees until only cycle-bearing duplicate families remain (the
    * fixture's 64-dim noise floor caps degrees at ~7, so the 2-core is
    * the densest non-empty core here; k is a parameter, not a magic
    * number). Resolution-parameterized like q182. See
    * [[graft.ops.Graph.kCorePeel]]. */
  def q190KCoreWith(spark: SparkSession, dir: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    val pairs = Similarity.rpLshNearDup(Tables.embeddings(spark, dir),
      "vec_id", "embedding", planes, bits, threshold = 0.35)
    Graph.kCorePeel(pairs, "id_a", "id_b", CoreK, CoreRounds).orderBy("node")
  }

  val q190KCore: Q = (spark, dir) =>
    q190KCoreWith(spark, dir, Queries3.rpPlanes, Queries3.rpBits)

  def q190SqlWith(planes: Array[Array[Double]], bits: Int): String = {
    val peels = (1 to CoreRounds).map { r =>
      s"""k$r AS MATERIALIZED (SELECT node FROM (
         |    SELECT node, count(*)::BIGINT AS deg
         |    FROM (SELECT u AS node FROM e${r - 1}
         |          UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1)
         |  WHERE deg >= $CoreK),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON a.node = e.u JOIN k$r b ON b.node = e.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${Queries3.rpPairsCte("embeddings", 0.35, planes, bits)},
       |e0 AS MATERIALIZED (SELECT DISTINCT id_a AS u, id_b AS v FROM pairs
       |  WHERE id_a <> id_b),
       |$peels
       |SELECT node, count(*)::BIGINT AS deg
       |FROM (SELECT u AS node FROM e$CoreRounds
       |      UNION ALL SELECT v FROM e$CoreRounds)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val q190Sql: String = q190SqlWith(Queries3.rpPlanes, Queries3.rpBits)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q186_all_but_top", q186AllButTop, q186Sql),
    QueryDef("q187_collocations", q187Collocations, q187Sql),
    QueryDef("q188_cluster_folds", q188ClusterFolds, q188Sql),
    QueryDef("q189_threshold_calibration", q189ThresholdCalibration, q189Sql),
    QueryDef("q190_k_core", q190KCore, q190Sql))
}
