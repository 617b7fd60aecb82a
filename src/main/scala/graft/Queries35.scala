package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Audit, Mixture, Quantiles, RankEval, Retrieval}

/** Thirty-fifth query wave: retrieval scale-hardening and global-order
  * analytics on the round-13 two-phase rank/cumsum primitive — the BM25
  * document-frequency cutoff (q234), token-budget best-first data
  * selection (q235), the Lorenz concentration curve (q236), exact order
  * statistics over an all-distinct domain (q237), conversion-lag
  * percentiles (q238), coverage depth (q239), the global Gini (q240),
  * the cutoff-agreement audit (q241), and token-mass weighted order
  * statistics (q242). None of the nine plans a single-partition
  * exchange (PlanAudit-clean).
  */
object Queries35 {

  /** q142's passage retrieval with ultra-high-df terms (> 30% of
    * passages) dropped from the probe — the deploy-scale spelling: a
    * stopword's postings list is corpus-sized, so it dominates both the
    * probe join's run time and its key skew while its near-zero idf
    * barely moves ranks. Top-5 per query re-ranked on surviving terms
    * only; [[graft.ops.Retrieval.bm25Scores]] `maxDfPpm`. */
  val q234PassageRetrievalDfCut: Q = (spark, dir) =>
    Queries12.passageRetrieval(spark, dir, maxDfPpm = Some(300000L))

  val q234Sql: String = Queries12.q142SqlWith(Some(300000L))

  /** Best-first pretraining selection under a 50k-token corpus budget:
    * documents scored by unique-token ratio (a cheap quality proxy —
    * repetitive docs score low), globally ranked, kept top-down while the
    * running token total fits. [[graft.ops.Mixture.budgetSelection]]. */
  val q235BudgetSelection: Q = (spark, dir) => {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        // array_remove: wordTokens emits [""] on whitespace-only text —
        // mirror the oracle's blank filter (codegen'd, no HOF)
        array_remove(graft.functions.TextFns.wordTokens(col("text")), "")
          .as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("__toks"))).cast("long").as("__uniq"))
      .filter(col("n_tokens") > 0L)
      .withColumn("score_ppm", expr("__uniq * 1000000L div n_tokens"))
    Mixture.budgetSelection(scored, "doc_id", "score_ppm", "n_tokens",
        budget = 50000L)
      .orderBy("rank")
  }

  val q235Sql: String =
    """WITH tok AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |per AS (SELECT doc_id,
      |    len(list_filter(ts, t -> t <> ''))::BIGINT AS n_tokens,
      |    len(list_distinct(list_filter(ts, t -> t <> '')))::BIGINT AS uniq
      |  FROM tok),
      |sc AS (SELECT doc_id, n_tokens,
      |    (uniq * 1000000 // n_tokens)::BIGINT AS score_ppm
      |  FROM per WHERE n_tokens > 0),
      |r AS (SELECT doc_id, score_ppm, n_tokens,
      |    row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC)::BIGINT
      |      AS rank,
      |    sum(n_tokens) OVER (ORDER BY score_ppm DESC, doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS cum_tokens
      |  FROM sc)
      |SELECT rank, doc_id, score_ppm, n_tokens, cum_tokens
      |FROM r WHERE cum_tokens <= 50000 ORDER BY rank""".stripMargin

  /** Corpus concentration: lineitem revenue over parts as a 20-bucket
    * Lorenz table — "the top 5% of SKUs hold X% of revenue".
    * [[graft.ops.Audit.lorenzCurve]]. */
  val q236LorenzCurve: Q = (spark, dir) =>
    Audit.lorenzCurve(Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("rev_e2")),
      "l_partkey", "rev_e2", nBuckets = 20)
      .orderBy("bucket")

  /** Each part's revenue rank and running revenue `r` over `per`, in
    * descending order (q236, q239). */
  private def revenueRankCte: String =
    """r AS (SELECT value,
      |    row_number() OVER (ORDER BY value DESC, l_partkey ASC)::BIGINT
      |      AS rank,
      |    sum(value) OVER (ORDER BY value DESC, l_partkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
      |  FROM per)""".stripMargin

  val q236Sql: String =
    s"""WITH ${Queries30.partRevenueCte},
      |nn AS (SELECT count(*)::BIGINT AS n, sum(value) AS tot FROM per),
      |$revenueRankCte,
      |b AS (SELECT ((rank * 20 + nn.n - 1) // nn.n)::BIGINT AS bucket,
      |    value, cum, nn.tot FROM r CROSS JOIN nn)
      |SELECT bucket, count(*)::BIGINT AS n_entities,
      |  sum(value)::BIGINT AS value_sum, max(cum)::BIGINT AS cum_value,
      |  (CASE WHEN max(tot) <= 9223372036854
      |    THEN max(cum) * 1000000 // max(tot)::BIGINT
      |    ELSE max(cum) // (max(tot) // 1000000)::BIGINT END)::BIGINT
      |    AS cum_share_ppm
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact p50/p90/p99/p100 of the per-user monetary total — an
    * all-distinct domain where the histogram spelling degenerates;
    * [[graft.ops.Quantiles.orderStatistics]] (two-phase rank select). */
  val q237OrderStatistics: Q = (spark, dir) => {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 10000).cast("long")).as("monetary_e4"))
    Quantiles.orderStatistics(perUser, "monetary_e4", "user_id",
        Seq(50, 90, 99, 100))
      .orderBy("p")
  }

  val q237Sql: String =
    """WITH pu AS (SELECT user_id,
      |    sum(round(value * 10000)::BIGINT)::BIGINT AS monetary_e4
      |  FROM events GROUP BY 1),
      |nn AS (SELECT count(*)::BIGINT AS n FROM pu),
      |r AS (SELECT monetary_e4,
      |    row_number() OVER (ORDER BY monetary_e4 ASC, user_id ASC)::BIGINT
      |      AS rank
      |  FROM pu),
      |t AS (SELECT p, ((p * nn.n + 99) // 100)::BIGINT AS rank
      |  FROM (VALUES (50), (90), (99), (100)) v(p) CROSS JOIN nn)
      |SELECT t.p::BIGINT AS p, t.rank, r.monetary_e4
      |FROM t JOIN r USING (rank) ORDER BY p""".stripMargin

  /** Conversion-lag SLA: per user with both a signup and a purchase, the
    * lag from FIRST signup to FIRST purchase in microseconds — an
    * all-distinct domain — read out as exact p50/p90/p99/p100 via
    * [[graft.ops.Quantiles.orderStatistics]]. */
  val q238ConversionLag: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    def firstOf(t: String, out: String): DataFrame = e
      .filter(col("event_type") === t)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as(out))
    val lags = firstOf("signup", "__su")
      .join(firstOf("purchase", "__pu"), Seq("user_id"))
      .select(col("user_id"), (col("__pu") - col("__su")).as("lag_us"))
    Quantiles.orderStatistics(lags, "lag_us", "user_id", Seq(50, 90, 99, 100))
      .orderBy("p")
  }

  val q238Sql: String =
    """WITH su AS (SELECT user_id, min(epoch_us(ts))::BIGINT AS s
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (SELECT user_id, min(epoch_us(ts))::BIGINT AS pt
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |lag AS (SELECT su.user_id, (pu.pt - su.s)::BIGINT AS lag_us
      |  FROM su JOIN pu USING (user_id)),
      |nn AS (SELECT count(*)::BIGINT AS n FROM lag),
      |r AS (SELECT lag_us,
      |    row_number() OVER (ORDER BY lag_us ASC, user_id ASC)::BIGINT
      |      AS rank
      |  FROM lag),
      |t AS (SELECT p, ((p * nn.n + 99) // 100)::BIGINT AS rank
      |  FROM (VALUES (50), (90), (99), (100)) v(p) CROSS JOIN nn)
      |SELECT t.p::BIGINT AS p, t.rank, r.lag_us
      |FROM t JOIN r USING (rank) ORDER BY p""".stripMargin

  /** Coverage depth over lineitem part revenue — how many top SKUs reach
    * 50/80/90/99% of total revenue ([[graft.ops.Audit.coverageDepth]],
    * the inverse readout of q236's Lorenz table). */
  val q239CoverageDepth: Q = (spark, dir) =>
    Audit.coverageDepth(Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("rev_e2")),
      "l_partkey", "rev_e2",
      thresholdsPpm = Seq(500000L, 800000L, 900000L, 990000L))
      .orderBy("threshold_ppm")

  val q239Sql: String =
    s"""WITH ${Queries30.partRevenueCte},
      |tot AS (SELECT sum(value) AS t FROM per),
      |$revenueRankCte,
      |th AS (SELECT tp::BIGINT AS threshold_ppm,
      |    ((tot.t * tp + 999999) // 1000000)::BIGINT AS target
      |  FROM (VALUES (500000), (800000), (900000), (990000)) v(tp)
      |  CROSS JOIN tot)
      |SELECT th.threshold_ppm,
      |  min(CASE WHEN r.cum >= th.target THEN r.rank END)::BIGINT
      |    AS entities_needed,
      |  min(CASE WHEN r.cum >= th.target THEN r.cum END)::BIGINT
      |    AS value_covered
      |FROM th CROSS JOIN r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Global Gini of per-user monetary totals — corpus-scale inequality
    * with no group key to partition on ([[graft.ops.Audit.giniGlobal]]:
    * two-phase rank, decimal Σi·x). */
  val q240GiniGlobal: Q = (spark, dir) =>
    Audit.giniGlobal(Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 10000).cast("long")).as("monetary_e4")),
      "monetary_e4", "user_id")

  val q240Sql: String =
    """WITH pu AS (SELECT user_id,
      |    sum(round(value * 10000)::BIGINT)::BIGINT AS x
      |  FROM events GROUP BY 1),
      |r AS (SELECT x,
      |    row_number() OVER (ORDER BY x ASC, user_id ASC)::BIGINT AS i
      |  FROM pu)
      |SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS total,
      |  ((2 * sum(i::HUGEINT * x) - (count(*) + 1)::HUGEINT * sum(x))
      |    * 1000000 // (count(*)::HUGEINT * sum(x)))::BIGINT AS gini_ppm
      |FROM r""".stripMargin

  /** What the q234 df cutoff actually dropped: per-query top-5 overlap
    * between the uncut (q142) and cut (q234) passage shortlists —
    * [[graft.ops.RankEval.overlapAtK]]; the governance table that turns
    * the 2.3× speedup into a measured agreement number. */
  val q241CutoffAgreement: Q = (spark, dir) =>
    cutoffAgreement(spark, dir, queryMod = 50L)

  /** Both routes share ONE postings build (`Retrieval.postings`
    * lazy-checkpoints the tf table), so the corpus is chunked and
    * tokenized once instead of once per route — same-session A/B at
    * sf0.1: 8.23 → 6.68 s min-of-3 vs the two-independent-plans
    * spelling (the score/rank passes, not the build, dominate) — AND one
    * checkpointed [[graft.ops.Retrieval.bm25WeightsShared]] (r19): per-term
    * weights are cutoff-invariant, so the cut route is a row FILTER on
    * the shared table and the dfreq/dl joins + idf·tfn arithmetic run
    * once instead of once per route. The oracle's CTE chain is the same
    * factoring (tf/dl/dfreq/st materialize once; its wt/wt_cut CTEs both
    * read them — engine now also shares the wt weights themselves, same
    * integers either way). */
  private[graft] def cutoffAgreement(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val (p, queries) = Queries12.passagePostings(spark, dir, queryMod)
    // scored by BOTH routes; the checkpoint DECLARES its doc partitioning
    // (graftbridge), so each route is one exchange-free stage over it
    val wt = Retrieval.bm25WeightsShared(p, "passage_id")
    val qterms = Retrieval.queryTerms(queries, "q_id", "q_text")
      .localCheckpoint(false) // probes BOTH routes
    def route(maxDfPpm: Option[Long]): DataFrame =
      Queries12.top5Passages(wt, qterms, maxDfPpm)
        .select(col("q_id"), col("passage_id"))
    RankEval.overlapAtK(route(None), route(Some(300000L)),
        "q_id", "passage_id")
      .orderBy("q_id")
  }

  val q241Sql: String = q241SqlWith(50L)

  /** [[q241Sql]] with the query-sample modulus parameterized for the k×
    * proofs (see [[Queries11.q130Bm25With]]). */
  def q241SqlWith(queryMod: Long): String = {
    def sc(alias: String, maxDfPpm: Option[Long]): String =
      s"""$alias AS MATERIALIZED (SELECT q_id, passage_id FROM (
         |  SELECT q_id, passage_id,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY score_e6 DESC, passage_id) AS rank
         |  FROM ${if (maxDfPpm.isDefined) "sc_cut" else "sc"}) WHERE rank <= 5)""".stripMargin
    // one WITH: the shared uncut CTE chain, plus a cut score CTE re-using
    // the same postings (dfc_cut filters dfreq; wt_cut/sc_cut mirror
    // Retrieval.bm25Scores(maxDfPpm))
    s"""WITH ${Queries12.passageScoreCtes(None, queryMod)},
       |dfc_cut AS MATERIALIZED (SELECT f.term, f.df FROM dfreq f CROSS JOIN st
       |  WHERE f.df * 1000000 <= 300000 * st.n_docs),
       |${Queries11.bm25WeightCte("wt_cut", "passage_id", "dfc_cut")},
       |sc_cut AS (SELECT q.q_id, w.passage_id, sum(w.c_e6)::BIGINT AS score_e6
       |  FROM qt q JOIN wt_cut w USING (term)
       |  WHERE w.passage_id != q.q_id AND w.passage_id // 10000 != q.q_id
       |  GROUP BY 1, 2),
       |${sc("ra", None)},
       |${sc("rb", Some(300000L))},
       |na AS (SELECT q_id, count(*)::BIGINT AS n_a FROM ra GROUP BY 1),
       |nb AS (SELECT q_id, count(*)::BIGINT AS n_b FROM rb GROUP BY 1),
       |ovl AS (SELECT ra.q_id, count(*)::BIGINT AS n_common
       |  FROM ra JOIN rb USING (q_id, passage_id) GROUP BY 1),
       |j AS (SELECT coalesce(na.q_id, nb.q_id) AS q_id,
       |    coalesce(na.n_a, 0)::BIGINT AS n_a,
       |    coalesce(nb.n_b, 0)::BIGINT AS n_b
       |  FROM na FULL OUTER JOIN nb ON na.q_id = nb.q_id),
       |fin AS (SELECT j.q_id, j.n_a, j.n_b,
       |    coalesce(ovl.n_common, 0)::BIGINT AS n_common
       |  FROM j LEFT JOIN ovl ON ovl.q_id = j.q_id)
       |SELECT q_id, n_a, n_b, n_common,
       |  (CASE WHEN n_a + n_b - n_common = 0 THEN NULL
       |    ELSE n_common * 1000000 // (n_a + n_b - n_common) END)::BIGINT
       |    AS jaccard_ppm,
       |  (CASE WHEN n_a = 0 THEN NULL
       |    ELSE n_common * 1000000 // n_a END)::BIGINT AS containment_ppm
       |FROM fin ORDER BY q_id""".stripMargin
  }

  /** Token-mass length percentiles: the document length at which 50/90/
    * 99% of the corpus' TOKENS lie at-or-below — the packing/truncation
    * sizing readout (a doc-count median wildly understates where the
    * token mass sits on long-tailed corpora).
    * [[graft.ops.Quantiles.weightedOrderStatistics]] with value = weight
    * = token count. */
  val q242TokenMassLengths: Q = (spark, dir) => {
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(array_remove(graft.functions.TextFns.wordTokens(col("text")),
          "")).cast("long").as("n_tokens"))
    Quantiles.weightedOrderStatistics(lens, "n_tokens", "n_tokens",
        "doc_id", Seq(50, 90, 99))
      .orderBy("p")
  }

  val q242Sql: String =
    """WITH lens AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> ''))::BIGINT AS n_tokens
      |  FROM documents),
      |tw AS (SELECT sum(n_tokens)::BIGINT AS w FROM lens),
      |r AS (SELECT n_tokens,
      |    sum(n_tokens) OVER (ORDER BY n_tokens ASC, doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS cw
      |  FROM lens),
      |t AS (SELECT p, ((tw.w * p + 99) // 100)::BIGINT AS target_weight
      |  FROM (VALUES (50), (90), (99)) v(p) CROSS JOIN tw)
      |SELECT t.p::BIGINT AS p, t.target_weight,
      |  min(CASE WHEN r.cw >= t.target_weight THEN r.n_tokens END)::BIGINT
      |    AS n_tokens
      |FROM t CROSS JOIN r GROUP BY 1, 2 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q234_bm25_df_cutoff", q234PassageRetrievalDfCut, q234Sql),
    QueryDef("q235_budget_selection", q235BudgetSelection, q235Sql),
    QueryDef("q236_lorenz_curve", q236LorenzCurve, q236Sql),
    QueryDef("q237_order_statistics", q237OrderStatistics, q237Sql),
    QueryDef("q238_conversion_lag", q238ConversionLag, q238Sql),
    QueryDef("q239_coverage_depth", q239CoverageDepth, q239Sql),
    QueryDef("q240_gini_global", q240GiniGlobal, q240Sql),
    QueryDef("q241_cutoff_agreement", q241CutoffAgreement, q241Sql),
    QueryDef("q242_token_mass_lengths", q242TokenMassLengths, q242Sql))
}
