package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Graph, RankEval, Retrieval, Similarity, TopK}

/** Twelfth query wave: the evaluation-and-governance layer over the wave-11
  * retrieval stack, plus the data-prep closers — PRF query expansion
  * (q134) and the score-reusing expanded second pass it feeds (q137),
  * weak-label nDCG/MRR retrieval audit (q135) and the three-route A/B
  * bake-off (q138), clamped kNN label propagation (q136), embedding-norm
  * outlier gating (q139), release PSI drift (q140), sentence-aware
  * chunking (q141) with passage-level BM25 (q142) and the budgeted
  * passage-context serving capstone (q143), interleaved multimodal
  * sequence packing (q144), and SFT conversation rendering with loss-mask
  * spans (q145). Same determinism rules as [[Queries]]; the DCG gain
  * tables are driver-computed integer literals shared between the Spark
  * plan and the oracle SQL, so no libm call survives to run time.
  */
object Queries12 {

  // ----------------------------------------- PRF query expansion
  /** RM3-lite expansion terms: BM25 top-5 feedback docs per query (the
    * q130 query sample), terms weighted by summed length-normalized
    * frequency, query's own terms excluded, top-3 kept — see
    * [[graft.ops.Retrieval.prfExpansion]]. One postings build serves
    * both the feedback rank and the feedback-set term fetch — the corpus
    * text is tokenized ONCE. */
  val q134PrfExpansion: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val p = Retrieval.postings(d, "doc_id", "text")
    val qterms = Retrieval.queryTerms(Queries11.textQueries(d), "q_id", "q_text")
    val fb = Retrieval.bm25Rank(p, "doc_id", qterms, "q_id", 5)
      .select(col("q_id"), col("doc_id"))
    Retrieval.prfExpansion(p, "doc_id", fb, qterms, "q_id", nTerms = 3)
      .orderBy("q_id", "rank")
  }

  /** The BM25 chain plus PRF feedback: top-5 docs `fb`, their terms'
    * length-normalized weights `ex` and the non-query terms `fe` (q134,
    * q137). */
  private def prfFeedbackCtes: String =
    s"""${Queries11.bm25CtesShared(5)},
       |fb AS MATERIALIZED (SELECT q_id, doc_id FROM lexrk),
       |ex AS MATERIALIZED (SELECT f.q_id, t.term,
       |    sum(t.tf * 1000000 // l.dl)::BIGINT AS weight_ppm
       |  FROM fb f JOIN tf t USING (doc_id) JOIN dl l USING (doc_id)
       |  GROUP BY 1, 2),
       |fe AS (SELECT e.q_id, e.term, e.weight_ppm
       |  FROM ex e LEFT JOIN qt q ON q.q_id = e.q_id AND q.term = e.term
       |  WHERE q.term IS NULL)""".stripMargin

  val q134Sql: String =
    s"""WITH $prfFeedbackCtes,
       |rk AS (SELECT q_id, term, weight_ppm,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY weight_ppm DESC, term) AS rank
       |  FROM fe)
       |SELECT q_id, term, weight_ppm, rank::BIGINT AS rank
       |FROM rk WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------- retrieval quality audit
  /** nDCG@10 / MRR / recall of the cosine-kNN route under cluster-label
    * agreement as weak relevance (a retrieved vector is "relevant" when
    * it shares the query's `label`) — see [[graft.ops.RankEval.ndcgAudit]].
    * The same audit runs against click logs or editorial judgments at
    * deploy time; labels make it self-contained here. */
  val q135RetrievalNdcg: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") % 50 === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("label").as("__qlab"))
    val ranked = Similarity.knnJoin(e, "vec_id", "embedding",
      queries.select(col("q_id"), col("qvec")), "q_id", "qvec", 10)
    val rels = queries.select(col("q_id"), col("__qlab"))
      .join(e.select(col("vec_id"), col("label")),
        col("label") === col("__qlab") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    RankEval.ndcgAudit(ranked, "q_id", "vec_id", "rank", rels, k = 10)
      .orderBy("q_id")
  }

  /** The labelled vector query sample `qs(q_id, qvec, qlab)` and its
    * exact cosine top-k shortlist `name(q_id, vec_id, rank)` (q135, q138). */
  private def labelledKnnCtes(name: String, k: Int): String =
    s"""qs AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qvec, label AS qlab
       |  FROM embeddings WHERE vec_id % 50 = 7),
       |$name AS MATERIALIZED (SELECT q_id, vec_id, rank FROM (
       |  SELECT q.q_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY
       |      round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 6) DESC,
       |      e.vec_id) AS rank
       |  FROM embeddings e, qs q WHERE e.vec_id != q.q_id) WHERE rank <= $k)""".stripMargin

  val q135Sql: String = {
    val gains = RankEval.dcgGainsE6(10).mkString(", ")
    val cum = RankEval.idealCumE6(10).mkString(", ")
    s"""WITH ${labelledKnnCtes("rkd", 10)},
       |rels AS MATERIALIZED (SELECT q.q_id, e.vec_id
       |  FROM qs q JOIN embeddings e ON e.label = q.qlab AND e.vec_id != q.q_id),
       |tot AS (SELECT q_id, count(*)::BIGINT AS n_rel_total FROM rels GROUP BY 1),
       |g AS (SELECT [$gains] AS gains, [$cum] AS cum),
       |mk AS (SELECT r.q_id,
       |    count(l.vec_id)::BIGINT AS n_rel_at_k,
       |    coalesce(sum(CASE WHEN l.vec_id IS NOT NULL
       |      THEN (SELECT gains FROM g)[r.rank] END), 0)::BIGINT AS dcg_e6,
       |    min(CASE WHEN l.vec_id IS NOT NULL THEN r.rank END)::BIGINT AS first_rel
       |  FROM rkd r LEFT JOIN rels l ON l.q_id = r.q_id AND l.vec_id = r.vec_id
       |  GROUP BY 1)
       |SELECT m.q_id, m.n_rel_at_k,
       |  coalesce(t.n_rel_total, 0)::BIGINT AS n_rel_total,
       |  coalesce(1000000 // m.first_rel, 0)::BIGINT AS mrr_ppm,
       |  m.dcg_e6,
       |  (CASE WHEN coalesce(t.n_rel_total, 0) = 0 THEN 0
       |        ELSE (SELECT cum FROM g)[least(t.n_rel_total, 10)::INT]
       |   END)::BIGINT AS idcg_e6,
       |  (CASE WHEN coalesce(t.n_rel_total, 0) = 0 THEN 0
       |        ELSE m.dcg_e6 * 1000000 // (SELECT cum FROM g)[least(t.n_rel_total, 10)::INT]
       |   END)::BIGINT AS ndcg_ppm
       |FROM mk m LEFT JOIN tot t USING (q_id)
       |ORDER BY m.q_id""".stripMargin
  }

  // --------------------------------------- kNN label propagation
  /** Semi-supervised labeling: every 5th vector forms the q133 3-NN
    * graph; nodes whose vec_id is also divisible by 3 seed their true
    * `label`, and 3 clamped propagation rounds spread labels by
    * out-neighbor majority (ties to the smallest label) — see
    * [[graft.ops.Graph.labelPropagation]]. */
  val q136LabelPropagation: Q = (spark, dir) => {
    val s = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0L)
    val qv = s.select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val edges = Similarity.knnJoin(s, "vec_id", "embedding", qv, "q_id", "qvec", 3)
    val seeds = s.filter(col("vec_id") % 3 === 0L)
      .select(col("vec_id"), col("label"))
    Graph.labelPropagation(edges, "q_id", "vec_id", seeds, "vec_id", "label",
        iters = 3)
      .orderBy("node")
  }

  private def lpRoundSql(k: Int): String =
    s"""ct$k AS MATERIALIZED (SELECT e.src AS v, l.lab, count(*)::BIGINT AS c
       |  FROM k3 e JOIN l${k - 1} l ON l.v = e.dst
       |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
       |pk$k AS MATERIALIZED (SELECT v, lab FROM (
       |  SELECT v, lab, row_number() OVER (PARTITION BY v
       |    ORDER BY c DESC, lab ASC) AS rn FROM ct$k) WHERE rn = 1),
       |l$k AS MATERIALIZED (SELECT l.v,
       |    CASE WHEN l.seed THEN l.lab ELSE coalesce(p.lab, l.lab) END AS lab,
       |    l.seed
       |  FROM l${k - 1} l LEFT JOIN pk$k p ON p.v = l.v)""".stripMargin

  val q136Sql: String = {
    val rounds = (1 to 3).map(lpRoundSql).mkString(",\n")
    s"""WITH s AS MATERIALIZED (SELECT vec_id, embedding, label FROM embeddings
       |  WHERE vec_id % 5 = 0),
       |${Queries11.knn3Cte},
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT src AS v FROM k3 UNION ALL SELECT dst FROM k3)),
       |l0 AS MATERIALIZED (SELECT n.v, sd.lab, sd.lab IS NOT NULL AS seed
       |  FROM nodes n LEFT JOIN (
       |    SELECT vec_id AS v, label::BIGINT AS lab FROM s
       |    WHERE vec_id % 3 = 0) sd ON sd.v = n.v),
       |$rounds
       |SELECT v AS node, coalesce(lab, -1)::BIGINT AS label, seed AS is_seed
       |FROM l3 ORDER BY node""".stripMargin
  }

  // --------------------------------------- expanded second-pass BM25
  /** The PRF loop CLOSED: second-pass BM25@10 probing with each query's
    * original terms ∪ its q134 expansion terms — the retrieval run the
    * expansion table exists to feed. One postings build and one shared
    * weight table ([[graft.ops.Retrieval.bm25WeightsShared]]) serve the
    * feedback pass, the expansion weights and the final rank; original
    * and expansion term sets are disjoint by construction (the expansion
    * anti-joins the query's own terms), so the probe union is exact in
    * both engines. */
  val q137ExpandedBm25: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val queries = Queries11.textQueries(d)
    val p = Retrieval.postings(d, "doc_id", "text")
    val orig = Retrieval.queryTerms(queries, "q_id", "q_text")
    // ONE checkpointed weight table serves both probe passes (r19): the
    // per-term weights are probe-independent, so s1 and s2 differ only in
    // which (query, term) pairs they join — the dfreq/dl attachment and
    // the idf·tfn arithmetic run once, not once per pass; the checkpoint
    // DECLARES its doc partitioning, so each pass is exchange-free
    val wt = Retrieval.bm25WeightsShared(p, "doc_id")
    // BM25 scores are additive over disjoint probe sets, so the first
    // pass's UN-truncated score table is half of the expanded answer:
    // rank its top-5 as the feedback set, probe ONLY the (≤3 per query)
    // expansion terms in pass two, and sum — the original probe set is
    // never re-joined (the expensive join at degenerate-vocabulary worst
    // case; see ops.Retrieval.bm25Scores)
    val s1 = Retrieval.bm25Scores(wt, "doc_id", orig, "q_id")
      .localCheckpoint(eager = false)
    val fb = TopK.topNPerGroup("q_id", "score_e6", "doc_id", 5)(s1)
      .select(col("q_id"), col("doc_id"))
    val exp = Retrieval.prfExpansion(p, "doc_id", fb, orig, "q_id", nTerms = 3)
      .select(col("q_id"), col("term").as("__term"))
    val s2 = Retrieval.bm25Scores(wt, "doc_id", exp, "q_id")
    TopK.rankPerGroup("q_id", "score_e6", "doc_id", 10, "rank")(
        s1.unionByName(s2)
          .groupBy(col("q_id"), col("doc_id"))
          .agg(sum(col("score_e6")).as("score_e6")))
      .orderBy("q_id", "rank")
  }

  val q137Sql: String =
    s"""WITH $prfFeedbackCtes,
       |xt AS MATERIALIZED (SELECT q_id, term FROM (
       |  SELECT q_id, term,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY weight_ppm DESC, term) AS rank
       |  FROM fe) WHERE rank <= 3),
       |eq AS MATERIALIZED (SELECT q_id, term FROM qt
       |  UNION ALL SELECT q_id, term FROM xt),
       |sc2 AS (SELECT q.q_id, w.doc_id, sum(w.c_e6)::BIGINT AS score_e6
       |  FROM eq q JOIN wt w USING (term)
       |  WHERE w.doc_id != q.q_id GROUP BY 1, 2),
       |rk2 AS (SELECT q_id, doc_id, score_e6,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY score_e6 DESC, doc_id) AS rank
       |  FROM sc2)
       |SELECT q_id, doc_id, score_e6, rank::BIGINT AS rank
       |FROM rk2 WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------- route A/B governance
  /** The retrieval bake-off table: q135's weak-label audit run against
    * all three routes — lexical BM25@10, semantic cosine-kNN@10, and the
    * hybrid RRF@10 fusion of their top-20s — one row per (route, query),
    * the evidence a deployment cites when it turns hybrid on. Routes
    * share one postings build and one kNN scan; each audit joins
    * shortlist-sized frames only. */
  val q138RouteAb: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val lex20 = Queries11.bm25TopK(d, 20)
      .select(col("q_id"), col("doc_id").as("vec_id"), col("rank"))
      .localCheckpoint(eager = false)
    val qv = e.filter(col("vec_id") % 50 === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("label").as("__qlab"))
    val sem20 = Similarity.knnJoin(e, "vec_id", "embedding",
        qv.select(col("q_id"), col("qvec")), "q_id", "qvec", 20)
      .select(col("q_id"), col("vec_id"), col("rank"))
      .localCheckpoint(eager = false)
    val hyb = Retrieval.rrfFuse(Seq(lex20, sem20), "q_id", "vec_id", "rank", k = 10)
      .select(col("q_id"), col("vec_id"), col("rank"))
    val rels = qv.select(col("q_id"), col("__qlab"))
      .join(e.select(col("vec_id"), col("label")),
        col("label") === col("__qlab") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .localCheckpoint(eager = false)
    def audit(route: String, ranked: DataFrame): DataFrame =
      RankEval.ndcgAudit(ranked, "q_id", "vec_id", "rank", rels, k = 10)
        .withColumn("route", lit(route))
    audit("lexical", lex20.filter(col("rank") <= 10))
      .unionByName(audit("semantic", sem20.filter(col("rank") <= 10)))
      .unionByName(audit("hybrid", hyb))
      .select(col("route"), col("q_id"), col("n_rel_at_k"), col("n_rel_total"),
        col("mrr_ppm"), col("dcg_e6"), col("idcg_e6"), col("ndcg_ppm"))
      .orderBy("route", "q_id")
  }

  val q138Sql: String = {
    val gains = RankEval.dcgGainsE6(10).mkString(", ")
    val cum = RankEval.idealCumE6(10).mkString(", ")
    def auditSelect(route: String, src: String): String =
      s"""SELECT '$route' AS route, r.q_id,
         |    count(l.vec_id)::BIGINT AS n_rel_at_k,
         |    coalesce(any_value(t.n_rel_total), 0)::BIGINT AS n_rel_total,
         |    coalesce(1000000 // min(CASE WHEN l.vec_id IS NOT NULL THEN r.rank END), 0)::BIGINT AS mrr_ppm,
         |    coalesce(sum(CASE WHEN l.vec_id IS NOT NULL
         |      THEN (SELECT gains FROM g)[r.rank::INT] END), 0)::BIGINT AS dcg_e6,
         |    (CASE WHEN coalesce(any_value(t.n_rel_total), 0) = 0 THEN 0
         |          ELSE (SELECT cum FROM g)[least(any_value(t.n_rel_total), 10)::INT]
         |     END)::BIGINT AS idcg_e6,
         |    (CASE WHEN coalesce(any_value(t.n_rel_total), 0) = 0 THEN 0
         |          ELSE coalesce(sum(CASE WHEN l.vec_id IS NOT NULL
         |                 THEN (SELECT gains FROM g)[r.rank::INT] END), 0)
         |               * 1000000 // (SELECT cum FROM g)[least(any_value(t.n_rel_total), 10)::INT]
         |     END)::BIGINT AS ndcg_ppm
         |  FROM $src r
         |  LEFT JOIN rels l ON l.q_id = r.q_id AND l.vec_id = r.vec_id
         |  LEFT JOIN tot t ON t.q_id = r.q_id
         |  GROUP BY r.q_id""".stripMargin
    s"""WITH ${Queries11.bm25CtesShared(20)},
       |${labelledKnnCtes("sem", 20)},
       |lex AS MATERIALIZED (SELECT q_id, doc_id AS vec_id, rank FROM lexrk),
       |pts AS (SELECT q_id, vec_id, 1000000 // (60 + rank) AS pts FROM lex
       |  UNION ALL SELECT q_id, vec_id, 1000000 // (60 + rank) FROM sem),
       |hyb AS MATERIALIZED (SELECT q_id, vec_id, rank FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rrf_ppm DESC, vec_id) AS rank
       |  FROM (SELECT q_id, vec_id, sum(pts)::BIGINT AS rrf_ppm
       |        FROM pts GROUP BY 1, 2)) WHERE rank <= 10),
       |rels AS MATERIALIZED (SELECT q.q_id, e.vec_id
       |  FROM qs q JOIN embeddings e ON e.label = q.qlab AND e.vec_id != q.q_id),
       |tot AS MATERIALIZED (SELECT q_id, count(*)::BIGINT AS n_rel_total
       |  FROM rels GROUP BY 1),
       |g AS (SELECT [$gains] AS gains, [$cum] AS cum),
       |lex10 AS (SELECT q_id, vec_id, rank FROM lex WHERE rank <= 10),
       |sem10 AS (SELECT q_id, vec_id, rank FROM sem WHERE rank <= 10)
       |${auditSelect("lexical", "lex10")}
       |UNION ALL
       |${auditSelect("semantic", "sem10")}
       |UNION ALL
       |${auditSelect("hybrid", "hyb")}
       |ORDER BY route, q_id""".stripMargin
  }

  // --------------------------------------- embedding norm outlier gate
  /** Pre-index embedding health check: integer squared norms against the
    * corpus Tukey fences — see [[graft.ops.Embed.normOutlierGate]] (all
    * quartile/fence arithmetic is dyadic-exact, so the verdict is
    * engine-bitwise). */
  val q139NormOutliers: Q = (spark, dir) =>
    graft.ops.Embed.normOutlierGate(
        Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy("vec_id")

  val q139Sql: String =
    """WITH n2 AS MATERIALIZED (SELECT vec_id,
      |    sum(floor(x * 1000.0 + 0.5)::BIGINT * floor(x * 1000.0 + 0.5)::BIGINT)::BIGINT AS norm2_q
      |  FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM embeddings)
      |  GROUP BY 1),
      |nn AS (SELECT count(*)::BIGINT AS n FROM n2),
      |r AS (SELECT norm2_q,
      |    row_number() OVER (ORDER BY norm2_q ASC, vec_id ASC)::BIGINT
      |      AS rank
      |  FROM n2),
      |f AS (SELECT
      |    min(CASE WHEN rank = (25 * nn.n + 99) // 100 THEN norm2_q END)
      |      AS q1,
      |    min(CASE WHEN rank = (75 * nn.n + 99) // 100 THEN norm2_q END)
      |      AS q3
      |  FROM r CROSS JOIN nn)
      |SELECT vec_id, norm2_q,
      |  (norm2_q::DOUBLE < q1 - 1.5 * (q3 - q1)) AS is_low,
      |  (norm2_q::DOUBLE > q3 + 1.5 * (q3 - q1)) AS is_high
      |FROM n2, f ORDER BY vec_id""".stripMargin

  // ------------------------------------------------- release PSI drift
  /** Distribution drift between the q100 synthetic previous release and
    * the current corpus: PSI over 16 token-count buckets — see
    * [[graft.ops.Delta.psiReport]]. Complements q100's row-level diff
    * with the statistical read a dataset release note cites. */
  val q140ReleasePsi: Q = (spark, dir) => {
    val cur = Tables.documents(spark, dir)
    val prev = Queries8.previousRelease(cur)
    def bucketed(d: DataFrame): DataFrame = d.select(
      expr(s"least(n_tokens div 16, 15)").as("len_bucket"))
      .withColumn("len_bucket", col("len_bucket").cast("long"))
    def withTokens(d: DataFrame): DataFrame =
      d.select(graft.functions.TextFns.tokenCount(col("text")).as("n_tokens"))
    graft.ops.Delta.psiReport(
        bucketed(withTokens(prev)), bucketed(withTokens(cur)), "len_bucket")
      .orderBy("len_bucket")
  }

  val q140Sql: String =
    """WITH cur AS MATERIALIZED (SELECT doc_id, text FROM documents),
      |prev AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 3 THEN text || ' [v1]' ELSE text END AS text
      |  FROM cur WHERE doc_id % 11 != 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000000, text FROM cur WHERE doc_id % 13 = 5),
      |ba AS (SELECT least(nt // 16, 15)::BIGINT AS len_bucket, count(*)::BIGINT AS n
      |  FROM (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
      |        FROM prev) GROUP BY 1),
      |bb AS (SELECT least(nt // 16, 15)::BIGINT AS len_bucket, count(*)::BIGINT AS n
      |  FROM (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
      |        FROM cur) GROUP BY 1),
      |j AS (SELECT coalesce(ba.len_bucket, bb.len_bucket) AS len_bucket,
      |    coalesce(ba.n, 0)::BIGINT AS n_prev, coalesce(bb.n, 0)::BIGINT AS n_cur
      |  FROM ba FULL OUTER JOIN bb ON ba.len_bucket = bb.len_bucket),
      |tot AS (SELECT sum(n_prev)::BIGINT AS ta, sum(n_cur)::BIGINT AS tb,
      |    count(*)::BIGINT AS nb FROM j),
      |p AS (SELECT len_bucket, n_prev, n_cur,
      |    ((n_prev + 1) * 1000000 // (ta + nb))::BIGINT AS p_prev_ppm,
      |    ((n_cur + 1) * 1000000 // (tb + nb))::BIGINT AS p_cur_ppm
      |  FROM j, tot)
      |SELECT len_bucket, n_prev, n_cur, p_prev_ppm, p_cur_ppm,
      |  floor((p_prev_ppm - p_cur_ppm)::DOUBLE
      |        * ln(p_prev_ppm::DOUBLE / p_cur_ppm::DOUBLE) + 0.5)::BIGINT AS psi_e6
      |FROM p ORDER BY len_bucket""".stripMargin

  /** The fixture text is punctuation-free, so the sentence family seeds
    * deterministic terminators first: every 6-token run gains a trailing
    * period (RE2-safe bounded repetition, identical left-to-right
    * replacement semantics in both engines). */
  private[graft] def sentenced(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      regexp_replace(col("text"), "((\\S+\\s+){5}\\S+)\\s+", "$1. ").as("text"))

  private[graft] val SentencedSql: String =
    """sd AS MATERIALIZED (SELECT doc_id,
      |    regexp_replace(text, '((\S+\s+){5}\S+)\s+', '\1. ', 'g') AS text
      |  FROM documents)""".stripMargin

  // --------------------------------------------- sentence-aware chunks
  /** RAG passage construction that never cuts a sentence: terminator-run
    * split + offset-division packing at 16 tokens — see
    * [[graft.ops.Chunk.sentenceChunks]]. */
  val q141SentenceChunks: Q = (spark, dir) =>
    graft.ops.Chunk.sentenceChunks(
        sentenced(Tables.documents(spark, dir)), "doc_id", "text", maxTokens = 16)
      .orderBy("doc_id", "chunk_id")

  /** Sentences `se` of the sentenced docs `sd`, their token counts `sf`
    * and per-doc running token sums `cm` (q141, q142's passages). */
  private def sentenceCumCtes: String =
    s"""$SentencedSql,
       |se AS (SELECT doc_id, i AS pos, trim(sl[i]) AS s FROM (
       |    SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS sl
       |    FROM sd), unnest(generate_series(1, len(sl))) AS g(i)),
       |sf AS (SELECT doc_id, pos, s,
       |    len(string_split_regex(s, '\\s+'))::BIGINT AS n_tok
       |  FROM se WHERE s <> ''),
       |cm AS (SELECT doc_id, pos, s, n_tok,
       |    sum(n_tok) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sf)""".stripMargin

  val q141Sql: String =
    s"""WITH $sentenceCumCtes
       |SELECT doc_id, ((cum - n_tok) // 16)::BIGINT AS chunk_id,
       |  string_agg(s, ' ' ORDER BY pos) AS chunk,
       |  count(*)::BIGINT AS n_sentences,
       |  sum(n_tok)::BIGINT AS n_tokens
       |FROM cm GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin

  // ----------------------------------------------- passage retrieval
  /** Retrieval at the unit RAG actually serves: BM25 over sentence-packed
    * PASSAGES (q141's chunks, passage_id = doc_id·10⁴ + chunk_id), top-5
    * passages per query, the query's own document excluded. Whole-doc
    * ranking (q130) finds the document; this finds the span to stuff in
    * the prompt. */
  val q142PassageRetrieval: Q = (spark, dir) =>
    passageRetrieval(spark, dir, maxDfPpm = None)

  /** q142's plan with the probe-side df cutoff and the query-sample
    * modulus as parameters — the registered q142 runs uncut at the
    * fixture modulus; q234 runs the Lucene-style stopword cut at
    * 300000 ppm (drops the fixture's ~30 heavy terms, each in ~1/3 of
    * all passages — the probe join's skew spine); the k× hash-proof
    * re-derives `queryMod` so the query set stays BOUNDED while the
    * corpus scales (see [[Queries11.q130Bm25With]]). */
  private[graft] def passageRetrieval(spark: SparkSession, dir: String,
      maxDfPpm: Option[Long], queryMod: Long = 50L): DataFrame = {
    val (p, queries) = passagePostings(spark, dir, queryMod)
    top5Passages(Retrieval.bm25Weights(p, "passage_id"),
        Retrieval.queryTerms(queries, "q_id", "q_text"), maxDfPpm)
      .select(col("q_id"), col("passage_id"),
        expr("passage_id div 10000L").as("doc_id"), col("score_e6"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** The postings of the sentence-packed passages (passage_id = doc_id ·
    * 10⁴ + chunk_id) and the sentenced query sample (q142, q241). */
  private[graft] def passagePostings(spark: SparkSession, dir: String,
      queryMod: Long): (Retrieval.Postings, DataFrame) = {
    val sd = sentenced(Tables.documents(spark, dir))
    val passages = graft.ops.Chunk.sentenceChunks(sd, "doc_id", "text", 16)
      .select((col("doc_id") * 10000L + col("chunk_id")).as("passage_id"),
        col("chunk"))
    (Retrieval.postings(passages, "passage_id", "chunk"),
      Queries11.textQueries(sd, queryMod))
  }

  /** Each query's 5 best passages by BM25 `score_e6` as `rank`: the
    * probe set `qterms` over the passage weight table `wt`
    * ([[Retrieval.bm25Weights]] or its shared form), cut at `maxDfPpm`,
    * passages of the query's own document excluded (q142, q143, q241). */
  private[graft] def top5Passages(wt: DataFrame, qterms: DataFrame,
      maxDfPpm: Option[Long]): DataFrame =
    TopK.rankPerGroup("q_id", "score_e6", "passage_id", 5, "rank")(
      Retrieval.bm25Scores(wt, "passage_id", qterms, "q_id", maxDfPpm)
        .filter(expr("passage_id div 10000L") =!= col("q_id")))

  /** Shared passage-BM25 oracle prefix (q142/q143): the sentence-chunk
    * passages (`pg`, with per-passage token counts), the passage postings
    * index, the query term probe and the summed scores `sc` — the SQL
    * face of `Chunk.sentenceChunks` + `Retrieval.postings` +
    * `bm25Scores` over passages. The optional probe-side
    * document-frequency cutoff mirrors `bm25Scores(maxDfPpm)`: terms
    * whose passage df exceeds the ppm are filtered from `dfreq` BEFORE the
    * weight join (lengths/avgdl/N stay full-index, as in the engine). */
  private[graft] def passageScoreCtes(maxDfPpm: Option[Long],
      queryMod: Long = 50L): String =
    s"""$sentenceCumCtes,
       |pg AS MATERIALIZED (SELECT (doc_id * 10000 + ((cum - n_tok) // 16))::BIGINT AS passage_id,
       |    string_agg(s, ' ' ORDER BY pos) AS chunk,
       |    sum(n_tok)::BIGINT AS n_tokens
       |  FROM cm GROUP BY doc_id, (cum - n_tok) // 16),
       |tok AS MATERIALIZED (SELECT passage_id, tok AS term FROM (
       |    SELECT passage_id, unnest(string_split_regex(lower(trim(chunk)), '\\s+')) AS tok
       |    FROM pg) WHERE tok <> ''),
       |tf AS MATERIALIZED (SELECT passage_id, term, count(*)::BIGINT AS tf
       |  FROM tok GROUP BY 1, 2),
       |dl AS MATERIALIZED (SELECT passage_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |dfreq AS MATERIALIZED (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |st AS MATERIALIZED (SELECT count(*)::BIGINT AS n_docs,
       |    sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
       |  FROM dl),
       |dfc AS MATERIALIZED (SELECT f.term, f.df FROM dfreq f CROSS JOIN st
       |  WHERE ${maxDfPpm.map(p => s"f.df * 1000000 <= $p * st.n_docs").getOrElse("TRUE")}),
       |qt AS MATERIALIZED (SELECT DISTINCT doc_id AS q_id, tok AS term FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |    FROM sd WHERE doc_id % $queryMod = 7) WHERE tok <> ''),
       |${Queries11.bm25WeightCte("wt", "passage_id", "dfc")},
       |sc AS (SELECT q.q_id, w.passage_id, sum(w.c_e6)::BIGINT AS score_e6
       |  FROM qt q JOIN wt w USING (term)
       |  WHERE w.passage_id != q.q_id AND w.passage_id // 10000 != q.q_id
       |  GROUP BY 1, 2)""".stripMargin

  val q142Sql: String = q142SqlWith(None)

  /** [[q142Sql]] with the df cutoff and query-sample modulus
    * parameterized (q234's oracle; the k× proofs re-derive queryMod). */
  private[graft] def q142SqlWith(maxDfPpm: Option[Long],
      queryMod: Long = 50L): String =
    s"""WITH ${passageScoreCtes(maxDfPpm, queryMod)},
       |rk AS (SELECT q_id, passage_id, score_e6,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY score_e6 DESC, passage_id) AS rank
       |  FROM sc)
       |SELECT q_id, passage_id, (passage_id // 10000)::BIGINT AS doc_id,
       |  score_e6, rank::BIGINT AS rank
       |FROM rk WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------- budgeted passage-RAG capstone
  /** The passage-granular serving loop end to end: q142's ranked passages
    * truncated to a 48-token context budget (rank-ordered prefix — the
    * standard "fill the context window top-down" rule), then one prompt
    * per query assembled in-plan ([[graft.ops.Rag.assemblePrompts]]).
    * Output: (q_id, n_passages, n_context_tokens, prompt) — prompt text
    * hashes, so the WHOLE serving artifact is oracle-checked. */
  val q143PassageContext: Q = (spark, dir) =>
    passageContext(spark, dir, maxDfPpm = None)

  /** q143's plan with the probe-side df cutoff and the query-sample
    * modulus as parameters — the same knobs as [[passageRetrieval]]: the
    * registered q143 serves uncut (the audit reference), q243 is the
    * DEPLOY spelling (300000-ppm cutoff — the ranking probe skips the
    * stopword spine, measured 2.3× on q142's class, with q241 providing
    * the agreement evidence); the k× proofs re-derive `queryMod`. */
  private[graft] def passageContext(spark: SparkSession, dir: String,
      maxDfPpm: Option[Long], queryMod: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sd = sentenced(Tables.documents(spark, dir))
    val chunks = graft.ops.Chunk.sentenceChunks(sd, "doc_id", "text", 16)
      .select((col("doc_id") * 10000L + col("chunk_id")).as("passage_id"),
        col("chunk"), col("n_tokens"))
      .localCheckpoint(eager = false)
    val queries = Queries11.textQueries(sd, queryMod)
    val p = Retrieval.postings(chunks, "passage_id", "chunk")
    val ranked = top5Passages(Retrieval.bm25Weights(p, "passage_id"),
        Retrieval.queryTerms(queries, "q_id", "q_text"), maxDfPpm)
    val wb = Window.partitionBy(col("q_id")).orderBy(col("rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgeted = ranked
      .join(chunks.select(col("passage_id"), col("chunk"), col("n_tokens")),
        Seq("passage_id"))
      .withColumn("__cum", sum(col("n_tokens")).over(wb))
      .filter(col("__cum") <= 48L)
    graft.ops.Rag.assemblePrompts(
        budgeted.join(queries, Seq("q_id")),
        "q_id", "rank", "chunk", "q_text")
      .join(budgeted.groupBy(col("q_id"))
        .agg(sum(col("n_tokens")).as("n_context_tokens")), Seq("q_id"))
      .select(col("q_id"), col("n_passages"), col("n_context_tokens"),
        col("prompt"))
      .orderBy("q_id")
  }

  val q143Sql: String = q143SqlWith(None)

  /** [[q143Sql]] with the df cutoff and query-sample modulus
    * parameterized (q243's oracle; the k× proofs re-derive queryMod). */
  private[graft] def q143SqlWith(maxDfPpm: Option[Long],
      queryMod: Long = 50L): String =
    s"""WITH ${passageScoreCtes(maxDfPpm, queryMod)},
       |rk AS MATERIALIZED (SELECT q_id, passage_id, rank FROM (
       |  SELECT q_id, passage_id,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY score_e6 DESC, passage_id) AS rank
       |  FROM sc) WHERE rank <= 5),
       |bj AS MATERIALIZED (SELECT r.q_id, r.rank, p.chunk, p.n_tokens,
       |    sum(p.n_tokens) OVER (PARTITION BY r.q_id ORDER BY r.rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM rk r JOIN pg p USING (passage_id)),
       |bd AS (SELECT q_id, rank, chunk, n_tokens FROM bj WHERE cum <= 48)
       |SELECT b.q_id,
       |  count(*)::BIGINT AS n_passages,
       |  sum(b.n_tokens)::BIGINT AS n_context_tokens,
       |  'Context:' || chr(10) ||
       |    string_agg(b.chunk, chr(10) || '---' || chr(10) ORDER BY b.rank) ||
       |    chr(10) || chr(10) || 'Question: ' || any_value(q.text) AS prompt
       |FROM bd b JOIN sd q ON q.doc_id = b.q_id
       |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin

  // --------------------------------------- multimodal sequence packing
  /** Vision-language capacity planning: each document attaches `doc_id %
    * 3` images at 64 patch-tokens each, and documents pack into 512-token
    * sequences per source — see
    * [[graft.ops.Multimodal.interleavedPacking]]. The image-share column
    * is the governance signal (image-heavy packs starve the text loss). */
  val q144MultimodalPacking: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    graft.ops.Multimodal.interleavedPacking(
        d.select(col("source"), col("doc_id"),
          graft.functions.TextFns.tokenCount(col("text")).as("n_text_tok"),
          (col("doc_id") % 3).as("n_images")),
        "source", "doc_id", "n_text_tok", "n_images",
        imageTokens = 64, capacity = 512)
      .orderBy("source", "pack_id")
  }

  val q144Sql: String =
    """WITH c AS (SELECT source, doc_id,
      |    (CASE WHEN length(trim(text)) = 0 THEN 0
      |          ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS tt,
      |    ((doc_id % 3) * 64)::BIGINT AS it
      |  FROM documents),
      |m AS (SELECT source, doc_id, tt, it, tt + it AS cost,
      |    sum(tt + it) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM c)
      |SELECT source, ((cum - cost) // 512)::BIGINT AS pack_id,
      |  count(*)::BIGINT AS n_docs,
      |  sum(tt)::BIGINT AS n_text_tokens,
      |  sum(it)::BIGINT AS n_image_tokens,
      |  ((sum(tt) + sum(it)) * 1000000 // 512)::BIGINT AS fill_ppm,
      |  (CASE WHEN sum(tt) + sum(it) = 0 THEN 0
      |        ELSE sum(it) * 1000000 // (sum(tt) + sum(it))
      |   END)::BIGINT AS image_share_ppm
      |FROM m GROUP BY source, (cum - cost) // 512
      |ORDER BY source, pack_id""".stripMargin

  // --------------------------------------------- SFT example rendering
  /** SFT data prep: groups of four documents play four-turn user/assistant
    * conversations (conv = doc_id div 4, role by parity), rendered to one
    * training string each with exact assistant-text character spans for
    * the loss mask — see [[graft.ops.Sft.renderConversations]]. The whole
    * artifact (template string INCLUDED) hashes against the oracle. */
  val q145SftRender: Q = (spark, dir) => {
    val turns = Tables.documents(spark, dir).select(
      expr("doc_id div 4").as("conv_id"),
      (col("doc_id") % 4).as("turn"),
      when(col("doc_id") % 2 === 0, lit("user")).otherwise(lit("assistant"))
        .as("role"),
      col("text"))
    graft.ops.Sft.renderConversations(turns, "conv_id", "turn", "role", "text")
      .orderBy("conv_id")
  }

  val q145Sql: String =
    """WITH t AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    text
      |  FROM documents),
      |c AS (SELECT conv_id, turn, role, text,
      |    '<|' || role || '|>' || chr(10) AS hdr,
      |    '<|' || role || '|>' || chr(10) || text || chr(10) AS block
      |  FROM t),
      |d AS (SELECT conv_id, turn, role, text, hdr, block,
      |    sum(length(block)) OVER (PARTITION BY conv_id ORDER BY turn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM c),
      |e AS (SELECT conv_id, turn, role, block,
      |    (cum - length(block) + length(hdr) + 1)::BIGINT AS ts,
      |    (cum - length(block) + length(hdr) + length(text))::BIGINT AS te
      |  FROM d)
      |SELECT conv_id::BIGINT AS conv_id,
      |  count(*)::BIGINT AS n_turns,
      |  sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT
      |    AS n_assistant_turns,
      |  string_agg(block, '' ORDER BY turn) AS rendered,
      |  coalesce(string_agg(CASE WHEN role = 'assistant'
      |      THEN ts || '-' || te END, ',' ORDER BY turn), '') AS assistant_spans
      |FROM e GROUP BY conv_id ORDER BY conv_id""".stripMargin

  // --------------------------------------- needle-in-haystack placement
  /** Long-context eval synthesis: groups of 8 documents form haystacks,
    * the needle is the document at position `haystack_id % 8` (clamped to
    * the group size), and the report gives each needle's exact token
    * DEPTH — the controlled variable of a needle-in-a-haystack eval
    * (recall is plotted against depth, so the synthesis must cover depths
    * uniformly; the depth_bucket column is that coverage view). One
    * per-haystack window cumsum, one aggregation — the q62 packing
    * machinery pointed at eval construction. */
  val q146NeedleDepth: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select(
      expr("doc_id div 8").as("haystack_id"),
      col("doc_id"),
      graft.functions.TextFns.tokenCount(col("text")).as("n_tok"))
    val w = Window.partitionBy(col("haystack_id")).orderBy(col("doc_id").asc)
    val t = d
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .withColumn("before_tok",
        coalesce(sum(col("n_tok")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val g = t.groupBy(col("haystack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    t.join(g, Seq("haystack_id"))
      .filter(col("pos") === least(col("haystack_id") % 8, col("n_docs") - 1L))
      .select(col("haystack_id"), col("n_docs"), col("n_tokens"),
        col("doc_id").as("needle_doc_id"),
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("before_tok * 1000000L div n_tokens"))
          .as("needle_depth_ppm"))
      .withColumn("depth_bucket", expr("needle_depth_ppm div 125000L"))
      .orderBy("haystack_id")
  }

  val q146Sql: String =
    """WITH t AS (SELECT doc_id // 8 AS haystack_id, doc_id,
      |    (CASE WHEN length(trim(text)) = 0 THEN 0
      |          ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tok
      |  FROM documents),
      |r AS (SELECT haystack_id, doc_id, n_tok,
      |    (row_number() OVER (PARTITION BY haystack_id ORDER BY doc_id) - 1)::BIGINT AS pos,
      |    coalesce(sum(n_tok) OVER (PARTITION BY haystack_id ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before_tok
      |  FROM t),
      |g AS (SELECT haystack_id, count(*)::BIGINT AS n_docs,
      |    sum(n_tok)::BIGINT AS n_tokens
      |  FROM t GROUP BY 1)
      |SELECT r.haystack_id, g.n_docs, g.n_tokens,
      |  r.doc_id AS needle_doc_id,
      |  (CASE WHEN g.n_tokens = 0 THEN 0
      |        ELSE r.before_tok * 1000000 // g.n_tokens END)::BIGINT AS needle_depth_ppm,
      |  ((CASE WHEN g.n_tokens = 0 THEN 0
      |         ELSE r.before_tok * 1000000 // g.n_tokens END) // 125000)::BIGINT AS depth_bucket
      |FROM r JOIN g USING (haystack_id)
      |WHERE r.pos = least(r.haystack_id % 8, g.n_docs - 1)
      |ORDER BY r.haystack_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q134_prf_expansion", q134PrfExpansion, q134Sql),
    QueryDef("q135_retrieval_ndcg", q135RetrievalNdcg, q135Sql),
    QueryDef("q136_label_propagation", q136LabelPropagation, q136Sql),
    QueryDef("q137_expanded_bm25", q137ExpandedBm25, q137Sql),
    QueryDef("q138_route_ab", q138RouteAb, q138Sql),
    QueryDef("q139_norm_outliers", q139NormOutliers, q139Sql),
    QueryDef("q140_release_psi", q140ReleasePsi, q140Sql),
    QueryDef("q141_sentence_chunks", q141SentenceChunks, q141Sql),
    QueryDef("q142_passage_retrieval", q142PassageRetrieval, q142Sql),
    QueryDef("q143_passage_context", q143PassageContext, q143Sql),
    QueryDef("q144_multimodal_packing", q144MultimodalPacking, q144Sql),
    QueryDef("q145_sft_render", q145SftRender, q145Sql),
    QueryDef("q146_needle_depth", q146NeedleDepth, q146Sql))
}
