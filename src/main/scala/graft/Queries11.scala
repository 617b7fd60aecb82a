package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Graph, Retrieval, Similarity}

/** Eleventh query wave: the RETRIEVAL stack the reference's serving layer
  * implies but never builds — lexical BM25 ranking over an inverted-index
  * join (q130), hybrid lexical+vector reciprocal-rank fusion (q131,
  * the production RAG retrieval shape), contrastive hard-negative mining
  * off the ANN shortlist (q132, embedding-model training data), and
  * integer-exact PageRank centrality over the kNN graph (q133, curation
  * by prototypicality). Same determinism rules as [[Queries]]: every
  * double chain is association-pinned and floored to integer units before
  * any sum, every ranking carries a total-order tiebreak.
  */
object Queries11 {

  // --------------------------------------------------- BM25 retrieval
  /** BM25@10 for every 50th document replayed as a free-text query against
    * the corpus (self-matches excluded) — see [[graft.ops.Retrieval.bm25Rank]]
    * for the postings-join scale shape. */
  val q130Bm25: Q = (spark, dir) => q130Bm25With(spark, dir, queryMod = 50L)

  /** q130 with the query-sample modulus as a parameter — the deploy-scale
    * spelling: a serving query workload is BOUNDED, it does not grow as a
    * fixed 2% of the corpus, so the k× hash-proof re-derives
    * `queryMod = 50·(nDocs/5000)` to hold the query count at the fixture's
    * ~100 (the q83/q124 resolution-re-derivation precedent). Without the
    * re-derivation, BM25-over-everything is inherently |queries|·|docs| at
    * the score level — every document shares a stopword with every query —
    * and a corpus-proportional query sample makes the proof quadratic in
    * k on ANY realistic vocabulary. */
  def q130Bm25With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame =
    bm25TopK(Tables.documents(spark, dir), 10, queryMod)
      .orderBy("q_id", "rank")

  /** BM25@k of `d(doc_id, text)` for its [[textQueries]] sample (q130,
    * q131, q138, q228, q251, q256). */
  private[graft] def bm25TopK(d: DataFrame, k: Int,
      queryMod: Long = 50L): DataFrame =
    Retrieval.bm25Rank(Retrieval.postings(d, "doc_id", "text"), "doc_id",
      Retrieval.queryTerms(textQueries(d, queryMod), "q_id", "q_text"),
      "q_id", k)

  /** The retrieval query sample: every document with id ≡ 7 (mod
    * `queryMod`) as a free-text query `(q_id, q_text)`. */
  private[graft] def textQueries(d: DataFrame, queryMod: Long = 50L): DataFrame =
    d.filter(col("doc_id") % queryMod === 7L)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))

  /** The same sample of embeddings as vector queries `(q_id, qvec)`. */
  private[graft] def vecQueries(e: DataFrame, queryMod: Long = 50L): DataFrame =
    e.filter(col("vec_id") % queryMod === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))

  /** Shared BM25 oracle prefix: postings (`tf`), doc lengths (`dl`),
    * document frequencies (`dfreq`), corpus stats (`st`), query terms
    * (`qt` — every 50th doc), per-term micro-unit contributions (`co` —
    * the association-pinned double chain of the Spark spelling), summed
    * scores (`sc`) and the ranked shortlist `lexrk`. */
  def bm25CtesShared(k: Int): String = bm25CtesSharedWith(k, 50L)

  /** [[bm25CtesShared]] with the query-sample modulus parameterized in
    * lockstep with [[q130Bm25With]]. */
  def bm25CtesSharedWith(k: Int, queryMod: Long): String =
    bm25CtesFromTok(k, queryMod, defaultTokCte)

  /** The standard (doc_id, term) token CTE the BM25 chain consumes —
    * parameterized so variants (q256's zipf-remapped tokens) can swap the
    * tokenization while sharing the whole scoring chain verbatim. */
  val defaultTokCte: String =
    """tok AS MATERIALIZED (SELECT doc_id, tok AS term FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) WHERE tok <> '')""".stripMargin

  /** BM25 per-(doc, term) weights in micro-units as CTE `name`, over `tf`,
    * `dl`, `st` and the document frequencies `dfRel`, keyed by `id` (q130's
    * chain, q142's passages, q241's cut route). `k1` and `b` are
    * [[Retrieval.Bm25K1]] and [[Retrieval.Bm25B]], the engine's own pair. */
  private[graft] def bm25WeightCte(name: String, id: String,
      dfRel: String): String =
    s"""$name AS MATERIALIZED (SELECT t.$id, t.term,
       |    floor(
       |      ln(((st.n_docs::DOUBLE - f.df::DOUBLE) + 0.5) / (f.df::DOUBLE + 0.5) + 1.0)
       |      * ((t.tf::DOUBLE * (${Retrieval.Bm25K1} + 1.0))
       |         / (t.tf::DOUBLE + ${Retrieval.Bm25K1} * ((1.0 - ${Retrieval.Bm25B}) + ${Retrieval.Bm25B} * (l.dl::DOUBLE / st.avgdl))))
       |      * 1e6 + 0.5)::BIGINT AS c_e6
       |  FROM tf t JOIN $dfRel f USING (term)
       |  JOIN dl l ON l.$id = t.$id CROSS JOIN st)""".stripMargin

  def bm25CtesFromTok(k: Int, queryMod: Long, tokCte: String): String =
    s"""$tokCte,
       |tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf
       |  FROM tok GROUP BY 1, 2),
       |dl AS MATERIALIZED (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |dfreq AS MATERIALIZED (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |st AS MATERIALIZED (SELECT count(*)::BIGINT AS n_docs,
       |    sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
       |  FROM dl),
       |qt AS MATERIALIZED (SELECT DISTINCT doc_id AS q_id, term FROM tok
       |  WHERE doc_id % $queryMod = 7),
       |${bm25WeightCte("wt", "doc_id", "dfreq")},
       |sc AS (SELECT q.q_id, w.doc_id, sum(w.c_e6)::BIGINT AS score_e6
       |  FROM qt q JOIN wt w USING (term)
       |  WHERE w.doc_id != q.q_id GROUP BY 1, 2),
       |lexrk AS MATERIALIZED (SELECT q_id, doc_id, score_e6, rank FROM (
       |  SELECT q_id, doc_id, score_e6,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY score_e6 DESC, doc_id) AS rank
       |  FROM sc) WHERE rank <= $k)""".stripMargin

  val q130Sql: String = q130SqlWith(50L)

  def q130SqlWith(queryMod: Long): String =
    s"""WITH ${bm25CtesSharedWith(10, queryMod)}
       |SELECT q_id, doc_id, score_e6, rank::BIGINT AS rank
       |FROM lexrk ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------- hybrid RRF retrieval
  /** Hybrid retrieval: BM25@20 (lexical) and cosine-kNN@20 (semantic,
    * via the doc_id = vec_id pairing of the q29/q83 family) fused by
    * reciprocal rank — see [[graft.ops.Retrieval.rrfFuse]]. Top-10 fused
    * per query; `n_routes` exposes which hits were bi-modal. */
  val q131HybridRrf: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val lex = bm25TopK(d, 20).select(col("q_id"), col("doc_id"), col("rank"))
    val qv = vecQueries(e)
    val sem = Similarity.knnJoin(e, "vec_id", "embedding", qv, "q_id", "qvec", 20)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, sem), "q_id", "doc_id", "rank", k = 10)
      .orderBy("q_id", "rank")
  }

  val q131Sql: String =
    s"""WITH ${bm25CtesShared(20)},
       |sem AS MATERIALIZED (SELECT q_id, vec_id AS doc_id, rank FROM (
       |${Queries2.knnRankedSql("rank", "q.vec_id % 50 = 7")}
       |  WHERE rank <= 20),
       |pts AS (SELECT q_id, doc_id, 1000000 // (60 + rank) AS pts FROM lexrk
       |  UNION ALL
       |  SELECT q_id, doc_id, 1000000 // (60 + rank) FROM sem),
       |fz AS (SELECT q_id, doc_id, count(*)::BIGINT AS n_routes,
       |    sum(pts)::BIGINT AS rrf_ppm
       |  FROM pts GROUP BY 1, 2),
       |fr AS (SELECT q_id, doc_id, n_routes, rrf_ppm,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rrf_ppm DESC, doc_id) AS rank
       |  FROM fz)
       |SELECT q_id, doc_id, n_routes, rrf_ppm, rank::BIGINT AS rank
       |FROM fr WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------- hard-negative mining
  /** Contrastive pairs off the top-100 ANN shortlist of every 25th
    * vector: the nearest candidate is the positive, the five hardest
    * candidates at least cosine 0.10 below it are the negatives — see
    * [[graft.ops.Retrieval.marginHardNegatives]] (the margin anchors to
    * each query's own positive, so the mining survives corpus-density
    * changes that empty any absolute band — measured: the sf0.1 fixture's
    * denser top-50 sits entirely above the sf0.01 band). */
  val q132HardNegatives: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val anchors = e.filter(col("vec_id") % 25 === 11L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val cands = Similarity.knnJoin(e, "vec_id", "embedding",
      anchors, "q_id", "qvec", 100)
    Retrieval.marginHardNegatives(cands, "q_id", "vec_id", "sim",
        margin = 0.10, nNeg = 5)
      .orderBy("q_id", "role", "rank")
  }

  val q132Sql: String =
    s"""WITH knn AS MATERIALIZED (SELECT q_id, vec_id, sim FROM (
      |${Queries2.knnRankedSql("rk", "q.vec_id % 25 = 11")}
      |  WHERE rk <= 100),
      |pos AS (SELECT q_id, vec_id, sim, rank FROM (
      |  SELECT q_id, vec_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM knn) WHERE rank = 1),
      |neg AS (SELECT q_id, 'neg' AS role, vec_id, sim, rank FROM (
      |  SELECT k.q_id, k.vec_id, k.sim,
      |    row_number() OVER (PARTITION BY k.q_id ORDER BY k.sim DESC, k.vec_id) AS rank
      |  FROM knn k JOIN pos p USING (q_id)
      |  WHERE k.sim <= p.sim - 0.10) WHERE rank <= 5)
      |SELECT q_id, 'pos' AS role, vec_id, sim, rank::BIGINT AS rank FROM pos
      |UNION ALL
      |SELECT q_id, role, vec_id, sim, rank::BIGINT AS rank FROM neg
      |ORDER BY q_id, role, rank""".stripMargin

  // --------------------------------------------- kNN-graph PageRank
  /** Curation centrality: 5 integer-exact PageRank rounds over the
    * directed 3-NN graph of every 5th vector — prototypical documents
    * rank high (many inbound nearest-neighbor votes), isolated outliers
    * settle at the teleport floor. See [[graft.ops.Graph.pageRankPpb]];
    * the oracle unrolls the rounds as CTEs (the q31 Lloyd's technique). */
  val q133KnnPagerank: Q = (spark, dir) => {
    val s = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0L)
    val qv = s.select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val edges = Similarity.knnJoin(s, "vec_id", "embedding", qv, "q_id", "qvec", 3)
    Graph.pageRankPpb(edges, "q_id", "vec_id", iters = 5)
      .orderBy("node")
  }

  /** The directed 3-NN graph `k3(src, dst)` over the sample `s` (q133,
    * q136). */
  private[graft] def knn3Cte: String =
    s"""k3 AS MATERIALIZED (SELECT q_id AS src, vec_id AS dst FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |      round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
       |    FROM s e JOIN s q ON e.vec_id != q.vec_id) p) r
       |  WHERE rk <= 3)""".stripMargin

  /** PageRank round `k`'s damped in-link mass `c<k>` from `r<k-1>` over
    * `k3` and out-degrees `od` (q133, q205). */
  private[graft] def prContribCte(k: Int): String =
    s"""c$k AS MATERIALIZED (SELECT k3.dst AS v,
       |    sum(((r.r * 17) // 20) // od.od)::BIGINT AS c
       |  FROM r${k - 1} r JOIN k3 ON k3.src = r.v JOIN od ON od.src = k3.src
       |  GROUP BY 1)""".stripMargin

  private def prRoundSql(k: Int): String =
    s"""${prContribCte(k)},
       |r$k AS MATERIALIZED (SELECT n.v,
       |    ((3000000000 // (20 * (SELECT n FROM nn))) + coalesce(c.c, 0))::BIGINT AS r
       |  FROM nodes n LEFT JOIN c$k c ON c.v = n.v)""".stripMargin

  val q133Sql: String = {
    val rounds = (1 to 5).map(prRoundSql).mkString(",\n")
    s"""WITH s AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 5 = 0),
       |$knn3Cte,
       |od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS od FROM k3 GROUP BY 1),
       |ind AS MATERIALIZED (SELECT dst, count(*)::BIGINT AS id FROM k3 GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT src AS v FROM k3 UNION ALL SELECT dst FROM k3)),
       |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT v,
       |    (1000000000 // (SELECT n FROM nn))::BIGINT AS r FROM nodes),
       |$rounds
       |SELECT n.v AS node, r5.r AS rank_ppb,
       |  coalesce(ind.id, 0)::BIGINT AS in_degree,
       |  coalesce(od.od, 0)::BIGINT AS out_degree
       |FROM nodes n JOIN r5 ON r5.v = n.v
       |LEFT JOIN ind ON ind.dst = n.v
       |LEFT JOIN od ON od.src = n.v
       |ORDER BY node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q130_bm25", q130Bm25, q130Sql),
    QueryDef("q131_hybrid_rrf", q131HybridRrf, q131Sql),
    QueryDef("q132_hard_negatives", q132HardNegatives, q132Sql),
    QueryDef("q133_knn_pagerank", q133KnnPagerank, q133Sql))
}
