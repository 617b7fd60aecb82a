package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical + hybrid retrieval — the production extension of the reference's
  * vector-only search (reference: PLATFORM-GenerationLLM.py:42-58 retrieves
  * by cosine alone; a deployed RAG stack pairs that with a lexical BM25
  * route and fuses the two rankings, because embedding recall collapses on
  * rare tokens, ids, and numbers that exact term matching catches for free).
  *
  * Scale design:
  *  - [[bm25Rank]] is the classic inverted-index shape as ONE declarative
  *    plan: the (doc, term) frequency table is the postings list, the query
  *    terms probe it with an equi-join on the term (never a cross join),
  *    and the corpus statistics (N, avgdl) ride in as a broadcast 1-row
  *    aggregate. Per-term contributions round to integer micro-units
  *    BEFORE the per-document sum, so the score is an order-independent
  *    long sum — deterministic under any partial-aggregation schedule.
  *  - [[rrfFuse]] consumes ALREADY-RANKED routes (each bounded to its own
  *    top-k per query), so fusion joins tiny per-query shortlists — the
  *    corpus is never touched again.
  *  - [[marginHardNegatives]] consumes any candidate frame (brute-force
  *    [[Similarity.knnJoin]] at audit scale, [[Similarity.ivfKnnJoin]] at
  *    deploy scale) — mining is a pure ranking over the shortlist, so its
  *    cost is the ANN route's cost, not a corpus pass.
  */
object Retrieval {

  /** BM25's term-saturation `k1` and length-normalization `b`, the
    * Robertson–Zaragoza defaults. The oracle SQL
    * ([[graft.Queries11.bm25WeightCte]]) spells the same pair from these
    * names, so no other value could be checked. */
  final val Bm25K1 = 1.2
  final val Bm25B = 0.75

  /** BM25 ranked retrieval: score every (query, document) pair that shares
    * at least one term, keep the top `k` documents per query.
    *
    * `queries(queryIdCol, queryTextCol)` supplies free-text queries; its
    * DISTINCT word tokens (the corpus-wide `wordTokens` contract:
    * lower(trim), split on whitespace, blanks dropped) probe the postings
    * list. A query drawn from the corpus never retrieves itself
    * (`docId != queryId` — the audit convention of
    * [[Similarity.ivfRecallAudit]]).
    *
    * Determinism: idf and the tf normalization are IEEE double chains with
    * a pinned association — both engines evaluate
    * `ln(((N − df) + 0.5) / (df + 0.5) + 1)` and
    * `tf·(k1+1) / (tf + k1·((1−b) + b·(dl/avgdl)))` in exactly this
    * parenthesization — and the single libm call (ln) is floored to
    * micro-units per TERM before the long sum, the q61 TF-IDF precedent
    * (a 1-ulp libm divergence cannot cross a 1e-6 boundary except with
    * ~1e-10 probability). Ranking ties break on the document id.
    *
    * Output: (queryId, docId, score_e6, rank), rank ≤ k. */
  def bm25Rank(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, maxDfPpm: Option[Long] = None): DataFrame =
    bm25RankFrom(postings(docs, idCol, textCol), idCol,
      queries, queryIdCol, queryTextCol, k, maxDfPpm)

  /** The corpus-side index of the BM25 family: term frequencies (`tf` —
    * the postings list), document lengths (`dl`), document frequencies
    * (`dfreq`) and the 1-row (N, avgdl) statistics. Built once and shared
    * across retrieval passes (first-pass rank, feedback expansion,
    * second-pass rank); `tf` feeds the other three off one doc-keyed
    * repartition whose shuffle files every consumer reuses (AQE exchange
    * reuse — see [[postingsFromTf]]; persist() at cluster scale if the
    * passes run as separate actions). */
  case class Postings(tf: DataFrame, dl: DataFrame, dfreq: DataFrame,
    stats: DataFrame)

  def postings(docs: DataFrame, idCol: String, textCol: String): Postings =
    postingsFromTf(docs
      .select(col(idCol), explode(graft.functions.TextFns.wordTokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__c")), idCol, "__t", "__c")

  /** Build the [[Postings]] bundle from an already-maintained term-
    * frequency table — the bridge that lets a LIVE index serve queries:
    * [[graft.streaming.Stream.postingsStream]] keeps (doc, term, tf)
    * current as documents arrive, and every derived statistic (lengths,
    * document frequencies, N, avgdl) recomputes from it at query time,
    * so a batch-built and a stream-maintained index answer identically
    * (parity-proven in StreamingSpec). */
  def postingsFromTf(tfRaw: DataFrame, idCol: String, termCol: String,
      tfCol: String): Postings = {
    val tf = tfRaw
      .select(col(idCol), col(termCol).as("__term"), col(tfCol).cast("long").as("__tf"))
      .localCheckpoint(eager = false)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("__tf")).as("__dl"))
    val dfreq = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    val stats = dl.agg(count(lit(1)).as("__n_docs"),
      (sum(col("__dl")).cast("double") / count(lit(1)).cast("double")).as("__avgdl"))
    Postings(tf, dl, dfreq, stats)
  }

  /** The DISTINCT (query, term) probe set of a free-text query frame. */
  def queryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): DataFrame =
    queries
      .select(col(queryIdCol),
        explode(graft.functions.TextFns.wordTokens(col(queryTextCol))).as("__term"))
      .filter(col("__term") =!= "")
      .distinct()

  /** [[bm25Rank]] over a pre-built [[Postings]] index. */
  def bm25RankFrom(p: Postings, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, maxDfPpm: Option[Long] = None): DataFrame =
    bm25RankTerms(p, idCol, queryTerms(queries, queryIdCol, queryTextCol),
      queryIdCol, k, maxDfPpm)

  /** [[bm25Rank]] driven by an explicit (query, term) probe set — the
    * entry point a query-EXPANSION pass needs: the second retrieval pass
    * probes with original ∪ expansion terms ([[prfExpansionTerms]]), a
    * set no query text spells. `qterms` must carry the term under the
    * internal `__term` name (as [[queryTerms]] emits). */
  def bm25RankTerms(p: Postings, idCol: String, qterms: DataFrame,
      queryIdCol: String, k: Int, maxDfPpm: Option[Long] = None): DataFrame = {
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score_e6").desc, col(idCol).asc)
    bm25ScoresTerms(p, idCol, qterms, queryIdCol, maxDfPpm)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The UN-truncated BM25 score table for a (query, term) probe set —
    * (queryIdCol, idCol, score_e6), one row per matching pair. Exposed
    * because BM25 scores are ADDITIVE over disjoint probe sets: a
    * second-pass expanded retrieval reuses the first pass's scores and
    * probes only the (few) expansion terms, instead of re-probing the
    * whole original set (q137 measured 6.3 → ~4 s on the worst-case
    * fixture from exactly this reuse).
    *
    * `maxDfPpm` (optional) drops terms whose document frequency exceeds
    * the given ppm of the corpus from the probe path — the Lucene-class
    * stopword cut. At real corpus scale the postings list of an
    * ultra-high-df term is itself corpus-sized, so the term-keyed probe
    * join inherits the worst key skew in the index for terms whose BM25
    * idf ≈ ln(1 + (N−df+0.5)/(df+0.5)) is already near zero (df = 50% of
    * docs ⇒ idf ≈ 0.7; 99% ⇒ 0.01) — the cut removes the skew spine for
    * (bounded) rank perturbation only among near-tied candidates.
    * RetrievalSpec proves fixture top-k invariance at a conservative
    * cutoff; the df comparison `df·1e6 ≤ ppm·N` is exact through
    * N ≤ 9.2e12 documents. Applies to the PROBE only — document lengths,
    * avgdl and the other terms' idf stay computed over the full index, so
    * scores of surviving terms are unchanged (the additivity contract
    * holds across mixed-cutoff passes only if both use the same cut).
    *
    * PRECONDITION (ADVICE r18): `qterms` must be a WORKLOAD-BOUNDED probe
    * set — a query sample held constant as the corpus scales (every
    * caller here re-derives `queryMod` for exactly that; see
    * Queries11.q130Bm25With). The probe side carries an unconditional
    * `broadcast()` hint, which overrides autoBroadcastJoinThreshold: a
    * corpus-proportional qterms frame would be force-broadcast and can
    * OOM the driver instead of degrading to a shuffle join. If your probe
    * set scales with the corpus, pre-aggregate or shard it — do not feed
    * it here. */
  def bm25ScoresTerms(p: Postings, idCol: String, qterms: DataFrame,
      queryIdCol: String, maxDfPpm: Option[Long] = None): DataFrame = {
    import p.{tf, dl, stats}
    val dfreq = maxDfPpm match {
      case Some(ppm) =>
        require(ppm >= 1 && ppm <= 1000000L, s"maxDfPpm out of range: $ppm")
        p.dfreq.crossJoin(broadcast(stats.select(col("__n_docs"))))
          .filter(col("__df") * 1000000L <= lit(ppm) * col("__n_docs"))
          .select(col("__term"), col("__df"))
      case None => p.dfreq
    }
    val idf = bm25Idf
    val tfn = bm25Tfn
    // the per-term weight is a (doc, term) fact — the query never enters
    // it — so the double chain runs ONCE per postings row, and the (much
    // larger) query-probe join below carries only a pre-floored long.
    // The probe's per-row work is then a map-side-combined integer sum:
    // exactly how an inverted index serves BM25 at scale
    // The explicit doc-repartition between the two attachment joins makes
    // the weight table's DOC-partitioning a guarantee instead of a plan
    // accident: at cluster scale the dl equi-join would demand exactly
    // this exchange (EnsureRequirements inserts it — the repartition is
    // absorbed, not added), while at broadcast scale the joins preserve
    // whatever the checkpointed tf scan reports, which under AQE is
    // UNKNOWN partitioning — and the (query, doc) aggregation below then
    // re-shuffled a per-task-duplicated (query, doc) map (the single
    // largest exchange of the BM25 family, 44 MB at sf0.1 on the
    // degenerate fixture). Doc-partitioned, that aggregation is
    // exchange-free and its partial aggregation exact, because every term
    // contribution of a doc is co-located.
    //
    // The partition COUNT is pinned to the session's configured shuffle
    // parallelism rather than left to AQE coalescing: everything from
    // this exchange's read to the (query, doc) window exchange — weight
    // arithmetic, the probe join, its per-row output × |probe terms per
    // doc-term match|, and the partial aggregation — runs in ONE stage
    // whose WORK is input rows × matching probe rows, a multiplier AQE's
    // byte heuristic cannot see. Left adaptive, the coalescer shrinks the
    // read to the byte floor (minPartitionSize) and serializes the only
    // compute-bound stage of the family (same-session A/B, min-of-3:
    // q142 4.39 → 2.07 s, q241 5.56 → 2.51 s, q251 6.00 → 1.72 s,
    // q228 4.61 → 1.64 s — OPTIMIZATION_r19.md). At corpus scale the
    // exchange exceeds the advisory size and AQE would not coalesce it
    // anyway, so pinning costs nothing there — the pin only matters
    // exactly where the byte heuristic misjudges. Same pattern and
    // rationale as [[Dedup.editConfirmPairs]]'s DP repartition.
    val shufN = tf.sparkSession.sessionState.conf.numShufflePartitions
    val wt = tf
      .join(dfreq, Seq("__term"))
      .repartition(shufN, col(idCol))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("__term"),
        floor(idf * tfn * 1e6 + 0.5).cast("long").as("__c_e6"))
    // the probe set is WORKLOAD-sized (a bounded query set × its distinct
    // terms — every caller re-derives queryMod to hold it constant as the
    // corpus scales), so it broadcasts; the corpus-sized weight table is
    // the STREAMED side and keeps the doc-id partitioning its dl join just
    // established. That makes the (query, doc) sum below exchange-free:
    // HashPartitioning(doc) satisfies ClusteredDistribution(query, doc),
    // and all of a doc's term contributions are already co-located, so the
    // aggregation is exact in place. The previous spelling shuffled wt by
    // term AND re-shuffled the exploded (query, doc) pairs — on the
    // degenerate fixture (every postings list corpus-sized) those were the
    // two dominant stages of the whole BM25 family (2 × 44 MB at sf0.1);
    // at cluster scale they were the two corpus-sized exchanges of the
    // probe path. Same rows, same integer sums — order-independent.
    wt
      .join(broadcast(qterms), Seq("__term"))
      .filter(col(idCol) =!= col(queryIdCol))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__c_e6")).as("score_e6"))
  }

  /** The BM25 idf of a postings row — the pinned-association double chain
    * shared by [[bm25ScoresTerms]] and [[bm25WeightTable]] (one spelling,
    * so the two paths cannot drift). */
  private def bm25Idf: Column = {
    val dfD = col("__df").cast("double")
    val nD = col("__n_docs").cast("double")
    log(((nD - dfD) + 0.5) / (dfD + 0.5) + 1.0)
  }

  /** The BM25 tf normalization of a postings row (see [[bm25Idf]]). */
  private def bm25Tfn: Column = {
    val tfD = col("__tf").cast("double")
    val dlD = col("__dl").cast("double")
    (tfD * lit(Bm25K1 + 1.0)) /
      (tfD + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * (dlD / col("__avgdl"))))
  }

  /** The (doc, term) BM25 weight table of [[bm25ScoresTerms]] EXPOSED as
    * a frame — (idCol, __term, __c_e6, __df, __n_docs) — for callers that
    * score the SAME index under several probe passes or df cutoffs:
    * q241's cutoff-agreement A/B scores two routes, q137's two-pass
    * expansion probes original then expansion terms. Per-term weights are
    * identical across cutoffs by construction (`maxDfPpm` drops terms
    * from the PROBE; surviving weights stay full-index — see
    * [[bm25ScoresTerms]]), so one weight build serves every pass: build
    * this once, `localCheckpoint` it, and feed each pass through
    * [[bm25ScoresFromWeights]] — the dfreq/dl attachment joins and the
    * idf·tfn double chain run once instead of once per pass. Carries
    * `__df` and `__n_docs` so a cutoff pass is a row FILTER on the table.
    *
    * No repartition here: use [[bm25WeightTableCheckpointed]] for the
    * shared form — it pins the doc layout AND keeps it visible to the
    * planner through the checkpoint. At SMJ scale the dl equi-join
    * inserts its own doc exchange (EnsureRequirements), exactly as in
    * [[bm25ScoresTerms]]. */
  def bm25WeightTable(p: Postings, idCol: String): DataFrame =
    p.tf
      .join(p.dfreq, Seq("__term"))
      .join(p.dl, Seq(idCol))
      .crossJoin(broadcast(p.stats))
      .select(col(idCol), col("__term"),
        floor(bm25Idf * bm25Tfn * 1e6 + 0.5).cast("long").as("__c_e6"),
        col("__df"), col("__n_docs"))

  /** [[bm25WeightTable]] lazily checkpointed with its DOC partitioning
    * both pinned (explicit session-parallelism count — the
    * [[bm25ScoresTerms]] compute-parallelism argument) and DECLARED
    * through the checkpoint
    * ([[org.apache.spark.sql.graftbridge.Bridge.localCheckpointHashPartitioned]]
    * — a plain lazy localCheckpoint reports UnknownPartitioning under
    * AQE, so every scoring pass over it would re-exchange a table that
    * is already doc-partitioned). Every [[bm25ScoresFromWeights]] pass
    * over the returned frame plans EXCHANGE-FREE: filter → broadcast
    * probe → in-place exact (query, doc) aggregation, one stage per
    * pass over the checkpointed blocks. The weight table is
    * corpus-sized, so the helper's no-auto-broadcast conservatism is
    * exactly right here. */
  def bm25WeightTableCheckpointed(p: Postings, idCol: String): DataFrame = {
    val wt = bm25WeightTable(p, idCol)
    org.apache.spark.sql.graftbridge.Bridge.localCheckpointHashPartitioned(
      wt, Seq(idCol),
      wt.sparkSession.sessionState.conf.numShufflePartitions)
  }

  /** [[bm25ScoresTerms]]' probe-and-sum tail over a pre-built
    * [[bm25WeightTableCheckpointed]] frame: optional df cutoff as a
    * filter, then the broadcast probe join and the (query, doc) sum —
    * NO exchange of the weight table: the checkpoint's declared doc
    * partitioning satisfies the aggregation's clustered distribution
    * (all of a doc's term contributions co-located), so each pass is
    * one stage over the checkpointed blocks. Same integers as
    * [[bm25ScoresTerms]] with the same `maxDfPpm` — the only difference
    * is WHERE the weight build ran. Same bounded-probe-set precondition
    * as [[bm25ScoresTerms]]. Feeding a frame WITHOUT a partitioning
    * declaration stays correct — EnsureRequirements inserts the
    * (query, doc) exchange the declaration would have avoided. */
  def bm25ScoresFromWeights(wt: DataFrame, idCol: String, qterms: DataFrame,
      queryIdCol: String, maxDfPpm: Option[Long] = None): DataFrame = {
    val w = maxDfPpm match {
      case Some(ppm) =>
        require(ppm >= 1 && ppm <= 1000000L, s"maxDfPpm out of range: $ppm")
        wt.filter(col("__df") * 1000000L <= lit(ppm) * col("__n_docs"))
      case None => wt
    }
    w.join(broadcast(qterms), Seq("__term"))
      .filter(col(idCol) =!= col(queryIdCol))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__c_e6")).as("score_e6"))
  }

  /** Pseudo-relevance-feedback query expansion (RM3-lite): take each
    * query's BM25 top-`fbK` documents as the feedback set, weight every
    * term of the feedback set by its summed length-normalized frequency
    * `Σ_d tf(t,d)·1e6 div dl(d)` (integer ppm — the relevance-model
    * P(t|d) with the uniform document prior folded out), drop terms the
    * query already contains, and keep the `nTerms` heaviest per query
    * (ties to the term). The output is the expansion table a second-pass
    * retrieval run unions onto its query terms.
    *
    * Scale shape: the feedback set is |queries|·fbK rows, so every join
    * here is shortlist-sized except the one postings probe that fetches
    * the feedback documents' term vectors — an equi-join on the doc id.
    * Output: (queryIdCol, term, weight_ppm, rank). */
  def prfExpansionTerms(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      fbK: Int, nTerms: Int): DataFrame =
    // one postings build serves both the first-pass rank and the
    // feedback-set term fetch — the corpus text is tokenized ONCE
    prfExpansionTermsFrom(postings(docs, idCol, textCol), idCol,
      queries, queryIdCol, queryTextCol, fbK, nTerms)

  /** [[prfExpansionTerms]] over a pre-built [[Postings]] index (shared
    * with the surrounding retrieval passes). */
  def prfExpansionTermsFrom(p: Postings, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      fbK: Int, nTerms: Int): DataFrame =
    prfExpansionFromFeedback(p, idCol,
      bm25RankFrom(p, idCol, queries, queryIdCol, queryTextCol, fbK)
        .select(col(queryIdCol), col(idCol)),
      queryTerms(queries, queryIdCol, queryTextCol), queryIdCol, nTerms)

  /** The expansion-weighting tail of [[prfExpansionTerms]], decoupled
    * from HOW the feedback set was ranked: `fb(queryIdCol, idCol)` is any
    * per-query feedback shortlist, `qterms` the original probe set whose
    * terms are excluded. Exposed so a score-reusing two-pass spelling
    * (q137) can feed the shortlist it already ranked.
    *
    * PRECONDITIONS (ADVICE r18): (1) `fb` must be DISTINCT on
    * (queryIdCol, idCol) — every ranker here emits it that way; a
    * duplicated feedback row would double that document's recomputed
    * `__dl` below and shift its term weights. (2) The document length is
    * recomputed as Σ __tf over the fetched vectors, which equals `p.dl`
    * exactly when `p` was built by [[postings]]/[[postingsFromTf]] (dl is
    * DEFINED as Σ tf there); a hand-built [[Postings]] whose dl differs
    * from Σ tf would see the Σ-tf weighting, not its custom dl. Both are
    * properties every in-repo caller already satisfies — stated because
    * the API accepts arbitrary frames. */
  def prfExpansionFromFeedback(p: Postings, idCol: String, fb: DataFrame,
      qterms: DataFrame, queryIdCol: String, nTerms: Int): DataFrame = {
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("weight_ppm").desc, col("__term").asc)
    // fb is a per-query feedback SHORTLIST (|queries| × fbK rows) —
    // broadcast it, so fetching the feedback documents' term vectors
    // streams the corpus-sized tf with no shuffle. The document length
    // then recomputes from the fetched vectors themselves (the doc filter
    // keeps EVERY term of a kept doc, so Σ__tf per (query, doc) IS that
    // doc's dl) — replacing the corpus-sized dl join of the previous
    // spelling with a window over shortlist-sized rows. Same integers.
    val wdl = Window.partitionBy(col(queryIdCol), col(idCol))
    p.tf.join(broadcast(fb), Seq(idCol))
      .withColumn("__dl", sum(col("__tf")).over(wdl))
      .select(col(queryIdCol), col("__term"),
        expr("__tf * 1000000L div __dl").as("__w"))
      .groupBy(col(queryIdCol), col("__term"))
      .agg(sum(col("__w")).as("weight_ppm"))
      .join(qterms, Seq(queryIdCol, "__term"), "left_anti")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= nTerms)
      .withColumnRenamed("__term", "term")
  }

  /** Reciprocal-rank fusion (Cormack & Clarke 2009) of per-query rankings:
    * each route contributes `1e6 div (k0 + rank)` fusion points (integer
    * micro-units, so the fused score is engine-exact), a document absent
    * from a route contributes nothing, and the fused list keeps the top
    * `k` per query with ties to the document id.
    *
    * Routes arrive ALREADY truncated to their own per-query top-k (the
    * shape every ranker here emits), so the union is |queries|·Σk rows —
    * fusion never re-reads a corpus. Output: (queryId, docId, n_routes,
    * rrf_ppm, rank). */
  def rrfFuse(routes: Seq[DataFrame], queryIdCol: String, docIdCol: String,
      rankCol: String, k: Int, k0: Int = 60): DataFrame = {
    require(routes.nonEmpty, "rrfFuse needs at least one route")
    val pts = routes
      .map(_.select(col(queryIdCol), col(docIdCol), col(rankCol).cast("long").as("__rk"))
        .withColumn("__pts", expr(s"1000000L div (${k0}L + __rk)"))
        .drop("__rk"))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("rrf_ppm").desc, col(docIdCol).asc)
    pts.groupBy(col(queryIdCol), col(docIdCol))
      .agg(count(lit(1)).as("n_routes"), sum(col("__pts")).as("rrf_ppm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Margin-relative hard-negative mining — the contrastive-pair miner
    * behind embedding-model fine-tuning. Absolute similarity bands are a
    * property of one corpus density (double the corpus and yesterday's
    * "hard negative" similarity is today's nearest neighbor), so
    * production miners anchor the negative cutoff to EACH anchor's own
    * positive instead. Per
    * anchor: `pos` is the single nearest candidate, and the `neg` rows
    * are the `nNeg` hardest candidates at least `margin` below the
    * positive's similarity — the margin is the same near-duplicate
    * safety gap, now self-calibrating per anchor.
    *
    * `cands(queryIdCol, docIdCol, simCol)` is any ANN shortlist,
    * mining is two window ranks and one per-anchor equi-join (the 1-row
    * positive side is corpus-derived, so it carries no static broadcast
    * hint — AQE broadcasts it at runtime). Output: (queryIdCol,
    * role ∈ {pos, neg}, docIdCol, simCol, rank). */
  def marginHardNegatives(cands: DataFrame, queryIdCol: String,
      docIdCol: String, simCol: String, margin: Double, nNeg: Int): DataFrame = {
    require(margin > 0.0, "margin must be positive")
    // the shortlist is read three times (positive rank, negative scan, and
    // the per-anchor cutoff join's positive side) — materialize it once so
    // the ANN route executes once (persist() at cluster scale)
    val c = cands.localCheckpoint(eager = false)
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col(simCol).desc, col(docIdCol).asc)
    val pos = c
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") === 1L)
    val neg = c
      .join(pos.select(col(queryIdCol), col(simCol).as("__pos_sim")), Seq(queryIdCol))
      .filter(col(simCol) <= col("__pos_sim") - margin)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= nNeg)
    pos.select(col(queryIdCol), lit("pos").as("role"), col(docIdCol),
        col(simCol), col("rank"))
      .unionByName(neg.select(col(queryIdCol), lit("neg").as("role"),
        col(docIdCol), col(simCol), col("rank")))
  }
}
