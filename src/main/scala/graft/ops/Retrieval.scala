package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical + hybrid retrieval — the production extension of the reference's
  * vector-only search (reference: PLATFORM-GenerationLLM.py:42-58 retrieves
  * by cosine alone; a deployed RAG stack pairs that with a lexical BM25
  * route and fuses the two rankings, because embedding recall collapses on
  * rare tokens, ids, and numbers that exact term matching catches for free).
  *
  * Scale design:
  *  - BM25 is the classic inverted-index shape as declarative plans over
  *    one [[Postings]] index, spelled once per step: [[bm25Weights]] is
  *    the one weight build (the (doc, term) weights, pre-floored to
  *    integer micro-units, doc-partitioned), [[bm25WeightsShared]] its one
  *    checkpointed form for passes that reuse it, [[bm25Scores]] the one
  *    probe (optional df cut, broadcast probe-set equi-join on the term —
  *    never a cross join — and the order-independent long (query, doc)
  *    sum), [[bm25Rank]] the one ranker and [[prfExpansion]] the one
  *    feedback-expansion step.
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

  /** The DISTINCT (query, term) probe set of a free-text query frame: its
    * word tokens (the corpus-wide `wordTokens` contract: lower(trim),
    * split on whitespace, blanks dropped) under the internal `__term`
    * name every probe here joins on. */
  def queryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): DataFrame =
    queries
      .select(col(queryIdCol),
        explode(graft.functions.TextFns.wordTokens(col(queryTextCol))).as("__term"))
      .filter(col("__term") =!= "")
      .distinct()

  /** The (doc, term) BM25 weight table — (idCol, __term, __c_e6, __df,
    * __n_docs), one row per postings row. The per-term weight is a
    * (doc, term) fact — the query never enters it — so the idf·tfn
    * double chain runs ONCE per postings row and every probe pass
    * carries only a pre-floored long.
    *
    * Determinism: idf and the tf normalization are IEEE double chains with
    * a pinned association — both engines evaluate
    * `ln(((N − df) + 0.5) / (df + 0.5) + 1)` and
    * `tf·(k1+1) / (tf + k1·((1−b) + b·(dl/avgdl)))` in exactly this
    * parenthesization — and the single libm call (ln) is floored to
    * micro-units per TERM before any sum, the q61 TF-IDF precedent (a
    * 1-ulp libm divergence cannot cross a 1e-6 boundary except with
    * ~1e-10 probability).
    *
    * The statistics join the (doc, term) rows BEFORE the doc
    * repartition, so the `__df` and `__n_docs` a df cut ([[bm25Scores]])
    * filters on meet in that one cross join: Catalyst pushes a cut
    * written on the finished table down into it, and the cut terms never
    * reach the shuffle. They ride on tf ⋈ dfreq rather than on `dfreq`
    * itself because a cross join's size estimate is the product of its
    * sides: `dfreq × stats` looks larger than the corpus postings, and
    * the planner then broadcast `tf` to the vocabulary (seen in the final
    * sf0.1 plan of q130).
    *
    * The explicit doc repartition between the tf and dl joins makes the
    * table's DOC-partitioning a guarantee instead of a plan accident: at
    * cluster scale the dl equi-join would demand exactly this exchange
    * (EnsureRequirements inserts it — the repartition is absorbed, not
    * added), while at broadcast scale the joins preserve whatever the
    * checkpointed tf scan reports, which under AQE is UNKNOWN
    * partitioning — and the (query, doc) sum of [[bm25Scores]] then
    * re-shuffled a per-task-duplicated (query, doc) map (the single
    * largest exchange of the BM25 family, 44 MB at sf0.1 on the
    * degenerate fixture). Doc-partitioned, that sum is exchange-free and
    * its partial aggregation exact, because every term contribution of a
    * doc is co-located.
    *
    * The partition COUNT is pinned to the session's configured shuffle
    * parallelism rather than left to AQE coalescing: everything from
    * this exchange's read to the (query, doc) window exchange — weight
    * arithmetic, the probe join, its per-row output × |probe terms per
    * doc-term match|, and the partial aggregation — runs in ONE stage
    * whose WORK is input rows × matching probe rows, a multiplier AQE's
    * byte heuristic cannot see. Left adaptive, the coalescer shrinks the
    * read to the byte floor (minPartitionSize) and serializes the only
    * compute-bound stage of the family (same-session A/B, min-of-3:
    * q142 4.39 → 2.07 s, q241 5.56 → 2.51 s, q251 6.00 → 1.72 s,
    * q228 4.61 → 1.64 s — OPTIMIZATION_r19.md). At corpus scale the
    * exchange exceeds the advisory size and AQE would not coalesce it
    * anyway, so pinning costs nothing there — the pin only matters
    * exactly where the byte heuristic misjudges. Same pattern and
    * rationale as [[Dedup.editConfirmPairs]]'s DP repartition. */
  def bm25Weights(p: Postings, idCol: String): DataFrame = {
    val dfD = col("__df").cast("double")
    val nD = col("__n_docs").cast("double")
    val tfD = col("__tf").cast("double")
    val dlD = col("__dl").cast("double")
    val idf = log(((nD - dfD) + 0.5) / (dfD + 0.5) + 1.0)
    val tfn = (tfD * lit(Bm25K1 + 1.0)) /
      (tfD + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * (dlD / col("__avgdl"))))
    p.tf
      .join(p.dfreq, Seq("__term"))
      .crossJoin(broadcast(p.stats))
      .repartition(p.tf.sparkSession.sessionState.conf.numShufflePartitions,
        col(idCol))
      .join(p.dl, Seq(idCol))
      .select(col(idCol), col("__term"),
        floor(idf * tfn * 1e6 + 0.5).cast("long").as("__c_e6"),
        col("__df"), col("__n_docs"))
  }

  /** [[bm25Weights]] built ONCE for several probe passes or df cuts over
    * the same index (q137's two-pass expansion, q241's cut A/B): the
    * weights are probe- and cut-independent, so each pass is a filter and
    * a probe over this table. Lazily checkpointed with its doc
    * partitioning DECLARED
    * ([[org.apache.spark.sql.graftbridge.Bridge.localCheckpointHashPartitioned]]
    * — a plain lazy localCheckpoint reports UnknownPartitioning under
    * AQE, so every pass would re-exchange a table that is already
    * doc-partitioned): every [[bm25Scores]] pass over it plans
    * EXCHANGE-FREE — filter → broadcast probe → in-place exact
    * (query, doc) sum, one stage over the checkpointed blocks. The
    * helper's doc repartition matches the build's own doc pin, so the
    * planner drops it and the build shuffles once. The table is
    * corpus-sized, so the helper's no-auto-broadcast conservatism is
    * exactly right here. */
  def bm25WeightsShared(p: Postings, idCol: String): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.localCheckpointHashPartitioned(
      bm25Weights(p, idCol), Seq(idCol),
      p.tf.sparkSession.sessionState.conf.numShufflePartitions)

  /** The UN-truncated BM25 score table of a (query, term) probe set over a
    * [[bm25Weights]] or [[bm25WeightsShared]] table — (queryIdCol, idCol,
    * score_e6), one row per (query, document) pair sharing a term, the
    * query's own document excluded (`docId != queryId` — the audit
    * convention of [[Similarity.ivfRecallAudit]]). Per-term contributions
    * are floored longs, so the score is an order-independent long sum —
    * deterministic under any partial-aggregation schedule — and ADDITIVE
    * over disjoint probe sets: a second-pass expanded retrieval reuses the
    * first pass's scores and probes only the (few) expansion terms (q137
    * measured 6.3 → ~4 s on the worst-case fixture from exactly this
    * reuse). `qterms` carries the term as `__term` ([[queryTerms]]).
    *
    * `maxDfPpm` (optional) drops terms whose document frequency exceeds
    * the given ppm of the corpus — the Lucene-class stopword cut, as a
    * row filter on the weight table. At real corpus scale the postings
    * list of an ultra-high-df term is itself corpus-sized, so the term-
    * keyed probe join inherits the worst key skew in the index for terms
    * whose BM25 idf ≈ ln(1 + (N−df+0.5)/(df+0.5)) is already near zero
    * (df = 50% of docs ⇒ idf ≈ 0.7; 99% ⇒ 0.01) — the cut removes the
    * skew spine for (bounded) rank perturbation only among near-tied
    * candidates. Wave12Spec proves top-k invariance at a conservative
    * cutoff; the df comparison `df·1e6 ≤ ppm·N` is exact through
    * N ≤ 9.2e12 documents. Document lengths, avgdl and the other terms'
    * idf stay computed over the full index, so scores of surviving terms
    * are unchanged (the additivity contract holds across mixed-cutoff
    * passes only if both use the same cut).
    *
    * The probe set is broadcast and the corpus-sized weight table is the
    * STREAMED side, keeping its doc partitioning: HashPartitioning(doc)
    * satisfies ClusteredDistribution(query, doc), and all of a doc's term
    * contributions are co-located, so the (query, doc) sum is exact in
    * place with no exchange. A table WITHOUT that partitioning stays
    * correct — EnsureRequirements inserts the (query, doc) exchange.
    *
    * PRECONDITION (ADVICE r18): `qterms` must be a WORKLOAD-BOUNDED probe
    * set — a query sample held constant as the corpus scales (every
    * caller here re-derives `queryMod` for exactly that; see
    * Queries11.q130Bm25With). The unconditional `broadcast()` hint
    * overrides autoBroadcastJoinThreshold: a corpus-proportional qterms
    * frame would be force-broadcast and can OOM the driver instead of
    * degrading to a shuffle join. If your probe set scales with the
    * corpus, pre-aggregate or shard it — do not feed it here. */
  def bm25Scores(wt: DataFrame, idCol: String, qterms: DataFrame,
      queryIdCol: String, maxDfPpm: Option[Long] = None): DataFrame =
    maxDfPpm.fold(wt) { ppm =>
      require(ppm >= 1 && ppm <= 1000000L, s"maxDfPpm out of range: $ppm")
      wt.filter(col("__df") * 1000000L <= lit(ppm) * col("__n_docs"))
    }
      .join(broadcast(qterms), Seq("__term"))
      .filter(col(idCol) =!= col(queryIdCol))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__c_e6")).as("score_e6"))

  /** BM25 ranked retrieval: the top `k` documents per query of the
    * (query, term) probe set `qterms` over the index `p` — the classic
    * inverted-index shape as ONE declarative plan: the postings list is
    * probed with an equi-join on the term (never a cross join), the
    * corpus statistics ride in as a broadcast 1-row aggregate, and the
    * rank windows on the query id with ties to the document id.
    * Output: (queryIdCol, idCol, score_e6, rank), rank ≤ k. */
  def bm25Rank(p: Postings, idCol: String, qterms: DataFrame,
      queryIdCol: String, k: Int): DataFrame =
    TopK.rankPerGroup(queryIdCol, "score_e6", idCol, k, "rank")(
      bm25Scores(bm25Weights(p, idCol), idCol, qterms, queryIdCol))

  /** Pseudo-relevance-feedback query expansion (RM3-lite): `fb(queryIdCol,
    * idCol)` is each query's feedback shortlist (its BM25 top documents,
    * however ranked); every term of the feedback set is weighted by its
    * summed length-normalized frequency `Σ_d tf(t,d)·1e6 div dl(d)`
    * (integer ppm — the relevance-model P(t|d) with the uniform document
    * prior folded out), the query's own terms (`qterms`) are dropped, and
    * the `nTerms` heaviest per query are kept (ties to the term). The
    * output is the expansion table a second-pass retrieval unions onto
    * its query terms. Output: (queryIdCol, term, weight_ppm, rank).
    *
    * Scale shape: the feedback set is |queries|·fbK rows, so every join
    * here is shortlist-sized except the one postings probe that fetches
    * the feedback documents' term vectors — an equi-join on the doc id.
    *
    * PRECONDITIONS (ADVICE r18): (1) `fb` must be DISTINCT on
    * (queryIdCol, idCol) — [[bm25Rank]] emits it that way; a duplicated
    * feedback row would double that document's recomputed `__dl` below
    * and shift its term weights. (2) The document length is recomputed as
    * Σ __tf over the fetched vectors, which equals `p.dl` exactly when `p`
    * was built by [[postings]]/[[postingsFromTf]] (dl is DEFINED as Σ tf
    * there); a hand-built [[Postings]] whose dl differs from Σ tf would
    * see the Σ-tf weighting, not its custom dl. */
  def prfExpansion(p: Postings, idCol: String, fb: DataFrame,
      qterms: DataFrame, queryIdCol: String, nTerms: Int): DataFrame = {
    // fb is a per-query feedback SHORTLIST (|queries| × fbK rows) —
    // broadcast it, so fetching the feedback documents' term vectors
    // streams the corpus-sized tf with no shuffle. The document length
    // then recomputes from the fetched vectors themselves (the doc filter
    // keeps EVERY term of a kept doc, so Σ__tf per (query, doc) IS that
    // doc's dl): a window over shortlist-sized rows instead of a join
    // with the corpus-sized dl. Same integers.
    val wdl = Window.partitionBy(col(queryIdCol), col(idCol))
    TopK.rankPerGroup(queryIdCol, "weight_ppm", "__term", nTerms, "rank")(
      p.tf.join(broadcast(fb), Seq(idCol))
        .withColumn("__dl", sum(col("__tf")).over(wdl))
        .select(col(queryIdCol), col("__term"),
          expr("__tf * 1000000L div __dl").as("__w"))
        .groupBy(col(queryIdCol), col("__term"))
        .agg(sum(col("__w")).as("weight_ppm"))
        .join(qterms, Seq(queryIdCol, "__term"), "left_anti"))
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
