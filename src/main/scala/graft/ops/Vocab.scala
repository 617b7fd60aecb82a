package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-design + lexical-quality operators for a pretraining corpus:
  * build the corpus vocabulary with a coverage curve (how many word types
  * cover what fraction of all tokens — the curve a tokenizer budget is
  * read off), and score documents by in-vocabulary token fraction (the
  * RNG-free, engine-portable stand-in for CCNet-style LM quality
  * filtering: a doc whose tokens are mostly outside the corpus head is
  * boilerplate, noise, or another language). The reference corpus stops at
  * cleaned text (PLATFORM-contextual-Chunking.py builds chunks directly);
  * these compose between [[Clean]] and [[Mixture]] in a 100 TB flow.
  *
  * Determinism: everything is integer arithmetic until a final
  * parts-per-million integer division (`x * 1000000 DIV total`), so
  * results hash-compare bit-exactly against any engine — no float sums,
  * no log/exp libm drift.
  */
object Vocab {

  /** Lowercased whitespace tokens — the corpus-wide convention, delegated
    * to the single tokenization contract
    * ([[graft.functions.TextFns.wordTokens]]). */
  private def toks(c: Column): Column = graft.functions.TextFns.wordTokens(c)

  /** Per-word corpus counts: one map-side-combined hash aggregation over
    * the exploded token stream; blank tokens (empty docs) dropped. */
  private[graft] def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(toks(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Top-k vocabulary with a cumulative coverage curve.
    *
    * Output: `rank` (1-based, by count desc then word asc), `word`, `cnt`,
    * `cum_cnt`, `coverage_ppm` = floor(cum_cnt · 1e6 / total-tokens) —
    * integer division, identical in any engine.
    *
    * Scale shape: the full vocabulary (possibly 10M+ types at 100 TB) is
    * never globally sorted through one task — `orderBy(...).limit(k)`
    * plans as TakeOrderedAndProject (per-partition top-k heaps merged at
    * the driver, k rows only). The rank/cumsum window then runs over ≤k
    * rows, and the grand total joins in as a broadcast scalar. Long
    * arithmetic holds to ~9·10^12 total tokens (cum·1e6 < 2^63); past
    * that, widen the two operands to decimal(38,0) — same plan shape.
    */
  def topVocab(df: DataFrame, textCol: String, k: Int): DataFrame =
    // counts materialize once (|vocab| rows): the head and the grand total
    // are two branches, and without the checkpoint each would tokenize the
    // whole corpus independently
    topVocabFromCounts(wordCounts(df, textCol).localCheckpoint(false), k)

  /** [[topVocab]] over a PRE-COMPUTED `(word, cnt)` table. The head and the
    * grand total are two branches over the counts, and Catalyst does not
    * reuse common subtrees across branches — so a caller composing several
    * vocab sections (q98's datasheet) should materialize [[wordCounts]]
    * once (a |vocab|-row frame, tiny next to the corpus) and feed it here,
    * turning repeated corpus tokenize-explode passes into reads of the
    * counts artifact. */
  def topVocabFromCounts(counts: DataFrame, k: Int): DataFrame = {
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top = counts.orderBy(col("cnt").desc, col("word").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("word").asc)
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cnt",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .withColumn("coverage_ppm", expr("cum_cnt * 1000000 DIV total"))
      .select("rank", "word", "cnt", "cum_cnt", "coverage_ppm")
  }

  /** In-vocabulary token fraction per document, against a supplied
    * vocabulary (normally [[topVocab]]'s head — pass it pre-computed so
    * one vocab serves many scoring runs).
    *
    * Output per input row: the `idCols`, `n_tokens`, `in_vocab`,
    * `score_ppm` = floor(in_vocab · 1e6 / n_tokens) (0 for empty docs).
    *
    * Scale shape: explode is map-side; the vocab join is a BROADCAST hash
    * join (a vocabulary head is KB–MB); the only shuffle is the final
    * per-doc count aggregation. Empty documents never reach the explode
    * and are restored by a left join so the operator is total.
    */
  def inVocabScore(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, vocabWordCol: String = "word"): DataFrame = {
    val v = broadcast(vocab.select(col(vocabWordCol).as("__w")).distinct())
    val scored = df.select(col(idCol), explode(toks(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .join(v.withColumn("__hit", lit(1)), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__hit")).as("in_vocab"))
      .withColumn("score_ppm", expr("in_vocab * 1000000 DIV n_tokens"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("in_vocab"), lit(0L)).as("in_vocab"),
        coalesce(col("score_ppm"), lit(0L)).as("score_ppm"))
  }

  /** Span-level repetition signal — the poor-man's exact-substring dedup
    * (the signal behind "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2021): for each document, the fraction (ppm) of
    * its word n-gram spans that also occur in SOME OTHER document. A doc
    * made of corpus-repeated spans is boilerplate or a copy; doc-level
    * near-dup (MinHash q14, Jaccard q38) misses it when the copying is
    * partial. Positional n-grams — NOT the distinct/sorted shingle sets of
    * [[graft.expr.TextExprs.wordShingles]] — because span COUNTS are
    * the unit here.
    *
    * Scale shape: explode is map-side (n_tokens − n + 1 spans per doc);
    * span global frequency is one map-side-combined hash agg keyed by the
    * span text; docs-per-span needs distinct doc counting only up to 2 —
    * `count_distinct` is avoided in favor of min/max doc comparison (an
    * O(1) buffer, no distinct set). The per-doc roll-up is the second and
    * final shuffle. At 100 TB, hash the span to a 64-bit key before the
    * agg (xxhash64) to shrink shuffle bytes — kept as raw text here so the
    * DuckDB oracle can spell the same plan.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spans = df
      .select(col(idCol),
        explode(graft.expr.TextExprs.wordSpans(col(textCol), n)).as("__span"))
    // a span is "shared" iff it appears in at least two DISTINCT docs:
    // min(doc) < max(doc) — constant-size agg buffer, no distinct set
    val shared = spans.groupBy(col("__span"))
      .agg((min(col(idCol)) < max(col(idCol))).as("__shared"))
    val scored = spans.join(shared, Seq("__span"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__shared"), 1L).otherwise(0L)).as("shared_spans"))
      .withColumn("repeat_ppm", expr("shared_spans * 1000000 DIV n_spans"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("shared_spans"), lit(0L)).as("shared_spans"),
        coalesce(col("repeat_ppm"), lit(0L)).as("repeat_ppm"))
  }

  /** Cross-split contamination audit — the decontamination check run
    * BEFORE training (GPT-3, Brown et al. 2020, Appendix C: n-gram overlap
    * between training data and eval sets): for each pair of splits, the
    * number of DISTINCT word n-gram spans present in both. An id-hash
    * split ([[splitAssign]]) guarantees no document leaks; this query
    * audits the stronger property — how much CONTENT leaks via distinct
    * documents sharing spans (near-dups straddling the split boundary).
    * [[graft.Queries5]]'s q76 checks the corpus against an EXTERNAL
    * benchmark; this is the intra-corpus, split-aware sibling.
    *
    * Output: one row — `train_val`, `train_test`, `val_test` distinct
    * shared-span counts.
    *
    * Scale shape: span explode is map-side; the per-span split-membership
    * aggregate (three bool_or flags — an O(1) buffer, never a split set)
    * is ONE span-keyed hash agg with map-side partials. No distinct over
    * the raw (split, span) stream: bool_or is idempotent under duplicate
    * spans, so deduplicating first would only add a second full shuffle
    * of span text for the same answer. The final pair counts are a
    * single-row aggregate. Same 64-bit-hash note as [[repeatedSpans]] for
    * 100 TB shuffles. */
  def crossSplitLeaks(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spans = splitAssign(df, idCol)
      .select(col("split"),
        explode(graft.expr.TextExprs.wordSpans(col(textCol), n)).as("__span"))
    spans.groupBy(col("__span"))
      .agg(
        max(col("split") === "train").as("__tr"),
        max(col("split") === "val").as("__va"),
        max(col("split") === "test").as("__te"))
      .agg(
        sum(when(col("__tr") && col("__va"), 1L).otherwise(0L)).as("train_val"),
        sum(when(col("__tr") && col("__te"), 1L).otherwise(0L)).as("train_test"),
        sum(when(col("__va") && col("__te"), 1L).otherwise(0L)).as("val_test"))
  }

  /** Deterministic train/val/test assignment by md5-prefix bucket of the
    * id — the [[graft.Queries4.q56HashSample]] convention widened to a
    * 3-way split: 256 two-hex-digit buckets, `< "f0"` → train (93.75%),
    * `< "f8"` → val (3.125%), rest → test (3.125%). RNG-free and
    * engine-portable: the same row lands in the same split on every
    * engine, every rerun, forever — the property that makes a 100 TB
    * split resumable and leak-auditable. Pure map-side projection. */
  def splitAssign(df: DataFrame, idCol: String): DataFrame = {
    val p = substring(md5(col(idCol).cast("string")), 1, 2)
    df.withColumn("split",
      when(p < "f0", lit("train")).when(p < "f8", lit("val")).otherwise(lit("test")))
  }

  /** Zipf-law fit over the top-`k` token frequencies: ordinary least
    * squares of ln(count) against ln(rank) — a healthy natural-language
    * corpus shows slope ≈ −1 (Zipf 1949); a slope far off is a canary for
    * boilerplate floods or synthetic/spammy text, so the datasheet-grade
    * health stat a corpus release carries.
    *
    * Output (one row): `n_ranks`, `slope`, `intercept` (doubles — a
    * regression over ≤k points; Spark's regr_slope/regr_intercept
    * aggregates, SPARK-37623).
    *
    * Scale shape: identical to [[topVocab]] — the full vocabulary is never
    * globally sorted (orderBy+limit plans as TakeOrderedAndProject, k-row
    * heaps merged at the driver); the rank window and the regression then
    * run over ≤k rows, a bounded slice by construction. */
  def zipfFit(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val top = wordCounts(df, textCol)
      .orderBy(col("cnt").desc, col("word").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("word").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_ranks"),
        // round + 0.0: a degenerate (flat) input makes the OLS covariance a
        // catastrophic cancellation of zero whose ±1e-17 residue — and its
        // SIGN — depend on partial-aggregation order; rounding at the 6dp
        // oracle canon and adding +0.0 collapses both ±noise and -0.0
        expr("round(regr_slope(ln(cnt), ln(rank)), 6) + 0.0").as("slope"),
        expr("round(regr_intercept(ln(cnt), ln(rank)), 6) + 0.0").as("intercept"))
  }

  /** Heaps-law fit: vocabulary growth V(N) ≈ K·N^β measured at `points`
    * id-ordered corpus checkpoints and fit by OLS of ln V on ln N —
    * β ≈ 0.4–0.8 for natural text (Heaps 1978); a β near 0 (vocabulary
    * saturates) or near 1 (every token novel) flags template floods or
    * id-like garbage. [[zipfFit]]'s companion curve in the datasheet.
    *
    * Checkpoints are `c_i = i·max_id/points`; V(c) counts words whose
    * FIRST occurrence (min doc id — one hash aggregate over the token
    * stream) is ≤ c, N(c) sums tokens of docs ≤ c. The checkpoint grid
    * rides along as a broadcast `points`-row side, and both curves are
    * map-side-combined conditional counts keyed by checkpoint — each
    * partition emits ≤`points` partial rows, so the only post-explode
    * shuffles carry checkpoint aggregates, never the vocabulary; the
    * regression runs over `points` rows. All counter arithmetic is
    * integer-exact; only the final ln/OLS is floating.
    *
    * Output (one row): `n_points`, `slope` (β), `intercept` (ln K). */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
      points: Int = 10): DataFrame = {
    require(points >= 2, s"points must be >= 2, got $points")
    val spark = df.sparkSession
    import spark.implicits._
    val toksDf = df.select(col(idCol).cast("long").as("__id"),
      explode(toks(col(textCol))).as("word")).filter(col("word") =!= "")
    val firstOcc = toksDf.groupBy(col("word")).agg(min(col("__id")).as("fo"))
    val maxId = df.agg(max(col(idCol).cast("long")).as("mx"))
    val cps = maxId.crossJoin(Seq.tabulate(points)(i => i + 1).toDF("i"))
      .select(col("i"), expr("i * mx DIV " + points).as("c"))
    // V_i: one pass over the first-occurrence table, `points` counters
    val v = firstOcc.crossJoin(broadcast(cps))
      .groupBy(col("i"), col("c"))
      .agg(sum(when(col("fo") <= col("c"), 1L).otherwise(0L)).as("vocab"))
    // N_i: per-doc token counts once, then the same conditional-sum shape.
    // (A map-side tokenCount-kernel projection instead of this second
    // explode+agg measured consistently SLOWER at 64× — 1.9 vs 1.2 s —
    // and was dropped; the explode's partial agg pipelines better here.)
    val docToks = toksDf.groupBy(col("__id")).agg(count(lit(1)).as("nt"))
    val n = docToks.crossJoin(broadcast(cps))
      .groupBy(col("i"), col("c"))
      .agg(sum(when(col("__id") <= col("c"), col("nt")).otherwise(0L)).as("toks"))
    v.join(n, Seq("i", "c"))
      .filter(col("toks") > 0L)
      .agg(count(lit(1)).as("n_points"),
        // round + 0.0 for the same degenerate-cancellation reason as zipfFit:
        // a saturated vocabulary makes the slope an order-dependent ±0
        expr("round(regr_slope(ln(vocab), ln(toks)), 6) + 0.0").as("slope"),
        expr("round(regr_intercept(ln(vocab), ln(toks)), 6) + 0.0").as("intercept"))
  }

  /** Per-document bigram predictability — the RNG-free, log-free stand-in
    * for an LM perplexity filter (CCNet trains a 5-gram LM; the portable
    * integer form is the bigram MLE): for each adjacent token pair
    * `(w1, w2)` in a document, `p_ppm = c(w1 w2) · 1e6 div c(w1)` from
    * CORPUS counts, and the document scores the integer mean over its
    * pairs. High mean = template/boilerplate-predictable text, low mean =
    * high-surprise (or off-corpus) text — the two tails a quality gate
    * trims, complementing the rule gate (q21), classifier (q108) and DSIR
    * (q112) members of the filter family.
    *
    * Scale shape: three corpus scans (unigram counts, bigram counts, the
    * per-doc bigram stream — Catalyst cannot share subtrees across join
    * branches, the [[topVocab]] caveat), each a map-side-combined
    * aggregation or a codegen span projection
    * ([[graft.expr.ShingleKernels.wordSpans]] at n=2); both count tables
    * are vocab-sized and join back hint-free (AQE broadcasts while they
    * fit). All arithmetic is integer, so the score is engine-exact; pairs
    * whose first token is blank (edge-whitespace artifact) drop from both
    * the count and the mean via the inner unigram join, identically in the
    * oracle. Documents with fewer than two tokens report (0, 0). */
  def bigramPredictability(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val uni = wordCounts(df, textCol)
      .select(col("word").as("w1"), col("cnt").as("w1_cnt"))
    val bgCnt = df.select(
        explode(graft.expr.TextExprs.wordSpans(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("bg_cnt"))
    val docBg = df.select(col(idCol),
      explode(graft.expr.TextExprs.wordSpans(col(textCol), 2)).as("bg"))
    val scored = docBg
      .join(bgCnt, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni, Seq("w1"))
      .withColumn("p_ppm", expr("bg_cnt * 1000000L div w1_cnt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_ppm")).as("__ps"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("__ps div n_bigrams"), lit(0L)).as("mean_p_ppm"))
  }

  /** Stupid-backoff trigram predictability (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the score function built
    * for exactly this setting: corpus-count LMs too large to smooth):
    * per document, the mean over its trigram occurrences of
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)            if the trigram is in the LM
    *              = α · c(w2w3)/c(w2)            else if the bigram is
    *              = α² · c(w3)/N                 else if the unigram is
    *              = 0                            else
    *
    * with α = 0.4 (`alphaPpm`), all in integer ppm — engine-exact, no
    * floats, no logs. Unlike [[bigramPredictability]] (which scores a
    * corpus against its own counts, so nothing is ever unseen), the LM
    * counts come from a SEPARATE `lm` frame — score held-out docs
    * against a train split and the backoff chain actually fires, which
    * is the quality signal: held-out text full of LM-unseen trigrams
    * scores low, the integer stand-in for held-out perplexity.
    *
    * Scale shape: three map-side-combined aggregations over the LM
    * corpus (tri/bi/uni count tables, vocab-sized), one 1-row total
    * (statically bounded broadcast — the grand-total precedent), and the
    * scored corpus joins the count tables hint-free on span keys (AQE
    * broadcasts while the LM head fits; co-partitioned joins past it).
    * Branch denominators are never null when their branch fires: a seen
    * trigram implies its prefix bigram is seen, a seen bigram implies
    * its middle unigram. */
  def trigramBackoffPredictability(df: DataFrame, idCol: String,
      textCol: String, lm: DataFrame, alphaPpm: Long = 400000L): DataFrame = {
    val alpha2Ppm = alphaPpm * alphaPpm / 1000000L
    val uni = wordCounts(lm, textCol)
      .select(col("word").as("w"), col("cnt").as("u_cnt"))
    val total = uni.agg(coalesce(sum(col("u_cnt")), lit(0L)).as("n_lm"))
    val bg = lm.select(
        explode(graft.expr.TextExprs.wordSpans(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("bg_cnt"))
    val tri = lm.select(
        explode(graft.expr.TextExprs.wordSpans(col(textCol), 3)).as("tg"))
      .groupBy(col("tg")).agg(count(lit(1)).as("tri_cnt"))
    val scored = df.select(col(idCol),
        explode(graft.expr.TextExprs.wordSpans(col(textCol), 3)).as("tg"))
      .withColumn("pfx", substring_index(col("tg"), " ", 2))
      .withColumn("suf", substring_index(col("tg"), " ", -2))
      .join(tri, Seq("tg"), "left")
      .join(bg.select(col("bg").as("pfx"), col("bg_cnt").as("pfx_cnt")),
        Seq("pfx"), "left")
      .join(bg.select(col("bg").as("suf"), col("bg_cnt").as("suf_cnt")),
        Seq("suf"), "left")
      .withColumn("w2", substring_index(col("suf"), " ", 1))
      .join(uni.select(col("w").as("w2"), col("u_cnt").as("w2_cnt")),
        Seq("w2"), "left")
      .withColumn("w3", substring_index(col("tg"), " ", -1))
      .join(uni.select(col("w").as("w3"), col("u_cnt").as("w3_cnt")),
        Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .withColumn("p_ppm",
        when(col("tri_cnt").isNotNull, expr("tri_cnt * 1000000L div pfx_cnt"))
          .when(col("suf_cnt").isNotNull,
            expr(s"suf_cnt * ${alphaPpm}L div w2_cnt"))
          .when(col("w3_cnt").isNotNull,
            expr(s"w3_cnt * ${alpha2Ppm}L div n_lm"))
          .otherwise(lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("p_ppm")).as("__ps"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(expr("__ps div n_trigrams"), lit(0L)).as("mean_p_ppm"))
  }

  /** Distinct-n diversity report (the "distinct-2" generation-diversity
    * metric of Li et al. 2016, applied corpus-side): per group, total vs
    * DISTINCT word n-gram occurrences and
    * `distinct_ppm = n_distinct · 1e6 div n_total`. Low distinct-n on a
    * training slice flags template spam / boilerplate floods that
    * per-document repetition gates ([[Repetition]]) cannot see, because
    * the repetition is ACROSS documents.
    *
    * Scale shape: one explode of the token stream into n-grams, then a
    * single (group, shingle)-keyed aggregate feeding a group-keyed
    * rollup — both map-side combined; nothing downstream is larger than
    * the distinct-shingle frame. */
  def distinctNgramReport(df: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1)
    // tokenize ONCE per row into a projected column: an interpreted HOF
    // lambda re-evaluates every captured expression per element, so
    // shingling straight off filter(split(...)) is O(tokens²) per doc
    val sh = when(size(col("__t")) >= n,
        transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => array_join(slice(col("__t"), i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(col(groupCol),
        filter(toks(col(textCol)), t => t =!= "").as("__t"))
      .select(col(groupCol), explode(sh).as("__sh"))
      .groupBy(col(groupCol), col("__sh"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_total"), count(lit(1)).as("n_distinct"))
      .withColumn("distinct_ppm", expr("n_distinct * 1000000L div n_total"))
  }

  /** Per-group vocabulary budget table — the inverse of [[topVocab]]'s
    * coverage curve, asked the way a tokenizer budget is actually sized:
    * for each group (language, domain), how many word TYPES does it take
    * to cover 50% / 90% / 99% of all token OCCURRENCES? Per group and
    * threshold t: `types_<t>` = the smallest rank whose cumulative count
    * reaches `ceil`-wise `cum·1e6 ≥ t·total`, and `cov_<t>_ppm` = the
    * coverage actually achieved there (integer div). Frequency ties break
    * on the word — fully deterministic. Empty tokens are dropped (the
    * [[distinctNgramReport]] convention).
    *
    * Scale shape: one (group, word) hash aggregate over the token stream
    * (map-side combined), one per-group window over the type frame —
    * bounded by vocabulary size, not corpus size — then a per-group
    * aggregate. */
  def coverageBudget(df: DataFrame, groupCol: String, textCol: String,
      thresholdsPpm: Seq[Long]): DataFrame = {
    require(thresholdsPpm.nonEmpty &&
      thresholdsPpm.forall(t => t >= 1L && t <= 1000000L))
    val counts = df
      .select(col(groupCol),
        explode(filter(toks(col(textCol)), t => t =!= "")).as("__w"))
      .groupBy(col(groupCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col("__w").asc)
    val ranked = counts
      .withColumn("__rank", row_number().over(w).cast("long"))
      .withColumn("__cum",
        sum(col("__c")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__tot", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
    val base = Seq(count(lit(1)).as("n_types"), max(col("__tot")).as("n_tokens"))
    val per = thresholdsPpm.flatMap { t =>
      val hit = col("__cum") * 1000000L >= col("__tot") * t
      Seq(min(when(hit, col("__rank"))).as(s"types_$t"),
        min(when(hit, col("__cum"))).as(s"__cum_$t"))
    }
    val agg = ranked.groupBy(col(groupCol)).agg((base ++ per).head,
      (base ++ per).tail: _*)
    thresholdsPpm.foldLeft(agg) { (d, t) =>
      d.withColumn(s"cov_${t}_ppm", expr(s"__cum_$t * 1000000L div n_tokens"))
        .drop(s"__cum_$t")
    }
  }
  /** Greedy maximum-coverage document selection (the classic (1−1/e)
    * greedy for facility-location/set-cover objectives — Nemhauser et
    * al. 1978): pick `k` documents one at a time, each round taking the
    * document that adds the most NOT-YET-COVERED distinct tokens. The
    * budget-constrained "most diverse k examples" selector — the
    * submodular cousin of score-threshold selection (q113) and DSIR
    * (q112).
    *
    * Determinism: argmax ties break on smallest id; rounds are exact set
    * arithmetic, no scores. Output: one row per pick while new coverage
    * exists (round, idCol, new_tokens, cum_tokens, coverage_ppm of the
    * corpus vocabulary).
    *
    * Scale shape: the distinct (doc, token) frame is checkpointed once;
    * each round is one anti-join against the covered-token frame + one
    * map-combined count + a 1-ROW argmax collect (the statically-bounded
    * per-round driver traffic the BPE learner also pays — SURVEY §7's
    * documented exception class). The covered frame is DERIVED each round
    * as a filter of the pinned (doc, token) frame over the ≤k picked ids —
    * not maintained as a union-distinct chain: a left-anti probe needs
    * neither dedup nor materialization of its build side, so deriving it
    * drops the per-round distinct shuffle AND the per-round re-checkpoint
    * the r17 spelling paid (measured 39 → 31 jobs, 4.2 → 2.5 s min-of-3
    * at sf0.1), while the lineage stays flat because every round's plan
    * hangs off the same checkpointed frame. Rounds are few and fixed —
    * greedy selection is inherently sequential. */
  def greedyCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int = 1): DataFrame = {
    require(k >= 1 && shingleN >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    // shingleN > 1 covers distinct word n-grams instead of unigrams —
    // the right unit when the unigram vocabulary is tiny relative to
    // the corpus (synthetic pools, code, templated text)
    val unit =
      if (shingleN == 1) toks(col(textCol))
      else graft.expr.TextExprs.wordShingles(col(textCol), shingleN)
    val dt = df.select(col(idCol).as("__id"), explode(unit).as("__w"))
      .filter(col("__w") =!= "")
      .distinct()
      .localCheckpoint(false)
    val total = dt.select(col("__w")).distinct().count()
    var picked = Vector.empty[(Long, Long, Long)] // (round, id, newTokens)
    var done = false
    var r = 1
    while (r <= k && !done) {
      val pickedIds = if (picked.isEmpty) Seq(-1L) else picked.map(_._2)
      // covered tokens = the picked docs' rows of the pinned frame; the
      // anti-join treats its build side as a set, so no distinct needed
      val covered = dt.filter(col("__id").isInCollection(pickedIds))
        .select(col("__w"))
      val nc = dt
        .filter(!col("__id").isInCollection(pickedIds))
        .join(covered, Seq("__w"), "left_anti")
        .groupBy(col("__id")).agg(count(lit(1)).as("__c"))
      val top = nc.orderBy(col("__c").desc, col("__id").asc).limit(1)
        .collect() // 1 row — the bounded-argmax class
      if (top.isEmpty) done = true
      else {
        val id = top.head.getLong(0)
        picked :+= ((r.toLong, id, top.head.getLong(1)))
        r += 1
      }
    }
    val cum = picked.scanLeft(0L)(_ + _._3).tail
    picked.zip(cum).map { case ((rd, id, nt), c) =>
      (rd, id, nt, c, c * 1000000L / math.max(total, 1L))
    }.toDF("round", idCol, "new_tokens", "cum_tokens", "coverage_ppm")
  }

  /** PMI-lift collocation mining: the top bigram collocations by
    * observed/expected frequency ratio — `lift = P(w1w2)/(P(w1)P(w2))`,
    * spelled in integer ppm as `bg_cnt·1e6 div c1 · N div c2` (the
    * overflow-safe association order; the lift RANKING is the monotone
    * integer stand-in for PMI = log lift, so no logs are needed). A
    * count floor keeps hapax noise out — classic collocation extraction
    * (Church & Hanks 1990), the vocabulary signal that finds multi-word
    * units worth protecting from tokenizer splits.
    *
    * Output: topK rows (w1, w2, bg_cnt, c1, c2, lift_ppm), ranked by
    * (lift desc, w1, w2) — a total order, so the cut is deterministic.
    *
    * Scale shape: two map-combined count aggregates (unigram and bigram
    * span frames), two vocab-keyed equi-joins, one 1-row token total
    * (statically bounded broadcast), and a TakeOrderedAndProject cut —
    * the corpus is scanned twice and never re-shuffled at corpus size. */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 2 && topK >= 1)
    val uni = wordCounts(df, textCol)
    val total = uni.agg(sum(col("cnt")).as("n_tokens"))
    val bg = df.select(
        explode(graft.expr.TextExprs.wordSpans(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("bg_cnt"))
      .filter(col("bg_cnt") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    bg
      .join(uni.select(col("word").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("cnt").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        expr("bg_cnt * 1000000L div c1 * n_tokens div c2"))
      .orderBy(col("lift_ppm").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .select(col("w1"), col("w2"), col("bg_cnt"), col("c1"), col("c2"),
        col("lift_ppm"))
  }

  /** Per-group nucleus vocabulary: how many distinct tokens, taken in
    * frequency order (count desc, token asc), carry `massPpm` of the
    * group's token mass — the top-p "effective vocabulary" readout
    * ([[topVocab]] asks what a FIXED top-k covers; this inverts the
    * question per group). A token is in the nucleus while the mass
    * BEFORE it is under the target (standard top-p inclusion), so the
    * nucleus always reaches the target mass.
    *
    * Output: (groupCol, total_tokens, vocab_size, nucleus_size,
    * top10_ppm). Scale shape: one (group, token) aggregate over the
    * exploded stream, then rank/cumsum/total windows sharing ONE
    * group-keyed partitioning over the |group vocab| frame. The
    * inclusion test multiplies cumulative mass by 1e6 — exact to ~9e12
    * tokens per group (the [[topVocab]] bound). */
  def nucleusVocab(df: DataFrame, groupCol: String, textCol: String,
      massPpm: Long): DataFrame = {
    require(massPpm >= 1 && massPpm <= 1000000L)
    val counts = df
      .select(col(groupCol), explode(toks(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(groupCol), col("word")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col("word").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("cnt")).over(
        Window.partitionBy(col(groupCol))))
      .groupBy(col(groupCol))
      .agg(min(col("__tot")).as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(expr(s"(__cum - cnt) * 1000000L < __tot * ${massPpm}L"),
          1L).otherwise(0L)).as("nucleus_size"),
        expr("sum(case when rank <= 10 then cnt else 0L end) " +
          "* 1000000L div min(__tot)").as("top10_ppm"))
  }
}
