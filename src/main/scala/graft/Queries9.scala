package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.io.Tables
import graft.ops.{Classify, Dedup, Mixture, Vocab}

/** Ninth query wave: the remaining model/selection stages of a pretraining
  * corpus pipeline — a distilled quality CLASSIFIER (the trained-filter
  * stage, vs q21's hand rule), per-group probabilistic CAPPING (domain
  * thinning), paragraph-level first-occurrence DEDUP (the CCNet mode, vs
  * q96's every-occurrence boilerplate strip), and a Zipf-law fit (the
  * corpus-health canary a datasheet carries). All integer-exact except the
  * Zipf regression (a ≤200-point double OLS).
  */
object Queries9 {

  private val stopsSqlList: String =
    TextFns.Stopwords.map(s => s"'$s'").mkString(", ")

  // the classifier model constants, interpolated into the oracle SQL so the
  // two spellings cannot drift
  private val M = Classify.Distilled

  // ------------------------------------------------ quality classifier
  /** Distilled linear quality classifier over integer ppm features
    * (stopword / punctuation / digit density + capped length): per-doc
    * feature vector, logit in micro-units, keep verdict. See
    * [[graft.ops.Classify]] — the fused-kernel spelling: one map-side
    * feature pass per document, zero shuffles, all integer, so the
    * keep/drop frontier is bit-identical in any engine. */
  val q108QualityClassifier: Q = (spark, dir) =>
    Classify.qualityLogitFused(Tables.documents(spark, dir), "doc_id", "text",
        carryCols = Seq("source"))
      .orderBy("doc_id")

  /** The classifier's feature CTEs: tokens and raw counts `t`, word and
    * stopword counts `f`, integer ppm features `g` (q108, q113, q118). */
  private def featureCtes: String =
    s"""t AS (SELECT doc_id, source, length(text) AS n_chars,
       |    length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS punct_chars,
       |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |f AS (SELECT doc_id, source, n_chars, punct_chars, digit_chars,
       |    len(toks) AS n_words,
       |    len(list_filter(toks, t -> list_contains([$stopsSqlList], t))) AS stop_hits
       |  FROM t),
       |g AS (SELECT doc_id, source, n_words,
       |    stop_hits * 1000000 // n_words AS stop_ppm,
       |    punct_chars * 1000000 // greatest(n_chars, 1) AS punct_ppm,
       |    digit_chars * 1000000 // greatest(n_chars, 1) AS digit_ppm
       |  FROM f)""".stripMargin

  /** q113/q118's classifier CTE `cls`: the logit cast to BIGINT, then
    * `tail` (its alias, or a comparison and alias). */
  private def clsCte(tail: String): String =
    s"""cls AS (SELECT doc_id, source,
       |    (${M.bias} + ${M.wStopPpm} * stop_ppm + ${M.wPunctPpm} * punct_ppm
       |      + ${M.wDigitPpm} * digit_ppm
       |      + ${M.wWordCap} * least(n_words, ${M.wordCap}))::BIGINT$tail
       |  FROM g)""".stripMargin

  /** q113/q118's repetition signals `sig` over the classifier's tokens `t`
    * (the Queries8 gate CTEs with their names in this wave). */
  private def gateSigCtes: String =
    s"""l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
       |${Queries8.lineDupCtes},
       |${Queries8.topBigramCtes("t", "scnt", "topb")},
       |base AS (SELECT doc_id, length(lower(trim(text))) AS n_norm FROM documents),
       |${Queries8.repetitionSigCte("", "topb", "tb")}""".stripMargin

  /** The DSIR CTEs from bigrams of `tok(doc_id, source, toks)` to per-doc
    * bigram counts and value-sorted log-ratio sums `w` (q112, q113). */
  private def dsirCtes(tok: String): String =
    s"""bg AS (SELECT doc_id, source, array_to_string(toks[i : i + 1], ' ') AS bg
       |  FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM $tok WHERE len(toks) >= 2)),
       |bb AS (SELECT doc_id, source,
       |    ('0x' || substring(md5(bg), 1, 4))::BIGINT % 256 AS bucket FROM bg),
       |m AS (SELECT doc_id, bucket, count(*) AS m FROM bb GROUP BY doc_id, bucket),
       |model AS (SELECT bucket,
       |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
       |  FROM bb GROUP BY bucket),
       |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM model),
       |contrib AS (SELECT m.doc_id, m.m,
       |    m.m * ln((model.ct + 1.0) / (model.cr + 1.0)) AS c
       |  FROM m JOIN model USING (bucket)),
       |w AS (SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
       |    list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(c))),
       |                (a, b) -> a + b) AS s
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  val q108Sql: String =
    s"""WITH $featureCtes,
       |h AS (SELECT *,
       |    ${M.bias} + ${M.wStopPpm} * stop_ppm + ${M.wPunctPpm} * punct_ppm
       |      + ${M.wDigitPpm} * digit_ppm
       |      + ${M.wWordCap} * least(n_words, ${M.wordCap}) AS logit_e6
       |  FROM g)
       |SELECT doc_id, source, n_words::BIGINT AS n_words,
       |  stop_ppm::BIGINT AS stop_ppm, punct_ppm::BIGINT AS punct_ppm,
       |  digit_ppm::BIGINT AS digit_ppm, logit_e6::BIGINT AS logit_e6,
       |  logit_e6 > 0 AS keep
       |FROM h ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ per-group cap
  /** Common-Crawl-style domain thinning rolled up per language: groups at
    * or under the cap (100 docs) survive whole; over-cap groups keep each
    * doc with deterministic-hash probability cap/n. At sf0.001/sf0.01 only
    * `en` exceeds the cap (both branches exercised); at sf0.1 every group
    * thins. See [[graft.ops.Mixture.groupCap]] — a stateless per-row
    * predicate against one broadcast threshold row per group; no per-group
    * sort or window anywhere, the shape that survives billion-row groups. */
  val q109GroupCap: Q = (spark, dir) =>
    Mixture.groupCap(Tables.documents(spark, dir), "lang", "doc_id", cap = 100L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang")

  val q109Sql: String =
    """WITH c AS (SELECT lang, count(*) AS grp_n FROM documents GROUP BY lang),
      |t AS (SELECT lang, grp_n,
      |    CASE WHEN grp_n <= 100 THEN 16777216
      |         ELSE 100 * 16777216 // grp_n END AS thr
      |  FROM c),
      |k AS (SELECT d.lang,
      |    lpad(substring(md5(d.doc_id::VARCHAR), 1, 6), 7, '0')
      |      < lpad(lower(to_hex(t.thr)), 7, '0') AS keep
      |  FROM documents d JOIN t USING (lang))
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ paragraph dedup
  /** CCNet-mode paragraph dedup: every distinct non-empty line keeps only
    * its first corpus occurrence (smallest (doc_id, position)); documents
    * are reassembled from surviving lines with removal accounting. See
    * [[graft.ops.Dedup.paragraphDedupFirst]] — first-occurrence per line is
    * a min(struct) hash aggregate (no window over a viral line's
    * occurrence list), reassembly a per-doc sort of that doc's own lines. */
  val q110ParagraphDedup: Q = (spark, dir) =>
    Dedup.paragraphDedupFirst(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q110Sql: String =
    """WITH l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
      |l AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos FROM l0),
      |ln AS (SELECT doc_id, pos, ls[pos] AS line FROM l),
      |ne AS (SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      |  FROM ln WHERE length(line) > 0),
      |kept AS (SELECT doc_id, pos, line FROM ne WHERE rn = 1
      |  UNION ALL SELECT doc_id, pos, line FROM ln WHERE length(line) = 0),
      |r AS (SELECT doc_id, count(*) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY pos) AS new_text
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, len(string_split(d.text, chr(10)))::BIGINT AS n_lines,
      |  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
      |  (len(string_split(d.text, chr(10))) - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
      |  coalesce(r.new_text, '') AS new_text
      |FROM documents d LEFT JOIN r USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ zipf fit
  /** Zipf-law fit over the top-200 token frequencies: OLS of ln(count) on
    * ln(rank); slope ≈ −1 for healthy natural text. See
    * [[graft.ops.Vocab.zipfFit]] — the vocabulary is never globally
    * sorted (TakeOrderedAndProject), the regression runs over ≤200 rows. */
  val q111ZipfFit: Q = (spark, dir) =>
    Vocab.zipfFit(Tables.documents(spark, dir), "text", k = 200)

  val q111Sql: String =
    """WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents),
      |counts AS (SELECT word, count(*) AS cnt FROM tok WHERE word <> '' GROUP BY word),
      |top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
      |        FROM counts ORDER BY cnt DESC, word ASC LIMIT 200)
      |SELECT count(*)::BIGINT AS n_ranks,
      |  round(regr_slope(ln(cnt), ln(rank)), 6) + 0 AS slope,
      |  round(regr_intercept(ln(cnt), ln(rank)), 6) + 0 AS intercept
      |FROM top""".stripMargin

  // ------------------------------------------------ DSIR importance weights
  /** DSIR data selection (Xie et al. 2023): per-doc log-likelihood ratio of
    * a target-domain hashed-bigram model (target = `src0`'s documents, the
    * curated-domain proxy) over the raw-domain model. See
    * [[graft.ops.Dsir.importanceWeights]] — corpus mass shuffles only into
    * (doc, bucket) / (bucket) hash aggregations; the 256-row model and the
    * totals broadcast back; the per-doc double fold is value-sorted so the
    * float sum is engine-exact. */
  val q112DsirWeights: Q = (spark, dir) =>
    graft.ops.Dsir.importanceWeights(Tables.documents(spark, dir),
        "doc_id", "text", isTarget = col("source") === "src0",
        carryCols = Seq("source"))
      .orderBy("doc_id")

  val q112Sql: String =
    s"""WITH tok AS (SELECT doc_id, source,
      |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
      |${dsirCtes("tok")}
      |SELECT d.doc_id, d.source,
      |  coalesce(w.n_bigrams, 0)::BIGINT AS n_bigrams,
      |  coalesce(w.s + w.n_bigrams * ln((tot.nr + 256.0) / (tot.nt + 256.0)), 0.0) AS weight
      |FROM documents d LEFT JOIN w USING (doc_id), tot
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ heaps fit
  /** Checkpoint count shared by the q114 query and its oracle SQL — ONE
    * constant, so the Spark `points` argument and the SQL's checkpoint
    * grid can never drift apart in spelling. */
  private val HeapsPoints = 10

  /** Heaps-law vocabulary-growth fit at [[HeapsPoints]] id-ordered
    * checkpoints: OLS of ln V(N) on ln N; β ≈ 0.4–0.8 for natural text.
    * [[q111ZipfFit]]'s companion health stat — see
    * [[graft.ops.Vocab.heapsFit]]: first occurrences are one hash
    * aggregate, both curves map-side-combined conditional counts against a
    * broadcast checkpoint grid. */
  val q114HeapsFit: Q = (spark, dir) =>
    Vocab.heapsFit(Tables.documents(spark, dir), "doc_id", "text",
      points = HeapsPoints)

  val q114Sql: String =
    s"""WITH tok AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      |  FROM documents),
      |tk AS (SELECT doc_id, word FROM tok WHERE word <> ''),
      |fo AS (SELECT word, min(doc_id) AS fo FROM tk GROUP BY word),
      |mx AS (SELECT max(doc_id) AS mx FROM documents),
      |cps AS (SELECT i, i * mx.mx // $HeapsPoints AS c
      |  FROM (SELECT unnest(generate_series(1, $HeapsPoints)) AS i), mx),
      |v AS (SELECT cps.i, cps.c,
      |    sum(CASE WHEN fo.fo <= cps.c THEN 1 ELSE 0 END) AS vocab
      |  FROM fo, cps GROUP BY cps.i, cps.c),
      |dt AS (SELECT doc_id, count(*) AS nt FROM tk GROUP BY doc_id),
      |n AS (SELECT cps.i, cps.c,
      |    sum(CASE WHEN dt.doc_id <= cps.c THEN dt.nt ELSE 0 END) AS toks
      |  FROM dt, cps GROUP BY cps.i, cps.c)
      |SELECT count(*)::BIGINT AS n_points,
      |  round(regr_slope(ln(vocab), ln(toks)), 6) + 0 AS slope,
      |  round(regr_intercept(ln(vocab), ln(toks)), 6) + 0 AS intercept
      |FROM v JOIN n USING (i, c) WHERE toks > 0""".stripMargin

  // ------------------------------------------------ selection capstone
  /** Selection capstone: the full "choose the training corpus" decision as
    * ONE plan — classifier keep (q108's linear model) ∧ repetition-gate
    * pass (q102's Gopher thresholds) filters the pool, DSIR weight (q112's
    * target-likelihood ratio) ranks the survivors, and the top-100 ship as
    * the selection manifest (rank, source, quality logit, weight in
    * micro-units). Mirrors q89 (mixing) and q106 (decontamination): the
    * step that turns this wave's audits into an actionable corpus.
    *
    * Scale shape: ONE corpus scan and ONE span-tokenization pass. The
    * corpus is projected to (id, source, text, bigram spans) and
    * materialized as a lazy local checkpoint; the classifier (fused
    * feature kernel, map-side), the repetition gate (fused
    * RepetitionStats kernel — doc-local pure projection, zero exchanges),
    * and the DSIR scorer all branch off that checkpointed frame instead
    * of each re-scanning + re-tokenizing `documents` — at corpus scale
    * the tokenize-explode is the dominant cost and common-subtree reuse
    * across aggregation branches is NOT something Catalyst does for free
    * (branch exchanges differ, so each branch would re-run the scan).
    * Only DSIR consumes the span column. Downstream, the doc-keyed
    * branches co-partition on the id for their joins; the final rank is orderBy+limit (TakeOrderedAndProject —
    * per-partition top-k heaps, no global sort) with the row_number window
    * running over ≤100 rows. Ranking on `weight_e6` (floor(w·1e6 + 0.5),
    * the oracle-canon rounding) with an id tiebreak keeps the cut
    * engine-exact. */
  val q113SelectionCapstone: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val base = docs.select(col("doc_id"), col("source"), col("text"),
        graft.expr.TextExprs.wordSpans(col("text"), 2).as("spans"))
      .localCheckpoint(false)
    val cls = Classify.qualityLogitFused(base, "doc_id", "text", Seq("source"))
      .select(col("doc_id"), col("source"), col("logit_e6"), col("keep"))
    // the fused RepetitionStats kernel is doc-local (pure projection, no
    // exchanges) and needs no spans — only DSIR actually consumes the
    // span checkpoint
    val gate = graft.ops.Repetition.gateVerdictsFused(base, "doc_id", "text",
        maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
        maxTopBigramPpm = 180000L)
      .select(col("doc_id"), col("gate_pass"))
    val dsir = graft.ops.Dsir.importanceWeights(base, "doc_id", "text",
        isTarget = col("source") === "src0", spansCol = Some("spans"))
      .select(col("doc_id"),
        floor(col("weight") * 1000000.0 + 0.5).cast("long").as("weight_e6"))
    val pool = cls.join(gate, "doc_id").join(dsir, "doc_id")
      .filter(col("keep") && col("gate_pass"))
    val top = pool.orderBy(col("weight_e6").desc, col("doc_id").asc).limit(100)
    top.withColumn("rank",
        row_number().over(
          Window.orderBy(col("weight_e6").desc, col("doc_id").asc)).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("logit_e6"),
        col("weight_e6"))
  }

  val q113Sql: String =
    s"""WITH $featureCtes,
       |${clsCte(" AS logit_e6")},
       |$gateSigCtes,
       |gate AS (SELECT doc_id FROM sig
       |  WHERE dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
       |    AND top_bigram_ppm <= 180000),
       |${dsirCtes("t")},
       |dsir AS (SELECT d.doc_id,
       |    floor(coalesce(w.s + w.n_bigrams * ln((tot.nr + 256.0) / (tot.nt + 256.0)), 0.0)
       |          * 1000000.0 + 0.5)::BIGINT AS weight_e6
       |  FROM documents d LEFT JOIN w USING (doc_id), tot),
       |pool AS (SELECT cls.doc_id, cls.source, cls.logit_e6, dsir.weight_e6
       |  FROM cls JOIN gate USING (doc_id) JOIN dsir USING (doc_id)
       |  WHERE cls.logit_e6 > 0)
       |SELECT rank, doc_id, source, logit_e6, weight_e6 FROM (
       |  SELECT row_number() OVER (ORDER BY weight_e6 DESC, doc_id ASC)::BIGINT AS rank,
       |    doc_id, source, logit_e6, weight_e6
       |  FROM pool)
       |WHERE rank <= 100""".stripMargin

  // ------------------------------------------------ filter agreement
  /** Filter-agreement audit — the governance table a filtering run ships
    * alongside its thresholds: per source, the 2×2 confusion cells between
    * the model-based classifier (q108) and the rule-based repetition gate
    * (q102). High `both_drop` agreement validates either filter alone;
    * mass in the off-diagonal cells is exactly the data each filter
    * catches that the other misses — the evidence for keeping both in the
    * q113 conjunction. One doc-keyed join of two per-doc verdict
    * aggregates; the output is |sources| rows. */
  val q118FilterAgreement: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val cls = Classify.qualityLogitFused(docs, "doc_id", "text", Seq("source"))
      .select(col("doc_id"), col("source"), col("keep"))
    val gate = graft.ops.Repetition.gateVerdictsFused(docs, "doc_id", "text",
        maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
        maxTopBigramPpm = 180000L)
      .select(col("doc_id"), col("gate_pass"))
    cls.join(gate, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep") && col("gate_pass"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("keep") && !col("gate_pass"), 1L).otherwise(0L)).as("cls_only"),
        sum(when(!col("keep") && col("gate_pass"), 1L).otherwise(0L)).as("gate_only"),
        sum(when(!col("keep") && !col("gate_pass"), 1L).otherwise(0L)).as("both_drop"))
      .orderBy("source")
  }

  val q118Sql: String =
    s"""WITH $featureCtes,
       |${clsCte(" > 0 AS ckeep")},
       |$gateSigCtes,
       |gv AS (SELECT doc_id,
       |    (dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
       |     AND top_bigram_ppm <= 180000) AS gpass
       |  FROM sig)
       |SELECT cls.source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN ckeep AND gpass THEN 1 ELSE 0 END)::BIGINT AS both_keep,
       |  sum(CASE WHEN ckeep AND NOT gpass THEN 1 ELSE 0 END)::BIGINT AS cls_only,
       |  sum(CASE WHEN NOT ckeep AND gpass THEN 1 ELSE 0 END)::BIGINT AS gate_only,
       |  sum(CASE WHEN NOT ckeep AND NOT gpass THEN 1 ELSE 0 END)::BIGINT AS both_drop
       |FROM cls JOIN gv USING (doc_id)
       |GROUP BY cls.source ORDER BY cls.source""".stripMargin

  // ------------------------------------------------ semantic dedup
  /** One sign-RP table of 8 bits = 256 deterministic "clusters" — the
    * engine-exact stand-in for SemDeDup's k-means partition; shared
    * between the query and its oracle as inlined ±1 literals (the q47
    * convention, same seed/dim). The `dim = 64` here is pinned against the
    * live fixture by FixtureSpec ("documents and embeddings fixtures hold
    * the loader contract") — a regenerated wider fixture fails there
    * loudly instead of silently bucketing on a 64-dim prefix. */
  private val SemBits = 8
  private val semPlanes: Array[Array[Double]] =
    graft.expr.VectorExprs.rademacherPlanes(numPlanes = SemBits, dim = 64, seed = 42L)

  /** SemDeDup-style semantic thinning over the embedding table: LSH-bucket
    * the space, keep the centroid-nearest member per bucket, flag the rest
    * as semantic duplicates — see [[graft.ops.Similarity.semanticDedup]]
    * for the integer-exact distance contract and the no-pairwise-join
    * scale shape. */
  val q115SemanticDedup: Q = (spark, dir) =>
    graft.ops.Similarity.semanticDedup(Tables.embeddings(spark, dir),
        "vec_id", "embedding", semPlanes, SemBits)
      .orderBy("vec_id")

  /** The SemDeDup bucket CTEs: quantized vectors `q0`, their sign-RP
    * bucket `k`, per-dimension quantized coordinates (named `e`) and
    * bucket sizes `nb` (q115, q117). */
  private def semBucketCtes(e: String): String = {
    val keyExpr = (0 until SemBits).map { b =>
      val plane = semPlanes(b).map(_.toInt).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(qv, $plane::DOUBLE[]) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""q0 AS (SELECT vec_id, embedding,
       |    list_transform(embedding, x -> floor(x::DOUBLE * 1000 + 0.5)) AS qv
       |  FROM embeddings),
       |k AS (SELECT vec_id, embedding, ($keyExpr)::BIGINT AS bucket FROM q0),
       |$e AS (SELECT vec_id, bucket, d,
       |    floor(embedding[d]::DOUBLE * 1000 + 0.5)::BIGINT AS qd
       |  FROM k, unnest(generate_series(1, len(embedding))) AS g(d)),
       |nb AS (SELECT bucket, count(*)::BIGINT AS n_members FROM k GROUP BY bucket)""".stripMargin
  }

  val q115Sql: String =
    s"""WITH ${semBucketCtes("e")},
       |s AS (SELECT bucket, d, sum(qd)::BIGINT AS sd FROM e GROUP BY bucket, d),
       |dist AS (SELECT e.vec_id, e.bucket, nb.n_members,
       |    sum((nb.n_members * e.qd - s.sd) * (nb.n_members * e.qd - s.sd))::BIGINT AS dist2
       |  FROM e JOIN s USING (bucket, d) JOIN nb USING (bucket)
       |  GROUP BY 1, 2, 3),
       |keep AS (SELECT bucket, vec_id AS keep_id FROM (
       |    SELECT bucket, vec_id,
       |      row_number() OVER (PARTITION BY bucket ORDER BY dist2, vec_id) AS rk
       |    FROM dist) WHERE rk = 1)
       |SELECT d.vec_id, d.bucket, d.n_members, d.dist2,
       |  d.vec_id = k2.keep_id AS keep
       |FROM dist d JOIN keep k2 USING (bucket)
       |ORDER BY d.vec_id""".stripMargin

  // ------------------------------------------------ embedding dispersion
  /** Per-label embedding dispersion (mean pairwise squared distance in
    * closed form — the diversity stat a semantic-dedup run reports before
    * and after; see [[graft.ops.Similarity.embeddingDispersion]] for the
    * no-pairwise-join identity and integer-exactness contract). */
  val q116EmbeddingDispersion: Q = (spark, dir) =>
    graft.ops.Similarity.embeddingDispersion(
        Tables.embeddings(spark, dir), "label", "embedding")
      .orderBy("label")

  /** Closed-form mean pairwise squared distance per `grp` from the
    * quantized coordinates `rel(grp, d, q)`; `g` names the totals CTE
    * (q116, q117). */
  private def dispersionSql(grp: String, rel: String, g: String): String =
    s"""byd AS (SELECT $grp, d, sum(q * q)::BIGINT AS sq, sum(q)::BIGINT AS s,
       |    count(*)::BIGINT AS n
       |  FROM $rel GROUP BY $grp, d),
       |$g AS (SELECT $grp, any_value(n) AS n, sum(sq)::BIGINT AS a,
       |    sum(s * s)::BIGINT AS b
       |  FROM byd GROUP BY $grp)
       |SELECT $grp, n,
       |  (2 * n * a - 2 * b)::BIGINT AS pair_dist2_sum,
       |  CASE WHEN n <= 1 THEN 0
       |       ELSE (((2 * n * a - 2 * b)::HUGEINT * 1000000)
       |             // (n * (n - 1)))::BIGINT END AS mean_dist2_e6
       |FROM $g ORDER BY $grp""".stripMargin

  val q116Sql: String =
    s"""WITH e AS (SELECT label, vec_id, d,
      |    floor(embedding[d]::DOUBLE * 1000 + 0.5)::BIGINT AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(d)),
      |${dispersionSql("label", "e", "g")}""".stripMargin

  // ----------------------------------------- semantic thinning capstone
  /** The SemDeDup before/after report as ONE plan: corpus-level embedding
    * dispersion of the full table vs. the q115 survivors — the published
    * method's claim (semantic dedup raises diversity) as a two-row,
    * hash-checked artifact. The survivor side reuses the q115 verdict via
    * a semi-join on the kept ids; both sides share the q116 closed form,
    * so the whole report is integer-exact and pairwise-join-free. */
  val q117SemanticThinningReport: Q = (spark, dir) => {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, dir)
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
        semPlanes, SemBits)
      .filter(col("keep")).select(col("vec_id"))
    def phase(df: org.apache.spark.sql.DataFrame, name: String) =
      Similarity.embeddingDispersion(
          df.select(lit(name).as("phase"), col("embedding")),
          "phase", "embedding")
    phase(emb, "before").unionByName(
        phase(emb.join(kept, Seq("vec_id"), "left_semi"), "after"))
      .orderBy("phase")
  }

  val q117Sql: String =
    s"""WITH ${semBucketCtes("ed")},
       |sb AS (SELECT bucket, d, sum(qd)::BIGINT AS sd FROM ed GROUP BY bucket, d),
       |dist AS (SELECT ed.vec_id, ed.bucket,
       |    sum((nb.n_members * ed.qd - sb.sd) * (nb.n_members * ed.qd - sb.sd))::BIGINT AS dist2
       |  FROM ed JOIN sb USING (bucket, d) JOIN nb USING (bucket)
       |  GROUP BY 1, 2),
       |kept AS (SELECT vec_id FROM (
       |    SELECT bucket, vec_id,
       |      row_number() OVER (PARTITION BY bucket ORDER BY dist2, vec_id) AS rk
       |    FROM dist) WHERE rk = 1),
       |ph AS (SELECT 'before' AS phase, vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT 'after' AS phase, e.vec_id, e.embedding FROM embeddings e
       |  JOIN kept USING (vec_id)),
       |pe AS (SELECT phase, vec_id, d,
       |    floor(embedding[d]::DOUBLE * 1000 + 0.5)::BIGINT AS q
       |  FROM ph, unnest(generate_series(1, len(embedding))) AS g(d)),
       |${dispersionSql("phase", "pe", "gg")}""".stripMargin

  // ------------------------------------------------ cross-doc span dedup
  /** Cross-document repeated-span dedup (Lee et al. 2022 suffix-array
    * dedup, span-hash approximation): 8-token spans occurring in more than
    * one document keep only their first corpus occurrence; covered tokens
    * are cut and documents reassembled. See
    * [[graft.ops.Dedup.crossDocSpanDedup]] — the span shuffle carries md5
    * fingerprints, never span text. */
  val q119CrossDocSpans: Q = (spark, dir) =>
    Dedup.crossDocSpanDedup(Tables.documents(spark, dir), "doc_id", "text",
        k = SpanK)
      .orderBy("doc_id")

  private val SpanK = 8

  /** Cross-document k-token span CTEs over tokens `t`: span fingerprints
    * `sp`, their corpus order `ne` and document counts `nd`, and the
    * non-first occurrences of multi-document spans `cut` (q119, q197). */
  private[graft] def spanCutCtes(k: Int): String =
    s"""t AS (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |sp AS (SELECT doc_id, i AS pos,
       |    md5(array_to_string(toks[i : i + ${k - 1}], ' ')) AS fp
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - ${k - 1})) AS i
       |        FROM t WHERE len(toks) >= $k)),
       |ne AS (SELECT doc_id, pos, fp,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
       |  FROM sp),
       |nd AS (SELECT fp, count(DISTINCT doc_id) AS ndocs FROM sp GROUP BY fp),
       |cut AS (SELECT ne.doc_id, ne.pos FROM ne JOIN nd USING (fp)
       |  WHERE nd.ndocs > 1 AND ne.rn > 1)""".stripMargin

  val q119Sql: String = {
    val k = SpanK
    s"""WITH ${spanCutCtes(k)},
       |cov AS (SELECT DISTINCT doc_id, p FROM (
       |    SELECT doc_id, pos + unnest(generate_series(0, ${k - 1})) AS p
       |    FROM cut)),
       |tk0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p
       |  FROM t),
       |tk AS (SELECT doc_id, p, toks[p] AS tok FROM tk0),
       |kept AS (SELECT tk.doc_id, tk.p, tk.tok
       |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p
       |  WHERE cov.doc_id IS NULL),
       |ra AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY p) AS new_text
       |  FROM kept GROUP BY doc_id),
       |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
       |SELECT coalesce(ra.doc_id, rem.doc_id) AS doc_id,
       |  (coalesce(ra.n_kept, 0) + coalesce(rem.n_removed, 0))::BIGINT AS n_tokens,
       |  coalesce(ra.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(rem.n_removed, 0)::BIGINT AS n_removed,
       |  coalesce(ra.new_text, '') AS new_text
       |FROM ra FULL OUTER JOIN rem ON ra.doc_id = rem.doc_id
       |ORDER BY 1""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q108_quality_classifier", q108QualityClassifier, q108Sql),
    QueryDef("q109_group_cap", q109GroupCap, q109Sql),
    QueryDef("q110_paragraph_dedup", q110ParagraphDedup, q110Sql),
    QueryDef("q111_zipf_fit", q111ZipfFit, q111Sql),
    QueryDef("q112_dsir_weights", q112DsirWeights, q112Sql),
    QueryDef("q113_selection_capstone", q113SelectionCapstone, q113Sql),
    QueryDef("q114_heaps_fit", q114HeapsFit, q114Sql),
    QueryDef("q115_semantic_dedup", q115SemanticDedup, q115Sql),
    QueryDef("q116_embedding_dispersion", q116EmbeddingDispersion, q116Sql),
    QueryDef("q117_semantic_thinning_report", q117SemanticThinningReport,
      q117Sql),
    QueryDef("q118_filter_agreement", q118FilterAgreement, q118Sql),
    QueryDef("q119_crossdoc_span_dedup", q119CrossDocSpans, q119Sql))
}
