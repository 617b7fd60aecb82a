package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Delta, Scrub}

/** Eighth query wave: corpus LIFECYCLE operators — the ingest-time Unicode
  * canonicalization every downstream fingerprint assumes, and the
  * release-to-release delta a versioned dataset ships next to its
  * datasheet (q98). Both are deterministic integer/string plans that
  * hash-check against the DuckDB oracle; q99 doubles as a
  * cross-implementation conformance test of NFC itself (java.text.Normalizer
  * in Spark vs utf8proc in DuckDB must agree byte-for-byte for the hash to
  * match).
  */
object Queries8 {

  // ------------------------------------------------ unicode normalization
  /** Unicode-NFC ingest audit over a deterministically DECOMPOSED copy of
    * the corpus. The synthetic fixture is pure ASCII — NFC-invariant by
    * construction — so to exercise composition the query first rewrites
    * every 'e' to 'e' + COMBINING ACUTE ACCENT (U+0301), the canonical
    * decomposed spelling of 'é', then normalizes with the codegen'd
    * [[graft.expr.NfcNormalize]] kernel and reports per language: documents
    * actually rewritten by NFC, code points removed by composition, and
    * documents NFC left untouched (those with no 'e').
    *
    * Scale shape: injection + kernel are one map-side codegen'd projection
    * (the kernel's ASCII fast path is deliberately DEFEATED here — that's
    * the point of the audit); one partial-agg shuffle keyed by lang. */
  val q99UnicodeNfc: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val inj = d.select(col("lang"),
      regexp_replace(col("text"), "e", "e\u0301").as("inj_text"))
    Scrub.normalizeNfc(inj, "inj_text")
      .groupBy(col("lang"))
      .agg(
        sum(when(col("nfc_changed"), 1L).otherwise(0L)).as("docs_composed"),
        sum(col("nfc_chars_delta")).as("chars_composed"),
        sum(when(col("nfc_changed"), 0L).otherwise(1L)).as("docs_untouched"))
      .orderBy("lang")
  }

  /** DuckDB mirror: chr(769) = U+0301; nfc_normalize is utf8proc NFC;
    * length() counts code points in both engines, so chars_composed is the
    * number of (e, U+0301) pairs each engine's NFC composed. */
  val q99Sql: String =
    """WITH a AS (
      |  SELECT lang, regexp_replace(text, 'e', 'e' || chr(769), 'g') AS inj
      |  FROM documents),
      |n AS (SELECT lang, inj, nfc_normalize(inj) AS nrm FROM a)
      |SELECT lang,
      |  sum(CASE WHEN nrm <> inj THEN 1 ELSE 0 END)::BIGINT AS docs_composed,
      |  sum(length(inj) - length(nrm))::BIGINT AS chars_composed,
      |  sum(CASE WHEN nrm = inj THEN 1 ELSE 0 END)::BIGINT AS docs_untouched
      |FROM n GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ release delta
  /** Release-to-release corpus diff rolled up to (status, source) counts.
    * The "previous release" is derived deterministically from the fixture
    * so the delta exercises all four statuses: docs with doc_id % 11 = 0
    * are absent from prev (→ `added` in current), docs with doc_id % 7 = 3
    * carried a draft suffix in prev (→ `changed`), docs with
    * doc_id % 13 = 5 additionally existed under a retired id range in prev
    * (→ `removed`), everything else is `unchanged`.
    *
    * Scale shape: [[graft.ops.Delta.releaseDiff]] — both sides collapse to
    * (key, md5 fingerprint, source) at the scan, one full-outer equi-join
    * shuffling ~50 bytes/doc, then a tiny rollup. */
  val q100ReleaseDelta: Q = (spark, dir) => {
    val cur = Tables.documents(spark, dir)
    Delta.releaseDiff(previousRelease(cur, col("source")),
        cur.select(col("doc_id"), col("text"), col("source")),
        "doc_id", Seq("text"), Seq("source"))
      .groupBy(col("status"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("status", "source")
  }

  /** The synthetic previous release of `cur` (q100, q140): ids ≡ 0
    * (mod 11) absent, ids ≡ 3 (mod 7) with edited text, and ids ≡ 5
    * (mod 13) present under a 1e12 offset — far outside any GenScale
    * copy-offset id space, so the 'removed' class survives on 8x/64x
    * scaled fixtures; `carry` columns ride along. */
  private[graft] def previousRelease(cur: DataFrame, carry: Column*): DataFrame =
    cur.filter(col("doc_id") % 11 =!= 0)
      .select(Seq(col("doc_id"),
        when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [v1]")))
          .otherwise(col("text")).as("text")) ++ carry: _*)
      .unionByName(cur.filter(col("doc_id") % 13 === 5)
        .select(Seq((col("doc_id") + 1000000000000L).as("doc_id"), col("text"))
          ++ carry: _*))

  val q100Sql: String =
    """WITH prev AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 3 THEN text || ' [v1]' ELSE text END AS text,
      |    source
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000000, text, source FROM documents
      |  WHERE doc_id % 13 = 5),
      |j AS (
      |  SELECT CASE WHEN p.doc_id IS NULL THEN 'added'
      |              WHEN c.doc_id IS NULL THEN 'removed'
      |              WHEN p.text = c.text THEN 'unchanged'
      |              ELSE 'changed' END AS status,
      |    coalesce(c.source, p.source) AS source
      |  FROM prev p FULL OUTER JOIN documents c ON p.doc_id = c.doc_id)
      |SELECT status, source, count(*)::BIGINT AS n_docs
      |FROM j GROUP BY status, source ORDER BY status, source""".stripMargin

  // ------------------------------------------------ gopher repetition
  /** WITHIN-document repetition signals (Gopher quality rules, Rae et al.
    * 2021 A1.1) per document — duplicate-line rate, duplicate-line
    * character mass, and most-frequent-bigram coverage, all integer ppm.
    * The self-repetition complement of q93's cross-doc span signal. */
  val q101GopherRepetition: Q = (spark, dir) =>
    graft.ops.Repetition.repetitionSignalsFused(
      Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Gopher duplicate-line CTEs over `l(doc_id, line)`: per-(doc, line)
    * counts `ls` and per-doc duplicate line/char totals `la`. */
  private[graft] def lineDupCtes: String =
    """ls AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
      |  FROM l GROUP BY doc_id, line),
      |la AS (SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
      |    sum((c - 1) * len) AS dup_chars, sum(c * len) AS tot_chars
      |  FROM ls GROUP BY doc_id)""".stripMargin

  /** Most-frequent-bigram CTEs over `tok(doc_id, toks)`: bigram spans `sp`,
    * their per-doc counts (named `sc`) and each doc's top span (`top`). */
  private[graft] def topBigramCtes(tok: String, sc: String, top: String): String =
    s"""sp AS (SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS span
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM $tok WHERE len(toks) >= 2)),
       |$sc AS (SELECT doc_id, span, count(*) AS c FROM sp GROUP BY doc_id, span),
       |$top AS (SELECT doc_id, c, span FROM (
       |    SELECT doc_id, c, span,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, span ASC) AS rk
       |    FROM $sc) WHERE rk = 1)""".stripMargin

  /** The per-doc repetition signals `sig` (ppm) from `base`, `la` and the
    * top-bigram CTE `top` joined as `t`; `cols` extends the select list. */
  private[graft] def repetitionSigCte(cols: String, top: String, t: String): String =
    s"""sig AS (SELECT b.doc_id$cols,
       |    (la.dup_lines * 1000000 // la.n_lines)::BIGINT AS dup_line_ppm,
       |    (CASE WHEN la.tot_chars = 0 THEN 0
       |          ELSE la.dup_chars * 1000000 // la.tot_chars END)::BIGINT AS dup_line_char_ppm,
       |    (CASE WHEN $t.c IS NULL OR b.n_norm = 0 THEN 0
       |          ELSE $t.c * length($t.span) * 1000000 // b.n_norm END)::BIGINT AS top_bigram_ppm
       |  FROM base b JOIN la USING (doc_id) LEFT JOIN $top $t USING (doc_id))""".stripMargin

  /** q101/q102's shared oracle prefix: line duplication and top bigram of
    * every document. */
  private def repetitionCtes: String =
    s"""l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
       |  FROM documents),
       |$lineDupCtes,
       |tok AS (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |${topBigramCtes("tok", "sc", "top")}""".stripMargin

  val q101Sql: String =
    s"""WITH $repetitionCtes,
       |base AS (SELECT doc_id, length(lower(trim(text))) AS n_norm FROM documents)
       |SELECT b.doc_id,
       |  (la.dup_lines * 1000000 // la.n_lines)::BIGINT AS dup_line_ppm,
       |  (CASE WHEN la.tot_chars = 0 THEN 0
       |        ELSE la.dup_chars * 1000000 // la.tot_chars END)::BIGINT
       |    AS dup_line_char_ppm,
       |  (CASE WHEN t.c IS NULL OR b.n_norm = 0 THEN 0
       |        ELSE t.c * length(t.span) * 1000000 // b.n_norm END)::BIGINT
       |    AS top_bigram_ppm
       |FROM base b JOIN la USING (doc_id) LEFT JOIN top t USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** Repetition GATE pass/fail rates per source (thresholds from the
    * published rule: 30% duplicate lines, 20% duplicate-line chars, 18%
    * top-bigram coverage — in ppm). */
  val q102RepetitionGate: Q = (spark, dir) =>
    graft.ops.Repetition.repetitionGate(
      Tables.documents(spark, dir), "doc_id", "text", "source",
      maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
      maxTopBigramPpm = 180000L)
      .orderBy("source")

  val q102Sql: String =
    s"""WITH $repetitionCtes,
       |base AS (SELECT doc_id, source, length(lower(trim(text))) AS n_norm
       |  FROM documents),
       |${repetitionSigCte(", b.source", "top", "t")}
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN dup_line_ppm > 300000 THEN 1 ELSE 0 END)::BIGINT AS fail_dup_line,
       |  sum(CASE WHEN dup_line_char_ppm > 200000 THEN 1 ELSE 0 END)::BIGINT AS fail_dup_line_char,
       |  sum(CASE WHEN top_bigram_ppm > 180000 THEN 1 ELSE 0 END)::BIGINT AS fail_top_bigram,
       |  sum(CASE WHEN dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
       |            AND top_bigram_ppm <= 180000 THEN 1 ELSE 0 END)::BIGINT AS n_pass
       |FROM sig GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ bloom decontamination
  /** Two-phase bloom-prefiltered decontamination drop list: train docs
    * sharing a distinct word 5-gram with val/test, with leaked-span
    * counts. The SCALE path for q97's exact audit — the train-span mass is
    * pruned map-side against a bloom of the eval spans (built in-plan as a
    * scalar subquery, Spark's own runtime-filter lifecycle) and only
    * bloom survivors reach the exact verify semi-join, so the result is
    * hash-identical to the exact spelling the oracle runs. See
    * [[graft.ops.Decontaminate]]. */
  val q103BloomDecon: Q = (spark, dir) =>
    graft.ops.Decontaminate.bloomDropList(
      Tables.documents(spark, dir), "doc_id", "text", n = 5)
      .orderBy("doc_id")

  /** q103/q106's shared oracle prefix: split-assigned documents `a`
    * (`doc_id, text` plus `cols`), their tokens and distinct word 5-gram
    * `spans` per (doc, split). */
  private def splitSpanCtes(cols: String): String =
    s"""a AS (SELECT doc_id, text$cols,
       |    ${Queries7.splitCaseSql}
       |  FROM documents),
       |tok AS (SELECT doc_id, split,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM a),
       |spans AS (SELECT DISTINCT doc_id, split, array_to_string(toks[i : i + 4], ' ') AS span
       |  FROM (SELECT doc_id, split, toks, unnest(generate_series(1, len(toks) - 4)) AS i
       |        FROM tok WHERE len(toks) >= 5))""".stripMargin

  val q103Sql: String =
    s"""WITH ${splitSpanCtes("")},
       |tr AS (SELECT DISTINCT doc_id, span FROM spans WHERE split = 'train'),
       |ev AS (SELECT DISTINCT span FROM spans WHERE split <> 'train')
       |SELECT doc_id, count(*)::BIGINT AS n_leaked_spans
       |FROM tr WHERE span IN (SELECT span FROM ev)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ canonical survivors
  /** Quality-aware dedup survivor selection: near-dup clusters (q52's
    * sign-RP-LSH pairs → connected components) keep their HIGHEST-QUALITY
    * member (q21's integer quality score; ties → smallest id) instead of
    * the arbitrary min-id — the "which copy ships" decision of a
    * production dedup. Winner per cluster is a min(struct) aggregate, not
    * a window, so degenerate giant clusters never sort
    * ([[graft.ops.Components.canonicalizeBy]]). */
  val q104CanonicalDedup: Q = (spark, dir) =>
    q104CanonicalWith(spark, dir, Queries3.rpPlanes, Queries3.rpBits)

  /** q104's exact plan with the LSH resolution parameterized — the deploy
    * knob a k× corpus retunes via [[graft.ops.Similarity.lshBitsFor]]
    * (see `tools/TimeScaled`); the registered q104 binds the 1× fixture
    * resolution and is byte-identical. */
  def q104CanonicalWith(spark: SparkSession, dir: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = graft.ops.Similarity.rpLshNearDup(emb, "vec_id", "embedding",
      planes, bits, threshold = 0.35)
    val comp = graft.ops.Components.connectedComponents(
      emb.select("vec_id"), "vec_id", pairs, "id_a", "id_b")
    val scores = Tables.documents(spark, dir).select(
      col("doc_id").as("vec_id"),
      graft.functions.TextFns.qualityScoreMicro(col("text")).as("quality_e6"))
    graft.ops.Components.canonicalizeBy(comp, "vec_id", scores, "quality_e6")
      .orderBy("vec_id")
  }

  val q104Sql: String = q104SqlWith(Queries3.rpPlanes, Queries3.rpBits)

  /** q104's oracle SQL at an arbitrary LSH resolution — the mirror of
    * [[q104CanonicalWith]] for scaled-fixture correctness runs
    * (`tools/VerifyScaled`). */
  def q104SqlWith(planes: Array[Array[Double]], bits: Int): String =
    s"""WITH RECURSIVE ${Queries3.rpPairsCte("embeddings", 0.35, planes, bits)},
       |${Queries4.componentCtes("embeddings")},
       |qs AS (SELECT doc_id AS vec_id, ${Queries2.QualitySqlExpr} AS quality_e6
       |  FROM documents),
       |m AS (SELECT c.vec_id, c.component, qs.quality_e6
       |  FROM comp c JOIN qs USING (vec_id)),
       |w AS (SELECT vec_id, component, quality_e6,
       |    (count(*) OVER (PARTITION BY component))::BIGINT AS comp_size,
       |    row_number() OVER (PARTITION BY component
       |                       ORDER BY quality_e6 DESC, vec_id ASC) AS rk
       |  FROM m)
       |SELECT vec_id, component, comp_size, quality_e6, rk = 1 AS keep
       |FROM w ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ epoch-shuffled order
  /** Deterministic epoch-shuffled data-loader order over the corpus: every
    * (epoch, doc) gets a dense global position in md5(epoch:id) order —
    * different every epoch, identical on every rerun/partitioning, and
    * assigned by the two-phase [[graft.ops.Ids.globalIndex]] (no
    * single-reducer row_number). The oracle IS the single-reducer
    * spelling. */
  val q105EpochOrder: Q = (spark, dir) =>
    graft.ops.Mixture.epochOrder(
      Tables.documents(spark, dir).select("doc_id"), "doc_id", epochs = 3)
      .select(col("epoch").cast("long").as("epoch"), col("doc_id"),
        col("position"))
      .orderBy("position")

  val q105Sql: String =
    """WITH e AS (SELECT doc_id, unnest(generate_series(0, 2)) AS epoch
      |  FROM documents),
      |k AS (SELECT epoch, doc_id,
      |    md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) AS ord FROM e)
      |SELECT epoch::BIGINT AS epoch, doc_id,
      |  (row_number() OVER (ORDER BY epoch, ord, doc_id) - 1)::BIGINT AS position
      |FROM k ORDER BY position""".stripMargin

  // ------------------------------------------------ decontamination APPLY
  /** APPLY step for the decontamination + repetition audits: the cleaned
    * TRAIN corpus with removal accounting. Composes the bloom-prefiltered
    * drop list (q103) and the per-doc Gopher repetition gate (q102's
    * thresholds) through [[graft.ops.Decontaminate.applyVerdicts]], then
    * publishes the per-(source, reason) datasheet rollup — the step that
    * turns the audits into a shippable corpus, mirroring what q39 does for
    * dedup. Survivors are the `'kept'` class; DeconApplySpec asserts the
    * survivor set equals train minus dropped minus gated. */
  val q106DeconApply: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val drop = graft.ops.Decontaminate.bloomDropList(docs, "doc_id", "text", n = 5)
    val gateFail = graft.ops.Repetition.gateVerdictsFused(docs, "doc_id", "text",
        maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
        maxTopBigramPpm = 180000L)
      .filter(!col("gate_pass")).select("doc_id")
    graft.ops.Decontaminate.applyVerdicts(docs, "doc_id", drop, gateFail)
      .groupBy(col("source"), col("removal_reason"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .orderBy("source", "removal_reason")
  }

  val q106Sql: String =
    s"""WITH ${splitSpanCtes(", source")},
      |ev AS (SELECT DISTINCT span FROM spans WHERE split <> 'train'),
      |dropl AS (SELECT DISTINCT doc_id FROM spans
      |  WHERE split = 'train' AND span IN (SELECT span FROM ev)),
      |t AS (SELECT doc_id, text, source FROM a WHERE split = 'train'),
      |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM a),
      |$lineDupCtes,
      |${topBigramCtes("tok", "sc", "top")},
      |base AS (SELECT doc_id, length(lower(trim(text))) AS n_norm FROM a),
      |${repetitionSigCte("", "top", "tp")},
      |gf AS (SELECT doc_id FROM sig
      |  WHERE dup_line_ppm > 300000 OR dup_line_char_ppm > 200000
      |     OR top_bigram_ppm > 180000),
      |v AS (SELECT d.source, length(d.text) AS len,
      |    CASE WHEN dl.doc_id IS NOT NULL AND g.doc_id IS NOT NULL
      |           THEN 'contaminated+gated'
      |         WHEN dl.doc_id IS NOT NULL THEN 'contaminated'
      |         WHEN g.doc_id IS NOT NULL THEN 'gated'
      |         ELSE 'kept' END AS removal_reason
      |  FROM t d LEFT JOIN dropl dl ON d.doc_id = dl.doc_id
      |            LEFT JOIN gf g ON d.doc_id = g.doc_id)
      |SELECT source, removal_reason, count(*)::BIGINT AS n_docs,
      |  sum(len)::BIGINT AS n_chars
      |FROM v GROUP BY source, removal_reason
      |ORDER BY source, removal_reason""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q99_unicode_nfc", q99UnicodeNfc, q99Sql),
    QueryDef("q100_release_delta", q100ReleaseDelta, q100Sql),
    QueryDef("q101_gopher_repetition", q101GopherRepetition, q101Sql),
    QueryDef("q102_repetition_gate", q102RepetitionGate, q102Sql),
    QueryDef("q103_bloom_decon", q103BloomDecon, q103Sql),
    QueryDef("q104_canonical_dedup", q104CanonicalDedup, q104Sql),
    QueryDef("q105_epoch_order", q105EpochOrder, q105Sql),
    QueryDef("q106_decon_apply", q106DeconApply, q106Sql))
}
