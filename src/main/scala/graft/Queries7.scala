package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Vocab

/** Seventh query wave: tokenizer-design and split-governance operators for
  * the training-data pipeline — vocabulary coverage curve, in-vocabulary
  * (CCNet-style, RNG/float-free) lexical quality scoring, and the
  * deterministic train/val/test split report. These extend the reference's
  * clean-corpus endpoint (it hands cleaned text straight to chunking,
  * PLATFORM-contextual-Chunking.py:58-65) with the steps a 100 TB
  * pretraining flow runs next; everything is integer arithmetic with
  * md5-prefix determinism so each query hash-checks against the DuckDB
  * oracle.
  */
object Queries7 {

  /** Tokenization spelled identically in Spark and DuckDB oracle SQL:
    * lowercased whitespace split with blank tokens dropped. */
  private val tokSql =
    """SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |FROM documents""".stripMargin

  // ------------------------------------------------ vocabulary coverage
  /** Corpus vocabulary head with cumulative coverage curve — the artifact
    * a tokenizer budget is read from (how many word types cover which
    * fraction of all tokens). Top-k selection plans as
    * TakeOrderedAndProject (never a full vocab sort through one task);
    * the cumsum window runs on ≤k rows; the token grand total joins as a
    * broadcast scalar; coverage is an integer ppm division. */
  val q90VocabCoverage: Q = (spark, dir) =>
    Vocab.topVocab(Tables.documents(spark, dir), "text", 20)

  val q90Sql: String =
    s"""WITH tok AS ($tokSql),
       |counts AS (SELECT word, count(*)::BIGINT AS cnt FROM tok WHERE word <> '' GROUP BY word),
       |total AS (SELECT sum(cnt)::BIGINT AS total FROM counts),
       |top AS (SELECT word, cnt,
       |          row_number() OVER (ORDER BY cnt DESC, word ASC)::BIGINT AS rank
       |        FROM counts ORDER BY cnt DESC, word ASC LIMIT 20)
       |SELECT rank, word, cnt,
       |  (sum(cnt) OVER (ORDER BY rank))::BIGINT AS cum_cnt,
       |  ((sum(cnt) OVER (ORDER BY rank))::BIGINT * 1000000 // total)::BIGINT AS coverage_ppm
       |FROM top, total""".stripMargin

  // ------------------------------------------------ in-vocab quality score
  /** Lexical quality score: fraction (ppm) of each document's tokens that
    * fall inside the corpus top-16 vocabulary — the engine-portable
    * stand-in for CCNet LM filtering (a doc mostly outside the corpus head
    * is noise/boilerplate/another register). Vocab derives from the corpus
    * itself in the same plan — as the bare top-16 head (wordCounts +
    * TakeOrdered), NOT the full topVocab: the coverage curve's grand-total
    * branch would cost a second corpus tokenize that the scorer then
    * discards (Catalyst cannot prune a 1-row cross join it can't prove is
    * 1-row). The head lands as a broadcast hash join against the exploded
    * token stream, and the only shuffle is the per-doc aggregation. */
  val q91OovQuality: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val head = Vocab.wordCounts(docs, "text")
      .orderBy(col("cnt").desc, col("word").asc).limit(16)
    Vocab.inVocabScore(docs, "doc_id", "text", head)
      .orderBy("doc_id")
  }

  val q91Sql: String =
    """WITH tok AS (SELECT doc_id,
       |        unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
       |      FROM documents),
       |t AS (SELECT doc_id, word FROM tok WHERE word <> ''),
       |counts AS (SELECT word, count(*)::BIGINT AS cnt FROM t GROUP BY word),
       |vocab AS (SELECT word FROM counts ORDER BY cnt DESC, word ASC LIMIT 16),
       |scored AS (SELECT t.doc_id,
       |    count(*)::BIGINT AS n_tokens,
       |    count(v.word)::BIGINT AS in_vocab
       |  FROM t LEFT JOIN vocab v USING (word) GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(s.in_vocab, 0)::BIGINT AS in_vocab,
       |  coalesce(s.in_vocab * 1000000 // s.n_tokens, 0)::BIGINT AS score_ppm
       |FROM documents d LEFT JOIN scored s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ split governance report
  /** Deterministic train/val/test split report: md5-prefix 3-way
    * assignment (q56's convention widened: 256 buckets, 240/8/8), then
    * per-(split, lang) document and token counts — the governance artifact
    * that proves split sizes and leak-freedom before training. Assignment
    * is a pure map-side projection; one aggregation shuffle. */
  val q92SplitReport: Q = (spark, dir) =>
    Vocab.splitAssign(Tables.documents(spark, dir), "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("docs"),
        sum(graft.functions.TextFns.tokenCount(col("text"))).as("tokens"))
      .orderBy("split", "lang")

  /** The md5 split assignment (train below f0, val below f8, else test)
    * as a select item named `split`. */
  private[graft] def splitCaseSql: String =
    """CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'f0' THEN 'train'
      |         WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'f8' THEN 'val'
      |         ELSE 'test' END AS split""".stripMargin

  val q92Sql: String =
    s"""WITH a AS (SELECT lang, text,
      |    $splitCaseSql
      |  FROM documents)
      |SELECT split, lang, count(*)::BIGINT AS docs,
      |  sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |           ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS tokens
      |FROM a GROUP BY split, lang ORDER BY split, lang""".stripMargin

  // ------------------------------------------------ repeated-span signal
  /** Span-level repetition: fraction (ppm) of each doc's word 5-gram spans
    * that also occur in some OTHER doc — the exact-substring-dedup signal
    * (Lee et al. 2021) that doc-level MinHash (q14) misses on partial
    * copies. Distinct-doc detection uses min(doc) < max(doc), an O(1)
    * buffer instead of a distinct-set aggregation. */
  val q93RepeatedSpans: Q = (spark, dir) =>
    Vocab.repeatedSpans(Tables.documents(spark, dir), "doc_id", "text", n = 5)
      .orderBy("doc_id")

  val q93Sql: String =
    """WITH tok AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
      |spans AS (SELECT doc_id, array_to_string(toks[i : i + 4], ' ') AS span
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
      |        FROM tok WHERE len(toks) >= 5)),
      |shared AS (SELECT span, (min(doc_id) < max(doc_id)) AS is_shared
      |  FROM spans GROUP BY span),
      |scored AS (SELECT s.doc_id,
      |    count(*)::BIGINT AS n_spans,
      |    sum(CASE WHEN h.is_shared THEN 1 ELSE 0 END)::BIGINT AS shared_spans
      |  FROM spans s JOIN shared h USING (span) GROUP BY s.doc_id)
      |SELECT d.doc_id,
      |  coalesce(sc.n_spans, 0)::BIGINT AS n_spans,
      |  coalesce(sc.shared_spans, 0)::BIGINT AS shared_spans,
      |  coalesce(sc.shared_spans * 1000000 // sc.n_spans, 0)::BIGINT AS repeat_ppm
      |FROM documents d LEFT JOIN scored sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ temperature mixture
  /** mT5-style temperature-scaled language allocation (alpha = 0.5): how a
    * 10M-token budget splits across languages with sqrt-mass upsampling of
    * low-resource strata. epochs_ppm > 1e6 on the small languages is the
    * point of the rule — they repeat; the head language is capped below
    * its natural share. One corpus aggregation; the rest runs on |langs|
    * rows (see [[graft.ops.Mixture.temperatureAlloc]]). */
  val q94TemperatureMix: Q = (spark, dir) =>
    ops.Mixture.temperatureAlloc(
      Tables.documents(spark, dir), "lang",
      graft.functions.TextFns.tokenCount(col("text")), budget = 10000000L)
      .orderBy("lang")

  val q94Sql: String =
    """WITH tok AS (SELECT lang,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS t
      |  FROM documents),
      |n AS (SELECT lang, sum(t)::BIGINT AS n_tokens FROM tok GROUP BY lang),
      |m AS (SELECT lang, n_tokens,
      |        floor(sqrt(n_tokens::DOUBLE) * 1000000 + 0.5)::BIGINT AS mass6
      |      FROM n),
      |s AS (SELECT sum(mass6)::BIGINT AS total_mass FROM m),
      |a AS (SELECT lang, n_tokens, mass6,
      |        ((10000000::HUGEINT * mass6) // total_mass)::BIGINT AS alloc_tokens
      |      FROM m, s)
      |SELECT lang, n_tokens, mass6, alloc_tokens,
      |  CASE WHEN n_tokens > 0 THEN alloc_tokens * 1000000 // n_tokens
      |       ELSE 0 END::BIGINT AS epochs_ppm
      |FROM a ORDER BY lang""".stripMargin

  // ------------------------------------------------ PII redaction
  /** Pattern-based PII masking over a contact blurb synthesized
    * deterministically from the customer table (the fixture corpus
    * carries no natural PII; q83's convention — construct the structure
    * the operator exists for from fixture columns, identically in both
    * engines). Every row exercises both the email and the phone path.
    * Map-side only; see [[graft.ops.Scrub.redactPii]]. */
  val q95PiiRedact: Q = (spark, dir) => {
    val c = Tables.customer(spark, dir)
    val contact = concat(
      lit("reach "), col("c_name"), lit(" at "),
      lower(col("c_name")), lit("@example.com or +1-555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"), lit("-"),
      lpad(((col("c_custkey") * 7) % 10000).cast("string"), 4, "0"),
      lit(" about "), lower(col("c_mktsegment")))
    ops.Scrub.redactPii(
      c.select(col("c_custkey"), contact.as("contact")), "contact")
      .select("c_custkey", "n_emails", "n_phones", "red_text")
      .orderBy("c_custkey")
  }

  val q95Sql: String =
    """WITH t AS (SELECT c_custkey,
      |    'reach ' || c_name || ' at ' || lower(c_name) ||
      |    '@example.com or +1-555-' ||
      |    lpad((c_custkey % 10000)::VARCHAR, 4, '0') || '-' ||
      |    lpad(((c_custkey * 7) % 10000)::VARCHAR, 4, '0') ||
      |    ' about ' || lower(c_mktsegment) AS contact
      |  FROM customer),
      |r AS (SELECT c_custkey, contact,
      |    len(regexp_extract_all(contact,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
      |    regexp_replace(contact,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS e1
      |  FROM t)
      |SELECT c_custkey, n_emails,
      |  len(regexp_extract_all(e1, '\+?\d[\d-]{7,}\d'))::BIGINT AS n_phones,
      |  regexp_replace(e1, '\+?\d[\d-]{7,}\d', '[PHONE]', 'g') AS red_text
      |FROM r ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------ boilerplate lines
  /** Cross-document boilerplate-line removal (CCNet/Dolma line dedup):
    * synthetic footers are appended to fixture docs on deterministic id
    * residues (1/3 of docs get a newsletter line, 1/5 a rights line,
    * 1/250 a rare footer that stays UNDER the min-docs threshold at small
    * SFs and crosses it at sf0.1 — the threshold's scale-dependence is
    * part of what the three-SF oracle checks). Doc-level dedup cannot
    * catch these: every page is unique, only its furniture repeats. */
  val q96BoilerplateStrip: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val page = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit("\nSubscribe to our newsletter!")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("\nAll rights reserved.")).otherwise(lit("")),
      when(col("doc_id") % 250 === 0, lit("\nVisit our sister site.")).otherwise(lit("")))
    ops.Scrub.stripBoilerplateLines(
      d.select(col("doc_id"), page.as("page")), "doc_id", "page", minDocs = 3)
      .orderBy("doc_id")
  }

  val q96Sql: String =
    """WITH t AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter!' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'All rights reserved.' ELSE '' END ||
      |    CASE WHEN doc_id % 250 = 0 THEN chr(10) || 'Visit our sister site.' ELSE '' END AS page
      |  FROM documents),
      |l AS (SELECT doc_id, ls[i] AS line, i AS pos
      |  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
      |        FROM (SELECT doc_id, string_split(page, chr(10)) AS ls FROM t))),
      |f AS (SELECT line, count(DISTINCT doc_id) AS nd FROM l GROUP BY line),
      |k AS (SELECT l.doc_id, l.pos, l.line, f.nd < 3 AS keep
      |  FROM l JOIN f USING (line)),
      |r AS (SELECT doc_id,
      |    coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS clean_text,
      |    sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |    sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped
      |  FROM k GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
      |  coalesce(r.n_dropped, 0)::BIGINT AS n_dropped
      |FROM documents d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ split-leak audit
  /** Cross-split span contamination counts over the q92 split: distinct
    * word 5-gram spans appearing in more than one split — the
    * decontamination audit a training run signs off on (see
    * [[graft.ops.Vocab.crossSplitLeaks]]). */
  val q97SplitLeakAudit: Q = (spark, dir) =>
    Vocab.crossSplitLeaks(Tables.documents(spark, dir), "doc_id", "text", n = 5)

  val q97Sql: String =
    s"""WITH a AS (SELECT text,
      |    $splitCaseSql
      |  FROM documents),
      |tok AS (SELECT split,
      |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM a),
      |spans AS (SELECT DISTINCT split, array_to_string(toks[i : i + 4], ' ') AS span
      |  FROM (SELECT split, toks, unnest(generate_series(1, len(toks) - 4)) AS i
      |        FROM tok WHERE len(toks) >= 5)),
      |g AS (SELECT span,
      |    bool_or(split = 'train') AS tr,
      |    bool_or(split = 'val') AS va,
      |    bool_or(split = 'test') AS te
      |  FROM spans GROUP BY span)
      |SELECT
      |  sum(CASE WHEN tr AND va THEN 1 ELSE 0 END)::BIGINT AS train_val,
      |  sum(CASE WHEN tr AND te THEN 1 ELSE 0 END)::BIGINT AS train_test,
      |  sum(CASE WHEN va AND te THEN 1 ELSE 0 END)::BIGINT AS val_test
      |FROM g""".stripMargin

  // ------------------------------------------------ corpus datasheet
  /** The GOVERNANCE capstone — a corpus datasheet (Gebru et al. 2021,
    * "Datasheets for Datasets") as one tall (section, metric, value)
    * table: volume, split sizes, exact-dup rate, vocabulary size and head
    * coverage, cross-split leak counts, empty-doc quality, the length
    * distribution (exact p50/p90/p99 via the value-histogram
    * [[graft.ops.Quantiles.profile]], in e6 micro-units, plus min/max),
    * and the Gopher repetition gate's corpus-wide fail counts per signal
    * — the sign-off artifact a dataset release ships, composed from the
    * round's operator families in ONE hash-checked plan (q89's mix
    * capstone's governance sibling).
    *
    * Scale shape: the corpus-text passes are fused to the minimum the
    * section semantics allow — volume's token-count rollup; ONE
    * dedup+quality global aggregate (two metrics, one scan); ONE
    * materialized wordCounts (|vocab| rows, localCheckpoint) serving both
    * vocab sections, where the in-plan spelling would tokenize the corpus
    * three times (Catalyst does not reuse common subtrees across union
    * branches); the span explode for the leak audit; and the doc-keyed
    * line/bigram aggs for repetition. Every pass's shuffle carries
    * aggregates, never documents; the n_chars histogram prunes to a
    * single slim column; all derived sections run on the tiny rollups.
    * PlanSpec pins the text-reading scan count. Quantile micro-units use
    * floor(x·1e6+0.5), the §7.4 rounding convention; everything else is
    * plain integers. */
  val q98CorpusDatasheet: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val tokCount = graft.functions.TextFns.tokenCount(col("text"))
    val base = Vocab.splitAssign(d, "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("docs"), sum(tokCount).as("tokens"))
    val volume = base
      .agg(sum(col("docs")).as("docs"), sum(col("tokens")).as("tokens"),
        countDistinct(col("lang")).as("langs"))
      .selectExpr("stack(3, 'volume','docs',docs, 'volume','tokens',tokens," +
        " 'volume','langs',langs) AS (section, metric, value)")
    val splits = base.groupBy(col("split")).agg(sum(col("docs")).as("value"))
      .select(lit("split").as("section"),
        concat(lit("docs_"), col("split")).as("metric"), col("value"))
    // dedup + quality fused into ONE text pass (two global aggregates over
    // the same scan — separately they'd each re-read the corpus, since
    // Catalyst does not reuse common subtrees across union branches)
    val dedupQuality = d
      .agg((count(lit(1)) - countDistinct(md5(col("text")))).as("dups"),
        sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L)).as("empties"))
      .selectExpr("stack(2, 'dedup','exact_dup_docs',dups," +
        " 'quality','empty_docs',empties) AS (section, metric, value)")
    // ONE tokenize-explode pass for all vocab sections: wordCounts is
    // materialized (|vocab| rows — tiny next to the corpus) and both the
    // size metric and the coverage head read it back; the in-plan
    // spelling would tokenize the corpus three times (size + head + total)
    val wc = Vocab.wordCounts(d, "text").localCheckpoint(false)
    val vocabSize = wc
      .agg(count(lit(1)).as("value"))
      .select(lit("vocab").as("section"), lit("vocab_size").as("metric"), col("value"))
    val headCov = Vocab.topVocabFromCounts(wc, 16)
      .agg(max(col("coverage_ppm")).as("value"))
      .select(lit("vocab").as("section"), lit("top16_coverage_ppm").as("metric"), col("value"))
    val leaks = Vocab.crossSplitLeaks(d, "doc_id", "text", n = 5)
      .selectExpr("stack(3, 'leak','spans_train_val',train_val," +
        " 'leak','spans_train_test',train_test," +
        " 'leak','spans_val_test',val_test) AS (section, metric, value)")
    val lengths = graft.ops.Quantiles.profile(
        d.select(lit("all").as("__g"), col("n_chars")), "__g", "n_chars",
        Seq(0.5, 0.9, 0.99))
      .selectExpr("stack(5," +
        " 'length','p50_chars_e6', floor(quantiles[0]*1000000+0.5)," +
        " 'length','p90_chars_e6', floor(quantiles[1]*1000000+0.5)," +
        " 'length','p99_chars_e6', floor(quantiles[2]*1000000+0.5)," +
        " 'length','min_chars', vmin," +
        " 'length','max_chars', vmax) AS (section, metric, value)")
    val repetition = graft.ops.Repetition.gateVerdictsFused(d, "doc_id", "text",
        maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
        maxTopBigramPpm = 180000L)
      .agg(
        sum(when(col("dup_line_ppm") > 300000L, 1L).otherwise(0L)).as("fdl"),
        sum(when(col("dup_line_char_ppm") > 200000L, 1L).otherwise(0L)).as("fdlc"),
        sum(when(col("top_bigram_ppm") > 180000L, 1L).otherwise(0L)).as("ftb"),
        sum(when(!col("gate_pass"), 1L).otherwise(0L)).as("fany"))
      .selectExpr("stack(4," +
        " 'repetition','fail_dup_line',fdl," +
        " 'repetition','fail_dup_line_char',fdlc," +
        " 'repetition','fail_top_bigram',ftb," +
        " 'repetition','gate_fail_docs',fany) AS (section, metric, value)")
    volume.unionByName(splits).unionByName(dedupQuality)
      .unionByName(vocabSize).unionByName(headCov).unionByName(leaks)
      .unionByName(lengths).unionByName(repetition)
      .withColumn("value", col("value").cast("long"))
      .orderBy("section", "metric")
  }

  val q98Sql: String =
    s"""WITH a AS (SELECT doc_id, lang, text,
      |    $splitCaseSql,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
      |  FROM documents),
      |base AS (SELECT split, lang, count(*)::BIGINT AS docs,
      |    sum(tok)::BIGINT AS tokens FROM a GROUP BY split, lang),
      |w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      |  FROM documents),
      |counts AS (SELECT word, count(*)::BIGINT AS cnt FROM w WHERE word <> ''
      |  GROUP BY word),
      |tot AS (SELECT sum(cnt)::BIGINT AS total FROM counts),
      |top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rk
      |  FROM counts ORDER BY cnt DESC, word ASC LIMIT 16),
      |toks2 AS (SELECT split, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |  FROM a),
      |spans AS (SELECT split, array_to_string(toks[i : i + 4], ' ') AS span
      |  FROM (SELECT split, toks, unnest(generate_series(1, len(toks) - 4)) AS i
      |        FROM toks2 WHERE len(toks) >= 5)),
      |g AS (SELECT span, bool_or(split = 'train') AS tr,
      |    bool_or(split = 'val') AS va, bool_or(split = 'test') AS te
      |  FROM spans GROUP BY span),
      |lq AS (SELECT quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS q FROM documents),
      |rl AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
      |  FROM documents),
      |rls AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
      |  FROM rl GROUP BY doc_id, line),
      |rla AS (SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
      |    sum((c - 1) * len) AS dup_chars, sum(c * len) AS tot_chars
      |  FROM rls GROUP BY doc_id),
      |rsp AS (SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS span
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |              FROM documents)
      |        WHERE len(toks) >= 2)),
      |rsc AS (SELECT doc_id, span, count(*) AS c FROM rsp GROUP BY doc_id, span),
      |rtop AS (SELECT doc_id, c, span FROM (
      |    SELECT doc_id, c, span,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, span ASC) AS rk
      |    FROM rsc) WHERE rk = 1),
      |rbase AS (SELECT doc_id, length(lower(trim(text))) AS n_norm FROM documents),
      |rsig AS (SELECT b.doc_id,
      |    (rla.dup_lines * 1000000 // rla.n_lines)::BIGINT AS dup_line_ppm,
      |    (CASE WHEN rla.tot_chars = 0 THEN 0
      |          ELSE rla.dup_chars * 1000000 // rla.tot_chars END)::BIGINT AS dup_line_char_ppm,
      |    (CASE WHEN tp.c IS NULL OR b.n_norm = 0 THEN 0
      |          ELSE tp.c * length(tp.span) * 1000000 // b.n_norm END)::BIGINT AS top_bigram_ppm
      |  FROM rbase b JOIN rla USING (doc_id) LEFT JOIN rtop tp USING (doc_id))
      |SELECT section, metric, value FROM (
      |  SELECT 'volume' AS section, 'docs' AS metric, sum(docs)::BIGINT AS value FROM base
      |  UNION ALL SELECT 'volume', 'tokens', sum(tokens)::BIGINT FROM base
      |  UNION ALL SELECT 'volume', 'langs', count(DISTINCT lang)::BIGINT FROM base
      |  UNION ALL SELECT 'split', 'docs_' || split, sum(docs)::BIGINT FROM base GROUP BY split
      |  UNION ALL SELECT 'dedup', 'exact_dup_docs',
      |    (count(*) - count(DISTINCT md5(text)))::BIGINT FROM documents
      |  UNION ALL SELECT 'quality', 'empty_docs',
      |    sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)::BIGINT FROM documents
      |  UNION ALL SELECT 'vocab', 'vocab_size', count(*)::BIGINT FROM counts
      |  UNION ALL SELECT 'vocab', 'top16_coverage_ppm',
      |    (sum(cnt)::BIGINT * 1000000 // (SELECT total FROM tot))::BIGINT FROM top
      |  UNION ALL SELECT 'leak', 'spans_train_val',
      |    sum(CASE WHEN tr AND va THEN 1 ELSE 0 END)::BIGINT FROM g
      |  UNION ALL SELECT 'leak', 'spans_train_test',
      |    sum(CASE WHEN tr AND te THEN 1 ELSE 0 END)::BIGINT FROM g
      |  UNION ALL SELECT 'leak', 'spans_val_test',
      |    sum(CASE WHEN va AND te THEN 1 ELSE 0 END)::BIGINT FROM g
      |  UNION ALL SELECT 'length', 'p50_chars_e6', floor(q[1]*1000000+0.5)::BIGINT FROM lq
      |  UNION ALL SELECT 'length', 'p90_chars_e6', floor(q[2]*1000000+0.5)::BIGINT FROM lq
      |  UNION ALL SELECT 'length', 'p99_chars_e6', floor(q[3]*1000000+0.5)::BIGINT FROM lq
      |  UNION ALL SELECT 'length', 'min_chars', min(n_chars)::BIGINT FROM documents
      |  UNION ALL SELECT 'length', 'max_chars', max(n_chars)::BIGINT FROM documents
      |  UNION ALL SELECT 'repetition', 'fail_dup_line',
      |    sum(CASE WHEN dup_line_ppm > 300000 THEN 1 ELSE 0 END)::BIGINT FROM rsig
      |  UNION ALL SELECT 'repetition', 'fail_dup_line_char',
      |    sum(CASE WHEN dup_line_char_ppm > 200000 THEN 1 ELSE 0 END)::BIGINT FROM rsig
      |  UNION ALL SELECT 'repetition', 'fail_top_bigram',
      |    sum(CASE WHEN top_bigram_ppm > 180000 THEN 1 ELSE 0 END)::BIGINT FROM rsig
      |  UNION ALL SELECT 'repetition', 'gate_fail_docs',
      |    sum(CASE WHEN dup_line_ppm > 300000 OR dup_line_char_ppm > 200000
      |              OR top_bigram_ppm > 180000 THEN 1 ELSE 0 END)::BIGINT FROM rsig
      |) ORDER BY section, metric""".stripMargin

  // ------------------------------------------------ materialized vocab
  /** q91's scoring against a MATERIALIZED vocabulary head — the 100 TB
    * shape. q91 derives the vocab in-plan, which scans and explodes the
    * token stream twice in one query (fine at sf0.1, wasteful when the
    * corpus is the cost); a production run derives the head ONCE, persists
    * it, and every scoring run reads the k-row artifact back. Here: write
    * [[graft.ops.Vocab.topVocab]]'s head to a warehouse temp path, score
    * from the read-back — the scoring plan then contains exactly ONE scan
    * of `documents` plus a broadcast of the tiny vocab parquet
    * (VocabSpec pins that shape). Results are identical to q91 by
    * construction, so it shares q91's oracle SQL. */
  val q107VocabMaterialized: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val head = io.Layout.scratchArtifact(spark, "vocab_head")
    Vocab.topVocab(docs, "text", 16).write.mode("overwrite").parquet(head)
    Vocab.inVocabScore(docs, "doc_id", "text", spark.read.parquet(head))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q90_vocab_coverage", q90VocabCoverage, q90Sql),
    QueryDef("q91_oov_quality", q91OovQuality, q91Sql),
    QueryDef("q92_split_report", q92SplitReport, q92Sql),
    QueryDef("q93_repeated_spans", q93RepeatedSpans, q93Sql),
    QueryDef("q94_temperature_mix", q94TemperatureMix, q94Sql),
    QueryDef("q95_pii_redact", q95PiiRedact, q95Sql),
    QueryDef("q96_boilerplate_strip", q96BoilerplateStrip, q96Sql),
    QueryDef("q97_split_leak_audit", q97SplitLeakAudit, q97Sql),
    QueryDef("q98_corpus_datasheet", q98CorpusDatasheet, q98Sql),
    QueryDef("q107_vocab_materialized", q107VocabMaterialized, q91Sql))
}
