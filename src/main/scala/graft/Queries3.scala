package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.io.Tables
import graft.ops.{Multimodal, Relate, Similarity}
import graft.streaming.Stream

/** Third query wave: U5 stringified-list parsing, native session windows,
  * sliding windows, multimodal frame sampling, IVF vector search, as-of and
  * range joins, SQL-registered kernels, BRP-LSH, token chunking, RAG prompt
  * assembly, repetition/pattern quality signals. Same determinism rules as
  * [[Queries]]. */
object Queries3 {

  // ------------------------------------------------------------------- U5
  /** Stringified-list round trip (the reference's `ast.literal_eval` repair
    * of CSV-degraded array columns, PLATFORM-GenerationLLM.py:69-72):
    * aggregate child ids to a CSV string, parse back with from_json, and
    * reduce — proving the array survives the text round trip. */
  val q33FromJson: Q = (spark, dir) => {
    val grouped = Relate.collectChildIdsCsv(
      "l_orderkey", "l_linenumber", "line_numbers", "n_items")(Tables.lineitem(spark, dir))
    grouped.select(
      col("l_orderkey"),
      from_json(concat(lit("["), col("line_numbers"), lit("]")), ArrayType(LongType)).as("ids"))
      .select(
        col("l_orderkey"),
        size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (acc, x) => acc + x).as("sum_ids"))
  }
  val q33Sql: String =
    """WITH g AS (SELECT l_orderkey,
      |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS s
      | FROM lineitem GROUP BY 1),
      |p AS (SELECT l_orderkey,
      |  list_transform(string_split(s, ','), x -> x::BIGINT) AS ids FROM g)
      |SELECT l_orderkey, len(ids)::BIGINT AS n_ids,
      | list_reduce(list_prepend(0::BIGINT, ids), (a, x) -> a + x)::BIGINT AS sum_ids
      |FROM p""".stripMargin

  // ------------------------------------------- native session windows
  /** Gap sessions via the native session_window operator (batch-checked
    * here; the same transform runs under readStream with watermark state
    * eviction — see StreamingSpec). End = last event + gap. */
  val q34SessionWindow: Q = (spark, dir) =>
    Stream.sessionWindowStats(Tables.events(spark, dir), "user_id", "ts", "value", "30 minutes")
  val q34Sql: String =
    s"""WITH ${Queries2.sessionGapCte("user_id, ts, value")},
      |s2 AS (
      |  SELECT user_id, ts, value,
      |    sum(nw) OVER (PARTITION BY user_id ORDER BY ts
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM s)
      |SELECT user_id, min(epoch_us(ts))::BIGINT AS start_us,
      | (max(epoch_us(ts)) + 1800000000)::BIGINT AS end_us,
      | count(*) AS n_events,
      | sum(round(value * 10000)::BIGINT)::BIGINT AS value_e4
      |FROM s2 GROUP BY user_id, sess""".stripMargin

  // ----------------------------------------------------- sliding windows
  /** Sliding 1-hour windows every 15 minutes per event type. Each event
    * lands in exactly 4 windows (win/slide), aligned to epoch multiples of
    * the slide — Spark's window() alignment, reproduced arithmetically in
    * the oracle. */
  val q35SlidingWindow: Q = (spark, dir) =>
    Stream.slidingTypeCounts(Tables.events(spark, dir), "ts", "event_type",
      "1 hour", "15 minutes")
  val q35Sql: String =
    """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
      |w AS (SELECT ((us // 900000000) - j) * 900000000 AS start_us, event_type
      |      FROM e, unnest(generate_series(0, 3)) AS t(j))
      |SELECT start_us AS win_start_us, (start_us + 3600000000) AS win_end_us,
      | event_type, count(*) AS n_events
      |FROM w GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------- multimodal frames
  /** Frame-sampling expansion of binary assets: one row per 4 KiB slice
    * (stand-in for a video time stride); emits md5 + length per frame so
    * the binary plumbing is hash-checkable without raw-bytes comparison. */
  val q36FrameSample: Q = (spark, dir) =>
    Multimodal.frameSample(
      Multimodal.fromText(Tables.documents(spark, dir), "doc_id", "text", "video"), 256)
      .select(
        col("asset_id"), col("frame_idx"),
        length(col("frame_bytes")).cast("long").as("n_bytes"),
        // DuckDB cannot slice BLOBs, so the comparable fingerprint is the
        // md5 of the frame's HEX string (uppercase in both engines); the
        // Spark side still slices true binary content
        md5(hex(col("frame_bytes")).cast("binary")).as("frame_fp"))
  val q36Sql: String =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |  octet_length(encode(text)) AS nb FROM documents)
      |SELECT doc_id AS asset_id, ((i - 1) // 256)::BIGINT AS frame_idx,
      | (length(substring(hx, (2 * (i - 1) + 1)::INT, 512)) // 2)::BIGINT AS n_bytes,
      | md5(substring(hx, (2 * (i - 1) + 1)::INT, 512)) AS frame_fp
      |FROM h, unnest(generate_series(1, greatest(nb, 1), 256)) AS u(i)""".stripMargin

  // ------------------------------------------------------- IVF search
  /** IVF-routed top-k: query → nearest 3 of the 10 coarse (label) buckets →
    * exact search inside them. The scale path for O10 at 100 TB: only
    * nprobe/nlist of the corpus is scanned. */
  val q37IvfTopK: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val query = e.filter(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    Similarity.ivfTopK(e, "vec_id", "embedding", "label", query, "qvec", 3, 10, 0.0)
  }
  val q37Sql: String = Queries2.CentroidSqlCte +
    """,
      |c AS (SELECT label, list(m ORDER BY pos) AS centroid FROM a GROUP BY label),
      |q AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
      |probe AS (SELECT c.label,
      |    round(list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]), 6) AS csim
      |  FROM c, q ORDER BY csim DESC, label LIMIT 3)
      |SELECT vec_id, sim FROM (
      |  SELECT e.vec_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings e JOIN probe p ON e.label = p.label, q) v
      |WHERE sim >= 0.0 ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------- n-gram Jaccard blocks
  /** Character-4-gram Jaccard near-dup within prefix blocks: docs are
    * blocked by their first 32 NORMALIZED characters, so candidate pairs
    * only form among docs sharing an exact prefix — the blocked
    * candidate-generation pattern at corpus scale. (Blocking into a small
    * fixed number of hash buckets would be quadratic-over-garbage: at 5k
    * docs / 64 buckets every bucket holds ~78 unrelated docs.) */
  val q38NgramJaccard: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val blocked = d.select(
      col("doc_id"),
      graft.expr.TextExprs.charShingles(col("text"), 4).as("sh"),
      substring(graft.ops.Dedup.normalized(col("text")), 1, 32).as("blk"))
    graft.ops.Dedup.jaccardWithinBlocks(blocked, "doc_id", "sh", "blk", 0.6)
  }
  val q38Sql: String =
    """WITH n AS (SELECT doc_id,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt FROM documents),
      |s AS (SELECT doc_id,
      |    CASE WHEN length(nt) < 4 THEN [nt]
      |         ELSE list_distinct(list_transform(generate_series(1, length(nt) - 3),
      |                i -> substring(nt, i::INT, 4))) END AS sh,
      |    substring(nt, 1, 32) AS blk
      |  FROM n)
      |SELECT id_a, id_b, jaccard FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
      |          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id) v
      |WHERE jaccard >= 0.6""".stripMargin

  // ------------------------------------------------- dedup materialize
  /** Applied dedup: keep one representative per exact-content group — the
    * materialization step after [[graft.ops.Dedup.exactGroups]] (keep =
    * smallest doc_id; a quality-ranked keeper is the same query with a
    * different min key). Anti-join-shaped: only keepers survive. */
  val q39DedupApply: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val groups = graft.ops.Dedup.exactGroups(d, "doc_id", "text")
    d.join(groups.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }
  val q39Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (
      |  SELECT min(doc_id) FROM documents
      |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))""".stripMargin

  // ------------------------------------------------------ token chunks
  /** Token-window overlapping chunks (40 tokens every 30) — the RAG
    * chunking unit, as a codegen'd explode/slice expansion. */
  val q40TokenChunks: Q = (spark, dir) =>
    graft.ops.Chunk.tokenChunks(Tables.documents(spark, dir), "doc_id", "text", 40, 30)
  val q40Sql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents)
      |SELECT doc_id, ((i - 1) // 30)::BIGINT AS chunk_id, i::BIGINT AS tok_start,
      | array_to_string(list_slice(tk, i::INT, (i + 39)::INT), ' ') AS chunk
      |FROM t, unnest(generate_series(1, greatest(len(tk), 1), 30)) AS u(i)""".stripMargin

  // -------------------------------------------------- SQL surface (ext)
  /** The same cosine top-k as q18, but phrased in SQL against the
    * extension-registered native function — proving the kernels are usable
    * from pure SQL (spark.sql.extensions=graft.ext.GraftExtensions). */
  val q41SqlCosine: Q = (spark, dir) => {
    graft.ext.GraftExtensions.register(spark)
    // unique per-invocation view name, dropped once the statement is
    // analyzed: a fixed-name createOrReplaceTempView is session-global
    // catalog mutation, so two concurrent invocations (or a user's own
    // view of the same name) would silently read each other's data.
    // spark.sql analyzes eagerly, so the returned frame no longer needs
    // the catalog entry.
    val view = "graft_emb_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Tables.embeddings(spark, dir).createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT vec_id, sim FROM (
         |  SELECT e.vec_id, round(cosine_sim(e.embedding, q.embedding), 6) AS sim
         |  FROM $view e CROSS JOIN (SELECT embedding FROM $view WHERE vec_id = 7) q)
         |WHERE sim >= 0.0 ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }
  val q41Sql: String = Queries2.q18Sql

  // ------------------------------------------------------ RAG prompt
  /** End-of-pipeline prompt assembly over the q29 context set: one
    * deterministic prompt string (context bodies sorted by id). */
  val q42RagPrompt: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val query = e.filter(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    val ctx = graft.ops.Rag.contextDocs(e, "vec_id", "embedding", "label",
      Tables.documents(spark, dir), "doc_id", query, 0.4, 20)
    graft.ops.Rag.assemblePrompt(ctx, "doc_id", "text",
      "What does the corpus say?", history = Seq("Q: earlier?", "A: earlier answer."))
  }
  val q42Sql: String =
    s"""WITH ${Queries2.ragContextIdsCtes},
      |ctx AS (SELECT coalesce(string_agg(d.text, chr(10) || '---' || chr(10) ORDER BY d.doc_id), '') AS c
      |        FROM documents d JOIN ids ON d.doc_id = ids.vec_id)
      |SELECT 'Context:' || chr(10) || c || chr(10) || chr(10)
      | || 'Q: earlier?' || chr(10) || 'A: earlier answer.' || chr(10) || chr(10)
      | || 'Question: What does the corpus say?' AS prompt
      |FROM ctx""".stripMargin

  // ------------------------------------------------------- as-of join
  /** As-of join: each purchase matched to the user's latest prior-or-equal
    * click — the temporal-join operator Spark lacks, composed union+window
    * (AsOf.asOfJoin); DuckDB checks it with its native ASOF JOIN. */
  val q43AsOfJoin: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.ops.AsOf.asOfJoin(purchases, clicks, "user_id", "ts",
        payload = Seq("event_id", "value"), tieCol = "event_id")
      .select(
        col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("asof_event_id").as("click_id"),
        round(col("asof_value") * 10000).cast("long").as("click_value_e4"))
  }
  // clicks are pre-aggregated to one row per (user_id, ts) picking the
  // max-event_id row — exactly the row AsOf.asOfJoin's tiebreak selects —
  // because DuckDB's native ASOF JOIN picks an ARBITRARY row when several
  // share the matched timestamp (latent flake otherwise)
  val q43Sql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, epoch_us(p.ts)::BIGINT AS purchase_us,
      | c.event_id AS click_id, round(c.value * 10000)::BIGINT AS click_value_e4
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT user_id, ts, max(event_id) AS event_id,
      |             arg_max(value, event_id) AS value
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2) c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  // ------------------------------------------------------- JSON props
  /** JSON metadata extraction (training pipelines carry JSON sidecars):
    * pull props.k per event, aggregate per type. get_json_object pushes
    * through codegen; the parse happens once per row in the scan stage. */
  val q44JsonProps: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  val q44Sql: String =
    """SELECT event_type, count(k) AS n_with_k, sum(k)::BIGINT AS sum_k,
      | min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events)
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------- doc stats
  /** Per-language corpus statistics incl. exact interpolated median — the
    * quality-dashboard rollup (count/avg/median length). Both engines use
    * linear interpolation for the continuous percentile. */
  val q45DocStats: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("median_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
  val q45Sql: String =
    """SELECT lang, count(*) AS n_docs,
      | round(avg(n_chars), 4) AS avg_chars,
      | round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
      | min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang""".stripMargin

  // ------------------------------------------------------- range join
  /** Range join: each error event located in its user's session interval
    * (intervals from the gap sessionizer) via the bucketed-equi-join form
    * in [[graft.ops.RangeJoin]] — no nested-loop join; the oracle checks
    * with a plain theta join. */
  val q46RangeJoin: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val sessions = graft.ops.Sessionize.sessionStats(
        e, "user_id", "ts", "event_id", "value", 30)
      .select(col("user_id"), col("session_idx"), col("start_us"), col("end_us"))
    graft.ops.RangeJoin.pointInInterval(errors, sessions,
        "user_id", "us", "start_us", "end_us", bucketWidth = 1800000000L)
      .select(col("user_id"), col("event_id"), col("us"),
        col("session_idx"), col("start_us"), col("end_us"))
  }
  val q46Sql: String =
    s"""WITH ${Queries2.sessionGapCte("user_id, ts, event_id, value")},
      |${Queries2.sessionIdxCte("user_id, ts")},
      |iv AS (SELECT user_id, session_idx, min(epoch_us(ts))::BIGINT AS start_us,
      |         max(epoch_us(ts))::BIGINT AS end_us
      |       FROM s2 GROUP BY 1, 2)
      |SELECT e.user_id, e.event_id, epoch_us(e.ts)::BIGINT AS us,
      | iv.session_idx, iv.start_us, iv.end_us
      |FROM events e JOIN iv ON e.user_id = iv.user_id
      | AND epoch_us(e.ts) BETWEEN iv.start_us AND iv.end_us
      |WHERE e.event_type = 'error'""".stripMargin

  // ---------------------------------------------------- sign-RP LSH dedup
  /** Sign-random-projection LSH near-dup pairs: banded ±1-hyperplane
    * sign bits over integer-quantized vectors, candidates within a
    * (table, bucket) equi-join, exact cosine verify ≥ 0.35. The exact
    * integer arithmetic makes the bucket keys — and therefore the whole
    * approximate pipeline — hash-checkable against DuckDB, which MLlib's
    * Gaussian BRP-LSH can never be. */
  // 6 tables × 6 bits: P(find pair) at cosine 0.9 ≈ 95%, at 0.35 ≈ 26% —
  // banded for the high-sim dedup regime LSH exists for
  val rpBits = 6
  val rpPlanes: Array[Array[Double]] =
    graft.expr.VectorExprs.rademacherPlanes(numPlanes = 36, dim = 64, seed = 42L)
  val q47RpLsh: Q = (spark, dir) =>
    Similarity.rpLshNearDup(Tables.embeddings(spark, dir), "vec_id", "embedding",
      rpPlanes, rpBits, threshold = 0.35)
  /** DuckDB spelling of ONE sign-RP band key over a quantized-vector
    * column `qv` — THE single source for the bucket-key SQL, shared by
    * [[rpPairsCte]] (q47/q52/q83 family) and q124's decon oracle
    * (Queries10), so the two spellings cannot drift from each other or
    * from [[graft.expr.VectorExprs.signRpBuckets]]. */
  private[graft] def rpKeyExpr(t: Int, planes: Array[Array[Double]],
      bits: Int): String =
    (0 until bits).map { b =>
      val plane = planes(t * bits + b).map(_.toInt).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(qv, $plane::DOUBLE[]) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  /** The matching quantization expression producing `qv` (the
    * `floor(x·1000 + 0.5)` convention the Spark kernel uses). */
  private[graft] val RpQuantExpr: String =
    "list_transform(embedding, x -> floor(x::DOUBLE * 1000 + 0.5))"

  /** CTE body producing `pairs(id_a, id_b, sim)` — the DuckDB mirror of
    * [[Similarity.rpLshNearDup]] with [[rpPlanes]] over `sourceRel`
    * (a relation with `vec_id`, `embedding` columns); shared by q47, the
    * q52 dedup-cluster oracle, and q83's restricted-corpus clustering. */
  def rpPairsCte(sourceRel: String, simThreshold: Double = 0.35,
      planes: Array[Array[Double]] = rpPlanes, bits: Int = rpBits): String = {
    val tables = (0 until planes.length / bits).map(t =>
      s"SELECT vec_id, $t AS t, ${rpKeyExpr(t, planes, bits)} AS key FROM q")
      .mkString("\nUNION ALL ")
    s"""q AS (
       |  SELECT vec_id,
       |    $RpQuantExpr AS qv
       |  FROM $sourceRel),
       |k AS (
       |$tables),
       |c AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |      FROM k a JOIN k b ON a.t = b.t AND a.key = b.key AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT id_a, id_b, sim FROM (
       |    SELECT id_a, id_b,
       |      round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS sim
       |    FROM c JOIN embeddings ea ON ea.vec_id = c.id_a
       |           JOIN embeddings eb ON eb.vec_id = c.id_b) v
       |  WHERE sim >= $simThreshold)""".stripMargin
  }
  val rpPairsCteBody: String = rpPairsCte("embeddings")
  val q47Sql: String =
    s"WITH $rpPairsCteBody\nSELECT id_a, id_b, sim FROM pairs"

  // ---------------------------------------------------- repetition ratio
  /** Duplicate-trigram fraction — the classic corpus-filtering repetition
    * signal: 1 − distinct/total word trigrams (0 for short docs). Distinct
    * counts come from the fused shingle kernel; the ratio is emitted in
    * integer micro-units (see q21's rounding note). */
  val q48Repetition: Q = (spark, dir) => {
    val toks = split(graft.ops.Dedup.normalized(col("text")), " ")
    val total = when(org.apache.spark.sql.functions.size(toks) < 3, lit(1L))
      .otherwise((org.apache.spark.sql.functions.size(toks) - 2).cast("long"))
    val distinctTg = org.apache.spark.sql.functions.size(
      graft.expr.TextExprs.wordShingles(col("text"), 3)).cast("long")
    Tables.documents(spark, dir).select(
      col("doc_id"), total.as("total_tg"), distinctTg.as("distinct_tg"),
      floor(((total - distinctTg).cast("double") / total.cast("double"))
        * 1000000.0 + 0.5).cast("long").as("dup_e6"))
  }
  val q48Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(${Queries2.NormSql}, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(tk) < 3 THEN 1 ELSE len(tk) - 2 END::BIGINT AS total_tg,
       |  CASE WHEN len(tk) < 3 THEN 1
       |       ELSE len(list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |              i -> tk[i::INT] || ' ' || tk[(i+1)::INT] || ' ' || tk[(i+2)::INT])))
       |  END::BIGINT AS distinct_tg
       |  FROM t)
       |SELECT doc_id, total_tg, distinct_tg,
       | floor(((total_tg - distinct_tg)::DOUBLE / total_tg::DOUBLE)
       |   * 1000000.0 + 0.5)::BIGINT AS dup_e6
       |FROM g""".stripMargin

  // ---------------------------------------------------- pattern counts
  /** Surface-pattern counts (URL / digit-run / all-caps tokens) — the
    * cheap regex signals corpus filters cut on. */
  val q49PatternCounts: Q = (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit("https?://[^\\s]+")).cast("long").as("n_urls"),
      regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_digit_runs"),
      regexp_count(col("text"), lit("\\b[A-Z]{2,}\\b")).cast("long").as("n_allcaps"))
  val q49Sql: String =
    """SELECT doc_id,
      | len(regexp_extract_all(text, 'https?://[^\s]+'))::BIGINT AS n_urls,
      | len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_digit_runs,
      | len(regexp_extract_all(text, '\b[A-Z]{2,}\b'))::BIGINT AS n_allcaps
      |FROM documents""".stripMargin

  // ------------------------------------------------------- registry ----
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q33_from_json", q33FromJson, q33Sql),
    QueryDef("q34_session_window", q34SessionWindow, q34Sql),
    QueryDef("q35_sliding_window", q35SlidingWindow, q35Sql),
    QueryDef("q36_frame_sample", q36FrameSample, q36Sql),
    QueryDef("q37_ivf_topk", q37IvfTopK, q37Sql),
    QueryDef("q38_ngram_jaccard", q38NgramJaccard, q38Sql),
    QueryDef("q39_dedup_apply", q39DedupApply, q39Sql),
    QueryDef("q40_token_chunks", q40TokenChunks, q40Sql),
    QueryDef("q41_sql_cosine", q41SqlCosine, q41Sql),
    QueryDef("q42_rag_prompt", q42RagPrompt, q42Sql),
    QueryDef("q43_asof_join", q43AsOfJoin, q43Sql),
    QueryDef("q44_json_props", q44JsonProps, q44Sql),
    QueryDef("q45_doc_stats", q45DocStats, q45Sql),
    QueryDef("q46_range_join", q46RangeJoin, q46Sql),
    QueryDef("q47_rp_lsh", q47RpLsh, q47Sql),
    QueryDef("q48_repetition", q48Repetition, q48Sql),
    QueryDef("q49_pattern_counts", q49PatternCounts, q49Sql))
}
