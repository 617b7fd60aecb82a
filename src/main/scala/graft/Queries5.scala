package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Fifth query wave: cube grouping sets, TF-IDF keyword extraction,
  * training-sequence packing, exact moment statistics from integer sums,
  * aggregate-argmax latest-state compaction, incremental (new-batch vs
  * historical-corpus) dedup, fixed-bin histograms, the classic star-schema
  * dims-broadcast join, a one-pass quality-gate funnel, balanced per-class
  * sampling, gap-filled series resampling, vocabulary heavy hitters,
  * per-source dedup-rate reporting, hamming-verified SimHash pairs, int8
  * embedding quantization + quantized search, and eval-set n-gram
  * decontamination. Same
  * determinism rules as [[Queries]]: derived doubles go to integer units
  * before any sum, every window/rank carries a total-order tiebreak, sqrt
  * and division are the only libm-free IEEE ops allowed on the hash path
  * (plus one ln() whose output is rounded to micro-units — a 1-ulp libm
  * divergence cannot cross a 1e-6 boundary except with ~1e-10 probability).
  */
object Queries5 {

  // ------------------------------------------------------------- cube
  /** CUBE over (returnflag, linestatus): all four grouping sets in one
    * Expand + one shuffle — the full grouping-sets family alongside q50's
    * rollup. Quantities and prices summed in exact integer cents. */
  val q60Cube: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_items"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"))
  val q60Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
      | count(*) AS n_items,
      | sum(round(l_quantity * 100)::BIGINT)::BIGINT AS qty_c,
      | sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS price_c
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  // ----------------------------------------------------------- TF-IDF
  /** Top-3 TF-IDF terms per document — the classic keyword-extraction /
    * relevance-scoring primitive (a training-data pipeline uses it for
    * topic tagging and quality features). Term frequencies and document
    * frequencies are exact integer aggregates; the single ln() is rounded
    * to micro-units before ranking so the comparison is integer. The
    * corpus size joins in as a broadcast 1-row aggregate — no driver
    * collect. */
  val q61Tfidf: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    // tf feeds BOTH the document-frequency aggregate and the final join,
    // under different shuffle keys — exchange reuse can't fire, so without
    // materialization the tokenize+explode+aggregate runs twice. The lazy
    // checkpoint computes it once at first action (same pattern as
    // ops.Components); at cluster scale this is persist() on the tf table.
    val tf = d
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e6 + 0.5)
          .cast("long").as("score_e6"))
      .select(col("doc_id"), col("term"), col("tf"), col("score_e6"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 3)
  }
  val q61Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |    floor(tf.tf * ln(n.n_docs::DOUBLE / dfreq.df) * 1e6 + 0.5)::BIGINT AS score_e6
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score_e6 DESC, term ASC) AS rank
      |  FROM scored)
      |SELECT doc_id, term, tf, score_e6, rank FROM ranked WHERE rank <= 3""".stripMargin

  // -------------------------------------------------- sequence packing
  /** Pack 64-token chunks into 256-token training sequences, contiguously
    * per source shard (cumulative token offset div capacity) — how a
    * pretraining pipeline turns variable-length documents into fixed-size
    * sequences. Packing is per-source so the window parallelizes across
    * shards instead of serializing the corpus through one task. */
  val q62PackChunks: Q = (spark, dir) =>
    chunkCumTokens(Tables.documents(spark, dir))
      .select(col("source"), expr("(cum_tok - n_tok) div 256").as("pack_id"), col("n_tok"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"))
      .select(col("source"), col("pack_id"), col("n_chunks"), col("n_tokens"),
        expr("(n_tokens * 1000000) div 256").as("fill_ppm"))

  /** Each 64-token chunk's `n_tok` and its running token sum `cum_tok`
    * within its source, in (doc_id, chunk_id) order (q62, q129). */
  private[graft] def chunkCumTokens(d: DataFrame): DataFrame = {
    val ch = graft.ops.Chunk.tokenChunks(d, "doc_id", "text", 64, 64)
      .select(col("doc_id"), col("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ch.join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("n_tok"), sum(col("n_tok")).over(w).as("cum_tok"))
  }

  /** [[chunkCumTokens]] as oracle CTEs: chunks `c`, running sums `j`. */
  private[graft] def chunkCumTokensCtes: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |c AS (
      |  SELECT doc_id, ((i - 1) // 64)::BIGINT AS chunk_id,
      |    len(string_split(array_to_string(list_slice(tk, i::INT, (i + 63)::INT), ' '), ' '))::BIGINT AS n_tok
      |  FROM t, unnest(generate_series(1, greatest(len(tk), 1), 64)) AS u(i)),
      |j AS (
      |  SELECT d.source, c.n_tok,
      |    sum(c.n_tok) OVER (PARTITION BY d.source ORDER BY c.doc_id, c.chunk_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
      |  FROM c JOIN documents d ON d.doc_id = c.doc_id)""".stripMargin

  val q62Sql: String =
    s"""WITH $chunkCumTokensCtes
      |SELECT source, ((cum_tok - n_tok) // 256)::BIGINT AS pack_id,
      |  count(*) AS n_chunks, sum(n_tok)::BIGINT AS n_tokens,
      |  ((sum(n_tok)::BIGINT * 1000000) // 256)::BIGINT AS fill_ppm
      |FROM j GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- moment statistics
  /** Mean and standard deviation per event type computed from EXACT
    * integer sums (n, Σv, Σv²) — the only scheduling-independent way to
    * get distributed second moments: the shuffle carries three integers
    * per group, and the final projection's division and sqrt are
    * correctly-rounded IEEE ops, so the result is bit-stable at any
    * parallelism (built-in stddev folds doubles in partition order and is
    * not). Values are scaled to e2 so Σv² stays in range at sf1000. */
  val q63Moments: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("v_e2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sum_e2"),
        sum(col("v_e2") * col("v_e2")).as("sumsq_e4"))
      .select(col("event_type"), col("n"), col("sum_e2"),
        floor(col("sum_e2") * 10000.0 / col("n") + 0.5).cast("long").as("mean_e6"),
        floor(sqrt((col("n") * col("sumsq_e4") - col("sum_e2") * col("sum_e2")).cast("double"))
          / col("n") * 10000.0 + 0.5).cast("long").as("std_e6"))
  val q63Sql: String =
    """WITH v AS (SELECT event_type, round(value * 100)::BIGINT AS v_e2 FROM events),
      |a AS (SELECT event_type, count(*) AS n, sum(v_e2)::BIGINT AS sum_e2,
      |       sum(v_e2 * v_e2)::BIGINT AS sumsq_e4 FROM v GROUP BY 1)
      |SELECT event_type, n, sum_e2,
      | floor(sum_e2 * 10000.0 / n + 0.5)::BIGINT AS mean_e6,
      | floor(sqrt((n * sumsq_e4 - sum_e2 * sum_e2)::DOUBLE) / n * 10000.0 + 0.5)::BIGINT AS std_e6
      |FROM a""".stripMargin

  // ---------------------------------------------- latest-state compaction
  /** Latest event per user as ONE hash aggregate: max over a struct whose
    * leading fields are the (ts, event_id) total order — the
    * last-write-wins compaction every CDC/state pipeline runs. No window:
    * partial max on the map side means the exchange carries one struct per
    * (partition, user) instead of the whole event log — at 100 TB that is
    * the shuffle-volume difference between compacting and re-sorting the
    * log. (Struct max plans as SortAggregate — declarative aggregates with
    * struct buffers can't hash-aggregate — but the partial/final split and
    * the tiny exchange are what matter at scale.) */
  val q64LatestState: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"), round(col("value") * 10000).cast("long").as("value_e4")).as("s"))
      .groupBy(col("user_id"))
      .agg(max(col("s")).as("s"))
      .select(col("user_id"), col("s.ts_us").as("last_ts_us"),
        col("s.event_id").as("last_event_id"), col("s.event_type").as("last_type"),
        col("s.value_e4").as("last_value_e4"))
  val q64Sql: String =
    """SELECT user_id, epoch_us(ts)::BIGINT AS last_ts_us,
      | event_id AS last_event_id, event_type AS last_type,
      | round(value * 10000)::BIGINT AS last_value_e4
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1""".stripMargin

  // ------------------------------------------------- incremental dedup
  /** Incremental corpus dedup: a new batch (doc_id ≡ 0 mod 5 stands in
    * for "today's crawl") is deduplicated against the historical corpus by
    * content fingerprint, then within itself (first doc_id wins). Only
    * 16-byte fingerprints shuffle — never document bodies — and the
    * anti-join is the streaming-friendly shape: history grows, the batch
    * side stays one increment. */
  val q65IncrementalDedup: Q = (spark, dir) =>
    incrementalDedupShape(
      Tables.documents(spark, dir).withColumn("fp", md5(col("text"))))

  /** The q65 dedup shape over a pre-fingerprinted `(doc_id, fp, lang,
    * n_chars, …)` frame — factored out so the streaming parity test
    * (ConnectorStreamSpec) can run the SAME batch code over an augmented
    * corpus and compare it to the `Stream.dedupKeyed` replay: first
    * arrival (history before increment, then ascending doc_id) wins in
    * both spellings. */
  private[graft] def incrementalDedupShape(d: DataFrame): DataFrame = {
    val hist = d.filter(col("doc_id") % 5 =!= 0).select(col("fp")).distinct()
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    d.filter(col("doc_id") % 5 === 0)
      .join(hist, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"), col("lang"), col("n_chars"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"), col("lang"), col("n_chars"))
  }
  val q65Sql: String =
    """WITH d AS (SELECT *, md5(text) AS fp FROM documents),
      |hist AS (SELECT DISTINCT fp FROM d WHERE doc_id % 5 <> 0),
      |batch AS (SELECT * FROM d WHERE doc_id % 5 = 0
      |          AND fp NOT IN (SELECT fp FROM hist)),
      |r AS (SELECT doc_id, fp, lang, n_chars,
      |       row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM batch)
      |SELECT doc_id, fp, lang, n_chars FROM r WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------- histogram
  /** Fixed-width value histogram (bins of 50.0) with per-bin extrema — the
    * distribution profile a pipeline reports per batch. Binning is integer
    * division of the e4-scaled value, so bin edges are exact. */
  val q66Histogram: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(round(col("value") * 10000).cast("long").as("v_e4"))
      .select(expr("v_e4 div 500000").as("bin"), col("v_e4"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("v_e4")).as("min_e4"),
        max(col("v_e4")).as("max_e4"))
  val q66Sql: String =
    """WITH v AS (SELECT round(value * 10000)::BIGINT AS v_e4 FROM events)
      |SELECT (v_e4 // 500000)::BIGINT AS bin, count(*) AS n,
      | min(v_e4)::BIGINT AS min_e4, max(v_e4)::BIGINT AS max_e4
      |FROM v GROUP BY 1""".stripMargin

  // ---------------------------------------------------- star-schema join
  /** Revenue by region: the canonical star-schema join — the fact table
    * shuffles once (lineitem ⋈ orders on the order key); customer, nation
    * and region ride along as broadcast dimensions, so adding a dimension
    * never adds a shuffle. nation/region are hinted (fixed-size tiny);
    * customer is left to Catalyst/AQE, which broadcasts it while it fits
    * and degrades to a shuffle join when a 100 TB run outgrows the hint —
    * exactly the adaptivity you want baked into the plan, not the code. */
  val q67StarJoin: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long").as("rev_c"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_c")).as("revenue_c"))
  }
  val q67Sql: String =
    """SELECT r_name, count(*) AS n_items,
      | sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS revenue_c
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- filter funnel
  /** Quality-gate funnel: how many documents survive each stage of a
    * cleaning pipeline (language allowlist → minimum length → exact
    * dedup), as (stage, count) rows. ONE scan computes all the flags and a
    * single aggregate produces every stage count (conditional sums on
    * cumulative predicates) — not one pass per stage; the per-batch
    * retention report a training pipeline emits for monitoring. */
  val q68FilterFunnel: Q = (spark, dir) => {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("fp", md5(col("text")))
      .select(col("lang"), col("n_chars"), row_number().over(w).as("rn"))
      .select(
        col("lang").isin("en", "de", "es", "fr").as("f_lang"),
        (col("n_chars") >= lit(100)).as("f_len"),
        (col("rn") === 1).as("f_uniq"))
      .agg(
        count(lit(1)).as("c0"),
        sum(when(col("f_lang"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("f_lang") && col("f_len"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("f_lang") && col("f_len") && col("f_uniq"), 1L).otherwise(0L)).as("c3"))
      .select(expr(
        """stack(4,
          |  0L, 'input',       c0,
          |  1L, 'lang_id',     c1,
          |  2L, 'min_length',  c2,
          |  3L, 'exact_dedup', c3) AS (stage_idx, stage, n_docs)""".stripMargin))
  }
  val q68Sql: String =
    """WITH d AS (SELECT lang, n_chars,
      |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |      FROM documents),
      |f AS (SELECT lang IN ('en','de','es','fr') AS f_lang,
      |       (n_chars >= 100) AS f_len, (rn = 1) AS f_uniq FROM d),
      |a AS (SELECT count(*) AS c0,
      |       count(*) FILTER (f_lang) AS c1,
      |       count(*) FILTER (f_lang AND f_len) AS c2,
      |       count(*) FILTER (f_lang AND f_len AND f_uniq) AS c3 FROM f)
      |SELECT 0::BIGINT AS stage_idx, 'input' AS stage, c0::BIGINT AS n_docs FROM a
      |UNION ALL SELECT 1, 'lang_id', c1 FROM a
      |UNION ALL SELECT 2, 'min_length', c2 FROM a
      |UNION ALL SELECT 3, 'exact_dedup', c3 FROM a""".stripMargin

  // ------------------------------------------------- balanced sampling
  /** Balanced per-language subsample: at most 25 documents per language,
    * chosen by md5-hash order — the rerun-stable way to build a
    * class-balanced training subset (no RNG state; the same docs are
    * chosen on every engine, forever). The `row_number ≤ k` filter gets
    * Spark's WindowGroupLimit rewrite, so each group keeps a k-row heap
    * instead of fully sorting — the property that makes "25 per language"
    * cheap when one language has 10 B rows. */
  val q69BalancedSample: Q = (spark, dir) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 25)
  }
  val q69Sql: String =
    """SELECT doc_id, lang, n_chars, rank FROM (
      |  SELECT doc_id, lang, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 25""".stripMargin

  // --------------------------------------------------- series resampling
  /** Gap-filled daily time series: events per (type, day) with explicit
    * zero rows for days that had no events — monitoring and trend queries
    * need the gaps materialized. The day grid comes from sequence() over
    * each type's own [min, max] span (generated, not scanned), and the
    * left join back to the daily aggregate broadcasts the tiny grid. */
  val q70Resample: Q = (spark, dir) => {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(count(lit(1)).as("n"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day_idx")).as("d0"), max(col("day_idx")).as("d1"))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day_idx"))
    grid.join(daily, Seq("event_type", "day_idx"), "left")
      .select(col("event_type"), col("day_idx"),
        coalesce(col("n"), lit(0L)).as("n"))
  }
  val q70Sql: String =
    """WITH d AS (SELECT event_type,
      |        (epoch_us(ts) // 86400000000)::BIGINT AS day_idx, count(*) AS n
      |      FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, min(day_idx) AS d0, max(day_idx) AS d1
      |      FROM d GROUP BY 1),
      |g AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day_idx FROM s)
      |SELECT g.event_type, g.day_idx, coalesce(d.n, 0)::BIGINT AS n
      |FROM g LEFT JOIN d ON d.event_type = g.event_type AND d.day_idx = g.day_idx""".stripMargin

  // ----------------------------------------------------- heavy hitters
  /** Global top-20 terms by frequency — corpus vocabulary heavy hitters.
    * explode → codegen'd hash aggregate (map-side partial combine, so the
    * shuffle carries one (term, count) per partition, not the token
    * stream) → TakeOrderedAndProject (per-partition heaps, no global
    * sort). Total-order tiebreak on the term keeps top-k deterministic. */
  val q71HeavyHitters: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(20)
  val q71Sql: String =
    """SELECT term, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
      |      FROM documents)
      |GROUP BY 1 ORDER BY n DESC, term ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------- dedup-rate report
  /** Per-source dedup-rate report: documents, distinct contents, and the
    * duplicate fraction in ppm — the batch-quality metric a crawl pipeline
    * alarms on. Distinct counting is over 16-byte fingerprints (two-phase
    * aggregate); the ratio is exact integer arithmetic. */
  val q72DedupRate: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        expr("((n_docs - n_unique) * 1000000) div n_docs").as("dup_ppm"))
  val q72Sql: String =
    """SELECT source, count(*) AS n_docs,
      | count(DISTINCT md5(text))::BIGINT AS n_unique,
      | (((count(*) - count(DISTINCT md5(text))) * 1000000) // count(*))::BIGINT AS dup_ppm
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------ simhash pair verify
  /** SimHash near-dup pairs: candidates within a fingerprint bucket,
    * verified by hamming distance ≤ 3 (bit_count of xor — codegen'd
    * integer ops, no array compare). Completes the SimHash dedup loop:
    * q15 fingerprints → bucket-blocked candidates → cheap exact verify.
    * Single-band blocking by construction misses cross-bucket pairs — the
    * standard LSH recall/cost trade; more bands = more recall, same
    * per-band plan. */
  val q73SimhashPairs: Q = (spark, dir) => {
    val fp = graft.ops.Dedup.simHashFingerprintsMd5(
      Tables.documents(spark, dir), "doc_id", "text")
    val a = fp.select(col("bucket"), col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = fp.select(col("bucket"), col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }
  val q73Sql: String =
    s"""WITH ${Queries2.SimHashCte}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |FROM fp a JOIN fp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  // -------------------------------------------------- int8 quantization
  /** Per-vector int8 quantization (max-abs scaling) — the 4x storage/
    * bandwidth cut an embedding index takes before ANN search. Exact
    * integer outputs: the scale's division and each element's multiply are
    * single IEEE ops, and floor(x+0.5) rounds identically on both engines
    * (round() would not — half-away vs HALF_UP). Zero vectors quantize to
    * zeros.
    *
    * `quantized` keeps the array form for downstream consumers (q75); the
    * registered q74 query emits `q8` as a fixed-format CSV string (like
    * q26's embedding_csv) because the driver's pandas-lexsort compare
    * cannot canonicalize array cells. */
  private[graft] def quantized(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("x"))
      .select(col("vec_id"), col("x"),
        array_max(transform(col("x"), a => abs(a))).as("amax"))
      .select(col("vec_id"),
        floor(col("amax") * 1e6 + 0.5).cast("long").as("amax_e6"),
        when(col("amax") === 0.0, transform(col("x"), _ => lit(0L)))
          .otherwise(transform(col("x"),
            a => floor(a * (lit(127.0) / col("amax")) + 0.5).cast("long"))).as("q8"))
  val q74Quantize: Q = (spark, dir) =>
    quantized(spark, dir)
      .select(col("vec_id"), col("amax_e6"),
        array_join(transform(col("q8"), x => x.cast("string")), ",").as("q8_csv"))
  val q74Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
      |a AS (SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) AS amax FROM e)
      |SELECT vec_id, floor(amax * 1e6 + 0.5)::BIGINT AS amax_e6,
      |  array_to_string(CASE WHEN amax = 0 THEN list_transform(x, v -> 0::BIGINT)
      |       ELSE list_transform(x, v -> floor(v * (127.0 / amax) + 0.5)::BIGINT)
      |  END, ',') AS q8_csv
      |FROM a""".stripMargin

  // ---------------------------------------------- quantized cosine top-k
  /** Cosine top-10 over the INT8-quantized vectors (q74's output) against
    * query vector 7 — the search half of the quantization loop. Scale
    * factors cancel inside cosine, so quantized similarity approximates
    * the full-precision q18 ranking at a quarter of the bytes; dot
    * products over integer-valued doubles are exact regardless of
    * summation order, which is what keeps this hash-comparable. */
  val q75QuantizedTopk: Q = (spark, dir) => {
    val q8 = quantized(spark, dir)
      .select(col("vec_id"),
        transform(col("q8"), x => x.cast("double")).as("xq"))
    val query = q8.filter(col("vec_id") === 7L).select(col("xq").as("qvec"))
    graft.ops.Similarity.cosineTopK(q8, "vec_id", "xq", query, "qvec", 10, 0.0)
  }
  val q75Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
      |a AS (SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) AS amax FROM e),
      |q8 AS (SELECT vec_id,
      |  CASE WHEN amax = 0 THEN list_transform(x, v -> 0.0)
      |       ELSE list_transform(x, v -> floor(v * (127.0 / amax) + 0.5))
      |  END AS xq FROM a)
      |SELECT vec_id, sim FROM (
      |  SELECT e.vec_id, round(list_cosine_similarity(e.xq, q.xq), 6) AS sim
      |  FROM q8 e, (SELECT xq FROM q8 WHERE vec_id = 7) q) v
      |WHERE sim >= 0.0 ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------- eval decontamination
  /** Benchmark decontamination: word-8-gram overlap between every corpus
    * document and a benchmark set (doc_id ≡ 0 mod 97 stands in for the
    * held-out eval set) — the check a training pipeline runs so eval
    * questions don't leak into training data. Only docs with ≥1 shared
    * shingle are reported, with the overlap fraction in ppm. The benchmark
    * shingle set is small and broadcasts; at 100 TB the join key would be
    * xxhash64(shingle) so the shuffle carries 8 bytes, not strings (the
    * raw-string join here is what keeps DuckDB bit-parity). */
  val q76Contamination: Q = (spark, dir) => {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.expr.TextExprs.wordShingles(col("text"), 8).as("sh"))
      .localCheckpoint(eager = false) // three consumers below — compute once
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("g")).distinct()
    val docg = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val tot = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
    docg.join(bench, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .join(tot, "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        expr("(n_hits * 1000000) div n_shingles").as("overlap_ppm"))
  }
  val q76Sql: String =
    """WITH t AS (SELECT doc_id,
      |        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      |      FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
      |       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 7),
      |              i -> array_to_string(list_slice(tk, i::INT, (i + 7)::INT), ' '))) END AS sh
      |  FROM t),
      |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
      |docg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |tot AS (SELECT doc_id, len(sh)::BIGINT AS n_shingles FROM sh),
      |hits AS (SELECT d.doc_id, count(*) AS n_hits
      |         FROM docg d JOIN bench b ON d.g = b.g GROUP BY 1)
      |SELECT h.doc_id, h.n_hits, t.n_shingles,
      |  ((h.n_hits * 1000000) // t.n_shingles)::BIGINT AS overlap_ppm
      |FROM hits h JOIN tot t ON t.doc_id = h.doc_id""".stripMargin

  // ------------------------------------------------- full-outer reconcile
  /** Snapshot reconciliation: per-user event counts on even vs odd days,
    * FULL OUTER joined so users present in only one snapshot surface as
    * added/removed — the diff report between two corpus versions (and the
    * one outer-join flavor the reference never uses). Plans as a single
    * shuffled join on the key; no row explosion. */
  val q77FullOuter: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr("(unix_micros(ts) div 86400000000) % 2").as("par"))
    def side(p: Int, out: String) =
      e.filter(col("par") === p).groupBy(col("user_id")).agg(count(lit(1)).as(out))
    side(0, "n_even").join(side(1, "n_odd"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_even"), lit(0L)).as("n_even"),
        coalesce(col("n_odd"), lit(0L)).as("n_odd"),
        when(col("n_even").isNull, "odd_only")
          .when(col("n_odd").isNull, "even_only")
          .otherwise("both").as("presence"))
  }
  val q77Sql: String =
    """WITH e AS (SELECT user_id,
      |        (epoch_us(ts) // 86400000000) % 2 AS par FROM events),
      |a AS (SELECT user_id, count(*) AS n_even FROM e WHERE par = 0 GROUP BY 1),
      |b AS (SELECT user_id, count(*) AS n_odd FROM e WHERE par = 1 GROUP BY 1)
      |SELECT coalesce(a.user_id, b.user_id) AS user_id,
      | coalesce(n_even, 0)::BIGINT AS n_even,
      | coalesce(n_odd, 0)::BIGINT AS n_odd,
      | CASE WHEN a.user_id IS NULL THEN 'odd_only'
      |      WHEN b.user_id IS NULL THEN 'even_only'
      |      ELSE 'both' END AS presence
      |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin

  // ---------------------------------------------- windowed exact moments
  /** Hourly mean/std per event type from integer Σv/Σv² — the BATCH form
    * of [[graft.streaming.Stream.windowedMoments]] (StreamingSpec proves
    * the incremental run is bit-identical; this oracle proves the math).
    * Same no-FP-accumulation design as q63, keyed by event-time window. */
  val q78WindowMoments: Q = (spark, dir) =>
    graft.streaming.Stream.windowedMoments(
      Tables.events(spark, dir), "ts", "event_type", "value")
  val q78Sql: String =
    """WITH v AS (SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
      |        event_type, round(value * 100)::BIGINT AS v_e2 FROM events),
      |a AS (SELECT win_start_us, event_type, count(*) AS n,
      |       sum(v_e2)::BIGINT AS sum_e2, sum(v_e2 * v_e2)::BIGINT AS sumsq_e4
      |      FROM v GROUP BY 1, 2)
      |SELECT win_start_us, event_type, n,
      | floor(sum_e2 * 10000.0 / n + 0.5)::BIGINT AS mean_e6,
      | floor(sqrt((n * sumsq_e4 - sum_e2 * sum_e2)::DOUBLE) / n * 10000.0 + 0.5)::BIGINT AS std_e6
      |FROM a""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q60_cube", q60Cube, q60Sql),
    QueryDef("q61_tfidf", q61Tfidf, q61Sql),
    QueryDef("q62_pack_chunks", q62PackChunks, q62Sql),
    QueryDef("q63_moments", q63Moments, q63Sql),
    QueryDef("q64_latest_state", q64LatestState, q64Sql),
    QueryDef("q65_incremental_dedup", q65IncrementalDedup, q65Sql),
    QueryDef("q66_histogram", q66Histogram, q66Sql),
    QueryDef("q67_star_join", q67StarJoin, q67Sql),
    QueryDef("q68_filter_funnel", q68FilterFunnel, q68Sql),
    QueryDef("q69_balanced_sample", q69BalancedSample, q69Sql),
    QueryDef("q70_resample", q70Resample, q70Sql),
    QueryDef("q71_heavy_hitters", q71HeavyHitters, q71Sql),
    QueryDef("q72_dedup_rate", q72DedupRate, q72Sql),
    QueryDef("q73_simhash_pairs", q73SimhashPairs, q73Sql),
    QueryDef("q74_quantize", q74Quantize, q74Sql),
    QueryDef("q75_quantized_topk", q75QuantizedTopk, q75Sql),
    QueryDef("q76_contamination", q76Contamination, q76Sql),
    QueryDef("q77_full_outer", q77FullOuter, q77Sql),
    QueryDef("q78_window_moments", q78WindowMoments, q78Sql))
}
