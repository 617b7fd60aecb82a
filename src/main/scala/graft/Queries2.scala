package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Chunk, Dedup, Embed, Multimodal, Pq, Rag, Relate, Sessionize, Similarity}
import graft.functions.{HashFns, TextFns}
import graft.streaming.Stream

/** Second query wave: dedup family, vector similarity, text analysis,
  * chunking, sessionization, event windows, RAG composition, multimodal
  * plumbing, clustering. Same determinism rules as [[Queries]].
  *
  * Every query carries a DuckDB oracle — including q31, whose k-means is
  * the integer-exact Lloyd's spelling.
  */
object Queries2 {

  /** DuckDB spelling of [[graft.ops.Dedup.normalized]]. */
  private[graft] val NormSql = """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""

  /** [[ShinglesCte]] parameterized on its source relation (the
    * bm25CtesFromTok pattern) — callers that shingle a restricted CTE
    * (q262's id slice) pass its name instead of post-hoc string surgery
    * on the shared fragment (ADVICE r15: a `.replace` that stops matching
    * silently reads the full corpus). */
  private[graft] def shinglesCteFrom(rel: String): String =
    s"""t AS (SELECT doc_id, string_split($NormSql, ' ') AS tk FROM $rel),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
       |       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 1),
       |              i -> tk[i::INT] || ' ' || tk[(i + 1)::INT])) END AS sh
       |  FROM t)""".stripMargin

  /** DuckDB word-bigram shingles CTE body over `documents` (mirrors
    * TextExprs.wordShingles(text, 2): normalized single-space tokens,
    * adjacent pairs, distinct). */
  private[graft] val ShinglesCte = shinglesCteFrom("documents")

  // ------------------------------------------------------------- U3/dedup
  /** Exact content dedup via md5 of normalized text. */
  val q13DedupExact: Q = (spark, dir) =>
    Dedup.exactGroups(Tables.documents(spark, dir), "doc_id", "text")
  val q13Sql: String =
    s"""SELECT md5($NormSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
       |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- MinHash LSH
  /** MinHash(12) + LSH(4 bands × 3) near-dup pairs, Jaccard-verified at
    * 0.5 over word bigrams. */
  val q14MinHashLsh: Q = (spark, dir) =>
    Dedup.minHashLshPairs(Tables.documents(spark, dir), "doc_id", "text", 12, 4, 0.5)
  /** MinHash(12) banding CTEs over shingle lists `sh(<id>, sh)`: bucketed
    * shingle hashes, signatures `mh`, 4 bands × 3 and the distinct
    * same-band pairs `cand(id_a, id_b)` (q14, q249, q262, q268). */
  private[graft] def minHashCandCtes(id: String): String = {
    val perms = HashFns.minHashCoeffs(12).map { case (a, b) =>
      s"list_min(list_transform(hb, h -> ($a * h + $b) % ${HashFns.MinHashP}))"
    }.mkString(",\n       ")
    s"""hbs AS (SELECT $id, list_transform(sh,
       |          s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % ${HashFns.MinHashP}) AS hb
       |        FROM sh),
       |mh AS (SELECT $id, [$perms] AS sig
       |       FROM hbs),
       |bands AS (SELECT $id, b,
       |            array_to_string(list_slice(sig, b*3 + 1, b*3 + 3), '_') AS bsig
       |          FROM mh, unnest(generate_series(0, 3)) AS u(b)),
       |cand AS (SELECT DISTINCT a.$id AS id_a, c.$id AS id_b
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.bsig = c.bsig
       |           AND a.$id < c.$id)""".stripMargin
  }

  /** The verified tail over `cand`: pairs whose shingle-set Jaccard is at
    * least `cut` (a threshold, or one followed by an ORDER BY). */
  private[graft] def minHashJaccardSelect(id: String, cut: String): String =
    s"""SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |    round(len(list_intersect(x.sh, y.sh))::DOUBLE
       |          / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
       |  FROM cand JOIN sh x ON x.$id = cand.id_a
       |            JOIN sh y ON y.$id = cand.id_b) v
       |WHERE jaccard >= $cut""".stripMargin

  val q14Sql: String =
    s"""WITH $ShinglesCte,
       |${minHashCandCtes("doc_id")}
       |${minHashJaccardSelect("doc_id", "0.5")}""".stripMargin

  // -------------------------------------------------------------- SimHash
  /** SimHash fingerprints + top-8-bit buckets, in the md5-prefix spelling
    * DuckDB can recompute exactly. */
  val q15SimHash: Q = (spark, dir) =>
    Dedup.simHashFingerprintsMd5(Tables.documents(spark, dir), "doc_id", "text")
  /** [[SimHashCte]] at a caller-chosen bucket resolution — the scale
    * knob: bucket occupancy stays constant when `prefixBits` grows with
    * the corpus ([[graft.ops.Dedup.simHashBitsFor]]), exactly like
    * `lshBitsFor` for the RP-LSH family. */
  private[graft] def simHashCteWith(prefixBits: Int): String =
    s"""t AS (SELECT doc_id, string_split($NormSql, ' ') AS tk FROM documents),
       |h AS (SELECT doc_id,
       |        list_transform(tk, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
       |      FROM t),
       |v AS (SELECT doc_id,
       |        CASE WHEN 2 * len(list_filter(hs, x -> (x >> j) & 1 = 1)) >= len(hs)
       |             THEN (1::BIGINT << j) ELSE 0 END AS bitv
       |      FROM h, unnest(generate_series(0, 31)) AS u(j)),
       |fp AS (SELECT doc_id, sum(bitv)::BIGINT AS simhash,
       |         (sum(bitv)::BIGINT >> ${32 - prefixBits})::BIGINT AS bucket
       |       FROM v GROUP BY doc_id)""".stripMargin

  /** DuckDB CTE body computing (doc_id, simhash, bucket) — the md5-prefix
    * SimHash q15 emits; q73 reuses it for hamming-verified pairs. */
  private[graft] val SimHashCte: String = simHashCteWith(8)
  val q15Sql: String =
    s"""WITH $SimHashCte
       |SELECT doc_id, simhash, bucket FROM fp""".stripMargin

  // ----------------------------------------------------- embedding dedup
  /** Exact all-pairs embedding-cosine near-dup — the ORACLE-PARITY VERIFIER
    * for the approximate family, deliberately run over a BOUNDED sample
    * (vec_id < 2000, the id-prefix slice): exact all-pairs is O(n²) and
    * must never see unbounded input, so the cap is part of the operator's
    * contract, like q18's one-row query side. The unbounded scale paths are
    * q17 (label-bucketed), q37 (IVF), q47 (sign-RP LSH) — the verifier
    * exists to hash-check their exact-cosine arithmetic, not to run on a
    * corpus. */
  val q16NearDupEmbed: Q = (spark, dir) =>
    Similarity.nearDupPairsExact(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 2000),
      "vec_id", "embedding", 0.35)
  val q16Sql: String =
    """SELECT id_a, id_b, sim FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE a.vec_id < 2000 AND b.vec_id < 2000) v
      |WHERE sim >= 0.35""".stripMargin

  /** Bucketed (IVF-style) near-dup: pairs only within a coarse label. */
  val q17BucketedNearDup: Q = (spark, dir) =>
    Similarity.bucketedNearDup(Tables.embeddings(spark, dir), "vec_id", "embedding", "label", 0.2)
  val q17Sql: String =
    """SELECT id_a, id_b, sim FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id) v
      |WHERE sim >= 0.2""".stripMargin

  // ------------------------------------------------------------ O10 / W2
  /** Single-query cosine top-k with threshold (the Qdrant search shape). */
  val q18CosineTopK: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val query = e.filter(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    Similarity.cosineTopK(e, "vec_id", "embedding", query, "qvec", 10, 0.0)
  }
  val q18Sql: String =
    """SELECT vec_id, sim FROM (
      |  SELECT e.vec_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 7) q) v
      |WHERE sim >= 0.0 ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Multi-query brute-force kNN join (k=5, 5 query vectors). */
  val q19KnnJoin: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    Similarity.knnJoin(e, "vec_id", "embedding", queries, "q_id", "qvec", 5)
  }
  /** Exact cosine kNN rows `(q_id, vec_id, sim, <rk>)` of every vector
    * matching `cond` (as `q`) against all others (q19, q131, q132). */
  private[graft] def knnRankedSql(rk: String, cond: String): String =
    s"""  SELECT q_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS $rk
       |  FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |      round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
       |    FROM embeddings e JOIN embeddings q
       |      ON $cond AND e.vec_id != q.vec_id) p) r""".stripMargin

  val q19Sql: String =
    s"""SELECT q_id, vec_id, sim, rank FROM (
      |${knnRankedSql("rank", "q.vec_id < 5")}
      |WHERE rank <= 5""".stripMargin

  // --------------------------------------------------------- text stats
  /** Token counting + punctuation ratio (quality signals). */
  val q20TokenStats: Q = (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_tokens"),
      TextFns.bpeTokenCount(col("text")).as("n_bpe"),
      round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"),
      col("n_chars"))
  val q20Sql: String =
    """SELECT doc_id,
      | CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
      | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe,
      | round(CASE WHEN length(text) = 0 THEN 0.0
      |   ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE
      |        / length(text)::DOUBLE END, 6) AS punct_ratio,
      | n_chars
      |FROM documents""".stripMargin

  /** Composite quality score (length / punctuation / stopword blend),
    * emitted as integer micro-units so both engines floor the identical
    * IEEE double — no round-half-way ambiguity. */
  val q21Quality: Q = (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFns.qualityScoreMicro(col("text")).as("quality_e6"))
  /** DuckDB spelling of [[TextFns.qualityScoreMicro]] over a `text`
    * column — shared by q21 and the q89 training-mix capstone. */
  private[graft] val QualitySqlExpr: String = {
    val stops = TextFns.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""floor((
       |  least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
       |  + greatest(1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::DOUBLE
       |           / length(text)::DOUBLE END) * 5.0, 0.0) * 0.3
       |  + least((CASE WHEN length(trim(text)) = 0 THEN 0.0
       |      ELSE len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |             t -> list_contains([$stops], t)))::DOUBLE
       |           / len(string_split_regex(lower(trim(text)), '\\s+'))::DOUBLE END) * 5.0, 1.0) * 0.3
       |  ) * 1000000.0 + 0.5)::BIGINT""".stripMargin
  }
  val q21Sql: String =
    s"""SELECT doc_id, $QualitySqlExpr AS quality_e6
       |FROM documents""".stripMargin

  /** Heuristic language ID vs the fixture's lang column. Spelled as
    * explode → conditional-sum hash aggregate rather than per-row
    * `filter()` HOFs: higher-order functions are CodegenFallback
    * (interpreted), while explode + sum(when) stays entirely inside
    * whole-stage codegen — and the same shape scales out (map-side partial
    * aggregation, shuffle keyed on doc_id). */
  val q22LangGuess: Q = (spark, dir) => {
    // marker-hit counting is doc-local: the fused TokenSetHits kernel
    // counts every language's markers in one tokenization pass per row,
    // so the explode + per-doc aggregation exchange vanish entirely
    // (kernel ≡ aggregate identity pinned in TextExprSpec)
    val markers = TextFns.LangMarkers
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        // coalesce: the null-safe kernel returns a NULL hits array on NULL
        // text, but the aggregate spelling (and the oracle) count zero hits
        // and guess 'und' — keep the fused form identical on general input
        // (the fixture pins no NULL text; this is for the operator surface)
        graft.expr.TextExprs.tokenSetHits(coalesce(col("text"), lit("")),
          markers.map(_._2)).as("__h"))
      .select(col("doc_id"), col("lang"),
        TextFns.langPick(markers.zipWithIndex.map { case ((l, _), i) =>
          l -> col("__h").getItem(i) }).as("lang_guess"))
  }
  val q22Sql: String = {
    val hitCols = TextFns.LangMarkers.map { case (l, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(tks, t -> list_contains([$lst], t))) AS h_$l"
    }.mkString(",\n  ")
    val branches = TextFns.LangMarkers.map { case (l, _) =>
      val geAll = TextFns.LangMarkers.collect { case (o, _) if o != l => s"h_$l >= h_$o" }
        .mkString(" AND ")
      s"WHEN $geAll AND h_$l > 0 THEN '$l'"
    }.mkString("\n  ")
    s"""WITH t AS (SELECT doc_id, lang,
       |  string_split_regex(lower(trim(text)), '\\s+') AS tks FROM documents),
       |h AS (SELECT doc_id, lang,
       |  $hitCols
       |  FROM t)
       |SELECT doc_id, lang, CASE
       |  $branches
       |  ELSE 'und' END AS lang_guess
       |FROM h""".stripMargin
  }

  /** Document fingerprints: md5 hex + 8-hex-digit long form. */
  val q23Fingerprint: Q = (spark, dir) => {
    val norm = Dedup.normalized(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      HashFns.md5Hex(norm).as("fp"),
      HashFns.md5Long(norm, 8).as("fp_long"))
  }
  val q23Sql: String =
    s"""SELECT doc_id, md5($NormSql) AS fp,
       | ('0x' || substr(md5($NormSql), 1, 8))::BIGINT AS fp_long
       |FROM documents""".stripMargin

  // ------------------------------------------------------------ chunking
  /** Fixed-size overlapping char chunks (size 200, step 150). */
  val q24Chunks: Q = (spark, dir) =>
    Chunk.charChunks(Tables.documents(spark, dir), "doc_id", "text", 200, 150)
  val q24Sql: String =
    """SELECT doc_id, ((i - 1) // 150)::BIGINT AS chunk_id, i::BIGINT AS chunk_start,
      | substr(text, i::INT, 200) AS chunk
      |FROM documents, unnest(generate_series(1, greatest(length(text), 1), 150)) AS u(i)""".stripMargin

  // ------------------------------------------------------------ J3 / O12
  /** Co-cluster neighbor lists over the embeddings labels (cap 20). */
  val q25ClusterNeighbors: Q = (spark, dir) =>
    Relate.clusterNeighbors(Tables.embeddings(spark, dir).select("vec_id", "label"),
        "vec_id", "label", "neighbors", 20)
      .select(
        col("vec_id"), col("label"),
        array_join(transform(col("neighbors"), x => x.cast("string")), ",").as("neighbors"),
        size(col("neighbors")).cast("long").as("n_neighbors"))
  val q25Sql: String =
    """WITH m AS (SELECT label, list_sort(list(vec_id)) AS mem
      |           FROM embeddings GROUP BY label)
      |SELECT e.vec_id, e.label,
      | CASE WHEN e.label = -1 THEN ''
      |      ELSE coalesce(array_to_string(list_slice(list_filter(m.mem, x -> x != e.vec_id), 1, 20), ','), '') END AS neighbors,
      | CASE WHEN e.label = -1 THEN 0
      |      ELSE len(list_slice(list_filter(m.mem, x -> x != e.vec_id), 1, 20)) END::BIGINT AS n_neighbors
      |FROM embeddings e JOIN m USING (label)""".stripMargin

  // ------------------------------------------------------------- O8 embed
  /** Deterministic hashing embedder, 16-dim, emitted as fixed-format CSV. */
  val q26HashingEmbed: Q = (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      array_join(transform(Embed.hashingEmbed(col("text"), 16),
        x => format_number(x, 6)), ",").as("embedding_csv"))
  val q26Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split($NormSql, ' ') AS tk FROM documents),
       |b AS (SELECT doc_id,
       |  list_transform(tk, s -> ('0x' || substr(md5(s), 1, 4))::BIGINT % 16) AS bk FROM t),
       |c AS (SELECT doc_id, list_transform(generate_series(0, 15),
       |  i -> len(list_filter(bk, x -> x = i))::DOUBLE) AS cnt FROM b),
       |n AS (SELECT doc_id, cnt,
       |  sqrt(list_sum(list_transform(cnt, x -> x * x))) AS nrm FROM c)
       |SELECT doc_id, array_to_string(list_transform(cnt,
       |  x -> printf('%.6f', round(CASE WHEN nrm = 0 THEN x ELSE x / nrm END, 6))), ',')
       |  AS embedding_csv
       |FROM n""".stripMargin

  // ------------------------------------------------------ events windows
  /** Tumbling 1-hour per-type event aggregation (streaming-shaped; the
    * same transform runs under readStream with the watermark active). */
  val q27EventsWindow: Q = (spark, dir) =>
    Stream.windowedTypeCounts(Tables.events(spark, dir), "ts", "event_type", "value")
  val q27Sql: String =
    """SELECT epoch_us(date_trunc('hour', ts))::BIGINT AS win_start_us, event_type,
      | count(*) AS n_events, sum(round(value * 10000)::BIGINT)::BIGINT AS value_e4
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization (30-min idle timeout) + per-session stats. */
  val q28Sessionize: Q = (spark, dir) =>
    Sessionize.sessionStats(Tables.events(spark, dir), "user_id", "ts", "event_id", "value", 30)
  /** The 30-minute gap flag `nw` per event as CTE `s` (`cols` carried). */
  private[graft] def sessionGapCte(cols: String): String =
    s"""s AS (
       |  SELECT $cols,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
       |         THEN 1 ELSE 0 END AS nw
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  /** The 0-based `session_idx` per event of `s` as CTE `s2` (q28, q46). */
  private[graft] def sessionIdxCte(cols: String): String =
    s"""s2 AS (
       |  SELECT $cols,
       |    (sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS session_idx
       |  FROM s)""".stripMargin

  val q28Sql: String =
    s"""WITH ${sessionGapCte("user_id, ts, event_id, value")},
      |${sessionIdxCte("user_id, ts, value")}
      |SELECT user_id, session_idx, count(*) AS n_events,
      | min(epoch_us(ts))::BIGINT AS start_us, max(epoch_us(ts))::BIGINT AS end_us,
      | sum(round(value * 10000)::BIGINT)::BIGINT AS value_e4
      |FROM s2 GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ O13 RAG
  /** Full RAG context retrieval: top-1 vector hit (threshold 0.4) → ≤20
    * co-cluster neighbors → context documents. */
  val q29RagContext: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val query = e.filter(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    Rag.contextDocs(e, "vec_id", "embedding", "label",
        Tables.documents(spark, dir), "doc_id", query, 0.4, 20)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }
  /** q29/q42's context ids `ids`: the top-1 hit for vec 7 at cosine
    * 0.4 plus up to 20 of its cluster neighbours. */
  private[graft] def ragContextIdsCtes: String =
    """q AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
      |sc AS (SELECT e.vec_id, e.label,
      |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings e, q),
      |top1 AS (SELECT vec_id, label FROM sc WHERE sim >= 0.4
      |         ORDER BY sim DESC, vec_id LIMIT 1),
      |nb AS (SELECT e.vec_id FROM embeddings e JOIN top1 t
      |       ON e.label = t.label AND e.vec_id != t.vec_id
      |       ORDER BY e.vec_id LIMIT 20),
      |ids AS (SELECT vec_id FROM top1 UNION SELECT vec_id FROM nb)""".stripMargin

  val q29Sql: String =
    s"""WITH $ragContextIdsCtes
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN ids ON d.doc_id = ids.vec_id""".stripMargin

  // --------------------------------------------------------- multimodal
  /** Binary-asset decode plumbing (stub decoder, real mapPartitions). */
  val q30Multimodal: Q = (spark, dir) =>
    Multimodal.decodeFeatures(
        Multimodal.fromText(Tables.documents(spark, dir), "doc_id", "text", "image"))
      .select(col("asset_id"), col("kind"), col("n_bytes"), col("fp"))
  val q30Sql: String =
    """SELECT doc_id AS asset_id, 'image' AS kind,
      | octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS fp
      |FROM documents""".stripMargin

  // --------------------------------------------------------- O11 KMeans
  /** Seeded k-means labels as an engine-exact integer Lloyd's iteration
    * (k = 10, 4 assignment rounds, clusters initialized from the 10
    * vec_ids first in md5-hash order — a portable hash scatter both
    * engines spell identically): [[graft.ops.Pq.train]] over one
    * subspace spanning the whole vector,
    * whose code is the cluster. Unlike an MLlib estimator, this spelling
    * is one a SQL oracle can mirror round for round, which gives the
    * clustering family full hash coverage instead of a rows-only check. */
  val q31KMeans: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    val (_, codes) = Pq.train(emb, "vec_id", "embedding", Int.MaxValue,
      k = 10, rounds = 4)
    codes.select(col("vec_id"), col("code").as("cluster"), col("dist2"))
      .orderBy("vec_id")
  }

  val q31Sql: String = {
    val k = 10; val rounds = 4
    // unrolled Lloyd's: one (assign, recenter) CTE pair per round, final
    // assignment against the last centroids — byte-exact with the Spark
    // plan because every quantity is integer arithmetic
    def assignSql(cents: String): String =
      s"""SELECT id, j, dist2 FROM (
         |    SELECT id, j, dist2,
         |      row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rk
         |    FROM (SELECT p.id, c.j,
         |            sum((p.q - c.c) * (p.q - c.c))::BIGINT AS dist2
         |          FROM pts p JOIN $cents c USING (d) GROUP BY p.id, c.j))
         |  WHERE rk = 1""".stripMargin
    val roundsSql = (1 until rounds).map { r =>
      s"""a$r AS (${assignSql(s"c${r - 1}")}),
         |c$r AS (SELECT j, d, ((s - ((s % n) + n) % n) // n)::BIGINT AS c
         |  FROM (SELECT a.j, p.d, sum(p.q)::BIGINT AS s, count(*)::BIGINT AS n
         |        FROM pts p JOIN a$r a USING (id) GROUP BY a.j, p.d)),""".stripMargin
    }.mkString("\n")
    s"""WITH pts AS (SELECT vec_id AS id, d,
       |    floor(embedding[d]::DOUBLE * 1000 + 0.5)::BIGINT AS q
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(d)),
       |c0 AS (SELECT s.j, p.d, p.q AS c
       |  FROM (SELECT id,
       |          (row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1)::BIGINT AS j
       |        FROM (SELECT vec_id AS id FROM embeddings
       |              ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k)) s
       |  JOIN pts p USING (id)),
       |$roundsSql
       |fin AS (${assignSql(s"c${rounds - 1}")})
       |SELECT id AS vec_id, j AS cluster, dist2 FROM fin ORDER BY vec_id""".stripMargin
  }

  /** Per-label centroids (IVF training step), fixed-format CSV. */
  val q32Centroids: Q = (spark, dir) =>
    Similarity.centroids(Tables.embeddings(spark, dir), "label", "embedding")
      .select(col("label"),
        array_join(transform(col("centroid"), x => format_number(x, 6)), ",").as("centroid_csv"))
  val q32Sql: String = CentroidSqlCte +
    """
      |SELECT label,
      | string_agg(printf('%.6f', m), ',' ORDER BY pos) AS centroid_csv
      |FROM a GROUP BY label""".stripMargin

  /** Shared centroid CTE: mean per (label, pos) as a left-to-right fold
    * over the value-sorted list — bitwise identical to Similarity.centroids
    * (plain avg would be FP-summation-order dependent). */
  private[graft] lazy val CentroidSqlCte: String =
    """WITH x AS (SELECT label, i AS pos, embedding[i]::DOUBLE AS v
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
      |a AS (SELECT label, pos,
      |  list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(v))),
      |              (acc, x) -> acc + x) / count(*) AS m
      |  FROM x GROUP BY 1, 2)""".stripMargin

  // ------------------------------------------------------- registry ----
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q13_dedup_exact", q13DedupExact, q13Sql),
    QueryDef("q14_minhash_lsh", q14MinHashLsh, q14Sql),
    QueryDef("q15_simhash", q15SimHash, q15Sql),
    QueryDef("q16_near_dup_embed", q16NearDupEmbed, q16Sql),
    QueryDef("q17_bucketed_near_dup", q17BucketedNearDup, q17Sql),
    QueryDef("q18_cosine_topk", q18CosineTopK, q18Sql),
    QueryDef("q19_knn_join", q19KnnJoin, q19Sql),
    QueryDef("q20_token_stats", q20TokenStats, q20Sql),
    QueryDef("q21_quality", q21Quality, q21Sql),
    QueryDef("q22_lang_guess", q22LangGuess, q22Sql),
    QueryDef("q23_fingerprint", q23Fingerprint, q23Sql),
    QueryDef("q24_chunks", q24Chunks, q24Sql),
    QueryDef("q25_cluster_neighbors", q25ClusterNeighbors, q25Sql),
    QueryDef("q26_hashing_embed", q26HashingEmbed, q26Sql),
    QueryDef("q27_events_window", q27EventsWindow, q27Sql),
    QueryDef("q28_sessionize", q28Sessionize, q28Sql),
    QueryDef("q29_rag_context", q29RagContext, q29Sql),
    QueryDef("q30_multimodal", q30Multimodal, q30Sql),
    QueryDef("q31_kmeans", q31KMeans, q31Sql),
    QueryDef("q32_centroids", q32Centroids, q32Sql))
}
