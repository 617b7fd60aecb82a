package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{ChildClient, PageClient, PagedConfig, PagedSource, Tables}

/** Sixth query wave: the ingestion-connector family (SURVEY §2.1 S4–S7 +
  * W3) exercised end-to-end against the fixtures. The remote APIs are not
  * reachable here, so a deterministic "fixture API" serves pages from the
  * customer table and a synthetic child generator plays the per-question
  * answers endpoint — the connector code (paging, retry/backoff, dedup,
  * viability, declared-schema landing, distributed child expansion) is the
  * real production path; only the transport is swapped.
  */
object Queries6 {

  /** Unified landing schema for ingested "posts" (SURVEY §1.4, P12
    * projection-with-defaults at ingest). */
  private val postSchema = StructType(Seq(
    StructField("platform", StringType),
    StructField("community", StringType),
    StructField("id_post", StringType),
    StructField("title", StringType),
    StructField("score_e2", LongType),
    StructField("nation", LongType)))

  /** Fixture-backed paged listing API (S4/S6 stand-in). Pages the customer
    * snapshot in two API-side orders (W3): `top` = ascending custkey,
    * `new` = descending. The snapshot is the stand-in for the remote
    * service's data — materializing it driver-side IS the API download,
    * bounded like the reference's 10k-post envelope (SURVEY §6). */
  private final class FixtureListing(snapshot: IndexedSeq[Row], pageSize: Int)
      extends PageClient[Row] {
    def fetchPage(method: String, page: Int): Seq[Row] = {
      val ordered = method match {
        case "new" => snapshot.reverse
        case _     => snapshot
      }
      ordered.slice(page * pageSize, (page + 1) * pageSize)
    }
  }

  /** S4+S6+U3+P6+P12 through the connector: page the customer listing via
    * two overlapping sort methods, retry-wrapped (no failures injected
    * here — backoff semantics are asserted in ConnectorSpec), first-wins
    * dedup per custkey, viability predicate (positive balance + non-empty
    * name, the stand-in for the reference's deleted-title/min-comments
    * gates — REDDIT-Ingestion.py:116-121), landed under a DECLARED unified
    * schema. Because both methods serve the same snapshot, every key is
    * seen twice — the dict-insert dedup is exercised on all rows. */
  val q79PagedIngest: Q = (spark, dir) => {
    val snapshot = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")
      .limit(50000) // hard bound on the driver-side "API download"
      .collect().toIndexedSeq
    val cfg = PagedConfig(
      sortingMethods = Seq("top", "new"),
      pageSize = 512, limit = Int.MaxValue, requestDelayMillis = 0L)
    val client = new FixtureListing(snapshot, cfg.pageSize)
    val kept = PagedSource.ingestItems[Row, Long](
      client, cfg,
      key = _.getLong(0),
      viable = r => !r.isNullAt(3) && r.getDouble(3) > 0 &&
        !r.isNullAt(1) && r.getString(1).nonEmpty,
      sleep = _ => ())
    val rows = kept.map { r =>
      Row("fixture", r.getString(4), r.getLong(0).toString, r.getString(1),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong, r.getInt(2).toLong)
    }
    PagedSource.toDF(spark, rows, postSchema)
  }
  val q79Sql: String =
    """SELECT 'fixture' AS platform, c_mktsegment AS community,
      |  c_custkey::VARCHAR AS id_post, c_name AS title,
      |  floor(c_acctbal * 100 + 0.5)::BIGINT AS score_e2,
      |  c_nationkey::BIGINT AS nation
      |FROM customer
      |WHERE c_acctbal > 0 AND c_name IS NOT NULL AND c_name != ''""".stripMargin

  /** Flattened child schema (S7: the nested `owner` struct lands as
    * owner_reputation / owner_display_name — STACK-Ingestion.py:97-98). */
  private val childSchema = StructType(Seq(
    StructField("id_comment", LongType),
    StructField("parent_post_id", LongType),
    StructField("score", LongType),
    StructField("body", StringType),
    StructField("owner_reputation", LongType),
    StructField("owner_display_name", StringType)))

  /** Synthetic per-parent answers endpoint (S5/S7 stand-in): children are
    * pure arithmetic of the parent key, so the oracle reproduces them with
    * generate_series. Every (deleted-body % 7) third-ish child is
    * "[deleted]" to exercise the keep-filter; raw counts run up to 149 so
    * the 100-cap binds. */
  private final class SyntheticAnswers extends ChildClient {
    def fetchChildren(parent: Row): Seq[Row] = {
      val k = parent.getLong(0)
      val nRaw = (k % 150).toInt
      (0 until nRaw).map { i =>
        val deleted = (k + i) % 7 == 3
        Row(k * 1000 + i, k, (k * 31 + i * 7) % 1000,
          if (deleted) "[deleted]" else s"answer $i to $k",
          (k * 13 + i) % 5000, "user_" + (k + i) % 50)
      }
    }
  }

  /** S5/S7 through the DISTRIBUTED expansion path: a deterministic parent
    * sample (orderkey ≡ 0 mod 997 — pushed to the parquet scan) fans out
    * via mapPartitions with one client per partition; the first 100 RAW
    * children per parent are taken (cap counts deleted ones too, matching
    * REDDIT-Ingestion.py:66-69), then deleted bodies are dropped (P3 at
    * ingest). This is the side of ingestion that must scale — listing is
    * 10k rows, children are 100× that — and it shuffles nothing: the
    * expansion is map-side, parallelism = parent partitions. */
  val q80SubfetchExpand: Q = (spark, dir) => {
    val parents = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 997 === 0)
      .select("o_orderkey")
      .repartition(8)
    val cfg = PagedConfig(maxChildrenPerParent = 100)
    PagedSource.expandChildren(
      parents, () => new SyntheticAnswers,
      keep = r => { val b = r.getString(3); b != null && b.nonEmpty && b != "[deleted]" },
      childSchema, cfg)
  }
  val q80Sql: String =
    """SELECT o.o_orderkey * 1000 + t.i AS id_comment,
      |  o.o_orderkey AS parent_post_id,
      |  ((o.o_orderkey * 31 + t.i * 7) % 1000)::BIGINT AS score,
      |  'answer ' || t.i || ' to ' || o.o_orderkey AS body,
      |  ((o.o_orderkey * 13 + t.i) % 5000)::BIGINT AS owner_reputation,
      |  'user_' || ((o.o_orderkey + t.i) % 50) AS owner_display_name
      |FROM orders o CROSS JOIN generate_series(0, 99) AS t(i)
      |WHERE o.o_orderkey % 997 = 0
      |  AND t.i < least(o.o_orderkey % 150, 100)
      |  AND (o.o_orderkey + t.i) % 7 != 3""".stripMargin

  /** O11 with noise semantics (reference HDBSCAN min_cluster_size=5,
    * noise=−1 — PLATFORM-contextual-Chunking.py:83-114): sign-RP-LSH
    * threshold graph → connected components → small components labeled
    * noise, then the O12 co-cluster neighbor column over the REAL labels
    * (noise rows get an empty neighbor list). This is the clustering
    * family's first hash-checked row — every step is exact arithmetic,
    * mirrored in the oracle by the q52 recursive-CTE closure. */
  val q81DensityClusters: Q = (spark, dir) => {
    import graft.ops.{Embed, Relate}
    val clustered = Embed.densityClusters(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      Queries3.rpPlanes, Queries3.rpBits, threshold = 0.35, minClusterSize = 5)
    Relate.clusterNeighbors(clustered, "vec_id", "cluster", "neighbors", 10)
      .select(col("vec_id"), col("cluster"), col("is_noise"),
        array_join(transform(col("neighbors"), x => x.cast("string")), ",").as("neighbors"),
        size(col("neighbors")).cast("long").as("n_neighbors"))
  }
  /** Connected-components closure + min-size noise labeling over a
    * `pairs(id_a, id_b, …)` CTE and a seed relation, producing
    * `lab(vec_id, cluster, is_noise)` — the DuckDB mirror of
    * [[graft.ops.Components.dedupClusters]] + the noise rule of
    * [[graft.ops.Embed.densityClusters]]. ONE spelling shared by the q81
    * and q83 oracles so the noise rule can never silently diverge. */
  private def ccLabCte(seedRel: String, minClusterSize: Int): String =
    s"""${Queries4.componentCtes(seedRel)},
       |sized AS (SELECT vec_id, component,
       |            count(*) OVER (PARTITION BY component) AS comp_size FROM comp),
       |lab AS (SELECT vec_id,
       |          (CASE WHEN comp_size < $minClusterSize THEN -1 ELSE component END)::BIGINT AS cluster,
       |          comp_size < $minClusterSize AS is_noise FROM sized)""".stripMargin

  val q81Sql: String =
    s"""WITH RECURSIVE ${Queries3.rpPairsCteBody},
       |${ccLabCte("embeddings", 5)},
       |m AS (SELECT cluster, list_sort(list(vec_id)) AS mem FROM lab GROUP BY cluster)
       |SELECT l.vec_id, l.cluster, l.is_noise,
       | CASE WHEN l.cluster = -1 THEN ''
       |      ELSE coalesce(array_to_string(list_slice(list_filter(m.mem, x -> x != l.vec_id), 1, 10), ','), '') END AS neighbors,
       | CASE WHEN l.cluster = -1 THEN 0
       |      ELSE len(list_slice(list_filter(m.mem, x -> x != l.vec_id), 1, 10)) END::BIGINT AS n_neighbors
       |FROM lab l JOIN m USING (cluster)""".stripMargin

  /** Serving-loop session prompt (app.py:77-91,150-159): a 4-turn dialogue
    * history read from a table, folded in turn order into the reference's
    * exact prompt scaffold. Deterministic fixture: the history rows are
    * documents 0–3. */
  val q82SessionPrompt: Q = (spark, dir) => {
    import graft.ops.Rag
    val history = Tables.documents(spark, dir)
      .filter(col("doc_id") <= 3)
      .select(col("doc_id").as("turn"),
        concat(lit("What is in document "), col("doc_id"), lit("?")).as("question"),
        substring(col("text"), 1, 60).as("response"))
    Rag.sessionPrompt(history, "turn", "question", "response",
      comments = "- comment A\n- comment B",
      question = "And what changed since?")
  }
  val q82Sql: String =
    """SELECT 'You are a helpful assistant. You must base your answers **only** on the comments below.' || chr(10) ||
      | 'Here are some relevant comments:' || chr(10) ||
      | '- comment A' || chr(10) || '- comment B' || chr(10) || chr(10) ||
      | coalesce(string_agg(chr(10) || 'User: What is in document ' || doc_id || '?' ||
      |            chr(10) || 'Assistant: ' || substr(text, 1, 60), '' ORDER BY doc_id), '') ||
      | chr(10) || 'User: And what changed since?' || chr(10) || 'Assistant:' AS prompt
      |FROM documents WHERE doc_id <= 3""".stripMargin

  /** The CAPSTONE: the reference's whole 7-stage flow as ONE registered
    * query / ONE Catalyst plan (SURVEY §5.2.4 as an oracle row, not just
    * PipelineSpec). Synthetic raw platform tables are derived
    * deterministically from the fixtures (documents → posts, orders →
    * comments, both with deleted/bot markers so every cleaning predicate
    * binds), then:
    *
    *   normalize (P1/P12) → clean posts (P3 + dedup U3) → clean comments
    *   (P3/P4 + HTML strip O9 + top-20 W1) → enrich (A1+J1) → union-merge
    *   (U1/U3) → density clustering over the SURVIVING posts' embeddings
    *   (O11: rp-LSH + components, the q81 kernel) → RAG context retrieval
    *   (O10 top-1 + J3 co-cluster expansion with the noise guard + J2
    *   semi-join) — reference: main-spark.py:4-10 end to end.
    *
    * Clustering runs on the pipeline OUTPUT (as the reference clusters the
    * merged table, PLATFORM-contextual-Chunking.py:22-34), so the corpus
    * the RAG search sees is exactly the merged survivors. Everything is
    * exact arithmetic → the full flow hash-checks against one DuckDB query.
    */
  val q83PipelineGolden: Q = (spark, dir) =>
    q83PipelineWith(spark, dir, Queries3.rpPlanes, Queries3.rpBits)

  /** q83's exact plan with the LSH resolution (planes, bits per table) as
    * parameters. The registered query binds the corpus-sized defaults
    * above; a deployment re-derives bits from corpus size with
    * [[graft.ops.Similarity.lshBitsFor]] (constant bucket occupancy — the
    * knob that keeps candidate generation linear in data; see the 64×
    * audit in BASELINE.md and `tools/TimeScaled`). */
  def q83PipelineWith(spark: SparkSession, dir: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    import graft.ops.{Embed, Pipeline, Rag}
    val d = Tables.documents(spark, dir)
    val o = Tables.orders(spark, dir)

    // -- synthetic raw Reddit side: even doc_ids; the listing is unioned
    //    with itself to exercise id-dedup exactly like the two-sort-method
    //    ingest overlap (q79) does
    val redditRaw0 = d.filter(col("doc_id") % 2 === 0).select(
      col("doc_id").cast("string").as("id"),
      col("lang").as("subreddit"),
      when(col("doc_id") % 17 === 0, lit("[deleted]"))
        .otherwise(concat(lit("Doc "), col("doc_id"))).as("title"),
      col("text").as("selftext"),
      col("n_chars").as("score"),
      (col("doc_id") % 5).cast("long").as("num_comments"))
    val redditRaw = redditRaw0.union(redditRaw0)
    val redditPosts = Pipeline.normalizePosts("reddit", Map(
      "community" -> col("subreddit"), "id_post" -> col("id"),
      "title" -> col("title"), "body" -> col("selftext"),
      "score" -> col("score"), "num_comments" -> col("num_comments")))(redditRaw)

    val redditCommsRaw = o.filter(col("o_orderkey") % 3 === 0).select(
      concat(lit("c"), col("o_orderkey")).as("cid"),
      when(col("o_orderkey") % 13 === 0, lit("[deleted]"))
        .when(col("o_orderkey") % 11 === 0, lit("I am a bot, beep boop"))
        .otherwise(concat(lit("comment "), col("o_orderkey"))).as("text"),
      (col("o_orderkey") % 100).cast("long").as("cscore"),
      ((col("o_orderkey") % 250) * 2).cast("string").as("parent"))
    val redditComments = Pipeline.normalizeComments(Map(
      "id_comment" -> col("cid"), "body" -> col("text"), "score" -> col("cscore"),
      "parent_post_id" -> col("parent")))(redditCommsRaw)

    // -- synthetic raw Stack side: odd doc_ids, HTML-wrapped bodies so the
    //    strip stage binds
    val stackRaw = d.filter(col("doc_id") % 2 === 1).select(
      col("doc_id").cast("long").as("question_id"),
      col("source").as("site"),
      when(col("doc_id") % 19 === 0, lit("[removed]"))
        .otherwise(concat(lit("Q "), col("doc_id"))).as("title"),
      concat(lit("<p>"), col("text"), lit("</p>")).as("qbody"),
      col("n_chars").as("score"),
      (col("doc_id") % 7).cast("long").as("answer_count"))
    val stackPosts = Pipeline.normalizePosts("stack", Map(
      "community" -> col("site"), "id_post" -> col("question_id"),
      "title" -> col("title"), "body" -> col("qbody"),
      "score" -> col("score"), "num_comments" -> col("answer_count")))(stackRaw)

    val stackCommsRaw = o.filter(col("o_orderkey") % 3 === 1).select(
      col("o_orderkey").as("answer_id"),
      when(col("o_orderkey") % 13 === 0, lit("[removed]"))
        .when(col("o_orderkey") % 11 === 0,
          lit("Please contact the moderators of this community"))
        .otherwise(concat(lit("<b>answer "), col("o_orderkey"),
          lit("</b> &amp; details"))).as("abody"),
      (col("o_orderkey") % 100).cast("long").as("ascore"),
      ((col("o_orderkey") % 250) * 2 + 1).cast("string").as("parent"))
    val stackComments = Pipeline.normalizeComments(Map(
      "id_comment" -> col("answer_id"), "body" -> col("abody"), "score" -> col("ascore"),
      "parent_post_id" -> col("parent")))(stackCommsRaw)

    // -- stages 2–4: clean → top-20 → enrich → merge (one plan)
    val merged = Pipeline.run(redditPosts, redditComments, stackPosts, stackComments,
      minComments = 2, keepPerPost = 20)
    // The reference MATERIALIZES the merged table and the vector index
    // before serving (MinIO CSV at PLATFORM-Merge.py:60, Qdrant collection
    // at PLATFORM-contextual-Chunking.py:132-174); localCheckpoint is the
    // in-session analog. Without it the serving stage's self-references
    // (scored + hit + neighbor sides) would re-run the whole upstream
    // pipeline and clustering once per reference. LAZY (eager = false) so
    // that merely CONSTRUCTING this query — explain(), PlanAudit — runs no
    // jobs; the checkpoint caches on the first real action and every
    // self-reference thereafter reads the materialized partitions.
    val docs = merged.withColumn("vid", col("id_post").cast("long"))
      .localCheckpoint(eager = false)

    // -- stage 5: density clustering over the SURVIVORS' embeddings
    val emb = Tables.embeddings(spark, dir)
    val embKeep = emb.join(docs.select(col("vid")),
      col("vec_id") === col("vid"), "left_semi")
    // threshold 0.3: on this corpus 0.35 leaves only sub-min components
    // (all noise) while 0.25 percolates into one giant component; 0.3 gives
    // the HDBSCAN-like regime the reference's clustering produces — a
    // handful of real clusters over a noise majority
    val clustered = Embed.densityClusters(embKeep, "vec_id", "embedding",
      planes, bits, threshold = 0.3, minClusterSize = 5)
    val index = embKeep.join(clustered.select(col("vec_id"), col("cluster")), "vec_id")
      .localCheckpoint(eager = false)

    // -- stages 6–7: top-1 vector search + noise-guarded cluster expansion
    //    + context fetch, over the pipeline output. Query vector 26 is a
    //    post the cleaning stage REMOVED (26 % 5 < 2), i.e. a genuinely
    //    external question whose nearest surviving post sits in a real
    //    cluster — both the hit and the expansion paths execute.
    val query = emb.filter(col("vec_id") === 26L).select(col("embedding").as("qvec"))
    Rag.contextDocs(index, "vec_id", "embedding", "cluster",
        docs, "vid", query, threshold = 0.2, cap = 20, noiseLabel = Some(-1L))
      .select(col("id_post"), col("platform"), col("community"), col("title"),
        size(col("comment_ids")).cast("long").as("n_comments"),
        array_join(col("comment_ids"), ",").as("comment_csv"))
  }
  val q83Sql: String = q83SqlWith(Queries3.rpPlanes, Queries3.rpBits)

  /** q83's oracle SQL at an arbitrary LSH resolution — the mirror of
    * [[q83PipelineWith]] for scaled-fixture correctness runs
    * (`tools/VerifyScaled`). */
  def q83SqlWith(planes: Array[Array[Double]], bits: Int): String =
    s"""WITH RECURSIVE
       |rposts AS (
       |  SELECT 'reddit' AS platform, lang AS community, doc_id::VARCHAR AS id_post,
       |    CASE WHEN doc_id % 17 = 0 THEN '[deleted]' ELSE 'Doc ' || doc_id END AS title,
       |    doc_id % 5 AS num_comments, doc_id AS vid
       |  FROM documents WHERE doc_id % 2 = 0),
       |sposts AS (
       |  SELECT 'stack' AS platform, source AS community, doc_id::VARCHAR AS id_post,
       |    CASE WHEN doc_id % 19 = 0 THEN '[removed]' ELSE 'Q ' || doc_id END AS title,
       |    doc_id % 7 AS num_comments, doc_id AS vid
       |  FROM documents WHERE doc_id % 2 = 1),
       |allkeep AS (
       |  SELECT * FROM rposts
       |  WHERE title NOT IN ('[deleted]', '[removed]')
       |    AND length(trim(title)) > 0 AND num_comments >= 2
       |  UNION ALL
       |  SELECT * FROM sposts
       |  WHERE title NOT IN ('[deleted]', '[removed]')
       |    AND length(trim(title)) > 0 AND num_comments >= 2),
       |rcom AS (
       |  SELECT 'c' || o_orderkey AS id_comment,
       |    ((o_orderkey % 250) * 2)::VARCHAR AS parent, o_orderkey % 100 AS score
       |  FROM orders
       |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 13 != 0 AND o_orderkey % 11 != 0
       |  UNION ALL
       |  SELECT o_orderkey::VARCHAR AS id_comment,
       |    ((o_orderkey % 250) * 2 + 1)::VARCHAR AS parent, o_orderkey % 100 AS score
       |  FROM orders
       |  WHERE o_orderkey % 3 = 1 AND o_orderkey % 13 != 0 AND o_orderkey % 11 != 0),
       |rtop AS (SELECT id_comment, parent FROM (
       |    SELECT id_comment, parent,
       |      row_number() OVER (PARTITION BY parent ORDER BY score DESC, id_comment ASC) AS rn
       |    FROM rcom) t WHERE rn <= 20),
       |agg AS (SELECT parent, list_sort(list(id_comment)) AS cids FROM rtop GROUP BY parent),
       |merged AS (SELECT p.*, coalesce(a.cids, []::VARCHAR[]) AS cids
       |           FROM allkeep p LEFT JOIN agg a ON a.parent = p.id_post),
       |kept AS (SELECT e0.vec_id, e0.embedding
       |         FROM embeddings e0 JOIN allkeep ON allkeep.vid = e0.vec_id),
       |${Queries3.rpPairsCte("kept", simThreshold = 0.3, planes, bits)},
       |${ccLabCte("kept", 5)},
       |qq AS (SELECT embedding FROM embeddings WHERE vec_id = 26),
       |sc AS (SELECT l.vec_id AS vid, l.cluster,
       |         round(list_cosine_similarity(k2.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 6) AS sim
       |       FROM lab l JOIN kept k2 ON k2.vec_id = l.vec_id, qq),
       |top1 AS (SELECT vid, cluster FROM sc WHERE sim >= 0.2
       |         ORDER BY sim DESC, vid LIMIT 1),
       |nb AS (SELECT l.vec_id AS vid FROM lab l JOIN top1 t
       |       ON l.cluster = t.cluster AND l.vec_id != t.vid AND l.cluster != -1
       |       ORDER BY l.vec_id LIMIT 20),
       |ids AS (SELECT vid FROM top1 UNION SELECT vid FROM nb)
       |SELECT m.id_post, m.platform, m.community, m.title,
       |  len(m.cids)::BIGINT AS n_comments,
       |  coalesce(array_to_string(m.cids, ','), '') AS comment_csv
       |FROM merged m JOIN ids ON ids.vid = m.vid""".stripMargin
  // ^ coalesce: DuckDB array_to_string(empty list) is NULL where Spark
  //   array_join(empty) is '' — bites exactly when a childless post enters
  //   the context set (first seen at sf0.1)

  /** Mixture construction 1/2 — per-language token-budget sample: the
    * "how much of each language goes into the pretraining mix" operator
    * (downstream of dedup/cleaning; no reference analog — the reference
    * stops at a cleaned table). Hash-ordered, RNG-free, cumsum ≤ budget
    * per stratum; cum_tokens exposes the accounting. */
  val q84TokenBudget: Q = (spark, dir) => {
    import graft.functions.TextFns
    import graft.ops.Mixture
    Mixture.tokenBudgetSample(
        Tables.documents(spark, dir), "lang", "doc_id",
        TextFns.tokenCount(col("text")), budget = 3000L)
      .select(col("doc_id"), col("lang"),
        TextFns.tokenCount(col("text")).as("n_tokens"), col("cum_tokens"))
  }
  val q84Sql: String =
    """WITH t AS (SELECT doc_id, lang,
      |  (CASE WHEN length(trim(text)) = 0 THEN 0
      |        ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, lang, n_tokens,
      |  sum(n_tokens) OVER (PARTITION BY lang
      |    ORDER BY md5(doc_id::VARCHAR), doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
      |  FROM t)
      |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
      |WHERE cum_tokens <= 3000""".stripMargin

  /** Mixture construction 2/2 — deterministic weighted repetition: fr is
    * seen 2.5× per epoch (every row twice, half the rows a third time, by
    * md5 draw), de is DOWN-sampled to a quarter, everything else 1×. Pure
    * map-side explode — no shuffle; this is the data-mixing epoch operator
    * a training run consumes directly. */
  val q85MixtureWeights: Q = (spark, dir) => {
    import graft.ops.Mixture
    Mixture.repeatWeighted(
        Tables.documents(spark, dir), "lang", "doc_id",
        weights = Map("fr" -> 2.5, "de" -> 0.25), defaultWeight = 1.0)
      .select(col("doc_id"), col("lang"), col("copy"))
  }
  val q85Sql: String =
    """SELECT doc_id, lang, u.copy FROM (
      |  SELECT doc_id, lang,
      |    (floor(w) + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':draw'), 1, 4))::BIGINT / 65536.0
      |                          < w - floor(w) THEN 1 ELSE 0 END)::BIGINT AS n
      |  FROM (SELECT doc_id, lang,
      |          (CASE lang WHEN 'fr' THEN 2.5 WHEN 'de' THEN 0.25 ELSE 1.0 END)::DOUBLE AS w
      |        FROM documents)),
      |  unnest(generate_series(1, n)) AS u(copy)""".stripMargin

  /** Dense global example ids in (lang, doc_id) order — shard-manifest /
    * curriculum numbering via the two-phase range-sort + zipWithIndex form
    * (see [[graft.ops.Ids]]); the oracle is the single-reducer spelling the
    * operator exists to avoid. */
  val q86GlobalIndex: Q = (spark, dir) => {
    import graft.ops.Ids
    Ids.globalIndex(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        Seq(col("lang"), col("doc_id")), "example_id")
      .select(col("doc_id"), col("lang"), col("example_id"))
  }
  val q86Sql: String =
    """SELECT doc_id, lang,
      |  (row_number() OVER (ORDER BY lang NULLS FIRST, doc_id NULLS FIRST) - 1)::BIGINT
      |    AS example_id
      |FROM documents""".stripMargin
  // ^ NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's asc default;
  //   without it a single NULL order-key value shifts every id by one

  /** Per-language length-distribution report (p50/p90/p99 + extrema) —
    * the corpus-profiling aggregate every filtering decision starts from.
    * EXACT percentiles (Hive/DuckDB-identical rank = p·(n−1) linear
    * interpolation) for oracle parity, emitted in floor-micro-units (q21's
    * convention — %.Nf rounding of a half-way double disagrees between
    * engines). The registered plan is [[graft.ops.Quantiles.profile]] — the
    * value-HISTOGRAM form whose every structure is bounded by the length
    * column's domain, never by row count — NOT the built-in `percentile`,
    * whose single aggregation buffer holds a whole language's values (the
    * round-5 scale flag). The built-in exact form stays as the verifier
    * (QuantilesSpec proves equality); percentile_approx remains
    * invariant-tested in InvariantSpec as the sketch alternative. */
  val q87LengthQuantiles: Q = (spark, dir) =>
    graft.ops.Quantiles.profile(
        Tables.documents(spark, dir), "lang", "n_chars", Seq(0.5, 0.9, 0.99))
      .select(col("lang"), col("n_rows").as("n_docs"),
        array_join(transform(col("quantiles"),
          x => floor(x * 1e6 + lit(0.5)).cast("long").cast("string")), ",")
          .as("quantiles_e6"),
        col("vmin").as("min_chars"), col("vmax").as("max_chars"))
  val q87Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  array_to_string(list_transform(quantile_cont(n_chars, [0.5, 0.9, 0.99]),
      |    x -> (floor(x * 1000000 + 0.5)::BIGINT)::VARCHAR), ',') AS quantiles_e6,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** Export shard manifest — stateless hash sharding into 8 shards with
    * per-shard row/token totals and an order-independent checksum (the
    * table a resumable 100 TB export verifies against; see
    * [[graft.ops.Shard]]). */
  val q88ShardManifest: Q = (spark, dir) => {
    import graft.functions.TextFns
    import graft.ops.Shard
    Shard.manifest(
      Shard.assignShards(Tables.documents(spark, dir), "doc_id", 8),
      "shard", "doc_id", TextFns.tokenCount(col("text")))
  }
  val q88Sql: String =
    """SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
      |  count(*) AS n_rows,
      |  sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tokens,
      |  sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT)::BIGINT AS checksum
      |FROM documents GROUP BY 1""".stripMargin

  /** The TRAINING-DATA capstone — the extension-side sibling of q83: the
    * whole corpus→training-mix flow as ONE plan. Quality gate (q21's exact
    * score) → exact-dedup keep-canonical (q13/q39) → per-language token
    * budget (q84) → weighted epochs (q85, fr seen 2×) → shard manifest
    * (q88). What ships to a trainer is the manifest of exactly this mix;
    * the whole composition hash-checks against one DuckDB query. */
  val q89TrainingMix: Q = (spark, dir) => {
    import graft.functions.TextFns
    import graft.ops.{Dedup, Mixture, Shard}
    val d = Tables.documents(spark, dir)
    val quality = d.filter(TextFns.qualityScoreMicro(col("text")) >= 300000L)
    val groups = Dedup.exactGroups(quality, "doc_id", "text")
    val deduped = quality.join(
      groups.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val budgeted = Mixture.tokenBudgetSample(
      deduped, "lang", "doc_id", TextFns.tokenCount(col("text")), budget = 2000L)
    val mixed = Mixture.repeatWeighted(
      budgeted, "lang", "doc_id", Map("fr" -> 2.0), defaultWeight = 1.0)
    Shard.manifest(Shard.assignShards(mixed, "doc_id", 8),
      "shard", "doc_id", TextFns.tokenCount(col("text")))
  }
  val q89Sql: String =
    s"""WITH q0 AS (SELECT doc_id, lang, text FROM documents
       |  WHERE ${Queries2.QualitySqlExpr} >= 300000),
       |dq AS (SELECT * FROM q0 WHERE doc_id IN (
       |  SELECT min(doc_id) FROM q0
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))),
       |tb AS (SELECT doc_id, lang,
       |  (CASE WHEN length(trim(text)) = 0 THEN 0
       |        ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS n_tokens
       |  FROM dq),
       |cb AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
       |         ORDER BY md5(doc_id::VARCHAR), doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tb),
       |kept AS (SELECT * FROM cb WHERE cum <= 2000),
       |rep AS (SELECT doc_id, n_tokens FROM kept,
       |        unnest(generate_series(1, CASE lang WHEN 'fr' THEN 2 ELSE 1 END)) AS u(copy))
       |SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
       |  count(*) AS n_rows, sum(n_tokens)::BIGINT AS n_tokens,
       |  sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT)::BIGINT AS checksum
       |FROM rep GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q79_paged_ingest", q79PagedIngest, q79Sql),
    QueryDef("q80_subfetch_expand", q80SubfetchExpand, q80Sql),
    QueryDef("q81_density_clusters", q81DensityClusters, q81Sql),
    QueryDef("q82_session_prompt", q82SessionPrompt, q82Sql),
    QueryDef("q83_pipeline_golden", q83PipelineGolden, q83Sql),
    QueryDef("q84_token_budget", q84TokenBudget, q84Sql),
    QueryDef("q85_mixture_weights", q85MixtureWeights, q85Sql),
    QueryDef("q86_global_index", q86GlobalIndex, q86Sql),
    QueryDef("q87_length_quantiles", q87LengthQuantiles, q87Sql),
    QueryDef("q88_shard_manifest", q88ShardManifest, q88Sql),
    QueryDef("q89_training_mix", q89TrainingMix, q89Sql))
}
