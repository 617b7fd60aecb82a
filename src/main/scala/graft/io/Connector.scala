package graft.io

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Knobs of the paged-API ingestion loop, mirroring the reference's config
  * dicts (reference: REDDIT-Ingestion.py:22-33, STACK-Ingestion.py:13-32).
  *
  * @param sortingMethods      listing orders tried in sequence ('top','new','hot')
  * @param pageSize            items per page (Reddit batch 50 / Stack pagesize 100)
  * @param maxPages            hard page cap per listing (STACK-Ingestion.py:50)
  * @param limit               stop STARTING a new method once this many items
  *                            are kept (REDDIT-Ingestion.py:107-108 checks
  *                            between methods, not per item)
  * @param requestDelayMillis  rate-limit pause between pages
  *                            (REDDIT-Ingestion.py:56-59)
  * @param maxAttempts         retry attempts per page fetch
  * @param backoffMultiplier   exponential backoff base: sleep =
  *                            delay * multiplier^attempt (STACK-Ingestion.py:62-63)
  * @param maxChildrenPerParent raw-children cap per parent — counts raw items
  *                            BEFORE the keep-filter (REDDIT-Ingestion.py:66-69)
  */
final case class PagedConfig(
    sortingMethods: Seq[String] = Seq("top", "new", "hot"),
    pageSize: Int = 100,
    maxPages: Int = 500,
    limit: Int = 10000,
    requestDelayMillis: Long = 2000L,
    maxAttempts: Int = 3,
    backoffMultiplier: Double = 2.0,
    maxChildrenPerParent: Int = 100)

/** One remote listing: items for (method, 0-based page). A short or empty
  * page ends the listing. May throw on transient failure — the connector
  * retries with exponential backoff. */
trait PageClient[A] extends Serializable {
  def fetchPage(method: String, page: Int): Seq[A]
}

/** Per-parent sub-fetch (comments of a post / answers of a question).
  * Instantiated once per PARTITION on executors via a factory — the same
  * lifecycle a real HTTP client or SDK session needs. */
trait ChildClient extends Serializable {
  def fetchChildren(parent: Row): Seq[Row]
}

/** Generic paged-API ingestion connector — SURVEY §2.1 S4–S7 + W3.
  *
  * The reference ingests Reddit (PRAW) and StackExchange (StackAPI) with
  * driver-side paging, fixed rate-limit sleeps, exponential-backoff retry,
  * dict-insert dedup, and viability predicates
  * (reference: REDDIT-Ingestion.py:43-59,101-143; STACK-Ingestion.py:40-64,
  * 109-156). This layer re-expresses that as a reusable abstraction:
  *
  *  - LISTING paging is inherently serial (cursor + rate limit) → stays on
  *    the driver, bounded by `limit`/`maxPages` (≤ ~10k rows in the
  *    reference's envelope — SURVEY §6), then lands in a DataFrame with a
  *    DECLARED schema (never inferSchema — SURVEY §1.3).
  *  - CHILD expansion is the heavy side (~100× the listing volume) → runs
  *    DISTRIBUTED via `mapPartitions`, one client per partition; repartition
  *    the parents upstream to bound concurrent API connections. This is the
  *    piece that must scale — at 10k posts × 100 comments the driver loop
  *    the reference uses is already the bottleneck.
  *
  * `sleep` is injected so tests drive a virtual clock (no real sleeping)
  * and assert exact pacing/backoff sequences.
  */
object PagedSource {

  /** Run `thunk` with up to `maxAttempts` tries; after each failure sleep
    * `requestDelay * backoffMultiplier^attempt` (attempt counted from 1,
    * exactly like the reference — STACK-Ingestion.py:59-63, which sleeps
    * even after the final failure). Exhausted retries yield an EMPTY page
    * (STACK-Ingestion.py:64 returns []), so one dead listing cannot kill
    * the whole ingestion: [[fetchWithRetryStrict]] with its final failure
    * swallowed. */
  def fetchWithRetry[A](cfg: PagedConfig, sleep: Long => Unit)(thunk: => Seq[A]): Seq[A] =
    try fetchWithRetryStrict(cfg, sleep)(thunk)
    catch { case NonFatal(_) => Seq.empty }

  /** Strict variant: same backoff schedule, but exhausted retries RETHROW
    * the last failure instead of degrading to an empty page. For callers
    * where an empty result has its own meaning (end-of-listing) and a
    * swallowed failure would be silent data loss — e.g. a streaming
    * batch REPLAY or a one-shot AvailableNow drain, where the engine (or
    * the operator) must see the failure to retry/fail loudly. */
  def fetchWithRetryStrict[A](cfg: PagedConfig, sleep: Long => Unit)(thunk: => Seq[A]): Seq[A] = {
    require(cfg.maxAttempts >= 1,
      s"maxAttempts must be >= 1 (got ${cfg.maxAttempts}); 0 would throw a bare NPE below")
    var attempts = 0
    var last: Throwable = null
    while (attempts < cfg.maxAttempts) {
      try return thunk
      catch {
        case NonFatal(e) =>
          last = e
          attempts += 1
          sleep((cfg.requestDelayMillis *
            math.pow(cfg.backoffMultiplier, attempts)).toLong)
      }
    }
    throw last
  }

  /** Page through one listing method until a short/empty page, `maxPages`,
    * or `limit` raw items, pausing `requestDelayMillis` between pages
    * (the reference pauses every 50-item batch — REDDIT-Ingestion.py:54-59). */
  def fetchListing[A](client: PageClient[A], method: String, cfg: PagedConfig,
      sleep: Long => Unit): Seq[A] = {
    val out = mutable.ArrayBuffer.empty[A]
    var page = 0
    var exhausted = false
    while (!exhausted && page < cfg.maxPages && out.size < cfg.limit) {
      if (page > 0) sleep(cfg.requestDelayMillis)
      val items = fetchWithRetry(cfg, sleep)(client.fetchPage(method, page))
      out ++= items
      exhausted = items.size < cfg.pageSize
      page += 1
    }
    out.toSeq
  }

  /** The driver ingestion loop (REDDIT-Ingestion.py:101-143): walk the
    * sorting methods in order — skipping a method entirely once `limit`
    * items are kept — and keep the FIRST occurrence per key (dict-insert
    * dedup, U3) that passes the viability predicate (P6/P7). */
  def ingestItems[A, K](client: PageClient[A], cfg: PagedConfig,
      key: A => K, viable: A => Boolean,
      sleep: Long => Unit = Thread.sleep): Seq[A] = {
    val kept = mutable.LinkedHashMap.empty[K, A]
    val methods = cfg.sortingMethods.iterator
    while (methods.hasNext && kept.size < cfg.limit) {
      val method = methods.next()
      fetchListing(client, method, cfg, sleep).foreach { a =>
        val k = key(a)
        if (!kept.contains(k) && viable(a)) kept.update(k, a)
      }
    }
    kept.values.toSeq
  }

  /** Materialize ingested rows under a DECLARED schema. The row count is
    * bounded by `limit` (reference envelope ~10k), so a local-relation
    * materialization is correct here; everything downstream is ordinary
    * distributed Spark. */
  def toDF(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Distributed per-parent child fetch (S5/S7): `mapPartitions` with one
    * client per partition, take the first `maxChildrenPerParent` RAW
    * children (the cap counts raw items including later-dropped ones,
    * matching REDDIT-Ingestion.py:66-69 / STACK-Ingestion.py:85-86), then
    * apply `keep` (deleted/empty-body filters — P3 at ingest). Parallelism
    * = partitions of `parents`; repartition upstream to bound concurrent
    * clients against the remote API. */
  def expandChildren(parents: DataFrame, clientFactory: () => ChildClient,
      keep: Row => Boolean, childSchema: StructType, cfg: PagedConfig): DataFrame = {
    implicit val enc: Encoder[Row] = Encoders.row(childSchema)
    val cap = cfg.maxChildrenPerParent
    parents.mapPartitions { it =>
      val client = clientFactory()
      it.flatMap { p => client.fetchChildren(p).take(cap).filter(keep) }
    }
  }
}
