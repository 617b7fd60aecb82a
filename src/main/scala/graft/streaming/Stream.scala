package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.VectorFns

/** Structured Streaming operators (north-star extension — the reference has
  * no streaming at all, SURVEY.md §2.9; the `events` fixture supplies the
  * event-time data).
  *
  * Each transform takes a DataFrame and works identically on a batch frame
  * and a `readStream` frame — the standard Structured Streaming contract.
  * `withWatermark` is a no-op in batch, so the SAME code is
  * oracle-checkable in batch and incrementally correct in streaming.
  */
object Stream {

  /** Tumbling-window per-type aggregation with a watermark: event count and
    * an exact integer-scaled value sum (order-independent long arithmetic,
    * not float). Window start is emitted as epoch µs for engine-portable
    * comparison. */
  def windowedTypeCounts(events: DataFrame, tsCol: String, typeCol: String,
      valueCol: String, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 10000).cast("long")).as("value_e4"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col(typeCol), col("n_events"), col("value_e4"))

  /** Tumbling-window EXACT moment statistics: count, integer value sums,
    * and mean/std derived from Σv/Σv² in the final projection — the
    * streaming form of the q63 batch moments. Because the shuffle state is
    * three integers per (window, type), the incremental result is
    * bit-identical to the batch run at any parallelism — no FP
    * accumulation drift across micro-batches. */
  def windowedMoments(events: DataFrame, tsCol: String, typeCol: String,
      valueCol: String, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .select(col(tsCol), col(typeCol),
        round(col(valueCol) * 100).cast("long").as("__v_e2"))
      .groupBy(window(col(tsCol), windowDur), col(typeCol))
      .agg(count(lit(1)).as("n"), sum(col("__v_e2")).as("sum_e2"),
        sum(col("__v_e2") * col("__v_e2")).as("sumsq_e4"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col(typeCol), col("n"),
        floor(col("sum_e2") * 10000.0 / col("n") + 0.5).cast("long").as("mean_e6"),
        floor(sqrt((col("n") * col("sumsq_e4") - col("sum_e2") * col("sum_e2")).cast("double"))
          / col("n") * 10000.0 + 0.5).cast("long").as("std_e6"))

  /** Sliding-window variant (windowDur every slideDur). */
  def slidingTypeCounts(events: DataFrame, tsCol: String, typeCol: String,
      windowDur: String, slideDur: String, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slideDur), col(typeCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        unix_micros(col("window.end")).as("win_end_us"),
        col(typeCol), col("n_events"))

  /** Gap-based sessions via the NATIVE `session_window` operator — the
    * streaming-correct form of [[graft.ops.Sessionize]] (which is the
    * batch/oracle formulation): state is kept per open session and evicted
    * by the watermark, so unbounded streams run in bounded memory. Window
    * end = last event + gap by session_window semantics. */
  def sessionWindowStats(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, gap: String, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 10000).cast("long")).as("value_e4"))
      .select(
        col(userCol),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("value_e4"))

  /** Streaming exact dedup: drop duplicate keys with watermark-bounded
    * state (`dropDuplicatesWithinWatermark`), the streaming face of
    * [[graft.ops.Dedup.exactGroups]] — state holds only keys younger than
    * the watermark, so it cannot grow without bound. */
  def dedupKeyed(events: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream interval join: each left row matched to the right rows
    * with the same key whose timestamp falls in `[left_ts - lookback,
    * left_ts]` — the streaming face of the batch interval join (q57:
    * purchases joined to the same user's clicks in the preceding hour).
    *
    * Both sides MUST carry watermarks: together with the time-range join
    * condition they let Spark derive how long each side's rows can still
    * find partners, so join state is evicted instead of growing without
    * bound — the requirement for an unbounded two-stream join to run in
    * bounded memory. `rightWatermark` should be at least `lookback` plus
    * the late-arrival allowance, since a right row can match a left row
    * arriving up to `lookback` later.
    *
    * Output keeps all left columns plus the right columns except its key
    * (deduplicated by the equi-condition). Works identically on batch
    * frames, where `withWatermark` is a no-op — the oracle path. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, lookback: String,
      leftWatermark: String = "1 hour", rightWatermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTsCol, leftWatermark)
    val r = right.withWatermark(rightTsCol, rightWatermark)
    l.join(r,
        l(keyCol) === r(keyCol) &&
        r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $lookback") &&
        r(rightTsCol) <= l(leftTsCol))
      .drop(r(keyCol))
  }

  /** Running lateness state per event type — see [[latenessStream]]. */
  case class LatenessRunning(typ: String, n: Long, n_late: Long,
      max_late_us: Long, sum_late_us: Long, hwm_us: Long)

  /** Streaming form of [[graft.ops.Journey.latenessProfile]]: per event
    * type, a running high-water-mark of event time in INGEST order
    * (`seqCol` within each micro-batch), accumulating how many events arrived
    * behind an already-seen later event and the lateness tail. Emits the
    * running state after each batch; the LAST row per type equals the
    * batch profile (Wave32Spec pins the parity).
    *
    * State is one 5-long record per event type — bounded by the type
    * dimension, no timeout needed. */
  def latenessStream(events: DataFrame, typeCol: String, tsCol: String,
      seqCol: String): Dataset[LatenessRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(typeCol).cast("string"),
        unix_micros(col(tsCol).cast("timestamp")), col(seqCol).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (typ: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[LatenessRunning]) => {
          val sorted = rows.toSeq.sortBy(_._3)
          var s = state.getOption.getOrElse(
            LatenessRunning(typ, 0L, 0L, 0L, 0L, Long.MinValue))
          sorted.foreach { case (_, us, _) =>
            val late =
              if (s.hwm_us == Long.MinValue) 0L
              else math.max(0L, s.hwm_us - us)
            s = LatenessRunning(typ, s.n + 1, s.n_late + (if (late > 0) 1 else 0),
              math.max(s.max_late_us, late), s.sum_late_us + late,
              math.max(s.hwm_us, us))
          }
          state.update(s)
          Iterator.single(s)
        })
  }

  /** Per-bucket state for [[semanticDedupStream]]: the members seen so
    * far (ids + quantized vectors, parallel lists). */
  case class BucketMembers(bucket: Long, ids: List[Long],
      qvecs: List[Array[Long]])

  /** Emitted by [[semanticDedupStream]]: the CURRENT verdict for one
    * bucket member — same fields and arithmetic as the batch
    * [[graft.ops.Similarity.semanticDedup]]. */
  case class SemanticVerdict(id: Long, bucket: Long, n_members: Long,
      dist2: Long, keep: Boolean)

  /** Streaming semantic dedup — the bucket-keeper form of
    * [[graft.ops.Similarity.semanticDedup]] (q115) for an arriving
    * corpus: each vector keys to its sign-RP bucket, per-bucket state
    * holds the members seen so far, and every micro-batch that touches a
    * bucket re-emits the bucket's verdicts (Update semantics — the
    * keeper CAN move as the bucket centroid shifts with new arrivals, so
    * downstream keeps the LATEST row per id). After the stream drains,
    * the latest verdicts equal the batch operator's output on the same
    * rows exactly: the arithmetic is the same integer form
    * ([[graft.functions.VectorFns.quantize]]d longs `q`;
    * `dist2 = Σ_d (n·q_d − S_d)²`),
    * order-independent, so arrival order and batching cannot change it.
    *
    * Scale shape: the stream shuffles once on the bucket key; state per
    * bucket is occupancy × dim longs — bounded when the band resolution
    * follows [[graft.ops.Similarity.lshBitsFor]] (~80 members/bucket),
    * and hard-capped at `maxMembersPerBucket` (beyond the cap new
    * members are verdict-emitted as non-keepers but NOT admitted to the
    * sums — the bounded-state price). Works identically on a batch
    * frame. */
  def semanticDedupStream(docs: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], bits: Int,
      maxMembersPerBucket: Int = 4096): Dataset[SemanticVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), v => VectorFns.quantize(v.cast("double")))
          .as("qv"),
        element_at(graft.expr.VectorExprs.signRpBuckets(
          col(vecCol), planes, bits), 1).as("bucket"))
      .as[(Long, Seq[Long], Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (bucket: Long, rows: Iterator[(Long, Seq[Long], Long)],
            state: GroupState[BucketMembers]) => {
          val prev = state.getOption
          // mutable buffers + a hash set for membership keep admission
          // O(1) amortized — List :+ / .contains would make a bucket fill
          // quadratic in occupancy
          val ids = scala.collection.mutable.ArrayBuffer.from(
            prev.map(_.ids).getOrElse(Nil))
          val qvecs = scala.collection.mutable.ArrayBuffer.from(
            prev.map(_.qvecs).getOrElse(Nil))
          val seen = scala.collection.mutable.HashSet.from(ids)
          var overflow = List.empty[Long]
          // id-sorted admission makes same-batch arrival deterministic
          rows.toSeq.sortBy(_._1).foreach { case (id, qv, _) =>
            if (seen.add(id)) {
              if (ids.length < maxMembersPerBucket) {
                ids += id
                qvecs += qv.toArray
              } else overflow = id :: overflow
            }
          }
          state.update(BucketMembers(bucket, ids.toList, qvecs.toList))
          val n = ids.length.toLong
          val dim = qvecs.headOption.map(_.length).getOrElse(0)
          val sums = new Array[Long](dim)
          qvecs.foreach { q =>
            var d = 0
            while (d < dim) { sums(d) += q(d); d += 1 }
          }
          val dist2s = qvecs.map { q =>
            var acc = 0L
            var d = 0
            while (d < dim) {
              val diff = n * q(d) - sums(d)
              acc += diff * diff
              d += 1
            }
            acc
          }
          val keeper =
            if (ids.isEmpty) -1L
            else ids.zip(dist2s).minBy { case (id, d2) => (d2, id) }._1
          val members = ids.lazyZip(dist2s).map { (id, d2) =>
            SemanticVerdict(id, bucket, n, d2, id == keeper)
          }
          (members ++ overflow.map(id =>
            SemanticVerdict(id, bucket, n, Long.MaxValue, keep = false))).iterator
        })
  }

  /** Live inverted-index maintenance: the (doc, term, tf) postings table
    * kept current over an unbounded document stream — a running streaming
    * aggregation (documents are immutable and ids unique, so counts only
    * ever grow; no watermark needed in complete/update mode). The tokens
    * follow the corpus-wide wordTokens contract, so the maintained table
    * is EXACTLY what [[graft.ops.Retrieval.postingsFromTf]] consumes:
    * query-time statistics (dl, df, N, avgdl) derive from it on read, and
    * BM25 over the live index answers identically to a batch rebuild
    * (parity-proven in StreamingSpec). At deploy scale the sink is a
    * keyed store or a foreachBatch partition-overwrite, and the state is
    * |vocab|·|docs-per-term| keys — the index itself, not a second copy. */
  def postingsStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        explode(graft.functions.TextFns.wordTokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
}
