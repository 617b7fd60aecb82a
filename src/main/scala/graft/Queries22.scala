package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Dedup, Embed, Shard}

/** Twenty-second query wave: pipeline-health audits — shuffle-quality
  * vs the Herfindahl baseline (q191), event burst detection against a
  * trailing baseline (q192), label-centroid separation in embedding
  * space (q193) and asymmetric containment near-dup detection (q194).
  */
object Queries22 {

  // ------------------------------------------------- shuffle quality
  private val SqEpochs = 3
  private val SqShards = 16

  /** Adjacent same-source rate of the q105 epoch permutation, per epoch
    * within 16 writer shards, against the source-mix Herfindahl
    * baseline — see [[graft.ops.Shard.shuffleQualityAudit]]. */
  val q191ShuffleQuality: Q = (spark, dir) =>
    Shard.shuffleQualityAudit(Tables.documents(spark, dir), "doc_id",
        "source", SqEpochs, SqShards)
      .orderBy("epoch")

  val q191Sql: String =
    s"""WITH e AS (SELECT doc_id, source,
       |    unnest(generate_series(0, ${SqEpochs - 1}))::BIGINT AS epoch
       |  FROM documents),
       |k AS (SELECT epoch, doc_id, source,
       |    md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) AS ord,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT
       |      % $SqShards AS shard
       |  FROM e),
       |a AS (SELECT epoch, source,
       |    lag(source) OVER (PARTITION BY epoch, shard
       |      ORDER BY ord ASC, doc_id ASC) AS prev
       |  FROM k),
       |adj AS (SELECT epoch,
       |    sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |      AS n_pairs,
       |    sum(CASE WHEN prev = source THEN 1 ELSE 0 END)::BIGINT AS n_same
       |  FROM a GROUP BY 1),
       |h AS (SELECT sum(c * c)::BIGINT AS sq, sum(c)::BIGINT AS n
       |  FROM (SELECT count(*)::BIGINT AS c FROM documents GROUP BY source)),
       |hh AS (SELECT (CASE WHEN n <= 3000000
       |    THEN sq * 1000000 // (n * n)
       |    ELSE sq // greatest((n * n) // 1000000, 1) END)::BIGINT
       |    AS hhi_ppm FROM h)
       |SELECT adj.epoch, adj.n_pairs, adj.n_same,
       |  (adj.n_same * 1000000 // adj.n_pairs)::BIGINT AS same_ppm,
       |  hh.hhi_ppm
       |FROM adj, hh ORDER BY adj.epoch""".stripMargin

  // -------------------------------------------------- burst detection
  private val BurstTrail = 3
  private val BurstThresholdPpm = 2000000L // 2x the trailing mean

  /** Event-rate burst detection: hourly counts per event type vs the
    * mean of the previous 3 OBSERVED buckets (rows-based lag — sparse
    * hours are skipped, documented); a bucket at ≥ 2× the trailing mean
    * is flagged. The ingest-anomaly audit an event pipeline runs before
    * trusting a day's data. Integer throughout: ratio in ppm with the
    * trailing SUM as denominator (`cnt·3·1e6 div base_sum`). */
  val q192BurstDetection: Q = (spark, dir) => {
    val hourly = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_us"))
      .rowsBetween(-BurstTrail, -1)
    hourly
      .withColumn("base_sum", sum(col("cnt")).over(w))
      .withColumn("n_base", count(col("cnt")).over(w))
      .filter(col("n_base") === BurstTrail)
      .withColumn("ratio_ppm",
        expr(s"cnt * ${BurstTrail}L * 1000000L div base_sum"))
      .withColumn("is_burst", col("ratio_ppm") >= BurstThresholdPpm)
      .select(col("event_type"), col("bucket_us"), col("cnt"),
        col("base_sum"), col("ratio_ppm"), col("is_burst"))
      .orderBy("event_type", "bucket_us")
  }

  val q192Sql: String =
    s"""WITH hc AS (SELECT event_type,
       |    epoch_us(date_trunc('hour', ts))::BIGINT AS bucket_us,
       |    count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1, 2),
       |tr AS (SELECT event_type, bucket_us, cnt,
       |    (sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_us
       |       ROWS BETWEEN $BurstTrail PRECEDING AND 1 PRECEDING))::BIGINT
       |      AS base_sum,
       |    (count(cnt) OVER (PARTITION BY event_type ORDER BY bucket_us
       |       ROWS BETWEEN $BurstTrail PRECEDING AND 1 PRECEDING))::BIGINT
       |      AS n_base
       |  FROM hc)
       |SELECT event_type, bucket_us, cnt, base_sum,
       |  (cnt * $BurstTrail * 1000000 // base_sum)::BIGINT AS ratio_ppm,
       |  (cnt * $BurstTrail * 1000000 // base_sum)
       |    >= $BurstThresholdPpm AS is_burst
       |FROM tr WHERE n_base = $BurstTrail
       |ORDER BY event_type, bucket_us""".stripMargin

  // ------------------------------------------- label centroid report
  /** Embedding-space label QA: centroid cosine per label pair next to
    * each label's size and within-dispersion — see
    * [[graft.ops.Embed.labelCentroidSeparation]]. */
  val q193LabelSeparation: Q = (spark, dir) =>
    Embed.labelCentroidSeparation(Tables.embeddings(spark, dir), "vec_id",
        "label", "embedding")
      .orderBy("label_a", "label_b")

  val q193Sql: String =
    """WITH pts AS (SELECT label AS l, vec_id,
      |    j - 1 AS d, floor(e::DOUBLE * 1000 + 0.5)::BIGINT AS q
      |  FROM (SELECT label, vec_id, generate_subscripts(embedding, 1) AS j,
      |               unnest(embedding) AS e FROM embeddings)),
      |cent AS (SELECT l, d,
      |    ((s - ((s % n + n) % n)) / n)::BIGINT AS c
      |  FROM (SELECT l, d, sum(q)::BIGINT AS s, count(*)::BIGINT AS n
      |        FROM pts GROUP BY 1, 2)),
      |wi AS (SELECT p.l,
      |    (sum((p.q - c.c) * (p.q - c.c))::BIGINT
      |       // count(DISTINCT p.vec_id))::BIGINT AS within,
      |    count(DISTINCT p.vec_id)::BIGINT AS n_members
      |  FROM pts p JOIN cent c ON c.l = p.l AND c.d = p.d GROUP BY 1),
      |pr AS (SELECT a.l AS label_a, b.l AS label_b,
      |    sum(a.c * b.c)::BIGINT AS num,
      |    sum(a.c * a.c)::BIGINT AS qa, sum(b.c * b.c)::BIGINT AS qb
      |  FROM cent a JOIN cent b ON a.d = b.d AND a.l < b.l GROUP BY 1, 2)
      |SELECT pr.label_a, pr.label_b, wa.n_members AS n_a,
      |  wb.n_members AS n_b,
      |  round(pr.num::DOUBLE / sqrt(greatest(pr.qa * pr.qb, 1)::DOUBLE), 6)
      |    AS cos6,
      |  wa.within AS within_a, wb.within AS within_b
      |FROM pr JOIN wi wa ON wa.l = pr.label_a
      |JOIN wi wb ON wb.l = pr.label_b
      |ORDER BY pr.label_a, pr.label_b""".stripMargin

  // ------------------------------------------- containment near-dup
  private val ContHashes = 12
  private val ContBands = 4
  private val ContMinPpm = 600000L

  /** Asymmetric containment near-dup pairs over the q14 MinHash bands —
    * the quote-inclusion detector; see
    * [[graft.ops.Dedup.containmentPairs]]. */
  val q194Containment: Q = (spark, dir) =>
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        ContHashes, ContBands, ContMinPpm)
      .orderBy("id_a", "id_b")

  val q194Sql: String = {
    val p = graft.functions.HashFns.MinHashP
    val perms = graft.functions.HashFns.minHashCoeffs(ContHashes)
      .map { case (a, b) =>
        s"list_min(list_transform(hb, h -> ($a * h + $b) % $p))"
      }.mkString(",\n       ")
    s"""WITH ${Queries2.ShinglesCte},
       |hbs AS (SELECT doc_id, list_transform(sh,
       |          s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % $p) AS hb
       |        FROM sh),
       |mh AS (SELECT doc_id, [$perms] AS sig
       |       FROM hbs),
       |bands AS (SELECT doc_id, b,
       |            array_to_string(list_slice(sig, b*3 + 1, b*3 + 3), '_')
       |              AS bsig
       |          FROM mh, unnest(generate_series(0, ${ContBands - 1}))
       |            AS u(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.bsig = c.bsig
       |           AND a.doc_id < c.doc_id),
       |v AS (SELECT id_a, id_b,
       |    len(list_intersect(x.sh, y.sh))::BIGINT AS n_inter,
       |    len(x.sh)::BIGINT AS n_a, len(y.sh)::BIGINT AS n_b
       |  FROM cand JOIN sh x ON x.doc_id = cand.id_a
       |            JOIN sh y ON y.doc_id = cand.id_b)
       |SELECT id_a, id_b, n_inter, n_a, n_b,
       |  (n_inter * 1000000 // n_a)::BIGINT AS cont_a_ppm,
       |  (n_inter * 1000000 // n_b)::BIGINT AS cont_b_ppm
       |FROM v
       |WHERE greatest(n_inter * 1000000 // n_a, n_inter * 1000000 // n_b)
       |  >= $ContMinPpm
       |ORDER BY id_a, id_b""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q191_shuffle_quality", q191ShuffleQuality, q191Sql),
    QueryDef("q192_burst_detection", q192BurstDetection, q192Sql),
    QueryDef("q193_label_separation", q193LabelSeparation, q193Sql),
    QueryDef("q194_containment_dups", q194Containment, q194Sql))
}
