package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A binary multimodal asset row: opaque content bytes + typed metadata.
  * (Top-level case classes so Spark derives product Encoders.) */
case class Asset(asset_id: Long, kind: String, content: Array[Byte],
    width: Int, height: Int, sample_rate: Int)

/** Deterministic per-asset features produced by the (stubbed) decoder. */
case class AssetFeatures(asset_id: Long, kind: String, n_bytes: Long,
    byte_sum: Long, fp: String)

/** Multimodal column plumbing — treat image/audio/video as opaque `binary`
  * columns with typed metadata (builder-prompt extension; the reference has
  * no multimodal data). The image/audio codecs are NOT in this container,
  * so the decode step is a clearly-marked deterministic STUB; everything
  * Spark-side — schema, encoders, mapPartitions batch shape, partition-wise
  * decoder lifecycle, frame-sampling expansion — is real and tested.
  *
  * At 100 TB the decode runs as `mapPartitions` so a real codec is
  * initialized once per partition (not per row), exactly where the stub's
  * MessageDigest is created below.
  */
object Multimodal {

  /** Build an asset table from a text table (deterministic fake content:
    * the UTF-8 bytes of the text; metadata derived from the id). Real
    * ingestion would read image/audio files via `spark.read.format
    * ("binaryFile")` into the same schema. */
  def fromText(df: DataFrame, idCol: String, textCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(kind).as("kind"),
      col(textCol).cast("binary").as("content"),
      (pmod(col(idCol), lit(16)) * 64 + 64).cast("int").as("width"),
      (pmod(col(idCol), lit(9)) * 64 + 64).cast("int").as("height"),
      lit(16000).as("sample_rate"))

  /** Decode / feature-extract over binary content.
    *
    * STUB: a real implementation hosts an image/audio codec here (one init
    * per partition, batch iteration per row — the exact shape below). The
    * stand-in emits deterministic features of the raw bytes: length,
    * unsigned byte sum, md5 hex — reproducible by any engine, so the
    * plumbing itself is oracle-checkable. */
  def decodeFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("asset_id"), col("kind"), col("content"),
        col("width"), col("height"), col("sample_rate"))
      .as[Asset]
      .mapPartitions { it =>
        // per-partition init — where a real codec/model would be loaded once
        val digest = MessageDigest.getInstance("MD5")
        it.map { a =>
          val bytes = if (a.content == null) Array.emptyByteArray else a.content
          digest.reset()
          val fp = digest.digest(bytes).map(b => f"${b & 0xff}%02x").mkString
          AssetFeatures(a.asset_id, a.kind, bytes.length.toLong,
            bytes.foldLeft(0L)((acc, b) => acc + (b & 0xff)), fp)
        }
      }
      .toDF()
  }

  /** Interleaved multimodal sequence packing: a document's sequence cost
    * is its text tokens PLUS a fixed patch budget per attached image
    * (`imageTokens` — how vision-language training actually spends
    * sequence length), and documents pack into `capacity`-token sequences
    * per `partCol` shard by the offset-division rule (the q62 convention:
    * `pack_id = (cum − cost) div capacity`, so an over-cap document still
    * lands whole). The output is the capacity-planning table a
    * multimodal run reads: per pack, the document count, the text/image
    * token split, the fill ratio and the image share — image-heavy packs
    * are the ones that starve the text loss.
    *
    * Scale shape: one per-shard window cumsum (parallel across shards),
    * one hash aggregation. Input contract: `df(partCol, idCol,
    * textTokCol, nImagesCol)` — the caller decides how images attach
    * (an asset join, a metadata column); packing never reads content
    * bytes. */
  def interleavedPacking(df: DataFrame, partCol: String, idCol: String,
      textTokCol: String, nImagesCol: String, imageTokens: Int,
      capacity: Int): DataFrame = {
    require(imageTokens >= 0 && capacity > 0, "bad budget parameters")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(partCol), col(idCol),
        col(textTokCol).cast("long").as("__tt"),
        (col(nImagesCol).cast("long") * imageTokens).as("__it"))
      .withColumn("__cost", col("__tt") + col("__it"))
      .withColumn("__cum", sum(col("__cost")).over(w))
      .groupBy(col(partCol),
        expr(s"(__cum - __cost) div ${capacity}L").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tt")).as("n_text_tokens"),
        sum(col("__it")).as("n_image_tokens"))
      .withColumn("fill_ppm", expr(
        s"(n_text_tokens + n_image_tokens) * 1000000L div ${capacity}L"))
      .withColumn("image_share_ppm",
        // a pack of zero-cost documents (empty text, no images) has no
        // tokens to split — 0 by convention, not a division error
        when(col("n_text_tokens") + col("n_image_tokens") === 0L, lit(0L))
          .otherwise(expr(
            "n_image_tokens * 1000000L div (n_text_tokens + n_image_tokens)")))
  }

  /** Frame-sampling expansion for video-like assets: one row per sampled
    * frame at `everyNBytes` stride (stand-in for a time stride), with the
    * frame's byte slice as content. Pure codegen'd explode — the real
    * decode of each frame slice would again be a mapPartitions stage. */
  def frameSample(df: DataFrame, everyNBytes: Int): DataFrame =
    df.select(col("asset_id"), col("content"))
      .withColumn("frame_off",
        explode(sequence(lit(1), greatest(length(col("content")), lit(1)), lit(everyNBytes))))
      .select(
        col("asset_id"),
        ((col("frame_off") - 1) / everyNBytes).cast("long").as("frame_idx"),
        col("content").substr(col("frame_off"), lit(everyNBytes)).as("frame_bytes"))

  /** Distinct k-byte shingles of binary content, as hex strings — the
    * modality-free representation that feeds MinHash: hex() is uppercase
    * and 2 chars/byte in both Spark and DuckDB, so shingle windows step 2
    * hex chars to stay byte-aligned. Content shorter than k bytes (or
    * empty) yields one shingle: its whole hex string ('' for empty) —
    * the wordShingles short-input convention. The array is SORTED
    * distinct — [[Dedup.minHashLshPairsOn]]'s verify step is a
    * sorted-merge intersection (the wordShingles contract); an unsorted
    * set silently undercounts the intersection. No codec needed: raw-byte
    * shingling catches byte-identical regions (re-uploads, crops that
    * share encoder output, container-level dups) which is the cheap first
    * tier of asset dedup; perceptual tiers slot into [[decodeFeatures]]'s
    * mapPartitions stage.
    *
    * Runs the fused codegen kernel ([[graft.expr.TextExprs.byteShingles]]
    * — one Java loop per row, no intermediate hex string); Wave38Spec
    * asserts it bitwise-identical to the builtin-HOF reference spelling
    * (`graft.Reference.byteShinglesHof` — interpreted HOFs pay ~1µs per
    * hex window and dominated q249's first profile). Null content → null
    * in both spellings. */
  def byteShingles(content: Column, k: Int): Column =
    graft.expr.TextExprs.byteShingles(content, k)

  /** Near-duplicate ASSET pairs over raw bytes: k-byte shingles
    * ([[byteShingles]]) through the banded MinHash+LSH candidate
    * generation and exact-Jaccard verify
    * ([[Dedup.minHashLshPairsOn]] — candidates come from a band-signature
    * equi-join, never an all-pairs product). Output: (id_a, id_b,
    * jaccard ≥ threshold). */
  def assetNearDup(assets: DataFrame, idCol: String, contentCol: String,
      shingleBytes: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame =
    Dedup.minHashLshPairsOn(assets, idCol,
      byteShingles(col(contentCol), shingleBytes), numHashes, bands, threshold)
}
