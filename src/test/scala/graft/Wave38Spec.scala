package graft

import org.apache.spark.sql.functions._

import graft.ops.{Mixture, Multimodal, Shard}

/** Wave 38: manifest reconciliation, byte-level asset near-dup,
  * length-band mix planner. */
class Wave38Spec extends SparkSpec {
  import spark.implicits._

  test("manifestDelta: all four statuses classified, deltas arithmetic") {
    val prev = Seq(
      (0L, 10L, 100L, 555L), // unchanged
      (1L, 10L, 100L, 556L), // changed (checksum only)
      (2L, 10L, 100L, 557L)) // removed
      .toDF("shard", "n_rows", "n_tokens", "checksum")
    val next = Seq(
      (0L, 10L, 100L, 555L),
      (1L, 10L, 100L, 999L),
      (3L, 4L, 40L, 777L))   // added
      .toDF("shard", "n_rows", "n_tokens", "checksum")
    val out = Shard.manifestDelta(prev, next).orderBy("shard")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.map(r => r._1 -> r._2).toSeq == Seq(
      0L -> "unchanged", 1L -> "changed", 2L -> "removed", 3L -> "added"))
    val added = out.find(_._1 == 3L).get
    assert(added._3 == 0L && added._4 == 4L && added._7 == 4L && added._8 == 40L)
    val removed = out.find(_._1 == 2L).get
    assert(removed._7 == -10L && removed._8 == -100L)
  }

  test("manifestDelta composes with Shard.manifest: drop-slice is changed/unchanged") {
    val docs = (1L to 200L).map(i => (i, s"text number $i")).toDF("doc_id", "text")
    val tok = size(split(col("text"), " ")).cast("long")
    val prev = Shard.manifest(Shard.assignShards(docs, "doc_id", 8),
      "shard", "doc_id", tok)
    val kept = docs.filter(col("doc_id") % 7 =!= 0L)
    val next = Shard.manifest(Shard.assignShards(kept, "doc_id", 8),
      "shard", "doc_id", tok)
    val st = Shard.manifestDelta(prev, next)
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(st.keySet.subsetOf(Set("changed", "unchanged")))
    assert(st.getOrElse("changed", 0L) >= 1L)
    // every removed doc shows up in the row deltas
    val deltas = Shard.manifestDelta(prev, next)
      .agg(sum(col("row_delta"))).as[Long].head()
    assert(deltas == -(200L / 7L))
  }

  test("byteShingles: byte-aligned hex windows, distinct, short/empty edges") {
    val df = Seq(
      (1L, "abcd"), // 4 bytes -> hex 8 chars -> 3 shingles of 2 bytes
      (2L, "a"),    // shorter than k -> whole hex
      (3L, ""))     // empty -> ['']
      .toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("content"))
    val out = df.select(col("id"),
        Multimodal.byteShingles(col("content"), 2).as("sh"))
      .orderBy("id").as[(Long, Seq[String])].collect()
    // 'abcd' = 61626364; windows at hex offsets 1,3,5 of width 4
    assert(out(0)._2 == Seq("6162", "6263", "6364"))
    assert(out(1)._2 == Seq("61"))
    assert(out(2)._2 == Seq(""))
    // repeated content dedups its shingles (set semantics)
    val rep = Seq((9L, "ababab")).toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("content"))
      .select(Multimodal.byteShingles(col("content"), 2).as("sh"))
      .as[Seq[String]].head()
    assert(rep == Seq("6162", "6261"))
    // SORTED output even when occurrence order differs — the
    // sortedJaccard merge contract ('baab' -> 6261 occurs first)
    val srt = Seq((8L, "baab")).toDF("id", "s")
      .select(col("s").cast("binary").as("content"))
      .select(Multimodal.byteShingles(col("content"), 2).as("sh"))
      .as[Seq[String]].head()
    assert(srt == Seq("6161", "6162", "6261"))
  }

  test("assetNearDup: verify jaccard equals the set-based reference on near-dups") {
    // two long near-identical byte strings whose shingle occurrence order
    // is NOT sorted (the 8x-fixture regression: unsorted arrays silently
    // undercount the sorted-merge intersection)
    val base = "zw qa rb sc td ue vf wg xh yi zj ak bl cm dn eo fp gq hr is jt"
    val assets = Seq(
      (1L, base), (2L, base.replace("is jt", "is xx")))
      .toDF("asset_id", "s")
      .select(col("asset_id"), col("s").cast("binary").as("content"))
    val pairs = Multimodal.assetNearDup(assets, "asset_id", "content",
        shingleBytes = 4, numHashes = 12, bands = 12, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1)
    val ref = assets.as("a").crossJoin(assets.as("b"))
      .filter(col("a.asset_id") < col("b.asset_id"))
      .select((size(array_intersect(
          Multimodal.byteShingles(col("a.content"), 4),
          Multimodal.byteShingles(col("b.content"), 4))).cast("double") /
        size(array_union(
          Multimodal.byteShingles(col("a.content"), 4),
          Multimodal.byteShingles(col("b.content"), 4)))).as("j"))
      .as[Double].head()
    assert(math.abs(pairs.head._3 - math.rint(ref * 1e6) / 1e6) < 1e-9 ||
      math.abs(pairs.head._3 - ref) < 5e-7)
  }

  test("byteShingles: fused kernel bitwise-identical to the HOF reference") {
    val rnd = new scala.util.Random(38)
    val rows = (1 to 60).map { i =>
      val n = rnd.nextInt(200)
      (i.toLong, Array.fill(n)(rnd.nextInt(256).toByte))
    } :+ (61L, Array.emptyByteArray) :+ (62L, null.asInstanceOf[Array[Byte]])
    val df = rows.toDF("id", "content")
    for (k <- Seq(1, 2, 16)) {
      val both = df.select(col("id"),
          graft.ops.Multimodal.byteShingles(col("content"), k).as("fused"),
          Reference.byteShinglesHof(col("content"), k).as("hof"))
        .as[(Long, Seq[String], Seq[String])].collect()
      both.foreach { case (id, f, h) => assert(f == h, s"id=$id k=$k") }
    }
  }

  test("assetNearDup: byte-identical assets pair at jaccard 1, disjoint don't") {
    val assets = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk"))
      .toDF("asset_id", "s")
      .select(col("asset_id"), col("s").cast("binary").as("content"))
    val pairs = Multimodal.assetNearDup(assets, "asset_id", "content",
        shingleBytes = 8, numHashes = 12, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("lengthBandReweight: integer bands, shares, and repeat weights") {
    // tokens 3,3 (band 1); 12 (band 3); 40 (band 5) — total 58
    val df = Seq(3L, 3L, 12L, 40L).toDF("n_tok")
    val out = Mixture.lengthBandReweight(df, col("n_tok"),
        Map(1L -> 100000L, 5L -> 900000L))
      .orderBy("band")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 5L))
    val b1 = out(0); val b3 = out(1); val b5 = out(2)
    assert(b1._2 == 2L && b1._3 == 6L)
    assert(b1._4 == 6L * 1000000L / 58L)
    assert(b1._5 == 100000L && b1._6 == 100000L * 1000000L / b1._4)
    assert(b3._5 == 0L && b3._6 == 0L) // no target -> weight 0 (drop band)
    assert(b5._4 == 40L * 1000000L / 58L)
    assert(b5._6 == 900000L * 1000000L / b5._4) // upweight >1e6 = repeat
    assert(b5._6 > 1000000L)
  }

  test("lengthBandReweight: band is the binary digit count minus one (exact)") {
    // powers of two are where a float log2 would misround
    val df = Seq(1L, 2L, 4L, 8L, 1024L, 1023L).toDF("n_tok")
    val bands = Mixture.lengthBandReweight(df, col("n_tok"), Map.empty)
      .select("band").orderBy("band").as[Long].collect()
    assert(bands.toSeq == Seq(0L, 1L, 2L, 3L, 9L, 10L))
  }
}
