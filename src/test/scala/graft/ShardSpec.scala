package graft

import org.apache.spark.sql.functions._

import graft.ops.Shard

/** Export sharding semantics: stable stateless assignment and an order-
  * independent manifest a consumer can verify shard by shard. */
class ShardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (0L until 200L).toDF("id")
    .withColumn("text", concat(lit("doc number "), $"id"))

  test("assignShards is deterministic, in-range, and roughly balanced") {
    val a = Shard.assignShards(docs, "id", 8).select($"id", $"shard")
      .as[(Long, Long)].collect().toMap
    val b = Shard.assignShards(docs, "id", 8).select($"id", $"shard")
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a.values.forall(s => s >= 0 && s < 8))
    val sizes = a.values.groupBy(identity).view.mapValues(_.size)
    // 200 rows over 8 shards: expectation 25; hash balance within ±60%
    assert(sizes.size == 8 && sizes.values.forall(n => n > 10 && n < 40), sizes.toMap)
  }

  test("manifest checksum is order-independent and detects a changed row set") {
    val sharded = Shard.assignShards(docs, "id", 4)
    val m1 = Shard.manifest(sharded, "shard", "id", lit(1L))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // same rows, different partitioning → identical manifest
    val m2 = Shard.manifest(sharded.repartition(13), "shard", "id", lit(1L))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m1 == m2)
    // dropping one row changes exactly its shard's checksum and count
    val dropped = Shard.manifest(sharded.filter($"id" =!= 7L), "shard", "id", lit(1L))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m1 != dropped)
    assert(m1.zip(dropped).count { case (x, y) => x != y } == 1)
  }
}
