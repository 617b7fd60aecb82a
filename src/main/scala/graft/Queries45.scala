package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Shard

/** Forty-fifth query wave: STRING-KEY jump sharding — the r15 verdict
  * task. [[graft.ops.Shard.jumpShard]] keys on the integer id, so
  * string-keyed tables (URLs, uuids, composite ids) had no deploy-path
  * assignment; [[graft.ops.Shard.jumpShardStr]] hashes the key through
  * the portable md5Long spelling and feeds the same O(log n) jump loop.
  * q263 is the per-row assignment, hash-checked against the recursive-CTE
  * oracle running on the SAME hashed key; q264 is the three-scheme
  * balance audit over the string key (mod and rendezvous already hash
  * strings; the jump route goes through md5Long), so the cheap scheme is
  * balance-checked on the key type it will actually deploy against.
  */
object Queries45 {

  /** The synthetic string key both queries shard on: `source:doc_id` —
    * unique per document, non-numeric, and spelled identically in the
    * oracle. */
  private def strKey(d: Column, source: Column): Column =
    concat(source, lit(":"), d.cast("string"))

  private val strKeySql: String = "source || ':' || doc_id::VARCHAR"

  /** md5Long(key) in DuckDB — the repo's portable 32-bit mod-hash
    * spelling. */
  private val hashedKeySql: String =
    s"('0x' || substr(md5($strKeySql), 1, 8))::BIGINT"

  /** Per-document string-key jump assignment at 64 shards.
    * [[graft.ops.Shard.jumpShardStr]]. */
  val q263JumpShardStr: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Shard.jumpShardStr(strKey(col("doc_id"), col("source")), 64)
          .as("shard"))
      .orderBy("doc_id")

  val q263Sql: String =
    s"""WITH RECURSIVE ids AS (
       |  SELECT doc_id, $hashedKeySql AS hk FROM documents),
       |${Queries40.jumpCteSqlOn("jmp", 64, "doc_id", "hk")}
       |SELECT doc_id, b::BIGINT AS shard FROM jmp WHERE j >= 64
       |ORDER BY doc_id""".stripMargin

  /** Three-scheme shard-balance audit over the STRING key at 64 shards —
    * the q257 report with the jump route going through md5Long.
    * [[graft.ops.Shard.shardBalance]]. */
  val q264ShardBalanceStr: Q = (spark, dir) =>
    Shard.shardBalance(
        Tables.documents(spark, dir)
          .select(strKey(col("doc_id"), col("source")).as("key")),
        "key", numShards = 64)
      .orderBy("scheme")

  val q264Sql: String =
    s"""WITH RECURSIVE ids AS (
       |  SELECT $strKeySql AS key, $hashedKeySql AS hk FROM documents),
       |${Queries40.jumpCteSqlOn("jmp", 64, "key", "hk")},
       |asg AS (
       |  SELECT 'mod' AS scheme,
       |    ('0x' || substr(md5(key), 1, 8))::BIGINT % 64 AS shard
       |  FROM ids
       |  UNION ALL
       |  SELECT 'rendezvous', arg_max(t.s,
       |      md5(i.key || ':' || t.s::VARCHAR))
       |  FROM ids i CROSS JOIN range(64) t(s) GROUP BY i.key
       |  UNION ALL
       |  SELECT 'jump', b FROM jmp WHERE j >= 64),
       |${Queries41.shardBalanceSql}""".stripMargin

  /** Three-scheme resharding-stability report over the STRING key for a
    * 64 → 80 grow — q254's report on the string deploy path, completing
    * the family (q263 assignment, q264 balance, q269 reshard): mod moves
    * ~79%, rendezvous AND jump both move ≈ the 20% minimum, with jump's
    * route going through md5Long. [[graft.ops.Shard.reshardStability3]]. */
  val q269ReshardThreeStr: Q = (spark, dir) =>
    graft.ops.Shard.reshardStability3(
        Tables.documents(spark, dir)
          .select(strKey(col("doc_id"), col("source")).as("key")),
        "key", nOld = 64, nNew = 80)
      .orderBy("scheme")

  val q269Sql: String =
    s"""WITH RECURSIVE ids AS (
       |  SELECT $strKeySql AS key, $hashedKeySql AS hk FROM documents),
       |${Queries40.jumpCteSqlOn("j64", 64, "key", "hk")},
       |${Queries40.jumpCteSqlOn("j80", 80, "key", "hk")},
       |${Queries40.jumpMovesCte("key")},
       |${Queries37.rendezvousMovesCte("key", "i.key")},
       |md AS (SELECT key, hk AS hv FROM ids),
       |${Queries40.threeSchemeMovesSql("key")}""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q263_jump_shard_str", q263JumpShardStr, q263Sql),
    QueryDef("q264_shard_balance_str", q264ShardBalanceStr, q264Sql),
    QueryDef("q269_reshard_three_str", q269ReshardThreeStr, q269Sql))
}
