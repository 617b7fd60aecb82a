package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Rag, Shard}

/** Fortieth query wave: deploy-path sharding and the groundedness span
  * sweep — jump consistent hashing as the O(log n)-per-row shard
  * assignment (q253), the three-scheme resharding-stability report
  * (q254), and the span-size sweep of the groundedness audit (q255).
  */
object Queries40 {

  /** Per-document jump-consistent-hash shard assignment at 64 shards —
    * the deploy spelling for four-digit shard counts (O(log n) LCG steps
    * per row vs rendezvous's O(n) digests). Pure integer/IEEE-double
    * arithmetic, so the oracle re-spells the paper's loop exactly as a
    * recursive CTE and the compare is bit-exact per document.
    * [[graft.ops.Shard.jumpShard]]. */
  val q253JumpShard: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), Shard.jumpShard(col("doc_id"), 64).as("shard"))
      .orderBy("doc_id")

  /** The Lamping & Veach 2014 loop as a recursive CTE: base row
    * (key, b=−1, j=0), each step advances the unsigned-64 LCG (HUGEINT
    * modular multiply — DuckDB UBIGINT arithmetic errors on overflow
    * rather than wrapping) and jumps `j` by the paper's double formula in
    * the SAME operand association the Scala kernel uses; the terminal row
    * per doc is the first with j >= n. The base row reinterprets the
    * signed id as unsigned via HUGEINT mod-2^64 (ADVICE r15: a plain
    * `doc_id::UBIGINT` errors on negative ids, while the Scala kernel
    * accepts any Long bit pattern — this spelling agrees on the full
    * signed domain, not just the fixture's non-negative ids). */
  private def jumpCteSql(name: String, n: Int): String =
    jumpCteSqlOn(name, n, "doc_id", "doc_id")

  /** [[jumpCteSql]] parameterized on the carried id column and the long
    * key expression (both columns of the caller's `ids` CTE) — q263's
    * string-key route feeds the md5Long hash of the key here. */
  private[graft] def jumpCteSqlOn(name: String, n: Int, idCol: String,
      keyExpr: String): String =
    s"""$name AS (
       |  SELECT $idCol,
       |    ((($keyExpr)::HUGEINT % 18446744073709551616
       |        + 18446744073709551616)
       |      % 18446744073709551616)::UBIGINT AS k,
       |    -1::BIGINT AS b, 0::BIGINT AS j
       |  FROM ids
       |  UNION ALL
       |  SELECT $idCol, k2, j AS b,
       |    floor((j + 1) * (2147483648.0 / ((k2 >> 33) + 1)::DOUBLE))::BIGINT
       |  FROM (SELECT $idCol, j,
       |          ((k::HUGEINT * 2862933555777941757 + 1)
       |            % 18446744073709551616)::UBIGINT AS k2
       |        FROM $name WHERE j < $n))""".stripMargin

  val q253Sql: String =
    s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
       |${jumpCteSql("jmp", 64)}
       |SELECT doc_id, b::BIGINT AS shard FROM jmp WHERE j >= 64
       |ORDER BY doc_id""".stripMargin

  /** Three-scheme resharding-stability report for a 64 → 80 grow:
    * mod-hash moves ~79% of documents, rendezvous AND jump both move the
    * provable ≈ 1 − 64/80 = 20% minimum — but jump pays ~log n integer
    * steps per row where rendezvous pays n digests.
    * [[graft.ops.Shard.reshardStability3]]. */
  val q254ReshardThree: Q = (spark, dir) =>
    Shard.reshardStability3(
        Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", nOld = 64, nNew = 80)
      .orderBy("scheme")

  /** Jump shard of every id before and after the grow, as
    * `jf(<k>, sj_old, sj_new)` over the `j64`/`j80` jump CTEs. */
  private[graft] def jumpMovesCte(k: String): String =
    s"""jf AS (SELECT x.$k, x.b AS sj_old, y.b AS sj_new
       |  FROM (SELECT $k, b FROM j64 WHERE j >= 64) x
       |  JOIN (SELECT $k, b FROM j80 WHERE j >= 80) y USING ($k))""".stripMargin

  /** The moved share per scheme (mod from `md`'s `hv`, rendezvous from
    * `mv`, jump from `jf`), joined on the id column `k` (q254, q269). */
  private[graft] def threeSchemeMovesSql(k: String): String =
    s"""g AS (SELECT count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN (hv % 64) <> (hv % 80) THEN 1 ELSE 0 END)::BIGINT
       |      AS mod_moved,
       |    sum(CASE WHEN rdv_old <> rdv_new THEN 1 ELSE 0 END)::BIGINT
       |      AS rdv_moved,
       |    sum(CASE WHEN sj_old <> sj_new THEN 1 ELSE 0 END)::BIGINT
       |      AS jmp_moved
       |  FROM mv JOIN md USING ($k) JOIN jf USING ($k)),
       |u AS (SELECT 'mod' AS scheme, n_docs, mod_moved AS n_moved FROM g
       |  UNION ALL SELECT 'rendezvous', n_docs, rdv_moved FROM g
       |  UNION ALL SELECT 'jump', n_docs, jmp_moved FROM g)
       |${Queries37.movedPpmSelect}""".stripMargin

  val q254Sql: String =
    s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
       |${jumpCteSql("j64", 64)},
       |${jumpCteSql("j80", 80)},
       |${jumpMovesCte("doc_id")},
       |${Queries37.rendezvousMovesCte("doc_id", "i.doc_id::VARCHAR")},
       |md AS (SELECT doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
       |  FROM ids),
       |${threeSchemeMovesSql("doc_id")}""".stripMargin

  /** Span-size sweep of the groundedness rollup over the q251 inputs:
    * n ∈ {3, 4, 5} in one plan — how the extractive-hallucination ppm
    * moves with span strictness. [[graft.ops.Rag.groundednessSweep]]. */
  val q255GroundednessSweep: Q = (spark, dir) => q255With(spark, dir, 50L)

  private[graft] def q255With(spark: SparkSession, dir: String,
      queryMod: Long): DataFrame = {
    val (answers, context) = Queries39.groundednessInputs(spark, dir, queryMod)
    Rag.groundednessSweep(answers, "q_id", "answer",
        context, "text", ns = Seq(3, 4, 5))
      .orderBy("n")
  }

  val q255Sql: String = q255SqlWith(50L)

  private[graft] def q255SqlWith(queryMod: Long): String =
    s"""WITH ${Queries39.baseCtesWith(queryMod)},
       |ns(n) AS (VALUES (3), (4), (5)),
       |atk AS (SELECT q_id, string_split_regex(lower(trim(answer)), '\\s+')
       |    AS t FROM ans),
       |asp2 AS MATERIALIZED (SELECT q_id, n,
       |    CASE WHEN len(t) >= n THEN list_distinct(list_transform(
       |           generate_series(1, len(t) - n + 1),
       |           i -> array_to_string(t[i : i + n - 1], ' ')))
       |         ELSE []::VARCHAR[] END AS sp
       |  FROM atk CROSS JOIN ns),
       |tot2 AS (SELECT n::BIGINT AS n, count(*)::BIGINT AS n_answers,
       |    sum(len(sp))::BIGINT AS n_spans FROM asp2 GROUP BY 1),
       |ctk AS (SELECT q_id, string_split_regex(lower(trim(text)), '\\s+')
       |    AS t FROM ctx),
       |ce AS MATERIALIZED (SELECT DISTINCT q_id, n, unnest(
       |    CASE WHEN len(t) >= n THEN list_distinct(list_transform(
       |           generate_series(1, len(t) - n + 1),
       |           i -> array_to_string(t[i : i + n - 1], ' ')))
       |         ELSE []::VARCHAR[] END) AS span
       |  FROM ctk CROSS JOIN ns),
       |ae AS (SELECT q_id, n, unnest(sp) AS span FROM asp2),
       |sup2 AS (SELECT n::BIGINT AS n, count(*)::BIGINT AS n_supported
       |  FROM ae JOIN ce USING (q_id, n, span) GROUP BY 1)
       |SELECT t.n, t.n_answers, t.n_spans,
       |  coalesce(s.n_supported, 0)::BIGINT AS n_supported,
       |  (CASE WHEN t.n_spans > 0
       |        THEN (t.n_spans - coalesce(s.n_supported, 0)) * 1000000
       |             // t.n_spans
       |        ELSE 0 END)::BIGINT AS unsupported_ppm
       |FROM tot2 t LEFT JOIN sup2 s USING (n) ORDER BY t.n""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q253_jump_shard", q253JumpShard, q253Sql),
    QueryDef("q254_reshard_three", q254ReshardThree, q254Sql),
    QueryDef("q255_groundedness_sweep", q255GroundednessSweep, q255Sql))
}
