package graft

import org.apache.spark.sql.functions._

import graft.functions.{HashFns, TextFns}
import graft.io.Tables
import graft.ops.{Dedup, Skew}

/** Thirty-fourth query wave: planning artifacts — the dedup ROI table
  * across whole-document tiers (q232) and the join-amplification
  * pre-flight audit (q233).
  */
object Queries34 {

  /** Dedup policy ROI: documents and tokens removed per whole-doc tier
    * of increasing aggression — exact md5, digit-folded skeleton (q221),
    * 5-token opening prefix (q180/q222). The table a dedup-policy review
    * reads before choosing how hard to cut. */
  val q232DedupRoi: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val exact = Dedup.dedupRoi(d, "doc_id", "text", "1_exact",
      HashFns.md5Hex(Dedup.normalized(col("text"))))
    val skel = Dedup.dedupRoi(d, "doc_id", "text", "2_skeleton",
      md5(regexp_replace(regexp_replace(lower(trim(col("text"))),
        "[0-9]+", "0"), "\\s+", " ")))
    val prefix = Dedup.dedupRoi(d, "doc_id", "text", "3_prefix5",
      md5(array_join(slice(TextFns.wordTokens(col("text")), 1, 5), " ")))
    exact.unionByName(skel).unionByName(prefix).orderBy("tier")
  }

  val q232Sql: String = {
    def tier(name: String, fpSql: String): String =
      s"""SELECT '$name' AS tier, count(*)::BIGINT AS n_docs,
         |  sum(tk)::BIGINT AS n_tokens,
         |  sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)::BIGINT
         |    AS docs_removed,
         |  sum(CASE WHEN doc_id <> keep THEN tk ELSE 0 END)::BIGINT
         |    AS tokens_removed,
         |  (sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END) * 1000000
         |    // count(*))::BIGINT AS docs_ppm,
         |  (sum(CASE WHEN doc_id <> keep THEN tk ELSE 0 END) * 1000000
         |    // sum(tk))::BIGINT AS tokens_ppm
         |FROM (SELECT doc_id, tk,
         |    min(doc_id) OVER (PARTITION BY $fpSql) AS keep
         |  FROM d)""".stripMargin
    s"""WITH d AS (SELECT doc_id, text,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS tk
       |  FROM documents)
       |SELECT * FROM (
       |${tier("1_exact", "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))")}
       |UNION ALL
       |${tier("2_skeleton", "md5(regexp_replace(regexp_replace(lower(trim(text)), '[0-9]+', '0', 'g'), '\\s+', ' ', 'g'))")}
       |UNION ALL
       |${tier("3_prefix5", "md5(array_to_string(string_split_regex(lower(trim(text)), '\\s+')[1:5], ' '))")})
       |ORDER BY tier""".stripMargin
  }

  /** Join-amplification pre-flight for events ⋈ orders on the shared
    * customer/user key space: the top-20 keys by output contribution —
    * the salting / AQE-skew-tuning decision input. */
  val q233JoinAmplification: Q = (spark, dir) =>
    Skew.joinAmplification(Tables.events(spark, dir),
        Tables.orders(spark, dir), "user_id", "o_custkey", topK = 20)

  val q233Sql: String =
    """WITH l AS (SELECT user_id AS key, count(*)::BIGINT AS n_left
      |  FROM events GROUP BY 1),
      |r AS (SELECT o_custkey AS key, count(*)::BIGINT AS n_right
      |  FROM orders GROUP BY 1),
      |j AS (SELECT l.key, l.n_left, r.n_right,
      |    (CASE WHEN l.n_left <= 9223372036854775807 // r.n_right
      |      THEN l.n_left * r.n_right
      |      ELSE 9223372036854775807 END)::BIGINT AS out_rows
      |  FROM l JOIN r USING (key)),
      |t AS (SELECT sum(out_rows) AS tot FROM j)
      |SELECT key, n_left, n_right, out_rows,
      |  (CASE WHEN t.tot <= 9223372036854
      |    THEN out_rows * 1000000 // t.tot::BIGINT
      |    ELSE out_rows // (t.tot // 1000000)::BIGINT END)::BIGINT
      |    AS share_ppm
      |FROM j CROSS JOIN t
      |ORDER BY out_rows DESC, key ASC LIMIT 20""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q232_dedup_roi", q232DedupRoi, q232Sql),
    QueryDef("q233_join_amplification", q233JoinAmplification, q233Sql))
}
