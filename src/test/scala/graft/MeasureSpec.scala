package graft

import org.apache.spark.sql.functions.{lit, raise_error}

import graft.tools.Measure

/** Each `Measure` mode on the shared session: the CLI is a thin argument
  * parser over these functions. */
class MeasureSpec extends SparkSpec {
  // one scan, a partial and a final aggregate, one Exchange between them
  private val q = SparkEntry.queries("q50_rollup")

  test("time returns reps positive durations") {
    val runs = Measure.time(spark, sfDir, 3, q)
    assert(runs.size == 3)
    assert(runs.forall(_ > 0), runs)
  }

  test("ab leaves the session conf exactly as it was") {
    val before = spark.conf.getAll
    val (a, b) = Measure.ab(spark, sfDir, 2, q, Seq(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
    assert(a.size == 2 && b.size == 2)
    assert(spark.conf.getAll == before)
  }

  test("profile counts agree across two consecutive reps of a shuffling query") {
    assert(Measure.plan(spark, sfDir, q).contains("Exchange"))
    val Seq(r1, r2) = Measure.profile(spark, sfDir, 2, q).reps
    assert(r1.jobs >= 1 && r1.stages >= 2 && r1.tasks >= r1.stages, r1)
    assert((r1.jobs, r1.stages, r1.tasks) == (r2.jobs, r2.stages, r2.tasks),
      s"$r1 vs $r2")
  }

  test("time, ab and profile evaluate every output column") {
    // a count() prunes the column and returns 3; running the query as a
    // whole must evaluate it and fail
    val raising: Q = (s, _) =>
      s.range(3).select(raise_error(lit("evaluated")).as("x"))
    val runs: Seq[() => Any] = Seq(
      () => Measure.time(spark, sfDir, 1, raising),
      () => Measure.ab(spark, sfDir, 1, raising, Nil),
      () => Measure.profile(spark, sfDir, 1, raising))
    for (r <- runs) {
      val e = intercept[Exception](r())
      assert(e.getMessage.contains("evaluated"), e)
    }
  }

  test("executed prints the final adaptive plan, plan the formatted scan") {
    assert(Measure.executed(spark, sfDir, q).contains("isFinalPlan=true"))
    val formatted = Measure.plan(spark, sfDir, q)
    assert(formatted.startsWith("== Physical Plan =="))
    assert(formatted.contains("Scan parquet"))
  }
}
