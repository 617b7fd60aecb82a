package graft

import org.apache.spark.sql.functions._

import graft.ops.{Components, Decontaminate}

/** Two-phase bloom decontamination (q103) and quality-aware dedup
  * survivor selection (q104's kernel). */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("spanLeakAudit hand corpus: leaked span found, position math, hottest-leak count") {
    // train: two docs sharing the 4-token span "a b c d"; eval doc 10
    // embeds that span once among 6 tokens -> 3 spans, 1 leaked, hottest
    // leak appears in 2 train docs; eval doc 11 is clean; doc 12 sub-k
    val train = Seq(
      (1L, "a b c d x y"),
      (2L, "z a b c d"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val evalSet = Seq(
      (10L, "w a b c d v"),
      (11L, "m n o p q r"),
      (12L, "a b")).toDF("eval_id", "text")
    val got = Decontaminate.spanLeakAudit(train, "doc_id", evalSet, "eval_id",
        "text", k = 4)
      .orderBy("eval_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (10L, 3L, 1L, 2L, 333333L),
      (11L, 3L, 0L, 0L, 0L),
      (12L, 0L, 0L, 0L, 0L)))
  }

  test("bloomDropList equals the exact no-bloom spelling (bloom only prunes)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bloom = Decontaminate.bloomDropList(docs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sorted.toSeq
    val exact = Reference.exactDropList(docs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(bloom == exact)
    // and the fixture actually exercises the path (a leak exists)
    assert(bloom.nonEmpty)
  }

  test("bloomDropList is reentrant: concurrent calls on one session, different inputs") {
    // Regression: the r6 form registered fixed session-global temp views, so
    // two in-flight invocations clobbered each other's inputs. The pure-plan
    // form must keep concurrent calls on DIFFERENT inputs independent.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val half = docs.filter($"doc_id" % 2 === 0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fFull = Future(Decontaminate.bloomDropList(docs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sorted.toSeq)
    val fHalf = Future(Decontaminate.bloomDropList(half, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sorted.toSeq)
    val (full, halfRes) = (Await.result(fFull, 120.seconds), Await.result(fHalf, 120.seconds))
    assert(full == Reference.exactDropList(docs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sorted.toSeq)
    assert(halfRes == Reference.exactDropList(half, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sorted.toSeq)
    // and no catalog residue from either invocation
    assert(spark.catalog.listTables().filter($"name".startsWith("graft_decon")).isEmpty)
  }

  test("bloom prefilter sits below the exact verify join in the plan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Decontaminate.bloomDropList(docs, "doc_id", "text", n = 5)
    val plan = df.queryExecution.optimizedPlan.toString()
    // the bloom predicate must survive optimization as a Filter (the
    // map-side prune) and the verify must be a LeftSemi join — if either
    // degrades, the scale story is gone
    assert(plan.contains("might_contain"), s"bloom filter optimized away:\n$plan")
    assert(plan.contains("LeftSemi"), s"exact verify join missing:\n$plan")
    // the bloom build is a scalar subquery, not a driver collect
    assert(plan.contains("scalar-subquery"), s"bloom not a scalar subquery:\n$plan")
  }

  test("applyVerdicts: survivors are exactly train minus dropped minus gated") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = Decontaminate.bloomDropList(docs, "doc_id", "text", n = 5)
    val gateFail = Reference.gateVerdicts(docs, "doc_id", "text",
        maxDupLinePpm = 300000L, maxDupLineCharPpm = 200000L,
        maxTopBigramPpm = 180000L)
      .filter(!$"gate_pass").select("doc_id")
    val out = Decontaminate.applyVerdicts(docs, "doc_id", drop, gateFail)

    val trainIds = graft.ops.Vocab.splitAssign(docs, "doc_id")
      .filter($"split" === "train").select("doc_id").as[Long].collect().toSet
    val dropIds = drop.select("doc_id").as[Long].collect().toSet
    val gateIds = gateFail.as[Long].collect().toSet
    val verdicts = out.select($"doc_id", $"removal_reason", $"keep")
      .as[(Long, String, Boolean)].collect()

    // verdict frame covers exactly the train split, once per doc
    assert(verdicts.map(_._1).toSet == trainIds)
    assert(verdicts.length == trainIds.size)
    // survivors = train \ (drop ∪ gated); reasons partition correctly
    val survivors = verdicts.filter(_._3).map(_._1).toSet
    assert(survivors == trainIds -- dropIds -- gateIds)
    verdicts.foreach { case (id, reason, keep) =>
      val expected =
        if (dropIds(id) && gateIds(id)) "contaminated+gated"
        else if (dropIds(id)) "contaminated"
        else if (gateIds(id)) "gated"
        else "kept"
      assert(reason == expected && keep == (expected == "kept"))
    }
    // schema passthrough: original columns survive annotation
    assert(Seq("doc_id", "text", "lang", "source", "n_chars")
      .forall(out.columns.contains))
  }

  test("canonicalizeBy: highest score survives, ties break to smallest id") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (7L, 7L), (9L, 7L),           // cluster 7: tie on score
      (5L, 5L))                     // singleton
      .toDF("id", "component")
    val scores = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L),
      (7L, 42L), (9L, 42L),
      (5L, 1L)).toDF("id", "score")
    val out = Components.canonicalizeBy(clusters, "id", scores, "score")
      .select($"id", $"component", $"comp_size", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(2L) == ((2L, 1L, 3L, true)))   // best quality wins, not min id
    assert(!out(1L)._4 && !out(3L)._4)
    assert(out(7L)._4 && !out(9L)._4)         // tie → smallest id
    assert(out(5L) == ((5L, 5L, 1L, true)))   // singleton keeps itself
    // exactly one survivor per component
    val perComp = out.values.groupBy(_._2).map { case (c, rs) => c -> rs.count(_._4) }
    assert(perComp.values.forall(_ == 1))
  }

  test("canonicalizeBy plans the winner as an aggregate, not a window") {
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val scores = Seq((1L, 1L), (2L, 2L)).toDF("id", "score")
    val plan = Components.canonicalizeBy(clusters, "id", scores, "score")
      .queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Window"), s"unexpected window sort:\n$plan")
  }
}
