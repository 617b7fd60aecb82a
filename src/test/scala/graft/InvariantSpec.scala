package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Embed, Similarity}

/** Invariant tests for the operators excluded from the SQL oracle
  * (SURVEY.md §5.2.3): the hashing embedder, MinHash LSH recall, the LSH
  * sizing rule and Spark's approximate aggregates. */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  test("hashing embedder: unit norm, fixed dim, deterministic per text") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "")).toDF("doc_id", "text")
    val out = df.select($"doc_id", Embed.hashingEmbed($"text", 16).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(out.values.forall(_.size == 16))
    assert(out(1L) == out(2L))
    val norm = math.sqrt(out(1L).map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4) // rounded to 6dp per component
    // empty text normalizes to the single token "" → a one-hot unit vector
    assert(out(3L).count(_ == 1.0) == 1 && out(3L).count(_ == 0.0) == 15)
  }

  test("approx_count_distinct tracks the exact distinct count within its error bound") {
    // the HLL++ sketch can't be hash-compared against another engine
    // (q59's oracle uses the exact form); pin its accuracy here instead
    val e = graft.io.Tables.events(spark, sfDir)
    val rows = e.groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("exact"),
        approx_count_distinct($"user_id", rsd = 0.02).as("approx"))
      .select($"exact", $"approx").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (exact, approx) =>
      assert(math.abs(approx - exact) <= math.max(3.0, exact * 0.08),
        s"approx=$approx exact=$exact")
    }
  }

  test("percentile_approx tracks the exact percentile within its accuracy bound") {
    // q87's oracle uses the exact Hive-interpolation percentile; the
    // 100 TB path is the sketch form — pin its accuracy here instead
    val d = graft.io.Tables.documents(spark, sfDir)
    val rows = d.groupBy($"lang")
      .agg(
        expr("percentile(n_chars, array(0.5D, 0.9D))").as("exact"),
        expr("percentile_approx(n_chars, array(0.5D, 0.9D), 10000)").as("approx"),
        (max($"n_chars") - min($"n_chars")).as("range"))
      .select($"exact", $"approx", $"range")
      .as[(Seq[Double], Seq[Double], Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (exact, approx, range) =>
      exact.zip(approx).foreach { case (e2, a2) =>
        assert(math.abs(a2 - e2) <= math.max(1.0, range * 0.02),
          s"approx=$a2 exact=$e2 range=$range")
      }
    }
  }

  test("MinHash LSH pairs are a superset-filtered subset of true near-dups") {
    // construct docs where 1-2 are true near-dups, 3 unrelated
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = base + " extra"
    val far = (1 to 60).map(i => s"z$i").mkString(" ")
    val pairs = Dedup.minHashLshPairs(
      Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text"),
      "doc_id", "text", 12, 4, 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("lshBitsFor holds bucket occupancy constant and reproduces the fixture resolution") {
    // the fixture corpora (<=5k vectors) must land on the registered 6 bits
    assert(Similarity.lshBitsFor(50) == 6)
    assert(Similarity.lshBitsFor(500) == 6)
    assert(Similarity.lshBitsFor(5000) == 6)
    // 64x the sf0.1 corpus: 320k / 80 = 4000 buckets -> 12 bits
    assert(Similarity.lshBitsFor(320000) == 12)
    // occupancy n / 2^bits stays within [target/2, target] above the floor
    Seq(100000L, 1000000L, 100000000L, 10000000000L).foreach { n =>
      val occ = n.toDouble / (1L << Similarity.lshBitsFor(n))
      assert(occ <= 80.0 && occ > 40.0, s"n=$n occupancy=$occ")
    }
  }

  test("q83 registered plan is exactly q83PipelineWith at the default resolution") {
    val reg = Queries6.q83PipelineGolden(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val param = Queries6.q83PipelineWith(spark, sfDir, Queries3.rpPlanes, Queries3.rpBits)
      .queryExecution.optimizedPlan.toString
    // localCheckpoint plan ids differ per instance; compare shape modulo ids
    def shape(s: String) = s.replaceAll("#\\d+L?", "#id").replaceAll("rdd_\\d+", "rdd_n")
    assert(shape(reg) == shape(param))
  }
}
