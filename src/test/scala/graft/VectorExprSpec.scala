package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.expr.VectorExprs
import graft.functions.VectorFns

/** The fused codegen kernels must be BITWISE identical to the HOF reference
  * forms (same left-to-right double accumulation) — the oracle hash-compare
  * depends on it. */
class VectorExprSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rng.nextFloat() * 2f - 1f)))
  }

  test("CosineSim is bitwise-equal to the HOF cosine on random float vectors") {
    val df = randVecs(200, 64, 7L).toDF("id", "v")
    val pairs = df.as("a").join(df.as("b"), $"a.id" < $"b.id" && $"a.id" + 150 > $"b.id")
    val out = pairs.select(
      VectorExprs.cosine($"a.v", $"b.v").as("fused"),
      VectorFns.cosineHof($"a.v", $"b.v").as("hof"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("CosineSim edge cases: zero vector → 0.0, length mismatch → null, null → null") {
    val df = Seq(
      (1L, Seq(0f, 0f), Seq(1f, 2f)),     // zero norm → 0.0
      (2L, Seq(1f, 2f), Seq(1f, 2f, 3f)), // length mismatch → null
      (3L, Seq(1f, 2f), null)             // null vector → null
    ).toDF("id", "a", "b")
    val rows = df.select($"id", VectorExprs.cosine($"a", $"b").as("sim"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows(1L).contains(0.0))
    assert(rows(2L).isEmpty)
    assert(rows(3L).isEmpty)
  }

  test("CosineSim self-similarity is 1 (to 1e-12) and symmetric") {
    val df = randVecs(50, 16, 11L).toDF("id", "v")
    val self = df.select(VectorExprs.cosine($"v", $"v").as("s")).as[Double].collect()
    self.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("DotProduct matches HOF dot bitwise") {
    val df = randVecs(100, 32, 13L).toDF("id", "v")
    val pairs = df.as("a").join(df.as("b"), $"a.id" < $"b.id" && $"a.id" + 80 > $"b.id")
    pairs.select(
      VectorExprs.dot($"a.v", $"b.v").as("fused"),
      VectorFns.dot($"a.v", $"b.v").as("hof"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
  }

  test("SignRpBuckets: codegen and interpreted eval agree; keys in range; deterministic") {
    val planes = VectorExprs.rademacherPlanes(numPlanes = 12, dim = 16, seed = 42L)
    val df = randVecs(100, 16, 17L).toDF("id", "v")
    def keys(): Seq[(Long, Seq[Long])] = {
      df.select($"id", VectorExprs.signRpBuckets($"v", planes, 4, 1000.0).as("k"))
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    }
    val k1 = keys()
    assert(k1.forall { case (_, ks) => ks.length == 3 && ks.forall(k => k >= 0 && k < 16) })
    assert(k1 == keys()) // deterministic across plans/runs
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevMode = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    // without NO_CODEGEN, projections still compile the expression's code
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(k1 == keys()) // interpreted eval matches codegen
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevMode)
    }
  }

  test("rpLshNearDup pairs are a subset of the exact near-dup pairs at the same threshold") {
    val e = io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planes = Queries3.rpPlanes
    val rp = ops.Similarity.rpLshNearDup(e, "vec_id", "embedding", planes, Queries3.rpBits, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = ops.Similarity.nearDupPairsExact(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(rp.nonEmpty, "LSH should surface at least one candidate pair on the fixture")
    assert(rp.subsetOf(exact), "every LSH-verified pair must be an exact pair")
  }

  test("CosineSim works in interpreted (non-codegen) eval too") {
    // force interpreted path by evaluating through a filter on a tiny plan
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevMode = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    // without NO_CODEGEN, projections still compile the expression's code
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val df = randVecs(20, 8, 3L).toDF("id", "v")
      val out = df.as("a").join(df.as("b"), $"a.id" < $"b.id")
        .select(VectorExprs.cosine($"a.v", $"b.v").as("fused"),
          VectorFns.cosineHof($"a.v", $"b.v").as("hof"))
        .collect()
      out.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevMode)
    }
  }
}
