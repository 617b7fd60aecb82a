package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.expr.VectorExprs

/** The fused codegen kernels must be BITWISE identical to the HOF reference
  * forms (same left-to-right double accumulation) — the oracle hash-compare
  * depends on it. */
class VectorExprSpec extends SparkSpec with TableDrivenPropertyChecks
    with AdaptiveSparkPlanHelper {
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
      Reference.cosineHof($"a.v", $"b.v").as("hof"))
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
      Reference.dot($"a.v", $"b.v").as("hof"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
  }

  test("SignRpBuckets: codegen and interpreted eval agree; keys in range; deterministic") {
    val planes = VectorExprs.rademacherPlanes(numPlanes = 12, dim = 16, seed = 42L)
    val df = randVecs(100, 16, 17L).toDF("id", "v")
    def keys(): Seq[(Long, Seq[Long])] = {
      df.select($"id", VectorExprs.signRpBuckets($"v", planes, 4).as("k"))
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

  /** The all-tables spelling of [[ops.Similarity.rpLshNearDup]]: join on
    * every (table, bucket), `distinct` the pairs, verify. */
  private def rpLshAllTables(e: DataFrame, threshold: Double): DataFrame = {
    val keyed = e.select(col("vec_id"), posexplode(VectorExprs.signRpBuckets(
      col("embedding"), Queries3.rpPlanes, Queries3.rpBits)).as(Seq("t", "key")))
    val cand = keyed.select(col("t"), col("key"), col("vec_id").as("id_a"))
      .join(keyed.select(col("t"), col("key"), col("vec_id").as("id_b")), Seq("t", "key"))
      .filter(col("id_a") < col("id_b"))
    val emb = e.select(col("vec_id"), col("embedding"))
    cand.select(col("id_a"), col("id_b")).distinct()
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b")), Seq("id_b"))
      .withColumn("sim", round(VectorExprs.cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  test("rpLshNearDup emits each candidate once, from its first shared table") {
    val e = io.Tables.embeddings(spark, sfDir)
    // sim >= -2 keeps every candidate, so the output IS the candidate set
    val got = ops.Similarity.rpLshNearDup(e, "vec_id", "embedding",
      Queries3.rpPlanes, Queries3.rpBits, -2.0).as[(Long, Long, Double)].collect()
    val want = rpLshAllTables(e, -2.0).as[(Long, Long, Double)].collect()
    assert(got.sorted.toSeq == want.sorted.toSeq)
    // the fixture has pairs sharing a bucket in several tables, which the
    // first-table rule must emit once
    val keys = e.select(col("vec_id"), VectorExprs.signRpBuckets(
        col("embedding"), Queries3.rpPlanes, Queries3.rpBits).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(want.exists { case (a, b, _) => keys(a).zip(keys(b)).count(p => p._1 == p._2) > 1 })
  }

  test("rpLshNearDup runs on one (t, key) exchange pinned to the shuffle parallelism") {
    val e = io.Tables.embeddings(spark, sfDir)
    def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
      df.collect()
      collect(df.queryExecution.executedPlan) { case x: ShuffleExchangeExec => x }
    }
    def pinned(xs: Seq[ShuffleExchangeExec]): Set[(Seq[String], Int)] =
      xs.filter(_.shuffleOrigin == REPARTITION_BY_NUM).map(_.outputPartitioning).collect {
        case p: HashPartitioning => (p.expressions.map(_.references.head.name), p.numPartitions)
      }.toSet
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def rp = ops.Similarity.rpLshNearDup(e, "vec_id", "embedding",
      Queries3.rpPlanes, Queries3.rpBits, 0.3)
    // broadcast scale (this fixture): the bucket exchange and nothing else,
    // as many as the all-tables spelling, whose bucket join broadcasts
    // straight from the scan and whose only exchange is the `distinct`'s
    val small = shuffles(rp)
    assert(pinned(small) == Set((Seq("t", "key"), n)) && small.size == 1, small)
    assert(shuffles(rpLshAllTables(e, 0.3)).size == 1)
    // shuffle-join scale: still the one exchange, where the all-tables
    // spelling shuffles for its bucket join, its `distinct` and both
    // verify joins
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = shuffles(rp)
      assert(pinned(big) == Set((Seq("t", "key"), n)) && big.size == 1, big)
      assert(shuffles(rpLshAllTables(e, 0.3)).size > 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("BucketPairs orders ids, skips equal and null members, and keeps the first table") {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("keys", ArrayType(LongType)), StructField("vec", ArrayType(DoubleType))))
    val v = Seq(1.0, 0.0)
    val members = Seq(
      Row("b", Seq(7L, 5L), v), Row("a", Seq(8L, 5L), v), // first share table 1
      Row("c", Seq(7L, 5L), v),                             // shares table 0 with "b"
      Row("a", Seq(9L, 5L), v), Row(null, Seq(1L, 5L), v), Row("d", Seq(2L, 5L), null),
      Row("e", Seq(3L, 5L), Seq(-1.0, 0.0)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(members, 1))),
      StructType(Seq(StructField("m", ArrayType(schema)), StructField("t", IntegerType))))
    def pairs(floor: Double) = df.select(explode(VectorExprs.bucketPairs(col("m"), col("t"),
      floor)).as("p")).select("p.*").as[(String, String, Double)].collect().sorted.toSeq
    // (b, c) agree at table 0, so table 1 skips them; the two "a" rows pair
    // with everyone but each other; null ids and null vectors pair with none
    assert(pairs(0.5) == Seq(("a", "b", 1.0), ("a", "b", 1.0), ("a", "c", 1.0), ("a", "c", 1.0)))
    assert(pairs(-2.0).count(_._2 == "e") == 4 && pairs(-2.0).forall(_._3 >= -1.0))
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
          Reference.cosineHof($"a.v", $"b.v").as("hof"))
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
