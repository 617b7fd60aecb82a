package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Rag, Similarity}

/** Tests of the benchmark's own machinery: the fingerprint canon, the
  * serving brute-force checker against the engine, and the listener's
  * counts on plans of known shape. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val base = "data/sf0.01"
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("b", DoubleType), StructField("a", StringType),
    StructField("c", ArrayType(LongType))))

  test("fingerprint ignores row order and rounds floats to 6 places") {
    val rows = Seq(Row(1.0000004, "x", Seq(2L, 1L)), Row(null, "y", null))
    val fp = Fingerprint.of(schema, rows)
    assert(fp == Fingerprint.of(schema, rows.reverse))
    assert(fp == Fingerprint.of(schema, Seq(Row(1.0000001, "x", Seq(2L, 1L)), Row(null, "y", null))))
    assert(fp.rows == 2)
    // array order is data, not presentation
    assert(fp != Fingerprint.of(schema, Seq(Row(1.0, "x", Seq(1L, 2L)), Row(null, "y", null))))
  }

  test("fingerprint ignores column order and matches the Python canon") {
    val swapped = StructType(Seq(schema(2), schema(0), schema(1)))
    val rows = Seq(Row(1.5, "x", Seq(3L)), Row(-0.0000001, null, Seq.empty[Long]))
    val fp = Fingerprint.of(schema, rows)
    assert(fp == Fingerprint.of(swapped, rows.map(r => Row(r(2), r(0), r(1)))))
    assert(Fingerprint.render(-0.0000001) == "0.000000")
    assert(Fingerprint.render(true) == "true")
    // the same table through oracle.fingerprint (tests/test_bench.py)
    assert(fp.hash == BenchSpec.GoldenHash)
  }

  test("sample rule: a p-quantile needs ten samples beyond its tail") {
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.99) == 1000)
  }

  test("after-GC memory follows data the program holds; full collections are left out") {
    val m = new AfterGc
    def churn(): Unit =
      (0 until 4096).foreach(_ => java.util.Arrays.fill(new Array[Byte](1 << 20), 1.toByte))
    def settle(): Unit = Thread.sleep(200) // notifications arrive on another thread
    m.on = true
    System.gc()
    System.gc()
    settle()
    assert(m.mb.isEmpty, "full collections are left out")
    churn()
    settle()
    val before = m.mb
    val held = Array.fill(96)(new Array[Byte](1 << 20))
    settle()
    val from = m.mb.size
    churn()
    settle()
    m.on = false
    settle()
    val during = m.mb.drop(from)
    val recorded = m.mb.size
    churn()
    settle()
    m.close()
    assert(before.nonEmpty && during.nonEmpty, "young collections are recorded")
    assert(held.length == 96)
    assert(during.min >= before.max + 80, "the 96 MB held shows")
    assert(m.mb.size == recorded, "nothing recorded while off")
  }

  test("brute force agrees with Rag.contextDocs + assemblePrompt over an IVF index") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-ivf").toString
    try {
      val emb = spark.read.parquet(s"$base/embeddings.parquet").select("vec_id", "embedding", "label")
      val docs = spark.read.parquet(s"$base/documents.parquet")
      Similarity.writeIvfIndex(emb, "label", s"$dir/ivf")
      val vecs = emb.collect()
      val brute = new Brute(64)
      vecs.foreach(r => brute.add(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      brute.freeze()
      val texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val qSchema = StructType(Seq(StructField("qvec", ArrayType(FloatType, containsNull = false))))
      val rnd = new scala.util.Random(7)
      var hits = 0
      (0 until 12).foreach { i =>
        val anchor = vecs(rnd.nextInt(vecs.length)).getSeq[Float](1)
        val q = if (i % 4 == 3) Array.fill(64)(rnd.nextGaussian().toFloat)
          else anchor.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat).toArray
        val qdf = spark.createDataFrame(java.util.List.of(Row(q.toSeq)), qSchema)
        val got = Rag.assemblePrompt(Rag.contextDocs(Similarity.readIvfIndex(spark, s"$dir/ivf"),
          "vec_id", "embedding", "label", docs, "doc_id", qdf, 0.5, 20), "doc_id", "text", s"q$i")
          .collect().map(_.getString(0))
        val top = brute.top1(q, 0.5)
        if (top.nonEmpty) hits += 1
        val want = if (top.isEmpty) Seq(Brute.prompt(Nil, s"q$i"))
          else top.map(h => Brute.prompt(brute.context(h, 20).map(id => id -> texts(id)), s"q$i"))
        assert(got.length == 1 && want.contains(got(0)), s"question $i")
      }
      assert(hits >= 6, "most questions should hit the index")
    } finally Main.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("brute force predicts upsertIvfIndex routing and summary") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-ups").toString
    try {
      val emb = spark.read.parquet(s"$base/embeddings.parquet").select("vec_id", "embedding", "label")
      Similarity.writeIvfIndex(emb, "label", s"$dir/ivf")
      val brute = new Brute(64)
      emb.collect().foreach(r => brute.add(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      brute.freeze()
      val rnd = new scala.util.Random(3)
      val rows = (0 until 6).map(i => (1000000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)
      val got = Similarity.upsertIvfIndex(spark, s"$dir/ivf", df, "vec_id", "embedding", "label")
        .collect().map(r => (r.getAs[Number](0).intValue, r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val routed = rows.map { case (id, v) => id -> brute.routes(v) }
      assert(routed.forall(_._2.size == 1), "random vectors should not tie")
      val want = routed.groupBy(_._2.head).toSeq.map { case (l, xs) =>
        (l, xs.size.toLong, brute.sizeOf(l) + xs.size) }.sortBy(_._1)
      assert(got == want)
    } finally Main.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("listener counts jobs, stages, exchanges and shuffle bytes of a known plan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = new Tracer(spark)
      val df = spark.range(0, 1000, 1, 2).repartition(3, col("id"))
        .groupBy((col("id") % 5).as("k")).count()
      val ctx = new Ctx
      ctx.tracer = Some(t)
      val rows = ctx.op("query", "known")(ctx.phase("exec")(df.collect())).get
      assert(rows.map(_.getLong(1)).sum == 1000)
      t.close()
      val m = new Layers(t).of(ctx.ops.head.span)
      // two shuffles (repartition, aggregation): one job of three stages
      assert(m("plan.exchanges") == 2)
      assert(m("spark.jobs") == 1)
      assert(m("spark.stages") == 3)
      assert(m("spark.tasks") == 2 + 3 + 2)
      assert(m("spark.shuffle_write_mb") > 0 && m("spark.shuffle_read_mb") > 0)
      assert(m("spark.failed_tasks") == 0)
      assert(m("driver.gap_ms") >= 0)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("listener reads the final adaptive plan and attributes writes") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-w").toString
    try {
      val t = new Tracer(spark)
      val ctx = new Ctx
      ctx.tracer = Some(t)
      ctx.op("upsert", "write")(ctx.phase("exec")(spark.range(0, 100, 1, 2)
        .withColumn("p", col("id") % 3).write.partitionBy("p").parquet(s"$dir/t")))
      t.close()
      val m = new Layers(t).of(ctx.ops.head.span)
      assert(m("spark.jobs") >= 1)
      assert(m("io.partitions_written") == 3)
      assert(m("io.files_written") >= 3)
      assert(m("io.output_mb") > 0)
    } finally Main.deleteTree(java.nio.file.Paths.get(dir))
  }
}

object BenchSpec {
  val GoldenHash = "9275eda2eefe6783d9165306f4e85371d6e0a5c99de4e5664daee5def11ffac0"
}
