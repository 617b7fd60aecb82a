package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.io.{Csv, Tables}
import graft.ops.{Embed, Pipeline, Rag, Similarity}

/** `suite`: the registered queries on the base fixture, in a seed-permuted
  * order, each result collected in full and fingerprinted. */
final class SuiteWorkload(a: Main.Args) extends Workload {
  private val order = new scala.util.Random(a.seed).shuffle(Suite.queries)
  private val expected: Map[String, Fingerprint.Result] =
    a.expected.filter(p => a.dump.isEmpty && Files.exists(Paths.get(p)))
      .map(Suite.load).getOrElse(Map.empty)
  private val dumped = mutable.LinkedHashMap.empty[String, Fingerprint.Result]

  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit = {
    a.dump.foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      val sql = SparkEntry.oracleSql.filter { case (q, _) => Suite.queries.contains(q) }
      val j = new Json
      sql.toSeq.sortBy(_._1).foreach { case (q, s) => j.str(q, s) }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), j.render)
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach { t =>
      (if (t == "events") Tables.events(spark, a.data) else Tables.load(spark, a.data, t)).count()
    }
  }

  private var inWindow = 0

  /** One pass compiles every query's generated code; the first timed pass
    * is still a little slower, and the figure is the fastest pass. */
  def warm(spark: SparkSession, ctx: Ctx): Unit = pass(spark, ctx)
  def unit(spark: SparkSession, ctx: Ctx, i: Int): Unit = {
    if (i == 0) inWindow = 0
    pass(spark, ctx)
    inWindow += 1
  }
  /** Three passes, however slow the machine is that day. */
  def enough: Boolean = inWindow >= 3

  private def pass(spark: SparkSession, ctx: Ctx): Unit = {
    val g = ctx.newGroup()
    ctx.part("pass", "pass", g) {
      order.foreach { q =>
        ctx.op("query", q, g, focus = Suite.isIterative(q)) {
          val fn = ctx.phase("registry.lookup")(SparkEntry.queries(q))
          val df = ctx.phase("ops.build")(fn(spark, a.data))
          if (ctx.tracer.isDefined) ctx.phase("driver.plan")(df.queryExecution.executedPlan)
          (df.schema, ctx.phase("exec")(df.collect()))
        }.foreach { case (schema, rows) => ctx.checking(check(spark, ctx, q, schema, rows)) }
      }
    }
  }

  private def check(spark: SparkSession, ctx: Ctx, q: String, schema: StructType,
      rows: Array[Row]): Unit = {
    val fp = Fingerprint.of(schema, rows)
    a.dump match {
      case Some(dir) if !dumped.contains(q) =>
        dumped(q) = fp
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$q")
        Suite.save(dumped.toMap, s"$dir/fingerprints.json")
      case Some(_) =>
        if (dumped(q) != fp) ctx.wrong(s"$q: fingerprint changed between passes")
      case None => expected.get(q) match {
        case Some(e) if e == fp =>
        case Some(e) => ctx.wrong(
          s"$q: got ${fp.hash.take(12)}/${fp.rows} rows, expected ${e.hash.take(12)}/${e.rows}")
        case None => ctx.wrong(s"$q: no expected fingerprint")
      }
    }
  }

  def layers(ctx: Ctx, t: Tracer, from: Int): Map[String, Double] = {
    val l = new Layers(t)
    val traced = ctx.ops.drop(from)
    val passes = traced.filter(_.kind == "pass").map(_.span)
    val iterative = traced.filter(o => o.kind == "query" && o.focus)
    val itJobs = passes.map { p =>
      val g = traced.find(_.span == p).get.group
      iterative.filter(_.group == g).map(o => l.of(o.span)("spark.jobs")).sum
    }
    l.median(passes) + ("iterative.jobs" -> Stats.median(itJobs.toSeq))
  }
}

object Suite {
  /** ROADMAP direction 2's iterative family, by query-name prefix. */
  val iterativePrefixes: Seq[String] =
    Seq("q31_", "q52_", "q81_", "q83_", "q104_", "q150_", "q151_", "q181_", "q186_",
      "q199_", "q205_")
  def isIterative(q: String): Boolean = iterativePrefixes.exists(q.startsWith)

  /** The timed query set: a fixed stratified sample of the registry (every
    * 68th name in sorted order, from the 43rd) plus one of the iterative
    * family, connected components. The README says why it is not the
    * whole registry. */
  val queries: Seq[String] = Seq(
    "q130_bm25", "q192_burst_detection", "q254_reshard_three", "q74_quantize",
    "q81_density_clusters")

  def load(path: String): Map[String, Fingerprint.Result] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    node.fieldNames().asScala.map { q =>
      val e = node.get(q)
      q -> Fingerprint.Result(e.get("sha256").asText(), e.get("rows").asLong())
    }.toMap
  }

  def save(fps: Map[String, Fingerprint.Result], path: String): Unit = {
    val body = fps.toSeq.sortBy(_._1).map { case (q, r) =>
      s"""    "$q": {"sha256": "${r.hash}", "rows": ${r.rows}}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(path), s"{\n  \"queries\": {\n$body\n  }\n}\n")
  }
}

/** `pipeline_scaled`: the reference's batch flow over the generated k×
  * fixture — raw posts/comments → [[Pipeline.run]] → merged table written
  * by [[Csv.writeParquet]] → [[Embed.densityClusters]] over the survivors
  * at [[Similarity.lshBitsFor]] resolution → [[Similarity.writeIvfIndex]]. */
final class PipelineWorkload(a: Main.Args) extends Workload {
  private def in(t: String) = s"${a.inputs}/$t.parquet"
  private var dim = 0
  private val tables = 6
  private var flows = 0

  private def raw(spark: SparkSession) = {
    def r(t: String) = spark.read.parquet(in(t))
    val rp = Pipeline.normalizePosts("reddit", Map(
      "community" -> col("subreddit"), "id_post" -> col("id"),
      "title" -> col("title"), "body" -> col("selftext"),
      "score" -> col("score"), "num_comments" -> col("num_comments")))(r("reddit_posts"))
    val rc = Pipeline.normalizeComments(Map(
      "id_comment" -> col("cid"), "body" -> col("text"), "score" -> col("cscore"),
      "parent_post_id" -> col("parent")))(r("reddit_comments"))
    val sp = Pipeline.normalizePosts("stack", Map(
      "community" -> col("site"), "id_post" -> col("question_id"),
      "title" -> col("title"), "body" -> col("qbody"),
      "score" -> col("score"), "num_comments" -> col("answer_count")))(r("stack_posts"))
    val sc = Pipeline.normalizeComments(Map(
      "id_comment" -> col("answer_id"), "body" -> col("abody"), "score" -> col("ascore"),
      "parent_post_id" -> col("parent")))(r("stack_comments"))
    (rp, rc, sp, sc, r("embeddings"))
  }

  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit = {
    Seq("reddit_posts", "reddit_comments", "stack_posts", "stack_comments", "embeddings")
      .foreach(t => spark.read.parquet(in(t)).count())
    dim = spark.read.parquet(in("embeddings")).select(size(col("embedding"))).head().getInt(0)
  }

  private var inWindow = 0

  /** One full flow (a smaller warm-up input does not warm the same way);
    * the first timed flow is still a little slower, and the figure is the
    * fastest flow. */
  def warm(spark: SparkSession, ctx: Ctx): Unit = flow(spark, ctx, "warm")
  def unit(spark: SparkSession, ctx: Ctx, i: Int): Unit = {
    if (i == 0) inWindow = 0
    flow(spark, ctx, s"f$flows")
    flows += 1
    inWindow += 1
  }
  /** Three flows, however slow the machine is that day. */
  def enough: Boolean = inWindow >= 3

  private def flow(spark: SparkSession, ctx: Ctx, name: String): Unit = {
    val dir = s"${a.work}/flows/$name"
    Main.deleteTree(Paths.get(dir))
    val g = ctx.newGroup()
    ctx.op("flow", name, g) {
      val (rp, rc, sp, sc, emb) = raw(spark)
      ctx.part("stage", "pipeline", g) {
        val merged = ctx.phase("ops.build")(
          Pipeline.run(rp, rc, sp, sc, minComments = 2, keepPerPost = 20))
        ctx.phase("exec")(Csv.writeParquet(merged, s"$dir/merged"))
      }
      val index = ctx.part("stage", "cluster", g, focus = true) {
        val kept = spark.read.parquet(s"$dir/merged").select(col("id_post").cast("long").as("vid"))
        val survivors = emb.join(kept, col("vec_id") === col("vid"), "left_semi")
        val n = ctx.phase("exec")(survivors.count())
        val bits = Similarity.lshBitsFor(n)
        val planes = graft.expr.VectorExprs.rademacherPlanes(tables * bits, dim, 42L)
        ctx.extra("pairs_sql") = graft.Queries3.rpPairsCte("kept", 0.3, planes, bits)
        ctx.extra("bot_regex") = graft.ops.Clean.BotRegex
        val clustered = ctx.phase("ops.build")(Embed.densityClusters(survivors, "vec_id",
          "embedding", planes, bits, threshold = 0.3, minClusterSize = 5))
        ctx.phase("exec")(survivors.join(clustered.select(col("vec_id"), col("cluster")), "vec_id")
          .localCheckpoint(eager = true))
      }
      ctx.part("stage", "index", g) {
        ctx.phase("exec")(Similarity.writeIvfIndex(index, "label", s"$dir/ivf"))
      }
    }
    if (ctx.recording) ctx.extra("flows") = (ctx.extra.get("flows").toSeq :+ name).mkString(",")
  }

  def layers(ctx: Ctx, t: Tracer, from: Int): Map[String, Double] = {
    val l = new Layers(t)
    val traced = ctx.ops.drop(from)
    def stageMs(s: String) =
      Stats.median(traced.filter(o => o.kind == "stage" && o.name == s).map(_.ms).toSeq)
    l.median(traced.filter(_.kind == "flow").map(_.span)) ++
      Seq("pipeline", "cluster", "index").map(s => s"stage.${s}_ms" -> stageMs(s))
  }
}

/** `rag_serve`: one client in a closed loop over an IVF index that set-up
  * builds. Each request is either a question ([[Rag.contextDocs]] over
  * [[Similarity.readIvfIndex]], then [[Rag.assemblePrompt]]) or an upsert
  * batch ([[Similarity.upsertIvfIndex]]), in the generated order. */
final class ServeWorkload(a: Main.Args) extends Workload {
  private val path = s"${a.work}/ivf"
  private val threshold = 0.5
  private val cap = 20
  private var docs: DataFrame = _
  private var brute: Brute = _
  private var texts: Map[Long, String] = Map.empty
  private var questions: Map[Long, (Array[Float], String)] = Map.empty
  private var batches: Map[Long, Seq[(Long, Array[Float])]] = Map.empty
  private var requests: IndexedSeq[(String, Long)] = IndexedSeq.empty
  private var cursor = 0
  private var nQuestions = 0
  private var nUpserts = 0

  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit = {
    docs = spark.read.parquet(s"${a.inputs}/docs.parquet")
    docs.count()
    val emb = Tables.embeddings(spark, a.data).select(col("vec_id"), col("embedding"), col("label"))
    Main.deleteTree(Paths.get(path))
    Similarity.writeIvfIndex(emb, "label", path)
  }

  private def floats(r: Row, i: Int): Array[Float] = r.getSeq[Float](i).toArray

  /** Load the generated requests and the driver-side model of the index
    * (the benchmark's bookkeeping, outside every timed region). */
  private def prepare(spark: SparkSession): Unit = {
    val base = Tables.embeddings(spark, a.data).select("vec_id", "embedding", "label").collect()
    brute = new Brute(floats(base.head, 1).length)
    base.foreach(r => brute.add(r.getLong(0), floats(r, 1), r.getInt(2)))
    brute.freeze()
    texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def read(t: String) = spark.read.parquet(s"${a.inputs}/$t.parquet")
    questions = read("questions").select("qid", "qvec", "question").collect()
      .map(r => r.getLong(0) -> (floats(r, 1), r.getString(2))).toMap
    batches = read("upserts").select("batch", "vec_id", "embedding").collect()
      .groupBy(_.getLong(0)).map { case (b, rs) =>
        b -> rs.map(r => r.getLong(1) -> floats(r, 2)).toSeq.sortBy(_._1) }
    requests = read("requests").select("req", "kind", "ref").collect()
      .sortBy(_.getLong(0)).map(r => r.getString(1) -> r.getLong(2)).toIndexedSeq
  }

  def warm(spark: SparkSession, ctx: Ctx): Unit = {
    prepare(spark)
    // warm-up questions have negative ids and are not in the schedule
    questions.keys.filter(_ < 0).toSeq.sorted.foreach(q => question(spark, ctx, q))
  }

  override def exhausted: Boolean = cursor >= requests.size
  /** Enough questions for their p50, and a median of ten upserts. */
  def enough: Boolean = nQuestions >= Stats.minSamples(0.5) && nUpserts >= 10

  def unit(spark: SparkSession, ctx: Ctx, i: Int): Unit = {
    if (i == 0) { nQuestions = 0; nUpserts = 0 }
    val (kind, ref) = requests(cursor)
    cursor += 1
    if (kind == "question") { question(spark, ctx, ref); nQuestions += 1 }
    else { upsert(spark, ctx, ref); nUpserts += 1 }
  }

  private val qvecSchema =
    StructType(Seq(StructField("qvec", ArrayType(FloatType, containsNull = false))))

  private def question(spark: SparkSession, ctx: Ctx, qid: Long): Unit = {
    val (qvec, text) = questions(qid)
    ctx.op("question", s"q$qid") {
      val prompt = ctx.phase("ops.build") {
        val index = Similarity.readIvfIndex(spark, path)
        val q = spark.createDataFrame(java.util.List.of(Row(qvec.toSeq)), qvecSchema)
        Rag.assemblePrompt(
          Rag.contextDocs(index, "vec_id", "embedding", "label", docs, "doc_id", q, threshold, cap),
          "doc_id", "text", text)
      }
      if (ctx.tracer.isDefined) ctx.phase("driver.plan")(prompt.queryExecution.executedPlan)
      ctx.phase("exec")(prompt.collect().map(_.getString(0)))
    }.foreach { got => ctx.checking {
      val hits = brute.top1(qvec, threshold)
      val want = if (hits.isEmpty) Seq(Brute.prompt(Nil, text))
        else hits.map(h => Brute.prompt(
          brute.context(h, cap).flatMap(id => texts.get(id).map(id -> _)), text))
      if (got.length != 1 || !want.contains(got(0)))
        ctx.wrong(s"question $qid: prompt differs from brute force (hits ${hits.mkString(",")})")
    } }
  }

  private val rowSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def upsert(spark: SparkSession, ctx: Ctx, batch: Long): Unit = {
    val rows = batches(batch)
    ctx.op("upsert", s"u$batch", focus = true) {
      val df = ctx.phase("ops.build")(spark.createDataFrame(
        rows.map { case (id, v) => Row(id, v.toSeq) }.asJava, rowSchema))
      ctx.phase("exec")(Similarity.upsertIvfIndex(spark, path, df, "vec_id", "embedding", "label")
        .collect().map(r => (r.getAs[Number](0).intValue, r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq)
    }.foreach { got => ctx.checking {
      // each row may route to one label, or (on a rounding near-tie) to
      // one of a few; pick the assignment the summary agrees with
      val options = rows.map { case (id, v) => id -> brute.routes(v) }
      val combos = options.foldLeft(Seq(Seq.empty[(Long, Int)])) { case (acc, (id, ls)) =>
        for (c <- acc; l <- ls) yield c :+ (id -> l) }.take(64)
      def summary(assign: Seq[(Long, Int)]) = assign.groupBy(_._2).toSeq.map { case (l, xs) =>
        (l, xs.size.toLong, brute.sizeOf(l) + xs.size) }.sortBy(_._1)
      combos.find(c => summary(c) == got) match {
        case Some(assign) =>
          val vec = rows.toMap
          assign.foreach { case (id, l) => brute.add(id, vec(id), l) }
        case None =>
          ctx.wrong(s"upsert $batch: summary ${got.mkString(";")} != " +
            summary(combos.head).mkString(";"))
      }
    } }
  }

  def layers(ctx: Ctx, t: Tracer, from: Int): Map[String, Double] = {
    val l = new Layers(t)
    val traced = ctx.ops.drop(from)
    val qs = traced.filter(o => o.kind == "question" && o.ok)
    val us = traced.filter(o => o.kind == "upsert" && o.ok)
    val up = l.median(us.map(_.span))
    val q = l.median(qs.map(_.span))
    q ++ Map(
      "question.input_mb" -> q("io.input_mb"),
      "upsert.output_mb" -> up("io.output_mb"),
      "upsert.partitions_rewritten" -> up("io.partitions_written"))
  }
}
