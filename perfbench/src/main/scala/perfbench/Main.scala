package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM program: one workload, one seed, one Spark session.
  *
  * {{{
  * perfbench.Main --workload suite|pipeline_scaled|rag_serve --seed N
  *   --seconds S --trace 0|1 --data <base fixture dir> --inputs <generated
  *   inputs dir> --work <scratch dir> --out <result.json>
  *   [--expected <suite fingerprints.json>] [--dump <dir>] [--setups 3]
  * }}}
  *
  * It sets the session up `--setups` times (median reported as setup), runs
  * the workload's untimed warm-up, then timed units while they fit in
  * `--seconds` (at least one) and until the workload's sample rule is met.
  * With `--trace 1` the first half of the window runs untraced and the
  * second half traced, so the result carries the tracing overhead and the
  * per-layer metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, inputs: String, work: String, out: String,
      expected: Option[String], dump: Option[String], setups: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("inputs"), req("work"), req("out"),
      m.get("expected"), m.get("dump"), m.get("setups").map(_.toInt).getOrElse(3))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a)
    try run.execute()
    finally run.writeResult()
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try all.forEach(x => Files.delete(x)) finally all.close()
    }
}

/** One timed operation. `kind` is the workload's unit (`pass`, `flow`,
  * `question`), a part of it (`query`, `stage`), or `upsert`; `focus` marks
  * the ops the workload's focus metric sums. */
final case class OpRec(kind: String, name: String, ms: Double, ok: Boolean,
    traced: Boolean, span: Int, group: Int, focus: Boolean)

/** Shared state of one run: op records, checks, optional tracer. */
final class Ctx {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var tracer: Option[Tracer] = None
  var recording = true
  private var group = 0
  val extra = mutable.LinkedHashMap.empty[String, String]

  def newGroup(): Int = { group += 1; group }

  /** Time one operation and record it. Exceptions propagate. */
  def part[T](kind: String, name: String, grp: Int = 0, focus: Boolean = false)(body: => T): T = {
    val t0 = System.nanoTime()
    var spanId = -1
    var ok = false
    try {
      val v = tracer match {
        case Some(t) =>
          val req = if (kind == "query" || kind == "stage") -1 else t.newRequest()
          t.span(name, kind, req) { spanId = t.spans.last.id; body }
        case None => body
      }
      ok = true
      v
    } finally if (recording)
      ops += OpRec(kind, name, (System.nanoTime() - t0) / 1e6, ok, tracer.isDefined, spanId, grp,
        focus)
  }

  /** Time one attempted operation. A thrown exception marks it failed and
    * the run goes on; the value is returned when it succeeded. */
  def op[T](kind: String, name: String, grp: Int = 0, focus: Boolean = false)(
      body: => T): Option[T] = {
    if (recording) attempted += 1
    try Some(part(kind, name, grp, focus)(body))
    catch { case e: Throwable =>
      fail(s"$kind $name: ${e.getClass.getName}: ${e.getMessage}")
      None
    }
  }

  /** A phase of an op (registry lookup, build, plan, exec): a span when
    * traced, nothing otherwise. */
  def phase[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name, "phase")(body)
    case None => body
  }

  /** The benchmark's own checking work, kept out of the op timings. */
  def checking[T](body: => T): T = tracer match {
    case Some(t) => t.span("check", "bench")(body)
    case None => body
  }

  def fail(msg: String): Unit = {
    if (recording) failed += 1
    if (errors.size < 50) errors += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Record a wrong answer for the last op, which returned normally. */
  def wrong(msg: String): Unit = {
    fail(msg)
    if (recording) ops.lastOption.foreach(o => ops(ops.size - 1) = o.copy(ok = false))
  }
}

/** A workload: how to set up, what one timed unit is, and when a run has
  * enough samples. */
trait Workload {
  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit
  def warm(spark: SparkSession, ctx: Ctx): Unit
  def unit(spark: SparkSession, ctx: Ctx, i: Int): Unit
  /** Sample-count rule for the timed window. */
  def enough: Boolean
  /** Per-layer metrics from the traced window's ops. */
  def layers(ctx: Ctx, t: Tracer, from: Int): Map[String, Double]
  /** True when the workload has no more prepared requests. */
  def exhausted: Boolean = false
}

final class Run(a: Main.Args) {
  val ctx = new Ctx
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private var layer = Map.empty[String, Double]
  private var windows = Map.empty[String, Double]
  private var tracePath: Option[String] = None

  private def workload(): Workload = a.workload match {
    case "suite" => new SuiteWorkload(a)
    case "pipeline_scaled" => new PipelineWorkload(a)
    case "rag_serve" => new ServeWorkload(a)
    case w => sys.error(s"unknown workload $w")
  }

  private val memory = new AfterGc

  def execute(): Unit = {
    Files.createDirectories(Paths.get(a.work))
    val w = workload()
    var spark: SparkSession = null
    try {
      for (round <- 0 until a.setups) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = Main.session(a.work)
        w.setup(spark, ctx, round)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      ctx.recording = false
      w.warm(spark, ctx)
      ctx.recording = true
      if (!a.trace) window(w, spark, a.seconds)
      else {
        windows += "untraced" -> window(w, spark, a.seconds / 2)
        val tracer = new Tracer(spark)
        ctx.tracer = Some(tracer)
        val from = ctx.ops.size
        windows += "traced" -> window(w, spark, a.seconds / 2)
        ctx.tracer = None
        tracer.close()
        layer = w.layers(ctx, tracer, from) ++ coverage(tracer)
        val p = s"${a.work}/trace-${a.workload}-${a.seed}.jsonl"
        TraceFile.write(tracer, p)
        tracePath = Some(p)
      }
    } finally if (spark != null) spark.stop()
  }

  /** Run timed units while the next one is expected to end inside the
    * window (at least one), then on until the workload's sample rule holds.
    * Each unit starts from a fully collected heap, so that what earlier
    * units left in the old generation, more or less depending on when G1
    * last marked it, neither slows it nor counts in its memory figure. The
    * collections are outside the window's time. Returns the window's wall
    * seconds. */
  private def window(w: Workload, spark: SparkSession, seconds: Double): Double = {
    val t0 = System.nanoTime()
    var collecting = 0L
    def elapsed = (System.nanoTime() - t0 - collecting) / 1e9
    var i = 0
    var last = 0.0
    while (!w.exhausted && (i == 0 || elapsed + last <= seconds || !w.enough)) {
      val g0 = System.nanoTime()
      System.gc()
      collecting += System.nanoTime() - g0
      val u0 = elapsed
      memory.on = true
      w.unit(spark, ctx, i)
      memory.on = false
      last = elapsed - u0
      i += 1
    }
    elapsed
  }

  /** Share of the traced window's wall covered by op spans. */
  private def coverage(t: Tracer): Map[String, Double] = {
    val roots = t.spans.filter(_.parent < 0)
    val covered = Tracer.unionLength(roots.map(s => (s.startMs, s.endMs)))
    Map("trace.coverage" -> covered / 1000 / windows("traced"))
  }

  def writeResult(): Unit = {
    val j = new Json
    j.str("workload", a.workload).num("seed", a.seed.toDouble).bool("trace", a.trace)
      .num("nproc", Runtime.getRuntime.availableProcessors().toDouble)
      .nums("setup_s", setupS.toSeq)
      .nums("after_gc_mb", { memory.close(); memory.mb })
      .num("attempted", ctx.attempted.toDouble).num("failed", ctx.failed.toDouble)
      .strs("errors", ctx.errors.toSeq)
      .map("layer", layer).map("windows", windows)
      .strMap("extra", ctx.extra.toMap ++ tracePath.map("trace_file" -> _))
      .raw("ops", ctx.ops.map { o =>
        new Json().str("kind", o.kind).str("name", o.name).num("ms", o.ms)
          .bool("ok", o.ok).bool("traced", o.traced).num("group", o.group.toDouble)
          .bool("focus", o.focus).render
      }.mkString("[", ",", "]"))
    Files.writeString(Paths.get(a.out), j.render + "\n")
  }
}

object Stats {
  /** Samples a p-quantile needs: ten beyond the quantile's tail (p50 needs
    * 20, p90 needs 100). */
  def minSamples(p: Double): Int = math.ceil(10 / (1 - p) - 1e-9).toInt

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Memory in use right after each young collection while `on`: every
  * pool, heap and non-heap, as the collection leaves it. Unlike the
  * resident set, which a fixed heap pins at its configured size, this
  * follows the data the program holds. Fed by the collectors'
  * notifications; full collections (the benchmark's own) are left out. */
final class AfterGc {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var on = false
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of minor GC")
          samples.add(info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** MB in use after each recorded collection. */
  def mb: Seq[Double] = samples.asScala.toSeq.map(_ / 1048576.0)

  def close(): Unit =
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
}

/** Minimal JSON object writer (numbers, strings, booleans, flat maps). */
final class Json {
  private val parts = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def raw(k: String, v: String): Json = { parts += q(k) + ":" + v; this }
  def str(k: String, v: String): Json = raw(k, q(v))
  def num(k: String, v: Double): Json = raw(k, n(v))
  def bool(k: String, v: Boolean): Json = raw(k, v.toString)
  def nums(k: String, v: Seq[Double]): Json = raw(k, v.map(n).mkString("[", ",", "]"))
  def strs(k: String, v: Seq[String]): Json = raw(k, v.map(q).mkString("[", ",", "]"))
  def map(k: String, v: Map[String, Double]): Json =
    raw(k, v.toSeq.sortBy(_._1).map { case (a, b) => q(a) + ":" + n(b) }.mkString("{", ",", "}"))
  def strMap(k: String, v: Map[String, String]): Json =
    raw(k, v.toSeq.sortBy(_._1).map { case (a, b) => q(a) + ":" + q(b) }.mkString("{", ",", "}"))
  def render: String = parts.mkString("{", ",", "}")
}
