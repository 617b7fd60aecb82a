package graft.tools

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

import graft.{LocalSession, Q, SparkEntry, Verify}

/** The measurement CLI over registered queries, one JSON line per query
  * on stdout:
  * {{{
  * runMain graft.tools.Measure time|ab|profile <sfDir> <reps> <name>...
  * runMain graft.tools.Measure plan|executed <sfDir> <name>...
  * }}}
  *  - `time`: wall seconds of a fresh frame's run, `reps` times.
  *  - `ab`: same-JVM A/B of runtime confs given as
  *    `GRAFT_CONF="k=v,k2=v2"`. Both arms warm once, then `reps`
  *    interleaved A,B pairs; A is the session as built, B has the confs
  *    set. Ambient speed drifts between JVMs, so compare confs this way,
  *    never across two runs.
  *  - `profile`: per rep, the jobs, stages and tasks the run launched,
  *    summed task and GC seconds, shuffle read+write bytes, and the
  *    classes Janino compiled (`compiles`) and the time it took
  *    (`compile_ms`), driver and executors alike; plus the
  *    planning wall of a fresh frame by phase, and the costliest
  *    stages of the fastest rep. Task time far below wall × cores means
  *    the query is stage-latency-bound (fix the plan shape); near it
  *    means compute-bound (fix the kernels). A second rep that still
  *    compiles classes generates code that misses Spark's codegen cache.
  *  - `plan`: `explain("formatted")` before execution; no jobs run.
  *  - `executed`: the final adaptive plan after execution, with the
  *    reused exchanges and final stage shapes a pre-execution plan
  *    cannot show.
  *
  * `time`, `ab` and `profile` run each frame to a `noop` sink, which
  * reads every output column, so the timed plan is the query's own (a
  * `count()` lets Catalyst prune every column the count does not read).
  * The session is [[graft.LocalSession]], as for [[graft.Bench]]. */
object Measure {
  private val Usage = "usage: Measure time|ab|profile <sfDir> <reps> <name>... | " +
    "Measure plan|executed <sfDir> <name>..."

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `df` to the end, evaluating every output column. */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time(spark: SparkSession, sfDir: String, reps: Int, q: Q): Seq[Double] =
    Seq.fill(reps)(seconds(run(q(spark, sfDir))))

  /** (A, B) wall seconds per rep. The confs `conf` names are restored to
    * their prior values, or unset, afterwards. */
  def ab(spark: SparkSession, sfDir: String, reps: Int, q: Q,
      conf: Seq[(String, String)]): (Seq[Double], Seq[Double]) = {
    // getAll holds only explicitly set confs; getOption would return a
    // registered conf's default, which the restore would then pin
    val set0 = spark.conf.getAll
    val saved = conf.map { case (k, _) => k -> set0.get(k) }
    def set(b: Boolean): Unit =
      if (b) conf.foreach { case (k, v) => spark.conf.set(k, v) }
      else saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    def arm(b: Boolean): Double = { set(b); seconds(run(q(spark, sfDir))) }
    try {
      arm(true); arm(false)
      Seq.fill(reps)((arm(false), arm(true))).unzip
    } finally set(false)
  }

  final case class StageCost(id: Int, name: String, tasks: Int, taskS: Double,
      shuffleBytes: Long)
  final case class Rep(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      taskS: Double, gcS: Double, shuffleBytes: Long, compiles: Long,
      compileMs: Double, byStage: Seq[StageCost])

  /** (classes compiled, compile nanoseconds) so far in this JVM. */
  private def codegenCounters: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  final case class Profiled(planS: Double, phases: Seq[(String, Double)], reps: Seq[Rep]) {
    def best: Rep = reps.minBy(_.wallS)
  }

  /** Listener totals for one rep; events arrive on the bus thread. */
  private final class Collector extends SparkListener {
    private var jobs = 0
    private val stageNames = mutable.Map[Int, String]()
    // stage id → (tasks, run ms, gc ms, shuffle read+write bytes)
    private val perStage = mutable.Map[Int, Array[Long]]()

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stageNames(s.stageInfo.stageId) = s.stageInfo.name.linesIterator.next().take(120)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val acc = perStage.getOrElseUpdate(t.stageId, new Array[Long](4))
      acc(0) += 1
      val m = t.taskMetrics
      if (m != null) {
        acc(1) += m.executorRunTime
        acc(2) += m.jvmGCTime
        acc(3) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }

    def reset(): Unit = synchronized { jobs = 0; stageNames.clear(); perStage.clear() }
    def rep(wallS: Double, compiles: Long, compileMs: Double): Rep = synchronized {
      def total(i: Int) = perStage.values.map(_(i)).sum
      Rep(wallS, jobs, stageNames.size, total(0).toInt, total(1) / 1e3, total(2) / 1e3,
        total(3), compiles, compileMs, perStage.toSeq.map { case (id, a) =>
          StageCost(id, stageNames.getOrElse(id, "?"), a(0).toInt, a(1) / 1e3, a(3))
        })
    }
  }

  def profile(spark: SparkSession, sfDir: String, reps: Int, q: Q): Profiled = {
    // planning cost on a fresh frame: analysis, optimization and physical
    // planning without executing; the tracker splits the phases
    val t0 = System.nanoTime()
    val qe = q(spark, sfDir).queryExecution
    qe.executedPlan
    val planS = (System.nanoTime() - t0) / 1e9
    val phases = qe.tracker.phases.toSeq.sortBy(_._1).map { case (p, s) =>
      p -> (s.endTimeMs - s.startTimeMs) / 1e3 }
    val sc = spark.sparkContext
    val collector = new Collector
    sc.addSparkListener(collector)
    try Profiled(planS, phases, Seq.fill(reps) {
      Bridge.drainListenerBus(sc)
      collector.reset()
      val (n0, ns0) = codegenCounters
      val wall = seconds(run(q(spark, sfDir)))
      val (n1, ns1) = codegenCounters
      Bridge.drainListenerBus(sc)
      collector.rep(wall, n1 - n0, (ns1 - ns0) / 1e6)
    }) finally sc.removeSparkListener(collector)
  }

  def plan(spark: SparkSession, sfDir: String, q: Q): String =
    q(spark, sfDir).queryExecution.explainString(FormattedMode)

  def executed(spark: SparkSession, sfDir: String, q: Q): String = {
    val qe = q(spark, sfDir).queryExecution
    // an RDD action on THIS frame's executedPlan drives its adaptive root
    // to the final stages; count() would plan a different query execution
    // and leave this one unfinalized
    qe.executedPlan.execute().count()
    qe.executedPlan.toString
  }

  private final case class Obj(fields: (String, Any)*)
  private def json(v: Any): String = v match {
    case s: String => Verify.jsonString(s)
    case d: Double => "%.3f".formatLocal(Locale.ROOT, d)
    case o: Obj => o.fields.map { case (k, x) => Verify.jsonString(k) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }
  private def mb(bytes: Long): Double = bytes / 1e6

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val timed = Set("time", "ab", "profile")(mode)
    require((timed || mode == "plan" || mode == "executed") &&
      args.length >= (if (timed) 4 else 3), Usage)
    val sfDir = args(1)
    val (reps, names) = if (timed) (args(2).toInt, args.drop(3)) else (0, args.drop(2))
    val conf = sys.env.getOrElse("GRAFT_CONF", "").split(",").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toSeq
    val spark = LocalSession()
    // absorb one-time session costs before the first timed query
    if (timed) spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      val fields: Seq[(String, Any)] = mode match {
        case "time" =>
          val runs = time(spark, sfDir, reps, q)
          Seq("min_s" -> runs.min, "runs_s" -> runs)
        case "ab" =>
          val (a, b) = ab(spark, sfDir, reps, q, conf)
          Seq("conf" -> Obj(conf: _*), "a_min_s" -> a.min, "b_min_s" -> b.min,
            "a_s" -> a, "b_s" -> b)
        case "profile" =>
          val p = profile(spark, sfDir, reps, q)
          val r = p.best
          Seq("wall_s" -> r.wallS, "plan_s" -> p.planS, "jobs" -> r.jobs,
            "stages" -> r.stages, "tasks" -> r.tasks, "task_s" -> r.taskS,
            "gc_s" -> r.gcS, "shuffle_mb" -> mb(r.shuffleBytes),
            "phases_s" -> Obj(p.phases: _*),
            "reps" -> p.reps.map(x => Obj("wall_s" -> x.wallS, "jobs" -> x.jobs,
              "stages" -> x.stages, "tasks" -> x.tasks, "compiles" -> x.compiles,
              "compile_ms" -> x.compileMs)),
            "top_stages" -> r.byStage.sortBy(-_.taskS).take(6).map(s => Obj(
              "id" -> s.id, "task_s" -> s.taskS, "tasks" -> s.tasks,
              "shuffle_mb" -> mb(s.shuffleBytes), "name" -> s.name)))
        case "plan" => Seq("plan" -> plan(spark, sfDir, q))
        case "executed" => Seq("plan" -> executed(spark, sfDir, q))
      }
      println(json(Obj(Seq("mode" -> mode, "query" -> name, "sf" -> sfDir) ++ fields: _*)))
    }
    spark.stop()
  }
}
