package perfbench

import java.io.PrintWriter

import scala.collection.mutable

/** Per-layer counters of one traced op: everything recorded under its span
  * subtree — phase times, Spark jobs/stages/tasks, plan census, I/O. */
final class Layers(t: Tracer) {
  private val kids: Map[Int, Seq[Int]] =
    t.spans.toSeq.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id) }

  def subtree(root: Int): Set[Int] = {
    val out = mutable.HashSet.empty[Int]
    val todo = mutable.Stack(root)
    while (todo.nonEmpty) {
      val s = todo.pop()
      if (out.add(s)) kids.getOrElse(s, Nil).foreach(todo.push)
    }
    out.toSet
  }

  def of(root: Int): Map[String, Double] = {
    val sub = subtree(root)
    val spans = sub.toSeq.map(t.spans)
    val jobs = t.jobs.values.filter(j => sub(j.span)).toSeq
    val stages = t.stages.values.filter(s => sub(s.jobSpan)).toSeq
    val plans = t.plans.filter(p => sub(p.span)).toSeq
    def dur(s: Span) = s.endMs - s.startMs
    def phaseMs(n: String) = spans.filter(_.name == n).map(dur).sum
    // wall of each exec phase not covered by any job it launched
    val gap = spans.filter(_.name == "exec").map { e =>
      val inside = subtree(e.id)
      dur(e) - Tracer.unionLength(jobs.filter(j => inside(j.span))
        .map(j => (math.max(j.startMs, e.startMs), math.min(j.endMs, e.endMs))))
    }.sum
    val mb = 1024.0 * 1024.0
    val root0 = t.spans(root)
    Map(
      "registry.lookup_ms" -> phaseMs("registry.lookup"),
      "ops.build_ms" -> phaseMs("ops.build"),
      "driver.plan_ms" -> phaseMs("driver.plan"),
      "driver.gap_ms" -> gap,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble,
      "spark.sched_wait_ms" -> stages.filter(s => !s.firstLaunchMs.isNaN && !s.submitMs.isNaN)
        .map(s => math.max(0.0, s.firstLaunchMs - s.submitMs)).sum,
      "spark.task_s" -> stages.map(_.taskMs).sum / 1000,
      "spark.task_cpu_s" -> stages.map(_.cpuMs).sum / 1000,
      "spark.gc_ms" -> stages.map(_.gcMs).sum,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / mb,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / mb,
      "spark.spill_mb" -> stages.map(_.spillB).sum / mb,
      "spark.busy_share" -> Tracer.unionLength(stages.flatMap(_.taskIntervals)) / dur(root0),
      "io.input_mb" -> stages.map(_.inputB).sum / mb,
      "io.output_mb" -> stages.map(_.outputB).sum / mb,
      "io.files_written" -> plans.map(_.filesWritten).sum.toDouble,
      "io.partitions_written" -> plans.map(_.partsWritten).sum.toDouble,
      "plan.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "plan.sorts" -> plans.map(_.sorts).sum.toDouble,
      "plan.broadcasts" -> plans.map(_.broadcasts).sum.toDouble)
  }

  /** Median of each counter over the given ops (all zero when none). */
  def median(roots: Iterable[Int]): Map[String, Double] = {
    val per = roots.map(of).toSeq
    Layers.names.map(n => n -> Stats.median(per.map(_(n)))).toMap
  }
}

object Layers {
  val names: Seq[String] = Seq("registry.lookup_ms", "ops.build_ms", "driver.plan_ms",
    "driver.gap_ms", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.sched_wait_ms", "spark.task_s", "spark.task_cpu_s", "spark.gc_ms",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.busy_share",
    "io.input_mb", "io.output_mb", "io.files_written", "io.partitions_written",
    "plan.exchanges", "plan.sorts", "plan.broadcasts")
}

/** Writes a run's spans, jobs and stages as JSON lines. Spans carry their
  * self time: wall not covered by child spans or by jobs attributed to
  * them directly. */
object TraceFile {
  def write(t: Tracer, path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try {
      val childSpans = t.spans.groupBy(_.parent)
      val directJobs = t.jobs.values.groupBy(_.span)
      t.spans.foreach { s =>
        val covered = childSpans.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
          directJobs.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs))
        val dur = s.endMs - s.startMs
        out.println(new Json().str("type", "span").num("id", s.id).num("parent", s.parent)
          .num("req", s.reqId).str("name", s.name).str("kind", s.kind)
          .num("start_ms", s.startMs).num("dur_ms", dur)
          .num("self_ms", dur - Tracer.unionLength(covered)).render)
      }
      t.jobs.values.foreach { j =>
        out.println(new Json().str("type", "job").num("id", j.jobId).num("span", j.span)
          .num("start_ms", j.startMs).num("dur_ms", j.endMs - j.startMs).bool("failed", j.failed)
          .raw("stages", j.stages.mkString("[", ",", "]")).render)
      }
      t.stages.values.foreach { s =>
        out.println(new Json().str("type", "stage").num("id", s.stageId).num("attempt", s.attempt)
          .num("span", s.jobSpan).str("name", s.name).num("submit_ms", s.submitMs)
          .num("dur_ms", s.endMs - s.submitMs).num("tasks", s.tasks).num("task_ms", s.taskMs)
          .num("cpu_ms", s.cpuMs).num("gc_ms", s.gcMs).num("shuffle_read_b", s.shuffleReadB)
          .num("shuffle_write_b", s.shuffleWriteB).num("spill_b", s.spillB)
          .num("input_b", s.inputB).num("output_b", s.outputB).render)
      }
      t.plans.foreach { p =>
        out.println(new Json().str("type", "plan").num("span", p.span)
          .num("exchanges", p.exchanges).num("sorts", p.sorts).num("broadcasts", p.broadcasts)
          .num("files_written", p.filesWritten).num("rows_written", p.rowsWritten).render)
      }
    } finally out.close()
  }
}
