package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape audit over every registered query: flags the operators that
  * become 100 TB incidents — cartesian products, unbounded nested-loop
  * joins and unpartitioned windows — and prints an exchange/sort/window/
  * scan census per query. The census is committed as `PLAN_CENSUS.txt`
  * (regenerate with `sbt "runMain graft.tools.PlanAudit"`, keeping the
  * `q…` lines), so a shuffle-count change fails PlanAuditSpec. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    // pinned like the test session: explain's exchange counts depend on
    // the core count (at 1 core 35 of the 272 census lines differ)
    val spark = graft.LocalSession(cpus = 4)
    runAudit(spark, sfDir).foreach { case (name, line) =>
      println(censusLine(name, line))
    }
    spark.stop()
  }

  // Two plan shapes blow up at corpus scale: a join with no equi-join key
  // (a nested loop, |left| x |right|) and a logical `Window.orderBy` with
  // no partition key (Exchange SinglePartition + a one-task sort — the
  // q216/q206 round-13 lesson). Each is acceptable in one of two ways,
  // checked in order:
  //
  //  1. PROVEN from the plan itself (`boundedInput`): for a nested loop
  //     either side, for a window its input, is bounded — every
  //     corpus-scaled leaf sits below a LITERAL GlobalLimit/LocalLimit (the
  //     orderBy+limit(k)-first discipline) or below a grand-total Aggregate
  //     (1 row by definition); literal LocalRelations are bounded; joins/
  //     unions of bounded inputs stay bounded. This is re-derived from the
  //     CURRENT plan on every audit run — a re-spelling that drops the
  //     limit or the grand total makes the proof fail, it cannot be
  //     allowlisted by habit.
  //
  //  2. CONTRACT-bounded (the two sets below): the bound is real but not
  //     visible in plan structure. Every entry names its bound, and an
  //     entry whose plan no longer needs it flags STALE-CONTRACT!.
  //
  // Anything matching neither flags NESTEDLOOP! / UNPARTWIN!.

  /** Nested loops bounded by a point lookup (`filter(vec_id === 7)` bounds
    * rows only if the key is unique, which the plan cannot show), a query
    * sample, the ≤nlist centroid table or a per-source frame. */
  val allowNestedLoop = Set(
    // the exact verifier is capped to the vec_id<2000 sample slice (the
    // cap is part of its contract; unbounded inputs take q17/q37/q47)
    "q16_near_dup_embed",
    // cross-join the 1-row query vector (vec_id point lookup)
    "q18_cosine_topk", "q29_rag_context", "q41_sql_cosine",
    "q42_rag_prompt", "q75_quantized_topk",
    // the serving tail cross-joins the 1-row query vector (q18's shape)
    "q83_pipeline_golden",
    // broadcast the bounded query sample through knnJoin
    "q19_knn_join", "q131_hybrid_rrf", "q135_retrieval_ndcg",
    // the broadcast ≤nlist centroid table routes the probe
    "q37_ivf_topk", "q122_ivf_recall",
    // pair-joins the per-source MinHash signature frame on src_a < src_b:
    // one row per source (the groupBy(source) output), |sources|² pairs
    "q178_source_overlap")

  /** Unpartitioned windows bounded by a value DOMAIN (a histogram of
    * lengths/scores is bounded by the domain, not by a limit node). The
    * BPE/unigram round loops and most seed inits materialize eagerly, so
    * their registered plans carry no unpartitioned window at all. */
  val allowUnpartWindow = Set(
    // histogram-cumulative cutoffs and report rollups: windows over
    // DISTINCT-value or per-domain frames, bounded by the value DOMAIN
    // (q189/q226's integer score domain; q98's datasheet sections) —
    // grouping aggregates, structurally opaque
      "q189_threshold_calibration", "q226_decile_mix",
      "q98_corpus_datasheet",
    // q156's DoReMi rounds window over the ≤|domains| frame (grouping
    // aggregate over the domain key)
      "q156_doremi_weights",
    // q168's ECE rollup windows over the ≤|bins| calibration frame
    // (10 rows by construction)
      "q168_ece")

  /** Audit ONE already-built frame: returns the census + flag line
    * ("ex=… sort=… [CARTESIAN!|NESTEDLOOP!|UNPARTWIN!|STALE-CONTRACT!]").
    * `name` selects the contracts; a frame that cannot even plan returns
    * "AUDIT-ERROR <class>". Exposed so PlanAuditSpec can flag a
    * deliberately broken plan without registering it. */
  def auditOne(name: String,
      df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.logical._
    def boundedInput(p: LogicalPlan): Boolean = p match {
      case g: GlobalLimit => g.limitExpr.isInstanceOf[Literal]
      case l: LocalLimit => l.limitExpr.isInstanceOf[Literal]
      case a: Aggregate if a.groupingExpressions.isEmpty => true // 1 row
      case _: LocalRelation | _: OneRowRelation => true // literal frame
      case _ if p.children.isEmpty => false // scan/RDD leaf: corpus-scaled
      case _ => p.children.forall(boundedInput)
    }
    try {
      val qe = df.queryExecution
      val p = qe.explainString(ExplainMode.fromString("formatted"))
      def n(s: String): Int = s"""\\(\\d+\\) $s""".r.findAllIn(p).size
      val nestedLoops = qe.optimizedPlan.collect {
        case j: Join if ExtractEquiJoinKeys.unapply(j).isEmpty => j
      }
      val uwinAll = qe.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }
      val flags = new StringBuilder
      if (n("CartesianProduct") > 0) flags.append(" CARTESIAN!")
      def verdict(tag: String, flag: String, contracts: Set[String],
          proven: Int, unproven: Int): Unit = {
        if (proven > 0) flags.append(s" $tag-proven=$proven")
        if (unproven > 0)
          flags.append(if (contracts(name)) s" $tag-contract=$unproven" else s" $flag")
        else if (contracts(name)) flags.append(" STALE-CONTRACT!")
      }
      val nlProven = nestedLoops.count(j => boundedInput(j.left) || boundedInput(j.right))
      verdict("nl", "NESTEDLOOP!", allowNestedLoop, nlProven,
        nestedLoops.size - nlProven)
      val uwinProven = uwinAll.count(w => boundedInput(w.child))
      verdict("uwin", "UNPARTWIN!", allowUnpartWindow, uwinProven,
        uwinAll.size - uwinProven)
      // text-reading scans: each one is a pass over the corpus' fat
      // column — the dominant cost at 100 TB when a multi-section plan
      // fans out over union branches (Catalyst shares no subtrees)
      val textScans = """ReadSchema: [^\n]*\btext\b""".r.findAllIn(p).size
      f"ex=${n("Exchange")}%d sort=${n("Sort")}%d " +
        f"win=${n("Window")}%d scan=${n("Scan parquet")}%d tscan=$textScans%d" +
        flags.toString
    } catch { case e: Throwable =>
      s"AUDIT-ERROR ${e.getClass.getSimpleName}"
    }
  }

  /** Audit every query in `queries` (the registered ones by default);
    * returns (name, census+flags) rows sorted by name, plus one
    * STALE-CONTRACT! row per contract name that is not in `queries`.
    * PlanAuditSpec asserts zero flag tokens over this on every `sbt test`
    * and compares the rows to the committed `PLAN_CENSUS.txt`; the main
    * above prints it. */
  def runAudit(spark: SparkSession, sfDir: String,
      queries: Map[String, graft.Q] = graft.SparkEntry.queries)
      : Seq[(String, String)] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // frame CONSTRUCTION can throw too (eager checkpoint inputs) — that
      // is just as much an audit failure as an unplannable frame
      val flags =
        try auditOne(name, fn(spark, sfDir))
        catch { case e: Throwable => s"AUDIT-ERROR ${e.getClass.getSimpleName}" }
      name -> flags
    } ++ ((allowNestedLoop ++ allowUnpartWindow) -- queries.keySet).toSeq.sorted
      .map(_ -> "STALE-CONTRACT! (not a registered query)")

  /** One census line, as `PLAN_CENSUS.txt` holds it. */
  def censusLine(name: String, line: String): String = f"$name%-26s $line"
}
