package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal Column ⇄ Catalyst Expression bridge for custom expressions.
  *
  * Spark 4 made the Column API backend-agnostic; the classic converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`, so
  * this shim lives in an `org.apache.spark.sql` subpackage — the standard
  * extension-point pattern for libraries shipping custom codegen
  * expressions without a SparkSessionExtensions registration.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native-expression SQL function on a live session (the
    * FunctionRegistry is `private[sql]`, like the converters above). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Rebuild a DataFrame over an already-captured `InternalRow` RDD
    * (`df.queryExecution.toRdd`) WITHOUT the external-Row encoder
    * round-trip `createDataFrame(rdd: RDD[Row])` pays.
    *
    * The load-bearing property for two-phase operators ([[graft.ops.Ids]]):
    * capturing `toRdd` materializes the plan's shuffle dependencies ONCE —
    * in particular a range partitioner's sampled bounds, which are seeded
    * by `rdd.id` and therefore DIFFER between two independently-planned
    * actions over the same logical plan. Every job launched against the
    * captured RDD shares those bounds (and reuses the shuffle files), so a
    * count pass and an assignment pass can never disagree on the layout.
    *
    * COMPATIBILITY CONTRACT — the two-phase primitive rests on three
    * Spark behaviors that are stable in 3.x–4.x but are NOT public API;
    * `graft.BridgeCanarySpec` asserts each one and fails fast on a Spark
    * upgrade that moves any of them:
    *
    *  1. `queryExecution.toRdd` returns the PHYSICAL `InternalRow` RDD of
    *     the plan, and re-running jobs against that one instance reuses
    *     its computed shuffle layout (same partition count, same rows per
    *     partition across jobs);
    *  2. `monotonically_increasing_id()` packs `partitionId << 33 |
    *     recordPositionInPartition` with the position 0-based and dense
    *     (its documented layout — the assignment projections in
    *     [[graft.ops.Ids]] decode the low 33 bits);
    *  3. `classic.SparkSession.internalCreateDataFrame` (private[sql])
    *     wraps an `InternalRow` RDD without changing its partitioning —
    *     the rebuilt frame enumerates the captured RDD's partitions
    *     verbatim. */
  def dataFrameFromInternalRdd(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Release the executor blocks pinned by a `localCheckpoint` the moment
    * its readers are done — `Dataset.unpersist` only consults the
    * CacheManager (`.cache()` entries), so a checkpointed frame's storage
    * otherwise lives until the session dies. Walks the analyzed plan for
    * the checkpoint's `LogicalRDD` leaves and unpersists their RDDs
    * (non-blocking); a no-op on frames that were never checkpointed. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Force-compile every WholeStageCodegen subtree of a plan and return the
    * generated sources. `WholeStageCodegenExec.doExecute` swallows Janino
    * failures and silently falls back to interpreted execution, so a CI
    * assertion that a custom `doGenCode` actually COMPILES must invoke the
    * compiler directly — this throws on any generated-code error. */
  def compileWholeStageCodegen(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    def walk(p: SparkPlan): Seq[WholeStageCodegenExec] = {
      // AQE hides materialized stages behind LEAF wrappers — unwrap them
      val here = p match {
        case w: WholeStageCodegenExec => Seq(w)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedSubqueryExec => walk(r.child)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).map { w =>
      val (_, code) = w.doCodeGen()
      CodeGenerator.compile(code) // throws on generated-code compile errors
      code.body
    }
  }

  /** LAZY localCheckpoint that KEEPS its hash partitioning visible to the
    * planner — the general fix for the checkpoint-vs-partitioning tension
    * the r18 record documents: `Dataset.localCheckpoint` rebuilds the
    * frame over a `LogicalRDD` whose `outputPartitioning` is
    * `UnknownPartitioning` under AQE (probed on this Spark: lazy AND
    * eager both lose it), so every keyed consumer of a checkpointed
    * intermediate pays a fresh exchange of data that is ALREADY laid out
    * exactly as required. This helper pins the layout itself —
    * `repartition(numPartitions, cols)` with an EXPLICIT count, which AQE
    * is documented not to coalesce — checkpoints lazily, and re-wraps the
    * `LogicalRDD` leaf with the matching `HashPartitioning` declared, so
    * downstream joins/aggregations keyed on `cols` plan exchange-free
    * against it.
    *
    * Soundness: the declared partitioning is the SAME expression set and
    * partition count as the repartition that physically produced the
    * checkpointed rows (`HashPartitioning(cols, n)`, Murmur3 — what every
    * `ClusteredDistribution` requirement hashes with), and user-specified
    * repartition counts are exempt from AQE coalescing, so declaration
    * and physical layout cannot diverge. When `df` is ALREADY laid out
    * that way (its plan ends in a matching explicit-count repartition
    * below partitioning-preserving operators, as
    * [[graft.ops.Retrieval.bm25Weights]]' doc pin does), the planner
    * drops this repartition (EnsureRequirements' `optimizeOutRepartition`
    * removes a user repartition whose child already reports a
    * semantically equal `HashPartitioning`), and the declaration stays
    * sound: the rule fires only when the rows are already
    * hash-partitioned on the same expressions and count, and an upstream
    * explicit-count repartition is exempt from coalescing like this one.
    * The rebuilt leaf carries NO origin statistics (they live in a
    * curried constructor list the instance does not expose), so the
    * planner sizes it at
    * `defaultSizeInBytes` — i.e. the frame will never be auto-broadcast.
    * That is the right conservatism for this helper's intended use
    * (corpus-sized intermediates whose broadcast would be a bug); do NOT
    * route a small frame you expect AQE to broadcast through here.
    * `BridgeCanarySpec` asserts the contract (LogicalRDD leaf shape,
    * partition count, exchange-free keyed aggregation, result equality)
    * and fails fast on a Spark upgrade that moves any of it. */
  def localCheckpointHashPartitioned(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String], numPartitions: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    require(numPartitions >= 1, s"numPartitions must be >= 1: $numPartitions")
    val ck = df
      .repartition(numPartitions, cols.map(df.col): _*)
      .localCheckpoint(eager = false)
    val lr = ck.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    require(lr.size == 1, s"expected one LogicalRDD leaf, got ${lr.size}")
    val leaf = lr.head
    // NOTE: the physical partition count is NOT asserted here — touching
    // leaf.rdd.partitions could force stage materialization at query
    // CONSTRUCTION time, violating the repo's zero-job construction
    // contract (PlanAudit/explain build every query). The count property
    // is guaranteed by construction (explicit-N repartition root, exempt
    // from AQE coalescing) and asserted under execution in
    // BridgeCanarySpec.
    val attrs = cols.map(c => leaf.output.find(_.name == c).getOrElse(
      sys.error(s"no column $c in ${leaf.output.map(_.name)}")))
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val newLeaf = leaf.copy(
        outputPartitioning = HashPartitioning(attrs, numPartitions))(
      cs, None, None)
    org.apache.spark.sql.classic.Dataset.ofRows(cs, newLeaf)
  }

  /** Block until the listener bus has delivered every event posted so far
    * (`SparkContext.listenerBus` is `private[spark]`). A job's end and its
    * tasks' ends are posted before its action returns, so a listener read
    * after this sees that job's complete totals. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
