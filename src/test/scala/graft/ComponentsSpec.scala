package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ops.Components

class ComponentsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def cc(vertexIds: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val v = vertexIds.toDF("id")
    val e = edges.toDF("a", "b")
    Components.connectedComponents(v, "id", e, "a", "b")
      .as[(Long, Long)].collect().toMap
  }

  test("connectedComponents: long chain collapses to its minimum") {
    // a 40-hop path — the exact shape where one-hop label propagation
    // needs diameter rounds; the star algorithm must still converge
    val n = 40L
    val out = cc(1L to n, (1L until n).map(i => (i, i + 1)))
    assert(out.values.toSet == Set(1L))
  }

  test("connectedComponents: chain with ids adversarial to min-propagation") {
    // min id in the middle, ids zig-zag so the argmin chain is unhelpful
    val ids = Seq(7L, 3L, 9L, 1L, 8L, 4L, 6L)
    val edges = ids.zip(ids.tail)
    val out = cc(ids, edges)
    assert(out.values.toSet == Set(1L))
  }

  test("connectedComponents: multiple components and isolated vertices") {
    val out = cc(
      Seq(1L, 2L, 3L, 10L, 11L, 20L),
      Seq((2L, 3L), (1L, 2L), (10L, 11L)))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedComponents: duplicate, reversed, and self-loop edges are harmless") {
    val out = cc(Seq(1L, 2L, 3L), Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("connectedComponents: no edges at all") {
    val out = cc(Seq(5L, 6L), Seq.empty)
    assert(out == Map(5L -> 5L, 6L -> 6L))
  }

  test("dedupClusters: sizes and canonical flags") {
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Components.dedupClusters(v, "id", e, "a", "b")
      .select($"id", $"component", $"comp_size", $"is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true)))
  }

  /** Run `body` and return the call sites of the Spark jobs it launched,
    * in launch order. */
  private def jobCallSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sites = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = sites.synchronized {
        sites += Option(j.properties).map(_.getProperty("callSite.short")).orNull
      }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    sites.synchronized(sites.toList)
  }

  test("connectedComponents: one round is 3 jobs, each labelled with its round") {
    // the same one-row plan with b = a (a self-loop, so no edge) and with
    // b = a + 1: the setup costs the same, and the difference is the round
    val v = Seq(1L, 2L).toDF("id")
    def graph(b: Long) = spark.range(1, 2).select($"id".as("a"), ($"id" + b).as("b"))
    val none = jobCallSites(Components.connectedComponents(v, "id", graph(0L), "a", "b"))
    val before = spark.sparkContext.getLocalProperty("callSite.short")
    val one = jobCallSites(Components.connectedComponents(v, "id", graph(1L), "a", "b"))
    // one edge is a star already: exactly one round, which converges
    assert(one.size - none.size <= 3, s"no edges: $none, one edge: $one")
    assert(one.count(_ == "Components.round1") == 3, one)
    assert(!one.exists(s => s != null && s.startsWith("Components.round2")), one)
    assert(spark.sparkContext.getLocalProperty("callSite.short") == before,
      "the caller's call site is restored")
  }

  test("connectedComponents: a round's plan has 2 exchanges plus 1 reused, large-star's window once") {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = 12L
      cc(1L to n, (1L until n).map(i => (i, i + 1)))
      Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val rounds = plans.synchronized(plans.toList).drop(1) // the first is the setup checkpoint
    assert(rounds.nonEmpty)
    rounds.foreach { p =>
      assert(collect(p) { case x: ShuffleExchangeExec => x }.size == 2, p)
      assert(collect(p) { case x: ReusedExchangeExec => x }.size == 1, p)
      // small-star's window in each union branch, large-star's once below
      // the reused exchange
      assert(collect(p) { case x: WindowExec => x }.size == 3, p)
    }
  }

  test("connectedComponents: a duplicated clique with a chain equals union-find") {
    // a 12-clique whose edges are each listed 3x in both orientations —
    // every round's input dedupe must absorb it — with a 10-node chain
    // hanging off a middle member, ids zig-zagging below the clique's
    val clique = (20L to 31L).toList
    val cliqueEdges = for {
      a <- clique; b <- clique if a < b
      e <- Seq((a, b), (b, a)); _ <- 1 to 3
    } yield e
    val chain = List(25L, 9L, 14L, 3L, 17L, 6L, 12L, 1L, 15L, 8L, 11L)
    val edges = cliqueEdges ++ chain.zip(chain.tail)
    val ids = (clique ++ chain :+ 40L).distinct
    val parent = mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(cc(ids, edges) == ids.map(i => i -> find(i)).toMap)
  }
}
