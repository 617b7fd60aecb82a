package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Similarity

/** [[Similarity.centroids]] (label runs, one sorted-fold kernel per
  * (label, pos) group) against the `posexplode` spelling in
  * [[Reference.centroids]]: same schema, same bits, on the fixture and on
  * the degenerate inputs a vector column can hold. */
class CentroidsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf001 = "/root/testdata/sf0.01"

  /** Label (as text, null first) → the centroid's raw double bits. */
  private def bits(df: DataFrame): Seq[(Option[String], Seq[Long])] =
    df.collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.toString),
        r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits))
    }.sortBy(_._1)

  private def assertSame(in: DataFrame, vecCol: String): Seq[(Option[String], Seq[Long])] = {
    val got = Similarity.centroids(in, "label", vecCol)
    val want = Reference.centroids(in, "label", vecCol)
    assert(got.schema == want.schema)
    val g = bits(got)
    assert(g.nonEmpty)
    assert(g == bits(want))
    g
  }

  test("centroids equals the posexplode reference bit for bit on sf0.01 at 1 and 7 partitions") {
    val e = io.Tables.embeddings(spark, sf001)
    assertSame(e.coalesce(1), "embedding")
    assertSame(e.repartition(7), "embedding")
  }

  test("centroids equals the reference bit for bit on an array<double> copy") {
    val e = io.Tables.embeddings(spark, sf001)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    assertSame(e.repartition(7), "embedding")
  }

  /** Null, empty and ragged vectors, null elements, signed zeros, NaN and
    * both infinities, a null label, and label 3 whose vectors are all null
    * or empty; spread over 3 partitions, so a label's runs meet in the
    * (label, pos) group. No column holds both a NaN component and the
    * +∞/−∞ pair: their sum's NaN bits (the input's or the one ∞ − ∞ makes)
    * are whichever operand the JIT's add keeps, in either spelling. */
  private def degenerate: DataFrame = {
    val schema = StructType(Seq(StructField("label", IntegerType),
      StructField("v", ArrayType(DoubleType))))
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val rows = Seq[Row](
      Row(1, Seq(1.0, -0.0, 3.0)),
      Row(1, Seq(0.0, null, 2.0, 5.0)),
      Row(1, null),
      Row(1, Seq.empty[Double]),
      Row(2, Seq(inf, nan, -0.0)),
      Row(2, Seq(-inf, 1.0, inf)),
      Row(2, Seq(2.0, nan, -0.0)),
      Row(3, null),
      Row(3, Seq.empty[Double]),
      Row(null, Seq(-0.0, 1.5)),
      Row(null, Seq(-0.0, null)),
      Row(4, Seq(null, null)),
      Row(4, Seq(-0.0)),
      Row(1, Seq(-0.0, 0.0, -1.0e300)),
      Row(2, Seq(3.0, 4.0, nan)),
      Row(5, Seq(-inf, 1.0)),
      Row(5, Seq(-inf, -inf)),
      Row(4, Seq(-0.0, 7.0, 1.0)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("centroids equals the reference on null, empty, ragged and non-finite vectors") {
    val got = assertSame(degenerate, "v")
    // label 3 has only null and empty vectors: no row, as in the reference
    assert(got.map(_._1) == Seq(None, Some("1"), Some("2"), Some("4"), Some("5")))
    val means = got.toMap.map { case (l, c) => l -> c.map(java.lang.Double.longBitsToDouble) }
    // label 2: +inf and -inf at pos 0, NaNs at pos 1, a NaN and +inf at pos 2
    assert(means(Some("2")).forall(_.isNaN))
    assert(means(Some("5")) == Seq(Double.NegativeInfinity, Double.NegativeInfinity))
    // pos 1 of label 4 is null in one vector: it counts, and adds nothing
    assert(means(Some("4"))(1) == 3.5)
  }

  test("centroids equals the reference with a string label and float vectors") {
    val s = degenerate
      .withColumn("label", concat(lit("c"), col("label").cast("string")))
      .withColumn("v", col("v").cast("array<float>"))
    assertSame(s, "v")
  }

  test("centroids plans no Generate; its first exchange and its one collect of components are (label, pos)") {
    val c = Similarity.centroids(io.Tables.embeddings(spark, sfDir), "label", "embedding")
    val plan = c.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[GenerateExec]).isEmpty, plan)
    val keys = collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }
      .map { case h: HashPartitioning => h.expressions.map(_.sql); case p => Seq(p.toString) }
    // collect walks top-down: the last exchange is the one nearest the scan
    assert(keys == Seq(Seq("label"), Seq("label", "pos")), plan)
    val componentGroups = collect(plan) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.aggregateFunction match {
        case CollectList(child, _, _) => child.references.exists(_.name == "__vals")
        case _ => false
      }) => a.groupingExpressions.map(_.sql)
    }
    assert(componentGroups.nonEmpty && componentGroups.forall(_ == Seq("label", "pos")), plan)
  }
}
