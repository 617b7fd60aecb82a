package graft

import java.lang.Double.doubleToRawLongBits

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarArray
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{BucketPairs, UnsafeVector, VectorExprs}

/** [[BucketPairs]] (per-member norms, dot products four partners at a
  * time) against the pair-by-pair loop in [[Reference.bucketPairs]]: same
  * ids, same row order, same raw bits of every cosine; and the
  * [[UnsafeVector]] copy that feeds the bucket exchange. */
class BucketPairsSpec extends SparkSpec {

  private val dim = 13
  private val tables = 6

  /** One of the special element values, or a uniform draw in [-1, 1). */
  private def element(rng: Random): Any = rng.nextInt(120) match {
    case 0 => Double.NaN
    case 1 => Double.PositiveInfinity
    case 2 => Double.NegativeInfinity
    case 3 => 0.0
    case 4 => -0.0
    case 5 => null
    case _ => rng.nextDouble() * 2 - 1
  }

  /** A random member: ids from a range a little smaller than the bucket (so
    * some repeat), a null id now and then, six keys over {0, 1} (so pairs
    * first agree at every table 0…5, or at none), and a vector that is now
    * and then null, all zeros, one longer or shorter, or holds special
    * elements. */
  private def member(rng: Random, size: Int, stringIds: Boolean, float: Boolean): InternalRow = {
    val id: Any =
      if (rng.nextInt(15) == 0) null
      else {
        val v = rng.nextInt(math.max(1, size - size / 8)).toLong
        if (stringIds) UTF8String.fromString(s"d$v") else v
      }
    val keys = UnsafeArrayData.fromPrimitiveArray(Array.fill(tables)(rng.nextInt(2).toLong))
    val len = if (rng.nextInt(12) == 0) dim - 1 + 2 * rng.nextInt(2) else dim
    val vec: Any = rng.nextInt(20) match {
      case 0 => null
      case 1 => new GenericArrayData(Array.fill[Any](len)(if (float) 0.0f: Any else 0.0: Any))
      case _ => new GenericArrayData(Array.fill(len)(element(rng) match {
        case d: Double if float => d.toFloat
        case e => e
      }))
    }
    InternalRow(id, keys, vec)
  }

  private def bucketType(stringIds: Boolean, float: Boolean) = StructType(Seq(
    StructField("m", ArrayType(StructType(Seq(
      StructField("id", if (stringIds) StringType else LongType),
      StructField("keys", ArrayType(LongType, containsNull = false)),
      StructField("vec", ArrayType(if (float) FloatType else DoubleType))))), nullable = false),
    StructField("t", IntegerType, nullable = false)))

  /** (id_a, id_b, raw cosine bits) per row, in row order. */
  private def rows(out: ArrayData): Seq[(String, String, Long)] =
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 3)
      (r.get(0, null).toString, r.get(1, null).toString, doubleToRawLongBits(r.getDouble(2)))
    }

  test("BucketPairs equals the pair-by-pair reference: ids, row order and cosine bits") {
    val sizes = (0 to 9) :+ 69
    var pairsAt = Map.empty[Int, Int]
    for {
      stringIds <- Seq(false, true)
      float <- Seq(true, false)
      unsafe <- Seq(false, true)
      size <- sizes
      seed <- 0 until 3
    } {
      val rng = new Random(seed * 1000 + size)
      val tpe = bucketType(stringIds, float)
      val generic = InternalRow(
        new GenericArrayData(Array.fill[Any](size)(member(rng, size, stringIds, float))), 0)
      // the exchange hands the kernel unsafe rows; a local relation, generic ones
      val bucket = if (unsafe) UnsafeProjection.create(tpe)(generic).copy() else generic
      val memberType = tpe("m").dataType
      val idType = if (stringIds) StringType else LongType
      for (t <- 0 until tables; floor <- Seq(-2.0, 0.3)) {
        val in = InternalRow(bucket.getArray(0), t)
        val got = BucketPairs(BoundReference(0, memberType, nullable = false),
          BoundReference(1, IntegerType, nullable = false), floor).eval(in)
        val want = Reference.bucketPairs(bucket.getArray(0), t, floor, idType, float)
        val g = rows(got.asInstanceOf[ArrayData])
        assert(g == rows(want), s"size $size seed $seed t $t floor $floor " +
          s"string ids $stringIds float $float unsafe $unsafe")
        pairsAt += t -> (pairsAt.getOrElse(t, 0) + g.size)
      }
    }
    // every first shared table is exercised
    assert((0 until tables).forall(t => pairsAt.getOrElse(t, 0) > 0), pairsAt)
  }

  test("BucketPairs keeps zero-vector, signed-zero and non-finite cosines as the reference does") {
    def v(xs: Double*) = new GenericArrayData(xs.toArray[Any])
    val keys = UnsafeArrayData.fromPrimitiveArray(Array(0L))
    val vecs = Seq(v(0.0, 0.0), v(-0.0, 1.0), v(1.0, -0.0), v(Double.PositiveInfinity, 1.0),
      v(Double.NaN, 1.0), v(1e-300, 1e-300), v(-1.0, 0.0), v(1.0, 0.0))
    val members = new GenericArrayData(vecs.zipWithIndex.map { case (x, i) =>
      InternalRow(i.toLong, keys, x) }.toArray[Any])
    val tpe = bucketType(stringIds = false, float = false)("m").dataType
    val got = BucketPairs(BoundReference(0, tpe, nullable = false),
      BoundReference(1, IntegerType, nullable = false), -2.0).eval(InternalRow(members, 0))
    val g = rows(got.asInstanceOf[ArrayData])
    assert(g == rows(Reference.bucketPairs(members, 0, -2.0, LongType, vecFloat = false)))
    // the zero vector pairs at 0.0 with every finite vector; NaN cosines drop
    assert(g.count(r => r._1 == "0" && r._3 == doubleToRawLongBits(0.0)) == 5)
    assert(!g.exists(r => r._1 == "3" || r._2 == "3" || r._1 == "4" || r._2 == "4"))
    assert(g.contains(("6", "7", doubleToRawLongBits(-1.0))))
  }

  test("UnsafeVector passes unsafe arrays through and copies others with their nulls") {
    val u = UnsafeArrayData.fromPrimitiveArray(Array(1.5f, -2f))
    assert(UnsafeVector.copy(u, isFloat = true) eq u)

    def check(a: ArrayData, isFloat: Boolean, want: Seq[Option[Double]]): Unit = {
      val c = UnsafeVector.copy(a, isFloat)
      assert(c.numElements() == want.size)
      want.zipWithIndex.foreach {
        case (None, i) => assert(c.isNullAt(i))
        case (Some(x), i) =>
          assert(!c.isNullAt(i))
          val got = if (isFloat) c.getFloat(i).toDouble else c.getDouble(i)
          assert(doubleToRawLongBits(got) == doubleToRawLongBits(x))
      }
    }
    val want = Seq(Some(1.5), None, Some(-0.0), Some(Double.PositiveInfinity))
    check(new GenericArrayData(Array[Any](1.5f, null, -0.0f, Float.PositiveInfinity)),
      isFloat = true, want)
    check(new GenericArrayData(Array[Any](1.5, null, -0.0, Double.PositiveInfinity)),
      isFloat = false, want)
    // a vectorized scan's array: a window of a column vector, nulls in its mask
    for (isFloat <- Seq(true, false)) {
      val col = new OnHeapColumnVector(6, if (isFloat) FloatType else DoubleType)
      Seq(9.0, 1.5, 7.0, -0.0, Double.PositiveInfinity, 3.0).zipWithIndex.foreach {
        case (x, i) => if (isFloat) col.putFloat(i, x.toFloat) else col.putDouble(i, x)
      }
      col.putNull(2)
      check(new ColumnarArray(col, 1, 4), isFloat, want)
      col.close()
    }
  }

  test("unsafeVector in generated code equals its input on a Parquet scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("unsafe-vector").toString
    Seq((1L, Option(Seq(Some(1.5f), None, Some(-0.0f))), Seq(Some(2.5), Some(-1.0))),
      (2L, None, Seq(None, Some(0.0))),
      (3L, Some(Seq.empty[Option[Float]]), Seq.empty[Option[Double]]))
      .toDF("id", "f", "d").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val out = df.select(col("id"), VectorExprs.unsafeVector(col("f")).as("uf"), col("f"),
      VectorExprs.unsafeVector(col("d")).as("ud"), col("d")).orderBy("id").collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.get(1) == r.get(2) && r.get(3) == r.get(4), r)
    }
  }
}
