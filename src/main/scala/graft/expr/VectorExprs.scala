package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.functions.VectorFns.QuantScale

/** Codegen'd dense-vector kernels over `array<float>` / `array<double>`.
  *
  * The higher-order-function spellings in [[graft.functions.VectorFns]] are
  * oracle-friendly but allocate an intermediate array per evaluation
  * (`zip_with` materializes the products) and re-evaluate both norms for
  * every pair in a similarity join. [[CosineSim]] is the BENCH promotion
  * SURVEY.md §7.2 M7 plans: a single fused loop, no allocation, generated
  * straight into whole-stage codegen — bitwise-identical double arithmetic
  * to the HOF form (same left-to-right accumulation order), so oracle
  * results are unchanged.
  */
object VectorExprs {

  /** Column wrapper for [[CosineSim]]. */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b)))

  /** Column wrapper for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b)))

  /** Column wrapper for [[SignRpBuckets]]. */
  def signRpBuckets(vec: Column, planes: Array[Array[Double]],
      bitsPerTable: Int): Column =
    ExpressionUtils.column(SignRpBuckets(ExpressionUtils.expression(vec),
      planes, bitsPerTable))

  /** Column wrapper for [[BucketPairs]]. */
  def bucketPairs(members: Column, table: Column, floor: Double): Column =
    ExpressionUtils.column(BucketPairs(ExpressionUtils.expression(members),
      ExpressionUtils.expression(table), floor))

  /** Column wrapper for [[UnsafeVector]]. */
  def unsafeVector(vec: Column): Column =
    ExpressionUtils.column(UnsafeVector(ExpressionUtils.expression(vec)))

  /** Column wrapper for [[SortedMean]]. */
  def sortedMean(lists: Column, count: Column): Column =
    ExpressionUtils.column(SortedMean(ExpressionUtils.expression(lists),
      ExpressionUtils.expression(count)))

  /** Deterministic ±1 (Rademacher) hyperplanes, `numPlanes × dim`, from a
    * seeded java LCG — reproducible across JVMs and inlinable into oracle
    * SQL as literals. */
  def rademacherPlanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }
}

/** Shared loop-codegen scaffolding for two-array kernels. Null semantics
  * mirror the HOF forms: null input array → null, length mismatch → null
  * (zip_with pads with null, poisoning the fold), any null element → null.
  */
trait VectorKernel { self: BinaryExpression =>

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemGetter(e: Expression): String = e.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case t => throw new IllegalArgumentException(
      s"${getClass.getSimpleName} needs array<float|double>, got $t")
  }

  protected def elemAt(a: ArrayData, e: Expression, i: Int): Double =
    e.dataType match {
      case ArrayType(FloatType, _) => a.getFloat(i).toDouble
      case ArrayType(DoubleType, _) => a.getDouble(i)
      case t => throw new IllegalArgumentException(s"bad element type $t")
    }
}

/** Fused cosine similarity: dot(a,b) / (||a|| * ||b||); 0.0 when either norm
  * is 0 (matches the zip_with + aggregate spelling and the reference's
  * Qdrant COSINE metric, reference: PLATFORM-contextual-Chunking.py:137-144).
  *
  * The generated code calls [[CosineSim.eval]]: one static loop that the
  * JIT compiles once and every query shares. A loop spelled into each
  * whole-stage method starts interpreted in every newly generated class,
  * and a job that outgrows Spark's codegen cache generates its classes
  * afresh on every run. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  private def isFloat(e: Expression) = elemGetter(e) == "getFloat"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements() || CosineSim.anyNull(a) || CosineSim.anyNull(b)) null
    else CosineSim.eval(a, isFloat(left), b, isFloat(right))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the companion's module instance: its `eval` gets no static forwarder,
    // the class's own `eval(InternalRow)` holds the name
    val k = CosineSim.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements() || $k.anyNull($a) || $k.anyNull($b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $k.eval($a, ${isFloat(left)}, $b, ${isFloat(right)});
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** Whether any element of `a` is null. An `UnsafeArrayData` answers from
    * its null bitmap, a word per 64 elements. */
  def anyNull(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData =>
      val words = (u.numElements() + 63) / 64
      var i = 0
      while (i < words) {
        if (Platform.getLong(u.getBaseObject, u.getBaseOffset + 8L + 8L * i) != 0L) return true
        i += 1
      }
      false
    case _ =>
      var i = 0
      while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
      false
  }

  /** Cosine of two equal-length, null-free arrays, accumulated left to right
    * in double (`aFloat`/`bFloat`: element type float, else double). */
  def eval(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Sign-random-projection LSH bucket keys — the deterministic, engine-
  * portable alternative to MLlib's BucketedRandomProjectionLSH (whose
  * internal Gaussian draws no SQL engine can replicate).
  *
  * Each input element is quantized to an integer-valued double
  * (`floor(x * QuantScale + 0.5)`, the [[graft.functions.VectorFns.quantize]]
  * grid) and dotted with ±1 hyperplanes, so every
  * product and partial sum is an integer far below 2^53: the arithmetic is
  * EXACT, order-independent, and bitwise-reproducible in any engine — which
  * is what makes the whole LSH pipeline hash-checkable against DuckDB.
  * Output: one key per table; key = bitmask of `dot(q, plane) >= 0` over
  * that table's `bitsPerTable` consecutive planes.
  *
  * One fused pass per row (quantize once, then planes × dim multiply-adds)
  * in [[SignRpBuckets.keys]], which the generated code calls: a static loop
  * the JIT compiles once for every query, as [[CosineSim.eval]] is. Planes
  * ride along as a reference object, not a per-row literal.
  */
case class SignRpBuckets(child: Expression, planes: Array[Array[Double]],
    bitsPerTable: Int)
    extends UnaryExpression {
  require(planes.nonEmpty && planes.length % bitsPerTable == 0,
    s"planes(${planes.length}) must be a multiple of bitsPerTable($bitsPerTable)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"bad element type $t")
  }

  override def nullSafeEval(input: Any): Any =
    SignRpBuckets.keys(input.asInstanceOf[ArrayData], isFloat, planes, bitsPerTable, QuantScale)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val k = SignRpBuckets.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = $k.keys($a, $isFloat, $planesRef, $bitsPerTable, ${QuantScale}D);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignRpBuckets {

  /** One key per table of `bitsPerTable` planes; null when `a` holds a null
    * element (`isFloat`: element type float, else double). `scale` is
    * always [[graft.functions.VectorFns.QuantScale]], passed in so the
    * generated code carries it as a literal. */
  def keys(a: ArrayData, isFloat: Boolean, planes: Array[Array[Double]], bitsPerTable: Int,
      scale: Double): ArrayData = {
    val n = a.numElements()
    val q = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      q(i) = math.floor((if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * scale + 0.5)
      i += 1
    }
    val numTables = planes.length / bitsPerTable
    val keys = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var key = 0L
      var b = 0
      while (b < bitsPerTable) {
        val p = planes(t * bitsPerTable + b)
        val d = math.min(n, p.length)
        var dot = 0.0
        var j = 0
        while (j < d) { dot += q(j) * p(j); j += 1 }
        if (dot >= 0.0) key |= (1L << b)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}

/** The near pairs of one sign-RP LSH bucket, for
  * [[graft.ops.Similarity.rpLshNearDup]]. `members` is the bucket's
  * `array<struct<id, keys, vec>>` (id of any ordered type, the vector's
  * per-table key array, the vector); `table` is the bucket's table index.
  * Returns `array<struct<id_a, id_b, cos>>`: every member pair with
  * id_a < id_b whose key arrays agree at no table below `table` (so a pair
  * sharing buckets in several tables is compared only in the first), whose
  * vectors are null-free and of one length, and whose [[CosineSim]] value is
  * at least `floor`, in member order (i, then j > i).
  *
  * The loop is priced per pair, so everything per member is done once per
  * bucket: each member with a non-null id and a null-free vector has its
  * vector copied into a `double[]` (floats widen exactly), its norm
  * `sqrt(Σx²)` taken by the left-to-right loop of [[CosineSim.eval]], and
  * its keys below `table` read into a `long[]`. Member i's partners are
  * then dotted with it four at a time, one accumulator per partner, each
  * adding its products in index order ([[BucketPairs.dots]]). The products,
  * their order of summation, the denominator `norm_a · norm_b` and the 0.0
  * for a zero denominator are those of [[CosineSim.eval]], and IEEE `*` is
  * commutative, so the cosine is [[CosineSim.eval]]'s bit for bit.
  *
  * Called once per bucket, so it is evaluated, not generated: the pairwise
  * loop is compiled code that every query shares. */
case class BucketPairs(members: Expression, table: Expression, floor: Double)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = members
  override def right: Expression = table

  private def memberType = members.dataType.asInstanceOf[ArrayType].elementType
    .asInstanceOf[StructType]
  private lazy val idType = memberType.head.dataType
  @transient private lazy val idOrdering = PhysicalDataType.ordering(idType)
  private lazy val vecFloat = memberType(2).dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", idType), StructField("id_b", idType),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(m: Any, t: Any): Any = {
    val arr = m.asInstanceOf[ArrayData]
    val tbl = t.asInstanceOf[Int]
    val n = arr.numElements()
    val ids = new Array[Any](n)
    val vecs = new Array[Array[Double]](n) // null: the member pairs with none
    val norms = new Array[Double](n)
    val keys = new Array[Long](n * tbl)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 3)
      val v = if (r.isNullAt(0) || r.isNullAt(2)) null else r.getArray(2)
      if (v != null && !CosineSim.anyNull(v)) {
        ids(i) = r.get(0, idType)
        vecs(i) = BucketPairs.widen(v, vecFloat)
        norms(i) = BucketPairs.norm(vecs(i))
        val ks = r.getArray(1)
        var k = 0
        while (k < tbl) { keys(i * tbl + k) = ks.getLong(k); k += 1 }
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val partner = new Array[Int](n) // member i's partners j, in j order
    val iFirst = new Array[Boolean](n) // whether id(i) < id(j)
    val dots = new Array[Double](n)
    i = 0
    while (i < n) {
      val x = vecs(i)
      if (x != null) {
        var np = 0
        var j = i + 1
        while (j < n) {
          if (vecs(j) != null && vecs(j).length == x.length) {
            val c = idOrdering.compare(ids(i), ids(j))
            if (c != 0) {
              var k = 0
              while (k < tbl && keys(i * tbl + k) != keys(j * tbl + k)) k += 1
              if (k == tbl) { partner(np) = j; iFirst(np) = c < 0; np += 1 }
            }
          }
          j += 1
        }
        BucketPairs.dots(x, vecs, partner, np, dots)
        var p = 0
        while (p < np) {
          val a = if (iFirst(p)) i else partner(p)
          val b = i + partner(p) - a
          val denom = norms(a) * norms(b)
          val cos = if (denom == 0.0) 0.0 else dots(p) / denom
          if (cos >= floor) out += InternalRow(ids(a), ids(b), cos)
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(members = newLeft, table = newRight)
}

object BucketPairs {

  /** The null-free vector `v` as doubles (`isFloat`: element type float). */
  private def widen(v: ArrayData, isFloat: Boolean): Array[Double] =
    if (!isFloat) v.toDoubleArray()
    else {
      val f = v.toFloatArray()
      val d = new Array[Double](f.length)
      var k = 0
      while (k < f.length) { d(k) = f(k); k += 1 }
      d
    }

  /** `sqrt(Σ x(k)²)`, summed left to right from 0.0. */
  private def norm(x: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < x.length) { s += x(k) * x(k); k += 1 }
    math.sqrt(s)
  }

  /** `out(p) = Σ_k x(k) · vecs(partner(p))(k)` for every p < np, each
    * summed left to right from 0.0. Four partners share one pass over `x`,
    * each in its own accumulator, so `x(k)` is loaded once per four
    * products and the four sums run independently. */
  private def dots(x: Array[Double], vecs: Array[Array[Double]], partner: Array[Int],
      np: Int, out: Array[Double]): Unit = {
    val d = x.length
    var p = 0
    while (p + 4 <= np) {
      val y0 = vecs(partner(p)); val y1 = vecs(partner(p + 1))
      val y2 = vecs(partner(p + 2)); val y3 = vecs(partner(p + 3))
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var k = 0
      while (k < d) {
        val xk = x(k)
        s0 += xk * y0(k); s1 += xk * y1(k); s2 += xk * y2(k); s3 += xk * y3(k)
        k += 1
      }
      out(p) = s0; out(p + 1) = s1; out(p + 2) = s2; out(p + 3) = s3
      p += 4
    }
    while (p < np) {
      val y = vecs(partner(p))
      var s = 0.0
      var k = 0
      while (k < d) { s += x(k) * y(k); k += 1 }
      out(p) = s
      p += 1
    }
  }
}

/** The vector `child` (`array<float|double>`) as an `UnsafeArrayData`, for
  * a generator that writes it into several output rows: a generated row
  * writer copies an `UnsafeArrayData` in one memory copy, and any other
  * array (a vectorized Parquet scan's `ColumnarArray`) element by element,
  * once per output row. An `UnsafeArrayData` passes through as it is; null
  * elements stay null. */
case class UnsafeVector(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"UnsafeVector needs array<float|double>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    UnsafeVector.copy(input.asInstanceOf[ArrayData], isFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = UnsafeVector.getClass.getName + ".MODULE$"
    defineCodeGen(ctx, ev, a => s"$k.copy($a, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnsafeVector {

  /** `a` itself when it is an `UnsafeArrayData`, else a copy: the elements
    * in bulk (`toFloatArray`/`toDoubleArray`), then each null element's
    * bit set and its slot zeroed (`isFloat`: element type float). */
  def copy(a: ArrayData, isFloat: Boolean): UnsafeArrayData = a match {
    case u: UnsafeArrayData => u
    case _ =>
      val u = if (isFloat) UnsafeArrayData.fromPrimitiveArray(a.toFloatArray())
        else UnsafeArrayData.fromPrimitiveArray(a.toDoubleArray())
      var i = 0
      while (i < a.numElements()) {
        if (a.isNullAt(i)) {
          if (isFloat) u.setFloat(i, 0.0f) else u.setDouble(i, 0.0)
          u.setNullAt(i)
        }
        i += 1
      }
      u
  }
}

/** The mean of one (label, pos) column of [[graft.ops.Similarity.centroids]].
  * `lists` holds the column's non-null components as `array<array<double>>`,
  * one array per map-side label run; `count` is the number of vectors that
  * reach the position. The components are sorted ascending
  * (`java.util.Arrays.sort`), folded left to right from 0.0 and divided by
  * `count`.
  *
  * Called once per group, so it is evaluated, not generated: the sort and
  * the fold are compiled code that every query shares. */
case class SortedMean(lists: Expression, count: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = lists
  override def right: Expression = count
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, c: Any): Any = {
    val parts = l.asInstanceOf[ArrayData]
    val arrays = Array.tabulate(parts.numElements())(i => parts.getArray(i).toDoubleArray())
    val xs = new Array[Double](arrays.map(_.length).sum)
    var at = 0
    arrays.foreach { a => System.arraycopy(a, 0, xs, at, a.length); at += a.length }
    java.util.Arrays.sort(xs)
    var acc = 0.0
    var i = 0
    while (i < xs.length) { acc += xs(i); i += 1 }
    acc / c.asInstanceOf[Long]
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lists = newLeft, count = newRight)
}

/** Fused dot product: sum_i a_i * b_i (double, left-to-right). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += elemAt(a, left, i) * elemAt(b, right, i)
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (getA, getB) = (elemGetter(left), elemGetter(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ((double) $a.$getA($i)) * ((double) $b.$getB($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
