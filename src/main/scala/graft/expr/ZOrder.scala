package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bit-spread body as a STATIC forwarder (same rationale as
  * [[HashKernels]] / ShingleKernels): generated stages call it directly,
  * keeping layout jobs inside whole-stage codegen. */
object ZOrderKernels {
  /** Morton interleave: spread each value's low 21 bits to even positions,
    * OR the second operand shifted up one. Standard magic-mask sequence. */
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  private def spread(v: Long): Long = {
    var x = v & 0x1fffffL
    x = (x | (x << 32)) & 0x1f00000000ffffL
    x = (x | (x << 16)) & 0x1f0000ff0000ffL
    x = (x | (x << 8)) & 0x100f00f00f00f00fL
    x = (x | (x << 4)) & 0x10c30c30c30c30c3L
    x = (x | (x << 2)) & 0x1249249249249249L
    x
  }
}

/** Morton (Z-order) interleave of two non-negative long keys, 21 bits
  * each → one 42-bit curve position. Sorting by the curve position gives
  * files that are small rectangles in (a, b) space, so min/max statistics
  * prune on EITHER column's predicate, where a single-key sort prunes only
  * its own column. Registered as the `z_interleave` SQL function
  * ([[graft.ext.GraftExtensions]]). Values are
  * masked to their low 21 bits (callers bucket/shift larger domains
  * first). One eval per row at write time only — the read path never
  * evaluates it — but it generates code anyway so a layout job's sort
  * stage stays whole-stage-codegen. */
case class ZInterleave(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKernels.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.ZOrderKernels.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrder {
}
