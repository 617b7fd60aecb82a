package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-loop body of the BPE merge-application kernel (static forwarder, see
  * [[ShingleKernels]]). */
object BpeKernels {

  /** Apply ONE byte-pair-encoding merge `(l, r) -> l||r` to a
    * space-delimited symbol string, greedy left-to-right, non-overlapping —
    * the standard BPE application order (Sennrich et al. 2016): in a run of
    * overlapping candidates (only possible when l == r), the 1st, 3rd, 5th…
    * occurrence merges. `"a a a a"` with merge `(a,a)` becomes `"aa aa"`,
    * never `"aa a a"`.
    *
    * Symbols are space-free by construction (they come from whitespace
    * tokens), so the space-delimited representation is unambiguous. The
    * declarative reference spelling of the same semantics is
    * `graft.Reference.mergePairReference` (a gaps-and-islands window
    * chain, the form the DuckDB oracles mirror); BpeSpec asserts the two
    * agree, the [[ShingleKernels.wordSpans]] precedent. */
  def mergePair(sym: UTF8String, l: UTF8String, r: UTF8String): UTF8String = {
    val toks = sym.toString.split(" ", -1)
    val ls = l.toString
    val rs = r.toString
    val out = new java.lang.StringBuilder(sym.numBytes())
    var i = 0
    while (i < toks.length) {
      if (i > 0) out.append(' ')
      if (i + 1 < toks.length && toks(i) == ls && toks(i + 1) == rs) {
        out.append(ls).append(rs)
        i += 2
      } else {
        out.append(toks(i))
        i += 1
      }
    }
    UTF8String.fromString(out.toString)
  }
}

/** Codegen'd wrapper over [[BpeKernels.mergePair]]: `(sym, l, r)` columns
  * in, merged symbol string out. `l`/`r` are per-round constants in the
  * trainer (broadcast-joined onto the vocab frame), but typed as columns
  * so one expression serves train (vocab side) and apply (corpus side). */
case class BpeMergePair(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override def nullSafeEval(sym: Any, l: Any, r: Any): Any =
    BpeKernels.mergePair(sym.asInstanceOf[UTF8String],
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, l, r) =>
      s"${ev.value} = graft.expr.BpeKernels.mergePair($s, $l, $r);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeExprs {
  /** Column wrapper for [[BpeMergePair]]. */
  def bpeMergePair(sym: Column, l: Column, r: Column): Column =
    ExpressionUtils.column(BpeMergePair(ExpressionUtils.expression(sym),
      ExpressionUtils.expression(l), ExpressionUtils.expression(r)))
}
