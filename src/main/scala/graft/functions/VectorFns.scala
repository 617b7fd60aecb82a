package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector scalar functions over `array<float>` columns, composed from
  * higher-order built-ins (zip_with / aggregate) so they run inside codegen
  * with no UDF boundary.
  *
  * Semantics follow the reference's Qdrant cosine index
  * (reference: PLATFORM-contextual-Chunking.py:137-144 —
  * VectorParams(size=384, distance=COSINE)). All arithmetic is promoted to
  * double with a strict left-to-right fold, which is deterministic across
  * partitions and matches a sequential oracle computation. Cosine itself is
  * the fused kernel [[graft.expr.VectorExprs.cosine]].
  *
  * The integer-exact vector ops (Lloyd's, PQ, power iteration, sign-RP
  * buckets, semantic dedup) share one fixed-point grid: [[quantize]] at
  * [[QuantScale]], and [[floorMean]] for centroids. The oracle SQL spells
  * the same grid as `floor(x * 1000 + 0.5)`.
  */
object VectorFns {

  /** Fixed-point scale of every quantized vector component. */
  final val QuantScale = 1000.0

  /** `floor(x·QuantScale + 0.5)` as a long — the one quantization rule. */
  def quantize(x: Column): Column = floor(x * QuantScale + 0.5).cast("long")

  /** Exact floor of the integer mean `s / n` (n > 0). Plain integer
    * division truncates toward zero in Spark but floors in other engines;
    * subtracting the positive modulus first makes the numerator exactly
    * divisible, so the double division is exact and every engine agrees. */
  def floorMean(s: Column, n: Column): Column =
    ((s - pmod(s, n)) / n).cast("long")

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Unit-normalize a vector (array<double> out); zero vector stays zero. */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }
}
