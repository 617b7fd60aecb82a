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
  * partitions and matches a sequential oracle computation.
  */
object VectorFns {

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity in [-1, 1]; null if either vector is null, 0.0 if
    * either norm is 0 (the reference never indexes zero vectors, but a
    * 100 TB corpus will contain them). Backed by the fused codegen kernel
    * [[graft.expr.CosineSim]] — bitwise-identical accumulation order to
    * the zip_with + aggregate spelling VectorExprSpec checks it against,
    * ~50× cheaper per pair (no intermediate arrays). */
  def cosine(a: Column, b: Column): Column = graft.expr.VectorExprs.cosine(a, b)

  /** Unit-normalize a vector (array<double> out); zero vector stays zero. */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }
}
