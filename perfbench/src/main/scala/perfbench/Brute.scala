package perfbench

import scala.collection.mutable

/** Driver-side exact model of the serving index: every vector the
  * benchmark has put into it (the build plus every upsert), its IVF label,
  * and the frozen quantizer. Answers and upsert summaries are checked
  * against brute force over this model, with the engine's arithmetic:
  * cosine over float components widened to double, rounded half-up to 6
  * places; ties to the smallest id / label. */
final class Brute(dim: Int) {
  val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
  val labels = mutable.HashMap.empty[Long, Int]
  private var centroids: Map[Int, Array[Double]] = Map.empty

  def add(id: Long, v: Array[Float], label: Int): Unit = {
    require(v.length == dim, s"vector $id has ${v.length} components, expected $dim")
    require(!vecs.contains(id), s"duplicate vector id $id")
    vecs(id) = v; labels(id) = label
  }

  /** Freeze the quantizer: per label, per component, the mean of the
    * value-sorted components (the build-time centroids). */
  def freeze(): Unit = {
    centroids = labels.groupBy(_._2).map { case (l, members) =>
      val vs = members.keys.map(vecs).toArray
      l -> Array.tabulate(dim) { p =>
        val col = vs.map(_(p).toDouble).sorted
        col.foldLeft(0.0)(_ + _) / col.length
      }
    }
  }

  def sizeOf(label: Int): Long = labels.count(_._2 == label).toLong

  /** Labels the engine may legitimately route `v` to: the best rounded
    * cosine, plus any label within one rounding step of it. */
  def routes(v: Array[Float]): Seq[Int] = {
    val scored = centroids.toSeq.map { case (l, c) => l -> Brute.round6(Brute.cosine(v, c)) }
    val best = scored.map(_._2).max
    scored.filter(_._2 >= best - Brute.Slack).map(_._1).sorted
  }

  /** Ids the engine may legitimately return as the top-1 hit (rounded
    * cosine >= threshold, best score, ties to smallest id, plus near-ties
    * within one rounding step). Empty when nothing clears the threshold. */
  def top1(q: Array[Float], threshold: Double): Seq[Long] = {
    val scored = vecs.iterator.map { case (id, v) => id -> Brute.round6(Brute.cosine(v, q)) }
      .filter(_._2 >= threshold).toSeq
    if (scored.isEmpty) Nil
    else {
      val best = scored.map(_._2).max
      scored.filter(_._2 >= best - Brute.Slack).map(_._1).sorted
    }
  }

  /** Context ids for a hit: the hit plus the `cap` smallest-id members of
    * its label (the hit excluded). */
  def context(hit: Long, cap: Int): Seq[Long] = {
    val l = labels(hit)
    hit +: labels.iterator.collect { case (id, `l`) if id != hit => id }.toSeq.sorted.take(cap)
  }
}

object Brute {
  /** One rounding step: two engines may disagree in the last bit before
    * rounding to 6 places. */
  val Slack = 1.5e-6

  def cosine(a: Array[Float], b: Array[Float]): Double =
    cosineD(a, b.map(_.toDouble))

  def cosine(a: Array[Float], b: Array[Double]): Double = cosineD(a, b)

  private def cosineD(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Spark's `round(x, 6)` on a double: decimal expansion, half-up. */
  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The prompt [[graft.ops.Rag.assemblePrompt]] builds from context
    * documents (doc id -> text) and a question, with no history. */
  def prompt(docs: Seq[(Long, String)], question: String): String =
    "Context:\n" + docs.sortBy(d => (d._1, d._2)).map(_._2).mkString("\n---\n") +
      "\n\n" + "Question: " + question
}
