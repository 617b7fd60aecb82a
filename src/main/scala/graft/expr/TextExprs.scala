package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-loop bodies of the shingle kernels, kept as an object so Scala emits
  * STATIC forwarders — whole-stage-generated Java calls
  * `graft.expr.ShingleKernels.wordShingles(s, n)` directly, no boxing, no
  * interpreted-expression detour. Shared by eval and codegen paths. */
object ShingleKernels {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** Fused word-n-gram shingling.
    *
    * Spec (the oracle-SQL reference form; TextExprSpec checks it against
    * the built-in-function spelling):
    *   toks = split(regexp_replace(lower(trim(text)), '\s+', ' '), ' ')
    *   if |toks| < n → [join(toks, ' ')]
    *   else         → sort(distinct([join(toks[i..i+n), ' ') for i]))
    *
    * Parity notes: lower/trim use UTF8String (Spark's own unicode
    * lowercasing, space-only trim — NOT java.lang.String locale
    * lowercasing), the whitespace collapse uses the same Java regex runtime
    * regexp_replace uses, and the final sort compares UTF8String binary
    * order exactly like array_sort. */
  def wordShingles(input: UTF8String, n: Int): ArrayData = {
    val normalized = ws.matcher(input.trim().toLowerCase.toString).replaceAll(" ")
    val toks = normalized.split(" ", -1)
    if (toks.length < n)
      return new GenericArrayData(Array[Any](UTF8String.fromString(toks.mkString(" "))))
    val seen = new mutable.HashSet[String]
    val out = mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen.add(s)) out += UTF8String.fromString(s)
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(arr.asInstanceOf[Array[AnyRef]])
  }

  /** Jaccard similarity of two SORTED-DISTINCT string arrays (the shingle
    * kernels' output contract) by a single merge walk: |A∩B| counted in
    * O(|A|+|B|) comparisons, |A∪B| = |A|+|B|−|A∩B|, zero allocation.
    *
    * The builtin spelling — size(array_intersect)/size(array_union) — builds
    * a hash set AND materializes the union array per PAIR; in a blocked
    * near-dup verify that's two allocations × candidate-pairs × shingles.
    * Bitwise-identical to it on sorted-distinct inputs (spec-asserted);
    * both empty → 0.0 like the builtin form's union===0 guard. */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** tf-capped WEIGHTED Jaccard of two compact term-frequency vectors,
    * each a PARALLEL-ARRAY pair (terms `array<string>` distinct + SORTED
    * in UTF8String binary order, tfcs `array<long>` aligned — parallel
    * primitives instead of `array<struct>` so element access allocates
    * nothing per element) — in one merge walk: |A∩B| = Σ_t min(tfc_a,
    * tfc_b) accumulates on term matches, the two masses la/lb accumulate
    * on every element, |A∪B| = la + lb − |A∩B|. The integer (Σmin, Σmax)
    * pair IS the set intersection/union of the `term#1…term#tfc` repeat
    * expansion ([[graft.ops.Dedup.weightedMinHashLshPairs]]), so the
    * returned double equals [[sortedJaccard]] over the expanded arrays
    * bit-for-bit while the verify join carries one entry per DISTINCT
    * term instead of tfc repeats. Both empty → 0.0 like
    * [[sortedJaccard]]. */
  def sortedWeightedJaccard(ta: ArrayData, ca: ArrayData,
      tb: ArrayData, cb: ArrayData): Double = {
    val na = ta.numElements()
    val nb = tb.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    var la = 0L
    var lb = 0L
    while (i < na && j < nb) {
      val c = ta.getUTF8String(i).compareTo(tb.getUTF8String(j))
      if (c == 0) {
        val va = ca.getLong(i)
        val vb = cb.getLong(j)
        inter += math.min(va, vb)
        la += va
        lb += vb
        i += 1
        j += 1
      } else if (c < 0) { la += ca.getLong(i); i += 1 }
      else { lb += cb.getLong(j); j += 1 }
    }
    while (i < na) { la += ca.getLong(i); i += 1 }
    while (j < nb) { lb += cb.getLong(j); j += 1 }
    val union = la + lb - inter
    if (union == 0L) 0.0 else inter.toDouble / union
  }

  /** Fused POSITIONAL word-n-gram spans — [[wordShingles]]'s sibling for
    * the span-counting family (q93 repeated spans, q97 split-leak audit),
    * where duplicates and document order are the point, not noise:
    * repetition SCORES need every occurrence, so no distinct, no sort.
    *
    * Spec (identical to the HOF reference spelling in graft.ops.Vocab,
    * which the DuckDB oracles mirror):
    *   toks = split(lower(trim(text)), '\s+')   — trim is SPACE-only
    *   if |toks| < n → []
    *   else         → [join(toks[i..i+n), ' ') for i in 0..|toks|-n]
    *
    * Unlike [[wordShingles]] there is NO whitespace-collapse regex pass
    * and NO short-doc fallback element — `split` on `\s+` handles interior
    * runs, and a sub-n doc yields zero spans (the operators restore such
    * docs with zero counts via a left join). */
  def wordSpans(input: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(input.trim().toLowerCase.toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fused byte-k-gram HEX shingling for binary content — the modality-free
    * asset-dedup representation.
    *
    * Spec (identical to the HOF reference spelling
    * graft.Reference.byteShinglesHof, which the DuckDB oracles mirror via
    * `hex(content::BLOB)`):
    *   hx = uppercase hex of the bytes (2 chars/byte)
    *   if |bytes| < k → [hx]                     ('' for empty content)
    *   else           → sort(distinct([hx[2i..2i+2k) for byte offsets i]))
    *
    * One pass, no regex, no intermediate hex string for the main path:
    * each window's hex is rendered straight off the byte array. Sort is
    * UTF8String binary order (= array_sort), the [[sortedJaccard]] input
    * contract. */
  def byteShingles(input: Array[Byte], k: Int): ArrayData = {
    val hexd = "0123456789ABCDEF"
    val n = input.length
    val sb = new java.lang.StringBuilder(2 * k)
    if (n < k) {
      var i = 0
      while (i < n) {
        val b = input(i) & 0xff
        sb.append(hexd.charAt(b >> 4)).append(hexd.charAt(b & 15))
        i += 1
      }
      return new GenericArrayData(Array[Any](UTF8String.fromString(sb.toString)))
    }
    val seen = new mutable.HashSet[String]
    val out = mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        val b = input(i + j) & 0xff
        sb.append(hexd.charAt(b >> 4)).append(hexd.charAt(b & 15))
        j += 1
      }
      val s = sb.toString
      if (seen.add(s)) out += UTF8String.fromString(s)
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(arr.asInstanceOf[Array[AnyRef]])
  }

  /** Fused character-n-gram shingling.
    *
    * Spec (TextExprSpec checks it against the built-in-function spelling):
    *   s = regexp_replace(lower(trim(text)), '\s+', ' ')
    *   if numChars(s) < n → [s]
    *   else              → sort(distinct([substr(s, i, n) for i in 1..numChars-n+1]))
    *
    * Characters are CODE POINTS (Spark's Substring semantics), so the kernel
    * decodes once to an int[] of code points and slices that —
    * java.lang.String substring would split surrogate pairs differently. */
  def charShingles(input: UTF8String, n: Int): ArrayData = {
    val normalized = ws.matcher(input.trim().toLowerCase.toString).replaceAll(" ")
    val cps = normalized.codePoints().toArray
    if (cps.length < n)
      return new GenericArrayData(Array[Any](UTF8String.fromString(normalized)))
    val seen = new mutable.HashSet[String]
    val out = mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i <= cps.length - n) {
      val s = new String(cps, i, n)
      if (seen.add(s)) out += UTF8String.fromString(s)
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(arr.asInstanceOf[Array[AnyRef]])
  }
}

/** Row-loop body of the Unicode-normalization kernel; object for static
  * forwarders like [[ShingleKernels]]. */
object NormalizeKernels {

  private val NFC = java.text.Normalizer.Form.NFC

  /** NFC-normalize one string (canonical composition, the form every
    * tokenizer/dedup stage should see exactly once at ingest).
    *
    * Two fast paths matter at corpus scale: (1) pure-ASCII input — the
    * overwhelming majority of web text — is NFC-invariant and detected
    * WITHOUT decoding (`numBytes == numChars` iff every code point is
    * single-byte), returning the input UTF8String untouched; (2) already-
    * normalized non-ASCII input returns the original bytes after a
    * non-allocating `isNormalized` scan, so only genuinely decomposed rows
    * pay the normalize + re-encode cost. */
  def nfc(input: UTF8String): UTF8String = {
    if (input.numBytes() == input.numChars()) return input
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, NFC)) input
    else UTF8String.fromString(java.text.Normalizer.normalize(s, NFC))
  }
}

/** Unicode NFC normalization as a codegen'd expression (see
  * [[NormalizeKernels.nfc]]). Spark exposes no normalization builtin, and a
  * Scala UDF would box + break whole-stage codegen in the one pass that by
  * definition touches every byte of the corpus. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NormalizeKernels.nfc(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.NormalizeKernels.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused word-n-gram shingling kernel (see [[ShingleKernels.wordShingles]]).
  *
  * The builtin spelling evaluates transform/slice/array_join as interpreted
  * higher-order functions — ~5 boxed calls per token. This expression runs
  * one Java loop per row AND generates code (a single static call), so the
  * enclosing stage stays whole-stage-codegen — a CodegenFallback here would
  * put one boxed virtual call per row in the middle of every dedup stage
  * that shingles (q14/q38/q48/q76). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.wordShingles(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.ShingleKernels.wordShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused byte-k-gram hex shingling kernel (see
  * [[ShingleKernels.byteShingles]]); codegen'd like [[WordShingles]] — the
  * builtin spelling pays one interpreted transform lambda per hex window
  * (~350 per fixture doc), which dominated q249's profile. */
case class ByteShingles(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, "shingle bytes must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.byteShingles(input.asInstanceOf[Array[Byte]], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.ShingleKernels.byteShingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused positional word-span kernel (see [[ShingleKernels.wordSpans]]);
  * codegen'd like [[WordShingles]]. */
case class WordSpans(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "span size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.wordSpans(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.ShingleKernels.wordSpans($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused character-n-gram shingling kernel (see
  * [[ShingleKernels.charShingles]]); codegen'd like [[WordShingles]]. */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.charShingles(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.ShingleKernels.charShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused sorted-merge Jaccard kernel (see [[ShingleKernels.sortedJaccard]]).
  * PRECONDITION: both inputs sorted + distinct — the shingle kernels'
  * output contract; feed anything else through VectorFns.jaccard instead. */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleKernels.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.ShingleKernels.sortedJaccard($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused sorted-merge WEIGHTED Jaccard kernel
  * ([[ShingleKernels.sortedWeightedJaccard]]) over two parallel-array tf
  * vectors `(terms_a, tfcs_a, terms_b, tfcs_b)`. PRECONDITION: each terms
  * array distinct + sorted in UTF8String binary order with its tfcs array
  * aligned — the contract [[graft.ops.Dedup.weightedMinHashLshPairs]]
  * builds via `sort_array(collect_list(struct))` then field projection. */
case class SortedWeightedJaccard(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def nullSafeEval(ta: Any, ca: Any, tb: Any, cb: Any): Any =
    ShingleKernels.sortedWeightedJaccard(
      ta.asInstanceOf[ArrayData], ca.asInstanceOf[ArrayData],
      tb.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ta, ca, tb, cb) =>
      s"${ev.value} = graft.expr.ShingleKernels.sortedWeightedJaccard(" +
        s"$ta, $ca, $tb, $cb);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** Row-loop body of the repetition-signal kernel ([[RepetitionStats]]). */
object RepetitionKernels {

  /** All three Gopher within-document repetition signals in ONE pass over
    * the row — the fused form of the explode+aggregate spelling specs
    * check it against (`Reference.repetitionSignals`), value-identical by
    * construction:
    *
    *  - lines via `split("\n", -1)` (the regex the batch spelling uses,
    *    trailing empties kept), line length in CODE POINTS (Spark
    *    `length`);
    *  - the top bigram from the SAME [[ShingleKernels.wordSpans]] kernel
    *    the batch spelling explodes, ties broken by UTF8String BINARY
    *    order (Spark's string comparison — java.lang.String compareTo
    *    would order astral-plane text differently);
    *  - `norm_len` as numChars(lower(trim(text))) on UTF8String, matching
    *    Spark's space-only `trim` and `lower` exactly.
    *
    * Returns [dup_line_ppm, dup_line_char_ppm, top_bigram_ppm] as longs
    * (floor division of non-negatives ≡ the batch `DIV`).
    *
    * The point at scale: the signals are DOC-LOCAL, so this projection
    * needs no shuffle at all, where the aggregate spelling moves every
    * distinct (doc, line) and (doc, span) pair through an exchange. */
  def signals(input: UTF8String): ArrayData = {
    val lines = input.toString.split("\n", -1)
    val lineCounts = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    while (i < lines.length) {
      val c = lineCounts.get(lines(i))
      if (c == null) lineCounts.put(lines(i), Array(1L)) else c(0) += 1L
      i += 1
    }
    var nLines = 0L; var dupLines = 0L; var dupChars = 0L; var totChars = 0L
    val it = lineCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      val len = e.getKey.codePointCount(0, e.getKey.length).toLong
      nLines += c; dupLines += c - 1
      dupChars += (c - 1) * len; totChars += c * len
    }
    val dupLinePpm = dupLines * 1000000L / nLines
    val dupLineCharPpm = if (totChars == 0L) 0L else dupChars * 1000000L / totChars

    val spans = ShingleKernels.wordSpans(input, 2)
    var topC = 0L
    var topSpan: UTF8String = null
    if (spans.numElements() > 0) {
      val spanCounts = new java.util.HashMap[UTF8String, Array[Long]]()
      var j = 0
      while (j < spans.numElements()) {
        val s = spans.getUTF8String(j)
        val c = spanCounts.get(s)
        if (c == null) spanCounts.put(s, Array(1L)) else c(0) += 1L
        j += 1
      }
      val sit = spanCounts.entrySet().iterator()
      while (sit.hasNext) {
        val e = sit.next()
        val c = e.getValue()(0)
        if (c > topC || (c == topC && (topSpan == null || e.getKey.compareTo(topSpan) < 0))) {
          topC = c; topSpan = e.getKey
        }
      }
    }
    val normLen = input.trim().toLowerCase.numChars().toLong
    val topPpm =
      if (topSpan == null || normLen == 0L) 0L
      else topC * topSpan.numChars().toLong * 1000000L / normLen
    new GenericArrayData(Array(dupLinePpm, dupLineCharPpm, topPpm))
  }
}

/** Row-loop body of the classifier-feature kernel ([[ClassifyFeatures]]). */
object ClassifyKernels {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** The five lexical features of graft.ops.Classify.qualityLogitFused in
    * ONE pass — value-identical to the explode+aggregate spelling:
    *
    *  - `n_chars` = numChars (code points, Spark `length`);
    *  - `punct_chars` / `digit_chars` count code points matching Java
    *    regex `[\p{Punct}]` / `[0-9]` — both ASCII-only classes, so the
    *    scan tests plain ranges;
    *  - `n_words` = |split(lower(trim(text)), "\s+")| (empty-token
    *    conventions of Spark `split` preserved: empty text yields one ""
    *    token, so the ppm divisions never see zero);
    *  - `stop_hits` counts tokens in `stopwords`.
    *
    * Returns [n_chars, punct_chars, digit_chars, n_words, stop_hits]. The
    * features are DOC-LOCAL, so this projection removes the explode and
    * the per-doc aggregation exchange entirely. */
  def features(input: UTF8String, stopwords: java.util.HashSet[String]): ArrayData = {
    val s = input.toString
    var nChars = 0L; var punct = 0L; var digit = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (cp >= '0' && cp <= '9') digit += 1
      // java [\p{Punct}] = the four ASCII punctuation runs
      else if ((cp >= '!' && cp <= '/') || (cp >= ':' && cp <= '@') ||
               (cp >= '[' && cp <= '`') || (cp >= '{' && cp <= '~')) punct += 1
      i += Character.charCount(cp)
    }
    val toks = ws.split(input.trim().toLowerCase.toString, -1)
    var stopHits = 0L
    var j = 0
    while (j < toks.length) {
      if (stopwords.contains(toks(j))) stopHits += 1
      j += 1
    }
    new GenericArrayData(Array(nChars, punct, digit, toks.length.toLong, stopHits))
  }
}

/** The classifier-feature kernel as a codegen'd expression (see
  * [[ClassifyKernels.features]]). Output: array<long> of
  * [n_chars, punct_chars, digit_chars, n_words, stop_hits]. */
case class ClassifyFeatures(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ClassifyKernels.features(input.asInstanceOf[UTF8String], stopSet)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.ClassifyKernels.features($c, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Row-loop body of the token-set-hit kernel ([[TokenSetHits]]). */
object TokenSetKernels {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** Per-set token hit counts in ONE tokenization pass: tokens are
    * `split(lower(trim(text)), "\s+")` (Spark conventions, empty tokens
    * kept and simply missing from the sets), and `sets(i)` yields
    * `out(i)` = number of tokens contained in it. The fused form of k
    * parallel `sum(when(tok.isin(...)))` aggregates over an explode —
    * doc-local, so the explode and its exchange vanish. */
  def hits(input: UTF8String, sets: Array[java.util.HashSet[String]]): ArrayData = {
    val toks = ws.split(input.trim().toLowerCase.toString, -1)
    val out = new Array[Long](sets.length)
    var j = 0
    while (j < toks.length) {
      var i = 0
      while (i < sets.length) {
        if (sets(i).contains(toks(j))) out(i) += 1L
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** The token-set-hit kernel as a codegen'd expression (see
  * [[TokenSetKernels.hits]]). Output: array<long>, one counter per set. */
case class TokenSetHits(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression {

  private val setArr: Array[java.util.HashSet[String]] =
    sets.map { s =>
      val h = new java.util.HashSet[String]()
      s.foreach(h.add)
      h
    }.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TokenSetKernels.hits(input.asInstanceOf[UTF8String], setArr)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sets", setArr, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TokenSetKernels.hits($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The repetition-signal kernel as a codegen'd expression (see
  * [[RepetitionKernels.signals]]): one static call per row, stage stays
  * whole-stage-codegen. Output: array<long> of
  * [dup_line_ppm, dup_line_char_ppm, top_bigram_ppm]. */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    RepetitionKernels.signals(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.RepetitionKernels.signals($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  /** Column wrapper for [[WordShingles]]. */
  def wordShingles(text: Column, n: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), n))

  /** Column wrapper for [[RepetitionStats]]. */
  def repetitionStats(text: Column): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(text)))

  /** Column wrapper for [[ClassifyFeatures]]. */
  def classifyFeatures(text: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(
      ClassifyFeatures(ExpressionUtils.expression(text), stopwords))

  /** Column wrapper for [[TokenSetHits]]. */
  def tokenSetHits(text: Column, sets: Seq[Seq[String]]): Column =
    ExpressionUtils.column(TokenSetHits(ExpressionUtils.expression(text), sets))

  /** Column wrapper for [[SortedJaccard]]. */
  def sortedJaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedJaccard(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column wrapper for [[SortedWeightedJaccard]]. */
  def sortedWeightedJaccard(ta: Column, ca: Column,
      tb: Column, cb: Column): Column =
    ExpressionUtils.column(SortedWeightedJaccard(
      ExpressionUtils.expression(ta), ExpressionUtils.expression(ca),
      ExpressionUtils.expression(tb), ExpressionUtils.expression(cb)))

  /** Column wrapper for [[CharShingles]]. */
  def charShingles(text: Column, n: Int): Column =
    ExpressionUtils.column(CharShingles(ExpressionUtils.expression(text), n))

  /** Column wrapper for [[ByteShingles]]. */
  def byteShingles(content: Column, k: Int): Column =
    ExpressionUtils.column(ByteShingles(ExpressionUtils.expression(content), k))

  /** Column wrapper for [[WordSpans]]. */
  def wordSpans(text: Column, n: Int): Column =
    ExpressionUtils.column(WordSpans(ExpressionUtils.expression(text), n))

  /** Column wrapper for [[NfcNormalize]]. */
  def nfcNormalize(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))
}
