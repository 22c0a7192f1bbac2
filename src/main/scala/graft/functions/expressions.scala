package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY §4.2 item 3, §2.D): scalar
  * kernels that stay inside whole-stage codegen instead of dropping to
  * a Scala UDF (which would box every row and break the codegen span).
  */

/** `sigmoid(x) = 1/(1+e^{-x})` — the reference's activation
  * (`rbmmapper.java:156-162`), generated inline into the consuming
  * stage's Java. Numerically identical to the composed builtin form
  * `1/(1+exp(-x))`, so oracle-checked queries can use either.
  */
case class Sigmoid(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    1.0 / (1.0 + java.lang.Math.exp(-v.asInstanceOf[Double]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"1.0 / (1.0 + java.lang.Math.exp(-($c)))")
  override protected def withNewChildInternal(c: Expression): Sigmoid = copy(c)
  override def prettyName: String = "graft_sigmoid"
}

/** Polynomial rolling hash of a string: `h_{i+1} = (h_i * base +
  * byte_i) mod 2^61-1` — a streaming document fingerprint computed in
  * one pass over the UTF-8 bytes, codegen'd. (The reference has no
  * analogue; this is the training-data-pipeline fingerprint operator,
  * cheaper than md5 and incremental by construction.)
  */
case class RollingHash(child: Expression, base: Long = 257L)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    RollingHash.hashBytes(v.asInstanceOf[UTF8String].getBytes, base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.hashBytes($c.getBytes(), ${base}L)")

  override protected def withNewChildInternal(c: Expression): RollingHash =
    copy(child = c)
  override def prettyName: String = "graft_rolling_hash"
}

object RollingHash {
  final val Mod: Long = (1L << 61) - 1 // Mersenne prime 2^61-1

  /** Shared by interpreted eval and generated code. Multiplication is
    * done in 128 bits via Math.multiplyHigh to stay exact under the
    * 61-bit modulus.
    */
  def hashBytes(bytes: Array[Byte], base: Long): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val hi = java.lang.Math.multiplyHigh(h, base)
      val lo = h * base
      // (hi,lo) mod 2^61-1: fold 128-bit product by 61-bit limbs
      var folded = (lo & Mod) + ((lo >>> 61) | (hi << 3)) + (hi >>> 58)
      if (folded >= Mod) folded -= Mod
      h = folded + (bytes(i) & 0xffL)
      if (h >= Mod) h -= Mod
      i += 1
    }
    h
  }
}

/** 15-bit Hilbert curve index of a quantized point `(x, y)` in
  * [0, 32767]² — the layout key of q275. The composed SQL form folds
  * the classic xy2d loop through `aggregate(sequence(14, 0, -1), …)`,
  * a HigherOrderFunction: CodegenFallback, so its lambda runs
  * interpreted per level per row and the whole projection leaves
  * whole-stage codegen. This is the same loop as one static method
  * inside codegen; the oracle keeps the packed fold
  * ([[graft.sources.HilbertSql]]) as its independent twin.
  */
case class Hilbert(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two bigint arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(x: Any, y: Any): Any =
    Hilbert.xy2d(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.Hilbert.xy2d($x, $y)")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Hilbert = copy(left = l, right = r)
  override def prettyName: String = "graft_hilbert"
}

object Hilbert {
  private final val Bits = 15
  private final val Max = (1L << Bits) - 1

  /** Shared by interpreted eval and generated code. Wikipedia's xy2d
    * with the full-grid n−1 rotation, which keeps coordinates
    * nonnegative at every level; coordinates are masked to 15 bits.
    * The index lies in [0, 2^30).
    */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0 & Max
    var y = y0 & Max
    var d = 0L
    var i = Bits - 1
    while (i >= 0) {
      val rx = (x >>> i) & 1L
      val ry = (y >>> i) & 1L
      d += (1L << (2 * i)) * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = Max - x; y = Max - y }
        val t = x; x = y; y = t
      }
      i -= 1
    }
    d
  }
}

/** Dense-vector dot product over array columns (float or double
  * elements), accumulated in double in ascending index order. What
  * changes versus the composed `aggregate(zip_with(a, b, cast*cast),
  * 0.0, +)` form is the execution: the composed form materializes a
  * zipped array per row per call, this expression is a fused
  * primitive loop over the two `ArrayData` buffers inside whole-stage
  * codegen — the ANN hot path (q43 evaluates 48 plane dots per row)
  * allocates nothing.
  *
  * Null semantics deliberately MATCH the composed form everywhere, so
  * swapping one for the other (by hand or via [[RewriteVecDot]])
  * never changes a result: null array → null; any null ELEMENT →
  * null (zip_with's `null × y` poisons the composed sum the same
  * way); mismatched lengths → null (zip_with pads the short side with
  * nulls, which poisons the composed sum too). Non-float/double array
  * inputs are rejected at analysis time.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val aFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val bFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val aNullable =
    left.dataType.asInstanceOf[ArrayType].containsNull
  @transient private lazy val bNullable =
    right.dataType.asInstanceOf[ArrayType].containsNull

  private def elemGetter(float: Boolean): String =
    if (float) "getFloat" else "getDouble"

  override def nullSafeEval(l: Any, r: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((aNullable && a.isNullAt(i)) || (bNullable && b.isNullAt(i)))
        return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // per-element null tests are emitted ONLY for sides whose
      // element type is actually nullable — a provably-dense side
      // (literal plane arrays, coalesced columns) keeps the tight
      // branch-free loop the kernel exists for
      val nullChecks = Seq(
        if (aNullable) Some(s"$a.isNullAt($i)") else None,
        if (bNullable) Some(s"$b.isNullAt($i)") else None).flatten
      val nullGuard =
        if (nullChecks.isEmpty) ""
        else s"""if (${nullChecks.mkString(" || ")}) {
           |      ${ev.isNull} = true;
           |      break;
           |    }""".stripMargin
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $acc += (double) $a.${elemGetter(aFloat)}($i)
         |      * (double) $b.${elemGetter(bFloat)}($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecDot = copy(left = l, right = r)
  override def prettyName: String = "graft_vec_dot"
}

/** Dot product over the MATCHED index prefix of two arrays — the
  * scalar twin of the relational matvec shape
  * `posexplode ⋈ posexplode on pos → SUM(x*y)`, with that form's exact
  * semantics (which differ from [[VecDot]]'s):
  *
  *   - positions beyond `min(len(a), len(b))` simply don't match in
  *     the join, so they are IGNORED here (VecDot nulls the result);
  *   - a null ELEMENT makes that position's product null, which SQL
  *     `SUM` skips, so null-element positions are SKIPPED here
  *     (VecDot poisons the result);
  *   - if no position yields a non-null product, `SUM` over the
  *     pair's rows is null, so the result is null (not 0.0).
  *
  * Exists so [[graft.plans.RewriteMatvecJoin]] can replace the
  * exploded join with `SUM(graft_vec_dot_matched(a, b))` over the
  * un-exploded rows without changing any result. Accumulates in
  * double in ascending index order, inside whole-stage codegen.
  */
case class VecDotMatched(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val aFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val bFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val aNullable =
    left.dataType.asInstanceOf[ArrayType].containsNull
  @transient private lazy val bNullable =
    right.dataType.asInstanceOf[ArrayType].containsNull

  private def elemGetter(float: Boolean): String =
    if (float) "getFloat" else "getDouble"

  override def nullSafeEval(l: Any, r: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = java.lang.Math.min(a.numElements(), b.numElements())
    var s = 0.0
    var any = false
    var i = 0
    while (i < n) {
      if (!((aNullable && a.isNullAt(i)) || (bNullable && b.isNullAt(i)))) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
        any = true
      }
      i += 1
    }
    if (any) s else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val any = ctx.freshName("any")
      val nullChecks = Seq(
        if (aNullable) Some(s"$a.isNullAt($i)") else None,
        if (bNullable) Some(s"$b.isNullAt($i)") else None).flatten
      val body =
        s"""$acc += (double) $a.${elemGetter(aFloat)}($i)
           |  * (double) $b.${elemGetter(bFloat)}($i);
           |$any = true;""".stripMargin
      val guarded =
        if (nullChecks.isEmpty) body
        else s"""if (!(${nullChecks.mkString(" || ")})) {
           |  $body
           |}""".stripMargin
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |boolean $any = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  $guarded
         |}
         |if ($any) { ${ev.value} = $acc; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecDotMatched = copy(left = l, right = r)
  override def prettyName: String = "graft_vec_dot_matched"
}

/** All length-`n` byte-window substrings of a string, as an array —
  * char n-grams for ASCII input (the callers normalize to [a-z ]
  * first; a multibyte code point would be split, which is why the name
  * says BYTE). Exists because the composed HOF form
  * `transform(sequence(...), i -> substr/element_at ...)` evaluates
  * its lambda interpreted per element — and `substr(s, i, n)` on a
  * string additionally rescans from the start per call (O(len²) per
  * row). This is one allocation-light pass over the UTF-8 buffer
  * inside whole-stage codegen: q148's corpus trigram stage measured
  * ~3× faster end to end.
  */
case class ByteNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    ByteNgrams.ngrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteNgrams.ngrams($c, $n)")

  override protected def withNewChildInternal(c: Expression): ByteNgrams =
    copy(child = c)
  override def prettyName: String = "graft_byte_ngrams"
}

object ByteNgrams {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Shared by interpreted eval and generated code. */
  def ngrams(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val m = bytes.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = UTF8String.fromBytes(bytes, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Adjacent-token pairs of a string array — `["a","b","c"]` →
  * `["a b","b c"]` — the word-bigram primitive of repetition/PMI
  * analysis. Exists for the same reason as [[ByteNgrams]]: the
  * composed form `transform(sequence(1, size(a)-1), i ->
  * concat(element_at(a,i), ' ', element_at(a,i+1)))` is a
  * HigherOrderFunction, which is CodegenFallback in Spark — it not
  * only interprets the lambda per element, it breaks the WHOLE
  * projection out of whole-stage codegen (q128 measured this as the
  * single most expensive query in the round-6 bench). This is one
  * pass over the array inside codegen. The " " separator is
  * unambiguous for the callers' [a-z]+ tokens, so
  * `array_distinct` over the result counts distinct PAIRS exactly.
  */
case class AdjacentPairs(child: Expression) extends UnaryExpression {

  // a null token nulls its pairs (UTF8String.concat propagates null),
  // so element nullability follows the input's — declaring
  // containsNull=false unconditionally would lie to downstream codegen
  // for SQL callers with nullable-element arrays
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, n) => ArrayType(StringType, containsNull = n)
    case _ => ArrayType(StringType, containsNull = false)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    AdjacentPairs.pairs(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AdjacentPairs.pairs($c)")

  override protected def withNewChildInternal(c: Expression): AdjacentPairs =
    copy(child = c)
  override def prettyName: String = "graft_adjacent_pairs"
}

object AdjacentPairs {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  private val SPACE = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def pairs(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = arr.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val next = arr.getUTF8String(i + 1)
      out(i) = UTF8String.concat(prev, SPACE, next)
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Unicode NFC normalization (canonical decomposition + canonical
  * composition, `java.text.Normalizer`) as a codegen'd scalar — the
  * web-corpus cleaning primitive that folds decomposed sequences
  * (`a` + U+0301) into their composed forms (`á`) so that exact-dedup
  * hashing and tokenization see one spelling per grapheme. Spark has
  * no builtin for this; the UDF form would box every row. The fast
  * path (`isNormalized`, true for all-ASCII) returns the input
  * `UTF8String` without allocating.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.normalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
  override def prettyName: String = "graft_nfc_normalize"
}

object NfcNormalize {
  import java.text.Normalizer

  /** Shared by interpreted eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Jaro–Winkler similarity (Jaro 1989; Winkler 1990) — the record-
  * linkage string kernel (Fellegi–Sunter pipelines score name fields
  * with it; q259 uses a Levenshtein band instead). Spark has no
  * builtin; the UDF form would box every row, so this is a codegen'd
  * binary expression over the two UTF8Strings. Semantics are pinned
  * to the de-facto standard implementation (rapidfuzz lineage, what
  * DuckDB ships, verified empirically on 50k randomized pairs):
  * match window = max(0, ⌊max(l₁,l₂)/2⌋ − 1); greedy left-to-right
  * flagging (lowest unflagged position within the window);
  * transpositions = ⌊half-transpositions/2⌋ (FLOORED — the "/2.0"
  * variant differs on odd counts); jaro = (m/l₁ + m/l₂ + (m−t)/m)/3;
  * Winkler boost only above 0.7, prefix capped at 4; either side
  * empty → 0. Works on UTF-16 code units (Java chars) — identical to
  * DuckDB's byte-level scan for ASCII corpora like the fixtures.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two string arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.jw(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler.jw($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): JaroWinkler = copy(left = l, right = r)
  override def prettyName: String = "graft_jaro_winkler"
}

object JaroWinkler {

  /** Shared by interpreted eval and generated code. One pass to flag
    * matches (O(l₁·window) worst case), one to count transpositions.
    */
  def jw(s1: String, s2: String): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val f1 = new Array[Boolean](l1)
    val f2 = new Array[Boolean](l2)
    var m = 0
    var j = 0
    while (j < l2) {
      val lo = math.max(0, j - window)
      val hi = math.min(l1 - 1, j + window)
      var i = lo
      var found = false
      while (i <= hi && !found) {
        if (!f1(i) && s1.charAt(i) == s2.charAt(j)) {
          f1(i) = true; f2(j) = true; m += 1; found = true
        }
        i += 1
      }
      j += 1
    }
    if (m == 0) return 0.0
    var half = 0
    var k = 0
    j = 0
    while (j < l2) {
      if (f2(j)) {
        while (!f1(k)) k += 1
        if (s2.charAt(j) != s1.charAt(k)) half += 1
        k += 1
      }
      j += 1
    }
    val md = m.toDouble
    val t = (half / 2).toDouble
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro > 0.7) {
      val maxP = math.min(4, math.min(l1, l2))
      var p = 0
      while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

/** Column-API entry points. Children are cast explicitly (the
  * expressions themselves don't implement implicit coercion — that
  * trait's types are `private[sql]` in Spark 4).
  */
object exprs {
  import org.apache.spark.sql.graftbridge.Bridge

  def graft_sigmoid(c: Column): Column =
    Bridge.column(Sigmoid(Cast(Bridge.expression(c), DoubleType)))
  def graft_rolling_hash(c: Column): Column =
    Bridge.column(RollingHash(Cast(Bridge.expression(c), StringType)))
  def graft_vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))
  def graft_byte_ngrams(c: Column, n: Int): Column =
    Bridge.column(ByteNgrams(Cast(Bridge.expression(c), StringType), n))
  def graft_adjacent_pairs(c: Column): Column =
    Bridge.column(AdjacentPairs(Bridge.expression(c)))
  def graft_nfc_normalize(c: Column): Column =
    Bridge.column(NfcNormalize(Cast(Bridge.expression(c), StringType)))
  def graft_jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Cast(Bridge.expression(a), StringType),
      Cast(Bridge.expression(b), StringType)))
  def graft_hilbert(x: Column, y: Column): Column =
    Bridge.column(Hilbert(Cast(Bridge.expression(x), LongType),
      Cast(Bridge.expression(y), LongType)))

  /** Spark's internal runtime-filter primitives, surfaced as Column
    * functions: `BloomFilterAggregate` builds the filter (binary),
    * `BloomFilterMightContain` probes it. Spark only wires these into
    * the automatic InjectRuntimeFilter rule; exposing them lets a
    * pipeline build a dim-side filter ONCE and ship it as a literal to
    * prune a fact scan explicitly (q115) — the manual form of the
    * semi-join pushdown a 100 TB join wants.
    */
  def graft_bloom_agg(c: Column, estimatedItems: Long, numBits: Long): Column =
    Bridge.column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(Bridge.expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())
  def graft_might_contain(bloom: Column, v: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(Bridge.expression(bloom), Bridge.expression(v)))

  /** Spark's internal bounded-heap top-k aggregate (`CollectTopK`,
    * the engine's own TakeOrdered/window-group-limit primitive),
    * surfaced as a Column function: keeps the k extreme values of
    * `c` per group in an O(k) heap with PARTIAL merge — so a grouped
    * top-k shuffles ≤k rows per group instead of sorting every group
    * member under a window (q213 demonstrates the plan difference vs
    * q24). `reverse=false` keeps the k largest by the type's
    * ordering; pass a struct to get lexicographic tiebreaks.
    */
  def graft_collect_top_k(c: Column, k: Int, reverse: Boolean): Column =
    Bridge.collectTopK(c, k, reverse)

  /** Theta-sketch build as a first-class aggregate (see
    * [[graft.functions.ThetaSketchAgg]]): partial per-partition
    * sketches + post-shuffle merge planned by the engine, per-group
    * state bounded by `nominalEntries`. Returns compact-sketch bytes.
    */
  def graft_theta_sketch_agg(c: Column, nominalEntries: Int = 4096): Column =
    Bridge.column(
      ThetaSketchAgg(Bridge.expression(c), nominalEntries)
        .toAggregateExpression())

  /** KLL quantile-sketch build as a first-class aggregate (see
    * [[graft.functions.KllSketchAgg]]): same planner-split
    * partial/final shape, per-group state ~few KB at parameter k.
    * Returns serialized sketch bytes.
    */
  def graft_kll_sketch_agg(c: Column, k: Int = 200): Column =
    Bridge.column(
      KllSketchAgg(Cast(Bridge.expression(c), DoubleType), k)
        .toAggregateExpression())
}
