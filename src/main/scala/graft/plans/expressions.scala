package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused Catalyst expressions for the hot paths the round-1 profile
  * exposed (BENCH_r01: minhash/embedding queries dominated by
  * interpreted higher-order-function lambdas).
  *
  * Each expression replaces a `transform`/`aggregate`/`zip_with`
  * composition with one tight JVM loop, evaluated once per row (not once
  * per array element), while producing BIT-IDENTICAL values to the
  * Column-composition form it replaces — the DuckDB oracle contract
  * (SURVEY.md §7.4) does not move. Every expression takes part in
  * whole-stage codegen via `doGenCode` (a static-method call into the
  * same loop the interpreted path runs — CodegenFallback would split
  * the generated stage around each dedup projection).
  */
object expressions {

  /** Wraps an expression over Column children. */
  private[plans] def wrap(e: Expression): Column = Bridge.column(e)

  def polyHash(c: Column, base: Long = PolyHash.DefaultBase): Column =
    wrap(PolyHash(Bridge.expression(c), base))

  def dotProduct(a: Column, b: Column): Column =
    wrap(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def minhashSig(hashes: Column, n: Int): Column =
    wrap(MinHashSig(Bridge.expression(hashes), n))

  def wordShingles(text: Column, k: Int): Column =
    wrap(WordShingles(Bridge.expression(text), k))

  def intersectSize(a: Column, b: Column): Column =
    wrap(IntersectSize(Bridge.expression(a), Bridge.expression(b)))

  /** KMV sketch state (see plans/aggregates.scala): aggregate returning
    * the k smallest distinct longs, ascending.
    */
  def kMinValues(c: Column, k: Int): Column =
    wrap(KMinValues(Bridge.expression(c), k).toAggregateExpression())
}

/** Portable polynomial rolling hash of a string:
  * `h = fold(codepoints, 0, (acc, cp) -> (acc*base + cp) % 1e9+7)`.
  *
  * Value-identical to the Column form
  * `aggregate(transform(split(c, ""), ch -> ascii(ch)), 0L, ...)`
  * (graft.functions.Text.polyHash) and to DuckDB's
  * `list_reduce(list_transform(string_split(c, ''), c -> ord(c)), ...)`:
  * all three iterate Unicode codepoints. One pass over the string's
  * bytes, no per-character array allocation.
  */
case class PolyHash(child: Expression, base: Long = PolyHash.DefaultBase)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string child, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_polyhash"

  protected override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String], base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHash.hash($c, ${base}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  val Mod: Long = 1000000007L
  val DefaultBase: Long = 31L

  /** Static entry for both interpreted and generated code paths. */
  def hash(s: UTF8String, base: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * base + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Dot product of two `array<double>` columns, accumulated strictly
  * left-to-right from 0.0 — bit-identical to
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (graft.functions.Vectors)
  * and to the DuckDB oracle's explicit list fold. NULL if either side is
  * NULL, the lengths differ, or any element is NULL (zip_with's
  * null-poisoned sum stays NULL through the fold — reading a null slot
  * as 0.0 would silently diverge from the reference form).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<double> children, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      var i = 0
      val n = x.numElements()
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
      DotProduct.dot(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dot = ctx.freshName("dot")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def dot(x: ArrayData, y: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}

/** Distinct word k-gram shingles of a string — the fused form of
  * graft.functions.Text.shingles:
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ",
  * slice(split(trim(c), "\s+"), i, k))))`, whose per-shingle
  * slice+concat lambdas were the dominant cost of every shingle-based
  * dedup query in the round-1 profile. Semantics preserved exactly:
  * whitespace-split of the trimmed text (empty text yields the single
  * empty token, like split), docs shorter than k words yield one
  * shingle of the whole normalized text, distinct keeps first
  * occurrences in order.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, s"shingle width must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string child, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_word_shingles"

  protected override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordShingles.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  /** Static entry for both interpreted and generated code paths. */
  def compute(input: UTF8String, k: Int): ArrayData = {
    val toks = input.toString.trim.split("\\s+", -1)
    val out = new java.util.LinkedHashSet[String]
    if (toks.length >= k) {
      var i = 0
      val last = toks.length - k
      val sb = new java.lang.StringBuilder
      while (i <= last) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    } else {
      out.add(toks.mkString(" "))
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }
}

/** `size(array_intersect(a, b))` without materializing the intersection
  * (or, for the Jaccard denominator via |A|+|B|−c, the union): the
  * exact-verification hot path of every candidate-based dedup operator
  * scores millions of candidate pairs against ~10²-element shingle
  * arrays, and building two throwaway arrays per pair dominated that
  * stage. One hash set built from the smaller side, one counting pass
  * over the larger; set-removal on match counts each distinct common
  * element once, so the count equals `size(array_intersect)` even on
  * inputs with duplicates. Null elements match like array_intersect's
  * (null ∈ both ⇒ counted once).
  */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(_: StringType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<string> children, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_intersect_size"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    IntersectSize.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.IntersectSize.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

object IntersectSize {
  /** Static entry for both interpreted and generated code paths. */
  def count(x: ArrayData, y: ArrayData): Int = {
    val (small, big) = if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var smallHasNull = false
    var i = 0
    while (i < small.numElements()) {
      if (small.isNullAt(i)) smallHasNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var c = 0
    var nullCounted = false
    var j = 0
    while (j < big.numElements()) {
      if (big.isNullAt(j)) {
        if (smallHasNull && !nullCounted) { c += 1; nullCounted = true }
      } else if (set.remove(big.getUTF8String(j))) c += 1
      j += 1
    }
    c
  }
}

/** MinHash signature: one pass over the shingle-hash array producing all
  * `n` minima, `sig_i = min_h (a_i*h + b_i) mod p` with `p = 1e9+7` and
  * the fixed coefficient table [[MinHashSig.A]], [[MinHashSig.B]]
  * (graft.functions.Text.minhashSignature's hash family). Replaces `n`
  * separate `array_min(transform(...))` traversals (the round-1 minhash
  * hot spot) with a single `|hashes| × n` loop on primitive longs.
  *
  * Empty input arrays yield an all-NULL signature, matching
  * `array_min(empty) = NULL`.
  */
case class MinHashSig(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0 && n <= MinHashSig.MaxN,
    s"signature length must be in [1, ${MinHashSig.MaxN}], got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  protected override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashSig.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Longest signature the coefficient table serves. */
  val MaxN = 1024

  /** Hash family coefficients, `a_i ∈ [1, p)` and `b_i ∈ [0, p)`: the
    * SplitMix64 outputs `2i` and `2i+1` of seed 0, reduced mod `p − 1`
    * (plus one) and mod `p`. Multipliers spread over the whole field, so
    * no small shingle hash is the minimum of every function; shingle
    * hashes are below `p < 2^30`, so `a_i*h + b_i < 2^61` is exact.
    */
  val A: Array[Long] =
    Array.tabulate(MaxN)(i => 1 + Math.floorMod(splitMix(2L * i), PolyHash.Mod - 1))
  val B: Array[Long] =
    Array.tabulate(MaxN)(i => Math.floorMod(splitMix(2L * i + 1), PolyHash.Mod))

  private def splitMix(k: Long): Long = {
    var z = (k + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Static entry for both interpreted and generated code paths. */
  def compute(hs: ArrayData, n: Int): ArrayData = {
    val m = hs.numElements()
    if (m == 0) {
      new GenericArrayData(Array.fill[Any](n)(null))
    } else {
      val mins = Array.fill(n)(Long.MaxValue)
      var j = 0
      while (j < m) {
        val h = hs.getLong(j)
        var i = 0
        while (i < n) {
          val v = (A(i) * h + B(i)) % PolyHash.Mod
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(mins)
    }
  }
}
