package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot path (SURVEY §2D):
  * similarity/ANN operators fold over 64-float arrays millions of times,
  * and Spark's higher-order-function lambdas evaluate interpreted (one
  * boxed function call per element). These expressions generate a tight
  * primitive-double loop inside whole-stage codegen instead — the
  * preference order the north star mandates: native Expression with
  * doGenCode > higher-order fn > UDF.
  *
  * Semantics are IDENTICAL to the sequential fold they replace
  * (left-to-right double accumulation, so DuckDB `list_reduce` oracles
  * keep matching bit-for-bit). Null elements are not expected in
  * embedding vectors and are treated as 0.
  */
object VectorExpressions {

  /** dot(a, b): Σ a[i]·b[i] over min(len) — codegen'd. */
  def dotp(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** norm2(a): Σ a[i]² — codegen'd (callers take sqrt). */
  def norm2(a: Column): Column =
    ColumnBridge.column(L2NormSq(ColumnBridge.expression(a)))

  /** dotl(a, b): Σ a[i]·b[i] over long arrays — the integer
    * multiply-accumulate for quantized (int8-coded) vectors. */
  def dotl(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** zvalue(x, y, bits): Morton interleave — codegen'd bit loop. */
  def zvalue(x: Column, y: Column, bits: Int): Column =
    ColumnBridge.column(ZValue(ColumnBridge.expression(x), ColumnBridge.expression(y), bits))

}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product over ArrayType(LongType) — the quantized
  * similarity hot loop (code · code). Long accumulation: |codes| ≤ 127,
  * so 64 dims peak at 64·127² ≈ 10⁶ — overflow-free by 12 orders. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dotl"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

case class L2NormSq(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm2"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (!x.isNullAt(i)) { val v = x.getDouble(i); s += v * v }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = $a.getDouble($i);
         |    $acc += $v * $v;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2NormSq =
    copy(child = newChild)
}

/** Morton (Z-order) interleave of two non-negative ints bounded by
  * 2^bits: bit k of x lands at position 2k, bit k of y at 2k+1. The
  * data-layout key for 2-D min/max pruning (SCALE.md) — a tight
  * codegen'd bit loop instead of an interpreted per-bit lambda fold.
  * Semantics identical to the `aggregate(sequence(...))` fold it
  * replaces (disjoint bits, so the sum IS the interleave). */
case class ZValue(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  // two interleaved groups of `bits` must fit a 64-bit long; bits > 32
  // would wrap the shift distance mod 64 and silently corrupt the code
  require(bits > 0 && bits <= 32, s"bits must be in 1..32, got $bits")

  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zvalue"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]
    val y = b.asInstanceOf[Long]
    // loud, not lossy: an out-of-range coordinate (negative, or >= 2^bits)
    // would silently truncate to its low bits and COLLIDE with an
    // in-range point — poison for any min/max pruning built on the code.
    // graft_zvalue is SQL-exposed, so the domain is enforced here, not
    // assumed of callers.
    if ((x >>> bits) != 0L || (y >>> bits) != 0L)
      throw new IllegalArgumentException(
        s"$prettyName: inputs must be in [0, 2^$bits): ($x, $y)")
    var z = 0L
    var k = 0
    while (k < bits) {
      z |= ((x >>> k) & 1L) << (2 * k)
      z |= ((y >>> k) & 1L) << (2 * k + 1)
      k += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      s"""
         |if ((($a >>> $bits) != 0L) || (($b >>> $bits) != 0L)) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: inputs must be in [0, 2^$bits): (" + $a + ", " + $b + ")");
         |}
         |long $acc = 0L;
         |for (int $k = 0; $k < $bits; $k++) {
         |  $acc |= (($a >>> $k) & 1L) << (2 * $k);
         |  $acc |= (($b >>> $k) & 1L) << (2 * $k + 1);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)
}
