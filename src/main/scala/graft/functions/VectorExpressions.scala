package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Native kernels for the vector hot path (SURVEY §2D): similarity/ANN
  * operators fold over 64-float arrays millions of times, and Spark's
  * higher-order-function lambdas evaluate interpreted (one boxed
  * function call per element). Each kernel here is a tight primitive
  * loop in [[VectorKernels]], called from whole-stage codegen through
  * its [[Kernel]] declaration; the inputs are implicitly cast (float
  * arrays to double arrays, int coordinates to long).
  *
  * Semantics are IDENTICAL to the sequential fold they replace
  * (left-to-right double accumulation, so DuckDB `list_reduce` oracles
  * keep matching bit-for-bit). Null elements are not expected in
  * embedding vectors and are treated as 0.
  */
object VectorExpressions {

  private val K = VectorKernels.getClass

  /** dot(a, b): Σ a[i]·b[i] over min(len). */
  val dotp = Kernel("graft_dot", K, DoubleType,
    Seq(ArrayType(DoubleType), ArrayType(DoubleType)), castInputs = true)

  /** norm2(a): Σ a[i]² (callers take sqrt). */
  val norm2 = Kernel("graft_norm2", K, DoubleType, Seq(ArrayType(DoubleType)), castInputs = true)

  /** dotl(a, b): Σ a[i]·b[i] over long arrays — the integer
    * multiply-accumulate for quantized (int8-coded) vectors. */
  val dotl = Kernel("graft_dotl", K, LongType,
    Seq(ArrayType(LongType), ArrayType(LongType)), castInputs = true)

  val Zvalue = Kernel("graft_zvalue", K, LongType, Seq(LongType, LongType, IntegerType),
    castInputs = true, check = zvalueBits)

  // two interleaved groups of `bits` must fit a 64-bit long; bits > 32
  // would wrap the shift distance mod 64 and silently corrupt the code
  private def zvalueBits(args: Seq[Expression]): Option[String] = {
    val bits = args(2)
    if (!bits.foldable || bits.eval() == null)
      Some("graft_zvalue's bits argument must be a non-null integer literal")
    else {
      val b = bits.eval().asInstanceOf[Int]
      if (b < 1 || b > 32) Some(s"bits must be in 1..32, got $b") else None
    }
  }

  /** zvalue(x, y, bits): Morton interleave. */
  def zvalue(x: Column, y: Column, bits: Int): Column = Zvalue(x, y, lit(bits))
}

/** The primitive loops behind [[VectorExpressions]] — top-level object so
  * generated code calls the static forwarders directly. */
object VectorKernels {

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  /** Exact integer dot product — the quantized similarity hot loop
    * (code · code). Long accumulation: |codes| ≤ 127, so 64 dims peak at
    * 64·127² ≈ 10⁶ — overflow-free by 12 orders. */
  def dotl(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  def norm2(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (!x.isNullAt(i)) { val v = x.getDouble(i); s += v * v }
      i += 1
    }
    s
  }

  /** Morton (Z-order) interleave of two non-negative ints bounded by
    * 2^bits: bit k of x lands at position 2k, bit k of y at 2k+1. The
    * data-layout key for 2-D min/max pruning (SCALE.md) — a tight bit
    * loop instead of an interpreted per-bit lambda fold. Semantics
    * identical to the `aggregate(sequence(...))` fold it replaces
    * (disjoint bits, so the sum IS the interleave). */
  def zvalue(x: Long, y: Long, bits: Int): Long = {
    // loud, not lossy: an out-of-range coordinate (negative, or >= 2^bits)
    // would silently truncate to its low bits and COLLIDE with an
    // in-range point — poison for any min/max pruning built on the code.
    // graft_zvalue is SQL-exposed, so the domain is enforced here, not
    // assumed of callers.
    if ((x >>> bits) != 0L || (y >>> bits) != 0L)
      throw new IllegalArgumentException(
        s"graft_zvalue: inputs must be in [0, 2^$bits): ($x, $y)")
    var z = 0L
    var k = 0
    while (k < bits) {
      z |= ((x >>> k) & 1L) << (2 * k)
      z |= ((y >>> k) & 1L) << (2 * k + 1)
      k += 1
    }
    z
  }
}
