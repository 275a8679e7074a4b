package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The per-doc group aggregates the per-row MinHash / SimHash kernels
  * replaced ([[TextKernels.minhashH48]], [[TextKernels.simhashHex]]),
  * kept as parity references for TextExpressionsSpec: the kernels must
  * reproduce explode + these aggregates exactly. */
object SketchReferences {

  /** MinHash signature: per permutation i, min((v·aᵢ + bᵢ) mod p) over the
    * group's hash values — ONE array-typed aggregate instead of numPerms
    * separate min columns (whose generated aggregation class grows with
    * the signature length). Same arithmetic, same values. */
  def minhashSig(v: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(v), a.toVector, b.toVector, p)
        .toAggregateExpression())

  /** SimHash signature: 64 majority-vote bit lanes over the group's
    * 64-bit token hashes, emitted as the 16-hex-char signature string —
    * ONE array-buffered aggregate instead of a 4× per-token group
    * fan-out + two chained aggregations (the pre-r14 shape: explode to
    * 16-bit groups, 16 lane-sum columns, then a second groupBy to
    * reassemble the string). Same majority rule (2·cnt > n), same
    * digit order, bit-identical signatures. */
  def simhashSig(v: Column): Column =
    ColumnBridge.column(
      SimHashBitCounts(ColumnBridge.expression(v)).toAggregateExpression())
}

/** SimHash bit-lane counter: buffer = 64 per-bit counts + the row count
  * in slot 64. Update is 64 shift-and-mask adds per token hash; merge is
  * element-wise sum (map-side combinable — the property that keeps a
  * 100 TB SimHash one corpus scan). Eval renders the signature DIGIT
  * j (1-based, most-significant first) from lanes (16−j)·4+b — exactly
  * the hex-nibble layout of the 64-bit input value, so signatures match
  * the digit-wise formulation bit for bit. */
case class SimHashBitCounts(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash_sig"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var k = 0
      while (k < 64) { buf(k) += (x >>> k) & 1L; k += 1 }
      buf(64) += 1L
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 65) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    if (buf(64) == 0L) return null // no input rows contributed
    val n = buf(64)
    val out = new Array[Char](16)
    var j = 1
    while (j <= 16) {
      var d = 0
      var b = 0
      while (b < 4) {
        if (2L * buf((16 - j) * 4 + b) > n) d |= 1 << b
        b += 1
      }
      out(j - 1) = "0123456789abcdef".charAt(d)
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(new String(out))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = LongArraySerde.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = LongArraySerde.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashBitCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashBitCounts =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashBitCounts =
    copy(child = newChild)
}

/** Coefficients are Seq (structural equality): case-class equality over
  * Array fields is reference equality, which would break
  * semanticEquals/canonicalization (two identical minhash aggregates
  * would never be recognized as the same expression). The hot loop
  * reads them through a local Array copy. */
case class MinHashSignature(
    child: Expression,
    a: Seq[Long],
    b: Seq[Long],
    p: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  require(a.length == b.length, "permutation coefficient arrays must align")

  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(a.length)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      val as = aArr
      val bs = bArr
      var i = 0
      while (i < buf.length) {
        // floorMod, not %: a negative input (full-range 64-bit hash
        // rather than the callers' 48-bit non-negative values) would
        // otherwise land lane values in (-p, 0) that dominate every
        // minimum. Identical to % for the in-contract domain: the no-
        // wrap bound comes from the A coefficients (a ≤ 12351 < 2^14 ⇒
        // x*a < 2^62); the B coefficients are up to 19 bits (b(31) =
        // 309170), far inside the remaining headroom.
        val h = java.lang.Math.floorMod(x * as(i) + bs(i), p)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.length > 0 && buf(0) == Long.MaxValue) null // no input rows contributed
    else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = LongArraySerde.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = LongArraySerde.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSignature =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSignature =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
