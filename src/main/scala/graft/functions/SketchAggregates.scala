package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sketch aggregates (SURVEY §2C/§2D "novel sketch" slot). The KMV
  * (k-minimum-values) distinct sketch keeps the k smallest DISTINCT
  * 48-bit hashes of a key column; `(k-1) / max_kth` (normalized)
  * estimates the distinct count. The aggregation state is a BOUNDED
  * sorted primitive array — k longs, never more, no per-row boxing —
  * so unlike `collect_set`/window-rank formulations the memory per
  * group is constant regardless of input size, and partial+final merge
  * is a sorted-array merge: exactly the sketch contract that lets a
  * 100 TB distinct-count run entirely map-side-combined. Deterministic
  * and order-independent (a set's k smallest members don't depend on
  * arrival order), so the DuckDB oracle reproduces it exactly with
  * DISTINCT + row_number ≤ k.
  */
object SketchAggregates {

  /** k smallest distinct values of a long column, as a sorted array<long>. */
  def minKDistinct(a: Column, k: Int): Column =
    ColumnBridge.column(
      MinKDistinctLongs(ColumnBridge.expression(a), k).toAggregateExpression())

  /** Misra-Gries heavy-hitter CANDIDATE keys (sorted array<long>, ≤ k):
    * every key with true frequency > n/k is guaranteed present
    * regardless of partitioning/merge order; sub-threshold survivors
    * may vary, so callers MUST re-count candidates exactly and filter
    * (the standard two-pass heavy-hitters contract — that final result
    * IS deterministic). */
  def heavyHitterKeys(v: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGriesKeys(ColumnBridge.expression(v), k).toAggregateExpression())
}

/** Shared fixed-width long-array wire format for aggregate buffers —
  * ONE definition (also used by VectorAggregates) so the two native
  * aggregates' serialization can never drift apart. */
private[functions] object LongArraySerde {
  def toBytes(buf: Array[Long], n: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(n * 8)
    var i = 0
    while (i < n) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }
  def toBytes(buf: Array[Long]): Array[Byte] = toBytes(buf, buf.length)
  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }
}

/** Bounded sorted-array KMV state: `arr(0 until n)` holds the n ≤ k
  * smallest DISTINCT values seen, ascending. Insert = binary search +
  * System.arraycopy shift (k ≤ 64 → a few cache lines), zero allocation
  * and zero boxing per row — the actual constant-k-longs contract the
  * class doc advertises. */
final class MinKBuffer(val k: Int) {
  val arr = new Array[Long](k)
  var n = 0

  def insert(v: Long): Unit = {
    if (n == k && v >= arr(n - 1)) return // can't displace the current max
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo < n && arr(lo) == v) return // already present (distinct set)
    if (n < k) {
      System.arraycopy(arr, lo, arr, lo + 1, n - lo)
      arr(lo) = v
      n += 1
    } else {
      // v < arr(k-1): shift the tail right by one, dropping the max
      System.arraycopy(arr, lo, arr, lo + 1, k - 1 - lo)
      arr(lo) = v
    }
  }
}

/** Misra-Gries summary buffer (mergeable-summaries formulation,
  * Agarwal et al.): up to 2k (key, count) entries in parallel arrays;
  * on overflow, subtract the (k+1)-th largest count from every entry
  * and keep the positive ones (≤ k survive). Linear key probes — k is
  * a few dozen, the entries fit in two cache lines. */
final class MGBuffer(val k: Int) {
  val keys = new Array[Long](2 * k)
  val cnts = new Array[Long](2 * k)
  var n = 0

  def add(v: Long, c: Long): Unit = {
    var i = 0
    while (i < n) {
      if (keys(i) == v) { cnts(i) += c; return }
      i += 1
    }
    if (n == 2 * k) compress()
    keys(n) = v; cnts(n) = c; n += 1
  }

  /** Reduce to ≤ k entries, preserving the MG error bound. */
  def compress(): Unit = {
    if (n <= k) return
    val sorted = java.util.Arrays.copyOf(cnts, n)
    java.util.Arrays.sort(sorted)
    val threshold = sorted(n - 1 - k) // (k+1)-th largest
    var w = 0
    var i = 0
    while (i < n) {
      if (cnts(i) > threshold) { keys(w) = keys(i); cnts(w) = cnts(i) - threshold; w += 1 }
      i += 1
    }
    n = w
  }
}

/** Heavy-hitter candidate keys via a bounded Misra-Gries summary —
  * constant state per group (≤ 2k longs ×2), map-side combinable, so a
  * 100 TB frequency scan never materializes the full key dictionary.
  * Output is the SORTED candidate key array; counts are deliberately
  * not exposed (MG counts depend on merge order — the deterministic
  * contract is candidates-then-exact-recount, see
  * [[SketchAggregates.heavyHitterKeys]]). */
case class MisraGriesKeys(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGBuffer]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_heavy_hitter_keys"

  override def createAggregationBuffer(): MGBuffer = new MGBuffer(k)

  override def update(buf: MGBuffer, input: InternalRow): MGBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], 1L)
    buf
  }

  override def merge(b1: MGBuffer, b2: MGBuffer): MGBuffer = {
    var i = 0
    while (i < b2.n) { b1.add(b2.keys(i), b2.cnts(i)); i += 1 }
    b1
  }

  override def eval(buf: MGBuffer): Any = {
    buf.compress()
    // Uniform no-candidate encoding: compress() can drop EVERY entry
    // (e.g. all counts equal in a group of ≤2k singletons); return null
    // for that case too, not sometimes-null-sometimes-empty-array.
    if (buf.n == 0) return null
    val out = java.util.Arrays.copyOf(buf.keys, buf.n)
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  override def serialize(buf: MGBuffer): Array[Byte] = {
    val flat = new Array[Long](2 * buf.n)
    var i = 0
    while (i < buf.n) { flat(2 * i) = buf.keys(i); flat(2 * i + 1) = buf.cnts(i); i += 1 }
    LongArraySerde.toBytes(flat)
  }

  override def deserialize(bytes: Array[Byte]): MGBuffer = {
    val flat = LongArraySerde.fromBytes(bytes)
    val buf = new MGBuffer(k)
    var i = 0
    while (i < flat.length / 2) {
      buf.keys(i) = flat(2 * i); buf.cnts(i) = flat(2 * i + 1); i += 1
    }
    buf.n = flat.length / 2
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesKeys =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesKeys =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesKeys =
    copy(child = newChild)
}

case class MinKDistinctLongs(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKBuffer]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_min_k_distinct"

  override def createAggregationBuffer(): MinKBuffer = new MinKBuffer(k)

  override def update(buf: MinKBuffer, input: InternalRow): MinKBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: MinKBuffer, b2: MinKBuffer): MinKBuffer = {
    var i = 0
    while (i < b2.n) { b1.insert(b2.arr(i)); i += 1 }
    b1
  }

  override def eval(buf: MinKBuffer): Any =
    if (buf.n == 0) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf.arr, buf.n))

  override def serialize(buf: MinKBuffer): Array[Byte] =
    LongArraySerde.toBytes(buf.arr, buf.n)

  override def deserialize(bytes: Array[Byte]): MinKBuffer = {
    val vals = LongArraySerde.fromBytes(bytes)
    val buf = new MinKBuffer(k)
    // already sorted ascending and distinct — bulk restore
    System.arraycopy(vals, 0, buf.arr, 0, vals.length)
    buf.n = vals.length
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKDistinctLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKDistinctLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinKDistinctLongs =
    copy(child = newChild)
}
