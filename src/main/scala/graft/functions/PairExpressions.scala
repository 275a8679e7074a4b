package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernel for the LSH bucket pair expansion (r22b batch 3): per
  * (bucket, member a) row, the pre-kernel shape ran
  * `transform(filter(ds, b -> b.doc_id > a.doc_id), b -> struct(a.doc_id,
  * b.doc_id, a.sig, b.sig))` — two interpreted lambdas per bucket member
  * AND a pair row carrying BOTH signature payloads (~300 B for 32-perm
  * MinHash), with the metric (match count / Hamming) computed in a later
  * projection. Pair volume is the term that grows at 100 TB, so this
  * expression fuses expansion + metric into one primitive loop and emits
  * `struct<doc_a, doc_b, m>` (24 B) — the signatures never materialize
  * into pair rows at all.
  *
  * Modes (validated against the bucket element type):
  *  - `match32`: sig is array<int>; m = positions where both elements
  *    are non-null and equal — the rule of
  *    `size(filter(zip_with(a, b, (x, y) -> x = y), p -> p))` verbatim
  *    (null if either sig is null, as that chain's `size` propagates).
  *  - `hamming`: sig is struct<hi: long, lo: long>; m =
  *    bit_count(hi⊕hi) + bit_count(lo⊕lo) — null if any field is null,
  *    exactly the xor/bit_count chain's propagation.
  *  - `ids`: no metric column (the q_dedup_ngram id-only consumer).
  *
  * Pair domain is IDENTICAL to the lambda chain: strict
  * `b.doc_id > a.doc_id` over the same sliced sorted bucket (null
  * doc_ids on either side drop the pair, as `null > x` did).
  * TextExpressionsSpec-style parity is pinned in PairExpressionsSpec on
  * both eval paths, null/ragged corners included. Null (→ explode drops
  * the row) when `ds` or `a` is null, exactly as the lambda chain's
  * transform(filter(NULL)) was.
  */
object PairExpressions {

  val BucketPairsIds = pairs("ids", _ => true)
  val BucketPairsMatch32 = pairs("match32", {
    case ArrayType(IntegerType, _) => true
    case _ => false
  })
  val BucketPairsHamming = pairs("hamming", {
    case StructType(fs) => fs.length == 2 && fs.forall(_.dataType == LongType)
    case _ => false
  })
  private val Modes = Map("ids" -> BucketPairsIds, "match32" -> BucketPairsMatch32,
    "hamming" -> BucketPairsHamming)

  /** `graft_bucket_pairs_<mode>`: (bucket members, member a) → pair
    * structs; the bucket element and `a` must both be struct<long, sig>
    * with the same mode-compatible sig type. */
  private def pairs(mode: String, sigOk: DataType => Boolean): Kernel = {
    val base = Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false))
    val fields = if (mode == "ids") base else base :+ StructField("m", IntegerType, nullable = true)
    Kernel(s"graft_bucket_pairs_$mode", PairKernels.getClass,
      ArrayType(StructType(fields), containsNull = false), inputTypes = Nil,
      mayReturnNull = true, check = (args: Seq[Expression]) =>
        args.map(_.dataType) match {
          case Seq(ArrayType(se: StructType, _), ae: StructType)
              if se.length == 2 && ae.length == 2 &&
                se.head.dataType == LongType && ae.head.dataType == LongType &&
                se(1).dataType == ae(1).dataType && sigOk(se(1).dataType) => None
          case types => Some(s"graft_bucket_pairs_$mode expects (array<struct<long, sig>>, " +
            s"struct<long, sig>) with mode-compatible sig, got ${types.mkString("(", ", ", ")")}")
        })
  }

  def bucketPairs(ds: Column, a: Column, mode: String): Column =
    Modes.getOrElse(mode, throw new IllegalArgumentException(
      s"graft_bucket_pairs: unknown mode '$mode'"))(ds, a)
}

/** The primitive loop behind [[PairExpressions]] — static so generated
  * code calls it directly, one entry per mode. */
object PairKernels {

  def bucketPairsIds(ds: ArrayData, a: InternalRow): ArrayData = expand(ds, a, 0)
  def bucketPairsMatch32(ds: ArrayData, a: InternalRow): ArrayData = expand(ds, a, 1)
  def bucketPairsHamming(ds: ArrayData, a: InternalRow): ArrayData = expand(ds, a, 2)

  /** Mode: 0 = ids, 1 = match32, 2 = hamming. */
  private def expand(ds: ArrayData, a: InternalRow, mode: Int): ArrayData = {
    if (a.isNullAt(0)) return new GenericArrayData(new Array[Any](0))
    val aId = a.getLong(0)
    val n = ds.numElements()
    val out = new java.util.ArrayList[Any](math.max(4, n / 2))
    var i = 0
    while (i < n) {
      // collect_list never emits null elements, but stay exact: a null
      // bucket member contributes no pair (its doc_id comparison is null)
      if (!ds.isNullAt(i)) {
        val b = ds.getStruct(i, 2)
        if (!b.isNullAt(0)) {
          val bId = b.getLong(0)
          if (bId > aId) {
            val row =
              if (mode == 0) new GenericInternalRow(Array[Any](aId, bId))
              else new GenericInternalRow(Array[Any](aId, bId, metric(a, b, mode)))
            out.add(row)
          }
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Null-propagating metric: match32 counts equal non-null positions
    * over min(len); hamming is popcount of the 128-bit xor. */
  private def metric(a: InternalRow, b: InternalRow, mode: Int): Any = {
    if (a.isNullAt(1) || b.isNullAt(1)) return null
    if (mode == 1) {
      val sa = a.getArray(1)
      val sb = b.getArray(1)
      val n = math.min(sa.numElements(), sb.numElements())
      var c = 0
      var i = 0
      while (i < n) {
        if (!sa.isNullAt(i) && !sb.isNullAt(i) && sa.getInt(i) == sb.getInt(i)) c += 1
        i += 1
      }
      c
    } else {
      val sa = a.getStruct(1, 2)
      val sb = b.getStruct(1, 2)
      if (sa.isNullAt(0) || sa.isNullAt(1) || sb.isNullAt(0) || sb.isNullAt(1)) null
      else java.lang.Long.bitCount(sa.getLong(0) ^ sb.getLong(0)) +
        java.lang.Long.bitCount(sa.getLong(1) ^ sb.getLong(1))
    }
  }
}
