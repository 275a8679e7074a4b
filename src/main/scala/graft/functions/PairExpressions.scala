package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
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
  * both eval paths, null/ragged corners included.
  */
object PairExpressions {

  def bucketPairs(ds: Column, a: Column, mode: String): Column =
    ColumnBridge.column(BucketPairsExpand(
      ColumnBridge.expression(ds), ColumnBridge.expression(a), mode))
}

/** The primitive loop behind [[PairExpressions]] — static so generated
  * code calls it directly. Mode: 0 = ids, 1 = match32, 2 = hamming. */
object PairKernels {

  def expand(ds: ArrayData, a: InternalRow, mode: Int): ArrayData = {
    if (ds == null || a == null) return null
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

/** See [[PairExpressions]]/[[PairKernels]]. Null (→ explode drops the
  * row) when `ds` or `a` is null, exactly as the lambda chain's
  * transform(filter(NULL)) was. */
case class BucketPairsExpand(ds: Expression, a: Expression, mode: String)
    extends Expression {

  private val modeId: Int = mode match {
    case "ids" => 0
    case "match32" => 1
    case "hamming" => 2
    case other => throw new IllegalArgumentException(
      s"graft_bucket_pairs: unknown mode '$other'")
  }

  override def children: Seq[Expression] = Seq(ds, a)
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_bucket_pairs_$mode"

  private def sigOk(t: DataType): Boolean = modeId match {
    case 0 => true
    case 1 => t.isInstanceOf[ArrayType] &&
      t.asInstanceOf[ArrayType].elementType == IntegerType
    case 2 => t match {
      case StructType(fs) => fs.length == 2 &&
        fs.forall(_.dataType == LongType)
      case _ => false
    }
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (ds.dataType, a.dataType) match {
      case (ArrayType(se: StructType, _), ae: StructType)
          if se.length == 2 && ae.length == 2 &&
            se.head.dataType == LongType && ae.head.dataType == LongType &&
            se(1).dataType == ae(1).dataType && sigOk(se(1).dataType) =>
        TypeCheckSuccess
      case (d, at) => TypeCheckFailure(
        s"$prettyName expects (array<struct<long, sig>>, struct<long, sig>) " +
          s"with mode-compatible sig, got ($d, $at)")
    }
  }

  override def dataType: DataType = {
    val base = Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false))
    val fields =
      if (modeId == 0) base
      else base :+ StructField("m", IntegerType, nullable = true)
    ArrayType(StructType(fields), containsNull = false)
  }

  override def eval(input: InternalRow): Any = {
    val d = ds.eval(input)
    if (d == null) return null
    val av = a.eval(input)
    if (av == null) return null
    PairKernels.expand(d.asInstanceOf[ArrayData], av.asInstanceOf[InternalRow], modeId)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dC = ds.genCode(ctx)
    val aC = a.genCode(ctx)
    ev.copy(code =
      code"""
        ${dC.code}
        ${aC.code}
        boolean ${ev.isNull} = ${dC.isNull} || ${aC.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.PairKernels.expand(
            ${dC.value}, ${aC.value}, $modeId);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BucketPairsExpand =
    copy(ds = newChildren(0), a = newChildren(1))
}
