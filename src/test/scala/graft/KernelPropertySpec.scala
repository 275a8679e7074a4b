package graft

import scala.util.{Failure, Success, Try}

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.rng.Seed
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BoundReference, Expression, GenericInternalRow, Size}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GvcfExpressions, Kernel, KernelCall, PairExpressions, TextExpressions, VectorExpressions}

/** eval ≡ codegen for every kernel declaration: each kernel runs on
  * generated ragged, null, empty, unicode and long inputs through its
  * interpreted `eval` and through a generated projection, and both must
  * give the same value (or throw the same exception), with a null result
  * only where the declaration says the call is nullable. Expression
  * level, no Spark job: a fixed seed, a small case count per kernel. */
object KernelPropertySpec extends Properties("kernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40).withInitialSeed(Seed(20261018L))

  // small vocabulary: repeated tokens make shared shingles, lookups that
  // hit, duplicate sets and PL ties; GT-like and multi-byte tokens too
  private val vocab = Vector("a", "the", "b", "C", "T", "<NON_REF>", "block", "site",
    "0/1", "1|2", "./.", " 1/0", "-1/x", "007/2", "1//", "héllo", "日本語", "")

  private def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 7 -> g)

  /** An internal (Catalyst) value of `dt`: null about one time in eight,
    * arrays ragged and sometimes empty; long arrays only at the top. */
  private def value(dt: DataType, top: Boolean = true): Gen[Any] = orNull(dt match {
    case StringType => Gen.oneOf(vocab).map(UTF8String.fromString)
    case IntegerType => Gen.choose(-3, 40)
    case LongType => Gen.choose(-3L, 40L)
    case DoubleType => Gen.choose(-100, 100).map(_ / 7.0)
    case ArrayType(et, _) =>
      val n = if (top) Gen.frequency(8 -> Gen.choose(0, 8), 1 -> Gen.choose(100, 300))
        else Gen.choose(0, 4)
      n.flatMap(Gen.listOfN(_, value(et, top = false)))
        .map(xs => new GenericArrayData(xs.toArray))
    case StructType(fs) =>
      Gen.sequence[List[Any], Any](fs.map(f => value(f.dataType, top = false)))
        .map(vs => new GenericInternalRow(vs.toArray))
  })

  private def args(types: DataType*): Gen[Seq[Any]] =
    Gen.sequence[List[Any], Any](types.map(value(_)))

  private val tokens = ArrayType(StringType)
  private def pairTypes(sig: DataType): Seq[DataType] = {
    val member = StructType(Seq(StructField("doc_id", LongType), StructField("sig", sig)))
    Seq(ArrayType(member), member)
  }
  private val hiLo = StructType(Seq(StructField("hi", LongType), StructField("lo", LongType)))

  /** MinHash coefficients stay aligned and p positive, as the facade
    * requires. */
  private val minhashArgs: Gen[Seq[Any]] = for {
    toks <- value(tokens)
    n <- Gen.choose(0, 40)
    a <- Gen.listOfN(n, Gen.choose(1L, 1L << 14))
    b <- Gen.listOfN(n, Gen.choose(0L, 1L << 19))
    p <- Gen.choose(1L, Int.MaxValue.toLong)
  } yield Seq(toks, new GenericArrayData(a.toArray[Any]), new GenericArrayData(b.toArray[Any]), p)

  /** Mostly in-domain coordinates, sometimes out of it (the kernel must
    * then throw the same error on both paths); bits as the literal
    * check allows. */
  private val zvalueArgs: Gen[Seq[Any]] = for {
    bits <- Gen.choose(1, 32)
    coord = Gen.frequency(8 -> Gen.choose(0L, (1L << bits) - 1), 1 -> Gen.choose(-5L, 1L << 40))
    x <- orNull(coord)
    y <- orNull(coord)
  } yield Seq(x, y, bits)

  /** Every declaration with the argument types it is called with and an
    * input generator (generic over the types unless the kernel has a
    * domain). */
  private val cases: Seq[(Kernel, Seq[DataType], Gen[Seq[Any]])] = {
    import GvcfExpressions._, TextExpressions._, PairExpressions._, VectorExpressions._
    def generic(k: Kernel, types: Seq[DataType]) = (k, types, args(types: _*))
    Seq(PlRegenotype, MergedAlts, RemapGt, sortedCallVals, ExportCells, shingleH48,
      shingleH48Distinct, shingleH48DistinctSorted, shingleXxh64Distinct,
      sortedIntersectCount, TokenStats, simhashHex, dotp, dotl, norm2)
      .map(k => generic(k, k.inputTypes)) ++ Seq(
      (MinhashH48, MinhashH48.inputTypes, minhashArgs),
      (Zvalue, Zvalue.inputTypes, zvalueArgs),
      generic(BucketPairsIds, pairTypes(ArrayType(LongType))),
      generic(BucketPairsMatch32, pairTypes(ArrayType(IntegerType))),
      generic(BucketPairsHamming, pairTypes(hiLo)))
  }

  private def refs(types: Seq[DataType]): Seq[Expression] =
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }

  /** Interpreted and generated evaluation of `e` (compiled once). */
  private def bothPaths(e: Expression): Seq[Any] => (Try[Any], Try[Any]) = {
    val projection = GenerateUnsafeProjection.generate(Seq(e))
    val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
    vs => {
      val row = new GenericInternalRow(vs.toArray)
      (Try(toScala(e.eval(row))), Try {
        val out = projection(row)
        if (out.isNullAt(0)) null else toScala(out.get(0, e.dataType))
      })
    }
  }

  private def same(a: Try[Any], b: Try[Any]): Boolean = (a, b) match {
    case (Success(x), Success(y)) => x == y
    case (Failure(x), Failure(y)) => x.getClass == y.getClass && x.getMessage == y.getMessage
    case _ => false
  }

  for ((kernel, types, gen) <- cases) {
    val call = KernelCall(kernel, refs(types))
    lazy val run = bothPaths(call)
    property(s"${kernel.name}: eval == codegen") = forAllNoShrink(gen) { vs =>
      val (interp, generated) = run(vs)
      Prop(same(interp, generated) && (call.nullable || !interp.toOption.contains(null)))
        .label(s"args=$vs interp=$interp codegen=$generated")
    }
  }

  /** The ∩-count kernel's precondition (sorted, distinct inputs) holds for
    * the shingle sets it is called on: over the same token generator it
    * equals size(array_intersect), on both paths. Pairs often share a
    * token run, so the intersections are not all empty. */
  property("graft_sorted_intersect_count on sorted-distinct shingle sets == size(array_intersect)") = {
    import TextExpressions.{shingleH48DistinctSorted, sortedIntersectCount}
    val Seq(a, b) = refs(Seq(tokens, tokens))
    val sa = KernelCall(shingleH48DistinctSorted, Seq(a))
    val sb = KernelCall(shingleH48DistinctSorted, Seq(b))
    lazy val native = bothPaths(KernelCall(sortedIntersectCount, Seq(sa, sb)))
    lazy val reference = bothPaths(Size(ArrayIntersect(sa, sb)))
    val pairs = for {
      x <- value(tokens)
      y <- Gen.frequency(1 -> value(tokens), 2 -> (x match {
        case xs: GenericArrayData => Gen.choose(0, 3).flatMap(k => value(tokens).map {
          case ys: GenericArrayData => new GenericArrayData(xs.array.drop(k) ++ ys.array)
          case _ => xs
        })
        case _ => value(tokens)
      }))
    } yield Seq(x, y)
    forAllNoShrink(pairs) { vs =>
      val (n1, n2) = native(vs)
      val (r1, r2) = reference(vs)
      Prop(Seq(n2, r1, r2).forall(same(n1, _))).label(s"args=$vs native=$n1/$n2 ref=$r1/$r2")
    }
  }
}
