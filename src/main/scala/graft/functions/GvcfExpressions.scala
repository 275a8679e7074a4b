package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the gVCF per-row hot path (r22, verdict item 1):
  * the GenotypeGVCFs remap and the merged-alts projection used to be
  * chains of higher-order functions (`transform`,
  * `array_sort`-with-comparator, `flatten`…) which Spark evaluates
  * INTERPRETED — one boxed lambda call per array element per row, paid
  * on every (site, covered sample) coverage row. Each kernel is one
  * primitive JVM loop in [[GvcfKernels]] plus one [[Kernel]]
  * declaration; [[KernelCall]] runs the same static function on the
  * interpreted and the whole-stage-codegen path, so they cannot drift.
  *
  * Semantics are replicated EXACTLY from the expression chains they
  * replace (see [[GvcfKernels]] for the per-step derivation); the DuckDB
  * oracles for q_genotype_gvcf / q_genotype_wide / the combine family
  * replay the same math independently, so a hash match re-proves the
  * equivalence end to end.
  */
object GvcfExpressions {

  private val K = GvcfKernels.getClass
  private val Strings = ArrayType(StringType)

  /** Packed GenotypeGVCFs re-genotype (see [[GvcfKernels.plRegenotype]]):
    * returns `a | b << 20 | gq_new << 40` where (a, b) is the argmin
    * genotype pair in merged-allele space and gq_new the capped
    * second-best − best likelihood gap. Null only when `malleles` or
    * `lall` is null; a null `pl` / `kind` is data (block-coverage rows),
    * handled inside the kernel exactly as the CASE chain did, and a
    * null `gq` counts as 0, the chain's `coalesce(gq, 0)`. */
  val PlRegenotype = Kernel("graft_pl_regenotype", K, LongType,
    Seq(Strings, Strings, ArrayType(IntegerType), StringType, IntegerType), lenient = Set(2, 3))
  def plRegenotype(malleles: Column, lall: Column, pl: Column,
      kind: Column, gq: Column): Column =
    PlRegenotype(malleles, lall, pl, kind, coalesce(gq, lit(0)))

  /** `concat(array_sort(array_distinct(flatten(x))), array(sentinel))`
    * as one primitive pass ([[GvcfKernels.mergedAlts]]); null on a null
    * nested array, as flatten. */
  val MergedAlts = Kernel("graft_merged_alts", K, Strings,
    Seq(ArrayType(Strings), StringType), mayReturnNull = true)
  def mergedAlts(collected: Column, sentinel: String): Column =
    MergedAlts(collected, lit(sentinel))

  /** The CombineGVCFs genotype-string remap ([[GvcfKernels.remapGt]]).
    * Null only when `gt` is null; null `kind` / `alleles` / `alts`
    * degrade exactly as the CASE chain did. */
  val RemapGt = Kernel("graft_remap_gt", K, StringType,
    Seq(StringType, StringType, Strings, Strings, StringType), lenient = Set(1, 2, 3))
  def remapGt(gt: Column, kind: Column, alleles: Column, alts: Column,
      sentinel: String): Column =
    RemapGt(gt, kind, alleles, alts, lit(sentinel))

  /** `transform(sort_array(x), s -> s.c)` over `array<struct<i,c>>`
    * ([[GvcfKernels.sortedCallVals]]) — the dense calls assembly. */
  val sortedCallVals = Kernel("graft_sorted_call_vals", K, Strings, Seq(ArrayType(StructType(Seq(
    StructField("i", LongType), StructField("c", StringType))))))

  /** The export cell merge ([[GvcfKernels.exportCells]]): covered calls
    * + per-missing-sample defaults, in cohort (sample) order. */
  val ExportCells = Kernel("graft_export_cells", K, Strings, Seq(ArrayType(StructType(Seq(
    StructField("k", StringType), StructField("g", IntegerType),
    StructField("call", StringType)))), Strings, StringType))
  def exportCells(esd: Column, samples: Column, missing: String): Column =
    ExportCells(esd, samples, lit(missing))
}

/** The primitive loops behind [[GvcfExpressions]] — top-level object so
  * Scala emits static forwarders that generated (Janino) code can call
  * directly: `graft.functions.GvcfKernels.plRegenotype(...)`. Each
  * function's name is its declaration's `graft_*` name in camel case. */
object GvcfKernels {

  private val Block = UTF8String.fromString("block")
  /** Likelihood sentinel for alleles outside the sample's PL vector —
    * the `coalesce(try_element_at(pl, …), 999999)` fallback. */
  val MissingPl = 999999

  /** The GenotypeGVCFs per-sample re-genotype, replicating this exact
    * expression chain over (malleles, lall, pl, kind, gq):
    *
    *   limap = transform(malleles, m -> CASE WHEN array_position(lall, m) > 0
    *             THEN array_position(lall, m) - 1 ELSE size(lall) - 1 END)
    *   pairs = flatten(transform(sequence(0, size(malleles)-1),
    *             b -> transform(sequence(0, b), a -> array(a, b))))
    *   mpl   = CASE WHEN kind = 'block' OR pl IS NULL THEN
    *             transform(pairs, p -> coalesce(gq, 0) * ((p[0]>0)+(p[1]>0)))
    *           ELSE transform(pairs, p -> coalesce(try_element_at(pl,
    *             hi*(hi+1) div 2 + lo + 1), 999999)) END
    *             where hi/lo = greatest/least(limap[p[0]], limap[p[1]])
    *   g     = array_position(mpl, array_min(mpl)) - 1   (FIRST min)
    *   gt    = (pairs[g][0], pairs[g][1])
    *   gq'   = least(try_element_at(sort(mpl), 2) - try_element_at(sort(mpl), 1), 99)
    *
    * One pass: tracks the first-index minimum and the second-smallest
    * value (ties give second == best, i.e. gq' = 0 — identical to the
    * sorted form). `least` skips the NULL that a single-element mpl
    * would produce, so gq' degrades to 99 there, replicated by the
    * n < 2 branch (unreachable for real cohorts: malleles always carries
    * ref + <NON_REF> at minimum). Integer arithmetic wraps exactly like
    * the non-overflowing column ops it replaces for every reachable
    * input (PL values are bounded by MissingPl).
    *
    * Returns `a | b << 20 | gq' << 40` (a, b < 2^20 — allele indices;
    * gq' in [0, 99]). */
  def plRegenotype(ma: ArrayData, la: ArrayData, pl: ArrayData,
      kind: UTF8String, gqz: Int): Long = {
    val banded = (kind != null && Block.equals(kind)) || pl == null
    val m = ma.numElements()
    val ls = la.numElements()
    val limap = if (banded) null else {
      val out = new Array[Int](m)
      var i = 0
      while (i < m) {
        // array_position semantics: first 1-based index of an EQUAL
        // element (null elements never match); absent or null probe
        // falls through to the <NON_REF> slot size(lall)-1
        val mv = if (ma.isNullAt(i)) null else ma.getUTF8String(i)
        var p = -1
        if (mv != null) {
          var j = 0
          while (p < 0 && j < ls) {
            if (!la.isNullAt(j) && mv.equals(la.getUTF8String(j))) p = j
            j += 1
          }
        }
        out(i) = if (p >= 0) p else ls - 1
        i += 1
      }
      out
    }
    val pn = if (pl == null) 0 else pl.numElements()
    var best = Integer.MAX_VALUE
    var second = Integer.MAX_VALUE
    var ga = 0
    var gb = 0
    var n = 0
    var b = 0
    while (b < m) {
      var a = 0
      while (a <= b) {
        val v =
          if (banded) gqz * ((if (a > 0) 1 else 0) + (if (b > 0) 1 else 0))
          else {
            val x = limap(a)
            val y = limap(b)
            val hi = if (x > y) x else y
            val lo = if (x > y) y else x
            val idx = hi.toLong * (hi + 1) / 2 + lo // 0-based
            if (idx < pn && !pl.isNullAt(idx.toInt)) pl.getInt(idx.toInt)
            else MissingPl
          }
        if (v < best) { second = best; best = v; ga = a; gb = b }
        else if (v < second) second = v
        n += 1
        a += 1
      }
      b += 1
    }
    val gqNew = if (n >= 2) math.min(second - best, 99) else 99
    (gqNew.toLong << 40) | (gb.toLong << 20) | ga.toLong
  }

  /** `concat(array_sort(array_distinct(flatten(x))), array(sentinel))`:
    * sorted (binary UTF8 order, the default array_sort comparator on
    * UTF8_BINARY strings) distinct union of the nested string arrays,
    * sentinel appended. flatten's null contract is kept: a null NESTED
    * array nulls the whole result; a null ELEMENT survives distinct as
    * one null, sorted last (before the sentinel). */
  def mergedAlts(nested: ArrayData, sentinel: UTF8String): ArrayData = {
    val n = nested.numElements()
    var total = 0
    var i = 0
    while (i < n) {
      if (nested.isNullAt(i)) return null // flatten(…) is null-intolerant
      total += nested.getArray(i).numElements()
      i += 1
    }
    val buf = new Array[UTF8String](total)
    var k = 0
    var hasNull = false
    i = 0
    while (i < n) {
      val inner = nested.getArray(i)
      val in = inner.numElements()
      var j = 0
      while (j < in) {
        if (inner.isNullAt(j)) hasNull = true
        else { buf(k) = inner.getUTF8String(j); k += 1 }
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(buf.asInstanceOf[Array[AnyRef]], 0, k, null)
    // adjacent dedup over the sorted run == array_distinct-then-sort
    val out = new Array[Any](k + (if (hasNull) 1 else 0) + 1)
    var w = 0
    i = 0
    while (i < k) {
      if (w == 0 || !buf(i).equals(out(w - 1))) { out(w) = buf(i); w += 1 }
      i += 1
    }
    if (hasNull) { out(w) = null; w += 1 }
    out(w) = sentinel
    w += 1
    if (w == out.length) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], w))
  }

  private val Dot = UTF8String.fromString(".")
  private val Zero = UTF8String.fromString("0")
  private val SlashCh = UTF8String.fromString("/")
  private val PipeCh = UTF8String.fromString("|")

  /** The CombineGVCFs genotype-string remap, replicating this exact
    * expression over (gt, kind, alleles, alts):
    *
    *   CASE WHEN kind = 'block' THEN replace(gt, '|', '/') ELSE
    *     array_join(transform(split(replace(gt, '|', '/'), '/'), g ->
    *       CASE WHEN g = '.' OR try_cast(g AS INT) IS NULL
    *              OR try_cast(g AS INT) < 0 THEN '.'
    *            WHEN CAST(g AS INT) = 0 THEN '0'
    *            ELSE CAST(array_position(alts,
    *                   CASE WHEN CAST(g AS INT) < size(alleles)
    *                        THEN element_at(alleles, CAST(g AS INT) + 1)
    *                        ELSE sentinel END) AS STRING)
    *       END), '/')
    *   END
    *
    * Faithful corner cases: split keeps trailing empty tokens (cast to
    * NULL → '.'); string→int cast trims ASCII control/space characters
    * exactly as Spark's cast does (trimAll + UTF8String.toInt — pinned
    * by GvcfExprSpec's adversarial-token sweep against try_cast);
    * a NULL lookup token (null allele element, or a null `alts` array)
    * produces a NULL transform element which array_join SKIPS; a null
    * `alleles` array makes the size() guard non-true, falling through to
    * the sentinel — all unreachable for parser/generator cohorts but
    * kept bit-equal anyway. */
  def remapGt(gt: UTF8String, kind: UTF8String, alleles: ArrayData,
      alts: ArrayData, sentinel: UTF8String): UTF8String = {
    val norm = gt.replace(PipeCh, SlashCh)
    if (kind != null && Block.equals(kind)) return norm
    // split(norm, '/', -1): '/' has no regex meta, so Java split on the
    // literal is the same token list (trailing empties kept at limit -1)
    val parts = norm.toString.split("/", -1)
    val out = new java.lang.StringBuilder
    var first = true
    var i = 0
    while (i < parts.length) {
      val tok = UTF8String.fromString(parts(i))
      // try_cast(tok AS INT): try_cast is ANSI-semantics regardless of
      // the session flag — UTF8String.toIntExact (strict: whitespace
      // tolerated, sign + digits only, NO decimal truncation; the
      // lenient toInt would accept '1.5' — caught by GvcfExprSpec)
      var ok = true
      var value = 0
      try value = tok.toIntExact()
      catch { case _: NumberFormatException => ok = false }
      val piece: UTF8String =
        if (Dot.equals(tok) || !ok || value < 0) Dot
        else if (value == 0) Zero
        else {
          val v = value
          val lookup: UTF8String =
            if (alleles != null && v < alleles.numElements()) {
              if (alleles.isNullAt(v)) null else alleles.getUTF8String(v)
            } else sentinel
          if (lookup == null || alts == null) null // array_join skips it
          else {
            var p = 0
            var j = 0
            while (p == 0 && j < alts.numElements()) {
              if (!alts.isNullAt(j) && lookup.equals(alts.getUTF8String(j)))
                p = j + 1
              j += 1
            }
            UTF8String.fromString(String.valueOf(p))
          }
        }
      if (piece != null) {
        if (!first) out.append('/')
        out.append(piece.toString)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }

  /** Binary-order comparator over 2-field structs, replicating Spark's
    * interpreted struct ordering (field 0 first, nulls-first per field)
    * for the two shapes below: (long, string) and (string, string). */
  private def cmpNullsFirst[T](an: Boolean, bn: Boolean, cmp: => Int): Int =
    if (an && bn) 0 else if (an) -1 else if (bn) 1 else cmp

  /** `transform(sort_array(x), s -> s.c)` over array<struct<i: long,
    * c: string>> — the dense per-site calls assembly. sort_array's
    * default ascending struct order is (i, then c), null structs and
    * null fields first; the projection keeps c. Replaces a codegen'd
    * sort whose struct comparisons went through the boxed interpreted
    * ordering plus an interpreted transform — one primitive sort +
    * copy instead. */
  def sortedCallVals(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    var i = 0
    while (i < n) {
      rows(i) = if (arr.isNullAt(i)) null else arr.getStruct(i, 2)
      i += 1
    }
    java.util.Arrays.sort(rows,
      new java.util.Comparator[org.apache.spark.sql.catalyst.InternalRow] {
        override def compare(a: org.apache.spark.sql.catalyst.InternalRow,
            b: org.apache.spark.sql.catalyst.InternalRow): Int =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else {
            val c0 = cmpNullsFirst(a.isNullAt(0), b.isNullAt(0),
              java.lang.Long.compare(a.getLong(0), b.getLong(0)))
            if (c0 != 0) c0
            else cmpNullsFirst(a.isNullAt(1), b.isNullAt(1),
              a.getUTF8String(1).compareTo(b.getUTF8String(1)))
          }
      })
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (rows(i) == null || rows(i).isNullAt(1)) null
        else rows(i).getUTF8String(1)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The export cell merge, replicating
    *
    *   transform(sort_array(concat(
    *     transform(esd, x -> struct(x.k AS k, x.call AS v)),
    *     transform(array_except(samples, transform(esd, x -> x.k)),
    *       n -> struct(n AS k, missing AS v)))), x -> x.v)
    *
    * over esd: array<struct<k: string, g: int, call: string>> and
    * samples: array<string>. array_except keeps first occurrence and
    * DEDUPS the left side (samples are distinct already, but the seen
    * set keeps that exact); the struct sort orders by (k, then v),
    * nulls first. */
  def exportCells(esd: ArrayData, samples: ArrayData,
      missing: UTF8String): ArrayData = {
    val ne = esd.numElements()
    val ns = samples.numElements()
    val ks = new Array[UTF8String](ne + ns)
    val vs = new Array[UTF8String](ne + ns)
    val covered = new java.util.HashSet[UTF8String](ne * 2 + 4)
    var w = 0
    var i = 0
    while (i < ne) {
      if (esd.isNullAt(i)) {
        // a null struct sorts first and projects a null cell — keep it
        ks(w) = null; vs(w) = null; w += 1
      } else {
        val row = esd.getStruct(i, 3)
        val k = if (row.isNullAt(0)) null else row.getUTF8String(0)
        ks(w) = k
        vs(w) = if (row.isNullAt(2)) null else row.getUTF8String(2)
        if (k != null) covered.add(k)
        w += 1
      }
      i += 1
    }
    i = 0
    while (i < ns) {
      val s = if (samples.isNullAt(i)) null else samples.getUTF8String(i)
      if (s != null && covered.add(s)) { // also dedups samples, as except does
        ks(w) = s; vs(w) = missing; w += 1
      }
      i += 1
    }
    // sort (k, v) pairs by k then v, nulls first — index sort over the
    // pair arrays
    val idx = new Array[Integer](w)
    i = 0
    while (i < w) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val a = x.intValue(); val b = y.intValue()
        val kc = cmpNullsFirst(ks(a) == null, ks(b) == null, ks(a).compareTo(ks(b)))
        if (kc != 0) kc
        else cmpNullsFirst(vs(a) == null, vs(b) == null, vs(a).compareTo(vs(b)))
      }
    })
    val out = new Array[Any](w)
    i = 0
    while (i < w) { out(i) = vs(idx(i).intValue()); i += 1 }
    new GenericArrayData(out)
  }
}
