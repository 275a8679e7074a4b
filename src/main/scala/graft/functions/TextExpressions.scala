package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the text/shingle hot path (r22, continuation
  * batch): [[graft.ops.Dedup.shinglesOf]] was an interpreted
  * higher-order `transform` — one boxed lambda call, one `slice` array
  * allocation and one `array_join` per shingle per row — and, worse,
  * every call site had to pay a full corpus-wide `repartition(doc_id)`
  * exchange purely as a materialization barrier (Catalyst inlines a
  * non-attribute `split(...)` into the per-index lambda, re-tokenizing
  * once per element — the r2 O(words²) lesson). A kernel call evaluates
  * its arguments exactly ONCE per row, so the barrier exchanges
  * disappear along with the per-element boxing: the kernels below fuse
  * shingling + hashing (+ optional per-doc dedup) into one primitive
  * pass in [[TextKernels]], declared once as a [[Kernel]] and run by
  * [[KernelCall]] on both eval paths.
  *
  * Semantics are replicated EXACTLY from the chains they replace — see
  * each kernel's contract; TextExpressionsSpec pins parity against the
  * original expression chains on both codegen and interpreted paths,
  * and the untouched DuckDB oracles re-prove it end to end.
  */
object TextExpressions {

  private val K = TextKernels.getClass
  private val Tokens = Seq(ArrayType(StringType))

  // The shingle kernels are NOT null-propagating: a null token array
  // yields the single-null-shingle array exactly as `shinglesOf`'s
  // `otherwise(array(array_join(toks)))` branch does, so they are never
  // null. Element nulls exist only in md5 mode (md5(NULL) = NULL;
  // xxhash64(NULL) = seed).

  /** Distinct-free 48-bit md5 shingle hashes:
    * `transform(shinglesOf(toks), sh -> h48(sh))` — the MinHash /
    * exact-Jaccard leaf ([[graft.api.h48]]: first 12 hex chars of
    * md5(shingle) as a BIGINT). */
  val shingleH48 = Kernel("graft_shingle_h48", K,
    ArrayType(LongType, containsNull = true), Tokens, lenient = Set(0))

  /** As [[shingleH48]] with per-row first-occurrence dedup:
    * `array_distinct(transform(shinglesOf(toks), sh -> h48(sh)))`. */
  val shingleH48Distinct = Kernel("graft_shingle_h48_distinct", K,
    ArrayType(LongType, containsNull = true), Tokens, lenient = Set(0))

  /** As [[shingleH48Distinct]] but ASCENDING-SORTED (nulls last) — the
    * same distinct hash SET in a canonical order, for consumers that
    * only take order-free set measures (∩-size via
    * [[sortedIntersectCount]]'s merge walk). */
  val shingleH48DistinctSorted = Kernel("graft_shingle_h48_distinct_sorted", K,
    ArrayType(LongType, containsNull = true), Tokens, lenient = Set(0))

  /** `array_distinct(transform(shinglesOf(toks), sh -> xxhash64(sh)))`
    * — the candidate-edge posting leaf (engine-side hash, seed 42). */
  val shingleXxh64Distinct = Kernel("graft_shingle_xxh64_distinct", K,
    ArrayType(LongType, containsNull = false), Tokens, lenient = Set(0))

  /** ∩-size of two ascending-sorted distinct long arrays — see
    * [[TextKernels.sortedIntersectCount]]. Null if either side is null
    * (size(NULL) under ANSI). PRECONDITION: both sides come from
    * [[shingleH48DistinctSorted]] (sorted + distinct), which is why this
    * stays inside the project — pinned by KernelPropertySpec. */
  private[graft] val sortedIntersectCount = Kernel("graft_sorted_intersect_count", K,
    IntegerType, Seq(ArrayType(LongType), ArrayType(LongType)))

  /** Packed token stats over the single-space split of `text`:
    * `(n_stop << 32) | n_tokens` where `n_tokens = size(split(text,' '))`
    * and `n_stop` counts tokens equal to one of `stops` — both in ONE
    * byte pass with no array materialization. Extract with
    * `tokenStatsTokens` / `tokenStatsStops`. Null text → null (exactly
    * `size(split(NULL, ' '))` → NULL on both extracted counts). */
  val TokenStats = Kernel("graft_token_stats", K, LongType, Seq(StringType, ArrayType(StringType)))
  def tokenStats(text: Column, stops: Seq[String]): Column =
    TokenStats(text, typedLit(stops))

  /** n_tokens from a [[tokenStats]] packed long (low 32 bits). */
  def tokenStatsTokens(packed: Column): Column =
    packed.bitwiseAND(lit(0xFFFFFFFFL))

  /** n_stop from a [[tokenStats]] packed long (high 32 bits). */
  def tokenStatsStops(packed: Column): Column =
    org.apache.spark.sql.functions.shiftright(packed, 32)

  /** Whole-document MinHash signature in ONE per-row pass — shingle →
    * h48 → per-permutation `floorMod(v·aᵢ + bᵢ, p)` minima — exactly the
    * explode + per-doc min-per-permutation group aggregate it replaces
    * (same [[TextKernels]] shingle/h48 leaves, same fold arithmetic).
    * Valid because the aggregate's group key is the row's own doc_id:
    * per-doc group ≡ per-row. Null when no shingle contributed (the
    * aggregate's empty-group eval); callers must drop null-text rows
    * first (the old chain emitted them with a NULL signature, which
    * banding dropped). */
  val MinhashH48 = Kernel("graft_minhash_h48", K, ArrayType(LongType, containsNull = false),
    Seq(ArrayType(StringType), ArrayType(LongType), ArrayType(LongType), LongType),
    mayReturnNull = true)
  def minhashH48(toks: Column, a: Seq[Long], b: Seq[Long], p: Long): Column = {
    require(a.length == b.length, "permutation coefficient arrays must align")
    MinhashH48(toks, typedLit(a), typedLit(b), lit(p))
  }

  /** Whole-document 64-bit SimHash as a 16-hex-char string in ONE
    * per-row pass — token → md5 prefix → 64 majority lanes — exactly the
    * explode + md5/conv projection + per-doc bit-lane majority aggregate
    * it replaces (same digit order, same majority rule). Same
    * per-row-group premise as [[minhashH48]]; null when no token
    * contributed (the aggregate's empty-group eval). */
  val simhashHex = Kernel("graft_simhash_hex", K, StringType, Tokens, mayReturnNull = true)
}

/** The primitive loops behind [[TextExpressions]] — top-level object so
  * Scala emits static forwarders that generated (Janino) code can call
  * directly: `graft.functions.TextKernels.shingleH48(...)`. */
object TextKernels {

  private val Space = UTF8String.fromString(" ")

  // MessageDigest is stateful; one instance per task thread, reset per
  // shingle. (Spark's own Md5 goes through commons-codec, which calls
  // MessageDigest.getInstance per evaluation — this is the same digest
  // without the per-call instance lookup.)
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** [[graft.ops.Dedup.shinglesOf]] replicated: word-3-grams when
    * size >= 3, else the whole-text single shingle; null toks yields the
    * single null shingle (`array(array_join(NULL, ' ')) = [NULL]`);
    * null elements are skipped by the join exactly as `array_join` /
    * `concat_ws` skip them (split never produces them, but parity is
    * parity). */
  private def shingleStrings(toks: ArrayData): Array[UTF8String] = {
    if (toks == null) return Array[UTF8String](null)
    val n = toks.numElements()
    val elems = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) elems(i) = toks.getUTF8String(i)
      i += 1
    }
    if (n >= 3) {
      val out = new Array[UTF8String](n - 2)
      var j = 0
      while (j < n - 2) {
        out(j) = UTF8String.concatWs(Space, elems(j), elems(j + 1), elems(j + 2))
        j += 1
      }
      out
    } else Array(UTF8String.concatWs(Space, elems: _*))
  }

  /** h48 of one shingle: first 6 md5 bytes, big-endian, as a BIGINT —
    * exactly `conv(substring(md5(sh), 1, 12), 16, 10)` (the first 12 hex
    * chars ARE the first 6 digest bytes; the unsigned 48-bit value fits
    * a long). md5(NULL) is NULL. */
  private def h48(s: UTF8String): Any = {
    if (s == null) return null
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xFFL) << 40) | ((d(1) & 0xFFL) << 32) | ((d(2) & 0xFFL) << 24) |
      ((d(3) & 0xFFL) << 16) | ((d(4) & 0xFFL) << 8) | (d(5) & 0xFFL)
  }

  /** xxhash64 of one shingle with Spark's seed 42; `xxhash64(NULL)`
    * leaves the seed untouched, i.e. 42 — replicated for the null
    * whole-text shingle. */
  private def xxh64(s: UTF8String): Long =
    if (s == null) 42L
    else XxHash64Function.hash(s, StringType, 42L)

  private def hashAll(toks: ArrayData, md5Mode: Boolean,
      distinct: Boolean, sorted: Boolean): ArrayData = {
    val sh = shingleStrings(toks)
    if (!distinct) {
      val out = new Array[Any](sh.length)
      var i = 0
      while (i < sh.length) {
        out(i) = if (md5Mode) h48(sh(i)) else xxh64(sh(i))
        i += 1
      }
      new GenericArrayData(out)
    } else {
      // first-occurrence order, exactly array_distinct's
      val seen = new java.util.HashSet[Any](math.max(8, sh.length * 2))
      val out = new java.util.ArrayList[Any](sh.length)
      var i = 0
      while (i < sh.length) {
        val v = if (md5Mode) h48(sh(i)) else java.lang.Long.valueOf(xxh64(sh(i)))
        if (seen.add(v)) out.add(v)
        i += 1
      }
      if (sorted) {
        // canonical ascending order, nulls last (a null hash exists only
        // as the single [null] whole-text shingle of a null token array)
        val longs = new Array[Long](out.size())
        var n = 0
        var nulls = 0
        var j = 0
        while (j < out.size()) {
          val v = out.get(j)
          if (v == null) nulls += 1
          else { longs(n) = v.asInstanceOf[Long]; n += 1 }
          j += 1
        }
        java.util.Arrays.sort(longs, 0, n)
        val res = new Array[Any](n + nulls)
        var k = 0
        while (k < n) { res(k) = longs(k); k += 1 }
        new GenericArrayData(res) // trailing slots stay null
      } else new GenericArrayData(out.toArray)
    }
  }

  def shingleH48(toks: ArrayData): ArrayData =
    hashAll(toks, md5Mode = true, distinct = false, sorted = false)

  def shingleH48Distinct(toks: ArrayData): ArrayData =
    hashAll(toks, md5Mode = true, distinct = true, sorted = false)

  def shingleH48DistinctSorted(toks: ArrayData): ArrayData =
    hashAll(toks, md5Mode = true, distinct = true, sorted = true)

  def shingleXxh64Distinct(toks: ArrayData): ArrayData =
    hashAll(toks, md5Mode = false, distinct = true, sorted = false)

  /** Two-pointer ∩-size over ASCENDING-SORTED distinct long arrays
    * (nulls last) — `size(array_intersect(a, b))` for inputs that are
    * already distinct sets, without the per-evaluation hash sets and
    * result-array allocation ArrayIntersect pays. A null element (only
    * the [null] degenerate set) matches a null on the other side, as
    * array_intersect's null-aware equality does. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    var aNull = false
    var bNull = false
    while (i < na && a.isNullAt(na - 1 - i)) { aNull = true; i += 1 }
    while (j < nb && b.isNullAt(nb - 1 - j)) { bNull = true; j += 1 }
    val la = na - i // non-null prefix length
    val lb = nb - j
    i = 0; j = 0
    while (i < la && j < lb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (aNull && bNull) c + 1 else c
  }

  /** Packed `(n_stop << 32) | n_tokens` over the single-space split:
    * `split(text, ' ')` with Spark's default limit -1 keeps every empty
    * token (leading, embedded, trailing), so n_tokens = spaces + 1
    * always; a stop token is byte-equal to one of `stops` (UTF-8 string
    * equality IS byte equality). Both counts are bounded by the string's
    * byte length < 2^31, so the pack is lossless. */
  def tokenStats(text: UTF8String, stopList: ArrayData): Long = {
    val stops = new Array[Array[Byte]](stopList.numElements())
    var k = 0
    while (k < stops.length) {
      if (!stopList.isNullAt(k)) stops(k) = stopList.getUTF8String(k).getBytes
      k += 1
    }
    val b = text.getBytes
    var nTokens = 1L
    var nStop = 0L
    var start = 0
    var i = 0
    // a 0x20 byte never occurs inside a UTF-8 multi-byte sequence, so
    // byte scanning is codepoint-exact for the single-space delimiter
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        if (isStop(b, start, i - start, stops)) nStop += 1
        if (i < b.length) nTokens += 1
        start = i + 1
      }
      i += 1
    }
    (nStop << 32) | nTokens
  }

  /** Per-row MinHash over the row's shingles: for each permutation i,
    * min over shingles of `floorMod(h48(sh)·a(i) + b(i), p)` — the
    * update arithmetic of the per-doc min-per-permutation aggregate it
    * replaced, verbatim. floorMod, not %: a negative input would
    * otherwise land lane values in (-p, 0) that dominate every minimum;
    * identical to % for the in-contract domain (48-bit non-negative
    * hashes, a < 2^14, so x·a < 2^62). Null shingles (null toks → the
    * single null whole-text shingle) contribute nothing, exactly as the
    * aggregate's null-skipping update; all-null input yields null,
    * exactly as the aggregate's empty-group eval. */
  def minhashH48(toks: ArrayData, coefA: ArrayData, coefB: ArrayData,
      p: Long): ArrayData = {
    val a = coefA.toLongArray()
    val b = coefB.toLongArray()
    val sh = shingleStrings(toks)
    val buf = Array.fill(a.length)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < sh.length) {
      val hv = h48(sh(i))
      if (hv != null) {
        any = true
        val x = hv.asInstanceOf[Long]
        var k = 0
        while (k < buf.length) {
          val h = java.lang.Math.floorMod(x * a(k) + b(k), p)
          if (h < buf(k)) buf(k) = h
          k += 1
        }
      }
      i += 1
    }
    if (!any) null else new GenericArrayData(buf)
  }

  /** Per-row SimHash hex signature over the row's tokens: per token,
    * x = first 8 md5 bytes big-endian (exactly the
    * `shiftleft(conv(substring(md5(t),1,8),16,10),32) |
    * conv(substring(md5(t),9,8),16,10)` projection), 64 count lanes,
    * digit j (1-based, most-significant first) assembled from lanes
    * (16−j)·4+b with the 2·cnt > n majority rule — the
    * bit-lane aggregate's update/eval loops verbatim. Null tokens are
    * skipped (md5(NULL) → null → the aggregate's null-skipping update);
    * zero contributing tokens yields null, as the empty-group eval. */
  def simhashHex(toks: ArrayData): UTF8String = {
    val nEl = toks.numElements()
    val counts = new Array[Long](64)
    var n = 0L
    val md = md5Local.get()
    var i = 0
    while (i < nEl) {
      if (!toks.isNullAt(i)) {
        md.reset()
        val d = md.digest(toks.getUTF8String(i).getBytes)
        val x = ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
          ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
          ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
          ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
        var k = 0
        while (k < 64) { counts(k) += (x >>> k) & 1L; k += 1 }
        n += 1L
      }
      i += 1
    }
    if (n == 0L) return null
    val out = new Array[Char](16)
    var j = 1
    while (j <= 16) {
      var dg = 0
      var bt = 0
      while (bt < 4) {
        if (2L * counts((16 - j) * 4 + bt) > n) dg |= 1 << bt
        bt += 1
      }
      out(j - 1) = "0123456789abcdef".charAt(dg)
      j += 1
    }
    UTF8String.fromString(new String(out))
  }

  private def isStop(b: Array[Byte], off: Int, len: Int,
      stops: Array[Array[Byte]]): Boolean = {
    var k = 0
    while (k < stops.length) {
      val s = stops(k)
      if (s != null && s.length == len) {
        var j = 0
        var eq = true
        while (eq && j < len) {
          if (s(j) != b(off + j)) eq = false
          j += 1
        }
        if (eq) return true
      }
      k += 1
    }
    false
  }
}
