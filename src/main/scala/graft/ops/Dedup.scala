package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

/** Near-duplicate detection over `documents` (north-star LLM-pipeline
  * operators, SURVEY §2C C6): MinHash+LSH, SimHash, and exact n-gram
  * Jaccard.
  *
  * Determinism: all hashing is `xxhash64` (fixed Spark seed 42) composed
  * with fixed odd-multiplier affine permutations — no randomness anywhere,
  * so results are stable across runs/partitionings. MinHash/SimHash have
  * no cheap SQL oracle (engine hash functions differ); they are covered
  * by unit tests with planted near-duplicates (split-invariance style,
  * SURVEY §5.2). n-gram Jaccard is pure set arithmetic and oracle-backed.
  *
  * Scale notes (100 TB): signatures are one scan + one groupBy(doc);
  * LSH banding turns the quadratic pair search into a bucket groupBy on
  * (band, bandhash) with per-member pair expansion ([[bucketPairs]]) —
  * candidate volume is controlled by (bands, rows), the signature
  * pipeline runs ONCE (a bands self-join would re-run it per side:
  * AQE broadcasts one side, so no exchange is shared), and per-row
  * state is O(bucket width), never O(width²). The exact-Jaccard op
  * scores ONLY LSH-banding survivors ([[bucketPairs]] candidates), so
  * its cost is bounded by candidate volume, not any block's size².
  */
object Dedup {

  /** Candidate pairs from LSH buckets WITHOUT a self-join: group by the
    * bucket key, collect the members once, then explode each member
    * against the bucket remainder (`b.doc_id > a.doc_id` ≙ the join's
    * `x.doc_id < y.doc_id`; `distinct` dedups pairs matching in several
    * buckets). Two bounds matter at 100 TB:
    *   - the signature pipeline runs ONCE (the r8 rework — a self-join
    *     re-ran it per side because AQE broadcast one side);
    *   - per-ROW memory is O(bucket width) — the collected member list
    *     and one member's pair fan-out — NOT the O(width²) a whole-
    *     bucket flatten would materialize in a single unsafe row.
    * The residual bound is the collect_list itself: bucket width ≈ the
    * largest near-duplicate cluster. That is the standard contract —
    * run exact dedup (q_dedup_exact) BEFORE near-dedup so mass-
    * duplicated boilerplate collapses first — but the contract is now
    * ENFORCED, not assumed: a bucket wider than [[MaxBucketWidth]] is
    * truncated to its [[MaxBucketWidth]] lowest doc_ids (sort_array
    * makes the kept set a pure function of content), so one degenerate
    * band key (all-empty documents, a template page repeated millions
    * of times) caps at MaxBucketWidth²/2 pairs instead of going
    * quadratic in the bucket. The SAME cap is mirrored in every
    * bucketPairs-backed oracle (QUALIFY row_number ≤ MaxBucketWidth per
    * bucket), so engine and oracle stay value-identical even if a
    * corpus ever produces a bucket wider than the cap. Width is
    * organic-cluster-scale at every tested sf (DedupSpec plants a hot
    * bucket to pin the bound); truncation trades recall ONLY inside a
    * pathological bucket, where the survivors are near-identical
    * boilerplate anyway. */
  val MaxBucketWidth = 4096

  /** SCORED pair stream: a pair appears once PER SHARED BUCKET (a doc
    * pair colliding in k bands/chunks yields k rows), already projected
    * to `(doc_a, doc_b[, m])` where `m` is the mode's pair metric
    * (match32 = equal-position count for MinHash est-Jaccard; hamming =
    * 128-bit xor popcount; ids = no metric — see
    * [[graft.functions.PairExpressions]]). r22b batch 3: the expansion
    * used to be `transform(filter(ds, b -> b.doc_id > a.doc_id), …)` —
    * two interpreted lambdas per bucket member — emitting pair structs
    * that CARRIED both signatures (~300 B/pair for 32-perm MinHash) to a
    * later metric projection; the native kernel computes the metric
    * inside the expansion loop, so pair rows are 24 B and the signature
    * payloads never materialize per pair (pair volume, not doc count,
    * is the term that grows at 100 TB). Pair domain and metric null
    * semantics are the lambda chain's verbatim (PairExpressionsSpec).
    * Consumers still dedup AFTER this projection (a metric is a pure
    * function of the pair, so distinct-on-(ids, m) ≡ distinct-on-ids),
    * and top-k consumers skip the pair exchange entirely via
    * TakeOrdered(k·maxBuckets) + dedup (see q_dedup_near; the r15c
    * duplication-decade audit: 556→128, 386→15, 581→94 MB). */
  private[graft] def bucketPairs(bucketed: DataFrame, keys: Seq[String],
      mode: String, maxWidth: Int = MaxBucketWidth): DataFrame = {
    val expanded = bucketed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds0"))
      .filter(size(col("ds0")) > 1)
      .select(slice(col("ds0"), 1, maxWidth).as("ds"))
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(explode(graft.functions.PairExpressions.bucketPairs(
        col("ds"), col("a"), mode)).as("p"))
    if (mode == "ids")
      expanded.select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    else
      expanded.select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.m").as("m"))
  }

  val NumPerms = 32 // MinHash signature length
  val BandRows = 2  // rows per LSH band → 16 bands

  /** The LSH band keys of a MinHash signature, shared by both banding
    * consumers (q_dedup_near and q_dedup_ngram) so the bucketing rule
    * cannot drift between them: per band, its [[BandRows]] signature
    * rows packed into one long, `(row₀ << 31) | row₁`. Every MinHash
    * value is a residue mod [[MinhashP]] = 2³¹−1, so it fits in 31 bits
    * and the packing is injective: two documents share a band key iff
    * they agree on every row of the band, the same buckets as the
    * oracles' ':'-joined string key. A plain array of column
    * expressions, no lambda, so the banding `posexplode` runs inside
    * the signature's whole-stage-codegen stage. */
  private def bandKeys(sig: Column): Column = {
    require(BandRows * 31 <= 63, s"$BandRows rows of 31 bits do not pack into one long")
    array((0 until NumPerms / BandRows).map(b =>
      (0 until BandRows).map(r => sig.getItem(b * BandRows + r))
        .reduce((key, row) => shiftleft(key, 31).bitwiseOR(row))): _*)
  }

  /** THE oracle-side signature pipeline, shared verbatim by the
    * q_dedup_near and q_dedup_ngram oracles: corpus → word-3-gram
    * shingles → 48-bit md5 hash values (`vals.v`, the same leaf the
    * engine's [[minhashSignatures]] uses) → MinHash permutation minima →
    * per-doc signature list. One definition, so the shingle rule, the
    * hex polynomial, and the permutation constants (12289/9973/2³¹−1,
    * mirroring [[minhashA]]/[[minhashB]]/[[MinhashP]]) cannot drift
    * between the two dedup oracles. */
  private def duckSigCtes: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, substring(md5(unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |    ELSE [array_to_string(t, ' ')] END)), 1, 12) AS hx
      |  FROM toks),
      |vals AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 13), j ->
      |    CAST(strpos('0123456789abcdef', substring(hx, j, 1)) - 1 AS BIGINT)
      |      << (4 * (12 - j)))) AS BIGINT) AS v
      |  FROM sh),
      |perm AS (
      |  SELECT doc_id, i, min((v * (12289 + 2 * i) + (9973 * i + 7)) % 2147483647) AS m
      |  FROM vals, range($NumPerms) r(i) GROUP BY doc_id, i),
      |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM perm GROUP BY doc_id)""".stripMargin

  /** Word 3-gram shingles from a token-array column. IMPORTANT: pass a
    * MATERIALIZED attribute (a column that crossed an exchange), not an
    * inline `split(...)` expression — Catalyst inlines expressions into
    * the per-index lambda, re-tokenizing once per element (O(words²) per
    * row; measured 20× slowdown in the r2 bench). */
  def shinglesOf(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => array_join(slice(toks, i, lit(3)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** MinHash permutation constants: perm i maps the 48-bit shingle value
    * v to (Ai·v + Bi) mod P. Ai ≤ 15 bits keeps Ai·v < 2⁶³ (no BIGINT
    * overflow in either engine); P = 2³¹−1 (Mersenne prime). Fixed
    * arbitrary odd multipliers — pairwise-distinct affine maps are all
    * MinHash needs. */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = 12289L + 2L * i
  def minhashB(i: Int): Long = 9973L * i + 7L

  /** doc_id → MinHash signature (array of NumPerms longs), ONE per-row
    * pass inside the scan stage (no explode, no aggregate, no exchange
    * — r22b batch 2, see the kernel note below). The base hash is the
    * first 12 hex digits of md5(shingle) read as a 48-bit integer —
    * byte-identical in Spark (`conv(hex,16,10)`) and DuckDB (digit
    * polynomial) — and the "permutations" are the portable affine maps
    * above, so the whole LSH pipeline is oracle-checkable while paying
    * only ONE md5 per shingle (an earlier draft salted md5 per
    * permutation: 32× the hashing, 3× the query time). A 48-bit base
    * aliases two of ~16M distinct shingles with probability ~1e-4 —
    * far below MinHash's own estimation variance, and identically in
    * both engines. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    // ONE per-row native kernel (graft_minhash_h48, r22b batch 2):
    // shingle → h48 → per-permutation minima fused into a single pass.
    // The pre-r22b shape was explode(shingles) + a per-doc group
    // aggregate (graft_minhash_sig) — but the group key IS the row's
    // own doc_id (unique by fixture contract, and every downstream
    // consumer assumes it), so per-doc group ≡ per-row and the whole
    // explode + partial/final aggregate + buffer exchange disappears:
    // the signature is computed inside the scan stage. Values are the
    // aggregate's update arithmetic verbatim (TextExpressionsSpec pins
    // signature parity). Null text: the old chain exploded
    // shinglesOf(NULL) = [NULL] to one NULL-h48 row, so it emitted the
    // doc with a NULL signature, which banding then dropped; the
    // isNotNull filter drops the row here instead — the same pairs
    // end to end, one row fewer in this function's output.
    // (duplicate shingles cannot change a min, so no distinct needed)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExpressions.minhashH48(split(col("text"), " "),
          (0 until NumPerms).map(minhashA), (0 until NumPerms).map(minhashB),
          MinhashP).as("sig"))

  // Both shingle-hash consumers are per-row kernels, with no per-shingle
  // rows and no repartition barrier: minhashSignatures above and
  // dedupNgramOf's survivor shingle sets (graft_shingle_h48_distinct_sorted).

  /** C6 — MinHash + LSH banding near-dup candidates: band the signature,
    * equi-join on (band, concatenated band rows), estimate Jaccard as
    * the matching-signature fraction. Top-20 candidate pairs. The md5
    * permutations make the whole pipeline — signatures, banding,
    * candidate set, estimates — reproducible in ANSI SQL, so this is
    * hash-compared against DuckDB like every relational query (it was
    * property-test-only while the permutations were engine-specific
    * xxhash64). */
  val dedupNear = Query(
    "q_dedup_near",
    s"""WITH $duckSigCtes,
      |bands AS (
      |  SELECT doc_id, sig, b,
      |    array_to_string(list_transform(range(1, $BandRows + 1),
      |      r -> CAST(sig[$BandRows*b+r] AS VARCHAR)), ':') AS bh
      |  FROM sig, range(${NumPerms / BandRows}) rb(b)
      |  QUALIFY row_number() OVER (PARTITION BY b, bh ORDER BY doc_id) <= $MaxBucketWidth),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sa, y.sig AS sb
      |  FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |  round(CAST(len(list_filter(range(1, ${NumPerms + 1}), i -> sa[i] = sb[i])) AS DOUBLE) / $NumPerms, 6) AS est_jaccard
      |FROM cand
      |ORDER BY est_jaccard DESC, doc_a, doc_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    val sigs = minhashSignatures(tbl(s, d, "documents"))
    val nBands = NumPerms / BandRows
    // band key derives from ALL BandRows signature rows (not a hardcoded
    // first-two), so changing BandRows cannot silently weaken the banding.
    // The signature rides the banding exchange once per band (the bucket
    // task needs both members' values for est_jaccard), so it travels as
    // array<int> — every MinHash minimum is < 2³¹−1 by construction
    // (mod MinhashP), the cast is lossless, int equality ≡ long
    // equality, and the exchange halves.
    val bands = sigs.select(col("doc_id"),
      col("sig").cast("array<int>").as("sig"),
      posexplode(bandKeys(col("sig"))).as(Seq("band", "bh")))
    // signatures computed ONCE, pairs expanded per bucket, per-row state
    // O(bucket width) — see bucketPairs for the full scale contract.
    // match count computed INSIDE the pair-expansion kernel (r22b
    // batch 3, mode match32 — the zip_with/filter match rule verbatim), so
    // pair rows never carry the signatures
    topDistinctPairs(bucketPairs(bands, Seq("band", "bh"), "match32")
      .select(col("doc_a"), col("doc_b"),
        round(col("m").cast(DoubleType) / NumPerms, 6).as("est_jaccard")),
      "est_jaccard", nBands)
  }

  /** The top 20 DISTINCT pairs of a scored [[bucketPairs]] stream
    * `(doc_a, doc_b, <double metric>)`, ranked by `metric` descending
    * (nulls first), then doc_a, doc_b, with no global pair-dedup
    * exchange: a pair appears at most once per band (≤ `copies` rows),
    * and duplicates are EQUAL under that total order (the metric is a
    * function of the pair) — so the 20th DISTINCT pair's first
    * occurrence lies within the first 20·copies rows (≤ 19·copies rows
    * of better-or-equal distinct pairs + its own ≤ copies−1 earlier
    * copies precede it). TakeOrdered(20·copies) — per-partition heaps,
    * K rows to the driver, zero shuffle — then dedup the K rows and cut
    * to 20. Bit-identical to distinct-then-top-20 (the r15c audit's
    * pair-dedup exchange was 190+ MB on the duplication corpus; now 0).
    * One row type and one order for q_dedup_near and q_dedup_simhash,
    * so their dedup stage is one generated class, and so is the
    * comparator they share with q_dedup_ngram's ranking
    * (q_dedup_near's est_jaccard is never null: every non-null text has
    * a signature). */
  private def topDistinctPairs(pairs: DataFrame, metric: String, copies: Int): DataFrame = {
    val order = Seq(desc_nulls_first(metric), col("doc_a"), col("doc_b"))
    pairs.orderBy(order: _*).limit(20 * copies).distinct().orderBy(order: _*).limit(20)
  }

  /** SimHash: a 64-bit signature where bit k is the sign of the sum of
    * (±1) contributions of token-hash bit k. Near-dups = small Hamming
    * distance; candidate pairs share at least one of four 16-bit chunks
    * (chunk blocking ≙ LSH banding for Hamming space). Returned as a
    * 16-char hex STRING built from md5 token hashes so DuckDB can replay
    * it bit-for-bit: token → first 16 md5 hex digits; per bit, count the
    * tokens that set it; signature digit j = the 4 majority bits
    * reassembled (bit r set iff 2·count_r > n_tokens). The kernel counts
    * in 64-bit lanes, so no document length wraps a count and no token
    * is clamped (DedupSpec checks a 70,000-token document against a JVM
    * reference). */
  def simhashHexSignatures(docs: DataFrame): DataFrame =
    // ONE per-row native kernel (graft_simhash_hex, r22b batch 2): token
    // → md5 prefix → 64 majority lanes → hex digits, fused into a single
    // pass inside the scan stage. The r14 shape (explode per token, the
    // md5/conv projection, then the graft_simhash_sig 65-long-buffer
    // group aggregate) was already one corpus pass, but materialized a
    // per-TOKEN row stream through Generate + aggregate hash probes and
    // shipped per-doc buffers across a groupBy(doc_id) exchange — and
    // the group key is the row's own doc_id (unique by fixture
    // contract), so per-doc group ≡ per-row and all three nodes
    // disappear. Same majority rule, same digit order, bit-identical
    // signatures (TextExpressionsSpec pins kernel-vs-aggregate parity;
    // DedupSpec's planted dups and the q_dedup_simhash oracle
    // hash-match unchanged). The isNotNull filter replicates the old
    // explode's null-text drop.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExpressions.simhashHex(split(col("text"), " ")).as("sig"))

  /** SimHash near-dup candidates: 16-bit-chunk-blocked pairs (4-hex-char
    * substring equality ≙ Hamming LSH banding) ranked by Hamming
    * distance, computed digit-wise from the hex signatures. Fully
    * oracle-backed now that the signature is md5-derived (it was
    * property-test-only while it used engine-specific xxhash64). */
  val dedupSimhash = Query(
    "q_dedup_simhash",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tok AS (
      |  SELECT doc_id, len(t) AS n, substring(md5(unnest(t)), 1, 16) AS hx
      |  FROM toks),
      |dig AS (
      |  SELECT doc_id, n, j, strpos('0123456789abcdef', substring(hx, j, 1)) - 1 AS dv
      |  FROM tok, range(1, 17) r(j)),
      |perdigit AS (
      |  SELECT doc_id, j,
      |    CASE WHEN 2 * sum(dv & 1) > any_value(n) THEN 1 ELSE 0 END
      |    + CASE WHEN 2 * sum((dv >> 1) & 1) > any_value(n) THEN 2 ELSE 0 END
      |    + CASE WHEN 2 * sum((dv >> 2) & 1) > any_value(n) THEN 4 ELSE 0 END
      |    + CASE WHEN 2 * sum((dv >> 3) & 1) > any_value(n) THEN 8 ELSE 0 END AS digit
      |  FROM dig GROUP BY doc_id, j),
      |sig AS (
      |  SELECT doc_id,
      |    string_agg(substring('0123456789abcdef', digit + 1, 1), '' ORDER BY j) AS sig
      |  FROM perdigit GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, sig, c, substring(sig, 4 * c + 1, 4) AS chunk
      |  FROM sig, range(4) rc(c)
      |  QUALIFY row_number() OVER (PARTITION BY c, chunk ORDER BY doc_id) <= $MaxBucketWidth),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sa, y.sig AS sb
      |  FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
      |                            AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(list_sum(list_transform(range(1, 17), j ->
      |    bit_count(xor(strpos('0123456789abcdef', substring(sa, j, 1)) - 1,
      |                  strpos('0123456789abcdef', substring(sb, j, 1)) - 1)))) AS BIGINT)
      |    AS hamming
      |FROM cand
      |ORDER BY hamming, doc_a, doc_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    val sigs = simhashHexSignatures(tbl(s, d, "documents"))
    // Pack the 16-hex-char signature into two 32-bit halves ONCE per doc
    // (5k conv calls) so the per-PAIR Hamming is two xor+bit_count's of
    // codegen'd integer math. The previous digit-wise form ran a 16-step
    // higher-order lambda of locate/substring per candidate pair — at
    // 191k LSH collision pairs on this corpus that was the query's
    // dominant cost, and pair volume (not doc count) is what grows at
    // 100 TB. Identical value: popcount(xor) decomposes over hex digits.
    val chunks = sigs.select(col("doc_id"),
      struct(
        expr("CAST(conv(substring(sig, 1, 8), 16, 10) AS BIGINT)").as("hi"),
        expr("CAST(conv(substring(sig, 9, 8), 16, 10) AS BIGINT)").as("lo"))
        .as("sig"),
      posexplode(array((0 until 4).map(c =>
        conv(substring(col("sig"), 4 * c + 1, 4), 16, 10).cast(LongType)): _*))
        .as(Seq("c", "chunk")))
    // Zero-shuffle pair ranking (topDistinctPairs): a pair collides in
    // at most 4 chunks. Hamming (bit_count(hi⊕hi) + bit_count(lo⊕lo))
    // computed INSIDE the pair-expansion kernel (r22b batch 3, mode
    // hamming). Ranked descending on the negated distance as an exact
    // double (nulls first, as the ascending distance ranks them) and
    // turned back into a BIGINT distance after the cut.
    topDistinctPairs(bucketPairs(chunks, Seq("c", "chunk"), "hamming")
      .select(col("doc_a"), col("doc_b"), (-col("m")).cast(DoubleType).as("neg_hamming")),
      "neg_hamming", 4)
      .select(col("doc_a"), col("doc_b"), (-col("neg_hamming")).cast(LongType).as("hamming"))
  }

  /** Exact word-3-gram Jaccard similarity scored on LSH-survivor pairs —
    * the verification-grade near-dup measure, with the pair DOMAIN taken
    * from MinHash banding ([[bucketPairs]]) rather than coarse
    * (lang, source) blocks. The earlier blocked form was O(block²): at
    * 100 TB an `en`/`web` block is most of the corpus and the join is
    * quadratic death (r8 verdict); LSH candidates bound the scored set
    * by bucket-collision volume instead. The intersect runs over 48-bit
    * shingle HASHES (the same portable md5-derived `h48` leaf the
    * signature uses), not 3-gram strings — integer set ops, and one
    * corpus scan feeds signature + shingle set via a single aggregate.
    * Exactness: Jaccard over the hash sets equals Jaccard over the
    * shingle strings up to 48-bit collisions (~1e-4 over ~16M shingles,
    * identically in both engines — see [[minhashSignatures]]). */
  val dedupNgram = Query(
    "q_dedup_ngram",
    s"""WITH $duckSigCtes,
      |shset AS (SELECT doc_id, list_distinct(list(v)) AS s FROM vals GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, b,
      |    array_to_string(list_transform(range(1, $BandRows + 1),
      |      r -> CAST(sig[$BandRows*b+r] AS VARCHAR)), ':') AS bh
      |  FROM sig, range(${NumPerms / BandRows}) rb(b)
      |  QUALIFY row_number() OVER (PARTITION BY b, bh ORDER BY doc_id) <= $MaxBucketWidth),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
      |FROM cand JOIN shset a ON cand.doc_a = a.doc_id
      |          JOIN shset b ON cand.doc_b = b.doc_id
      |WHERE len(list_intersect(a.s, b.s)) > 0
      |ORDER BY jaccard DESC, doc_a, doc_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    dedupNgramOf(tbl(s, d, "documents"))
  }

  /** q_dedup_ngram's distinct LSH candidate pairs `(doc_a, doc_b)`,
    * banded exactly as q_dedup_near ([[bandKeys]]). */
  private[graft] def ngramCandidates(docs: DataFrame): DataFrame = {
    // This consumer needs only the PAIR IDS, so the signature does not
    // ride the banding exchange at all — bucketPairs' struct gets a
    // zero-byte-class placeholder sig (sort_array still orders by
    // doc_id first, so the cap keeps the same lowest ids).
    val bands = minhashSignatures(docs).select(col("doc_id"), lit(0).as("sig"),
      posexplode(bandKeys(col("sig"))).as(Seq("band", "bh")))
    // id-only projection BEFORE the distinct: this consumer never reads
    // the signatures, so the pair-dedup exchange ships 16 B/pair
    // (bucketPairs). The distinct is REQUIRED here — multi-band
    // collisions would otherwise score (and emit) a pair repeatedly.
    bucketPairs(bands, Seq("band", "bh"), "ids").distinct()
  }

  /** The q_dedup_ngram pipeline. The two reused K-row-class frames
    * (candidate pairs, survivor shingle sets) take a LAZY local
    * checkpoint barrier: like the lazy `persist(MEMORY_AND_DISK)` it
    * replaces, its blocks are written inside the consuming job (r22
    * decade A/B, OPTIMIZATION_r22.md: an EAGER localCheckpoint, which
    * runs the subtree as an extra build-time job, measured 5.66/4.53/
    * 4.32 s against persist's 3.70/3.89/3.53 s at the sf1-equivalent
    * decade). Unlike a persist, its plan is not served to later queries
    * that contain it, and its scan compiles no in-memory columnar
    * iterator and batch predicate (two generated classes per frame).
    * At the sf1-equivalent decade the steady q_dedup_ngram runs took a
    * median 4.95 s with the checkpoint and 5.10 s with persist (10 and
    * 12 runs, 4 cores), with identical results and shuffle bytes.
    *
    * Two-job LSH verify (the standard shape): job 1 = signature
    * pipeline → banding → collision pairs; job 2 = re-shingle ONLY
    * candidate docs (broadcast semi-join pushes the doc_id filter below
    * the shingle explode) and score exactly. The candidate set is
    * collision-bounded — tiny next to the corpus — so it takes the
    * barrier (documented lineage break, K-row class) and the expensive
    * signature pipeline runs exactly ONCE; the verification scan does
    * near-zero CPU outside the surviving docs. (A single-plan variant
    * sharing one aggregate was tried: per-branch column pruning makes
    * the three consumers' subtrees non-identical, so ReusedExchange
    * never fires and the corpus is scanned 3×.) */
  private def dedupNgramOf(docs: DataFrame): DataFrame = {
    def barrier(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
    val cands = barrier(ngramCandidates(docs))
    val candIds = cands.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // barrier: used twice (probe side + broadcast side), and the
    // output is K-row class (one row per SURVIVOR doc, bounded by
    // 2x candidate pairs). Without it each side re-runs the filtered
    // scan + shingle pass.
    // r22b: the per-doc distinct shingle set comes from ONE per-row
    // kernel (graft_shingle_h48_distinct) instead of explode +
    // groupBy(doc_id) collect_set — per-doc group ≡ per-row (doc_id
    // unique), downstream only takes array_intersect/size, so the
    // set-order difference (first-occurrence vs collect_set's
    // accumulation order) is invisible. The isNotNull filter replicates
    // the old explode's null-text drop.
    // sets are SORTED (canonical order — same distinct set, and ∩-size
    // is order-free) so the per-pair scorer below is an allocation-free
    // merge walk instead of array_intersect's per-evaluation hash sets
    // + result array (pair volume is the term that grows; r22b batch 3)
    val sets = barrier(docs.join(broadcast(candIds), Seq("doc_id"), "leftsemi")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExpressions.shingleH48DistinctSorted(
          split(col("text"), " ")).as("shset")))
    val setsA = sets.select(col("doc_id").as("doc_a"), col("shset").as("sa"))
    val setsB = sets.select(col("doc_id").as("doc_b"), col("shset").as("sb"))
    // = size(array_intersect(sa, sb)) on distinct inputs (parity pinned
    // in TextExpressionsSpec)
    val inter = graft.functions.TextExpressions.sortedIntersectCount(col("sa"), col("sb"))
    cands.join(setsA, "doc_a").join(setsB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        inter.as("ni"), size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .filter(col("ni") > 0)
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast(DoubleType) / (col("na") + col("nb") - col("ni")), 6).as("jaccard"))
      // nulls first: jaccard is never null (ni > 0), and this is
      // topDistinctPairs' order, so the comparator is one generated class
      .orderBy(desc_nulls_first("jaccard"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Edit-distance near-dup on short strings: part-name pairs ranked by
    * Levenshtein distance (identical definition in both engines — exact
    * integer oracle). Blocking key is (brand, 4-char name prefix) —
    * classic prefix blocking; candidates whose first edit falls inside
    * the prefix are sacrificed, which bounds the quadratic term hard
    * (the same recall-for-scale trade every blocking scheme makes). */
  val dedupEditDistance = Query(
    "q_dedup_editdist",
    """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      | AND substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4)
      | AND a.p_partkey < b.p_partkey
      |ORDER BY edit_dist, part_a, part_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    // Reduce-then-expand: the name domain is tiny (64 distinct names vs
    // 20k rows at sf0.1), so Levenshtein runs once per distinct ordered
    // name pair within a block (~10^3 evaluations) instead of once per
    // id pair (~10^6). The id-pair expansion afterwards is pure
    // broadcast-join fan-out feeding TakeOrdered — no distance math on
    // the hot path. Same output as the naive pair join, same oracle.
    val p = tbl(s, d, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        substring(col("p_name"), 1, 4).as("pfx"))
    val names = p.select(col("p_brand"), col("pfx"), col("p_name")).distinct()
    val npairs = names.select(col("p_brand"), col("pfx"), col("p_name").as("name_a"))
      .join(names.select(col("p_brand"), col("pfx"), col("p_name").as("name_b")),
        Seq("p_brand", "pfx"))
      .select(col("p_brand"), col("pfx"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast(LongType).as("edit_dist"))
    val idsA = p.select(col("p_brand"), col("pfx"), col("p_name").as("name_a"),
      col("p_partkey").as("part_a"))
    val idsB = p.select(col("p_brand"), col("pfx"), col("p_name").as("name_b"),
      col("p_partkey").as("part_b"))
    idsA.join(broadcast(npairs), Seq("p_brand", "pfx", "name_a"))
      .join(idsB, Seq("p_brand", "pfx", "name_b"))
      .filter(col("part_a") < col("part_b"))
      .select(col("part_a"), col("part_b"), col("edit_dist"))
      .orderBy(col("edit_dist"), col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Minimum-label connected components (Pregel shape): every node ends
    * labelled `rep` = the minimum doc_id of its component. The labelling
    * is unique, so the result is independent of partitioning, plan and
    * iteration order.
    *
    * Seed: every node starts at min(self, direct neighbours). Then, per
    * round, one propagation step (each node takes the min label over
    * itself and its neighbours) and, unless that step lowered no label,
    * a double pointer jump (rep → rep² → rep⁴).
    *
    * Fixpoint test: the propagation step lowers no label iff no edge
    * joins two different labels, so it doubles as the test and costs one
    * emptiness check on its checkpointed output. A labelling that passes
    * is returned as it stands, with no confirming round, and it is the
    * one more rounds would give, not just an equivalent one: labels are
    * node ids of the same component and never increase, so once every
    * edge joins equal labels the label is constant on each component;
    * the component's minimum can only carry itself, so every node
    * carries the component minimum. A labelling already settled at the
    * seed pays no jump.
    *
    * Scale notes: a round is ONE outer equi-join + ONE partial+final min
    * aggregate + two tiny jump joins — no all-pairs anywhere; rounds grow
    * with log(component diameter) (near-dup clusters are shallow). The
    * driver-side loop is algorithm control flow, not per-row work. Every
    * round ends with the labels locally checkpointed, so lineage stays
    * constant-depth — at cluster scale you'd swap in a reliable
    * checkpoint dir.
    *
    * @param nodes single-column `doc_id`; @param edges `doc_a`/`doc_b`,
    *   whose endpoints are nodes.
    * @throws IllegalStateException if the labelling is still unsettled
    *   after 64 rounds (a logic regression). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    labelComponents(nodes, edges)._1

  /** [[connectedComponents]]'s labels plus the number of rounds that
    * jumped (0 when the seed is already settled). `maxRounds` is the
    * round guard: pointer jumping converges in O(log diameter) rounds, so
    * 64 covers any graph this universe can hold; reaching it means a
    * logic regression, reported by an exception instead of an infinite
    * driver loop or unsettled labels. */
  private[graft] def labelComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val e2 = symmetricEdges(edges).localCheckpoint()
    // One propagation step: each node takes the min label over itself and
    // its neighbours; `own` is its label before the step. Every labelling
    // the step reads is a checkpoint with the step's own output schema
    // (doc_id, rep, own; the step ignores `own`), so the seed and every
    // round plan the same step and share its generated classes. One
    // left outer join from the labels pairs each label with the edges
    // into its node, and one explode emits the node's own row and the
    // label it sends the edge's source: a single stage up to the
    // aggregate. The self row repeats once per edge and a node without
    // edges meets itself, which changes neither min nor `own`; and an
    // outer join may build (broadcast) only the edge side, whatever the
    // size estimates of the labelling. Checkpointed lazily: the consuming
    // job materializes it, and the jump self-joins below share one clean
    // leaf.
    def step(lab: DataFrame): DataFrame =
      lab.withColumnRenamed("doc_id", "dst").join(e2, Seq("dst"), "left")
        .select(explode(array(
          struct(col("dst").as("doc_id"), col("rep"), lit(true).as("self")),
          struct(coalesce(col("src"), col("dst")).as("doc_id"), col("rep"),
            lit(false).as("self")))).as("v"))
        .groupBy(col("v.doc_id").as("doc_id"))
        .agg(min("v.rep").as("rep"), max(when(col("v.self"), col("v.rep"))).as("own"))
        .localCheckpoint(eager = false)
    val unknown = lit(null).cast(LongType).as("own")
    // Seed = the first step from the identity labelling: every node
    // starts at min(self, direct neighbours). Not tested: the step after
    // it is the first fixpoint test.
    var lab = step(nodes.select(col("doc_id"), col("doc_id").as("rep"), unknown)
      .localCheckpoint(eager = false))
    var rounds = 0
    var settled = false
    while (!settled) {
      val propagated = step(lab)
      settled = settledLabels(propagated)
      if (!settled) {
        if (rounds == maxRounds) throw new IllegalStateException(
          s"connected components still unsettled after $rounds rounds")
        rounds += 1
        // Double pointer jump: rep -> rep² -> rep⁴, quartering label-chain
        // lengths per round (fewer driver rounds = fewer jobs; each jump
        // is one tiny equi-join). A rep's own label only ever points
        // lower, so jumps never overshoot the component minimum.
        val p = propagated.select("doc_id", "rep")
        val j1 = p
          .join(p.select(col("doc_id").as("rep"), col("rep").as("rep2")), "rep")
          .select(col("doc_id"), col("rep2").as("rep"))
          .localCheckpoint(eager = false)
        lab = j1
          .join(j1.select(col("doc_id").as("rep"), col("rep").as("rep2")), "rep")
          .select(col("doc_id"), col("rep2").as("rep"), unknown)
          .localCheckpoint()
      }
    }
    (lab.select("doc_id", "rep"), rounds)
  }

  /** Whether no row of the labelling `lab` (doc_id, rep, own) still has
    * `rep < own`. A checkpoint's rows are filtered as it holds them, at
    * the ordinals of `lab`'s schema, since a planned filter would
    * compile classes of its own; any other plan is tested as a query. */
  private def settledLabels(lab: DataFrame): Boolean = lab.queryExecution.logical match {
    case ckpt: org.apache.spark.sql.execution.LogicalRDD =>
      val rep = lab.schema.fieldIndex("rep")
      val own = lab.schema.fieldIndex("own")
      ckpt.rdd.filter(r => !r.isNullAt(rep) && !r.isNullAt(own) &&
        r.getLong(rep) < r.getLong(own)).isEmpty()
    case _ => lab.filter(col("rep") < col("own")).isEmpty
  }

  /** Every edge in both directions, as `(src, dst)`: one `explode` over
    * the two orientations, so `edges` is planned and run once (a union
    * of two selects planned its whole subtree twice, down to two
    * identical final aggregates). Same multiset as that union. */
  private[graft] def symmetricEdges(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Near-dup candidate edges: same (lang, source) block AND at least one
    * shared distinct word-3-gram — the q_dedup_ngram pair condition
    * relaxed to candidate level. Both consumers feed
    * [[connectedComponents]], which needs CONNECTIVITY, not pairs — so
    * each inverted-index posting group emits a SPANNING STAR (every
    * member → the group's min doc_id, df−1 edges) instead of the clique
    * (C(df,2) pairs): within a group both edge sets connect exactly the
    * same member set, so the transitive closure over the union of
    * groups — the components — is identical, while edge volume drops
    * from sum(df²) to sum(df). The difference is decisive exactly where
    * near-dedup earns its keep: on a duplication-dense corpus (SCALE.md
    * r15c duplication decade) df scales with the copy count and the
    * clique form's 16.6 s label build collapses to the linear star
    * form. Min-star edges also cut component diameter: the group min is
    * directly adjacent to every member, so label propagation converges
    * in fewer rounds. */
  private[graft] def candidateEdges(docs: DataFrame): DataFrame = {
    // group on the 8-byte xxhash64 of the shingle, not the shingle
    // string: narrower shuffle rows and cheaper key compares. A 64-bit
    // collision could only ADD a spurious candidate edge, with
    // probability ~(distinct shingles)²/2⁶⁵ — ≈1e-9 at sf0.1 and still
    // <1e-3 per billion shingles, far below any practical concern for
    // candidate generation (near-dup recall/precision tolerances dwarf
    // it).
    // r22: `graft_shingle_xxh64_distinct` fuses shingle + xxhash64 +
    // per-doc dedup into one kernel (identical values to the
    // array_distinct(transform(...)) chain — TextExpressionsSpec), so
    // the corpus-wide repartition(doc_id) barrier exchange is gone (the
    // kernel evaluates split once per row, where an inline lambda over
    // split re-tokenized per element; see shinglesOf). The
    // min-per-group star edges come from ONE window over the posting
    // exchange instead of groupBy + self-join: the join form shipped the
    // postings across (lang, source, h) TWICE (once into the mins
    // aggregate, once as the probe side) — the window computes the same
    // group min over a single exchange. Null keys: a null lang/source
    // posting never joined (equi-join semantics), so the window form
    // filters them explicitly; h is never null (xxhash64(NULL) = seed).
    import org.apache.spark.sql.expressions.Window
    val postings = docs
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(graft.functions.TextExpressions.shingleXxh64Distinct(
          split(col("text"), " "))).as("h"))
    postings
      .withColumn("m",
        min(col("doc_id")).over(Window.partitionBy(col("lang"), col("source"), col("h"))))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Write-once-per-(session, sf) materialized cluster labels — the
    * dedup INDEX a production pipeline maintains next to the corpus
    * (same pattern as Ivf.buildIndex): compute components once, park
    * them in parquet, and every consumer (cluster report, corpus
    * cleaning) reuses the materialization instead of re-running the
    * iterative join rounds.
    *
    * Two layers of reuse: a JVM-level memo (keyed by session × dataset,
    * so a stopped session's DataFrames are never handed to a new one)
    * guarantees the iterative build runs at most once per process even
    * if the filesystem cache is unavailable; the parquet materialization
    * underneath gives cross-process reuse and is what a cluster
    * deployment would keep in the lake next to the corpus. */
  // Keyed by session OBJECT (reference identity — can't collide the way
  // identityHashCode strings could, and an entry is only ever served to
  // the exact session that built it), with explicit eviction of stopped
  // sessions on every access. A WeakHashMap cannot provide the lifecycle
  // here: the cached DataFrame strongly references its session, which is
  // the map key — the value→key anti-pattern the WeakHashMap javadoc
  // warns about — so weak entries would never clear. The inner map
  // stores lazily-evaluated thunks: only the cheap closure insertion
  // happens under any map lock, and the multi-second component build
  // runs outside it (the lazy val's own monitor still guarantees
  // exactly-once per key).
  private val ccMemo =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]]()

  /** [[clusterLabels]]' parquet cache of the corpus at `d`, in
    * [[graft.api.scratchPath]], keyed by the path and the corpus content. */
  private[graft] def labelCacheDir(d: String): String =
    graft.api.scratchPath(s"cc_${graft.api.slug(d)}_" +
      graft.api.contentFingerprint(s"$d/documents.parquet"))

  def clusterLabels(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // scratch choke point BEFORE the memo: every caller depends on the
    // persistent label cache even when this session already paid the
    // build, so the write-path audit must see all of them
    graft.ScratchObserver.touch()
    // evict memo entries of stopped sessions — their DataFrames are
    // unusable, and holding them would leak across session cycles in a
    // long-lived JVM
    val it = ccMemo.keySet.iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    val perSession = ccMemo.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]())
    perSession.computeIfAbsent(d, _ => {
      lazy val built: DataFrame = {
        val dir = labelCacheDir(d)
        if (new java.io.File(dir, "_SUCCESS").exists()) s.read.parquet(dir)
        else {
          val docs = tbl(s, d, "documents")
          val lab = connectedComponents(docs.select("doc_id"), candidateEdges(docs))
          // atomic publish (buildOnce): a concurrent builder can never
          // serve a half-written label set
          scala.util.Try(graft.api.buildOnce(dir, marker = Some("_SUCCESS")) {
              tmp => lab.write.mode("overwrite").parquet(tmp) })
            .map(p => s.read.parquet(p))
            // if the scratch dir is unwritable, serve the checkpointed
            // in-memory result — correctness never depends on the cache
            .getOrElse(lab.localCheckpoint())
        }
      }
      () => built
    })()
  }

  /** The shared recursive-CTE prefix of the three cluster oracles
    * (q_dedup_cluster / q_corpus_clean / q_cluster_rep): the shingle
    * rule — INCLUDING [[shinglesOf]]'s <3-token whole-text branch,
    * which the three inline copies had dropped while [[duckSigCtes]]
    * kept it (r19 review: a 1–2-token duplicate pair clustered in the
    * engine but not in the oracle) — plus blocked candidate edges and
    * min-label connected components. One definition, so the rule
    * cannot drift between the engine and any of the three oracles. */
  private def duckClusterCtes: String =
    """s AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
      |      THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
      |        i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
      |      ELSE [array_to_string(string_split(text, ' '), ' ')] END) AS sh
      |  FROM documents),
      |e0 AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source
      |                   AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh)) >= 1),
      |edges AS (SELECT da AS a, db AS b FROM e0
      |          UNION ALL SELECT db, da FROM e0),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM s
      |  UNION
      |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
      |lab AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id)""".stripMargin

  /** Duplicate-cluster assignment — the step after candidate generation
    * in every production dedup pipeline: candidate pairs → connected
    * components → one canonical representative (min doc_id) per cluster.
    * Emits the non-singleton clusters with their sorted member list. */
  val dedupCluster = Query(
    "q_dedup_cluster",
    s"""WITH RECURSIVE $duckClusterCtes
      |SELECT rep, count(*) AS n_docs,
      |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS members
      |FROM lab GROUP BY rep HAVING count(*) > 1
      |ORDER BY rep""".stripMargin) { (s, d) =>
    clusterLabels(s, d).groupBy("rep")
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast(StringType)), ",").as("members"))
      .filter(col("n_docs") > 1)
      .orderBy("rep")
  }

  /** The end-to-end corpus-cleaning accounting every LLM data pipeline
    * runs before training: integer-exact filters (length, stopword
    * density), exact-dup detection on normalized text, and near-dup
    * cluster membership (non-representatives dropped), with one reason
    * per document by fixed priority. Emits per-(lang, reason) document
    * and token counts — the "what survived and why" report. All
    * predicates are integer/string-exact, so the oracle replays every
    * stage including the recursive component computation. */
  val corpusClean = Query(
    "q_corpus_clean",
    s"""WITH RECURSIVE base AS (
      |  SELECT doc_id, lang, source, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(string_split(text, ' '),
      |                         t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |    lower(trim(text)) AS norm
      |  FROM documents),
      |$duckClusterCtes,
      |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS mdoc FROM base),
      |r AS (
      |  SELECT b.lang, b.n_tokens,
      |    CASE WHEN b.n_tokens < 20 THEN 'too_short'
      |         WHEN 10 * b.n_stop > b.n_tokens THEN 'low_quality'
      |         WHEN ex.mdoc <> b.doc_id THEN 'exact_dup'
      |         WHEN lab.rep <> b.doc_id THEN 'near_dup'
      |         ELSE 'kept' END AS reason
      |  FROM base b JOIN ex ON ex.doc_id = b.doc_id
      |              JOIN lab ON lab.doc_id = b.doc_id)
      |SELECT lang, reason, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM r GROUP BY lang, reason
      |ORDER BY lang, reason""".stripMargin) { (s, d) =>
    cleanReasons(tbl(s, d, "documents"), clusterLabels(s, d))
      .groupBy("lang", "reason")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast(LongType).as("sum_tokens"))
      .orderBy("lang", "reason")
  }

  /** Per-document drop/keep verdict with one reason by fixed priority
    * (too_short > low_quality > exact_dup > near_dup > kept). Exposed
    * separately so planted-fixture tests can exercise every branch. */
  def cleanReasons(docs: DataFrame): DataFrame =
    cleanReasons(docs, connectedComponents(docs.select("doc_id"), candidateEdges(docs)))

  /** As above with precomputed cluster labels (doc_id, rep). */
  def cleanReasons(docs: DataFrame, lab: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact-dup grouping keys on md5(norm), NOT norm itself: the window
    // exchange would otherwise carry (and its sort compare) the full
    // lowercased document text — corpus-sized shuffle at 100 TB for a
    // grouping a 16-byte digest expresses identically (md5 collisions
    // are below any practical corpus size; the oracle partitions by the
    // raw norm and hash-matches). Column pruning then drops the text
    // from the exchange entirely.
    // r22: both counts from ONE native byte pass over the text
    // (`graft_token_stats` — no split array, no interpreted filter
    // lambda; values pinned against the size(split)/size(filter) chain
    // by TextExpressionsSpec). The two extractions share one packed-long
    // eval under codegen subexpression elimination.
    val ts = graft.functions.TextExpressions.tokenStats(col("text"), Seq("the", "a"))
    val base = docs.select(col("doc_id"), col("lang"),
      graft.functions.TextExpressions.tokenStatsTokens(ts).as("n_tokens"),
      graft.functions.TextExpressions.tokenStatsStops(ts).as("n_stop"),
      md5(lower(trim(col("text")))).as("normh"))
      .withColumn("mdoc", min(col("doc_id")).over(Window.partitionBy(col("normh"))))
    base.join(lab, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        when(col("n_tokens") < 20, "too_short")
          .when(col("n_stop") * 10 > col("n_tokens"), "low_quality")
          .when(col("mdoc") =!= col("doc_id"), "exact_dup")
          .when(col("rep") =!= col("doc_id"), "near_dup")
          .otherwise("kept").as("reason"))
  }

  /** Quality-aware canonicalization — the production refinement of
    * "keep min doc_id": within each duplicate cluster keep the LONGEST
    * member (ties → lowest doc_id), the heuristic real pipelines use
    * (the longer copy is usually the less-truncated one). One argmax
    * aggregate over the cluster labels joined to doc lengths.
    *
    * The argmax key (r20 rewrite): the pre-r20 scalar `n_chars·10⁹ −
    * doc_id` stopped encoding (longest, then lowest id) once doc_id ≥
    * 10⁹ — exactly the regime a 100 TB corpus lives in — and, worse,
    * engine and oracle shared the formula so the correctness gate could
    * never see the drift. Now the two sides encode the SAME total order
    * (n_chars DESC, doc_id ASC) through two INDEPENDENT mechanisms:
    * Spark uses `max_by` over a (n_chars, −doc_id) struct (lexicographic
    * struct ordering, collision-free for all BIGINTs), DuckDB uses
    * `arg_max` over the 128-bit HUGEINT `n_chars·2⁶³ − doc_id` (exact —
    * doc_id < 2⁶³ by type, so distinct (n_chars, doc_id) never collide).
    * A shared-formula bug can no longer hide: either side drifting
    * hash-mismatches the gate. */
  val clusterRep = Query(
    "q_cluster_rep",
    s"""WITH RECURSIVE $duckClusterCtes,
      |q AS (
      |  SELECT lab.rep, lab.doc_id, d.n_chars,
      |    d.n_chars::HUGEINT * 9223372036854775808::HUGEINT - lab.doc_id AS key
      |  FROM lab JOIN documents d USING (doc_id))
      |SELECT rep, CAST(count(*) AS BIGINT) AS n_docs,
      |  arg_max(doc_id, key) AS keep_doc,
      |  CAST(max(n_chars) AS BIGINT) AS keep_chars
      |FROM q GROUP BY rep HAVING count(*) > 1
      |ORDER BY rep""".stripMargin) { (s, d) =>
    val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
    clusterLabels(s, d)
      .join(docs, "doc_id")
      .groupBy("rep")
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("keep_doc"),
        max(col("n_chars")).as("keep_chars"))
      .filter(col("n_docs") > 1)
      .orderBy("rep")
  }

  val queries: Seq[Query] =
    Seq(dedupNear, dedupSimhash, dedupNgram, dedupEditDistance, dedupCluster,
      corpusClean, clusterRep)
}
