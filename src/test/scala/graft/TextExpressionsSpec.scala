package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.TextExpressions._
import graft.ops.Dedup

/** Parity pins for the r22 text/shingle kernels: each native expression
  * must reproduce the exact interpreted chain it replaced — element for
  * element, null for null — on BOTH codegen paths, across the edge cases
  * the chains define (null text, empty text, <3 tokens, empty tokens
  * from consecutive spaces, duplicate shingles, multi-byte UTF-8). */
class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // null text, empty, single/two/three tokens, whitespace runs, dups
  // (for the distinct variants), stop-word corners, multi-byte UTF-8
  private val texts: Seq[String] = Seq(
    null, "", " ", "  ", "a", "the", "thea", "a b", "the a",
    "a b c", "the a the", "a  b", "a b c d e", "x y z x y z x y z",
    "the the the the", "héllo wörld ünïcode tökens", "a b c a b c",
    "trailing space ", " leading space", "tab\tis one token",
    "ab cd ef gh ij kl mn op qr st uv wx yz")

  private def df = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private val toks = split(col("text"), " ")

  // the exact chains the kernels replaced
  private def h48Of(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast(LongType)
  private def chainH48: Column = transform(Dedup.shinglesOf(toks), s => h48Of(s))
  private def chainH48Distinct: Column = array_distinct(chainH48)
  private def chainXxh64Distinct: Column =
    array_distinct(transform(Dedup.shinglesOf(toks), s => xxhash64(s)))

  private def assertParity(kernel: String, native: Column, chain: Column): Unit =
    onBothEvalPaths(kernel) {
      // each side in its own query: a projection that also holds an
      // interpreted HOF chain is never fused into a codegen stage
      val bad = texts.zip(df.select(native).collect().zip(df.select(chain).collect()))
        .filter { case (_, (nat, hof)) => nat != hof }
      assert(bad.isEmpty, s"$kernel: ${bad.take(3).mkString("; ")}")
    }

  test("shingleH48 matches transform(shinglesOf, h48) on both eval paths") {
    assertParity("graft_shingle_h48", shingleH48(toks), chainH48)
  }

  test("shingleH48Distinct matches array_distinct(transform(shinglesOf, h48))") {
    assertParity("graft_shingle_h48_distinct", shingleH48Distinct(toks), chainH48Distinct)
  }

  test("shingleXxh64Distinct matches array_distinct(transform(shinglesOf, xxhash64))") {
    assertParity("graft_shingle_xxh64_distinct", shingleXxh64Distinct(toks),
      chainXxh64Distinct)
  }

  test("null token array yields the single-shingle row shinglesOf defines") {
    // shinglesOf(NULL) = [array_join(NULL)] = [NULL]; h48(NULL) = NULL,
    // xxhash64(NULL) = seed 42 — the null-text document must still
    // explode to exactly one row on both variants
    onBothEvalPaths("graft_shingle_h48") {
      val row = df.filter(col("text").isNull)
        .select(shingleH48(toks).as("m"), shingleXxh64Distinct(toks).as("x"))
        .as[(Seq[Option[Long]], Seq[Option[Long]])].head()
      assert(row._1 == Seq(None), s"md5 variant on null text: ${row._1}")
      assert(row._2 == Seq(Some(42L)), s"xxh64 variant on null text: ${row._2}")
    }
  }

  test("tokenStats matches size(split) / size(filter isInCollection) on both paths") {
    val stops = Seq("the", "a")
    val ts = tokenStats(col("text"), stops)
    val chainTokens = size(toks).cast(LongType)
    val chainStops =
      size(filter(toks, t => t.isInCollection(stops))).cast(LongType)
    onBothEvalPaths("graft_token_stats") {
      val nat = df.select(tokenStatsTokens(ts), tokenStatsStops(ts)).collect()
      val ref = df.select(chainTokens, chainStops).collect()
      val bad = texts.zip(nat.zip(ref)).filter { case (_, (n, r)) => n != r }
      assert(bad.isEmpty, s"tokenStats: ${bad.take(3).mkString("; ")}")
    }
  }

  test("minhashH48 kernel matches the explode + graft_minhash_sig aggregate") {
    import graft.functions.SketchReferences
    val a = (0 until Dedup.NumPerms).map(Dedup.minhashA)
    val b = (0 until Dedup.NumPerms).map(Dedup.minhashB)
    // the pre-r22b pipeline, verbatim: barrier'd tokens → shingle
    // explode → h48 → per-doc group aggregate
    val toked = df.select(col("doc_id"), toks.as("tk")).repartition(col("doc_id"))
    val oldSig = toked
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("tk"))).as("sh"))
      .select(col("doc_id"), h48Of(col("sh")).as("v"))
      .groupBy("doc_id")
      .agg(SketchReferences.minhashSig(col("v"), a, b, Dedup.MinhashP).as("sig"))
    val newSig = Dedup.minhashSignatures(df)
    val bad = oldSig.withColumnRenamed("sig", "old")
      .join(newSig.withColumnRenamed("sig", "new"), Seq("doc_id"))
      .filter(!(col("old") <=> col("new"))).collect()
    assert(bad.isEmpty, s"minhash kernel drift: ${bad.take(3).mkString("; ")}")
    // Row domain, compared as doc-id sets (the join above cannot tell a
    // missing row from a NULL one): the old chain exploded
    // shinglesOf(NULL) = [NULL] to one NULL-h48 row, so the null-text
    // doc kept a row with a NULL signature; the kernel path drops that
    // row. An intentional change — banding dropped NULL signatures, so
    // every consumer sees the same pairs — and the only one.
    val nullIds = df.filter(col("text").isNull).select("doc_id")
      .as[Long].collect().toSet
    def ids(sigs: org.apache.spark.sql.DataFrame) =
      sigs.select("doc_id").as[Long].collect().toSet
    assert(nullIds.nonEmpty)
    assert(oldSig.filter(col("sig").isNull).select("doc_id").as[Long]
      .collect().toSet == nullIds, "old chain: the null-text doc carries a NULL sig")
    assert(ids(newSig) == ids(oldSig) -- nullIds,
      s"row domains differ beyond the null-text doc: ${ids(newSig)} vs ${ids(oldSig)}")
  }

  test("simhashHex kernel matches the explode + graft_simhash_sig aggregate") {
    import graft.functions.SketchReferences
    val oldSig = df
      .select(col("doc_id"), explode(toks).as("t"))
      .select(col("doc_id"),
        expr("shiftleft(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), 32) " +
          "| CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)").as("v"))
      .groupBy("doc_id")
      .agg(SketchReferences.simhashSig(col("v")).as("sig"))
    val newSig = Dedup.simhashHexSignatures(df)
    val bad = oldSig.withColumnRenamed("sig", "old")
      .join(newSig.withColumnRenamed("sig", "new"), Seq("doc_id"), "full")
      .filter(!(col("old") <=> col("new"))).collect()
    assert(bad.isEmpty, s"simhash kernel drift: ${bad.take(3).mkString("; ")}")
  }

  test("sorted-distinct shingle sets + merge ∩-count match array_intersect") {
    // same SET as the unsorted distinct variant, ascending order, and
    // the merge-walk ∩-size equals size(array_intersect) pair-wise
    val sortedSets = df.filter(col("text").isNotNull)
      .select(col("doc_id"), shingleH48DistinctSorted(toks).as("s"))
    onBothEvalPaths("graft_sorted_intersect_count") {
      val badSet = df.filter(col("text").isNotNull)
        .select(shingleH48DistinctSorted(toks).as("srt"),
          array_sort(shingleH48Distinct(toks)).as("ref"))
        .filter(!(col("srt") <=> col("ref"))).collect()
      assert(badSet.isEmpty, s"sorted variant drift: ${badSet.take(3).mkString}")
      val pairs = sortedSets.select(col("doc_id").as("da"), col("s").as("sa"))
        .crossJoin(sortedSets.select(col("doc_id").as("db"), col("s").as("sb")))
        .filter(col("da") < col("db"))
      val bad = pairs.select(
          sortedIntersectCount(col("sa"), col("sb")).as("nat"),
          size(array_intersect(col("sa"), col("sb"))).as("ref"))
        .filter(!(col("nat") <=> col("ref"))).collect()
      assert(bad.isEmpty, s"∩-count drift: ${bad.take(3).mkString("; ")}")
    }
  }

  test("candidateEdges window form emits no edges among null-blocked docs") {
    // the pre-r22 join form dropped null lang/source postings by
    // equi-join semantics; the window form must drop them explicitly
    val docs = Seq(
      (1L, null.asInstanceOf[String], "web", "x y z w"),
      (2L, null.asInstanceOf[String], "web", "x y z w"),
      (3L, "en", null.asInstanceOf[String], "x y z w"),
      (4L, "en", null.asInstanceOf[String], "x y z w"),
      (5L, "en", "web", "x y z w"),
      (6L, "en", "web", "x y z w")
    ).toDF("doc_id", "lang", "source", "text")
    val edges = Dedup.candidateEdges(docs)
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((5L, 6L)),
      s"null-blocked docs must not form edges: $edges")
  }
}
