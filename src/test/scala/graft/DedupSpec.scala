package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Planted near-duplicate recovery for the sketch-based dedup operators
  * (no SQL oracle exists for them — SURVEY §5.2.3). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 0 and 1 are near-identical (one token changed); 2..5 unrelated.
  private val base = "spark scala engine shuffles sort merge join hash " +
    "aggregate window partition bucket column row group codegen filter scan"
  private def docs: DataFrame = Seq(
    (0L, base),
    (1L, base.replace("codegen", "vector")),
    (2L, "entirely different words about cooking pasta with tomatoes and basil leaves"),
    (3L, "yet another topic concerning alpine skiing slopes powder snow and lifts"),
    (4L, "database theory relational algebra normal forms and transaction isolation"),
    (5L, "graph processing vertices edges pregel supersteps and message passing")
  ).toDF("doc_id", "text")

  test("minhash signatures recover the planted near-dup pair") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Long]]("sig").toSeq)
      .toMap
    assert(sigs.values.forall(_.length == Dedup.NumPerms))
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / Dedup.NumPerms
    assert(est(0L, 1L) > 0.5, s"planted pair estimate too low: ${est(0L, 1L)}")
    for (other <- 2L to 5L)
      assert(est(0L, other) < 0.3, s"unrelated pair ($other) estimate too high")
  }

  test("minhash estimates are stable across repartitioning (determinism)") {
    val once = Dedup.minhashSignatures(docs).orderBy("doc_id").collect().toSeq
    val again = Dedup.minhashSignatures(docs.repartition(7)).orderBy("doc_id").collect().toSeq
    assert(once == again)
  }

  test("portable hex simhash separates the planted pair from unrelated docs") {
    val sh = Dedup.simhashHexSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sig")).toMap
    assert(sh.values.forall(s => s.length == 16 && s.forall("0123456789abcdef".contains(_))))
    def hamming(a: Long, b: Long): Int =
      sh(a).zip(sh(b)).map { case (x, y) =>
        java.lang.Integer.bitCount(Character.digit(x, 16) ^ Character.digit(y, 16))
      }.sum
    assert(hamming(0L, 1L) <= 16, s"planted pair hamming too high: ${hamming(0L, 1L)}")
    for (other <- 2L to 5L)
      assert(hamming(0L, other) > hamming(0L, 1L),
        s"unrelated doc $other closer than the planted dup")
  }

  test("hot LSH bucket caps at MaxBucketWidth lowest doc_ids (planted degenerate key)") {
    // 100 docs land in ONE band bucket (the template-page / empty-text
    // degeneracy) + a 3-member organic bucket. With the cap at 8, pair
    // expansion must stay at C(8,2) for the hot bucket — not C(100,2) —
    // and keep exactly the 8 lowest doc_ids (content-deterministic
    // truncation, invariant under input partitioning).
    val hot = (0L until 100L).map(i => (i, Seq(1L, 2L), 0, "hot"))
    val organic = Seq((200L, Seq(3L, 4L), 1, "ok"), (201L, Seq(3L, 5L), 1, "ok"),
      (202L, Seq(3L, 6L), 1, "ok"))
    def pairs(parts: Int) = Dedup.bucketPairs(
      (hot ++ organic).toDF("doc_id", "sig", "band", "bh").repartition(parts),
      Seq("band", "bh"), mode = "ids", maxWidth = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val p = pairs(4)
    val hotPairs = p.filter(_._1 < 100L)
    assert(hotPairs.size == 8 * 7 / 2, s"cap failed: ${hotPairs.size} hot pairs")
    assert(hotPairs.flatMap(t => Seq(t._1, t._2)) == (0L until 8L).toSet,
      "truncation must keep the lowest doc_ids")
    assert(p.filter(_._1 >= 100L).size == 3, "organic bucket disturbed by the cap")
    assert(pairs(13) == p, "cap not deterministic across partitioning")
  }

  // md5 leaf of the hex simhash kernel: first 8 digest bytes, big-endian.
  private def md5Hash64(t: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xFFL))
  }

  test("simhash clamps at SimhashMaxTokens: no packed-lane wrap past 65,535 tokens") {
    // The 65,535-token clamp this name refers to is gone: the hex kernel
    // counts in 64-bit lanes, so nothing needs clamping. ONE token
    // repeated 70,000 times is the minimal lane-wrap trigger — a 16-bit
    // lane would wrap each set bit's count to 70000 - 65536 = 4464 < n/2
    // and return signature 0. With no wrap the majority is unanimous on
    // every hash bit, so the signature IS the token's hash.
    val tok = "boilerplate"
    val big = Seq((7L, (tok + " ") * 70000)).toDF("doc_id", "text")
    val sig = Dedup.simhashHexSignatures(big).collect().head.getAs[String]("sig")
    val expected = f"${md5Hash64(tok)}%016x"
    assert(sig == expected, s"signature $sig must equal the token hash $expected")
    assert(sig != "0" * 16, "lane-wrap signature resurfaced")
  }

  test("simhash of a >65,535-token doc is the exact prefix simhash (JVM reference)") {
    // With the clamp gone the prefix the kernel folds is the whole doc:
    // 66,500 copies of one token interleaved with 3,500 tokens cycling
    // 50 words, so every bit the dominant token sets counts past 65,535
    // — a 16-bit lane would wrap and a 65,535-token clamp would cut the
    // tail. The JVM reference recomputes the per-bit majority over all
    // 70,000 tokens from the same md5 leaf.
    val words = (0 until 70000).map(i =>
      if (i % 20 == 0) s"w${(i / 20) % 50}" else "boilerplate")
    val doc = Seq((9L, words.mkString(" "))).toDF("doc_id", "text")
    val sig = Dedup.simhashHexSignatures(doc).collect().head.getAs[String]("sig")
    val hashes = words.distinct.map(t => t -> md5Hash64(t)).toMap
    val counts = (0 until 64).map(k => words.count(t => ((hashes(t) >>> k) & 1L) == 1L))
    assert(counts.max > 65535, "the doc must drive a lane past the 16-bit bound")
    val ref = (0 until 64).foldLeft(0L) { (acc, k) =>
      if (2L * counts(k) > words.length) acc | (1L << k) else acc
    }
    assert(sig == f"$ref%016x", f"hex simhash $sig != all-token reference $ref%016x")
  }

  test("cluster representative survives doc_ids past 1e9 (r19 deferred defect)") {
    // A cluster of three identical texts with doc_ids straddling 10⁹:
    // "keep the LONGEST member, ties → lowest doc_id" must pick doc
    // 2,000,000,000 (n_chars 10). The retired scalar key
    // n_chars·10⁹ − doc_id picked doc 3 — a SHORTER doc — because a
    // >10⁹ doc_id subtraction crosses length buckets; pinned below as
    // the negative control so this test keeps exercising the regime.
    val text = (1 to 10).map(i => s"shared$i").mkString(" ")
    val planted = Seq(
      (2000000000L, text, "en", "web", 10L),
      (5000000000L, text, "en", "web", 10L),
      (3L, text, "en", "web", 9L))
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster_rep_").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftExtensions.register(spark)
    val out = SparkEntry.queries("q_cluster_rep")(spark, dir).collect()
    assert(out.length == 1, s"expected one cluster, got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("rep") == 3L && r.getAs[Long]("n_docs") == 3L &&
      r.getAs[Long]("keep_doc") == 2000000000L && r.getAs[Long]("keep_chars") == 10L,
      s"wrong representative row: $r")
    val oldPick = planted.map(p => (p._1, p._5))
      .maxBy { case (id, n) => n * 1000000000L - id }._1
    assert(oldPick == 3L, "the planted regime no longer exercises the r19 defect")
  }

  test("connected components: chain merges transitively, islands stay apart") {
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    // 1-2, 2-3 chain (3 reaches 1 only transitively); 10-11 pair; 20 alone.
    val edges = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val reps = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep")).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connected components: the chain pays one or more rounds") {
    // Pins the fixpoint test: the chain's seed (3 → 2) is unsettled, so
    // it needs a round; a settled seed pays none (ComponentsPropertySpec)
    val chain = Dedup.labelComponents(Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id"),
      Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b"))
    assert(chain._2 >= 1, s"the chain ran ${chain._2} rounds")
  }

  test("connected components fail loudly at the round guard") {
    // an ascending 40-node path needs more than one round (the seed
    // moves labels 1 hop, a round at most 8 more)
    val ids = 1L to 40L
    val e = intercept[IllegalStateException](Dedup.labelComponents(
      ids.toDF("doc_id"), ids.zip(ids.tail).toDF("doc_a", "doc_b"), maxRounds = 1))
    assert(e.getMessage.contains("after 1 rounds"), e.getMessage)
  }

  test("cleanReasons assigns every branch by priority on a planted corpus") {
    val long = (1 to 30).map(i => s"w$i").mkString(" ")            // 30 unique tokens
    val planted = Seq(
      (1L, "en", "web", long),                                     // kept (rep of {1,2})
      (2L, "en", "web", long.replace("w30", "x30")),               // near_dup of 1
      (3L, "en", "web", "short doc"),                              // too_short (2 tokens)
      (4L, "en", "web", ("the a " * 15).trim),                     // low_quality (all stopwords)
      (5L, "en", "web", (31 to 60).map(i => s"v$i").mkString(" ")),// kept, no shared shingle
      (6L, "en", "web", " " + (31 to 60).map(i => s"v$i").mkString(" ").toUpperCase + " ")
    ).toDF("doc_id", "lang", "source", "text")
    // doc 6 normalizes (lower+trim) to doc 5's text → exact_dup; its
    // shingles stay case-sensitive, so it is NOT a near-dup candidate.
    val reasons = Dedup.cleanReasons(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(reasons == Map(1L -> "kept", 2L -> "near_dup", 3L -> "too_short",
      4L -> "low_quality", 5L -> "kept", 6L -> "exact_dup"))
  }

  test("cluster reps are the min doc_id over planted near-dup components") {
    val lab = Dedup.connectedComponents(
      docs.select("doc_id"),
      Seq((0L, 1L)).toDF("doc_a", "doc_b")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep")).toMap
    assert(lab(1L) == 0L && (2L to 5L).forall(i => lab(i) == i))
  }

  test("top-k pair ranking dedups multi-band collisions (planted all-band cluster)") {
    // 30 near-identical docs — most pairs collide in MANY of the 16
    // bands, the worst case for the zero-shuffle TakeOrdered(20·nBands)
    // + dedup ranking (q_dedup_near): if the dedup-after-cut logic ever
    // regressed, the top-20 would carry the same pair repeatedly. The
    // expected answer is computed HERE by the naive reference —
    // all-band candidate generation, distinct pairs, rank by
    // (est desc, a, b) — and must match the query's output exactly
    // (est = k/32 is an exact binary fraction, so doubles compare ==).
    val baseToks = (1 to 40).map(i => s"tok$i")
    val planted = (0 until 30).map { i =>
      (i.toLong, baseToks.updated(i % 40, s"mut$i").mkString(" "), "en", "web", 0L)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_topk_").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftExtensions.register(spark)
    val out = SparkEntry.queries("q_dedup_near")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard"))).toSeq
    assert(out.length == 20, s"expected 20 rows, got ${out.length}")
    assert(out.map(t => (t._1, t._2)).distinct.length == 20,
      "duplicate pair in the top-20")
    // naive reference over the same signatures
    val sigs = Dedup.minhashSignatures(
        planted.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("sig").toVector).toMap
    val nBands = Dedup.NumPerms / Dedup.BandRows
    def bandKeys(s: Vector[Long]): Set[(Int, String)] =
      (0 until nBands).map(b =>
        b -> s.slice(b * Dedup.BandRows, (b + 1) * Dedup.BandRows).mkString(":")).toSet
    val ids = sigs.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if bandKeys(sigs(a)).intersect(bandKeys(sigs(b))).nonEmpty
    } yield {
      val k = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      (a, b, BigDecimal(k.toDouble / Dedup.NumPerms)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).sortBy { case (a, b, est) => (-est, a, b) }.take(20)
    assert(out == expected,
      s"top-20 diverged from the naive reference:\n got $out\n exp $expected")
  }

  test("simhash top-20 carries no duplicate pairs on an all-chunk cluster") {
    // Same worst case for q_dedup_simhash's TakeOrdered(20·4) + dedup:
    // identical docs collide in all 4 chunks with hamming 0.
    val planted = (0 until 30).map { i =>
      (i.toLong, (1 to 40).map(j => s"tok$j").mkString(" "), "en", "web", 0L)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_topk_").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftExtensions.register(spark)
    val out = SparkEntry.queries("q_dedup_simhash")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSeq
    assert(out.length == 20 && out.map(t => (t._1, t._2)).distinct.length == 20,
      s"expected 20 distinct pairs, got $out")
    // identical docs ⇒ hamming 0, tie-broken by (doc_a, doc_b): the 20
    // lexicographically first pairs of 30 identical docs
    val exp = (for (a <- 0L until 30L; b <- a + 1 until 30L) yield (a, b, 0L))
      .sortBy(t => (t._1, t._2)).take(20)
    assert(out == exp, s"got $out")
  }
}
