package graft

import org.apache.spark.sql.DataFrame

/** Correctness pins for the [[SkewProbes]] strategy groups: every
  * physical strategy of a probe must return the identical logical result,
  * and the plan facts the findings rest on (map-side WindowGroupLimit,
  * compound-key distinct rewrite) must hold. The STRAGGLER measurements
  * come from `graft.Audit @skew` / `@skewc` over the decade-sized hot-key
  * corpora (SKEW_AUDIT_*.json); this spec keeps the equivalences honest
  * at test scale. */
class SkewSpec extends SparkSpec {

  private lazy val dir: String = Corpus.build(spark, "/root/testdata/sf0.001",
    s"${scratchDir("graft_skew_test")}/c", Corpus.skew10)

  /** The hot-user century at 3 copies, shared by the window rewrites. */
  private lazy val skewc: String = Corpus.build(spark, "/root/testdata/sf0.001",
    s"${scratchDir("graft_skewc_test")}/c", Corpus.skewCentury(3))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("segmented sessionize equals the plain window sessionize under a hot user") {
    // boundary-merge arithmetic: local gaps-and-islands per (user, day)
    // + global offsets over chunk summaries must reproduce the shipped
    // q_sessionize exactly, including sessions that CROSS day chunks
    // (the skew corpus's hot user is dense enough to have them)
    val d = skewc
    assert(rows(graft.ops.Pipeline.sessionizeSegmented(api.tbl(spark, d, "events"))) ==
      rows(graft.ops.Pipeline.sessionizePlain(api.tbl(spark, d, "events"))))
  }

  test("the shipped window queries execute the skew-immune plans (r19)") {
    // the r18 verdict's one demerit was proven-but-not-shipped: pin that
    // the DECLARED queries now run the rewrites, not the naive windows —
    // no window partitioned on the bare hot key may remain in any plan
    val d = skewc
    def windowSpecs(name: String): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, d)
      flattenPlan(df.queryExecution.executedPlan)
        .filter(_.getClass.getSimpleName.startsWith("Window"))
        .map(_.toString.linesIterator.next())
    }
    // q_sessionize / q_window_running: every window keys on (user_id,
    // day-chunk) or on per-chunk summaries — never on user_id alone with
    // row-level input (the summary window IS user_id-keyed but sees ≤
    // days-spanned rows per user, and its child is the chunk aggregate)
    for (q <- Seq("q_sessionize", "q_window_running")) {
      val rowLevel = windowSpecs(q).filter(s =>
        s.contains("user_id") && !s.contains("chunk") && !s.contains("day"))
      assert(rowLevel.isEmpty, s"$q still plans a bare user_id window: $rowLevel")
    }
    // q_ewma: the last-K pre-cut must plan Partial+Final WindowGroupLimit
    val ewmaDf = SparkEntry.queries("q_ewma")(spark, d)
    val nodes = flattenPlan(ewmaDf.queryExecution.executedPlan)
      .map(_.getClass.getSimpleName)
    assert(nodes.count(_.contains("WindowGroupLimit")) >= 2,
      s"q_ewma lost the map-side WindowGroupLimit pre-cut: $nodes")
  }

  test("segmented sessionize merges boundary sessions (hand fixture)") {
    // the random corpus's gaps are mostly > 30 min, so pin the merge
    // branch explicitly: user 1's first session CROSSES midnight
    // (23:40 → 23:55 → 00:10, all gaps ≤ 30 min, two day-chunks)
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 23:40:00", 1L),
      (1L, "2024-01-01 23:55:00", 2L),
      (1L, "2024-01-02 00:10:00", 3L), // merges into the day-1 session
      (1L, "2024-01-02 09:00:00", 4L), // big gap: a genuine new session
      (2L, "2024-01-01 10:00:00", 5L),
      (2L, "2024-01-01 10:10:00", 6L)
    ).toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts_s"))
    val out = graft.ops.Pipeline.sessionizeSegmented(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L, 3L), (2L, 1L, 2L)),
      s"merge across the chunk boundary failed: $out")
  }

  test("two-stage running sum equals the plain window under a hot user") {
    // the @skewc prefix-sum decomposition must be value-identical
    // to the plain per-user running window — exact decimal addition is
    // associative, so chunk-local sums + chunk offsets reassemble the
    // global prefix sum to the bit (doubles compare exactly)
    val d = skewc
    val ev = api.tbl(spark, d, "events")
    assert(rows(ops.Relational.runningTwoStage(ev)) == rows(ops.Relational.runningPlain(ev)))
  }

  test("segmented rolling median equals the plain window median under a hot key") {
    // the r20 boundary-row decomposition: uniform rank segments with 49
    // phantom rows carried from the previous segment must reproduce the
    // plain event_type-wide 50-row frame bit-exactly. segSize = 64
    // forces MANY segment crossings on the test corpus (the default
    // 8192 would leave one segment per type here and never exercise the
    // phantom path).
    val d = skewc
    val ev = api.tbl(spark, d, "events")
    def proj(df: DataFrame): Seq[String] =
      rows(df.select("event_id", "event_type", "value", "med50"))
    assert(proj(ops.Extras.rollingMedianSegmented(ev, segSize = 64)) ==
      proj(ops.Extras.rollingMedianPlain(ev)))
    // and at the shipped segment size (exercises the single/partial
    // segment branch on this corpus)
    assert(proj(ops.Extras.rollingMedianSegmented(ev)) ==
      proj(ops.Extras.rollingMedianPlain(ev)))
  }

  test("segmented rolling median carries the frame across a segment boundary (hand fixture)") {
    // 52 rows of value = rank, segSize 50 (the smallest the exactness
    // precondition admits): ranks 51 and 52 land in segment 1, and their
    // 50-row trailing frames are served by the phantom copies of ranks
    // 2..50 — the last 49 of the full segment 0. Day flips every 10
    // rows so the rank plumbing crosses day chunks too. Expected
    // medians hand-computed: rank r > 49 sees values (r-49)..r, median
    // = r - 24.5; early ranks see 1..r.
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val ev = (1 to 52).map { r =>
      (r * 100L, "c",
        new java.sql.Timestamp(base + (r / 10) * 86400000L + r * 60000L),
        r.toDouble)
    }.toDF("event_id", "event_type", "ts", "value")
    val out = ops.Extras.rollingMedianSegmented(ev, segSize = 50)
      .select("event_id", "med50")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 52, s"row count wrong: ${out.size}")
    assert(out(100L) == 1.0 && out(200L) == 1.5 && out(5000L) == 25.5,
      s"in-segment frames wrong: $out")
    assert(out(5100L) == 26.5 && out(5200L) == 27.5,
      s"cross-boundary frames wrong: ${out(5100L)}, ${out(5200L)}")
  }

  test("last-K EWMA equals the sliding-window EWMA under a hot user") {
    // the output depends only on each series' last 8 values + count,
    // so the top-k rewrite (map-side WindowGroupLimit pre-cut) must be
    // bit-identical to the full sliding window — same integer weights,
    // same single final IEEE division
    val d = skewc
    assert(rows(ops.Extras.ewmaLastK(api.tbl(spark, d, "events"))) ==
      rows(ops.Extras.ewmaOf(api.tbl(spark, d, "events"))))
  }

  test("the rewrites keep NULL-key rows exactly as the plain windows do") {
    // a window PARTITION BY groups NULL keys into a partition of their
    // own; the rewrites' join-back must match those groups too (r19
    // review: a plain equi-join would silently DROP every NULL-user_id /
    // NULL-ts row). Null-safe join keys pin the equality on a fixture
    // that has them — the synthetic corpora don't, so only this does.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rowsIn = Seq(
      Row(1L, t("2026-01-01 10:00:00"), 7L, "click", 1.5),
      Row(2L, t("2026-01-01 10:10:00"), 7L, "click", 2.5),
      Row(3L, t("2026-01-02 09:00:00"), 7L, "view", 4.0),
      Row(4L, t("2026-01-01 11:00:00"), null, "click", 8.0), // NULL user
      Row(5L, t("2026-01-02 11:00:00"), null, "click", 16.0), // NULL user
      Row(6L, null, 7L, "click", 32.0), // NULL ts
      Row(7L, null, null, "view", 64.0), // NULL both
      // NULL value, sole row of its event_type: the 50-row trailing
      // frame filters to EMPTY — the r20 empty-frame guard must yield
      // med50 = NULL in both median shapes (the unguarded expression
      // threw element_at(_, 0) under ANSI), and the all-NULL series'
      // EWMA must be NULL in both shapes (denom 0 threw DIVIDE_BY_ZERO)
      Row(8L, t("2026-01-03 10:00:00"), 9L, "nullval", null),
      // NULL values INTERLEAVED in one series: the oracle-defined
      // semantics is RAW-position weights — a NULL occupies its row
      // slot (denominator and weights count it) and contributes no
      // term. The pre-r20 lastK fed null terms into the fold (NULL on
      // any null); the pre-r20 plain shape compacted positions. Both
      // now match the oracle: [1, N, 3, N, 5] → (1·2⁰ + 3·2² + 5·2⁴)
      // / (2⁵ − 1) = 93/31 = 3.0 exactly (DuckDB-verified)
      Row(9L, t("2026-01-04 10:00:00"), 11L, "mix", 1.0),
      Row(10L, t("2026-01-04 10:01:00"), 11L, "mix", null),
      Row(11L, t("2026-01-04 10:02:00"), 11L, "mix", 3.0),
      Row(12L, t("2026-01-04 10:03:00"), 11L, "mix", null),
      Row(13L, t("2026-01-04 10:04:00"), 11L, "mix", 5.0))
    val ev = spark.createDataFrame(
      spark.sparkContext.parallelize(rowsIn, 2), schema)
    assert(rows(ops.Relational.runningTwoStage(ev)) ==
      rows(ops.Relational.runningPlain(ev)))
    assert(rows(ops.Pipeline.sessionizeSegmented(ev)) ==
      rows(ops.Pipeline.sessionizePlain(ev)))
    assert(rows(ops.Extras.ewmaLastK(ev)) == rows(ops.Extras.ewmaOf(ev)))
    def med(df: DataFrame): Seq[String] =
      rows(df.select("event_id", "event_type", "value", "med50"))
    assert(med(ops.Extras.rollingMedianSegmented(ev, segSize = 50)) ==
      med(ops.Extras.rollingMedianPlain(ev)),
      "segmented rolling median diverged on NULL keys")
    // and the NULL rows genuinely survive: 2 NULL-user running rows etc.
    assert(ops.Relational.runningTwoStage(ev).count() == 13,
      "the two-stage running sum lost rows on NULL keys")
    // the all-NULL series' EWMA is NULL, not an error, in both shapes
    val ne = ops.Extras.ewmaLastK(ev)
      .filter(org.apache.spark.sql.functions.col("event_type") === "nullval")
      .select("ewma").collect()
    assert(ne.length == 1 && ne.head.isNullAt(0),
      s"all-NULL-series EWMA must be NULL: ${ne.toSeq}")
    // ABSOLUTE anchor for the interleaved series (shape-vs-shape
    // equality alone cannot catch a shared drift): the raw-position
    // weighted sum is exactly 3.0 — verified against the DuckDB oracle
    // formula by hand this round
    val mix = ops.Extras.ewmaLastK(ev)
      .filter(org.apache.spark.sql.functions.col("event_type") === "mix")
      .select("ewma").collect()
    assert(mix.length == 1 && mix.head.getDouble(0) == 3.0,
      s"interleaved-NULL EWMA must be 3.0 (oracle semantics): ${mix.toSeq}")
    // the empty-frame row is present with a NULL median, not an error
    val nv = ops.Extras.rollingMedianSegmented(ev, segSize = 50)
      .filter(org.apache.spark.sql.functions.col("event_type") === "nullval")
      .select("med50").collect()
    assert(nv.length == 1 && nv.head.isNullAt(0),
      s"empty-frame median must be NULL: ${nv.toSeq}")
  }

  test("skew corpus plants a dominant hot key with FK-clean orders") {
    val o = api.tbl(spark, dir, "orders")
    val total = o.count()
    val top = o.groupBy("o_custkey").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc).head
    assert(total == 10 * api.tbl(spark, "/root/testdata/sf0.001", "orders").count())
    assert(top.getLong(1) * 100 / total >= 25, s"hot share too low: $top")
    // every o_custkey resolves against the uncopied customer dim
    val orphans = o.join(api.tbl(spark, dir, "customer"),
      o("o_custkey") === org.apache.spark.sql.functions.col("c_custkey"),
      "left_anti").count()
    assert(orphans == 0L)
  }

  test("all four join strategies produce the identical rollup") {
    val expected = rows(SkewProbes.joinBroadcastPlan(spark, dir))
    assert(rows(SkewProbes.joinShufflePlan(spark, dir)) == expected)
    assert(rows(SkewProbes.joinSaltedPlan(spark, dir)) == expected)
  }

  test("key-only join strategies agree (the compressed-size blind-spot pair)") {
    val expected = rows(SkewProbes.joinKeyOnlyShufflePlan(spark, dir))
    assert(rows(SkewProbes.joinKeyOnlySaltedPlan(spark, dir)) == expected)
  }

  test("native count-distinct equals the dedup-then-count rewrite") {
    assert(rows(SkewProbes.countDistinctNative(spark, dir)) ==
      rows(SkewProbes.countDistinctRewrite(spark, dir)))
  }

  test("salted two-stage top-k equals the plain window top-k") {
    assert(rows(SkewProbes.topkSalted(spark, dir)) ==
      rows(SkewProbes.topkWindow(spark, dir)))
  }

  test("plain top-k plans a PARTIAL map-side WindowGroupLimit before the exchange") {
    // the audit's finding that the window top-k is skew-safe as-is
    // rests on this rewrite existing; pin it against Spark upgrades
    val df = SkewProbes.topkWindow(spark, dir)
    df.collect()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
      .map(_.getClass.getSimpleName)
    assert(nodes.count(_.contains("WindowGroupLimit")) >= 2,
      s"expected Partial+Final WindowGroupLimitExec, plan nodes: $nodes")
  }
}
