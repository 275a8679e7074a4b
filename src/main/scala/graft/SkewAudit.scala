package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Evidence tool: measure how the engine's plans behave on a corpus with
  * a genuinely HOT key — the axis every other fixture (driver sf decades,
  * the dup10 corpus, the sf1-equivalent decade) never exercises, because
  * TPC-H-ish generators draw keys uniformly. SCALE.md's skew claims
  * ("AQE splits skewed partitions", "the salted pair is the manual fix",
  * "partial aggregation makes sum/count skew-immune") have so far rested
  * on plan reading plus uniform-corpus runs of the salted demos; this
  * tool backs them with a straggler signal measured under real skew.
  *
  * Corpus [[Corpus.skew10]] (30% of orders ×10 on ONE hot customer): at
  * the sf0.1 source ~450k of 1.5M orders on a single join/agg key,
  * against a ~33k-row median hash partition: the shape AQE's
  * skewedPartitionFactor=5 default is written for.
  *
  * Probes (every strategy pair is checksum-compared — identical logical
  * results, different physical distributions — before timings count):
  *
  *  - JOIN orders⋈customer, rollup by c_mktsegment, four strategies:
  *    `broadcast` (the default plan: a broadcast-able dim is IMMUNE to
  *    probe-side skew — nothing shuffles on the hot key), `smj_noaqe`
  *    (what a too-big-to-broadcast dim degrades to: one straggler
  *    partition), `smj_aqe` (AQE skew-join splits the hot partition;
  *    thresholds lowered here because the demo's hot partition is tens
  *    of MB where the 256 MB default is written for multi-GB cluster
  *    partitions), `salted` (the manual 8-way salt of q_join_salted —
  *    works with AQE off, i.e. when skew emerges after filters AQE's
  *    runtime stats can't see).
  *  - The same join KEY-ONLY (`joink_*`): the rollup keeps no payload,
  *    so the fact shuffle carries just the 8-byte hot key — 4.5M
  *    IDENTICAL values that compress to under the skew threshold. AQE
  *    detects skew from COMPRESSED map-output sizes, so the skewed
  *    partition goes undetected and the straggler survives with
  *    skew-join enabled — measured here deliberately, because it is a
  *    real 100 TB failure mode (any hot partition whose bytes compress
  *    ≫ its row count: constant keys, sorted runs, low-cardinality
  *    payloads). The salted variant needs no statistics and flattens
  *    it anyway. (This is also why [[Audit.measure]] executes the
  *    plan at full width, not count(): Dataset.count() lets Catalyst
  *    prune every payload column, silently turning the full-payload
  *    probes into this key-only shape.)
  *  - AGG groupBy(hot key) count+sum: measured to show partial
  *    aggregation alone flattens it (each task pre-collapses its hot
  *    rows to one partial row — the straggler never forms).
  *  - COUNT DISTINCT by key (`cd_native` vs the explicit
  *    dedup-then-count rewrite `cd_rewrite`). MEASURED FINDING: both
  *    are flat (ratios ~1.05/1.24) — Spark's planner already rewrites
  *    a distinct aggregate to exchange on the uniform COMPOUND key
  *    (key, member) and partial-counts before the per-key exchange, so
  *    no reducer ever sees the hot key's full member set. The probe
  *    pins that this stays true; the manual rewrite is only needed on
  *    engines without the built-in rewrite.
  *  - TOP-K per key (k=3, row_number ≤ k) — the straggler pattern the
  *    r15c scale table warns about — vs the salted two-stage window
  *    (`topk_salted`: local top-3 within (key, salt-of-unique-col),
  *    then global top-3 over ≤ 8·3 survivors — exact by the top-k
  *    union bound). MEASURED FINDING: the plain window is ALREADY flat
  *    (ratio 1.27, max task 76 ms over 4.5M hot rows) because Spark
  *    3.5+'s WindowGroupLimit plans a PARTIAL map-side top-k per key
  *    before the exchange — the hot key arrives pre-cut to 3 rows per
  *    map task — and the manual salted rewrite measures strictly worse
  *    (one extra shuffle). Declarative row_number-filter top-k is the
  *    right 100 TB plan as-is; rank-without-filter or large k beyond
  *    the group-limit rewrite would reopen the question.
  *
  * Reported per run: the [[Audit.measure]] record, whose straggler
  * signal is the longest task vs the median task of ITS stage
  * (cross-stage medians would dilute the signal with scan/reduce
  * tasks). Output: one JSON line per run on stdout plus SKEW_AUDIT.json
  * (snapshot before re-running).
  *
  * `sbt "runMain graft.SkewAudit /root/testdata/sf0.1 /tmp/graft_skew10"`
  */
object SkewAudit {

  private val NSalt = 8

  private def cents(c: String) =
    expr(s"CAST(round(CAST($c AS DECIMAL(18,4)) * 100, 0) AS BIGINT)")

  /** The one logical join result all four strategies must produce. */
  private def rollup(joined: DataFrame): DataFrame =
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("spend_cents"))

  private def ordersSlim(spark: SparkSession, d: String): DataFrame =
    api.tbl(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        cents("o_totalprice").as("cents"))

  private def customerSlim(spark: SparkSession, d: String): DataFrame =
    api.tbl(spark, d, "customer").select(col("c_custkey"), col("c_mktsegment"))

  def joinBroadcastPlan(s: SparkSession, d: String): DataFrame =
    rollup(ordersSlim(s, d).join(broadcast(customerSlim(s, d)),
      col("o_custkey") === col("c_custkey")))

  def joinShufflePlan(s: SparkSession, d: String): DataFrame =
    rollup(ordersSlim(s, d).join(customerSlim(s, d),
      col("o_custkey") === col("c_custkey")))

  /** Key-only rollup: no payload survives column pruning, so the fact
    * shuffle is pure hot-key bytes — the compressed-size blind spot. */
  private def rollupKeyOnly(joined: DataFrame): DataFrame =
    joined.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))

  def joinKeyOnlyShufflePlan(s: SparkSession, d: String): DataFrame =
    rollupKeyOnly(ordersSlim(s, d).drop("cents").join(customerSlim(s, d),
      col("o_custkey") === col("c_custkey")))

  def joinKeyOnlySaltedPlan(s: SparkSession, d: String): DataFrame = {
    val fact = ordersSlim(s, d).drop("cents")
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(NSalt)))
    val dim = customerSlim(s, d)
      .withColumn("salt", explode(sequence(lit(0L), lit(NSalt - 1L))))
    rollupKeyOnly(fact.join(dim,
      col("o_custkey") === col("c_custkey") && fact("salt") === dim("salt")))
  }

  def joinSaltedPlan(s: SparkSession, d: String): DataFrame = {
    // salt from the UNIQUE column: spreads the hot join key over NSalt
    // shuffle partitions; dim replicated NSalt× (cheap: dim ≪ fact).
    val fact = ordersSlim(s, d)
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(NSalt)))
    val dim = customerSlim(s, d)
      .withColumn("salt", explode(sequence(lit(0L), lit(NSalt - 1L))))
    rollup(fact.join(dim,
      col("o_custkey") === col("c_custkey") && fact("salt") === dim("salt")))
  }

  def aggPlan(s: SparkSession, d: String): DataFrame =
    ordersSlim(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("spend_cents"))

  def countDistinctNative(s: SparkSession, d: String): DataFrame =
    api.tbl(s, d, "orders").groupBy("o_custkey")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"))

  def countDistinctRewrite(s: SparkSession, d: String): DataFrame =
    api.tbl(s, d, "orders").select("o_custkey", "o_orderkey").distinct()
      .groupBy("o_custkey").agg(count(lit(1)).cast(LongType).as("n_orders"))

  private val topkOrder: Seq[org.apache.spark.sql.Column] =
    Seq(col("cents").desc, col("o_orderkey").asc)

  def topkWindow(s: SparkSession, d: String): DataFrame =
    ordersSlim(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(topkOrder: _*)))
      .filter(col("rn") <= 3).drop("rn")

  def topkSalted(s: SparkSession, d: String): DataFrame = {
    val salted = ordersSlim(s, d)
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(NSalt)))
    val local = salted
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"), col("salt"))
          .orderBy(topkOrder: _*)))
      .filter(col("rn") <= 3).drop("rn", "salt")
    local
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(topkOrder: _*)))
      .filter(col("rn") <= 3).drop("rn")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = if (args.length > 1) args(1) else "/tmp/graft_skew10"
    val spark = Tools.session(32)
    Corpus.build(spark, src, dest, Corpus.skew10)
    val o = ordersSlim(spark, dest)
    val total = o.count()
    val hot = o.groupBy("o_custkey").count()
      .orderBy(col("count").desc).head
    println(s"corpus: $total orders, hot key ${hot.getLong(0)} owns " +
      s"${hot.getLong(1)} rows (${hot.getLong(1) * 100 / total}%)")

    import SkewHarness.{noAqe, noBcast}
    // the demo's hot partition is ~7 MB; production defaults (256 MB
    // threshold, factor 5) target multi-GB partitions — scale the
    // thresholds to the fixture, keep the factor at its default
    val aqeSkew = noBcast ++ Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

    val results = SkewHarness.run(spark, dest, Seq(
      ("join", "join_broadcast", Map.empty, joinBroadcastPlan),
      ("join", "join_smj_noaqe", noAqe, joinShufflePlan),
      ("join", "join_smj_aqe", aqeSkew, joinShufflePlan),
      ("join", "join_salted", noAqe, joinSaltedPlan),
      ("joink", "joink_smj_noaqe", noAqe, joinKeyOnlyShufflePlan),
      ("joink", "joink_smj_aqe", aqeSkew, joinKeyOnlyShufflePlan),
      ("joink", "joink_salted", noAqe, joinKeyOnlySaltedPlan),
      ("agg", "agg_partial", noAqe, aggPlan),
      ("cd", "cd_native", noAqe, countDistinctNative),
      ("cd", "cd_rewrite", noAqe, countDistinctRewrite),
      ("topk", "topk_window", noAqe, topkWindow),
      ("topk", "topk_salted", noAqe, topkSalted)))

    Audit.write(java.nio.file.Paths.get("SKEW_AUDIT.json"),
      s""""sf":"$dest","total_orders":$total,"hot_key_rows":${hot.getLong(1)}""", results)
    spark.stop()
  }
}

/** The conf set/restore and checksum gate of both skew audits
  * ([[SkewAudit]] at the decade, [[SkewCentury]] at 100×) — the r18
  * review found the two inlined copies had already drifted (SkewCentury
  * overrode `skewedPartitionFactor` but its copied restore map did not
  * contain the key, leaking the override into later runs). Each probe
  * is one [[Audit.measure]] under its confs; every conf key any variant
  * may touch is in [[Defaults]] and restored after each run, and every
  * strategy group must agree on the checksum. */
private[graft] object SkewHarness {

  /** Session defaults restored after every probe — the superset of all
    * keys any strategy variant overrides. */
  val Defaults = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256MB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")

  /** Broadcast joins off, so a join shuffles on its key. */
  val noBcast = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** [[noBcast]] with AQE off: no runtime skew split or re-plan. */
  val noAqe = noBcast + ("spark.sql.adaptive.enabled" -> "false")

  /** Measures each (group, name, confs, plan) probe over `dest`; throws
    * if a probe failed or a group's checksums differ. */
  def run(spark: SparkSession, dest: String,
      probes: Seq[(String, String, Map[String, String], (SparkSession, String) => DataFrame)])
      : Seq[Audit.Record] = {
    val records = Audit.runAll(spark, Defaults)(probes.map {
      case (_, name, conf, plan) => (name, conf, () => plan(spark, dest))
    }).map(_.get)
    for ((g, rs) <- probes.map(_._1).zip(records).groupBy(_._1)
        if rs.map(_._2.checksum).distinct.size > 1)
      throw new IllegalStateException(
        s"CHECKSUM MISMATCH in group $g: ${rs.map(_._2.checksum)}")
    println("CHECKSUMS OK: all strategy groups agree")
    records
  }
}

/** Evidence tool (r18, verdict item 2): skew at CENTURY scale, on the
  * axis the r15g decade audit never exercised — the WINDOW-heavy movers
  * under a planted hot key, where AQE cannot help: skew-join splitting
  * applies to joins only, and a `PARTITION BY key` window partition is
  * indivisible (its frame semantics need the key's full ordered run in
  * one task). A hot key under a window operator SERIALIZES by
  * construction; the fix is an operator rewrite, not a runtime knob.
  *
  * Corpus [[Corpus.skewCentury]] (events and orders ×100, 10% of rows
  * on ONE hot user / customer): ≈1M of 10M events on the hot user at
  * the sf0.1 source, vs ~6.7k rows for a median user; orders is the
  * join control at this scale.
  *
  * Probes:
  *  - the four window movers (q_sessionize, q_window_running,
  *    q_rolling_median, q_ewma) run AS SHIPPED against the corpus —
  *    the straggler ratio quantifies what the hot key costs each;
  *    q_rolling_median partitions by event_type (cardinality 5), so it
  *    is coarse-partitioned at ANY corpus and its number is the
  *    baseline "window wider than the cluster" shape.
  *  - `running_twostage` — the prefix-sum decomposition of the per-user
  *    running total: chunk each user's series into day buckets, local
  *    running sums within (user, day) partitions, then per-chunk
  *    offsets by a second window over the chunk TOTALS (≤31 rows per
  *    user — metadata scale) joined back. Exact: decimal addition is
  *    associative, so local + offset equals the global prefix sum to
  *    the bit. The hot user's 1M-row indivisible partition becomes ~31
  *    divisible ones; checksum-compared against the plain plan.
  *  - the join control at 100×: unsalted no-AQE (the straggler),
  *    AQE skew-join (split partition counts visible as stage_tasks >
  *    shuffle.partitions), and the manual salt — checksum-compared.
  *
  *   sbt "runMain graft.SkewCentury /root/testdata/sf0.1 /tmp/graft_skewc100"
  */
object SkewCentury {

  /** The q_window_running cores WITHOUT the presentation limit (the
    * probe must execute — and checksum — the full window output). Thin
    * wrappers over the single ops implementations (r18 lesson:
    * duplicated harness code drifts). */
  def runningPlain(s: SparkSession, d: String): DataFrame =
    ops.Relational.runningPlain(api.tbl(s, d, "events"))

  def runningTwoStage(s: SparkSession, d: String): DataFrame =
    ops.Relational.runningTwoStage(api.tbl(s, d, "events"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = if (args.length > 1) args(1) else "/tmp/graft_skewc100"
    val out = if (args.length > 2) args(2) else "SKEW_AUDIT_CENTURY.json"
    val spark = Tools.session(32)
    Corpus.build(spark, src, dest, Corpus.skewCentury(100))
    val ev = api.tbl(spark, dest, "events")
    val total = ev.count()
    val hot = ev.groupBy("user_id").count().orderBy(col("count").desc).head
    println(s"corpus: $total events, hot user ${hot.getLong(0)} owns " +
      s"${hot.getLong(1)} rows (${hot.getLong(1) * 100 / total}%)")

    def shipped(name: String): (SparkSession, String) => DataFrame =
      (s, d) => SparkEntry.queries(name)(s, d)

    import SkewHarness.{noAqe, noBcast}
    // skewedPartitionFactor 2 (default 5): the fixture's hot partition
    // is ~3× the median — cluster-real skew at this corpus size — while
    // the 5× default targets pathological partitions; thresholds scaled
    // to the fixture as in SkewAudit. Split evidence shows up as
    // stage_tasks > shuffle.partitions in the join stage.
    val aqeSkew = noBcast ++ Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

    // since r19 the SHIPPED q_sessionize / q_ewma / q_window_running run
    // the skew-immune rewrites; each group pairs the shipped plan with
    // the retired naive window so the probe keeps measuring both sides
    val results = SkewHarness.run(spark, dest, Seq(
      ("sessionize", "q_sessionize", Map.empty, shipped("q_sessionize")),
      ("sessionize", "sessionize_plain", Map.empty,
        (s, d) => graft.ops.Pipeline.sessionizePlain(api.tbl(s, d, "events"))),
      ("wrunning", "q_window_running", Map.empty, shipped("q_window_running")),
      ("rmedian", "q_rolling_median", Map.empty, shipped("q_rolling_median")),
      // the retired bare-event_type frame window (r20 rewrite pair) —
      // the group checksum doubles as a 10M-row equality proof
      ("rmedian", "rmedian_plain", Map.empty,
        (s, d) => graft.ops.Extras.rollingMedianReported(
          graft.ops.Extras.rollingMedianPlain(api.tbl(s, d, "events")))),
      ("ewma", "q_ewma", Map.empty, shipped("q_ewma")),
      ("ewma", "ewma_plain", Map.empty,
        (s, d) => graft.ops.Extras.ewmaOf(api.tbl(s, d, "events"))),
      ("running", "running_plain", Map.empty, runningPlain),
      ("running", "running_twostage", Map.empty, runningTwoStage),
      ("join", "join_smj_noaqe", noAqe, SkewAudit.joinShufflePlan),
      ("join", "join_smj_aqe", aqeSkew, SkewAudit.joinShufflePlan),
      ("join", "join_salted", noAqe, SkewAudit.joinSaltedPlan)))

    Audit.write(java.nio.file.Paths.get(out),
      s""""sf":"$dest","total_events":$total,"hot_user_rows":${hot.getLong(1)}""", results)
    spark.stop()
  }
}

/** Evidence tool (r19, verdict item 4): skew on the gVCF axis. The
  * combine family's exchanges key on (contig, pos-bucket) and — in the
  * LONG format — every site multiplies into one row per covered sample,
  * so the realistic genomics skew is a hot CONTIG: one contig owning
  * half the cohort's sites (a dense region / chr1-style length skew).
  * SkewCentury's user-key audit cannot see this axis; this probe plants
  * it directly in the cohort generator.
  *
  * Corpus: the [[graft.ops.Gvcf.syntheticVariantsWide]] scheme with the
  * contig assignment generalized — `hotTenths`/10 of all positions land
  * on `chr00`, the rest round-robin over `nContigs` cold contigs. At
  * the probe's 50% heat and 20 contigs, a hot-contig (contig, bucket)
  * key carries ~10× a cold one's rows. The UNIFORM control is the same
  * corpus at hotTenths = 0 — same total rows, flat contigs — so a
  * straggler ratio that holds between the two runs is the bucketing
  * absorbing the heat, not fixture luck.
  *
  * Probes [[graft.ops.Gvcf.combineLong]] and
  * [[graft.ops.Gvcf.genotypeLong]] (the formats unbounded cohorts
  * actually take — the dense path is width-capped by admission): if the
  * (contig, pos-bucket) exchanges absorb a hot contig (every bucket is
  * its own key, and a window partition is one SITE's rows — cohort
  * width, not contig share), stragglers stay flat; a >2× ratio means
  * the bucket scheme needs a rewrite.
  *
  *   sbt "runMain graft.GvcfSkew SKEW_AUDIT_r19_gvcf.json"
  */
object GvcfSkew {
  import graft.ops.Gvcf

  /** [[graft.ops.Gvcf.syntheticVariantsWide]] with a contig-skew dial
    * (hotTenths in [0, 10]: that share of positions on chr00, the rest
    * round-robin over `nContigs` cold contigs), so the two corpora differ
    * only in `contig`. hotTenths = 0 is the uniform control. */
  def skewCohort(s: SparkSession, nSamples: Long, nPositions: Long,
      nContigs: Int, hotTenths: Int): DataFrame = {
    val j = "((start - 1) DIV 10)"
    // cold contig from a DENSE cold-position ordinal, not raw j: j %
    // nContigs over the surviving (j % 10 >= hotTenths) positions would
    // visit only nContigs/2 contigs at hotTenths=5 and silently halve the
    // probed hot:cold ratio
    Gvcf.syntheticVariantsWide(s, nSamples, nPositions).withColumn("contig", expr(
      s"CASE WHEN $j % 10 < $hotTenths THEN 'chr00' ELSE concat('chr', " +
        s"1 + ($j DIV 10 * (10 - $hotTenths) + $j % 10 - $hotTenths) % $nContigs) END"))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SKEW_AUDIT_GVCF.json")
    val spark = Tools.session(Tools.envCpus)
    val (nSamples, nPositions, nContigs) = (3000L, 12000L, 20)
    def cohort(hotTenths: Int) =
      skewCohort(spark, nSamples, nPositions, nContigs, hotTenths)
    // sanity: the hot corpus really concentrates half the sites
    val hotShare = cohort(5).filter(col("kind") === "site")
      .select("contig", "start").distinct()
      .groupBy("contig").count().orderBy(col("count").desc).head
    // denominator: every position carries a site-kind record for ~2/3 of
    // samples, so distinct site POSITIONS ≈ all nPositions — not 2/3
    println(s"hot contig ${hotShare.getString(0)} owns ${hotShare.getLong(1)} " +
      s"of $nPositions site positions")
    // uniform and hot are different corpora: no checksum group
    val results = Audit.runAll(spark)(Seq(
      ("combine_long_uniform", Map.empty, () => Gvcf.combineLong(cohort(0))),
      ("combine_long_hot", Map.empty, () => Gvcf.combineLong(cohort(5))),
      ("genotype_long_uniform", Map.empty,
        () => Gvcf.genotypeLong(Gvcf.withPl(cohort(0)))),
      ("genotype_long_hot", Map.empty,
        () => Gvcf.genotypeLong(Gvcf.withPl(cohort(5)))))).map(_.get)
    Audit.write(java.nio.file.Paths.get(out),
      s""""samples":$nSamples,"positions":$nPositions,"contigs":$nContigs,""" +
        s""""hot_contig_sites":${hotShare.getLong(1)}""", results)
    spark.stop()
  }
}
