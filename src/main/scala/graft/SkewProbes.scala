package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.Gvcf

/** The hot-key probe sets of [[Audit]]: how the engine's plans behave
  * when one key is genuinely hot, the axis the uniform TPC-H-style
  * fixtures never exercise. Every probe of a group computes one logical
  * result under a different physical strategy, and `Audit` fails the run
  * if a group's checksums differ, so timings only count once the
  * strategies agree. The straggler signal is the `Audit.measure`
  * record's longest task against the median task of its stage.
  *
  *   sbt "runMain graft.Corpus skew10 <src> <dir>"  then  "runMain graft.Audit <dir> @skew"
  *   sbt "runMain graft.Corpus skewc <src> <dir>"   then  "runMain graft.Audit <dir> @skewc"
  *   sbt "runMain graft.Audit <any sfDir> @gvcf_skew"
  *
  * SkewSpec pins each group's equality and the plan facts the findings
  * below rest on at test scale. */
object SkewProbes {

  private val NSalt = 8

  /** Broadcast joins off, so a join shuffles on its key. */
  private val noBcast = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** [[noBcast]] with AQE off: no runtime skew split or re-plan. */
  private val noAqe = noBcast + ("spark.sql.adaptive.enabled" -> "false")

  private def cents(c: String) =
    expr(s"CAST(round(CAST($c AS DECIMAL(18,4)) * 100, 0) AS BIGINT)")

  /** The one logical join result all join strategies must produce. */
  private def rollup(joined: DataFrame): DataFrame =
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("spend_cents"))

  private def ordersSlim(spark: SparkSession, d: String): DataFrame =
    api.tbl(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), cents("o_totalprice").as("cents"))

  private def customerSlim(spark: SparkSession, d: String): DataFrame =
    api.tbl(spark, d, "customer").select(col("c_custkey"), col("c_mktsegment"))

  def joinBroadcastPlan(s: SparkSession, d: String): DataFrame =
    rollup(ordersSlim(s, d).join(broadcast(customerSlim(s, d)),
      col("o_custkey") === col("c_custkey")))

  def joinShufflePlan(s: SparkSession, d: String): DataFrame =
    rollup(ordersSlim(s, d).join(customerSlim(s, d), col("o_custkey") === col("c_custkey")))

  /** Key-only rollup: no payload survives column pruning, so the fact
    * shuffle is pure hot-key bytes. */
  private def rollupKeyOnly(joined: DataFrame): DataFrame =
    joined.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))

  def joinKeyOnlyShufflePlan(s: SparkSession, d: String): DataFrame =
    rollupKeyOnly(ordersSlim(s, d).drop("cents").join(customerSlim(s, d),
      col("o_custkey") === col("c_custkey")))

  /** `fact` salted from its UNIQUE column, which spreads the hot join key
    * over [[NSalt]] shuffle partitions, joined to the dim replicated
    * NSalt× (cheap: dim ≪ fact). */
  private def saltedJoin(fact: DataFrame, s: SparkSession, d: String): DataFrame = {
    val salted = fact.withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(NSalt)))
    val dim = customerSlim(s, d).withColumn("salt", explode(sequence(lit(0L), lit(NSalt - 1L))))
    salted.join(dim, col("o_custkey") === col("c_custkey") && salted("salt") === dim("salt"))
  }

  def joinKeyOnlySaltedPlan(s: SparkSession, d: String): DataFrame =
    rollupKeyOnly(saltedJoin(ordersSlim(s, d).drop("cents"), s, d))

  def joinSaltedPlan(s: SparkSession, d: String): DataFrame =
    rollup(saltedJoin(ordersSlim(s, d), s, d))

  def aggPlan(s: SparkSession, d: String): DataFrame =
    ordersSlim(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("spend_cents"))

  def countDistinctNative(s: SparkSession, d: String): DataFrame =
    api.tbl(s, d, "orders").groupBy("o_custkey")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"))

  def countDistinctRewrite(s: SparkSession, d: String): DataFrame =
    api.tbl(s, d, "orders").select("o_custkey", "o_orderkey").distinct()
      .groupBy("o_custkey").agg(count(lit(1)).cast(LongType).as("n_orders"))

  private val topkOrder: Seq[Column] = Seq(col("cents").desc, col("o_orderkey").asc)

  def topkWindow(s: SparkSession, d: String): DataFrame =
    ordersSlim(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(topkOrder: _*)))
      .filter(col("rn") <= 3).drop("rn")

  def topkSalted(s: SparkSession, d: String): DataFrame = {
    val local = ordersSlim(s, d)
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(NSalt)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"), col("salt")).orderBy(topkOrder: _*)))
      .filter(col("rn") <= 3).drop("rn", "salt")
    local
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(topkOrder: _*)))
      .filter(col("rn") <= 3).drop("rn")
  }

  /** `@skew`, over [[Corpus.skew10]] (30% of orders ×10 on ONE hot
    * customer: at the sf0.1 source ~450k of 1.5M orders on one key,
    * against a ~33k-row median hash partition).
    *
    *  - `join_*`: orders⋈customer rolled up by c_mktsegment. `broadcast`
    *    is the default plan and immune to probe-side skew; `smj_noaqe` is
    *    what a too-big-to-broadcast dim degrades to (one straggler);
    *    `smj_aqe` lets AQE's skew join split the hot partition
    *    (thresholds scaled to the fixture's ~7 MB hot partition, the
    *    factor at its default); `salted` is q_join_salted's manual 8-way
    *    salt, which works with AQE off.
    *  - `joink_*`: the same join key-only, so the fact shuffle carries
    *    just the hot key, whose identical values compress under the skew
    *    threshold. AQE judges skew from compressed map-output sizes, so
    *    it misses the partition and the straggler survives; the salt
    *    needs no statistics. (Also why `Audit.measure` executes at full
    *    width: `Dataset.count()` would prune the payload probes into
    *    this shape.)
    *  - `agg_partial`: partial aggregation alone flattens a hot groupBy.
    *  - `cd_*`: both flat. Spark's planner already exchanges a distinct
    *    aggregate on the compound (key, member) key and partial-counts
    *    before the per-key exchange; the manual rewrite is only for
    *    engines without that rule.
    *  - `topk_*`: top-3 per key. The plain window is already flat: Spark
    *    plans a PARTIAL map-side WindowGroupLimit before the exchange, so
    *    the hot key arrives pre-cut; the salted two-stage window measures
    *    worse (one more shuffle). */
  val decade: Seq[Probe] = {
    val aqeSkew = noBcast ++ Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    Seq(
      Probe("join_broadcast", "join", Map.empty, joinBroadcastPlan),
      Probe("join_smj_noaqe", "join", noAqe, joinShufflePlan),
      Probe("join_smj_aqe", "join", aqeSkew, joinShufflePlan),
      Probe("join_salted", "join", noAqe, joinSaltedPlan),
      Probe("joink_smj_noaqe", "joink", noAqe, joinKeyOnlyShufflePlan),
      Probe("joink_smj_aqe", "joink", aqeSkew, joinKeyOnlyShufflePlan),
      Probe("joink_salted", "joink", noAqe, joinKeyOnlySaltedPlan),
      Probe("agg_partial", "agg", noAqe, aggPlan),
      Probe("cd_native", "cd", noAqe, countDistinctNative),
      Probe("cd_rewrite", "cd", noAqe, countDistinctRewrite),
      Probe("topk_window", "topk", noAqe, topkWindow),
      Probe("topk_salted", "topk", noAqe, topkSalted))
  }

  /** `@skewc`, over [[Corpus.skewCentury]] (events and orders ×100, 10%
    * of rows on ONE hot user / customer): the window-heavy movers, where
    * AQE cannot help. Skew-join splitting applies to joins only, and a
    * `PARTITION BY key` window partition is indivisible, so the fix is an
    * operator rewrite. Each shipped window query is grouped with the
    * naive window it replaced, so the probe measures both sides and its
    * checksum is a full-corpus equality proof; q_rolling_median
    * partitions by event_type (5 values) at any corpus. `running_*` is
    * the per-user running total without q_window_running's presentation
    * limit. `join_*` is the join control at 100×: AQE's splits show as
    * stage_tasks above shuffle.partitions (skewedPartitionFactor 2: the
    * fixture's hot partition is ~3× the median). */
  val century: Seq[Probe] = {
    def events(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
      (s, d) => f(api.tbl(s, d, "events"))
    val aqeSkew = noBcast ++ Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    Seq(
      Probe.query("q_sessionize"),
      Probe("sessionize_plain", "q_sessionize", Map.empty, events(ops.Pipeline.sessionizePlain)),
      Probe.query("q_window_running"),
      Probe.query("q_rolling_median"),
      Probe("rmedian_plain", "q_rolling_median", Map.empty,
        events(ev => ops.Extras.rollingMedianReported(ops.Extras.rollingMedianPlain(ev)))),
      Probe.query("q_ewma"),
      Probe("ewma_plain", "q_ewma", Map.empty, events(ops.Extras.ewmaOf)),
      Probe("running_plain", "running", Map.empty, events(ops.Relational.runningPlain)),
      Probe("running_twostage", "running", Map.empty, events(ops.Relational.runningTwoStage)),
      Probe("join_smj_noaqe", "join", noAqe, joinShufflePlan),
      Probe("join_smj_aqe", "join", aqeSkew, joinShufflePlan),
      Probe("join_salted", "join", noAqe, joinSaltedPlan))
  }

  /** [[Gvcf.syntheticVariantsWide]] with a contig-skew dial: `hotTenths`
    * tenths of the positions on chr00, the rest round-robin over
    * `nContigs` cold contigs, so corpora of different heat differ only in
    * `contig`. hotTenths = 0 is the uniform control. */
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

  /** `@gvcf_skew`: a hot CONTIG, the realistic genomics skew, on a
    * 3,000-sample × 12,000-position cohort it builds itself (the sfDir is
    * unused). Half the positions land on chr00, the rest over 20 cold
    * contigs, so a hot (contig, pos-bucket) key carries ~10× a cold one's
    * rows; `_uniform` is the same cohort with flat contigs. The long
    * formats are what unbounded cohorts take. If the (contig, pos-bucket)
    * exchanges absorb the heat, the straggler ratios of the two corpora
    * stay alike. Uniform and hot are different corpora, so every probe is
    * a group of its own. */
  val gvcf: Seq[Probe] = {
    def probe(name: String, hotTenths: Int)(plan: DataFrame => DataFrame) =
      Probe(name, name, Map.empty, (s, _) => plan(skewCohort(s, 3000L, 12000L, 20, hotTenths)))
    Seq(
      probe("combine_long_uniform", 0)(Gvcf.combineLong(_)),
      probe("combine_long_hot", 5)(Gvcf.combineLong(_)),
      probe("genotype_long_uniform", 0)(v => Gvcf.genotypeLong(Gvcf.withPl(v))),
      probe("genotype_long_hot", 5)(v => Gvcf.genotypeLong(Gvcf.withPl(v))))
  }
}
