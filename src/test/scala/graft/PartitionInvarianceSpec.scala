package graft

import org.apache.spark.sql.DataFrame

/** Determinism under re-planning: every query here must return a
  * BIT-IDENTICAL row multiset when the physical execution changes
  * underneath it — different shuffle partition count, different
  * parquet scan splits, and AQE disabled entirely (so none of the
  * runtime re-planning the default config performs). This is the
  * failure class that stays invisible on a fixed local[32] layout and
  * surfaces only on a real cluster, where executor counts, speculative
  * re-runs, and AQE decisions vary run to run: order-dependent float
  * accumulation, tie-breaks that lean on partition order, sketches
  * whose merge isn't commutative, "stable" sorts that aren't.
  *
  * The subset is every query whose plan carries one of the risk
  * markers: floating-point aggregation, top-k/limit with potential
  * ties, iterative or driver-side stages, sketch merges, hash-based
  * sampling/selection, or ordered string aggregation. Purely integer
  * relational queries (already pinned by the dual oracle gates) are
  * left out to keep the suite fast.
  *
  * Values are canonicalized per cell — doubles/floats by raw IEEE
  * bits, so a -0.0/0.0 or NaN-payload flip between configs is a
  * failure, not a tolerance — and rows compared as a sorted multiset
  * (the driver's own compare is order-insensitive; row ORDER may
  * legitimately differ on ties).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The re-planned world: AQE off (no coalescing, no skew splitting,
    * no runtime join swaps), a prime shuffle width that matches no
    * data cardinality, and scan splits small enough to cut the tiny
    * sf0.001 files differently. */
  private val Alt = Map(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "262144",
    "spark.sql.files.openCostInBytes" -> "16384")

  private def withConfs[A](kv: Map[String, String])(body: => A): A = {
    val prev = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case null                 => "∅"
      case d: java.lang.Double  => "D" + java.lang.Double.doubleToLongBits(d)
      case f: java.lang.Float   => "F" + java.lang.Float.floatToIntBits(f)
      case b: Array[Byte]       => "B" + java.util.Base64.getEncoder.encodeToString(b)
      case x                    => x.toString
    }.mkString("|")).sorted

  private def firstDiff(a: Seq[String], b: Seq[String]): String = {
    val onlyA = a.diff(b).take(3)
    val onlyB = b.diff(a).take(3)
    s"rows ${a.size} vs ${b.size}; only-default: ${onlyA.mkString("; ")}; " +
      s"only-replanned: ${onlyB.mkString("; ")}"
  }

  private val Subset = Seq(
    // embedding similarity / ANN / iterative
    "q_similarity_topk", "q_ann_ivf", "q_ann_lsh", "q_ann_recall",
    "q_kmeans_iter", "q_centroid_by_label", "q_centroid_pairs",
    "q_knn_classify", "q_mmr_rerank", "q_dedup_embed",
    "q_embed_quantize", "q_similarity_quantized", "q_embed_truncate",
    // sketches (merge commutativity)
    "q_distinct_kmv", "q_kmv_merge", "q_sketch_cms",
    "q_quantile_sketch", "q_heavy_hitters",
    // graph / iterative
    "q_pagerank", "q_graph_reach", "q_triangle_count",
    // near-dup candidate generation + clustering
    "q_dedup_near", "q_dedup_simhash", "q_dedup_ngram",
    "q_dedup_editdist", "q_dedup_cluster", "q_cluster_rep",
    "q_corpus_clean", "q_chunk_dedup", "q_prefix_dedup",
    // hash-based sampling / selection
    "q_mix_sample", "q_stratified_sample", "q_sample_split",
    "q_decontaminate", "q_contamination",
    // floating-point statistics
    "q_corr_stats", "q_chi_square", "q_ks_drift", "q_source_drift",
    "q_ewma", "q_rolling_median", "q_anomaly_hours", "q_percentile",
    "q_summary_stats", "q_histogram",
    // ranking / scoring / ordered string aggregation
    "q_string_agg", "q_topk", "q_topk_per_group", "q_lateral_topk",
    "q_hybrid_rrf", "q_bm25", "q_tfidf", "q_lm_score",
    "q_token_entropy", "q_inverted_index", "q_feature_hash",
    // windows with tie potential / sessionization / multi-stage prefix sums
    "q_window_ntile", "q_window_range", "q_window_frame",
    "q_funnel", "q_session_paths", "q_sessionize", "q_seq_pack",
    // gVCF allele-merge order sensitivity. The wide trio rides along
    // since r16's collect_set rework: the merged-alt union now passes
    // through a hash-set buffer whose iteration order is arbitrary, and
    // the wide cohort is where those sets are largest — the final
    // array_sort must make the output independent of it under any
    // re-planning.
    "q_combine_merge", "q_genotype_gvcf", "q_merge_bands",
    "q_combine_wide", "q_genotype_wide", "q_export_wide",
    // r18: the width-dispatched combine (dense route at this sf)
    "q_combine_auto")

  /** `GRAFT_INVARIANCE_ALL=true sbt "testOnly graft.PartitionInvarianceSpec"`
    * widens the gate to EVERY registered query — the exhaustive one-off
    * drive (recorded in SCALE.md); the default risk-marked subset keeps
    * the CI suite fast. */
  private def gateSet: Seq[String] =
    if (sys.env.get("GRAFT_INVARIANCE_ALL").contains("true"))
      SparkEntry.queries.keys.toSeq.sorted
    else Subset

  test("the r18 rewrite operators are re-planning invariant (non-query APIs)") {
    // the hot-key window rewrites and the long-format combine/genotype
    // paths are APIs, not registered queries, so the query gate above
    // never re-plans them — drive each under both configs directly.
    // They are exactly this spec's risk class: multi-stage prefix sums
    // with arithmetic merges (tie-breaks), top-k frames, and the
    // long-format rows whose dense reassembly elsewhere depends on
    // their values being layout-independent.
    val skewDir =
      Corpus.build(spark, sf, s"${scratchDir("graft_skewc_test")}/c", Corpus.skewCentury(3))
    val plans: Seq[(String, () => DataFrame)] = Seq(
      "sessionizeSegmented" ->
        (() => ops.Pipeline.sessionizeSegmented(api.tbl(spark, skewDir, "events"))),
      "runningTwoStage" ->
        (() => ops.Relational.runningTwoStage(api.tbl(spark, skewDir, "events"))),
      "ewmaLastK" -> (() => ops.Extras.ewmaLastK(api.tbl(spark, skewDir, "events"))),
      "combineLong" ->
        (() => ops.Gvcf.combineLong(ops.Gvcf.syntheticVariants(spark, 300L))),
      "genotypeLong" ->
        (() => ops.Gvcf.genotypeLong(ops.Gvcf.syntheticVariantsPl(spark, 300L))))
    for ((n, p) <- plans) {
      val base = canon(p())
      val alt = withConfs(Alt)(canon(p()))
      assert(base == alt, s"$n: ${firstDiff(base, alt)}")
    }
  }

  test("the gate itself detects a partition-leaking result (negative control)") {
    // A query whose output leaks the physical partitioning MUST differ
    // between the two configs — if this stops failing, the harness has
    // gone blind (e.g. the Alt confs stopped taking effect), and every
    // green above is vacuous.
    import org.apache.spark.sql.functions.{col, count, lit, spark_partition_id}
    def leaky() = spark.range(0, 1000).toDF("id")
      .repartition(col("id"))
      .select(spark_partition_id().as("pid")).distinct()
      .agg(count(lit(1)).as("n_parts"))
    val base = canon(leaky())
    val alt = withConfs(Alt)(canon(leaky()))
    assert(base != alt,
      s"negative control did not trip: both configs returned $base — " +
        "the Alt confs are no longer changing the physical plan")
  }

  test("connected-components labels are re-planning invariant without the cache") {
    // q_dedup_cluster and friends read cluster labels through a
    // JVM memo + fingerprint-keyed parquet cache, so the registered
    // query is served the SAME materialization under both configs and
    // the gate above never re-plans the iterative component build —
    // exactly the tie-break-sensitive computation this spec exists to
    // check. Drive it UNcached: build the labels directly under each
    // config and compare.
    import graft.ops.Dedup
    val docs = graft.api.tbl(spark, sf, "documents")
    def labels() = Dedup.connectedComponents(
      docs.select("doc_id"), Dedup.candidateEdges(docs))
    val base = canon(labels())
    val alt = withConfs(Alt)(canon(labels()))
    assert(base == alt,
      s"component labels changed under re-planning: ${firstDiff(base, alt)}")
  }

  test("risk-marked queries are bit-identical under AQE-off re-planning") {
    GraftExtensions.register(spark)
    val set = gateSet
    val missing = set.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown queries in subset: $missing")
    val failures = set.flatMap { name =>
      val q = SparkEntry.queries(name)
      val base = canon(q(spark, sf))
      val alt = withConfs(Alt)(canon(q(spark, sf)))
      if (base == alt) None else Some(s"$name: ${firstDiff(base, alt)}")
    }
    assert(failures.isEmpty,
      s"results changed under re-planning:\n  ${failures.mkString("\n  ")}")
  }
}
