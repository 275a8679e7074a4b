package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.when
import graft.ops._

/** Plan-shape assertions (SURVEY §5.2.4): the physical plans must carry
  * the scale properties §4 claims — pruned scans, pushed filters,
  * broadcast dimension joins, TakeOrdered top-k, and no nested-loop
  * interval joins. Runs against sf0.001. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(q: graft.api.Query): String =
    q.run(spark, sf).queryExecution.executedPlan.toString

  test("q_scan_project prunes columns at the parquet reader") {
    val p = plan(Relational.scanProject)
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "unprojected column leaked into the scan")
  }

  test("q_filter_range pushes the range predicate into the scan") {
    val p = plan(Relational.filterRange)
    assert(p.contains("PushedFilters") &&
      (p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate")),
      s"no pushed filter on l_shipdate in:\n${p.take(2000)}")
  }

  test("q_join_broadcast uses broadcast hash joins for both dims") {
    val p = plan(Relational.joinBroadcast)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "dimension joins did not broadcast")
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.topk)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_join_interval avoids nested-loop joins (bucketed range join)") {
    val p = plan(Combine.joinInterval)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join fell back to a nested-loop strategy")
  }

  test("q_similarity_topk broadcasts the probe and takes ordered top-k") {
    val p = plan(Similarity.similarityTopk)
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "probe join must not shuffle the corpus")
  }

  test("q_tpch_q5 broadcasts all three dimensions") {
    val p = plan(Relational.tpchQ5)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "supplier/nation/region joins did not all broadcast")
  }

  test("q_asof_join is a single-shuffle union window (no join node)") {
    val p = plan(Combine.asofJoin)
    assert(!p.contains("Join"), "as-of should be union+window, not a physical join")
    assert(p.contains("Window") && p.contains("Union"))
  }

  test("q_partition_prune turns the year predicate into partition filters") {
    val p = plan(Sources.partitionPrune)
    assert(p.contains("PartitionFilters: [") &&
      (p.contains("(y") || p.contains("y#")),
      s"year filter did not reach PartitionFilters:\n${p.take(1500)}")
  }

  test("exact-dedup window exchange ships digests, never document text") {
    // q_dedup_exact / cleanReasons window on md5(lower(trim(text))):
    // the scan reads text (to hash it), but the columns crossing the
    // window's exchange must be the 16-byte digest + survivors — at
    // 100 TB this is the difference between shuffling digests and
    // shuffling the corpus.
    for (q <- Seq(Pipeline.dedupExact, Dedup.corpusClean)) {
      val df = q.run(spark, sf)
      df.count()
      val wins = flattenPlan(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, s"${q.name}: expected a WindowExec")
      val shipped = wins.flatMap(_.child.output.map(_.name))
      assert(!shipped.contains("text"),
        s"${q.name}: dedup window exchange carries full document text: $shipped")
    }
  }

  test("simhash signatures are per-row folds: no aggregate node, no exchange") {
    val p = Dedup.simhashHexSignatures(graft.api.tbl(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "signature computation regressed to a wide aggregate (r2 29.6s plan)")
    assert(!p.contains("Exchange"),
      "the per-row kernel needs no exchange (the r14 shape shuffled per-doc buffers)")
  }

  test("LSH candidate generation scans the corpus ONCE (no self-join recompute)") {
    // bucket-local pair expansion (r8): a bands/chunks self-join makes
    // AQE broadcast one side and re-run the whole signature pipeline per
    // side — locked in by counting parquet scans in the executed plan.
    for (q <- Seq(Dedup.dedupNear, Dedup.dedupSimhash)) {
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"${q.name}: expected 1 corpus scan, got $scans")
    }
  }

  test("LSH banding runs inside whole-stage codegen (no interpreted Generate)") {
    // An interpreted banding lambda (CodegenFallback) puts its Generate
    // outside every codegen stage and splits the signature pipeline into
    // two generated classes per side. q_dedup_ngram's banding runs in
    // its checkpointed candidate frame, so that frame is checked too.
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan,
      WholeStageCodegenExec}
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case n => n +: n.children.flatMap(inStage)
    }
    val banded = Seq(
      "q_dedup_near" -> Dedup.dedupNear.run(spark, sf),
      "q_dedup_simhash" -> Dedup.dedupSimhash.run(spark, sf),
      "q_dedup_ngram candidates" -> Dedup.ngramCandidates(graft.api.tbl(spark, sf, "documents")))
    for ((name, df) <- banded :+ ("q_dedup_ngram" -> Dedup.dedupNgram.run(spark, sf))) {
      df.collect()
      val nodes = flattenPlan(df.queryExecution.executedPlan)
      val staged = nodes.collect { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
      val generates = nodes.collect { case g: GenerateExec => g }
      if (banded.exists(_._1 == name))
        assert(generates.exists(_.generator.prettyName == "posexplode"),
          s"$name: no banding posexplode in the executed plan")
      val outside = generates.filterNot(g => staged.exists(_ eq g))
      assert(outside.isEmpty, s"$name: Generate outside whole-stage codegen: " +
        outside.map(_.generator.prettyName).mkString(", "))
    }
  }

  test("labelComponents' edge checkpoint plans a single final aggregate") {
    // both edge orientations come from one plan of the candidate edges;
    // a union of two selects planned the edges' final distinct twice
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val docs = graft.api.tbl(spark, sf, "documents")
    val e2 = Dedup.symmetricEdges(Dedup.candidateEdges(docs))
    e2.collect()
    val finals = flattenPlan(e2.queryExecution.executedPlan).collect {
      case h: HashAggregateExec if h.requiredChildDistributionExpressions.isDefined => h
    }
    assert(finals.size == 1, s"expected 1 final aggregate, got ${finals.size}")
  }

  test("genotypeGvcf plans the coverage join as equi-join (no nested loop)") {
    val p = plan(Gvcf.genotypeGvcfQuery)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval coverage fell back to a nested loop:\n${p.take(1500)}")
  }

  test("combine/genotype evaluate the coverage subtree exactly once (r14 window rework)") {
    // The merged allele union is a whole-partition window over the ONE
    // shuffled copy of the coverage rows. The pre-r14 shape aggregated a
    // second copy of the coverage join and merge-joined it back, so the
    // record bucket-explode Generate — the corpus-scale stage — appeared
    // TWICE in the plan. Locked in by counting that Generate.
    for (q <- Seq(Gvcf.combineMerge, Gvcf.genotypeGvcfQuery, Gvcf.siteStats)) {
      val p = plan(q)
      val covGenerates = "explode\\(sequence\\(\\(start".r.findAllIn(p).length
      assert(covGenerates == 1,
        s"${q.name}: expected 1 coverage bucket-explode, got $covGenerates")
    }
  }

  test("combineLong plans the SAME shuffles as the dense combine, minus the width aggregate") {
    // the long format must not add exchanges: one coverage bucket-explode
    // Generate, no nested loop, and NO width-sized collect_list in any
    // aggregate (the dense path's per-site calls assembly) — per-row
    // projections only above the shared window exchange.
    val p = Gvcf.combineLong(Gvcf.syntheticVariants(spark, 300L))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert("explode\\(sequence\\(\\(start".r.findAllIn(p).length == 1,
      "coverage subtree must be evaluated exactly once")
    // the dense path's width-sized per-site aggregate is
    // collect_list(struct(i, sample_idx …)); the only collect_list a long
    // plan may carry is sampleNameIndex's one-row cohort array (the
    // documented broadcast build)
    assert(!p.contains("collect_list(struct(i, sample_idx"),
      "long format must carry no width-sized per-site calls aggregate")
    val dense = Gvcf.combineSites(Gvcf.syntheticVariants(spark, 300L))
      .queryExecution.executedPlan.toString
    assert(dense.contains("collect_list(struct(i, sample_idx"),
      "pin drifted: the dense plan no longer shows the width aggregate " +
        "this test distinguishes against")
  }

  test("q_funnel scans the events fact exactly once (window funnel, no join cascade)") {
    val p = plan(Extras.funnel)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"funnel re-scans the fact table: $scans scans")
  }

  test("IVF search prunes the index scan to the probed buckets (DPP)") {
    val p = ops.Ivf.search(spark, sf, probeVecId = 0L, nprobe = 2, k = 10)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"bucket join did not become a dynamic partition pruning filter:\n${p.take(2000)}")
  }

  test("q_bucketed_join is shuffle-free: SMJ with only the agg exchange") {
    val df = Sources.bucketedJoin.run(spark, sf)
    df.count() // execute so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"bucketed join introduced a shuffle on a join side:\n${p.take(2500)}")
  }

  test("q_tpch_q7 broadcasts all four dimension roles") {
    val p = plan(Relational.tpchQ7)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "customer/supplier/nation-role joins did not all broadcast")
  }

  test("q_similarity_quantized uses the codegen'd dotl + TakeOrdered") {
    val p = plan(Similarity.similarityQuantized)
    assert(p.contains("graft_dotl"), "integer dot not the native expression")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "probe join must not shuffle the corpus")
  }

  test("aggregates are partial+final (map-side combine present)") {
    val p = plan(Relational.aggCountByKey)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "no partial aggregation in count-by-key")
  }

  test("q_bloom_prefilter applies the bloom membership below the semi join") {
    val p = plan(Extras.bloomPrefilter)
    val bloomAt = p.indexOf("might_contain")
    assert(bloomAt >= 0, s"no bloom membership filter in plan:\n${p.take(2000)}")
    // the filter must be on the scan side, i.e. appear AFTER (deeper than)
    // the join operator line in the printed tree
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && bloomAt > joinAt,
      "bloom filter did not end up below the join (not prefiltering the scan)")
  }

  test("q_graph_reach plans the recursion as UnionLoop (no driver loop)") {
    val p = plan(Extras.graphReach)
    assert(p.contains("UnionLoop") || p.contains("Recursion"),
      s"recursive CTE did not plan as a loop operator:\n${p.take(2000)}")
  }

  test("q_share broadcasts the total (no single-partition global window)") {
    val p = plan(Extras.shareOfTotal)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"total not broadcast:\n${p.take(1500)}")
    assert(!p.contains("Window"), "percent-of-total regressed to a global window")
  }

  test("q_not_in_nulls plans the nullable branch as a null-aware anti join") {
    val p = plan(Extras.notInNulls)
    // the flag prints as the trailing boolean: BroadcastHashJoin [...],
    // LeftAnti, BuildRight, true  ← isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"NOT IN did not become a null-aware anti join:\n${p.take(2500)}")
  }

  test("q_gap_fill joins the spine without a cartesian product") {
    val p = plan(Extras.gapFill)
    assert(!p.contains("CartesianProduct"),
      s"spine join fell back to cartesian:\n${p.take(1500)}")
  }

  test("AQE splits a planted skewed join at runtime (skew=true in final plan)") {
    import spark.implicits._
    // ~95% of the left side lands on key 0 — one reducer partition would
    // carry the join. With test-scale thresholds AQE must mark and split
    // the skewed partition; at 100 TB the same mechanism fires with the
    // default 256 MB threshold (SCALE.md "what breaks first" item 2).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 200000)
        .select(when($"id" < 190000, 0L).otherwise($"id" % 100).as("k"), $"id".as("v"))
      val right = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("w"))
      // aggregate on the RIGHT side's column: re-using the join's own
      // hashpartitioning(k) downstream would forbid the skew split
      // (OptimizeSkewedJoin refuses to break a required distribution)
      val joined = left.join(right, "k").groupBy("w").count()
      joined.collect() // execute THIS dataset's QueryExecution so AQE finalizes
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${p.take(2500)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q_seq_pack packs within (lang, bucket) shards and broadcasts the boundary stitch") {
    val p = plan(Pipeline.seqPack)
    assert(p.contains("Window"))
    // every window must carry a partition spec — a GLOBAL window would
    // print `windowspecdefinition(<order> ASC` with no partition columns
    // and run single-task. (The plan's one SinglePartition exchange is
    // the 1-row max(doc_id) scalar aggregate — fine.)
    assert(!p.contains("windowspecdefinition(doc_id") &&
      !p.contains("windowspecdefinition(bucket"),
      s"unpartitioned window found:\n${p.take(2000)}")
    // the CORPUS cumsum must shard on (lang, bucket) — a lang-only window
    // bounds parallelism by language count (5), the r15 weak-for-scale plan
    assert(p.contains("hashpartitioning(lang") && p.contains("bucket"),
      s"corpus window must partition by (lang, bucket):\n${p.take(2000)}")
    // shard base offsets come back as a broadcast, never a corpus re-shuffle
    assert(p.contains("BroadcastHashJoin"),
      "boundary-stitch bases must broadcast onto the sharded corpus")
  }

  test("q_mix_sample's sampling pass is a broadcast-joined map-side filter") {
    val p = plan(Pipeline.mixSample)
    assert(p.contains("BroadcastHashJoin"), "keep_p table must broadcast to the corpus scan")
  }

  test("q_distinct_kmv aggregates with partial + final (map-side combine)") {
    val p = plan(Sketches.distinctKmv)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"))
    assert(!p.contains("CollectSet") && !p.contains("collect_set"),
      "KMV must use the bounded min-k aggregate, not collect_set")
  }

  test("q_ann_lsh never shuffles the corpus (broadcast probe + TakeOrdered)") {
    val p = plan(Similarity.annLsh)
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "LSH probe must broadcast, not shuffle the corpus")
  }

  test("q_tpch_q6 pushes all scan predicates and aggregates partial+final") {
    val p = plan(Relational.tpchQ6)
    assert(p.contains("PushedFilters") && p.contains("IsNotNull(l_shipdate"),
      s"no pushed filters in:\n${p.take(1500)}")
    assert(!p.contains("Join"), "Q6 must be join-free")
  }

  test("q_tpch_q14 and q_tpch_q19 broadcast the part dimension") {
    assert(plan(Relational.tpchQ14).contains("BroadcastHashJoin"))
    assert(plan(Relational.tpchQ19).contains("BroadcastHashJoin"))
  }

  test("q_bm25 broadcasts the 1-row stats side and takes ordered top-k") {
    val p = plan(Pipeline.bm25)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "corpus stats must broadcast back to the scoring pass")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "BM25 scoring must not shuffle the corpus")
  }

  test("q_rare_tokens broadcasts the rare vocab to the token stream") {
    val p = plan(Pipeline.rareTokens)
    assert(p.contains("BroadcastHashJoin"), "rare vocab must broadcast")
  }

  test("q_dedup_editdist computes distances on the reduced name domain") {
    val p = plan(Dedup.dedupEditDistance)
    assert(p.contains("TakeOrderedAndProject"))
    // the name-pair side joins back by broadcast — the 20k id table must
    // never be the probe side of a shuffle for this tiny-domain pattern
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "expand joins did not broadcast")
  }

  test("TPC-H exists/not-exists shapes plan as semi/anti joins (q4, q20, q21)") {
    // EXISTS → LeftSemi, NOT EXISTS → LeftAnti: row counts only ever
    // shrink through these joins, so the aggregate input stays bounded by
    // the driving side at any fact scale. A CartesianProduct here would
    // mean the non-equi residual (suppkey <>, shipdate >) fell off the
    // equi key and went quadratic.
    val p4 = plan(Relational.tpchQ4)
    assert(p4.contains("LeftSemi"), s"q4 EXISTS did not plan as semi join:\n${p4.take(1200)}")
    val p20 = plan(Relational.tpchQ20)
    assert("LeftSemi".r.findAllIn(p20).size >= 2,
      s"q20 nested INs did not stack two semi joins:\n${p20.take(1200)}")
    // q21 (r21): the EXISTS/NOT-EXISTS pair is rewritten as one
    // per-(order, supplier) aggregate + one per-order aggregate — no
    // semi/anti join remains, and lineitem is scanned/shuffled ONCE
    // (the r20 shape shuffled three lineitem-scale probes). Pin the
    // aggregate shape and that no join ever carries the fact twice.
    val p21 = plan(Relational.tpchQ21)
    assert(!p21.contains("LeftSemi") && !p21.contains("LeftAnti"),
      s"q21 regressed to the semi+anti shape:\n${p21.take(1200)}")
    assert("HashAggregate".r.findAllIn(p21).size >= 4,
      s"q21 one-pass aggregate shape missing:\n${p21.take(1200)}")
    for ((n, p) <- Seq("q4" -> p4, "q20" -> p20, "q21" -> p21))
      assert(!p.contains("CartesianProduct"), s"$n went quadratic")
  }

  test("TPC-H scalar-subquery shapes broadcast the 1-row side (q11, q15)") {
    // the global total / global max is a 1-row aggregate — it must come
    // back as a broadcast (nested-loop against one row is O(n)), never as
    // a shuffle or a driver collect.
    for ((n, q) <- Seq("q11" -> Relational.tpchQ11, "q15" -> Relational.tpchQ15)) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$n scalar side did not broadcast:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), s"$n went quadratic")
    }
  }

  test("q_tpch_q2 ranks suppliers per part in one window, no cartesian") {
    // the correlated-min decorrelates to a single row_number window over
    // the (part ⋈ distinct-shippers ⋈ supplier) join — one exchange on
    // p_partkey, never an all-pairs compare.
    val p = plan(Relational.tpchQ2)
    assert(p.contains("Window"), "rank-1 selection lost its window")
    assert(!p.contains("CartesianProduct"), "q2 went quadratic")
  }

  test("q_lm_score joins the per-doc tf frame, not the raw token stream") {
    // reduce-then-expand (VERDICT r12 task #3): the vocab join must see
    // only DISTINCT (doc, token) pairs — every token occurrence crossing
    // the join would make the shuffle Zipfian-skewed and super-linear at
    // corpus scale. Structurally: BOTH inputs of the token equi-join must
    // contain a token-grouped aggregate; an exploded Generate reaching
    // the join without an aggregate in between is the regression.
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin, SortMergeJoinExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val exec = Pipeline.lmScore.run(spark, sf).queryExecution.executedPlan
    val tokenJoins = flattenPlan(exec).collect {
      case j: SortMergeJoinExec if j.leftKeys.exists(_.toString.contains("token")) => j
      case j: HashJoin if j.leftKeys.exists(_.toString.contains("token")) => j
    }
    assert(tokenJoins.nonEmpty, "no token equi-join found in q_lm_score plan")
    for (j <- tokenJoins; (child, side) <- j.children.zip(Seq("left", "right"))) {
      val hasTfAgg = flattenPlan(child).exists {
        case a: BaseAggregateExec =>
          a.groupingExpressions.exists(_.toString.contains("token"))
        case _ => false
      }
      assert(hasTfAgg,
        s"$side side of the vocab join carries the raw exploded token " +
        s"stream (no token-grouped aggregate below the join):\n$child")
    }
  }

  test("q_inverted_index builds postings in two exchanges, topk without a global sort") {
    // the per-token aggregate must reuse the rank window's hash
    // partitioning on token — a third exchange means the postings build
    // re-shuffles the tf frame it just ranked (pure waste at index scale).
    val p = plan(Pipeline.invertedIndex)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"postings build should shuffle exactly twice (tf reduce + token window):\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), "df top-100 fell back to a global sort")
  }

  test("q_prefix_dedup clusters on one exchange and keeps the top-k sort bounded") {
    val p = plan(Pipeline.prefixDedup)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"prefix clustering should shuffle once, on the prefix key:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), "cluster top-200 fell back to a global sort")
  }

  test("q_chi_square broadcasts the K-row marginals back onto the cells") {
    // row/col/grand totals are aggregates OF the lang×source cell frame
    // (metadata scale) — they must come back as broadcasts; a sort-merge
    // join here would shuffle the cell frame three more times.
    val p = plan(Pipeline.chiSquare)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"marginal joins did not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"chi-square cells took a shuffle join:\n${p.take(2000)}")
  }

  test("q_source_drift pushes the source filter and shuffles tokens once") {
    // the two-source restriction must reach the parquet scan, and the
    // token frame is exchanged once; the (n1, n2) reduce of the
    // vocab-sized frame is the only other exchange.
    val p = plan(Pipeline.sourceDrift)
    assert(p.contains("PushedFilters") && p.contains("In(source"),
      s"source IN filter not pushed to the scan:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"drift should exchange tokens once + the vocab reduce once:\n${p.take(2000)}")
  }

  test("q_ks_drift pushes the source filter; cumulative window stays bounded") {
    // the two-source restriction reaches the scan; the ordered cumsum
    // runs over the distinct-length frame on a constant partition (the
    // pmod idiom) — two hash exchanges total (length reduce + window).
    val p = plan(Pipeline.ksDrift)
    assert(p.contains("PushedFilters") && p.contains("In(source"),
      s"source IN filter not pushed to the scan:\n${p.take(2000)}")
    assert(p.contains("Window"), "KS lost its cumulative window")
    // length reduce + the shared constant window key + the (n1, n2)
    // final reduce of the distinct-length frame = exactly three
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3,
      s"KS cumsum windows must share one exchange on the constant key:\n${p.take(2500)}")
  }

  test("q_rolling_median frame window keys on segments, never bare event_type") {
    // the r20 skew-immune shape: the frame window must partition on
    // (event_type, seg) — uniform segSize-row segments — with the only
    // other hash exchanges being the metadata-scale rank plumbing
    // ((event_type, day) local ranks + per-day count summaries). A
    // window partitioned on event_type ALONE with row-level input would
    // resurrect the ~5-indivisible-task plan (22.2 s at the 10M century
    // probe on 5 of 32 cores).
    val p = plan(Extras.rollingMedian)
    assert(p.contains("Window"), "rolling median lost its window")
    assert(p.contains("seg"), "rolling median lost the segment key")
    val windowLines = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("event_type")).toSeq
    assert(windowLines.forall(l => l.contains("seg") || l.contains("day")),
      s"a window still partitions on bare event_type:\n${windowLines.mkString("\n")}")
    // four hash exchanges by design: two row-level DIVISIBLE ones (the
    // (event_type, day) rank window; the (event_type, seg) frame
    // window) and two metadata-scale ones (day-count partial agg; the
    // per-day summary prefix window on bare event_type — ≤ days rows
    // per type). The offsets join back must be a broadcast.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      s"rolling median grew extra shuffles:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      "the rank-offset join back lost its broadcast")
  }

  test("q_corr_stats is one map-side-combined single-row aggregate") {
    // the whole corr matrix must come from one scan + one 9-number
    // reduce: a partial HashAggregate below the single-partition
    // exchange, and no hash-keyed exchange anywhere.
    val p = plan(Extras.corrStats)
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1 &&
      !p.contains("Exchange hashpartitioning"),
      s"corr sums should reduce through one single-partition exchange:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size == 2, "missing map-side partial aggregate")
  }
}
