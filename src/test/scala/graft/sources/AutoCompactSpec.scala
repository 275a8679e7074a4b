package graft.sources

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The r19 self-enforcing compaction cadence ([[AutoCompactPolicy]]):
  * the streaming sink itself must keep an OVERLAPPING-upsert store
  * inside its generation budget with no manual `compactMinor` call,
  * while an append-only DISJOINT ingest must never compact at all (the
  * measured r18 economics: reads there are flat at 400 generations via
  * manifest key pruning, so compaction is pure write amplification).
  *
  * Soak invariants (the StreamSoak contract, folded-world edition):
  *   1. live generation count never exceeds the threshold at any
  *      observable point (between epochs);
  *   2. at least one auto-fold actually fired (the budget bound is
  *      enforcement, not luck);
  *   3. folds preserve the raw row multiset and the resolved read —
  *      checked at every observed fold and at the end;
  *   4. the disjoint soak ends with exactly its written generations:
  *      zero folds, even far past the threshold.
  */
class AutoCompactSpec extends graft.SparkSpec {

  private val ddl = "key LONG, ver LONG, payload STRING"

  private def manifestFiles(dir: String): Set[String] =
    StoreManifest.readLines(java.nio.file.Paths.get(dir))
      .map(StoreManifest.parse(_).file).toSet

  private def rawRows(dir: String): Seq[(Long, Long, String)] = {
    val files = manifestFiles(dir)
    if (files.isEmpty) Seq.empty
    else spark.read.schema(ddl).parquet(files.map(f => s"$dir/$f").toSeq: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
  }

  private def resolved(dir: String): Seq[(Long, Long, String)] =
    VariantStore.readRange(spark, dir, ddl, Long.MinValue, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sortBy(r => (r._1, r._2, r._3))

  test("overlapping 400-epoch soak stays inside the generation budget " +
      "with no manual compact call") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = scratchDir("graft_autocompact").toString
    val dir = s"$root/store"
    val rnd = new scala.util.Random(20260815L)
    val input = MemoryStream[(Long, Long, String)]
    // default policy: enabled, threshold 64, keep 4 — nothing tuned
    val q = input.toDF().toDF("key", "ver", "payload")
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", dir).option("checkpointLocation", s"$root/chk")
      .outputMode("append").start()
    var log = Vector.empty[(Long, Long, String)]
    def reference(): Seq[(Long, Long, String)] =
      log.groupBy(_._1).values.map(_.maxBy(r => (r._2, r._3)))
        .filter(_._3 != VariantStore.Tombstone)
        .toSeq.sortBy(r => (r._1, r._2, r._3))
    var folds = 0
    var prevCount = 0
    try {
      for (epoch <- 1 to 400) {
        // every epoch hits keys in 0..19 — maximally overlapping ranges
        val rows = (0 until 1 + rnd.nextInt(3)).map(i =>
          (rnd.nextInt(20).toLong, epoch * 10L + i, s"p$epoch-$i"))
        input.addData(rows: _*)
        q.processAllAvailable()
        log = log ++ rows
        val count = manifestFiles(dir).size
        assert(count <= AutoCompactPolicy.DefaultThreshold,
          s"epoch $epoch: $count live generations exceeds the " +
            s"${AutoCompactPolicy.DefaultThreshold} budget — autocompact did not fire")
        if (count < prevCount) {
          // an auto-fold just happened inside the epoch commit: the
          // multiset and the resolved read must both have survived it
          folds += 1
          assert(rawRows(dir) == log.sorted,
            s"epoch $epoch: fold changed the raw row multiset")
          assert(resolved(dir) == reference(),
            s"epoch $epoch: fold changed the resolved read")
        }
        prevCount = count
      }
    } finally q.stop()
    assert(folds >= 2, s"400 overlapping epochs produced only $folds auto-folds")
    assert(rawRows(dir) == log.sorted, "final raw multiset diverged")
    assert(resolved(dir) == reference(), "final resolved read diverged")
  }

  test("disjoint append-only ingest is exempt: no fold even far past the threshold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = scratchDir("graft_autodisjoint").toString
    val dir = s"$root/store"
    val input = MemoryStream[(Long, Long, String)]
    // an aggressive threshold so the exemption, not the budget, is what
    // keeps the store uncompacted
    val q = input.toDF().toDF("key", "ver", "payload")
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", dir).option("checkpointLocation", s"$root/chk")
      .option("autocompact.threshold", "8")
      .outputMode("append").start()
    var log = Vector.empty[(Long, Long, String)]
    var seen = Set.empty[String]
    try {
      for (epoch <- 1 to 60) {
        // epoch k owns keys [100k, 100k+2] — pairwise-disjoint slices
        val rows = (0 until 3).map(i =>
          (epoch * 100L + i, epoch * 10L + i, s"d$epoch-$i"))
        input.addData(rows: _*)
        q.processAllAvailable()
        log = log ++ rows
        val files = manifestFiles(dir)
        assert(seen.subsetOf(files),
          s"epoch $epoch: a generation disappeared — a fold ran on disjoint ingest")
        seen = files
      }
    } finally q.stop()
    assert(seen.size >= 60, s"expected ≥60 live generations, got ${seen.size}")
    assert(rawRows(dir) == log.sorted, "disjoint soak multiset diverged")
  }

  test("a tuned threshold/keep is honored and the fold lands at the tuned size") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = scratchDir("graft_autotuned").toString
    val dir = s"$root/store"
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("key", "ver", "payload")
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", dir).option("checkpointLocation", s"$root/chk")
      .option("autocompact.threshold", "6").option("autocompact.keep", "2")
      .outputMode("append").start()
    var maxSeen = 0
    var dropped = false
    try {
      for (epoch <- 1 to 12) {
        input.addData((epoch % 5L, epoch.toLong, s"t$epoch")) // overlapping keys
        q.processAllAvailable()
        val count = manifestFiles(dir).size
        assert(count <= 6, s"epoch $epoch: tuned threshold ignored ($count gens)")
        if (count < maxSeen) dropped = true
        maxSeen = math.max(maxSeen, count)
      }
    } finally q.stop()
    assert(dropped, "tuned soak never folded")
    assert(manifestFiles(dir).size <= 6)
  }

  test("overlap sweep: touching, nested, and disjoint manifests classify correctly") {
    def e(f: String, mn: Long, mx: Long) =
      ManifestEntry(f, 1L, mn, mx, Long.MinValue, Long.MaxValue)
    def ov(es: ManifestEntry*): Boolean =
      AutoCompactPolicy.overlapping(AutoCompactPolicy.generationRanges(es))
    // inclusive key ranges: sharing exactly one key IS an overlap
    assert(ov(e("a", 0, 10), e("b", 10, 20)))
    assert(ov(e("a", 0, 100), e("b", 40, 60)))
    assert(ov(e("a", 0, 5), e("b", 20, 30), e("c", 25, 40)))
    assert(!ov(e("a", 0, 10), e("b", 11, 20)))
    assert(!ov(e("c", 200, 300), e("a", 0, 10), e("b", 11, 20)))
    assert(!ov(e("a", 0, 10)))
    assert(!AutoCompactPolicy.overlapping(Seq.empty))
    // the policy gate composes count AND overlap
    val p = AutoCompactPolicy(enabled = true, threshold = 2, keep = 1)
    assert(p.shouldCompact(Seq(e("a", 0, 10), e("b", 5, 20))))
    assert(!p.shouldCompact(Seq(e("a", 0, 10), e("b", 11, 20))))
    assert(!p.shouldCompact(Seq(e("a", 0, 10))))
    assert(!AutoCompactPolicy.Disabled.shouldCompact(
      Seq.tabulate(100)(i => e(s"g$i", 0, 10))))
  }

  test("per-GENERATION grouping: one epoch's hash-interleaved task files " +
      "are not workload overlap") {
    def e(f: String, mn: Long, mx: Long) =
      ManifestEntry(f, 1L, mn, mx, Long.MinValue, Long.MaxValue)
    // epoch e of a strictly append-only ingest, written by TWO writer
    // tasks whose hash-partitioned key subsets interleave: per-FILE the
    // ranges overlap, per-EPOCH they are disjoint slices
    def epochFiles(ep: Int): Seq[ManifestEntry] = Seq(
      e(f"gen-q-$ep%09d-part-00000-1-aaaaaaaa.parquet", ep * 100L, ep * 100L + 98),
      e(f"gen-q-$ep%09d-part-00001-2-bbbbbbbb.parquet", ep * 100L + 1, ep * 100L + 99))
    val entries = (1 to 10).flatMap(epochFiles)
    val gens = AutoCompactPolicy.generationRanges(entries)
    assert(gens.size == 10, s"20 task files must fold to 10 generations: $gens")
    assert(!AutoCompactPolicy.overlapping(gens),
      "disjoint epoch slices misclassified as overlapping")
    val p = AutoCompactPolicy(enabled = true, threshold = 8, keep = 4)
    assert(!p.shouldCompact(entries),
      "append-only multi-partition ingest must never auto-compact")
    // the threshold also counts GENERATIONS, not files: 10 overlapping
    // single-file generations at threshold 12 stay under budget even
    // though the file count (with a second task file each) is 20
    val upsert = (1 to 10).flatMap(ep => Seq(
      e(f"gen-q-$ep%09d-part-00000-1-cccccccc.parquet", 0L, 50L),
      e(f"gen-q-$ep%09d-part-00001-2-dddddddd.parquet", 51L, 99L)))
    assert(!AutoCompactPolicy(enabled = true, threshold = 12, keep = 4)
      .shouldCompact(upsert), "threshold must count generations, not files")
    assert(AutoCompactPolicy(enabled = true, threshold = 10, keep = 4)
      .shouldCompact(upsert), "10 overlapping generations at threshold 10 must fold")
    // non-stream names (batch loads, folds) each stay their own group —
    // conservative: overlap among them still reads as upsert
    val mixed = Seq(e("part-00000-7-ee.parquet", 0, 10), e("part-00001-8-ff.parquet", 5, 20))
    assert(AutoCompactPolicy.overlapping(AutoCompactPolicy.generationRanges(mixed)))
    // Long.MinValue is a LEGAL maxKey, not a sentinel: two generations
    // both holding key MinValue genuinely overlap (r19 review)
    assert(AutoCompactPolicy.overlapping(
      Seq((Long.MinValue, Long.MinValue), (Long.MinValue, 100L))))
    assert(!AutoCompactPolicy.overlapping(
      Seq((Long.MinValue, Long.MinValue), (Long.MinValue + 1, 100L))))
    // epoch numbering past 9 digits still parses (%09d widens)
    assert(StoreManifest.streamEpochOf(
      "gen-q-1000000005-part-00000-1-aa.parquet").contains(("q", 1000000005L)))
  }

  test("disjoint exemption holds END TO END with multi-partition epochs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = scratchDir("graft_autompart").toString
    val dir = s"$root/store"
    val input = MemoryStream[(Long, Long, String)]
    // repartition(2, key): each epoch lands as TWO hash-interleaved task
    // files — the per-file overlap that must NOT defeat the exemption
    val q = input.toDF().toDF("key", "ver", "payload")
      .repartition(2, col("key"))
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", dir).option("checkpointLocation", s"$root/chk")
      .option("autocompact.threshold", "8")
      .outputMode("append").start()
    var seen = Set.empty[String]
    var log = Vector.empty[(Long, Long, String)]
    try {
      for (epoch <- 1 to 20) {
        val rows = (0 until 6).map(i =>
          (epoch * 100L + i, epoch * 10L + i, s"m$epoch-$i"))
        input.addData(rows: _*)
        q.processAllAvailable()
        log = log ++ rows
        val files = manifestFiles(dir)
        assert(seen.subsetOf(files),
          s"epoch $epoch: a generation disappeared — a fold ran on " +
            "multi-partition disjoint ingest")
        seen = files
      }
    } finally q.stop()
    assert(seen.size >= 20, s"expected ≥20 files across epochs, got ${seen.size}")
    assert(rawRows(dir) == log.sorted, "multi-partition disjoint soak multiset diverged")
  }
}
