package graft.sources

import org.apache.spark.sql.functions._

/** Randomized RETENTION schedule differential — the deferred-vacuum
  * complement of SourceSpec's maintenance-race differential. The r15→r16
  * retention rework (retire-in-place, `_GRACE` policy, manifest-only
  * reads) has three load-bearing promises; this spec sweeps all of them
  * under a seeded random interleaving of every retention-relevant verb
  * (append, truncate, minor/major compaction, grace flips, vacuum,
  * snapshot) instead of the hand-built single-transition cases the
  * durability tests pin:
  *
  *   1. **Reads never see retired files.** The manifest is the only read
  *      surface, so the live view must match a driver-side reference
  *      built from the write log after EVERY event — regardless of how
  *      many de-manifested generations the grace window is holding.
  *   2. **Vacuum never eats a live file.** After every sweep, every
  *      manifest-listed generation still exists on disk.
  *   3. **Retention policy is honored both ways.** Zero grace ⇒ a
  *      retirement leaves no unreferenced data file behind (immediate
  *      reclaim); an explicit `vacuum(0)` ⇒ disk collapses to exactly
  *      manifest + sidecars; a LARGE grace ⇒ retired files survive a
  *      sweep (the non-blocking-read contract is not quietly violated
  *      by an over-eager cutoff), while reads stay reference-exact.
  *
  * A mid-schedule snapshot additionally asserts the clone is
  * self-contained (every cloned manifest line's file exists in the
  * clone), read-identical to the source at clone time, and carries the
  * source's retention policy (`_GRACE` travels — a clone of a
  * zero-grace scratch store must not silently inherit the 1 h default
  * and start hoarding retired files).
  *
  * The CI run drives ONE pinned seed, self-defending that every verb
  * fired. `GRAFT_RETENTION_SEEDS=n sbt "testOnly *RetentionSpec"` widens
  * the drive to n additional derived seeds (invariants only — a derived
  * seed may legitimately starve a verb), the one-off deep sweep recorded
  * in SCALE.md — the GRAFT_INVARIANCE_ALL pattern. */
class RetentionSpec extends graft.SparkSpec {
  import spark.implicits._

  private val schema = "key LONG, ver LONG, payload STRING"
  private val sidecars = Set(
    StoreManifest.FileName, StoreManifest.FileName + ".lck",
    StoreManifest.EpochHwmFile, StoreManifest.GraceFile)

  private def diskDataFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getName).filterNot(sidecars).toSet

  private def manifestFiles(dir: String): Set[String] =
    StoreManifest.readLines(java.nio.file.Paths.get(dir))
      .map(StoreManifest.parse(_).file).toSet

  /** Deterministically age every unreferenced data file past "now":
    * vacuum's cutoff is strict (`lastModified < now - grace`), and
    * file-mtime granularity is platform-dependent (1 s on some
    * filesystems), so a sleep shorter than the worst-case granularity
    * makes a `vacuum(0)` flaky. Backdating the files is exact. */
  private def ageUnreferenced(dir: String): Unit =
    (diskDataFiles(dir) -- manifestFiles(dir)).foreach { f =>
      new java.io.File(dir, f).setLastModified(System.currentTimeMillis() - 5000L)
      ()
    }

  private def liveRead(dir: String): Seq[(Long, Long, String)] =
    VariantStore.readRange(spark, dir, schema, Long.MinValue, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sortBy(r => (r._1, r._2, r._3))

  /** One full randomized schedule at `seed`. `canonical = true` adds the
    * seed-coverage self-defense (all verbs fired, both snapshots taken) —
    * only meaningful for the pinned seed the suite always runs. */
  private def driveSchedule(seed: Long, canonical: Boolean): Unit = {
    val dir = scratchDir(s"graft_retention_$seed").toString
    val rnd = new scala.util.Random(seed)
    var log = Vector.empty[(Long, Long, String)] // rows the CURRENT table holds
    var gen = 0
    def writeGen(mode: String): Unit = {
      val rows = (0L until 40L).filter(_ => rnd.nextInt(10) < 4).map { k =>
        val payload =
          if (rnd.nextInt(100) < 15) VariantStore.Tombstone else s"p$gen-$k"
        (k, gen * 10L + rnd.nextInt(3), payload)
      }
      log = (if (mode == "overwrite") Vector.empty else log) ++ rows
      gen += 1
      rows.toDF("key", "ver", "payload")
        .repartitionByRange(2, $"key").sortWithinPartitions("key")
        .write.format("graft.sources.VariantStoreSink")
        .option("path", dir).mode(mode).save()
    }
    def reference(): Seq[(Long, Long, String)] =
      log.groupBy(_._1).values
        .map(_.maxBy(r => (r._2, r._3)))
        .filter(_._3 != VariantStore.Tombstone)
        .toSeq.sortBy(r => (r._1, r._2, r._3))

    writeGen("overwrite")
    var snapshots = 0
    var hit = Set.empty[Int] // event kinds the seed actually drove
    for (step <- 1 to 24) {
      val grace0 = StoreManifest.graceFor(java.nio.file.Paths.get(dir)) == 0L
      val manifestBefore = manifestFiles(dir)
      val kind = rnd.nextInt(8)
      hit += kind
      kind match {
        case 0 | 1 => writeGen("append")
        case 2 => // truncate: retires EVERY previous generation at once
          writeGen("overwrite")
        case 3 =>
          if (manifestFiles(dir).size > 2)
            VariantStore.compactMinor(spark, dir, schema, keepGenerations = 2)
        case 4 =>
          VariantStore.compact(spark, dir, schema, numRanges = 2)
        case 5 => // flip the retention policy mid-life
          VariantStore.setGrace(dir, if (rnd.nextBoolean()) 0L else 3600000L)
        case 6 => // explicit maintenance: reclaim everything unreferenced
          // (the cutoff is strict, so backdate the retirees first).
          ageUnreferenced(dir)
          VariantStore.vacuum(dir, graceMs = 0L)
          assert(diskDataFiles(dir) == manifestFiles(dir),
            s"[seed $seed] vacuum(0) left orphans or ate live files at step $step")
        case 7 if snapshots < 2 => // snapshot mid-schedule
          snapshots += 1
          val dest = scratchDir(s"graft_retention_snap${seed}_$snapshots").toString
          VariantStore.snapshot(dir, dest)
          assert(manifestFiles(dest).subsetOf(diskDataFiles(dest)),
            s"[seed $seed] clone not self-contained at step $step")
          assert(liveRead(dest) == reference(),
            s"[seed $seed] clone read diverged from source at step $step")
          assert(StoreManifest.graceFor(java.nio.file.Paths.get(dest)) ==
            StoreManifest.graceFor(java.nio.file.Paths.get(dir)),
            s"[seed $seed] retention policy did not travel to the clone at step $step")
        case _ => ()
      }
      // Invariant 2: no sweep (opportunistic or explicit) ever reclaimed
      // a manifest-listed file.
      assert(manifestFiles(dir).subsetOf(diskDataFiles(dir)),
        s"[seed $seed] a live generation is missing from disk at step $step")
      // Invariant 3a: zero grace at the time of a retirement ⇒ the files
      // THIS event de-manifested are physically gone (retire() promises
      // immediate delete — files retired EARLIER under a larger grace
      // legitimately wait for the next sweep, so the check is scoped to
      // the event's own retirement set).
      if (grace0)
        assert(((manifestBefore -- manifestFiles(dir)) &
            diskDataFiles(dir)).isEmpty,
          s"[seed $seed] zero-grace store held files retired at step $step")
      // Invariant 1: the live view is reference-exact no matter how many
      // retired generations the grace window is holding on disk.
      assert(liveRead(dir) == reference(),
        s"[seed $seed] live read diverged at step $step")
    }
    if (canonical) {
      // Seed self-defense: the pinned schedule must actually have driven
      // every verb — a seed or layout drift that starves an event kind
      // would otherwise hollow the differential out silently.
      assert((0 to 7).forall(hit), s"seed starved event kinds: ${(0 to 7).toSet -- hit}")
      assert(snapshots == 2, s"seed drove $snapshots snapshots, wanted 2")
    }
    // Closing sweep under the LARGE grace: retired files young enough to
    // be inside the window must survive — an over-eager cutoff would
    // break the non-blocking-read contract silently.
    VariantStore.setGrace(dir, 3600000L)
    writeGen("overwrite") // retire whatever the last state was
    val retired = diskDataFiles(dir) -- manifestFiles(dir)
    VariantStore.vacuum(dir, graceMs = 3600000L)
    assert(retired.subsetOf(diskDataFiles(dir)),
      s"[seed $seed] an in-window retired file was reclaimed by a full-grace vacuum")
    assert(liveRead(dir) == reference(), s"[seed $seed] final live read diverged")
    // ... and a zero-grace vacuum then reclaims exactly that set.
    ageUnreferenced(dir)
    VariantStore.vacuum(dir, graceMs = 0L)
    assert(diskDataFiles(dir) == manifestFiles(dir),
      s"[seed $seed] final vacuum(0) did not collapse disk to the manifest")
  }

  test("randomized retention schedule: reads reference-exact, vacuum " +
      "reclaims exactly the aged unreferenced set, policy travels") {
    driveSchedule(20260815L, canonical = true)
    // env-gated widening (the GRAFT_INVARIANCE_ALL pattern): n extra
    // derived seeds, invariants only — a derived seed may legitimately
    // starve a verb, so no coverage self-defense.
    val n = sys.env.get("GRAFT_RETENTION_SEEDS").flatMap(_.toIntOption).getOrElse(0)
    for (i <- 1 to n) driveSchedule(20260815L + i * 7919L, canonical = false)
  }
}
