package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Epoch-commit idempotency at the driver-commit layer — the property
  * Spark's epoch tracking relies on for exactly-once: a RETRIED epoch
  * commit (same epochId, new task files after a driver failover)
  * replaces exactly its own generation's manifest records, never a
  * neighbor's. In the same package as the sink so the test drives the
  * private commit path directly — forcing a real mid-commit failover
  * through the public API is not deterministic. */
class StoreEpochSpec extends graft.SparkSpec {

  private val schema = StructType.fromDDL("key LONG, ver LONG, payload STRING")

  private def epochFiles(dir: String, epoch: Long, rows: Seq[(Long, Long, String)],
      qid: String = "test-query"): WriterCommitMessage = {
    val w = StoreMemstoreFactory(dir, schema, StoreManifest.queryTag(qid))
      .createWriter(0, 0L, epoch)
    rows.foreach { case (k, v, p) =>
      w.write(InternalRow(k, v, UTF8String.fromString(p)))
    }
    w.commit()
  }

  private def manifestFiles(dir: String): Seq[String] =
    StoreManifest.readLines(java.nio.file.Paths.get(dir)).map(StoreManifest.parse(_).file)

  /** Manifest files belonging to `epoch` of `qid`'s generation set. */
  private def genFiles(dir: String, qid: String, epoch: Long): Seq[String] =
    manifestFiles(dir).filter(f => StoreManifest.streamEpochOf(f)
      .contains((StoreManifest.queryTag(qid), epoch)))

  test("re-committed epoch replaces exactly its own generation") {
    val dir = scratchDir("graft_epoch").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    // epoch 5 commits, epoch 6 commits on top
    val m5a = epochFiles(dir, 5L, Seq((1L, 5L, "a5"), (2L, 5L, "b5")))
    write.commit(5L, Array(m5a))
    val m6 = epochFiles(dir, 6L, Seq((1L, 6L, "a6")))
    write.commit(6L, Array(m6))
    assert(manifestFiles(dir).size == 2)
    // driver failover: epoch 5 re-runs with fresh task files and
    // re-commits. The manifest must hold exactly ONE gen-5 record set
    // (the retry's) and epoch 6 untouched.
    val m5b = epochFiles(dir, 5L, Seq((1L, 5L, "a5"), (2L, 5L, "b5")))
    write.commit(5L, Array(m5b))
    val files = manifestFiles(dir)
    assert(files.size == 2, s"re-commit duplicated or dropped a generation: $files")
    val gen5 = genFiles(dir, "test-query", 5L)
    assert(gen5.size == 1 && !gen5.contains(
      m5a.asInstanceOf[StoreCommit].file),
      s"re-commit must replace the old gen-5 record: $files")
    assert(genFiles(dir, "test-query", 6L).nonEmpty, s"epoch 6 lost: $files")
    // the re-committed store reads exactly once per key/ver
    val back = VariantStore.readAsOf(spark, dir, "key LONG, ver LONG, payload STRING", 6L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(back == Map(1L -> "a6", 2L -> "b5"), s"wrong resolved state: $back")
  }

  private val ddl = "key LONG, ver LONG, payload STRING"

  private def rawRows(dir: String): Seq[(Long, Long, String)] = {
    val files = StoreManifest.readLines(java.nio.file.Paths.get(dir))
      .map(l => s"$dir/${StoreManifest.parse(l).file}")
    spark.read.schema(ddl).parquet(files: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
  }

  test("epoch replay after compaction folded its generation does not duplicate rows") {
    // The exactly-once hole name-replacement alone leaves open: the sink
    // commits epoch 6, the driver dies BEFORE the streaming commit log
    // records it, a compactor folds gen-6 into a merge, the restarted
    // query replays epoch 6 — no `gen-000000006-` manifest line exists
    // to replace, so a naive commit appends the rows a SECOND time. The
    // epoch high-water mark is the durable witness that must turn the
    // replay into a no-op (and reap the replay's task files).
    val dir = scratchDir("graft_epoch_fold").toString
    // caller-owned temp store: zero grace ⇒ retirement reclaims
    // immediately, so disk == manifest is assertable right after the fold
    VariantStore.setGrace(dir, 0L)
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    write.commit(5L, Array(epochFiles(dir, 5L, Seq((1L, 5L, "a5"), (2L, 5L, "b5")))))
    write.commit(6L, Array(epochFiles(dir, 6L, Seq((1L, 6L, "a6"), (3L, 6L, "c6")))))
    val before = rawRows(dir)
    VariantStore.compact(spark, dir, ddl, numRanges = 1) // folds gen-5 + gen-6
    assert(manifestFiles(dir).size == 1)
    assert(rawRows(dir) == before, "compaction must preserve every version")

    write.commit(6L, Array(epochFiles(dir, 6L, Seq((1L, 6L, "a6"), (3L, 6L, "c6")))))
    assert(rawRows(dir) == before,
      "replayed epoch after fold duplicated its rows")
    assert(manifestFiles(dir).size == 1, "replay must not add a manifest line")
    // the replay's task files were reaped, not left as orphans
    import scala.jdk.CollectionConverters._
    val orphans = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet --
      manifestFiles(dir).toSet
    assert(orphans.isEmpty, s"replay left orphan task files: $orphans")

    // a genuinely NEW epoch still commits normally on the compacted store
    write.commit(7L, Array(epochFiles(dir, 7L, Seq((4L, 7L, "d7")))))
    assert(rawRows(dir) == (before :+ ((4L, 7L, "d7"))).sorted)
    // and replay-before-durable-ack still REPLACES in place (lines present)
    write.commit(7L, Array(epochFiles(dir, 7L, Seq((4L, 7L, "d7")))))
    assert(rawRows(dir) == (before :+ ((4L, 7L, "d7"))).sorted,
      "in-place epoch re-commit must stay idempotent")
  }

  test("minor compaction folds a multi-file epoch ATOMICALLY — no replay " +
      "duplication via a half-folded generation (r19 review)") {
    // A multi-partition epoch is ONE generation spread over task files.
    // Per-FILE size-tiered selection would fold the epoch's small shard
    // away from its big epoch-mate; the leftover keeps the epoch's
    // manifest prefix alive, so a driver-failover replay takes the
    // replace branch and re-appends the WHOLE epoch while the folded
    // shard's rows persist inside the merge — silent duplication.
    val dir = scratchDir("graft_epoch_atomic").toString
    VariantStore.setGrace(dir, 0L)
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    def writer(pid: Int, epoch: Long, rows: Seq[(Long, Long, String)]) = {
      val w = StoreMemstoreFactory(dir, schema, StoreManifest.queryTag("test-query"))
        .createWriter(pid, pid.toLong, epoch)
      rows.foreach { case (k, v, p) =>
        w.write(InternalRow(k, v, UTF8String.fromString(p)))
      }
      w.commit()
    }
    val small = Seq((1L, 1L, "s1"))
    val big = (100L until 200L).map(k => (k, 1L, s"b$k"))
    write.commit(1L, Array(writer(0, 1L, small), writer(1, 1L, big)))
    write.commit(2L, Array(writer(0, 2L, Seq((1L, 2L, "e2"), (2L, 2L, "x2")))))
    write.commit(3L, Array(writer(0, 3L, Seq((1L, 3L, "e3"), (3L, 3L, "x3")))))
    val before = rawRows(dir)
    VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 2)
    assert(rawRows(dir) == before, "minor fold must preserve every version")
    // no generation may be split: epoch 1 keeps BOTH files or neither
    val gen1 = genFiles(dir, "test-query", 1L)
    assert(gen1.isEmpty || gen1.size == 2,
      s"the fold split epoch 1's generation: $gen1")
    // driver-failover replay of the multi-file epoch: still exactly-once
    write.commit(1L, Array(writer(0, 1L, small), writer(1, 1L, big)))
    val after = rawRows(dir)
    assert(after == before,
      s"replay after the fold duplicated rows (${after.size} vs ${before.size})")
    assert(after.count(_._1 == 1L) == 3, "key 1 must appear once per epoch")
  }

  test("a fresh query's restarted epoch numbering is never skipped by an old mark") {
    // Epoch ids restart at 0 for a new query (fresh checkpoint), so the
    // high-water mark is scoped by queryId (the Delta txn-appId model):
    // an UNscoped mark left by the previous query would silently drop
    // the new query's early epochs — data loss, the exact inverse of
    // the duplication the mark exists to prevent.
    val dir = scratchDir("graft_epoch_fresh").toString
    val q1 = new StoreStreamingWrite(dir, schema, "query-1")
    q1.commit(5L, Array(epochFiles(dir, 5L, Seq((1L, 5L, "a5")), qid = "query-1")))
    VariantStore.compact(spark, dir, ddl, numRanges = 1) // mark: (query-1, 5)
    val before = rawRows(dir)

    // query-1 stopped; a new query takes over with epoch numbering at 0
    val q2 = new StoreStreamingWrite(dir, schema, "query-2")
    q2.commit(0L, Array(epochFiles(dir, 0L, Seq((2L, 10L, "q2-e0")), qid = "query-2")))
    assert(rawRows(dir) == (before :+ ((2L, 10L, "q2-e0"))).sorted,
      "fresh query's epoch 0 was skipped by the previous query's mark")
    // and the new query's OWN replay-after-fold guard is armed, while
    // query-1's retired mark keeps its folded generations eligible
    VariantStore.compact(spark, dir, ddl, numRanges = 1)
    assert(manifestFiles(dir).size == 1,
      s"confirmed generations across the handover must all fold: ${manifestFiles(dir)}")
    val folded = rawRows(dir)
    q2.commit(0L, Array(epochFiles(dir, 0L, Seq((2L, 10L, "q2-e0")), qid = "query-2")))
    assert(rawRows(dir) == folded,
      "query-2's replayed epoch duplicated rows after fold")
  }

  /** The crash-reachable inconsistent state: epoch `epoch`'s lines are
    * in the manifest (with its task file on disk) but the mark was
    * never advanced — exactly what a driver death between the commit's
    * manifest write and its mark write leaves behind. Marks are
    * monotone (writeEpochHwm merges max), so the state is constructed
    * by splicing the lines in directly, bypassing the commit. */
  private def crashWindowState(dir: String, epoch: Long,
      rows: Seq[(Long, Long, String)], qid: String = "test-query"): Unit = {
    val m = epochFiles(dir, epoch, rows, qid = qid).asInstanceOf[StoreCommit]
    val p = java.nio.file.Paths.get(dir)
    StoreManifest.withManifestLock(p) {
      StoreManifest.writeLines(p,
        (StoreManifest.readLines(p) :+ StoreManifest.render(m)).sorted)
    }
  }

  test("crash between manifest write and mark write replays as the replace case") {
    // The commit orders manifest FIRST, then the high-water mark — so
    // the only crash-reachable inconsistent state is lines-present +
    // stale mark. The replay must take the replace path (no
    // duplication, no skip) and repair the mark.
    val dir = scratchDir("graft_epoch_crash").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    write.commit(5L, Array(epochFiles(dir, 5L, Seq((1L, 5L, "a5")))))
    crashWindowState(dir, 6L, Seq((2L, 6L, "b6"))) // mark still says 5
    val before = rawRows(dir)
    write.commit(6L, Array(epochFiles(dir, 6L, Seq((2L, 6L, "b6")))))
    assert(rawRows(dir) == before,
      "replay over a stale mark duplicated or dropped rows")
    assert(genFiles(dir, "test-query", 6L).size == 1,
      "replay must hold exactly one gen-6 record set")
    assert(StoreManifest.readEpochHwms(java.nio.file.Paths.get(dir))
      .get("test-query").contains(6L), "replay did not repair the mark")
  }

  test("compaction never folds a crash-window epoch (stale mark, lines present)") {
    // The duplication hole the fold-eligibility rule closes: epoch 6's
    // lines are in the manifest but the mark still says 5 (driver died
    // between the two writes). If compaction folded gen-6 into a merge,
    // the restarted query's replay would find neither lines to replace
    // nor a mark at 6 — and APPEND the epoch a second time. Compaction
    // must leave the unconfirmed generation alone; the replay then
    // repairs it in place, after which it folds normally.
    val dir = scratchDir("graft_epoch_unconf").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    write.commit(5L, Array(epochFiles(dir, 5L, Seq((1L, 5L, "a5"), (2L, 5L, "b5")))))
    crashWindowState(dir, 6L, Seq((3L, 6L, "c6")))
    val before = rawRows(dir)
    VariantStore.compact(spark, dir, ddl, numRanges = 1)
    assert(genFiles(dir, "test-query", 6L).size == 1,
      s"compaction folded the unconfirmed crash-window epoch: ${manifestFiles(dir)}")
    assert(rawRows(dir) == before, "compaction changed the row multiset")
    // the restarted query replays epoch 6: replace in place, mark repaired
    write.commit(6L, Array(epochFiles(dir, 6L, Seq((3L, 6L, "c6")))))
    assert(rawRows(dir) == before, "replay duplicated the crash-window epoch")
    assert(StoreManifest.readEpochHwms(java.nio.file.Paths.get(dir))
      .get("test-query").contains(6L), "replay did not repair the mark")
    // now confirmed: the next pass folds everything into one generation
    VariantStore.compact(spark, dir, ddl, numRanges = 1)
    assert(manifestFiles(dir).size == 1, s"confirmed epoch not folded: ${manifestFiles(dir)}")
    assert(rawRows(dir) == before, "final fold changed the row multiset")
  }

  test("minor compaction consolidates a SINGLE eligible multi-file generation") {
    // r20 advice item: a streaming epoch committed as several
    // hash-partitioned task files is ONE generation; when it is the
    // only fold-eligible group (here: the other generation sits in the
    // crash window, mark < epoch), the pre-r20 `foldGroups.size < 2`
    // guard could never consolidate it — file-count growth inside one
    // epoch was un-compactable. Folding the group WHOLE is replay-safe:
    // the epoch high-water mark's replace branch turns a later replay
    // of the fully-folded epoch into a discard, proven at the end.
    val dir = scratchDir("graft_epoch_singlegrp").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    // epoch 5: THREE task files (partitions 0..2), one committed generation
    val msgs = (0 to 2).map { p =>
      val w = StoreMemstoreFactory(dir, schema, StoreManifest.queryTag("test-query"))
        .createWriter(p, p.toLong, 5L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        (p + 1).toLong, 5L, UTF8String.fromString(s"p$p")))
      w.commit()
    }
    write.commit(5L, msgs.toArray)
    // epoch 6: lines present, mark still 5 → ineligible second group
    crashWindowState(dir, 6L, Seq((9L, 6L, "c6")))
    assert(manifestFiles(dir).size == 4, s"setup: ${manifestFiles(dir)}")
    val before = rawRows(dir)
    VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 1)
    val after = manifestFiles(dir)
    assert(genFiles(dir, "test-query", 5L).isEmpty,
      s"the eligible multi-file generation was not folded: $after")
    assert(genFiles(dir, "test-query", 6L).size == 1,
      s"the crash-window generation must survive the fold: $after")
    assert(after.size == 2, s"expected merged + unconfirmed, got $after")
    assert(rawRows(dir) == before, "single-group fold changed the row multiset")
    // replay of the fully-folded epoch 5: no lines to replace, mark at
    // 5 ≥ 5 → the replace branch DISCARDS the replay instead of
    // appending a duplicate generation
    write.commit(5L, Array(epochFiles(dir, 5L, Seq((1L, 5L, "p0")))))
    assert(rawRows(dir) == before, "replay after the single-group fold duplicated rows")
    assert(manifestFiles(dir).toSeq == after.toSeq,
      "replay after the single-group fold touched the manifest")
    // a one-file fold set stays a no-op (no pointless rewrite)
    VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 1)
    assert(manifestFiles(dir).toSeq == after.toSeq,
      "a single-file eligible group must not be rewritten")
  }

  test("a lone already-consolidated generation is never re-folded (numRanges >= 2 churn guard, r21)") {
    // r20 advice item: with numRanges >= 2 a fold's OUTPUT is itself a
    // multi-file generation; if it remains the only eligible group, the
    // pre-r21 guard (fold-set file count >= 2) re-folded the same rows
    // on every pass — idempotent results, unbounded rewrite churn. A
    // lone group at or below numRanges files must be left alone.
    val dir = scratchDir("graft_epoch_churn").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    // epoch 5: three task files, one committed generation (fold fodder)
    val msgs = (0 to 2).map { p =>
      val w = StoreMemstoreFactory(dir, schema, StoreManifest.queryTag("test-query"))
        .createWriter(p, p.toLong, 5L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        (p + 1).toLong, 5L, UTF8String.fromString(s"p$p")))
      w.commit()
    }
    write.commit(5L, msgs.toArray)
    // epoch 6: crash window (lines present, mark 5) → ineligible group,
    // so the folded generation stays the ONLY eligible group afterwards
    crashWindowState(dir, 6L, Seq((9L, 6L, "c6")))
    val before = rawRows(dir)
    // pass 1: 3 files > numRanges=2 → genuine consolidation, folds to 2
    VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 1, numRanges = 2)
    val after1 = manifestFiles(dir)
    assert(genFiles(dir, "test-query", 5L).isEmpty,
      s"pass 1 did not fold the 3-file generation: $after1")
    assert(rawRows(dir) == before, "pass 1 changed the row multiset")
    // pass 2: the merged generation has exactly numRanges=2 files and is
    // the only eligible group — folding it would rewrite 2 files into 2
    // files forever. The churn guard must make this a no-op.
    VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 1, numRanges = 2)
    assert(manifestFiles(dir).toSeq == after1.toSeq,
      s"pass 2 re-folded an already-consolidated lone generation: ${manifestFiles(dir)}")
    assert(rawRows(dir) == before, "pass 2 changed the row multiset")
  }

  test("a fresh query's epoch 0 never replaces a previous query's epoch-0 generation") {
    // Epoch numbering restarts at 0 for a new query, so generation
    // names are scoped by the query tag: an unscoped `gen-000000000-`
    // replace would silently drop the PREVIOUS query's epoch-0
    // generation from the manifest — data loss with no compaction
    // involved at all.
    val dir = scratchDir("graft_epoch_scope").toString
    val q1 = new StoreStreamingWrite(dir, schema, "query-1")
    q1.commit(0L, Array(epochFiles(dir, 0L, Seq((1L, 1L, "q1-e0")), qid = "query-1")))
    val before = rawRows(dir)
    // query-1 stopped, NO compaction: its gen-0 line is still live
    val q2 = new StoreStreamingWrite(dir, schema, "query-2")
    q2.commit(0L, Array(epochFiles(dir, 0L, Seq((2L, 2L, "q2-e0")), qid = "query-2")))
    assert(genFiles(dir, "query-1", 0L).size == 1,
      s"query-2's epoch 0 replaced query-1's generation: ${manifestFiles(dir)}")
    assert(genFiles(dir, "query-2", 0L).size == 1)
    assert(rawRows(dir) == (before :+ ((2L, 2L, "q2-e0"))).sorted,
      "rows lost across the query handover")
  }

  test("randomized epoch schedule with replays, crash windows, and folds " +
      "loses and duplicates nothing") {
    // The streaming twin of SourceSpec's randomized maintenance
    // differential, sweeping the fold-eligibility + query-scoped-name
    // machinery under arbitrary interleavings: a seeded sequence of
    // epoch commits, exact replays (driver failover), crash-window
    // states (manifest written, mark not — spliced directly), query
    // handovers (epoch numbering restarts at 0, possibly ABANDONING a
    // crash-window epoch forever), and both compaction flavors. After
    // EVERY event the raw row multiset across manifest-listed
    // generations must equal the write log exactly — any divergence is
    // precisely the silent loss/duplication the guards exist to stop.
    val dir = scratchDir("graft_epoch_rand").toString
    val rnd = new scala.util.Random(20260816)
    var log = Vector.empty[(Long, Long, String)]
    var qn = 1
    var qid = s"rq-$qn"
    var write = new StoreStreamingWrite(dir, schema, qid)
    var nextEpoch = 0L
    // epochs eligible for replay: committed (idempotent re-commit) or
    // crash-window (replay must repair in place). Rows remembered so a
    // replay is byte-faithful.
    var replayable = Map.empty[(String, Long), Seq[(Long, Long, String)]]
    def freshRows(tag: String): Seq[(Long, Long, String)] =
      (0L until 30L).filter(_ => rnd.nextInt(10) < 4).map { k =>
        (k, nextEpoch * 10L + rnd.nextInt(3), s"$tag-e$nextEpoch-$k")
      }
    def check(what: String): Unit =
      assert(rawRows(dir) == log.sorted, s"multiset diverged after $what")
    for (step <- 1 to 40) {
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => // normal epoch commit
          val rows = freshRows(qid)
          write.commit(nextEpoch, Array(epochFiles(dir, nextEpoch, rows, qid = qid)))
          log ++= rows
          replayable += ((qid, nextEpoch) -> rows)
          nextEpoch += 1
          check(s"step $step: commit")
        case 4 | 5 => // replay a random replayable epoch of the LIVE query
          val own = replayable.keys.filter(_._1 == qid).toSeq.sortBy(_._2)
          if (own.nonEmpty) {
            val (_, e) = own(rnd.nextInt(own.size))
            val rows = replayable((qid, e))
            write.commit(e, Array(epochFiles(dir, e, rows, qid = qid)))
            check(s"step $step: replay of epoch $e")
          }
        case 6 => // crash window: lines spliced, mark stale, replay pending
          // (guarded nonEmpty: a 0-row commit writes no file, and the
          // direct splice would otherwise manifest a missing file)
          val rows = freshRows(s"$qid-cw")
          if (rows.nonEmpty) {
            crashWindowState(dir, nextEpoch, rows, qid = qid)
            log ++= rows
            replayable += ((qid, nextEpoch) -> rows)
            nextEpoch += 1
            check(s"step $step: crash-window splice")
          }
        case 7 => // query handover: epoch numbering restarts at 0; any
          // crash-window epoch of the old query is abandoned forever
          // (its rows stay readable, its generation stays unfolded)
          qn += 1; qid = s"rq-$qn"
          write = new StoreStreamingWrite(dir, schema, qid)
          nextEpoch = 0L
          check(s"step $step: handover to $qid")
        case 8 =>
          VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 2)
          check(s"step $step: compactMinor")
        case _ =>
          if (manifestFiles(dir).nonEmpty) {
            VariantStore.compact(spark, dir, ddl, numRanges = 1)
            check(s"step $step: compact")
          }
      }
    }
    // drain: replay every still-replayable epoch of every query that
    // ever wrote (simulating each query's restart), then compact twice
    // — everything confirmed must fold, and nothing may move the
    // multiset
    for (((q, e), rows) <- replayable.toSeq.sortBy { case ((q, e), _) => (q, e) }) {
      val w = new StoreStreamingWrite(dir, schema, q)
      w.commit(e, Array(epochFiles(dir, e, rows, qid = q)))
      check(s"drain replay of ($q, $e)")
    }
    VariantStore.compact(spark, dir, ddl, numRanges = 1)
    check("final compact")
    assert(manifestFiles(dir).size == 1,
      s"all confirmed generations must fold after the drain: ${manifestFiles(dir)}")
  }

  test("as-of snapshots omit the epoch mark; full clones carry it") {
    // An asOf fork may exclude a marked epoch's generation; a mark
    // claiming an epoch the clone does not hold would turn that epoch's
    // replay into a silent skip — permanent row loss on the clone. The
    // fork therefore drops the mark (at-least-once on resume), while a
    // full clone keeps the replay-after-fold guard armed.
    val dir = scratchDir("graft_epoch_snap").toString
    VariantStore.setGrace(dir, 0L)
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    write.commit(0L, Array(epochFiles(dir, 0L, Seq((1L, 10L, "a")))))
    write.commit(1L, Array(epochFiles(dir, 1L, Seq((2L, 20L, "b")))))
    val full = scratchDir("graft_epoch_snap_full").toString
    VariantStore.snapshot(dir, full)
    assert(StoreManifest.readEpochHwms(java.nio.file.Paths.get(full))
      .get("test-query").contains(1L), "full clone lost the epoch mark")
    val fork = scratchDir("graft_epoch_snap_asof").toString
    VariantStore.snapshot(dir, fork, asOf = 10L)
    assert(StoreManifest.readEpochHwms(java.nio.file.Paths.get(fork)).isEmpty,
      "as-of fork carried a mark for an epoch it may not hold")
    // retention is a table property: full clones AND as-of forks keep
    // the source's configured grace (a zero-grace scratch store must
    // not fork into one paying an hour of disk rent)
    assert(StoreManifest.graceFor(java.nio.file.Paths.get(full)) == 0L,
      "full clone lost the retention policy")
    assert(StoreManifest.graceFor(java.nio.file.Paths.get(fork)) == 0L,
      "as-of fork lost the retention policy")
  }

  test("an epoch commit landing inside a compaction splice window survives") {
    // The streaming twin of the batch append-in-window spec: the splice
    // drops only the fold set's manifest lines, so an epoch committed
    // between staging and splice keeps its line and rows.
    val dir = scratchDir("graft_epoch_splice").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    write.commit(1L, Array(epochFiles(dir, 1L, Seq((1L, 1L, "a1"), (2L, 1L, "b1")))))
    write.commit(2L, Array(epochFiles(dir, 2L, Seq((3L, 2L, "c2")))))
    val before = rawRows(dir)
    VariantStore.compactImpl(spark, dir, ddl, numRanges = 1,
      horizon = Long.MinValue,
      beforeSplice = () =>
        write.commit(3L, Array(epochFiles(dir, 3L, Seq((9L, 3L, "z3"))))))
    assert(rawRows(dir) == (before :+ ((9L, 3L, "z3"))).sorted,
      "epoch committed in the splice window lost rows")
    assert(manifestFiles(dir).size == 2,
      "expected the merged generation plus the in-window epoch")
  }
}
