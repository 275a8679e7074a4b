package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read-side + maintenance API over a [[VariantStoreSink]] directory —
  * the half of the store contract the `_MANIFEST` exists for:
  *
  *   readRange    — an HBase-scan analog: consult the manifest's
  *                  per-file (minKey, maxKey) / sample extents and hand
  *                  Spark ONLY the files whose ranges overlap the scan —
  *                  file-level region pruning before any I/O, the same
  *                  move as the reference's row-key-range scans (SURVEY
  *                  §3.2). Residual filters keep exactness inside
  *                  partially-overlapping files, and since the
  *                  generations are parquet they push further into
  *                  row-group min/max inside each selected file.
  *   readAsOf     — the versioned-cell timerange read (HBase
  *                  `maxVersions` analog): the snapshot at timestamp t,
  *                  ver-range-pruned at the file level.
  *   compactMinor — size-tiered minor compaction: fold the smallest
  *                  generations, never re-read the accumulated merge.
  *   compact      — MAJOR compaction: fold ALL current generations
  *                  through one `repartitionByRange +
  *                  sortWithinPartitions` pass back into the batch
  *                  bulk-load layout, optionally purging history below
  *                  a horizon (tombstones and what they mask leave
  *                  disk).
  *
  * The manifest is tiny (one line per file) — reading it is driver-side
  * metadata work, exactly like fetching the region index. */
object VariantStore {

  /** The delete-marker payload — HBase `Delete` analog. A VERSIONED
    * store deletes a key by appending a generation whose row for that
    * key carries this sentinel in the FIRST payload column (third
    * schema field): reads as of t ≥ the tombstone's `ver` see the key
    * gone (a later re-put resurrects it, exactly like HBase
    * put-after-delete), and [[compact]] with a horizon purges the
    * marker plus everything it masks. The sentinel is reserved — like
    * HBase's cell-type byte, user payloads must not use it. */
  val Tombstone = "__TOMBSTONE__"

  private def manifest(path: String): Seq[ManifestEntry] =
    StoreManifest.readLines(java.nio.file.Paths.get(path)).map(StoreManifest.parse)

  private def colNames(schema: String): Array[String] =
    schema.trim.split(",").map(_.trim.split("\\s+")(0))

  private def isVersioned(cols: Array[String]): Boolean =
    cols.length >= 2 && cols(1) == "ver"

  /** The sample-qualifier column (HBase column qualifier analog), when
    * the schema declares one: named `sample`, any non-key position —
    * the same convention [[StoreSchema.sampleIdx]] tracks extents for. */
  private def sampleCol(cols: Array[String]): Option[String] =
    if (cols.indexOf("sample") > 0) Some("sample") else None

  /** Mirror of the WRITER's [[StoreSchema.sampleIdx]] type check, for
    * projected reads (r13 advice): the writer only tracks extents for a
    * STRING `sample` column, so a projection against a non-string one
    * would never prune AND would isin-filter against the wrong type —
    * silently empty results. Fail fast instead. */
  private def requireSampleProjectable(schema: String, samples: Seq[String]): Unit =
    if (samples.nonEmpty) {
      val st = org.apache.spark.sql.types.StructType.fromDDL(schema)
      val i = st.fieldNames.indexOf("sample")
      require(i > 0 && st(i).dataType == org.apache.spark.sql.types.StringType,
        s"sample projection needs a STRING `sample` column in the schema: $schema")
    }

  /** Latest-version resolution: per key — per (key, sample) when the
    * schema carries a sample qualifier, matching HBase's per-CELL
    * versioning (each row×column cell has its own version stack; one
    * sample's re-put must not shadow another's). Ordered by ver desc +
    * every remaining column desc: duplicate (key, ver) rows are legal
    * (neither writer rejects an equal-key re-put), and a ver-only
    * ordering would let partition/scan order pick the winner — the
    * nondeterminism this repo bans everywhere else. The full-row order
    * makes the resolved snapshot a pure function of store CONTENT. */
  private def latestPerKey(df: DataFrame, cols: Array[String]): DataFrame = {
    val cellKey = cols(0) +: sampleCol(cols).toSeq
    // r21 NOTE — window KEPT, measured against the "obvious" rewrite:
    // the argmax-as-aggregate form (`max_by(struct(<all cols>),
    // struct(ver, tiebreaks))`) was implemented, oracle-verified, then
    // REVERTED on measurement. Spark 4 already inserts WindowGroupLimit
    // (partial, map-side) for a rank/row_number + `= 1` filter, so this
    // window ships ONE winner candidate per cell per input partition
    // through the exchange — the shuffle-volume win the rewrite was
    // after already exists. Measured on a 20k-key × 100-version store
    // (STORE_DEPTH_AB_r21.txt, OPTIMIZATION_r21.md): window 0.2 MB
    // shuffled / 0.45 s warm vs max_by 0.5 MB / 0.51 s — the
    // aggregate is strictly worse (struct
    // buffers are not hash-aggregable, so it plans SortAggregate and
    // ships struct-wrapped rows ~2× the bare winner row). Keep the
    // `__rn = 1` filter shape intact: THAT is what lets Spark plan
    // WindowGroupLimit.
    // r22 NOTE — the follow-up idea (encode the ordering as one
    // fixed-width hash-aggregable long `(ver, digest)` so max() plans
    // HashAggregate) is REJECTED on order-equivalence, not cost: the
    // declared winner among duplicate (key, ver) rows is the max under
    // EVERY-remaining-column-desc, and payload columns are unbounded
    // strings — no fixed-width digest is order-preserving over them, so
    // any packing picks a different (hash-ordered) winner on exactly
    // the duplicate stores the full-row order exists to make
    // deterministic. A results-changing rewrite is out of scope by the
    // optimization contract; WindowGroupLimit already delivers the
    // shuffle-volume goal (A/B above).
    val tiebreak = cols.drop(2).filterNot(cellKey.contains).map(col(_).desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(cellKey.map(col): _*).orderBy(col("ver").desc +: tiebreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Drop rows whose winning version is a delete marker (null-safe: a
    * null payload is data, not a tombstone). The marker lives in the
    * first PAYLOAD column — the first field that is neither the key,
    * `ver`, nor the `sample` qualifier (the qualifier is cell identity,
    * not payload: a per-sample delete needs it intact). No-op for
    * schemas with no payload column to carry the marker. */
  private def dropTombstones(df: DataFrame, cols: Array[String]): DataFrame =
    cols.zipWithIndex.collectFirst {
      case (c, i) if i >= 2 && c != "sample" => c
    } match {
      case Some(payload) => df.filter(!(col(payload) <=> lit(Tombstone)))
      case None => df
    }

  /** File-level sample prune (the HFile column-index analog): keep a
    * file iff no sample projection was asked, OR the file's extent is
    * unknown (old manifest / over-cap — never prune blind), OR the
    * extent intersects the wanted set. */
  private def sampleOverlap(e: ManifestEntry, wanted: Seq[String]): Boolean =
    wanted.isEmpty || e.samples.forall(ss => wanted.exists(ss.contains))

  /** Scan `[lo, hi]` by key: manifest-pruned file list + residual filter.
    * On a VERSIONED store (second field `ver` LONG) this is the LIVE
    * view — HBase Scan's default `maxVersions=1`: latest version per
    * key (per cell when a `sample` qualifier exists), tombstoned keys
    * hidden. Unversioned stores return rows as written (no resolution).
    *
    * `samples` is the `Scan.addColumn` analog (`GVCFHBase.java:~82
    * (unverified)` reads single samples by qualifier): non-empty ⇒ the
    * read returns only those samples' rows, AND files whose
    * manifest-recorded sample extent misses every wanted sample are
    * skipped BEFORE any I/O — in the reference's layout each sample's
    * gVCF bulk-loads as its own generation, so a 3-of-3000-sample read
    * touches 3 generations' files, not 3000. A residual `isin` filter
    * keeps exactness inside mixed-sample files. */
  def readRange(spark: SparkSession, path: String, schema: String,
      lo: Long, hi: Long, samples: Seq[String] = Nil): DataFrame = {
    val cols = colNames(schema)
    val keyCol = cols(0)
    requireSampleProjectable(schema, samples)
    val files = rangeFiles(path, lo, hi, samples)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    else {
      val scanned = spark.read.schema(schema).parquet(files: _*)
        .filter(col(keyCol) >= lo && col(keyCol) <= hi)
      val raw =
        if (samples.isEmpty) scanned
        else scanned.filter(col("sample").isin(samples: _*))
      if (isVersioned(cols)) dropTombstones(latestPerKey(raw, cols), cols) else raw
    }
  }

  /** The file list a `[lo, hi]` (optionally sample-projected) scan
    * touches: key-range prune ∧ sample-extent prune, both from the
    * manifest alone. Package-visible so the spec can assert pruning
    * without scanning anything. */
  private[graft] def rangeFiles(path: String, lo: Long, hi: Long,
      samples: Seq[String] = Nil): Seq[String] =
    manifest(path)
      .filter(e => e.maxKey >= lo && e.minKey <= hi && sampleOverlap(e, samples))
      .map(e => s"$path/${e.file}")

  /** As-of-timestamp read — the HBase versioned-cell analog
    * (`maxVersions > 1` + timerange scans, `GVCFHBaseTest.java:~40`,
    * reconstructed per SURVEY §0). The store holds every written
    * version of a key (append-mode generations carry a `ver` LONG as
    * the SECOND schema field); `readAsOf` reconstructs "the table as of
    * t": per key, the highest-`ver` row with `ver <= asOf`, i.e. HBase's
    * latest-cell-at-timerange-end semantics. Rows whose every version is
    * newer than `asOf` are absent, exactly like a cell first written
    * after t.
    *
    * Scale: one window exchange on the key — the generations are each
    * range-partitioned and sorted by key, so at 100 TB this is the
    * standard versioned-read shuffle (HBase pays the same merge across
    * HFiles per region, just region-locally). The manifest carries each
    * file's `ver` range (r9), so files whose EVERY version is newer than
    * `asOf` are skipped before any I/O — the HFile time-range prune; a
    * residual `ver <= asOf` scan filter keeps exactness inside
    * partially-newer files. */
  def readAsOf(spark: SparkSession, path: String, schema: String,
      asOf: Long, samples: Seq[String] = Nil): DataFrame = {
    val cols = colNames(schema)
    require(isVersioned(cols),
      s"versioned schema needs (key, ver, ...): got ${schema}")
    requireSampleProjectable(schema, samples)
    val files = asOfFiles(path, asOf, samples)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    // Latest-version resolution, then tombstone hiding: a key whose
    // winning version at t is a delete marker is absent from the
    // snapshot (HBase Delete semantics) — and a re-put AFTER the
    // tombstone resurrects it at later timestamps. The sample filter
    // applies BEFORE resolution, which is safe precisely because
    // resolution is per (key, sample) cell: dropping other samples'
    // rows can never change a wanted cell's version stack.
    val scanned = spark.read.schema(schema).parquet(files: _*).filter(col("ver") <= asOf)
    val raw =
      if (samples.isEmpty) scanned
      else scanned.filter(col("sample").isin(samples: _*))
    dropTombstones(latestPerKey(raw, cols), cols)
  }

  /** The file list an as-of-`t` (optionally sample-projected) read
    * touches: manifest entries whose `ver` range starts at or before
    * `t` and whose sample extent overlaps the projection. Package-
    * visible so the spec can assert the prune without scanning. */
  private[graft] def asOfFiles(path: String, asOf: Long,
      samples: Seq[String] = Nil): Seq[String] =
    manifest(path)
      .filter(e => e.minVer <= asOf && sampleOverlap(e, samples))
      .map(e => s"$path/${e.file}")

  /** Rewrite every live generation as one sorted bulk generation. The
    * input file list comes from the manifest (never a directory listing),
    * so orphans from failed tasks are excluded by construction.
    *
    * `horizon` is the MAJOR-compaction purge bound (HBase major
    * compaction + TTL analog) for versioned stores: history at or below
    * it collapses to what an as-of-`horizon` read needs. Per key the
    * rewrite keeps every version ABOVE the horizon plus the single
    * winning version at the horizon — unless that winner is a
    * [[Tombstone]], in which case the marker AND everything it masks
    * are physically removed (the GDPR/consent-revocation case: the
    * deleted rows leave disk, not just the read path). INVARIANT:
    * `readAsOf(t)` for any `t >= horizon` is unchanged by compaction;
    * reads below the horizon are no longer supported (their history is
    * gone — the same contract HBase major compaction gives a timerange
    * scan below the purge bound). The default `Long.MinValue` horizon
    * purges nothing, preserving every historical snapshot.
    *
    * Commits through [[spliceCompacted]] (r15): the manifest swap drops
    * exactly the folded snapshot's lines, so a generation APPENDED
    * while the rewrite ran survives with its rows intact (it waits for
    * the next pass), and a concurrent compactor aborts this pass
    * rather than double-splicing. */
  /** MINOR (incremental) compaction — the HBase minor-compaction analog
    * and the missing middle between per-epoch memstore flushes and
    * [[compact]]'s full rewrite (which re-reads EVERY byte of the store:
    * at 100 TB that is the thing you cannot afford on a cadence).
    *
    * SIZE-TIERED fold selection (r13 advice — the property that makes
    * "minor" stay minor): fold the SMALLEST `entries - keepGenerations
    * + 1` files by manifest row count (ties by file name, so equal-size
    * generations fold deterministically), protecting the LARGEST
    * `keepGenerations - 1`. In steady state the protected set is
    * exactly the previously-merged generations, so repeated minor
    * passes never re-read the accumulated merge — each row is rewritten
    * O(log n) times across its lifetime (the LSM size-tiered bound),
    * not once per pass. Old big generations only fold when a major
    * [[compact]] runs.
    *
    * Rows are rewritten AS-IS: all versions survive, tombstones keep
    * masking (they may mask rows in files this pass never read —
    * purging here would be wrong), so every `readRange`/`readAsOf`
    * result is bit-identical before and after — only the file count
    * drops.
    *
    * The merged generation is written through the sink into a TEMP
    * store (so ver ranges and sample extents are re-tracked by the
    * writer), its files are moved in, and the manifest swap runs under
    * the manifest lock — concurrent appenders' lines survive the splice
    * because the swap drops exactly the folded lines from the CURRENT
    * manifest rather than rewriting from a snapshot. Folded files are
    * deleted only after the new manifest is live (crash in between
    * leaves a readable store + orphans, the same ordering contract as
    * the batch commit).
    *
    * Compaction expects a SINGLE compactor per store (the HBase analog:
    * one region server owns a region's compactions) — appenders are
    * safe concurrently (the splice preserves their manifest lines), a
    * second simultaneous compactor is not coordinated. As a guard, the
    * locked splice re-checks that every folded file is still in the
    * CURRENT manifest; if another compactor already folded one of them,
    * this pass ABORTS (drops its merged generation, leaves the store
    * untouched) instead of double-splicing the same rows. Readers never
    * see WRONG data across a splice (generation files are immutable and
    * the manifest swap is atomic), but a read that listed files before
    * the splice can fail LOUDLY if it executes after the fold set is
    * deleted — the retry-the-read contract every snapshot-isolated file
    * store without reference counting has ([[snapshotImpl]] implements
    * that retry for clones).
    *
    * Live-generation bound (r21 advice): the churn guard (fold only
    * when the fold set holds MORE input files than the numRanges
    * output files it would write) relaxes the worst case from
    * keep + 1 to **keep + numRanges** live generations — e.g. two
    * 1-file generations at numRanges = 2 stay separate until a third
    * file arrives. Production auto-compact uses numRanges = 1, where
    * the bound is unchanged; the trade (never an idempotent rewrite
    * that only renames bytes) is deliberate. */
  def compactMinor(spark: SparkSession, path: String, schema: String,
      keepGenerations: Int = 4, numRanges: Int = 1): Unit =
    compactMinorImpl(spark, path, schema, keepGenerations, numRanges, () => ())

  /** Test seam for the compactor-race abort: `beforeSplice` runs after
    * this pass's merged generation is staged in the store directory but
    * BEFORE the locked splice — the window in which a concurrent
    * compactor can win. Specs inject a competing (real) compaction here
    * to drive the abort branch deterministically; production callers go
    * through [[compactMinor]], whose hook is a no-op. */
  /** Compaction fold-eligibility: a streaming generation may be folded
    * only once its epoch is CONFIRMED by its query's high-water mark.
    * The only way an unconfirmed generation exists is the crash window
    * (manifest written, mark not): folding it would leave a later
    * replay of that epoch with neither lines to replace nor a mark to
    * stop an append — silent row duplication. At most ONE unconfirmed
    * epoch per crashed query can exist, so the skipped volume is
    * bounded, and it becomes fold-eligible the moment the query
    * restarts and replays (the replace path repairs the mark). Batch
    * generations and legacy (pre-query-scoped) stream names commit
    * atomically with their manifest line — always eligible. */
  private def foldEligible(hwms: Map[String, Long])(e: ManifestEntry): Boolean =
    StoreManifest.streamEpochOf(e.file) match {
      case Some((qtag, epoch)) =>
        hwms.exists { case (qid, m) =>
          StoreManifest.queryTag(qid) == qtag && m >= epoch }
      case None => true
    }

  private[graft] def compactMinorImpl(spark: SparkSession, path: String,
      schema: String, keepGenerations: Int, numRanges: Int,
      beforeSplice: () => Unit, afterSplice: () => Unit = () => ()): Unit = {
    require(keepGenerations >= 1, s"keepGenerations must be >= 1: $keepGenerations")
    // consistent manifest + mark snapshot for fold-set selection
    val dirPath = java.nio.file.Paths.get(path)
    val (entries, hwms) = StoreManifest.withManifestLock(dirPath) {
      (manifest(path), StoreManifest.readEpochHwms(dirPath))
    }
    // GENERATION-ATOMIC selection (r19 review): a multi-partition
    // streaming epoch is one generation spread over several task files,
    // and folding a SUBSET of them is a correctness bug, not a tuning
    // choice — the leftover files keep the epoch's manifest prefix
    // alive, so a later replay of that epoch takes the replace branch
    // and re-appends the WHOLE generation while the folded rows persist
    // inside the merge: silent duplication. Group files by generation,
    // size-tier the GROUPS, fold whole groups only. (Batch files group
    // singly — they have no replay protocol, so per-file folding of a
    // batch append was always safe; this preserves that.)
    val groups = entries.groupBy(e => StoreManifest.generationKey(e.file))
      .values.toSeq
    if (groups.size <= keepGenerations) return
    val smallestFirst = groups
      .filter(_.forall(foldEligible(hwms))) // uniform per generation
      .sortBy(g => (g.map(_.rows).sum, g.map(_.file).min))
    val foldGroups = smallestFirst.take(
      math.min(smallestFirst.size, groups.size - keepGenerations + 1))
    // "worth merging" counts FILES, not groups (r20 advice item): a
    // single eligible generation spread over many hash-partitioned task
    // files is exactly the fragmentation a fold exists to consolidate,
    // and folding it WHOLE is replay-safe — all-or-nothing selection
    // plus the epoch high-water mark's replace branch already cover the
    // fully-folded-epoch case. Only a fold set of one file is a no-op
    // rewrite.
    // "Worth merging" counts FILES against the fold's OUTPUT file count
    // (r20 advice, generalized r21): the fold rewrites its input into
    // `numRanges` files, so a fold set of <= numRanges files cannot
    // shrink the store — with numRanges >= 2 the output generation's
    // files (batch files, grouped singly) would qualify again on every
    // pass and re-fold the same rows forever: idempotent results,
    // unbounded write amplification. Requiring strictly more input
    // files than output files makes every fold a real consolidation and
    // the pass sequence terminating. (k == numRanges overlapping files
    // keep their layout here; a MAJOR `compact` still re-sorts them.)
    if (foldGroups.iterator.map(_.size).sum <= math.max(1, numRanges)) return
    val fold = foldGroups.flatten
    spliceCompacted(path, fold,
      spark.read.schema(schema).parquet(fold.map(e => s"$path/${e.file}"): _*),
      colNames(schema)(0), numRanges, beforeSplice, afterSplice)
  }

  /** Shared compaction commit ([[compact]] folds every snapshot
    * generation, [[compactMinorImpl]] the size-tiered smallest): write
    * `merged` through the sink into a TEMP store (so ver ranges and
    * sample extents are re-tracked by the writer), stage its generation
    * files into the store directory, and swap the manifest under the
    * manifest lock — dropping exactly `fold`'s lines from the CURRENT
    * manifest rather than rewriting from a snapshot, so a concurrent
    * APPENDER's committed generation always survives the splice (rows
    * it added are simply not compacted this pass). If any fold file
    * already left the manifest — a concurrent COMPACTOR won — the pass
    * ABORTS: it un-publishes its staged generation and leaves the store
    * untouched, the guard against silent double-splice row duplication.
    * Fold files are RETIRED (de-manifested but left on disk for the
    * orphan-sweep grace window) only after the new manifest is live: a
    * crash in between leaves a readable store + orphans (the
    * batch-commit ordering contract), and a reader that resolved the
    * pre-splice manifest finishes against intact files — non-blocking
    * reads under compaction, the deferred-vacuum contract. */
  private def spliceCompacted(path: String, fold: Seq[ManifestEntry],
      merged: DataFrame, keyCol: String, numRanges: Int,
      beforeSplice: () => Unit, afterSplice: () => Unit = () => ()): Unit = {
    val t0 = System.currentTimeMillis() // the merge job erodes the sweep floor
    val dir = java.nio.file.Paths.get(path)
    val foldSet = fold.map(_.file).toSet
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_compact_")
    try {
      merged
        .repartitionByRange(numRanges, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.format("graft.sources.VariantStoreSink")
        .option("path", tmpDir.toString).mode("overwrite").save()
      val mergedLines = StoreManifest.readLines(tmpDir)
      mergedLines.map(StoreManifest.parse).foreach { e =>
        java.nio.file.Files.move(tmpDir.resolve(e.file), dir.resolve(e.file))
      }
      beforeSplice()
      val spliced = StoreManifest.withManifestLock(dir) {
        val current = StoreManifest.readLines(dir)
        val currentFiles = current.map(StoreManifest.parse(_).file).toSet
        if (fold.exists(e => !currentFiles(e.file))) false // lost a compactor race
        else {
          StoreManifest.writeLines(dir,
            (current.filterNot(l => foldSet(StoreManifest.parse(l).file)) ++ mergedLines).sorted)
          true
        }
      }
      // kill window (KillDurabilitySpec): spliced manifest live, fold
      // files not yet retired — a crash here must serve the compacted
      // content with the fold set as sweepable orphans
      if (spliced) afterSplice()
      if (spliced)
        // RETIRE, don't delete: a reader that resolved the pre-splice
        // manifest (file list captured at DataFrame construction) must
        // finish its scan against intact files — the fold set stays on
        // disk for the sweep grace and is reaped as an aged orphan by a
        // later maintenance pass ([[StoreManifest.retire]]).
        fold.foreach(e => StoreManifest.retire(dir, e.file))
      else // abort: un-publish OUR merged generation; the store is untouched
        mergedLines.map(StoreManifest.parse)
          .foreach(e => java.nio.file.Files.deleteIfExists(dir.resolve(e.file)))
    } finally {
      // temp-store leftovers (manifest, lock sidecar, checksums, dir),
      // also when a step above throws
      Option(tmpDir.toFile.listFiles()).foreach(_.foreach(_.delete()))
      java.nio.file.Files.deleteIfExists(tmpDir)
    }
    // Aged orphan sweep — compaction is the store's maintenance pass
    // (since the splice rework the sink's truncate-commit sweep no
    // longer runs against the REAL store dir); the shared reap policy
    // lives in [[StoreManifest.sweepAgedOrphans]]; piggy-backed sweeps
    // carry the concurrent-writer floor ([[StoreManifest.sweepOpportunistic]])
    // plus this pass's own duration (the batch commit's elapsedMs
    // convention) so the merge job's wall time doesn't erode the floor.
    StoreManifest.sweepOpportunistic(dir,
      elapsedMs = System.currentTimeMillis() - t0)
  }

  /** Snapshot/clone — the HBase table-snapshot analog: copy the CURRENT
    * manifest-listed generations (orphans from failed tasks are excluded
    * by construction, exactly like the read path) into `dest` with a
    * fresh manifest. The clone is fully isolated: later appends,
    * deletes, or compactions of the SOURCE never change a read against
    * the snapshot — the HBase snapshot guarantee, implemented the same
    * way (generation files are immutable once manifested; only
    * compaction removes them, and snapshot runs under the same
    * single-compactor assumption as every reader).
    *
    * `asOf < Long.MaxValue` prunes the copied set to files whose version
    * range starts at or before `asOf` (the [[asOfFiles]] manifest prune):
    * the clone then serves any `readAsOf(t)`, `t <= asOf`, bit-
    * identically to the source — a point-in-time snapshot that pays only
    * for the files that instant could see. The manifest lines are
    * copied VERBATIM (same file names, same extents), so every prune
    * the source's reads enjoyed survives the clone.
    *
    * Driver-side file copy: generations are the unit of bulk I/O and a
    * snapshot at 100 TB is a metadata + hard-link operation in any real
    * object store / DFS (HBase snapshots are reference files, not data
    * copies); the local-FS copy here is the portable stand-in. */
  def snapshot(path: String, dest: String, asOf: Long = Long.MaxValue): Unit =
    snapshotImpl(path, dest, asOf, () => ())

  /** Maintenance sweep — the VACUUM verb (Delta VACUUM / Iceberg
    * expire-files analog): physically delete files no CURRENT manifest
    * line references once they have sat unreferenced past `graceMs` —
    * generations RETIRED by compaction's splice or a truncate commit
    * ([[StoreManifest.retire]]), plus crashed-writer leftovers. The
    * grace window is the non-blocking-read contract: a reader holds the
    * file list it resolved from the manifest at DataFrame construction,
    * and retired files must outlive the longest running scan. Safe to
    * run any time (the keep set is read under the manifest lock, so a
    * concurrent commit's files are never swept); compaction and truncate
    * also run it opportunistically ([[StoreManifest.sweepOpportunistic]]).
    * Negative `graceMs` (the default) defers to the store's configured
    * retention ([[setGrace]] / `_GRACE` sidecar) — a store that declared
    * a longer-than-default window keeps it through a plain
    * `vacuum(dir)`; passing an explicit grace (including `0`) overrides
    * the policy for this one sweep, on the caller's authority. */
  def vacuum(path: String, graceMs: Long = -1L): Unit =
    StoreManifest.sweepAgedOrphans(java.nio.file.Paths.get(path), graceMs = graceMs)

  /** Configure the store's retired-file retention (the Delta
    * `deletedFileRetentionDuration` table-property analog, persisted as
    * a `_GRACE` sidecar): how long a generation DE-MANIFESTED by a
    * truncate commit or a compaction splice stays on disk for in-flight
    * readers before maintenance may reclaim it. `0` opts the store into
    * IMMEDIATE reclaim on retirement — only safe when the caller owns
    * every reader (single-process temp stores, test fixtures); the
    * default one hour is the non-blocking-read contract
    * ([[StoreManifest.retire]]). The policy governs RETIRED-file rent
    * only: opportunistic commit/compaction sweeps keep a
    * concurrent-writer floor regardless of the configured grace
    * ([[StoreManifest.sweepOpportunistic]]: 60 s plus the sweeping
    * pass's own elapsed time), which shields a neighbor writer whose
    * WRITE PHASE fits that floor. A concurrent batch write expected to
    * run longer than the floor needs a real grace window (>= its write
    * duration) — zero grace asserts single-writer as well as
    * single-reader for such workloads. */
  def setGrace(path: String, ms: Long): Unit =
    StoreManifest.setGrace(java.nio.file.Paths.get(path), ms)

  /** Test seam: `afterManifestRead` runs between the locked manifest
    * read and the file copies — the window in which a concurrent
    * compactor can delete a listed generation. Production callers go
    * through [[snapshot]] (no-op hook). The copy loop RETRIES against a
    * fresh manifest when a listed file vanished mid-copy (the compactor
    * published its merge and reaped the fold set): files staged by the
    * failed attempt are discarded and the attempt restarts, so a
    * snapshot taken DURING compaction lands on a consistent post-splice
    * manifest instead of failing — reads against the clone stay
    * bit-identical either way, because both pre- and post-splice file
    * sets resolve the same cells. Bounded retries: a store compacting
    * faster than three copy passes is pathological, and the final
    * attempt's NoSuchFileException propagates loudly. */
  private[graft] def snapshotImpl(path: String, dest: String, asOf: Long,
      afterManifestRead: () => Unit): Unit = {
    val srcDir = java.nio.file.Paths.get(path)
    val destDir = java.nio.file.Paths.get(dest)
    java.nio.file.Files.createDirectories(destDir)
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      // consistent manifest + epoch-mark snapshot under ONE lock hold:
      // reading the mark file separately (after the data copies, as an
      // earlier version did) let a streaming epoch commit land in
      // between, producing a clone whose mark claims an epoch whose
      // generation the clone's manifest lacks — a replay of that epoch
      // against the clone would be discarded as already-durable, silent
      // row loss. Captured together, mark ⊆ manifest always holds.
      val (lines, hwms) = StoreManifest.withManifestLock(srcDir) {
        (StoreManifest.readLines(srcDir), StoreManifest.readEpochHwms(srcDir))
      }
      val kept = lines.filter(l => StoreManifest.parse(l).minVer <= asOf)
      if (attempt == 1) afterManifestRead()
      try {
        kept.foreach { l =>
          val f = StoreManifest.parse(l).file
          java.nio.file.Files.copy(srcDir.resolve(f), destDir.resolve(f),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        StoreManifest.writeLines(destDir, kept.sorted)
        // the epoch high-water mark rides along on FULL clones only: an
        // asOf fork may exclude a marked epoch's generation, and a mark
        // claiming an epoch the clone does not hold would turn that
        // epoch's replay into a silent skip — permanent row loss on the
        // clone. Omitting it degrades a stream resumed against the fork
        // to at-least-once (the replay re-appends); duplication is
        // recoverable, silent loss is not. The clone gets the map
        // CAPTURED with the manifest above, never a re-read of the live
        // file.
        if (asOf == Long.MaxValue && hwms.nonEmpty)
          StoreManifest.writeEpochHwms(destDir, hwms)
        // retention is a table property, not data: every clone (as-of
        // forks included) keeps the source's configured grace — a
        // zero-grace scratch store must not fork into a store paying an
        // hour of disk rent, and vice versa
        val grace = srcDir.resolve(StoreManifest.GraceFile)
        if (java.nio.file.Files.exists(grace))
          java.nio.file.Files.copy(grace,
            destDir.resolve(StoreManifest.GraceFile),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        done = true
      } catch {
        case _: java.nio.file.NoSuchFileException if attempt < 3 =>
          // a compactor reaped a listed file mid-copy: discard this
          // attempt's staged copies and retry on the fresh manifest
          kept.foreach(l => java.nio.file.Files.deleteIfExists(
            destDir.resolve(StoreManifest.parse(l).file)))
      }
    }
  }

  def compact(spark: SparkSession, path: String, schema: String,
      numRanges: Int = 8, horizon: Long = Long.MinValue): Unit =
    compactImpl(spark, path, schema, numRanges, horizon, () => ())

  /** Test seam, mirroring [[compactMinorImpl]]'s: `beforeSplice` runs
    * in the window a concurrent writer can land. Major compaction used
    * to commit through the sink's overwrite mode (wholesale manifest
    * replace + reap of every pre-overwrite file) — correct for bulk
    * load, but a generation APPENDED between fold selection and that
    * commit was silently replaced and its file REAPED: lost rows from
    * an appender + major-compactor overlap the docs declare safe. It
    * now commits through the same [[spliceCompacted]] path as minor
    * compaction: concurrent appends survive (their lines stay in the
    * spliced manifest, their rows simply wait for the next pass), and
    * a concurrent compactor aborts the pass instead of double-splicing. */
  private[graft] def compactImpl(spark: SparkSession, path: String,
      schema: String, numRanges: Int, horizon: Long,
      beforeSplice: () => Unit, afterSplice: () => Unit = () => ()): Unit = {
    val cols = colNames(schema)
    // consistent manifest + mark snapshot for fold-set selection
    val dirPath = java.nio.file.Paths.get(path)
    val (all, hwms) = StoreManifest.withManifestLock(dirPath) {
      (manifest(path), StoreManifest.readEpochHwms(dirPath))
    }
    require(all.nonEmpty, s"nothing to compact: no manifest at $path")
    // unconfirmed crash-window epochs are excluded, same as minor
    // compaction — they stay as their own generation until their query
    // replays and confirms them (see [[foldEligible]])
    val fold = all.filter(foldEligible(hwms))
    if (fold.isEmpty) return
    val raw = spark.read.schema(schema)
      .parquet(fold.map(e => s"$path/${e.file}"): _*)
    // The horizon purge may only run when the fold sees the WHOLE store
    // (r19 review): purging decides per key from the fold's history, so
    // an EXCLUDED generation (an unconfirmed crash-window epoch) holding
    // an older version of a tombstoned key would outlive the purged
    // tombstone and resurrect a deleted row at readAsOf(>= horizon).
    // With exclusions the pass degrades to a pure merge — the purge
    // happens on a later pass, once the epoch confirms and folds.
    val purgeSafe = fold.size == all.size
    val kept =
      if (!isVersioned(cols) || horizon == Long.MinValue || !purgeSafe) raw
      else raw.filter(col("ver") > horizon).unionByName(
        dropTombstones(latestPerKey(raw.filter(col("ver") <= horizon), cols), cols))
    spliceCompacted(path, fold, kept, cols(0), numRanges, beforeSplice, afterSplice)
  }
}
