package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.Tools.{num, writeRecord}

/** Evidence tool (r18, verdict item 6): the streaming store's
  * read-amplification curve as generations accumulate, at several
  * compaction cadences — the LSM read/write-amplification tradeoff in
  * numbers, so the compaction cadence is a recorded policy instead of
  * folklore.
  *
  * Workload: `epochs` batch appends into one store, each writing a NEW
  * VERSION of the same `rowsPerEpoch` keys (the streaming-upsert shape
  * the 2,000-epoch soak models — full key overlap, so manifest key
  * pruning cannot help a reader and the generation count is the read
  * cost). Grace 0 (the tool owns every reader), so retired fold sets
  * leave disk at retirement and live bytes are honest.
  *
  * Cadences: `never`, and size-tiered minor compaction
  * ([[VariantStore.compactMinor]], keepGenerations = 4) every 64 / 16 /
  * 4 epochs. Per sampled epoch:
  *   gens            manifest line count (the reader's file-list)
  *   manifest_bytes  manifest size on disk
  *   list_us         driver-side readLines+parse+filter wall (the
  *                   metadata half of readRange)
  *   read_ms         a narrow resolved read (100-key slice), collected
  *   live_mb         manifest-listed bytes on disk
  *   written_mb      CUMULATIVE bytes ever written into the store dir
  *                   (appends + every compaction rewrite) — the
  *                   write-amplification numerator
  *
  *   sbt "runMain graft.sources.StoreEconomics STORE_ECONOMICS.json 400 2000"
  */
object StoreEconomics {

  private[sources] val Ddl = "key LONG, ver LONG, payload STRING"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("STORE_ECONOMICS.json")
    val epochs = if (args.length > 1) args(1).toInt else 400
    val rowsPerEpoch = if (args.length > 2) args(2).toInt else 2000
    // optional 4th arg "disjoint": each epoch writes its OWN key slice
    // (append-only ingest shape) instead of re-versioning the same keys
    // — the workload where manifest KEY PRUNING, not compaction, keeps
    // narrow reads flat (the complementary cadence-policy data point)
    val disjoint = args.length > 3 && args(3) == "disjoint"
    val spark = graft.Tools.session(8)
    import spark.implicits._

    // "auto" (r19): the SINK's own AutoCompactPolicy drives the cadence —
    // epochs go through the streaming commit (hand-driven memstore
    // writers, the StoreScaleSpec pattern) with the default policy, and
    // nothing here ever calls compactMinor. The sampled curve is the
    // direct measurement of the self-enforcing policy: bounded gens +
    // flat reads on overlapping upserts, zero folds on disjoint ingest.
    val cadences = Seq(("never", 0), ("auto", -1),
      ("every64", 64), ("every16", 16), ("every4", 4))
    val samples = (1 to epochs).filter(e => e % (epochs / 16).max(1) == 0 || e == 1)

    val lines = cadences.flatMap { case (name, every) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_econ_${name}_").toString
      VariantStore.setGrace(dir, 0L)
      // cumulative write tracking: any file name seen in the dir ever,
      // with the size at first sighting (generation files are immutable)
      val seen = scala.collection.mutable.Map.empty[String, Long]
      def trackWrites(): Unit =
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => seen.getOrElseUpdate(f.getName, f.length()))
      val rows = Seq.newBuilder[String]
      val schema = StructType.fromDDL(Ddl)
      // lazy: only the 'auto' cadence ever constructs (or touches) the
      // streaming write — the manual cadences must stay pure batch paths
      lazy val autoWrite = new StoreStreamingWrite(dir, schema, "econ-auto",
        AutoCompactPolicy(enabled = true, AutoCompactPolicy.DefaultThreshold,
          AutoCompactPolicy.DefaultKeep))
      for (e <- 1 to epochs) {
        val base = if (disjoint) (e - 1).toLong * rowsPerEpoch else 0L
        val epochRows = (base until base + rowsPerEpoch)
          .map(k => (k, e.toLong, s"v$e-$k"))
        if (every < 0) {
          // streaming-commit path: the sink's policy owns compaction
          val w = StoreMemstoreFactory(dir, schema,
            StoreManifest.queryTag("econ-auto")).createWriter(0, 0L, e)
          epochRows.foreach { case (k, v, p) =>
            w.write(InternalRow(k, v, UTF8String.fromString(p)))
          }
          autoWrite.commit(e, Array[WriterCommitMessage](w.commit()))
        } else {
          epochRows
            .toDF("key", "ver", "payload")
            .repartitionByRange(1, col("key")).sortWithinPartitions("key")
            .write.format("graft.sources.VariantStoreSink")
            .option("path", dir).mode("append").save()
        }
        trackWrites()
        if (every > 0 && e % every == 0) {
          VariantStore.compactMinor(spark, dir, Ddl, keepGenerations = 4)
          trackWrites()
        }
        if (samples.contains(e)) {
          val dirPath = java.nio.file.Paths.get(dir)
          val t0 = System.nanoTime()
          val allEntries = StoreManifest.readLines(dirPath)
            .map(StoreManifest.parse)
          val entries = allEntries
            .filter(en => en.minKey <= 199L && en.maxKey >= 100L)
          val listUs = (System.nanoTime() - t0) / 1000
          val manifestBytes = java.nio.file.Files.size(
            dirPath.resolve(StoreManifest.FileName))
          val t1 = System.nanoTime()
          val n = VariantStore.readRange(spark, dir, Ddl, 100L, 199L).count()
          val readMs = (System.nanoTime() - t1) / 1e6
          val live = StoreManifest.readLines(dirPath)
            .map(StoreManifest.parse(_).file)
            .map(f => new java.io.File(dir, f).length()).sum
          val written = seen.values.sum
          require(n == 100L, s"narrow read resolved $n rows, expected 100")
          rows += s"""{"cadence":"$name","epoch":$e,""" +
            s""""gens":${allEntries.size},"read_files":${entries.size},""" +
            s""""manifest_bytes":$manifestBytes,"list_us":$listUs,""" +
            s""""read_ms":${num(readMs)},"live_mb":${num(live / 1e6)},""" +
            s""""written_mb":${num(written / 1e6)}}"""
          System.err.println(rows.result().last)
        }
      }
      rows.result()
    }
    val json = s"""{"epochs":$epochs,"rows_per_epoch":$rowsPerEpoch,""" +
      s""""keep_generations":4,"samples":[\n${lines.mkString(",\n")}\n]}"""
    writeRecord(out, json)
    spark.stop()
  }
}

/** r20 evidence main (verdict item 6): the AUTO compaction policy at a
  * GB-scale store — StoreEconomics measures the policy curve at ~7 MB
  * live; this drives the REAL 334× documents corpus (~1.7M rows, ~0.6 GB
  * raw text) through the streaming sink as a few hundred multi-file
  * epochs and confirms, 2+ orders up:
  *   - the generation BOUND holds (gens never exceed threshold + the
  *     epoch in flight; every breach is folded back inside the same
  *     commit);
  *   - fold wall-time stays OFF the ingest critical path in aggregate
  *     (total fold-epoch overhead vs total ingest wall — the policy's
  *     O(n log n) overlap sweep runs per commit and must stay invisible
  *     at manifest sizes this large);
  *   - narrow resolved reads stay flat as the store grows.
  * Epochs are written through FOUR memstore writers each (a real
  * multi-partition streaming epoch — also the regime of the r20
  * single-group fold fix), with full key overlap across epochs (key =
  * doc_id mod keySpace) so manifest pruning cannot mask generation
  * growth. Grace 0, as in StoreEconomics.
  *
  *   sbt "runMain graft.sources.StoreEconomics334 /tmp/graft_c334 STORE_ECONOMICS_334x.json 334"
  */
object StoreEconomics334 {

  private val Ddl = StoreEconomics.Ddl

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_c334")
    val out = if (args.length > 1) args(1) else "STORE_ECONOMICS_334x.json"
    val epochs = if (args.length > 2) args(2).toInt else 334
    val keySpace = 50000L
    val writers = 4
    val spark = graft.Tools.session(8)
    val schema = StructType.fromDDL(Ddl)

    // one-pass epoch slicing: partition the corpus by doc_id mod epochs
    // so each epoch's feed is one pruned directory read, not a rescan
    val staging = java.nio.file.Files
      .createTempDirectory("graft_econ334_staging_").toString
    graft.api.tbl(spark, sfDir, "documents")
      .selectExpr(s"cast(pmod(doc_id, $epochs) as int) as e",
        s"pmod(doc_id, $keySpace) as key", "doc_id", "text")
      .write.partitionBy("e").mode("overwrite").parquet(staging)

    val dir = java.nio.file.Files.createTempDirectory("graft_econ334_").toString
    VariantStore.setGrace(dir, 0L)
    val write = new StoreStreamingWrite(dir, schema, "econ334",
      AutoCompactPolicy(enabled = true, AutoCompactPolicy.DefaultThreshold,
        AutoCompactPolicy.DefaultKeep))
    def gens(): Int = {
      val entries = StoreManifest.readLines(java.nio.file.Paths.get(dir))
        .map(StoreManifest.parse)
      entries.groupBy(e => StoreManifest.generationKey(e.file)).size
    }
    var totalRows = 0L
    var rawBytes = 0L
    var ingestNanos = 0L
    var foldEpochNanos = 0L
    var foldEvents = 0
    var maxGens = 0
    var maxFoldMs = 0.0
    val samples = Seq.newBuilder[String]
    var baselineMs = Double.NaN // median-ish ingest cost of non-fold epochs
    val nonFoldMs = scala.collection.mutable.ArrayBuffer[Double]()
    for (e <- 1 to epochs) {
      val slice = spark.read.parquet(s"$staging/e=${e - 1}")
        .select("key", "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).map { case (k, docs) => // one row per (key, epoch)
          val d = docs.minBy(_._2)
          (k, e.toLong, d._3)
        }.toSeq
      val gensBefore = gens()
      val t0 = System.nanoTime()
      val msgs = (0 until writers).map { p =>
        val w = StoreMemstoreFactory(dir, schema, StoreManifest.queryTag("econ334"))
          .createWriter(p, p.toLong, e)
        slice.filter(_._1 % writers == p).foreach { case (k, v, txt) =>
          w.write(InternalRow(k, v, UTF8String.fromString(txt)))
        }
        w.commit(): WriterCommitMessage
      }
      write.commit(e, msgs.toArray)
      val epochNanos = System.nanoTime() - t0
      ingestNanos += epochNanos
      val gensAfter = gens()
      maxGens = math.max(maxGens, math.max(gensBefore + 1, gensAfter))
      val folded = gensAfter < gensBefore + 1
      if (folded) {
        foldEvents += 1
        foldEpochNanos += epochNanos
        maxFoldMs = math.max(maxFoldMs, epochNanos / 1e6)
      } else nonFoldMs += epochNanos / 1e6
      totalRows += slice.size
      rawBytes += slice.iterator.map(_._3.length.toLong).sum
      if (e % 20 == 0 || e == 1 || e == epochs) {
        val t1 = System.nanoTime()
        val n = VariantStore.readRange(spark, dir, Ddl, 1000L, 1099L).count()
        val readMs = (System.nanoTime() - t1) / 1e6
        val live = StoreManifest.readLines(java.nio.file.Paths.get(dir))
          .map(StoreManifest.parse(_).file)
          .map(f => new java.io.File(dir, f).length()).sum
        samples += s"""{"epoch":$e,"gens":$gensAfter,"folded":$folded,""" +
          s""""ingest_ms":${num(epochNanos / 1e6)},""" +
          s""""read_ms":${num(readMs)},"read_rows":$n,""" +
          s""""live_mb":${num(live / 1e6)}}"""
        System.err.println(samples.result().last)
      }
    }
    // guard the median (r20 advice): if EVERY epoch folded (tiny epoch
    // count or aggressive threshold) nonFoldMs is empty — emit NaN
    // instead of dying on an empty index after the whole ingest ran.
    baselineMs =
      if (nonFoldMs.isEmpty) Double.NaN
      else nonFoldMs.sorted.apply(nonFoldMs.size / 2)
    val boundHeld = maxGens <= AutoCompactPolicy.DefaultThreshold + 1
    require(boundHeld, s"generation bound broken: max $maxGens")
    val json = s"""{"sf":"$sfDir","epochs":$epochs,"writers_per_epoch":$writers,""" +
      s""""key_space":$keySpace,"total_rows":$totalRows,""" +
      s""""raw_text_mb":${num(rawBytes / 1e6)},""" +
      s""""threshold":${AutoCompactPolicy.DefaultThreshold},""" +
      s""""keep":${AutoCompactPolicy.DefaultKeep},""" +
      s""""max_gens":$maxGens,"bound_held":$boundHeld,""" +
      s""""fold_events":$foldEvents,""" +
      s""""ingest_total_s":${num(ingestNanos / 1e9)},""" +
      s""""fold_epoch_total_s":${num(foldEpochNanos / 1e9)},""" +
      s""""median_epoch_ms":${num(baselineMs)},""" +
      s""""max_fold_epoch_ms":${num(maxFoldMs)},""" +
      s""""fold_wall_frac":${num(foldEpochNanos.toDouble / ingestNanos)},""" +
      s""""samples":[\n${samples.result().mkString(",\n")}\n]}"""
    writeRecord(out, json)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.stop()
  }
}
