package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.sources.VariantStore

/** `store_churn`: a versioned per-sample store under read/write churn —
  * upsert and tombstone generations appended through the sink, a mix of
  * narrow, sample-projected and as-of reads, and a minor compaction. The
  * only workload that writes, and the only one that loads `sources.*`. */
final class StoreChurn(spark: SparkSession, seed: Long) extends Workload {
  import StoreChurn._

  val name = "store_churn"
  val layer = "store"
  val warmupPasses = 3
  val refs = mutable.Map[String, Digest]()
  private var snapshotDir = ""
  private var storeDir = ""
  private val rnd = new java.util.SplittableRandom(seed)
  /** Base generations (bulk-loaded in set-up), then the per-pass ones. */
  private val base = Vector.tabulate(BaseGenerations)(g => generation(g, g + 1L, tombstone = false))
  private val churn = Vector.tabulate(Upserts + 1) { u =>
    generation(rnd.nextInt(BaseGenerations), BaseGenerations + 1L + u, tombstone = u == Upserts)
  }
  private val reads = Vector.tabulate(Reads)(i => read(i))

  /** One generation: `sample`'s rows at a seeded half of the keys. */
  private def generation(sample: Int, ver: Long, tombstone: Boolean): Seq[Cell] = {
    val share = if (tombstone) 0.1 else 0.5
    (0L until Keys).filter(_ => rnd.nextDouble() < share).map { k =>
      Cell(k, ver, sampleName(sample),
        if (tombstone) VariantStore.Tombstone else s"p$ver-${rnd.nextInt(1000000)}")
    }
  }

  /** The `i`-th read of the fixed mix. Projected and as-of reads name a
    * fixed number of distinct samples, and the as-of versions are
    * stratified over the store's version range, so every seed's reads
    * return about as many rows. */
  private def read(i: Int): Read = {
    val lo = rnd.nextInt(Keys - RangeWidth).toLong
    def someSamples(n: Int) = (0 until BaseGenerations).map(s => (rnd.nextLong(), s))
      .sortBy(_._1).take(n).map(p => sampleName(p._2)).sorted
    i % 10 match {
      case d if d < 4 => Read(s"r$i", "range", lo, lo + RangeWidth, Nil, Long.MaxValue)
      case d if d < 7 => Read(s"r$i", "projected", lo, lo + RangeWidth * 4, someSamples(3), Long.MaxValue)
      case d => // d = 7, 8, 9: one as-of read in each third of the versions
        val versions = BaseGenerations + Upserts + 1
        Read(s"r$i", "asof", 0, Keys, someSamples(2),
          1L + ((d - 7 + rnd.nextDouble()) * versions / 3).toLong)
    }
  }

  def setup(dir: java.nio.file.Path): Unit = {
    storeDir = dir.resolve("store").toString
    snapshotDir = dir.resolve("snapshot").toString
    base.zipWithIndex.foreach { case (g, i) => save(g, if (i == 0) "overwrite" else "append") }
    VariantStore.snapshot(storeDir, snapshotDir)
  }

  def sizes: Seq[(String, Long)] = Seq(
    "store_keys" -> Keys, "base_generations" -> BaseGenerations,
    "base_rows" -> base.map(_.size).sum.toLong,
    "churn_generations" -> churn.size.toLong, "churn_rows" -> churn.map(_.size).sum.toLong,
    "reads_per_pass" -> (Reads + Rereads).toLong)

  /** Expected read results, computed from the generator's generations
    * with the store's documented semantics (latest version per (key,
    * sample) cell, tombstoned cells hidden) and digested in one job. */
  def reference(): Unit = {
    val cells = base.flatten ++ churn.flatten
    val expected = reads.flatMap { rd =>
      cells.filter(c => c.key >= rd.lo && c.key <= rd.hi && c.ver <= rd.asOf &&
          (rd.samples.isEmpty || rd.samples.contains(c.sample)))
        .groupBy(c => (c.key, c.sample)).values.map(_.maxBy(_.ver))
        .filter(_.payload != VariantStore.Tombstone)
        .map(c => Row(rd.id, c.key, c.ver, c.sample, c.payload))
    }
    val schema = StructType.fromDDL(s"read STRING, $Schema")
    val digests = Digest.perGroup(
      spark.createDataFrame(spark.sparkContext.parallelize(expected, 4), schema), "read")
    reads.foreach(rd => refs(rd.id) = digests.getOrElse(rd.id, Digest(0, 0, 0)))
  }

  /** Bulk-load one generation. Its cells are generated in key order, so
    * `parallelize` already hands the sink key-sorted, range-partitioned
    * slices (one file each), as a per-sample gVCF arrives sorted. */
  private def save(cells: Seq[Cell], mode: String): Unit = {
    val rows = cells.map(c => Row(c.key, c.ver, c.sample, c.payload))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, FilesPerGeneration),
        StructType.fromDDL(Schema))
      .write.format("graft.sources.VariantStoreSink")
      .option("path", storeDir).mode(mode).save()
  }

  def pass(r: Recorder): Unit = {
    restore()
    // ingest throughput of the pass: every churn row over the time of all
    // its saves (the tombstone generation is a fifth of an upsert's size)
    val saveSec = churn.zipWithIndex.map { case (g, i) =>
      r.op(s"save$i", layer, latency = false) {
        val before = if (r.tracer.enabled) storeFiles() else Set.empty[String]
        r.tracer.span("save", "store.sink")(save(g, "append"))
        r.tracer.note("ingest_bytes", bytesOf(storeFiles() -- before))
        true
      }
    }
    r.throughput += churn.map(_.size).sum / saveSec.sum
    reads.foreach(runRead(r, _))
    r.op("compactMinor", layer, latency = false) {
      val before = if (r.tracer.enabled) storeFiles() else Set.empty[String]
      r.tracer.span("compact", "store.compact")(
        VariantStore.compactMinor(spark, storeDir, Schema, keepGenerations = KeepGenerations))
      r.tracer.note("compact_bytes_rewritten", bytesOf(storeFiles() -- before))
      true
    }
    // the same fixed reads after compaction must give the same results
    reads.take(Rereads).foreach(runRead(r, _))
  }

  private def bytesOf(files: Set[String]): Double =
    files.toSeq.map(f => new java.io.File(storeDir, f).length).sum.toDouble

  private def storeFiles(): Set[String] =
    Option(new java.io.File(storeDir).list()).toSet.flatten.filter(_.endsWith(".parquet"))

  /** Every pass starts from the set-up snapshot. */
  private def restore(): Unit = {
    deleteTree(new java.io.File(storeDir))
    VariantStore.snapshot(snapshotDir, storeDir)
  }

  private def runRead(r: Recorder, rd: Read): Unit =
    r.op(rd.kind, layer) {
      if (r.tracer.enabled) r.tracer.span("manifest", "store.manifest") {
        val considered = manifestEntries()
        val selected =
          if (rd.kind == "asof") VariantStore.asOfFiles(storeDir, rd.asOf, rd.samples)
          else VariantStore.rangeFiles(storeDir, rd.lo, rd.hi, rd.samples)
        r.tracer.note("files_considered", considered.size)
        r.tracer.note("files_selected", selected.size)
        r.tracer.noteMax("live_generations", considered.map(_._2).distinct.size)
      }
      val df = r.build {
        if (rd.kind == "asof") VariantStore.readAsOf(spark, storeDir, Schema, rd.asOf, rd.samples)
        else VariantStore.readRange(spark, storeDir, Schema, rd.lo, rd.hi, rd.samples)
      }
      r.action(Digest.of(df)) == refs(rd.id)
    }

  /** Manifest lines as (file, "minVer-maxVer"): every generation this
    * workload writes carries its own version (a compaction output, the
    * range it folded), so distinct version ranges count live generations. */
  private def manifestEntries(): Seq[(String, String)] = {
    val m = java.nio.file.Paths.get(storeDir, "_MANIFEST")
    new String(java.nio.file.Files.readAllBytes(m), "UTF-8").split("\n")
      .filter(_.nonEmpty).map(_.split(","))
      .map(f => f(0) -> s"${f(4)}-${f(5)}").toSeq
  }
}

object StoreChurn {
  val Schema = "key LONG, ver LONG, sample STRING, payload STRING"
  val Keys = 10000
  val BaseGenerations = 8
  val FilesPerGeneration = 2
  /** Upsert generations appended per pass (plus one tombstone generation). */
  val Upserts = 2
  val Reads = 12
  /** Reads repeated after the compaction, checked against the same digests. */
  val Rereads = 4
  val RangeWidth = 400
  val KeepGenerations = 4

  final case class Cell(key: Long, ver: Long, sample: String, payload: String)
  final case class Read(id: String, kind: String, lo: Long, hi: Long,
      samples: Seq[String], asOf: Long)

  def sampleName(i: Int): String = f"s$i%03d"

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
