package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.ops.Gvcf

/** The width handoff's evidence main: build the wide cohort
  * ([[graft.ops.Gvcf.syntheticVariantsWide]], its `Pl` form for
  * `genotype`) at `width` samples, check the admission the width-
  * dispatching op decided on the lazy plan, run it at full width and
  * validate every site by the cohort's formulas.
  *
  *   sbt "runMain graft.WidthProbe <combine|genotype|export|sink|floor> <width> [out.json]"
  *
  * Admission: `format` must be dense up to
  * [[graft.ops.Gvcf.defaultMaxDenseWidth]] (the bound the autos resolve
  * on this JVM), long (chunked for export/sink) above it. The modes:
  *   combine, genotype  [[graft.ops.Gvcf.combineAuto]] /
  *                      [[graft.ops.Gvcf.genotypeAuto]] on either route;
  *   export             [[graft.ops.Gvcf.exportAuto]], chunked route only,
  *                      10,000-sample chunks validated in memory;
  *   sink               the same chunks through a partitioned text sink,
  *                      streamed back one chunk row at a time and
  *                      compared site by site (MD5, bytes) with the
  *                      [[graft.ops.Gvcf.linesFromChunks]] witness;
  *   floor              combine at the width the caller expects this
  *                      heap to derive, under the starved
  *                      `spark.memory.fraction = 0.15` of the r17e floor
  *                      measurement, checking n_samples and the calls
  *                      count a site; fails before any job if the
  *                      derived bound differs.
  * One JSON record goes to `out.json` (default `WIDTH_PROBE_<mode>.json`)
  * and stdout; a fault fails the run. */
object WidthProbe {

  val ChunkSamples = 10000

  /** The wide cohort's hom-ref samples at position j: #k in [0, width)
    * with (j + k) % 3 == 2, i.e. floor((width - 1 - r) / 3) + 1 for the
    * residue r ≡ 2 - j (mod 3). */
  private def blocksAt(width: Long, j: Long): Long = {
    val r = ((2 - j) % 3 + 3) % 3
    if (r >= width) 0L else (width - 1 - r) / 3 + 1
  }

  /** The faults of a per-site aggregate — columns pos, cells, homref,
    * ngt and a nullable shape-specific `fault` — against the cohort's
    * formulas: one site per position, `width` cells a site, the
    * arithmetic hom-ref count, and at most 5 genotypes (two alt letters
    * a site under the (j+1+k%3)%4 scheme → {0/0, 0/1, 0/2, 1/1, 2/2}).
    * Returns the collected sites and the faults. */
  private def check(perSite: DataFrame, width: Long): (Array[Row], Seq[String]) = {
    val sites = perSite.collect()
    val bad = sites.toSeq.flatMap { r =>
      val pos = r.getAs[Long]("pos")
      val (cells, homref, ngt) =
        (r.getAs[Long]("cells"), r.getAs[Long]("homref"), r.getAs[Long]("ngt"))
      val exp = blocksAt(width, (pos - 1) / 10)
      if (cells != width) Some(s"pos $pos cells $cells != width $width")
      else if (homref != exp) Some(s"pos $pos homref $homref != $exp")
      else if (ngt > 5) Some(s"pos $pos ngt $ngt > 5")
      else Option(r.getAs[String]("fault")).map(f => s"pos $pos $f")
    }
    (sites, sitesFault(sites.length) ++ bad)
  }

  /** The cohort has one site a position. */
  private def sitesFault(n: Int): Seq[String] =
    if (n == Gvcf.WidePositions) Nil else Seq(s"sites $n != ${Gvcf.WidePositions}")

  /** Long rows ([[graft.ops.Gvcf.combineLong]], [[graft.ops.Gvcf.genotypeLong]]):
    * one row per (site, sample) with its `gt`. */
  def checkLong(long: DataFrame, width: Long): (Array[Row], Seq[String]) =
    check(long.groupBy("contig", "pos").agg(
      count(lit(1)).as("cells"),
      count(when(col("gt") === "0/0", 1)).as("homref"),
      countDistinct("gt").as("ngt"),
      lit(null).cast(StringType).as("fault")), width)

  /** Dense rows: `calls` is an array of "sample:gt:gq"
    * ([[graft.ops.Gvcf.combineSites]]) or those joined by ';'
    * ([[graft.ops.Gvcf.genotypeGvcf]]); `n_samples` must count them. */
  def checkDense(dense: DataFrame, width: Long): (Array[Row], Seq[String]) = {
    val calls =
      if (dense.schema("calls").dataType == StringType) split(col("calls"), ";")
      else col("calls")
    check(dense.withColumn("ca", calls).select(col("pos"),
      size(col("ca")).cast("long").as("cells"),
      expr("size(filter(ca, c -> c like '%:0/0:%'))").cast("long").as("homref"),
      expr("size(array_distinct(transform(ca, c -> split(c, ':')[1])))")
        .cast("long").as("ngt"),
      when(col("n_samples") =!= size(col("ca")),
        concat(lit("n_samples "), col("n_samples"), lit(" != calls")))
        .as("fault")), width)
  }

  /** Chunk rows ([[graft.ops.Gvcf.exportChunks]]): per site, one prefix
    * row (chunk 0) pinning NS=width and the GT:GQ FORMAT tail, then
    * chunks 1..ceil(width / chunkSamples) of tab-joined "gt:gq" cells. */
  def checkChunks(chunks: DataFrame, width: Long,
      chunkSamples: Int): (Array[Row], Seq[String]) = {
    val nChunks = (width + chunkSamples - 1) / chunkSamples
    val isCells = col("chunk_idx") > 0
    val prefix = col("prefix")
    check(chunks.withColumn("c", when(isCells, split(col("part"), "\t")))
      .groupBy("contig", "pos").agg(
        count(lit(1)).as("chunk_rows"),
        count(when(isCells, 1)).as("chunks"),
        max(col("chunk_idx")).as("maxc"),
        sum(when(isCells, size(col("c")))).cast("long").as("cells"),
        sum(when(isCells, expr("size(filter(c, x -> x like '0/0:%'))")))
          .cast("long").as("homref"),
        expr("size(array_distinct(flatten(collect_set(" +
          "array_distinct(transform(c, x -> split(x, ':')[0]))))))")
          .cast("long").as("ngt"),
        max(when(!isCells, col("part"))).as("prefix"))
      .withColumn("fault",
        when(col("chunks") =!= nChunks || col("maxc") =!= nChunks,
          concat(lit("chunks "), col("chunks"), lit(" max "), col("maxc"),
            lit(s" != $nChunks")))
          .when(prefix.isNull || !prefix.contains(s"\tNS=$width\t"),
            lit(s"prefix NS != $width"))
          .when(!prefix.endsWith("\tGT:GQ"), lit("prefix FORMAT tail"))),
      width)
  }

  /** Writes chunk rows as text under `dir`: repartitioned by site and
    * sorted by (contig, pos, chunk_idx) within each partition, one
    * U+0001-delimited row a line (parts hold tabs, never control
    * characters), so a site's chunks land consecutively in one file. */
  def writeSink(chunks: DataFrame, dir: String, parts: Int): Unit =
    chunks.repartition(parts, col("contig"), col("pos"))
      .sortWithinPartitions("contig", "pos", "chunk_idx")
      .select(concat_ws("\u0001", col("contig"), col("pos").cast("string"),
        col("chunk_idx").cast("string"), col("part")).as("value"))
      .write.mode("overwrite").text(dir)

  /** What [[readSink]] streamed back: the part files and their bytes,
    * the largest row any reader held, each site's (MD5, bytes) of its
    * tab-stitched line, and the order faults seen on the way. */
  final case class Sink(files: Int, bytesOnDisk: Long, maxRowBytes: Long,
      sites: Map[(String, Long), (String, Long)], faults: Seq[String])

  /** Streams every part file under `dir` one chunk row at a time,
    * requiring each site's chunks in order 0, 1, … within one file, and
    * folds each site's line into an incremental MD5. */
  def readSink(dir: String): Sink = {
    val files = new File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val sites = scala.collection.mutable.Map[(String, Long), (String, Long)]()
    val faults = Seq.newBuilder[String]
    var maxRowBytes = 0L
    for (f <- files) {
      val in = Files.newBufferedReader(f.toPath, UTF_8)
      try {
        var site: (String, Long) = null
        var next, lineBytes = 0L
        val md = MessageDigest.getInstance("MD5")
        def finish(): Unit = if (site != null) {
          if (sites.contains(site)) faults += s"site $site straddles part files"
          sites(site) = (md.digest().map("%02x".format(_)).mkString, lineBytes)
        }
        Iterator.continually(in.readLine()).takeWhile(_ != null).foreach { row =>
          row.split("\u0001", 4) match {
            case Array(contig, pos, idx, part) =>
              if ((contig, pos.toLong) != site) {
                finish()
                site = (contig, pos.toLong); next = 0L; lineBytes = 0L
              }
              if (idx.toLong != next) faults += s"site $site chunk $idx != $next"
              val bytes = part.getBytes(UTF_8)
              // the row's UTF-8 bytes: its ASCII header and delimiters
              // count one byte a char
              maxRowBytes = math.max(maxRowBytes, bytes.length + row.length - part.length)
              if (next > 0L) { md.update('\t'.toByte); lineBytes += 1 }
              md.update(bytes); lineBytes += bytes.length
              next += 1
            case _ => faults += s"malformed row in ${f.getName}"
          }
        }
        finish()
      } finally in.close()
    }
    Sink(files.length, files.map(_.length).sum, maxRowBytes, sites.toMap,
      faults.result())
  }

  /** Each site's (MD5, octet length) of its [[graft.ops.Gvcf.linesFromChunks]]
    * line: the in-memory stitch GvcfSpec pins against the dense export. */
  def witness(chunks: DataFrame): Map[(String, Long), (String, Long)] =
    Gvcf.linesFromChunks(chunks)
      .select(col("contig"), col("pos"), md5(col("line").cast("binary")),
        expr("octet_length(line)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getString(2), r.getInt(3).toLong))
      .toMap

  /** The sink's faults against the witness: order faults, then every
    * site missing on one side or differing in MD5 or bytes. */
  def sinkFaults(sink: Sink, expected: Map[(String, Long), (String, Long)]): Seq[String] =
    sink.faults ++ (expected.keySet ++ sink.sites.keySet).toSeq.sorted.flatMap { s =>
      val (w, got) = (expected.get(s), sink.sites.get(s))
      if (w == got) None else Some(s"site $s sink $got != witness $w")
    } ++ sitesFault(expected.size)

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def pass(faults: Seq[String]): Unit =
    require(faults.isEmpty, s"invariant failures: ${faults.take(5).mkString("; ")}")

  private def obj(fields: (String, Any)*): String =
    fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v: Double) => s""""$k":${Tools.num(v)}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** Runs one probe and returns its JSON record; throws on a mis-route
    * or a fault. Admission is checked before anything executes. */
  def run(spark: SparkSession, mode: String, width: Long): String = {
    val bound = Gvcf.defaultMaxDenseWidth(spark)
    val heap = Runtime.getRuntime.maxMemory
    val slots = spark.sparkContext.defaultParallelism
    require(mode != "floor" || bound == width, s"derived bound $bound != " +
      s"expected $width (heap=$heap slots=$slots): the derivation drifted")
    val exporting = mode == "export" || mode == "sink"
    val auto = mode match {
      case "combine" | "floor" => Gvcf.combineAuto(Gvcf.syntheticVariantsWide(spark, width))
      case "genotype" => Gvcf.genotypeAuto(Gvcf.syntheticVariantsWidePl(spark, width))
      case "export" | "sink" => Gvcf.exportAuto(Gvcf.syntheticVariantsWide(spark, width),
        chunkSamples = ChunkSamples)
      case _ => throw new IllegalArgumentException(s"unknown mode $mode")
    }
    val expect = if (width <= bound) "dense" else if (exporting) "chunked" else "long"
    require(auto.width == width && auto.format == expect,
      s"admission mis-route: width $width -> ${auto.format} (declared " +
        s"${auto.width}), expected $expect under the bound $bound")
    require(!exporting || expect == "chunked",
      s"$mode validates the chunked route: width $width must exceed $bound")
    mode match {
      case "sink" =>
        val dir = Files.createTempDirectory("graft_width_sink_")
        try {
          val (_, writeSecs) = timed(writeSink(auto.df, dir.toString, slots))
          val (sink, stitchSecs) = timed(readSink(dir.toString))
          val expected = witness(auto.df)
          pass(sinkFaults(sink, expected))
          obj("cpus" -> slots, "width" -> width, "chunk_samples" -> ChunkSamples,
            "sites" -> sink.sites.size, "sink_files" -> sink.files,
            "bytes_on_disk" -> sink.bytesOnDisk, "max_chunk_row_bytes" -> sink.maxRowBytes,
            "full_line_bytes" -> expected.values.map(_._2).max,
            "write_secs" -> writeSecs, "stitch_secs" -> stitchSecs, "digests_match" -> true)
        } finally FileUtils.deleteDirectory(dir.toFile)
      case "export" =>
        val ((sites, bad), secs) = timed(checkChunks(auto.df, width, ChunkSamples))
        pass(bad)
        obj("cpus" -> slots, "width" -> width, "format" -> auto.format,
          "chunk_samples" -> ChunkSamples, "secs" -> secs, "sites" -> sites.length,
          "chunk_rows" -> sites.map(_.getAs[Long]("chunk_rows")).sum,
          "cells" -> sites.map(_.getAs[Long]("cells")).sum, "invariants" -> "pass")
      case "floor" =>
        // counts only: checkDense's per-cell arrays OOM the starved heap
        // that the bare combine fits (4800m, width 153,600, 32 slots)
        val (sites, secs) = timed(
          auto.df.select(col("n_samples"), size(col("calls"))).collect())
        pass(sites.collect { case r if r.getLong(0) != width || r.getInt(1) != width =>
          s"n_samples ${r.getLong(0)}, calls ${r.getInt(1)} != width $width" } ++
          sitesFault(sites.length))
        obj("heap_bytes" -> heap, "slots" -> slots, "derived_width" -> bound,
          "cap" -> Gvcf.MaxDenseWidth, "heap_reserve_bytes" -> Gvcf.HeapReserveBytes,
          "bytes_per_sample_slot" -> Gvcf.BytesPerSampleSlot,
          "secs" -> secs, "sites" -> sites.length, "result" -> "green")
      case _ =>
        val ((sites, bad), secs) = timed(
          if (auto.format == "long") checkLong(auto.df, width) else checkDense(auto.df, width))
        pass(bad)
        obj("cpus" -> slots, "op" -> mode, "width" -> width, "format" -> auto.format,
          "secs" -> secs, "sites" -> sites.length,
          "rows" -> sites.map(_.getAs[Long]("cells")).sum, "invariants" -> "pass")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.WidthProbe <combine|genotype|export|sink|floor> <width> [out.json]")
    val mode = args(0)
    val out = if (args.length > 2) args(2) else s"WIDTH_PROBE_$mode.json"
    val spark = Tools.session(Tools.envCpus,
      if (mode == "floor") Map("spark.memory.fraction" -> "0.15") else Map.empty)
    try Tools.writeRecord(out, run(spark, mode, args(1).toLong))
    finally spark.stop()
  }
}
