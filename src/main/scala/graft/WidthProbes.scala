package graft

import org.apache.spark.sql.functions._

/** r18 evidence main: drive [[graft.ops.Gvcf.combineAuto]] at a corpus
  * whose derived cohort width (|orders|/50) exceeds the dense admission
  * bound — at /tmp/graft_c334 that is 1,002,000 samples — and prove the
  * three things the r17 verdict asked of the handoff:
  *   (1) the admission rule fires FROM METADATA before execution
  *       (format == "long", decided on the lazy plan);
  *   (2) the long-format execution completes materially under the 257 s
  *       dense median measured at the same width (CENTURY_PROBE_334x);
  *   (3) the results are correct — validated full-width by formula
  *       invariants of the synthetic cohort: every one of the 120 sites
  *       carries exactly `width` rows, the hom-ref rows per site equal
  *       the arithmetic block count (#k in [0,width) with (j+k)%3 == 2),
  *       and no site carries more than 5 distinct genotypes (two
  *       distinct alt letters per site under the (j+1+k%3)%4 scheme →
  *       merged indices 1..2 → {0/0, 0/1, 0/2, 1/1, 2/2}). Path
  *       EQUIVALENCE (long reassembles to the dense bytes) is GvcfSpec's
  *       dense≡long test — here width makes dense infeasible by design.
  *
  *   sbt "runMain graft.AutoCombineProbe /tmp/graft_c334 AUTO_COMBINE_334x.json"
  */
object AutoCombineProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_c334")
    val out = if (args.length > 1) args(1) else "AUTO_COMBINE_PROBE.json"
    val cpus = Tools.envCpus
    val spark = Tools.session(cpus)
    import graft.ops.Gvcf
    // optional 3rd arg: which width-dispatched family to drive —
    // "combine" (default) or "genotype" (the PL-remap path, heavier
    // per row, same admission rule and invariants: block-covered
    // samples re-genotype to 0/0 from banded likelihoods, sites to
    // 0/x or x/x in merged space)
    val op = if (args.length > 2) args(2) else "combine"
    val n = Gvcf.wideN(spark, sfDir)
    val auto =
      if (op == "genotype") Gvcf.genotypeAuto(Gvcf.syntheticVariantsWidePl(spark, n))
      else Gvcf.combineAuto(Gvcf.syntheticVariantsWide(spark, n))
    // (1) admission from metadata: nothing has executed yet
    require(auto.width == n, s"declared width ${auto.width} != cohort $n")
    val expectFormat = if (n > Gvcf.MaxDenseWidth) "long" else "dense"
    require(auto.format == expectFormat,
      s"admission mis-route: width $n -> ${auto.format}, expected $expectFormat")
    // (2)+(3) full-width execution, timed, validated by formula — the
    // validation aggregate depends on the admitted FORMAT (long rows
    // carry per-sample gt; dense rows carry n_samples + a calls array),
    // so a dense-route corpus (width <= MaxDenseWidth) validates too
    // instead of failing on a missing column.
    val t0 = System.nanoTime()
    val agg = (if (auto.format == "long")
      auto.df.groupBy("contig", "pos").agg(
        count(lit(1)).as("rows"),
        sum(when(col("gt") === "0/0", 1L).otherwise(0L)).as("homref"),
        countDistinct("gt").as("ngt"))
    else {
      // dense calls cell: combine emits an ARRAY of "sample:gt:gq"
      // entries, genotype a ';'-joined STRING — normalize first
      val callsArr =
        if (op == "genotype") expr("split(calls, ';')") else col("calls")
      auto.df
        .withColumn("ca", callsArr)
        .select(col("contig"), col("pos"),
          col("n_samples").as("rows"),
          expr("size(filter(ca, c -> c like '%:0/0:%'))")
            .cast("long").as("homref"),
          expr("size(array_distinct(transform(ca, " +
            "c -> split(c, ':')[1])))").cast("long").as("ngt"))
    }).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // #k in [0, n) with k ≡ r (mod 3): floor((n - 1 - r) / 3) + 1
    def blocksAt(j: Long): Long = {
      val r = ((2 - j) % 3 + 3) % 3
      if (r >= n) 0L else (n - 1 - r) / 3 + 1
    }
    val bad = agg.flatMap { row =>
      val (pos, rows, homref, ngt) =
        (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      val j = (pos - 1) / 10
      val exp = blocksAt(j)
      if (rows != n) Some(s"pos $pos rows $rows != width $n")
      else if (homref != exp) Some(s"pos $pos homref $homref != $exp")
      else if (ngt > 5) Some(s"pos $pos ngt $ngt > 5")
      else None
    }
    require(agg.length == 120, s"sites ${agg.length} != 120")
    require(bad.isEmpty, s"invariant failures: ${bad.take(5).mkString("; ")}")
    val json = s"""{"sf":"$sfDir","cpus":$cpus,"op":"$op","width":$n,""" +
      s""""format":"${auto.format}","secs":${"%.1f".formatLocal(java.util.Locale.ROOT, secs)},""" +
      s""""sites":${agg.length},"rows":${agg.map(_.getLong(2)).sum},"invariants":"pass"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}

/** r19 evidence main: drive [[graft.ops.Gvcf.exportAuto]] at the 334×
  * corpus (cohort width 1,002,000 > [[graft.ops.Gvcf.MaxDenseWidth]] →
  * the CHUNKED route) and prove the export handoff end to end:
  *   (1) admission from metadata before execution (format == "chunked",
  *       decided on the lazy plan);
  *   (2) full-width execution completes — every row O(chunkSamples),
  *       where the dense exportLines would build ~8 MB strings per site;
  *   (3) the rendered parts are correct by the synthetic cohort's
  *       formulas: per site, exactly ceil(width/chunkSamples) cell
  *       chunks whose cell total is the width; hom-ref cells equal the
  *       arithmetic block count; ≤ 5 distinct genotypes; and the prefix
  *       row pins NS=width (full coverage) and the GT:GQ FORMAT tail.
  * Byte-equality of the stitched lines against exportLines is GvcfSpec's
  * stitch pin — here width makes the dense render infeasible by design.
  *
  *   sbt "runMain graft.AutoExportProbe /tmp/graft_c334 AUTO_EXPORT_334x.json"
  */
object AutoExportProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_c334")
    val out = if (args.length > 1) args(1) else "AUTO_EXPORT_PROBE.json"
    val cpus = Tools.envCpus
    val spark = Tools.session(cpus)
    import graft.ops.Gvcf
    val chunkSamples = 10000
    val n = Gvcf.wideN(spark, sfDir)
    val auto = Gvcf.exportAuto(Gvcf.syntheticVariantsWide(spark, n),
      chunkSamples = chunkSamples)
    // (1) admission from metadata: nothing has executed yet
    require(auto.width == n, s"declared width ${auto.width} != cohort $n")
    val expectFormat = if (n > Gvcf.MaxDenseWidth) "chunked" else "dense"
    require(auto.format == expectFormat,
      s"admission mis-route: width $n -> ${auto.format}, expected $expectFormat")
    require(auto.format == "chunked",
      s"this probe's corpus must exceed MaxDenseWidth (width $n)")
    val expChunks = (n + chunkSamples - 1) / chunkSamples
    // (2)+(3) full-width execution, timed, validated by formula
    val t0 = System.nanoTime()
    val cellAgg = auto.df.filter(col("chunk_idx") > 0)
      .withColumn("cells", expr("split(part, '\t')"))
      .groupBy("contig", "pos")
      .agg(count(lit(1)).as("chunks"),
        max(col("chunk_idx")).as("maxc"),
        sum(size(col("cells"))).cast("long").as("cells"),
        sum(expr("size(filter(cells, c -> c like '0/0:%'))"))
          .cast("long").as("homref"),
        expr("size(array_distinct(flatten(collect_set(" +
          "array_distinct(transform(cells, c -> split(c, ':')[0]))))))")
          .cast("long").as("ngt"))
      .collect()
    val prefixes = auto.df.filter(col("chunk_idx") === 0)
      .select(col("pos"), col("part")).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // #k in [0, n) with k ≡ r (mod 3): floor((n - 1 - r) / 3) + 1
    def blocksAt(j: Long): Long = {
      val r = ((2 - j) % 3 + 3) % 3
      if (r >= n) 0L else (n - 1 - r) / 3 + 1
    }
    require(cellAgg.length == 120, s"sites ${cellAgg.length} != 120")
    require(prefixes.length == 120, s"prefix rows ${prefixes.length} != 120")
    val badCells = cellAgg.flatMap { row =>
      val (pos, chunks, maxc, cells, homref, ngt) =
        (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
          row.getLong(5), row.getLong(6))
      val exp = blocksAt((pos - 1) / 10)
      if (chunks != expChunks) Some(s"pos $pos chunks $chunks != $expChunks")
      else if (maxc != expChunks) Some(s"pos $pos maxc $maxc != $expChunks")
      else if (cells != n) Some(s"pos $pos cells $cells != width $n")
      else if (homref != exp) Some(s"pos $pos homref $homref != $exp")
      else if (ngt > 5) Some(s"pos $pos ngt $ngt > 5")
      else None
    }
    require(badCells.isEmpty,
      s"cell invariant failures: ${badCells.take(5).mkString("; ")}")
    val badPrefix = prefixes.flatMap { row =>
      val (pos, part) = (row.getLong(0), row.getString(1))
      if (!part.contains(s"\tNS=$n\t")) Some(s"pos $pos prefix NS != $n")
      else if (!part.endsWith("\tGT:GQ")) Some(s"pos $pos prefix FORMAT tail")
      else None
    }
    require(badPrefix.isEmpty,
      s"prefix invariant failures: ${badPrefix.take(5).mkString("; ")}")
    val totalRows = cellAgg.map(_.getLong(2)).sum + prefixes.length
    val json = s"""{"sf":"$sfDir","cpus":$cpus,"width":$n,""" +
      s""""format":"${auto.format}","chunk_samples":$chunkSamples,""" +
      s""""secs":${"%.1f".formatLocal(java.util.Locale.ROOT, secs)},""" +
      s""""sites":120,"chunk_rows":$totalRows,"cells":${cellAgg.map(_.getLong(4)).sum},""" +
      s""""invariants":"pass"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}

/** r20 evidence main: the chunked export written through a REAL
  * partitioned text sink — the step AUTO_EXPORT_334x validated only in
  * memory. The writer contract under test is [[graft.ops.Gvcf
  * .exportChunks]]'s Scaladoc: "a text writer stitches parts sorted by
  * (contig, pos, chunk_idx) and never materializes a line". The probe
  *   (1) repartitions the chunk rows by site and sorts each partition
  *       by (contig, pos, chunk_idx) — all of a site's chunks land
  *       consecutively in ONE part file; no task ever holds more than
  *       one O(chunkSamples) row (the recorded max_chunk_row_bytes,
  *       ~90 KB, vs the ~9 MB full-width line);
  *   (2) writes them with a text sink (one chunk row per text line,
  *       U+0001-delimited header fields — parts contain tabs, never
  *       control chars);
  *   (3) streams every part file back CHUNK AT A TIME, asserting the
  *       in-file order is exactly (site, 0..maxChunk) with no site
  *       straddling files, and folds each site's bytes (tab-joined in
  *       stream order) into an incremental MD5;
  *   (4) compares all site digests AND line lengths against
  *       [[graft.ops.Gvcf.linesFromChunks]] — the in-memory stitch
  *       witness GvcfSpec pins against the dense exportLines.
  * Byte-identical digests prove a plain sorted text write IS a valid
  * full-width gVCF export at width 1,002,000 — the file content equals
  * the dense render that cannot be materialized per-row at this width.
  *
  *   sbt "runMain graft.AutoExportSinkProbe /tmp/graft_c334 AUTO_EXPORT_334x_sink.json"
  */
object AutoExportSinkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_c334")
    val out = if (args.length > 1) args(1) else "AUTO_EXPORT_SINK_PROBE.json"
    val cpus = Tools.envCpus
    val spark = Tools.session(cpus)
    import graft.ops.Gvcf
    val chunkSamples = 10000
    val n = Gvcf.wideN(spark, sfDir)
    val auto = Gvcf.exportAuto(Gvcf.syntheticVariantsWide(spark, n),
      chunkSamples = chunkSamples)
    require(auto.format == "chunked",
      s"this probe's corpus must exceed MaxDenseWidth (width $n)")
    val sinkDir = s"${System.getProperty("java.io.tmpdir")}/graft_export_sink_334x"
    val t0 = System.nanoTime()
    auto.df
      .repartition(cpus, col("contig"), col("pos"))
      .sortWithinPartitions("contig", "pos", "chunk_idx")
      .select(concat_ws("\u0001", col("contig"), col("pos").cast("string"),
        col("chunk_idx").cast("string"), col("part")).as("value"))
      .write.mode("overwrite").text(sinkDir)
    val writeSecs = (System.nanoTime() - t0) / 1e9
    // ---- stream the sink back, one chunk row at a time ----
    val t1 = System.nanoTime()
    val files = new java.io.File(sinkDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val digests = scala.collection.mutable.Map[(String, Long), (String, Long)]()
    var maxRowBytes = 0L
    var bytesOnDisk = 0L
    for (f <- files) {
      bytesOnDisk += f.length()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.io.FileInputStream(f), java.nio.charset.StandardCharsets.UTF_8),
        1 << 20)
      var site: (String, Long) = null
      var nextChunk = 0L
      var lineBytes = 0L
      var md: java.security.MessageDigest = null
      def finish(): Unit = if (site != null) {
        require(!digests.contains(site), s"site $site straddled part files")
        digests(site) = (md.digest().map("%02x".format(_)).mkString, lineBytes)
      }
      var row = in.readLine()
      while (row != null) {
        val fields = row.split("\u0001", 4)
        require(fields.length == 4, s"malformed sink row in ${f.getName}")
        val s = (fields(0), fields(1).toLong)
        if (s != site) {
          finish()
          site = s; nextChunk = 0L; lineBytes = 0L
          md = java.security.MessageDigest.getInstance("MD5")
        }
        require(fields(2).toLong == nextChunk,
          s"out-of-order chunk at $site: ${fields(2)} != $nextChunk")
        val bytes = fields(3).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // exact UTF-8 bytes of the sink row: measured part bytes plus
        // the contig/pos/chunk_idx header (pure ASCII -- digits and the
        // fixture contig, so char count IS byte count there) plus the 3
        // delimiters. row.length counts UTF-16 chars (r20 review), the
        // wrong unit for a bytes-held-per-task bound.
        maxRowBytes = math.max(maxRowBytes,
          bytes.length.toLong + fields(0).length + fields(1).length +
            fields(2).length + 3)
        if (nextChunk > 0L) { md.update('\t'.toByte); lineBytes += 1 }
        md.update(bytes); lineBytes += bytes.length
        nextChunk += 1
        row = in.readLine()
      }
      finish()
      in.close()
    }
    val stitchSecs = (System.nanoTime() - t1) / 1e9
    // ---- the in-memory stitch witness ----
    val expected = Gvcf.linesFromChunks(auto.df)
      .select(col("contig"), col("pos"),
        md5(col("line").cast("binary")).as("m"),
        // octet_length, not length: the sink side counts UTF-8 BYTES
        // (r20 review — char count would spuriously fail the length
        // compare on any non-ASCII content even with digests equal)
        expr("octet_length(line)").as("len"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getString(2), r.getInt(3).toLong))
      .toMap
    require(expected.size == 120, s"witness sites ${expected.size} != 120")
    require(digests.size == 120, s"sink sites ${digests.size} != 120")
    val bad = expected.flatMap { case (s, (m, len)) =>
      if (!digests.contains(s)) Some(s"site $s missing from sink")
      else if (digests(s) != ((m, len)))
        Some(s"site $s sink ${digests(s)} != witness ($m, $len)")
      else None
    }
    require(bad.isEmpty, s"stitch mismatches: ${bad.take(5).mkString("; ")}")
    val json = s"""{"sf":"$sfDir","cpus":$cpus,"width":$n,""" +
      s""""chunk_samples":$chunkSamples,"sites":120,"sink_files":${files.length},""" +
      s""""bytes_on_disk":$bytesOnDisk,"max_chunk_row_bytes":$maxRowBytes,""" +
      s""""full_line_bytes":${expected.values.map(_._2).max},""" +
      s""""write_secs":${"%.1f".formatLocal(java.util.Locale.ROOT, writeSecs)},""" +
      s""""stitch_secs":${"%.1f".formatLocal(java.util.Locale.ROOT, stitchSecs)},""" +
      s""""digests_match":true}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    println(json)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sinkDir))
    spark.stop()
  }
}

/** r19 evidence main: the heap-derived dense admission bound
  * ([[graft.ops.Gvcf.derivedMaxDenseWidth]]) tracks the r17e measured
  * floor. Run this under TWO heap sizes (the r17e bracket endpoints):
  *
  *   java -Xmx4800m ... graft.WidthFloorProbe FLOOR_AUDIT_r19_width_4800.json 153600
  *   java -Xmx9600m ... graft.WidthFloorProbe FLOOR_AUDIT_r19_width_9600.json 300000
  *
  * The optional second arg is the EXPECTED derived bound for that heap —
  * an independent pin that fails if the derivation ever drifts.
  *
  * Each run derives THIS JVM's bound, builds a synthetic cohort at
  * exactly that width, and executes the dense combine full-width — green
  * completion means every admitted width fits its heap. The refusal side
  * is r17e's measurement itself: 300k OOMs at 4.8 GB, and the 4.8 GB
  * derivation (153,600) refuses it; the 9.6 GB derivation admits the
  * full cap — the boundary sits between the measured OOM and green
  * heaps. The audit's starved `spark.memory.fraction = 0.15` is pinned
  * here too, so the floor being exercised is r17e's, not a roomier
  * default-fraction one. */
object WidthFloorProbe {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("WIDTH_FLOOR_PROBE.json")
    val spark = Tools.session(Tools.envCpus, Map("spark.memory.fraction" -> "0.15"))
    import graft.ops.Gvcf
    val heap = Runtime.getRuntime.maxMemory
    val slots = spark.sparkContext.defaultParallelism
    val derived = Gvcf.defaultMaxDenseWidth(spark)
    // pin the derivation against an INDEPENDENT expectation when the
    // caller supplies one (args(1), the value the invocation was sized
    // for). A bare invocation must not validate against NOTHING (r20
    // advice item): fall back to the plumbing pin — defaultMaxDenseWidth
    // must equal derivedMaxDenseWidth over the locally-read heap/slots.
    // Weaker than a caller expectation (it cannot catch a drifted
    // FORMULA, only drifted plumbing between the two entry points), so
    // say which pin ran.
    args.drop(1).headOption.map(_.toLong) match {
      case Some(expected) =>
        require(derived == expected,
          s"derived bound $derived != invocation's expected $expected " +
            s"(heap=$heap slots=$slots) — the derivation drifted")
      case None =>
        require(derived == Gvcf.derivedMaxDenseWidth(heap, slots),
          s"defaultMaxDenseWidth($derived) != derivedMaxDenseWidth(heap=$heap, " +
            s"slots=$slots) — the two derivation entry points drifted")
        println(s"WidthFloorProbe: no expected-bound arg; plumbing pin only " +
          s"(derived=$derived)")
    }
    val auto = Gvcf.combineAuto(Gvcf.syntheticVariantsWide(spark, derived))
    require(auto.format == "dense" && auto.width == derived,
      s"the derived bound must admit exactly itself: $auto")
    val t0 = System.nanoTime()
    val agg = auto.df
      .select(col("pos"), col("n_samples"), size(col("calls")).as("nc"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    require(agg.length == 120, s"sites ${agg.length} != 120")
    require(agg.forall(r => r.getLong(1) == derived && r.getInt(2) == derived),
      "dense combine at the derived width lost samples")
    val json = s"""{"heap_bytes":$heap,"slots":$slots,""" +
      s""""derived_width":$derived,"cap":${Gvcf.MaxDenseWidth},""" +
      s""""bytes_per_sample_slot":${Gvcf.BytesPerSampleSlot},""" +
      s""""secs":${"%.1f".formatLocal(java.util.Locale.ROOT, secs)},""" +
      s""""sites":120,"result":"green"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
