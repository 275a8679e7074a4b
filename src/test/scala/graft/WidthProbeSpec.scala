package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Gvcf

/** `graft.WidthProbe`'s validators pass every route of the width-50
  * cohort and flag one planted fault on each; `floor` refuses a width
  * the heap does not derive before any job runs; and the `@gvcf_skew`
  * cohort is the wide generator with only `contig` redrawn. */
class WidthProbeSpec extends SparkSpec {

  private val width = 50L
  private lazy val wide = Gvcf.syntheticVariantsWide(spark, width)
  private lazy val widePl = Gvcf.syntheticVariantsWidePl(spark, width)
  private val site = col("pos") === 1L
  // at position 0, sample k is a reference block (hom-ref) iff k % 3 == 2
  private val homRefSample = "s00002"

  /** `check` passes `df` and flags exactly the planted fault at pos 1. */
  private def flagsOnly(check: DataFrame => Seq[String], df: DataFrame,
      faulty: DataFrame): Unit = {
    assert(check(df).isEmpty, check(df).take(5))
    val bad = check(faulty)
    assert(bad.size == 1 && bad.head.startsWith("pos 1 "), bad)
  }

  test("checkDense passes the dense combine and genotype and flags one flipped genotype") {
    val combine = Gvcf.combineSites(wide)
    flagsOnly(WidthProbe.checkDense(_, width)._2, combine, combine.withColumn("calls",
      when(site, expr("transform(calls, c -> replace(c, " +
        s"'$homRefSample:0/0:', '$homRefSample:1/1:'))")).otherwise(col("calls"))))
    val genotype = Gvcf.genotypeGvcf(widePl)
    flagsOnly(WidthProbe.checkDense(_, width)._2, genotype, genotype.withColumn("calls",
      when(site, expr(s"replace(calls, '$homRefSample:0/0:', '$homRefSample:1/1:')"))
        .otherwise(col("calls"))))
  }

  test("checkDense flags a dropped call cell") {
    val combine = Gvcf.combineSites(wide)
    val bad = WidthProbe.checkDense(combine.withColumn("calls",
      when(site, expr("slice(calls, 2, size(calls))")).otherwise(col("calls"))), width)._2
    assert(bad.size == 1 && bad.head.contains("cells 49"), bad)
  }

  test("checkLong passes the long combine and genotype and flags a dropped row and a flipped genotype") {
    val planted = site && col("sample") === homRefSample
    val combine = Gvcf.combineLong(wide)
    flagsOnly(WidthProbe.checkLong(_, width)._2, combine, combine.filter(!planted))
    val genotype = Gvcf.genotypeLong(widePl)
    flagsOnly(WidthProbe.checkLong(_, width)._2, genotype,
      genotype.withColumn("gt", when(planted, lit("1/1")).otherwise(col("gt"))))
  }

  test("checkChunks passes the chunked export and flags a dropped chunk row") {
    val chunks = Gvcf.exportChunks(wide, chunkSamples = 16)
    val (sites, bad) = WidthProbe.checkChunks(chunks, width, 16)
    assert(bad.isEmpty, bad.take(5))
    // 4 cell chunks (16 + 16 + 16 + 2 samples) and the prefix a site
    assert(sites.map(_.getAs[Long]("chunk_rows")).sum == 120L * 5)
    val dropped = WidthProbe.checkChunks(
      chunks.filter(!(site && col("chunk_idx") === 2L)), width, 16)._2
    assert(dropped.size == 1 && dropped.head.startsWith("pos 1 cells 34"), dropped)
  }

  test("the sink round trip matches the witness and flags a flipped genotype on disk") {
    val chunks = Gvcf.exportChunks(wide, chunkSamples = 16)
    val dir = scratchDir("graft_width_sink_spec_").resolve("sink").toString
    WidthProbe.writeSink(chunks, dir, 3)
    val expected = WidthProbe.witness(chunks)
    val sink = WidthProbe.readSink(dir)
    assert(WidthProbe.sinkFaults(sink, expected).isEmpty)
    assert(sink.sites.size == 120 && sink.files >= 1 && sink.bytesOnDisk > 0)
    assert(sink.maxRowBytes < expected.values.map(_._2).max)
    // flip one hom-ref cell of one chunk row in one part file
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length > 0).minBy(_.getName).toPath
    val lines = Files.readAllLines(part, UTF_8).asScala.toVector
    val i = lines.indexWhere(l => l.split("\u0001")(2) != "0" && l.contains("0/0:"))
    Files.write(part, lines.updated(i, lines(i).replaceFirst("0/0:", "1/1:")).asJava, UTF_8)
    val f = lines(i).split("\u0001")
    val bad = WidthProbe.sinkFaults(WidthProbe.readSink(dir), expected)
    assert(bad.size == 1 && bad.head.startsWith(s"site (${f(0)},${f(1)}) "), bad)
  }

  test("the probe runs the dense combine at width 50 and refuses export below the bound") {
    val rec = WidthProbe.run(spark, "combine", width)
    assert(rec.contains("\"format\":\"dense\"") && rec.contains("\"rows\":6000") &&
      rec.contains("\"invariants\":\"pass\""), rec)
    val e = intercept[IllegalArgumentException](WidthProbe.run(spark, "export", width))
    assert(e.getMessage.contains("chunked route"), e.getMessage)
  }

  test("floor refuses a width the heap does not derive before any job runs") {
    val counters = Tools.counters(spark)
    try {
      counters.drain()
      val e = intercept[IllegalArgumentException](
        WidthProbe.run(spark, "floor", Gvcf.defaultMaxDenseWidth(spark) + 1))
      assert(e.getMessage.contains("the derivation drifted"), e.getMessage)
      assert(counters.drain().jobs == 0L)
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("the @gvcf_skew cohort is the wide cohort with only contig redrawn") {
    val (nS, nP, nContigs) = (30L, 120L, 20)
    val base = Gvcf.syntheticVariantsWide(spark, nS, nP)
    for (hot <- Seq(0, 5)) {
      val skew = SkewProbes.skewCohort(spark, nS, nP, nContigs, hot)
      assert(skew.columns.toSeq == base.columns.toSeq)
      assert(Gvcf.cohortWidth(skew) == nS)
      val (a, b) = (skew.drop("contig"), base.drop("contig"))
      assert(skew.count() == nS * nP && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    def contigOf(hot: Int) = SkewProbes.skewCohort(spark, nS, nP, nContigs, hot)
      .select("contig", "start").distinct().collect().map(_.getString(0))
    val hot = contigOf(5)
    assert(hot.length == nP && hot.count(_ == "chr00") == nP / 2)
    assert(contigOf(0).toSet == (1 to nContigs).map(c => s"chr$c").toSet)
  }
}
