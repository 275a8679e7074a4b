package graft

import graft.ops.Vcf

/** Edge cases of the pure-expression VCF line parser (the oracle-backed
  * q_source_vcf covers the happy path at volume; these pin the corners:
  * header skipping, END fallback, multi-allelic ALTs, missing
  * FORMAT fields, phased genotypes, spanning deletions). */
class VcfSpec extends SparkSpec {
  import spark.implicits._

  private def parse(lines: String*) =
    Vcf.parseLines(lines.toDF("value"), "s1")
      .orderBy("start")
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4),
        r.getSeq[String](5).toList, Option(r.get(6)), Option(r.getString(7))))
      .toList

  test("header lines are skipped; block END comes from INFO") {
    val out = parse(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "chr1\t100\t.\tA\t<NON_REF>\t.\t.\tEND=149\tGT:GQ\t0/0:42")
    assert(out == List(
      ("chr1", 100L, 149L, "block", List("A"), Some(42), Some("0/0"))))
  }

  test("site END falls back to start + len(ref) - 1 (spanning deletion)") {
    val out = parse(
      "chr2\t200\t.\tACGT\tA,<NON_REF>\t50\t.\tDP=9\tGT:GQ\t0/1:77")
    // 4-base ref deletes through position 203
    assert(out == List(
      ("chr2", 200L, 203L, "site", List("ACGT", "A"), Some(77), Some("0/1"))))
  }

  test("multi-allelic ALT keeps every concrete allele, drops <NON_REF>") {
    val out = parse(
      "chr1\t300\t.\tG\tA,T,<NON_REF>\t99\t.\tDP=30\tGT:GQ\t1/2:88")
    assert(out.head._5 == List("G", "A", "T"))
    assert(out.head._4 == "site", "multi-allelic row must be a site")
  }

  test("missing GQ/GT in FORMAT parse as nulls, not errors") {
    val out = parse("chr1\t400\t.\tC\tT,<NON_REF>\t10\t.\tDP=5\tDP\t5")
    assert(out == List(("chr1", 400L, 400L, "site", List("C", "T"), None, None)))
  }

  test("malformed lines are skipped, not fatal (ANSI-safe ingest)") {
    val out = parse(
      "chr1\tnot_a_number\t.\tA\tT,<NON_REF>\t1\t.\tDP=1\tGT:GQ\t0/1:10",
      "truncated line without enough fields",
      "chr1\t700\t.\tA\t<NON_REF>\t.\t.\tEND=garbage\tGT:GQ\t0/0:12",
      "chr1\t600\t.\tA\tT,<NON_REF>\t1\t.\tDP=1\tGT:GQ\t0/1:10")
    assert(out == List(
      ("chr1", 600L, 600L, "site", List("A", "T"), Some(10), Some("0/1"))),
      s"malformed lines leaked or killed the good one: $out")
  }

  test("sample cell with fewer subfields than FORMAT parses null, not error") {
    // FORMAT declares GT:GQ but the cell carries only GT — GQ is null
    val out = parse("chr1\t800\t.\tA\tT,<NON_REF>\t1\t.\tDP=1\tGT:GQ\t0/1")
    assert(out == List(("chr1", 800L, 800L, "site", List("A", "T"), None, Some("0/1"))))
  }

  test("CIEND= is not misread as the record END (anchored match)") {
    val out = parse("chr1\t900\t.\tAC\tT,<NON_REF>\t1\t.\tCIEND=0,500;DP=9\tGT:GQ\t0/1:7")
    // end = start + len(ref) - 1 = 901, NOT 0 from CIEND's digits
    assert(out == List(("chr1", 900L, 901L, "site", List("AC", "T"), Some(7), Some("0/1"))))
  }

  test("export → parseCohortLines → combine round-trips the merged calls") {
    val cohort = graft.ops.Gvcf.syntheticVariants(spark, 300)
    val expected = graft.ops.Gvcf.combineSites(cohort)
      .select("contig", "pos", "ref", "alt", "n_samples", "calls")
      .collect().map(_.toString).toList
    val exported = graft.ops.Gvcf.exportLines(cohort)
      .select($"line".as("value"))
    val reparsed = Vcf.parseCohortLines(exported, Seq("s0", "s1", "s2"))
    val actual = graft.ops.Gvcf.combineSites(reparsed)
      .select("contig", "pos", "ref", "alt", "n_samples", "calls")
      .collect().map(_.toString).toList
    assert(actual == expected, "text export is not lossless at sites")
  }

  test("exportHeader + exportLines form a loadable gVCF end to end") {
    val cohort = graft.ops.Gvcf.syntheticVariants(spark, 300)
    val header = graft.ops.Gvcf.exportHeader(cohort)
      .orderBy("ord").select("line").as[String].collect().toSeq
    // structural checks: fileformat first, contig extents from the data,
    // #CHROM last with the sorted cohort samples
    assert(header.head == "##fileformat=VCFv4.2")
    assert(header.exists(_.startsWith("##contig=<ID=chr1,length=")))
    assert(header.last.startsWith("#CHROM\tPOS\t") &&
      header.last.endsWith("FORMAT\ts0\ts1\ts2"))
    assert(header.count(_.startsWith("##FORMAT=")) == 2)
    // write header + body as one file; the cohort parser must load it
    // (headers skipped) and reproduce the direct combine exactly
    val dir = scratchDir("graft_loadable").toString
    val body = graft.ops.Gvcf.exportLines(cohort)
      .orderBy("contig", "pos").select("line").as[String].collect().toSeq
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "cohort.vcf"),
      (header ++ body).mkString("\n").getBytes("UTF-8"))
    val reparsed = Vcf.parseCohortLines(
      spark.read.text(s"$dir/cohort.vcf"), Seq("s0", "s1", "s2"))
    val expected = graft.ops.Gvcf.combineSites(cohort)
      .select("contig", "pos", "ref", "alt").collect().map(_.toString).toList
    val actual = graft.ops.Gvcf.combineSites(reparsed)
      .select("contig", "pos", "ref", "alt").collect().map(_.toString).toList
    assert(actual == expected, "self-exported gVCF did not reload")
  }

  test("readGvcfDir ingests a directory of per-sample files, sample from file name") {
    val dir = scratchDir("graft_cohort").toString
    def write(sample: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$sample.g.vcf"),
        (Seq("##fileformat=VCFv4.2",
          s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$sample") ++ lines)
          .mkString("\n").getBytes("UTF-8"))
    write("alice", Seq(
      "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=14\tGT:GQ\t0/0:50",
      "chr1\t15\t.\tG\tA,<NON_REF>\t99\t.\tDP=9\tGT:GQ\t0/1:99"))
    write("bob", Seq(
      "chr1\t9\t.\tT\tC,<NON_REF>\t88\t.\tDP=7\tGT:GQ\t1/1:88",
      "chr1\t10\t.\tC\t<NON_REF>\t.\t.\tEND=30\tGT:GQ\t0/0:42"))
    val v = Vcf.readGvcfDir(spark, dir)
    val samples = v.select("sample").distinct().as[String].collect().toSeq.sorted
    assert(samples == Seq("alice", "bob"), s"file-name samples wrong: $samples")
    // the parsed cohort combines: alice's block covers bob's site at 9;
    // bob's block covers alice's site at 15
    val calls = graft.ops.Gvcf.combineSites(v)
      .select("pos", "calls").as[(Long, Seq[String])].collect().toMap
    assert(calls(9L) == Seq("alice:0/0:50", "bob:1/1:88"))
    assert(calls(15L) == Seq("alice:0/1:99", "bob:0/0:42"))
  }

  test("QUAL and FILTER are carried (htsjdk parity); '.' parses as null") {
    val rows = Vcf.parseLines(Seq(
      "chr1\t100\t.\tA\tG,<NON_REF>\t88.5\tPASS\tDP=9\tGT:GQ\t0/1:30",
      "chr1\t200\t.\tC\tT,<NON_REF>\t12\tLowQual\tDP=4\tGT:GQ\t0/1:11",
      "chr1\t300\t.\tG\t<NON_REF>\t.\t.\tEND=349\tGT:GQ\t0/0:50").toDF("value"), "s1")
      .orderBy("start")
      .select("qual", "filter", "phased").collect()
    assert(rows(0).getDouble(0) == 88.5 && rows(0).getString(1) == "PASS")
    assert(rows(1).getDouble(0) == 12.0 && rows(1).getString(1) == "LowQual")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
    assert(rows.forall(!_.getBoolean(2)))
  }

  test("multi-allelic phased site: all alleles kept, phased flag set, 10-entry PL") {
    val r = Vcf.parseLines(Seq(
      "chr2\t500\t.\tA\tC,G,<NON_REF>\t99\tPASS\tDP=20\tGT:GQ:DP:AD:PL\t" +
        "1|2:45:20:3,8,9:50,40,0,60,35,55,70,80,90,100").toDF("value"), "s1")
      .collect().head
    assert(r.getAs[scala.collection.Seq[String]]("alleles").toList == List("A", "C", "G"))
    assert(r.getAs[String]("gt") == "1|2" && r.getAs[Boolean]("phased"))
    assert(r.getAs[scala.collection.Seq[Int]]("ad").toList == List(3, 8, 9))
    assert(r.getAs[scala.collection.Seq[Int]]("pl").length == 10)
    assert(r.getAs[Double]("qual") == 99.0 && r.getAs[String]("filter") == "PASS")
  }

  test("phased genotypes survive parsing and normalize in the combine") {
    val out = parse(
      "chr1\t500\t.\tT\tC,<NON_REF>\t10\t.\tDP=5\tGT:GQ\t0|1:33")
    assert(out.head._7 == Some("0|1"), "parser must not rewrite phasing")
    // combineSites normalizes | to / during remap
    val combined = graft.ops.Gvcf.combineSites(
      Vcf.parseLines(Seq(
        "chr1\t500\t.\tT\tC,<NON_REF>\t10\t.\tDP=5\tGT:GQ\t0|1:33").toDF("value"), "s1"))
      .select("calls").as[Seq[String]].head()
    assert(combined == Seq("s1:0/1:33"), s"phased GT not normalized: $combined")
  }
}
