package graft

import org.apache.spark.sql.DataFrame
import graft.ops.Gvcf

/** The reference's golden combine scenario (FIXTURES.md §2) + the
  * split-invariance property its stride-split logic must satisfy. */
class GvcfSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: DataFrame = Seq(
    ("a", "chr1", 1L, 14L, "block", Seq("REF"), 50),
    ("a", "chr1", 15L, 15L, "site", Seq("G", "A"), 99),
    ("a", "chr1", 16L, 30L, "block", Seq("REF"), 50),
    ("b", "chr1", 1L, 8L, "block", Seq("REF"), 42),
    ("b", "chr1", 9L, 9L, "site", Seq("T", "C"), 88),
    ("b", "chr1", 10L, 30L, "block", Seq("REF"), 42)
  ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")

  private def calls(df: DataFrame): Seq[(Long, Seq[String])] =
    Gvcf.combineAtSites(df).collect()
      .map(r => (r.getAs[Long]("pos"),
        r.getAs[scala.collection.Seq[String]]("calls").toSeq)).toSeq

  test("combine densifies both samples at every site") {
    val out = calls(fixture)
    assert(out.map(_._1) == Seq(9L, 15L))
    // position 9: sample a covered by block [1,14], sample b has the site
    assert(out(0)._2 == Seq("a:block:REF", "b:site:T/C"))
    // position 15: sample a has the site, sample b covered by block [10,30]
    assert(out(1)._2 == Seq("a:site:G/A", "b:block:REF"))
  }

  test("split-invariance: stride-splitting blocks never changes the combine") {
    val expected = calls(fixture)
    for (stride <- Seq(4L, 7L, 10L, 64L)) {
      assert(calls(Gvcf.splitBlocks(fixture, stride)) == expected,
        s"combine changed after splitting at stride $stride")
    }
  }

  test("combine keeps contigs independent (multi-contig isolation)") {
    // valid gVCF: a sample's blocks never cover its own site positions
    val multi = fixture.unionByName(Seq(
      ("a", "chr2", 1L, 30L, "block", Seq("REF"), 50),
      ("b", "chr2", 9L, 9L, "site", Seq("A", "G"), 77),
      ("b", "chr2", 1L, 8L, "block", Seq("REF"), 42),
      ("b", "chr2", 10L, 30L, "block", Seq("REF"), 42)
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq"))
    val out = Gvcf.combineAtSites(multi)
      .select("contig", "pos", "n_samples")
      .as[(String, Long, Long)].collect().toSeq
    // chr1 results unchanged; chr2 adds one site with both samples
    // covered (a by its block, b by its site)
    assert(out == Seq(("chr1", 9L, 2L), ("chr1", 15L, 2L), ("chr2", 9L, 2L)))
  }

  test("mergeAdjacentBlocks is the banding inverse of splitBlocks") {
    // splitting then merging restores the original blocks (same band)
    val split = Gvcf.splitBlocks(fixture, 5L)
    val merged = Gvcf.mergeAdjacentBlocks(split)
      .orderBy("sample", "start")
      .select("sample", "start", "end", "kind")
      .as[(String, Long, Long, String)].collect().toSeq
    val original = fixture.orderBy("sample", "start")
      .select("sample", "start", "end", "kind")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(merged == original)
    // and combine is invariant under merge as well
    assert(calls(Gvcf.mergeAdjacentBlocks(split)) == calls(fixture))
  }

  test("mergeAdjacentBlocks keeps blocks apart across GQ band boundaries") {
    val v = Seq(
      ("a", "chr1", 1L, 10L, "block", Seq("REF"), 15),  // band 0 (gq<20)
      ("a", "chr1", 11L, 20L, "block", Seq("REF"), 55), // band 1 — no merge
      ("a", "chr1", 21L, 30L, "block", Seq("REF"), 45), // band 1 — merges with prev
      ("a", "chr1", 40L, 50L, "block", Seq("REF"), 50)  // gap — no merge
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")
    val out = Gvcf.mergeAdjacentBlocks(v).orderBy("start")
      .select("start", "end", "gq").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 10L, 15), (11L, 30L, 45), (40L, 50L, 50)))
  }

  test("parsed gVCF text lines flow through combineAtSites (ingest path)") {
    import graft.ops.Vcf
    val aLines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ta",
      "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=14\tGT:GQ\t0/0:50",
      "chr1\t15\t.\tG\tA,<NON_REF>\t99\t.\tDP=30\tGT:GQ\t0/1:99",
      "chr1\t16\t.\tT\t<NON_REF>\t.\t.\tEND=30\tGT:GQ\t0/0:50").toDF("value")
    val bLines = Seq(
      "chr1\t1\t.\tC\t<NON_REF>\t.\t.\tEND=8\tGT:GQ\t0/0:42",
      "chr1\t9\t.\tT\tC,<NON_REF>\t88\t.\tDP=22\tGT:GQ\t0/1:88",
      "chr1\t10\t.\tG\t<NON_REF>\t.\t.\tEND=30\tGT:GQ\t0/0:42").toDF("value")
    val v = Vcf.parseLines(aLines, "a").unionByName(Vcf.parseLines(bLines, "b"))
    // parsed fields: END honored for blocks, GQ located via FORMAT
    val siteA = v.filter($"kind" === "site" && $"sample" === "a")
      .select("start", "end", "gq", "gt").as[(Long, Long, Int, String)].head()
    assert(siteA == ((15L, 15L, 99, "0/1")))
    val out = calls(v.select("sample", "contig", "start", "end", "kind", "alleles", "gq"))
    assert(out.map(_._1) == Seq(9L, 15L))
    assert(out(0)._2 == Seq("a:block:A", "b:site:T/C"))
    assert(out(1)._2 == Seq("a:site:G/A", "b:block:G"))
  }

  test("combineSites merges alt alleles and remaps genotypes (CombineGVCFs)") {
    // three samples at one site: two sites with different alts + a block
    val v = Seq(
      ("a", "chr1", 15L, 15L, "site", Seq("G", "A"), 99, "0/1"),
      ("a", "chr1", 1L, 14L, "block", Seq("G"), 50, "0/0"),
      ("b", "chr1", 15L, 15L, "site", Seq("G", "C", "T"), 88, "1/2"),
      ("b", "chr1", 1L, 14L, "block", Seq("G"), 42, "0/0"),
      ("c", "chr1", 1L, 30L, "block", Seq("G"), 60, "0/0")
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "gt")
    val out = Gvcf.combineSites(v).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("pos") == 15L)
    assert(r.getAs[String]("ref") == "G")
    // union of {A} and {C,T}, sorted, NON_REF trailing
    assert(r.getAs[String]("alt") == "A,C,T,<NON_REF>")
    assert(r.getAs[Long]("n_samples") == 3L)
    // a's alt A is merged allele 1; b's C,T become 2,3; c stays hom-ref
    assert(r.getAs[scala.collection.Seq[String]]("calls").toSeq ==
      Seq("a:0/1:99", "b:2/3:88", "c:0/0:60"))
  }

  test("combineSites maps a local <NON_REF> genotype to the merged symbolic allele") {
    // d's gt index 2 points past its concrete alleles — i.e. at <NON_REF>,
    // which sits last in the merged list (position 2 here)
    val v = Seq(
      ("a", "chr1", 9L, 9L, "site", Seq("T", "C"), 91, "0/1"),
      ("d", "chr1", 9L, 9L, "site", Seq("T", "C"), 77, "0/2")
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "gt")
    val r = Gvcf.combineSites(v).collect().head
    assert(r.getAs[String]("alt") == "C,<NON_REF>")
    assert(r.getAs[scala.collection.Seq[String]]("calls").toSeq ==
      Seq("a:0/1:91", "d:0/2:77"))
  }

  test("combineSites defaults genotypes for the legacy fixture schema (no gt)") {
    val out = Gvcf.combineSites(fixture).collect()
    assert(out.map(_.getAs[Long]("pos")).toSeq == Seq(9L, 15L))
    val p9 = out.head
    // b's site T→C; a covered by its [1,14] block
    assert(p9.getAs[String]("ref") == "T")
    assert(p9.getAs[String]("alt") == "C,<NON_REF>")
    assert(p9.getAs[scala.collection.Seq[String]]("calls").toSeq ==
      Seq("a:0/0:50", "b:0/1:88"))
  }

  test("sampleNameIndex densely numbers sorted distinct samples from the data") {
    val idx = Gvcf.sampleNameIndex(fixture)
      .orderBy("sample_idx").as[(String, Long)].collect().toSeq
    assert(idx == Seq(("a", 0L), ("b", 1L)))
  }

  test("splitBlocks emits one clipped row per crossed stride window") {
    val rows = Gvcf.splitBlocks(fixture.filter($"sample" === "a" && $"kind" === "block"), 10L)
      .orderBy("start").select("start", "end").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 9L), (10L, 14L), (16L, 19L), (20L, 29L), (30L, 30L)))
  }

  test("split-invariance holds for the MERGED combine too") {
    def rows(df: DataFrame): Seq[String] =
      Gvcf.combineSites(df).collect().map(_.toString).toSeq
    val expected = rows(fixture)
    for (stride <- Seq(4L, 7L, 64L))
      assert(rows(Gvcf.splitBlocks(fixture, stride)) == expected,
        s"merged combine changed after splitting at stride $stride")
  }

  test("siteAlleleStats counts alt alleles against diploid AN") {
    val out = Gvcf.siteAlleleStats(fixture).orderBy("pos", "alt_idx")
      .select("pos", "alt_idx", "alt", "ac", "an")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    // pos 9: a=0/0 (block), b=0/1 site T->C → AC(C)=1, AN=4
    // pos 15: a=0/1 site G->A, b=0/0 (block) → AC(A)=1, AN=4
    assert(out == Seq((9L, 1L, "C", 1L, 4L), (15L, 1L, "A", 1L, 4L)))
  }

  test("exportLines renders gVCF body lines; uncovered samples are missing cells") {
    // sample c exists in the cohort but covers nothing at position 9.
    val withC = fixture.union(Seq(
      ("c", "chr1", 20L, 30L, "block", Seq("REF"), 33)).toDF(fixture.columns: _*))
    val lines = Gvcf.exportLines(withC).orderBy("pos")
      .select("line").as[String].collect().toSeq
    assert(lines.size == 2)
    val p9 = lines.head.split("\t", -1).toSeq
    // CHROM POS ID REF ALT QUAL FILTER INFO FORMAT a b c
    assert(p9.take(9) == Seq("chr1", "9", ".", "T", "C,<NON_REF>", ".", "PASS", "NS=2", "GT:GQ"))
    assert(p9.drop(9) == Seq("0/0:50", "0/1:88", "./.:."), "sample c must render missing")
    // position 15: c's block [20,30] does not span it either
    val p15 = lines(1).split("\t", -1).toSeq
    assert(p15(3) == "G" && p15(4) == "A,<NON_REF>" && p15.drop(9) == Seq("0/1:99", "0/0:42", "./.:."))
  }

  test("exportLines dedups a doubly-covering sample to its max-(gq, call) cell") {
    // Messy real gVCF: sample a's two blocks BOTH cover position 9
    // (overlapping records). The export must render exactly one cell
    // for a — the lexicographically-max (gq, call) record, the
    // adjacent-dedup contract — and NS must count the deduped sample
    // once. This is the only gate that exercises the dedup branch:
    // every synthetic cohort is overlap-free, so without this test the
    // filter would be identity in all three oracle drives.
    val dup = fixture.union(Seq(
      ("a", "chr1", 5L, 12L, "block", Seq("REF"), 77)).toDF(fixture.columns: _*))
    val p9 = Gvcf.exportLines(dup).orderBy("pos")
      .select("line").as[String].collect().head.split("\t", -1).toSeq
    assert(p9(7) == "NS=2", s"doubly-covered sample must count once: ${p9(7)}")
    assert(p9.drop(9) == Seq("0/0:77", "0/1:88"),
      s"expected a's max-gq record and one cell per sample: ${p9.drop(9)}")
  }

  test("export and genotyping hold at cohort WIDTH (50-sample wide cohort)") {
    // The wide-cohort generator drives combine through the oracle
    // (q_combine_wide); this pins the OTHER two wide-row consumers at
    // width: every export line renders exactly nSamples cells (no
    // dropped/duplicated sample columns at fan-in 50) and genotypeGvcf
    // genotypes every covered sample at every site.
    val nS = 50L
    val wide = Gvcf.syntheticVariantsWide(spark, nS, nPositions = 24L)
    val lines = Gvcf.exportLines(wide).select("line").as[String].collect()
    assert(lines.length == 24, s"expected one line per position, got ${lines.length}")
    assert(lines.forall(_.split("\t", -1).length == 9L + nS),
      "every export line must carry one cell per cohort sample")
    // every sample is covered everywhere (site or spanning block), so no
    // missing cells anywhere at this width
    assert(!lines.exists(_.contains("./.:.")), "unexpected missing cell in dense cohort")
    val gt = Gvcf.genotypeGvcf(
      wide.selectExpr("*", "CAST(gq % 30 + 10 AS INT) AS dp",
        "CAST(NULL AS ARRAY<INT>) AS pl"))
      .select("n_samples").as[Long].collect()
    assert(gt.length == 24 && gt.forall(_ == nS),
      s"genotypeGvcf must genotype all $nS samples at every site: ${gt.toSeq.distinct}")
  }

  test("combineAuto: dense ≡ long at 30k samples (hash-identical) and " +
      "the admission rule dispatches from metadata before execution") {
    import org.apache.spark.sql.functions.{md5, array_join, col}
    val nS = 30000L
    val v = Gvcf.syntheticVariantsWide(spark, nS)
    // (c) admission from metadata: the generator declared its width on
    // the sample column, so no aggregate runs and the format is fixed
    // on the LAZY plan — dense under the bound...
    val auto = Gvcf.combineAuto(v)
    assert(auto.format == "dense" && auto.width == nS)
    // ...and long the moment the declared width crosses it (no
    // execution here either — only the plan is constructed)
    val wide = Gvcf.combineAuto(Gvcf.annotateWidth(v, Gvcf.MaxDenseWidth + 1))
    assert(wide.format == "long" && wide.width == Gvcf.MaxDenseWidth + 1)
    assert(wide.df.columns.toSeq ==
      Seq("contig", "pos", "ref", "alt", "sample", "sample_idx", "gt", "gq"))
    // the union hazard (r18 review): a bare union keeps one side's
    // declared width; mergeCohorts sums the bounds, so two cohorts that
    // together cross the dense ceiling route LONG even though each
    // alone declares dense-eligible
    val half = Gvcf.annotateWidth(v, Gvcf.MaxDenseWidth / 2 + 1)
    val merged = Gvcf.combineAuto(Gvcf.mergeCohorts(half, half))
    assert(merged.format == "long" &&
      merged.width == 2 * (Gvcf.MaxDenseWidth / 2 + 1),
      "mergeCohorts must sum the declared bounds (fail-safe dispatch)")
    // the r18-review defense: a BARE unionByName inherits only the
    // first side's declaration in its schema — cohortWidth must detect
    // the Union in the plan and sum the branch bounds anyway, so the
    // un-blessed path cannot sneak a too-wide cohort into dense
    val bare = Gvcf.combineAuto(half.unionByName(half))
    assert(bare.format == "long" &&
      bare.width == 2 * (Gvcf.MaxDenseWidth / 2 + 1),
      s"bare union must not under-declare: $bare")
    // ...and a re-annotation ABOVE a union stays authoritative (the
    // blessed override), so mergeCohorts followed by a filter is stable
    val filtered = Gvcf.combineAuto(Gvcf.mergeCohorts(half, half)
      .filter(org.apache.spark.sql.functions.col("contig").isNotNull))
    assert(filtered.width == 2 * (Gvcf.MaxDenseWidth / 2 + 1))
    // (a) the two formats are ONE logical result: reassembling the
    // long rows yields the dense output value-for-value (site digests
    // compare the ~30k-entry calls arrays without shipping them)
    def digests(df: DataFrame): Seq[Seq[Any]] = df
      .withColumn("calls_md5", md5(array_join(col("calls"), ";").cast("binary")))
      .drop("calls").collect().map(_.toSeq.toList).toSeq
    val dense = digests(auto.df)
    val viaLong = digests(Gvcf.denseFromLong(Gvcf.combineLong(v)))
    assert(dense.size == 120 && dense == viaLong,
      "long-format combine must reassemble to the dense bytes")
  }

  test("genotypeAuto: dense ≡ long (hash-identical) and the admission " +
      "rule dispatches from metadata") {
    import org.apache.spark.sql.functions.{md5, col}
    val nS = 5000L
    val v = Gvcf.syntheticVariantsWidePl(spark, nS)
    val auto = Gvcf.genotypeAuto(v)
    assert(auto.format == "dense" && auto.width == nS)
    val wide = Gvcf.genotypeAuto(Gvcf.annotateWidth(v, Gvcf.MaxDenseWidth + 1))
    assert(wide.format == "long" && wide.width == Gvcf.MaxDenseWidth + 1)
    assert(wide.df.columns.toSeq ==
      Seq("contig", "pos", "ref", "alt", "sample", "sample_idx", "gt", "gq", "dp"))
    def digests(df: DataFrame): Seq[Seq[Any]] = df
      .withColumn("calls_md5", md5(col("calls").cast("binary")))
      .drop("calls").collect().map(_.toSeq.toList).toSeq
    val dense = digests(auto.df)
    val viaLong = digests(Gvcf.genotypeFromLong(Gvcf.genotypeLong(v)))
    assert(dense.size == 120 && dense == viaLong,
      "long-format genotyping must reassemble to the dense bytes")
  }

  test("exportAuto: chunked export stitches to the dense lines byte-exactly " +
      "and the admission rule dispatches from metadata") {
    def stitched(df: DataFrame, chunkSamples: Int): Seq[String] =
      Gvcf.linesFromChunks(Gvcf.exportChunks(df, chunkSamples = chunkSamples))
        .orderBy("contig", "pos").select("line").as[String].collect().toSeq
    def dense(df: DataFrame): Seq[String] =
      Gvcf.exportLines(df).orderBy("contig", "pos")
        .select("line").as[String].collect().toSeq
    // (a) multi-chunk wide cohort, last chunk partial (50 = 7×7 + 1)
    val wide = Gvcf.syntheticVariantsWide(spark, 50L, nPositions = 24L)
    assert(stitched(wide, 7) == dense(wide),
      "chunked export must stitch to the dense bytes at width")
    // (b) the uncovered-sample default branch: sample c covers NOTHING
    // at either site — at chunkSamples = 1 its chunk row has no covered
    // entries (the left-join NULL arm) and must still render './.:.'
    val withC = fixture.union(Seq(
      ("c", "chr1", 20L, 30L, "block", Seq("REF"), 33)).toDF(fixture.columns: _*))
    assert(stitched(withC, 1) == dense(withC),
      "all-default chunks must match the dense missing cells")
    // (c) the duplicate-record dedup branch stays chunk-local
    val dup = fixture.union(Seq(
      ("a", "chr1", 5L, 12L, "block", Seq("REF"), 77)).toDF(fixture.columns: _*))
    for (cs <- Seq(1, 2, 10))
      assert(stitched(dup, cs) == dense(dup),
        s"dedup diverged from dense at chunkSamples=$cs")
    // (d) row shape: one prefix + ceil(width/chunk) cell rows per site
    val chunks = Gvcf.exportChunks(wide, chunkSamples = 7)
    val perSite = chunks.groupBy("contig", "pos")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max("chunk_idx").as("maxc"))
      .select("n", "maxc").as[(Long, Long)].collect().toSeq
    assert(perSite.nonEmpty && perSite.forall(_ == ((9L, 8L))),
      s"expected 1 prefix + 8 chunks per site: ${perSite.distinct}")
    // (e) admission from metadata on the LAZY plan, both directions
    val auto = Gvcf.exportAuto(wide)
    assert(auto.format == "dense" && auto.width == 50L)
    val wideDecl = Gvcf.exportAuto(Gvcf.annotateWidth(wide, Gvcf.MaxDenseWidth + 1))
    assert(wideDecl.format == "chunked" &&
      wideDecl.width == Gvcf.MaxDenseWidth + 1)
    assert(wideDecl.df.columns.toSeq == Seq("contig", "pos", "chunk_idx", "part"))
  }

  test("the dense admission bound derives from the heap and caps at 300k " +
      "(r17e coefficient)") {
    val mb = 1024L * 1024
    // the r17e bracket endpoints at 32 slots, less the 1 GiB reserve:
    // the 4.8 GB heap that OOM'd the 300k combine must NOT admit it,
    // and the bound stays under the 9.6 GB green width
    assert(Gvcf.derivedMaxDenseWidth(4800 * mb, 32) == 120832L)
    assert(Gvcf.derivedMaxDenseWidth(9600 * mb, 32) == 274432L)
    // monotone in heap, anti-monotone in slots, capped
    assert(Gvcf.derivedMaxDenseWidth(24L * 1024 * mb, 32) == Gvcf.MaxDenseWidth)
    assert(Gvcf.derivedMaxDenseWidth(4800 * mb, 64) == 60416L)
    // the small-heap floor: 2400m derived 76,800 before the reserve,
    // and that combine ran out of heap; a heap at the reserve admits
    // nothing dense
    assert(Gvcf.derivedMaxDenseWidth(2400 * mb, 32) == 44032L)
    assert(Gvcf.derivedMaxDenseWidth(Gvcf.HeapReserveBytes, 32) == 0L)
    // an admitted width always gets at least the measured-green
    // per-sample budget out of the heap past the reserve, whatever the
    // inputs
    for (heap <- Seq(1L, 4L, 16L, 64L).map(_ * 1024 * mb); slots <- Seq(1, 8, 32)) {
      val w = Gvcf.derivedMaxDenseWidth(heap, slots)
      assert(w <= Gvcf.MaxDenseWidth && (w == Gvcf.MaxDenseWidth ||
        w * slots * Gvcf.BytesPerSampleSlot <= math.max(0L, heap - Gvcf.HeapReserveBytes)))
    }
    // the autos resolve the sentinel default against THIS JVM: widths
    // at the derived bound route dense, one past it route long/chunked
    val bound = Gvcf.defaultMaxDenseWidth(spark)
    assert(bound > 0 && bound <= Gvcf.MaxDenseWidth)
    val v = Gvcf.syntheticVariantsWide(spark, 50L, nPositions = 24L)
    assert(Gvcf.combineAuto(Gvcf.annotateWidth(v, bound)).format == "dense")
    assert(Gvcf.combineAuto(Gvcf.annotateWidth(v, bound + 1)).format == "long")
    assert(Gvcf.exportAuto(Gvcf.annotateWidth(v, bound + 1)).format == "chunked")
    assert(Gvcf.genotypeAuto(Gvcf.annotateWidth(
      Gvcf.syntheticVariantsWidePl(spark, 50L), bound + 1)).format == "long")
  }

  test("coverageHistogram: sweep-line depths match hand-counted bases") {
    // fixture covers chr1 [1,30] with both samples everywhere → depth 2
    // for all 30 bases, except nothing: a covers [1,30] via 3 records,
    // b covers [1,30] via 3 records. So depth=2 over 30 bases.
    val out = Gvcf.coverageHistogram(fixture)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("chr1", 2L, 30L)))
    // drop sample b's middle record → a hole [9,9] in b's coverage:
    // depth 2 over 29 bases, depth 1 over 1 base
    val holey = fixture.filter(!($"sample" === "b" && $"start" === 9L))
    val out2 = Gvcf.coverageHistogram(holey)
      .as[(String, Long, Long)].collect().toSeq
    assert(out2 == Seq(("chr1", 1L, 1L), ("chr1", 2L, 29L)))
  }

  test("tiTvByContig counts transitions vs transversions with ppm ratio") {
    // sites: G->A (transition, purine-purine), T->C (transition,
    // pyrimidine-pyrimidine); add one transversion A->T on chr1
    val withTv = fixture.unionByName(Seq(
      ("c", "chr1", 40L, 40L, "site", Seq("A", "T"), 60)
    ).toDF(fixture.columns: _*))
    val out = Gvcf.tiTvByContig(withTv)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("chr1", 2L, 1L, 2000000L)))
  }

  test("coverageGaps inverts pooled coverage; adjacency closes the gap") {
    val v = Seq(
      ("a", "chr1", 1L, 10L, "block", Seq("REF"), 50),
      ("b", "chr1", 5L, 20L, "block", Seq("REF"), 50),  // overlaps → [1,20]
      ("a", "chr1", 30L, 40L, "block", Seq("REF"), 50), // hole [21,29]
      ("b", "chr1", 41L, 45L, "block", Seq("REF"), 50)  // adjacent → no hole
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")
    val gaps = Gvcf.coverageGaps(v)
      .as[(String, Long, Long)].collect().toSeq
    assert(gaps == Seq(("chr1", 21L, 29L)), s"wrong gaps: $gaps")
  }

  test("mendelViolations flags child alleles absent from a parent") {
    def site(s: String, pos: Long, gt: String) =
      (s, "chr1", pos, pos, "site", Seq("G", "A"), 50, gt)
    val trio = Seq(
      // pos 5: child 1/1 but parent s1 is 0/0 → violation
      site("s0", 5L, "1/1"), site("s1", 5L, "0/0"), site("s2", 5L, "0/1"),
      // pos 9: child 0/1 drawable (0 from s2, 1 from s1) → consistent
      site("s0", 9L, "0/1"), site("s1", 9L, "0/1"), site("s2", 9L, "0/0")
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "gt")
    val out = Gvcf.mendelViolations(trio)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("chr1", 2L, 1L)), s"wrong mendel counts: $out")
  }

  test("genotypeGvcf remaps PLs under allele reordering and re-genotypes (golden trio)") {
    // s0 carries T (local idx 1), s1 carries C (local idx 1) — the merged
    // list [A, C, T, <NON_REF>] REORDERS both samples' alleles, so every
    // PL lookup goes through the local-index map; s2 is block-covered
    // (PLs synthesized 0/GQ/2GQ from its GQ).
    val trio = Seq(
      ("s0", "chr1", 5L, 5L, "site", Seq("A", "T"), 90, "0/1", 20,
        Some(Seq(30, 0, 40, 25, 35, 50))),
      ("s1", "chr1", 5L, 5L, "site", Seq("A", "C"), 90, "1/1", 30,
        Some(Seq(60, 30, 0, 50, 40, 70))),
      ("s2", "chr1", 1L, 10L, "block", Seq("A"), 35, "0/0", 25,
        None: Option[Seq[Int]])
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "gt", "dp", "pl")
    val r = Gvcf.genotypeGvcf(trio).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("ref") == "A")
    assert(row.getAs[String]("alt") == "C,T,<NON_REF>")
    assert(row.getAs[Long]("n_samples") == 3L)
    assert(row.getAs[Long]("sum_dp") == 75L)
    // Hand-derived: s0's het A/T lands at merged (0,2) with PL 0 and
    // runner-up 25 (its local (0,<NON_REF>) entry, duplicated via the
    // fallback) → 0/2:25. s1's hom C/C lands at merged (1,1), runner-up
    // its local 0/1 PL 30 → 1/1:30. s2: hom-ref, GQ = its block GQ 35.
    assert(row.getAs[String]("calls") == "s0:0/2:25;s1:1/1:30;s2:0/0:35")
  }

  test("genotypeGvcf is split-invariant (the reference's stride-split property)") {
    // splitting blocks at stride boundaries must not change any
    // re-genotyped call: coverage is identical and block PLs derive
    // only from GQ, which splitBlocks preserves
    val v = Gvcf.syntheticVariantsPl(spark, 300)
    val whole = Gvcf.genotypeGvcf(v).collect().map(_.toString).toList
    val split = Gvcf.genotypeGvcf(Gvcf.splitBlocks(v, 7)).collect().map(_.toString).toList
    assert(split == whole, "stride-splitting blocks changed genotyping output")
  }

  test("genotypeGvcf still emits a call for a block-covered sample with null GQ") {
    val trio = Seq(
      ("s0", "chr1", 5L, 5L, "site", Seq("A", "T"), Some(90), "0/1", 20,
        Some(Seq(30, 0, 40, 25, 35, 50))),
      ("s1", "chr1", 1L, 10L, "block", Seq("A"), None: Option[Int], "0/0", 15,
        None: Option[Seq[Int]])
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "gt", "dp", "pl")
    val row = Gvcf.genotypeGvcf(trio).collect().head
    // n_samples and calls must agree — the GQ-less block degrades to a
    // zero-confidence 0/0 call, it does not vanish from the record
    assert(row.getAs[Long]("n_samples") == 2L)
    assert(row.getAs[String]("calls") == "s0:0/1:25;s1:0/0:0")
  }

  test("rebandMerged bands the cohort-min GQ and coalesces same-band runs") {
    val blocks = Seq(
      ("a", "chr1", 1L, 10L, "block", Seq("REF"), 30),  // band 1
      ("b", "chr1", 1L, 4L, "block", Seq("REF"), 55),   // band 1, ends early
      ("a", "chr1", 11L, 14L, "block", Seq("REF"), 80)  // band 2
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")
    val out = Gvcf.rebandMerged(blocks)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // segments [1,4] (min 30) and [5,10] (min 30) are same-band touching
    // → one merged band block; [11,14] is band 2 → separate
    assert(out == Seq(("chr1", 1L, 10L, 1L, 30L), ("chr1", 11L, 14L, 2L, 80L)))
  }

  test("sampleBreadth coalesces overlapping AND adjacent intervals") {
    val v = Seq(
      // overlapping + touching → one island [1,25]
      ("a", "chr1", 1L, 10L, "block", Seq("REF"), 50),
      ("a", "chr1", 5L, 20L, "block", Seq("REF"), 50),
      ("a", "chr1", 21L, 25L, "block", Seq("REF"), 50),
      // gap of 1 base (27 > 25+1) → second island [27,30]
      ("a", "chr1", 27L, 30L, "block", Seq("REF"), 50),
      // containment: [40,60] swallows [45,50] → third island
      ("a", "chr1", 40L, 60L, "block", Seq("REF"), 50),
      ("a", "chr1", 45L, 50L, "site", Seq("A", "G"), 90)
    ).toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")
    val out = Gvcf.sampleBreadth(v)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", "chr1", 25L + 4L + 21L, 3L)))
  }

  test("incremental combine equals full recompute and prunes untouched buckets") {
    // sf0.01, not sf0.001: the 300-record cohort spans a single position
    // bucket, so there would be nothing untouched to prune
    val d = "/root/testdata/sf0.01"
    val df = Gvcf.combineIncremental.run(spark, d)
    // ground truth: combine the 4-sample cohort from scratch
    val n = Gvcf.cohortN(spark, d)
    val full = Gvcf.combineSites(
        Gvcf.syntheticVariants(spark, n).unionByName(Gvcf.deltaSample(spark, n)))
      .withColumn("calls", org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.col("calls"), ";"))
      .orderBy("contig", "pos")
    assert(df.collect().toSeq == full.collect().toSeq,
      "incremental combine diverged from the full recompute")
    // directory-level pruning: the raw store contributes ONLY touched
    // buckets, the previous combined output ONLY untouched ones
    val touched = Gvcf.deltaSample(spark, n)
      .selectExpr(s"CAST(start div ${Gvcf.IncBucketW} AS LONG) AS b")
      .distinct().collect().map(_.getLong(0)).toSet
    def bucketOf(f: String): Long =
      "bucket=(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong
    // df.inputFiles lists the whole FileIndex (pruning-unaware) — read
    // the files each scan ACTUALLY selected off the executed plan
    // (flattenPlan descends the AQE wrappers; shared on SparkSpec)
    val scans: Seq[(String, Seq[String])] =
      flattenPlan(df.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          (s.relation.location.rootPaths.mkString,
            s.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq)
      }
    val combFiles = scans
      .filter(p => p._1.contains("graft_inc_") && p._1.contains("/comb"))
      .flatMap(_._2)
    assert(combFiles.nonEmpty)
    assert(combFiles.map(bucketOf).forall(b => !touched(b)),
      "passthrough side rescanned a touched combined bucket")
    // The raw-side scan runs inside the localCheckpoint (its lineage is
    // cut from the final plan), so assert the same pruned read the query
    // issues: the isin partition filter selects only touched dirs.
    import org.apache.spark.sql.functions.col
    val rawRead = spark.read.parquet(Gvcf.incDir(d, "raw", Gvcf.cohortN(spark, d)))
      .filter(col("bucket").isin(touched.toSeq: _*))
    rawRead.count()
    val rawFiles = flattenPlan(rawRead.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq
    }.flatten
    assert(rawFiles.nonEmpty)
    assert(rawFiles.map(bucketOf).forall(touched),
      "recombine side scanned an untouched raw bucket")
  }

  test("combineSites equals an independent driver-side reference on a random cohort") {
    // Differential guard for the r14 window rework: a seeded random
    // cohort — multi-allelic sites, zero-alt sites, missing GQ, phased
    // and malformed GT tokens, coverage gaps — combined by
    // Gvcf.combineSites AND by a from-scratch Scala reimplementation of
    // the CombineGVCFs rules that shares no Spark expression code with
    // the engine. Any divergence in window null handling, allele-union
    // ordering, or GT remap edge cases fails here without needing the
    // DuckDB oracle.
    final case class Rec(sample: String, contig: String, start: Long, end: Long,
        kind: String, alleles: Seq[String], gq: Option[Int], gt: String)
    val rnd = new scala.util.Random(424242)
    val bases = Vector("A", "C", "G", "T")
    val gts = Vector("0/1", "1/1", "0/0", "./.", "0|1", "1/2", "2/1", "x/1", "1/", "-1/1")
    val recs: Seq[Rec] = for {
      s <- 0 until 7
      g <- 0 until 40
      if rnd.nextInt(10) > 0 // 10% coverage gaps
    } yield {
      val contig = s"chr${1 + g % 3}"
      val pos = g * 10L + 1
      val gq = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(99))
      if (rnd.nextInt(5) < 3) {
        val ref = bases(rnd.nextInt(4))
        val alts = Seq.fill(rnd.nextInt(3))(bases(rnd.nextInt(4)))
          .distinct.filterNot(_ == ref) // may be EMPTY: a zero-alt site
        Rec(s"s$s", contig, pos, pos, "site", ref +: alts, gq, gts(rnd.nextInt(gts.size)))
      } else
        Rec(s"s$s", contig, pos, pos + 9, "block", Seq(bases(rnd.nextInt(4))), gq,
          if (rnd.nextBoolean()) "0/0" else "0|0")
    }
    val df = recs.map(r => (r.sample, r.contig, r.start, r.end, r.kind, r.alleles, r.gq, r.gt))
      .toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "gt")

    val sampleIdx = recs.map(_.sample).distinct.sorted.zipWithIndex.toMap
    val expected = recs.filter(_.kind == "site").map(r => (r.contig, r.start)).distinct
      .map { case (contig, pos) =>
        val cov = recs.filter(r => r.contig == contig && r.start <= pos && r.end >= pos)
        val siteRows = cov.filter(_.kind == "site")
        val ref = siteRows.map(_.alleles.head).min
        val alts = siteRows.flatMap(_.alleles.drop(1)).distinct.sorted :+ "<NON_REF>"
        val calls = cov.map { r =>
          val gtm =
            if (r.kind == "block") r.gt.replace('|', '/')
            else r.gt.replace('|', '/').split("/", -1).map { tok =>
              tok.toIntOption match {
                case None => "."
                case Some(i) if i < 0 => "."
                case Some(0) => "0"
                case Some(i) =>
                  val allele = if (i < r.alleles.size) r.alleles(i) else "<NON_REF>"
                  (alts.indexOf(allele) + 1).toString
              }
            }.mkString("/")
          (sampleIdx(r.sample), s"${r.sample}:$gtm:${r.gq.map(_.toString).getOrElse(".")}")
        }.sorted.map(_._2)
        (contig, pos, ref, alts.mkString(","), cov.size.toLong, calls)
      }.sortBy(t => (t._1, t._2))

    val got = Gvcf.combineSites(df).orderBy("contig", "pos").collect().map(r =>
      (r.getAs[String]("contig"), r.getAs[Long]("pos"), r.getAs[String]("ref"),
        r.getAs[String]("alt"), r.getAs[Long]("n_samples"),
        r.getAs[scala.collection.Seq[String]]("calls").toSeq)).toSeq
    assert(got.size == expected.size, s"site count ${got.size} != ${expected.size}")
    got.zip(expected).foreach { case (g2, e) => assert(g2 == e, s"\ngot  $g2\nwant $e") }
  }

  test("genotypeGvcf equals an independent driver-side reference on a random cohort") {
    // Differential guard for the PL remap — the most intricate math in
    // the repo: random multi-allelic sites with PL vectors that are
    // sometimes MISSING (banded-likelihood fallback) and sometimes TOO
    // SHORT (out-of-range canonical index → 999999 sentinel), re-genotyped
    // by the engine AND by a from-scratch Scala reimplementation of the
    // canonical-order PL remap, argmin re-genotype, and GQ-from-two-best.
    final case class Rec(sample: String, contig: String, start: Long, end: Long,
        kind: String, alleles: Seq[String], gq: Option[Int], dp: Int, pl: Option[Seq[Int]])
    val rnd = new scala.util.Random(987654)
    val bases = Vector("A", "C", "G", "T")
    val recs: Seq[Rec] = for {
      s <- 0 until 6
      g <- 0 until 30
      if rnd.nextInt(10) > 0
    } yield {
      val contig = s"chr${1 + g % 2}"
      val pos = g * 10L + 1
      val gq = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(99))
      val dp = 1 + rnd.nextInt(60)
      if (rnd.nextInt(5) < 3) {
        val ref = bases(rnd.nextInt(4))
        val alts = Seq.fill(1 + rnd.nextInt(2))(bases(rnd.nextInt(4)))
          .distinct.filterNot(_ == ref)
        val nAll = 1 + alts.size + 1 // local alleles + NON_REF
        val full = nAll * (nAll + 1) / 2
        val pl = rnd.nextInt(4) match {
          case 0 => None // site with banded fallback
          case 1 => Some(Seq.fill(math.max(full - 2, 1))(rnd.nextInt(200))) // too short
          case _ => Some(Seq.fill(full)(rnd.nextInt(200)))
        }
        Rec(s"s$s", contig, pos, pos, "site", ref +: alts, gq, dp, pl)
      } else
        Rec(s"s$s", contig, pos, pos + 9, "block", Seq(bases(rnd.nextInt(4))), gq, dp, None)
    }
    val df = recs.map(r => (r.sample, r.contig, r.start, r.end, r.kind, r.alleles,
        r.gq, r.dp, r.pl))
      .toDF("sample", "contig", "start", "end", "kind", "alleles", "gq", "dp", "pl")

    val sampleIdx = recs.map(_.sample).distinct.sorted.zipWithIndex.toMap
    val expected = recs.filter(_.kind == "site").map(r => (r.contig, r.start)).distinct
      .map { case (contig, pos) =>
        val cov = recs.filter(r => r.contig == contig && r.start <= pos && r.end >= pos)
        val siteRows = cov.filter(_.kind == "site")
        val ref = siteRows.map(_.alleles.head).min
        val alts = siteRows.flatMap(_.alleles.drop(1)).distinct.sorted :+ "<NON_REF>"
        val malleles = ref +: alts
        val calls = cov.map { r =>
          val lall = r.alleles :+ "<NON_REF>"
          val limap = malleles.map(m =>
            if (lall.contains(m)) lall.indexOf(m) else lall.size - 1)
          val pairs = for (b <- malleles.indices; a <- 0 to b) yield (a, b)
          val mpl: Seq[Long] =
            if (r.kind == "block" || r.pl.isEmpty)
              pairs.map { case (a, b) =>
                r.gq.getOrElse(0).toLong *
                  ((if (a > 0) 1 else 0) + (if (b > 0) 1 else 0)) }
            else pairs.map { case (a, b) =>
              val (hi, lo) = (math.max(limap(a), limap(b)), math.min(limap(a), limap(b)))
              r.pl.get.lift(hi * (hi + 1) / 2 + lo).map(_.toLong).getOrElse(999999L)
            }
          val g = mpl.indexOf(mpl.min)
          val gqNew = { val spl = mpl.sorted; math.min(spl(1) - spl(0), 99L) }
          (sampleIdx(r.sample), s"${r.sample}:${pairs(g)._1}/${pairs(g)._2}:$gqNew")
        }.sorted.map(_._2).mkString(";")
        (contig, pos, ref, alts.mkString(","), cov.size.toLong,
          cov.map(_.dp.toLong).sum, calls)
      }.sortBy(t => (t._1, t._2))

    val got = Gvcf.genotypeGvcf(df).collect().map(r =>
      (r.getAs[String]("contig"), r.getAs[Long]("pos"), r.getAs[String]("ref"),
        r.getAs[String]("alt"), r.getAs[Long]("n_samples"),
        r.getAs[Long]("sum_dp"), r.getAs[String]("calls"))).toSeq
    assert(got.size == expected.size, s"site count ${got.size} != ${expected.size}")
    got.zip(expected).foreach { case (g2, e) => assert(g2 == e, s"\ngot  $g2\nwant $e") }
  }

  test("interval QC trio matches per-base brute force on random intervals") {
    // The sweep-line / gaps-and-islands operators never materialize a
    // per-base table — that is their whole point — so check them against
    // the per-base computation they replace, on random overlapping
    // intervals: coverageHistogram (depth histogram), sampleBreadth
    // (covered-base union + island count), rebandMerged (cohort-min GQ
    // banding with touching-run coalescing).
    val rnd = new scala.util.Random(31337)
    final case class Iv(sample: String, contig: String, start: Long, end: Long,
        kind: String, gq: Int)
    val ivs: Seq[Iv] = (0 until 120).map { _ =>
      val start = 1L + rnd.nextInt(300)
      val site = rnd.nextInt(5) == 0
      Iv(s"s${rnd.nextInt(4)}", s"chr${1 + rnd.nextInt(2)}", start,
        if (site) start else start + rnd.nextInt(20), if (site) "site" else "block",
        1 + rnd.nextInt(99))
    }
    val df = ivs.map(r => (r.sample, r.contig, r.start, r.end, r.kind,
        Seq("REF"), r.gq))
      .toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")
    val positions = 1L to 330L

    // coverageHistogram vs per-base depth counting (all record kinds)
    val refHist = (for {
      contig <- Seq("chr1", "chr2"); p <- positions
      depth = ivs.count(r => r.contig == contig && r.start <= p && r.end >= p)
      if depth > 0
    } yield (contig, depth.toLong)).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.map { case ((c, dep), n) => (c, dep, n) }.sorted
    val gotHist = Gvcf.coverageHistogram(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(gotHist == refHist, s"\ngot  $gotHist\nwant $refHist")

    // sampleBreadth vs per-base union + island runs
    val refBreadth = ivs.groupBy(r => (r.sample, r.contig)).map { case ((s2, c), rs) =>
      val covered = positions.filter(p => rs.exists(r => r.start <= p && r.end >= p))
      val islands = covered.foldLeft((0L, Long.MinValue)) { case ((n, prev), p) =>
        (if (p == prev + 1) n else n + 1, p) }._1
      (s2, c, covered.size.toLong, islands)
    }.toSeq.sorted
    val gotBreadth = Gvcf.sampleBreadth(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(gotBreadth == refBreadth, s"\ngot  $gotBreadth\nwant $refBreadth")

    // rebandMerged vs per-base min-GQ banding with run coalescing
    val blocks = ivs.filter(_.kind == "block")
    def band(g: Long): Long = if (g < 20) 0L else if (g < 60) 1L else 2L
    val refBand = Seq("chr1", "chr2").flatMap { contig =>
      val perBase = positions.flatMap { p =>
        val cov = blocks.filter(r => r.contig == contig && r.start <= p && r.end >= p)
        if (cov.isEmpty) None else Some((p, cov.map(_.gq.toLong).min))
      }
      // maximal runs of consecutive covered bases in the same band
      perBase.foldLeft(Vector.empty[(Long, Long, Long, Long)]) {
        case (acc, (p, mgq)) =>
          acc.lastOption match {
            case Some((lo, hi, b, g2)) if hi + 1 == p && b == band(mgq) =>
              acc.init :+ (lo, p, b, math.min(g2, mgq))
            case _ => acc :+ (p, p, band(mgq), mgq)
          }
      }.map { case (lo, hi, b, g2) => (contig, lo, hi, b, g2) }
    }.sorted
    val gotBand = Gvcf.rebandMerged(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    assert(gotBand == refBand, s"\ngot  $gotBand\nwant $refBand")
  }

  test("reference loop: cohort bulk-load, sample-add generation, compaction, versioned combine") {
    // The reference's actual usage story composed over the PERSISTED
    // store, not in-memory frames: bulk-load a 3-sample cohort as
    // generation 1, add sample s3 as an appended generation (the
    // incremental-sample path the store exists for), run maintenance
    // (minor compaction folding everything), and prove on the STORED
    // cohort that (a) readAsOf(1) reconstructs the pre-add combine
    // exactly — sample-add is a VERSIONED event, time travel works at
    // cohort level; (b) the live combine equals the in-memory combine
    // of cohort + delta; (c) gVCF export from the stored cohort is
    // line-identical to export from the in-memory one. Alleles ride as
    // a joined string (the sink is scalar-typed) and reconstruct by
    // split — the round trip is part of what is proven.
    import org.apache.spark.sql.functions._
    val dir = scratchDir("graft_refloop").toString
    val ddl = "key LONG, ver LONG, sample STRING, contig STRING, vstart LONG, " +
      "vend LONG, kind STRING, alleles STRING, gq INT, gt STRING"
    def toStore(df: DataFrame, ver: Long, mode: String): Unit =
      df.select(col("start").as("key"), lit(ver).as("ver"), col("sample"),
          col("contig"), col("start").as("vstart"), col("end").as("vend"),
          col("kind"), array_join(col("alleles"), ",").as("alleles"),
          col("gq"), col("gt"))
        .repartitionByRange(2, col("key")).sortWithinPartitions("key")
        .write.format("graft.sources.VariantStoreSink")
        .option("path", dir).mode(mode).save()
    val cohort = Gvcf.syntheticVariants(spark, 300)
    val delta = Gvcf.deltaSample(spark, 300)
    toStore(cohort, 1L, "overwrite")
    toStore(delta, 2L, "append")
    graft.sources.VariantStore.compactMinor(spark, dir, ddl, keepGenerations = 1)
    assert(graft.sources.VariantStore
      .rangeFiles(dir, Long.MinValue, Long.MaxValue).size == 1,
      "maintenance should fold both generations")
    def storedAsOf(t: Long): DataFrame = graft.sources.VariantStore
      .readAsOf(spark, dir, ddl, t)
      .select(col("sample"), col("contig"), col("vstart").as("start"),
        col("vend").as("end"), col("kind"),
        split(col("alleles"), ",").as("alleles"), col("gq"), col("gt"))
    def combined(df: DataFrame): Seq[String] =
      Gvcf.combineSites(df)
        .withColumn("calls", array_join(col("calls"), ";"))
        .collect().map(_.toString).toSeq
    assert(combined(storedAsOf(1L)) == combined(cohort),
      "as-of-1 stored combine diverged from the pre-add cohort")
    assert(combined(storedAsOf(Long.MaxValue)) ==
      combined(cohort.unionByName(delta)),
      "live stored combine diverged from the in-memory cohort + delta")
    def exported(df: DataFrame): Seq[String] =
      Gvcf.exportLines(df).orderBy("contig", "pos")
        .select("line").as[String].collect().toSeq
    assert(exported(storedAsOf(Long.MaxValue)) ==
      exported(cohort.unionByName(delta)),
      "gVCF export from the stored cohort is not line-identical")
  }
}
