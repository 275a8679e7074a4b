package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

/** gVCF text ingestion — the reference's actual entry point (SURVEY §3.1:
  * htsjdk `VCFFileReader` → records → store). htsjdk is unavailable
  * offline, so this is a pure-expression VCF line parser: tab-split plus
  * `regexp_extract`, fully codegen-able, no UDFs. Lines parse straight to
  * the `variants` schema (FIXTURES.md §2) that [[Gvcf]] consumes, plus the
  * per-sample GT call for [[Gvcf.combineSites]].
  *
  * Scale notes: `spark.read.text` splits large files by HDFS block, so
  * parsing is embarrassingly parallel map work; header lines are a
  * per-partition filter. At 100 TB you'd bgzip-chunk per contig and get
  * the same plan.
  *
  * The `q_source_vcf` round trip: a deterministic synthetic gVCF is
  * written once per (session, sf) as text — sites every third record
  * (concrete ALT + `<NON_REF>`), reference blocks otherwise (END in
  * INFO) — read back, parsed, and aggregated. The DuckDB oracle builds
  * the IDENTICAL lines with string concatenation and parses them with
  * its own `string_split`/`regexp_extract`, so a hash match proves the
  * parser inverts the format exactly against an independent
  * implementation.
  */
object Vcf {

  val NonRef = "<NON_REF>"

  /** Parse VCF/gVCF text lines (one row per line, `value` column — the
    * `spark.read.text` schema) into the `variants` schema + `gt`.
    *   - `end`: INFO `END=` if present (reference blocks), else
    *     `start + len(ref) - 1` (spanning deletions handled).
    *   - `kind`: 'block' iff ALT is exactly `<NON_REF>`.
    *   - `alleles`: ref followed by the concrete alts (`<NON_REF>`
    *     dropped) — the merged-combine input shape.
    *   - `gq`/`gt`: located by position of GQ/GT in FORMAT (null-safe
    *     when the file omits them). */
  def parseLines(lines: DataFrame, sample: String): DataFrame =
    parseLinesAs(lines, lit(sample))

  /** As [[parseLines]], but the sample identity is an arbitrary Column
    * over the input rows (e.g. derived from `input_file_name()`). */
  def parseLinesAs(lines: DataFrame, sampleCol: org.apache.spark.sql.Column): DataFrame = {
    def field(fmt: String) = {
      val pos = array_position(col("fmt"), fmt)
      // try_element_at: a sample cell with FEWER subfields than FORMAT
      // declares is malformed data, not a reason to kill the ingest
      when(pos > 0, expr(s"try_element_at(vals, CAST(array_position(fmt, '$fmt') AS INT))"))
    }
    lines
      .filter(!col("value").startsWith("#"))
      .select(sampleCol.as("sample0"), split(col("value"), "\t").as("f"))
      // malformed lines (wrong arity, non-numeric POS) are DROPPED, not
      // fatal: ANSI mode is on, so a plain cast would kill the whole job
      // on the first corrupt line of a 100 TB ingest — try_cast + filter
      // is the skip-bad-records posture (count them with .observe).
      .filter(size(col("f")) >= 10)
      .select(
        col("sample0"),
        element_at(col("f"), 1).as("contig"),
        expr("try_cast(element_at(f, 2) AS BIGINT)").as("start"),
        element_at(col("f"), 4).as("ref"),
        split(element_at(col("f"), 5), ",").as("alts"),
        element_at(col("f"), 6).as("qual0"),
        element_at(col("f"), 7).as("filter0"),
        element_at(col("f"), 8).as("info"),
        split(element_at(col("f"), 9), ":").as("fmt"),
        split(element_at(col("f"), 10), ":").as("vals"))
      .filter(col("start").isNotNull)
      .select(
        col("sample0").as("sample"),
        col("contig"),
        col("start"),
        // anchored: 'CIEND=...' must not be misread as the record END
        when(col("info").rlike("(^|;)END="),
          expr("try_cast(regexp_extract(info, '(^|;)END=([0-9]+)', 2) AS BIGINT)"))
          .otherwise(col("start") + length(col("ref")) - 1).as("end"),
        when(size(col("alts")) === 1 && element_at(col("alts"), 1) === NonRef, "block")
          .otherwise("site").as("kind"),
        concat(array(col("ref")), filter(col("alts"), a => a =!= NonRef)).as("alleles"),
        expr("try_cast(" + fieldSql("GQ") + " AS INT)").as("gq"),
        field("GT").as("gt"),
        // likelihood-bearing FORMAT fields (the GenotypeGVCFs inputs):
        // DP scalar, AD/PL comma-lists → INT arrays; all null-safe when
        // the line's FORMAT omits them (reference blocks carry GT:GQ
        // only), and try_cast degrades malformed tokens to null entries
        // instead of an ANSI abort.
        expr("try_cast(" + fieldSql("DP") + " AS INT)").as("dp"),
        expr("transform(split(" + fieldSql("AD") + ", ','), x -> try_cast(x AS INT))").as("ad"),
        expr("transform(split(" + fieldSql("PL") + ", ','), x -> try_cast(x AS INT))").as("pl"),
        // site-level QUAL/FILTER (htsjdk carries both; '.' = absent).
        // qual is DOUBLE per spec 4.2; a malformed token degrades to
        // null like every other field, never an ANSI abort.
        expr("try_cast(nullif(qual0, '.') AS DOUBLE)").as("qual"),
        expr("nullif(filter0, '.')").as("filter"),
        // phasing survives verbatim in gt ('0|1'); the flag makes
        // "phased calls only" a column predicate instead of a LIKE
        field("GT").contains("|").as("phased"))
      .filter(col("end").isNotNull) // END= present but non-numeric
  }

  /** SQL text of the FORMAT-field lookup (for try_cast composition). */
  private def fieldSql(fmt: String): String =
    s"CASE WHEN array_position(fmt, '$fmt') > 0 THEN " +
      s"try_element_at(vals, CAST(array_position(fmt, '$fmt') AS INT)) END"

  /** Read one single-sample gVCF text file into `variants` rows. */
  def readGvcf(s: SparkSession, path: String, sample: String): DataFrame =
    parseLines(s.read.text(path), sample)

  /** Cohort ingest from a DIRECTORY of per-sample gVCFs — the reference's
    * real store path (one file per sample, sample identity from the file
    * name `<sample>.g.vcf`): `spark.read.text` over the glob keeps
    * per-file parallelism, `input_file_name()` recovers the sample
    * column, and the single-sample parser runs unchanged on the lines.
    * At 100 TB this is the same plan — listing parallelizes, each task
    * parses its split, nothing driver-side. */
  def readGvcfDir(s: SparkSession, dir: String): DataFrame =
    parseLinesAs(s.read.text(s"$dir/*.g.vcf"),
      regexp_extract(input_file_name(), "([^/]+)\\.g\\.vcf$", 1))

  /** Deterministic synthetic gVCF body: record i is a site (ALT =
    * concrete base + `<NON_REF>`) when i % 3 == 0, else a reference
    * block spanning 10 positions with END in INFO. Sites carry the full
    * likelihood FORMAT `GT:GQ:DP:AD:PL` (6 PL entries — ref + 1 alt +
    * NON_REF diploid genotype space, 0 at the 0/1 slot); blocks carry
    * `GT:GQ` only, like a real gVCF. Pure integer/string arithmetic —
    * the oracle rebuilds the same lines character for character. */
  private[ops] def syntheticLines(s: SparkSession, n: Long): DataFrame =
    s.range(0, n, 1, Gvcf.sizedParts(n)).selectExpr(
      """concat(
        |  'chr', 1 + id % 2, '\t',
        |  (id div 2) * 10 + 1, '\t.\t',
        |  substr('ACGT', CAST(id % 4 AS INT) + 1, 1), '\t',
        |  CASE WHEN id % 12 = 0
        |       THEN concat(substr('ACGT', CAST((id + 1) % 4 AS INT) + 1, 1), ',',
        |                   substr('ACGT', CAST((id + 2) % 4 AS INT) + 1, 1), ',<NON_REF>')
        |       WHEN id % 3 = 0
        |       THEN concat(substr('ACGT', CAST((id + 1) % 4 AS INT) + 1, 1), ',<NON_REF>')
        |       ELSE '<NON_REF>' END, '\t',
        |  CASE WHEN id % 3 = 0 THEN CAST(id % 100 AS STRING) ELSE '.' END, '\t',
        |  CASE WHEN id % 3 = 0 AND id % 5 = 0 THEN 'LowQual'
        |       WHEN id % 3 = 0 THEN 'PASS' ELSE '.' END, '\t',
        |  CASE WHEN id % 3 = 0 THEN concat('DP=', id % 64)
        |       ELSE concat('END=', (id div 2) * 10 + 10) END, '\t',
        |  CASE WHEN id % 3 = 0 THEN 'GT:GQ:DP:AD:PL' ELSE 'GT:GQ' END, '\t',
        |  CASE WHEN id % 12 = 0
        |       THEN concat('1|2:', id % 90 + 10, ':', id % 50 + 10, ':',
        |                   id % 50 + 10 - id % 7 - id % 11, ',', id % 7, ',', id % 11, ':',
        |                   10 + id % 7, ',0,', 30 + id % 7, ',',
        |                   40 + id % 7, ',', 50 + id % 7, ',', 60 + id % 7, ',',
        |                   70 + id % 7, ',', 80 + id % 7, ',', 90 + id % 7, ',', 100 + id % 7)
        |       WHEN id % 9 = 0
        |       THEN concat('0|1:', id % 90 + 10, ':', id % 50 + 10, ':',
        |                   id % 50 + 10 - id % 7, ',', id % 7, ':',
        |                   10 + id % 7, ',0,', 30 + id % 7, ',',
        |                   40 + id % 7, ',', 50 + id % 7, ',', 60 + id % 7)
        |       WHEN id % 3 = 0
        |       THEN concat('0/1:', id % 90 + 10, ':', id % 50 + 10, ':',
        |                   id % 50 + 10 - id % 7, ',', id % 7, ':',
        |                   10 + id % 7, ',0,', 30 + id % 7, ',',
        |                   40 + id % 7, ',', 50 + id % 7, ',', 60 + id % 7)
        |       ELSE concat('0/0:', id % 90 + 10) END
        |) AS value""".stripMargin)

  /** Bump WHENEVER [[syntheticLines]]' emitted format changes — the
    * fixture cache below is keyed on it, so a stale tmpdir copy from a
    * previous build can never be served against a new oracle (the
    * stale-cache bug class round 6 fixed elsewhere with content
    * fingerprints; the generator's output doesn't exist on disk before
    * first write, so a version key is the cheapest correct analog). */
  private[ops] val SyntheticFormatVersion = 3

  private def vcfDir(d: String): String =
    graft.api.scratchPath(s"vcf_v${SyntheticFormatVersion}_${graft.api.slug(d)}")

  /** Write-once synthetic gVCF (headers + 2000 body lines) per (session,
    * sf), atomically published ([[graft.api.buildOnce]]). */
  def syntheticGvcfPath(s: SparkSession, d: String): String =
    graft.api.buildOnce(vcfDir(d), marker = Some("_SUCCESS")) { tmp =>
      import s.implicits._
      val header = Seq(
        "##fileformat=VCFv4.2",
        "##INFO=<ID=END,Number=1,Type=Integer,Description=\"End position\">",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1").toDF("value")
      header.coalesce(1).union(syntheticLines(s, 2000)).write.mode("overwrite").text(tmp)
    }

  /** Ingest round trip: parse the synthetic gVCF and aggregate every
    * parsed field; the oracle re-derives the lines and parses them with
    * DuckDB string functions. */
  val sourceVcf = Query(
    "q_source_vcf",
    """WITH g AS (SELECT range AS i FROM range(0, 2000)),
      |lines AS (
      |  SELECT 'chr' || CAST(1 + i % 2 AS VARCHAR) || chr(9) ||
      |    CAST((i // 2) * 10 + 1 AS VARCHAR) || chr(9) || '.' || chr(9) ||
      |    substr('ACGT', CAST(i % 4 AS INT) + 1, 1) || chr(9) ||
      |    CASE WHEN i % 12 = 0
      |         THEN substr('ACGT', CAST((i + 1) % 4 AS INT) + 1, 1) || ',' ||
      |              substr('ACGT', CAST((i + 2) % 4 AS INT) + 1, 1) || ',<NON_REF>'
      |         WHEN i % 3 = 0
      |         THEN substr('ACGT', CAST((i + 1) % 4 AS INT) + 1, 1) || ',<NON_REF>'
      |         ELSE '<NON_REF>' END || chr(9) ||
      |    CASE WHEN i % 3 = 0 THEN CAST(i % 100 AS VARCHAR) ELSE '.' END || chr(9) ||
      |    CASE WHEN i % 3 = 0 AND i % 5 = 0 THEN 'LowQual'
      |         WHEN i % 3 = 0 THEN 'PASS' ELSE '.' END || chr(9) ||
      |    CASE WHEN i % 3 = 0 THEN 'DP=' || CAST(i % 64 AS VARCHAR)
      |         ELSE 'END=' || CAST((i // 2) * 10 + 10 AS VARCHAR) END || chr(9) ||
      |    CASE WHEN i % 3 = 0 THEN 'GT:GQ:DP:AD:PL' ELSE 'GT:GQ' END || chr(9) ||
      |    CASE WHEN i % 12 = 0
      |         THEN '1|2:' || CAST(i % 90 + 10 AS VARCHAR) || ':' ||
      |              CAST(i % 50 + 10 AS VARCHAR) || ':' ||
      |              CAST(i % 50 + 10 - i % 7 - i % 11 AS VARCHAR) || ',' ||
      |              CAST(i % 7 AS VARCHAR) || ',' || CAST(i % 11 AS VARCHAR) || ':' ||
      |              CAST(10 + i % 7 AS VARCHAR) || ',0,' || CAST(30 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(40 + i % 7 AS VARCHAR) || ',' || CAST(50 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(60 + i % 7 AS VARCHAR) || ',' || CAST(70 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(80 + i % 7 AS VARCHAR) || ',' || CAST(90 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(100 + i % 7 AS VARCHAR)
      |         WHEN i % 9 = 0
      |         THEN '0|1:' || CAST(i % 90 + 10 AS VARCHAR) || ':' ||
      |              CAST(i % 50 + 10 AS VARCHAR) || ':' ||
      |              CAST(i % 50 + 10 - i % 7 AS VARCHAR) || ',' || CAST(i % 7 AS VARCHAR) || ':' ||
      |              CAST(10 + i % 7 AS VARCHAR) || ',0,' || CAST(30 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(40 + i % 7 AS VARCHAR) || ',' || CAST(50 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(60 + i % 7 AS VARCHAR)
      |         WHEN i % 3 = 0
      |         THEN '0/1:' || CAST(i % 90 + 10 AS VARCHAR) || ':' ||
      |              CAST(i % 50 + 10 AS VARCHAR) || ':' ||
      |              CAST(i % 50 + 10 - i % 7 AS VARCHAR) || ',' || CAST(i % 7 AS VARCHAR) || ':' ||
      |              CAST(10 + i % 7 AS VARCHAR) || ',0,' || CAST(30 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(40 + i % 7 AS VARCHAR) || ',' || CAST(50 + i % 7 AS VARCHAR) || ',' ||
      |              CAST(60 + i % 7 AS VARCHAR)
      |         ELSE '0/0:' || CAST(i % 90 + 10 AS VARCHAR) END
      |    AS line
      |  FROM g),
      |f AS (SELECT string_split(line, chr(9)) AS p FROM lines),
      |parsed AS (
      |  SELECT p[1] AS contig,
      |    CAST(p[2] AS BIGINT) AS pos,
      |    CASE WHEN regexp_matches(p[8], '(^|;)END=')
      |         THEN CAST(regexp_extract(p[8], '(^|;)END=([0-9]+)', 2) AS BIGINT)
      |         ELSE CAST(p[2] AS BIGINT) + length(p[4]) - 1 END AS pend,
      |    CASE WHEN p[5] = '<NON_REF>' THEN 'block' ELSE 'site' END AS kind,
      |    array_to_string(list_prepend(p[4],
      |      list_filter(string_split(p[5], ','), a -> a <> '<NON_REF>')), '/') AS alleles,
      |    CAST(string_split(p[10], ':')[list_position(string_split(p[9], ':'), 'GQ')] AS INT) AS gq,
      |    string_split(p[10], ':')[list_position(string_split(p[9], ':'), 'GT')] AS gt,
      |    CAST(string_split(p[10], ':')[list_position(string_split(p[9], ':'), 'DP')] AS INT) AS dp,
      |    list_transform(string_split(
      |      string_split(p[10], ':')[list_position(string_split(p[9], ':'), 'AD')], ','),
      |      x -> CAST(x AS INT)) AS ad,
      |    list_transform(string_split(
      |      string_split(p[10], ':')[list_position(string_split(p[9], ':'), 'PL')], ','),
      |      x -> CAST(x AS INT)) AS pl,
      |    CAST(nullif(p[6], '.') AS DOUBLE) AS qual,
      |    nullif(p[7], '.') AS filt,
      |    contains(string_split(p[10], ':')[list_position(string_split(p[9], ':'), 'GT')], '|')
      |      AS phased
      |  FROM f)
      |SELECT contig, kind, count(*) AS n,
      |  CAST(sum(pos) AS BIGINT) AS sum_start,
      |  CAST(sum(pend) AS BIGINT) AS sum_end,
      |  CAST(sum(gq) AS BIGINT) AS sum_gq,
      |  CAST(count(DISTINCT alleles) AS BIGINT) AS n_allele_patterns,
      |  CAST(count(DISTINCT gt) AS BIGINT) AS n_gts,
      |  CAST(sum(dp) AS BIGINT) AS sum_dp,
      |  CAST(sum(ad[2]) AS BIGINT) AS sum_ad_alt,
      |  CAST(sum(list_sum(pl)) AS BIGINT) AS sum_pl,
      |  CAST(sum(qual) AS BIGINT) AS sum_qual,
      |  CAST(count(DISTINCT filt) AS BIGINT) AS n_filters,
      |  CAST(count(*) FILTER (filt = 'PASS') AS BIGINT) AS n_pass,
      |  CAST(count(*) FILTER (phased) AS BIGINT) AS n_phased,
      |  CAST(max(len(string_split(alleles, '/'))) AS BIGINT) AS max_n_alleles
      |FROM parsed
      |GROUP BY contig, kind
      |ORDER BY contig, kind""".stripMargin) { (s, d) =>
    readGvcf(s, syntheticGvcfPath(s, d), "S1")
      .groupBy("contig", "kind")
      .agg(
        count(lit(1)).as("n"),
        sum(col("start")).cast(LongType).as("sum_start"),
        sum(col("end")).cast(LongType).as("sum_end"),
        sum(col("gq")).cast(LongType).as("sum_gq"),
        countDistinct(array_join(col("alleles"), "/")).cast(LongType).as("n_allele_patterns"),
        countDistinct(col("gt")).cast(LongType).as("n_gts"),
        sum(col("dp")).cast(LongType).as("sum_dp"),
        sum(expr("try_element_at(ad, 2)")).cast(LongType).as("sum_ad_alt"),
        // null-SKIPPING per-row sum to mirror DuckDB's list_sum: a single
        // malformed PL token (try_cast -> null entry) must not poison the
        // whole row's sum into NULL while the oracle still counts the
        // parseable entries — that would be a cross-engine hash mismatch
        // on exactly the degraded records the parser tolerates.
        sum(expr("CASE WHEN size(filter(pl, x -> x IS NOT NULL)) > 0 THEN " +
          "aggregate(filter(pl, x -> x IS NOT NULL), 0, (acc, x) -> acc + x) END"))
          .cast(LongType).as("sum_pl"),
        sum(col("qual")).cast(LongType).as("sum_qual"),
        countDistinct(col("filter")).cast(LongType).as("n_filters"),
        count(when(col("filter") === "PASS", 1)).cast(LongType).as("n_pass"),
        count(when(col("phased"), 1)).cast(LongType).as("n_phased"),
        max(size(col("alleles"))).cast(LongType).as("max_n_alleles"))
      .orderBy("contig", "kind")
  }

  /** Parse MULTI-sample VCF body lines (the [[Gvcf.exportLines]] format:
    * one GT:GQ cell per cohort sample, missing cells `./.:.`) back to
    * per-sample `variants` rows — the inverse of the export path, proving
    * the text format is lossless at sites (GvcfSpec round-trip).
    * Sample i's cell is field 10+i against the SORTED sample list (the
    * SampleNameIndex contract); missing cells drop, `<NON_REF>` leaves
    * the alleles. One posexplode per line — map work, no shuffle. */
  def parseCohortLines(lines: DataFrame, samples: Seq[String]): DataFrame = {
    val sArr = array(samples.sorted.map(lit): _*)
    lines
      .filter(!col("value").startsWith("#"))
      .select(split(col("value"), "\t").as("f"))
      // the line must carry a cell for EVERY cohort sample — a weaker
      // >= 10 guard would pass truncated lines and then read past the
      // array for the later samples (fatal under ANSI)
      .filter(size(col("f")) >= 9 + samples.size)
      .select(col("f"), posexplode(sArr))
      .withColumnRenamed("col", "sample")
      .select(
        col("sample"),
        element_at(col("f"), 1).as("contig"),
        expr("try_cast(element_at(f, 2) AS BIGINT)").as("start"),
        element_at(col("f"), 4).as("ref"),
        split(element_at(col("f"), 5), ",").as("alts"),
        expr("split(element_at(f, CAST(pos + 10 AS INT)), ':')").as("cell"))
      .filter(col("start").isNotNull && element_at(col("cell"), 1) =!= "./.")
      .select(
        col("sample"), col("contig"), col("start"),
        (col("start") + length(col("ref")) - 1).as("end"),
        lit("site").as("kind"),
        concat(array(col("ref")), filter(col("alts"), a => a =!= NonRef)).as("alleles"),
        expr("try_cast(try_element_at(cell, 2) AS INT)").as("gq"),
        element_at(col("cell"), 1).as("gt"))
  }

  val queries: Seq[Query] = Seq(sourceVcf)
}
