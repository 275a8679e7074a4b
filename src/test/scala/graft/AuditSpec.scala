package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions.expr

/** `Audit.measure`'s steady pass re-executes the whole plan, its
  * checksum is `bit_xor(xxhash64(*))` over the result, and `--expect`
  * gates on it. */
class AuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The numeric `key` of a JSON record. */
  private def field(rec: Audit.Record, key: String): Double =
    s""""$key":(-?[0-9.]+)""".r.findFirstMatchIn(rec.json).get.group(1).toDouble

  test("the steady pass re-runs every shuffle map stage, as the cold pass does") {
    // Dataset.count()'s plan over ToolsSpec's fixed shape (AQE off): 1
    // job, 3 stages, 13 tasks, 10,005 shuffle records per execution. A
    // re-read of the cold pass's RDD would skip both map stages.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val both = Tools.counters(spark) // sees both passes, Audit's the steady one
    try {
      both.drain()
      val rec = Audit.runAll(spark)(Seq(("range_count", Map.empty,
        () => spark.range(0, 10000, 1, 7).repartition(5).groupBy().count()))).head.get
      val all = both.drain()
      assert(Seq("rows", "jobs", "stages", "tasks", "shuffle_records").map(field(rec, _)) ==
        Seq(1.0, 1.0, 3.0, 13.0, 10005.0), rec.json)
      assert(all.shuffleRecords == 2 * 10005L, s"both passes: $all")
    } finally {
      spark.sparkContext.removeSparkListener(both)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("checksum equals bit_xor(xxhash64(*)) over the query result") {
    val names = Seq("q_agg_count_by_key", "q_tpch_q21", "q_text_stats",
      "q_dedup_near", "q_combine_merge", "q_sessionize")
    val recs = Audit.runAll(spark)(names.map(n =>
      (n, Map.empty[String, String], () => SparkEntry.queries(n)(spark, sf)))).map(_.get)
    for ((n, rec) <- names.zip(recs)) {
      val ref = SparkEntry.queries(n)(spark, sf)
        .select(expr("bit_xor(xxhash64(*))")).head
      assert(rec.checksum == (if (ref.isNullAt(0)) 0L else ref.getLong(0)), n)
      assert(field(rec, "rows") == SparkEntry.queries(n)(spark, sf).count(), n)
    }
  }

  test("--expect fails on one planted wrong checksum and passes the true reference") {
    val dir = scratchDir("graft_audit_spec_")
    val names = Seq("q_agg_count_by_key", "q_tpch_q7")
    val ref = dir.resolve("ref.json")
    assert(Audit.audit(spark, sf, names, None, ref).isEmpty)
    val text = new String(Files.readAllBytes(ref), UTF_8)
    val sums = """"checksum":(-?\d+)""".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(sums.size == 2, text)
    val planted = dir.resolve("planted.json")
    Files.write(planted, text.replaceFirst(s""""checksum":${sums.head}\\b""",
      s""""checksum":${sums.head.toLong ^ 1L}""").getBytes(UTF_8))
    val bad = Audit.audit(spark, sf, names, Some(planted), dir.resolve("a.json"))
    assert(bad.size == 1 && bad.head.startsWith("q_agg_count_by_key: checksum"), bad)
    assert(Audit.audit(spark, sf, names, Some(ref), dir.resolve("b.json")).isEmpty)
  }
}
