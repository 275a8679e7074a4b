package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions.expr

/** `Audit.measure`'s steady pass re-executes the whole plan, its
  * checksum is `bit_xor(xxhash64(*))` over the result, `--expect` and
  * the probe groups gate on it, a probe's confs hold for its run only,
  * and every member of every `@set` builds. */
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
      val rec = Audit.runAll(spark, sf, Seq(Probe("range_count", "range_count", Map.empty,
        (s, _) => s.range(0, 10000, 1, 7).repartition(5).groupBy().count()))).head.get
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
    val recs = Audit.runAll(spark, sf, names.map(Probe.query)).map(_.get)
    for ((n, rec) <- names.zip(recs)) {
      val ref = SparkEntry.queries(n)(spark, sf)
        .select(expr("bit_xor(xxhash64(*))")).head
      assert(rec.checksum == (if (ref.isNullAt(0)) 0L else ref.getLong(0)), n)
      assert(field(rec, "rows") == SparkEntry.queries(n)(spark, sf).count(), n)
    }
  }

  test("--expect fails on one planted wrong checksum and passes the true reference") {
    val dir = scratchDir("graft_audit_spec_")
    val names = Seq("q_agg_count_by_key", "q_tpch_q7").map(Probe.query)
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

  test("a group whose checksums differ is one failure, and every record is still written") {
    val dir = scratchDir("graft_audit_group_")
    def range(name: String, group: String, n: Long, parts: Int) =
      Probe(name, group, Map.empty, (s, _) => s.range(0, n, 1, parts).toDF("id"))
    // "same" computes one result over two partitionings; "planted" two results
    val probes = Seq(range("same_a", "same", 10, 1), range("same_b", "same", 10, 3),
      range("planted_a", "planted", 10, 1), range("planted_b", "planted", 11, 1))
    val failures = Audit.audit(spark, sf, probes, None, dir.resolve("g.json"))
    assert(failures.size == 1 && failures.head.startsWith("group planted: checksums differ"),
      failures)
    val text = new String(Files.readAllBytes(dir.resolve("g.json")), UTF_8)
    assert(probes.forall(p => text.contains(s""""query":"${p.name}"""")), text)
  }

  test("a probe's confs hold for its run only, for a key set before and one unset before") {
    val (set, unset) =
      ("spark.sql.shuffle.partitions", "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val before = spark.conf.getAll
    assert(before.contains(set) && !before.contains(unset), before)
    val confs = Map(set -> "3", unset -> "2")
    val seen = scala.collection.mutable.Buffer[(String, String)]()
    val results = Audit.runAll(spark, sf, Seq(
      Probe("sees", "sees", confs, { (s, _) =>
        seen += s.conf.get(set) -> s.conf.get(unset)
        s.range(0, 10).toDF("id")
      }),
      Probe("throws", "throws", confs, (_, _) => throw new IllegalStateException("planted"))))
    assert(results.map(_.isSuccess) == Seq(true, false))
    // measure builds the plan twice: the cold and the steady pass
    assert(seen == Seq("3" -> "2", "3" -> "2"))
    assert(spark.conf.getAll.get(set) == before.get(set))
    assert(!spark.conf.getAll.contains(unset), spark.conf.getAll.get(unset))
  }

  test("every member of every set builds its plan at sf0.001, under a unique name") {
    for ((set, probes) <- Audit.Sets) {
      assert(probes.map(_.name).distinct.size == probes.size, s"@$set")
      for (p <- probes) withClue(s"@$set ${p.name}: ") {
        assert(p.plan(spark, sf).queryExecution.executedPlan.output.nonEmpty)
      }
    }
  }
}
