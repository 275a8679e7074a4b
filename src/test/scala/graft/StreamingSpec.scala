package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.Streaming

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** C10 — watermark + event-time window semantics via MemoryStream
  * (SURVEY §5.2.3): on-time rows are counted, rows later than the
  * watermark delay behind max event time are dropped. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window counts with watermark drop late rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(input.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("update").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 10:20:00"), 2, "click", 1.0),
        Ev(ts("2024-01-01 11:20:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // watermark = 11:20 - 10min = 11:10 > the [10:00,11:00) window END,
      // so that window's state is finalized and late rows for it drop.
      input.addData(Ev(ts("2024-01-01 10:30:00"), 3, "click", 1.0)) // late, beyond watermark
      input.addData(Ev(ts("2024-01-01 11:25:00"), 2, "view", 1.0))  // on time
      q.processAllAvailable()
      val out = spark.table("tumbling_out")
        .groupBy("window_start", "event_type").agg(max("n").as("n"))
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq
      assert(out == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L), // late 10:30 row NOT counted
        ("2024-01-01 11:00:00.0", "view", 2L)))
    } finally q.stop()
  }

  test("mapGroupsWithState carries per-user totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.StreamEvent
    val input = MemoryStream[StreamEvent]
    val q = Streaming.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("totals_out")
      .outputMode("update").start()
    try {
      input.addData(
        StreamEvent(ts("2024-01-01 10:00:00"), 1, "click", 2.0),
        StreamEvent(ts("2024-01-01 10:01:00"), 1, "view", 3.0),
        StreamEvent(ts("2024-01-01 10:02:00"), 2, "click", 5.0))
      q.processAllAvailable()
      input.addData(StreamEvent(ts("2024-01-01 10:10:00"), 1, "purchase", 10.0))
      q.processAllAvailable()
      // poison record: NULL ts / NULL event_type must not NPE the
      // determinism sort — a crashed task replays the same micro-batch
      // forever (r19 review); the value still accumulates
      input.addData(StreamEvent(null, 2, null, 7.0))
      q.processAllAvailable()
      // latest state per user: user 1 accumulated across both batches
      val out = spark.table("totals_out")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(out == Seq((1L, 3L, 15.0), (2L, 2L, 12.0)))
    } finally q.stop()
  }

  test("sliding windows count each event in exactly two windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("update").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:40:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 10:50:00"), 2, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("sliding_out")
        .groupBy("window_start").agg(max("n").as("n")).orderBy("window_start")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
      // both events live in the 10:00 and 10:30 windows
      assert(out == Seq(("2024-01-01 10:00:00.0", 2L), ("2024-01-01 10:30:00.0", 2L)))
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to prior-hour clicks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.purchaseAttribution(input.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "click", 0.0),    // within the hour → attributed
        Ev(ts("2024-01-01 08:00:00"), 1, "click", 0.0),    // 2.5h before → NOT attributed
        Ev(ts("2024-01-01 10:20:00"), 2, "click", 0.0),    // other user → NOT attributed
        Ev(ts("2024-01-01 10:30:00"), 1, "purchase", 42.0))
      q.processAllAvailable()
      val out = spark.table("attr_out")
        .select("user_id", "click_ts", "value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDouble(2))).toSeq
      assert(out == Seq((1L, "2024-01-01 10:00:00.0", 42.0)),
        s"unexpected attribution rows: $out")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops re-delivered events across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermark(input.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val e1 = Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0)
      input.addData(e1, Ev(ts("2024-01-01 10:01:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(e1.copy(value = 9.0)) // same identity re-delivered → dropped
      input.addData(Ev(ts("2024-01-01 10:02:00"), 1, "click", 1.0)) // new ts → kept
      q.processAllAvailable()
      val out = spark.table("dedup_out").orderBy("ts", "user_id")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(3))).toSeq
      assert(out == Seq(
        ("2024-01-01 10:00:00.0", 1L, 1.0), // original kept, value 9.0 duplicate dropped
        ("2024-01-01 10:01:00.0", 2L, 1.0),
        ("2024-01-01 10:02:00.0", 1L, 1.0)))
    } finally q.stop()
  }

  test("carryForwardFill densifies sites against blocks carried across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.VarEvent
    val input = MemoryStream[VarEvent]
    val q = Streaming.carryForwardFill(input.toDS())
      .writeStream.format("memory").queryName("fill_out")
      .outputMode("append").start()
    try {
      input.addData(
        VarEvent("s1", "chr1", 1L, 100L, "block", 50),
        VarEvent("s1", "chr1", 10L, 10L, "site", 99)) // covered within the batch
      q.processAllAvailable()
      input.addData(
        VarEvent("s1", "chr1", 50L, 50L, "site", 88),   // covered by CARRIED block
        VarEvent("s1", "chr1", 200L, 200L, "site", 77), // past the block → uncovered
        VarEvent("s2", "chr1", 5L, 5L, "site", 66))     // no state for s2 → uncovered
      q.processAllAvailable()
      val out = spark.table("fill_out").orderBy("sample", "pos")
        .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3), r.getInt(4))).toSeq
      assert(out == Seq(
        ("s1", 10L, true, 50),   // block gq, not the site's own
        ("s1", 50L, true, 50),   // state carried across micro-batches
        ("s1", 200L, false, 77), // beyond the carried block
        ("s2", 5L, false, 66)))
    } finally q.stop()
  }

  test("streamingCombine re-emits only touched sites when a new sample arrives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.FilledCall
    val input = MemoryStream[FilledCall]
    val q = Streaming.streamingCombine(input.toDS())
      .writeStream.format("memory").queryName("comb_out")
      .outputMode("append").start()
    try {
      val cohort = Seq(
        FilledCall("s1", "chr1", 10L, covered = true, gq = 50),
        FilledCall("s2", "chr1", 10L, covered = false, gq = 30),
        FilledCall("s1", "chr1", 20L, covered = true, gq = 60),
        FilledCall("s2", "chr1", 20L, covered = true, gq = 40),
        FilledCall("s1", "chr2", 10L, covered = true, gq = 70))
      input.addData(cohort: _*)
      q.processAllAvailable()
      val round1 = spark.table("comb_out").as[graft.ops.CombinedSite].collect()
      // parity with an INDEPENDENT batch formulation of the same combine
      val batch = cohort.toDS()
        .groupByKey(c => (c.contig, c.pos))
        .mapGroups { (k, cs) =>
          val m = cs.map(c => c.sample ->
            s"${c.sample}:${if (c.covered) "0/0" else "./."}:${c.gq}").toMap
          graft.ops.CombinedSite(k._1, k._2, m.size,
            m.keys.toSeq.sorted.map(m).mkString(";"))
        }.collect()
      assert(round1.toSet == batch.toSet,
        s"streaming round-1 combine != batch combine:\n${round1.toSeq}\n${batch.toSeq}")
      // sample s3 arrives at chr1:10 ONLY — the incremental contract:
      // exactly that site re-emits, now with 3 samples; nothing else does
      input.addData(FilledCall("s3", "chr1", 10L, covered = false, gq = 20))
      q.processAllAvailable()
      val round2 = spark.table("comb_out").as[graft.ops.CombinedSite].collect()
      val delta = round2.diff(round1)
      // ver 1: a zero-seq re-emission may not reuse the emitted ver 0
      assert(delta.toSeq == Seq(graft.ops.CombinedSite("chr1", 10L, 3,
        "s1:0/0:50;s2:./.:30;s3:./.:20", ver = 1L)),
        s"expected ONE re-emitted touched site with the merged calls: ${delta.toSeq}")
      // two same-sample calls for one site in ONE batch: the group
      // iterator's order is not guaranteed, so the winner must come from
      // the total order on (covered, gq), not arrival position
      input.addData(
        FilledCall("s2", "chr2", 5L, covered = false, gq = 10),
        FilledCall("s2", "chr2", 5L, covered = true, gq = 45))
      q.processAllAvailable()
      val round3 = spark.table("comb_out").as[graft.ops.CombinedSite].collect()
        .diff(round2)
      assert(round3.toSeq == Seq(graft.ops.CombinedSite("chr2", 5L, 1, "s2:0/0:45")),
        s"within-batch conflict must resolve by the total order: ${round3.toSeq}")
    } finally q.stop()
  }

  test("streamingCombine is arrival-order invariant (randomized batching)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{FilledCall, CombinedSite}
    // Fixed corpus of calls incl. same-sample duplicates at one site;
    // shuffle arrival order and batch boundaries per seed — the FINAL
    // combined row per site must always equal the deterministic batch
    // reference (latest batch wins per sample, within-batch conflicts
    // by the (covered, gq) total order).
    val calls = Seq(
      FilledCall("s1", "chr1", 10L, covered = true, gq = 50),
      FilledCall("s2", "chr1", 10L, covered = false, gq = 30),
      FilledCall("s2", "chr1", 10L, covered = true, gq = 45), // dup sample
      FilledCall("s1", "chr1", 20L, covered = true, gq = 60),
      FilledCall("s3", "chr2", 5L, covered = false, gq = 15))
    def render(c: FilledCall) =
      s"${c.sample}:${if (c.covered) "0/0" else "./."}:${c.gq}"
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val order = rnd.shuffle(calls)
      val batches = // 1-3 random cut points
        order.grouped(1 + rnd.nextInt(3)).toSeq
      val input = MemoryStream[FilledCall]
      val name = s"comb_perm_$seed"
      val q = Streaming.streamingCombine(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // last emission per site = current combined state
        val finalPerSite = spark.table(name).as[CombinedSite].collect()
          .zipWithIndex.groupBy(r => (r._1.contig, r._1.pos))
          .map { case (k, rs) => k -> rs.maxBy(_._2)._1.calls }
        // reference: per (site, sample) the winner is the call of the
        // LAST batch containing that sample — resolved inside a batch
        // by the (covered, gq, rendered) total order
        val expected = calls.groupBy(c => (c.contig, c.pos)).map { case (k, cs) =>
          val bySample = cs.groupBy(_.sample).map { case (smp, dups) =>
            val lastBatch = batches.lastIndexWhere(_.exists(c =>
              c.sample == smp && c.contig == k._1 && c.pos == k._2))
            val inLast = batches(lastBatch).filter(c =>
              c.sample == smp && c.contig == k._1 && c.pos == k._2)
            smp -> render(inLast.maxBy(c => (c.covered, c.gq, render(c))))
          }
          k -> bySample.keys.toSeq.sorted.map(bySample).mkString(";")
        }
        assert(finalPerSite == expected,
          s"seed $seed: arrival order changed the combine:\n$finalPerSite\n$expected")
      } finally q.stop()
    }
  }

  test("left-outer stream join emits null side only after watermark close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.purchaseAttributionOuter(input.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "click", 0.0),
        Ev(ts("2024-01-01 10:30:00"), 1, "purchase", 42.0), // matched
        Ev(ts("2024-01-01 10:31:00"), 2, "purchase", 7.0))  // no click (yet)
      q.processAllAvailable()
      val early = spark.table("attr_outer_out").count()
      assert(early == 1, s"unmatched row must NOT emit before watermark close (got $early)")
      // the GLOBAL watermark is the min over both sides, so BOTH streams
      // must advance before user 2's join window is provably closed
      input.addData(
        Ev(ts("2024-01-01 13:00:00"), 9, "click", 0.0),
        Ev(ts("2024-01-01 13:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      input.addData(
        Ev(ts("2024-01-01 13:30:00"), 9, "click", 0.0),
        Ev(ts("2024-01-01 13:30:00"), 9, "purchase", 2.0))
      q.processAllAvailable()
      val out = spark.table("attr_outer_out")
        .filter($"user_id" =!= 9)
        .select($"user_id", $"click_ts".isNull.as("unmatched"), $"value")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(2))).toSet
      assert(out == Set((1L, false, 42.0), (2L, true, 7.0)),
        s"expected matched user1 + watermark-closed null for user2: $out")
    } finally q.stop()
  }

  test("file sink + checkpoint recovers exactly-once across query restarts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = scratchDir("graft_stream_sink").toString
    val input = MemoryStream[Ev]
    def start() = input.toDF()
      .writeStream.format("parquet")
      .option("path", s"$dir/data").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: the committed batch must not
    // replay, the new batch must land exactly once.
    input.addData(Ev(ts("2024-01-01 10:05:00"), 2, "view", 2.0))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$dir/data")
        .select("user_id", "event_type").as[(Long, String)].collect().toSeq.sorted
      assert(out == Seq((1L, "click"), (2L, "view")), s"not exactly-once: $out")
    } finally q2.stop()
  }

  test("session windows merge events within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.sessionCounts(input.toDF(), gap = "30 minutes", delay = "1 minute")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 09:00:00"), 7, "click", 1.0),
        Ev(ts("2024-01-01 09:10:00"), 7, "click", 1.0), // same session (gap 10m)
        Ev(ts("2024-01-01 10:00:00"), 7, "click", 1.0)) // new session (gap 50m)
      q.processAllAvailable()
      val out = spark.table("session_out").orderBy("session_start")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(3))).toSeq
      assert(out == Seq(("2024-01-01 09:00:00.0", 2L), ("2024-01-01 10:00:00.0", 1L)))
    } finally q.stop()
  }

  test("stream-static join enriches events with a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "emea"), (2L, "amer")).toDF("user_id", "region")
    val input = MemoryStream[Ev]
    val q = input.toDF()
      .join(broadcast(dim), Seq("user_id"), "left")
      .select("user_id", "event_type", "region")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData(Ev(ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // the static side is re-read per micro-batch; a second batch must
      // still enrich, and unknown users pass through with a null region
      input.addData(
        Ev(ts("2024-01-01 10:01:00"), 2, "view", 1.0),
        Ev(ts("2024-01-01 10:02:00"), 9, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq.sorted
      assert(out == Seq(
        (1L, "click", Some("emea")), (2L, "view", Some("amer")), (9L, "view", None)))
    } finally q.stop()
  }

  test("stateful agg runs on the RocksDB state store (large-state posture)") {
    // at 100 TB of keys, HDFS-backed in-memory state OOMs; RocksDB spills
    // to local disk. Same query semantics — only the provider changes.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev]
      val q = input.toDF().groupBy("user_id").agg(sum("value").as("total"))
        .writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("complete").start()
      try {
        input.addData(Ev(ts("2024-01-01 10:00:00"), 1, "click", 2.0))
        q.processAllAvailable()
        input.addData(Ev(ts("2024-01-01 10:01:00"), 1, "click", 3.0),
          Ev(ts("2024-01-01 10:02:00"), 2, "view", 7.0))
        q.processAllAvailable() // state for user 1 must survive the batch boundary
        val out = spark.table("rocksdb_out")
          .as[(Long, Double)].collect().toSeq.sorted
        assert(out == Seq((1L, 5.0), (2L, 7.0)), s"RocksDB-backed state wrong: $out")
        assert(q.recentProgress.exists(_.stateOperators.nonEmpty),
          "no stateful operator reported progress")
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch upserts each micro-batch into a keyed table (last-writer-wins)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // state lives in a driver-side var for the test; in production this
    // is a MERGE INTO / VariantStore generation — the batch logic is the
    // same full-outer coalesce as Extras.mergeUpsert
    var state = Seq((1L, "old1"), (3L, "old3")).toDF("key", "val")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("key", "val")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.dropDuplicates("key") // idempotent within the batch
          .withColumnRenamed("val", "nval")
        state = state.join(b, Seq("key"), "full_outer")
          .select(col("key"),
            coalesce(col("nval"), col("val")).as("val"))
          .localCheckpoint() // cut lineage so state doesn't re-read the stream
        ()
      }.start()
    try {
      input.addData((1L, "new1"), (2L, "new2"))
      q.processAllAvailable()
      input.addData((2L, "newer2"), (4L, "new4"))
      q.processAllAvailable()
    } finally q.stop()
    val out = state.as[(Long, String)].collect().toSeq.sorted
    assert(out == Seq(
      (1L, "new1"), (2L, "newer2"), (3L, "old3"), (4L, "new4")),
      s"upsert state wrong: $out")
  }

  test("streaming store sink: each epoch appends a sorted generation to the manifest") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = scratchDir("graft_stream_store").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("key", "payload")
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", s"$dir/store").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    try {
      // arrival order deliberately unsorted — the memstore path must sort
      input.addData((30L, "c"), (10L, "a"), (20L, "b"))
      q.processAllAvailable()
      input.addData((5L, "e"), (25L, "d"))
      q.processAllAvailable()
    } finally q.stop()
    val manifest = scala.io.Source
      .fromFile(s"$dir/store/_MANIFEST").getLines().toSeq
    val epochOf = "-([0-9]{9})-part-".r
    val gens = manifest
      .flatMap(l => epochOf.findFirstMatchIn(l.split(",")(0)).map(_.group(1)))
      .distinct.sorted
    assert(gens.size == 2, s"expected two generations, got $manifest")
    // every referenced file exists, is sorted by key, and the manifest's
    // (rows, min, max) match its contents (single small parquet file ⇒
    // one input partition ⇒ collect preserves on-disk row order)
    val all = manifest.flatMap { line =>
      val Array(f, rows, mn, mx) = line.split(",").take(4)
      val keys = spark.read.schema("key LONG, payload STRING")
        .parquet(s"$dir/store/$f").select("key").as[Long].collect().toSeq
      assert(keys == keys.sorted, s"$f not sorted: $keys")
      assert(keys.size == rows.toInt && keys.head == mn.toLong && keys.last == mx.toLong,
        s"manifest row/range mismatch for $f")
      keys
    }
    assert(all.sorted == Seq(5L, 10L, 20L, 25L, 30L), s"lost or duplicated keys: $all")

    // compaction: fold the two streaming generations back into the
    // sorted bulk layout — one generation, data preserved, ranges disjoint
    graft.sources.VariantStore.compact(spark, s"$dir/store",
      "key LONG, payload STRING", numRanges = 2)
    val after = scala.io.Source.fromFile(s"$dir/store/_MANIFEST").getLines().toSeq
    assert(after.forall(_.startsWith("part-")), s"generations survived compaction: $after")
    val keys = spark.read.schema("key LONG, payload STRING")
      .parquet(after.map(l => s"$dir/store/${l.split(",")(0)}"): _*)
      .select("key").as[Long].collect().toSeq
    assert(keys.sorted == Seq(5L, 10L, 20L, 25L, 30L), s"compaction lost rows: $keys")
    val ranges = after.map(_.split(",")).map(a => (a(2).toLong, a(3).toLong)).sortBy(_._1)
    assert(ranges.sliding(2).forall { case Seq((_, e), (s2, _)) => e < s2; case _ => true },
      s"compacted ranges overlap: $ranges")
  }

  test("streamingCombine emission vers stay unique under out-of-order seqs") {
    // A late (lower-seq) event must re-emit under a NEW ver: reusing the
    // already-emitted ver would park two rows at the same (key, ver) in
    // the store and leave the winner to the content tiebreak — which can
    // pick the STALE emission (e.g. "s9..." > "s1...;s9..." desc).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{FilledCall, CombinedSite}
    val input = MemoryStream[FilledCall]
    val q = Streaming.streamingCombine(input.toDS())
      .writeStream.format("memory").queryName("ooo_out")
      .outputMode("append").start()
    try {
      input.addData(FilledCall("s9", "chr1", 10L, covered = true, gq = 50, seq = 5L))
      q.processAllAvailable()
      input.addData(FilledCall("s1", "chr1", 10L, covered = true, gq = 20, seq = 3L)) // late
      q.processAllAvailable()
      val out = spark.table("ooo_out").as[CombinedSite].collect().sortBy(_.ver)
      assert(out.map(_.ver).toSeq == Seq(5L, 6L),
        s"late event must take prev ver + 1, not reuse 5: ${out.toSeq}")
      assert(out.last.calls == "s1:0/0:20;s9:0/0:50",
        s"the newest ver must carry the merged cohort: ${out.toSeq}")
    } finally q.stop()
  }

  test("streamingCombine duplicate deliveries emit nothing and never shift the seq-ver alignment") {
    // A pure duplicate (same sample, same seq, same content) must not
    // consume an emission ver: a no-op emission bumping past the max
    // seq would force the NEXT real seq event off its seq — after which
    // readAsOf(t) no longer replays the cohort as of the producer's
    // seq-t events (the CombinedSite contract for in-order producers).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{FilledCall, CombinedSite}
    val input = MemoryStream[FilledCall]
    val q = Streaming.streamingCombine(input.toDS())
      .writeStream.format("memory").queryName("dup_out")
      .outputMode("append").start()
    try {
      input.addData(FilledCall("s1", "chr1", 10L, covered = true, gq = 50, seq = 2L))
      q.processAllAvailable()
      // duplicate of seq 2 in its own batch: nothing may be emitted
      input.addData(FilledCall("s1", "chr1", 10L, covered = true, gq = 50, seq = 2L))
      q.processAllAvailable()
      // the real seq-3 event must still land at ver == 3
      input.addData(FilledCall("s1", "chr1", 10L, covered = false, gq = 0, seq = 3L))
      q.processAllAvailable()
      val out = spark.table("dup_out").as[CombinedSite].collect().sortBy(_.ver)
      assert(out.map(_.ver).toSeq == Seq(2L, 3L),
        s"duplicate delivery consumed an emission ver: ${out.toSeq}")
      assert(out.last.calls == "s1:./.:0", s"seq-3 content lost: ${out.toSeq}")
    } finally q.stop()
  }

  test("streamingCombine -> store sink -> readAsOf closes the reference's online loop") {
    // The full ingest architecture end to end: densified calls stream
    // through the combine, every touched site's emission lands in the
    // versioned store as (key=pos, ver=max contributing seq, payload=
    // calls), and readAsOf at each producer-seq boundary reconstructs
    // the combined cohort EXACTLY as a batch combine of the prefix —
    // the store is the stream's history, not just its latest state.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.FilledCall
    val dir = scratchDir("graft_e2e_loop").toString
    val input = MemoryStream[FilledCall]
    val q = Streaming.streamingCombine(input.toDS())
      .select($"pos".as("key"), $"ver", $"calls".as("payload"))
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", s"$dir/store").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    // epoch e stamps seq=e, so the data-carried ver IS the prefix bound
    val epochs = Seq(
      Seq(FilledCall("s1", "chr1", 10L, covered = true, gq = 50, seq = 1L),
        FilledCall("s2", "chr1", 10L, covered = false, gq = 30, seq = 1L),
        FilledCall("s1", "chr1", 20L, covered = true, gq = 60, seq = 1L)),
      Seq(FilledCall("s3", "chr1", 10L, covered = true, gq = 20, seq = 2L), // widen site 10
        FilledCall("s2", "chr1", 20L, covered = true, gq = 40, seq = 2L)),  // widen site 20
      Seq(FilledCall("s2", "chr1", 10L, covered = true, gq = 75, seq = 3L))) // UPDATE s2@10
    try {
      epochs.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def render(c: FilledCall) =
      s"${c.sample}:${if (c.covered) "0/0" else "./."}:${c.gq}"
    // batch reference: combine of all calls with seq <= t (highest seq
    // wins per (pos, sample))
    def batchCombine(t: Long): Map[Long, String] =
      epochs.flatten.filter(_.seq <= t)
        .groupBy(_.pos).map { case (pos, cs) =>
          val bySample = cs.groupBy(_.sample)
            .map { case (smp, dd) => smp -> render(dd.maxBy(_.seq)) }
          pos -> bySample.keys.toSeq.sorted.map(bySample).mkString(";")
        }
    for (t <- 1L to 3L) {
      val snap = graft.sources.VariantStore
        .readAsOf(spark, s"$dir/store", "key LONG, ver LONG, payload STRING", t)
        .select("key", "payload").as[(Long, String)].collect().toMap
      assert(snap == batchCombine(t),
        s"as-of $t != batch combine of the seq<=$t prefix:\n$snap\n${batchCombine(t)}")
    }
  }

  test("Misra-Gries heavy-hitter candidates aggregate inside streaming windows") {
    // the MG summary is merge-based, so per-window candidate sets
    // accumulate across micro-batches like any built-in aggregate;
    // the repeated user must be a candidate in the final window state
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val hh = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.SketchAggregates.heavyHitterKeys(col("user_id"), 4).as("ks"),
        count(lit(1)).as("n"))
    val q = hh.writeStream.format("memory").queryName("mg_stream")
      .outputMode("update").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:05:00"), 9, "click", 1.0),
        Ev(ts("2024-01-01 10:10:00"), 9, "click", 1.0),
        Ev(ts("2024-01-01 10:15:00"), 5, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Ev(ts("2024-01-01 10:20:00"), 9, "click", 1.0),
        Ev(ts("2024-01-01 10:25:00"), 9, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT ks, n FROM mg_stream ORDER BY n DESC LIMIT 1").collect()
      assert(rows.head.getLong(1) == 5)
      assert(rows.head.getSeq[Long](0).contains(9L),
        s"dominant user lost across micro-batches: ${rows.head}")
    } finally q.stop()
  }

  test("KMV sketch aggregates inside a streaming windowed aggregation") {
    // the bounded min-k aggregate is merge-based, so it composes with
    // streaming state exactly like built-in aggregates: per-window
    // distinct-user sketches accumulate across micro-batches.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val sketch = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.SketchAggregates.minKDistinct(col("user_id"), 8).as("kmins"),
        count(lit(1)).as("n"))
    val q = sketch.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:05:00"), 3, "click", 1.0),
        Ev(ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        Ev(ts("2024-01-01 10:15:00"), 3, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Ev(ts("2024-01-01 10:20:00"), 2, "click", 1.0),
        Ev(ts("2024-01-01 10:25:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT kmins, n FROM kmv_stream ORDER BY n DESC LIMIT 1").collect()
      // final update for the 10:00 window: 5 events, distinct users {1,2,3}
      assert(rows.head.getSeq[Long](0) == Seq(1L, 2L, 3L),
        s"sketch state did not merge across micro-batches: ${rows.head}")
      assert(rows.head.getLong(1) == 5)
    } finally q.stop()
  }

  test("store sink recovers idempotently when restarted from checkpoint mid-stream") {
    // The crash window Spark's exactly-once contract leans on: the SINK's
    // epoch commit lands BEFORE the checkpoint's commit-log marker, so a
    // crash in between re-drives the whole epoch (fresh task files, same
    // epochId) against a store that already committed it. Simulated
    // exactly: run an epoch, stop the query, delete the commit-log
    // marker, restart FROM THE SAME CHECKPOINT — the restarted query
    // replays the epoch, and the manifest must hold ONE record set for
    // it (the retry's), with store content equal to a no-crash run.
    // StoreEpochSpec proves this property same-session at the commit
    // layer; this drives it through a real checkpoint restart.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = scratchDir("graft_restart_store").toString
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("key", "payload")
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", s"$dir/store").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData((10L, "a"), (20L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    val gen0Before = scala.io.Source.fromFile(s"$dir/store/_MANIFEST").getLines()
      .toSeq.filter(_.matches("gen-.+-000000000-part-.*"))
    assert(gen0Before.nonEmpty, "epoch 0 did not commit a generation")
    // crash simulation: offsets/0 exists, commits/0 vanishes (plus the
    // local ChecksumFs .crc sidecar — a real crash never writes either)
    val marker = new java.io.File(s"$dir/chk/commits/0")
    assert(marker.exists, s"expected commit-log marker at $marker")
    assert(marker.delete())
    new java.io.File(s"$dir/chk/commits/.0.crc").delete()
    val q2 = start()
    try {
      input.addData((30L, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    val lines = scala.io.Source.fromFile(s"$dir/store/_MANIFEST").getLines().toSeq
    val gen0After = lines.filter(_.matches("gen-.+-000000000-part-.*"))
    // the replayed epoch REPLACED its generation (retry's files, not a
    // duplicate set alongside the originals)
    assert(gen0After.nonEmpty && gen0After.intersect(gen0Before).isEmpty,
      s"replayed epoch did not replace its generation:\n$lines")
    assert(lines.map(_.split(",")(1).toLong).sum == 3L,
      s"restart duplicated or dropped rows:\n$lines")
    val live = graft.sources.VariantStore
      .readRange(spark, s"$dir/store", "key LONG, payload STRING", Long.MinValue, Long.MaxValue)
      .as[(Long, String)].collect().toMap
    assert(live == Map(10L -> "a", 20L -> "b", 30L -> "c"),
      s"store content differs from the no-crash run: $live")
  }

  test("restart replay of an epoch compaction folded away does not re-append it") {
    // The end-to-end proof that the epoch high-water mark survives a
    // REAL restart: Spark hands the sink LogicalWriteInfo.queryId — the
    // STABLE query id persisted in the checkpoint's metadata file, not
    // the per-start runId — so the mark written by run 1 must still
    // match in run 2. Sequence: epoch 0 commits, crash before the
    // commit-log marker, a compactor folds gen-0 into a merge, the
    // restarted query replays epoch 0 against a manifest with no gen-0
    // lines. Only the mark can stop the re-append.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = scratchDir("graft_restart_fold").toString
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("key", "payload")
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", s"$dir/store").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData((10L, "a"), (20L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // crash window: sink committed, commit-log marker never written
    assert(new java.io.File(s"$dir/chk/commits/0").delete())
    new java.io.File(s"$dir/chk/commits/.0.crc").delete()
    // maintenance runs while the query is down: gen-0 folds into a merge
    graft.sources.VariantStore.compact(spark, s"$dir/store",
      "key LONG, payload STRING", numRanges = 1)
    val manifest0 = scala.io.Source.fromFile(s"$dir/store/_MANIFEST")
      .getLines().toSeq
    assert(!manifest0.exists(_.startsWith("gen-")), s"fold did not run: $manifest0")

    val q2 = start()
    try {
      input.addData((30L, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    val lines = scala.io.Source.fromFile(s"$dir/store/_MANIFEST").getLines().toSeq
    assert(lines.map(_.split(",")(1).toLong).sum == 3L,
      s"replayed epoch re-appended rows the merge already holds:\n$lines")
    val live = graft.sources.VariantStore
      .readRange(spark, s"$dir/store", "key LONG, payload STRING",
        Long.MinValue, Long.MaxValue)
      .as[(Long, String)].collect().toMap
    assert(live == Map(10L -> "a", 20L -> "b", 30L -> "c"),
      s"store content differs from the no-crash run: $live")
  }

  test("streamingCombine state + store survive a checkpoint restart with epoch replay") {
    // The stateful half of restart recovery: flatMapGroupsWithState
    // reloads the pre-crash state-store version when the checkpoint
    // re-drives an epoch, so the replayed batch re-emits the SAME
    // combined rows with the SAME vers, and the sink's idempotent epoch
    // commit absorbs them. End state must equal the no-crash batch
    // combine at every as-of boundary.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.FilledCall
    val dir = scratchDir("graft_restart_combine").toString
    val input = MemoryStream[FilledCall]
    def start() = Streaming.streamingCombine(input.toDS())
      .select($"pos".as("key"), $"ver", $"calls".as("payload"))
      .writeStream.format("graft.sources.VariantStoreSink")
      .option("path", s"$dir/store").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val epochs = Seq(
      Seq(FilledCall("s1", "chr1", 10L, covered = true, gq = 50, seq = 1L),
        FilledCall("s1", "chr1", 20L, covered = true, gq = 60, seq = 1L)),
      Seq(FilledCall("s2", "chr1", 10L, covered = false, gq = 30, seq = 2L)),
      Seq(FilledCall("s2", "chr1", 10L, covered = true, gq = 75, seq = 3L),
        FilledCall("s2", "chr1", 20L, covered = true, gq = 40, seq = 3L)))
    val q1 = start()
    try {
      epochs.take(2).foreach { b => input.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()
    // crash between epoch 1's sink commit and its commit-log marker
    assert(new java.io.File(s"$dir/chk/commits/1").delete(),
      "expected commit-log marker for batch 1")
    new java.io.File(s"$dir/chk/commits/.1.crc").delete()
    val q2 = start()
    try {
      input.addData(epochs(2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    def render(c: FilledCall) =
      s"${c.sample}:${if (c.covered) "0/0" else "./."}:${c.gq}"
    def batchCombine(t: Long): Map[Long, String] =
      epochs.flatten.filter(_.seq <= t)
        .groupBy(_.pos).map { case (pos, cs) =>
          val bySample = cs.groupBy(_.sample)
            .map { case (smp, dd) => smp -> render(dd.maxBy(_.seq)) }
          pos -> bySample.keys.toSeq.sorted.map(bySample).mkString(";")
        }
    for (t <- 1L to 3L) {
      val snap = graft.sources.VariantStore
        .readAsOf(spark, s"$dir/store", "key LONG, ver LONG, payload STRING", t)
        .select("key", "payload").as[(Long, String)].collect().toMap
      assert(snap == batchCombine(t),
        s"as-of $t after restart != no-crash batch combine:\n$snap\n${batchCombine(t)}")
    }
    // exactly one record set per epoch survived the replay
    val epochOf = "-([0-9]{9})-part-".r
    val gens = scala.io.Source.fromFile(s"$dir/store/_MANIFEST").getLines()
      .toSeq.flatMap(l => epochOf.findFirstMatchIn(l.split(",")(0)).map(_.group(1)))
      .distinct.sorted
    assert(gens == Seq("000000000", "000000001", "000000002"),
      s"unexpected generation set after restart: $gens")
  }
}
