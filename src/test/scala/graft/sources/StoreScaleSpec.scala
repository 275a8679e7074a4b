package graft.sources

import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Generation-scale LSM stress (r13 verdict #3): the minor-compaction
  * claim ("size-tiered behavior falls out") exercised at an epoch count
  * that actually tiers — 64 streaming epochs with a compactMinor
  * cadence — instead of the one-fold spec. Asserts the three properties
  * a 100 TB ingest needs from the store's maintenance loop:
  *
  *   1. BOUNDED FILE COUNT: the manifest never exceeds cadence+keep
  *      files and returns to `keepGenerations` after every pass — read
  *      amplification (files touched per scan) is a constant, not
  *      O(epochs).
  *   2. BIT-IDENTICAL READS: live `readRange` and historical `readAsOf`
  *      snapshots are unchanged by every single pass (minor compaction
  *      rewrites rows as-is; tombstones keep masking).
  *   3. SIZE-TIERING: the largest generation present before a pass is
  *      never in that pass's fold set once it exceeds the fresh-epoch
  *      tier — the accumulated merge is not re-read every pass (each
  *      row is rewritten O(log n) times, not O(passes)).
  *
  * Driver-commit epochs (as in [[StoreEpochSpec]]) keep the 64-epoch
  * loop fast; the streaming wiring itself is pinned by StreamingSpec's
  * restart tests. Headline counts land in SCALE.md. */
class StoreScaleSpec extends graft.SparkSpec {

  private val ddl = "key LONG, ver LONG, payload STRING"
  private val schema = StructType.fromDDL(ddl)
  private val Tomb = VariantStore.Tombstone

  private def commitEpoch(write: StoreStreamingWrite, dir: String, epoch: Long,
      rows: Seq[(Long, Long, String)]): Unit = {
    val w = StoreMemstoreFactory(dir, schema, StoreManifest.queryTag("test-query"))
      .createWriter(0, 0L, epoch)
    rows.foreach { case (k, v, p) =>
      w.write(InternalRow(k, v, UTF8String.fromString(p)))
    }
    write.commit(epoch, Array[WriterCommitMessage](w.commit()))
  }

  test("64-epoch ingest with compactMinor cadence: bounded files, bit-identical reads") {
    val dir = scratchDir("graft_store_scale").toString
    val write = new StoreStreamingWrite(dir, schema, "test-query")
    val keep = 6
    val cadence = 8

    // reference model: every (key, ver, payload) ever written
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    def expected(t: Long): Map[Long, String] =
      history.filter(_._2 <= t).groupBy(_._1)
        .map { case (k, rs) => k -> rs.maxBy(_._2)._3 }
        .filter(_._2 != Tomb)

    def files(): Seq[String] =
      StoreManifest.readLines(java.nio.file.Paths.get(dir)).map(StoreManifest.parse(_).file)
    def live(): Map[Long, String] =
      VariantStore.readRange(spark, dir, ddl, Long.MinValue, Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    def snap(t: Long): Map[Long, String] =
      VariantStore.readAsOf(spark, dir, ddl, t)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap

    var peakFiles = 0
    val postCompactCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (e <- 1 to 64) {
      val rows = Seq[(Long, Long, String)](
        (e % 23L, e.toLong, if (e % 10 == 0) Tomb else s"p$e-a"), // periodic delete
        (23L + e % 11, e.toLong, s"p$e-b"),
        (40L + e % 7, e.toLong, s"p$e-c"),
        (50L + e % 3, e.toLong, s"p$e-d"))
      commitEpoch(write, dir, e.toLong, rows)
      history ++= rows
      peakFiles = math.max(peakFiles, files().size)

      if (e % cadence == 0) {
        // pre-pass snapshots the pass must preserve bit-identically
        val (liveBefore, s1, s2) = (live(), snap(e - 5L), snap(e / 2L))
        val biggestBefore = files().map(f =>
          StoreManifest.readLines(java.nio.file.Paths.get(dir))
            .map(StoreManifest.parse).find(_.file == f).get).maxBy(_.rows)
        VariantStore.compactMinor(spark, dir, ddl, keepGenerations = keep)
        val after = files()
        postCompactCounts += after.size
        assert(after.size == keep,
          s"epoch $e: expected $keep files after minor pass, got ${after.size}")
        // size-tiering: once the accumulated merge outgrows the fresh
        // tier (every pass after the first), it is protected, not re-read
        if (biggestBefore.rows > cadence.toLong)
          assert(after.contains(biggestBefore.file),
            s"epoch $e: pass re-read the largest generation (${biggestBefore.rows} rows)")
        assert(live() == liveBefore, s"epoch $e: live view changed across minor pass")
        assert(snap(e - 5L) == s1, s"epoch $e: as-of ${e - 5} changed across minor pass")
        assert(snap(e / 2L) == s2, s"epoch $e: as-of ${e / 2} changed across minor pass")
      }
    }

    // end-state correctness against the model, live + spot historical
    assert(live() == expected(64L), "final live view != reference model")
    for (t <- Seq(7L, 16L, 33L, 50L, 64L))
      assert(snap(t) == expected(t), s"as-of $t != reference model")
    // read amplification: a full scan touches `keep` files, not 64
    assert(files().size == keep)
    assert(peakFiles <= cadence + keep,
      s"file count exceeded the cadence+keep bound: $peakFiles")
    info(s"SCALE: epochs=64 naiveFiles=64 peak=$peakFiles " +
      s"postCompact=${postCompactCounts.mkString(",")} final=${files().size}")
  }
}
