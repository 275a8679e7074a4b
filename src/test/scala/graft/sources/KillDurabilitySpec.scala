package graft.sources

import org.apache.spark.sql.functions.col

/** REAL process-kill durability for the store (r17 verdict item 3).
  *
  * The crash/race specs (SourceSpec, StoreEpochSpec, StreamSoakSpec)
  * drive seam-simulated interleavings in-process — no JVM ever dies, so
  * they cannot prove that the atomic-rename / manifest-ordering
  * assumptions hold when the process actually disappears mid-window:
  * file locks released by the OS rather than `finally`, buffers never
  * flushed, half-staged files left wherever they were. This spec spawns
  * a REAL subprocess driver ([[KillDriver]]), waits for it to publish a
  * seam sync point, SIGKILLs it (`destroyForcibly` = SIGKILL on Linux),
  * and then reopens the store in THIS process asserting the durability
  * contract at six seeded kill points:
  *
  *   append_pre     task files durable, manifest untouched → old content
  *   truncate_pre   new generation durable, old manifest live → old content
  *   truncate_post  new manifest live, old gens retired → new content
  *   compact_pre    merged gen staged, manifest unswapped → pre content
  *   compact_post   spliced manifest live, fold unretired → compacted
  *   minor_pre      merged gen staged, manifest unswapped → pre content
  *
  * At every point: the manifest parses, every listed file exists
  * (manifest-consistent reads), the resolved read equals exactly the
  * pre- or post-operation state (atomicity — never a blend), and a
  * zero-grace vacuum reclaims every unlisted parquet file (the orphan
  * sweep) without changing the resolved read. */
class KillDurabilitySpec extends graft.SparkSpec {

  private val Ddl = "key LONG, ver LONG, payload STRING"

  import spark.implicits._

  private def writeGen(dir: String, rows: Seq[(Long, Long, String)],
      mode: String = "append"): Unit =
    rows.toDF("key", "ver", "payload")
      .repartitionByRange(1, col("key")).sortWithinPartitions("key")
      .write.format("graft.sources.VariantStoreSink")
      .option("path", dir).mode(mode).save()

  /** Fresh two-generation store: keys 0..49 @ver1, keys 25..74 @ver2.
    * Zero grace — the spec owns every reader, so retirement deletes
    * immediately and sweep assertions are prompt. */
  private def seed(dir: String): Unit = {
    writeGen(dir, (0L until 50L).map(k => (k, 1L, s"a-$k")))
    writeGen(dir, (25L until 75L).map(k => (k, 2L, s"b-$k")))
    VariantStore.setGrace(dir, 0L)
  }

  private val preState: Set[(Long, Long, String)] =
    ((0L until 25L).map(k => (k, 1L, s"a-$k")) ++
      (25L until 75L).map(k => (k, 2L, s"b-$k"))).toSet
  private val newState: Set[(Long, Long, String)] =
    (100L until 150L).map(k => (k, 9L, s"new-$k")).toSet

  private def resolved(dir: String): Set[(Long, Long, String)] =
    VariantStore.readRange(spark, dir, Ddl, Long.MinValue, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def manifestFiles(dir: String): Set[String] =
    StoreManifest.readLines(java.nio.file.Paths.get(dir))
      .map(StoreManifest.parse(_).file).toSet

  private def diskParquet(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet")).toSet

  private val opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Launch KillDriver(dir, op), SIGKILL it at the published sync
    * point, and confirm it died by signal, not by finishing. */
  private def driveAndKill(dir: String, op: String): Unit = {
    // the driver's log, sync flag and temp files (a compaction killed
    // mid-splice leaves its staging store there) all live in one
    // directory the suite deletes
    val work = scratchDir("graft_kill_")
    val sync = work.resolve("sync").toString
    val log = work.resolve("driver.log").toFile
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java") ++ opens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false", s"-Djava.io.tmpdir=$work",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.sources.KillDriver", dir, op, sync)
    val p = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log).start()
    val deadline = System.currentTimeMillis() + 180000L
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(sync)) &&
        p.isAlive && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(sync)),
      s"$op never reached its kill window (driver log: $log, " +
        s"alive=${p.isAlive}, exit=${if (p.isAlive) "-" else p.exitValue()})")
    p.destroyForcibly() // SIGKILL: no shutdown hooks, no finally blocks
    p.waitFor()
    assert(p.exitValue() != 0, s"$op: driver exited cleanly, was not killed")
  }

  /** The shared post-mortem contract. `expect` is the exact resolved
    * state the atomicity rule demands at this kill point. */
  private def assertDurable(dir: String, op: String,
      expect: Set[(Long, Long, String)]): Unit = {
    // 1. manifest parses and is CONSISTENT: every listed file on disk
    val listed = manifestFiles(dir)
    val missing = listed.filterNot(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f)))
    assert(missing.isEmpty, s"$op: manifest lists vanished files $missing")
    // 2. atomicity: exactly the pre- or post-state, never a blend
    assert(resolved(dir) == expect, s"$op: resolved state is a blend")
    // 3. orphan sweep: a zero-grace vacuum reclaims every unlisted
    //    parquet and leaves the resolved read untouched
    VariantStore.vacuum(dir, 0L)
    assert(diskParquet(dir) == manifestFiles(dir),
      s"$op: disk != manifest after sweep")
    assert(resolved(dir) == expect, s"$op: sweep changed the resolved read")
  }

  private def freshStore(op: String): String = {
    val dir = scratchDir(s"graft_killdur_${op}_").toString
    seed(dir)
    dir
  }

  test("SIGKILL mid batch-append, before the manifest publish") {
    val dir = freshStore("append_pre")
    driveAndKill(dir, "append_pre")
    assertDurable(dir, "append_pre", preState)
  }

  test("SIGKILL mid truncate-commit, before the manifest swap") {
    val dir = freshStore("truncate_pre")
    driveAndKill(dir, "truncate_pre")
    // the new generation is durable but unreferenced: old content serves
    assertDurable(dir, "truncate_pre", preState)
  }

  test("SIGKILL mid truncate-commit, after swap + retire") {
    val dir = freshStore("truncate_post")
    driveAndKill(dir, "truncate_post")
    assertDurable(dir, "truncate_post", newState)
  }

  test("SIGKILL mid major compaction, before the splice") {
    val dir = freshStore("compact_pre")
    driveAndKill(dir, "compact_pre")
    // staged merged generation is an orphan; both gens still serve
    assert(manifestFiles(dir).size == 2, "pre-splice manifest must be intact")
    assertDurable(dir, "compact_pre", preState)
  }

  test("SIGKILL mid major compaction, after the splice, before retire") {
    val dir = freshStore("compact_post")
    driveAndKill(dir, "compact_post")
    // spliced manifest is live: one merged generation, same resolution;
    // the unretired fold files are sweepable orphans
    assert(manifestFiles(dir).size == 1, "splice must have landed")
    assertDurable(dir, "compact_post", preState)
  }

  test("SIGKILL mid minor compaction, before the splice") {
    val dir = freshStore("minor_pre")
    driveAndKill(dir, "minor_pre")
    assert(manifestFiles(dir).size == 2, "pre-splice manifest must be intact")
    assertDurable(dir, "minor_pre", preState)
  }

  test("SIGKILL mid AUTO-fold inside a streaming epoch commit (r19 cadence)") {
    // the self-enforcing compaction runs INSIDE the epoch commit, after
    // that epoch's manifest lines and high-water mark are durable — so
    // killing the process mid-fold must lose NOTHING: all four epochs
    // serve, the staged merge generation is a sweepable orphan, and the
    // mark proves the triggering epoch needs no replay
    val dir = scratchDir("graft_killdur_auto_pre_").toString
    driveAndKill(dir, "auto_pre")
    assert(manifestFiles(dir).size == 4,
      "all four epoch generations must be live (the splice never landed)")
    assert(StoreManifest.readEpochHwms(java.nio.file.Paths.get(dir))
      .get("killauto").contains(4L),
      "the triggering epoch's high-water mark must precede the fold")
    val expect = (0L until 20L).map(k => (k, 4L, s"auto-4-$k")).toSet
    assertDurable(dir, "auto_pre", expect)
  }
}
