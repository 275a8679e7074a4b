package graft

/** Mechanical derivation of the run-twice gate's write-path list.
  *
  * DoubleDriveSpec's `writePathQueries` used to be hand-kept ("a new
  * write-path query must be ADDED here") — the exact maintenance burden
  * that lets a future query with a broken scratch publish ship outside
  * the gate. This spec derives the set instead and fails on drift in
  * EITHER direction:
  *
  *   - `java.io.tmpdir` is swapped to a FRESH directory for the drive
  *     (every ops scratch path — `api.scratchPath`'s `graft_src_*`,
  *     `graft_ivf_*`, `graft_cc_*`, `graft_inc_*`, `graft_vcf_*`,
  *     `graft_ppm_*`, and `api.outputPath`'s per-JVM `graft_run_*` root —
  *     derives from the property at call time),
  *     so every build-once cache MISSES and every write-if-absent guard
  *     fires: the drive is hermetic, independent of what earlier suites
  *     or sessions left warm.
  *   - A query is write-path iff during its execution (a) any scratch
  *     choke point fired — [[ScratchObserver]]: `api.buildOnce` (hit or
  *     miss, so cache READERS are caught too), the store manifest
  *     (`StoreManifest.readLines`/`writeLines`, the only read/write
  *     surface of a VariantStore), the catalog-backed bucketed scratch
  *     tables — or (b) the fresh tmpdir's file tree changed (the
  *     backstop that catches a direct `df.write` which bypasses every
  *     helper).
  *
  * Derived == declared is the contract: a missing entry means a
  * scratch-dependent query is not driven twice (the r15 q_sink_store
  * class); an extra entry means the gate documents a dependency that no
  * longer exists.
  *
  * PROCESS-GLOBAL STATE: this spec mutates `java.io.tmpdir` and reads
  * the process-global [[ScratchObserver]] counter, so it is only
  * correct when suites run sequentially in the forked test JVM —
  * build.sbt pins `Test / parallelExecution := false` and
  * `Test / testForkedParallel := false` for exactly this reason. */
class WritePathAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Walk only the `graft_*` scratch trees under the fresh tmpdir: the
    * JVM also extracts native codec libraries (snappy, zstd) into
    * `java.io.tmpdir` on first use, and those one-time droppings must
    * not tag whichever query happens to run first as a writer. Every
    * ops scratch path starts with `graft_` by convention. */
  private def snapshot(root: java.nio.file.Path): Map[String, (Long, Long)] = {
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val out = Map.newBuilder[String, (Long, Long)]
    import scala.jdk.CollectionConverters._
    val scratchRoots = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_")).toList
    for (sub <- scratchRoots)
    java.nio.file.Files.walkFileTree(sub, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
      override def visitFile(f: java.nio.file.Path,
          attrs: java.nio.file.attribute.BasicFileAttributes): java.nio.file.FileVisitResult = {
        out += root.relativize(f).toString -> ((attrs.size(), attrs.lastModifiedTime().toMillis))
        java.nio.file.FileVisitResult.CONTINUE
      }
      // a file deleted mid-walk (never expected here — the driver is
      // single-threaded between snapshots) must not abort the audit
      override def visitFileFailed(f: java.nio.file.Path,
          exc: java.io.IOException): java.nio.file.FileVisitResult =
        java.nio.file.FileVisitResult.CONTINUE
    })
    out.result()
  }

  test("run-twice gate list equals the derived scratch-dependent set") {
    val prevTmp = System.getProperty("java.io.tmpdir")
    val fresh = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(prevTmp), "graft_wpaudit_")
    System.setProperty("java.io.tmpdir", fresh.toString)
    try {
      val derived = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
        val countBefore = ScratchObserver.count
        val fsBefore = snapshot(fresh)
        SparkEntry.queries(name)(spark, sf).collect()
        ScratchObserver.count != countBefore || snapshot(fresh) != fsBefore
      }.toSet
      val declared = DoubleDriveSpec.writePathQueries.toSet
      val missing = derived -- declared // scratch-dependent but NOT run twice
      val stale = declared -- derived   // gated but no scratch dependency found
      assert(missing.isEmpty && stale.isEmpty,
        s"write-path gate drifted from the derived set — " +
          s"scratch-dependent queries missing from DoubleDriveSpec: " +
          s"${missing.toSeq.sorted.mkString(", ")}; " +
          s"gated queries with no observed scratch dependency: " +
          s"${stale.toSeq.sorted.mkString(", ")}")
    } finally {
      // restore, and keep the fresh tree on disk UNTIL JVM EXIT: the
      // shared session's catalog may now hold bucketed-table entries
      // pointing into it, so later suites in this JVM can still read
      // them — but the tree must not accumulate across runs.
      System.setProperty("java.io.tmpdir", prevTmp)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        // the tree may already be gone at JVM exit (another run's hook,
        // external cleanup): guard + swallow, and close the walk stream
        // — a hook thread must never die on a noisy stack trace
        try {
          if (java.nio.file.Files.exists(fresh)) {
            import scala.jdk.CollectionConverters._
            scala.util.Using.resource(java.nio.file.Files.walk(fresh)) { s =>
              s.iterator().asScala.toSeq.reverse
                .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch {
                  case _: java.io.IOException => ()
                })
            }
          }
        } catch { case _: Throwable => () }
      }))
    }
  }
}
