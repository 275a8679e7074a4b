package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test seam for the write-path audit: every entry into a
  * persistent-scratch choke point — [[api.buildOnce]] (hit or miss),
  * the store manifest (the ONLY read/write surface of a
  * [[graft.sources.VariantStore]]), the catalog-backed bucketed scratch
  * tables — bumps this counter, so a spec can DERIVE which queries
  * depend on out-of-session state instead of hand-maintaining the
  * run-twice list (WritePathAuditSpec vs DoubleDriveSpec). Production
  * cost: one atomic increment on paths that already do filesystem I/O. */
private[graft] object ScratchObserver {
  private val counter = new java.util.concurrent.atomic.AtomicLong
  private[graft] def touch(): Unit = { counter.incrementAndGet(); () }
  private[graft] def count: Long = counter.get
}

/** Core API surface shared by all operator modules.
  *
  * Design notes (SURVEY.md §1.3, §4.3):
  *   - Every query is declarative DataFrame code — Catalyst pushes filters
  *     and projections to the parquet scan, picks join strategies, and AQE
  *     re-plans at runtime. No RDDs, no loops over collected rows.
  *   - Determinism contract (SURVEY.md §2): exact DECIMAL arithmetic for
  *     aggregates over money doubles, `round(x, 6)` for unavoidable float
  *     math, and a total ORDER BY on every result.
  */
object api {

  /** A declared operator: name, DataFrame program, optional DuckDB oracle. */
  final case class Query(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Query {
    def apply(name: String, oracle: String)(
        run: (SparkSession, String) => DataFrame): Query =
      Query(name, run, Some(oracle))
    def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Query =
      Query(name, run, None)
  }

  /** Per-session resolved-relation cache behind [[tbl]]. Spark's own
    * catalog caches the resolved relation for NAMED tables
    * (`spark.table`), but every `spark.read.parquet(path)` re-lists the
    * directory and re-reads a footer for schema inference — measured at
    * ~60 ms per call on this host, ~25-30 s across one bench pass
    * (FLOOR_AUDIT r15: "build" is a third of the per-query fixed
    * floor). The fixture tables are immutable for the life of a
    * session, so resolving each (dir, table) once per session is the
    * path-read analog of the catalog relation cache: same plans, same
    * results, the per-call constant paid once. DataFrames are
    * immutable and thread-safe to share, and reusing ONE relation
    * instance also lets repeated plans against the same table skip
    * re-analysis of the relation subtree (~70 ms/plan measured).
    *
    * Retention: the outer map is weak-keyed by session, but a cached
    * DataFrame strongly references its own session — held directly,
    * the value would pin the key and the entry could NEVER collect
    * (cached relations accumulating across sessions in a long-lived
    * test JVM). Values are therefore SoftReferences: under heap
    * pressure the GC clears them first, which un-pins the session, and
    * the weak entry follows. A cleared ref is just a cache miss — the
    * relation re-resolves. */
  private val tblCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[DataFrame]]]()

  /** Load one of the driver-generated tables (TESTDATA.md). Plain
    * `spark.read.parquet` — schema comes from the footer, scans are
    * vectorized, and pruning/pushdown happen in the plan — resolved
    * once per (session, dir, table) through [[tblCache]].
    *
    * `events.parquet` has shipped in two encodings across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects
    * outright — we read it as nanos-since-epoch longs and convert, the
    * generator emits µs-aligned values so this is lossless) and
    * TIMESTAMP(isAdjustedToUTC=false, MICROS) (which Spark reads as
    * TIMESTAMP_NTZ). We branch on the footer type so both generations
    * load, and normalize to session-zone TimestampType either way — the
    * session is pinned UTC, so NTZ↔UTC is value-identical and the DuckDB
    * oracles (naive µs timestamps) agree bit-for-bit. */
  def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cachedRelation(spark, s"$sfDir/$name")(loadTbl(spark, sfDir, name))

  /** Per-(session, path) resolved relation for an IMMUTABLE fixture
    * directory (buildOnce outputs: the incremental-combine store, the
    * IVF index, the partitioned orders copy). Every such directory is
    * keyed by a content fingerprint — its content never changes for the
    * life of a path — so re-resolving it per query repeats partition
    * discovery + footer schema inference for an identical relation
    * (~0.2–0.5 s per read of a 100-partition dir on this host, guide
    * §6 "file listing"). Same cache as [[tbl]]; `path:` prefix keeps
    * the key spaces disjoint. NOT for per-invocation rewrite dirs
    * (q_sorted_write, q_schema_evolution): their content changes every
    * call, and caching the relation would pin a stale file list. */
  def pathTbl(spark: SparkSession, path: String): DataFrame =
    cachedRelation(spark, s"path:$path")(spark.read.parquet(path))

  /** The (session, key) → relation cache behind [[tbl]]/[[pathTbl]]. */
  private def cachedRelation(spark: SparkSession, key: String)(
      load: => DataFrame): DataFrame = {
    val perSession = tblCache.synchronized {
      var m = tblCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String,
          java.lang.ref.SoftReference[DataFrame]]()
        tblCache.put(spark, m)
      }
      m
    }
    val cached = Option(perSession.get(key))
    cached.flatMap(r => Option(r.get)).getOrElse {
      // drop a GC-cleared entry so keys never re-read don't accumulate
      // dead references over a long-lived session (value-conditional
      // remove: only OUR dead reference is evicted, never a fresh one a
      // concurrent loader just published)
      cached.foreach(r => perSession.remove(key, r))
      val df = load
      // benign race: concurrent loaders resolve the same immutable
      // relation; last put wins
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  private def loadTbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType => // legacy TIMESTAMP(NANOS) fixture, read as long
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case TimestampNTZType => // TIMESTAMP_NTZ micros; UTC session ⇒ same values
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case dt => // a THIRD fixture-encoding drift must be a named failure,
          // not silently cast into null/garbage timestamps that the
          // FixtureSpec type-only canary would wave through (r13 advice)
          throw new IllegalStateException(
            s"events.ts has unrecognized parquet type $dt — new fixture encoding? " +
              "Teach api.tbl the new footer type and extend FixtureSpec.")
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Exact money decimal: the testdata doubles carry exactly 2 decimal
    * digits, so this cast is lossless and Spark/DuckDB agree bit-for-bit. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  def dec(name: String): Column = dec(col(name))

  /** 1 as an exact decimal, for (1 - discount)-style factors. */
  val oneDec: Column = lit(1).cast(DecimalType(5, 4))

  /** Exact average: exact decimal sum → double, divided by a long count.
    * Both engines convert the same exact decimal to the same nearest
    * double and do one IEEE division — bit-identical, no round() needed. */
  def avgExact(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(lit(1))

  /** UTC timestamp literal (session timezone is pinned to UTC). */
  def ts(s: String): Column = lit(s).cast(TimestampType)

  /** Content fingerprint of a dataset path (file names + sizes +
    * mtimes, md5'd, 12 hex chars): cache-directory keys derived from it
    * change whenever the data changes, so persisted artifacts (IVF
    * index, ppm files, cluster labels) can neither go stale after a
    * fixture regeneration nor collide between datasets whose paths
    * sanitize to the same string. */
  def contentFingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName).flatMap(walk)).getOrElse(Seq.empty)
      else Seq(f)
    val sig = walk(new java.io.File(path))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5").digest(sig.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** `d` with every non-alphanumeric character replaced by `_`, for
    * directory names keyed by a dataset path. */
  def slug(d: String): String = d.replaceAll("[^a-zA-Z0-9]", "_")

  /** `graft_<name>` in `java.io.tmpdir`: the shared home of the
    * build-once fixtures and caches ([[buildOnce]]), which outlive the
    * JVM and are keyed by content so a warm host reuses them. The
    * property is read at call time, so a spec can point a whole drive at
    * a fresh directory. */
  def scratchPath(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name"

  private val outputRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** `graft_<name>` under this JVM's own output root: the home of every
    * output a query overwrites and then reads back. A path shared
    * between processes lets one run overwrite the files another is
    * reading, so each JVM gets its own `graft_run_*` directory in
    * `java.io.tmpdir` (one per value of the property), deleted when the
    * JVM exits. */
  def outputPath(name: String): String =
    outputRoots.computeIfAbsent(System.getProperty("java.io.tmpdir"), { tmp =>
      val root = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(tmp), "graft_run_")
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
      root
    }).resolve(s"graft_$name").toString

  /** Build-once, atomically-published fixture/index directory: when
    * `dirPath` is not yet ready (missing, or missing `marker` when one
    * is given), run `build` into a fresh temp directory and ATOMIC_MOVE
    * it into place, so a concurrent Verify/Bench pair can never observe
    * a half-built directory — the loser of the rename race discards its
    * build and reads the winner's. Callers key `dirPath` by content
    * fingerprint ([[contentFingerprint]]) so a testdata regeneration
    * rebuilds while a warm host reuses. Shared by the store read-path
    * fixtures (ops/Sources) and the incremental-combine store
    * (ops/Gvcf). */
  def buildOnce(dirPath: String, marker: Option[String] = None)
      (build: String => Unit): String = {
    ScratchObserver.touch()
    val dir = new java.io.File(dirPath)
    def ready =
      marker.fold(dir.exists())(m => new java.io.File(dir, m).exists())
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    if (!ready) {
      // reap aged graveyards a crashed healer left next to the target
      // (retired below, removed after publish — a kill in between
      // orphans the `.stale-*` tree forever otherwise). The 1-hour
      // grace protects a LIVE healer's in-flight grave.
      Option(dir.getParentFile).flatMap(p => Option(p.listFiles())).foreach(_
        .filter(_.getName.startsWith(s"${dir.getName}.stale-"))
        .filter(_.lastModified < System.currentTimeMillis() - 3600000L)
        .foreach(rm))
      val tmp = java.nio.file.Files.createTempDirectory("graft_build_once_")
      try build(tmp.toString)
      catch { case t: Throwable => rm(tmp.toFile); throw t }
      try java.nio.file.Files.move(tmp, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException if !ready =>
          // target exists but is NOT ready: a stale partial directory
          // from a crashed pre-atomic writer, which would otherwise make
          // every future call fail forever. Retire it ATOMICALLY (a
          // rename only one contender wins — never an rm, which could
          // tear down a racer's just-published tree) and retry once.
          val grave = dir.toPath.resolveSibling(
            s"${dir.getName}.stale-${System.nanoTime()}")
          try {
            java.nio.file.Files.move(dir.toPath, grave,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            java.nio.file.Files.move(tmp, dir.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            rm(grave.toFile)
          } catch {
            case _: java.nio.file.FileSystemException =>
              // lost the heal race: the winner moved the stale dir to
              // ITS grave and is about to publish its build. Give the
              // publish (two renames — the winner finished building
              // before entering the heal branch) time to land before
              // declaring failure: rethrowing while the winner is
              // mid-swap would fail a call that succeeds moments later.
              rm(tmp.toFile)
              var waited = 0
              while (!ready && waited < 15000) {
                Thread.sleep(100); waited += 100
              }
              if (!ready) throw e
          }
        case _: java.nio.file.FileSystemException =>
          // lost the build race (target is ready) — keep the winner's
          rm(tmp.toFile)
      }
    }
    dirPath
  }

  /** 48-bit uniform hash from md5 hex — engine-portable: same digest,
    * same first-12-hex-chars window in Spark and DuckDB. THE single
    * definition; Sketches/Dedup/Pipeline all call these so the two
    * engines can never silently diverge on the hash. */
  def h48(c: String): String =
    s"cast(conv(substring(md5(cast($c as string)), 1, 12), 16, 10) as bigint)"

  /** DuckDB twin of [[h48]] (hex-digit polynomial — DuckDB's conv()
    * does not take a base argument). */
  def duckH48(c: String): String =
    s"""CAST(list_sum(list_transform(range(1, 13), j ->
       |      CAST(strpos('0123456789abcdef', substring(md5(CAST($c AS VARCHAR)), j, 1)) - 1 AS BIGINT)
       |        << (4 * (12 - j)))) AS BIGINT)""".stripMargin

  /** Exact decimal sum surfaced as a double. The sum itself is exact
    * (scale-4 decimal); the final cast is the only inexact step and is
    * correctly rounded in both engines as long as the unscaled value stays
    * below 2^53 (true by orders of magnitude at verify scale). DOUBLE in
    * the result schema matters: the driver's hash-compare renders DuckDB
    * DECIMAL and Spark parquet DECIMAL differently (r1 lesson — all seven
    * r1 hash mismatches were decimal/hugeint output columns). */
  def sumMoney(c: Column): Column = sum(dec(c)).cast(DoubleType)
}
