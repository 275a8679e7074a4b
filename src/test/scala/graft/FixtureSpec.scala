package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._

/** Fixture-drift canary (VERDICT r12 task #2).
  *
  * Round 12 proved a silent driver-side regeneration of /root/testdata can
  * change a column's parquet encoding between runs (events.ts went
  * TIMESTAMP(NANOS) → TIMESTAMP_NTZ micros) and zero 9% of the query
  * surface with 16 opaque analysis errors. This spec reads every table
  * through the production loader (`api.tbl`) and asserts the post-load
  * logical types the engine depends on, so the next drift is a single
  * named failure with a schema diff instead.
  *
  * Assertions are on what downstream code requires (a timestamp type, an
  * array<float>), not on incidental parquet physical details — the loader
  * is allowed to adapt (that is its job); this spec pins the contract it
  * must adapt TO.
  */
class FixtureSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The driver's correctness gate runs at sf0.01 — a drift THERE is
    * what zeroes a round, and nothing guarantees the generator writes
    * both dirs with the same encoding. Schema-only assertions (footer
    * reads, no scans), so the extra dir costs milliseconds. */
  private val gateDir = "/root/testdata/sf0.01"

  test("buildOnce publishes atomically; concurrent builders race to one winner") {
    // The helper behind every cached fixture/store build (api.buildOnce):
    // N concurrent builders must yield exactly one published directory,
    // readable and complete, with every loser's temp build discarded —
    // the Verify/Bench-pair interleaving the atomic rename exists to
    // prevent. Each builder writes a distinct payload so the test can
    // prove all readers observe ONE winner, not a splice of builds.
    val target = scratchDir("graft_bo_").resolve("fixture")
    // snapshot pre-existing temp builds: the leftover assertion below
    // must only see temps THIS test's builders created — a concurrent
    // process mid-buildOnce (or an old leak on a shared host) is not
    // this test's failure
    def tempBuilds(): Set[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_build_once_")).toSet
      finally s.close()
    }
    val preExisting = tempBuilds()
    val built = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 8).map(i => Future {
      graft.api.buildOnce(target.toString) { tmp =>
        built.add(i)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "payload.txt"),
          s"builder-$i".getBytes("UTF-8"))
        // widen the race window so builders genuinely overlap
        Thread.sleep(50)
      }
      new String(java.nio.file.Files.readAllBytes(
        target.resolve("payload.txt")), "UTF-8")
    })), 60.seconds)
    assert(results.toSet.size == 1,
      s"readers observed more than one winner: ${results.toSet}")
    assert(built.size >= 1)
    // idempotent re-entry: ready dir short-circuits, build not re-run
    val before = built.size
    graft.api.buildOnce(target.toString) { _ => built.add(99) }
    assert(built.size == before, "buildOnce re-ran a build for a ready dir")
    // no abandoned temp builds: losers cleaned up after themselves
    val leftovers = (tempBuilds() -- preExisting).toSeq
    assert(leftovers.isEmpty, s"abandoned temp builds left behind: $leftovers")
  }

  test("buildOnce removes its temp directory when the build fails") {
    // A build that throws mid-way (killed stage, disk full, bad
    // fixture) must not abandon a half-written temp tree — repeated
    // failing runs would otherwise accumulate large orphans in the
    // shared tmpdir.
    val target = scratchDir("graft_bo_fail_")
      .resolve("fixture")
    def tempBuilds(): Set[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_build_once_")).toSet
      finally s.close()
    }
    val preExisting = tempBuilds()
    val boom = intercept[RuntimeException] {
      graft.api.buildOnce(target.toString) { tmp =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "partial.bin"), Array[Byte](1, 2, 3))
        throw new RuntimeException("mid-build failure")
      }
    }
    assert(boom.getMessage == "mid-build failure")
    assert(!java.nio.file.Files.exists(target),
      "a failed build must not publish the target")
    val leftovers = (tempBuilds() -- preExisting).toSeq
    assert(leftovers.isEmpty, s"failed build leaked its temp dir: $leftovers")
    // and the next call can still build successfully
    graft.api.buildOnce(target.toString) { tmp =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "ok.bin"), Array[Byte](9))
    }
    assert(java.nio.file.Files.exists(target.resolve("ok.bin")))
  }

  test("buildOnce self-heals a stale partial directory from a crashed writer") {
    // A pre-atomic (or killed) writer can leave the target existing
    // WITHOUT its marker; buildOnce must retire it atomically and
    // publish a fresh build rather than failing forever.
    val target = scratchDir("graft_bo_stale_")
      .resolve("fixture")
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.write(target.resolve("half-written.bin"), Array[Byte](9))
    // no _SUCCESS marker → stale
    graft.api.buildOnce(target.toString, marker = Some("_SUCCESS")) { tmp =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "payload.txt"), "good".getBytes("UTF-8"))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS"))
      ()
    }
    assert(java.nio.file.Files.exists(target.resolve("_SUCCESS")))
    assert(new String(java.nio.file.Files.readAllBytes(
      target.resolve("payload.txt")), "UTF-8") == "good")
    assert(!java.nio.file.Files.exists(target.resolve("half-written.bin")),
      "stale partial contents leaked into the healed directory")
    // the retired stale tree is gone, not parked forever
    import scala.jdk.CollectionConverters.IteratorHasAsScala
    val parked = java.nio.file.Files.list(target.getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".stale-")).toSeq
    assert(parked.isEmpty, s"stale graveyard left behind: $parked")
  }

  /** expected (column, type) contract per table, post-`api.tbl`. */
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> null, // any timestamp flavor (see tsLike below)
      "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> null),
    "events" -> Seq("event_id" -> LongType,
      // the loader must normalize ts to session-zone TimestampType for
      // every fixture generation — window()/unix_timestamp/oracle parity
      // all assume it
      "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  private def tsLike(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private def schemaDiffs(dir: String, table: String,
      cols: Seq[(String, DataType)]): Seq[String] = {
    val got = api.tbl(spark, dir, table).schema.map(f => f.name -> f.dataType).toMap
    cols.flatMap { case (name, want) =>
      got.get(name) match {
        case None => Some(s"$name: MISSING (have: ${got.keys.mkString(", ")})")
        case Some(dt) if want == null && !tsLike(dt) =>
          Some(s"$name: expected a timestamp type, got $dt")
        case Some(dt) if want != null && dt != want =>
          Some(s"$name: expected $want, got $dt")
        case _ => None
      }
    }
  }

  for ((table, cols) <- expected.toSeq.sortBy(_._1)) {
    test(s"$table fixture loads with the contracted schema") {
      for (dir <- Seq(sfDir, gateDir)) {
        val diffs = schemaDiffs(dir, table, cols)
        assert(diffs.isEmpty,
          s"\nFIXTURE DRIFT in $dir/$table.parquet — the driver likely " +
          s"regenerated /root/testdata with a new encoding.\n  " +
          diffs.mkString("\n  "))
      }
      val df = api.tbl(spark, sfDir, table)
      // embedding arrays must be non-empty and fixed-width for the ANN ops
      if (table == "embeddings") {
        import org.apache.spark.sql.functions._
        val widths = df.select(size(col("embedding")).as("w"))
          .distinct().collect().map(_.getInt(0)).toSeq
        assert(widths.lengthIs == 1 && widths.head > 0,
          s"embedding width drifted: distinct sizes = $widths")
      }
      assert(df.limit(1).count() == 1, s"$table is empty")
    }
  }

  test("the events loader THROWS on an unrecognized ts encoding (r13 advice)") {
    // a third fixture-encoding drift must be a NAMED failure, not a
    // blind cast into null/garbage timestamps that the type-only
    // assertions above would wave through
    import spark.implicits._
    val dir = scratchDir("graft_fixture_drift").toString
    Seq((1L, 1.5, 2L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] { api.tbl(spark, dir, "events") }
    assert(e.getMessage.contains("unrecognized") && e.getMessage.contains("FixtureSpec"),
      e.getMessage)
  }
}
