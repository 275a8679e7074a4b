package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

/** Source/sink coverage beyond parquet: CSV, JSON, and ORC round trips.
  * Each query writes a projected slice to the format, reads it back with
  * an EXPLICIT schema (no inference in production paths, SURVEY §1.2),
  * and aggregates — the oracle runs against the parquet original, so a
  * hash match proves the round trip lossless.
  *
  * Money columns travel as integer cents (exact in every text format);
  * timestamps as epoch microseconds. That is the 100 TB guidance too:
  * text formats get exact integer encodings at the boundary, columnar
  * formats keep native types.
  */
object Sources {

  /** The overwrite-then-read output `fmt` of the dataset at `d`, in
    * this JVM's output root ([[graft.api.outputPath]]). */
  private def outDir(d: String, fmt: String): String =
    graft.api.outputPath(s"src_${fmt}_${slug(d)}")

  /** The build-once fixture `name` of the dataset at `d`, keyed by the
    * content fingerprint of its source table. */
  private def fixtureDir(d: String, name: String, srcTable: String): String =
    graft.api.scratchPath(s"src_${name}_${slug(d)}_" +
      graft.api.contentFingerprint(s"$d/$srcTable.parquet"))

  /** Build-once store directories for the store READ-path queries
    * (scan/project/asof/delete). The generational builds are pure
    * functions of the source table, so the directory is keyed by
    * content fingerprint exactly like the IVF index (api.scala) — the
    * bench then measures the read the query exists to prove, not its
    * setup writes (r13 verdict #2), while a fixture regeneration or a
    * cold host still builds from scratch. The build lands in a temp
    * directory and is ATOMICALLY renamed in, so a concurrent
    * Verify/Bench pair can never interleave half-built generations:
    * the loser of the rename race discards its build and reads the
    * winner's. (`q_sink_store` stays uncached — the WRITE is the
    * operator it measures.) */
  private def cachedStore(s: SparkSession, d: String, name: String,
      srcTable: String)(build: String => Unit): String = {
    graft.api.buildOnce(fixtureDir(d, name, srcTable), marker = Some("_MANIFEST"))(build)
  }

  /** Shared slice: exact-integer projection of lineitem. */
  private def slice(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
      (dec("l_quantity") * 100).cast(LongType).as("qty_cents"),
      (dec("l_extendedprice") * 100).cast(LongType).as("price_cents"),
      col("l_returnflag"),
      unix_micros(col("l_shipdate").cast(TimestampType)).as("ship_us"))

  private val sliceSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", LongType),
    StructField("qty_cents", LongType), StructField("price_cents", LongType),
    StructField("l_returnflag", StringType), StructField("ship_us", LongType)))

  private val oracleSlice =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS qty_cents,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS price_cents,
      |  CAST(min(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS min_ship_us
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // Text serialization (xml ~5x, json ~3x costlier per row than a
  // columnar write) dominates these round trips — every TEXT format
  // round-trips a deterministic 10% key slice; the contract (lossless
  // vs the parquet original, IDENTICAL filter in the oracle) is
  // unchanged. ORC stays full-table: columnar writes are cheap and one
  // full-volume round trip keeps end-to-end coverage. A full-corpus
  // format conversion inside a bench query is exactly the shape that
  // cannot survive a 100 TB scale-up.
  // explicit allowlist, not "everything but orc": a future columnar
  // round trip (parquet/avro) must NOT silently inherit the text-format
  // slice and lose its full-volume coverage
  private def textSliced(fmt: String): Boolean = Set("csv", "json", "xml")(fmt)

  private def roundTrip(fmt: String) = Query(s"q_source_$fmt",
    if (textSliced(fmt))
      oracleSlice.replace("FROM lineitem", "FROM lineitem WHERE l_orderkey % 10 = 0")
    else oracleSlice) { (s, d) =>
    val dir = outDir(d, fmt)
    // full session parallelism for the write (r2 verdict: coalesce(4)
    // serialized the I/O to 4 tasks on a 32-core box)
    val src = if (textSliced(fmt)) slice(s, d).filter(expr("l_orderkey % 10 = 0"))
      else slice(s, d)
    val w = src.write.mode("overwrite")
    fmt match {
      case "csv" => w.option("header", "true").csv(dir)
      case "json" => w.json(dir)
      // snappy, not Spark 4's zstd ORC default: the repo's columnar
      // stance everywhere else (parquet default, the store sink) is
      // snappy — cheaper write CPU at a compression ratio that is
      // irrelevant to a round-trip-losslessness proof
      case "orc" => w.option("compression", "snappy").orc(dir)
      case "xml" => w.option("rowTag", "line").format("xml").save(dir)
    }
    val r = s.read.schema(sliceSchema)
    val back = fmt match {
      case "csv" => r.option("header", "true").csv(dir)
      case "json" => r.json(dir)
      case "orc" => r.orc(dir)
      case "xml" => r.option("rowTag", "line").format("xml").load(dir)
    }
    back.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("qty_cents")).cast(LongType).as("qty_cents"),
        sum(col("price_cents")).cast(LongType).as("price_cents"),
        min(col("ship_us")).cast(LongType).as("min_ship_us"))
      .orderBy("l_returnflag")
  }

  val sourceCsv = roundTrip("csv")
  val sourceJson = roundTrip("json")
  val sourceOrc = roundTrip("orc")
  /** Spark 4's built-in XML datasource, same round-trip contract. */
  val sourceXml = roundTrip("xml")

  /** Hive-style partitioned layout + partition pruning: write orders
    * partitioned by year, read back with a year predicate — the filter
    * must become a PartitionFilter (directories skipped, not rows
    * filtered; asserted in PlanSpec). This is the storage layout the
    * reference gets from HBase region pre-splitting (SURVEY §4.1). */
  val partitionPrune = Query(
    "q_partition_prune",
    """SELECT CAST(y AS BIGINT) AS y, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM (SELECT year(o_orderdate) AS y, o_orderpriority, o_totalprice FROM orders)
      |WHERE y BETWEEN 1997 AND 1999
      |GROUP BY y, o_orderpriority
      |ORDER BY y, o_orderpriority""".stripMargin) { (s, d) =>
    partitionedOrdersDf(s, d)
      .filter(col("y").between(1997, 1999))
      // partition-directory values read back as int32 regardless of the
      // written type — re-cast so the output schema stays BIGINT.
      .groupBy(col("y").cast(LongType).as("y"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"))
      .orderBy("y", "o_orderpriority")
  }

  /** Write-once partitioned copy of orders, read back — fingerprint-
    * keyed (a regenerated orders.parquet rebuilds) and atomically
    * published like every other cached artifact. */
  def partitionedOrdersDf(s: SparkSession, d: String): DataFrame = {
    val dir = graft.api.buildOnce(fixtureDir(d, "part_orders", "orders"),
      marker = Some("_SUCCESS")) { tmp =>
      tbl(s, d, "orders")
        .withColumn("y", year(col("o_orderdate")).cast(LongType))
        .write.mode("overwrite").partitionBy("y").parquet(tmp)
    }
    graft.api.pathTbl(s, dir)
  }

  /** The custom DSv2 source (graft.sources.RangeVariantSource) read
    * through the normal reader API with a pos-range predicate that the
    * source itself consumes (pushdown narrows generation, asserted in
    * SourceSpec). Rows are pure arithmetic, so DuckDB's range()
    * reproduces the source exactly — a fully oracle-backed custom
    * source. */
  val sourceCustom = Query(
    "q_source_custom",
    """SELECT gq, count(*) AS n, CAST(sum(depth) AS BIGINT) AS sum_depth
      |FROM (SELECT (range * 2654435761) % 100 AS gq, range % 64 AS depth
      |      FROM range(5000, 20000))
      |GROUP BY gq ORDER BY gq""".stripMargin) { (s, _) =>
    s.read.format("graft.sources.RangeVariantSource")
      .option("lo", "0").option("hi", "100000").load()
      .filter(col("pos") >= 5000L && col("pos") < 20000L)
      .groupBy("gq")
      .agg(count(lit(1)).as("n"), sum(col("depth")).cast(LongType).as("sum_depth"))
      .orderBy("gq")
  }

  /** Write-once-per-(session,sf) bucketed copies of lineitem and orders,
    * both bucketed AND sorted on the join key into the same bucket count —
    * the Spark analog of HBase's pre-split, key-sorted regions (A11) and
    * the layout that makes fact-fact joins shuffle-free at 100 TB. */
  def bucketedTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.ScratchObserver.touch() // catalog-backed scratch choke point
    val suf = slug(d)
    val (liName, ordName) = (s"graft_li_bkt_$suf", s"graft_ord_bkt_$suf")
    if (!s.catalog.tableExists(liName)) {
      tbl(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey")) // align tasks with buckets: 8 files, not tasks×8
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", outDir(d, "bkt_li")).mode("overwrite").saveAsTable(liName)
    }
    if (!s.catalog.tableExists(ordName)) {
      tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", outDir(d, "bkt_ord")).mode("overwrite").saveAsTable(ordName)
    }
    (s.table(liName), s.table(ordName))
  }

  /** Co-located fact-fact join: both sides bucketed on the join key into
    * the same bucket count, so the sort-merge join needs NO exchange on
    * either side (asserted in PlanSpec — the only shuffle in the plan is
    * the final small aggregate). The `merge` hint pins the strategy so
    * the plan shape is stable across AQE/broadcast thresholds. */
  val bucketedJoin = Query(
    "q_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |           (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val (li, ord) = bucketedTables(s, d)
    li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
          .cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** The custom DSv2 SINK (graft.sources.VariantStoreSink — the bulkPut
    * analog): write lineitem range-partitioned + sorted through the V2
    * write path (sorted-contract enforced per task, manifest committed
    * driver-side), then aggregate the store files read back. The oracle
    * computes the same aggregates from the parquet original — a hash
    * match proves the sink lossless end-to-end. */
  val sinkStore = Query(
    "q_sink_store",
    """SELECT l_returnflag AS payload, count(*) AS n,
      |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY payload""".stripMargin) { (s, d) =>
    val dir = outDir(d, "sink_store")
    tbl(s, d, "lineitem")
      .select(col("l_orderkey").as("key"), col("l_returnflag").as("payload"))
      .repartitionByRange(8, col("key")).sortWithinPartitions("key")
      .write.format("graft.sources.VariantStoreSink")
      .option("path", dir).mode("overwrite").save()
    // Read back THROUGH THE MANIFEST (full key range) — the manifest IS
    // the store's read contract. A raw directory glob was only correct
    // under immediate-delete truncate semantics: since the deferred
    // vacuum (r15), an overwrite RETIRES the previous generation's files
    // in place for the grace window, so a second run in one session
    // (the driver's Bench-then-Verify schedule) would list and
    // double-count them. DoubleDriveSpec pins the run-twice contract.
    graft.sources.VariantStore
      .readRange(s, dir, "key LONG, payload STRING", Long.MinValue, Long.MaxValue)
      .groupBy("payload")
      .agg(count(lit(1)).as("n"), sum(col("key")).cast(LongType).as("sum_key"))
      .orderBy("payload")
  }

  /** Raw-file multimodal ingest: the deterministic P6 images land as
    * individual `.ppm` files, are read back through Spark's `binaryFile`
    * source (path + length + content), doc_id recovered from the file
    * name, and the REAL decoder re-verifies every byte — files → bytes →
    * decode → stats, grouped by image width. The oracle recomputes the
    * channel sums from the pixel formula, so a hash match proves the
    * whole file round trip. At 100 TB this is the ingest shape for any
    * object-store media corpus (listing parallelizes; decode is pure
    * map work; the binary column dies at the first projection). */
  val sourceBinary = Query(
    "q_source_binary",
    """WITH d AS (SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 5 + 3 AS h
      |           FROM documents WHERE doc_id < 2000),
      |px AS (SELECT doc_id, w, h, x.range AS x, y.range AS y
      |       FROM d, range(0, 11) x, range(0, 7) y
      |       WHERE x.range < w AND y.range < h)
      |SELECT CAST(w AS BIGINT) AS width,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images,
      |  CAST(sum((doc_id*9349 + y*193 + x*17) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((doc_id*9349 + y*193 + x*17 + 71) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((doc_id*9349 + y*193 + x*17 + 142) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY w
      |ORDER BY width""".stripMargin) { (s, d) =>
    val dir = Multimodal.ppmFileDir(s, d)
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.ppm").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.ppm$", 1)
          .cast(LongType).as("doc_id"),
        col("content").as("media"))
    Multimodal.decodePpm(bin)
      .groupBy("width")
      .agg(count(lit(1)).as("n_images"),
        sum("sum_r").as("sum_r"), sum("sum_g").as("sum_g"),
        sum("sum_b").as("sum_b"))
      .orderBy("width")
  }

  /** The store's READ path, oracle-verified: bulk-load lineitem keyed by
    * l_orderkey, then scan `[1000, 4999]` through
    * `VariantStore.readRange` — the manifest's per-file (min, max) prunes
    * non-overlapping store files BEFORE any I/O (HBase region-scan
    * analog; SourceSpec asserts the file-level pruning, this query
    * proves the scan's exactness against the original table). */
  val storeScan = Query(
    "q_store_scan",
    """SELECT l_returnflag AS payload, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1000 AND 4999
      |GROUP BY l_returnflag
      |ORDER BY payload""".stripMargin) { (s, d) =>
    val dir = cachedStore(s, d, "store_scan", "lineitem") { bdir =>
      tbl(s, d, "lineitem")
        .select(col("l_orderkey").as("key"), col("l_returnflag").as("payload"))
        .repartitionByRange(8, col("key")).sortWithinPartitions("key")
        .write.format("graft.sources.VariantStoreSink")
        .option("path", bdir).mode("overwrite").save()
    }
    graft.sources.VariantStore.readRange(
      s, dir, "key LONG, payload STRING", 1000L, 4999L)
      .groupBy("payload")
      .agg(count(lit(1)).as("n"), sum(col("key")).cast(LongType).as("sum_key"))
      .orderBy("payload")
  }

  /** Per-sample projected store read — the `Scan.addColumn` analog
    * (`GVCFHBase.java:~82 (unverified)`: the reference reads single
    * samples by HBase column qualifier). The store is loaded the way
    * the reference loads a cohort — ONE GENERATION PER SAMPLE (each
    * sample's gVCF is its own incremental bulk load) — so every store
    * file's manifest line carries a single-sample extent, and a
    * 3-of-8-sample read prunes 5/8 of the files BEFORE any I/O
    * (SourceSpec asserts the file list; this query proves the projected
    * scan's exactness against the original table). At 3,000-sample
    * cohort width the same read touches 3 generations, not 3,000 —
    * file-level column pruning is what makes per-sample retrieval O(1)
    * in cohort size, the property HBase qualifiers gave the reference. */
  val storeProject = Query(
    "q_store_project",
    """SELECT 's' || CAST(l_suppkey % 8 AS VARCHAR) AS sample,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1000 AND 4999 AND l_suppkey % 8 IN (1, 3, 5)
      |GROUP BY 1
      |ORDER BY sample""".stripMargin) { (s, d) =>
    val dir = cachedStore(s, d, "store_project", "lineitem") { bdir =>
      val base = tbl(s, d, "lineitem")
        .select(col("l_orderkey").as("key"),
          concat(lit("s"), (col("l_suppkey") % 8).cast(StringType)).as("sample"),
          col("l_quantity").cast(LongType).as("qty"))
      (0 until 8).foreach { i =>
        base.filter(col("sample") === s"s$i")
          .repartitionByRange(2, col("key")).sortWithinPartitions("key")
          .write.format("graft.sources.VariantStoreSink")
          .option("path", bdir).mode(if (i == 0) "overwrite" else "append").save()
      }
    }
    graft.sources.VariantStore.readRange(
      s, dir, "key LONG, sample STRING, qty LONG", 1000L, 4999L,
      samples = Seq("s1", "s3", "s5"))
      .groupBy("sample")
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
      .orderBy("sample")
  }

  /** Parquet schema evolution — the lake analog of the reference's
    * incremental column-add (a new sample = a new HBase column, no
    * rewrite of old cells; here a new generation adds a column and old
    * files simply read it as null): generation 1 lacks
    * `o_orderpriority`, generation 2 carries it; `mergeSchema=true`
    * reconciles the footers at read time and the aggregate buckets the
    * null-filled old rows as UNKNOWN. At 100 TB schema merge is a
    * footer-metadata operation — no data rewrite, exactly the property
    * that motivated the reference's storage design. */
  val schemaEvolution = Query(
    "q_schema_evolution",
    """SELECT CASE WHEN year(o_orderdate) < 1995 THEN 'UNKNOWN'
      |            ELSE o_orderpriority END AS prio,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY prio ORDER BY prio""".stripMargin) { (s, d) =>
    val dir = outDir(d, "evolve")
    val o = tbl(s, d, "orders")
    o.filter(year(col("o_orderdate")) < 1995)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    o.filter(year(col("o_orderdate")) >= 1995)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(coalesce(col("o_orderpriority"), lit("UNKNOWN")).as("prio"))
      .agg(count(lit(1)).as("n"),
        sum(dec("o_totalprice")).cast(DoubleType).as("revenue"))
      .orderBy("prio")
  }

  /** Versioned (as-of-timestamp) store read — HBase `maxVersions` +
    * timerange semantics (`GVCFHBaseTest.java:~40 (unverified)`): three
    * generations land in one store — a v1 bulk load of every order key,
    * then APPEND-mode generations updating keys ≡0 (mod 3) at v2 and ≡0
    * (mod 7) at v3. `VariantStore.readAsOf` replays "the cohort as of
    * last month": at t=2 the v3 updates must be invisible and v2 wins
    * over v1; at t=3, v3 > v2 > v1. The oracle reconstructs both
    * snapshots from `orders` directly, so a hash match proves the
    * version resolution exact — including that appends never clobbered
    * the older generations' files. */
  val storeAsOf = Query(
    "q_store_asof",
    """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
      |v2 AS (
      |  SELECT o_orderkey AS key,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'U2-' || o_orderpriority
      |         ELSE o_orderpriority END AS payload
      |  FROM base),
      |v3 AS (
      |  SELECT o_orderkey AS key,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'U3-' || o_orderpriority
      |         WHEN o_orderkey % 3 = 0 THEN 'U2-' || o_orderpriority
      |         ELSE o_orderpriority END AS payload
      |  FROM base)
      |SELECT CAST(2 AS BIGINT) AS as_of, payload,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(key) AS BIGINT) AS sum_key
      |FROM v2 GROUP BY payload
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), payload,
      |  CAST(count(*) AS BIGINT), CAST(sum(key) AS BIGINT)
      |FROM v3 GROUP BY payload
      |ORDER BY as_of, payload""".stripMargin) { (s, d) =>
    val schema = "key LONG, ver LONG, payload STRING"
    // deterministic 10% key slice (the text-round-trip rule): the store
    // semantics under test — append generations, version resolution —
    // are volume-independent. IDENTICAL filter in the oracle.
    val dir = cachedStore(s, d, "store_asof", "orders") { bdir =>
      def gen(ver: Long, filter: Column, prefix: String): DataFrame =
        tbl(s, d, "orders").filter(col("o_orderkey") % 10 === 0).filter(filter)
          .select(col("o_orderkey").as("key"), lit(ver).as("ver"),
            concat(lit(prefix), col("o_orderpriority")).as("payload"))
          .repartitionByRange(8, col("key")).sortWithinPartitions("key")
      gen(1L, lit(true), "").write.format("graft.sources.VariantStoreSink")
        .option("path", bdir).mode("overwrite").save()
      gen(2L, col("o_orderkey") % 3 === 0, "U2-")
        .write.format("graft.sources.VariantStoreSink")
        .option("path", bdir).mode("append").save()
      gen(3L, col("o_orderkey") % 7 === 0, "U3-")
        .write.format("graft.sources.VariantStoreSink")
        .option("path", bdir).mode("append").save()
    }
    def snap(t: Long): DataFrame =
      graft.sources.VariantStore.readAsOf(s, dir, schema, t)
        .groupBy("payload")
        .agg(count(lit(1)).as("n"), sum(col("key")).cast(LongType).as("sum_key"))
        .select(lit(t).as("as_of"), col("payload"), col("n"), col("sum_key"))
    snap(2L).unionAll(snap(3L)).orderBy("as_of", "payload")
  }

  /** Delete/tombstone semantics — the HBase `Delete` analog
    * (`GVCFHBaseTest.java:~40 (unverified)`, reconstructed per SURVEY
    * §0): a versioned store deletes a key by appending a generation
    * whose row carries the reserved [[graft.sources.VariantStore.Tombstone]]
    * payload. Three generations: a v1 bulk load of the 10% order-key
    * slice, a v2 tombstone generation revoking keys ≡0 (mod 3) — the
    * genomics consent-withdrawal case — and a v3 re-put resurrecting
    * the ≡0 (mod 9) THIRD of them (within the mod-10 slice, %3 picks
    * multiples of 30 and %9 multiples of 90 — a PROPER subset, so the
    * reads cover resurrected AND still-tombstoned keys; %6 would have
    * re-put every deleted key and made the still-gone case vacuous).
    * Four reads prove the full lifecycle:
    * as-of 1 (pre-delete, all keys), as-of 2 (revoked keys GONE),
    * as-of 3 (re-put keys back with the new payload, the rest still
    * gone — put-after-delete resurrection), and the live
    * `readRange` view (≡ as-of 3, labeled 99), which must hide
    * tombstoned keys exactly like the timestamped read. The oracle
    * reconstructs all four snapshots from `orders` directly. */
  val storeDelete = Query(
    "q_store_delete",
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderpriority AS prio
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |v1 AS (SELECT key, prio AS payload FROM base),
      |v2 AS (SELECT key, prio AS payload FROM base WHERE key % 3 <> 0),
      |v3 AS (SELECT key,
      |         CASE WHEN key % 9 = 0 THEN 'R3-' || prio ELSE prio END AS payload
      |       FROM base WHERE key % 3 <> 0 OR key % 9 = 0)
      |SELECT CAST(1 AS BIGINT) AS as_of, payload,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(key) AS BIGINT) AS sum_key
      |FROM v1 GROUP BY payload
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), payload,
      |  CAST(count(*) AS BIGINT), CAST(sum(key) AS BIGINT)
      |FROM v2 GROUP BY payload
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), payload,
      |  CAST(count(*) AS BIGINT), CAST(sum(key) AS BIGINT)
      |FROM v3 GROUP BY payload
      |UNION ALL
      |SELECT CAST(99 AS BIGINT), payload,
      |  CAST(count(*) AS BIGINT), CAST(sum(key) AS BIGINT)
      |FROM v3 GROUP BY payload
      |ORDER BY as_of, payload""".stripMargin) { (s, d) =>
    val schema = "key LONG, ver LONG, payload STRING"
    val dir = cachedStore(s, d, "store_delete", "orders") { bdir =>
      val base = tbl(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
      def gen(ver: Long, filter: Column, payload: Column): Unit =
        base.filter(filter)
          .select(col("o_orderkey").as("key"), lit(ver).as("ver"), payload.as("payload"))
          .repartitionByRange(8, col("key")).sortWithinPartitions("key")
          .write.format("graft.sources.VariantStoreSink")
          .option("path", bdir).mode(if (ver == 1L) "overwrite" else "append").save()
      gen(1L, lit(true), col("o_orderpriority"))
      gen(2L, col("o_orderkey") % 3 === 0, lit(graft.sources.VariantStore.Tombstone))
      gen(3L, col("o_orderkey") % 9 === 0, concat(lit("R3-"), col("o_orderpriority")))
    }
    def agg(df: DataFrame, label: Long): DataFrame =
      df.groupBy("payload")
        .agg(count(lit(1)).as("n"), sum(col("key")).cast(LongType).as("sum_key"))
        .select(lit(label).as("as_of"), col("payload"), col("n"), col("sum_key"))
    agg(graft.sources.VariantStore.readAsOf(s, dir, schema, 1L), 1L)
      .unionAll(agg(graft.sources.VariantStore.readAsOf(s, dir, schema, 2L), 2L))
      .unionAll(agg(graft.sources.VariantStore.readAsOf(s, dir, schema, 3L), 3L))
      .unionAll(agg(graft.sources.VariantStore.readRange(
        s, dir, schema, Long.MinValue, Long.MaxValue), 99L))
      .orderBy("as_of", "payload")
  }

  val queries: Seq[Query] =
    Seq(sourceCsv, sourceJson, sourceOrc, partitionPrune, sourceCustom, bucketedJoin,
      sinkStore, sourceBinary, storeScan, schemaEvolution, sourceXml, storeAsOf,
      storeDelete, storeProject)
}
