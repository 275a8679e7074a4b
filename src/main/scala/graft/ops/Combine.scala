package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

/** Reference semantics (SURVEY.md §2A A4–A9, A11): the gVCF-combine family,
  * re-expressed declaratively.
  *
  * The reference's core loop (`GVCFHBase.load`, `GVCFHBase.java:~110`,
  * reconstructed per SURVEY §0) scans position-sorted HBase rows, carries
  * per-sample "current block" state forward, densifies an N-sample vector
  * per position, and merges. Here each of those imperative steps is a
  * declarative Spark operator: the carry state is a window frame, the
  * densify is groupBy + ordered collect, the stride split is
  * explode(sequence(...)), and the sorted bulk load is
  * repartitionByRange + sortWithinPartitions.
  *
  * Scale notes (100 TB): every groupBy/window here keys on the natural
  * range-bucketed layout key (orderkey / user_id ≙ genomic position key),
  * so shuffles are the minimum Catalyst needs; the interval join goes
  * through month-bucket explode + equi-join (never BNLJ); collect_list
  * groups are bounded by lines-per-order (≙ samples-per-position, the same
  * bound the reference lives with).
  */
object Combine {

  /** A4 — the reference's defining computation: per key, assemble the
    * sparse per-sample cells into one dense ordered vector
    * (`VariantCombiner.combine(pos, List<V>)`). Dense vector is emitted
    * as CSV strings of exact ints (hash-safe final schema; the array
    * lives only inside the plan). */
  val pivotDense = Query(
    "q_pivot_dense",
    """SELECT l_orderkey, count(*) AS n_lines,
      |  array_to_string(list(CAST(l_linenumber AS VARCHAR) ORDER BY l_linenumber), ',') AS line_numbers,
      |  array_to_string(list(CAST(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100 AS BIGINT) AS VARCHAR)
      |                       ORDER BY l_linenumber,
      |                                CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100 AS BIGINT)), ',') AS qty_cents
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey
      |LIMIT 2000""".stripMargin) { (s, d) =>
    val cells = struct(col("l_linenumber"),
      (dec("l_quantity") * 100).cast(LongType).as("q"))
    tbl(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_lines"),
        array_join(transform(sort_array(collect_list(struct(col("l_linenumber")))),
          x => x.getField("l_linenumber").cast(StringType)), ",").as("line_numbers"),
        array_join(transform(sort_array(collect_list(cells)),
          x => x.getField("q").cast(StringType)), ",").as("qty_cents"))
      .orderBy("l_orderkey")
      .limit(2000)
  }

  /** A5 — reference-block fill-in as LOCF: the scanner's per-sample
    * "current spanning block" carry state becomes a window frame
    * (`last(..., ignoreNulls)` over unbounded-preceding). Here: each
    * event carries the user's most recent purchase value forward. */
  val asofFill = Query(
    "q_asof_fill",
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
      |FROM events
      |ORDER BY user_id, ts, event_id
      |LIMIT 3000""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, d, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w).as("last_purchase_value"))
      .orderBy("user_id", "ts", "event_id")
      .limit(3000)
  }

  /** A6 — interval containment join ([start, END] ∋ position), via the
    * 100 TB-safe plan (SURVEY §4.2): explode each interval into the month
    * buckets it spans, equi-join on the bucket, then apply the range
    * residual. No BroadcastNestedLoopJoin at any scale. Intervals: one
    * odd-boundary window per year. */
  val joinInterval = Query(
    "q_join_interval",
    """SELECT CAST(y AS BIGINT) AS y, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM (SELECT range AS y,
      |        CAST(make_date(CAST(range AS INT), 2, 15) AS TIMESTAMP) AS ivl_start,
      |        CAST(make_date(CAST(range AS INT), 9, 10) AS TIMESTAMP) AS ivl_end
      |      FROM range(1995, 2002)) iv
      |JOIN lineitem ON l_shipdate >= ivl_start AND l_shipdate <= ivl_end
      |GROUP BY y ORDER BY y""".stripMargin) { (s, d) =>
    val iv = s.range(1995, 2002).select(
      col("id").as("y"),
      make_date(col("id"), lit(2), lit(15)).cast(TimestampType).as("ivl_start"),
      make_date(col("id"), lit(9), lit(10)).cast(TimestampType).as("ivl_end"))
    // A7-style split: interval → the month buckets it spans.
    val ivBuckets = iv.withColumn("bucket",
      explode(sequence(date_trunc("month", col("ivl_start")),
        date_trunc("month", col("ivl_end")), expr("interval 1 month"))))
    tbl(s, d, "lineitem")
      .withColumn("bucket", date_trunc("month", col("l_shipdate")))
      .join(broadcast(ivBuckets), Seq("bucket"))
      .filter(col("l_shipdate") >= col("ivl_start") && col("l_shipdate") <= col("ivl_end"))
      .groupBy("y")
      .agg(count(lit(1)).as("n_lines"), sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("y")
  }

  /** A7 — block splitting at fixed stride (`GVCFHBase.store` split loop):
    * one logical interval record → one row per crossed 30-day window,
    * clipped to the window. Day numbers (BIGINT) keep the output schema
    * hash-safe. Interval length varies per key (orderkey mod 70 days). */
  val explodeSplit = Query(
    "q_explode_split",
    """SELECT o_orderkey, chunk,
      |  greatest(sd, chunk * 30) AS chunk_start_day,
      |  least(ed, chunk * 30 + 29) AS chunk_end_day
      |FROM (
      |  SELECT o_orderkey, sd, ed, unnest(generate_series(sd // 30, ed // 30)) AS chunk
      |  FROM (SELECT o_orderkey,
      |          date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS sd,
      |          date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + o_orderkey % 70 AS ed
      |        FROM orders))
      |ORDER BY o_orderkey, chunk
      |LIMIT 3000""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate").cast(DateType), lit("1970-01-01").cast(DateType))
          .cast(LongType).as("sd"))
      .withColumn("ed", col("sd") + col("o_orderkey") % 70)
      .withColumn("chunk", explode(sequence(expr("sd div 30"), expr("ed div 30"))))
      .select(col("o_orderkey"), col("chunk"),
        greatest(col("sd"), col("chunk") * 30).as("chunk_start_day"),
        least(col("ed"), col("chunk") * 30 + 29).as("chunk_end_day"))
      .orderBy("o_orderkey", "chunk")
      .limit(3000)
  }

  /** A8 — HBase cell-version semantics: latest (ts, id) wins per
    * (rowkey, qualifier) ≙ per (user, event_type). */
  val dedupLatest = Query(
    "q_dedup_latest",
    """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type
      |LIMIT 3000""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    tbl(s, d, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
      .orderBy("user_id", "event_type")
      .limit(3000)
  }

  /** A9 — incremental sample addition (the reference's raison d'être):
    * base + appended delta re-aggregate to the same result as a full
    * recombine. Physically: union of two partition sets, partial+final
    * agg on top — no rewrite of base data. */
  val unionIncremental = Query(
    "q_union_incremental",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
      |      UNION ALL
      |      SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY y ORDER BY y""".stripMargin) { (s, d) =>
    val base = tbl(s, d, "orders").filter(col("o_orderdate") < ts("2000-01-01"))
    val delta = tbl(s, d, "orders").filter(col("o_orderdate") >= ts("2000-01-01"))
    base.unionByName(delta)
      .groupBy(year(col("o_orderdate")).cast(LongType).as("y"))
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"))
      .orderBy("y")
  }

  /** [[sortedWrite]]'s output directory for the dataset at `d`, in this
    * JVM's output root ([[graft.api.outputPath]]). */
  private[graft] def sortedWriteDir(d: String): String =
    graft.api.outputPath(s"sorted_write_${graft.api.slug(d)}")

  /** A11 — bulk load contract: range-partitioned, sorted-within-partition
    * write (the HFile/bulkPut analog), then re-read and verify per-range
    * counts. The oracle aggregates the source directly, so the check
    * proves the write→read round trip is lossless. */
  val sortedWrite = Query(
    "q_sorted_write",
    """SELECT l_orderkey // 2000 AS key_bucket, count(*) AS n,
      |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
      |FROM lineitem
      |GROUP BY key_bucket ORDER BY key_bucket""".stripMargin) { (s, d) =>
    // in this JVM's own output root: concurrent Verify/Bench runs on the
    // same dataset must not race one shared overwrite-then-read directory
    val out = sortedWriteDir(d)
    // range count follows the session's parallelism instead of a
    // constant 8 (r21, guide §2 scale-adaptive partitioning): 8 ranges
    // serialized the sorted bulk write onto a quarter of a 32-core
    // session, and at a real cluster scale the range count must grow
    // with the data anyway (the HBase analog pre-splits regions to the
    // cluster, not to 8). Floor of 8 keeps the multi-range layout on
    // tiny sessions; the verifying aggregate is partition-count-free.
    tbl(s, d, "lineitem")
      .repartitionByRange(
        math.max(8, s.sparkContext.defaultParallelism), col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(expr("l_orderkey div 2000").as("key_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"))
      .orderBy("key_bucket")
  }

  /** A6 via the custom physical operator: the same yearly-interval
    * containment join expressed as a plain BETWEEN condition. On
    * sessions with `graft.GraftExtensions` this plans as
    * BroadcastRangeJoinExec (sorted intervals + binary-search probe);
    * elsewhere Spark falls back to BNLJ — identical results, so the
    * oracle holds on any session. Day-number longs keep pos/lo/hi in
    * the strategy's supported type. */
  val joinRangeNative = Query(
    "q_join_range_native",
    """SELECT CAST(y AS BIGINT) AS y, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM (SELECT range AS y,
      |        date_diff('day', DATE '1970-01-01', make_date(CAST(range AS INT), 2, 15)) AS lo,
      |        date_diff('day', DATE '1970-01-01', make_date(CAST(range AS INT), 9, 10)) AS hi
      |      FROM range(1995, 2002)) iv
      |JOIN (SELECT l_extendedprice,
      |        date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS pos
      |      FROM lineitem) li
      |  ON pos >= lo AND pos <= hi
      |GROUP BY y ORDER BY y""".stripMargin) { (s, d) =>
    val iv = s.range(1995, 2002).select(
      col("id").as("y"),
      datediff(make_date(col("id"), lit(2), lit(15)), lit("1970-01-01").cast(DateType))
        .cast(LongType).as("lo"),
      datediff(make_date(col("id"), lit(9), lit(10)), lit("1970-01-01").cast(DateType))
        .cast(LongType).as("hi"))
    tbl(s, d, "lineitem")
      .select(col("l_extendedprice"),
        datediff(col("l_shipdate").cast(DateType), lit("1970-01-01").cast(DateType))
          .cast(LongType).as("pos"))
      .join(iv, col("pos") >= col("lo") && col("pos") <= col("hi"))
      .groupBy("y")
      .agg(count(lit(1)).as("n_lines"), sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("y")
  }

  /** Two-table as-of join — each purchase matched to the same user's
    * most recent click at or before it — via the scalable pattern: tag
    * both sides, union, ONE window per key carrying the build side
    * forward, filter probe rows. One shuffle total, no range join, no
    * per-row search; the oracle is DuckDB's native ASOF JOIN. Clicks
    * are deduped to one per (user, ts) so tie-breaks are well-defined
    * on both engines. */
  val asofJoin = Query(
    "q_asof_join",
    """WITH clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_id FROM events
      |  WHERE event_type = 'click' GROUP BY user_id, ts),
      |purchases AS (
      |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(p.ts AS TIMESTAMP) AS purchase_ts, p.value,
      |  c.click_id, CAST(c.ts AS TIMESTAMP) AS click_ts
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin) { (s, d) =>
    val ev = tbl(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("ts"), col("click_id"),
        lit(null).cast(LongType).as("purchase_id"), lit(null).cast(DoubleType).as("value"),
        lit(0).as("kind"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast(LongType).as("click_id"),
        col("event_id").as("purchase_id"), col("value"), lit(1).as("kind"))
    // kind orders clicks before purchases at equal ts → inclusive c.ts <= p.ts
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click",
        last(when(col("kind") === 0, struct(col("click_id"), col("ts").as("cts"))),
          ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("value"), col("last_click.click_id").as("click_id"),
        col("last_click.cts").as("click_ts"))
      .orderBy("purchase_id")
  }

  val queries: Seq[Query] = Seq(
    pivotDense, asofFill, asofJoin, joinInterval, joinRangeNative,
    explodeSplit, dedupLatest, unionIncremental, sortedWrite)
}
