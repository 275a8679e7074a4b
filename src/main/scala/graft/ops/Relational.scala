package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

/** Relational core: scans, filters, joins, aggregates, windows, set ops,
  * scalar functions (SURVEY.md §2A A1–A3/A10 and §2B B1–B21).
  *
  * Reference semantics mapped per SURVEY.md §2A (citations are
  * reconstructions, see SURVEY §0): HBase `Scan` key-order range scans
  * (`GVCFHBase.java:~80`) become pruned/pushed parquet scans;
  * `SampleNameIndex` dimension resolution (`SampleNameIndex.java:~20`)
  * becomes a broadcast hash join.
  *
  * Scale notes (100 TB): every aggregate here is partial+final hash agg;
  * dimension joins broadcast; fact-fact joins shuffle on their equi-keys
  * and AQE handles skew. Results carry a total ORDER BY only because the
  * correctness harness hash-compares rows — the ORDER BY ... LIMIT forms
  * compile to TakeOrderedAndProject (no global sort materialization).
  */
object Relational {

  /** A1: key-ordered scan reading a column subset — column pruning reaches
    * the parquet reader (ReadSchema shows only 4 columns). */
  val scanProject = Query(
    "q_scan_project",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_shipdate, l_quantity
      |LIMIT 1000""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .limit(1000)
  }

  /** A2: range-restricted scan — predicate pushdown + row-group min/max
    * pruning stand in for HBase Scan.withStartRow/withStopRow. */
  val filterRange = Query(
    "q_filter_range",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |ORDER BY l_orderkey, l_linenumber, l_shipdate, l_extendedprice
      |LIMIT 1000""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
      .limit(1000)
  }

  /** A3: dimension resolution as broadcast hash joins (customer ⋈ nation ⋈
    * region). Both dims are tiny at any scale — broadcast is explicit. */
  val joinBroadcast = Query(
    "q_join_broadcast",
    """SELECT r_name, n_name, count(*) AS n_customers,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
    tbl(s, d, "customer")
      .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        sumMoney(col("c_acctbal")).as("total_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** A10: per-key record counting (partial+final hash aggregate). */
  val aggCountByKey = Query(
    "q_agg_count_by_key",
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** B1: TPC-H Q1-shaped pricing summary. All money math in exact
    * decimals; averages via exact-sum/count (bit-identical doubles). */
  val aggLinestatus = Query(
    "q_agg_linestatus",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |           (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .filter(col("l_shipdate") <= ts("2000-12-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
          .cast(DoubleType).as("sum_disc_price"),
        avgExact(col("l_extendedprice")).as("avg_price"),
        avgExact(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** B2: exact distinct count per group (expand + two-phase agg). */
  val aggDistinct = Query(
    "q_agg_distinct",
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")
  }

  /** B5: fact-fact equi-join on orderkey + monthly revenue rollup. At
    * bench scale Catalyst/AQE picks the join strategy; at 100 TB this is
    * a shuffle join on the key both tables would be bucketed by (A11). */
  val joinShuffle = Query(
    "q_join_shuffle",
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |           (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY order_month
      |ORDER BY order_month""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("order_month"))
      .agg(
        round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("order_month")
  }

  /** B6: left semi join — orders with at least one returned line. */
  val joinSemi = Query(
    "q_join_semi",
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |ORDER BY o_orderkey LIMIT 2000""".stripMargin) { (s, d) =>
    val returned = tbl(s, d, "lineitem").filter(col("l_returnflag") === "R")
    tbl(s, d, "orders")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
      .limit(2000)
  }

  /** B7: left anti join — customers with no order in 2001+. */
  val joinAnti = Query(
    "q_join_anti",
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
      |ORDER BY c_custkey LIMIT 2000""".stripMargin) { (s, d) =>
    val recent = tbl(s, d, "orders").filter(col("o_orderdate") >= ts("2001-01-01"))
    tbl(s, d, "customer")
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
      .limit(2000)
  }

  /** B8: equi-key + theta residual — lines shipped before their order
    * date (data-quality check). SMJ/BHJ with a residual filter. */
  val joinTheta = Query(
    "q_join_theta",
    """SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate < o_orderdate
      |ORDER BY l_orderkey, l_linenumber, l_shipdate, o_orderdate
      |LIMIT 2000""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .join(tbl(s, d, "orders"),
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") < col("o_orderdate"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")
      .limit(2000)
  }

  /** B9: top-k by price — compiles to TakeOrderedAndProject (per-partition
    * heap + driver merge; no global sort at any scale). */
  val topk = Query(
    "q_topk",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey
      |LIMIT 10""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .limit(10)
  }

  /** B16: string scalar functions (codegen'd built-ins, no UDFs). */
  val stringFuncs = Query(
    "q_string_funcs",
    """SELECT p_partkey,
      |  upper(p_name) AS name_upper,
      |  substring(p_name, 1, 12) AS name_prefix,
      |  concat_ws('-', p_brand, p_type) AS brand_type,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  (p_name LIKE '%a%') AS has_a
      |FROM part ORDER BY p_partkey LIMIT 2000""".stripMargin) { (s, d) =>
    tbl(s, d, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 12).as("name_prefix"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast(LongType).as("name_len"),
        col("p_name").like("%a%").as("has_a"))
      .orderBy("p_partkey")
      .limit(2000)
  }

  /** B17: date/time scalar functions over order dates. */
  val dateFuncs = Query(
    "q_date_funcs",
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
      |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS order_quarter,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002
      |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        month(col("o_orderdate")).cast(LongType).as("order_month"),
        date_trunc("quarter", col("o_orderdate")).as("order_quarter"),
        datediff(lit("2002-01-01").cast(DateType), col("o_orderdate").cast(DateType))
          .cast(LongType).as("days_to_2002"))
      .orderBy("o_orderkey")
      .limit(2000)
  }

  /** B18: math scalar functions in exact decimal (round/abs/ceil/floor/mod). */
  val mathFuncs = Query(
    "q_math_funcs",
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)), 0) AS BIGINT) AS price_round,
      |  CAST(abs(CAST(l_extendedprice AS DECIMAL(18,4)) - 50000) AS DOUBLE) AS dist_50k,
      |  CAST(ceil(CAST(l_discount AS DECIMAL(18,4)) * 100) AS BIGINT) AS disc_pct_ceil,
      |  CAST(floor(CAST(l_tax AS DECIMAL(18,4)) * 100) AS BIGINT) AS tax_pct_floor,
      |  l_orderkey % 7 AS key_mod7
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice
      |LIMIT 2000""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        round(dec("l_extendedprice"), 0).cast(LongType).as("price_round"),
        abs(dec("l_extendedprice") - lit(50000)).cast(DoubleType).as("dist_50k"),
        ceil(dec("l_discount") * 100).cast(LongType).as("disc_pct_ceil"),
        floor(dec("l_tax") * 100).cast(LongType).as("tax_pct_floor"),
        (col("l_orderkey") % 7).as("key_mod7"))
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(2000)
  }

  /** B3: hierarchical rollup over region → nation revenue. Dims broadcast;
    * grouping flags disambiguate rollup nulls from data nulls. */
  val rollup = Query(
    "q_rollup",
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  CAST(grouping(r_name) AS BIGINT) AS g_r,
      |  CAST(grouping(n_name) AS BIGINT) AS g_n
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      // customer scales linearly with sf — unhinted, AQE decides (a forced
      // broadcast OOMs at 100×); fixed-cardinality nation/region keep hints.
      .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("o_totalprice"))
      .createOrReplaceTempView("rollup_in")
    // SQL frontend: DataFrame rollup + grouping() over a join lineage trips
    // the analyzer's ambiguous-attribute check; the SQL path resolves fine.
    s.sql(
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(grouping(r_name) AS BIGINT) AS g_r,
        |  CAST(grouping(n_name) AS BIGINT) AS g_n
        |FROM rollup_in
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
  }

  /** B4: cube over order priority × status. */
  val cube = Query(
    "q_cube",
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_p,
      |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_s
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY g_p, g_s, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .cube("o_orderpriority", "o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        grouping(col("o_orderpriority")).cast(LongType).as("g_p"),
        grouping(col("o_orderstatus")).cast(LongType).as("g_s"))
      .orderBy(col("g_p"), col("g_s"),
        col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  /** B10: top-3 orders per priority via rank() (unique tie-break makes
    * rank deterministic). */
  val windowRank = Query(
    "q_window_rank",
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(rank() OVER (PARTITION BY o_orderpriority
      |                      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3
      |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    tbl(s, d, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast(LongType).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_orderpriority", "rnk", "o_orderkey")
  }

  /** B11: per-user running sum of event value in time order.
    *
    * SHIPS the two-stage prefix-sum plan ([[runningTwoStage]], r19): the
    * naive `PARTITION BY user_id` window ([[runningPlain]], kept as the
    * SkewSpec reference) serializes each user into one indivisible task
    * (SKEW_AUDIT_r18_century: 12.9× worse max-task under a 10%-hot
    * user). Exact decimal addition is associative, so chunk-local sums
    * plus per-chunk offsets reassemble the global prefix sum to the bit
    * — SkewSpec pins equality, `Audit @skewc` checksum-compares at 10M. */
  val windowRunning = Query(
    "q_window_running",
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events
      |ORDER BY user_id, ts, event_id
      |LIMIT 3000""".stripMargin) { (s, d) =>
    runningTwoStage(tbl(s, d, "events"))
      .orderBy("user_id", "ts", "event_id")
      .limit(3000)
  }

  /** The naive single-window running sum — the SkewSpec reference
    * [[runningTwoStage]] must reproduce bit-exactly. NOT the shipped
    * plan (indivisible hot-key partition, see [[windowRunning]]). */
  private[graft] def runningPlain(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    raw.select(col("user_id"), col("event_id"), col("ts"),
      sum(dec("value")).over(w).cast(DoubleType).as("running_value"))
  }

  /** SKEW-IMMUNE running sum — the prefix-sum decomposition of
    * [[runningPlain]] (SCALE.md r18b), and since r19 the plan
    * [[windowRunning]] ships. No indivisible hot partition: stage 1
    * computes running sums within (user_id, day) chunks — a hot user
    * spreads over its active days; stage 2 windows over the per-(user,
    * day) TOTALS (at most one row per user per day — metadata scale) to
    * get each chunk's starting offset; the join back is on (user_id,
    * day). Identical by exact-decimal associativity: local_sum + offset
    * = the global prefix sum, then ONE cast to double in both plans. */
  private[graft] def runningTwoStage(raw: DataFrame): DataFrame = {
    val ev = raw
      .select(col("user_id"), col("event_id"), col("ts"), dec("value").as("v"))
      .withColumn("day", to_date(col("ts")))
    val wLocal = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ev.withColumn("local_sum", sum(col("v")).over(wLocal))
    val wChunks = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ev.groupBy(col("user_id"), col("day"))
      .agg(sum(col("v")).as("day_sum"))
      .select(col("user_id"), col("day"),
        coalesce(sum(col("day_sum")).over(wChunks), lit(0).cast("decimal(28,4)"))
          .as("offset"))
    // null-safe join keys: a window PARTITION BY groups NULL keys into a
    // partition (and groupBy groups them the same way), so the join back
    // must match them too — a plain equi-join would silently drop every
    // NULL-user_id / NULL-ts row the plain window plan keeps
    local.as("l").join(offsets.as("o"),
        col("l.user_id") <=> col("o.user_id") && col("l.day") <=> col("o.day"))
      .select(col("l.user_id").as("user_id"), col("l.event_id").as("event_id"),
        col("l.ts").as("ts"),
        (col("l.local_sum") + col("o.offset")).cast(DoubleType).as("running_value"))
  }

  /** B12: 4-row moving average of order totals per customer (explicit
    * frame; exact decimal sum / frame count → bit-identical double). */
  val windowFrame = Query(
    "q_window_frame",
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) /
      |    count(*) OVER w AS moving_avg
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderdate, o_orderkey
      |LIMIT 3000""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, Window.currentRow)
    tbl(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (sum(dec("o_totalprice")).over(w).cast(DoubleType) /
          count(lit(1)).over(w)).as("moving_avg"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .limit(3000)
  }

  /** B13: UNION DISTINCT of customer keys seen in orders vs customer. */
  val setUnion = Query(
    "q_union",
    """SELECT o_custkey AS custkey FROM orders
      |UNION
      |SELECT c_custkey AS custkey FROM customer
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    tbl(s, d, "orders").select(col("o_custkey").as("custkey"))
      .union(tbl(s, d, "customer").select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy("custkey")
  }

  /** B14: INTERSECT — custkeys with orders and positive balance. */
  val setIntersect = Query(
    "q_intersect",
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    tbl(s, d, "orders").select(col("o_custkey").as("custkey"))
      .intersect(tbl(s, d, "customer").filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** B15: EXCEPT — custkeys with no 2001+ order (distinct physical op
    * from the B7 anti join). */
  val setExcept = Query(
    "q_except",
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '2001-01-01'
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    tbl(s, d, "customer").select(col("c_custkey").as("custkey"))
      .except(tbl(s, d, "orders")
        .filter(col("o_orderdate") >= ts("2001-01-01"))
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** B19: array higher-order functions over embeddings — size, raw first
    * element, L2 norm via a sequential fold (codegen'd, no UDF). */
  val arrayFuncs = Query(
    "q_array_funcs",
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  embedding[1] AS first_val,
      |  round(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    tbl(s, d, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))), 6).as("l2_norm"))
      .orderBy("vec_id")
  }

  /** B20: JSON path extraction over events.props, aggregated. */
  val jsonFuncs = Query(
    "q_json_funcs",
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    tbl(s, d, "events")
      .groupBy("event_type")
      .agg(
        sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** B21: GROUPING SETS via the SQL frontend (spark.sql over a temp view). */
  val groupingSets = Query(
    "q_grouping_sets",
    """SELECT lang, source, count(*) AS n,
      |  CAST(grouping(lang) AS BIGINT) AS g_lang,
      |  CAST(grouping(source) AS BIGINT) AS g_source
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), ())
      |ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST""".stripMargin) { (s, d) =>
    tbl(s, d, "documents").createOrReplaceTempView("documents_gs")
    s.sql(
      """SELECT lang, source, count(*) AS n,
        |  CAST(grouping(lang) AS BIGINT) AS g_lang,
        |  CAST(grouping(source) AS BIGINT) AS g_source
        |FROM documents_gs
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST""".stripMargin)
  }

  /** TPC-H Q3-shaped composite: segment filter → 3-way join → revenue
    * per order → top 10 (the canonical scan→join→agg→topk workload;
    * plans as two broadcast-or-shuffle joins + partial agg +
    * TakeOrdered). */
  val tpchQ3 = Query(
    "q_tpch_q3",
    """SELECT l_orderkey,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |       (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-30'
      |  AND l_shipdate > TIMESTAMP '1998-06-30'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin) { (s, d) =>
    tbl(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(tbl(s, d, "orders").filter(col("o_orderdate") < ts("1998-06-30")),
        col("c_custkey") === col("o_custkey"))
      .join(tbl(s, d, "lineitem").filter(col("l_shipdate") > ts("1998-06-30")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
        .cast(DoubleType).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped composite: region-local supplier revenue per
    * nation in one year — the 6-way star join (two broadcast dims, two
    * fact joins, local-supplier residual). */
  val tpchQ5 = Query(
    "q_tpch_q5",
    """SELECT n_name,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |       (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    tbl(s, d, "customer")
      .join(tbl(s, d, "orders")
        .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(tbl(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      // supplier scales LINEARLY with the fact tables in TPC-H — no
      // broadcast() hint (a hint overrides autoBroadcastJoinThreshold and
      // forces an OOM at 100×). AQE still picks broadcast at today's
      // sizes; only fixed-cardinality dims (nation/region) keep hints.
      .join(tbl(s, d, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
        .cast(DoubleType).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** TPC-H Q7-shaped composite: cross-nation shipping volume per year —
    * the SAME dimension table joined in TWO roles (supplier nation vs
    * customer nation), both nation roles broadcast, over the fact-fact
    * orderkey join. customer/supplier are deliberately UNHINTED: they
    * scale linearly with the facts, so AQE decides per run. */
  val tpchQ7 = Query(
    "q_tpch_q7",
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |       (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS volume
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
    val n1 = tbl(s, d, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = tbl(s, d, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    tbl(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01"))
      .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      // customer/supplier scale linearly with the facts — unhinted (see
      // q_tpch_q5 note); AQE broadcasts them while they fit, shuffles
      // when they don't. The two nation roles stay hinted (25 rows).
      .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
        .cast(DoubleType).as("volume"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    * aggregate over the fact drives a semi join back onto itself plus
    * the order/customer lookups. The heavy side (per-order quantity
    * sums) is partial+final aggregated BEFORE any join — the only rows
    * that reach the joins are the rare qualifying orders, and the
    * customer lookup broadcasts. */
  val tpchQ18 = Query(
    "q_tpch_q18",
    """WITH big AS (
      |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(l_quantity) > 200)
      |SELECT c.c_custkey, c.c_name, o.o_orderkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice,
      |  b.sum_qty
      |FROM big b
      |JOIN orders o ON b.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    val big = tbl(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("qty_raw"))
      .filter(col("qty_raw") > 200)
      .select(col("l_orderkey"), col("qty_raw").cast(LongType).as("sum_qty"))
    big
      .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      // customer scales linearly with sf — unhinted, AQE decides (forced
      // broadcast of a linear table OOMs at 100×).
      .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        dec("o_totalprice").cast(DoubleType).as("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  }

  /** Full-outer join with side classification: unmatched rows on either
    * side survive with nulls and are bucketed by which side matched.
    * Shuffles both sides on the key like any fact-fact join; the
    * null-extension is free in the SMJ. (TPC-H guarantees every order a
    * customer, so order_only is structurally empty — asserted by the
    * oracle's identical classification.) */
  val joinOuter = Query(
    "q_join_outer",
    """SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
      |            WHEN o_custkey IS NULL THEN 'customer_only'
      |            ELSE 'both' END AS side,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT coalesce(c_custkey, o_custkey)) AS BIGINT) AS n_keys
      |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY side ORDER BY side""".stripMargin) { (s, d) =>
    val c = tbl(s, d, "customer").select(col("c_custkey"))
    val o = tbl(s, d, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .withColumn("side",
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both"))
      .groupBy("side")
      .agg(count(lit(1)).as("n"),
        countDistinct(coalesce(col("c_custkey"), col("o_custkey"))).as("n_keys"))
      .orderBy("side")
  }

  /** MapType surface: per-priority status→count maps built with
    * `map_from_entries`, reshaped with `transform_values` + `map_filter`,
    * and serialized to a sorted `k=v` string (maps never reach the
    * output schema — the driver's hash can't compare them; the oracle
    * replays the same reshaping on plain lists). */
  val mapFuncs = Query(
    "q_map_funcs",
    """WITH c AS (
      |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
      |    count(*) AS n
      |  FROM orders GROUP BY prio, status)
      |SELECT prio,
      |  array_to_string(list_sort(list(status || '=' || CAST(n * 2 AS VARCHAR))
      |    FILTER (WHERE n > 10)), ',') AS doubled_big
      |FROM c GROUP BY prio ORDER BY prio""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"))
      .groupBy("prio")
      .agg(map_from_entries(collect_list(struct(col("status"), col("n")))).as("m"))
      .withColumn("m2", map_filter(
        transform_values(col("m"), (_, v) => v * 2), (_, v) => v > 20))
      .select(col("prio"),
        array_join(array_sort(transform(map_entries(col("m2")),
          e => concat(e("key"), lit("="), e("value").cast(StringType)))), ",")
          .as("doubled_big"))
      .orderBy("prio")
  }

  /** TPC-H Q10-shaped composite: returned-item revenue per customer in
    * one quarter, top 20 — fact-fact join on the filtered quarter plus a
    * broadcast nation dim; partial agg under the exchange, TakeOrdered
    * above (the returns-analysis workload). */
  val tpchQ10 = Query(
    "q_tpch_q10",
    """SELECT c_custkey, c_name, n_name,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |       (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin) { (s, d) =>
    tbl(s, d, "customer")
      .join(tbl(s, d, "orders")
        .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(tbl(s, d, "lineitem").filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
        .cast(DoubleType).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q6 shape: the forecasting-revenue-change scan — a pure
    * filter + single exact-decimal aggregate with NO join and NO
    * group-by. At 100 TB this is the canonical "pushdown or die" query:
    * the date/discount/quantity predicates all reach the parquet reader
    * (row-group min/max skip), and the aggregate is one partial+final
    * pass with a scalar result. */
  val tpchQ6 = Query(
    "q_tpch_q6",
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |                CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(dec("l_extendedprice") * dec("l_discount")), 4)
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q14 shape: promo-revenue share — a fact⋈dim join where the
    * aggregate is a conditional-sum ratio. Both sums are exact decimals;
    * the single final division is the only inexact step (correctly
    * rounded identically in both engines). The part dim broadcasts. */
  val tpchQ14 = Query(
    "q_tpch_q14",
    """SELECT round(100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE), 6)
      |    AS promo_share_pct,
      |  CAST(promo AS DOUBLE) AS promo_revenue
      |FROM (
      |  SELECT
      |    sum(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
      |             (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |        (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS total
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      |    AND l_shipdate <  TIMESTAMP '1997-09-01')""".stripMargin) { (s, d) =>
    val disc = dec("l_extendedprice") * (oneDec - dec("l_discount"))
    tbl(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-06-01") &&
        col("l_shipdate") < ts("1997-09-01"))
      // part scales linearly with sf — unhinted, AQE decides (forced
      // broadcast of a linear table OOMs at 100×).
      .join(tbl(s, d, "part"), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc)
          .otherwise(lit(0).cast(DecimalType(18, 4)))).as("promo"),
        sum(disc).as("total"))
      .select(
        round(lit(100.0) * col("promo").cast(DoubleType) /
          col("total").cast(DoubleType), 6).as("promo_share_pct"),
        col("promo").cast(DoubleType).as("promo_revenue"))
  }

  /** TPC-H Q19 shape: disjunctive multi-attribute predicates across the
    * join — three (brand, size-range, quantity-range) arms OR'd together.
    * Catalyst extracts the common `p_size >= 1` / join key conjuncts and
    * pushes them below the join; the per-arm residual evaluates post-join
    * in codegen. The discount-revenue aggregate is exact decimal. */
  val tpchQ19 = Query(
    "q_tpch_q19",
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |  (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE)
      |    AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity >= 10 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin) { (s, d) =>
    val arm = (brand: String, szHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity") >= qLo && col("l_quantity") <= qHi
    tbl(s, d, "lineitem")
      // part scales linearly with sf — unhinted, AQE decides (forced
      // broadcast of a linear table OOMs at 100×).
      .join(tbl(s, d, "part"), col("p_partkey") === col("l_partkey"))
      .filter(arm("Brand#12", 15, 1, 11) || arm("Brand#23", 25, 10, 20) ||
        arm("Brand#34", 35, 20, 30))
      .agg(round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    * join so zero-order customers survive, then TWO stacked aggregations
    * (count per customer, then histogram of those counts). Both
    * aggregates are partial+final; the second one runs over an input
    * already the size of the customer dim. */
  val tpchQ13 = Query(
    "q_tpch_q13",
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
    tbl(s, d, "customer").select("c_custkey")
      .join(tbl(s, d, "orders").select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** TPC-H Q22 shape: "global sales opportunity" — customers with
    * above-average positive balance and no RECENT orders. A scalar aggregate
    * subquery (broadcast 1-row), an anti join, and a final aggregate:
    * the average is exact (decimal sum / count, one IEEE division),
    * the balance sum exact decimal surfaced as cents. */
  val tpchQ22 = Query(
    "q_tpch_q22",
    """WITH ab AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_custs,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer, ab
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val cust = tbl(s, d, "customer")
    val ab = cust.filter(col("c_acctbal") > 0)
      .agg(avgExact(col("c_acctbal")).as("avg_bal"))
    cust.crossJoin(broadcast(ab))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(tbl(s, d, "orders")
        .filter(col("o_orderdate") >= ts("2000-01-01")).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_custs"),
        sum((dec("c_acctbal") * 100).cast(LongType)).cast(LongType).as("bal_cents"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q8 shape: national market share — of all revenue from EUROPE
    * customers, the fraction supplied by NATION_3 suppliers, per order
    * year. The widest dimension constellation in the suite: lineitem ⋈
    * orders ⋈ customer ⋈ nation(customer role) filtered to the region,
    * plus supplier ⋈ nation(supplier role) — five broadcastable dims
    * around one fact chain, the same nation dim in two roles (as Q7).
    * Numerator/denominator are exact decimal sums; one final IEEE
    * division, rounded. */
  val tpchQ8 = Query(
    "q_tpch_q8",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  round(
      |    CAST(round(sum(CASE WHEN sn.n_name = 'NATION_3'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
      |           (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE) /
      |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |           (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE),
      |    6) AS mkt_share
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE r_name = 'EUROPE'
      |GROUP BY yr
      |ORDER BY yr""".stripMargin) { (s, d) =>
    val disc = dec("l_extendedprice") * (oneDec - dec("l_discount"))
    val cn = tbl(s, d, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val sn = tbl(s, d, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))
    tbl(s, d, "lineitem")
      .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .join(broadcast(tbl(s, d, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      // supplier is linear-scaling — unhinted (see q_tpch_q5 note).
      .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"))
      .agg(
        round(sum(when(col("sn_name") === "NATION_3", disc)
          .otherwise(lit(0).cast(DecimalType(18, 4)))), 4).cast(DoubleType).as("nat"),
        round(sum(disc), 4).cast(DoubleType).as("tot"))
      .select(col("yr"), round(col("nat") / col("tot"), 6).as("mkt_share"))
      .orderBy("yr")
  }

  /** TPC-H Q2 shape: min-cost supplier per part in a region. The testdata
    * has no partsupp, so the part↔supplier association is "suppliers who
    * shipped the part" (distinct (l_partkey, l_suppkey) from the fact)
    * and "cost" is s_acctbal. The classic correlated-min subquery is
    * expressed as a rank-1 window per part (what Catalyst decorrelates
    * to anyway), tie-broken on s_suppkey so the result is total-order
    * deterministic. At 100 TB the distinct-pairs projection shuffles on
    * (partkey, suppkey) only — two longs per row — and the dims hash in
    * after the heavy dedup, never before. */
  val tpchQ2 = Query(
    "q_tpch_q2",
    """WITH shippers AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |eligible AS (
      |  SELECT p_partkey, p_retailprice, s_suppkey, s_name, s_acctbal, n_name,
      |    row_number() OVER (PARTITION BY p_partkey
      |                       ORDER BY s_acctbal, s_suppkey) AS rn
      |  FROM part
      |  JOIN shippers ON p_partkey = l_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 10)
      |SELECT p_partkey, p_retailprice, s_name, n_name, s_acctbal
      |FROM eligible WHERE rn = 1
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    // The part predicate (type + size) is selective, so the eligible key
    // set pre-filters the fact BELOW the pair-distinct (broadcast semi
    // join on the scan): the distinct exchange then carries only pairs
    // of eligible parts instead of every (partkey, suppkey) in the fact.
    // Equivalent by construction — distinct-then-join-on-filtered-keys ≡
    // semi-filter-then-distinct-then-join, since both keep exactly the
    // distinct pairs whose partkey survives the part predicate. The semi
    // side is unhinted (part scales linearly — the q_tpch_q5 rule): the
    // planner broadcasts it at verify/bench scale, AQE decides at 100 TB.
    val eligibleParts = tbl(s, d, "part")
      .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
    val shippers = tbl(s, d, "lineitem").select("l_partkey", "l_suppkey")
      .join(eligibleParts.select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .distinct()
    // supplier scales linearly — unhinted (q_tpch_q5 note); nation/region
    // are fixed-cardinality and keep their broadcast hints.
    val sup = tbl(s, d, "supplier")
      .join(broadcast(tbl(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
    eligibleParts
      .join(shippers, col("p_partkey") === col("l_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("p_partkey").orderBy(col("s_acctbal"), col("s_suppkey"))))
      .filter(col("rn") === 1)
      .select("p_partkey", "p_retailprice", "s_name", "n_name", "s_acctbal")
      .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q4 shape: order-priority checking — a correlated EXISTS that
    * Spark plans as a LEFT SEMI join with a non-equi residual
    * (l_shipdate > o_orderdate + 60 days stands in for the reference
    * schema's commitdate < receiptdate, which the testdata lacks). The
    * semi join never multiplies rows, so the aggregate input is bounded
    * by the filtered orders — the shape that survives a 100× fact
    * scale-up unchanged. */
  val tpchQ4 = Query(
    "q_tpch_q4",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |  AND o_orderdate < TIMESTAMP '1997-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1997-07-01") &&
        col("o_orderdate") < ts("1997-10-01"))
      .join(tbl(s, d, "lineitem"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q9 shape: product-line profit by supplier nation and ship
    * year. Without partsupp, cost is proxied as 0.1 × retailprice ×
    * quantity. Both sums stay exact decimals to the end (the qty×price
    * product is cast back to scale 4 — exact, the inputs carry ≤2
    * fractional digits — keeping the unscaled sum far below 2^53 at any
    * sf); the 0.1 factor and subtraction are the only IEEE steps,
    * identical in both engines. Part filter prunes before the join. */
  val tpchQ9 = Query(
    "q_tpch_q9",
    """SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS yr,
      |  round(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |        (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE)
      |      - 0.1 * CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,4)) *
      |        CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,4))) AS DOUBLE), 4) AS profit
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, yr
      |ORDER BY n_name, yr""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      // part/supplier scale linearly — unhinted, AQE decides.
      .join(tbl(s, d, "part").filter(col("p_name").like("%widget%")),
        col("p_partkey") === col("l_partkey"))
      .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).cast(LongType).as("yr"))
      .agg(
        round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
          .cast(DoubleType).as("rev"),
        sum((dec("p_retailprice") * dec("l_quantity")).cast(DecimalType(18, 4)))
          .cast(DoubleType).as("cost"))
      .select(col("n_name"), col("yr"),
        round(col("rev") - lit(0.1) * col("cost"), 4).as("profit"))
      .orderBy("n_name", "yr")
  }

  /** TPC-H Q11 shape: important-stock scan — per-part value (for one
    * region's suppliers) kept only where it exceeds a fraction of the
    * GLOBAL value: a group-by against a broadcast scalar-aggregate
    * subquery. The global total is its own exact decimal sum over the
    * same filtered fact (never a float sum of per-group floats, which
    * would be partition-order dependent), so the threshold compare is
    * bit-deterministic in both engines. */
  val tpchQ11 = Query(
    "q_tpch_q11",
    """WITH base AS (
      |  SELECT l_partkey,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) *
      |      (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4))) AS v
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |v AS (SELECT l_partkey, CAST(round(sum(v), 4) AS DOUBLE) AS value
      |      FROM base GROUP BY l_partkey),
      |tot AS (SELECT CAST(round(sum(v), 4) AS DOUBLE) AS total FROM base)
      |SELECT l_partkey, value
      |FROM v, tot
      |WHERE value > 0.001 * total
      |ORDER BY value DESC, l_partkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    val base = tbl(s, d, "lineitem")
      .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("l_partkey"),
        (dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("v"))
    val perPart = base.groupBy("l_partkey")
      .agg(round(sum(col("v")), 4).cast(DoubleType).as("value"))
    val total = base.agg(round(sum(col("v")), 4).cast(DoubleType).as("total"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value") > lit(0.001) * col("total"))
      .select("l_partkey", "value")
      .orderBy(desc("value"), col("l_partkey"))
      .limit(100)
  }

  /** TPC-H Q12 shape: shipping-class vs order-priority matrix — a
    * fact-fact join whose aggregate is two complementary conditional
    * counts (the CASE-sum idiom). l_returnflag stands in for the
    * reference schema's l_shipmode; "late" is shipdate ≥ orderdate+30d.
    * One shuffle on orderkey, partial CASE-sums under the exchange. */
  val tpchQ12 = Query(
    "q_tpch_q12",
    """SELECT l_returnflag AS ship_class,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_returnflag IN ('A','R')
      |  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
      |  AND l_shipdate >= TIMESTAMP '1998-01-01'
      |  AND l_shipdate < TIMESTAMP '1999-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    tbl(s, d, "orders")
      .join(tbl(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= ts("1998-01-01") &&
          col("l_shipdate") < ts("1999-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("ship_class")
  }

  /** TPC-H Q15 shape: top supplier — a named revenue view consumed
    * twice: once per-supplier, once reduced to its scalar max, equality
    * against the broadcast 1-row max (ties all surface, keyed order).
    * The revenue doubles come from exact decimal sums, so the equality
    * compare is safe; the view is computed once per consumer and both
    * consumers are one scan + one hash agg. */
  val tpchQ15 = Query(
    "q_tpch_q15",
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |         (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE)
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val revenue = tbl(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1997-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
        .cast(DoubleType).as("total_revenue"))
    val best = revenue.agg(max(col("total_revenue")).as("mx"))
    tbl(s, d, "supplier")
      .join(revenue, col("s_suppkey") === col("supplier_no"))
      .crossJoin(broadcast(best))
      .filter(col("total_revenue") === col("mx"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 shape: small-quantity-order revenue — the correlated
    * scalar-average subquery (each line compared against 20% of ITS
    * part's average quantity), decorrelated to a per-part aggregate
    * joined back to the fact, which is exactly Catalyst's own rewrite.
    * Quantities are integral doubles, so the averages are exact in both
    * engines and the strict < threshold cannot straddle an ulp. The
    * per-part average is computed only for the brand's parts (identical
    * result, a fraction of the work). */
  val tpchQ17 = Query(
    "q_tpch_q17",
    """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4)
      |    AS avg_yearly,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin) { (s, d) =>
    val brandParts = tbl(s, d, "part")
      .filter(col("p_brand") === "Brand#3").select("p_partkey")
    val brandLines = tbl(s, d, "lineitem")
      .join(brandParts, col("l_partkey") === col("p_partkey"))
    val avgQty = brandLines.groupBy(col("l_partkey").as("ap_key"))
      .agg(avg(col("l_quantity")).as("avg_q"))
    brandLines
      .join(avgQty, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_q"))
      .agg(round(sum(dec("l_extendedprice")).cast(DoubleType) / 7.0, 4).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q20 shape: suppliers with heavy shipments of selected parts —
    * the nested-IN pattern (part name scan → fact group-having → supplier
    * membership), planned as two stacked LEFT SEMI joins, so no row ever
    * multiplies and the having-aggregate input is pre-pruned by the part
    * semi join. Quantity sums are integral-exact. */
  val tpchQ20 = Query(
    "q_tpch_q20",
    """SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |      AND l_shipdate >= TIMESTAMP '1997-01-01'
      |      AND l_shipdate < TIMESTAMP '1998-01-01'
      |    GROUP BY l_suppkey
      |    HAVING sum(l_quantity) > 50)
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val redParts = tbl(s, d, "part")
      .filter(col("p_name").like("red%")).select("p_partkey")
    val heavy = tbl(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey")
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 50)
      .select("l_suppkey")
    tbl(s, d, "supplier")
      .join(broadcast(tbl(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21 shape: suppliers who kept orders waiting — the
    * EXISTS + NOT-EXISTS pair over the SAME fact in three roles: this
    * supplier's late line, any other supplier on the order, no OTHER
    * supplier also late. Planned as a semi join then an anti join, both
    * equi on orderkey with a non-equi suppkey residual — row counts only
    * ever shrink, and the late-lines projection (two longs) is computed
    * once and reused for both probe sides. l_shipdate > o_orderdate+60d
    * proxies the reference schema's receipt/commit lateness. */
  val tpchQ21 = Query(
    "q_tpch_q21",
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderstatus = 'F' AND r_name = 'ASIA'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin) { (s, d) =>
    val ordersF = tbl(s, d, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    // One-pass aggregate shape (r21): the EXISTS/NOT-EXISTS pair over the
    // same fact is a per-order predicate — "some other supplier on the
    // order, and this supplier is the ONLY late one" — so instead of a
    // semi join + an anti join that each shuffle a lineitem-scale probe
    // (the r20 plan's two SortMergeJoins), aggregate once per
    // (orderkey, suppkey) and once per orderkey: an order qualifies iff
    // it has >1 distinct supplier and exactly 1 late supplier, and that
    // supplier's numwait contribution is its late-line count there.
    // Equivalence: each original l1 row passes EXISTS ⇔ another distinct
    // supplier shipped the order, and passes NOT EXISTS ⇔ no OTHER
    // supplier was late — conditions on (order, supplier) only, so all
    // of s's late lines in a qualifying order count, which is exactly
    // sum(n_late) of the unique late supplier. Null l_suppkey rows are
    // dropped up front: the original's `<>` comparisons never match NULL
    // and the supplier equi-join never keeps it, so this reproduces the
    // join semantics verbatim on poison data too.
    val perSupp = tbl(s, d, "lineitem")
      .filter(col("l_suppkey").isNotNull)
      .join(ordersF, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        1L).otherwise(0L)).as("n_late"))
    val qualified = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("n_late") > 0, 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("n_late") > 0, col("l_suppkey"))).as("late_supp"),
        max(when(col("n_late") > 0, col("n_late"))).as("late_lines"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
    val supRegion = tbl(s, d, "supplier")
      .join(broadcast(tbl(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name")
    qualified
      .join(supRegion, col("late_supp") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(20)
  }

  /** TPC-H Q16 (parts/supplier relationship), shaped to the testdata
    * star schema: no `partsupp` table ships, so the part↔supplier
    * relation is the DISTINCT (l_partkey, l_suppkey) projection of
    * lineitem — the same reshaping q2/q11/q20 use — and the spec's
    * customer-complaints exclusion becomes the suppliers in deficit
    * (s_acctbal < 0). Plan shape: the pair projection is one map-side-
    * combinable distinct over two longs; the part predicate prunes
    * BEFORE the join (brand/type/size reach the parquet scan); the
    * excluded-supplier NOT IN is an anti join against a supplier-
    * fraction AQE broadcasts while it fits (unhinted — supplier scales
    * linearly, the q_tpch_q5 rule). The spec's inner DISTINCT pair
    * projection is NOT materialized: count(DISTINCT l_suppkey) absorbs
    * duplicate pairs, so the part predicate (~13% selectivity) prunes
    * the fact rows BEFORE the only shuffle instead of paying a full
    * 2-long distinct over every pair first. */
  val tpchQ16 = Query(
    "q_tpch_q16",
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#11' AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, d) =>
    val inDeficit = tbl(s, d, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val parts = tbl(s, d, "part")
      .filter(col("p_brand") =!= "Brand#11" && !col("p_type").like("PROMO%") &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    tbl(s, d, "lineitem").select("l_partkey", "l_suppkey")
      .join(inDeficit, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }

  /** LATERAL correlated subquery: each customer's two most expensive
    * orders via a per-row dependent subquery — the SQL-standard sibling
    * of the ranked-window top-k-per-group (Catalyst decorrelates the
    * DomainJoin into a join + window under the hood, so the physical
    * plan converges to the same scalable shape, which is the point:
    * correlation is a frontend convenience, not an execution model). */
  val lateralTopk = Query(
    "q_lateral_topk",
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |           WHERE o_custkey = c_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey
      |LIMIT 1000""".stripMargin) { (s, d) =>
    tbl(s, d, "customer").createOrReplaceTempView("graft_lat_c")
    tbl(s, d, "orders").createOrReplaceTempView("graft_lat_o")
    s.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM graft_lat_c,
        |  LATERAL (SELECT o_orderkey, o_totalprice FROM graft_lat_o
        |           WHERE o_custkey = c_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 1000""".stripMargin)
  }

  /** INTERSECT ALL / EXCEPT ALL — the multiset set operations (distinct
    * physical operators from the DISTINCT forms already covered: they
    * keep min(m, n) / max(0, m-n) duplicate multiplicities, planned as
    * aggregate-with-counts rather than dedup). Counted per branch so the
    * result stays small and totally ordered. */
  val setOpsAll = Query(
    "q_setops_all",
    """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
      |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'F'),
      |i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
      |x AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
      |SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT k) AS BIGINT) AS n_keys FROM i
      |UNION ALL
      |SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT k) AS BIGINT) AS n_keys FROM x
      |ORDER BY op""".stripMargin) { (s, d) =>
    val li = tbl(s, d, "lineitem")
    val a = li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
    val b = li.filter(col("l_linestatus") === "F").select(col("l_suppkey").as("k"))
    val i = a.intersectAll(b).agg(count(lit(1)).as("n"),
      countDistinct(col("k")).as("n_keys")).withColumn("op", lit("intersect_all"))
    val x = a.exceptAll(b).agg(count(lit(1)).as("n"),
      countDistinct(col("k")).as("n_keys")).withColumn("op", lit("except_all"))
    i.unionByName(x).select("op", "n", "n_keys").orderBy("op")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics CDC/merge
    * pipelines need when the join key is legitimately nullable. Keys are
    * NULLed deterministically (every 97th order) on both sides. */
  val nullsafeJoin = Query(
    "q_nullsafe_join",
    """WITH a AS (
      |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderkey END AS k,
      |    o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
      |b AS (
      |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderkey END AS k,
      |    o_orderpriority FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_matches
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin) { (s, d) =>
    val o = tbl(s, d, "orders")
    val nullK = when(col("o_orderkey") % 97 === 0, lit(null).cast(LongType))
      .otherwise(col("o_orderkey"))
    val a = o.filter(col("o_orderkey") % 2 === 0)
      .select(nullK.as("ka"), col("o_totalprice"))
    val b = o.filter(col("o_orderkey") % 3 === 0)
      .select(nullK.as("kb"), col("o_orderpriority"))
    a.join(b, col("ka") <=> col("kb"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("ka").isNull, 1L).otherwise(0L)).as("n_null_matches"))
  }

  val queries: Seq[Query] = Seq(
    tpchQ3, tpchQ5, tpchQ7, tpchQ18, tpchQ10, tpchQ6, tpchQ14, tpchQ19,
    tpchQ13, tpchQ22, tpchQ8, tpchQ2, tpchQ4, tpchQ9, tpchQ11, tpchQ12,
    tpchQ15, tpchQ16, tpchQ17, tpchQ20, tpchQ21, lateralTopk, setOpsAll, nullsafeJoin,
    joinOuter, mapFuncs,
    scanProject, filterRange, joinBroadcast, aggCountByKey,
    aggLinestatus, aggDistinct, rollup, cube, joinShuffle, joinSemi,
    joinAnti, joinTheta, topk, windowRank, windowRunning, windowFrame,
    setUnion, setIntersect, setExcept, stringFuncs, dateFuncs, mathFuncs,
    arrayFuncs, jsonFuncs, groupingSets)
}
