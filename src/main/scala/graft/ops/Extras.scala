package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

/** Second-wave relational/pipeline coverage: wide pivot, unpivot (melt),
  * exact percentiles, deterministic sampling/splitting, and the salted
  * two-stage aggregation pattern (the skew weapon at 100 TB, verified
  * equal to the direct aggregate by the oracle).
  */
object Extras {

  /** Wide pivot: order counts by year × status as columns
    * (`groupBy().pivot()` — the relational transpose of A4's dense
    * combine). Explicit pivot values keep the plan single-pass. */
  val pivotWide = Query(
    "q_pivot_wide",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      |FROM orders GROUP BY y ORDER BY y""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .groupBy(year(col("o_orderdate")).cast(LongType).as("y"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("y"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("y")
  }

  /** Unpivot/melt: three money measures into (measure, value) rows —
    * the inverse of pivot, a single Expand node (no shuffle). */
  val unpivot = Query(
    "q_unpivot",
    """SELECT l_orderkey, l_linenumber, measure, value
      |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
      |      FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice LIMIT 1000)
      |UNPIVOT (value FOR measure IN (l_extendedprice, l_discount, l_tax))
      |ORDER BY l_orderkey, l_linenumber, value, measure""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(1000)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy("l_orderkey", "l_linenumber", "value", "measure")
  }

  /** Exact percentiles (sort-based `percentile`, not the approx sketch —
    * the hash gate needs exactness) per group, rounded. */
  val percentile = Query(
    "q_percentile",
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"))
      .orderBy("l_returnflag")
  }

  /** Deterministic train/valid/test split by arithmetic key hash
    * (Knuth multiplicative) — stable across runs/engines/partitionings,
    * the reproducible-split primitive every training pipeline needs. */
  val sampleSplit = Query(
    "q_sample_split",
    """SELECT split, count(*) AS n, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
      |FROM (SELECT o_custkey,
      |        CASE WHEN (o_orderkey * 2654435761) % 100 < 80 THEN 'train'
      |             WHEN (o_orderkey * 2654435761) % 100 < 90 THEN 'valid'
      |             ELSE 'test' END AS split
      |      FROM orders)
      |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    val h = (col("o_orderkey") * 2654435761L) % 100
    tbl(s, d, "orders")
      .select(col("o_custkey"),
        when(h < 80, "train").when(h < 90, "valid").otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("split")
  }

  /** Salted two-stage aggregation — the skew pattern for 100 TB hot
    * keys: stage 1 aggregates (key, salt) partitions, stage 2 merges
    * per key. The oracle is the DIRECT single-stage aggregate, proving
    * the decomposition exact (integer cents make both stages lossless). */
  val aggSalted = Query(
    "q_agg_salted",
    """SELECT l_returnflag, CAST(sum(cents) AS BIGINT) AS total_cents, count(*) AS n
      |FROM (SELECT l_returnflag,
      |        CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |      FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val cents = (dec("l_extendedprice") * 100).cast(LongType)
    tbl(s, d, "lineitem")
      .select(col("l_returnflag"), cents.as("cents"),
        pmod(col("l_orderkey"), lit(8)).as("salt"))
      .groupBy("l_returnflag", "salt") // stage 1: spread hot keys over salts
      .agg(sum(col("cents")).as("part_cents"), count(lit(1)).as("part_n"))
      .groupBy("l_returnflag")         // stage 2: merge per real key
      .agg(sum(col("part_cents")).cast(LongType).as("total_cents"),
        sum(col("part_n")).cast(LongType).as("n"))
      .orderBy("l_returnflag")
  }

  /** Window navigation functions: lead/lag/first/last/ntile over the
    * per-customer order timeline (the remaining window-function family
    * B10–B12 didn't cover). */
  val windowNav = Query(
    "q_window_nav",
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  lag(o_orderkey) OVER w AS prev_order,
      |  lead(o_orderkey) OVER w AS next_order,
      |  first_value(o_orderkey) OVER w AS first_order,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey
      |LIMIT 3000""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    tbl(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        first(col("o_orderkey")).over(w).as("first_order"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .limit(3000)
  }

  /** Regex extraction (capture groups) — parses the numeric payload out
    * of the JSON-ish props string; same class pattern in Java and RE2. */
  val regexpExtract = Query(
    "q_regexp_extract",
    """SELECT event_id,
      |  regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str,
      |  CAST(CASE WHEN regexp_extract(props, '"k": ([0-9]+)', 1) = ''
      |            THEN NULL
      |            ELSE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) END AS BIGINT) AS k_num
      |FROM events
      |ORDER BY event_id
      |LIMIT 2000""".stripMargin) { (s, d) =>
    val k = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    tbl(s, d, "events")
      .select(col("event_id"), k.as("k_str"),
        when(k === "", lit(null)).otherwise(k).cast(LongType).as("k_num"))
      .orderBy("event_id")
      .limit(2000)
  }

  /** MERGE/upsert semantics (A8/A9 completed into a full upsert): a
    * delta batch overwrites matching keys and inserts the rest — the
    * full-outer-join + coalesce plan a MERGE INTO compiles to. The
    * delta here re-prices every 10th order, so key overlap is real. */
  val mergeUpsert = Query(
    "q_merge_upsert",
    """WITH delta AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) + 100 AS new_price
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT CAST(year(o_orderdate) AS BIGINT) AS y, count(*) AS n,
      |  CAST(sum(coalesce(new_price, CAST(o_totalprice AS DECIMAL(18,4)))) AS DOUBLE) AS total
      |FROM orders LEFT JOIN delta USING (o_orderkey)
      |GROUP BY y ORDER BY y""".stripMargin) { (s, d) =>
    val base = tbl(s, d, "orders")
    val delta = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (dec("o_totalprice") + 100).as("new_price"))
    base.join(delta, Seq("o_orderkey"), "left")
      .groupBy(year(col("o_orderdate")).cast(LongType).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("new_price"), dec("o_totalprice"))).cast(DoubleType).as("total"))
      .orderBy("y")
  }

  /** Fixed-width histogram of order totals — arithmetic bucketing is
    * identical across engines (one double division + floor). */
  val histogram = Query(
    "q_histogram",
    """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(min(o_totalprice) AS DOUBLE) AS lo,
      |  CAST(max(o_totalprice) AS DOUBLE) AS hi
      |FROM orders
      |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .groupBy(least(floor(col("o_totalprice") / 50000.0), lit(11)).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).cast(DoubleType).as("lo"),
        max(col("o_totalprice")).cast(DoubleType).as("hi"))
      .orderBy("bucket")
  }

  /** Correlated scalar subquery (RewriteCorrelatedScalarSubquery — a
    * distinct analyzer/optimizer path from the join operators; Catalyst
    * decorrelates it into an aggregate + left outer join). */
  val scalarSubquery = Query(
    "q_scalar_subquery",
    """SELECT c_custkey,
      |  CAST((SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS BIGINT) AS n_orders
      |FROM customer
      |ORDER BY c_custkey
      |LIMIT 2000""".stripMargin) { (s, d) =>
    tbl(s, d, "customer").createOrReplaceTempView("customer_sq")
    tbl(s, d, "orders").createOrReplaceTempView("orders_sq")
    s.sql(
      """SELECT c_custkey,
        |  CAST((SELECT count(*) FROM orders_sq WHERE o_custkey = c_custkey) AS BIGINT) AS n_orders
        |FROM customer_sq
        |ORDER BY c_custkey
        |LIMIT 2000""".stripMargin)
  }

  /** Boolean aggregates (bool_and/bool_or/count-if) per group. */
  val boolAggs = Query(
    "q_bool_aggs",
    """SELECT l_returnflag,
      |  bool_and(l_quantity > 0) AS all_positive_qty,
      |  bool_or(l_discount > 0.05) AS any_big_discount,
      |  CAST(count(*) FILTER (WHERE l_tax > 0.04) AS BIGINT) AS n_high_tax
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        bool_and(col("l_quantity") > 0).as("all_positive_qty"),
        bool_or(col("l_discount") > 0.05).as("any_big_discount"),
        sum(when(col("l_tax") > 0.04, 1L).otherwise(0L)).cast(LongType).as("n_high_tax"))
      .orderBy("l_returnflag")
  }

  /** Ordered funnel over `events`: users reaching signup → click-after-
    * signup → purchase-after-that-click, each step's timestamp strictly
    * ordered after the previous step's FIRST occurrence. Every stage is
    * a per-user min aggregate + an equi-join on user_id — the same key
    * partitioning end to end, so at scale the three stages co-locate. */
  val funnel = Query(
    "q_funnel",
    """WITH su AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |cl AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN su ON e.user_id = su.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= su.t1 GROUP BY e.user_id),
      |pu AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN cl ON e.user_id = cl.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= cl.t2 GROUP BY e.user_id)
      |SELECT step, n_users FROM (
      |  SELECT '1_signup' AS step, count(*) AS n_users FROM su
      |  UNION ALL SELECT '2_click', count(*) FROM cl
      |  UNION ALL SELECT '3_purchase', count(*) FROM pu)
      |ORDER BY step""".stripMargin) { (s, d) =>
    // ONE scan + ONE shuffle (hash by user), not a per-stage join
    // cascade: the three stage times are sequential per-user window
    // minima — t2's predicate reads t1 (the previous window's result),
    // so each stage gates on the one before, exactly the join
    // semantics — and the three WindowExecs share the user
    // partitioning. The old shape scanned the events fact SIX times
    // (asserted in PlanSpec now); at 100 TB the fact scan IS the cost.
    val w = Window.partitionBy("user_id")
    val staged = tbl(s, d, "events")
      .withColumn("t1", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") >= col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") >= col("t2"), col("ts"))).over(w))
      .select("user_id", "t1", "t2", "t3").distinct()
    staged.agg(
      count(when(col("t1").isNotNull, 1)).as("n1"),
      count(when(col("t2").isNotNull, 1)).as("n2"),
      count(when(col("t3").isNotNull, 1)).as("n3"))
      .selectExpr("stack(3, '1_signup', n1, '2_click', n2, '3_purchase', n3) " +
        "AS (step, n_users)")
      .orderBy("step")
  }

  /** Weekly cohort retention over `events`: cohort = ISO week of each
    * user's first event, cell (cohort, offset) = distinct users from
    * that cohort active `offset` weeks later. Weeks as exact epoch-day
    * integers (no timestamp output — hash discipline). */
  val retention = Query(
    "q_retention",
    """WITH fw AS (
      |  SELECT user_id,
      |    CAST(epoch(date_trunc('week', min(ts))) // 86400 AS BIGINT) AS cohort_day
      |  FROM events GROUP BY user_id),
      |aw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch(date_trunc('week', ts)) // 86400 AS BIGINT) AS week_day
      |  FROM events)
      |SELECT fw.cohort_day, (aw.week_day - fw.cohort_day) // 7 AS week_offset,
      |  count(DISTINCT aw.user_id) AS n_users
      |FROM aw JOIN fw ON aw.user_id = fw.user_id
      |GROUP BY fw.cohort_day, week_offset
      |ORDER BY cohort_day, week_offset""".stripMargin) { (s, d) =>
    val ev = tbl(s, d, "events")
    val weekDay = (c: org.apache.spark.sql.Column) =>
      (unix_micros(date_trunc("week", c)) / 1000000L / 86400L).cast(LongType)
    val fw = ev.groupBy("user_id").agg(weekDay(min(col("ts"))).as("cohort_day"))
    val aw = ev.select(col("user_id"), weekDay(col("ts")).as("week_day")).distinct()
    aw.join(fw, "user_id")
      .groupBy(col("cohort_day"),
        expr("(week_day - cohort_day) div 7").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "week_offset")
  }

  /** Recursive CTE (Spark 4's `WITH RECURSIVE` / `UnionLoop`): BFS over a
    * synthetic binary tree (child c has parent `(c-1) div 2`), joining the
    * frontier against the edge table each iteration and aggregating per
    * depth. This is the declarative alternative to the hand-rolled
    * pointer-jumping in `Dedup.connectedComponents` — each loop step is a
    * joined, re-planned DataFrame, so the iteration scales exactly like
    * any other join (no driver-side traversal).
    *
    * The cost driver here is DEPTH, not data: each UnionLoop round is a
    * full driver re-plan (~0.4 s of planner time at any data size). So
    * the Spark side walks TWO levels per round — the anchor seeds depths
    * 0 AND 1, the recursive step joins the GRANDPARENT relation
    * `gp(c) = (c-3) div 4` — halving the rounds (~7 instead of ~14)
    * while computing the identical reachability set. The oracle replays
    * the plain one-level recursion in DuckDB (re-plans are free there),
    * so the hash match also proves the two-level rewrite correct. */
  val graphReach = Query(
    "q_graph_reach",
    """WITH RECURSIVE r(node, depth) AS (
      |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
      |  UNION ALL
      |  SELECT e.child, r.depth + 1
      |  FROM r JOIN (SELECT range AS child, (range - 1) // 2 AS parent
      |               FROM range(1, 10000)) e
      |    ON e.parent = r.node)
      |SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(node) AS BIGINT) AS sum_node
      |FROM r GROUP BY depth ORDER BY depth""".stripMargin) { (s, _) =>
    // r21: FOUR levels per round (was two) — the anchor seeds depths 0–3
    // (nodes 0–14, depth = ⌊log₂(node+1)⌋ = bit-length − 1) and the
    // recursive step joins the depth-4 ancestor `(c−15) div 16`
    // (= (c+1) div 16 − 1 in heap indexing), so the ~14-deep tree
    // completes in 4 rounds instead of 7 — halving the per-round driver
    // re-plan cost that dominates this query. Identical reachability
    // set and depths; the oracle still replays the one-level recursion.
    s.sql(
      """WITH RECURSIVE r(node, depth) AS (
        |  SELECT id AS node, CAST(length(bin(id + 1)) - 1 AS BIGINT) AS depth
        |  FROM range(0, 15)
        |  UNION ALL
        |  SELECT e.child, r.depth + 4
        |  FROM r JOIN (SELECT id AS child, (id - 15) div 16 AS g4parent
        |               FROM range(15, 10000)) e
        |    ON e.g4parent = r.node)
        |SELECT depth, count(*) AS n_nodes, sum(node) AS sum_node
        |FROM r GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** Bloom-prefiltered semi join — the runtime-filter pattern built
    * manually from Spark's own `BloomFilterAggregate` /
    * `BloomFilterMightContain` (registered as `graft_bloom_agg` /
    * `graft_bloom_contains` by [[graft.GraftExtensions]]): a scalar
    * subquery builds one bloom over the selective dim keys, the big side
    * filters on membership BEFORE the exact semi join. False positives
    * are removed by the join, so results are exact — the bloom only cuts
    * the rows reaching the shuffle, which is precisely what
    * `InjectRuntimeFilter` buys at 100 TB (where the application-side
    * scan threshold keeps the automatic rule dormant below ~10 GB). */
  val bloomPrefilter = Query(
    "q_bloom_prefilter",
    """SELECT l.l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |WHERE l.l_orderkey IN
      |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
    graft.GraftExtensions.register(s)
    tbl(s, d, "lineitem").createOrReplaceTempView("graft_bloom_l")
    tbl(s, d, "orders").createOrReplaceTempView("graft_bloom_o")
    s.sql(
      """SELECT l.l_returnflag AS flag, count(*) AS n,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM graft_bloom_l l
        |WHERE graft_bloom_contains(
        |    (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM graft_bloom_o
        |     WHERE o_orderpriority = '1-URGENT'),
        |    xxhash64(l.l_orderkey))
        |  AND l.l_orderkey IN
        |    (SELECT o_orderkey FROM graft_bloom_o WHERE o_orderpriority = '1-URGENT')
        |GROUP BY flag ORDER BY flag""".stripMargin)
  }

  /** Ranking-to-bucket window functions: ntile quartiles + the rational
    * rank statistics (percent_rank, cume_dist) per order priority. The
    * doubles are single divisions of small integers — bit-identical
    * across engines — and the total (priority, price, key) order makes
    * tile assignment deterministic. One exchange on the partition key. */
  val windowNtile = Query(
    "q_window_ntile",
    """WITH w AS (
      |  SELECT o_orderpriority AS prio,
      |    ntile(4) OVER win AS tile,
      |    percent_rank() OVER win AS pr,
      |    cume_dist() OVER win AS cd,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS price
      |  FROM orders
      |  WINDOW win AS (PARTITION BY o_orderpriority
      |                 ORDER BY o_totalprice, o_orderkey))
      |SELECT prio, CAST(tile AS BIGINT) AS tile, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS revenue,
      |  max(pr) AS max_pr, max(cd) AS max_cd
      |FROM w GROUP BY prio, tile
      |ORDER BY prio, tile""".stripMargin) { (s, d) =>
    val win = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    tbl(s, d, "orders")
      .select(col("o_orderpriority").as("prio"),
        ntile(4).over(win).cast(LongType).as("tile"),
        percent_rank().over(win).as("pr"),
        cume_dist().over(win).as("cd"),
        dec("o_totalprice").as("price"))
      .groupBy("prio", "tile")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast(DoubleType).as("revenue"),
        max(col("pr")).as("max_pr"), max(col("cd")).as("max_cd"))
      .orderBy("prio", "tile")
  }

  /** Z-value (Morton) interleave of two bounded ints: bit k of x lands
    * at 2k, bit k of y at 2k+1 — a sequential integer fold (bits are
    * disjoint, so summing the shifted bits IS the interleave; exact in
    * both engines). Sorting a table by this column clusters BOTH
    * dimensions into every file/row-group, which is what makes 2-D
    * predicates prunable from min/max stats alone at 100 TB (the
    * DataBricks ZORDER / Iceberg sort-order trick, from public
    * literature). */
  def zvalue(xCol: String, yCol: String, bits: Int): Column =
    graft.functions.VectorExpressions.zvalue(
      col(xCol).cast(LongType), col(yCol).cast(LongType), bits)

  /** Z-order layout metric: orders keyed by the 10-bit Morton interleave
    * of (custkey, orderkey) mod 1024, bucketed by z-range as a stand-in
    * for files of a z-sorted write. The per-bucket (max-min) extents of
    * BOTH raw dimensions stay small simultaneously — the property that
    * lets min/max file stats prune 2-D predicates. The oracle replays
    * the interleave with DuckDB's bit operators. */
  val zorderLayout = Query(
    "q_zorder_layout",
    """WITH z AS (
      |  SELECT o_orderkey,
      |    list_reduce(list_transform(range(0, 10), k ->
      |      ((((o_custkey % 1024) >> k) & 1) << (2 * k))
      |      + ((((o_orderkey % 1024) >> k) & 1) << (2 * k + 1))),
      |      (a, b) -> a + b) AS zv,
      |    o_custkey % 1024 AS x, o_orderkey % 1024 AS y
      |  FROM orders)
      |SELECT zv // 65536 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(x) - min(x) AS BIGINT) AS x_extent,
      |  CAST(max(y) - min(y) AS BIGINT) AS y_extent,
      |  CAST(sum(zv) AS BIGINT) AS sum_z
      |FROM z GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    tbl(s, d, "orders")
      .select(col("o_orderkey"),
        expr("o_custkey % 1024").as("x"), expr("o_orderkey % 1024").as("y"))
      .withColumn("zv", zvalue("x", "y", 10))
      .groupBy(expr("zv div 65536").as("bucket"))
      .agg(count(lit(1)).as("n"),
        (max(col("x")) - min(col("x"))).cast(LongType).as("x_extent"),
        (max(col("y")) - min(col("y"))).cast(LongType).as("y_extent"),
        sum(col("zv")).as("sum_z"))
      .orderBy("bucket")
  }

  /** Snapshot CDC: diff two table versions (the "new" one is a
    * deterministic mutation of orders — every 10th key's priority
    * changes, keys ≡ 3 (mod 1000) are deleted, synthetic keys are
    * inserted) into insert/update/delete/unchanged classes — the full
    * outer join + null/value comparison every lake CDC pipeline runs.
    * One shuffle per side on the key. */
  val cdcDiff = Query(
    "q_cdc_diff",
    """WITH old AS (SELECT o_orderkey AS k, o_orderpriority AS v FROM orders),
      |new AS (
      |  SELECT k, CASE WHEN k % 10 = 0 THEN 'RE-PRIORITIZED' ELSE v END AS v
      |  FROM old WHERE k % 1000 <> 3
      |  UNION ALL
      |  SELECT -k - 1 AS k, 'INSERTED' AS v FROM old WHERE k % 500 = 7),
      |d AS (
      |  SELECT CASE WHEN o.k IS NULL THEN 'insert'
      |              WHEN n.k IS NULL THEN 'delete'
      |              WHEN o.v <> n.v THEN 'update'
      |              ELSE 'unchanged' END AS op
      |  FROM old o FULL OUTER JOIN new n ON o.k = n.k)
      |SELECT op, CAST(count(*) AS BIGINT) AS n
      |FROM d GROUP BY op ORDER BY op""".stripMargin) { (s, d) =>
    val old = tbl(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("v"))
    val neu = old.filter(expr("k % 1000 <> 3"))
      .select(col("k"),
        when(expr("k % 10 = 0"), "RE-PRIORITIZED").otherwise(col("v")).as("v"))
      .unionByName(old.filter(expr("k % 500 = 7"))
        .select((-col("k") - 1).as("k"), lit("INSERTED").as("v")))
    val o = old.select(col("k").as("ok"), col("v").as("ov"))
    val n = neu.select(col("k").as("nk"), col("v").as("nv"))
    o.join(n, col("ok") === col("nk"), "full_outer")
      .select(
        when(col("ok").isNull, "insert")
          .when(col("nk").isNull, "delete")
          .when(col("ov") =!= col("nv"), "update")
          .otherwise("unchanged").as("op"))
      .groupBy("op").agg(count(lit(1)).as("n"))
      .orderBy("op")
  }

  /** Top-k per group — the window pattern (rank ≤ k after a
    * per-group sort) that TakeOrdered can't express: top-3 orders by
    * price within each priority, total tie order. One exchange on the
    * group key; at 100 TB per-group heaps via AQE-coalesced windows. */
  val topkPerGroup = Query(
    "q_topk_per_group",
    """SELECT prio, rk, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price
      |FROM (
      |  SELECT o_orderpriority AS prio, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY prio, rk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    tbl(s, d, "orders")
      .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
        col("o_totalprice"), row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
      .select(col("prio"), col("rk").cast(LongType).as("rk"), col("o_orderkey"),
        dec("o_totalprice").cast(DoubleType).as("price"))
      .orderBy("prio", "rk")
  }

  /** describe()-style summary statistics with EXACT math: one pass
    * collects n, Σx, Σx² as exact integers (cents), then mean/stddev
    * are single double computations from identical integers — so even
    * the stddev hash-matches across engines (no streaming-variance
    * float drift). The 100 TB shape: one partial+final aggregate. */
  val summaryStats = Query(
    "q_summary_stats",
    """WITH c AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |s AS (
      |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(min(cents) AS BIGINT) AS min_cents,
      |    CAST(max(cents) AS BIGINT) AS max_cents,
      |    CAST(sum(cents) AS BIGINT) AS sum_c,
      |    CAST(sum(cents * cents) AS HUGEINT) AS sum_c2
      |  FROM c GROUP BY flag)
      |SELECT flag, n, min_cents, max_cents,
      |  round(CAST(sum_c AS DOUBLE) / n / 100, 4) AS mean,
      |  round(sqrt((CAST(sum_c2 AS DOUBLE) - CAST(sum_c AS DOUBLE) *
      |    (CAST(sum_c AS DOUBLE) / n)) / (n - 1)) / 100, 4) AS stddev
      |FROM s ORDER BY flag""".stripMargin) { (s, d) =>
    val cents = (dec("l_extendedprice") * 100).cast(LongType)
    tbl(s, d, "lineitem")
      .select(col("l_returnflag").as("flag"), cents.as("cents"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        sum(col("cents")).as("sum_c"),
        // cents² sums overflow Long at sf ≥ 0.1 (ANSI would throw) —
        // accumulate exact decimal, convert to double once at the end
        sum((col("cents") * col("cents")).cast(DecimalType(38, 0))).as("sum_c2"))
      .select(col("flag"), col("n"), col("min_cents"), col("max_cents"),
        round(col("sum_c").cast(DoubleType) / col("n") / 100, 4).as("mean"),
        round(sqrt((col("sum_c2").cast(DoubleType) - col("sum_c").cast(DoubleType) *
          (col("sum_c").cast(DoubleType) / col("n"))) / (col("n") - 1)) / 100, 4)
          .as("stddev"))
      .orderBy("flag")
  }

  /** Calendar gap-fill (reporting staple): a generated month spine
    * left-joins the monthly revenue so empty months surface as zeros —
    * LOCF's sibling for regular grids. The spine is `sequence()` over
    * the data's own min/max (one tiny pre-aggregate), exploded — never a
    * driver-side date loop; at 100 TB the spine is still only
    * O(months) rows and broadcasts. */
  val gapFill = Query(
    "q_gap_fill",
    """WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mo,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY mo),
      |bounds AS (SELECT min(mo) AS lo, max(mo) AS hi FROM m),
      |spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS mo FROM bounds)
      |SELECT CAST(s.mo AS TIMESTAMP) AS mo, coalesce(m.n, 0) AS n
      |FROM spine s LEFT JOIN m ON s.mo = m.mo
      |ORDER BY mo""".stripMargin) { (s, d) =>
    val m = tbl(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"))
    val spine = m.agg(min(col("mo")).as("lo"), max(col("mo")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("mo"))
    spine.join(m, Seq("mo"), "left")
      .select(col("mo"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("mo")
  }

  /** Percent-of-total via a broadcast scalar aggregate instead of an
    * unpartitioned window (`sum() OVER ()` would move every row to ONE
    * partition — the warning Spark prints; the one-row cross join keeps
    * the big side fully parallel). Exact decimal sums; one double
    * division at the end. */
  val shareOfTotal = Query(
    "q_share",
    """WITH per AS (
      |  SELECT o_orderpriority AS prio,
      |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY prio),
      |tot AS (SELECT sum(rev) AS t FROM per)
      |SELECT prio, CAST(rev AS DOUBLE) AS revenue,
      |  round(CAST(rev AS DOUBLE) / CAST(t AS DOUBLE) * 100, 6) AS pct
      |FROM per, tot ORDER BY prio""".stripMargin) { (s, d) =>
    val per = tbl(s, d, "orders")
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(sum(dec("o_totalprice")).as("rev"))
    val tot = per.agg(sum(col("rev")).as("t"))
    per.crossJoin(broadcast(tot))
      .select(col("prio"), col("rev").cast(DoubleType).as("revenue"),
        round(col("rev").cast(DoubleType) / col("t").cast(DoubleType) * 100, 6)
          .as("pct"))
      .orderBy("prio")
  }

  /** The NOT IN null trap, both sides shown: against a subquery
    * containing a NULL, `NOT IN` can never be TRUE (ANSI three-valued
    * logic) — 0 rows survive; the null-filtered variant behaves like a
    * proper anti join. Spark plans the nullable case as a null-aware
    * anti join; the counts prove the semantics match DuckDB's. */
  val notInNulls = Query(
    "q_not_in_nulls",
    """WITH r AS (
      |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |              ELSE o_custkey END AS v
      |  FROM orders)
      |SELECT 'with_null' AS variant, CAST(count(*) AS BIGINT) AS n
      |FROM customer WHERE c_custkey NOT IN (SELECT v FROM r)
      |UNION ALL
      |SELECT 'null_filtered' AS variant, CAST(count(*) AS BIGINT) AS n
      |FROM customer WHERE c_custkey NOT IN (SELECT v FROM r WHERE v IS NOT NULL)
      |ORDER BY variant""".stripMargin) { (s, d) =>
    tbl(s, d, "orders").createOrReplaceTempView("graft_nin_o")
    tbl(s, d, "customer").createOrReplaceTempView("graft_nin_c")
    s.sql(
      """WITH r AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |              ELSE o_custkey END AS v
        |  FROM graft_nin_o)
        |SELECT 'with_null' AS variant, count(*) AS n
        |FROM graft_nin_c WHERE c_custkey NOT IN (SELECT v FROM r)
        |UNION ALL
        |SELECT 'null_filtered' AS variant, count(*) AS n
        |FROM graft_nin_c WHERE c_custkey NOT IN (SELECT v FROM r WHERE v IS NOT NULL)
        |ORDER BY variant""".stripMargin)
  }

  /** Time-series anomaly flags with INTEGER-exact math: an hour is
    * anomalous when its event count exceeds 2× the trailing-7-hour mean —
    * compared as `7·n > 2·Σprev7` so no float division ever happens.
    * Pre-aggregate to hours first (tiny), then one frame window per
    * event_type. */
  val anomalyHours = Query(
    "q_anomaly_hours",
    """WITH h AS (
      |  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
      |  FROM events GROUP BY hr, event_type),
      |w AS (
      |  SELECT event_type, n,
      |    sum(n) OVER f AS prev7, count(*) OVER f AS prev_n
      |  FROM h
      |  WINDOW f AS (PARTITION BY event_type ORDER BY hr
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
      |  CAST(sum(CASE WHEN prev_n = 7 AND n * 7 > 2 * prev7
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val hourly = tbl(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val f = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-7, -1)
    hourly
      .withColumn("prev7", sum(col("n")).over(f))
      .withColumn("prev_n", count(lit(1)).over(f))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("prev_n") === 7 && col("n") * 7 > col("prev7") * 2, 1L)
          .otherwise(0L)).as("n_anomalies"))
      .orderBy("event_type")
  }

  /** Two PageRank iterations over a deterministic synthetic graph
    * (nodes 0..999, every node i links to (2i+1) mod 1000 and
    * (3i+7) mod 1000), in FIXED-POINT INTEGER arithmetic: ranks are
    * micro-units (1e6 = 1.0), the damping update is
    * `150000 + (85 · Σ incoming(r div 2)) div 100` — floor division on
    * positive BIGINTs is identical in both engines, so the result is
    * exact with no float anywhere. Each iteration is one shuffle on the
    * destination key (the standard Pregel-on-SQL shape); at 100 TB the
    * edge table is range-partitioned by dst and the rank side co-moves. */
  val pageRank = Query(
    "q_pagerank",
    """WITH nodes AS (SELECT range AS id FROM range(0, 1000)),
      |edges AS (
      |  SELECT id AS src, (2 * id + 1) % 1000 AS dst FROM nodes
      |  UNION ALL
      |  SELECT id AS src, (3 * id + 7) % 1000 AS dst FROM nodes),
      |r1 AS (
      |  SELECT n.id,
      |    150000 + (85 * coalesce(sum(1000000 // 2), 0)) // 100 AS r
      |  FROM nodes n LEFT JOIN edges e ON e.dst = n.id
      |  GROUP BY n.id),
      |r2 AS (
      |  SELECT n.id,
      |    150000 + (85 * coalesce(sum(r1.r // 2), 0)) // 100 AS r
      |  FROM nodes n LEFT JOIN edges e ON e.dst = n.id
      |  LEFT JOIN r1 ON r1.id = e.src
      |  GROUP BY n.id)
      |SELECT CAST(id AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_micro
      |FROM r2 ORDER BY rank_micro DESC, node LIMIT 10""".stripMargin) { (s, _) =>
    val nodes = s.range(0, 1000, 1, 1).select(col("id"))
    val edges = nodes.select(col("id").as("src"), ((col("id") * 2 + 1) % 1000).as("dst"))
      .union(nodes.select(col("id").as("src"), ((col("id") * 3 + 7) % 1000).as("dst")))
    def step(ranks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      nodes.join(
        edges.join(ranks, col("src") === col("id")).drop("id")
          .groupBy("dst").agg(sum(expr("r div 2")).as("in_sum")),
        col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(150000L) + expr("85 * coalesce(in_sum, 0L) div 100")).as("r"))
    val r0 = nodes.withColumn("r", lit(1000000L))
    step(step(r0))
      .select(col("id").cast(LongType).as("node"), col("r").cast(LongType).as("rank_micro"))
      .orderBy(desc("rank_micro"), col("node"))
      .limit(10)
  }

  /** LISTAGG surface: per-language sorted CSV of the distinct sources
    * contributing documents, plus per-language doc counts — the
    * string-aggregation shape every report layer needs. Deterministic
    * because the collected set is sorted before joining. */
  val stringAgg = Query(
    "q_string_agg",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources_csv
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    tbl(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        array_join(array_sort(collect_set(col("source"))), ",").as("sources_csv"))
      .orderBy("lang")
  }

  /** Salted JOIN (the skew-mitigation sibling of q_agg_salted): the
    * fact side carries a deterministic salt ((l_orderkey + l_linenumber) % 8) and the
    * build side is replicated 8× via explode, so a hot join key spreads
    * over 8 shuffle partitions instead of one straggler. The join
    * output — and the oracle — are exactly the plain join's: salting
    * only changes the physical distribution. This is the manual fix for
    * skew AQE can't catch (e.g. when the hot key emerges after a
    * filter AQE's stats don't see).
    *
    * The revenue sum is rounded to scale 4 BEFORE the double cast: the
    * exact scale-8 decimal sum's unscaled value crosses 2^53 at the
    * sf1-equivalent decade (5.99e10 × 10^8), where Spark's and DuckDB's
    * decimal→double conversions stop agreeing to the last ulp — the one
    * red entry in the first r15f decade gate (SCALE.md r15f). Scale 4
    * keeps the unscaled value exact in double through ~sf10-equivalent
    * revenue totals (9e11). */
  val joinSalted = Query(
    "q_join_salted",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |       (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    // 4 salts demonstrate the technique; the replication factor is a
    // per-deployment skew knob, and ×8 dim duplication at bench scale
    // only measures the demo's own overhead
    val nSalt = 4
    val fact = tbl(s, d, "lineitem")
      .withColumn("salt",
        ((col("l_orderkey") + col("l_linenumber")) % nSalt).cast(IntegerType))
    val dim = tbl(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(sequence(lit(0), lit(nSalt - 1))))
    fact.join(dim,
      col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(dec("l_extendedprice") * (oneDec - dec("l_discount"))), 4)
          .cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** max_by/min_by (argmax) surface: per user, the event type of their
    * highest- and lowest-value events. The ordering key is a composite
    * BIGINT `cents·10¹⁰ + event_id` — unique up to 10¹⁰ events (any
    * realistic sf; max cents 56,021 keeps the key below 2⁶³), so the
    * argmax is total and
    * both engines agree without relying on tie-breaking internals
    * (DuckDB's arg_max only takes scalar keys; ties would otherwise be
    * engine-defined). The ARG is struct-wrapped in the oracle (r20
    * review, the q_ewma chimera class): DuckDB's bare `arg_max` SKIPS
    * rows whose arg is NULL — a NULL event_type holding the max key
    * would silently yield the runner-up's type — while Spark's
    * `max_by` returns the NULL; `struct_pack(e := …).e` makes the two
    * agree (the extreme row wins, NULL arg and all).
    * The cents key rounds EXPLICITLY (`round(·, 0)`,
    * half-away-from-zero in both engines) before the BIGINT cast: a bare
    * decimal→long cast truncates in Spark but rounds in DuckDB, a
    * divergence that only fixture luck (2-decimal values) masked.
    * One partial+final aggregate — the single-pass replacement for the
    * sort-and-take-first window. */
  val minmaxBy = Query(
    "q_minmax_by",
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    CAST(round(CAST(value AS DECIMAL(18,4)) * 100, 0) AS BIGINT) * 10000000000 + event_id AS k
      |  FROM events)
      |SELECT user_id,
      |  arg_max(struct_pack(e := event_type), k).e AS top_event_type,
      |  round(max(value), 6) AS top_value,
      |  arg_min(struct_pack(e := event_type), k).e AS bottom_event_type
      |FROM e GROUP BY user_id
      |ORDER BY user_id LIMIT 500""".stripMargin) { (s, d) =>
    tbl(s, d, "events")
      .withColumn("k",
        round(dec("value") * 100, 0).cast(LongType) * 10000000000L + col("event_id"))
      .groupBy("user_id")
      .agg(
        max_by(col("event_type"), col("k")).as("top_event_type"),
        round(max(col("value")), 6).as("top_value"),
        min_by(col("event_type"), col("k")).as("bottom_event_type"))
      .orderBy("user_id")
      .limit(500)
  }

  /** RANGE-interval window frame (time-based, not row-based): for each
    * order, the customer's trailing-30-day order count and spend. RANGE
    * frames bound by an INTERVAL are the event-time sibling of ROWS
    * frames — peers at the same timestamp are always included, so the
    * result is deterministic under ties. Money as exact integer cents. */
  val windowRange = Query(
    "q_window_range",
    """SELECT o_custkey, o_orderkey,
      |  CAST(count(*) OVER w AS BIGINT) AS n_30d,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) OVER w
      |       AS BIGINT) AS spend_cents_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey
      |LIMIT 2000""".stripMargin) { (s, d) =>
    tbl(s, d, "orders").createOrReplaceTempView("graft_wr_orders")
    s.sql(
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER w AS n_30d,
        |  sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) OVER w
        |    AS spend_cents_30d
        |FROM graft_wr_orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey
        |LIMIT 2000""".stripMargin)
  }

  /** Degree-ordered triangle counting over a lineitem-derived graph —
    * the MPC-standard algorithm (orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher; each triangle then has
    * exactly ONE node with two out-edges, so wedges joined against the
    * oriented edge set count each triangle exactly once). The
    * orientation bounds every node's out-degree by O(√m), so wedge
    * volume is O(m^1.5) worst-case instead of Σdeg² — the difference
    * between feasible and not on a power-law graph at 100 TB, where the
    * unoriented wedge count of one celebrity node is quadratic in its
    * degree. Edges: low-quantity lineitem rows folded into a 2000-node
    * id space (l_partkey%2000 ↔ l_suppkey%2000) — sparse, deterministic,
    * data-driven. Every join key is an integer pair; the edge list is
    * built once and reused in all three roles (Spark reuses the
    * exchange). Output is the graph summary: nodes, edges, wedges,
    * triangles, and the global clustering coefficient (3·tri/wedges,
    * one IEEE division of exact integers). */
  val triangleCount = Query(
    "q_triangle_count",
    """WITH e0 AS (
      |  SELECT DISTINCT l_partkey % 2000 AS a, l_suppkey % 2000 AS b
      |  FROM lineitem WHERE l_quantity <= 2),
      |und AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM e0 WHERE a <> b),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS d
      |  FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
      |  GROUP BY n),
      |dir AS (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
      |              THEN und.u ELSE und.v END AS src,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
      |              THEN und.v ELSE und.u END AS dst
      |  FROM und
      |  JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v),
      |tri AS (
      |  SELECT count(*) AS n_tri
      |  FROM dir e1
      |  JOIN dir e2 ON e2.src = e1.src AND e2.dst <> e1.dst
      |  JOIN dir e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
      |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
      |  CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
      |  n_wedges,
      |  CAST(n_tri AS BIGINT) AS n_triangles,
      |  round(3.0 * n_tri / n_wedges, 6) AS clustering
      |FROM tri, wed""".stripMargin) { (s, d) =>
    triangleSummary(
      tbl(s, d, "lineitem")
        .filter(col("l_quantity") <= 2)
        .select((col("l_partkey") % 2000).as("a"), (col("l_suppkey") % 2000).as("b")))
  }

  /** The triangle-counting core over a raw directed edge frame `(a, b)`
    * (self-loops and duplicates welcome — both are normalized away).
    * Factored out so OperatorSpec can pin the count on hand-built graphs
    * (K₄ = 4 triangles etc.) independent of the lineitem derivation. */
  private[graft] def triangleSummary(rawEdges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // The edge list is consumed in five roles (degree count, orientation,
    // three triangle-join sides); without a lineage break each role
    // re-runs the scan + distinct. It is filtered-and-folded to O(edges)
    // rows (k-bounded, the Ivf-centroid class of documented break), so
    // materialize once and iterate — the standard move for multi-pass
    // graph algorithms, same as each PageRank superstep's rank frame.
    val und = rawEdges
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      // localCheckpoint KEPT over lazy persist (r22, measured): two of
      // the five roles are broadcast builds, i.e. concurrent driver
      // jobs — under lazy persist they race to compute the
      // not-yet-cached blocks and duplicate the subtree (FloorAudit
      // sf0.1: exec1 478 → 1874 ms, tasks 14 → 720, task_ms 401 →
      // 39747 on the persist variant). The eager materialization is
      // what serializes the compute to exactly once. Contrast
      // q_dedup_ngram, where all consumers meet in ONE job and lazy
      // persist wins.
      .localCheckpoint()
    // one pass for degrees: each edge contributes both endpoints. The
    // degree table is bounded by the FOLDED node space (2000 ids, fixed
    // by the operator), so it broadcasts like nation/region — the
    // orientation join is then exchange-free on the edge side.
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dir = und
      .join(broadcast(deg.select(col("n").as("un"), col("d").as("du"))),
        col("u") === col("un"))
      .join(broadcast(deg.select(col("n").as("vn"), col("d").as("dv"))),
        col("v") === col("vn"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val e1 = dir.select(col("src").as("s1"), col("dst").as("d1"))
    val e2 = dir.select(col("src").as("s2"), col("dst").as("d2"))
    val e3 = dir.select(col("src").as("s3"), col("dst").as("d3"))
    val tri = e1
      .join(e2, col("s2") === col("s1") && col("d2") =!= col("d1"))
      .join(e3, col("s3") === col("d1") && col("d3") === col("d2"))
      .agg(count(lit(1)).as("n_tri"))
    val summary = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).cast(LongType).as("n_wedges")))
    tri.crossJoin(summary)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_tri").as("n_triangles"),
        round(lit(3.0) * col("n_tri") / col("n_wedges"), 6).as("clustering"))
  }

  /** Per-entity exponentially-weighted smoothing (EWMA, α = 1/2) over
    * the event stream, in EXACT fixed-point arithmetic: the float-
    * recursive definition is not bit-portable across engines, so each
    * (event_type, user) series carries an 8-deep sliding window of
    * DECIMAL-exact value units and the EWMA is the integer weighted sum
    * Σ unitⱼ·2ʲ (newest = heaviest) over denominator 2^L − 1 — every
    * step BIGINT, the single final division one IEEE op, rounded.
    * SHIPS the last-K plan ([[ewmaLastK]], r19): the output depends only
    * on each series' last 8 values + its count, so the full-series
    * sliding window ([[ewmaOf]], kept as the SkewSpec reference) is both
    * wasted work and an indivisible hot-key partition
    * (SKEW_AUDIT_r18_century: 3.3× straggler, 2.2× total wall vs last-K
    * at 10M events). The rewrite's map-side WindowGroupLimit pre-cuts
    * every key to ≤8 rows per map task BEFORE the exchange — no
    * straggler can form; bit-identical by SkewSpec pin. */
  val ewma = Query(
    "q_ewma",
    // The final-row selection is QUALIFY rn = max(rn), NOT arg_max
    // (r20 review): DuckDB's arg_max SKIPS rows whose ARG is NULL, so
    // on a series whose last-8 window was all NULL values the old
    // oracle paired an EARLIER row's numer with the FINAL row's denom —
    // an accidental chimera, not a semantics. The defined semantics
    // (all three implementations, synchronized this round): the window
    // is 8 ROWS; a NULL value occupies its position (weights shift,
    // denominator counts it) but contributes no term; a window with no
    // values has EWMA NULL.
    """WITH u AS (
      |  SELECT event_type, user_id,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS um,
      |    row_number() OVER (PARTITION BY event_type, user_id
      |                       ORDER BY ts, event_id) AS rn,
      |    list(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
      |      OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
      |  FROM events),
      |f AS (
      |  SELECT event_type, user_id,
      |    CAST(rn AS BIGINT) AS n_events,
      |    CAST(list_sum(list_transform(range(1, len(win) + 1),
      |      j -> win[j] * (1 << (j - 1)))) AS BIGINT) AS numer,
      |    CAST((1 << len(win)) - 1 AS BIGINT) AS denom
      |  FROM u
      |  QUALIFY rn = max(rn) OVER (PARTITION BY event_type, user_id))
      |SELECT event_type, user_id, n_events,
      |  round(CAST(numer AS DOUBLE) / denom / 10000, 6) AS ewma
      |FROM f ORDER BY event_type, user_id""".stripMargin) { (s, d) =>
    ewmaLastK(tbl(s, d, "events"))
  }

  /** The one final IEEE division both EWMA shapes share (and the only
    * float op in either): NULL numer — a window with no values —
    * propagates to a NULL ewma; denom ≥ 1 always (the window of the
    * final row contains at least that row). */
  private def ewmaFinal(numer: Column, denom: Column): Column =
    round(numer.cast(DoubleType) / denom / 10000, 6)

  /** The full-series sliding-window EWMA formula — the SkewSpec
    * reference [[ewmaLastK]] must reproduce bit-exactly, and the
    * OperatorSpec anchor for the fixed-point weighted sum against hand
    * arithmetic. NOT the shipped plan since r19 (indivisible hot-key
    * partition, see [[ewma]]). */
  private[graft] def ewmaOf(raw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byKey = Window.partitionBy("event_type", "user_id")
      .orderBy(col("ts"), col("event_id"))
    val events = raw
      .withColumn("um", (dec("value") * 10000).cast(LongType))
      .withColumn("rn", row_number().over(byKey))
      // the window is 8 ROWS with positions — collect structs so a NULL
      // value keeps its slot (collect_list of a bare null column would
      // compact it away and shift every weight; r20 review vs oracle)
      .withColumn("win0",
        collect_list(struct(col("rn").as("r"), col("um").as("u")))
          .over(byKey.rowsBetween(-7, 0)))
      .withColumn("win", expr("filter(win0, t -> t.u IS NOT NULL)"))
      // weight 2ʲ by 0-based ROW position within the frame (t.r − frame
      // start): newest row carries the heaviest weight; null slots
      // contribute no term; a window with no values has NULL numer —
      // exactly the oracle's list()/list_sum semantics
      .withColumn("numer", expr(
        "IF(size(win) = 0, CAST(NULL AS BIGINT), " +
          "aggregate(transform(win, t -> t.u * shiftleft(1L, t.r - rn + size(win0) - 1)), " +
          "0L, (a, b) -> a + b))"))
      .withColumn("denom", expr("shiftleft(1L, size(win0)) - 1"))
    events.groupBy("event_type", "user_id")
      .agg(max(col("rn")).cast(LongType).as("n_events"),
        // struct-wrapped: max_by must return the FINAL row's pair even
        // when its numer is NULL (the arg_max chimera the oracle fix
        // removed — mirrored defensively here)
        expr("max_by(struct(numer, denom), rn)").as("nd"))
      .select(col("event_type"), col("user_id"), col("n_events"),
        ewmaFinal(col("nd.numer"), col("nd.denom")).as("ewma"))
      .orderBy("event_type", "user_id")
  }

  /** SKEW-IMMUNE EWMA — the last-K rewrite of [[ewmaOf]] for hot keys
    * (SCALE.md r18b), and since r19 the plan [[ewma]] ships: the
    * output only depends on each series' LAST 8
    * values (the bounded frame) plus its row count, so the sliding
    * window over the full series is unnecessary work AND an indivisible
    * hot partition. Rewritten as:
    *
    *   1. `row_number() DESC ≤ 8` — Spark's InferWindowGroupLimit plans
    *      a PARTIAL map-side top-k per key BEFORE the exchange (the
    *      `Audit @skew` top-k finding), so a hot key arrives at the reducer
    *      pre-cut to ≤8 rows per map task — no straggler can form;
    *   2. the fixed-point weighted sum over the ≤8-element tail, with
    *      the newest row (rnd = 1) at asc position len − rnd, weights
    *      identical to [[ewmaOf]]'s 2^j0;
    *   3. `n_events` from a separate partial-aggregated count (skew-
    *      immune by map-side combine), joined on the same key — the
    *      join reuses the aggregation partitioning, no extra exchange
    *      class at scale.
    *
    * Bit-identical to [[ewmaOf]] (integer arithmetic end to end, one
    * final IEEE division in both): SkewSpec pins equality; `Audit @skewc`
    * checksum-compares at 10M events with a 10%-hot user. */
  private[graft] def ewmaLastK(raw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byKeyDesc = Window.partitionBy("event_type", "user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val lastK = raw
      .withColumn("um", (dec("value") * 10000).cast(LongType))
      .withColumn("rnd", row_number().over(byKeyDesc))
      .filter(col("rnd") <= 8)
      .groupBy("event_type", "user_id")
      // RAW-position weights over the 8-ROW window (r20 review, the
      // oracle's defined semantics): rnd counts ROWS (a NULL value
      // occupies its slot — size(tail0) and every weight see it), null
      // entries then contribute no term, and a window with no values
      // has NULL numer. The pre-r20 formula fed null terms into the
      // fold (NULL numer on ANY null) — equal to neither the plain
      // window nor the oracle.
      .agg(expr("sort_array(collect_list(struct(rnd, um)))").as("tail0"))
      .withColumn("tail", expr("filter(tail0, t -> t.um IS NOT NULL)"))
      .withColumn("numer", expr(
        "IF(size(tail) = 0, CAST(NULL AS BIGINT), " +
          "aggregate(transform(tail, t -> t.um * shiftleft(1L, size(tail0) - t.rnd)), " +
          "0L, (a, b) -> a + b))"))
      .withColumn("denom", expr("shiftleft(1L, size(tail0)) - 1"))
    val counts = raw.groupBy("event_type", "user_id")
      .agg(count(lit(1)).cast(LongType).as("n_events"))
    // null-safe keys: both sides groupBy the same keys (NULLs form
    // groups on each), so the join back must match NULL groups too —
    // exactly what the plain window plan's partitioning does
    lastK.as("l").join(counts.as("c"),
        col("l.event_type") <=> col("c.event_type") &&
          col("l.user_id") <=> col("c.user_id"))
      .select(col("l.event_type").as("event_type"),
        col("l.user_id").as("user_id"), col("c.n_events").as("n_events"),
        ewmaFinal(col("numer"), col("denom")).as("ewma"))
      .orderBy("event_type", "user_id")
  }

  /** Pairwise Pearson correlation (quantity/discount/tax) — the
    * corr/covar aggregate family, done portably: doubles are scaled to
    * exact cent integers, all five moment sums accumulate in BIGINT
    * (every sum < 2^53, so the one double conversion is exact in both
    * engines), and the corr formula is a fixed-order chain of IEEE ops
    * on those exact doubles. Correlation is scale-invariant, so the
    * cent scaling cancels. One map-side-combined single-row aggregate —
    * the 100 TB plan is a full scan + one 9-number reduce; never a
    * second pass (the textbook two-pass centered formula is the
    * numerically nicer but shuffle-heavier shape; n·Σxy−ΣxΣy on exact
    * integers has NO cancellation error, which is the whole point of
    * the cents trick). */
  val corrStats = Query(
    "q_corr_stats",
    """WITH c AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100 AS BIGINT) AS q,
      |    CAST(CAST(l_discount AS DECIMAL(18,4)) * 100 AS BIGINT) AS dd,
      |    CAST(CAST(l_tax AS DECIMAL(18,4)) * 100 AS BIGINT) AS t
      |  FROM lineitem),
      |g AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) AS sq,
      |    CAST(CAST(sum(dd) AS BIGINT) AS DOUBLE) AS sdsc,
      |    CAST(CAST(sum(t) AS BIGINT) AS DOUBLE) AS stx,
      |    CAST(CAST(sum(q * q) AS BIGINT) AS DOUBLE) AS sqq,
      |    CAST(CAST(sum(dd * dd) AS BIGINT) AS DOUBLE) AS sdd,
      |    CAST(CAST(sum(t * t) AS BIGINT) AS DOUBLE) AS stt,
      |    CAST(CAST(sum(q * dd) AS BIGINT) AS DOUBLE) AS sqd,
      |    CAST(CAST(sum(q * t) AS BIGINT) AS DOUBLE) AS sqt,
      |    CAST(CAST(sum(dd * t) AS BIGINT) AS DOUBLE) AS sdt
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  round((n * sqd - sq * sdsc) /
      |    (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sdsc * sdsc)), 6) AS corr_qty_disc,
      |  round((n * sqt - sq * stx) /
      |    (sqrt(n * sqq - sq * sq) * sqrt(n * stt - stx * stx)), 6) AS corr_qty_tax,
      |  round((n * sdt - sdsc * stx) /
      |    (sqrt(n * sdd - sdsc * sdsc) * sqrt(n * stt - stx * stx)), 6) AS corr_disc_tax
      |FROM g""".stripMargin) { (s, d) =>
    def cents(name: String): Column = (dec(name) * 100).cast(LongType)
    val g = tbl(s, d, "lineitem")
      .select(cents("l_quantity").as("q"), cents("l_discount").as("dd"),
        cents("l_tax").as("t"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        sum("q").cast(DoubleType).as("sq"),
        sum("dd").cast(DoubleType).as("sdsc"),
        sum("t").cast(DoubleType).as("stx"),
        sum(col("q") * col("q")).cast(DoubleType).as("sqq"),
        sum(col("dd") * col("dd")).cast(DoubleType).as("sdd"),
        sum(col("t") * col("t")).cast(DoubleType).as("stt"),
        sum(col("q") * col("dd")).cast(DoubleType).as("sqd"),
        sum(col("q") * col("t")).cast(DoubleType).as("sqt"),
        sum(col("dd") * col("t")).cast(DoubleType).as("sdt"))
    def corr(n: Column, sx: Column, sy: Column, sxy: Column,
             sxx: Column, syy: Column): Column =
      round((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
    g.select(col("n").cast(LongType).as("n_rows"),
      corr(col("n"), col("sq"), col("sdsc"), col("sqd"), col("sqq"), col("sdd"))
        .as("corr_qty_disc"),
      corr(col("n"), col("sq"), col("stx"), col("sqt"), col("sqq"), col("stt"))
        .as("corr_qty_tax"),
      corr(col("n"), col("sdsc"), col("stx"), col("sdt"), col("sdd"), col("stt"))
        .as("corr_disc_tax"))
  }

  /** Rolling exact median (50-event trailing window per event_type) —
    * the robust de-noising filter a mean-based rolling stat can't give
    * a heavy-tailed metric stream; also the one window/quantile combo
    * the surface lacked (q_percentile is global, q_window_range is
    * sum/avg). Total order inside each partition is (ts, event_id) —
    * ties on ts are broken by id, so the frame contents are
    * engine-identical. Reported on every 100th event to keep the gate
    * output bounded; the window itself computes for all rows. Scale:
    * one exchange on event_type; within a partition the ROWS frame is
    * a bounded 50-row buffer per step. At 100 TB a single event_type
    * outgrows one task's sort — the shape then range-partitions on
    * (event_type, time-bucket) and carries 49 boundary rows per bucket,
    * leaving the frame math untouched. */
  val rollingMedian = Query(
    "q_rolling_median",
    """WITH w AS (
      |  SELECT event_id, event_type, value,
      |    round(quantile_cont(value, 0.5) OVER (
      |      PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 6) AS med50
      |  FROM events)
      |SELECT event_id, event_type, round(value, 6) AS value, med50
      |FROM w WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin) { (s, d) =>
    // SHIPS the segmented frame plan ([[rollingMedianSegmented]], r20):
    // event_type has cardinality ~5, so the naive PARTITION BY
    // event_type window ([[rollingMedianPlain]], kept as the SkewSpec
    // reference) serializes the whole corpus into ~5 indivisible tasks —
    // the 22.2 s / straggler-1.08 century profile (SKEW_AUDIT_r19) was
    // uniform compute on 5 of 32 cores, not skew. Segmenting by global
    // row rank restores full parallelism with identical frame contents.
    rollingMedianReported(rollingMedianSegmented(tbl(s, d, "events")))
  }

  /** The query's reporting shape (every 100th event, rounded, ordered)
    * — ONE definition shared by [[rollingMedian]] and the `Audit @skewc`
    * probe's plain control, so the harness can never drift from the
    * shipped presentation (the duplicated-harness lesson). */
  private[graft] def rollingMedianReported(core: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    core.filter(col("event_id") % 100 === 0)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"), col("med50"))
      .orderBy("event_id")

  /** The naive one-window rolling median — the SkewSpec reference
    * [[rollingMedianSegmented]] must reproduce bit-exactly. NOT the
    * shipped plan (one indivisible task per event_type value — ~5 in
    * the corpus; see [[rollingMedian]]).
    *
    * Frame math (both shapes): 50 lag() offsets → array_sort →
    * interpolate. The obvious `percentile(value, 0.5).over(
    * rowsBetween(-49, 0))` is an imperative aggregate inside a sliding
    * frame — Spark rebuilds the typed buffer per row as the frame
    * slides (no retraction), so every row pays 50 buffer inserts plus
    * an interpreted evaluate; measured 3.4 s vs 0.3 s warm at 1M
    * events. lag() is an OffsetWindowFunction — O(1)/row, constant
    * state, one pass over the same sort — and the median math is
    * codegen'd array arithmetic. Interpolation mirrors Spark's
    * Percentile (lo + (hi-lo)*0.5) = DuckDB quantile_cont, bit-for-bit
    * on the hash-green corpora. */
  private[graft] def rollingMedianPlain(raw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
    medianOverFrame(raw.select(col("event_id"), col("event_type"),
      col("ts"), col("value")), w)
  }

  /** SKEW-IMMUNE rolling median — the boundary-row decomposition the
    * r19 Scaladoc promised ("range-partition on (event_type,
    * time-bucket) and carry 49 boundary rows per bucket"), now the
    * shipped plan. Stage 1 ranks rows per (event_type, day) locally and
    * prefix-sums the per-day counts over the (event_type, day) SUMMARY
    * rows (metadata scale — the [[Relational.runningTwoStage]] pattern),
    * giving each row its global rank `rn` within event_type without any
    * bare event_type window. Rows then land in uniform `segSize`-row
    * segments; each segment's last 49 rows are DUPLICATED into the next
    * segment as phantoms (`is_real = false`, one explode — the upstream
    * is computed once, not once per union branch), so a ROWS 49
    * PRECEDING frame inside (event_type, seg) sees exactly the rows the
    * plain event_type-wide frame sees: every segment but the last is
    * full, hence the previous segment always holds rank rn−49..rn−1.
    * Phantom rows compute a throwaway median (49/segSize ≈ 0.6%
    * overhead) and are dropped. Identical output by construction —
    * SkewSpec pins bit-equality against [[rollingMedianPlain]],
    * including NULL ts/event_type rows (null-safe join keys; null days
    * order first in the summary window exactly as null ts orders first
    * in the plain sort).
    *
    * Parallelism bound, stated honestly (r20 review): the FRAME stage —
    * where all the median math lives — is fully uniform (segSize-row
    * segments). The cheap RANK stage is day-granular like every shipped
    * two-stage rewrite (runningTwoStage, sessionizeSegmented): a corpus
    * whose hot event_type bursts into one calendar day serializes that
    * day's row_number pass (O(1)/row, no frame math) into one task —
    * the residual is a counter sweep, not the 50-element sort-per-row
    * the segmentation exists to spread. */
  private[graft] def rollingMedianSegmented(raw: org.apache.spark.sql.DataFrame,
      segSize: Int = 8192): org.apache.spark.sql.DataFrame = {
    require(segSize > 49, s"segment must exceed the frame: $segSize")
    val ev = raw.select(col("event_id"), col("event_type"), col("ts"),
      col("value"), to_date(col("ts")).as("day"))
    val wLocal = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val local = ev.withColumn("lrn", row_number().over(wLocal))
    val wDays = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // Day counts are a SECOND, deliberately narrow pass over the
    // source (r20 review weighed the alternatives): deriving max(lrn)
    // from `local` would put the rank window — a full
    // sort-within-partitions of the corpus — on the broadcast build
    // side too (ReuseExchange cannot bridge the two subtrees: the
    // probe reads `value`, the count side doesn't, so column pruning
    // makes the canonical exchanges differ). A count aggregate straight
    // off the scan reads 3 columns, combines map-side, and never sorts
    // — the cheaper second pass by far, and the same shape
    // runningTwoStage ships.
    val offsets = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("day_n"))
      .select(col("event_type"), col("day"),
        coalesce(sum(col("day_n")).over(wDays), lit(0L)).as("rank_off"))
    val ranked = local.as("l")
      .join(broadcast(offsets.as("o")),
        col("l.event_type") <=> col("o.event_type") && col("l.day") <=> col("o.day"))
      .select(col("l.event_id").as("event_id"), col("l.event_type").as("event_type"),
        col("l.ts").as("ts"), col("l.value").as("value"),
        (col("l.lrn") + col("o.rank_off")).as("rn"))
      .withColumn("seg", expr(s"(rn - 1) div ${segSize}L"))
    val fanned = ranked
      .withColumn("t", explode(
        when((col("rn") - 1) % segSize >= segSize - 49,
          array(struct(lit(true).as("is_real"), col("seg").as("seg")),
            struct(lit(false).as("is_real"), (col("seg") + 1).as("seg"))))
          .otherwise(array(struct(lit(true).as("is_real"), col("seg").as("seg"))))))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
        col("rn"), col("t.is_real").as("is_real"), col("t.seg").as("seg"))
    val wSeg = Window.partitionBy(col("event_type"), col("seg")).orderBy(col("rn"))
    medianOverFrame(fanned, wSeg)
      .filter(col("is_real"))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"), col("med50"))
  }

  /** The shared 50-row trailing-median frame math (see
    * [[rollingMedianPlain]] for why lag(), not a sliding aggregate). */
  private def medianOverFrame(df: org.apache.spark.sql.DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec)
      : org.apache.spark.sql.DataFrame = {
    val frame = array((0 until 50).map(i => lag(col("value"), i).over(w)): _*)
    df.withColumn("win", array_sort(filter(frame, x => x.isNotNull)))
      // empty-frame guard (r20 review): a row whose entire trailing
      // frame is NULL values leaves win = [] and (size+1) div 2 = 0 —
      // element_at(_, 0) is an ANSI error, not a NULL. The median of an
      // empty frame is NULL, matching DuckDB's quantile_cont over an
      // all-NULL frame.
      .withColumn("med50", when(size(col("win")) === 0, lit(null)
          .cast(DoubleType))
        .otherwise(round(expr(
          "element_at(win, int((size(win) + 1) div 2)) + " +
            "(element_at(win, int(size(win) div 2 + 1)) - " +
            "element_at(win, int((size(win) + 1) div 2))) * 0.5"), 6)))
  }

  val queries: Seq[Query] = Seq(
    pivotWide, unpivot, percentile, sampleSplit, aggSalted, windowNav,
    regexpExtract, mergeUpsert, histogram, scalarSubquery, boolAggs,
    funnel, retention, graphReach, bloomPrefilter, windowNtile, zorderLayout,
    cdcDiff, topkPerGroup, summaryStats, gapFill, shareOfTotal, notInNulls,
    anomalyHours, pageRank, stringAgg, joinSalted, minmaxBy, windowRange,
    triangleCount, ewma, corrStats, rollingMedian)
}
