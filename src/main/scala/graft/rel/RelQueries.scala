package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Relational operator inventory (SURVEY.md §2.C–2.H + §2.K) as named,
  * oracle-checked queries over the driver's star schema / events tables.
  *
  * Design rules (scale + oracle parity):
  *  - Declarative DataFrame ops only — Catalyst pushes filters/prunes
  *    columns into the Parquet scan; no collect-driven logic.
  *  - Only CONSTANT-size relations (region 5 rows, nation 25 rows,
  *    literal band tables, single-row global aggregates) carry explicit
  *    broadcast hints: at 100 TB the fact side never shuffles for those
  *    joins. Relations that scale with SF (customer, supplier, orders,
  *    lineitem, part) are never hinted — a forced broadcast must fit in
  *    every executor, and "small relative to the fact" is not "small".
  *    Hint-free, AQE broadcasts them while under the threshold and
  *    switches to shuffle joins beyond it. PlanShapeSpec pins this.
  *  - Aggregated DOUBLE outputs are rounded (2 or 4 dp) in BOTH engines:
  *    double addition is order-sensitive, so unrounded sums of 600 k
  *    values can differ in the last ulp between Spark and DuckDB.
  *  - Every query output is deterministically sorted by its key columns;
  *    per-row arithmetic (IEEE 754) is left unrounded.
  *  - Timestamps are never emitted raw: epoch seconds (BIGINT) instead,
  *    avoiding engine-specific parquet timestamp-zone conventions.
  */
object RelQueries {

  private def r2(c: Column): Column = round(c, 2)
  private def r4(c: Column): Column = round(c, 4)

  // ---------------------------------------------------------------- q1
  // TPC-H Q1-shaped pricing summary: scan + filter + hash aggregate with
  // partial (map-side) aggregation. [SURVEY §2.E E1/E2, §2.K hash agg]
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r2(sum("l_quantity")).as("sum_qty"),
        r2(sum("l_extendedprice")).as("sum_base_price"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")))).as("sum_charge"),
        r4(avg("l_quantity")).as("avg_qty"),
        r4(avg("l_extendedprice")).as("avg_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  // Filter + projection + per-row arithmetic: pushdown check — the scan
  // must read only 4 columns with the shipdate predicate pushed.
  // [SURVEY §2.C C1/C3/C5, §2.H H3]
  def q2FilterProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_quantity") > lit(45.0))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  val q2Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_quantity > 45.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q3
  // Shuffled-revenue top-10: customer ⋈ orders ⋈ lineitem with a selective
  // dimension filter, group, order, limit. No broadcast hint on customer:
  // it SCALES with SF (~15 B rows at the 100 TB target), so a forced
  // build-side broadcast OOMs executors there. Hint-free, AQE broadcasts
  // it when its runtime size is under the threshold (it is, at test SFs)
  // and falls back to SMJ when it isn't — the plan adapts instead of
  // failing. lineitem↔orders co-shuffle on orderkey.
  // [SURVEY §2.K equi-joins, §2.G top-k]
  def q3TopRevenue(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = orders(s, d).select("o_orderkey", "o_custkey")
    val l = lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey")
      .agg(r2(sum("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q4
  // Semi join with a non-equi residual: orders having a late-shipped line
  // (ship > order date + 90 days). LeftSemi keeps the probe side lean —
  // no fact-side row duplication before the aggregate. [SURVEY §2.K]
  def q4LateShipPriority(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val l = lineitem(s, d).select("l_orderkey", "l_shipdate")
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q5
  // Five-way star join (TPC-H Q5 shape): fact ⋈ orders ⋈ customer ⋈
  // supplier, then broadcast nation/region; revenue per nation. The
  // c_nationkey = s_nationkey condition correlates the two dim paths.
  // Only nation (25 rows) and region (5 rows) carry broadcast hints —
  // they are constant-size regardless of SF. customer and supplier SCALE
  // with SF, so they get no hint: AQE broadcasts them while small and
  // switches to shuffle joins at cluster scale, where a forced broadcast
  // would OOM the build side.
  def q5NationRevenue(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val c = customer(s, d).select("c_custkey", "c_nationkey")
    val su = supplier(s, d).select("s_suppkey", "s_nationkey")
    val n = nation(s, d)
    val r = region(s, d).filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(r2(sum("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q6
  // Pure scan-filter-aggregate (TPC-H Q6 shape): single-row result, the
  // canonical predicate-pushdown + whole-stage-codegen microbench.
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24.0)
      .agg(r2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q6Sql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin

  // ---------------------------------------------------------------- q7
  // Anti join: customers with no order since 2001, per market segment
  // (every customer has *some* order in this data, so the recency filter
  // keeps the anti join's output non-trivial).
  def q7CustomersNoOrders(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  val q7Sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q8
  // Ranking window + top-k per group: 3 priciest orders per customer.
  // Single hash-partitioned shuffle on o_custkey; rank pushed before the
  // projection so the sort is per-partition. [SURVEY §2.K ranking]
  def q8TopOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  val q8Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- q9
  // ROLLUP: hierarchical aggregate with map-side partials reused across
  // grouping sets. NULL-filled super-aggregate rows mirror ANSI.
  def q9Rollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), r2(sum("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val q9Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q10
  // CUBE over order status × priority.
  def q10Cube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        r2(sum("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val q10Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q11
  // Distinct aggregates: exact distinct counts expand to two-phase
  // aggregation; paired with a plain count in the same pass.
  def q11DistinctCounts(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("n_supp"),
        countDistinct("l_partkey").as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val q11Sql: String =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q12
  // Interval (range) join — the reference's centerpiece operator D1
  // (`/root/reference/src/voice_classifier.py:125-134`: frame-time vs
  // segment-boundary labeling loop) re-expressed relationally: price
  // bands × orders via a broadcast non-equi join
  // (BroadcastNestedLoopJoin over a 5-row build side; at scale the bands
  // stay broadcast, the fact side never moves). Half-open [lo, hi)
  // semantics per SURVEY quirk Q1.
  def q12IntervalJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("p0_100k", 0.0, 100000.0),
      ("p100_200k", 100000.0, 200000.0),
      ("p200_300k", 200000.0, 300000.0),
      ("p300_400k", 300000.0, 400000.0),
      ("p400k_up", 400000.0, 1e9)).toDF("band", "lo", "hi")
    orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"),
        r2(avg("o_totalprice")).as("avg_price"))
      .orderBy("band")
  }

  val q12Sql: String =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('p0_100k', 0.0, 100000.0),
      |  ('p100_200k', 100000.0, 200000.0),
      |  ('p200_300k', 200000.0, 300000.0),
      |  ('p300_400k', 300000.0, 400000.0),
      |  ('p400k_up', 400000.0, 1e9))
      |SELECT band, count(*) AS n_orders, round(avg(o_totalprice), 2) AS avg_price
      |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  // ---------------------------------------------------------------- q13
  // Running cumulative sum per customer (reference op B7/F1 — the
  // transcript's cumulative end-seconds accumulator,
  // `/root/reference/src/data_generator.py:21`): one shuffle on
  // o_custkey, in-partition ordered prefix sum.
  def q13RunningTotal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("order_epoch", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"),
        col("o_totalprice"))
      .withColumn("running_spend", r2(sum("o_totalprice").over(w)))
      .orderBy("o_custkey", "order_epoch", "o_orderkey")
  }

  val q13Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
      |  o_totalprice,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, order_epoch, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q14
  // JSON extraction from the events.props payload column, aggregated per
  // event type. Spark uses get_json_object (codegen'd path traversal);
  // the oracle uses a regexp equivalent — same values.  [SURVEY §2.K]
  def q14JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      // try_cast, not cast (r19 review): ANSI cast hard-crashes the
      // whole query on one non-numeric k ('{"k": "text"}'); the
      // extraction contract is null-on-malformed, like the oracle's
      .withColumn("k",
        expr("try_cast(get_json_object(props, '$.k') AS LONG)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        r4(avg("k")).as("avg_k"), r2(sum("value")).as("sum_value"))
      .orderBy("event_type")

  // TRY_CAST(nullif(…)) mirrors get_json_object's null-on-missing
  // (r19 review): DuckDB regexp_extract returns '' on no-match and a
  // plain CAST('' AS BIGINT) is a hard conversion ERROR — one props
  // row without a numeric "k" ('{}', malformed) would crash the
  // whole oracle where Spark aggregates a null cleanly. The pattern
  // also accepts a QUOTED integer ('"k": "7"') with a [,}] terminator
  // — get_json_object unquotes scalars, so the Spark side extracts 7
  // there; without the quotes-aware form the engines diverge
  val q14Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(TRY_CAST(nullif(regexp_extract(props, '"k":\s*"?(-?\d+)"?\s*[,}]', 1), '') AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(avg(TRY_CAST(nullif(regexp_extract(props, '"k":\s*"?(-?\d+)"?\s*[,}]', 1), '') AS BIGINT)), 4) AS avg_k,
      |  round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q15
  // Event-time tumbling window (batch form of the streaming agg):
  // hour buckets emitted as epoch seconds — engine-neutral, and at scale
  // the natural partition key for the downstream sink.
  def q15HourlyEvents(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("sum_value"))
      .orderBy("hour_epoch", "event_type")

  val q15Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_epoch, event_type""".stripMargin

  // ---------------------------------------------------------------- q16
  // Gap-based sessionization (batch): the event-time analogue of the
  // reference's time-segmentation (SURVEY D1/§2.K). 30-minute inactivity
  // gap → session ids via lag + running conditional sum; one shuffle on
  // user_id covers both windows and the final aggregate.
  def q16Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      // null-ts events do not sessionize (r19 review — the q26/q94
      // precedent: session_window drops them): without the filter the
      // engines DIVERGE on the break count, because Spark's window
      // ORDER BY puts nulls FIRST (each null row and the first real
      // row both trigger prev_ts IS NULL) while DuckDB puts them LAST
      .filter(col("ts").isNotNull)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum("new_session").over(cum))
      .groupBy("user_id")
      .agg(max("session_id").cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val q16Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WHERE ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM sess
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q17
  // Set op: UNION ALL of two entity projections + aggregate.
  def q17UnionEntities(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nationkey"),
        lit("customer").as("kind"))
      .unionAll(supplier(s, d).select(col("s_nationkey").as("nationkey"),
        lit("supplier").as("kind")))
      .groupBy("nationkey", "kind")
      .agg(count(lit(1)).as("n"))
      .orderBy("nationkey", "kind")

  val q17Sql: String =
    """SELECT nationkey, kind, count(*) AS n FROM (
      |  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier) t
      |GROUP BY nationkey, kind
      |ORDER BY nationkey, kind""".stripMargin

  // ---------------------------------------------------------------- q18
  // Scalar-function exercise (SURVEY §2.H): string + math built-ins,
  // all whole-stage-codegen'd, checked row-level against the oracle.
  def q18ScalarFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        (col("p_size") % 5).cast("long").as("size_mod"),
        floor(col("p_retailprice") / 100.0).as("price_bucket"),
        when(col("p_size") >= 25, "large").otherwise("small").as("size_class"),
        format_string("%s#%02d", col("p_brand"), col("p_size"))
          .as("brand_tag"))
      .orderBy("p_partkey")

  val q18Sql: String =
    """SELECT p_partkey, upper(p_brand) AS brand_uc,
      |  substr(p_type, 1, 5) AS type_prefix,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  CAST(p_size % 5 AS BIGINT) AS size_mod,
      |  CAST(floor(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
      |  CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class,
      |  printf('%s#%02d', p_brand, p_size) AS brand_tag
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q19
  // Argmax / top-1 per group (reference op G4 relationally): for each
  // event type, the busiest hour. Two-level aggregate + rank.
  def q19BusiestHour(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type")
      // asc_nulls_last pins the tie-break to DuckDB's default (r19
      // review): a null hour bucket (null-ts events) tying the max
      // count would otherwise win on the Spark side (nulls FIRST on
      // ASC) and lose on the oracle side
      .orderBy(col("n_events").desc, col("hour_epoch").asc_nulls_last)
    hourly.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_type", "hour_epoch", "n_events")
      .orderBy("event_type")
  }

  val q19Sql: String =
    """SELECT event_type, hour_epoch, n_events FROM (
      |  SELECT event_type, hour_epoch, n_events,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY n_events DESC, hour_epoch) AS rn
      |  FROM (
      |    SELECT event_type,
      |      CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |      count(*) AS n_events
      |    FROM events GROUP BY 1, 2) h) t
      |WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q20
  // Correlated rank via join back to an aggregate: customers whose total
  // spend exceeds 10× the global average order value (scalar subquery →
  // broadcast). Exercises two aggregation granularities in one plan.
  def q20BigSpenders(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val perCust = o.groupBy("o_custkey")
      .agg(sum("o_totalprice").as("spend_raw"), count(lit(1)).as("n_orders"))
    val avgOrder = o.agg(avg("o_totalprice").as("global_avg"))
    perCust.crossJoin(broadcast(avgOrder))
      .filter(col("spend_raw") > col("global_avg") * 10.0)
      .select(col("o_custkey"), r2(col("spend_raw")).as("spend"),
        col("n_orders"))
      .orderBy("o_custkey")
  }

  val q20Sql: String =
    """SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING sum(o_totalprice) >
      |  10.0 * (SELECT avg(o_totalprice) FROM orders)
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q26
  // Built-in session_window in batch mode (the same expression the
  // streaming path uses — StreamingOps.sessionWindows): 30-min gap
  // sessions per user. Session start emitted as epoch micros. A new
  // session opens when the gap is >= the window size, which the oracle
  // mirrors with a lag/cumsum rewrite.
  def q26SessionWindowBatch(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start_us")

  val q26Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  -- Spark's session_window DROPS null timestamps (the q94
      |  -- precedent); without this filter the lag/cumsum rewrite
      |  -- would count them into the user's last session (r19)
      |  FROM events WHERE ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  // ---------------------------------------------------------------- q27
  // Positional (zip-by-rank) join — reference op D2
  // (`/root/reference/src/voice_classifier.py:297-300` joins prediction
  // and feature tables by row position):
  // the general Spark form is row_number over an explicit total order on
  // each side + equi-join on the rank. Top-50 customers by balance zipped
  // with top-50 suppliers by balance.
  def q27ZipPosition(s: SparkSession, d: String): DataFrame = {
    // top-50 per side via the bounded TopK.ranked (distributed
    // TakeOrdered, then ranks over the 50 survivors), NOT a global
    // no-partition window funneling the whole table through one task
    val c = TopK.ranked(customer(s, d).select(col("c_custkey"), col("c_acctbal")),
      50, "rn", col("c_acctbal").desc, col("c_custkey"))
    val su = TopK.ranked(supplier(s, d).select(col("s_suppkey"), col("s_acctbal")),
      50, "rn", col("s_acctbal").desc, col("s_suppkey"))
    c.join(su, "rn")
      .select(col("rn"), col("c_custkey"), col("c_acctbal"),
        col("s_suppkey"), col("s_acctbal"))
      .orderBy("rn")
  }

  val q27Sql: String =
    """SELECT c.rn AS rn, c_custkey, c_acctbal, s_suppkey, s_acctbal
      |FROM (SELECT c_custkey, c_acctbal,
      |        row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
      |      FROM customer) c
      |JOIN (SELECT s_suppkey, s_acctbal,
      |        row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rn
      |      FROM supplier) s ON c.rn = s.rn
      |WHERE c.rn <= 50
      |ORDER BY rn""".stripMargin

  /** q28 runs VERBATIM in both engines — the SQL surface check. */
  val q28Text: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_returnflag,
      |  count(*) AS n_rows,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY ship_year, l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q28
  // spark.sql(...) surface: the engine accepts ANSI SQL text directly;
  // the oracle runs the IDENTICAL string.
  def q28SqlSurface(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q28Text)
  }

  /** q35 runs VERBATIM in both engines (GROUPING SETS surface). */
  val q35Text: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
      |                        (l_returnflag, l_linestatus))
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q35
  // Explicit GROUPING SETS (beyond rollup/cube): via the SQL surface,
  // identical text in both engines.
  def q35GroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q35Text)
  }

  // ---------------------------------------------------------------- q36
  // LEFT OUTER join with null-group accounting: order counts per
  // customer including order-less customers (null-safe aggregation).
  def q36OuterJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1).otherwise(0))
          .as("n_unmatched"))
      .orderBy("c_mktsegment")

  val q36Sql: String =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched
      |FROM customer
      |LEFT JOIN orders ON c_custkey = o_custkey
      |  AND o_orderdate >= TIMESTAMP '2001-01-01'
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q37
  // Set operations: INTERSECT and EXCEPT of key sets, counted.
  def q37SetOps(s: SparkSession, d: String): DataFrame = {
    val early = orders(s, d)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_custkey")
    val late = orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select("o_custkey")
    val both = early.intersect(late).agg(count(lit(1)).as("n"))
      .withColumn("set_op", lit("both_eras"))
    val onlyEarly = early.except(late).agg(count(lit(1)).as("n"))
      .withColumn("set_op", lit("early_only"))
    both.unionAll(onlyEarly).select("set_op", "n").orderBy("set_op")
  }

  val q37Sql: String =
    """SELECT set_op, n FROM (
      |  SELECT 'both_eras' AS set_op, count(*) AS n FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |    INTERSECT
      |    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') a
      |  UNION ALL
      |  SELECT 'early_only' AS set_op, count(*) AS n FROM (
      |    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |    EXCEPT
      |    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') b) t
      |ORDER BY set_op""".stripMargin

  // ---------------------------------------------------------------- q38
  // lead/lag analytics: inter-order gap per customer (days between
  // consecutive orders), aggregated per customer.
  def q38OrderGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(s, d)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        (unix_timestamp(col("o_orderdate")) - unix_timestamp(col("prev_date")))
          / 86400.0)
      .groupBy("o_custkey")
      .agg(count(col("gap_days")).as("n_gaps"),
        r4(avg("gap_days")).as("avg_gap_days"),
        r4(max("gap_days")).as("max_gap_days"))
      .orderBy("o_custkey")

  }

  val q38Sql: String =
    """SELECT o_custkey,
      |  CAST(count(gap_days) AS BIGINT) AS n_gaps,
      |  round(avg(gap_days), 4) AS avg_gap_days,
      |  round(max(gap_days), 4) AS max_gap_days
      |FROM (
      |  SELECT o_custkey,
      |    (epoch(o_orderdate) - epoch(lag(o_orderdate) OVER
      |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)))
      |      / 86400.0 AS gap_days
      |  FROM orders) t
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q39
  // Exact percentiles (interpolated, ANSI percentile_cont semantics in
  // both engines) per order status.
  def q39Percentiles(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        r2(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r2(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        r2(expr("percentile(o_totalprice, 0.99)")).as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  val q39Sql: String =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
      |  round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q41
  // RANGE-frame window: trailing-30-day order count/spend per customer —
  // the value-based frame (vs q13's ROWS frame) over epoch seconds.
  def q41TrailingWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("epoch_s")
      .rangeBetween(-30L * 86400, 0)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        col("o_totalprice"))
      .withColumn("n_trailing_30d", count(lit(1)).over(w))
      .withColumn("spend_trailing_30d", r2(sum("o_totalprice").over(w)))
      .orderBy("o_custkey", "epoch_s", "o_orderkey")
  }

  val q41Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s, o_totalprice,
      |  count(*) OVER w AS n_trailing_30d,
      |  round(sum(o_totalprice) OVER w, 2) AS spend_trailing_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
      |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, epoch_s, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q42
  // ntile + percent_rank: price quartiles within each order status
  // (deterministic under the unique (price, orderkey) total order).
  // Scale note: global ranking within a partition key is inherently one
  // sorted partition per key — with few huge keys, the two-phase rewrite
  // (approx quantile boundaries → bucket join) replaces this shape.
  def q42Quartiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", r4(percent_rank().over(w)))
      .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
  }

  val q42Sql: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 4) AS pct_rank
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q43
  // Event funnel via self range-join: signup → purchase by the same user
  // within 1 hour. The equi key (user_id) carries the shuffle; the time
  // range is a join residual — the batch form of the stream-stream
  // interval join (StreamingOps.signupPurchaseJoin).
  def q43Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    signups.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") > col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id")
      .agg(countDistinct("signup_id").as("converted_signups"),
        count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  val q43Sql: String =
    """SELECT s.user_id,
      |  count(DISTINCT s.event_id) AS converted_signups,
      |  count(*) AS n_pairs
      |FROM events s
      |JOIN events p ON s.user_id = p.user_id
      |  AND s.event_type = 'signup' AND p.event_type = 'purchase'
      |  AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      |GROUP BY s.user_id
      |ORDER BY s.user_id""".stripMargin

  // ---------------------------------------------------------------- q44
  // As-of join by composition (survey preference (a)): for each 'error'
  // event, the user's most recent prior event of any other type.
  //
  // Scale form: NO self-join. A join errors×events fans out quadratically
  // within a heavy user (every prior event × every error) before the
  // rank-filter discards all but one row per error. Instead both sides
  // ride ONE window over the unioned stream: partition by user, order by
  // event time, RANGE frame ending 1 µs before the current row (strict
  // "prior", excluding same-timestamp events), carrying the max-by-
  // (ts, min event_id) non-error event as a struct. One shuffle on
  // user_id, per-row state O(1), no fan-out — survives any user skew.
  def q44AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    // struct max = latest ts, tie-broken to the SMALLEST event_id via the
    // negated id field (struct comparison is lexicographic; event_id is
    // unique so later fields never decide).
    val prior = max(when(col("event_type") =!= "error",
      struct(col("ts_us").as("pts"), (-col("event_id")).as("nid"),
        col("event_type").as("ptype"), col("event_id").as("pid")))).over(w)
    ev.withColumn("prior", prior)
      .filter(col("event_type") === "error" && col("prior").isNotNull)
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts_us").as("err_ts_us"),
        col("prior.pid").as("prior_id"), col("prior.ptype").as("prior_type"),
        col("prior.pts").as("prior_ts_us"))
      .orderBy("err_id")
  }

  val q44Sql: String =
    """SELECT err_id, user_id, err_ts_us, prior_id, prior_type, prior_ts_us
      |FROM (
      |  SELECT e.event_id AS err_id, e.user_id,
      |    epoch_us(e.ts) AS err_ts_us,
      |    p.event_id AS prior_id, p.event_type AS prior_type,
      |    epoch_us(p.ts) AS prior_ts_us,
      |    row_number() OVER (PARTITION BY e.event_id
      |                       ORDER BY p.ts DESC, p.event_id) AS rn
      |  FROM events e
      |  JOIN events p ON e.user_id = p.user_id
      |    AND e.event_type = 'error' AND p.event_type <> 'error'
      |    AND p.ts < e.ts) t
      |WHERE rn = 1
      |ORDER BY err_id""".stripMargin

  // ---------------------------------------------------------------- q45
  // Calendar reporting: monthly revenue per year/month/quarter.
  def q45MonthlyRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"),
        quarter(col("l_shipdate")).cast("long").as("ship_quarter"),
        month(col("l_shipdate")).cast("long").as("ship_month"))
      .agg(count(lit(1)).as("n_rows"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"))
      .orderBy("ship_year", "ship_month")

  val q45Sql: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(quarter(l_shipdate) AS BIGINT) AS ship_quarter,
      |  CAST(month(l_shipdate) AS BIGINT) AS ship_month,
      |  count(*) AS n_rows,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |GROUP BY 1, 2, 3
      |ORDER BY ship_year, ship_month""".stripMargin

  // ---------------------------------------------------------------- q46
  // Null semantics: nullif manufactures NULLs (zero discounts), then
  // null-aware aggregation + coalesce — ANSI three-valued logic path
  // (the reference has no null handling at all; the engine must).
  def q46NullHandling(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("disc_or_null",
        when(col("l_discount") === 0.0, lit(null)).otherwise(col("l_discount")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        count(col("disc_or_null")).as("n_discounted"),
        sum(when(col("disc_or_null").isNull, 1).otherwise(0))
          .as("n_zero_disc"),
        r4(avg(col("disc_or_null"))).as("avg_nonzero_disc"),
        r4(avg(coalesce(col("disc_or_null"), lit(0.0)))).as("avg_all_disc"))
      .orderBy("l_returnflag")

  val q46Sql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  count(nullif(l_discount, 0.0)) AS n_discounted,
      |  CAST(sum(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero_disc,
      |  round(avg(nullif(l_discount, 0.0)), 4) AS avg_nonzero_disc,
      |  round(avg(coalesce(nullif(l_discount, 0.0), 0.0)), 4) AS avg_all_disc
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q47 runs VERBATIM in both engines: correlated scalar subquery
    * (Catalyst decorrelates it into an aggregate + join).
    */
  val q47Text: String =
    """SELECT o.o_custkey, count(*) AS n_big_orders
      |FROM orders o
      |WHERE o.o_totalprice > (
      |  SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
      |  WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o.o_custkey
      |ORDER BY o.o_custkey""".stripMargin

  // ---------------------------------------------------------------- q47
  def q47CorrelatedSubquery(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(q47Text)
  }

  // ---------------------------------------------------------------- q50
  // PIVOT: wide per-linestatus quantity sums (explicit value list keeps
  // the output schema static — the scale-safe form; dynamic pivot needs
  // a values scan first). Oracle mirrors with conditional aggregation.
  def q50Pivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 2))
      .na.fill(0.0)
      .orderBy("l_returnflag")

  val q50Sql: String =
    """SELECT l_returnflag,
      |  coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2), 0.0) AS F,
      |  coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2), 0.0) AS O
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q51
  // UNPIVOT (melt): three measure columns back to (measure, value) rows.
  def q51Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = orders(s, d)
      .groupBy("o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("sum_price"),
        round(avg("o_totalprice"), 2).as("avg_price"),
        round(max("o_totalprice"), 2).as("max_price"))
    wide.unpivot(Array(col("o_orderstatus")),
        Array(col("sum_price"), col("avg_price"), col("max_price")),
        "measure", "value")
      .orderBy("o_orderstatus", "measure")
  }

  val q51Sql: String =
    """WITH wide AS (
      |  SELECT o_orderstatus,
      |    round(sum(o_totalprice), 2) AS sum_price,
      |    round(avg(o_totalprice), 2) AS avg_price,
      |    round(max(o_totalprice), 2) AS max_price
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, measure, value FROM (
      |  SELECT o_orderstatus, 'sum_price' AS measure, sum_price AS value FROM wide
      |  UNION ALL
      |  SELECT o_orderstatus, 'avg_price', avg_price FROM wide
      |  UNION ALL
      |  SELECT o_orderstatus, 'max_price', max_price FROM wide) t
      |ORDER BY o_orderstatus, measure""".stripMargin

  // ---------------------------------------------------------------- q52
  // Statistical aggregates: sample stddev/variance, Pearson correlation,
  // sample covariance per group (two-pass-free single-aggregation forms
  // in both engines). Rounded at 4 dp — the moment sums are
  // order-sensitive doubles.
  def q52StatsAggs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        // +0.0 normalizes IEEE negative zero: covar of near-independent
        // columns rounds to ±0.0 whose sign differs across engines.
        (r4(covar_samp(col("l_discount"), col("l_tax"))) + lit(0.0)).as("covar_disc_tax"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val q52Sql: String =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_discount, l_tax), 4) + 0.0 AS covar_disc_tax,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q54
  // Conditional aggregation + calendar arithmetic per priority class:
  // FILTER-style counting, day spans from date min/max, distinct month
  // buckets — one hash aggregate, map-side partials, no extra shuffle
  // for the conditional counts (they ride the same exchange).
  def q54CondDateAggs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count(when(col("o_totalprice") > 150000, 1)).as("n_big"),
        datediff(max(col("o_orderdate")), min(col("o_orderdate")))
          .cast("long").as("span_days"),
        countDistinct(trunc(col("o_orderdate"), "month"))
          .as("n_months"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_orderpriority")

  val q54Sql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      |  CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS BIGINT)
      |    AS span_days,
      |  count(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
      |  count(*) AS n_rows
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q60
  // Keep-latest-per-key — the CDC/upsert-compaction shape every ingest
  // pipeline runs (dedup a changelog to each key's newest record):
  // row_number over (key, recency desc) with a deterministic id
  // tie-break, keep rank 1. One shuffle on the key; at scale this is
  // the standard log-compaction pass and the window state per key is a
  // single row (rank 1 short-circuits).
  def q60LatestOrder(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"),
        col("o_totalprice"))
      .orderBy("o_custkey")
  }

  val q60Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch, o_totalprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q61
  // Distribution windows — ntile quartiles, percent_rank, cume_dist
  // per order-status partition. The deterministic o_orderkey tie-break
  // makes every rank unique. Honest scale caveat: these are EXACT
  // global-per-group ranks — each status partition funnels through one
  // task's sort, like any total ranking; at 100 TB the answerable form
  // is the mergeable sketch (nq_approx_percentiles) unless the group
  // count is large enough to parallelize the windows.
  def q61DistWindows(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderkey")
  }

  val q61Sql: String =
    """SELECT o_orderkey, o_orderstatus,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q80
  // Top-k per group as a BOUNDED AGGREGATE — the custom
  // TypedImperativeAggregate `top_k` (functions.BoundedTopK) against
  // q08's window-rank form. The window form must shuffle EVERY order to
  // its customer's reducer before discarding any; the aggregate keeps a
  // k-bounded heap per (group, map partition), so the exchange carries
  // ≤ k rows per group per partition however large the input — the
  // top-k shape that survives a billion-row group. Ordering is the
  // struct's lexicographic order: (o_totalprice, o_orderkey) descending
  // = highest price first, ties to the later orderkey — replicated
  // verbatim in the oracle's ORDER BY.  [SURVEY §2.K]
  def q80TopKAgg(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    graft.functions.VecFunctions.register(s)
    orders(s, d)
      .select(col("o_custkey"),
        struct(col("o_totalprice"), col("o_orderkey")).as("sv"))
      .groupBy("o_custkey")
      .agg(expr(s"top_k(sv, $k)").as("top"))
      .select(col("o_custkey"), explode(col("top")).as("t"))
      .select(col("o_custkey"), col("t.o_orderkey").as("o_orderkey"),
        col("t.o_totalprice").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc,
        col("o_orderkey").desc)
  }

  val q80Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey DESC""".stripMargin

  /** name → query */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_topk_agg" -> ((s: SparkSession, d: String) => q80TopKAgg(s, d)),
    "q60_latest_order" -> q60LatestOrder _,
    "q61_dist_windows" -> q61DistWindows _,
    "q54_cond_date_aggs" -> q54CondDateAggs _,
    "q01_pricing_summary" -> q1PricingSummary _,
    "q02_filter_project" -> q2FilterProject _,
    "q03_top_revenue" -> q3TopRevenue _,
    "q04_late_ship_priority" -> q4LateShipPriority _,
    "q05_nation_revenue" -> q5NationRevenue _,
    "q06_forecast_revenue" -> q6ForecastRevenue _,
    "q07_customers_no_orders" -> q7CustomersNoOrders _,
    "q08_top_orders_per_customer" -> q8TopOrdersPerCustomer _,
    "q09_rollup" -> q9Rollup _,
    "q10_cube" -> q10Cube _,
    "q11_distinct_counts" -> q11DistinctCounts _,
    "q12_interval_join" -> q12IntervalJoin _,
    "q13_running_total" -> q13RunningTotal _,
    "q14_json_extract" -> q14JsonExtract _,
    "q15_hourly_events" -> q15HourlyEvents _,
    "q16_sessionize" -> q16Sessionize _,
    "q17_union_entities" -> q17UnionEntities _,
    "q18_scalar_funcs" -> q18ScalarFuncs _,
    "q19_busiest_hour" -> q19BusiestHour _,
    "q20_big_spenders" -> q20BigSpenders _,
    "q26_session_window" -> q26SessionWindowBatch _,
    "q27_zip_position" -> q27ZipPosition _,
    "q28_sql_surface" -> q28SqlSurface _,
    "q35_grouping_sets" -> q35GroupingSets _,
    "q36_outer_join" -> q36OuterJoin _,
    "q37_set_ops" -> q37SetOps _,
    "q38_order_gaps" -> q38OrderGaps _,
    "q39_percentiles" -> q39Percentiles _,
    "q41_trailing_window" -> q41TrailingWindow _,
    "q42_quartiles" -> q42Quartiles _,
    "q43_funnel" -> q43Funnel _,
    "q44_asof_join" -> q44AsofJoin _,
    "q45_monthly_revenue" -> q45MonthlyRevenue _,
    "q46_null_handling" -> q46NullHandling _,
    "q47_correlated_subquery" -> q47CorrelatedSubquery _,
    "q50_pivot" -> q50Pivot _,
    "q51_unpivot" -> q51Unpivot _,
    "q52_stats_aggs" -> q52StatsAggs _)

  /** name → DuckDB oracle SQL */
  val oracle: Map[String, String] = Map(
    "q80_topk_agg" -> q80Sql,
    "q01_pricing_summary" -> q1Sql,
    "q02_filter_project" -> q2Sql,
    "q03_top_revenue" -> q3Sql,
    "q04_late_ship_priority" -> q4Sql,
    "q05_nation_revenue" -> q5Sql,
    "q06_forecast_revenue" -> q6Sql,
    "q07_customers_no_orders" -> q7Sql,
    "q08_top_orders_per_customer" -> q8Sql,
    "q09_rollup" -> q9Sql,
    "q10_cube" -> q10Sql,
    "q11_distinct_counts" -> q11Sql,
    "q12_interval_join" -> q12Sql,
    "q13_running_total" -> q13Sql,
    "q14_json_extract" -> q14Sql,
    "q15_hourly_events" -> q15Sql,
    "q16_sessionize" -> q16Sql,
    "q17_union_entities" -> q17Sql,
    "q18_scalar_funcs" -> q18Sql,
    "q19_busiest_hour" -> q19Sql,
    "q20_big_spenders" -> q20Sql,
    "q26_session_window" -> q26Sql,
    "q27_zip_position" -> q27Sql,
    "q28_sql_surface" -> q28Text,
    "q35_grouping_sets" -> q35Text,
    "q36_outer_join" -> q36Sql,
    "q37_set_ops" -> q37Sql,
    "q38_order_gaps" -> q38Sql,
    "q39_percentiles" -> q39Sql,
    "q41_trailing_window" -> q41Sql,
    "q42_quartiles" -> q42Sql,
    "q43_funnel" -> q43Sql,
    "q44_asof_join" -> q44Sql,
    "q45_monthly_revenue" -> q45Sql,
    "q46_null_handling" -> q46Sql,
    "q47_correlated_subquery" -> q47Text,
    "q50_pivot" -> q50Sql,
    "q51_unpivot" -> q51Sql,
    "q52_stats_aggs" -> q52Sql,
    "q54_cond_date_aggs" -> q54Sql,
    "q60_latest_order" -> q60Sql,
    "q61_dist_windows" -> q61Sql)
}
