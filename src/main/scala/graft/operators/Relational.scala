package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Portable
import graft.sources.Tables

/** Relational core: the query-engine capabilities underneath the
  * reference's event operators (scan/filter/agg/join/window/...).
  *
  * Correctness conventions shared with the DuckDB oracle:
  *   - double measures are aggregated through DECIMAL (exact and
  *     order-independent, so parallel aggregation order can't change
  *     the result) and cast back to double at the end;
  *   - every output column is aliased identically on both sides;
  *   - a total ORDER BY on a unique key keeps row order identical.
  *
  * Scale notes: dimension tables at TPC-H ratios (region, nation,
  * supplier, customer, part) stay broadcast-size even at 100 TB
  * lineitem; fact-side joins shuffle on the join key and rely on AQE
  * for skew/coalesce. Aggregations are partial (map-side combine) by
  * construction since all aggregates here are algebraic.
  */
object Relational {

  private val D = DecimalType(18, 2)

  /** B1: pricing summary (TPC-H Q1 shape). One scan, one shuffle. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= Portable.utcTs("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
          .cast(DecimalType(38, 4))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** `extendedprice * (1 - discount)` routed through DECIMAL(38,4):
    * exact, so parallel sum order can't flip result bits. */
  private def revenue = sum((col("l_extendedprice").cast(D) *
    (lit(1).cast(D) - col("l_discount").cast(D))).cast(DecimalType(38, 4)))
  private val revenueSql =
    "sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)))"

  // ---------------------------------------------------------------- B2
  /** 3-way join + agg + top-k (TPC-H Q3 shape). customer is the small
    * side of its join (AQE broadcasts at this SF; shuffle-joins with
    * skew handling at 100 TB where customer scales too). orderBy+limit
    * plans as TakeOrderedAndProject — only 10 rows cross the merge. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") < Portable.utcTs("1996-06-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > Portable.utcTs("1996-06-01"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(revenue.cast("double").as("rev"))
      .select(col("l_orderkey"), unix_micros(col("o_orderdate")).as("o_date_us"), col("rev"))
      .orderBy(col("rev").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3ShippingPrioritySql: String =
    s"""SELECT l_orderkey, epoch_us(o_orderdate) AS o_date_us,
      |  CAST($revenueSql AS DOUBLE) AS rev
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-06-01'
      |  AND l_shipdate > TIMESTAMP '1996-06-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- B3
  /** 6-way join (TPC-H Q5 shape). region/nation are fixed-cardinality
    * (5/25 rows) at any SF — broadcast explicitly; the fact-side joins
    * shuffle on their keys with AQE. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA"))
    val nation = broadcast(Tables.nation(spark, dir))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= Portable.utcTs("1996-01-01") &&
        col("o_orderdate") < Portable.utcTs("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(revenue.cast("double").as("rev"))
      .orderBy(col("n_name"))
  }

  val q5LocalSupplierSql: String =
    s"""SELECT n_name, CAST($revenueSql AS DOUBLE) AS rev
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- B4
  /** Window functions: per-customer running total, row_number, lag.
    * Window is partitioned by o_custkey — shuffles once on the key,
    * never a single-partition global sort. Ordering (o_orderdate,
    * o_orderkey) is total within a partition, so frame contents are
    * deterministic on both engines. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .where(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        sum(col("o_totalprice").cast(D)).over(w).cast("double"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_date_us"),
        col("rn"), col("running_total"), col("prev_price"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS o_date_us,
      |  row_number() OVER w AS rn,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
      |  lag(o_totalprice, 1) OVER w AS prev_price
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- B5
  /** Distinct — one shuffle on the composite key, map-side partial. */
  def qDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(spark, dir)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"))

  val qDistinctUsersSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- B6
  /** Semi join (EXISTS): customers with ≥1 urgent order. left_semi
    * keeps the build side to keys only — no row multiplication. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- B7
  /** Anti join (NOT EXISTS): customers with no urgent order (the
    * all-orders variant is vacuously empty on this data). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .where(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- B8
  /** Rollup: (status, priority) → (status) → (). NULL grouping cells
    * are folded to 'ALL' on both engines so sort order and hashes
    * can't disagree on NULL placement. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).cast("double").as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total"))
      .orderBy(col("status"), col("priority"))

  val qRollupSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- B9
  /** Top-k per group: 3 highest-value orders per market segment.
    * row_number (not rank) + unique tiebreaker ⇒ exactly 3 rows per
    * group on both engines. Window shuffles on the segment key. */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice")
      .join(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("c_mktsegment").as("segment"), col("rk"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("segment"), col("rk"))
  }

  val qTopkPerGroupSql: String =
    """SELECT c_mktsegment AS segment, rk, o_orderkey, o_totalprice FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rk <= 3
      |ORDER BY segment, rk""".stripMargin

  // ---------------------------------------------------------------- B10
  /** Sessionization: gap > 30 min starts a new session. All math in µs
    * longs so both engines compare identical integers. Two windows over
    * the same (user_id, time) partitioning — one shuffle total. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000
    val wOrd = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.eventsRaw(spark, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      // Explicit ROWS frame: the default RANGE frame only coincidentally
      // matches because (us, event_id) is unique per partition.
      .withColumn("session_id", sum(col("new_sess"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val qSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, us,
      |    -- CAST: DuckDB sums to HUGEINT; Spark emits BIGINT. Pin both to BIGINT.
      |    CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM e)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(us) AS start_us, max(us) AS end_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- B11
  /** Tumbling 1-hour window agg over event time. The window key is
    * derived arithmetically from µs (us - us % 3600e6) so the bucket
    * boundary math is integer-identical on both engines. */
  def qTumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    Tables.eventsRaw(spark, dir)
      .select(col("event_type"), col("value"),
        (expr("ts DIV 1000") - expr("ts DIV 1000") % hourUs).as("window_start_us"))
      .groupBy(col("window_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("total_value"))
      .orderBy(col("window_start_us"), col("event_type"))
  }

  val qTumblingWindowSql: String =
    """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin

  // ---------------------------------------------------------------- B12
  /** JSON field extraction from the props payload, then aggregate by
    * the extracted key. Extraction rides the variant fast path
    * ([[graft.functions.Portable.jsonGetString]] — 8.5× over get_json_object at 100×,
    * see BASELINE round-10 table) and happens before the shuffle so
    * only (k, partials) move. */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(spark, dir)
      // intStrict: a malformed $.k degrades to NULL-and-filtered with
      // IDENTICAL kept-row sets on both engines (their lenient casts
      // disagree on e.g. '3.5' — see Portable.intStrict)
      .select(Portable.intStrict(Portable.jsonGetString(col("props"), "$.k")).as("k"),
        col("value"))
      .where(col("k").isNotNull)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("total_value"))
      .orderBy(col("k"))

  val qJsonExtractSql: String =
    s"""SELECT ${Portable.intStrictSql("json_extract_string(props, '$.k')")} AS k,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE ${Portable.intStrictSql("json_extract_string(props, '$.k')")} IS NOT NULL
      |GROUP BY 1
      |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- B13
  /** Scalar-subquery shape: parts priced above their brand's average.
    * The comparison is cross-multiplied (price·n > sum) in DECIMAL so
    * no division bits can differ between engines. The per-brand agg is
    * tiny and broadcast back into the join. */
  def qAboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_retailprice")
    val brandAgg = part.groupBy(col("p_brand").as("b_brand"))
      .agg(sum(col("p_retailprice").cast(D)).as("b_sum"), count(lit(1)).as("b_n"))
    part.join(broadcast(brandAgg), col("p_brand") === col("b_brand"))
      .where(col("p_retailprice").cast(D) * col("b_n") > col("b_sum"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  // ---------------------------------------------------------------- B14
  /** Exact percentiles per group. Spark's `percentile` and DuckDB's
    * `quantile_cont` both use R-7 interpolation at (n-1)·p over the
    * sorted values, so results agree bit-for-bit on identical doubles.
    * Exact percentile sorts within each (small-cardinality) group; for
    * percentile-of-everything at 100 TB swap in approx_percentile and
    * drop the oracle to rows-only. */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))
      .orderBy("event_type")

  val qPercentilesSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(quantile_cont(value, 0.5) AS DOUBLE) AS p50,
      |  CAST(quantile_cont(value, 0.9) AS DOUBLE) AS p90,
      |  CAST(quantile_cont(value, 0.99) AS DOUBLE) AS p99
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- B15
  /** Pivot: per-user event-type count matrix. The pivot values are
    * pinned (known route set) so the plan is a single pass — no
    * distinct-collect job — and the oracle's conditional aggregation
    * is trivially identical. */
  def qPivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(spark, dir)
      .where(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  val qPivotEventCountsSql: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events
      |WHERE user_id < 50
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val qAboveAvgSql: String =
    """SELECT p_partkey, p_brand, p_retailprice
      |FROM part JOIN (
      |  SELECT p_brand AS b_brand,
      |    sum(CAST(p_retailprice AS DECIMAL(18,2))) AS b_sum,
      |    count(*) AS b_n
      |  FROM part GROUP BY 1) b ON p_brand = b_brand
      |WHERE CAST(p_retailprice AS DECIMAL(18,2)) * b_n > b_sum
      |ORDER BY p_partkey""".stripMargin
}
