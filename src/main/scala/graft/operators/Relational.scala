package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** SURVEY.md §2 block A — the relational/OLAP core.
  *
  * These are the query shapes the reference's workloads execute (TPC-H-style
  * suites driven by evaluation_tools/dbstress__Current.py, plus the window
  * dedup / JSON-flatten patterns from tasks/Query History API to
  * Delta_withmetrics.py:231-239). All pure DataFrame API: Catalyst pushes
  * filters/projections into the parquet scan and picks broadcast vs shuffle
  * joins; every aggregate over money columns goes through DECIMAL(18,2) so
  * results are order-independent (exact) and engine-portable, then is cast
  * back to DOUBLE for a stable output schema.
  */
object Relational {

  /** Exact, order-independent money arithmetic (see scaladoc above). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def asDouble(c: Column): Column = c.cast("double")

  // ---------------------------------------------------------------- A1
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
        asDouble(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
          .as("sum_disc_price"),
        asDouble(sum(dec(col("l_extendedprice")) *
          ((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).cast(DecimalType(8, 4))))
          .as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(8,4))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- A2
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-03-15").cast("timestamp")
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
    val li   = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- A3
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val reg  = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nat  = Tables.nation(s, dir)
    val cust = Tables.customer(s, dir)
    val sup  = Tables.supplier(s, dir)
    val ord  = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val li   = Tables.lineitem(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- A4
  def q6RevenueDelta(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.04) &&
        col("l_quantity") < 25)
      .agg(
        asDouble(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6Oracle: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.04
      |  AND l_quantity < 25""".stripMargin

  // ---------------------------------------------------------------- A5
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("p_brand", "rnk", "p_partkey", "p_name", "p_retailprice")
      .orderBy("p_brand", "rnk")
  }

  val qTopkOracle: String =
    """SELECT p_brand, rnk, p_partkey, p_name, p_retailprice FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
      |  FROM part) t
      |WHERE rnk <= 3
      |ORDER BY p_brand, rnk""".stripMargin

  // ---------------------------------------------------------------- A6
  /** The reference's dedup idiom: `row_number() over (partition by query_id
    * order by query_start_time_ms) qualify rn = 1` (tasks/Query History API
    * to Delta_withmetrics.py:231). Latest event per user here.
    * Event timestamps are ns in parquet (Spark truncates to µs), so outputs
    * carry epoch millis rather than raw timestamps.
    */
  def qDedupLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        expr("ts_ns div 1000000").as("ts_ms"))
  }

  val qDedupLatestOracle: String =
    """SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- A6b
  /** Keep-latest-per-key as a `max_by` STRUCT AGGREGATE — the scale-safe
    * twin of [[qDedupLatest]] (same rows, same oracle). The window
    * idiom shuffles EVERY event and sorts each key's full history to
    * keep one row; `max_by(payload, (ts, id))` is a partial-combining
    * aggregate (planned as SortAggregate — struct buffers aren't
    * hash-aggregable — but the map-side combine is what matters), so
    * the shuffle carries at most one candidate row per (key × input
    * partition) — at 100 TB the difference is shuffling the whole
    * event history vs one candidate per key per task. A6 stays registered as the reference-fidelity
    * witness (the literal qualify-rn=1 idiom from tasks/Query History
    * API to Delta_withmetrics.py:231); this is the form a production
    * pipeline should run.
    */
  def qDedupLatestAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("event_type"), col("value"),
          expr("ts_ns div 1000000").as("ts_ms")),
        struct(col("ts_ns"), col("event_id"))).as("latest"))
      .select(col("user_id"), col("latest.event_id"),
        col("latest.event_type"), col("latest.value"), col("latest.ts_ms"))

  // ---------------------------------------------------------------- A7
  /** ROLLUP computed as re-aggregation of partials: the finest level is one
    * shuffle over the data; coarser levels re-aggregate the (tiny) level-2
    * result instead of rescanning the fact side — cheaper than a native
    * Expand-based rollup at scale (Expand replicates every input row once
    * per grouping set). Also sidesteps Spark 4.1's ambiguous-self-join
    * false positive on rollup-after-join.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val base = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(dec(col("c_acctbal"))).cast(DecimalType(38, 2)).as("bal"))
    val l1 = base.groupBy("r_name")
      .agg(sum("n_customers").as("n_customers"),
        sum("bal").cast(DecimalType(38, 2)).as("bal"))
      .withColumn("n_name", lit(null).cast("string"))
    val l0 = base
      .agg(sum("n_customers").as("n_customers"),
        sum("bal").cast(DecimalType(38, 2)).as("bal"))
      .withColumn("r_name", lit(null).cast("string"))
      .withColumn("n_name", lit(null).cast("string"))
    base.unionByName(l1).unionByName(l0)
      .select(col("r_name"), col("n_name"), col("n_customers"),
        asDouble(col("bal")).as("sum_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val qRollupOracle: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- A8
  /** CUBE's Expand multiplies every row ×4 (2² grouping sets) before the
    * partial aggregate — heavy per-row work of the `Tables.fanOutFor`
    * class: a low-split decade layout (1 file × 2 row groups) otherwise
    * runs it near-single-threaded. At real scale (many files) the
    * fan-out is the identity. Measured at sf1-equiv: 2.19 → 1.35 s,
    * decade min-ratio 4.5× → 3.1×. Cube deliberately STAYS on Spark's
    * native Expand (the grouping family keeps one native-operator
    * witness next to the re-aggregated rollup/grouping-sets forms; a
    * re-aggregation here would drop the fan-out and the Expand the same
    * way [[qGroupingSets]]'s did).
    */
  def qCube(s: SparkSession, dir: String): DataFrame = {
    Tables.fanOutFor(s, dir, "orders", Seq("o_orderkey"))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  val qCubeOracle: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- A21
  /** TPC-H Q4 shape — correlated EXISTS with a non-key predicate: orders
    * in a window having at least one lineitem shipped more than 60 days
    * after the order date. The semi join carries the extra condition into
    * the join itself (one key shuffle, no row multiplication, no distinct).
    */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    // derived bound the optimizer can't infer across the non-equi join
    // condition: l_shipdate > o_orderdate + 60d ∧ o_orderdate ≥ 1996-01-01
    // ⇒ l_shipdate > 1996-03-01. Semantics-free pruning that reaches the
    // parquet scan (PushedFilters) and keeps ~60 % of lineitem out of the
    // semi join's shuffle+sort — the query's only data-sized exchange.
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >
        lit("1996-01-01").cast("timestamp") + expr("INTERVAL 60 DAYS"))
    o.join(l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val q4Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- A22
  /** TPC-H Q14 shape — conditional-aggregate ratio: promo parts' share of
    * revenue in one ship month. The part dim broadcasts; both sums come
    * from ONE pass (CASE inside the aggregate), decimals end-to-end so the
    * ratio is exact until the final double division.
    */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = Tables.part(s, dir)
    val disc = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("__promo"),
        sum(disc).as("__all"))
      .select(
        (lit(100.0) * col("__promo").cast("double") / col("__all").cast("double"))
          .as("promo_share_pct"),
        col("__promo").cast("double").as("promo_revenue"),
        col("__all").cast("double").as("total_revenue"))
  }

  val q14Oracle: String =
    """SELECT
      |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
      |    AS promo_share_pct,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  // ---------------------------------------------------------------- A20
  /** Explicit GROUPING SETS — the third member of the grouping family next
    * to rollup/cube, computed like [[qRollup]]/StarSchema.dsGrouping: ONE
    * plain (status, priority) cross-aggregate over the fact, then both
    * one-dimension summaries re-aggregate the ~15-row result. The native
    * groupingSets form Expands every fact row once per set BEFORE the
    * partial aggregate — per-row work that runs at the scan's parallelism
    * (a low-split decade layout caps that at a couple of tasks: measured
    * min-ratio 3.98 ISOLATED, the one reproduced non-witness flag of the
    * r16 final cycle; re-aggregation retires it the same way it did for
    * ds_grouping). Decimal sums re-aggregate exactly (sum of partial
    * sums); the double cast happens once at the end.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DecimalType(38, 2)).as("__p"))
    val byStatus = base.groupBy("o_orderstatus")
      .agg(sum("n_orders").as("n_orders"),
        sum("__p").cast(DecimalType(38, 2)).as("__p"))
      .withColumn("o_orderpriority", lit(null).cast("string"))
    val byPriority = base.groupBy("o_orderpriority")
      .agg(sum("n_orders").as("n_orders"),
        sum("__p").cast(DecimalType(38, 2)).as("__p"))
      .withColumn("o_orderstatus", lit(null).cast("string"))
    byStatus.unionByName(byPriority)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_orders"), asDouble(col("__p")).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))
  }

  val qGroupingSetsOracle: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- A9/A10
  private def recentOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))

  def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(recentOrders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")

  val qSemiOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(recentOrders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")

  val qAntiOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- A11
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def qPivot(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .count()
      .na.fill(0L, eventTypes)
  }

  val qPivotOracle: String =
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A12
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .withColumn("running_total",
        asDouble(sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        "running_total", "prev_price")
  }

  val qWindowRunningOracle: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- A13
  def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  val qPercentilesOracle: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  quantile_cont(l_quantity, 0.9) AS p90,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A14
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  val qDistinctAggOracle: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A15
  /** JSON field extraction — the reference flattens API JSON payloads
    * (tasks/Query History API to Delta_withmetrics.py:214-218).
    * `get_json_object` is heavy PER-ROW parse work — the class
    * `Tables.fanOutFor` exists for (same opt-in as dba_json_ingest): a
    * low-split decade layout (1 file × 1 row group) otherwise parses the
    * whole table single-threaded. At real scale (many files) the fan-out
    * is the identity — no shuffle is added. Measured at sf1-equiv:
    * 2.87 s → 1.14 s, decade min-ratio 6.1× → 2.9×.
    */
  def qJsonFlatten(s: SparkSession, dir: String): DataFrame = {
    // get_json_object is eval-only (breaks whole-stage codegen) — the
    // same per-row-parse decade killer as B11, retired the same way: a
    // codegen'd map-side-combined pre-aggregate on the raw (type, payload)
    // pair, then the interpreted extraction runs once per DISTINCT
    // payload. Exact for any data (the parse is deterministic per string;
    // counts/sums decompose over groups); worst case all-unique payloads
    // = the old cost plus one hash probe per row.
    Tables.events(s, dir)
      .groupBy("event_type", "props")
      .agg(count(lit(1)).as("__freq"))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        sum(when(col("k").isNotNull, col("__freq")).otherwise(0L)).as("n_k"),
        max(col("k")).as("max_k"),
        (sum(col("k").cast("long") * col("__freq")).cast("double") /
          sum(when(col("k").isNotNull, col("__freq")).otherwise(0L))).as("avg_k"))
      .orderBy("event_type")
  }

  val qJsonFlattenOracle: String =
    """SELECT event_type,
      |  COUNT(k) AS n_k, MAX(k) AS max_k,
      |  CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
      |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- A16
  /** The shared union-of-both-sides input: events carry null order
    * columns, orders carry their key/date; `side` makes orders sort
    * before events at equal t (an order ON the event's timestamp counts).
    * The order side is pre-aggregated to one row per (key, time) so the
    * downstream last()/max_by pick is deterministic.
    */
  private def asofUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("side"),
        col("event_id"), lit(null).cast("long").as("okey_in"),
        lit(null).cast("timestamp").as("odate_in"))
    val ord = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate"))
      .agg(max("o_orderkey").as("okey"))
      .select(col("k"), col("o_orderdate").as("t"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        col("okey").as("okey_in"), col("o_orderdate").as("odate_in"))
    ev.unionByName(ord)
  }

  /** As-of join, the union-sort-window formulation: one shuffle on the key,
    * no per-row range probe — this is the shape that scales (no broadcast of
    * the time side, no O(n·m) theta join). For each event, the latest order
    * of the same customer with o_orderdate <= ts.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy("t", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofUnion(s, dir)
      .withColumn("o_orderkey", last("okey_in", ignoreNulls = true).over(w))
      .withColumn("o_orderdate", last("odate_in", ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("o_orderkey").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), col("o_orderkey"), col("o_orderdate"))
  }

  // ---------------------------------------------------------------- A16b
  /** The same as-of join with the hot-key hazard removed: `qAsofJoin`'s
    * single `Window.partitionBy(k)` serializes every row of a key into one
    * task (the one shuffle shape AQE's skew splitting cannot rescue), so a
    * user holding 10% of the events stalls the stage at scale. This
    * variant routes through [[Salting.carryLastOverBuckets]] — month
    * buckets bound every partition at the (user, month) group size while
    * the carry across buckets runs over one row per (user, month). Same
    * result (the driver checks it against the identical DuckDB ASOF
    * oracle); strictly more plan, so prefer [[qAsofJoin]] until key skew
    * is the bottleneck.
    */
  def qAsofJoinSkew(s: SparkSession, dir: String): DataFrame =
    Salting.carryLastOverBuckets(asofUnion(s, dir),
        keys = Seq("k"), time = col("t"), tiebreak = Seq(col("side")),
        valueCols = Seq("okey_in", "odate_in"),
        bucket = date_trunc("month", col("t")))
      .filter(col("side") === 1 && col("okey_in").isNotNull)
      .select(col("event_id"), col("k").as("user_id"),
        col("okey_in").as("o_orderkey"), col("odate_in").as("o_orderdate"))

  val qAsofOracle: String =
    """WITH r AS (
      |  SELECT o_custkey AS k, o_orderdate AS t, MAX(o_orderkey) AS okey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, r.okey AS o_orderkey, r.t AS o_orderdate
      |FROM events e ASOF JOIN r ON e.user_id = r.k AND r.t <= e.ts
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- A17
  /** Correlated-subquery shape: orders above their customer's average
    * order value. Re-expressed as a window (one shuffle on the correlation
    * key) rather than a correlated scalar subquery — same result, and the
    * window formulation is what survives at scale (no per-row re-agg).
    */
  def qAboveAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, dir)
      // sum/count, not avg(): Spark's decimal avg rounds to scale+4 while
      // the oracle divides exact sums in double — keep both sides identical
      .withColumn("cust_avg",
        asDouble(sum(dec(col("o_totalprice"))).over(w)) /
          count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
  }

  val qAboveAvgOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
      |      / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
      |  FROM orders) t
      |WHERE o_totalprice > cust_avg
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- A18
  /** Set operations over key sets: customers active in 1995 INTERSECT/
    * EXCEPT customers active in 1996, tagged. Re-expressed as ONE scan +
    * one groupBy with boolean flags — the naive intersect/except/except
    * chain references each distinct set three times and Spark re-executes
    * the subplan per reference (6 scans + 6 shuffles). The oracle keeps
    * the literal INTERSECT/EXCEPT SQL, proving the rewrite equivalent.
    */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    def inYear(year: Int): Column =
      col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp")
    Tables.orders(s, dir)
      .filter(inYear(1995) || inYear(1996))
      .groupBy("o_custkey")
      .agg(max(inYear(1995)).as("in95"), max(inYear(1996)).as("in96"))
      .select(col("o_custkey"),
        when(col("in95") && col("in96"), "both")
          .when(col("in95"), "only_1995")
          .otherwise("only_1996").as("tag"))
  }

  val qSetOpsOracle: String =
    """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
      |y96 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96) a
      |UNION ALL
      |SELECT o_custkey, 'only_1995' AS tag FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96) b
      |UNION ALL
      |SELECT o_custkey, 'only_1996' AS tag FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95) c
      |ORDER BY o_custkey, tag""".stripMargin

  // ---------------------------------------------------------------- A19
  /** Fixed-width histogram of order values — numeric distribution
    * profiling as one hash-aggregate (bin id is pure arithmetic, so the
    * shuffle carries ≤ nBins rows per partition).
    */
  def qHistogram(s: SparkSession, dir: String, binWidth: Int = 20000): DataFrame =
    Tables.orders(s, dir)
      .groupBy((floor(col("o_totalprice") / binWidth) * binWidth)
        .cast("long").as("bin_lo"))
      .agg(count(lit(1)).as("n_orders"),
        asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
      .orderBy("bin_lo")

  val qHistogramOracle: String =
    """SELECT CAST(FLOOR(o_totalprice / 20000) * 20000 AS BIGINT) AS bin_lo,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- A23
  /** TPC-H Q10 shape — returned-item revenue by customer: which customers
    * returned the most merchandise in a quarter. The quarter filter lands
    * on the orders scan and the returnflag filter on the lineitem scan
    * BEFORE the join (both pushed to parquet); nation broadcasts; the
    * customer join keys on c_custkey — one shuffle each for the two fact
    * sides, group-by on the already-co-located customer key.
    */
  def q10ReturnedItem(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    val nat = Tables.nation(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
        .as("revenue"))
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- A24
  /** TPC-H Q15 shape — top supplier(s) by quarterly revenue, the
    * "WHERE x = (SELECT MAX ...)" idiom. One shuffle builds per-supplier
    * revenue; the max is a 1-row aggregate broadcast back as an equi-join
    * (NOT a global window — `Window.partitionBy()` would funnel the whole
    * relation through one task). Revenue doubles come from identical
    * decimal sums on both engines, so the equality join is exact.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    // the explicit l_suppkey null filter matters: the supplier join infers
    // it onto the probe branch only, which would make the two `rev`
    // subtrees canonically different and silently DOUBLE the lineitem
    // scan+aggregate (no ReuseExchange). Stating it at the source keeps
    // both consumers byte-identical → one shuffle, planned once
    // (PlanSpec pins the ReusedExchange)
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("__mx"))
    rev.join(broadcast(mx), col("total_revenue") === col("__mx"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  val q15Oracle: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- A25
  /** TPC-H Q18 shape — large-volume orders (HAVING over a fact-side
    * aggregate). The per-order quantity rollup happens ONCE, pre-join:
    * the filtered aggregate (~0.25% of orders at this threshold) then
    * joins orders and customer without re-scanning lineitem — TPC-H's
    * official text re-aggregates the fact in the outer query; carrying
    * the inner sum through 1:1 joins is the same result minus a scan.
    * Both joins shrink to broadcasts under AQE at test scale; at 100 TB
    * they are key-aligned shuffle joins on o_orderkey / c_custkey.
    */
  def q18LargeVolume(s: SparkSession, dir: String, minQty: Int = 300): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("__qty"))
      .filter(col("__qty") > minQty)
      .select(col("l_orderkey"), asDouble(col("__qty")).as("total_qty"))
    big.join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
        "total_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Oracle: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- A26
  /** TPC-H Q19 shape — disjunctive OR-of-ANDs across both join sides. The
    * full mixed-side disjunction can only run post-join, so each side's
    * implied projection of the OR must reach its scan: Catalyst derives
    * the fact-side one itself (the l_quantity range disjunction lands in
    * lineitem's PushedFilters), and the part-side projection (brand ∈
    * {...} ∧ size ≤ 35) is applied BY HAND pre-join — it prunes the
    * broadcast build side deterministically instead of depending on
    * optimizer-version behavior. PlanSpec pins both scans' filters.
    */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    def arm(brand: String, szHi: Int, qLo: Int, qHi: Int): Column =
      col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    val full = arm("Brand#12", 15, 1, 11) || arm("Brand#23", 25, 10, 20) ||
      arm("Brand#3", 35, 20, 30)
    val part = Tables.part(s, dir)
      // hand-derived part-side projection of `full` (see scaladoc)
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3") &&
        col("p_size").between(1, 35))
    Tables.lineitem(s, dir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(full)
      .agg(
        asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q19Oracle: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---------------------------------------------------------------- A27
  /** TPC-H Q22 shape — idle high-balance customers: above the average
    * positive balance, no order since the cutoff. The scalar subquery is
    * a 1-row aggregate cross-joined back (broadcast nested loop on a
    * literal — fixed cost at any scale); idleness is an anti join against
    * the date-filtered orders; the final rollup groups the survivors by
    * market segment. The average uses decimal-sum/count (not avg()) so
    * both engines compare against bit-identical doubles.
    */
  def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((asDouble(sum(dec(col("c_acctbal")))) / count(lit(1))).as("__avg"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        asDouble(sum(dec(col("c_acctbal")))).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val q22Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |                   FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- A28
  /** Ordered funnel analysis (view → click → purchase): users reaching
    * each stage, where a stage only counts if its first event happens
    * STRICTLY AFTER the user's previous stage's first event — the
    * sequential semantics product analytics means by "funnel" (a purchase
    * before the first view doesn't convert). Each hop is a per-user min
    * aggregation plus a key-aligned join of the (tiny) stage table back
    * to the filtered fact — the event-type filters prune each scan, the
    * three shuffles share the user key, and nothing is windowed, so a hot
    * user costs only its aggregation combine. Comparisons ride exact
    * nanosecond longs (`ts_ns`) for bit-stable cross-engine ordering.
    */
  /** Library form: `events` needs (user_id, event_type, <timeCol>);
    * `stages` lists the funnel's event types in order.
    */
  def funnel(events: DataFrame, stages: Seq[String],
             timeCol: String = "ts_ns"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val perStage = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stage, _)) =>
        val base = events.filter(col("event_type") === stage)
        val gated = prev match {
          case Some(p) => base.join(p.select(col("user_id"), col("__t").as("__prev")), "user_id")
            .filter(col(timeCol) > col("__prev"))
          case None => base
        }
        Some(gated.groupBy("user_id").agg(min(timeCol).as("__t")))
    }.flatten
    perStage.zip(stages).zipWithIndex.map { case ((df, stage), i) =>
      df.agg(count(lit(1)).as("users"))
        // zero-padded index: the output sorts by this string, and
        // "10_x" < "2_y" would misorder a 10+-stage funnel
        .withColumn("stage", lit(f"${i + 1}%02d_$stage"))
    }.reduce(_ unionByName _)
      .select("stage", "users")
      .orderBy("stage")
  }

  def qFunnel(s: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts_ns")),
      Seq("view", "click", "purchase"))

  val qFunnelOracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_ns(ts)) AS v_ns FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS c_ns
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v_ns GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS p_ns
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c_ns GROUP BY 1)
      |SELECT '01_view' AS stage, COUNT(*) AS users FROM v
      |UNION ALL SELECT '02_click', COUNT(*) FROM c
      |UNION ALL SELECT '03_purchase', COUNT(*) FROM p
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- A29
  /** Weekly cohort retention: users grouped by first-activity week, the
    * classic retention matrix (cohort week × week offset → active users).
    * One aggregation finds each user's cohort, one distinct projection
    * finds (user, activity week), a key-aligned join + count-distinct
    * builds the matrix. Monday-start `date_trunc('week', …)` is identical
    * in Spark and DuckDB, and both cohort and activity week are truncated
    * BEFORE differencing, so the offset is an exact multiple of 7 days —
    * no timezone or sub-week drift can split a cohort cell.
    */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("cohort_week"))
    e.distinct()
      .join(cohort, "user_id")
      .withColumn("week_offset",
        expr("CAST(datediff(wk, cohort_week) div 7 AS INT)"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("active_users"))
      // ISO string, not DATE: engines render bare dates with different
      // physical types (Spark date vs DuckDB timestamp-backed date),
      // which the hash compare can't unify
      .withColumn("cohort_week", date_format(col("cohort_week"), "yyyy-MM-dd"))
      .orderBy("cohort_week", "week_offset")
  }

  val qCohortRetentionOracle: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(wk) AS cohort_week FROM a GROUP BY 1)
      |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
      |  week_offset, active_users
      |FROM (
      |  SELECT cohort_week,
      |    CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
      |    COUNT(DISTINCT user_id) AS active_users
      |  FROM a JOIN cohort USING (user_id)
      |  GROUP BY 1, 2) t
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- A30
  /** TPC-H Q7 shape — volume shipping between two nations: revenue per
    * (supplier nation, customer nation, year) for the two directed pairs.
    * The nation-pair predicate is pushed as an `IN` onto BOTH nation dims
    * before their broadcast (the OR across sides stays post-join, but
    * each side's 2-row dim already prunes its build side to the pair);
    * the supplier/customer key maps broadcast; the one shuffle is the
    * final 3-key aggregate. Year is extracted AFTER the range filter
    * pushed to the scan.
    */
  def q7VolumeShipping(s: SparkSession, dir: String,
                       natA: String = "NATION_1",
                       natB: String = "NATION_2"): DataFrame = {
    val pair = Seq(natA, natB)
    val supN = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val cusN = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(supN), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(cusN), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_nation") === natA && col("cust_nation") === natB) ||
        (col("supp_nation") === natB && col("cust_nation") === natA))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(asDouble(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Oracle: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_funnel"             -> (qFunnel _),
    "q_cohort_retention"   -> (qCohortRetention _),
    "q7_volume_shipping"   -> ((s: SparkSession, d: String) => q7VolumeShipping(s, d)),
    "q1_pricing_summary"   -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier"    -> (q5LocalSupplier _),
    "q6_revenue_delta"     -> (q6RevenueDelta _),
    "q_topk_per_group"     -> (qTopkPerGroup _),
    "q_dedup_latest"       -> (qDedupLatest _),
    "q_dedup_latest_agg"   -> (qDedupLatestAgg _),
    "q_rollup"             -> (qRollup _),
    "q_cube"               -> (qCube _),
    "q_semi_join"          -> (qSemiJoin _),
    "q_anti_join"          -> (qAntiJoin _),
    "q_pivot"              -> (qPivot _),
    "q_window_running"     -> (qWindowRunning _),
    "q_percentiles"        -> (qPercentiles _),
    "q_distinct_agg"       -> (qDistinctAgg _),
    "q_json_flatten"       -> (qJsonFlatten _),
    "q_asof_join"          -> (qAsofJoin _),
    "q_asof_skew"          -> (qAsofJoinSkew _),
    "q_above_avg"          -> (qAboveAvg _),
    "q_setops"             -> (qSetOps _),
    "q_histogram"          -> ((s: SparkSession, d: String) => qHistogram(s, d)),
    "q_grouping_sets"      -> (qGroupingSets _),
    "q4_priority_exists"   -> (q4PriorityExists _),
    "q14_promo_share"      -> (q14PromoShare _),
    "q10_returned_item"    -> (q10ReturnedItem _),
    "q15_top_supplier"     -> (q15TopSupplier _),
    "q18_large_volume"     -> ((s: SparkSession, d: String) => q18LargeVolume(s, d)),
    "q19_disjunctive"      -> (q19Disjunctive _),
    "q22_idle_customers"   -> (q22IdleCustomers _))

  val oracles: Map[String, String] = Map(
    "q_funnel"             -> qFunnelOracle,
    "q_cohort_retention"   -> qCohortRetentionOracle,
    "q7_volume_shipping"   -> q7Oracle,
    "q1_pricing_summary"   -> q1Oracle,
    "q3_shipping_priority" -> q3Oracle,
    "q5_local_supplier"    -> q5Oracle,
    "q6_revenue_delta"     -> q6Oracle,
    "q_topk_per_group"     -> qTopkOracle,
    "q_dedup_latest"       -> qDedupLatestOracle,
    "q_dedup_latest_agg"   -> qDedupLatestOracle,
    "q_rollup"             -> qRollupOracle,
    "q_cube"               -> qCubeOracle,
    "q_semi_join"          -> qSemiOracle,
    "q_anti_join"          -> qAntiOracle,
    "q_pivot"              -> qPivotOracle,
    "q_window_running"     -> qWindowRunningOracle,
    "q_percentiles"        -> qPercentilesOracle,
    "q_distinct_agg"       -> qDistinctAggOracle,
    "q_json_flatten"       -> qJsonFlattenOracle,
    "q_asof_join"          -> qAsofOracle,
    "q_asof_skew"          -> qAsofOracle,
    "q_above_avg"          -> qAboveAvgOracle,
    "q_setops"             -> qSetOpsOracle,
    "q_histogram"          -> qHistogramOracle,
    "q_grouping_sets"      -> qGroupingSetsOracle,
    "q4_priority_exists"   -> q4Oracle,
    "q14_promo_share"      -> q14Oracle,
    "q10_returned_item"    -> q10Oracle,
    "q15_top_supplier"     -> q15Oracle,
    "q18_large_volume"     -> q18Oracle,
    "q19_disjunctive"      -> q19Oracle,
    "q22_idle_customers"   -> q22Oracle)
}
