package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.StompTiles
import Num._

/** Relational operator pack (SURVEY.md §2 B1–B20).
  *
  * Each query is the kind of computation a nibbler `Processor` callback
  * (reference: /root/reference/nibbler.go:25) would run against a batch —
  * here declared as lazy DataFrame plans so Catalyst drives pushdown,
  * join strategy, and whole-stage codegen.
  *
  * Scale notes (100 TB): dimension sides of joins are broadcast explicitly;
  * fact-fact joins shuffle on their keys (bucket both sides at scale);
  * top-k uses orderBy.limit -> TakeOrderedAndProject (per-partition heaps,
  * no global sort); every scan projects/filters early so parquet pushdown
  * applies.
  */
object Relational {

  /** One driver-visible operator entry.
    *
    * `fn` is the VERIFY frame — what the driver's DuckDB oracle checks
    * (CORRECTNESS). `benchFn`, when set, is the frame Bench times under
    * the same name: operators whose driver-checkable spelling carries an
    * exact gate leg (the x1/x2/x4 bounds-oracle scheme, the ANN recall
    * frames) keep the PRODUCTION path as the benched entry so the bench
    * line measures what a 100 TB deployment runs, not the test-scale
    * verification harness. When absent, the verify frame is benched.
    */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      benchFn: Option[(SparkSession, String) => DataFrame] = None)

  /** Annotate every CTE in an oracle as `AS MATERIALIZED` (DuckDB
    * inlines CTEs PER REFERENCE by default, so a staged chain whose
    * members feed both their own output branch and the next stage is
    * re-evaluated once per consumer — measured on the p28 oracle:
    * 188 s and an intermittent allocator OOM at 32 threads inlined,
    * 0.6 s materialized, identical rows). `except` skips names the
    * annotation cannot apply to (RECURSIVE members). Callers' SQL must
    * not use named-WINDOW syntax (`WINDOW w AS (`) — the rewrite would
    * catch it.
    */
  def materializeCtes(sql: String, except: Set[String] = Set.empty): String = {
    require(!sql.contains("WINDOW"),
      "materializeCtes: named-WINDOW syntax would be rewritten — annotate by hand")
    "(\\w+)\\s+AS\\s*\\(".r.replaceAllIn(sql, m =>
      if (except.contains(m.group(1))) m.matched
      else m.group(1) + " AS MATERIALIZED (")
  }

  // B1 — full-table agg with decimal-exact money math (TPC-H Q1 flavor).
  private val q01 = Q(
    "q01_pricing_summary",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          money(col("l_quantity")).as("sum_qty"),
          money(col("l_extendedprice")).as("sum_base_price"),
          round(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))), 2)
            .cast(DoubleType).as("sum_disc_price"),
          r2(sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${moneySql("l_quantity")} AS sum_qty,
        ${moneySql("l_extendedprice")} AS sum_base_price,
        CAST(ROUND(SUM(${decSql("l_extendedprice")} * (CAST(1 AS DECIMAL(12,2)) - ${decSql("l_discount")})),2) AS DOUBLE) AS sum_disc_price,
        ${r2Sql(s"CAST(SUM(${decSql("l_quantity")}) AS DOUBLE)/COUNT(*)")} AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // B2 — 3-way join + agg + top-N (TPC-H Q3 flavor). Top-N via
  // orderBy.limit => TakeOrderedAndProject, never a global sort.
  private val q02 = Q(
    "q02_top_orders",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))), 2)
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(20)
    },
    Some(s"""
      SELECT o_orderkey, o_orderdate,
        CAST(ROUND(SUM(${decSql("l_extendedprice")} * (CAST(1 AS DECIMAL(12,2)) - ${decSql("l_discount")})),2) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate  > TIMESTAMP '1998-01-01'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey
      LIMIT 20"""))

  // B3 — 6-way star join with broadcast dims (TPC-H Q5 flavor).
  private val q03 = Q(
    "q03_revenue_by_nation",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))), 2)
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some(s"""
      SELECT n_name,
        CAST(ROUND(SUM(${decSql("l_extendedprice")} * (CAST(1 AS DECIMAL(12,2)) - ${decSql("l_discount")})),2) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""))

  // B4 — selective filter + global agg; the pushdown showcase (Q6 flavor).
  private val q04 = Q(
    "q04_forecast_revenue",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(round(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))), 2).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    Some(s"""
      SELECT CAST(ROUND(SUM(${decSql("l_extendedprice")} * ${decSql("l_discount")}),2) AS DOUBLE) AS revenue,
        COUNT(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""))

  // B5 — left-semi join with a non-equi conjunct (EXISTS).
  private val q05 = Q(
    "q05_order_priority",
    (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-07-01"))
      val l = Tables.lineitem(s, d)
      o.join(l, col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  // B6 — join + multi-key agg + HAVING.
  private val q06 = Q(
    "q06_parts_by_brand",
    (s, d) => {
      val p = Tables.part(s, d)
      val l = Tables.lineitem(s, d)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(money(col("l_quantity")).as("total_qty"), count(lit(1)).as("n_lines"))
        .filter(col("n_lines") >= 10)
        .orderBy(col("p_brand"), col("p_type"))
    },
    Some(s"""
      SELECT p_brand, p_type, ${moneySql("l_quantity")} AS total_qty, COUNT(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_type
      HAVING COUNT(*) >= 10
      ORDER BY p_brand, p_type"""))

  // B7 — ROLLUP multi-level aggregate.
  private val q07 = Q(
    "q07_segment_rollup",
    (s, d) => {
      Tables.customer(s, d)
        .rollup(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), money(col("c_acctbal")).as("total_bal"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"), col("n_cust"), col("total_bal"))
        .orderBy(col("segment"))
    },
    Some(s"""
      SELECT COALESCE(c_mktsegment, 'ALL') AS segment, COUNT(*) AS n_cust,
        ${moneySql("c_acctbal")} AS total_bal
      FROM customer
      GROUP BY ROLLUP(c_mktsegment)
      ORDER BY segment"""))

  // B8 — window row_number top-k per group (decimal-exact ordering key).
  private val q08 = Q(
    "q08_top_parts_per_supplier",
    (s, d) => {
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("qty_dec").desc, col("l_partkey"))
      per.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .filter(col("l_suppkey") <= 100)
        .select(col("l_suppkey"), col("rnk"), col("l_partkey"),
          round(col("qty_dec"), 2).cast(DoubleType).as("total_qty"))
        .orderBy(col("l_suppkey"), col("rnk"))
    },
    Some(s"""
      SELECT l_suppkey, rnk, l_partkey, CAST(ROUND(qty_dec,2) AS DOUBLE) AS total_qty
      FROM (
        SELECT l_suppkey, l_partkey, SUM(${decSql("l_quantity")}) AS qty_dec,
          ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY SUM(${decSql("l_quantity")}) DESC, l_partkey) AS rnk
        FROM lineitem GROUP BY l_suppkey, l_partkey)
      WHERE rnk <= 3 AND l_suppkey <= 100
      ORDER BY l_suppkey, rnk"""))

  // B9 — running sum window frame + lag.
  private val q09 = Q(
    "q09_running_customer_balance",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_custkey") <= 100)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          round(sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .cast(DoubleType).as("running_total"),
          (col("o_totalprice") - coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0))).as("delta_prev"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some(s"""
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(ROUND(SUM(${decSql("o_totalprice")}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS DOUBLE) AS running_total,
        o_totalprice - COALESCE(LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0) AS delta_prev
      FROM orders
      WHERE o_custkey <= 100
      ORDER BY o_custkey, o_orderkey"""))

  // B10 — count distinct + conditional distinct agg.
  private val q10 = Q(
    "q10_distinct_counts",
    (s, d) => {
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          countDistinct(when(col("c_acctbal") > 5000, col("c_custkey"))).as("rich_customers"),
          count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      SELECT c_mktsegment,
        COUNT(DISTINCT c_nationkey) AS n_nations,
        COUNT(DISTINCT CASE WHEN c_acctbal > 5000 THEN c_custkey END) AS rich_customers,
        COUNT(*) AS n_customers
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // B11 — left-anti join (NOT EXISTS).
  private val q11 = Q(
    "q11_customers_without_orders",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("o_custkey") === col("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey"""))

  // B12 — union + distinct.
  private val q12 = Q(
    "q12_priority_union",
    (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
      val b = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000)
      a.select(col("o_orderkey"), col("o_orderpriority"))
        .union(b.select(col("o_orderkey"), col("o_orderpriority")))
        .distinct()
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
      UNION
      SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 250000
      ORDER BY o_orderkey"""))

  // B13 — CASE WHEN bucketing.
  private val q13 = Q(
    "q13_price_buckets",
    (s, d) => {
      val bucket = when(col("o_totalprice") < 50000, "small")
        .when(col("o_totalprice") < 150000, "medium")
        .when(col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
      Tables.orders(s, d)
        .groupBy(bucket.as("price_bucket"))
        .agg(count(lit(1)).as("n_orders"), money(col("o_totalprice")).as("total_value"))
        .orderBy(col("price_bucket"))
    },
    Some(s"""
      SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                  WHEN o_totalprice < 150000 THEN 'medium'
                  WHEN o_totalprice < 300000 THEN 'large'
                  ELSE 'jumbo' END AS price_bucket,
        COUNT(*) AS n_orders, ${moneySql("o_totalprice")} AS total_value
      FROM orders GROUP BY 1 ORDER BY price_bucket"""))

  // B14 — date_trunc month + agg.
  private val q14 = Q(
    "q14_monthly_revenue",
    (s, d) => {
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("order_month"))
        .agg(money(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("order_month"))
    },
    Some(s"""
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
        ${moneySql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
      FROM orders GROUP BY 1 ORDER BY order_month"""))

  // B15 — exact interpolated percentiles per group.
  private val q15 = Q(
    "q15_price_quantiles",
    (s, d) => {
      // r17: ONE multi-percentile aggregate instead of two — Spark's
      // exact Percentile keeps a value->count map per (group, agg
      // instance), so two instances doubled the state updates and the
      // final sort of distinct values; array-percentile computes both
      // cut points from one state with identical interpolation
      // arithmetic (oracle-pinned).
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("pp"),
          count(lit(1)).as("n_lines"))
        .select(col("l_returnflag"),
          r2(element_at(col("pp"), 1)).as("median_price"),
          r2(element_at(col("pp"), 2)).as("p95_price"),
          col("n_lines"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag,
        ${r2Sql("quantile_cont(l_extendedprice, 0.5)")} AS median_price,
        ${r2Sql("quantile_cont(l_extendedprice, 0.95)")} AS p95_price,
        COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // B16 — tumbling 1-minute window agg on the events stream table
  // (batch twin of the streaming A14 pipeline).
  private val q16 = Q(
    "q16_events_tumbling",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("minute", col("ts")).as("minute_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), money(col("value")).as("total_value"))
        .orderBy(col("minute_start"), col("event_type"))
    },
    Some(s"""
      SELECT date_trunc('minute', ts) AS minute_start, event_type,
        COUNT(*) AS n_events, ${moneySql("value")} AS total_value
      FROM events GROUP BY 1, 2 ORDER BY minute_start, event_type"""))

  // B17 — gap-based sessionization via lag + cumulative sum windows.
  private val q17 = Q(
    "q17_events_sessionize",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_timestamp(col("ts").cast(TimestampType)).as("sec"))
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val flagged = ev.withColumn("is_new",
        when(col("sec") - lag(col("sec"), 1).over(wOrd) > 1800 || lag(col("sec"), 1).over(wOrd).isNull, 1L)
          .otherwise(0L))
      val sessioned = flagged.withColumn("session_id",
        sum(col("is_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessioned.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .filter(col("user_id") <= 50)
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""
      WITH g AS (
        SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
        FROM events),
      f AS (
        SELECT user_id, event_id, ts, sec,
          CASE WHEN sec - LAG(sec) OVER w > 1800 OR LAG(sec) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM g WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      sess AS (
        SELECT user_id, ts,
          CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, COUNT(*) AS n_events,
        MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sess WHERE user_id <= 50
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  // B18 — agg + deterministic top-k.
  private val q18 = Q(
    "q18_top_users_by_value",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), money(col("value")).as("total_value"))
        .orderBy(col("total_value").desc, col("user_id"))
        .limit(10)
    },
    Some(s"""
      SELECT user_id, COUNT(*) AS n_events, ${moneySql("value")} AS total_value
      FROM events GROUP BY user_id
      ORDER BY total_value DESC, user_id LIMIT 10"""))

  // B19 — pivot / conditional aggregation.
  private val q19 = Q(
    "q19_event_type_pivot",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .filter(col("user_id") <= 100)
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id,
        COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
      FROM events WHERE user_id <= 100
      GROUP BY user_id ORDER BY user_id"""))

  // B20 — orders ⋈ lineitem cohort: join + GROUPING SETS + count distinct
  // + decimal-exact quantity sum. The fact-fact join shuffles on orderkey
  // (bucketed to zero-shuffle at 100 TB via ScaleUtils.writeBucketed);
  // grouping-sets expansion happens AFTER the join's aggregate input, and
  // COUNT(DISTINCT) plans as the two-phase expand+agg, all map-side
  // partial.
  private val q20 = Q(
    "q20_order_lineitem_cohort",
    (s, d) => {
      // r17 (guide §2.3): GROUPING SETS expanded every joined row 3x
      // into a COUNT(DISTINCT)-rewritten double aggregation. Instead,
      // ONE map-side-combinable pass reduces the join output to the
      // (status, returnflag, custkey) grain — the finest grain any of
      // the three sets needs — and each set aggregates that slim frame
      // (n_custs = exact distinct custkeys per set by construction;
      // n_lines/sum_qty roll up as exact integer/decimal partial sums,
      // so every value is bit-identical to the expanded spelling). The
      // grain frame is customer-proportional (never join-output-sized);
      // materialized once for the three readers (the d3 bounded-
      // materialization idiom, one tier up in size).
      val grain = Materialize(Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"), col("l_returnflag"), col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).as("q")))
      def gs(keys: Seq[String]) = grain
        .groupBy(keys.map(col): _*)
        .agg(count_distinct(col("o_custkey")).as("n_custs"),
          sum(col("n")).as("n_lines"), round(sum(col("q")), 2).cast("double").as("sum_qty"))
        .select(
          (if (keys.contains("o_orderstatus")) col("o_orderstatus") else lit(null).cast("string")).as("status0"),
          (if (keys.contains("l_returnflag")) col("l_returnflag") else lit(null).cast("string")).as("returnflag0"),
          col("n_custs"), col("n_lines"), col("sum_qty"))
      gs(Seq("o_orderstatus")).unionByName(gs(Seq("l_returnflag")))
        .unionByName(gs(Seq("o_orderstatus", "l_returnflag")))
        .select(coalesce(col("status0"), lit("ALL")).as("status"),
          coalesce(col("returnflag0"), lit("ALL")).as("returnflag"),
          col("n_custs"), col("n_lines"), col("sum_qty"))
        .orderBy(col("status"), col("returnflag"))
    },
    Some(s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(l_returnflag, 'ALL') AS returnflag,
             COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_lines,
             ${moneySql("l_quantity")} AS sum_qty
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY GROUPING SETS ((o_orderstatus), (l_returnflag), (o_orderstatus, l_returnflag))
      ORDER BY status, returnflag"""))

  // B21 — as-of join: each purchase matched to the user's latest prior
  // click. Spark has no native ASOF JOIN; the scalable spelling is a
  // union + last(ignoreNulls) running window — one shuffle on user_id,
  // no range join, no per-row subquery. The oracle uses the identical
  // union+window definition (not DuckDB's native ASOF) so semantics match
  // tie-for-tie.
  /** Generalized AS-OF join — the time-series enrichment operator Spark
    * lacks natively: each left row is joined to the MOST RECENT right row
    * with `rightTs` <= its `leftTs`, per `key` (null-extended when no
    * right row precedes it). Union + running `last(ignoreNulls)` over ONE
    * window sort: one shuffle on the key, O(n log n) per key partition,
    * no per-row range probe — versus the naive interval-join spelling
    * whose per-key work is quadratic. A right row AT the left row's exact
    * timestamp is visible (sorts before it). Equal-`rightTs` right rows
    * tie-break on `rightTieBreak` (latest wins) — pass it whenever the
    * right side can carry duplicate timestamps per key, or the winner is
    * partition-order-dependent. q21 is the oracle-checked instance.
    */
  /** `within`: optional TOLERANCE predicate `(leftTs, asofTs) => bool` —
    * when supplied, a match older than the caller's bound is NULLED
    * (the left row survives, contract parity with the no-match case:
    * "most recent prior row, but only if recent enough" — attribution-
    * window semantics). A predicate builder rather than a fixed delta
    * keeps the operator generic over ts types AND lets the caller pick
    * integer-exact arithmetic (e.g. unix_micros) so the gate can't flip
    * on float rounding. Correct by construction: any OTHER prior right
    * row is older still, so nulling (never re-matching) is the right
    * semantics.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String],
      rightTieBreak: Option[String] = None,
      within: Option[(Column, Column) => Column] = None): DataFrame = {
    // internal scaffolding + output names are reserved: an input frame
    // already carrying one would fail obscurely (ambiguous reference) or
    // silently misjoin; collide loudly instead
    val internal = Set("__k", "__ts", "__kind", "__p", "__tie", "__l", "__last")
    val reserved = (left.columns ++ right.columns).filter(internal).distinct
    require(reserved.isEmpty,
      s"asOfJoin reserves ${internal.toSeq.sorted.mkString(", ")} internally; " +
        s"input columns ${reserved.mkString(", ")} collide — rename them first")
    val outClash = left.columns.toSet
      .intersect(payload.map(c => s"asof_$c").toSet + "asof_ts")
    require(outClash.isEmpty,
      s"asOfJoin output columns ${outClash.toSeq.sorted.mkString(", ")} collide with " +
        "left columns — rename or drop them on the left side")
    // outputs must also be distinct AMONG THEMSELVES: duplicate payload
    // names, or a payload column literally named "ts", would emit two
    // asof_<c>/asof_ts columns and poison every downstream reference
    require(payload.distinct == payload,
      s"asOfJoin payload has duplicate columns: ${payload.mkString(", ")}")
    require(!payload.contains("ts"),
      "asOfJoin payload column 'ts' collides with the fixed asof_ts output — " +
        "rename it on the right side")
    val pStruct = struct((rightTs +: payload).distinct.map(col): _*)
    // tie keeps its NATIVE orderable type — casting to string would order
    // numeric ids lexicographically ("10" < "2") and crown the wrong row
    val tie = rightTieBreak.map(col).getOrElse(lit(0L))
    // a null rightTs satisfies no "rightTs <= leftTs" predicate — drop it
    // here, or the nulls-first window order would crown it earliest match
    val r = right.filter(col(rightTs).isNotNull)
      .select(col(key).as("__k"), col(rightTs).as("__ts"),
        lit(0).as("__kind"), pStruct.as("__p"), tie.as("__tie"))
    val l = left.select(col(key).as("__k"), col(leftTs).as("__ts"),
      lit(1).as("__kind"), lit(null).cast(r.schema("__p").dataType).as("__p"),
      lit(null).cast(r.schema("__tie").dataType).as("__tie"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__l"))
    val u = r.withColumn("__l", lit(null).cast(l.schema("__l").dataType))
      .unionByName(l)
    // __tie only orders rows WITHIN (ts, kind=0): left rows' null tie
    // never competes with right rows (kind differs), and equal left rows
    // all contribute null payload, so their mutual order is irrelevant
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__kind"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = u.withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .select(col("__l.*") +:
        (payload.map(c => col(s"__last.`$c`").as(s"asof_$c")) :+
          col(s"__last.`$rightTs`").as("asof_ts")): _*)
    within match {
      case None => base
      case Some(pred) =>
        val outCols = payload.map(c => s"asof_$c") :+ "asof_ts"
        val ok = col("asof_ts").isNotNull && pred(col(leftTs), col("asof_ts"))
        val keep = base.columns.filterNot(outCols.contains).toSeq
        base.select(keep.map(col) ++
          outCols.map(c => when(ok, col(c)).otherwise(lit(null)).as(c)): _*)
    }
  }

  // q21 runs THROUGH the generalized asOfJoin so the DuckDB oracle pins
  // the shared implementation — not a parallel inline copy free to drift.
  private val q21 = Q(
    "q21_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      asOfJoin(purchases, clicks, "user_id", "ts", "ts",
        Seq("event_id"), rightTieBreak = Some("event_id"))
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"),
          col("asof_ts").as("last_click_ts"),
          col("asof_event_id").as("last_click_id"))
        .orderBy(col("user_id"), col("purchase_id"))
    },
    Some("""
      WITH u AS (
        SELECT user_id, ts, event_id, 0 AS kind FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, event_id, 1 AS kind FROM events WHERE event_type = 'purchase'),
      w AS (
        SELECT user_id, ts, event_id, kind,
          last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER win AS last_click_ts,
          last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER win AS last_click_id
        FROM u
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
             last_click_ts, last_click_id
      FROM w WHERE kind = 1
      ORDER BY user_id, purchase_id"""))

  // B22 — correlation via explicit decimal-exact moment sums. Native
  // corr() uses engine-specific streaming formulas (not bit-stable across
  // engines); the textbook formula over exact decimal sums is.
  private val q22 = Q(
    "q22_price_qty_correlation",
    (s, d) => {
      val base = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sx"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sy"),
          sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).cast(DoubleType).as("sxy"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast(DoubleType).as("sxx"),
          sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).cast(DoubleType).as("syy"))
      base.select(col("l_returnflag"), col("n").cast("long").as("n_lines"),
          r4((col("n") * col("sxy") - col("sx") * col("sy"))
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      WITH base AS (
        SELECT l_returnflag,
          CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(${decSql("l_quantity")}) AS DOUBLE) AS sx,
          CAST(SUM(${decSql("l_extendedprice")}) AS DOUBLE) AS sy,
          CAST(SUM(${decSql("l_quantity")} * ${decSql("l_extendedprice")}) AS DOUBLE) AS sxy,
          CAST(SUM(${decSql("l_quantity")} * ${decSql("l_quantity")}) AS DOUBLE) AS sxx,
          CAST(SUM(${decSql("l_extendedprice")} * ${decSql("l_extendedprice")}) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(n AS BIGINT) AS n_lines,
        ${r4Sql("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS corr_qty_price
      FROM base ORDER BY l_returnflag"""))

  // B23 — full outer join of two filtered aggregates (asymmetric sides so
  // outer nulls genuinely occur), null-bridged with coalesce.
  private val q23 = Q(
    "q23_nation_coverage",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_rich_customers"))
      val su = Tables.supplier(s, d).filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("n_rich_suppliers"))
      c.join(su, col("nk_c") === col("nk_s"), "full_outer")
        .select(
          coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_rich_customers"), lit(0L)).as("n_rich_customers"),
          coalesce(col("n_rich_suppliers"), lit(0L)).as("n_rich_suppliers"))
        .orderBy(col("nationkey"))
    },
    Some("""
      WITH c AS (
        SELECT c_nationkey AS nk, COUNT(*) AS n_rich_customers
        FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
      s AS (
        SELECT s_nationkey AS nk, COUNT(*) AS n_rich_suppliers
        FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
      SELECT COALESCE(c.nk, s.nk) AS nationkey,
        COALESCE(n_rich_customers, 0) AS n_rich_customers,
        COALESCE(n_rich_suppliers, 0) AS n_rich_suppliers
      FROM c FULL OUTER JOIN s ON c.nk = s.nk
      ORDER BY nationkey"""))

  // B24 — correlated scalar subquery (TPC-H Q17 flavor): Catalyst
  // decorrelates the per-part average into an aggregate + join. The
  // threshold is spelled as exact-decimal-sum / count so both engines
  // compute the identical double (native AVG is not bit-stable).
  private val q24 = Q(
    "q24_small_order_revenue",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_v")
      Tables.part(s, d).createOrReplaceTempView("graft_part_v")
      s.sql(s"""
        SELECT CAST(ROUND(SUM(${decSql("l_extendedprice")}), 2) AS DOUBLE) AS total_revenue,
               COUNT(*) AS n_lines
        FROM graft_lineitem_v, graft_part_v
        WHERE p_partkey = l_partkey
          AND p_size <= 10
          AND l_quantity < (
            SELECT 0.5 * (CAST(SUM(${decSql("l2.l_quantity")}) AS DOUBLE) / COUNT(*))
            FROM graft_lineitem_v l2 WHERE l2.l_partkey = p_partkey)""")
    },
    Some(s"""
      SELECT CAST(ROUND(SUM(${decSql("l_extendedprice")}), 2) AS DOUBLE) AS total_revenue,
             COUNT(*) AS n_lines
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_size <= 10
        AND l_quantity < (
          SELECT 0.5 * (CAST(SUM(${decSql("l2.l_quantity")}) AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""))

  // B25 — ranking-function zoo: ntile / rank / dense_rank / percent_rank /
  // cume_dist in one window (all exact-arithmetic outputs).
  private val q25 = Q(
    "q25_ranking_zoo",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .filter(col("c_custkey") <= 300)
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          r4(percent_rank().over(w)).as("pct_rank"),
          r4(cume_dist().over(w)).as("cume"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    },
    Some(s"""
      SELECT c_mktsegment, c_custkey,
        ntile(4) OVER win AS quartile,
        rank() OVER win AS rnk,
        dense_rank() OVER win AS drnk,
        ${r4Sql("percent_rank() OVER win")} AS pct_rank,
        ${r4Sql("cume_dist() OVER win")} AS cume
      FROM customer
      WHERE c_custkey <= 300
      WINDOW win AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_mktsegment, c_custkey"""))

  // B26 — EXCEPT / INTERSECT set operators.
  private val q26 = Q(
    "q26_set_operations",
    (s, d) => {
      val o = Tables.orders(s, d)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val finished = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val exceptCusts = urgent.except(finished)
        .select(col("o_custkey"), lit("urgent_only").as("cohort"))
      val bothCusts = urgent.intersect(finished)
        .select(col("o_custkey"), lit("urgent_and_finished").as("cohort"))
      exceptCusts.union(bothCusts).orderBy(col("cohort"), col("o_custkey"))
    },
    Some("""
      SELECT o_custkey, cohort FROM (
        SELECT o_custkey, 'urgent_only' AS cohort FROM (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        UNION ALL
        SELECT o_custkey, 'urgent_and_finished' AS cohort FROM (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
      ORDER BY cohort, o_custkey"""))

  // B27 — native session_window aggregation (batch twin of the streaming
  // EventsPipeline.sessionWindowAgg; q17 is the same sessionization spelled
  // with lag+cumsum, which is also how the DuckDB oracle defines it here:
  // a session's window ends 30 minutes after its LAST event).
  private val q27 = Q(
    "q27_session_windows",
    (s, d) => {
      Tables.events(s, d)
        .filter(col("user_id") <= 50)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sess"))
        .agg(count(lit(1)).as("n_events"), money(col("value")).as("total_value"))
        .select(col("user_id"), col("sess.start").as("session_start"),
          col("sess.end").as("session_end"), col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some(s"""
      WITH f AS (
        SELECT user_id, ts, value,
          -- session_window MERGES an event arriving at exactly the gap
          -- duration (empirically verified: UpdatingSessionsIterator opens
          -- a new session only when start > currentEnd), hence strict >
          CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                 OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM events WHERE user_id <= 50
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts, value,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM f)
      SELECT user_id, MIN(ts) AS session_start,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        COUNT(*) AS n_events, ${moneySql("value")} AS total_value
      FROM sess GROUP BY user_id, session_id
      ORDER BY user_id, session_start"""))

  // B28 — semi-structured JSON extraction: the events props column is a
  // JSON string; extract a typed field and aggregate. get_json_object is
  // codegen'd and the whole query stays one scan + one shuffle; all
  // emitted aggregates are exact integers (no float discipline needed).
  private val q28 = Q(
    "q28_props_json",
    (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // B29 — UNPIVOT (wide metrics -> long rows), the inverse of q19's
  // pivot: melt three lineitem measure columns into (metric, val) rows
  // and aggregate decimal-exact per (returnflag, metric). Catalyst plans
  // unpivot as Expand — one scan, map-side partial agg; the oracle uses
  // the dialect-portable UNION ALL spelling.
  private val q29 = Q(
    "q29_metric_unpivot",
    (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(money(col("val")).as("total"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("metric"))
    },
    Some(s"""
      SELECT l_returnflag, metric, ${moneySql("val")} AS total, COUNT(*) AS n
      FROM (
        SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_extendedprice' AS metric, l_extendedprice AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount' AS metric, l_discount AS val FROM lineitem)
      GROUP BY l_returnflag, metric
      ORDER BY l_returnflag, metric"""))

  // B30 — event-time interval join, the BATCH twin of the streaming
  // clickPurchaseJoin (A19): literally the same operator code run on
  // batch frames (withWatermark is a no-op in batch), oracle-checked.
  // Plan shape: equi-join on user_id with the time bound as a join-side
  // filter — work is quadratic only within a user's own events.
  private val q30 = Q(
    "q30_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventsPipeline.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizonMinutes = 10)
        .select(col("user_id"), col("purchase_id"), col("click_id"), col("value"))
        .orderBy(col("purchase_id"), col("click_id"))
    },
    Some("""
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id, p.value
      FROM events p JOIN events c
        ON p.event_type = 'purchase' AND c.event_type = 'click'
        AND c.user_id = p.user_id
        AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
      ORDER BY purchase_id, click_id"""))

  // B31 — CUBE multi-dimensional aggregation (all four grouping levels in
  // one pass): Catalyst plans cube as a single Expand + hash aggregate —
  // one scan, map-side partials, no per-level re-read. grouping() flags
  // disambiguate "NULL because subtotal" from a genuinely NULL dimension.
  private val q31 = Q(
    "q31_cube_totals",
    (s, d) => {
      // r17 (guide §2.3 "aggregate before you shuffle"): cube() expands
      // every input row 4x BEFORE the aggregation; with enum-cardinality
      // keys the finest level is a handful of rows, so compute it in ONE
      // map-side-combinable pass and roll the other three levels up from
      // those partial decimal sums. Decimal addition is exact and
      // associative, so every rolled-up value is bit-identical to the
      // direct cube (money() rounds once, at the end, per level — the
      // same single round the old spelling applied). The base frame is
      // enum-bounded (|returnflag| x |linestatus|), hence materialized
      // once (the bounded-frame idiom); grouping() flags become
      // per-level literals.
      val base = Materialize(Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).as("q"),
          sum(dec(col("l_extendedprice"))).as("p"),
          count(lit(1)).as("n")))
      def lvl(df: DataFrame, gRf: Int, gLs: Int) = df.select(
        (if (gRf == 0) col("l_returnflag") else lit(null).cast("string")).as("l_returnflag"),
        (if (gLs == 0) col("l_linestatus") else lit(null).cast("string")).as("l_linestatus"),
        (round(col("q"), 2)).cast("double").as("sum_qty"),
        (round(col("p"), 2)).cast("double").as("sum_price"),
        col("n").cast("long").as("n"),
        lit(gRf.toLong).as("g_rf"), lit(gLs.toLong).as("g_ls"))
      val both = lvl(base, 0, 0)
      val rfOnly = lvl(base.groupBy(col("l_returnflag"))
        .agg(sum(col("q")).as("q"), sum(col("p")).as("p"), sum(col("n")).as("n")), 0, 1)
      val lsOnly = lvl(base.groupBy(col("l_linestatus"))
        .agg(sum(col("q")).as("q"), sum(col("p")).as("p"), sum(col("n")).as("n")), 1, 0)
      val all = lvl(base
        .agg(sum(col("q")).as("q"), sum(col("p")).as("p"), sum(col("n")).as("n")), 1, 1)
      both.unionByName(rfOnly).unionByName(lsOnly).unionByName(all)
        .orderBy(col("g_rf"), col("g_ls"),
          coalesce(col("l_returnflag"), lit("~")), coalesce(col("l_linestatus"), lit("~")))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${moneySql("l_quantity")} AS sum_qty,
        ${moneySql("l_extendedprice")} AS sum_price,
        COUNT(*) AS n,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY g_rf, g_ls, COALESCE(l_returnflag, '~'), COALESCE(l_linestatus, '~')"""))

  // B32 — event-time RANGE window frame: each order's trailing-7-day
  // revenue for the same customer. Unlike q09's ROWS frame, the RANGE
  // frame is bounded by the ORDER-BY VALUE (days), so same-day peer rows
  // all join the frame and gaps in the calendar shrink it — the moving-
  // aggregate shape running totals can't express. The frame key is
  // epoch-days (cross-engine-exact integer); decimal-exact money
  // discipline as everywhere.
  private val q32 = Q(
    "q32_moving_revenue",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"),
          dec(col("o_totalprice")).as("price"))
        .withColumn("win7_total", round(sum(col("price")).over(w), 2).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("win7_total"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },
    Some(s"""
      SELECT o_custkey, o_orderkey, o_orderdate,
        CAST(ROUND(SUM(${decSql("o_totalprice")}) OVER (
          PARTITION BY o_custkey
          ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS win7_total
      FROM orders
      ORDER BY o_custkey, o_orderdate, o_orderkey"""))

  // B33 — SLIDING event-time windows (10-minute window, 5-minute slide):
  // each event lands in exactly windowDuration/slide = 2 overlapping
  // windows. Spark plans window() with a slide as one Expand (2 rows per
  // event) + hash aggregate — one scan, map-side partials, the same shape
  // the streaming twin (EventsPipeline.slidingAgg) runs incrementally.
  // The oracle replicates the grid arithmetic: both window starts on the
  // 5-minute epoch grid that cover each event's second.
  private val q33 = Q(
    "q33_events_sliding",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), money(col("value")).as("total_value"))
        .select(col("win.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },
    Some(s"""
      WITH g AS (
        SELECT event_type, value, unnest([s0, s0 - 300]) AS ws
        FROM (
          SELECT event_type, value,
            (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 300) * 300 AS s0
          FROM events))
      SELECT make_timestamp(ws * 1000000) AS window_start, event_type,
        COUNT(*) AS n_events, ${moneySql("value")} AS total_value
      FROM g GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  // B34 — explicit GROUPING SETS: the priority×status detail plus a
  // per-priority rollup and the grand total, in ONE scan — Spark plans
  // GROUPING SETS (like q31's CUBE) as a single Expand + hash aggregate,
  // so the three levels cost one shuffle, not three unioned queries.
  // SQL-expressed (the DataFrame API has rollup/cube but not arbitrary
  // sets), exercising the spark.sql path over registered views.
  private val q34 = Q(
    "q34_grouping_sets",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_v")
      s.sql(s"""
        SELECT o_orderpriority, o_orderstatus,
          COUNT(*) AS n,
          ${moneySql("o_totalprice")} AS total_price,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st
        FROM graft_orders_v
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        ORDER BY g_pri, g_st, COALESCE(o_orderpriority, '~'),
                 COALESCE(o_orderstatus, '~')""")
    },
    Some(s"""
      SELECT o_orderpriority, o_orderstatus,
        COUNT(*) AS n,
        ${moneySql("o_totalprice")} AS total_price,
        CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st
      FROM orders
      GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                              (o_orderpriority), ())
      ORDER BY g_pri, g_st, COALESCE(o_orderpriority, '~'),
               COALESCE(o_orderstatus, '~')"""))

  // B35 — sequential funnel: how many users complete each prefix of a
  // step sequence IN TIMESTAMP ORDER. Stage timestamps chain through
  // min-ts joins (first step-1 event, first step-2 event strictly after
  // it, ...) — one hash aggregate + one equi-join per step, all
  // shuffling on user_id (one co-partitioning at scale), no per-user
  // event array ever materialized (the collect_list spelling would cap
  // at memory per user; this one doesn't).
  /** Parameterized funnel over any (user_id, event_type, ts) frame:
    * one row per step prefix with the count of users whose events reach
    * it in order. q35 is `funnel(events, Seq("view","click","purchase"))`.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val reached = steps.tail.scanLeft(
      e.filter(col("event_type") === steps.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))) { (prev, step) =>
      e.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), Seq("user_id"))
        .filter(col("ts") > col("t_prev"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    reached.zipWithIndex.map { case (stage, i) =>
      stage.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage"),
          lit(steps.take(i + 1).mkString(">")).as("step"), col("n_users"))
    }.reduce(_ unionByName _).orderBy(col("stage"))
  }

  private val q35 = Q(
    "q35_funnel",
    (s, d) => funnel(Tables.events(s, d), Seq("view", "click", "purchase")),
    Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      v AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
      SELECT 1::BIGINT AS stage, 'view' AS step, COUNT(*) AS n_users FROM v
      UNION ALL
      SELECT 2::BIGINT, 'view>click', COUNT(*) FROM c
      UNION ALL
      SELECT 3::BIGINT, 'view>click>purchase', COUNT(*) FROM p
      ORDER BY stage"""))

  // B36 — cohort retention: users grouped by first-activity day; for
  // each cohort and day-offset k (0..7), how many are active again k
  // days later. Two hash aggregates + one user_id equi-join — the
  // (user, day) dedup and the first-day aggregate reuse one shuffle
  // shape; output is integer-exact (counts + epoch-day arithmetic).
  private val q36 = Q(
    "q36_retention_cohorts",
    (s, d) => {
      val act = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .dropDuplicates("user_id", "day")
      val firstDay = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      act.join(firstDay, Seq("user_id"))
        .withColumn("k", datediff(col("day"), col("cohort_day")).cast("long"))
        .filter(col("k") <= 7)
        .groupBy(col("cohort_day"), col("k"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("k"))
    },
    Some("""
      WITH act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      f AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
      SELECT f.cohort_day, CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS k,
        COUNT(*) AS n_users
      FROM act a JOIN f ON a.user_id = f.user_id
      WHERE date_diff('day', f.cohort_day, a.day) <= 7
      GROUP BY 1, 2 ORDER BY cohort_day, k"""))

  // B37 — year-over-year growth: monthly revenue series self-joined on
  // (y-1, m) rather than lag(12) so missing months can never silently
  // misalign the comparison. Both join sides are the SAME ~80-row
  // post-aggregate frame (broadcast-sized at any SF — the heavy work is
  // the one monthly hash aggregate over orders); growth is IEEE division
  // of two decimal-exact doubles, r4-quantized.
  private val q37 = Q(
    "q37_yoy_growth",
    (s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast(LongType).as("y"),
          month(col("o_orderdate")).cast(LongType).as("m"))
        .agg(money(col("o_totalprice")).as("revenue"))
      val prev = monthly.select((col("y") + 1).as("y"), col("m"),
        col("revenue").as("prev_revenue"))
      monthly.join(prev, Seq("y", "m"), "left")
        .withColumn("yoy_pct",
          r4(col("revenue") / col("prev_revenue") * 100.0 - 100.0))
        .orderBy(col("y"), col("m"))
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))),2) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1, 2)
      SELECT a.y, a.m, a.revenue, b.revenue AS prev_revenue,
        (FLOOR((a.revenue / b.revenue * 100.0 - 100.0)*10000.0+0.5)/10000.0) AS yoy_pct
      FROM monthly a LEFT JOIN monthly b ON a.y = b.y + 1 AND a.m = b.m
      ORDER BY a.y, a.m"""))

  // B38 — market-basket co-occurrence: part pairs ordered together.
  // Plan shape: ONE shuffle on l_orderkey builds each order's distinct
  // part set (collect_set is safe — order size is bounded at 7 lines in
  // TPC-H, a data-model bound, not a data-volume bound), pairs expand
  // MAP-SIDE via two chained explodes with `p1 < p2` halving them, and
  // the pair count is a map-side-combinable hash aggregate on (p1,p2).
  // The self-equi-join spelling costs 4 exchanges (dedup on (ok,pk) +
  // both join sides re-shuffled on ok + the agg) — measured 5.6s vs
  // ~1s for this shape at sf0.1. Top-30 plans as TakeOrderedAndProject
  // (per-partition heaps, no global sort); the (count desc, p1, p2)
  // ordering is total, so the limit is deterministic across engines.
  private val q38 = Q(
    "q38_market_basket",
    (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok")).agg(collect_set(col("pk")).as("pks"))
        .select(explode(col("pks")).as("p1"), col("pks"))
        .select(col("p1"), explode(col("pks")).as("p2"))
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1"), col("p2"))
        .limit(30)
    },
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_orders
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      ORDER BY n_orders DESC, p1, p2
      LIMIT 30"""))

  // B39 — percent-of-total contribution: each nation's revenue share.
  // The windowed total runs over the POST-AGGREGATE 25-row frame (the
  // empty-partition window is deliberate and bounded by |nation|, not by
  // data volume); the total is summed in DECIMAL so it is exact and
  // order-independent — summing the doubles would make the share depend
  // on float accumulation order, which differs across engines.
  private val q39 = Q(
    "q39_revenue_share",
    (s, d) => {
      val rev = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(money(col("o_totalprice")).as("revenue"))
      val total = sum(col("revenue").cast(DecimalType(18, 2)))
        .over(Window.partitionBy()).cast(DoubleType)
      rev
        .withColumn("share_pct", r4(col("revenue") / total * 100.0))
        .withColumn("rev_rank",
          rank().over(Window.orderBy(col("revenue").desc, col("n_name"))).cast(LongType))
        .orderBy(col("rev_rank"))
    },
    Some("""
      WITH rev AS (
        SELECT n_name,
          CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))),2) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name)
      SELECT n_name, revenue,
        (FLOOR((revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,2))) OVER () AS DOUBLE) * 100.0)*10000.0+0.5)/10000.0) AS share_pct,
        CAST(RANK() OVER (ORDER BY revenue DESC, n_name) AS BIGINT) AS rev_rank
      FROM rev
      ORDER BY rev_rank"""))

  // B40 — "blame the sole late supplier" (TPC-H Q21 flavor, adapted to
  // this schema's dates): suppliers whose shipment ran >90 days past the
  // order date on orders where ANOTHER supplier participated but NO other
  // supplier was late. The oracle keeps the EXISTS / NOT EXISTS spelling;
  // the Spark plan uses the aggregate reformulation — per-(order,
  // supplier) late flag, then per-order (n_supp, n_late) counts, then
  // "late AND n_supp > 1 AND n_late == 1" — because the semi + anti
  // spelling costs 10 exchanges re-shuffling the same dedup frames
  // (measured 2.8s) while this shape keeps every shuffle on orderkey
  // (measured ~1s, and at 100 TB the per-order aggregate is map-side
  // combinable where semi/anti state is not). Supplier dim broadcasts;
  // top-20 plans as TakeOrderedAndProject with a total order.
  private val q40 = Q(
    "q40_blame_supplier",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      val marked = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("is_late"))
        .groupBy(col("ok"), col("sk"))
        .agg(max(col("is_late")).as("is_late"))
      val stats = marked.groupBy(col("ok"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("is_late"), 1L).otherwise(0L)).as("n_late"))
      marked.filter(col("is_late"))
        .join(stats.filter(col("n_supp") > 1 && col("n_late") === 1), Seq("ok"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("sk") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""
      WITH late AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY),
      sup AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem)
      SELECT s_name, COUNT(*) AS numwait
      FROM late l
      JOIN supplier ON l.sk = s_suppkey
      WHERE EXISTS (SELECT 1 FROM sup o WHERE o.ok = l.ok AND o.sk != l.sk)
        AND NOT EXISTS (SELECT 1 FROM late x WHERE x.ok = l.ok AND x.sk != l.sk)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""))

  // B41 — date-spine gap filling: daily order counts per priority with
  // every (day, priority) cell present, zeros where no order landed —
  // the time-series densification every BI layer needs before charting
  // or window math. The spine is generated from the data's own min/max
  // span (sequence() over a ONE-ROW aggregate — calendar-bounded, not
  // data-bounded) and cross-joined with the tiny priority dim; the only
  // data-volume work is the (day, priority) count aggregate the spine
  // left-joins. Integer-exact output.
  private val q41 = Q(
    "q41_daily_spine",
    (s, d) => {
      val o = Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("day"),
          col("o_orderpriority").as("priority"))
      val spine = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val dims = o.select(col("priority")).distinct()
      val counts = o.groupBy(col("day"), col("priority"))
        .agg(count(lit(1)).as("n_orders"))
      spine.crossJoin(dims)
        .join(counts, Seq("day", "priority"), "left")
        .select(col("day"), col("priority"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("day"), col("priority"))
    },
    Some("""
      WITH o AS (
        SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority AS priority
        FROM orders),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o),
      spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span),
      dims AS (SELECT DISTINCT priority FROM o),
      counts AS (SELECT day, priority, COUNT(*) AS n_orders FROM o GROUP BY 1, 2)
      SELECT s.day, d.priority, COALESCE(c.n_orders, 0) AS n_orders
      FROM spine s CROSS JOIN dims d
      LEFT JOIN counts c ON c.day = s.day AND c.priority = d.priority
      ORDER BY s.day, d.priority"""))

  // B42 — semi-structured VARIANT (Spark 4's native JSON type): props
  // parsed ONCE to variant, typed paths extracted with variant_get —
  // the shredded-decode path that replaces q28's per-access string
  // parsing (get_json_object re-parses the JSON for every extraction;
  // variant parses once and binary-navigates). Output is integer-exact
  // typed columns, so the DuckDB oracle (its own JSON reader) hashes
  // identically even though the in-flight representations differ.
  private val q42 = Q(
    "q42_props_variant",
    (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  // B43 — reconciliation audit: the cross-frame consistency diff every
  // pipeline migration / ingestion pipeline runs — a STORED total
  // (o_totalprice) reconciled against the total DERIVED from the detail
  // table, with the discrepancy ranked. All money math in exact decimal
  // (three 2-dp factors multiply to 6 exact decimal places in both
  // engines — no float accumulation anywhere before the final
  // quantization), so the diff itself is hash-checkable. One shuffle on
  // orderkey for the detail aggregate, broadcast-or-shuffle join to
  // orders, TakeOrderedAndProject for the top-100 ranking.
  private val q43 = Q(
    "q43_reconcile_totals",
    (s, d) => {
      val one = lit(1).cast("decimal(12,2)")
      val calc = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(round(sum(dec(col("l_extendedprice"))
            * (one - dec(col("l_discount"))) * (one + dec(col("l_tax")))), 2)
          .cast("double").as("lineitem_total"))
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .join(calc, Seq("o_orderkey"))
        .withColumn("delta", r2(col("o_totalprice") - col("lineitem_total")))
        .orderBy(abs(col("delta")).desc, col("o_orderkey"))
        .limit(100)
    },
    Some(s"""
      WITH c AS (
        SELECT l_orderkey AS o_orderkey,
          CAST(ROUND(SUM(${decSql("l_extendedprice")}
            * (${decSql("1")} - ${decSql("l_discount")})
            * (${decSql("1")} + ${decSql("l_tax")})), 2) AS DOUBLE) AS lineitem_total
        FROM lineitem GROUP BY 1)
      SELECT o.o_orderkey, o.o_totalprice, c.lineitem_total,
        ${r2Sql("o.o_totalprice - c.lineitem_total")} AS delta
      FROM orders o JOIN c USING (o_orderkey)
      ORDER BY ABS(delta) DESC, o_orderkey LIMIT 100"""))

  // B45 — as-of join with an ATTRIBUTION WINDOW: q21's as-of machinery
  // plus the tolerance bound real attribution needs ("the purchase's
  // last prior click, but only within 24 hours — else unattributed";
  // ~34% of purchases attribute at this corpus's click gaps, so both
  // branches of the gate are exercised). The gate is integer-exact
  // microsecond arithmetic (unix_micros / epoch_us in the oracle), so
  // the boundary can't flip on float rounding; rows outside the window
  // keep the purchase with NULLed attribution, preserving the left-row
  // count.
  private val q45 = Q(
    "q45_asof_tolerance",
    (s, d) => {
      val TolMicros = 24L * 3600L * 1000000L
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      asOfJoin(purchases, clicks, "user_id", "ts", "ts",
        Seq("event_id"), rightTieBreak = Some("event_id"),
        within = Some((l, r) => unix_micros(l) - unix_micros(r) <= lit(TolMicros)))
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"),
          col("asof_ts").as("attrib_click_ts"),
          col("asof_event_id").as("attrib_click_id"))
        .orderBy(col("user_id"), col("purchase_id"))
    },
    Some("""
      WITH u AS (
        SELECT user_id, ts, event_id, 0 AS kind FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, event_id, 1 AS kind FROM events WHERE event_type = 'purchase'),
      w AS (
        SELECT user_id, ts, event_id, kind,
          last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER win AS last_click_ts,
          last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER win AS last_click_id
        FROM u
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        CASE WHEN epoch_us(ts) - epoch_us(last_click_ts) <= 86400000000
             THEN last_click_ts END AS attrib_click_ts,
        CASE WHEN epoch_us(ts) - epoch_us(last_click_ts) <= 86400000000
             THEN last_click_id END AS attrib_click_id
      FROM w WHERE kind = 1
      ORDER BY user_id, purchase_id"""))

  // B46 — SCD2 dimension build (gaps-and-islands): the warehouse pattern
  // for deriving a slowly-changing-dimension HISTORY from a fact stream —
  // per customer, collapse consecutive orders with the same priority into
  // one validity span (version, effective_from, effective_to; open-ended
  // current span). Change detection = null-safe lag compare; island id =
  // running sum of change flags; effective_to = next island's
  // effective_from. Every window is PARTITIONED by customer (no global
  // sort anywhere), the island aggregate is map-side combinable, and the
  // span frame is a tiny fraction of the fact table — the canonical
  // scale-safe islands spelling. Deterministic: (o_orderdate, o_orderkey)
  // is a total order within a customer in both engines.
  // B47 — multi-touch attribution: the LINEAR-credit counterpart of
  // q45's last-touch — every click of the same user within the 24 h
  // window before a purchase shares the purchase's value equally. The
  // join is the canonical event-time interval shape: equi on user_id
  // (the shuffle key), time range as a join-level filter, touch count
  // from a purchase-partitioned window. Float discipline: the ONLY
  // division is one r4-quantized value/n per output row — no
  // cross-row float accumulation anywhere (aggregating credited values
  // would sum unlike denominators; consumers aggregate the DECIMAL
  // value and integer n instead). Integer time gate: unix_micros ==
  // epoch_us (the q45 convention).
  private val q47 = Q(
    "q47_multitouch_attribution",
    (s, d) => {
      val TolMicros = 24L * 3600L * 1000000L
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"), col("value"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .filter(unix_micros(col("click_ts")) <= unix_micros(col("purchase_ts")) &&
          unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")) <= lit(TolMicros))
      val wP = Window.partitionBy(col("purchase_id"))
      touches
        .withColumn("n_touches", count(lit(1)).over(wP))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("n_touches"),
          r4(col("value") / col("n_touches")).as("credit"))
        .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
    },
    Some(s"""
      WITH c AS (
        SELECT user_id, ts AS click_ts, event_id AS click_id
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
        FROM events WHERE event_type = 'purchase'),
      t AS (
        SELECT p.user_id, purchase_id, click_id, value
        FROM p JOIN c USING (user_id)
        WHERE epoch_us(click_ts) <= epoch_us(purchase_ts)
          AND epoch_us(purchase_ts) - epoch_us(click_ts) <= 86400000000),
      n AS (
        SELECT *, CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches
        FROM t)
      SELECT user_id, purchase_id, click_id, n_touches,
        ${r4Sql("value / n_touches")} AS credit
      FROM n ORDER BY user_id, purchase_id, click_id"""))

  // B48 — surrogate-key assignment (dimension key management): new
  // natural keys get DENSE surrogate keys continuing after the current
  // maximum — WITHOUT a global sort. The two-phase enumeration pattern:
  // hash-route each new key to one of P=32 buckets (md5-derived so the
  // oracle reproduces it), rank INSIDE each bucket (partitioned window),
  // then add per-bucket offsets computed by a prefix sum over the
  // 32-row bucket-count frame (the only "global" window — constant
  // size, q39 precedent). sk = max_existing + offset(bucket) +
  // local_rank covers max+1..max+N exactly once. The one-row max frame
  // is a legitimate broadcast (parameter-bounded). All arithmetic
  // integer — fully hash-checked cross-engine. The "existing" dimension
  // is simulated deterministically (custkey % 3 != 0, sk = 2*custkey)
  // so the oracle can rebuild it.
  /** B48's core over ANY (existing dim, incoming keys) pair — factored
    * out so the density/stability invariants are testable on arbitrary
    * key sets. `existing` carries (c_custkey, sk); incoming keys already
    * present keep their sk, new ones get dense keys after the max.
    */
  def surrogateKeys(existing: DataFrame, incoming: DataFrame,
      buckets: Int = 32): DataFrame = {
    val maxSk = existing.agg(coalesce(max(col("sk")), lit(0L)).as("max_sk"))
    // distinct: an ingest batch repeating a new business key (two orders
    // from one new customer) must mint ONE surrogate, not one per row
    val local = incoming.select("c_custkey").distinct()
      .join(existing.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .withColumn("p", pmod(
        graft.functions.HashFunctions.md5Hash56(col("c_custkey").cast("string")),
        lit(buckets.toLong)))
      .withColumn("lr", row_number().over(
        Window.partitionBy(col("p")).orderBy(col("c_custkey"))).cast("long"))
    val offsets = local.groupBy(col("p")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum(col("n")).over(Window.orderBy(col("p"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("p"), col("off"))
    val assigned = local.join(offsets, Seq("p"))
      .crossJoin(broadcast(maxSk))
      .select(col("c_custkey"),
        (col("max_sk") + col("off") + col("lr")).as("sk"),
        lit(true).as("is_new"))
    existing.select(col("c_custkey"), col("sk"), lit(false).as("is_new"))
      .unionByName(assigned)
      .orderBy(col("c_custkey"))
  }

  private val q48 = Q(
    "q48_surrogate_keys",
    (s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"))
      val existing = c.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), (col("c_custkey") * 2).as("sk"))
      surrogateKeys(existing, c)
    },
    Some(s"""
      WITH e AS (
        SELECT c_custkey, c_custkey * 2 AS sk FROM customer WHERE c_custkey % 3 <> 0),
      mx AS (SELECT MAX(sk) AS max_sk FROM e),
      l AS (
        SELECT c_custkey, p,
          CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY c_custkey) AS BIGINT) AS lr
        FROM (
          SELECT c_custkey,
            ${graft.functions.HashFunctions.md5Hash56Sql("CAST(c_custkey AS VARCHAR)")} % 32 AS p
          FROM customer WHERE c_custkey % 3 = 0)),
      oo AS (
        SELECT p, COALESCE(SUM(n) OVER (ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM (SELECT p, COUNT(*) AS n FROM l GROUP BY p)),
      a AS (
        -- CAST: SUM() OVER is HUGEINT in DuckDB -> float64 in the
        -- comparator's dtype rendering (the q28 lesson)
        SELECT l.c_custkey, CAST(mx.max_sk + oo.off + l.lr AS BIGINT) AS sk,
          TRUE AS is_new
        FROM l JOIN oo USING (p), mx)
      SELECT c_custkey, sk, FALSE AS is_new FROM e
      UNION ALL SELECT * FROM a
      ORDER BY c_custkey"""))

  /** B46's core over ANY orders-shaped frame — factored out so the
    * islands logic is testable on planted change sequences (the
    * dataExpectations convention).
    */
  def scd2Dimension(orders: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val flagged = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("chg",
        when(lag(col("o_orderpriority"), 1).over(wOrd) <=> col("o_orderpriority"), 0L)
          .otherwise(1L))
      .withColumn("version",
        sum(col("chg")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = flagged
      .groupBy(col("o_custkey"), col("version"), col("o_orderpriority"))
      .agg(to_date(min(col("o_orderdate"))).as("effective_from"),
        count(lit(1)).as("n_orders"))
    val wVer = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    spans
      .withColumn("effective_to", lead(col("effective_from"), 1).over(wVer))
      .select(col("o_custkey").as("c_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("effective_from"), col("effective_to"), col("n_orders"))
      .orderBy(col("c_custkey"), col("version"))
  }

  private val q46 = Q(
    "q46_scd2_dimension",
    (s, d) => scd2Dimension(Tables.orders(s, d)),
    Some("""
      WITH f AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
          CASE WHEN lag(o_orderpriority) OVER win IS NOT DISTINCT FROM o_orderpriority
               THEN 0 ELSE 1 END AS chg
        FROM orders
        WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      v AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        FROM f),
      sp AS (
        SELECT o_custkey AS c_custkey, version, o_orderpriority AS priority,
          CAST(MIN(o_orderdate) AS DATE) AS effective_from,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM v GROUP BY 1, 2, 3)
      SELECT c_custkey, version, priority, effective_from,
        lead(effective_from) OVER (PARTITION BY c_custkey ORDER BY version) AS effective_to,
        n_orders
      FROM sp ORDER BY c_custkey, version"""))

  // B44 — data-expectations audit (the dbt-test/Great-Expectations gate a
  // production pipeline runs before publishing a snapshot): each
  // expectation is one aggregate or anti-join over the raw tables —
  // null-rate, referential orphans on BOTH fact edges, duplicate primary
  // keys, domain-range violations — emitted as one small (expectation,
  // violations, pass) frame. Anti-joins shuffle on the checked key (the
  // canonical integrity-join shape); every count is integer-exact, so
  // the whole audit is hash-checked cross-engine. On this generated
  // dataset all gates PASS with 0 violations — the point is the CHECKS
  // run distributed, not that the data is dirty.
  /** B44's core over ANY (lineitem, orders, customer)-shaped trio —
    * factored out so the check logic is testable on planted DIRTY data
    * (the real corpus passes every gate, which proves the checks run but
    * not that they catch).
    */
  def dataExpectations(l: DataFrame, o: DataFrame, c: DataFrame): DataFrame = {
    // each check frame is a single-row global aggregate; sum() over an
    // empty/all-false input yields null, hence the coalesce
    def row(name: String, agged: DataFrame) =
      agged.select(lit(name).as("expectation"),
        coalesce(col("v"), lit(0L)).cast("long").as("violations"))
    val checks = Seq(
      row("orders_custkey_not_null",
        o.agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v"))),
      row("lineitem_orderkey_not_null",
        l.agg(sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v"))),
      // nulls are the not-null check's finding, not an orphan — exclude
      // them from BOTH orphan checks or one dirty row counts against two
      // expectations
      row("lineitem_orderkey_in_orders",
        l.filter(col("l_orderkey").isNotNull)
          .join(o.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("v"))),
      row("orders_custkey_in_customer",
        o.filter(col("o_custkey").isNotNull)
          .join(c.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("v"))),
      row("orders_orderkey_unique",
        o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
          .agg(sum(when(col("n") > 1, col("n")).otherwise(0L)).as("v"))),
      row("lineitem_quantity_positive",
        l.agg(sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("v"))),
      row("lineitem_discount_in_unit_range",
        l.agg(sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("v"))))
    checks.reduce(_ unionByName _)
      .select(col("expectation"), col("violations"),
        (col("violations") === 0L).as("pass"))
      .orderBy(col("expectation"))
  }

  private val q44 = Q(
    "q44_data_expectations",
    (s, d) => dataExpectations(Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d)),
    Some("""
      WITH checks AS (
        SELECT 'orders_custkey_not_null' AS expectation,
          CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
        FROM orders
        UNION ALL
        SELECT 'lineitem_orderkey_not_null',
          CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_orderkey_in_orders',
          CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'orders_custkey_in_customer',
          CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'orders_orderkey_unique',
          CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n ELSE 0 END), 0) AS BIGINT)
        FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'lineitem_quantity_positive',
          CAST(COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_discount_in_unit_range',
          CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM lineitem)
      SELECT expectation, violations, violations = 0 AS pass
      FROM checks ORDER BY expectation"""))

  // B49 — CDC MERGE apply (the lakehouse MERGE INTO / CDC-compaction
  // pattern q46's SCD2 history is the other half of): a multi-op change
  // log (upserts and deletes with per-key sequence numbers) lands on a
  // snapshot. Two-stage, both scale-shaped:
  //   1. COMPACTION — latest op per key via ONE map-side-combinable
  //      max_by(struct(...), seq) aggregate (never a window: no per-key
  //      sort, partial aggregation absorbs high-churn keys);
  //   2. APPLY — snapshot FULL OUTER JOIN compacted ops on the key:
  //      unmatched snapshot rows pass through (version 0), 'U' rows
  //      take the op's values whether matched (update) or not (insert),
  //      'D' rows drop the key.
  // The fixture log derives deterministically from the snapshot (keys
  // %7 update at seq 1, %21 re-update at seq 2, %13 delete at seq 3 —
  // so latest-wins is exercised across op types, incl. update-then-
  // delete at %91; %1000=1 inserts land on fresh keys). Money math in
  // DECIMAL(12,2) end to end (the q01 discipline).
  private val q49 = Q(
    "q49_cdc_merge",
    (s, d) => {
      val dec2 = (c: Column) => c.cast(DecimalType(12, 2))
      val snapSrc = Tables.orders(s, d)
      def ops(pred: Column, seq: Long, op: String, key: Column,
          status: Column, price: Column) =
        snapSrc.filter(pred).select(key.as("key"), lit(seq).as("seq"),
          lit(op).as("op"), col("o_custkey").as("custkey"),
          status.as("status"), price.as("price"))
      val k = col("o_orderkey")
      val upd1 = ops(k % 7 === 0, 1L, "U", k, col("o_orderstatus"),
        round(dec2(col("o_totalprice")) * dec2(lit("1.10")), 2).cast(DoubleType))
      val upd2 = ops(k % 21 === 0, 2L, "U", k, col("o_orderstatus"),
        round(dec2(col("o_totalprice")) + dec2(lit("5.00")), 2).cast(DoubleType))
      val del = ops(k % 13 === 0, 3L, "D", k,
        lit(null).cast("string"), lit(null).cast("double"))
      val ins = ops(k % 1000 === 1, 1L, "U", k + lit(10000000L), lit("N"),
        round(dec2(col("o_totalprice")), 2).cast(DoubleType))
      val latest = upd1.unionByName(upd2).unionByName(del).unionByName(ins)
        .groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("custkey"), col("status"),
            col("price")), col("seq")).as("w"),
          max(col("seq")).as("version"))
        .select(col("key"), col("w.op").as("op"),
          col("w.custkey").as("n_custkey"), col("w.status").as("n_status"),
          col("w.price").as("n_price"), col("version"))
      snapSrc
        .select(col("o_orderkey").as("key"), col("o_custkey"),
          col("o_orderstatus"),
          round(dec2(col("o_totalprice")), 2).cast(DoubleType).as("o_totalprice"))
        .join(latest, Seq("key"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(col("key").as("o_orderkey"),
          when(col("op") === "U", col("n_custkey"))
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(col("op") === "U", col("n_status"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("op") === "U", col("n_price"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("op") === "U", col("version")).otherwise(lit(0L)).as("version"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH cdc AS (
        SELECT o_orderkey AS key, 1 AS seq, 'U' AS op, o_custkey AS custkey,
          o_orderstatus AS status,
          CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(12,2)), 2) AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'U', o_custkey, o_orderstatus,
          CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) + CAST(5.00 AS DECIMAL(12,2)), 2) AS DOUBLE)
        FROM orders WHERE o_orderkey % 21 = 0
        UNION ALL
        SELECT o_orderkey, 3, 'D', NULL, NULL, NULL
        FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 1, 'U', o_custkey, 'N',
          CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE)
        FROM orders WHERE o_orderkey % 1000 = 1),
      latest AS (
        SELECT key, arg_max(op, seq) AS op, arg_max(custkey, seq) AS n_custkey,
          arg_max(status, seq) AS n_status, arg_max(price, seq) AS n_price,
          CAST(MAX(seq) AS BIGINT) AS version
        FROM cdc GROUP BY key),
      snap AS (
        SELECT o_orderkey AS key, o_custkey, o_orderstatus,
          CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS o_totalprice
        FROM orders),
      m AS (
        SELECT COALESCE(s.key, l.key) AS o_orderkey,
          s.o_custkey, s.o_orderstatus, s.o_totalprice,
          l.op, l.n_custkey, l.n_status, l.n_price, l.version
        FROM snap s FULL OUTER JOIN latest l ON s.key = l.key)
      SELECT o_orderkey,
        CASE WHEN op = 'U' THEN n_custkey ELSE o_custkey END AS o_custkey,
        CASE WHEN op = 'U' THEN n_status ELSE o_orderstatus END AS o_orderstatus,
        CASE WHEN op = 'U' THEN n_price ELSE o_totalprice END AS o_totalprice,
        CAST(CASE WHEN op = 'U' THEN version ELSE 0 END AS BIGINT) AS version
      FROM m WHERE COALESCE(op, '') <> 'D'
      ORDER BY o_orderkey"""))

  // B50 — GAP-FILL + forward-fill interpolation (q41's spine taken to
  // its consumer: a regular per-entity time series from irregular
  // events, the shape feature stores and forecasting inputs need): per
  // customer (custkey < 1000 keeps the demo frame bounded; the plan is
  // identical unbounded), a monthly spine over the global order span,
  // LEFT-joined monthly revenue, then
  //   - filled_revenue: last known value carried forward (last(_,
  //     ignoreNulls) over an entity-partitioned running frame — the
  //     window key GROWS with the data, never enum-bounded),
  //   - months_since_order: age of that value in months.
  // Money stays DECIMAL(12,2)-exact through the fill (missing months
  // carry the exact last value, not a re-rounded copy). DuckDB twin
  // uses LAST_VALUE IGNORE NULLS over the same frame.
  private val q50 = Q(
    "q50_gap_fill",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_custkey") < 1000)
        .select(col("o_custkey").as("custkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"),
          col("o_totalprice"))
      val span = Tables.orders(s, d)
        .agg(date_trunc("month", min(col("o_orderdate"))).cast("date").as("m0"),
          date_trunc("month", max(col("o_orderdate"))).cast("date").as("m1"))
      val spine = span
        .select(explode(expr("sequence(m0, m1, interval 1 month)")).as("month"))
      val rev = o.groupBy(col("custkey"), col("month"))
        .agg(money(col("o_totalprice")).as("revenue"))
      val custs = o.select(col("custkey")).distinct()
      val w = Window.partitionBy(col("custkey")).orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      custs.crossJoin(spine)
        .join(rev, Seq("custkey", "month"), "left")
        .withColumn("filled_revenue", last(col("revenue"), ignoreNulls = true).over(w))
        .withColumn("last_month", last(
          when(col("revenue").isNotNull, col("month")), ignoreNulls = true).over(w))
        .select(col("custkey"), col("month"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          coalesce(col("filled_revenue"), lit(0.0)).as("filled_revenue"),
          coalesce(months_between(col("month"), col("last_month")).cast("long"),
            lit(-1L)).as("months_since_order"))
        .orderBy(col("custkey"), col("month"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS custkey,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
          o_totalprice
        FROM orders WHERE o_custkey < 1000),
      span AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
          CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
        FROM orders),
      spine AS (
        SELECT CAST(unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS DATE) AS month
        FROM span),
      rev AS (
        SELECT custkey, month,
          CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
        FROM o GROUP BY 1, 2),
      custs AS (SELECT DISTINCT custkey FROM o),
      grid AS (
        SELECT c.custkey, s.month, r.revenue
        FROM custs c CROSS JOIN spine s
        LEFT JOIN rev r ON r.custkey = c.custkey AND r.month = s.month),
      f AS (
        SELECT custkey, month, revenue,
          LAST_VALUE(revenue IGNORE NULLS) OVER (
            PARTITION BY custkey ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_revenue,
          LAST_VALUE(CASE WHEN revenue IS NOT NULL THEN month END IGNORE NULLS) OVER (
            PARTITION BY custkey ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_month
        FROM grid)
      SELECT custkey, month,
        COALESCE(revenue, 0.0) AS revenue,
        COALESCE(filled_revenue, 0.0) AS filled_revenue,
        COALESCE(CAST(date_diff('month', last_month, month) AS BIGINT), -1)
          AS months_since_order
      FROM f ORDER BY custkey, month"""))

  /** B51's core: INCREMENTAL AGGREGATE MAINTENANCE (the materialized-
    * view delta-merge every warehouse runs nightly): an existing
    * aggregate artifact absorbs an append-only delta by MERGING partial
    * aggregates — count/sum are linear, so
    * agg(base ∪ delta) == agg(base) ⊕ agg(delta) exactly — instead of
    * rescanning the base. At 100 TB the base aggregate is a stored
    * k-row artifact (the D7/WAP shape) and the nightly cost is
    * O(|delta| + |keys|), not O(|base|); here both halves compute
    * in-query so the driver can hash-check the merged frame against a
    * full recompute — which is precisely the IVM correctness theorem.
    * Money stays DECIMAL(12,2) through the partial sums and the merge
    * (decimal addition is associative/exact), rounding only at the
    * emitted edge (the Num discipline). The full-outer join keeps keys
    * that exist only in one side — a delta introducing a brand-new key
    * must surface, not silently drop.
    */
  def incrementalAgg(orders: DataFrame, cutoff: String): DataFrame = {
    def partial(df: DataFrame) = df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
    val base = partial(orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp")))
    val delta = partial(orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp")))
    base.select(col("o_orderpriority"), col("n").as("n_base"), col("rev").as("rev_base"))
      .join(delta.select(col("o_orderpriority"), col("n").as("n_delta"), col("rev").as("rev_delta")),
        Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L))).as("n_orders"),
        coalesce(col("n_delta"), lit(0L)).as("n_from_delta"),
        round(coalesce(col("rev_base"), dec(lit(0))) + coalesce(col("rev_delta"), dec(lit(0))), 2)
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  // B51 — incremental aggregate maintenance: the merged frame must
  // hash-equal a from-scratch recompute (the IVM theorem, driver-checked).
  private val q51 = Q(
    "q51_incremental_agg",
    (s, d) => incrementalAgg(Tables.orders(s, d), "2000-01-01"),
    Some(s"""
      SELECT o_orderpriority,
        COUNT(*) AS n_orders,
        COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '2000-01-01') AS n_from_delta,
        ${moneySql("o_totalprice")} AS revenue
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** B52 core — BINNED RANGE JOIN (the classic turn-a-theta-join-into-an-
    * equi-join pattern: each dim range [lo, hi] explodes to the fixed-width
    * bins it overlaps, each fact value maps to exactly ONE bin, the join
    * runs on the bin key, and a residual BETWEEN filter restores exact
    * semantics — every matching (fact, range) pair meets exactly once
    * because the fact's bin is unique, so no post-join dedup). Without
    * bins, value-vs-range is a nested-loop scan: broadcast dim = BNLJ
    * (|fact|·|dim| compares), non-broadcast = cartesian — both
    * scale-killers a 100 TB fact table cannot pay. With bins the plan is
    * a hash join whatever the dim size: broadcast-hash while the exploded
    * dim fits (the fixture's 48 bands), shuffle-hash on the bin key
    * beyond that. Replication cost is dim-side only and bounded by
    * range_width/bin_width (~2 bins/band here) — the fact side never
    * replicates. Skewed bins (many ranges stacked on one value region)
    * salt like any hot equi-key.
    *
    * Fixture: 48 price bands with irregular, overlapping-and-gapped
    * boundaries (lo = b²·20000 + (b%7)·137000 cents, width = (3 +
    * (13b mod 29))·60000 cents) probed by every order's total price in
    * exact DECIMAL-derived cents; emits per-band match counts + exact
    * cent sums, unmatched bands included (count 0), so the oracle's plain
    * BETWEEN join pins both the pairing and the aggregate.
    */
  def bandedRangeJoin(orders: DataFrame, nBands: Int = 48,
      binShift: Int = 20): DataFrame = {
    val s = orders.sparkSession
    val bands = s.range(nBands).select(col("id").as("band_id"),
        (col("id") * col("id") * lit(20000L) +
          pmod(col("id"), lit(7L)) * lit(137000L)).as("lo"),
        (lit(3L) + pmod(col("id") * 13L, lit(29L))).as("wmult"))
      .select(col("band_id"), col("lo"),
        (col("lo") + col("wmult") * lit(60000L)).as("hi"))
    val bins = bands.select(col("band_id"), col("lo"), col("hi"),
      explode(sequence(shiftright(col("lo"), binShift),
        shiftright(col("hi"), binShift))).as("bin"))
    val facts = orders.select(
        (dec(col("o_totalprice")) * lit(100)).cast("long").as("cents"))
      .withColumn("bin", shiftright(col("cents"), binShift))
    val matched = facts.join(bins, Seq("bin"))
      .filter(col("cents") >= col("lo") && col("cents") <= col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    bands.join(matched, Seq("band_id"), "left")
      .select(col("band_id"), col("lo"), col("hi"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
      .orderBy(col("band_id"))
  }

  // B52 — binned range join; the oracle is the semantic definition (a
  // plain BETWEEN theta-join), so the hash match proves the bin
  // decomposition is exactly lossless and duplicate-free.
  private val q52 = Q(
    "q52_range_join",
    (s, d) => bandedRangeJoin(Tables.orders(s, d)),
    Some("""
      WITH bands AS (
        SELECT CAST(b AS BIGINT) AS band_id,
          CAST(b*b*20000 + (b%7)*137000 AS BIGINT) AS lo,
          CAST(b*b*20000 + (b%7)*137000 + (3 + (b*13) % 29) * 60000 AS BIGINT) AS hi
        FROM UNNEST(range(0, 48)) AS t(b)),
      f AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      m AS (
        SELECT b.band_id, COUNT(*) AS n_orders, SUM(f.cents) AS sum_cents
        FROM f JOIN bands b ON f.cents BETWEEN b.lo AND b.hi
        GROUP BY 1)
      SELECT bands.band_id, bands.lo, bands.hi,
        COALESCE(m.n_orders, 0) AS n_orders,
        CAST(COALESCE(m.sum_cents, 0) AS BIGINT) AS sum_cents
      FROM bands LEFT JOIN m USING (band_id) ORDER BY band_id"""))

  /** B53's core: per-entity EWMA smoothing (the streaming-telemetry
    * primitive: one number per user that tracks their recent value
    * level, recency-weighted) — s_1 = x_1, s_i = (s_{i-1} + x_i) / 2,
    * events ordered by event_id. α = 1/2 is deliberate: every
    * intermediate is a DYADIC combination of inputs computed by the
    * same IEEE add/halve sequence in both engines, and the fold order
    * is pinned by the t21/t27 sorted-fold discipline (sort_array over
    * (event_id, value) structs == DuckDB list_sort), so a float-
    * RECURSIVE statistic is fully oracle-checkable — the t27 precedent
    * extended from iteration-bounded to sequence-recursive.
    *
    * Scale: ONE user-keyed hash aggregate; per-user arrays are
    * activity-bounded (the t21 collect_list contract), the fold is an
    * interpreted HOF over that post-aggregate frame only. A 100 TB
    * variant shards time into windows and folds window summaries —
    * same algebra, because (a+b)/2 composes associatively over
    * segment endpoints.
    */
  def ewmaByUser(events: DataFrame): DataFrame = {
    val xs = sort_array(collect_list(struct(col("event_id"), col("value"))))
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), xs.as("xs"))
      .select(col("user_id"), col("n_events"),
        r4(aggregate(
          slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
          element_at(col("xs"), 1).getField("value"),
          (acc, x) => (acc + x.getField("value")) / lit(2.0))).as("ewma"))
      .orderBy(col("user_id"))
  }

  // B53 — per-user EWMA, FULL oracle (dyadic α + pinned fold order make
  // the recursion bit-identical cross-engine).
  private val q53 = Q(
    "q53_ewma_by_user",
    (s, d) => ewmaByUser(Tables.events(s, d)),
    Some(s"""
      SELECT user_id, COUNT(*) AS n_events,
        ${Num.r4Sql("""list_reduce(
          list_transform(list_sort(list({'e': event_id, 'v': value})), s -> s['v']),
          (a, b) -> (a + b) / 2)""")} AS ewma
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** B53's 100 TB spelling (the r10 verdict's q53 scale item, now code):
    * the monolithic fold collects a user's FULL event history into one
    * aggregate row — at 100 TB one hot key OOMs a task. Here events
    * shard into contiguous event_id RANGES (the production analogue is
    * the daily partition key), every collect_list is bounded by ONE
    * (user, window) shard, and the scalar EWMA state folds ACROSS
    * windows in window order — one narrow aggregate + one state join
    * per window, exactly A48's state-resumed streaming fold re-expressed
    * as a batch loop (each window = one micro-batch).
    *
    * BIT-EQUAL to [[ewmaByUser]], not approximately equal: windows
    * partition the event_id axis, so concatenating per-window sorted
    * arrays in window order replays the identical IEEE add/halve
    * sequence the monolithic sort_array fold runs (ties in event_id
    * cannot span windows). The spec pins full-output equality.
    *
    * Driver-side work is two PARTITION-ENUMERATION actions (the G24
    * class, bounded by the time-partition count, never by rows): the
    * distinct window-id list, and a localCheckpoint per window (the d6
    * lineage discipline).
    */
  def ewmaByUserWindowed(events: DataFrame, span: Long,
      maxWindows: Int = 64): DataFrame = {
    require(span > 0, s"window span must be positive, got $span")
    require(maxWindows >= 2, s"maxWindows >= 2, got $maxWindows")
    // DRIVER-LOOP CLAMP: the loop below runs one Spark job per window,
    // so a caller passing a small span over a long id range would turn
    // a bounded partition-enumeration into a data-proportional driver
    // loop. The output is BIT-EQUAL for ANY span (windows partition the
    // event_id axis and the concatenated folds replay the identical
    // IEEE sequence — the spelling's core invariant), so a pathological
    // span silently RE-SPANS to the coarsest partition within the cap
    // instead of failing: span' >= (range)/(maxWindows-1)+1 bounds the
    // window count by maxWindows.
    val bounds = events.agg(min(col("event_id")), max(col("event_id"))).head()
    val effSpan =
      if (bounds.isNullAt(0)) span
      else math.max(span,
        (bounds.getLong(1) - bounds.getLong(0)) / (maxWindows - 1) + 1)
    val foldCont = (s0: Column, xs: Column) =>
      aggregate(xs, s0, (acc, x) => (acc + x.getField("value")) / lit(2.0))
    val foldSeed = (xs: Column) =>
      aggregate(
        slice(xs, lit(2), greatest(size(xs) - 1, lit(0))),
        element_at(xs, 1).getField("value"),
        (acc: Column, x: Column) => (acc + x.getField("value")) / lit(2.0))
    val shards = events
      .select(col("user_id"), col("event_id"), col("value"),
        floor(col("event_id") / effSpan).cast("long").as("w"))
      .groupBy(col("user_id"), col("w"))
      .agg(count(lit(1)).as("wn"),
        sort_array(collect_list(struct(col("event_id"), col("value")))).as("xs"))
      .persist()
    val windows = shards.select(col("w")).distinct().orderBy(col("w"))
      .collect().map(_.getLong(0))
    // empty input: no windows, so the fold below would never seed state —
    // return the empty (user_id, n_events, ewma) frame instead of
    // dereferencing null (the r11 advice's NPE)
    if (windows.isEmpty) {
      shards.unpersist()
      return events.sparkSession.createDataFrame(
        events.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ewma",
            org.apache.spark.sql.types.DoubleType))))
    }
    // a superseded checkpoint's blocks are dead the moment the next
    // window's state materializes; release them so a long span (many
    // windows) holds at most two user-count-sized states, not all of
    // them (the r11 advice's leak note — the loop is now <= maxWindows
    // iterations by the re-span clamp above, for ANY caller span)
    var state: DataFrame = null
    windows.foreach { wid =>
      val cur = shards.filter(col("w") === wid)
        .select(col("user_id"), col("wn"), col("xs"))
      val prev = state
      state =
        if (state == null)
          cur.select(col("user_id"), col("wn").as("n_events"),
            foldSeed(col("xs")).as("s"))
        else
          state.join(cur, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("n_events"), lit(0L)) + coalesce(col("wn"), lit(0L)))
                .as("n_events"),
              when(col("xs").isNull, col("s"))
                .when(col("s").isNull, foldSeed(col("xs")))
                .otherwise(foldCont(col("s"), col("xs"))).as("s"))
      state = state.localCheckpoint(true)
      if (prev != null) Materialize.release(prev)
    }
    shards.unpersist()
    state.select(col("user_id"), col("n_events"), Num.r4(col("s")).as("ewma"))
      .orderBy(col("user_id"))
  }

  // B55 — the windowed-shard EWMA as a driver entry with q53's FULL
  // oracle (bit-equal outputs by construction, so the same SQL checks
  // both spellings). The span derives from one 1-row max(event_id)
  // action so the shard count stays ~8 at any SF.
  private val q55 = Q(
    "q55_ewma_windowed",
    (s, d) => {
      val events = Tables.events(s, d)
      val maxId = events.agg(max(col("event_id"))).head.getLong(0)
      ewmaByUserWindowed(events, span = math.max(1L, maxId / 8 + 1))
    },
    Some(s"""
      SELECT user_id, COUNT(*) AS n_events,
        ${Num.r4Sql("""list_reduce(
          list_transform(list_sort(list({'e': event_id, 'v': value})), s -> s['v']),
          (a, b) -> (a + b) / 2)""")} AS ewma
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** B54's core: Tukey IQR outlier gating per group — THE standard
    * numeric-column cleaning rule (flag values outside
    * [q1 - 1.5·IQR, q3 + 1.5·IQR]). The fences are computed from the
    * UNQUANTIZED exact percentiles (x5's machinery — Spark percentile()
    * and DuckDB quantile_cont share the (1-f)·lo + f·hi interpolation,
    * the x5 precedent) and the outlier test is one deterministic IEEE
    * compare per row, so counts are integer-exact cross-engine; only
    * the DISPLAYED fences are r2-quantized. Two passes by necessity
    * (fences then counts — the definition is rank-based); the fence
    * frame is enum-sized, so the join back broadcasts under AQE with
    * no hint (corpus-rooted hints are the guarded class). At 100 TB
    * swap the exact percentile for x2's bounded-state sketch; same
    * query shape.
    */
  /** The Tukey fence frame (event_type, q1, q3, n_events, lo, hi) —
    * shared by [[iqrOutliers]] and the streaming gate (A49), so the
    * batch rule and the published-fences stream rule can never drift.
    */
  def iqrFences(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"),
        count(lit(1)).as("n_events"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))

  def iqrOutliers(events: DataFrame): DataFrame = {
    events.join(iqrFences(events), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(first(col("n_events")).as("n_events"),
        r2(first(col("q1"))).as("q1"),
        r2(first(col("q3"))).as("q3"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  // B54 — IQR outliers per event type, FULL oracle (exact fences, integer
  // counts).
  private val q54 = Q(
    "q54_iqr_outliers",
    (s, d) => iqrOutliers(Tables.events(s, d)),
    Some(s"""
      WITH f AS (
        SELECT event_type,
          quantile_cont(value, 0.25) AS q1,
          quantile_cont(value, 0.75) AS q3,
          COUNT(*) AS n_events
        FROM events GROUP BY event_type)
      SELECT e.event_type,
        f.n_events,
        ${Num.r2Sql("f.q1")} AS q1,
        ${Num.r2Sql("f.q3")} AS q3,
        CAST(SUM(CASE WHEN e.value < f.q1 - 1.5*(f.q3 - f.q1)
                        OR e.value > f.q3 + 1.5*(f.q3 - f.q1)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM events e JOIN f USING (event_type)
      GROUP BY e.event_type, f.n_events, f.q1, f.q3
      ORDER BY e.event_type"""))

  /** B56's core: TIME-SERIES SUBSEQUENCE similarity search (the
    * distributed streaming-similarity workload of the retrieved EDBT/
    * ICDE corpus — find the per-user event-value windows closest to a
    * query pattern): per user, complete length-L windows at every
    * `stride` positions, scored by squared Euclidean distance to the
    * query, global top-k. Spark-first shape:
    *   - per-user positions via one window over user_id (a GROWING key —
    *     the d14 adjudicated class, never enum-bounded);
    *   - each event maps to its <= ceil(L/stride) covering window starts
    *     MAP-SIDE (a bounded sequence/filter explode — no self-join, no
    *     range join);
    *   - per-(user, start) assembly via a length-L-BOUNDED collect_list
    *     (the allowedCollects packing-parameter class);
    *   - the distance folds (x_i - q_i)^2 in ASCENDING INDEX order (the
    *     q53 pinned-fold discipline), so DuckDB's list_reduce replays it
    *     bit-for-bit and the r4-quantized ranking key is cross-engine
    *     exact; ties break (user_id, start);
    *   - global top-k = orderBy.limit = TakeOrderedAndProject (heap
    *     merge, never a full sort).
    * At 100 TB: everything before the final k-row reduction is one
    * user-keyed shuffle + narrow maps; windows are rows, never driver
    * state; L and stride are parameters, so per-group state is bounded.
    */
  def tsSubsequenceTopK(events: DataFrame, query: Seq[Double], stride: Int,
      k: Int): DataFrame =
    tsSubsequenceScores(events, query, stride)
      .orderBy(col("dist"), col("user_id"), col("start"))
      .limit(k)

  /** The pre-top-k (user, start, dist) frame — shared with the streaming
    * twin (A56) so the batch and stream spellings score identically.
    */
  def tsSubsequenceScores(events: DataFrame, query: Seq[Double],
      stride: Int): DataFrame = {
    require(query.nonEmpty && stride >= 1)
    val L = query.size
    val qLit = typedlit(query)
    val wins = tsWindows(events, L, stride)
    val dist = aggregate(
      zip_with(transform(col("xs"), x => x.getField("value")), qLit,
        (x, q) => (x - q) * (x - q)),
      lit(0.0), (acc, d) => acc + d)
    wins.select(col("user_id"), col("start"), r4(dist).as("dist"))
  }

  /** Complete per-user length-L windows at stride-aligned starts —
    * (user_id, start, xs) with xs the pos-sorted (pos, value) structs;
    * shared by the raw (B56) and z-normalized (B57) scorers.
    */
  private def tsWindows(events: DataFrame, L: Int, stride: Int): DataFrame = {
    val wPos = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val pos = events.select(col("user_id"), col("event_id"), col("value"))
      .withColumn("pos", row_number().over(wPos).cast("long"))
    // covering starts of pos: s in [pos-L+1, pos], s >= 1, (s-1) % stride == 0
    val covered = pos.select(col("user_id"), col("value"), col("pos"),
        explode(filter(
          sequence(greatest(col("pos") - L + 1, lit(1L)), col("pos")),
          s => (s - 1) % stride === 0)).as("start"))
    covered.groupBy(col("user_id"), col("start"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("pos"), col("value")))).as("xs"))
      .filter(col("n") === L) // complete windows only
  }

  /** [[tsSubsequenceScores]]' per-window DISTANCE recurrence, exposed so
    * the streaming twin folds the identical IEEE sequence: ascending
    * index, (x_i - q_i)^2 accumulated left to right from 0.0.
    */
  def tsDistance(xs: Seq[Double], query: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < query.length) {
      val d = xs(i) - query(i)
      acc = acc + d * d
      i += 1
    }
    Num.r4Double(acc)
  }

  /** B57's core: Z-NORMALIZED subsequence similarity — the canonical
    * published form (the UCR-suite/MASS contract: match SHAPE, not
    * scale/offset, by normalizing every window to mean 0 / std 1 before
    * the Euclidean fold). Float discipline extends q56's: mean and
    * variance are ASCENDING-index folds over the window, std = IEEE
    * sqrt (exactly specified, so cross-engine identical), a
    * zero-variance window z-normalizes to the ZERO vector (the
    * documented constant-window convention — its distance is then
    * ||q_z||^2, never a NaN), and the final fold is q56's. DuckDB
    * replays every step from the same exact integers, so the r4 ranking
    * key hash-matches.
    */
  def tsZnormSubsequenceTopK(events: DataFrame, query: Seq[Double],
      stride: Int, k: Int): DataFrame = {
    require(k >= 1)
    tsZnormSubsequenceScores(events, query, stride)
      .orderBy(col("dist"), col("user_id"), col("start"))
      .limit(k)
  }

  /** The pre-top-k z-normalized (user, start, dist) frame — shared with
    * the streaming twin (A56's z-norm leg) so batch and stream score
    * bit-identically, the tsSubsequenceScores convention.
    */
  def tsZnormSubsequenceScores(events: DataFrame, query: Seq[Double],
      stride: Int): DataFrame = {
    require(query.nonEmpty && stride >= 1)
    val L = query.size
    val qz = typedlit(znormSeq(query))
    // mean/std materialize as PER-ROW SCALAR COLUMNS before the z-map:
    // higher-order lambdas are interpreted with no CSE, so an inline
    // `std` subexpression re-runs its whole variance fold PER ELEMENT
    // (measured: the inline spelling benched 4.6s vs ~0.6s for q56's
    // single fold). Fold orders are unchanged — ascending index from
    // 0.0 — so the cross-engine contract is identical.
    val wins = tsWindows(events, L, stride)
      .withColumn("vals", transform(col("xs"), x => x.getField("value")))
      .withColumn("m", aggregate(col("vals"), lit(0.0), (a, x) => a + x) / L)
      .withColumn("std", sqrt(aggregate(col("vals"), lit(0.0),
        (a, x) => a + (x - col("m")) * (x - col("m"))) / L))
    // std == 0 ⇒ z is the zero vector ⇒ distance = ||q_z||^2, which is a
    // CONSTANT — precompute it with the same ascending fold the general
    // branch runs, so the degenerate branch's value is bit-identical to
    // folding (0 - q_i)^2 in place. The general branch folds
    // ((x-m)/std - q)^2 directly — no z array materializes.
    val qnorm = {
      var acc = 0.0
      znormSeq(query).foreach(z => acc = acc + z * z)
      acc
    }
    val dist = when(col("std") === 0.0, lit(qnorm))
      .otherwise(aggregate(
        zip_with(col("vals"), qz,
          (x, q) => ((x - col("m")) / col("std") - q) * ((x - col("m")) / col("std") - q)),
        lit(0.0), (acc, d) => acc + d))
    wins.select(col("user_id"), col("start"), r4(dist).as("dist"))
  }

  /** The Scala twin of [[tsZnormSubsequenceScores]]' per-window distance:
    * the IDENTICAL IEEE sequence — ascending mean fold / L, ascending
    * (x-m)² fold / L under sqrt, then either the precomputed ||q_z||²
    * (std 0) or the ascending ((x-m)/std - q_z)² fold — so the streaming
    * twin scores bit-equal to the batch column expression. `qz`/`qnorm`
    * are precomputed once via [[znormQueryConstants]].
    */
  def tsZnormDistance(xs: Seq[Double], qz: Seq[Double], qnorm: Double): Double = {
    val L = qz.length
    var m = 0.0
    var i = 0
    while (i < L) { m = m + xs(i); i += 1 }
    val mean = m / L
    var v = 0.0
    i = 0
    while (i < L) { val d = xs(i) - mean; v = v + d * d; i += 1 }
    val std = math.sqrt(v / L)
    if (std == 0.0) Num.r4Double(qnorm)
    else {
      var acc = 0.0
      i = 0
      while (i < L) {
        val d = (xs(i) - mean) / std - qz(i)
        acc = acc + d * d
        i += 1
      }
      Num.r4Double(acc)
    }
  }

  /** (z-normalized query, ||q_z||²) with the exact folds the batch
    * expression bakes into its literals.
    */
  def znormQueryConstants(query: Seq[Double]): (Seq[Double], Double) = {
    val qz = znormSeq(query)
    var acc = 0.0
    qz.foreach(z => acc = acc + z * z)
    (qz, acc)
  }

  /** The Scala twin of the z-normalization fold (same IEEE sequence). */
  def znormSeq(xs: Seq[Double]): Seq[Double] = {
    val L = xs.length
    var m = 0.0
    xs.foreach(x => m = m + x)
    val mean = m / L
    var v = 0.0
    xs.foreach(x => v = v + (x - mean) * (x - mean))
    val std = math.sqrt(v / L)
    if (std == 0.0) xs.map(_ => 0.0) else xs.map(x => (x - mean) / std)
  }

  // B56 — time-series subsequence top-k. The query pattern is planted
  // arithmetic (q_i = (7*i) mod 13, i from 0), so the oracle replays the
  // whole pipeline — per-user ordering, stride-aligned complete windows,
  // the index-ordered fold — in DuckDB list arithmetic.
  private val q56 = Q(
    "q56_ts_subsequence_topk",
    (s, d) => tsSubsequenceTopK(Tables.events(s, d),
      query = (0 until 8).map(i => ((7 * i) % 13).toDouble), stride = 4, k = 10),
    Some(s"""
      WITH q AS (SELECT [CAST((7 * i) % 13 AS DOUBLE) FOR i IN range(0, 8)] AS qv),
      u AS (
        SELECT user_id, list(value ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      sc AS (
        SELECT user_id, start,
          ${Num.r4Sql("""list_reduce(
            [(w.xs[i] - q.qv[i]) * (w.xs[i] - q.qv[i]) FOR i IN range(1, 9)],
            (a, b) -> a + b)""")} AS dist
        FROM w, q)
      SELECT user_id, CAST(start AS BIGINT) AS start, dist
      FROM sc ORDER BY dist, user_id, start LIMIT 10"""))

  /** B58's core: MOTIF DISCOVERY — each user's closest pair of
    * NON-OVERLAPPING windows (|s2 - s1| >= L, the matrix-profile
    * literature's trivial-match exclusion): the self-similarity half of
    * the subsequence workload (B56/B57 are query-vs-corpus). Scale
    * shape: the within-user pairwise is TRIANGLE-PARTITIONED on
    * (user, k1, k2) via [[Dedup.triangleSide]] — the d5/d17 spread, so
    * a hot user's W²/2 pair work lands on B(B+1)/2 tasks, never one —
    * and the window payload is L doubles (a PARAMETER), so the
    * replicated exchange stays slim regardless of corpus size. The
    * per-user argmin is one min(struct(dist, s1, s2)) aggregate on the
    * r4-quantized key (cross-engine-safe ordering). At 100 TB the
    * published scale-out beyond this is the Matrix Profile family
    * (documented); this is the exact spelling with its pair work
    * provably spread.
    */
  def tsMotifPerUser(events: DataFrame, L: Int, stride: Int,
      buckets: Int = 4): DataFrame = {
    require(L >= 1 && stride >= 1 && buckets >= 1)
    val wins = tsWindows(events, L, stride)
      .select(col("user_id"), col("start"),
        transform(col("xs"), x => x.getField("value")).as("vals"))
    def side(s: String, v: String, g: String, u: String) =
      Dedup.triangleSide(wins.select(col("user_id").as(u),
        col("start").as(s), col("vals").as(v)), s, g, buckets)
    val a = side("s1", "v1", "ga", "user_id")
    val b = side("s2", "v2", "gb", "user_b")
      .withColumnRenamed("k1", "bk1").withColumnRenamed("k2", "bk2")
    val dist = aggregate(
      zip_with(col("v1"), col("v2"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)
    val pairs = a.join(b,
        col("user_id") === col("user_b")
          && col("k1") === col("bk1") && col("k2") === col("bk2")
          && col("s2") >= col("s1") + L) // non-overlap + canonical order
      .filter(Dedup.trianglePairFilter("ga", "gb"))
      .select(col("user_id"), col("s1"), col("s2"), r4(dist).as("dist"))
    pairs.groupBy(col("user_id"))
      .agg(min(struct(col("dist"), col("s1"), col("s2"))).as("m"))
      .select(col("user_id"), col("m.s1").as("s1"), col("m.s2").as("s2"),
        col("m.dist").as("dist"))
      .orderBy(col("user_id"))
  }

  // B58 — per-user motif. FULL oracle: DuckDB replays the window
  // pairwise, the same index-ordered fold, and the (dist, s1, s2)
  // argmin per user.
  private val q58 = Q(
    "q58_ts_motif",
    (s, d) => tsMotifPerUser(Tables.events(s, d), L = 8, stride = 4),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(value ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y)""")} AS dist
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND b.start >= a.start + 8)
      SELECT user_id, CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2, dist
      FROM p
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY dist, s1, s2) = 1
      ORDER BY user_id"""))

  /** B59's core: the MATRIX PROFILE under raw (non-normalized) Euclidean
    * distance — for EVERY window, the distance to (and start of) its
    * nearest NON-OVERLAPPING neighbor within the same user. This is
    * q58's shipped scale-out (the published object: Yeh et al., ICDM
    * 2016 "Matrix Profile I"; the non-normalized variant is AAMP,
    * Akbarinia & Cloez 2019): the motif (q58) is the per-user MINIMUM
    * of this profile, discords are its maxima, and segmentation reads
    * its shape — one artifact, many consumers, which is why production
    * materializes the profile instead of re-running pairwise per
    * question. Scale shape: the STOMP diagonal decomposition
    * ([[diagonalPairStats]]) — per-pair cost O(1) instead of an O(L)
    * fold, integer-exact so the result is BIT-IDENTICAL to the direct
    * per-pair fold the oracle replays — then ONE per-(user, start)
    * min(struct) aggregate: each canonical pair (s1 < s2) feeds BOTH
    * endpoints' profile rows, so the argmin input is exactly 2·pairs
    * rows, never recomputed. Distances are exact 4-decimal reals (2-
    * decimal values ⇒ integer squared diffs /10⁴), so q59's per-user
    * minima reproduce q58's motif exactly (spec-pinned). Windows with
    * no non-overlapping partner drop out (profile undefined, the
    * literature's convention).
    */
  def tsMatrixProfile(events: DataFrame, L: Int, stride: Int,
      buckets: Int = 4): DataFrame =
    tsMatrixProfileCore(events, L, stride, buckets)
      .orderBy(col("user_id"), col("start"))

  /** [[tsMatrixProfile]] without the presentation sort — the q61/q64/q66
    * consumers re-sort (TakeOrdered) or re-partition by user anyway, so
    * the global range exchange between profile and consumer is pure
    * waste (the tsFlussCacCore discipline, r16).
    */
  private[graft] def tsMatrixProfileCore(events: DataFrame, L: Int,
      stride: Int, buckets: Int = 4): DataFrame = {
    require(L >= 1 && stride >= 1 && buckets >= 1)
    val st = diagonalPairStats(events, L, stride)
    // dist = Σ(x_i − y_i)² = (ΣX² + ΣY² − 2·QT)/10⁴ — one exact integer,
    // one IEEE division: bit-identical to the oracle's direct fold.
    val pairs = st.select(col("user_id"), col("s1"), col("s2"),
      r4((col("sq1") + col("sq2") - lit(2L) * col("qt")).cast("double")
        / lit(10000.0)).as("dist"))
    profileFromPairs(pairs, sorted = false)
  }

  /** B72's core: the ANYTIME/SAMPLED matrix profile (SCRIMP-class — Zhu
    * et al., ICDM 2018 "Matrix Profile XI": compute the profile over a
    * SUBSET of diagonals; the restricted min is a provable ONE-SIDED
    * estimate, dist_est ≥ true dist per window, converging to exact as
    * the subset grows). This is the published scale-out for the one
    * intrinsically quadratic surface in the pack: the full q59 pair
    * space is O(W²/stride) BY DEFINITION, and the sample knob cuts it to
    * O(W²/(stride·E)) — the preview a 100 TB deployment runs before
    * paying for the exact build. Deterministic diagonal lattice (every
    * E-th admissible diagonal — see [[diagonalPairStats]]), so the
    * estimate is cross-engine exact, not just bounded; r4 is monotone,
    * so the one-sided property survives quantization. Windows whose
    * every candidate diagonal was skipped drop (estimate undefined —
    * the same convention as q59's partnerless windows).
    */
  def tsMatrixProfileSampled(events: DataFrame, L: Int, stride: Int,
      sampleEvery: Int): DataFrame = {
    require(L >= 1 && stride >= 1 && sampleEvery >= 1)
    val st = diagonalPairStats(events, L, stride, sampleEvery)
    val pairs = st.select(col("user_id"), col("s1"), col("s2"),
      r4((col("sq1") + col("sq2") - lit(2L) * col("qt")).cast("double")
        / lit(10000.0)).as("dist"))
    profileFromPairs(pairs).withColumnRenamed("dist", "dist_est")
  }

  /** The integer position series shared by the whole ts family
    * ([[diagonalPairStats]], [[tsAcf]]): (user_id, p, x) with p the
    * 1-based event_id rank and x = round(100·value) as an exact long.
    *
    * FAIL-LOUD data contract: the ×100 quantization is exact only for
    * 2-decimal telemetry. On anything else the integer path would
    * silently compute distances on ROUNDED values while the raw-double
    * siblings (q58 tsMotifPerUser, q62 tsLeftProfile) fold the originals
    * — breaking the spec-pinned "q59 minima reproduce q58's motif"
    * invariant. The guard folds into x itself (not a droppable check
    * column), so column pruning can't elide it; cost is one abs/compare
    * per row inside codegen.
    *
    * RELATIVE tolerance (r15 advice): a true 2-decimal value scales to
    * an integer with only double representation error — ~1e-16 relative
    * — so 1e-9·|scaled| admits it at ANY magnitude, where the old
    * absolute 1e-6 rejected legitimate telemetry past |value| ≈ 5e7
    * (representation error of value*100 alone exceeds 1e-6 there).
    * floor(scaled+0.5) is correct round-to-nearest for negatives too
    * once the guard passes (|scaled − xi| ≪ 0.5 by construction).
    */
  private[graft] def integerSeries(events: DataFrame): DataFrame = {
    val wPos = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val scaled = col("value") * 100.0
    val xi = floor(scaled + 0.5).cast("long")
    events.select(col("user_id"), col("event_id"), col("value"))
      .withColumn("p", row_number().over(wPos).cast("long"))
      .withColumn("x",
        when(abs(scaled - xi.cast("double"))
          < lit(1e-9) * greatest(abs(scaled), lit(1.0)), xi)
          .otherwise(raise_error(concat(
            lit("diagonalPairStats: value is not 2-decimal telemetry "
              + "(the STOMP integer discipline requires value*100 integral): "),
            col("value").cast("string")))))
      .select(col("user_id"), col("p"), col("x"))
  }

  /** The STOMP diagonal core shared by B59/B60/B72/B73 (Zhu et al., ICDM
    * 2016): per-pair window statistics (user_id, s1, s2, qt, sx1, sq1, sx2,
    * sq2) WITHOUT a per-pair O(L) fold. Values are scaled to exact
    * integers X = floor(100·value + 0.5) (the events column is 2-decimal
    * telemetry; the s10 integer-Gram discipline), so every sum is EXACT
    * and therefore order- and ALGORITHM-independent: the kernel walks
    * diagonals with prefix sums while the DuckDB oracle replays a direct
    * per-pair fold, and the integers agree bit for bit by construction.
    *
    * Shape: the series ([[integerSeries]], one user-keyed Exchange) is cut
    * into per-user tiles of at most 2·(C+L−1) positions
    * ([[StompTiles]], C = [[StompTiles.Chunk]]), one bounded collect_list
    * per (user, tile), and one [[StompTiles.pairs]] call per tile emits the
    * tile's pairs. The tile aggregate and the consumers' per-(user, start)
    * argmin reuse the series' user partitioning, so the whole family adds
    * no Exchange past the series' one. (Measured on 4 cores: an own
    * (user, tile) Exchange adds two Exchanges and two jobs, and made q60
    * ~20% slower at sf0.01 and ~20% faster at sf0.1, where the reused
    * partitioning leaves the kernel stage few tasks.) At sf0.1 a user has
    * at most 99 events, so every user is one tile.
    *
    * `sampleDiagEvery` E keeps every E-th admissible diagonal (the
    * deterministic SCRIMP-class lattice d0 + k·stride·E, Zhu et al. ICDM
    * 2018): a one-sided estimate that replays EXACTLY in any engine.
    * `newFrom` is an optional per-user (user_id, old_max) floor, the
    * STAMPI refresh restriction (q73): only pairs whose LATER window
    * starts past old_max are emitted, and each diagonal's pass starts at
    * its first such pair. Users absent from the floor frame (new users,
    * or users with no published window) keep their full pair space.
    */
  private[graft] def diagonalPairStats(events: DataFrame, L: Int,
      stride: Int, sampleDiagEvery: Int = 1,
      newFrom: Option[DataFrame] = None,
      chunk: Int = StompTiles.Chunk): DataFrame = {
    val ser = integerSeries(events)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
    val tiles = ser
      .select(col("user_id"), col("p"), col("x"),
        explode(StompTiles.keys(col("p"), col("n"), chunk, L)).as("tile"))
      .groupBy(col("user_id"), col("tile"))
      .agg(collect_list(struct(col("p"), col("x"))).as("pts"))
    // no broadcast hint: the floor frame is USER-proportional (one long
    // per published user) — AQE broadcasts it while small and degrades to
    // a user-keyed shuffle when it is not (the d2 rule)
    val floored = newFrom.fold(tiles.withColumn("old_max", lit(0L))) { f =>
      tiles.join(f.select(col("user_id"), col("old_max")), Seq("user_id"), "left")
    }
    floored.select(col("user_id"), inline(StompTiles.pairs(col("tile"),
      coalesce(col("old_max"), lit(0L)), col("pts"), chunk, L, stride,
      stride * sampleDiagEvery)))
  }

  /** Both-endpoint argmin: each canonical (s1 < s2) pair contributes a
    * candidate neighbor to BOTH windows; ties break on the smaller
    * neighbor start (deterministic, cross-engine).
    */
  private def profileFromPairs(pairs: DataFrame,
      sorted: Boolean = true): DataFrame = {
    // mirror via a narrow per-row EXPLODE, not a unionAll of two
    // projections: the union spelling executes the whole pair pipeline
    // TWICE (no exchange to reuse between the branches — measured 2x on
    // the diagonal spelling); the explode reads it once
    val both = pairs.select(col("user_id"), explode(array(
        struct(col("s1").as("start"), col("s2").as("nn_start"), col("dist")),
        struct(col("s2").as("start"), col("s1").as("nn_start"), col("dist"))))
        .as("e"))
      .select(col("user_id"), col("e.start").as("start"),
        col("e.nn_start").as("nn_start"), col("e.dist").as("dist"))
    val prof = both.groupBy(col("user_id"), col("start"))
      .agg(min(struct(col("dist"), col("nn_start"))).as("m"))
      .select(col("user_id"), col("start"), col("m.nn_start").as("nn_start"),
        col("m.dist").as("dist"))
    if (sorted) prof.orderBy(col("user_id"), col("start")) else prof
  }

  /** B60's core: the Z-NORMALIZED matrix profile — the canonical
    * published object — computed STOMP-style (Zhu et al., ICDM 2016)
    * over the diagonal decomposition ([[diagonalPairStats]]): QT and the
    * per-endpoint ΣX/ΣX² arrive as EXACT integers with O(1) per-pair
    * cost, and the pair distance comes from the MASS dot-product
    * identity instead of a 3L-term z-fold:
    *   sum((z1-z2)^2) = 2L - 2·(QT - L·m1·m2)/(s1·s2),  QT = Σ x_i·y_i
    * (biased std, q57's convention, under which Σz² = L exactly). The
    * scalar tail is derived from the integers by a fixed parenthesized
    * IEEE tree — m = ΣX/(100·L), s = √(L·ΣX² − (ΣX)²)/(100·L) — that
    * the oracle replays verbatim on the SAME integers, so the r4 key is
    * cross-engine exact by construction. Degenerate windows (std 0 ⇒
    * z = 0 vector, q57's convention) are detected EXACTLY: the integer
    * variance L·ΣX² − (ΣX)² is 0 iff the window is flat — no float
    * epsilon. Both flat ⇒ 0; one flat ⇒ the live side's Σz² = L.
    */
  def tsZnormMatrixProfile(events: DataFrame, L: Int, stride: Int,
      buckets: Int = 4): DataFrame = {
    require(L >= 1 && stride >= 1 && buckets >= 1)
    val st = diagonalPairStats(events, L, stride)
    val var1 = lit(L.toLong) * col("sq1") - col("sx1") * col("sx1")
    val var2 = lit(L.toLong) * col("sq2") - col("sx2") * col("sx2")
    val scale = lit(100.0 * L)
    val m1 = col("sx1").cast("double") / scale
    val m2 = col("sx2").cast("double") / scale
    val sd1 = sqrt(var1.cast("double")) / scale
    val sd2 = sqrt(var2.cast("double")) / scale
    val qtD = col("qt").cast("double") / lit(10000.0)
    val dist = when(var1 === 0L && var2 === 0L, lit(0.0))
      .when(var1 === 0L || var2 === 0L, lit(L.toDouble))
      .otherwise(lit(2.0 * L) -
        lit(2.0) * ((qtD - lit(L.toDouble) * m1 * m2) / (sd1 * sd2)))
    val pairs = st.select(col("user_id"), col("s1"), col("s2"),
      r4(dist).as("dist"))
    profileFromPairs(pairs)
  }

  // B59 — raw-distance matrix profile (AAMP). FULL oracle: DuckDB
  // replays the pairwise arithmetic DIRECTLY (integer-scaled values, a
  // plain per-pair fold — no recurrence), mirrors each pair to both
  // endpoints, and takes the per-window (dist, nn_start) argmin. The
  // integer sums are algorithm-independent, so the direct replay pins
  // Spark's diagonal-incremental STOMP path bit-exactly.
  private val q59 = Q(
    "q59_ts_matrix_profile",
    (s, d) => tsMatrixProfile(Tables.events(s, d), L = 8, stride = 4),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CAST(list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y) AS DOUBLE) / 10000.0""")} AS dist
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND b.start >= a.start + 8),
      mirrored AS (
        SELECT user_id, s1 AS start, s2 AS nn_start, dist FROM p
        UNION ALL
        SELECT user_id, s2 AS start, s1 AS nn_start, dist FROM p)
      SELECT user_id, CAST(start AS BIGINT) AS start,
        CAST(nn_start AS BIGINT) AS nn_start, dist
      FROM mirrored
      QUALIFY row_number() OVER (PARTITION BY user_id, start
        ORDER BY dist, nn_start) = 1
      ORDER BY user_id, start"""))

  // B60 — z-normalized matrix profile via the STOMP/MASS identity. FULL
  // oracle: DuckDB replays the pairwise QT and the per-window ΣX/ΣX² as
  // DIRECT integer folds (algorithm-independent — pins Spark's diagonal
  // recurrence bit-exactly), then the identical parenthesized scalar
  // tail: m = ΣX/800, s = √(8·ΣX² − ΣX²ᵗᵒᵗ)/800, flatness decided on
  // the EXACT integer variance.
  private val q60 = Q(
    "q60_ts_matrix_profile_znorm",
    (s, d) => tsZnormMatrixProfile(Tables.events(s, d), L = 8, stride = 4),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      ws AS (
        SELECT user_id, start, xs,
          list_reduce(xs, (a, b) -> a + b) AS sx,
          list_reduce([x * x FOR x IN xs], (a, b) -> a + b) AS sq
        FROM w),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CASE
            WHEN 8 * a.sq - a.sx * a.sx = 0 AND 8 * b.sq - b.sx * b.sx = 0
              THEN CAST(0 AS DOUBLE)
            WHEN 8 * a.sq - a.sx * a.sx = 0 OR 8 * b.sq - b.sx * b.sx = 0
              THEN CAST(8 AS DOUBLE)
            ELSE 16.0 - 2.0 * ((CAST(list_reduce(
                [a.xs[i] * b.xs[i] FOR i IN range(1, 9)], (x, y) -> x + y)
                  AS DOUBLE) / 10000.0
              - 8.0 * (CAST(a.sx AS DOUBLE) / 800.0)
                    * (CAST(b.sx AS DOUBLE) / 800.0))
              / ((sqrt(CAST(8 * a.sq - a.sx * a.sx AS DOUBLE)) / 800.0)
               * (sqrt(CAST(8 * b.sq - b.sx * b.sx AS DOUBLE)) / 800.0)))
            END""")} AS dist
        FROM ws a JOIN ws b
          ON a.user_id = b.user_id AND b.start >= a.start + 8),
      mirrored AS (
        SELECT user_id, s1 AS start, s2 AS nn_start, dist FROM p
        UNION ALL
        SELECT user_id, s2 AS start, s1 AS nn_start, dist FROM p)
      SELECT user_id, CAST(start AS BIGINT) AS start,
        CAST(nn_start AS BIGINT) AS nn_start, dist
      FROM mirrored
      QUALIFY row_number() OVER (PARTITION BY user_id, start
        ORDER BY dist, nn_start) = 1
      ORDER BY user_id, start"""))

  /** B61's core: DISCORD DISCOVERY — the top-k windows whose nearest
    * non-overlapping neighbor is FARTHEST (Keogh et al., ICDM 2005 "HOT
    * SAX"; the matrix-profile reading: discords are the profile's
    * MAXIMA as motifs are its minima). This is the anomaly-detection
    * consumer of q59's artifact: a window unlike every other window in
    * its own series is the telemetry anomaly worth a look. One
    * TakeOrderedAndProject over the profile — descending r4 distance,
    * ties ascending (user, start) — so the operator adds zero shuffles
    * beyond q59's and the oracle replays argmin-then-argmax exactly.
    */
  def tsDiscordTopK(events: DataFrame, L: Int, stride: Int, k: Int,
      buckets: Int = 4): DataFrame = {
    require(k >= 1)
    // unsorted core: the top-k sort here subsumes the presentation sort
    // (orderBy+limit plans as a k-row TakeOrdered heap, no global sort)
    tsMatrixProfileCore(events, L, stride, buckets)
      .orderBy(col("dist").desc, col("user_id"), col("start"))
      .limit(k)
  }

  // B61 — top-k discords. FULL oracle: q59's integer replay + ORDER BY
  // dist DESC LIMIT k.
  private val q61 = Q(
    "q61_ts_discord_topk",
    (s, d) => tsDiscordTopK(Tables.events(s, d), L = 8, stride = 4, k = 10),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CAST(list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y) AS DOUBLE) / 10000.0""")} AS dist
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND b.start >= a.start + 8),
      mirrored AS (
        SELECT user_id, s1 AS start, s2 AS nn_start, dist FROM p
        UNION ALL
        SELECT user_id, s2 AS start, s1 AS nn_start, dist FROM p),
      prof AS (
        SELECT user_id, CAST(start AS BIGINT) AS start,
          CAST(nn_start AS BIGINT) AS nn_start, dist
        FROM mirrored
        QUALIFY row_number() OVER (PARTITION BY user_id, start
          ORDER BY dist, nn_start) = 1)
      SELECT user_id, start, nn_start, dist
      FROM prof ORDER BY dist DESC, user_id, start LIMIT 10"""))

  /** B62's core: the LEFT MATRIX PROFILE with a retention horizon —
    * each window's nearest neighbor among PRECEDING windows only
    * (published in the matrix-profile literature as the left profile,
    * Matrix Profile XVII / time-series chains; the horizon bound is the
    * streaming-practical variant). Two properties make this THE
    * streamable profile: a window's left-NN is FINAL the moment the
    * window completes (append-only — no retractions, unlike the full
    * q59 profile where a later window can become an earlier window's
    * NN), and the candidate set is the ≤ horizon/stride most recent
    * windows (a PARAMETER — bounded state for A57).
    *
    * Spark-first shape: NO range join — window starts are stride-
    * aligned, so each window's predecessors sit at the FIXED offsets
    * {first multiple of stride ≥ L … horizon}, and candidate
    * generation is a bounded map-side offset explode feeding one
    * (user, pstart) EQUI-join (the q56 covering-starts trick applied
    * to pairs), then one per-(user, start) min(struct) argmin. The
    * distance fold is q58's RAW-DOUBLE spelling (ascending zip_with
    * fold), which the streaming twin (A57) replays verbatim; q59's
    * integer-quantized STOMP path is a different spelling that agrees
    * on the r4 key only for 2-decimal telemetry — a contract
    * diagonalPairStats now asserts fail-loud.
    */
  def tsLeftProfile(events: DataFrame, L: Int, stride: Int,
      horizon: Int): DataFrame =
    tsLeftProfileCore(events, L, stride, horizon)
      .orderBy(col("user_id"), col("start"))

  /** [[tsLeftProfile]] without the presentation sort — the reusable arc
    * frame for consumers that aggregate it further (B65's one-sided CAC
    * rides this; a sort feeding a groupBy would be wasted work).
    */
  private def tsLeftProfileCore(events: DataFrame, L: Int, stride: Int,
      horizon: Int): DataFrame = {
    require(L >= 1 && stride >= 1 && horizon >= L,
      s"horizon must be >= L, got horizon=$horizon L=$L")
    val wins = tsWindows(events, L, stride)
      .select(col("user_id"), col("start"),
        transform(col("xs"), x => x.getField("value")).as("vals"))
    val firstOff = ((L + stride - 1) / stride) * stride // smallest stride multiple >= L
    val offsets: Seq[Long] = (firstOff to horizon by stride).map(_.toLong)
    val later = wins.select(col("user_id"), col("start"), col("vals"),
        explode(typedlit(offsets)).as("j"))
      .withColumn("pstart", col("start") - col("j"))
      .filter(col("pstart") >= 1)
      .drop("j")
    val prior = wins.select(col("user_id"), col("start").as("pstart"),
      col("vals").as("pvals"))
    val dist = aggregate(
      zip_with(col("vals"), col("pvals"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)
    later.join(prior, Seq("user_id", "pstart"))
      .select(col("user_id"), col("start"), col("pstart"), r4(dist).as("dist"))
      .groupBy(col("user_id"), col("start"))
      .agg(min(struct(col("dist"), col("pstart"))).as("m"))
      .select(col("user_id"), col("start"), col("m.pstart").as("nn_start"),
        col("m.dist").as("dist"))
  }

  // B62 — left matrix profile (horizon 40 = the 9 most recent
  // predecessors at L=8/stride=4). FULL oracle: DuckDB replays the
  // bounded-offset pairwise and the per-window (dist, pstart) argmin.
  private val q62 = Q(
    "q62_ts_left_profile",
    (s, d) => tsLeftProfile(Tables.events(s, d), L = 8, stride = 4,
      horizon = 40),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(value ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT b.user_id, b.start, a.start AS pstart,
          ${Num.r4Sql("""list_reduce(
            [(b.xs[i] - a.xs[i]) * (b.xs[i] - a.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y)""")} AS dist
        FROM w b JOIN w a
          ON a.user_id = b.user_id
          AND b.start - a.start >= 8 AND b.start - a.start <= 40)
      SELECT user_id, CAST(start AS BIGINT) AS start,
        CAST(pstart AS BIGINT) AS nn_start, dist
      FROM p
      QUALIFY row_number() OVER (PARTITION BY user_id, start
        ORDER BY dist, pstart) = 1
      ORDER BY user_id, start"""))

  // B57 — z-normalized subsequence top-k: the same planted query
  // pattern; both engines derive its z-normalization from exact
  // integers with the same ascending folds, so no float literal ever
  // crosses the engine boundary.
  private val q57 = Q(
    "q57_ts_znorm_topk",
    (s, d) => tsZnormSubsequenceTopK(Tables.events(s, d),
      query = (0 until 8).map(i => ((7 * i) % 13).toDouble), stride = 4, k = 10),
    Some(s"""
      WITH qraw AS (SELECT [CAST((7 * i) % 13 AS DOUBLE) FOR i IN range(0, 8)] AS qv),
      qstats AS (
        SELECT qv, list_reduce(qv, (a, b) -> a + b) / 8 AS qm FROM qraw),
      qz AS (
        SELECT CASE WHEN sqrt(list_reduce([(x - qm) * (x - qm) FOR x IN qv],
                 (a, b) -> a + b) / 8) = 0
               THEN [CAST(0 AS DOUBLE) FOR x IN qv]
               ELSE [(x - qm) / sqrt(list_reduce([(y - qm) * (y - qm) FOR y IN qv],
                 (a, b) -> a + b) / 8) FOR x IN qv] END AS qzv
        FROM qstats),
      u AS (
        SELECT user_id, list(value ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      wn AS (
        SELECT user_id, start, xs,
          list_reduce(xs, (a, b) -> a + b) / 8 AS m
        FROM w),
      wz AS (
        SELECT user_id, start,
          CASE WHEN sqrt(list_reduce([(x - m) * (x - m) FOR x IN xs],
                 (a, b) -> a + b) / 8) = 0
               THEN [CAST(0 AS DOUBLE) FOR x IN xs]
               ELSE [(x - m) / sqrt(list_reduce([(y - m) * (y - m) FOR y IN xs],
                 (a, b) -> a + b) / 8) FOR x IN xs] END AS zs
        FROM wn),
      sc AS (
        SELECT user_id, start,
          ${Num.r4Sql("""list_reduce(
            [(wz.zs[i] - q.qzv[i]) * (wz.zs[i] - q.qzv[i]) FOR i IN range(1, 9)],
            (a, b) -> a + b)""")} AS dist
        FROM wz, qz q)
      SELECT user_id, CAST(start AS BIGINT) AS start, dist
      FROM sc ORDER BY dist, user_id, start LIMIT 10"""))

  /** B63's core: POPULATION STABILITY INDEX per group — the standard
    * production data-drift monitor for TABULAR features (credit-risk
    * model governance's canonical metric; 0.1/0.2 are the industry
    * watch/act thresholds): PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) between a
    * baseline period and a current period, over fixed-width top-coded
    * value buckets with +1 smoothing, summed over OBSERVED buckets
    * (present in either period — deterministic in both engines). The
    * tabular complement to A59's embedding-covariance drift monitor.
    *
    * Float discipline: bucket counts and totals are exact integers;
    * each per-group sum folds over the ≤`bins` bucket terms in SORTED
    * bucket order (the t21 contract); ln's ulp drift is absorbed by r4
    * (the t33 precedent). Scale: one (group, bucket) count aggregate
    * (map-side combinable) + one group-keyed totals join over a
    * groups×bins-bounded frame — never corpus-proportional past the
    * first aggregate.
    */
  def psiDrift(events: DataFrame, splitTs: String, binWidth: Double = 20.0,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && binWidth > 0, s"bins>=2, binWidth>0; got $bins/$binWidth")
    val bkt = least(floor(col("value") / binWidth), lit(bins - 1L)).cast("long")
    val cnts = events
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("event_type"), bkt.as("bucket"),
        (col("ts") >= lit(splitTs).cast("timestamp")).as("cur"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(!col("cur"), 1L).otherwise(0L)).as("na"),
        sum(when(col("cur"), 1L).otherwise(0L)).as("nb"))
    val tots = cnts.groupBy(col("event_type"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val denomA = col("ta").cast("double") + lit(bins.toDouble)
    val denomB = col("tb").cast("double") + lit(bins.toDouble)
    val pa = (col("na").cast("double") + 1.0) / denomA
    val pb = (col("nb").cast("double") + 1.0) / denomB
    cnts.join(tots, Seq("event_type"))
      .withColumn("term", (pa - pb) * log(pa / pb))
      .groupBy(col("event_type"))
      .agg(
        first(col("ta")).as("n_base"), first(col("tb")).as("n_cur"),
        aggregate(
          array_sort(collect_list(struct(col("bucket").as("b"), col("term").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("psi_raw"))
      .select(col("event_type"), col("n_base"), col("n_cur"),
        r4(col("psi_raw")).as("psi"), (col("psi_raw") > 0.2).as("drifted"))
      .orderBy(col("event_type"))
  }

  // B63 — PSI drift between the two calendar halves of the events
  // month. The real stream is time-homogeneous, so every type's PSI
  // sits near 0 and `drifted` is all-false — the planted-drift spec
  // carries the positive case; the oracle replays buckets, smoothing,
  // and the sorted ln fold exactly.
  private val q63 = Q(
    "q63_psi_drift",
    (s, d) => psiDrift(Tables.events(s, d), splitTs = "2024-01-16"),
    Some(s"""
      WITH e AS (
        SELECT event_type,
          LEAST(CAST(FLOOR(value / 20.0) AS BIGINT), 9) AS bucket,
          (ts >= TIMESTAMP '2024-01-16') AS cur
        FROM events WHERE value IS NOT NULL AND value >= 0),
      c AS (
        SELECT event_type, bucket,
          CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM e GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(SUM(na) AS BIGINT) AS ta,
                   CAST(SUM(nb) AS BIGINT) AS tb
            FROM c GROUP BY 1),
      terms AS (
        SELECT c.event_type, t.ta, t.tb, c.bucket,
          ((CAST(c.na AS DOUBLE) + 1.0) / (CAST(t.ta AS DOUBLE) + 10.0)
            - (CAST(c.nb AS DOUBLE) + 1.0) / (CAST(t.tb AS DOUBLE) + 10.0))
          * ln(((CAST(c.na AS DOUBLE) + 1.0) / (CAST(t.ta AS DOUBLE) + 10.0))
             / ((CAST(c.nb AS DOUBLE) + 1.0) / (CAST(t.tb AS DOUBLE) + 10.0))) AS term
        FROM c JOIN t USING (event_type)),
      psi AS (
        SELECT event_type, ANY_VALUE(ta) AS n_base, ANY_VALUE(tb) AS n_cur,
          list_reduce(list_prepend(0.0, list_transform(
            list_sort(list({'b': bucket, 't': term})), x -> x['t'])),
            (acc, v) -> acc + v) AS psi_raw
        FROM terms GROUP BY event_type)
      SELECT event_type, n_base, n_cur, ${r4Sql("psi_raw")} AS psi,
        psi_raw > 0.2 AS drifted
      FROM psi ORDER BY event_type"""))

  /** B64's core: SEMANTIC SEGMENTATION of a series via the CORRECTED
    * ARC-CROSSING curve (FLUSS — Gharghabi et al., ICDM 2017 "Matrix
    * Profile VIII"): every window draws an ARC to its nearest neighbor
    * (q59's nn_start), and a REGIME BOUNDARY is a position few arcs
    * cross — windows before a regime change find their neighbors before
    * it, windows after find them after. For each interior window
    * boundary b (1..n−1 in per-user start order) the curve reports the
    * raw crossing count and CAC(b) = min(1, cross·n / (2b(n−b))) — the
    * count normalized by the idealized random-arc parabola — whose
    * minima are the regime changes (the telemetry consumer on q59's
    * materialized artifact, as q61's discords are its maxima).
    *
    * Scale shape: the profile rides [[diagonalPairStats]] and is
    * materialized ONCE (the d3 persist→count→checkpoint discipline — it
    * feeds three frames below); everything after is user-keyed and
    * narrow: one row_number window, one index equi-join (arc endpoints),
    * a ±1 difference aggregate and ONE running-sum window — crossing
    * counts for ALL boundaries in one incremental pass, never an
    * arcs×boundaries pairwise. Integer counts ⇒ the oracle replays
    * bit-exactly (the q59 discipline); the single r4 division is the
    * only float.
    */
  def tsFlussCac(events: DataFrame, L: Int, stride: Int): DataFrame =
    tsFlussCacCore(events, L, stride)
      .orderBy(col("user_id"), col("boundary"))

  /** [[tsFlussCac]] without the presentation sort — B66's extraction
    * windows re-partition by user anyway, so the global range exchange
    * would be pure waste between them.
    */
  private def tsFlussCacCore(events: DataFrame, L: Int, stride: Int): DataFrame =
    // the r16 tail reads the profile exactly ONCE (start-space difference
    // array, no self-join), so the in-query spelling needs no
    // persist/localCheckpoint materialization anymore — the profile
    // flows straight into the consumer
    flussCacFromProfile(
      tsMatrixProfileCore(events, L, stride)
        .select(col("user_id"), col("start"), col("nn_start")))

  /** The FLUSS consumer tail on a profile frame (user_id, start,
    * nn_start) — q64's everything-after-the-profile, shared by the
    * in-query spelling ([[tsFlussCacCore]]) and the PUBLISHED-ARTIFACT
    * read path (q70).
    *
    * r16 rewrite — the difference array lives in START space, not dense-
    * index space: an arc (start, nn_start) crosses the boundary between
    * consecutive present windows s_i < s_{i+1} iff min(start, nn_start)
    * ≤ s_i < s_{i+1} ≤ max(start, nn_start), so running-summing (+1 at
    * min, −1 at max) over the per-user START order gives exactly the old
    * spelling's crossings (+1 at dense(lo), −1 at dense(hi) — the dense
    * index is monotone in start, so the prefix sets are identical),
    * while the dense boundary index itself is row_number()−1 over the
    * SAME window pass. nn_start is always a present window start (it
    * has its own profile row), so the groupBy spine is precisely the
    * present-window set — gap structures (e.g. a 3-window user's
    * partnerless middle window) index identically to the old
    * row_number spelling. This replaces a row_number Window, an
    * arc-endpoint self-join, a counts aggregate and two re-joins
    * (~8 exchanges) with ONE groupBy + ONE user-partitioned window
    * (row_number, running sum and total count share the sort). All
    * values stay exact integers until the unchanged CAC scalar tail, so
    * the result is bit-equal (spec-pinned vs the old spelling's DuckDB
    * replay).
    */
  def flussCacFromProfile(prof: DataFrame): DataFrame = {
    val deltas = prof.select(col("user_id"), explode(array(
        struct(col("start").as("pos"), lit(0L).as("d")),
        struct(least(col("start"), col("nn_start")).as("pos"), lit(1L).as("d")),
        struct(greatest(col("start"), col("nn_start")).as("pos"), lit(-1L).as("d")))).as("e"))
      .select(col("user_id"), col("e.pos").as("pos"), col("e.d").as("d"))
      .groupBy(col("user_id"), col("pos")).agg(sum(col("d")).as("d"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("pos"))
    val wAll = wRun.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    deltas
      .select(col("user_id"),
        (row_number().over(wRun) - 1).cast("long").as("i"),
        sum(col("d")).over(wRun).as("c"),
        count(lit(1)).over(wAll).as("n"))
      .filter(col("i") + 1 < col("n"))
      .select(col("user_id"), (col("i") + 1).as("boundary"),
        col("n").as("n_windows"), col("c").as("crossings"),
        r4(least(lit(1.0), col("c").cast("double") * col("n") /
          ((lit(2.0) * (col("i") + 1)) * (col("n") - col("i") - 1)))).as("cac"))
  }

  /** B66's core: REGIME-BOUNDARY EXTRACTION from the CAC curve — the
    * FLUSS paper's actual consumer (Gharghabi et al., ICDM 2017 §4.1:
    * segmentation points are the curve's minima below a significance
    * threshold, with an EXCLUSION ZONE so one regime change reports one
    * boundary, not a valley of near-ties). The q61 shape applied to
    * q64's artifact: discords are the profile's maxima, regime changes
    * are the CAC's excluded local minima.
    *
    * Determinism: "local minimum with exclusion" is pinned as
    * first-of-tie — cac(b) STRICTLY below every cac in [b−zone, b) and
    * ≤ every cac in (b, b+zone] — two range-frame window minima, no
    * struct-min (DuckDB replays the same frames on the same r4 values,
    * so the selected set is bit-identical). Scale shape: q64's curve +
    * two user-partitioned range windows sharing one sort — nothing
    * beyond the profile's own cost.
    */
  def tsRegimeBoundaries(events: DataFrame, L: Int, stride: Int,
      threshold: Double, zone: Int): DataFrame =
    regimeExtractFromCurve(tsFlussCacCore(events, L, stride), threshold, zone)

  /** B66's extraction tail on an already-computed CAC curve (user_id,
    * boundary, crossings, cac): the two range-frame minima + first-of-tie
    * filter — shared by the in-query spelling ([[tsRegimeBoundaries]])
    * and the published-profile read path (q71).
    */
  def regimeExtractFromCurve(curve: DataFrame, threshold: Double,
      zone: Int): DataFrame = {
    require(zone >= 1 && threshold > 0.0)
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("boundary"))
      .rangeBetween(-zone, -1)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("boundary"))
      .rangeBetween(1, zone)
    curve
      .withColumn("mp", min(col("cac")).over(wPrev))
      .withColumn("mn", min(col("cac")).over(wNext))
      .filter(col("cac") <= threshold &&
        (col("mp").isNull || col("cac") < col("mp")) &&
        (col("mn").isNull || col("cac") <= col("mn")))
      .select(col("user_id"), col("boundary"), col("crossings"), col("cac"))
      .orderBy(col("user_id"), col("boundary"))
  }

  // B64 — FLUSS corrected arc-crossing curve. FULL oracle: DuckDB
  // replays q59's integer profile (direct folds — algorithm-independent,
  // the q59 discipline), the same dense indexing, the same ±1 difference
  // running sum, and the identical CAC scalar tail.
  private val q64 = Q(
    "q64_ts_fluss_cac",
    (s, d) => tsFlussCac(Tables.events(s, d), L = 8, stride = 4),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CAST(list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y) AS DOUBLE) / 10000.0""")} AS dist
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND b.start >= a.start + 8),
      mirrored AS (
        SELECT user_id, s1 AS start, s2 AS nn_start, dist FROM p
        UNION ALL
        SELECT user_id, s2 AS start, s1 AS nn_start, dist FROM p),
      prof AS (
        SELECT user_id, start, nn_start
        FROM mirrored
        QUALIFY row_number() OVER (PARTITION BY user_id, start
          ORDER BY dist, nn_start) = 1),
      idx AS (
        SELECT user_id, start, nn_start,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start) - 1 AS i
        FROM prof),
      nu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM idx GROUP BY 1),
      arcs AS (
        SELECT a.user_id, LEAST(a.i, b.i) AS lo, GREATEST(a.i, b.i) AS hi
        FROM idx a JOIN idx b
          ON b.user_id = a.user_id AND b.start = a.nn_start),
      deltas AS (
        SELECT user_id, lo AS i, 1 AS d FROM arcs
        UNION ALL SELECT user_id, hi, -1 FROM arcs),
      dsum AS (
        SELECT user_id, i, CAST(SUM(d) AS BIGINT) AS d
        FROM deltas GROUP BY 1, 2),
      run AS (
        SELECT x.user_id, x.i, nu.n,
          SUM(COALESCE(ds.d, 0)) OVER (PARTITION BY x.user_id
            ORDER BY x.i) AS c
        FROM idx x
        LEFT JOIN dsum ds ON ds.user_id = x.user_id AND ds.i = x.i
        JOIN nu ON nu.user_id = x.user_id)
      SELECT user_id, CAST(i + 1 AS BIGINT) AS boundary,
        n AS n_windows, CAST(c AS BIGINT) AS crossings,
        ${Num.r4Sql("""LEAST(1.0, (CAST(c AS DOUBLE) * n)
          / ((2.0 * (i + 1)) * (n - i - 1)))""")} AS cac
      FROM run WHERE i + 1 < n
      ORDER BY user_id, boundary"""))

  /** B65's core: the ONE-SIDED corrected arc-crossing curve — FLOSS
    * (Gharghabi et al., ICDM 2017 §4.2, the same paper's ONLINE half):
    * q64's FLUSS draws each window's arc to its nearest neighbor in
    * EITHER direction, which cannot stream (a late window can become an
    * early window's NN — retraction). FLOSS replaces it with the LEFT
    * profile's arcs — each window points to its nearest PRECEDING window
    * within the retention horizon (B62, exactly the bounded state A57
    * already maintains) — making every arc, and therefore every
    * boundary's crossing count, FINAL once the windows that can reach it
    * have completed.
    *
    * Normalization: with H = horizon/stride candidate-reach and g0 =
    * ⌈L/stride⌉ the nearest admissible gap (W = H−g0+1 candidates), the
    * idealized one-sided arc curve under uniform random arcs is CONSTANT
    * over the trusted interior: a window i contributes P(cross b) = 1
    * for the g0 windows right of b and (b−i+H)/W for the next W−1, so
    * IAC = g0 + (W−1)/2 (the paper normalizes by the idealized curve;
    * the one-sided-with-horizon closed form is this constant). Boundaries
    * OUTSIDE [H, n−H] are excluded — the paper's exclusion-zone
    * discipline at the series edges, where candidate sets are partial
    * and the idealized curve invalid. The same cap IS the streaming
    * finalization horizon: boundary b is final exactly when window
    * b+H−1 completes, so A62's online emissions equal this batch frame
    * row-for-row on a replayed series — no truncation mismatch.
    *
    * Scale shape: rides [[tsLeftProfileCore]] (bounded-offset equi-join
    * candidates — never all-pairs); everything after is user-keyed and
    * narrow — index arithmetic on the dense stride grid (start = 1 +
    * i·stride, so i = (start−1)/stride needs NO row_number pass), a ±1
    * difference aggregate, a sequence-exploded index spine (n rows/user),
    * and ONE running-sum window. Integer crossing counts ⇒ the oracle
    * replays bit-exactly; the single r4 min/division is the only float.
    */
  def tsFlossCac1(events: DataFrame, L: Int, stride: Int,
      horizon: Int): DataFrame =
    tsFlossCac1Core(events, L, stride, horizon)
      .orderBy(col("user_id"), col("boundary"))

  /** [[tsFlossCac1]] without the presentation sort (B67's extraction
    * windows re-partition by user — the tsFlussCacCore discipline).
    */
  private def tsFlossCac1Core(events: DataFrame, L: Int, stride: Int,
      horizon: Int): DataFrame = {
    require(horizon % stride == 0,
      s"horizon must be stride-aligned, got horizon=$horizon stride=$stride")
    val g0 = (L + stride - 1) / stride
    val gmax = horizon / stride
    require(gmax >= g0, s"horizon/stride=$gmax < ceil(L/stride)=$g0")
    val iac = g0 + (gmax - g0) / 2.0 // g0 + (W-1)/2, W = gmax-g0+1
    val arcs = tsLeftProfileCore(events, L, stride, horizon)
      .select(col("user_id"),
        ((col("start") - 1) / lit(stride.toLong)).cast("long").as("i"),
        ((col("nn_start") - 1) / lit(stride.toLong)).cast("long").as("j"))
    // window count per user straight from the event count (dense stride
    // grid): n = floor((cnt - L)/stride) + 1 — no second windows pass
    val counts = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= L)
      .select(col("user_id"),
        (floor((col("cnt") - lit(L.toLong)) / lit(stride.toLong)) + 1L)
          .cast("long").as("n"))
    // difference array: arc (j -> i) crosses boundary b iff j < b <= i;
    // +1 at j, -1 at i, running sum at index t = crossings of boundary t+1
    val deltas = arcs.select(col("user_id"), explode(array(
        struct(col("j").as("i"), lit(1L).as("d")),
        struct(col("i"), lit(-1L).as("d")))).as("e"))
      .select(col("user_id"), col("e.i").as("i"), col("e.d").as("d"))
      .groupBy(col("user_id"), col("i")).agg(sum(col("d")).as("d"))
    // dense index spine so zero-crossing boundaries still emit.
    // NOTE (r17): the q64-style spine-in-aggregate fusion was RE-TRIED
    // under the honest noop action (the r16 revert's floor-comparability
    // objection is gone) and measured SLOWER, not faster — 1.41 -> 2.16 s
    // (q65) and 1.79 -> 2.22 s (q67) min-of-4 warm solo at sf0.1: the
    // fused spelling trades this left join for a union whose groupBy
    // re-shuffles spine+delta rows AND an extra unbounded count window
    // pass, and with the window count the per-user n can no longer ride
    // the broadcast — plan-size (16 -> 10 Exchanges) is not time. Kept
    // the row-preserving left-join spelling on measurement.
    val spine = counts.select(col("user_id"),
      explode(sequence(lit(0L), col("n") - 1)).as("i"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("i"))
    spine.join(deltas, Seq("user_id", "i"), "left")
      .withColumn("c", sum(coalesce(col("d"), lit(0L))).over(wRun))
      .join(counts, Seq("user_id"))
      .filter(col("i") + 1 >= gmax && col("i") + 1 <= col("n") - gmax)
      .select(col("user_id"), (col("i") + 1).as("boundary"),
        col("c").as("crossings"),
        r4(least(lit(1.0), col("c").cast("double") / lit(iac))).as("cac1"))
  }

  // B65 — FLOSS one-sided CAC (horizon 16 = reach-4 arcs at L=8/stride=4,
  // so the trusted interior is populated at verify scale). FULL oracle:
  // DuckDB replays the left profile (q62's SQL at horizon 16), the grid
  // index arithmetic, the ±1 difference running sum, and the identical
  // min(1, c/IAC) scalar tail (IAC = g0 + (W-1)/2 = 2 + 1 = 3).
  private val q65 = Q(
    "q65_ts_floss_cac1",
    (s, d) => tsFlossCac1(Tables.events(s, d), L = 8, stride = 4,
      horizon = 16),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(value ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT b.user_id, b.start, a.start AS pstart,
          ${Num.r4Sql("""list_reduce(
            [(b.xs[i] - a.xs[i]) * (b.xs[i] - a.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y)""")} AS dist
        FROM w b JOIN w a
          ON a.user_id = b.user_id
          AND b.start - a.start >= 8 AND b.start - a.start <= 16),
      prof AS (
        SELECT user_id, start, pstart
        FROM p
        QUALIFY row_number() OVER (PARTITION BY user_id, start
          ORDER BY dist, pstart) = 1),
      arcs AS (
        SELECT user_id, (pstart - 1) // 4 AS j, (start - 1) // 4 AS i
        FROM prof),
      cnt AS (
        SELECT user_id, (COUNT(*) - 8) // 4 + 1 AS n
        FROM events GROUP BY user_id HAVING COUNT(*) >= 8),
      spine AS (
        SELECT user_id, unnest(range(0, n)) AS i FROM cnt),
      deltas AS (
        SELECT user_id, j AS i, 1 AS d FROM arcs
        UNION ALL SELECT user_id, i, -1 FROM arcs),
      dsum AS (
        SELECT user_id, i, CAST(SUM(d) AS BIGINT) AS d
        FROM deltas GROUP BY 1, 2),
      run AS (
        SELECT s.user_id, s.i, c.n,
          SUM(COALESCE(ds.d, 0)) OVER (PARTITION BY s.user_id
            ORDER BY s.i) AS c
        FROM spine s
        LEFT JOIN dsum ds ON ds.user_id = s.user_id AND ds.i = s.i
        JOIN cnt c ON c.user_id = s.user_id)
      SELECT user_id, CAST(i + 1 AS BIGINT) AS boundary,
        CAST(c AS BIGINT) AS crossings,
        ${Num.r4Sql("LEAST(1.0, CAST(c AS DOUBLE) / 3.0)")} AS cac1
      FROM run WHERE i + 1 >= 4 AND i + 1 <= n - 4
      ORDER BY user_id, boundary"""))

  /** B67's core: regime-boundary ALERTS on the ONE-SIDED curve — B66's
    * extraction applied to B65's FLOSS CAC, restricted so every emitted
    * row is ONLINE-DECIDABLE (the A63 streaming twin's contract): a
    * boundary's local-minimum status needs cac at [b−zone, b+zone], so
    * b must have its FULL following zone inside the trusted interior
    * (b + zone ≤ n − H) — on the preceding side the trusted curve simply
    * starts at H, and both engines (and the stream) see the same partial
    * window there. First-of-tie rule and range frames are B66's
    * verbatim; everything before the filter is B65's integer pipeline,
    * so the oracle replays bit-exactly.
    */
  def tsFlossRegimeBoundaries(events: DataFrame, L: Int, stride: Int,
      horizon: Int, threshold: Double, zone: Int): DataFrame = {
    require(zone >= 1 && threshold > 0.0)
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("boundary"))
      .rangeBetween(-zone, -1)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("boundary"))
      .rangeBetween(1, zone)
    tsFlossCac1Core(events, L, stride, horizon)
      .withColumn("mp", min(col("cac1")).over(wPrev))
      .withColumn("mn", min(col("cac1")).over(wNext))
      // n - gmax is the last trusted boundary = per-user max(boundary);
      // requiring the full following zone keeps every row final the
      // moment boundary+zone finalizes — no end-of-series dependence
      .withColumn("maxb",
        max(col("boundary")).over(Window.partitionBy(col("user_id"))))
      .filter(col("boundary") + zone <= col("maxb") &&
        col("cac1") <= threshold &&
        (col("mp").isNull || col("cac1") < col("mp")) &&
        col("cac1") <= col("mn"))
      .select(col("user_id"), col("boundary"), col("crossings"), col("cac1"))
      .orderBy(col("user_id"), col("boundary"))
  }

  // B66 — regime boundaries off q64's CAC curve. FULL oracle: the q64
  // replay (integer profile, dense indexing, ±1 running sum, CAC tail)
  // plus the two range-frame minima and the first-of-tie filter — all on
  // r4-quantized values, so the selected set is cross-engine exact.
  private val q66 = Q(
    "q66_ts_regime_boundaries",
    (s, d) => tsRegimeBoundaries(Tables.events(s, d), L = 8, stride = 4,
      threshold = 0.8, zone = 3),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CAST(list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y) AS DOUBLE) / 10000.0""")} AS dist
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND b.start >= a.start + 8),
      mirrored AS (
        SELECT user_id, s1 AS start, s2 AS nn_start, dist FROM p
        UNION ALL
        SELECT user_id, s2 AS start, s1 AS nn_start, dist FROM p),
      prof AS (
        SELECT user_id, start, nn_start
        FROM mirrored
        QUALIFY row_number() OVER (PARTITION BY user_id, start
          ORDER BY dist, nn_start) = 1),
      idx AS (
        SELECT user_id, start, nn_start,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start) - 1 AS i
        FROM prof),
      nu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM idx GROUP BY 1),
      arcs AS (
        SELECT a.user_id, LEAST(a.i, b.i) AS lo, GREATEST(a.i, b.i) AS hi
        FROM idx a JOIN idx b
          ON b.user_id = a.user_id AND b.start = a.nn_start),
      deltas AS (
        SELECT user_id, lo AS i, 1 AS d FROM arcs
        UNION ALL SELECT user_id, hi, -1 FROM arcs),
      dsum AS (
        SELECT user_id, i, CAST(SUM(d) AS BIGINT) AS d
        FROM deltas GROUP BY 1, 2),
      run AS (
        SELECT x.user_id, x.i, nu.n,
          SUM(COALESCE(ds.d, 0)) OVER (PARTITION BY x.user_id
            ORDER BY x.i) AS c
        FROM idx x
        LEFT JOIN dsum ds ON ds.user_id = x.user_id AND ds.i = x.i
        JOIN nu ON nu.user_id = x.user_id),
      curve AS (
        SELECT user_id, CAST(i + 1 AS BIGINT) AS boundary,
          CAST(c AS BIGINT) AS crossings,
          ${Num.r4Sql("""LEAST(1.0, (CAST(c AS DOUBLE) * n)
            / ((2.0 * (i + 1)) * (n - i - 1)))""")} AS cac
        FROM run WHERE i + 1 < n),
      ext AS (
        SELECT user_id, boundary, crossings, cac,
          MIN(cac) OVER (PARTITION BY user_id ORDER BY boundary
            RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mp,
          MIN(cac) OVER (PARTITION BY user_id ORDER BY boundary
            RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS mn
        FROM curve)
      SELECT user_id, boundary, crossings, cac
      FROM ext
      WHERE cac <= 0.8 AND (mp IS NULL OR cac < mp)
        AND (mn IS NULL OR cac <= mn)
      ORDER BY user_id, boundary"""))

  // B67 — online-decidable regime alerts on q65's one-sided curve. FULL
  // oracle: the q65 replay + B66's extraction frames + the full-
  // following-zone cap (boundary + zone <= per-user max boundary).
  private val q67 = Q(
    "q67_ts_floss_regime_alerts",
    (s, d) => tsFlossRegimeBoundaries(Tables.events(s, d), L = 8, stride = 4,
      horizon = 16, threshold = 0.8, zone = 3),
    Some(s"""
      WITH u AS (
        SELECT user_id, list(value ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      p AS (
        SELECT b.user_id, b.start, a.start AS pstart,
          ${Num.r4Sql("""list_reduce(
            [(b.xs[i] - a.xs[i]) * (b.xs[i] - a.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y)""")} AS dist
        FROM w b JOIN w a
          ON a.user_id = b.user_id
          AND b.start - a.start >= 8 AND b.start - a.start <= 16),
      prof AS (
        SELECT user_id, start, pstart
        FROM p
        QUALIFY row_number() OVER (PARTITION BY user_id, start
          ORDER BY dist, pstart) = 1),
      arcs AS (
        SELECT user_id, (pstart - 1) // 4 AS j, (start - 1) // 4 AS i
        FROM prof),
      cnt AS (
        SELECT user_id, (COUNT(*) - 8) // 4 + 1 AS n
        FROM events GROUP BY user_id HAVING COUNT(*) >= 8),
      spine AS (
        SELECT user_id, unnest(range(0, n)) AS i FROM cnt),
      deltas AS (
        SELECT user_id, j AS i, 1 AS d FROM arcs
        UNION ALL SELECT user_id, i, -1 FROM arcs),
      dsum AS (
        SELECT user_id, i, CAST(SUM(d) AS BIGINT) AS d
        FROM deltas GROUP BY 1, 2),
      run AS (
        SELECT s.user_id, s.i, c.n,
          SUM(COALESCE(ds.d, 0)) OVER (PARTITION BY s.user_id
            ORDER BY s.i) AS c
        FROM spine s
        LEFT JOIN dsum ds ON ds.user_id = s.user_id AND ds.i = s.i
        JOIN cnt c ON c.user_id = s.user_id),
      curve AS (
        SELECT user_id, CAST(i + 1 AS BIGINT) AS boundary,
          CAST(c AS BIGINT) AS crossings,
          ${Num.r4Sql("LEAST(1.0, CAST(c AS DOUBLE) / 3.0)")} AS cac1
        FROM run WHERE i + 1 >= 4 AND i + 1 <= n - 4),
      ext AS (
        SELECT user_id, boundary, crossings, cac1,
          MIN(cac1) OVER (PARTITION BY user_id ORDER BY boundary
            RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mp,
          MIN(cac1) OVER (PARTITION BY user_id ORDER BY boundary
            RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS mn,
          MAX(boundary) OVER (PARTITION BY user_id) AS maxb
        FROM curve)
      SELECT user_id, boundary, crossings, cac1
      FROM ext
      WHERE boundary + 3 <= maxb AND cac1 <= 0.8
        AND (mp IS NULL OR cac1 < mp) AND cac1 <= mn
      ORDER BY user_id, boundary"""))

  // ======== B68-B71 — the matrix profile as a PUBLISHED ARTIFACT ========

  /** Publish the RAW matrix profile (q59's frame: user_id, start,
    * nn_start, dist) as a WAP artifact under `root` — the r15 verdict's
    * lead item and the production shape the q59 Scaladoc already names:
    * ONE artifact, MANY consumers. q61 (discords = maxima), q64 (FLUSS
    * CAC = arc crossings) and q66 (regime extraction) all re-ran the
    * O(W²/stride) diagonal pair pass per query (~7.4 s of the r15 bench
    * was profile recomputation); at 100 TB the f² pass per consumer is
    * the difference between one expensive build and three. The D7/P25
    * lifecycle conventions: staged-bytes audit BEFORE the pointer moves —
    * grid alignment of both endpoints, the ≥L non-overlap invariant,
    * non-null non-negative distances, and ONE ROW PER ADMISSIBLE WINDOW
    * (the count expectation derived independently from the event counts:
    * a user with n stride-grid windows has max(0, n − max(0, 2·g0 − n))
    * windows owning a non-overlapping partner, g0 = ⌈L/stride⌉ — windows
    * in the middle of a short series have no admissible pair and drop,
    * the literature's undefined-profile convention).
    */
  def publishTsProfile(events: DataFrame, root: String, token: String,
      L: Int, stride: Int): Publish.WapResult =
    Publish.writeAuditPublish(tsMatrixProfile(events, L, stride),
      s"$root/profile", tsProfileAudit(events, L, stride), token)

  /** The staged-bytes audit [[publishTsProfile]] runs — exposed so the
    * spec can prove the rejection path on deliberately corrupted frames
    * (the audit is the artifact's only defense; a vacuously-green audit
    * is the failure mode this exposure exists to rule out).
    */
  private[graft] def tsProfileAudit(events: DataFrame, L: Int,
      stride: Int): Publish.Audit = {
    val g0 = ((L + stride - 1) / stride).toLong
    val expected = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= L)
      .select((floor((col("cnt") - lit(L.toLong)) / lit(stride.toLong)) + 1L)
        .cast("long").as("n"))
      .select(greatest(lit(0L),
        col("n") - greatest(lit(0L), lit(2L * g0) - col("n"))).as("adm"))
      .agg(coalesce(sum(col("adm")), lit(0L)).as("t"))
      .collect()(0).getLong(0) // one driver long — parameter-bounded
    staged =>
      Publish.columnAudit(
        "profile_start_on_grid" -> ((col("start") - 1) % stride =!= 0),
        "profile_nn_on_grid" -> ((col("nn_start") - 1) % stride =!= 0),
        "profile_non_overlap" ->
          (abs(col("nn_start") - col("start")) < L),
        "profile_dist_valid" -> (col("dist").isNull || col("dist") < 0.0))(staged)
        .unionByName(staged.agg(count(lit(1)).as("n"))
          .select(lit("profile_one_row_per_admissible_window").as("expectation"),
            abs(col("n") - lit(expected)).cast("long").as("violations"),
            (col("n") === lit(expected)).as("pass")))
  }

  /** The published profile, latest version (torn reads impossible: one
    * table, one pointer).
    */
  def readTsProfile(spark: SparkSession, root: String): DataFrame =
    Publish.readPublished(spark, s"$root/profile")

  /** INCREMENTAL profile refresh — STAMPI's shape (Yeh et al., ICDM 2016
    * §VII: on appended points, the profile updates by min-merging the
    * NEW pairs' contributions; old pairs' argmins are already stored),
    * the D11 lifecycle applied to B68's artifact. `fullEvents` is the
    * series INCLUDING the arrivals (appends only — every new event sits
    * after a user's published positions; window starts are
    * row-number-stable under appends, which is what makes old rows
    * reusable at all). The stripe job computes ONLY the
    * pairs the new windows form ([[diagonalPairStats]]'s `newFrom`), so
    * refresh work is O(W_new · W_total) per user — STAMPI's linear
    * increment, not the rebuild's O(W_total²). Both endpoints of every
    * stripe pair enter the merge (a new window can improve an OLD
    * window's neighbor — the retraction the ONLINE operators avoid by
    * design, which a BATCH refresh handles exactly). Exactness: full
    * argmin = min(argmin over old-only pairs, stripe contributions) —
    * the stored rows ARE the first term, so the refreshed artifact is
    * BIT-EQUAL to a from-scratch rebuild (spec-pinned; q73's oracle is
    * q59's full replay). The staged union re-audits against
    * [[tsProfileAudit]] derived from `fullEvents` — grid, non-overlap,
    * and the one-row-per-admissible-window count over old + new.
    */
  def refreshTsProfile(spark: SparkSession, root: String,
      fullEvents: DataFrame, token: String, L: Int,
      stride: Int): Publish.WapResult = {
    val old = readTsProfile(spark, root)
    val oldMax = old.groupBy(col("user_id"))
      .agg(max(col("start")).as("old_max"))
    val stripePairs = diagonalPairStats(fullEvents, L, stride, newFrom = Some(oldMax))
      .select(col("user_id"), col("s1"), col("s2"),
        r4((col("sq1") + col("sq2") - lit(2L) * col("qt")).cast("double")
          / lit(10000.0)).as("dist"))
    // min-merge: stored rows are candidates alongside both endpoints of
    // every stripe pair — the same (dist, nn_start) struct-min argmin
    val stripeBoth = stripePairs.select(col("user_id"), explode(array(
        struct(col("s1").as("start"), col("s2").as("nn_start"), col("dist")),
        struct(col("s2").as("start"), col("s1").as("nn_start"), col("dist"))))
        .as("e"))
      .select(col("user_id"), col("e.start").as("start"),
        col("e.nn_start").as("nn_start"), col("e.dist").as("dist"))
    val merged = old.select(col("user_id"), col("start"), col("nn_start"), col("dist"))
      .unionByName(stripeBoth)
      .groupBy(col("user_id"), col("start"))
      .agg(min(struct(col("dist"), col("nn_start"))).as("m"))
      .select(col("user_id"), col("start"), col("m.nn_start").as("nn_start"),
        col("m.dist").as("dist"))
      .orderBy(col("user_id"), col("start"))
    Publish.writeAuditPublish(merged, s"$root/profile",
      tsProfileAudit(fullEvents, L, stride), token)
  }

  // the s9 memo discipline: the artifact builds ONCE per (sfDir) and the
  // benched entries time the READ path — what a production deployment
  // runs (the profile is a nightly build; discords/CAC/regimes are the
  // every-analyst queries on it)
  private val publishedProfileRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Root of the published matrix-profile artifact for `sfDir` at the
    * pack's pinned (L=8, stride=4), building on first use.
    */
  def tsProfileRootFor(spark: SparkSession, sfDir: String): String =
    publishedProfileRoots.computeIfAbsent(sfDir, { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft-q68-tsprofile").toString
      val r = publishTsProfile(Tables.events(spark, sfDir), root,
        token = "q68", L = 8, stride = 4)
      require(r.published, s"ts-profile publish failed: $r")
      root
    })

  private[graft] def clearPublishedProfileRoots(): Unit =
    publishedProfileRoots.clear()

  /** Per-user FIRST-HALF slice (row_number ≤ cnt/2 by event order) — the
    * deterministic history/arrivals split q73's lifecycle builds from.
    */
  private def firstHalfEvents(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    events.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(col("rn") * 2 <= col("cnt"))
      .drop("rn", "cnt")
  }

  /** Root of the REFRESHED profile artifact for `sfDir`: v1 publishes
    * from each user's first half, v2 refreshes with the full series —
    * the benched/verified entry reads v2, so the oracle (q59's full
    * replay) gates the refresh's exactness end to end.
    */
  def tsRefreshRootFor(spark: SparkSession, sfDir: String): String =
    publishedProfileRoots.computeIfAbsent("q73:" + sfDir, { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft-q73-refresh").toString
      val events = Tables.events(spark, sfDir)
      val r1 = publishTsProfile(firstHalfEvents(events), root,
        token = "q73-v1", L = 8, stride = 4)
      require(r1.published, s"q73 v1 publish failed: $r1")
      val r2 = refreshTsProfile(spark, root, events, token = "q73-v2",
        L = 8, stride = 4)
      require(r2.published && r2.version.contains(2L),
        s"q73 refresh failed: $r2")
      root
    })

  // B68 — the artifact read itself: byte-for-byte q59 (the integer
  // replay pins the STORED bytes, not a recomputation — same FULL oracle,
  // now gating the publish+read lifecycle end to end).
  private val q68 = Q(
    "q68_ts_profile_read",
    (s, d) => readTsProfile(s, tsProfileRootFor(s, d))
      .orderBy(col("user_id"), col("start")),
    q59.oracle)

  // B69 — discord top-k as a READ-PATH consumer: one
  // TakeOrderedAndProject over the stored profile — zero pair work at
  // query time. Same FULL oracle as q61.
  private val q69 = Q(
    "q69_ts_discord_read",
    (s, d) => readTsProfile(s, tsProfileRootFor(s, d))
      .orderBy(col("dist").desc, col("user_id"), col("start"))
      .limit(10),
    q61.oracle)

  // B70 — FLUSS CAC as a READ-PATH consumer: the consumer tail
  // ([[flussCacFromProfile]]) over the stored profile — the parquet
  // artifact is the materialization the in-query spelling had to
  // persist+checkpoint for. Same FULL oracle as q64.
  private val q70 = Q(
    "q70_ts_cac_read",
    (s, d) => flussCacFromProfile(
      readTsProfile(s, tsProfileRootFor(s, d))
        .select(col("user_id"), col("start"), col("nn_start")))
      .orderBy(col("user_id"), col("boundary")),
    q64.oracle)

  // B71 — regime extraction as a READ-PATH consumer: B66's two
  // range-frame minima over the read-path curve. Same FULL oracle as q66.
  private val q71 = Q(
    "q71_ts_regime_read",
    (s, d) => regimeExtractFromCurve(
      flussCacFromProfile(
        readTsProfile(s, tsProfileRootFor(s, d))
          .select(col("user_id"), col("start"), col("nn_start"))),
      threshold = 0.8, zone = 3),
    q66.oracle)

  // B72 — SCRIMP-class sampled profile at E=4 (a quarter of the
  // diagonals → a quarter of the pair work). The VERIFY frame carries
  // the exact-profile gate leg — one_sided is GENUINELY computed against
  // q59's full profile in both engines (the x1 bounds-oracle discipline,
  // here upgraded to a FULL oracle because the deterministic lattice
  // replays exactly); the benched entry is the production sampled path
  // alone (the SURVEY §6 bench/verify split).
  private def q72Sampled(s: SparkSession, d: String): DataFrame =
    tsMatrixProfileSampled(Tables.events(s, d), L = 8, stride = 4,
      sampleEvery = 4)

  private val q72 = Q(
    "q72_ts_profile_sampled",
    (s, d) => {
      val exact = tsMatrixProfile(Tables.events(s, d), L = 8, stride = 4)
        .select(col("user_id"), col("start"), col("dist").as("dist_true"))
      q72Sampled(s, d).join(exact, Seq("user_id", "start"))
        .select(col("user_id"), col("start"), col("nn_start"),
          col("dist_est"),
          (col("dist_est") >= col("dist_true")).as("one_sided"))
        .orderBy(col("user_id"), col("start"))
    },
    Some(s"""
      WITH u AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events GROUP BY user_id),
      w AS (
        SELECT user_id, s AS start, vs[s : s + 7] AS xs
        FROM u, LATERAL (SELECT unnest(range(1, len(vs) + 1, 4)) AS s)
        WHERE s + 7 <= len(vs)),
      pall AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CAST(list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 9)],
            (x, y) -> x + y) AS DOUBLE) / 10000.0""")} AS dist,
          ((b.start - a.start - 8) % 16 = 0) AS sampled
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND b.start >= a.start + 8),
      mirr_est AS (
        SELECT user_id, s1 AS start, s2 AS nn_start, dist FROM pall WHERE sampled
        UNION ALL
        SELECT user_id, s2 AS start, s1 AS nn_start, dist FROM pall WHERE sampled),
      est AS (
        SELECT user_id, CAST(start AS BIGINT) AS start,
          CAST(nn_start AS BIGINT) AS nn_start, dist AS dist_est
        FROM mirr_est
        QUALIFY row_number() OVER (PARTITION BY user_id, start
          ORDER BY dist, nn_start) = 1),
      mirr_true AS (
        SELECT user_id, s1 AS start, dist FROM pall
        UNION ALL SELECT user_id, s2 AS start, dist FROM pall),
      tru AS (
        SELECT user_id, CAST(start AS BIGINT) AS start,
          MIN(dist) AS dist_true
        FROM mirr_true GROUP BY 1, 2)
      SELECT e.user_id, e.start, e.nn_start, e.dist_est,
        e.dist_est >= t.dist_true AS one_sided
      FROM est e JOIN tru t
        ON t.user_id = e.user_id AND t.start = e.start
      ORDER BY e.user_id, e.start"""),
    benchFn = Some(q72Sampled _))

  // B73 — INCREMENTAL refresh of the published profile (STAMPI's shape):
  // v1 from each user's first half, v2 = min-merge with the new-stripe
  // pairs only. The FULL q59 oracle on the COMPLETE series gates the
  // refreshed bytes — a refresh that missed a pair, double-counted a
  // window, or drifted a tie would hash-mismatch.
  private val q73 = Q(
    "q73_ts_profile_refresh",
    (s, d) => readTsProfile(s, tsRefreshRootFor(s, d))
      .orderBy(col("user_id"), col("start")),
    q59.oracle)

  /** B74's core: the per-user sample AUTOCORRELATION FUNCTION over the
    * position axis, lags 1..maxLag — PERIOD DETECTION, the knob the
    * whole profile family assumes as given (window length L and the
    * FLOSS horizon are chosen FROM the dominant period in production;
    * the Box–Jenkins estimator with the full-series mean and the
    * full-series variance denominator). Integer-exact cross-engine:
    * values quantize to longs (the [[integerSeries]] contract), every
    * sufficient statistic — per-lag Σxy / Σx_head / Σx_tail / pair
    * count, per-user n / Σx / Σx² — is an exact integer sum, and the
    * scalar tail is ONE fixed parenthesized IEEE tree the oracle
    * replays verbatim:
    *   r(d) = (((C − x̄·A) − x̄·B) + m·x̄²) / (Q − n·x̄²),  x̄ = S/n.
    * Flat series are decided on the EXACT integer variance n·Q − S²
    * (the q60 discipline): acf = 0, no float epsilon. `is_period`
    * flags the argmax lag ≥ 2 (lag 1 is trend/smoothness, not a
    * period; acf ties break to the smaller lag, spelled as
    * max(struct(acf, −lag)) so no float is ever negated).
    *
    * Scale shape: the lag explode emits ≤ maxLag rows per event — a
    * PARAMETER bound, O(n·maxLag) total, never the O(n²) pair space —
    * feeding one (user, p) equi-join and two map-side-combinable hash
    * aggregates; the only sort is integerSeries' per-user rank. The
    * per-user frames (tot, best) are user-proportional; AQE broadcasts
    * them while small and degrades to the user-keyed shuffle when not
    * (the d2 rule — no hint).
    */
  def tsAcf(events: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 2, "tsAcf: maxLag must be >= 2 (lag 1 is trend)")
    val ser = integerSeries(events)
    val tot = ser.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    // TAIL endpoint at position p2 pairs with head p = p2 − d for every
    // lag d ∈ [1, min(p2−1, maxLag)] (a bounded-lag explode; the
    // p2 > 1 guard matters because Spark's sequence() runs
    // DESCENDING when stop < start).
    val st = ser.filter(col("p") > 1)
      .select(col("user_id"), col("p").as("p2"), col("x").as("y"),
        explode(sequence(lit(1L),
          least(col("p") - 1, lit(maxLag.toLong)))).as("d"))
      .withColumn("p", col("p2") - col("d"))
      .join(ser, Seq("user_id", "p"))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(col("x") * col("y")).as("cxy"), sum(col("x")).as("ah"),
        sum(col("y")).as("bt"), count(lit(1)).as("m"))
    val xb = col("s").cast("double") / col("n").cast("double")
    val num = col("cxy").cast("double") - xb * col("ah").cast("double") -
      xb * col("bt").cast("double") +
      col("m").cast("double") * xb * xb
    val den = col("q").cast("double") - col("n").cast("double") * xb * xb
    val curve = st.join(tot, Seq("user_id"))
      .select(col("user_id"), col("d").as("lag"),
        when(col("n") * col("q") - col("s") * col("s") === 0L, lit(0.0))
          .otherwise(r4(num / den)).as("acf"))
    val best = curve.filter(col("lag") >= 2)
      .groupBy(col("user_id"))
      .agg(max(struct(col("acf"), (-col("lag")).as("nl"))).as("b"))
      .select(col("user_id"), (-col("b.nl")).as("blag"))
    curve.join(best, Seq("user_id"), "left")
      .select(col("user_id"), col("lag"), col("acf"),
        coalesce(col("lag") === col("blag"), lit(false)).as("is_period"))
      .orderBy(col("user_id"), col("lag"))
  }

  // B74 — ACF period detection. FULL oracle: DuckDB computes the same
  // integer sufficient statistics as DIRECT per-lag pair folds
  // (algorithm-independent — exact integers pin Spark's explode/join
  // spelling bit-for-bit) and replays the identical parenthesized IEEE
  // scalar tail on them; the argmax flag replays as a QUALIFY over the
  // same r4 keys with the same (acf DESC, lag ASC) tie order.
  private val q74 = Q(
    "q74_ts_acf_period",
    (s, d) => tsAcf(Tables.events(s, d), maxLag = 16),
    Some(s"""
      WITH ser AS (
        SELECT user_id,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS p,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
      tot AS (
        SELECT user_id, count(*) AS n, sum(x) AS s, sum(x * x) AS q
        FROM ser GROUP BY user_id),
      st AS (
        SELECT a.user_id, b.p - a.p AS lag, sum(a.x * b.x) AS cxy,
          sum(a.x) AS ah, sum(b.x) AS bt, count(*) AS m
        FROM ser a JOIN ser b
          ON a.user_id = b.user_id AND b.p > a.p AND b.p <= a.p + 16
        GROUP BY 1, 2),
      curve AS (
        SELECT st.user_id, CAST(lag AS BIGINT) AS lag,
          CASE WHEN t.n * t.q - t.s * t.s = 0 THEN CAST(0 AS DOUBLE)
            ELSE ${Num.r4Sql("""
              ((CAST(cxy AS DOUBLE)
                - (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * CAST(ah AS DOUBLE))
                - (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * CAST(bt AS DOUBLE)
                + CAST(m AS DOUBLE)
                  * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))
              / (CAST(t.q AS DOUBLE) - CAST(t.n AS DOUBLE)
                  * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))""")}
            END AS acf
        FROM st JOIN tot t ON t.user_id = st.user_id),
      best AS (
        SELECT user_id, lag AS blag FROM curve WHERE lag >= 2
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY acf DESC, lag) = 1)
      SELECT c.user_id, c.lag, c.acf,
        coalesce(c.lag = b.blag, FALSE) AS is_period
      FROM curve c LEFT JOIN best b ON b.user_id = c.user_id
      ORDER BY c.user_id, c.lag"""))

  /** B76's core: classical SEASONAL-TREND DECOMPOSITION (the moving-
    * average decomposition STL approximates; Kendall & Stuart's
    * textbook form) at a known even period P — the consumer of B74's
    * detected period: value = trend + seasonal + residual, where the
    * RESIDUAL is what anomaly gates (q54's IQR fences, B53's EWMA)
    * should run on once telemetry is known-periodic.
    *
    * Integer-exact cross-engine: trend numerator is the 2×P centered
    * MA with half-weighted ends — T_num(p) = x_{p−h} + x_{p+h} +
    * 2·Σ_{i∈(p−h, p+h)} x_i, h = P/2 — an exact integer (one lag + one
    * lead + one rows-frame sum per user), trend = T_num/(200·P); the
    * detrended series stays integer as d_scaled = 2P·x − T_num; the
    * per-phase means m_φ and the re-centering mean are the only IEEE
    * ops, folded in PHASE ORDER (a P-row parameter-bounded sorted fold
    * — the t27 contract), so the oracle replays every round verbatim.
    * Interior rows only (the MA needs h rows each side); seasonal
    * s_φ = m_φ − mean_φ(m) sums to ~0 by construction.
    *
    * Scale shape: one per-user window pass (dense ranks make rows ==
    * positions, so the frames are exact), one (user, phase) hash
    * aggregate, one P-row-per-user fold, two user-keyed joins — all
    * linear, no pair space, the q53-class state never exceeds P rows.
    */
  /** The (interior-rows, seasonal-index) frames shared by B76/B78:
    * base = (user_id, p, x, phase, tnum, dsc) on the MA interior;
    * seas = (user_id, phase, s) with the re-centered phase index.
    */
  private def seasonalParts(events: DataFrame,
      period: Int): (DataFrame, DataFrame) = {
    require(period >= 2 && period % 2 == 0,
      "tsSeasonalDecompose: even period (the 2xP centered MA)")
    val h = period / 2
    val ser = integerSeries(events)
    val w = Window.partitionBy(col("user_id")).orderBy(col("p"))
    val inner = Window.partitionBy(col("user_id")).orderBy(col("p"))
      .rowsBetween(-(h - 1), h - 1)
    val tnum = lag(col("x"), h).over(w) + lead(col("x"), h).over(w) +
      lit(2L) * sum(col("x")).over(inner)
    val base = ser.select(col("user_id"), col("p"), col("x"),
        tnum.as("tnum"))
      .filter(col("tnum").isNotNull)
      .withColumn("phase", pmod(col("p"), lit(period.toLong)))
      .withColumn("dsc", lit(2L * period) * col("x") - col("tnum"))
    val ph = base.groupBy(col("user_id"), col("phase"))
      .agg(sum(col("dsc")).as("sphi"), count(lit(1)).as("cnt"))
    val mPhi = col("sphi").cast("double") / col("cnt").cast("double") /
      lit(period * 200.0)
    val adj = ph.select(col("user_id"), col("phase"), mPhi.as("m"))
      .groupBy(col("user_id"))
      .agg((aggregate(
        array_sort(collect_list(struct(col("phase").as("ph"), col("m").as("m")))),
        lit(0.0), (acc, x) => acc + x.getField("m"))
        / count(lit(1)).cast("double")).as("madj"))
    val seas = ph.join(adj, Seq("user_id"))
      .select(col("user_id"), col("phase"), (mPhi - col("madj")).as("s"))
    (base, seas)
  }

  def tsSeasonalDecompose(events: DataFrame, period: Int): DataFrame = {
    val (base, seas) = seasonalParts(events, period)
    val trend = col("tnum").cast("double") / lit(period * 200.0)
    base.join(seas, Seq("user_id", "phase"))
      .select(col("user_id"), col("p").as("pos"),
        (col("x").cast("double") / lit(100.0)).as("value"),
        r4(trend).as("trend"),
        r4(col("s")).as("seasonal"),
        r4((col("x").cast("double") / lit(100.0) - trend) - col("s"))
          .as("resid"))
      .orderBy(col("user_id"), col("pos"))
  }

  /** q76's decomposition as a shared oracle CTE chain ending in `dec`
    * (user_id, pos, value, trend, seasonal, resid) — consumed by both
    * the q76 and q77 oracles (the pairwiseSql shared-fragment
    * discipline: a decomposition semantics change cannot silently
    * diverge the anomaly gate).
    */
  private val seasonalDecCtesSql: String = s"""
      ser AS (
        SELECT user_id,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS p,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
      tn AS (
        SELECT user_id, p, x,
          lag(x, 2) OVER w + lead(x, 2) OVER w + 2 * sum(x) OVER
            (PARTITION BY user_id ORDER BY p
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS tnum
        FROM ser WINDOW w AS (PARTITION BY user_id ORDER BY p)),
      base AS (
        SELECT user_id, p, x, p % 4 AS phase, tnum, 8 * x - tnum AS dsc
        FROM tn WHERE tnum IS NOT NULL),
      ph AS (
        SELECT user_id, phase, sum(dsc) AS sphi, count(*) AS cnt
        FROM base GROUP BY 1, 2),
      adj AS (
        SELECT user_id,
          list_reduce(list_prepend(0.0, list_transform(
            list_sort(list({'ph': phase,
              'm': CAST(sphi AS DOUBLE) / CAST(cnt AS DOUBLE) / 800.0})),
            x -> x['m'])), (a, v) -> a + v)
            / CAST(count(*) AS DOUBLE) AS madj
        FROM ph GROUP BY user_id),
      dec AS (
        SELECT b.user_id, CAST(b.p AS BIGINT) AS pos,
          CAST(b.x AS DOUBLE) / 100.0 AS value,
          ${Num.r4Sql("CAST(b.tnum AS DOUBLE) / 800.0")} AS trend,
          ${Num.r4Sql("""CAST(sm.sphi AS DOUBLE) / CAST(sm.cnt AS DOUBLE)
            / 800.0 - a.madj""")} AS seasonal,
          ${Num.r4Sql("""(CAST(b.x AS DOUBLE) / 100.0
              - CAST(b.tnum AS DOUBLE) / 800.0)
            - (CAST(sm.sphi AS DOUBLE) / CAST(sm.cnt AS DOUBLE) / 800.0
              - a.madj)""")} AS resid
        FROM base b
        JOIN ph sm ON sm.user_id = b.user_id AND sm.phase = b.phase
        JOIN adj a ON a.user_id = b.user_id)"""

  // B76 — seasonal decomposition at P=4. FULL oracle: DuckDB replays
  // the integer MA numerator (lag + lead + rows frame), the integer
  // detrended sums, and the identical IEEE division/fold trees.
  private val q76 = Q(
    "q76_ts_seasonal",
    (s, d) => tsSeasonalDecompose(Tables.events(s, d), period = 4),
    Some(s"""
      WITH $seasonalDecCtesSql
      SELECT user_id, pos, value, trend, seasonal, resid FROM dec
      ORDER BY user_id, pos"""))

  /** B77's core: SEASONAL-ADJUSTED ANOMALY GATE — q54's IQR discipline
    * applied to q76's RESIDUALS per user, with Tukey's far-out 3.0
    * multiplier (anomalies, not mild outliers): on periodic telemetry a
    * raw-value fence flags every cycle peak, the residual fence flags
    * only what the period + trend CANNOT explain. Output is the q54
    * summary shape per user. At 100 TB the decomposition is a published
    * artifact read by many consumers (the B68 convention); this query
    * composes it lazily as the correctness witness.
    */
  def tsSeasonalAnomalies(events: DataFrame, period: Int): DataFrame = {
    // r17: the residual frame feeds TWO consumers (the fence aggregate
    // and the gate join), and the lazy spelling re-ran the whole
    // decomposition (3 windows + 2 aggregates + 2 joins) for each.
    // Materialize it once. Production reads the decomposition as a
    // published artifact anyway (the B68 convention); this keeps the
    // correctness witness one-pass.
    val dec = Materialize(tsSeasonalDecompose(events, period)
      .select(col("user_id"), col("resid")))
    val f = dec.groupBy(col("user_id"))
      .agg(expr("percentile(resid, 0.25)").as("q1"),
        expr("percentile(resid, 0.75)").as("q3"),
        count(lit(1)).as("n_interior"))
      .withColumn("lo", col("q1") - lit(3.0) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(3.0) * (col("q3") - col("q1")))
    dec.join(f, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(first(col("n_interior")).as("n_interior"),
        r2(first(col("q1"))).as("q1"),
        r2(first(col("q3"))).as("q3"),
        sum(when(col("resid") < col("lo") || col("resid") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("user_id"))
  }

  // B77 — seasonal-adjusted anomalies. FULL oracle: the shared
  // decomposition CTE chain + exact per-user quantile fences (q54's
  // convention — quantile_cont == Spark's exact percentile on the
  // bit-identical resid multiset).
  private val q77 = Q(
    "q77_ts_seasonal_anomalies",
    (s, d) => tsSeasonalAnomalies(Tables.events(s, d), period = 4),
    Some(s"""
      WITH $seasonalDecCtesSql,
      f AS (
        SELECT user_id,
          quantile_cont(resid, 0.25) AS q1,
          quantile_cont(resid, 0.75) AS q3,
          COUNT(*) AS n_interior
        FROM dec GROUP BY user_id)
      SELECT d.user_id, f.n_interior,
        ${Num.r2Sql("f.q1")} AS q1,
        ${Num.r2Sql("f.q3")} AS q3,
        CAST(SUM(CASE WHEN d.resid < f.q1 - 3.0*(f.q3 - f.q1)
                        OR d.resid > f.q3 + 3.0*(f.q3 - f.q1)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dec d JOIN f USING (user_id)
      GROUP BY d.user_id, f.n_interior, f.q1, f.q3
      ORDER BY d.user_id"""))

  /** B78's core: SEASONAL-NAIVE + DRIFT FORECAST (the two classical
    * baselines composed — Hyndman & Athanasopoulos's "drift" and
    * "seasonal naive" methods, the benchmarks every forecasting paper
    * must beat): forecast_{n+k} = T_last + slope·k + s_{φ(n+k)}, where
    * T_last is the decomposition's final interior trend, slope the
    * endpoint drift (T_last − T_first)/(p_last − p_first), and s the
    * re-centered phase index — capacity planning from nothing but the
    * q76 parts. Everything derives from integers (endpoint MA
    * numerators via min_by/max_by on the unique position key — exactly
    * two interior rows per user feed the slope) + one fixed IEEE tree
    * the oracle replays. Users with fewer than two interior rows drop
    * (no slope); horizon phases missing from a short user's interior
    * drop with the inner join (cross-engine identically).
    *
    * Scale: one bounded aggregate over the interior + an H-row explode
    * per user (parameter-bounded) + one (user, phase) join — linear.
    */
  def tsSeasonalForecast(events: DataFrame, period: Int, h: Int): DataFrame = {
    require(h >= 1)
    val (base, seas) = seasonalParts(events, period)
    val ends = base.groupBy(col("user_id")).agg(
        min(col("p")).as("pf"), max(col("p")).as("pl"),
        min_by(col("tnum"), col("p")).as("tf"),
        max_by(col("tnum"), col("p")).as("tl"),
        count(lit(1)).as("ni"))
      .filter(col("ni") >= 2)
    val fc = ends
      .select(col("user_id"), col("pf"), col("tf"), col("pl"), col("tl"),
        explode(sequence(lit(1L), lit(h.toLong))).as("k"))
      .withColumn("pos", col("pl") + col("k"))
      .withColumn("phase", pmod(col("pos"), lit(period.toLong)))
    val tlast = col("tl").cast("double") / lit(period * 200.0)
    val slope = (col("tl") - col("tf")).cast("double") /
      (lit(period * 200.0) * (col("pl") - col("pf")).cast("double"))
    fc.join(seas, Seq("user_id", "phase"))
      .select(col("user_id"), col("k"), col("pos"),
        r4(tlast + slope * col("k").cast("double") + col("s")).as("forecast"))
      .orderBy(col("user_id"), col("k"))
  }

  // B78 — seasonal + drift forecast, H=8. FULL oracle: the shared
  // decomposition CTEs + endpoint min_by/max_by on the unique position
  // key + the identical IEEE tree (left-assoc add chain).
  private val q78 = Q(
    "q78_ts_forecast",
    (s, d) => tsSeasonalForecast(Tables.events(s, d), period = 4, h = 8),
    Some(s"""
      WITH $seasonalDecCtesSql,
      ends AS (
        SELECT user_id, min(p) AS pf, max(p) AS pl,
          min_by(tnum, p) AS tf, max_by(tnum, p) AS tl,
          count(*) AS ni
        FROM base GROUP BY user_id),
      sidx AS (
        SELECT ph.user_id, ph.phase,
          CAST(sphi AS DOUBLE) / CAST(cnt AS DOUBLE) / 800.0 - a.madj AS s
        FROM ph JOIN adj a USING (user_id)),
      fc AS (
        SELECT e.user_id, k.k, e.pl + k.k AS pos,
          (e.pl + k.k) % 4 AS phase, e.pf, e.pl, e.tf, e.tl
        FROM ends e, range(1, 9) k(k) WHERE e.ni >= 2)
      SELECT f.user_id, CAST(f.k AS BIGINT) AS k,
        CAST(f.pos AS BIGINT) AS pos,
        ${Num.r4Sql("""CAST(f.tl AS DOUBLE) / 800.0
          + CAST(f.tl - f.tf AS DOUBLE)
            / (800.0 * CAST(f.pl - f.pf AS DOUBLE)) * CAST(f.k AS DOUBLE)
          + s.s""")} AS forecast
      FROM fc f JOIN sidx s
        ON s.user_id = f.user_id AND s.phase = f.phase
      ORDER BY f.user_id, k"""))

  /** B79's core: the sample CROSS-CORRELATION FUNCTION between two
    * event-type slices on the SHARED per-user position axis — the
    * lead/lag detector ("clicks lead purchases by k steps"): positive
    * lag d means type A at position p co-varies with type B at p + d
    * (A LEADS); the argmax lag is the offset a causal pipeline uses to
    * align the two signals. Negative lags (B leads) are first-class —
    * the lag axis runs −maxLag..maxLag, 0 included.
    *
    * Estimator (the Box–Jenkins CCF, q74's discipline): over pairs
    * (p type A, p+d type B),
    *   r(d) = (((C − b̄·A) − ā·B) + m·ā·b̄)
    *          / (√(Qa − na·ā²) · √(Qb − nb·b̄²)),
    * with C/A/B/m the per-lag integer pair sums and na/Sa/Qa, nb/Sb/Qb
    * the per-slice integer totals; ā = Sa/na, b̄ = Sb/nb. Every input
    * is an exact integer, the scalar tail one fixed parenthesized IEEE
    * tree (√ is correctly rounded — the q60 contract), flat slices are
    * decided on the EXACT integer variances (ccf = 0). `is_peak` flags
    * the argmax lag (ties → smaller lag, the q74 float-free spelling).
    * Lags with zero pairs drop (cross-engine identically).
    *
    * Scale shape: the explode emits ≤ 2·maxLag+1 rows per B-typed
    * event — a PARAMETER bound, O(n·maxLag), never the pair space —
    * one (user, p) equi-join against the A slice, hash aggregates, and
    * the per-user frames ride AQE (the d2 rule, no hint).
    */
  def tsCcf(events: DataFrame, typeA: String, typeB: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && typeA != typeB)
    val ser = integerSeriesTyped(events)
    val a = ser.filter(col("event_type") === typeA)
      .select(col("user_id"), col("p"), col("x"))
    val b = ser.filter(col("event_type") === typeB)
      .select(col("user_id"), col("p"), col("x"))
    val ta = a.groupBy(col("user_id")).agg(count(lit(1)).as("na"),
      sum(col("x")).as("sa"), sum(col("x") * col("x")).as("qa"))
    val tb = b.groupBy(col("user_id")).agg(count(lit(1)).as("nb"),
      sum(col("x")).as("sb"), sum(col("x") * col("x")).as("qb"))
    // d = pB − pA: pA ≥ 1 caps the UPPER end at pB − 1 (negative lags
    // are always admissible — pA > pB just probes later A positions,
    // the join bounds them); lower end is −maxLag, and the sequence is
    // never descending because pB − 1 ≥ 0 ≥ −maxLag.
    val st = b.select(col("user_id"), col("p").as("p2"), col("x").as("y"),
        explode(sequence(lit(-maxLag.toLong),
          least(lit(maxLag.toLong), col("p") - 1))).as("d"))
      .withColumn("p", col("p2") - col("d"))
      .join(a, Seq("user_id", "p"))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(col("x") * col("y")).as("cxy"), sum(col("x")).as("ah"),
        sum(col("y")).as("bt"), count(lit(1)).as("m"))
    val ab = col("sa").cast("double") / col("na").cast("double")
    val bb = col("sb").cast("double") / col("nb").cast("double")
    val num = col("cxy").cast("double") - bb * col("ah").cast("double") -
      ab * col("bt").cast("double") +
      col("m").cast("double") * ab * bb
    val den =
      sqrt(col("qa").cast("double") - col("na").cast("double") * ab * ab) *
      sqrt(col("qb").cast("double") - col("nb").cast("double") * bb * bb)
    val flat = col("na") * col("qa") - col("sa") * col("sa") === 0L ||
      col("nb") * col("qb") - col("sb") * col("sb") === 0L
    val curve = st.join(ta, Seq("user_id")).join(tb, Seq("user_id"))
      .select(col("user_id"), col("d").as("lag"),
        when(flat, lit(0.0)).otherwise(r4(num / den)).as("ccf"))
    val best = curve.groupBy(col("user_id"))
      .agg(max(struct(col("ccf"), (-col("lag")).as("nl"))).as("b"))
      .select(col("user_id"), (-col("b.nl")).as("blag"))
    curve.join(best, Seq("user_id"), "left")
      .select(col("user_id"), col("lag"), col("ccf"),
        coalesce(col("lag") === col("blag"), lit(false)).as("is_peak"))
      .orderBy(col("user_id"), col("lag"))
  }

  /** [[integerSeries]] keeping event_type: positions stay the FULL
    * per-user rank (the shared axis two type slices align on).
    */
  private def integerSeriesTyped(events: DataFrame): DataFrame = {
    val wPos = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val scaled = col("value") * 100.0
    val xi = floor(scaled + 0.5).cast("long")
    events.select(col("user_id"), col("event_id"), col("event_type"),
        col("value"))
      .withColumn("p", row_number().over(wPos).cast("long"))
      .withColumn("x",
        when(abs(scaled - xi.cast("double"))
          < lit(1e-9) * greatest(abs(scaled), lit(1.0)), xi)
          .otherwise(raise_error(concat(
            lit("diagonalPairStats: value is not 2-decimal telemetry "
              + "(the STOMP integer discipline requires value*100 integral): "),
            col("value").cast("string")))))
      .select(col("user_id"), col("p"), col("event_type"), col("x"))
  }

  // B79 — cross-correlation lead/lag detection. FULL oracle: DuckDB
  // computes the same integer pair sums as direct per-lag folds over
  // the shared position axis and replays the identical scalar tail
  // (√ correctly rounded in both engines) + QUALIFY argmax.
  private val q79 = Q(
    "q79_ts_ccf",
    (s, d) => tsCcf(Tables.events(s, d),
      typeA = "click", typeB = "purchase", maxLag = 8),
    Some(s"""
      WITH ser AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS p,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
      a AS (SELECT user_id, p, x FROM ser WHERE event_type = 'click'),
      b AS (SELECT user_id, p, x FROM ser WHERE event_type = 'purchase'),
      ta AS (
        SELECT user_id, count(*) AS na, sum(x) AS sa, sum(x * x) AS qa
        FROM a GROUP BY user_id),
      tb AS (
        SELECT user_id, count(*) AS nb, sum(x) AS sb, sum(x * x) AS qb
        FROM b GROUP BY user_id),
      st AS (
        SELECT a.user_id, b.p - a.p AS lag, sum(a.x * b.x) AS cxy,
          sum(a.x) AS ah, sum(b.x) AS bt, count(*) AS m
        FROM a JOIN b
          ON a.user_id = b.user_id
          AND b.p - a.p BETWEEN -8 AND 8
        GROUP BY 1, 2),
      curve AS (
        SELECT st.user_id, CAST(lag AS BIGINT) AS lag,
          CASE WHEN ta.na * ta.qa - ta.sa * ta.sa = 0
                 OR tb.nb * tb.qb - tb.sb * tb.sb = 0 THEN CAST(0 AS DOUBLE)
            ELSE ${Num.r4Sql("""
              ((CAST(cxy AS DOUBLE)
                - (CAST(tb.sb AS DOUBLE) / CAST(tb.nb AS DOUBLE))
                  * CAST(ah AS DOUBLE))
                - (CAST(ta.sa AS DOUBLE) / CAST(ta.na AS DOUBLE))
                  * CAST(bt AS DOUBLE)
                + CAST(m AS DOUBLE)
                  * (CAST(ta.sa AS DOUBLE) / CAST(ta.na AS DOUBLE))
                  * (CAST(tb.sb AS DOUBLE) / CAST(tb.nb AS DOUBLE)))
              / (sqrt(CAST(ta.qa AS DOUBLE) - CAST(ta.na AS DOUBLE)
                  * (CAST(ta.sa AS DOUBLE) / CAST(ta.na AS DOUBLE))
                  * (CAST(ta.sa AS DOUBLE) / CAST(ta.na AS DOUBLE)))
                * sqrt(CAST(tb.qb AS DOUBLE) - CAST(tb.nb AS DOUBLE)
                  * (CAST(tb.sb AS DOUBLE) / CAST(tb.nb AS DOUBLE))
                  * (CAST(tb.sb AS DOUBLE) / CAST(tb.nb AS DOUBLE))))""")}
            END AS ccf
        FROM st
        JOIN ta ON ta.user_id = st.user_id
        JOIN tb ON tb.user_id = st.user_id),
      best AS (
        SELECT user_id, lag AS blag FROM curve
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY ccf DESC, lag) = 1)
      SELECT c.user_id, c.lag, c.ccf,
        coalesce(c.lag = b.blag, FALSE) AS is_peak
      FROM curve c LEFT JOIN best b ON b.user_id = c.user_id
      ORDER BY c.user_id, c.lag"""))

  /** B80's core: one-sided CUSUM CHANGEPOINT ALARMS (Page 1954 — the
    * classical sequential mean-shift detector; the complement of B66's
    * retrospective regime extraction: CUSUM answers "has the mean
    * drifted up past the allowance k, and WHEN did the evidence cross
    * H" online). Per user: μ0 is the mean of the first `warmup`
    * positions, the monitored tail folds
    *   S_t = max(0, S_{t−1} + (value_t − μ0 − k)),
    * and an ALARM is an UPCROSSING of H (no reset — S keeps its
    * evidence, so one sustained shift is one alarm, the q67 alert
    * discipline).
    *
    * The recursion is spelled via the PREFIX-SUM IDENTITY
    *   S_t = (Z_t − min(0, min_{j≤t} Z_j)) / (100·W),
    *   Z_t = Σ (W·x_i − Sw − W·kC)   (x scaled ints, Sw = warm-up sum,
    *   kC = 100·k) —
    * every term an EXACT INTEGER, so the whole operator is two window
    * passes (cumulative sum + running min, both order-free on
    * integers) and one lag: NO pinned float fold, no collect_list, no
    * q53-class state — the rare recursive statistic with a perfectly
    * scale-free spelling. The threshold compare is integer too
    * (Z − minP > W·hC). `s_value` = the crossing's S in original
    * units, ONE IEEE division at the end, r4.
    *
    * Scale: one per-user window sort shared by all three frames —
    * linear, bounded state, growing-key partitioning.
    */
  def tsCusumAlarms(events: DataFrame, warmup: Int = 16,
      kCents: Long = 200L, hCents: Long = 1200L): DataFrame = {
    require(warmup >= 1 && kCents >= 0 && hCents > 0)
    val ser = integerSeries(events)
    val wU = Window.partitionBy(col("user_id")).orderBy(col("p"))
    val w = warmup.toLong
    // warm-up sum rides the same sorted pass as the cumsum: Sw = the
    // cumulative sum AT p = warmup, joined back user-keyed (AQE frame)
    val cums = ser.select(col("user_id"), col("p"), col("x"),
      sum(col("x")).over(wU).as("cx"))
    val sw = cums.filter(col("p") === w)
      .select(col("user_id"), col("cx").as("swu"))
    val z = cums.join(sw, Seq("user_id"))
      .filter(col("p") > w)
      .select(col("user_id"), col("p"),
        (lit(w) * (col("cx") - col("swu")) -
          (col("p") - lit(w)) * (col("swu") + lit(w) * lit(kCents)))
          .as("zt"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = z.select(col("user_id"), col("p"),
        (col("zt") - least(lit(0L), min(col("zt")).over(run))).as("sZ"))
      .withColumn("above", col("sZ") > lit(w) * lit(hCents))
      .withColumn("prevAbove",
        coalesce(lag(col("above"), 1).over(wU), lit(false)))
    st.filter(col("above") && !col("prevAbove"))
      .select(col("user_id"), col("p").as("pos"),
        r4(col("sZ").cast("double") / lit(100.0 * warmup)).as("s_value"))
      .orderBy(col("user_id"), col("pos"))
  }

  // B80 — CUSUM upcrossing alarms. FULL oracle: the identical integer
  // prefix-sum identity in SQL (cumsum + running min + lag), threshold
  // compared as integers, one final division replayed verbatim.
  private val q80 = Q(
    "q80_ts_cusum",
    (s, d) => tsCusumAlarms(Tables.events(s, d)),
    Some(s"""
      WITH ser AS (
        SELECT user_id,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS p,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
      cums AS (
        SELECT user_id, p, x,
          sum(x) OVER (PARTITION BY user_id ORDER BY p) AS cx
        FROM ser),
      sw AS (SELECT user_id, cx AS swu FROM cums WHERE p = 16),
      z AS (
        SELECT c.user_id, c.p,
          16 * (c.cx - s.swu) - (c.p - 16) * (s.swu + 16 * 200) AS zt
        FROM cums c JOIN sw s ON s.user_id = c.user_id
        WHERE c.p > 16),
      st AS (
        SELECT user_id, p,
          zt - least(CAST(0 AS BIGINT), min(zt) OVER
            (PARTITION BY user_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sz
        FROM z),
      fl AS (
        SELECT user_id, p, sz, sz > 16 * 1200 AS above,
          coalesce(lag(sz > 16 * 1200, 1) OVER
            (PARTITION BY user_id ORDER BY p), FALSE) AS prev_above
        FROM st)
      SELECT user_id, CAST(p AS BIGINT) AS pos,
        ${Num.r4Sql("CAST(sz AS DOUBLE) / 1600.0")} AS s_value
      FROM fl WHERE above AND NOT prev_above
      ORDER BY user_id, pos"""))

  /** B81's core: per-user OLS TREND LINE over the position axis —
    * slope, intercept and R² (the "is this user's telemetry trending,
    * and how confidently" one-liner; B78's drift uses two endpoints,
    * this is the least-squares fit over ALL points). Five integer
    * sufficient statistics per user (n, Σp, Σp², Σx, Σx², Σp·x — one
    * map-side-combinable hash aggregate, NO window sort even:
    * positions come from the shared rank pass) and one fixed IEEE
    * tail:
    *   slope = (n·Spx − Sp·Sx)/(n·Spp − Sp²)/100,
    *   intercept = (Sx/100 − slope·100·Sp... spelled as one tree below,
    *   R² = (n·Spx − Sp·Sx)²/((n·Spp − Sp²)·(n·Sxx − Sx²)).
    * Flat series are decided on the EXACT integer variance (R² = 0,
    * slope = 0 — a constant has no trend); single-event users drop
    * (no slope). Everything before the tail is exact, so the oracle
    * replays verbatim.
    */
  def tsTrendLine(events: DataFrame): DataFrame = {
    val ser = integerSeries(events)
    val st = ser.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"), sum(col("p")).as("sp"),
      sum(col("p") * col("p")).as("spp"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("p") * col("x")).as("spx"))
      .filter(col("n") >= 2)
    val covN = col("n") * col("spx") - col("sp") * col("sx") // integer
    val varP = col("n") * col("spp") - col("sp") * col("sp") // integer > 0
    val varX = col("n") * col("sxx") - col("sx") * col("sx") // integer >= 0
    val slope = covN.cast("double") / varP.cast("double") / lit(100.0)
    // intercept in original units: (Sx/n − slope·100·(Sp/n))/100 spelled
    // as ONE left-assoc tree both engines replay
    val intercept =
      (col("sx").cast("double") / col("n").cast("double") -
        covN.cast("double") / varP.cast("double") *
          (col("sp").cast("double") / col("n").cast("double"))) / lit(100.0)
    val r2c = covN.cast("double") * covN.cast("double") /
      (varP.cast("double") * varX.cast("double"))
    st.select(col("user_id"), col("n").as("n_events"),
      when(varX === 0L, lit(0.0)).otherwise(r4(slope)).as("slope"),
      when(varX === 0L, r4(col("sx").cast("double") / col("n").cast("double") / lit(100.0)))
        .otherwise(r4(intercept)).as("intercept"),
      when(varX === 0L, lit(0.0)).otherwise(r4(r2c)).as("r2"))
      .orderBy(col("user_id"))
  }

  // B81 — OLS trend line. FULL oracle: the same six integer sufficient
  // statistics as direct folds + the identical IEEE tail trees.
  private val q81 = Q(
    "q81_ts_trendline",
    (s, d) => tsTrendLine(Tables.events(s, d)),
    Some(s"""
      WITH ser AS (
        SELECT user_id,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS p,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
      st AS (
        SELECT user_id, count(*) AS n, sum(p) AS sp, sum(p * p) AS spp,
          sum(x) AS sx, sum(x * x) AS sxx, sum(p * x) AS spx
        FROM ser GROUP BY user_id HAVING count(*) >= 2)
      SELECT user_id, n AS n_events,
        CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
          ELSE ${Num.r4Sql("""CAST(n * spx - sp * sx AS DOUBLE)
            / CAST(n * spp - sp * sp AS DOUBLE) / 100.0""")} END AS slope,
        CASE WHEN n * sxx - sx * sx = 0
          THEN ${Num.r4Sql("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0")}
          ELSE ${Num.r4Sql("""(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(n * spx - sp * sx AS DOUBLE)
              / CAST(n * spp - sp * sp AS DOUBLE)
              * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0""")}
          END AS intercept,
        CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
          ELSE ${Num.r4Sql("""CAST(n * spx - sp * sx AS DOUBLE)
            * CAST(n * spx - sp * sx AS DOUBLE)
            / (CAST(n * spp - sp * sp AS DOUBLE)
              * CAST(n * sxx - sx * sx AS DOUBLE))""")} END AS r2
      FROM st ORDER BY user_id"""))

  /** B75's core: the MATRIX PROFILE AB-JOIN (Yeh et al., ICDM 2016 §IV
    * — the second canonical profile operator: for every window of
    * series A, the nearest window of series B, NO exclusion zone —
    * cross-series novelty/containment: a low AB-profile means A's
    * pattern already exists in B, a high one means behavior B never
    * exhibits). Series are the per-user event_type slices; positions
    * are per-slice event_id ranks ([[integerSeries]] per side).
    *
    * Same STOMP diagonal decomposition as [[diagonalPairStats]],
    * generalized to two series: a grid pair (sa, sb) lives on diagonal
    * d = sb − sa (both grids ≡ 1 mod stride ⇒ d ≡ 0 mod stride — the
    * lattice now runs NEGATIVE too, sb before sa, and d = 0 is
    * admissible since the series are distinct), QT is the L-window sum
    * over the diagonal's product series maintained by ONE
    * unbounded-preceding frame per (user, d) — O(1) per pair — and the
    * same pass carries ΣY² (B side) while ΣX² rides the A endpoint.
    * Product rows O(nA·nB/stride) per user, spread over the (user, d)
    * diagonal key family exactly like the self-join case.
    *
    * dist = (ΣX² + ΣY² − 2·QT)/10⁴ — the q59 AAMP integer identity —
    * then a per-(user, sa) struct-argmin, ONE-directional (A → B).
    * Windows of A with no complete B window drop (q59's partnerless
    * convention).
    */
  def tsAbJoinProfile(events: DataFrame, typeA: String, typeB: String,
      L: Int, stride: Int): DataFrame = {
    require(L >= 1 && stride >= 1 && typeA != typeB)
    val serA = integerSeries(events.filter(col("event_type") === typeA))
    val serB = integerSeries(events.filter(col("event_type") === typeB))
    val nA = serA.groupBy(col("user_id")).agg(max(col("p")).as("na"))
    val sigma = stride.toLong
    // B endpoint pB reaches A positions pA = pB − d ∈ [1, nA]:
    // d ∈ [pB − nA, pB − 1] ∩ (stride lattice). dstart = smallest
    // lattice point ≥ pB − nA via pmod (exact on negatives); dend =
    // largest ≤ pB − 1. The nA join is user-proportional — AQE
    // broadcasts while small, shuffles when not (the d2 rule, no hint).
    val right = serB
      .select(col("user_id"), col("p").as("p2"), col("x").as("y"))
      .join(nA, Seq("user_id"))
      .withColumn("k", col("p2") - col("na"))
      .withColumn("dstart", col("k") + pmod(-col("k"), lit(sigma)))
      .withColumn("dend",
        col("p2") - 1 - pmod(col("p2") - 1, lit(sigma)))
      .filter(col("dstart") <= col("dend"))
      .select(col("user_id"), col("p2"), col("y"),
        explode(sequence(col("dstart"), col("dend"), lit(sigma))).as("d"))
      .withColumn("p", col("p2") - col("d"))
    val prods = right.join(serA, Seq("user_id", "p"))
    val run = Window.partitionBy(col("user_id"), col("d")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = Window.partitionBy(col("user_id"), col("d")).orderBy(col("p"))
    // one Window operator per frame family (one select per frame, so
    // the columns share an operator): three running sums share `run`,
    // three lags share `off`.
    val cum = prods.select(col("user_id"), col("d"), col("p"),
      sum(col("x") * col("y")).over(run).as("cxy"),
      sum(col("x") * col("x")).over(run).as("cx2"),
      sum(col("y") * col("y")).over(run).as("cy2"))
    def winSum(c: String) =
      (col(c) - coalesce(lag(col(c), L).over(off), lit(0L))).as(c + "w")
    // complete windows: sa = p − L + 1 on the A grid and ≥ 1, sb =
    // sa + d ≥ 1 (binding only for negative d); both imply every
    // product row in [sa, p] exists on the diagonal, so the coalesce-0
    // lag is exact (the diagonal's first window is its full prefix).
    val pairs = cum.select(col("user_id"), col("d"), col("p"),
        winSum("cxy"), winSum("cx2"), winSum("cy2"))
      .filter(col("p") >= L && (col("p") - L) % sigma === 0 &&
        col("p") - L + 1 + col("d") >= 1)
      .select(col("user_id"), (col("p") - L + 1).as("sa"),
        (col("p") - L + 1 + col("d")).as("sb"),
        r4((col("cx2w") + col("cy2w") - lit(2L) * col("cxyw"))
          .cast("double") / lit(10000.0)).as("dist"))
    pairs.groupBy(col("user_id"), col("sa"))
      .agg(min(struct(col("dist"), col("sb"))).as("m"))
      .select(col("user_id"), col("sa").as("start"),
        col("m.sb").as("nn_start"), col("m.dist").as("dist"))
      .orderBy(col("user_id"), col("start"))
  }

  // B75 — AB-join profile (click windows vs view windows, L=4,
  // stride=2). FULL oracle: DuckDB replays the pairwise arithmetic
  // DIRECTLY over both grid-window tables (integer-scaled values, a
  // plain per-pair fold — algorithm-independent, pinning the diagonal
  // incremental path bit-exactly) and takes the per-A-window
  // (dist, nn_start) argmin.
  private val q75 = Q(
    "q75_ts_ab_join",
    (s, d) => tsAbJoinProfile(Tables.events(s, d),
      typeA = "click", typeB = "view", L = 4, stride = 2),
    Some(s"""
      WITH ua AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events WHERE event_type = 'click' GROUP BY user_id),
      ub AS (
        SELECT user_id, list(CAST(floor(value * 100 + 0.5) AS BIGINT)
          ORDER BY event_id) AS vs
        FROM events WHERE event_type = 'view' GROUP BY user_id),
      wa AS (
        SELECT user_id, s AS start, vs[s : s + 3] AS xs
        FROM ua, LATERAL (SELECT unnest(range(1, len(vs) + 1, 2)) AS s)
        WHERE s + 3 <= len(vs)),
      wb AS (
        SELECT user_id, s AS start, vs[s : s + 3] AS xs
        FROM ub, LATERAL (SELECT unnest(range(1, len(vs) + 1, 2)) AS s)
        WHERE s + 3 <= len(vs)),
      p AS (
        SELECT a.user_id, a.start AS s1, b.start AS s2,
          ${Num.r4Sql("""CAST(list_reduce(
            [(a.xs[i] - b.xs[i]) * (a.xs[i] - b.xs[i]) FOR i IN range(1, 5)],
            (x, y) -> x + y) AS DOUBLE) / 10000.0""")} AS dist
        FROM wa a JOIN wb b ON a.user_id = b.user_id)
      SELECT user_id, CAST(s1 AS BIGINT) AS start,
        CAST(s2 AS BIGINT) AS nn_start, dist
      FROM p
      QUALIFY row_number() OVER (PARTITION BY user_id, s1
        ORDER BY dist, s2) = 1
      ORDER BY user_id, start"""))

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38,
    q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52,
    q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66,
    q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78,
    q79, q80, q81)
}
