package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational query surface of the reference engine, executed natively.
  *
  * The reference (janovincze/philotes) delegates all of this to Trino over
  * the Iceberg tables it produces; its documented product surface is
  * `docs/query/sample-queries.sql` (see SURVEY.md §2.4 Q1-Q19). Here each
  * shape is a first-class, tested DataFrame program.
  *
  * Scale notes (100 TB design):
  *  - Every query is fully declarative — Catalyst pushes filters/projections
  *    into the parquet scan and picks join strategies; AQE re-plans at runtime.
  *  - Fixed-size dimension tables (region=5, nation=25, supplier=O(10/SF))
  *    are explicitly broadcast so fact-table joins never shuffle the big side.
  *  - Window functions partition by high-cardinality keys (custkey/user_id),
  *    so state is distributed; no global ORDER BY without a preceding
  *    aggregation or LIMIT (TakeOrderedAndProject).
  *  - Aggregates use partial (map-side) aggregation automatically.
  */
object Relational extends QueryModule {

  private def round2(c: Column): Column = round(c, 2)

  // ---- Q1-style pricing summary (scan → filter → hash agg; ref sample-queries.sql:69-74 shape)
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round2(sum(col("l_quantity"))).as("sum_qty"),
        round2(sum(col("l_extendedprice"))).as("sum_base_price"),
        round2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        round2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
        round2(avg(col("l_quantity"))).as("avg_qty"),
        round2(avg(col("l_extendedprice"))).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      | round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      | round(avg(l_quantity), 2) AS avg_qty,
      | round(avg(l_extendedprice), 2) AS avg_price,
      | round(avg(l_discount), 4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- Q2/Q4: projection + filter with date arithmetic + LIMIT
  // (ref sample-queries.sql:32,38-39 — the reference shape is LIMIT 100;
  // deterministic because the ORDER BY key is unique)
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") > lit("2001-08-01").cast("timestamp") - expr("INTERVAL 180 DAYS"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .limit(100)

  private val q02Sql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderdate > TIMESTAMP '2001-08-01' - INTERVAL 180 DAY
      |ORDER BY o_orderkey LIMIT 100""".stripMargin

  // ---- Q3: COUNT(*) (ref sample-queries.sql:35)
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))

  private val q03Sql = "SELECT count(*) AS n_rows FROM lineitem"

  // ---- Q7: date_trunc group-by + ORDER BY DESC (ref sample-queries.sql:69-74)
  private def q04(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("day"))

  private val q04Sql =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY n DESC, day""".stripMargin

  // ---- Q8: top-N → TakeOrderedAndProject, no full sort (ref sample-queries.sql:77-80)
  private def q05(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  private val q05Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---- Q9: running total (unbounded-preceding window SUM, ref sample-queries.sql:83-87)
  // Partitioned by customer → distributed window state, scales with key cardinality.
  private def q06(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round2(sum(col("o_totalprice")).over(w)).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q06Sql =
    """SELECT o_custkey, o_orderkey,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- Q10: latest-version-per-key dedup — the core CDC materialize operator
  // (ref sample-queries.sql:95-102)
  private def q07(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  private val q07Sql =
    """SELECT event_id, user_id, event_type, value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---- Q11: change history per key (filter + order, ref sample-queries.sql:105-112)
  private def q08(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") % 100 === 7 && col("event_type") =!= "view")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))

  private val q08Sql =
    """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM events
      |WHERE user_id % 100 = 7 AND event_type <> 'view'
      |ORDER BY user_id, ts, event_id""".stripMargin

  // ---- Q12: count by operation (ref sample-queries.sql:115-119)
  private def q09(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  private val q09Sql =
    "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1"

  // ---- Q13: equi-join + agg (ref sample-queries.sql:127-132).
  // customer is the smaller side → shuffle hash/broadcast chosen by AQE.
  private def q10(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round2(sum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("c_mktsegment"))

  private val q10Sql =
    """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- TPC-H Q5-style multiway join; explicit broadcast of fixed-size dims.
  private def q11(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  private val q11Sql =
    """SELECT r_name, n_name,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---- Q14: duplicate detection (GROUP BY HAVING COUNT>1, ref sample-queries.sql:166-169)
  private def q12(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy(col("n").desc, col("l_orderkey"))

  private val q12Sql =
    """SELECT l_orderkey, count(*) AS n FROM lineitem
      |GROUP BY 1 HAVING count(*) > 1 ORDER BY n DESC, l_orderkey""".stripMargin

  // ---- Q15: null-count data-quality profile (ref sample-queries.sql:172-176)
  private def q13(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      count(lit(1)).as("n_rows"),
      count(col("user_id")).as("n_user"),
      count(col("value")).as("n_value"),
      count(col("props")).as("n_props"))

  private val q13Sql =
    """SELECT count(*) AS n_rows, count(user_id) AS n_user,
      | count(value) AS n_value, count(props) AS n_props FROM events""".stripMargin

  // ---- Q16: freshness (max timestamp; wall-clock delta omitted for determinism,
  // ref sample-queries.sql:179-182)
  private def q14(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      max(col("ts")).as("latest_ts"),
      min(col("ts")).as("earliest_ts"),
      count(lit(1)).as("n"))

  private val q14Sql =
    """SELECT CAST(max(ts) AS TIMESTAMP) AS latest_ts,
      | CAST(min(ts) AS TIMESTAMP) AS earliest_ts, count(*) AS n FROM events""".stripMargin

  // ---- Q19: per-pipeline monitoring agg (group-by + count/min/max, ref sample-queries.sql:189-196)
  private def q15(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"), round2(sum(col("value"))).as("total_value"))
      .orderBy(col("event_type"))

  private val q15Sql =
    """SELECT event_type, count(*) AS n, CAST(min(ts) AS TIMESTAMP) AS first_ts,
      | CAST(max(ts) AS TIMESTAMP) AS last_ts,
      | round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- semi join (EXISTS)
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val q16Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---- anti join (NOT EXISTS)
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val q17Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---- set operations: UNION (distinct) then EXCEPT
  private def q18(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nationkey"))
    val excl = Tables.nation(s, d).filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").cast("int").as("nationkey"))
    cust.union(supp).distinct().except(excl).orderBy(col("nationkey"))
  }

  private val q18Sql =
    """SELECT nationkey FROM (
      |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
      |  UNION
      |  SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
      |) u WHERE nationkey NOT IN (
      |  SELECT CAST(n_nationkey AS INTEGER) FROM nation WHERE n_regionkey = 0)
      |ORDER BY nationkey""".stripMargin

  // ---- ROLLUP (subtotals + grand total)
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round2(sum(col("o_totalprice"))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private val q19Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- rank window: top-3 spenders per nation (rank over pre-rounded total
  // so engine-order of float summation can't flip ranks)
  private def q20(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(round2(sum(col("o_totalprice"))).as("total"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("total").desc, col("c_custkey"))
    spend.withColumn("rnk", rank().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .orderBy(col("c_nationkey"), col("rnk"), col("c_custkey"))
  }

  private val q20Sql =
    """SELECT c_nationkey, c_custkey, total, rnk FROM (
      |  SELECT c_nationkey, c_custkey, total,
      |    rank() OVER (PARTITION BY c_nationkey ORDER BY total DESC, c_custkey) AS rnk
      |  FROM (SELECT c_nationkey, c_custkey, round(sum(o_totalprice), 2) AS total
      |        FROM orders JOIN customer ON o_custkey = c_custkey
      |        GROUP BY 1, 2) spend) ranked
      |WHERE rnk <= 3 ORDER BY c_nationkey, rnk, c_custkey""".stripMargin

  // ---- string scalar functions
  private def q21(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      length(col("p_name")).cast("bigint").as("name_len"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      regexp_replace(lower(col("p_name")), " ", "_").as("slug"))
      .orderBy(col("p_partkey"))

  private val q21Sql =
    """SELECT p_partkey, upper(p_name) AS name_upper,
      | substring(p_type, 1, 5) AS type_prefix,
      | CAST(length(p_name) AS BIGINT) AS name_len,
      | p_brand || '#' || p_type AS brand_type,
      | replace(lower(p_name), ' ', '_') AS slug
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- math scalar functions
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      round2(abs(col("l_extendedprice") - col("l_quantity") * lit(100.0))).as("diff"),
      floor(col("l_quantity")).cast("bigint").as("qty_floor"),
      ceil(col("l_discount") * 100).cast("bigint").as("disc_pct"),
      round(sqrt(col("l_extendedprice")), 4).as("price_sqrt"),
      (col("l_orderkey") % 7).as("mod7"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q22Sql =
    """SELECT l_orderkey, l_linenumber,
      | round(abs(l_extendedprice - l_quantity * 100.0), 2) AS diff,
      | CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
      | CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct,
      | round(sqrt(l_extendedprice), 4) AS price_sqrt,
      | l_orderkey % 7 AS mod7
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- CASE WHEN bucketing
  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("bucket",
        when(col("o_totalprice") > 300000, "large")
          .when(col("o_totalprice") > 100000, "medium")
          .otherwise("small"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round2(avg(col("o_totalprice"))).as("avg_price"))
      .orderBy(col("bucket"))

  private val q23Sql =
    """SELECT CASE WHEN o_totalprice > 300000 THEN 'large'
      |            WHEN o_totalprice > 100000 THEN 'medium'
      |            ELSE 'small' END AS bucket,
      | count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- DISTINCT aggregation
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  private val q24Sql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- aggregation over aggregation (CTE)
  private def q25(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"))
      .agg(round(avg(col("n")), 4).as("avg_daily"),
        max(col("n")).as("max_daily"),
        min(col("n")).as("min_daily"),
        count(lit(1)).as("n_days"))

  private val q25Sql =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT round(avg(n), 4) AS avg_daily, max(n) AS max_daily,
      |  min(n) AS min_daily, count(*) AS n_days FROM daily""".stripMargin

  // ---- statistical aggregates
  private def q26(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(round2(stddev_samp(col("o_totalprice"))).as("sd_price"),
        round(corr(col("o_totalprice"), col("o_custkey")), 4).as("corr_price_cust"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  private val q26Sql =
    """SELECT o_orderstatus, round(stddev_samp(o_totalprice), 2) AS sd_price,
      | round(corr(o_totalprice, o_custkey), 4) AS corr_price_cust, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- GROUPING SETS via the DataFrame API (no session-state side effects)
  private def q27(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private val q27Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- correlated scalar subquery via the SQL surface. Per-call unique
  // view names: registering fixed names would leak session-global state
  // that could bind a concurrent query to the wrong scale-factor dir.
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  private def q28(s: SparkSession, d: String): DataFrame = {
    val tag = s"q28_${viewSeq.incrementAndGet()}"
    // spark.sql analyzes eagerly (the returned DataFrame's plan holds the
    // resolved relations), so the views can be dropped before execution —
    // no session-catalog growth in a long-lived service.
    try {
      Tables.orders(s, d).createOrReplaceTempView(s"orders_$tag")
      Tables.customer(s, d).createOrReplaceTempView(s"customer_$tag")
      s.sql(
        s"""SELECT c_custkey, c_name,
           |  (SELECT count(*) FROM orders_$tag WHERE o_custkey = c_custkey) AS n_orders
           |FROM customer_$tag
           |WHERE (SELECT count(*) FROM orders_$tag WHERE o_custkey = c_custkey) > 15
           |ORDER BY c_custkey""".stripMargin)
    } finally {
      s.catalog.dropTempView(s"orders_$tag")
      s.catalog.dropTempView(s"customer_$tag")
    }
  }

  private val q28Sql =
    """SELECT c_custkey, c_name,
      |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer
      |WHERE (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) > 15
      |ORDER BY c_custkey""".stripMargin

  // ---- moving average over daily aggregates (rows frame).
  // The window has no partitionBy BY DESIGN: its input is the per-day
  // aggregate, whose cardinality is bounded by the calendar (~365 rows/
  // year regardless of data volume), so the single-partition sort is
  // metadata-sized even at 100 TB. Windows over raw rows partition by a
  // key (see q06/q20/q40).
  private def q29(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily.select(col("day"), col("n"), round(avg(col("n")).over(w), 4).as("ma7"))
      .orderBy(col("day"))
  }

  private val q29Sql =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      |  FROM events GROUP BY 1)
      |SELECT day, n, round(avg(n) OVER (ORDER BY day
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
      |FROM daily ORDER BY day""".stripMargin

  // ---- UNION ALL with literal tags
  private def q30(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select(lit("high").as("tier"), col("o_orderkey"), col("o_totalprice"))
    val lo = Tables.orders(s, d).filter(col("o_totalprice") < 5000)
      .select(lit("low").as("tier"), col("o_orderkey"), col("o_totalprice"))
    hi.unionAll(lo).orderBy(col("tier"), col("o_orderkey"))
  }

  private val q30Sql =
    """SELECT 'high' AS tier, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
      |UNION ALL
      |SELECT 'low' AS tier, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 5000
      |ORDER BY tier, o_orderkey""".stripMargin

  // ---- tumbling time windows (epoch-aligned, same boundaries as DuckDB
  // time_bucket)
  private def q31(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours").getField("start").as("window_start"))
      .agg(count(lit(1)).as("n"), round2(sum(col("value"))).as("total_value"))
      .orderBy(col("window_start"))

  private val q31Sql =
    """SELECT CAST(time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
      |   AS window_start,
      | count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- hopping (sliding) window: 12 h windows every 6 h — each event
  // lands in exactly two windows. Spark's window() handles the fan-out
  // natively (batch and streaming share the semantics); the oracle
  // replays it as an explicit 2-way hop explode.
  private def q36(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "12 hours", "6 hours")
        .getField("start").as("window_start"))
      .agg(count(lit(1)).as("n"), round2(sum(col("value"))).as("total_value"))
      .orderBy(col("window_start"))

  private val q36Sql =
    """SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM (
      |  SELECT CAST(time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
      |           - k * INTERVAL 6 HOUR AS window_start,
      |         value
      |  FROM events, unnest([0, 1]) AS t(k))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- as-of join: attach to every event the user's most recent
  // "milestone" (value > 0.95) at or before the event's timestamp.
  // Spark has no native ASOF JOIN; the scalable composition is a
  // range-frame window over the union of both sides — ONE shuffle by
  // key, state bounded per key, no per-row subquery. The default
  // ORDER BY frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW) includes
  // timestamp ties, which matches the oracle's `m.ts <= e.ts` —
  // DuckDB executes the same semantics with its native ASOF LEFT JOIN.
  private def q37(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(s, d)
      .withColumn("mts", when(col("value") > 0.95, col("ts")))
      .withColumn("asof_ts", max(col("mts")).over(w))
      .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"))
      .orderBy(col("event_id"))
  }

  private val q37Sql =
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  CAST(m.ts AS TIMESTAMP) AS asof_ts
      |FROM events e ASOF LEFT JOIN
      |  (SELECT user_id, ts FROM events WHERE value > 0.95) m
      |  ON e.user_id = m.user_id AND m.ts <= e.ts
      |ORDER BY e.event_id""".stripMargin

  // ---- first/last value windows: each customer's first and latest order
  // over an explicit unbounded frame (last_value needs it — the default
  // frame ends at CURRENT ROW and silently returns the current row's
  // value, a classic window footgun both engines share).
  private def q38(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        count(lit(1)).over(w).as("n_orders"))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  private val q38Sql =
    """SELECT DISTINCT o_custkey,
      | first_value(o_orderkey) OVER w AS first_order,
      | last_value(o_orderkey) OVER w AS last_order,
      | count(*) OVER w AS n_orders
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey""".stripMargin

  // ---- salted skew join: semantically identical to the plain equi-join
  // (the oracle IS the plain join) but the fact side's hot keys spread
  // over 8 shuffle partitions per key — the static answer when one key
  // dominates beyond what AQE's runtime skew split can absorb.
  private def q39(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val dims = Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
    Skew.saltedEquiJoin(facts, dims, "okey", 8)
      .groupBy(col("o_orderstatus"))
      .agg(round2(sum(col("l_quantity"))).as("total_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  private val q39Sql =
    """SELECT o_orderstatus, round(sum(l_quantity), 2) AS total_qty,
      | count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- running DISTINCT count over a window: neither engine supports
  // COUNT(DISTINCT) OVER, so both build it the scalable way — flag each
  // key's first occurrence (row_number = 1 over key within partition),
  // then running-sum the flags by event order. One shuffle by customer;
  // no per-row set state.
  private def q40(s: SparkSession, d: String): DataFrame = {
    val firstOcc = Window.partitionBy(col("o_custkey"), col("o_orderpriority"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("first_occ",
        when(row_number().over(firstOcc) === 1, 1L).otherwise(0L))
      .withColumn("n_distinct_priorities", sum(col("first_occ")).over(running))
      .select(col("o_custkey"), col("o_orderkey"),
        col("n_distinct_priorities"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q40Sql =
    """SELECT o_custkey, o_orderkey,
      | CAST(sum(first_occ) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |   AS n_distinct_priorities
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CASE WHEN row_number() OVER (PARTITION BY o_custkey, o_orderpriority
      |      ORDER BY o_orderdate, o_orderkey) = 1 THEN 1 ELSE 0 END AS first_occ
      |  FROM orders)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- sessionization: gap > 1 h starts a new session. The classic
  // lag → break flag → running sum pattern; both the flag and the
  // cumulative sum partition by user, so state distributes by key.
  private def q32(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 3600, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q32Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 3600
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM e)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin

  // ---- exact interpolated percentiles (both engines use linear
  // interpolation: Spark percentile == DuckDB quantile_cont)
  private def q33(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  private val q33Sql =
    """SELECT o_orderstatus,
      | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      | round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
      | count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- PIVOT: priorities to columns (explicit value list keeps the
  // output schema static — at scale an implicit pivot would scan twice)
  private val Priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PriorityCols = Seq("urgent", "high", "medium", "unspecified", "low")

  private def q34(s: SparkSession, d: String): DataFrame = {
    val pivoted = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Priorities)
      .agg(count(lit(1)))
    Priorities.zip(PriorityCols)
      .foldLeft(pivoted) { case (df, (v, n)) => df.withColumnRenamed(v, n) }
      .orderBy(col("o_orderstatus"))
  }

  private val q34Sql =
    """SELECT o_orderstatus,
      | count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
      | count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
      | count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
      | count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
      | count(*) FILTER (o_orderpriority = '5-LOW') AS low
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- array functions over the embedding column (min/max are exact on
  // floats; mean goes through the scaled-integer representation)
  private def q35(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).cast("bigint").as("dim"),
      array_min(col("embedding")).cast("double").as("c_min"),
      array_max(col("embedding")).cast("double").as("c_max"),
      graft.functions.ScaledDotProduct(
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")),
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")))
        .as("nrm2_scaled"))
      .orderBy(col("vec_id"))

  private val q35Sql =
    """SELECT vec_id,
      | CAST(len(embedding) AS BIGINT) AS dim,
      | CAST(list_min(embedding) AS DOUBLE) AS c_min,
      | CAST(list_max(embedding) AS DOUBLE) AS c_max,
      | CAST(list_sum(list_transform(embedding,
      |   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |        * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS nrm2_scaled
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---- CUBE: all 2^2 grouping-set combinations in one pass with the
  // grouping_id bitmask (bit set = dimension aggregated away) — the same
  // single-shuffle expansion ROLLUP gets in q19. Both engines use the
  // identical bit encoding, so gid is oracle-exact.
  private def q41(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n"), round2(sum(col("o_totalprice"))).as("total"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("n"), col("total"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val q41Sql =
    """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      | o_orderstatus, o_orderpriority, count(*) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- offset windows: lead/lag neighbors + ntile quartile per status
  // partition. Pure window pass — one shuffle by partition key, no joins.
  private def q42(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      ntile(4).over(w).cast("bigint").as("quartile"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  private val q42Sql =
    """SELECT o_orderstatus, o_orderkey, o_totalprice,
      | lag(o_totalprice, 1) OVER w AS prev_price,
      | lead(o_totalprice, 1) OVER w AS next_price,
      | CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  // ---- range (band) join: events bucketed into value bands via a
  // non-equi join against a tiny broadcast band table — the 100 TB shape
  // for histogram/banding joins (BroadcastNestedLoopJoin over 4 rows; the
  // fact side is never shuffled for the join). The band mean is computed
  // in exact integer cents so both engines agree bit-for-bit.
  private val ValueBands = Seq(
    (1L, 0.0, 50.0), (2L, 50.0, 100.0), (3L, 100.0, 200.0), (4L, 200.0, 500.0))

  private def q43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = ValueBands.toDF("band_id", "lo", "hi")
    Tables.events(s, d)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("band_id"), col("n"),
        round(col("cents") / lit(100.0) / col("n"), 4).as("avg_value"))
      .orderBy(col("band_id"))
  }

  private val q43Sql = {
    val bandRows = ValueBands
      .map { case (id, lo, hi) => s"($id, $lo, $hi)" }.mkString(", ")
    s"""WITH bands(band_id, lo, hi) AS (VALUES $bandRows)
       |SELECT band_id, count(*) AS n,
       |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |    / 100.0 / count(*), 4) AS avg_value
       |FROM events JOIN bands ON value >= lo AND value < hi
       |GROUP BY band_id ORDER BY band_id""".stripMargin
  }

  // ---- distribution windows: percent_rank / cume_dist per status over
  // the order key — both are exact rationals ((rank-1)/(n-1), rank/n) of
  // integers, so the single double division is bit-identical across
  // engines. One window shuffle, no joins.
  private def q44(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderstatus"), col("o_orderkey"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  private val q44Sql =
    """SELECT o_orderstatus, o_orderkey,
      | round(percent_rank() OVER w, 6) AS pct_rank,
      | round(cume_dist() OVER w, 6) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery("q01_pricing_summary", q01, Some(q01Sql)),
    GraftQuery("q02_filter_project", q02, Some(q02Sql)),
    GraftQuery("q03_count_star", q03, Some(q03Sql)),
    GraftQuery("q04_date_trunc_agg", q04, Some(q04Sql)),
    GraftQuery("q05_topn", q05, Some(q05Sql)),
    GraftQuery("q06_running_total", q06, Some(q06Sql)),
    GraftQuery("q07_latest_state", q07, Some(q07Sql)),
    GraftQuery("q08_change_history", q08, Some(q08Sql)),
    GraftQuery("q09_count_by_type", q09, Some(q09Sql)),
    GraftQuery("q10_join_agg", q10, Some(q10Sql)),
    GraftQuery("q11_multiway_join", q11, Some(q11Sql)),
    GraftQuery("q12_dup_detect", q12, Some(q12Sql)),
    GraftQuery("q13_null_profile", q13, Some(q13Sql)),
    GraftQuery("q14_freshness", q14, Some(q14Sql)),
    GraftQuery("q15_monitoring_agg", q15, Some(q15Sql)),
    GraftQuery("q16_semi_join", q16, Some(q16Sql)),
    GraftQuery("q17_anti_join", q17, Some(q17Sql)),
    GraftQuery("q18_set_ops", q18, Some(q18Sql)),
    GraftQuery("q19_rollup", q19, Some(q19Sql)),
    GraftQuery("q20_window_rank", q20, Some(q20Sql)),
    GraftQuery("q21_string_funcs", q21, Some(q21Sql)),
    GraftQuery("q22_math_funcs", q22, Some(q22Sql)),
    GraftQuery("q23_case_when", q23, Some(q23Sql)),
    GraftQuery("q24_distinct_agg", q24, Some(q24Sql)),
    GraftQuery("q25_agg_of_agg", q25, Some(q25Sql)),
    GraftQuery("q26_stats_agg", q26, Some(q26Sql)),
    GraftQuery("q27_grouping_sets", q27, Some(q27Sql)),
    GraftQuery("q28_corr_subquery", q28, Some(q28Sql)),
    GraftQuery("q29_moving_avg", q29, Some(q29Sql)),
    GraftQuery("q30_union_all", q30, Some(q30Sql)),
    GraftQuery("q31_tumbling_window", q31, Some(q31Sql)),
    GraftQuery("q32_sessionize", q32, Some(q32Sql)),
    GraftQuery("q33_percentiles", q33, Some(q33Sql)),
    GraftQuery("q34_pivot", q34, Some(q34Sql)),
    GraftQuery("q35_array_funcs", q35, Some(q35Sql)),
    GraftQuery("q36_hopping_window", q36, Some(q36Sql)),
    GraftQuery("q37_asof_join", q37, Some(q37Sql)),
    GraftQuery("q38_first_last", q38, Some(q38Sql)),
    GraftQuery("q39_salted_join", q39, Some(q39Sql)),
    GraftQuery("q40_running_distinct", q40, Some(q40Sql)),
    GraftQuery("q41_cube", q41, Some(q41Sql)),
    GraftQuery("q42_offset_windows", q42, Some(q42Sql)),
    GraftQuery("q43_range_join", q43, Some(q43Sql)),
    GraftQuery("q44_dist_windows", q44, Some(q44Sql)),
    GraftQuery("q45_time_range_window", q45, Some(q45Sql)),
  )

  // ---- time-RANGE window frame: "events in the trailing 24 h per user"
  // — the value-based frame class (RANGE over an order key, peers
  // included) the ROWS-based q29/q42 don't exercise. Order key is epoch
  // SECONDS so both engines frame on identical integers; aggregates are
  // exact integers so tie-peer inclusion hashes identically. Scale: one
  // hash partition by user + sort — the same single-exchange shape as
  // every keyed window here.
  private def q45(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      unix_timestamp(col("ts")).as("es"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("es"))
      .rangeBetween(-86400, 0)
    ev.select(col("user_id"), col("event_id"),
      count(lit(1)).over(w).as("n_24h"),
      sum(col("event_id")).over(w).as("sum_id_24h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val q45Sql =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
      |SELECT user_id, event_id,
      |  count(*) OVER w AS n_24h,
      |  CAST(sum(event_id) OVER w AS BIGINT) AS sum_id_24h
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin
}
