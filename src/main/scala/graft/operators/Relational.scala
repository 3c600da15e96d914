package graft.operators

import graft.GQuery
import graft.util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory (SURVEY.md §2.2 rows 1–8): scans,
  * projection/filter, joins of every flavor, aggregation, window
  * functions, sort/limit/top-k, set ops, scalar functions, subqueries.
  *
  * Every query is batch DataFrame-first so Catalyst handles pushdown /
  * pruning / join selection, ends in a total ORDER BY on unique keys,
  * and has a DuckDB oracle with identical column names. Double
  * aggregates go through dsum/davg (exact decimal accumulation) so the
  * result is bit-identical regardless of partitioning — this is what
  * makes the same code correct at sf0.001 and at 100 TB.
  */
object Relational {

  // ---- flagship: TPC-H Q1-style pricing summary --------------------
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlDsum("l_quantity")} AS sum_qty,
       | ${sqlDsum("l_extendedprice")} AS sum_base_price,
       | ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       | ${sqlDsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       | ${sqlDavg("l_quantity")} AS avg_qty,
       | ${sqlDavg("l_extendedprice")} AS avg_price,
       | ${sqlDavg("l_discount")} AS avg_disc,
       | count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- projection / filter / CASE ----------------------------------
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_size") >= 10 && col("p_retailprice").isNotNull)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        (col("p_retailprice") * lit(1.1)).cast("decimal(18,4)").cast("double").as("marked_up"),
        when(col("p_size") < 20, lit("small"))
          .when(col("p_size") < 40, lit("medium"))
          .otherwise(lit("large")).as("size_class"))
      .orderBy(col("p_partkey"))

  val q2Sql: String =
    """SELECT p_partkey, upper(p_brand) AS brand_uc,
      | cast(cast(p_retailprice * 1.1 as decimal(18,4)) as double) AS marked_up,
      | CASE WHEN p_size < 20 THEN 'small' WHEN p_size < 40 THEN 'medium'
      |      ELSE 'large' END AS size_class
      |FROM part
      |WHERE p_size >= 10 AND p_retailprice IS NOT NULL
      |ORDER BY p_partkey""".stripMargin

  /** PER-GROUP OLS — slope and intercept of extendedprice on quantity
    * within each return flag, from exact integer sufficient
    * statistics (n, Σx, Σy, Σxy, Σx² with price in cents, quantity in
    * units — all map-side-partial longs; Σxy ≤ n·50·10⁷ stays inside
    * int64 through any SF that fits a cluster) and ONE mirrored
    * double expression at the end (the q65 discipline):
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    * intercept = (Σy − slope·Σx)/n. The per-group regression every
    * BI layer ships, with none of the float-reassociation
    * nondeterminism a naive avg-based formulation has. */
  def q124GroupOls(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 4)
          .as("slope_cents_per_unit"),
        round((col("sy").cast("double") -
          ((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"))) *
            col("sx").cast("double")) / col("n").cast("double"), 4)
          .as("intercept_cents"))
      .orderBy(col("l_returnflag"))

  val q124Sql: String =
    """WITH m AS (
      | SELECT l_returnflag, cast(count(*) as bigint) AS n,
      |  cast(sum(cast(l_quantity as bigint)) as bigint) AS sx,
      |  cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint) AS sy,
      |  cast(sum(cast(l_quantity as bigint)
      |    * cast(round(l_extendedprice * 100) as bigint)) as bigint) AS sxy,
      |  cast(sum(cast(l_quantity as bigint) * cast(l_quantity as bigint))
      |    as bigint) AS sxx
      | FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      | round((cast(n as double) * cast(sxy as double)
      |    - cast(sx as double) * cast(sy as double)) /
      |   (cast(n as double) * cast(sxx as double)
      |    - cast(sx as double) * cast(sx as double)), 4)
      |   AS slope_cents_per_unit,
      | round((cast(sy as double)
      |   - ((cast(n as double) * cast(sxy as double)
      |       - cast(sx as double) * cast(sy as double)) /
      |      (cast(n as double) * cast(sxx as double)
      |       - cast(sx as double) * cast(sx as double)))
      |     * cast(sx as double)) / cast(n as double), 4) AS intercept_cents
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---- joins --------------------------------------------------------
  /** Inner equi-join orders⋈customer; revenue per market segment.
    * customer is small → Catalyst broadcasts it under AQE; at 100 TB
    * the orders side stays shuffle-free. */
  def q3JoinInner(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val q3Sql: String =
    s"""SELECT c_mktsegment, ${sqlDsum("o_totalprice")} AS revenue,
       | count(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Left outer join keeping customers with zero orders. */
  def q4JoinLeft(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  val q4Sql: String =
    s"""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
       | coalesce(${sqlDsum("o_totalprice")}, 0.0) AS total_spent
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** Left-semi join: customers that have at least one 'F' order. */
  def q5JoinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val q5Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no orders at all. */
  def q6JoinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q6Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Multi-way star join with explicit broadcast of every dimension
    * (TPC-H Q5 shape): at scale only the fact table streams. */
  def q7StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    li.join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q7Sql: String =
    s"""SELECT r_name, n_name,
       | ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue,
       | count(*) AS n_items
       |FROM lineitem
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Full outer join over per-nation customer/supplier counts. */
  def q8JoinFull(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val s = t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val q8Sql: String =
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
      |      FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
      |      FROM supplier GROUP BY 1) s USING (nationkey)
      |ORDER BY nationkey""".stripMargin

  /** Cross join (small×small only — never cross-join facts at scale). */
  def q9CrossJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    r.crossJoin(n)
      .select(col("r_regionkey"), col("n_nationkey"),
        concat_ws("-", col("r_name"), col("n_name")).as("pair"))
      .orderBy(col("r_regionkey"), col("n_nationkey"))
  }

  val q9Sql: String =
    """SELECT r_regionkey, n_nationkey,
      | concat_ws('-', r_name, n_name) AS pair
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  /** Range (non-equi) join: lineitems shipped within 30 days of their
    * order date. Equi key + range residual → sort-merge join with the
    * range as a post-filter; at scale the equi key carries the shuffle. */
  def q10RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_fast"), dsum(col("l_quantity")).as("qty"))
      .orderBy(col("o_orderpriority"))
  }

  val q10Sql: String =
    s"""SELECT o_orderpriority, count(*) AS n_fast,
       | ${sqlDsum("l_quantity")} AS qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | AND l_shipdate >= o_orderdate
       | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- aggregation --------------------------------------------------
  def q11AggStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy(col("l_returnflag"))

  val q11Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      | count(DISTINCT l_orderkey) AS n_orders,
      | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      | min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP over (status, priority); grouping() columns disambiguate
    * the subtotal rows vs genuine NULL groups. */
  def q12Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping("o_orderstatus").cast("long").as("g_status"),
        grouping("o_orderpriority").cast("long").as("g_priority"),
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("g_status"), col("g_priority"),
        col("o_orderstatus"), col("o_orderpriority"))

  val q12Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       | cast(grouping(o_orderstatus) as bigint) AS g_status,
       | cast(grouping(o_orderpriority) as bigint) AS g_priority,
       | count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin

  /** CUBE over (returnflag, linestatus). */
  def q13Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping("l_returnflag").cast("long").as("g_rf"),
        grouping("l_linestatus").cast("long").as("g_ls"),
        count(lit(1)).as("n"))
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))

  val q13Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | cast(grouping(l_returnflag) as bigint) AS g_rf,
      | cast(grouping(l_linestatus) as bigint) AS g_ls, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin

  /** HAVING: only order-status groups above a size threshold. */
  def q14Having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), davg(col("o_totalprice")).as("avg_price"))
      .filter(col("n") > 100)
      .orderBy(col("o_orderpriority"))

  val q14Sql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       | ${sqlDavg("o_totalprice")} AS avg_price
       |FROM orders GROUP BY o_orderpriority
       |HAVING count(*) > 100 ORDER BY o_orderpriority""".stripMargin

  // ---- window functions ---------------------------------------------
  /** row_number / rank / dense_rank / lag / lead over one window.
    * Tie-broken by the unique o_orderkey so ranks are deterministic. */
  def q15WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .filter(col("rn") <= 5)
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  val q15Sql: String =
    """SELECT * FROM (
      | SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  cast(row_number() OVER w as bigint) AS rn,
      |  cast(rank() OVER w as bigint) AS rnk,
      |  cast(dense_rank() OVER w as bigint) AS drnk,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price
      | FROM orders
      | WINDOW w AS (PARTITION BY o_orderpriority
      |              ORDER BY o_totalprice DESC, o_orderkey)
      |) WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin

  /** Running sum with an explicit ROWS frame (per-supplier cumulative
    * quantity in ship order). */
  def q16WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    t(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"),
        sum(col("l_quantity").cast("decimal(18,4)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_qty"),
        avg(col("l_quantity"))
          .over(w.rowsBetween(-2, Window.currentRow)).as("ma3_raw"))
      .withColumn("ma3", round(col("ma3_raw"), 4)).drop("ma3_raw")
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  val q16Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      | cast(sum(cast(l_quantity as decimal(18,4)))
      |   OVER (PARTITION BY l_suppkey
      |         ORDER BY l_shipdate, l_orderkey, l_linenumber
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
      |   AS running_qty,
      | round(avg(l_quantity)
      |   OVER (PARTITION BY l_suppkey
      |         ORDER BY l_shipdate, l_orderkey, l_linenumber
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
      |FROM lineitem WHERE l_suppkey <= 3
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  /** ntile decile assignment over account balance — via the range-
    * partitioned DistRank.withNtile, not a global `ntile() OVER (ORDER
    * BY ...)`: the partition-less window funnels the whole customer
    * table through a single task at scale. */
  def q17Ntile(spark: SparkSession, dir: String): DataFrame =
    DistRank.withNtile(
        t(spark, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
        Seq(col("c_acctbal"), col("c_custkey")), 10, "decile")
      .orderBy(col("c_custkey"))

  val q17Sql: String =
    """SELECT c_custkey, c_acctbal,
      | cast(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) as bigint) AS decile
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- sort / limit / top-k ------------------------------------------
  /** Global top-N: Spark plans this as TakeOrderedAndProject — no full
    * sort at scale, each partition keeps N then the driver merges. */
  def q18TopN(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val q18Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** Per-group top-k via window row_number (Spark 4 rewrites to
    * WindowGroupLimit: partial top-k before the shuffle). */
  def q19TopKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q19Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  cast(row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey) as bigint) AS rn
      | FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ---- set operations -------------------------------------------------
  def q20UnionAll(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nationkey"), lit("cust").as("side"))
    val s = t(spark, dir, "supplier")
      .select(col("s_nationkey").cast("long").as("nationkey"), lit("supp").as("side"))
    c.unionAll(s).groupBy(col("nationkey"), col("side"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"), col("side"))
  }

  val q20Sql: String =
    """SELECT nationkey, side, count(*) AS n FROM (
      | SELECT cast(c_nationkey as bigint) AS nationkey, 'cust' AS side FROM customer
      | UNION ALL
      | SELECT cast(s_nationkey as bigint) AS nationkey, 'supp' AS side FROM supplier)
      |GROUP BY nationkey, side ORDER BY nationkey, side""".stripMargin

  def q21Intersect(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
    val s = t(spark, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
    c.intersect(s).orderBy(col("nationkey"))
  }

  val q21Sql: String =
    """SELECT cast(c_nationkey as bigint) AS nationkey FROM customer
      |INTERSECT
      |SELECT cast(s_nationkey as bigint) AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  def q22Except(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
    val s = t(spark, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
    c.except(s).orderBy(col("nationkey"))
  }

  val q22Sql: String =
    """SELECT cast(c_nationkey as bigint) AS nationkey FROM customer
      |EXCEPT
      |SELECT cast(s_nationkey as bigint) AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  def q23UnionDistinct(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
    val s = t(spark, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
    c.union(s).distinct().orderBy(col("nationkey"))
  }

  val q23Sql: String =
    """SELECT cast(c_nationkey as bigint) AS nationkey FROM customer
      |UNION
      |SELECT cast(s_nationkey as bigint) AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  // ---- scalar functions ------------------------------------------------
  def q24StringFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        lower(col("c_name")).as("lname"),
        length(col("c_name")).cast("long").as("name_len"),
        substring(col("c_name"), 1, 4).as("prefix"),
        trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("seg_trim"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("digits"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("joined"))
      .orderBy(col("c_custkey"))

  val q24Sql: String =
    """SELECT c_custkey, lower(c_name) AS lname,
      | cast(length(c_name) as bigint) AS name_len,
      | substring(c_name, 1, 4) AS prefix,
      | trim(concat('  ', c_mktsegment, '  ')) AS seg_trim,
      | coalesce(regexp_extract(c_name, '(\d+)', 1), '') AS digits,
      | concat_ws('|', c_name, c_mktsegment) AS joined
      |FROM customer ORDER BY c_custkey""".stripMargin

  def q25DateFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"))
      .orderBy(col("o_orderkey"))

  val q25Sql: String =
    """SELECT o_orderkey,
      | cast(extract(year FROM o_orderdate) as bigint) AS yr,
      | cast(extract(month FROM o_orderdate) as bigint) AS mo,
      | cast(extract(day FROM o_orderdate) as bigint) AS dom,
      | date_trunc('month', o_orderdate) AS month_start,
      | cast(datediff('day', cast(o_orderdate as date), DATE '2002-01-01') as bigint)
      |   AS days_to_2002
      |FROM orders ORDER BY o_orderkey""".stripMargin

  def q26MathFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price_r2"),
        abs(col("l_discount") - lit(0.05)).as("disc_dev"),
        floor(col("l_quantity")).cast("long").as("qty_floor"),
        ceil(col("l_quantity")).cast("long").as("qty_ceil"),
        round(sqrt(col("l_extendedprice")), 6).as("price_sqrt"),
        round(log(col("l_extendedprice") + lit(1.0)), 6).as("price_ln"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q26Sql: String =
    """SELECT l_orderkey, l_linenumber,
      | round(l_extendedprice, 2) AS price_r2,
      | abs(l_discount - 0.05) AS disc_dev,
      | cast(floor(l_quantity) as bigint) AS qty_floor,
      | cast(ceil(l_quantity) as bigint) AS qty_ceil,
      | round(sqrt(l_extendedprice), 6) AS price_sqrt,
      | round(ln(l_extendedprice + 1.0), 6) AS price_ln,
      | l_orderkey % 7 AS key_mod7
      |FROM lineitem WHERE l_orderkey <= 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** JSON extraction from the events.props string column. */
  def q27Json(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .orderBy(col("event_id"))

  val q27Sql: String =
    """SELECT event_id,
      | cast(json_extract_string(props, '$.k') as bigint) AS k_val
      |FROM events ORDER BY event_id""".stripMargin

  // ---- subqueries -------------------------------------------------------
  /** Scalar subquery: customers above the average account balance. */
  def q28ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val avgBal = c.agg(davg(col("c_acctbal")).as("a"))
    c.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val q28Sql: String =
    s"""SELECT c_custkey, c_acctbal FROM customer
       |WHERE c_acctbal > (SELECT ${sqlDavg("c_acctbal")} FROM customer)
       |ORDER BY c_custkey""".stripMargin

  /** IN-subquery: orders from the top spending decile of customers. */
  def q29InSubquery(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 8000)
      .select(col("c_custkey"))
    val o = t(spark, dir, "orders")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val q29Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
      |ORDER BY o_orderkey""".stripMargin

  /** GROUPING SETS via the SQL surface (temp view + spark.sql). */
  def q30GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_gs")
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         | cast(grouping(o_orderstatus) as bigint) AS g_s,
         | cast(grouping(o_orderpriority) as bigint) AS g_p,
         | count(*) AS n
         |FROM orders_gs
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""".stripMargin)
  }

  val q30Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      | cast(grouping(o_orderstatus) as bigint) AS g_s,
      | cast(grouping(o_orderpriority) as bigint) AS g_p,
      | count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""".stripMargin

  /** Right outer join: all customers kept, only their 'O'-status
    * orders counted — the mirror of q4's left join (at scale Spark
    * plans it as the same shuffled hash join with sides swapped). */
  def q32JoinRight(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    val c = t(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_open"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("open_total"))
      .orderBy(col("c_custkey"))
  }

  val q32Sql: String =
    s"""SELECT c_custkey, c_name, count(o_orderkey) AS n_open,
       | coalesce(${sqlDsum("o_totalprice")}, 0.0) AS open_total
       |FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') o
       |RIGHT JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** Map-type functions: parse events.props JSON into map<string,long>,
    * then map_keys / map_values / element_at / map_contains_key /
    * map_concat (SURVEY.md §2.2 scalar-fns `map` row). */
  def q33MapFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("m", from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")))
      .select(col("event_id"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        size(map_keys(col("m"))).cast("long").as("n_keys"),
        element_at(col("m"), "k").as("k_val"),
        map_contains_key(col("m"), "k").as("has_k"),
        aggregate(map_values(col("m")), lit(0L), (acc, v) => acc + v).as("vals_sum"),
        size(map_concat(col("m"), map(lit("src"), lit(1L)))).cast("long").as("n_keys_plus"))
      .orderBy(col("event_id"))

  val q33Sql: String =
    """SELECT event_id,
      | array_to_string(json_keys(props), ',') AS keys_csv,
      | cast(len(json_keys(props)) as bigint) AS n_keys,
      | cast(json_extract_string(props, '$.k') as bigint) AS k_val,
      | json_extract(props, '$.k') IS NOT NULL AS has_k,
      | cast(json_extract_string(props, '$.k') as bigint) AS vals_sum,
      | cast(len(json_keys(props)) + 1 as bigint) AS n_keys_plus
      |FROM events ORDER BY event_id""".stripMargin

  /** RANGE window frame (value-based, vs q16's ROWS frames): for each
    * order, count/sum of same-priority orders priced within 1000 below
    * it. Peer rows enter the frame together, so the result does not
    * depend on tie order. */
  def q34RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice")).rangeBetween(-1000L, 0L)
    t(spark, dir, "orders")
      .filter(col("o_custkey") <= 100)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_within_1000"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("sum_within_1000"))
      .orderBy(col("o_orderkey"))
  }

  val q34Sql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      | count(*) OVER w AS n_within_1000,
      | cast(sum(cast(o_totalprice as decimal(18,4))) OVER w as double)
      |   AS sum_within_1000
      |FROM orders WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
      |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Theta (pure non-equi) join: region × nation pairs in DIFFERENT
    * regions. Small×small only — Spark plans BroadcastNestedLoopJoin;
    * at scale a theta join must have at least one broadcastable side. */
  def q35ThetaJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    r.join(n, r("r_regionkey") =!= n("n_regionkey"))
      .select(col("r_regionkey"), col("n_nationkey"), col("r_name"), col("n_name"))
      .orderBy(col("r_regionkey"), col("n_nationkey"))
  }

  val q35Sql: String =
    """SELECT r_regionkey, n_nationkey, r_name, n_name
      |FROM region JOIN nation ON r_regionkey <> n_regionkey
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  /** As-of join: each click is matched to the user's most recent
    * purchase at or before the click (DuckDB ASOF JOIN is the oracle).
    * Spark mapping: equi-join on the key + range predicate, then
    * row_number()=1 per click — the shuffle is on user_id (the equi
    * key), the per-event sort is local; Spark 4 rewrites the
    * rank-filter to WindowGroupLimit so only the top row survives the
    * shuffle. Inner semantics (clicks with no prior purchase drop).
    * Two purchases by one user at the same timestamp would make the
    * picked value nondeterministic in BOTH engines (DuckDB ASOF breaks
    * ties arbitrarily too), so purchases are first reduced to one row
    * per (user, ts) — max(value) — on both sides. */
  def q36AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .select(col("user_id"), col("ts").as("p_ts"), col("p_value"))
    val w = Window.partitionBy(col("click_id")).orderBy(col("p_ts").desc)
    clicks.join(purchases, Seq("user_id"))
      .filter(col("p_ts") <= col("click_ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("click_id"), col("user_id"), col("click_ts"), col("p_ts"), col("p_value"))
      .orderBy(col("click_id"))
  }

  val q36Sql: String =
    """SELECT c.event_id AS click_id, c.user_id,
      | date_trunc('microseconds', c.ts) AS click_ts,
      | date_trunc('microseconds', p.ts) AS p_ts,
      | p.value AS p_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF JOIN (SELECT user_id, ts, max(value) AS value
      |           FROM events WHERE event_type = 'purchase'
      |           GROUP BY user_id, ts) p
      | ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY click_id""".stripMargin

  /** As-of join on the NATIVE operator (graft.plans.AsOfJoinExec —
    * the full LogicalPlan → Strategy → SparkPlan extension ladder):
    * co-partitioned sorted merge with O(1) buffered state per
    * partition, instead of q36's materialize-all-pairs + window. Same
    * purchases pre-reduction, same DuckDB ASOF oracle — the two
    * declared entries must hash-match each other and the oracle. */
  def q36bAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("p_value"))
    graft.plans.AsOf.join(clicks, purchases, "user_id", "p_user", "click_ts", "p_ts")
      .select(col("click_id"), col("user_id"), col("click_ts"), col("p_ts"), col("p_value"))
      .orderBy(col("click_id"))
  }

  /** As-of DIRECTION matrix — the full pandas-merge_asof / QuestDB
    * surface on the native operator: every click matched to its
    * nearest same-user purchase BACKWARD (greatest p_ts ≤ click),
    * FORWARD (smallest p_ts ≥ click), and NEAREST (closer of the two,
    * ties to backward). All three run [[graft.plans.AsOfJoinExec]]'s
    * one-pass merge over co-partitioned sorted children with O(1)
    * buffered state — forward holds NO buffer (the match is the
    * un-consumed same-key head), nearest peeks that head against the
    * backward buffer. Per direction: matches, matched purchase cents,
    * and total |click−purchase| microseconds. DuckDB replays backward
    * and forward as native ASOF JOINs (≥ / ≤) and derives nearest by
    * full-outer-joining the two per-click results. */
  def q114AsofDirections(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        round(col("p_value") * 100).cast("long").as("p_cents"))
    def one(d: String): DataFrame =
      graft.plans.AsOf.join(clicks, purchases, "user_id", "p_user", "click_ts", "p_ts", d)
        .select(lit(d).as("direction"), col("p_cents"),
          abs(unix_micros(col("click_ts")) - unix_micros(col("p_ts"))).as("delta_us"))
    Seq("backward", "forward", "nearest").map(one).reduce(_ unionByName _)
      .groupBy(col("direction"))
      .agg(count(lit(1)).cast("long").as("n_matched"),
        sum(col("p_cents")).cast("long").as("sum_cents"),
        sum(col("delta_us")).cast("long").as("sum_abs_delta_us"))
      .orderBy(col("direction"))
  }

  val q114Sql: String =
    """WITH clicks AS (
      | SELECT event_id AS click_id, user_id, ts AS click_ts
      | FROM events WHERE event_type = 'click'),
      |purch AS (
      | SELECT user_id AS p_user, ts AS p_ts,
      |  cast(round(max(value) * 100) as bigint) AS p_cents
      | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |bwd AS (
      | SELECT c.click_id, p.p_cents,
      |  abs(date_diff('microsecond', p.p_ts, c.click_ts)) AS delta_us
      | FROM clicks c ASOF JOIN purch p
      |  ON c.user_id = p.p_user AND c.click_ts >= p.p_ts),
      |fwd AS (
      | SELECT c.click_id, p.p_cents,
      |  abs(date_diff('microsecond', p.p_ts, c.click_ts)) AS delta_us
      | FROM clicks c ASOF JOIN purch p
      |  ON c.user_id = p.p_user AND c.click_ts <= p.p_ts),
      |near AS (
      | SELECT CASE WHEN b.click_id IS NOT NULL
      |              AND (f.click_id IS NULL OR b.delta_us <= f.delta_us)
      |         THEN b.p_cents ELSE f.p_cents END AS p_cents,
      |        CASE WHEN b.click_id IS NOT NULL
      |              AND (f.click_id IS NULL OR b.delta_us <= f.delta_us)
      |         THEN b.delta_us ELSE f.delta_us END AS delta_us
      | FROM bwd b FULL JOIN fwd f ON b.click_id = f.click_id)
      |SELECT 'backward' AS direction, cast(count(*) as bigint) AS n_matched,
      | cast(sum(p_cents) as bigint) AS sum_cents,
      | cast(sum(delta_us) as bigint) AS sum_abs_delta_us FROM bwd
      |UNION ALL
      |SELECT 'forward', cast(count(*) as bigint), cast(sum(p_cents) as bigint),
      | cast(sum(delta_us) as bigint) FROM fwd
      |UNION ALL
      |SELECT 'nearest', cast(count(*) as bigint), cast(sum(p_cents) as bigint),
      | cast(sum(delta_us) as bigint) FROM near
      |ORDER BY direction""".stripMargin

  /** As-of join with a TOLERANCE bound — the last knob of the pandas
    * merge_asof surface after direction ([[q114AsofDirections]]): a
    * backward match only counts if the purchase happened within 2 days
    * of the click; staler matches are reported as beyond-tolerance and
    * a click with no same-user prior purchase at all as unmatched.
    * Tolerance is a PER-MATCH predicate, so it composes as a plain
    * filter on the native as-of output — the O(1)-state merge itself
    * never changes, and no second pass or re-join is needed. Grouped
    * by click month: total clicks, matched, within-tolerance, matched
    * cents within tolerance. Scale: the as-of does the heavy lifting
    * (one shuffle per side on user_id); the month rollup is map-side
    * partial over as-of output and answer-bounded. DuckDB replays the
    * backward as-of natively and derives the same CASE buckets. */
  def q115AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 2L * 24 * 3600 * 1000000 // 2 days in microseconds
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        round(col("p_value") * 100).cast("long").as("p_cents"))
    val matched = graft.plans.AsOf
      .join(clicks, purchases, "user_id", "p_user", "click_ts", "p_ts", "backward")
      .withColumn("delta_us", unix_micros(col("click_ts")) - unix_micros(col("p_ts")))
      .groupBy(date_trunc("MONTH", col("click_ts")).as("month"))
      .agg(count(lit(1)).cast("long").as("n_matched"),
        sum(when(col("delta_us") <= tolUs, 1L).otherwise(0L)).cast("long")
          .as("n_within_tol"),
        coalesce(sum(when(col("delta_us") <= tolUs, col("p_cents"))), lit(0L))
          .cast("long").as("cents_within_tol"))
    clicks
      .groupBy(date_trunc("MONTH", col("click_ts")).as("month"))
      .agg(count(lit(1)).cast("long").as("n_clicks"))
      .join(matched, Seq("month"), "left")
      .select(col("month"), col("n_clicks"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_within_tol"), lit(0L)).as("n_within_tol"),
        coalesce(col("cents_within_tol"), lit(0L)).as("cents_within_tol"))
      .orderBy(col("month"))
  }

  val q115Sql: String =
    """WITH clicks AS (
      | SELECT event_id AS click_id, user_id, ts AS click_ts
      | FROM events WHERE event_type = 'click'),
      |purch AS (
      | SELECT user_id AS p_user, ts AS p_ts,
      |  cast(round(max(value) * 100) as bigint) AS p_cents
      | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |bwd AS (
      | SELECT date_trunc('month', c.click_ts) AS month,
      |  date_diff('microsecond', p.p_ts, c.click_ts) AS delta_us, p.p_cents
      | FROM clicks c ASOF JOIN purch p
      |  ON c.user_id = p.p_user AND c.click_ts >= p.p_ts),
      |m AS (
      | SELECT month, cast(count(*) as bigint) AS n_matched,
      |  cast(sum(CASE WHEN delta_us <= 172800000000 THEN 1 ELSE 0 END) as bigint)
      |    AS n_within_tol,
      |  cast(coalesce(sum(CASE WHEN delta_us <= 172800000000
      |    THEN p_cents END), 0) as bigint) AS cents_within_tol
      | FROM bwd GROUP BY month),
      |c AS (
      | SELECT date_trunc('month', click_ts) AS month,
      |  cast(count(*) as bigint) AS n_clicks
      | FROM clicks GROUP BY 1)
      |SELECT c.month, c.n_clicks,
      | cast(coalesce(m.n_matched, 0) as bigint) AS n_matched,
      | cast(coalesce(m.n_within_tol, 0) as bigint) AS n_within_tol,
      | cast(coalesce(m.cents_within_tol, 0) as bigint) AS cents_within_tol
      |FROM c LEFT JOIN m USING (month)
      |ORDER BY c.month""".stripMargin

  /** The q50 scenario written NAIVELY — a bare inequality band join
    * with no equi key — and rewritten to the binned equi-join by the
    * ENGINE ([[graft.plans.AutoRangeJoin]], registered via
    * SparkSessionExtensions): users write the predicate they mean,
    * the optimizer supplies the 100 TB plan. The bin-width conf is
    * scoped to this entry, so the result materializes to scratch
    * parquet while the rule is armed (the conf is read at optimization
    * time, and other entries' plans must stay untouched); the
    * rule-on ≡ rule-off equivalence, plan shape, and empty-interval
    * guard are spec-asserted, and the result hash-matches the same
    * naive SQL in DuckDB. */
  def q68AutoRangeJoin(spark: SparkSession, dir: String): DataFrame =
    // the attribution windows are FIXED 2-hour intervals — every row
    // spans 2–3 bins at w=3600 by construction, so this entry arms the
    // no-fallback expert mode (pure binned plan, no second scan pair);
    // the default wide-interval split is spec-covered in Round7Spec
    withConfs(spark, Seq(
        "spark.graft.autoRangeJoin.binWidth" -> "3600",
        "spark.graft.autoRangeJoin.maxBinsPerRow" -> "-1")) {
      val ev = t(spark, dir, "events")
      val periods = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 20 === 0)
        .select(col("event_id").as("period_id"),
          unix_timestamp(col("ts")).as("p_start_s"),
          (unix_timestamp(col("ts")) + 7200L).as("p_end_s"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), unix_timestamp(col("ts")).as("c_s"))
      val joined = clicks.join(periods,
          col("c_s") >= col("p_start_s") && col("c_s") < col("p_end_s"))
        .groupBy(col("period_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click"))
      val out = scratchDir("q68_auto_range")
      joined.write.parquet(out) // executes while the rule is armed
      spark.read.parquet(out).orderBy(col("period_id"))
    }

  val q68Sql: String =
    """WITH periods AS (
      |  SELECT event_id AS period_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS p_start_s,
      |         CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS p_end_s
      |  FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
      |clicks AS (
      |  SELECT event_id AS click_id, CAST(floor(epoch(ts)) AS BIGINT) AS c_s
      |  FROM events WHERE event_type = 'click')
      |SELECT period_id, count(*) AS n_clicks, min(click_id) AS first_click
      |FROM clicks JOIN periods
      |  ON c_s >= p_start_s AND c_s < p_end_s
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Pure interval join (NO equi key), binned to an equi-join — the
    * scale rewrite for time-containment joins: `q10` has an equi key
    * so its range predicate rides the hash shuffle, but "clicks inside
    * ANY purchase's 2-hour attribution window" has none — Spark plans
    * a nested-loop. Binning makes it an equi-join: each click carries
    * its hour bin; each window explodes into the 2–3 bins it spans;
    * join on bin, then re-verify the exact containment. A click has
    * exactly one bin, so each (click, window) pair matches at most
    * once — no dedup needed. Shuffle is on the well-distributed bin;
    * bin width trades replication (windows/bin) vs selectivity. */
  def q50IntervalJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val periods = ev
      .filter(col("event_type") === "purchase" && col("event_id") % 20 === 0)
      .select(col("event_id").as("period_id"), col("ts").as("p_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("p_end"))
      .withColumn("bin", explode(sequence(
        floor(unix_timestamp(col("p_start")) / 3600),
        floor(unix_timestamp(col("p_end")) / 3600))))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withColumn("bin", floor(unix_timestamp(col("c_ts")) / 3600))
    clicks.join(periods, Seq("bin"))
      .filter(col("c_ts") >= col("p_start") && col("c_ts") < col("p_end"))
      .groupBy(col("period_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy(col("period_id"))
  }

  val q50Sql: String =
    """SELECT p.event_id AS period_id, count(*) AS n_clicks
      |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0) p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      | ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 2 HOUR
      |GROUP BY 1 ORDER BY period_id""".stripMargin

  /** approx_count_distinct (HLL sketch). Engines' sketches differ, so
    * the estimate can't be recomputed cross-engine — but it IS
    * deterministic given the build, so the estimate-sidecar
    * discipline applies: dump (flag, estimate), let DuckDB recompute
    * the exact group counts and the true distinct (for the replayed
    * error band) ⇒ hash-checked instead of rows-only. */
  def q31ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val est = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n"))
    oracleSidecar("q31_estimates",
      est.select(col("l_returnflag"), col("approx_parts")))
    est.orderBy(col("l_returnflag"))
  }

  val q31Sql: String =
    s"""WITH est AS (
       | SELECT l_returnflag, approx_parts
       | FROM read_parquet('${oracleSidecarGlob("q31_estimates")}')),
       |ex AS (
       | SELECT l_returnflag, count(*) AS n
       | FROM lineitem GROUP BY 1)
       |SELECT e.l_returnflag, cast(s.approx_parts as bigint) AS approx_parts,
       | cast(e.n as bigint) AS n
       |FROM ex e JOIN est s USING (l_returnflag)
       |ORDER BY e.l_returnflag""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q1_pricing_summary", q1PricingSummary, Some(q1Sql)),
    GQuery("q2_filter_project", q2FilterProject, Some(q2Sql)),
    GQuery("q3_join_inner", q3JoinInner, Some(q3Sql)),
    GQuery("q4_join_left", q4JoinLeft, Some(q4Sql)),
    GQuery("q5_join_semi", q5JoinSemi, Some(q5Sql)),
    GQuery("q6_join_anti", q6JoinAnti, Some(q6Sql)),
    GQuery("q7_star_join_broadcast", q7StarJoin, Some(q7Sql)),
    GQuery("q8_join_full_outer", q8JoinFull, Some(q8Sql)),
    GQuery("q9_cross_join", q9CrossJoin, Some(q9Sql)),
    GQuery("q10_range_join", q10RangeJoin, Some(q10Sql)),
    GQuery("q11_agg_stats", q11AggStats, Some(q11Sql)),
    GQuery("q12_rollup", q12Rollup, Some(q12Sql)),
    GQuery("q13_cube", q13Cube, Some(q13Sql)),
    GQuery("q14_having", q14Having, Some(q14Sql)),
    GQuery("q15_window_rank", q15WindowRank, Some(q15Sql)),
    GQuery("q16_window_running", q16WindowRunning, Some(q16Sql)),
    GQuery("q17_ntile", q17Ntile, Some(q17Sql)),
    GQuery("q18_top_n", q18TopN, Some(q18Sql)),
    GQuery("q19_topk_per_group", q19TopKPerGroup, Some(q19Sql)),
    GQuery("q20_union_all", q20UnionAll, Some(q20Sql)),
    GQuery("q21_intersect", q21Intersect, Some(q21Sql)),
    GQuery("q22_except", q22Except, Some(q22Sql)),
    GQuery("q23_union_distinct", q23UnionDistinct, Some(q23Sql)),
    GQuery("q24_string_funcs", q24StringFuncs, Some(q24Sql)),
    GQuery("q25_date_funcs", q25DateFuncs, Some(q25Sql)),
    GQuery("q26_math_funcs", q26MathFuncs, Some(q26Sql)),
    GQuery("q27_json_extract", q27Json, Some(q27Sql)),
    GQuery("q28_scalar_subquery", q28ScalarSubquery, Some(q28Sql)),
    GQuery("q29_in_subquery", q29InSubquery, Some(q29Sql)),
    GQuery("q30_grouping_sets", q30GroupingSets, Some(q30Sql)),
    GQuery("q31_approx_count_distinct", q31ApproxDistinct, Some(q31Sql)),
    GQuery("q32_join_right", q32JoinRight, Some(q32Sql)),
    GQuery("q33_map_funcs", q33MapFuncs, Some(q33Sql)),
    GQuery("q34_range_frame", q34RangeFrame, Some(q34Sql)),
    GQuery("q35_theta_join", q35ThetaJoin, Some(q35Sql)),
    GQuery("q36_asof_join", q36AsofJoin, Some(q36Sql)),
    GQuery("q36b_asof_native", q36bAsofNative, Some(q36Sql)),
    GQuery("q114_asof_directions", q114AsofDirections, Some(q114Sql)),
    GQuery("q115_asof_tolerance", q115AsofTolerance, Some(q115Sql)),
    GQuery("q124_group_ols", q124GroupOls, Some(q124Sql)),
    GQuery("q50_interval_join_binned", q50IntervalJoinBinned, Some(q50Sql)),
    GQuery("q68_range_join_auto", q68AutoRangeJoin, Some(q68Sql)),
  )
}
