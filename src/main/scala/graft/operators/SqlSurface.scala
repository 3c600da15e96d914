package graft.operators

import graft.GQuery
import graft.util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The modern SQL surface of the engine — capabilities the reference
  * sandbox has no counterpart for (it has no SQL layer at all:
  * `/root/reference/src/main/java/.../KStreamsToKTable.java` builds one
  * fixed DSL topology), declared here because a user replacing the
  * reference with this engine gets a full ANSI-plus SQL front end from
  * Spark: recursive CTEs, the VARIANT semi-structured type, SQL-defined
  * functions, and SQL pipe syntax — each oracle-checked against DuckDB
  * where expressible.
  *
  * Scale notes: all four queries compile to the same Catalyst plans
  * their DataFrame twins would (the recursion materializes a 12-row
  * spine — driver-side-constant sized, never data-sized; the VARIANT
  * path is a per-row projection inside WholeStageCodegen; the SQL UDF
  * is inlined into the plan at analysis time — zero lambda overhead,
  * unlike a Scala UDF).
  */
object SqlSurface {

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`): a 12-month spine joined
    * to 1995 monthly order revenue — empty months surface as zero rows
    * instead of vanishing, the classic reporting-spine pattern. The
    * recursion is bounded (12 rows) and evaluated once; revenue uses
    * the exact-decimal sum discipline. */
  def q51RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_rc")
    spark.sql(
      s"""WITH RECURSIVE m(mo) AS (
         |  SELECT 1 UNION ALL SELECT mo + 1 FROM m WHERE mo < 12)
         |SELECT mo AS month,
         | coalesce(n_orders, 0) AS n_orders,
         | coalesce(revenue, 0.0) AS revenue
         |FROM m LEFT JOIN (
         |  SELECT month(o_orderdate) AS mo2, count(*) AS n_orders,
         |   ${sqlDsum("o_totalprice")} AS revenue
         |  FROM orders_rc WHERE year(o_orderdate) = 1995
         |  GROUP BY month(o_orderdate)) ON mo = mo2
         |ORDER BY month""".stripMargin)
  }

  val q51Sql: String =
    s"""WITH RECURSIVE m(mo) AS (
       |  SELECT 1 UNION ALL SELECT mo + 1 FROM m WHERE mo < 12)
       |SELECT mo AS month,
       | coalesce(n_orders, 0) AS n_orders,
       | coalesce(revenue, 0.0) AS revenue
       |FROM m LEFT JOIN (
       |  SELECT month(o_orderdate) AS mo2, count(*) AS n_orders,
       |   ${sqlDsum("o_totalprice")} AS revenue
       |  FROM orders WHERE year(o_orderdate) = 1995
       |  GROUP BY month(o_orderdate)) ON mo = mo2
       |ORDER BY month""".stripMargin

  /** VARIANT (Spark 4 semi-structured type): `events.props` parsed
    * once into a VARIANT value, a typed path extracted with
    * `variant_get`, then aggregated — the open-schema ingest pattern
    * (parse once, bind types at query time) that `get_json_object`
    * string-hacking does not give. Oracle reads the same path with
    * DuckDB's JSON functions. */
  def q52VariantJson(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("v", expr("parse_json(props)"))
      .withColumn("k_val", expr("variant_get(v, '$.k', 'bigint')"))
      .groupBy((col("k_val") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy(col("k_bucket"))

  val q52Sql: String =
    s"""SELECT cast(json_extract_string(props, '$$.k') as bigint) % 10 AS k_bucket,
       | count(*) AS n_events, ${sqlDsum("value")} AS total_value
       |FROM events
       |GROUP BY 1 ORDER BY k_bucket""".stripMargin

  /** SQL-defined scalar function (Spark 4 `CREATE FUNCTION ... RETURN
    * expr`): the discounted-taxed price as a named, reusable SQL UDF.
    * Unlike a Scala UDF this is INLINED by the analyzer — the plan is
    * identical to writing the expression by hand (codegen, pushdown,
    * all preserved), which is why it is the right extension point for
    * pure-SQL logic at 100 TB. */
  def q53SqlUdf(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_su")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
        |  price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE
        |RETURN price * (1 - disc) * (1 + tax)""".stripMargin)
    spark.sql(
      s"""SELECT l_returnflag, count(*) AS n,
         | ${sqlDsum("graft_disc_price(l_extendedprice, l_discount, l_tax)")} AS disc_revenue
         |FROM lineitem_su
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  val q53Sql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       | ${sqlDsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS disc_revenue
       |FROM lineitem
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SQL pipe syntax (Spark 4 `|>` operators): the linear
    * filter→aggregate→sort dataflow written the way the engine
    * executes it. Compiles to the identical plan as the nested form —
    * declared to prove the surface, oracle-checked in plain SQL. */
  def q54PipeSyntax(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_ps")
    spark.sql(
      s"""FROM lineitem_ps
         ||> WHERE l_shipdate >= timestamp '1995-01-01 00:00:00'
         ||> AGGREGATE count(*) AS n, ${sqlDsum("l_extendedprice")} AS revenue
         |   GROUP BY l_returnflag
         ||> ORDER BY l_returnflag""".stripMargin)
  }

  val q54Sql: String =
    s"""SELECT l_returnflag, count(*) AS n, ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= timestamp '1995-01-01 00:00:00'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Correlated EXISTS and NOT EXISTS in one predicate: customers with
    * at least one open order but no order above 300k. Catalyst
    * decorrelates both into semi/anti joins — the plan never builds a
    * per-customer subquery loop. */
  def q55ExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("customer_ex")
    t(spark, dir, "orders").createOrReplaceTempView("orders_ex")
    spark.sql(
      """SELECT c_custkey, c_acctbal
        |FROM customer_ex c
        |WHERE EXISTS (SELECT 1 FROM orders_ex o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |  AND NOT EXISTS (SELECT 1 FROM orders_ex o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  val q55Sql: String =
    """SELECT c_custkey, c_acctbal
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** One-pass column profiler — the data-quality scan a 100 TB ingest
    * runs before anything else: per column, null count, exact distinct
    * count, min/max (rendered as strings so heterogeneous column types
    * share one report schema). ALL columns profile in a SINGLE
    * aggregation over ONE scan (Catalyst plans the multi-distinct
    * aggregate via Expand — one shuffle, no per-column re-scan), then
    * the one summary row explodes into the per-column report. */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__cnt"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    } :+ count(lit(1)).as("__n")
    t(spark, dir, "lineitem")
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${c}__cnt")).as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_val"),
        col(s"${c}__max").as("max_val"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column"))
  }

  val profileColumnsSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         | count(*) - count($c) AS n_null,
         | count(DISTINCT $c) AS n_distinct,
         | cast(min($c) as varchar) AS min_val,
         | cast(max($c) as varchar) AS max_val
         |FROM lineitem""".stripMargin
    Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      .map(one).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
  }

  /** ANALYZE TABLE + catalog statistics — the warehouse operation that
    * feeds cost-based optimization. Three tables are materialized into
    * the catalog, `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
    * COLUMNS` records row counts, sizes, and per-column NDV/min/max/
    * null stats, and the entry reports the catalog's row counts (which
    * must equal the true counts — the oracle recounts the parquet).
    * The spec goes further: with `spark.sql.cbo.enabled`, a filtered
    * plan's estimated rowCount comes from the recorded column stats
    * (FilterEstimation), i.e. the optimizer can size a join side
    * BEFORE running it — at 100 TB the difference between a planned
    * broadcast and a discovered-too-late shuffle. Catalog reads are
    * driver-side meta ops, like the topology describe. */
  // JVM-unique names: in-memory catalog forgets tables across JVMs but
  // warehouse dirs persist (same pattern as FileSources' bucketed tables)
  private val statsSuffix = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
  def statsTbl(base: String): String = s"graft_stats_${base}_$statsSuffix"

  def cboStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tbls = Seq("customer", "nation", "region")
    val rows = tbls.map { tb =>
      val name = statsTbl(tb)
      t(spark, dir, tb).write.mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(name)
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      // the catalog entry dies with the JVM (in-memory catalog) but the
      // warehouse dir would persist — register it for exit cleanup so
      // bench/spec runs leave no graft_stats_* artifacts behind
      graft.util.registerShutdownDelete(new java.io.File(meta.location).getAbsolutePath)
      val st = meta.stats.getOrElse(sys.error(s"no stats recorded for $name"))
      (tb, st.rowCount.map(_.toLong).getOrElse(-1L), st.colStats.size.toLong)
    }
    rows.toDF("tbl", "row_count", "n_cols_with_stats").orderBy(col("tbl"))
  }

  val cboStatsSql: String =
    """SELECT * FROM (
      | SELECT 'customer' AS tbl, count(*) AS row_count,
      |  (SELECT count(*) FROM (DESCRIBE customer)) AS n_cols_with_stats FROM customer
      | UNION ALL SELECT 'nation', count(*),
      |  (SELECT count(*) FROM (DESCRIBE nation)) FROM nation
      | UNION ALL SELECT 'region', count(*),
      |  (SELECT count(*) FROM (DESCRIBE region)) FROM region
      |) ORDER BY tbl""".stripMargin

  /** Runtime bloom-filter join pruning — Spark's runtime filter
    * builds a bloom filter from the SELECTIVE (filtered-dimension)
    * side of a shuffle join and pushes `might_contain` into the fact
    * scan, so fact rows that cannot join are dropped BEFORE the
    * shuffle — at 100 TB this is the difference between shuffling the
    * whole fact table and shuffling the matching slice. The
    * injection thresholds assume warehouse-sized inputs (application
    * side ≥ 10 GB), so this entry scopes them down (and disables
    * broadcast, which would otherwise win at bench scale) and
    * materializes inside the scope; the plan spec asserts
    * `might_contain` reached the scan. Results are identical with or
    * without the filter — the oracle checks values, the spec checks
    * the plan. */
  val q56Confs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def q56BloomJoin(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark, q56Confs) {
      val urgent = t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      // materialize inside the scoped confs so the executed plan IS
      // the bloom-pruned one (lazy execution would see restored
      // confs); answer-sized local rows, nothing stays pinned
      graft.util.materializeLocal(t(spark, dir, "lineitem")
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("l_returnflag")))
    }

  val q56Sql: String =
    s"""SELECT l_returnflag, count(*) AS n, ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** AQE skew-join handling — the RUNTIME complement to the manual
    * salted join (`q49_salted_join`): Spark measures the shuffle's
    * per-partition bytes at stage boundary, detects that one join
    * partition dwarfs the median, and SPLITS it across tasks
    * (replicating the matching build-side partition) with no query
    * rewrite — the mechanism that saves a 1000-executor job when one
    * hot key holds 98 % of the data. The skewed fact is constructed
    * sf-independently (top-1000 lineitem rows × 50 replicas, 98 % on
    * key 0, an md5 payload that defeats shuffle compression) and
    * WRITTEN TO PARQUET first: skew splitting operates on map-output
    * statistics of real scans. Thresholds are scoped down so the
    * split fires at bench scale; the spec asserts `skew=true` in the
    * executed join, the oracle replays the same data to check values
    * are unchanged by the split. */
  /** The deterministic skewed fact + dim fixture — memoized per
    * (lineitem fingerprint) via [[graft.util.artifactRoot]] so bench
    * reps (and every spec JVM) measure the SKEW-SPLIT JOIN, not a
    * repeated fixture write; returns (fact, dim) paths. */
  def q57SkewData(spark: SparkSession, dir: String): (String, String) = {
    val root = artifactRoot(s"q57skew-${tableFingerprint(dir, "lineitem")}") { staged =>
      val fact = t(spark, dir, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber")).limit(1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("rep", explode(expr("sequence(1, 50)")))
        .withColumn("k",
          when(col("rep") <= 49, 0L).otherwise(col("l_orderkey")))
        .withColumn("payload",
          md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"), col("rep"))))
      fact.repartition(4).write.parquet(s"$staged/fact")
      fact.select(col("k")).distinct()
        .withColumn("attr", md5(col("k").cast("string")))
        .write.parquet(s"$staged/dim")
    }
    (s"$root/fact", s"$root/dim")
  }

  /** The scoped confs under which the skew split fires at test scale. */
  val q57Confs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** The bare skewed join under the scoped confs (spec asserts its
    * executed plan contains the skew split). */
  def q57Join(spark: SparkSession, lPath: String, rPath: String): DataFrame =
    spark.read.parquet(lPath)
      .join(spark.read.parquet(rPath), Seq("k"))

  def q57AqeSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val (lPath, rPath) = q57SkewData(spark, dir)
    withConfs(spark, q57Confs) {
      // materialize while the scoped confs hold; one-row local result
      graft.util.materializeLocal(q57Join(spark, lPath, rPath)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          max(col("payload")).as("max_payload"),
          max(col("attr")).as("max_attr"),
          dsum(col("l_quantity")).as("qty")))
    }
  }

  val q57Sql: String =
    s"""WITH top1000 AS (
       | SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       | ORDER BY l_orderkey, l_linenumber LIMIT 1000),
       |fact AS (
       | SELECT l_orderkey, l_linenumber, l_quantity, rep,
       |  CASE WHEN rep <= 49 THEN 0 ELSE l_orderkey END AS k,
       |  md5(concat_ws('-', l_orderkey, l_linenumber, rep)) AS payload
       | FROM top1000 CROSS JOIN (SELECT unnest(range(1, 51)) AS rep)),
       |dim AS (
       | SELECT k, md5(cast(k AS varchar)) AS attr FROM (SELECT DISTINCT k FROM fact))
       |SELECT cast(count(*) as bigint) AS n_rows,
       | cast(count(DISTINCT f.k) as bigint) AS n_keys,
       | max(payload) AS max_payload, max(attr) AS max_attr,
       | ${sqlDsum("l_quantity")} AS qty
       |FROM fact f JOIN dim d ON f.k = d.k""".stripMargin

  /** DYNAMIC PARTITION PRUNING — the runtime complement to static
    * pruning (`src_partitioned_pruning`) and the flagship star-schema
    * scan optimization: the fact table is partitioned on the join key,
    * the dimension's selective filter is only known at RUN time, and
    * Spark injects a `dynamicpruning` subquery into the fact scan's
    * PartitionFilters — the dim side's broadcast result prunes fact
    * PARTITIONS before any fact task is scheduled. At 100 TB this is
    * the difference between scanning a quarter and scanning seven
    * years when the calendar dimension says Q1-1999: the fact
    * predicate cannot be written statically because it lives in the
    * dim table. Fact = orders month-partitioned to scratch parquet;
    * dim = a month→quarter calendar (also a real parquet scan);
    * filter on the QUARTER attribute, join on the month key.
    * Spec asserts `dynamicpruning` in the fact scan; oracle replays
    * the equivalent static date range. */
  def q80DynamicPruning(spark: SparkSession, dir: String): DataFrame =
    q80Join(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))

  /** The bare DPP join — exposed for the plan spec. The month-
    * partitioned fact + calendar dim fixture is memoized per (orders
    * fingerprint): bench reps measure the dynamically-pruned read, not
    * the ~200-partition-dir write. */
  def q80Join(spark: SparkSession, dir: String): DataFrame = {
    val fact = t(spark, dir, "orders")
      .withColumn("pmonth", date_format(col("o_orderdate"), "yyyy-MM"))
    def dimOf(f: DataFrame): DataFrame = f.select(col("pmonth")).distinct()
      .withColumn("quarter", concat(substring(col("pmonth"), 1, 4), lit("-Q"),
        expr("(cast(substring(pmonth, 6, 2) as int) - 1) div 3 + 1")))
    val root = artifactRoot(s"dpp-${tableFingerprint(dir, "orders")}") { staged =>
      // one file per partition dir, not one per task
      val written = writeParquet(fact.repartition(col("pmonth")), s"$staged/fact", Seq("pmonth"))
      dimOf(written).write.parquet(s"$staged/dim")
    }
    // read with the written schemas: an empty fact reads as empty
    spark.read.schema(fact.schema).parquet(s"$root/fact")
      .join(spark.read.schema(dimOf(fact).schema).parquet(s"$root/dim")
        .filter(col("quarter") === "1999-Q1"), Seq("pmonth"))
  }

  val q80Sql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderdate >= '1999-01-01' AND o_orderdate < '1999-04-01'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** GROUP BY ALL (Spark 4 / modern ANSI sugar): every non-aggregate
    * select item becomes a grouping key — the analyzer expands it to
    * the same hash aggregate as an explicit GROUP BY, so the plan (and
    * the scale story) is identical to q1. */
  def q61GroupByAll(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gba")
    spark.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         | ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem_gba GROUP BY ALL
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val q61Sql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       | ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY ALL
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** FILTER-clause + DISTINCT aggregates (ANSI SQL:2003 surface):
    * several differently-conditioned aggregates in ONE grouping pass —
    * the alternative is N self-joins or N CASE pyramids. Spark plans
    * every FILTER aggregate into the same hash aggregate (one scan,
    * one shuffle); `count(DISTINCT ...)` expands to the standard
    * two-stage distinct aggregate. One pass over 100 TB instead of
    * five is the whole point of the clause. */
  def q73AggFilter(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_af")
    spark.sql(
      s"""SELECT o_orderpriority,
         | count(*) AS n_orders,
         | count(DISTINCT o_custkey) AS n_custs,
         | count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
         | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         | round(cast(sum(cast(o_totalprice AS decimal(22,8)))
         |   FILTER (WHERE o_orderstatus = 'F') AS double), 4) AS rev_f
         |FROM orders_af GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q73Sql: String =
    """SELECT o_orderpriority,
      | count(*) AS n_orders,
      | count(DISTINCT o_custkey) AS n_custs,
      | count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
      | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      | round(cast(sum(cast(o_totalprice AS decimal(22,8)))
      |   FILTER (WHERE o_orderstatus = 'F') AS double), 4) AS rev_f
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-2
    * customers per nation, the lateral formulation of per-group top-k.
    * Spark decorrelates the lateral into a window/limit over a single
    * shuffled join (no per-outer-row re-execution), so it scales like
    * q19_topk_per_group while keeping the for-each-row SQL shape users
    * write. Ties broken by name for determinism. */
  def q62LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("nation_lat")
    t(spark, dir, "customer").createOrReplaceTempView("customer_lat")
    spark.sql(
      """SELECT n.n_name, x.c_name, x.c_acctbal
        |FROM nation_lat n,
        | LATERAL (SELECT c_name, c_acctbal FROM customer_lat c
        |          WHERE c.c_nationkey = n.n_nationkey
        |          ORDER BY c_acctbal DESC, c_name LIMIT 2) x
        |ORDER BY n.n_name, x.c_acctbal DESC, x.c_name""".stripMargin)
  }

  val q62Sql: String =
    """SELECT n.n_name, x.c_name, x.c_acctbal
      |FROM nation n,
      | LATERAL (SELECT c_name, c_acctbal FROM customer c
      |          WHERE c.c_nationkey = n.n_nationkey
      |          ORDER BY c_acctbal DESC, c_name LIMIT 2) x
      |ORDER BY n.n_name, x.c_acctbal DESC, x.c_name""".stripMargin

  /** Query observability via the `Observation` API: named metrics
    * (`df.observe`) are computed DURING the query's own pass
    * (CollectMetricsExec accumulators) — no second scan, the
    * production way to get row counts / checksums / freshness out of a
    * pipeline stage for free. The entry runs one observed pass over
    * lineitem and returns the collected metrics as a one-row frame;
    * the oracle recomputes them relationally, proving the
    * accumulator path reports exactly what a dedicated aggregation
    * would. */
  def observeMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation(
      s"metrics_${java.util.UUID.randomUUID.toString.take(8)}")
    t(spark, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("min_ship"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_qty").asInstanceOf[Double],
      m("min_ship").asInstanceOf[String], m("max_ship").asInstanceOf[String]))
      .toDF("n_rows", "sum_qty", "min_ship", "max_ship")
  }

  val observeMetricsSql: String =
    s"""SELECT count(*) AS n_rows,
       | ${sqlDsum("l_quantity")} AS sum_qty,
       | strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
       | strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
       |FROM lineitem""".stripMargin

  /** PK–FK join elimination through the [[graft.plans.JoinElimination]]
    * extension rule: the query is WRITTEN with the fact→dimension join
    * every reporting view carries (`lineitem ⋈ orders ON l_orderkey =
    * o_orderkey`) but consumes no orders column, and the optimizer —
    * armed with the declared RELY constraint (o_orderkey unique,
    * l_orderkey non-null and referentially intact, both true of this
    * schema by construction and asserted by meta_expectations) —
    * deletes the join entirely. The oracle executes the SQL WITH the
    * join, so the hash match is the end-to-end proof the elimination
    * preserved semantics; the plan-level proof (no Join node in the
    * optimized plan, and a negative control where consuming
    * o_totalprice keeps the join) is spec-pinned. At 100 TB this is
    * the difference between a no-op and the largest shuffle in every
    * view-mediated star query. The constraint registration is
    * idempotent and scoped to THIS dir's orders path, so it cannot
    * rewrite a join it was not declared for. */
  def q93JoinElimination(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.JoinElimination.register(graft.plans.JoinElimination
      .FkConstraint(s"$dir/orders.parquet", "o_orderkey",
        s"$dir/lineitem.parquet", "l_orderkey"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  val q93Sql: String =
    s"""SELECT l_returnflag, cast(count(*) as bigint) AS n,
       | ${sqlDsum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SQL SESSION VARIABLES (SQL:2016 / Spark 4 DECLARE VARIABLE) —
    * the parameterized-report surface: thresholds declared once at
    * session level, referenced by name in queries, re-SET between
    * runs without rebuilding SQL strings (the injection-safe
    * alternative to string interpolation). The variable resolves at
    * ANALYSIS time to a literal, so the plan is identical to the
    * hand-inlined constant — fully foldable, pushdown-eligible, zero
    * runtime cost; the oracle replays with the inlined literals.
    * DECLARE OR REPLACE + SET exercises both the default and the
    * reassignment path. */
  def q118SqlVariables(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_var")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 100000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE status_of_interest STRING DEFAULT 'O'")
    spark.sql("SET VARIABLE price_floor = 150000.0")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n_big,
        | cast(sum(CASE WHEN o_orderstatus = status_of_interest
        |   THEN 1 ELSE 0 END) as bigint) AS n_open,
        | cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS cents
        |FROM orders_var WHERE o_totalprice > price_floor
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  val q118Sql: String =
    """SELECT o_orderpriority, count(*) AS n_big,
      | cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) as bigint)
      |   AS n_open,
      | cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS cents
      |FROM orders WHERE o_totalprice > 150000.0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q118_sql_variables", q118SqlVariables, Some(q118Sql)),
    GQuery("q93_join_elimination", q93JoinElimination, Some(q93Sql)),
    GQuery("meta_observe_metrics", observeMetrics, Some(observeMetricsSql)),
    GQuery("q61_group_by_all", q61GroupByAll, Some(q61Sql)),
    GQuery("q73_agg_filter", q73AggFilter, Some(q73Sql)),
    GQuery("q62_lateral_topk", q62LateralTopk, Some(q62Sql)),
    GQuery("q51_recursive_cte", q51RecursiveCte, Some(q51Sql)),
    GQuery("q52_variant_json", q52VariantJson, Some(q52Sql)),
    GQuery("q53_sql_udf", q53SqlUdf, Some(q53Sql)),
    GQuery("q54_pipe_syntax", q54PipeSyntax, Some(q54Sql)),
    GQuery("q55_exists_subquery", q55ExistsSubquery, Some(q55Sql)),
    GQuery("q56_bloom_runtime_filter", q56BloomJoin, Some(q56Sql)),
    GQuery("q57_aqe_skew_join", q57AqeSkewJoin, Some(q57Sql)),
    GQuery("q80_dynamic_pruning", q80DynamicPruning, Some(q80Sql)),
    GQuery("meta_profile_columns", profileColumns, Some(profileColumnsSql)),
    GQuery("meta_cbo_stats", cboStats, Some(cboStatsSql)),
  )
}
