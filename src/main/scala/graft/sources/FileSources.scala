package graft.sources

import graft.GQuery
import graft.util._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink formats beyond parquet, and the two layout techniques
  * that matter most at 100 TB: partitioned writes with partition
  * pruning, and bucketed tables for shuffle-free co-located joins.
  * Each entry round-trips real data through the layout and returns an
  * oracle-checkable result (the oracle reads the original parquet, so
  * the round-trip must be lossless).
  */
object FileSources {

  // scratch layouts register for JVM-exit deletion (core.scala)
  private def uniq(prefix: String): String = scratchDir(prefix)

  /** JSON sink + source round-trip (schema pinned on read — streaming
    * and production batch reads never infer). */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("json")
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode(SaveMode.Overwrite).json(out)
    spark.read.schema("event_id bigint, user_id bigint, event_type string")
      .json(out)
      .orderBy(col("event_id"))
  }

  val jsonRoundtripSql: String =
    """SELECT event_id, user_id, event_type
      |FROM events ORDER BY event_id""".stripMargin

  /** CSV sink + source round-trip (header, pinned schema). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("csv")
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
    spark.read.schema("event_id bigint, user_id bigint, event_type string")
      .option("header", "true").csv(out)
      .orderBy(col("event_id"))
  }

  val csvRoundtripSql: String = jsonRoundtripSql

  /** Avro sink + source round-trip — the reference provisions an Avro
    * serde + schema registry (build.gradle:29,32, dev.properties:3,
    * docker-compose.yaml:34-45) even though its topology never uses
    * it; this closes that format-parity gap. The Spark distribution
    * bundles the avro classes inside spark-sql_2.13-4.1.2.jar but
    * without the DataSourceRegister service entry, so the short name
    * `avro` does not resolve — the fully-qualified FileFormat class
    * works (`--packages spark-avro` restores the short name on a real
    * cluster). Schema pinned on read, same discipline as JSON/CSV —
    * the schema-registry role (a fixed contract between writer and
    * reader) is played by the explicit read schema. */
  private val avroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("avro")
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode(SaveMode.Overwrite).format(avroFormat).save(out)
    spark.read.schema("event_id bigint, user_id bigint, event_type string")
      .format(avroFormat).load(out)
      .orderBy(col("event_id"))
  }

  val avroRoundtripSql: String = jsonRoundtripSql

  /** ORC sink + source round-trip — the remaining columnar format in
    * the distribution (native `orc` short name, vectorized reader).
    * Carries the timestamp column too: ORC round-trips it at
    * microsecond precision, which must survive losslessly. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("orc")
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .write.mode(SaveMode.Overwrite).orc(out)
    spark.read.schema("event_id bigint, user_id bigint, event_type string, ts timestamp")
      .orc(out)
      .orderBy(col("event_id"))
  }

  val orcRoundtripSql: String =
    """SELECT event_id, user_id, event_type,
      | date_trunc('microseconds', ts) AS ts
      |FROM events ORDER BY event_id""".stripMargin

  /** Z-ORDER layout — multi-column data clustering for file skipping.
    * A single-column sort gives perfect min/max pruning on that column
    * and none on any other; interleaving the bits of two filter
    * columns (the z-value) and range-partitioning on it gives BOTH
    * columns partial locality, so parquet min/max stats prune files
    * for predicates on either — the reason warehouse layouts z-order
    * their two or three hottest filter columns at 100 TB. This entry
    * writes orders twice (z-ordered vs orderkey-sorted), reads back
    * per-file min/max spans via input_file_name, and reports the mean
    * span fraction per (layout, column) in integer BASIS POINTS:
    * z-order must shrink the non-sort column's span far below the
    * sorted layout's ~10000 bp (spec-asserted). HASH-GREEN since
    * round 14: repartitionByRange samples its boundaries, but the
    * layouts are memoized artifacts, so the per-file (rows, min, max)
    * stats are deterministic given the build — they go to a sidecar,
    * and DuckDB recomputes the GLOBAL ranges and the total row count
    * from the base `orders` table (a lost row at either extreme or
    * anywhere in the files flips the hash) plus the all-integer span
    * arithmetic. Runs on orders (o_orderkey × o_custkey): the
    * demonstration needs two independent keys, not the biggest
    * table. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // Scale BOTH columns onto a common 16-bit grid before interleaving
    // — raw keys have unequal bit-widths, and un-normalized interleave
    // puts only the wider column in the z-value's high bits, silently
    // degenerating to a single-column sort. One tiny agg (min/max per
    // column) broadcast into the scaling expression; at 100 TB these
    // bounds come from table stats.
    val b = src.agg(
      min(col("o_orderkey")).as("o_lo"), max(col("o_orderkey")).as("o_hi"),
      min(col("o_custkey")).as("p_lo"), max(col("o_custkey")).as("p_hi"))
    def scaled(c: String, lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ((col(c) - lo).cast("double") / greatest(hi - lo, lit(1)).cast("double") * 65535.0)
        .cast("bigint")
    val z = expr(
      """aggregate(sequence(0, 15), cast(0 as bigint), (acc, i) ->
        |  acc + shiftleft(shiftright(so, i) & 1, 2 * i)
        |      + shiftleft(shiftright(sp, i) & 1, 2 * i + 1))""".stripMargin)
    val files = 8
    // both layouts memoized per (orders fingerprint): bench reps (and
    // the span spec) measure the min/max-stat read path, not two
    // repeated range-partitioned writes — and file boundaries become
    // stable across runs
    val root = artifactRoot(s"zorder-${tableFingerprint(dir, "orders")}") { staged =>
      src.crossJoin(broadcast(b))
        .withColumn("so", scaled("o_orderkey", col("o_lo"), col("o_hi")))
        .withColumn("sp", scaled("o_custkey", col("p_lo"), col("p_hi")))
        .withColumn("zv", z)
        .select(col("o_orderkey"), col("o_custkey"), col("zv"))
        .repartitionByRange(files, col("zv"))
        .drop("zv").write.parquet(s"$staged/zorder")
      src.repartitionByRange(files, col("o_orderkey"))
        .write.parquet(s"$staged/sorted")
    }
    val zOut = s"$root/zorder"
    val sOut = s"$root/sorted"
    def spans(path: String, layout: String): DataFrame = {
      // per-file rows + min/max in ONE scan; global ranges fold from
      // the same 8 aggregate rows, no second pass over the data. The
      // per-file stats are the engine-specific part (sampled range
      // boundaries, frozen in the artifact) → sidecar'd for the
      // oracle; everything downstream is exact integer arithmetic.
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("rows"),
          min(col("o_orderkey")).as("o_min"), max(col("o_orderkey")).as("o_max"),
          min(col("o_custkey")).as("p_min"), max(col("o_custkey")).as("p_max"))
      oracleSidecar(s"zorder_files_$layout", perFile)
      perFile
        .agg(count(lit(1)).as("nf"), sum(col("rows")).as("nrows"),
          sum(col("o_max") - col("o_min")).as("o_ss"),
          sum(col("p_max") - col("p_min")).as("p_ss"),
          (max(col("o_max")) - min(col("o_min"))).as("o_range"),
          (max(col("p_max")) - min(col("p_min"))).as("p_range"))
        .select(lit(layout).as("layout"), col("nrows").as("rows"), explode(map(
          lit("o_custkey"), expr("p_ss * 10000 div (nf * p_range)"),
          lit("o_orderkey"), expr("o_ss * 10000 div (nf * o_range)")))
          .as(Seq("column", "avg_file_span_bp")))
    }
    spans(zOut, "zorder").union(spans(sOut, "sorted_by_orderkey"))
      .select(col("layout"), col("column"), col("avg_file_span_bp"), col("rows"))
      .orderBy(col("layout"), col("column"))
  }

  /** Per-file stats from the sidecars; global ranges + total rows
    * recomputed from the base table — a layout that lost ANY row
    * breaks the count, and a lost extreme breaks the range. */
  lazy val zorderLayoutSql: String =
    s"""WITH g AS (SELECT min(o_orderkey) AS o_lo, max(o_orderkey) AS o_hi,
       |  min(o_custkey) AS p_lo, max(o_custkey) AS p_hi,
       |  count(*) AS n FROM orders),
       | pf AS (
       |  SELECT 'zorder' AS layout, *
       |  FROM read_parquet('${oracleSidecarGlob("zorder_files_zorder")}')
       |  UNION ALL
       |  SELECT 'sorted_by_orderkey', *
       |  FROM read_parquet('${oracleSidecarGlob("zorder_files_sorted_by_orderkey")}')),
       | agg AS (
       |  SELECT layout, count(*) AS nf,
       |   sum(o_max - o_min) AS o_ss, sum(p_max - p_min) AS p_ss
       |  FROM pf GROUP BY layout)
       |SELECT a.layout, c."column",
       | cast(CASE c."column"
       |  WHEN 'o_orderkey' THEN a.o_ss * 10000 // (a.nf * (g.o_hi - g.o_lo))
       |  ELSE a.p_ss * 10000 // (a.nf * (g.p_hi - g.p_lo)) END as bigint)
       |   AS avg_file_span_bp,
       | cast(g.n as bigint) AS "rows"
       |FROM agg a CROSS JOIN g
       | CROSS JOIN (VALUES ('o_orderkey'), ('o_custkey')) AS c("column")
       |ORDER BY a.layout, c."column"""".stripMargin

  /** Reads through the custom DataSource V2 connector
    * (`GraftRangeSource` — TableProvider → ScanBuilder with column
    * pruning + filter pushdown → InputPartition planning): the pushed
    * id-range filter prunes 6 of 8 input partitions before any task
    * is scheduled, and only the projected columns' generators run.
    * Every column is a pure function of id, so DuckDB replays the
    * same table from range(); the plan spec asserts the pruning via
    * the scan's description. The `dir` argument is unused — the
    * connector IS the source. */
  def dsv2Source(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "100000").option("slices", "8").load()
      .filter(col("id") >= 25000 && col("id") < 50000)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("bucket")).as("bsum"),
        dsum(col("value")).as("vsum"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("label"))

  val dsv2SourceSql: String =
    s"""SELECT 'lbl' || (id % 5) AS label, count(*) AS n,
       | cast(sum(id % 16) as bigint) AS bsum,
       | ${sqlDsum("cast(((id % 1000) * 2654435761) % 1000 as double) / 10.0")} AS vsum,
       | min(id) AS min_id, max(id) AS max_id
       |FROM (SELECT range AS id FROM range(25000, 50000))
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Batch face of the connector's COMPACTED-LOG mode
    * (`GraftRangeSource` `compactedKeys` — the reference broker's
    * `cleanup.policy=compact` view, docker-compose.yaml:31-32): the
    * scan serves only max-offset-per-key survivors of the raw log, and
    * a pushed id-range predicate composes with the survivor set — the
    * offset bound prunes survivors BEFORE partition planning (the V2
    * analogue of seeking a compacted topic from an offset), leaving no
    * residual filter. Only id/bucket/label are projected, so the value
    * generator never runs (column pruning through the compacted
    * reader). DuckDB replays survivors as max(id) GROUP BY key over
    * range(). */
  def compactedScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "100000").option("slices", "8")
      .option("compactedKeys", "257").load()
      .filter(col("id") >= 40000)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("bucket")).as("bsum"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("label"))

  val compactedScanSql: String =
    """WITH log AS (
      | SELECT range AS id, ((range * 2654435761) % 1000003) % 257 AS k
      | FROM range(0, 100000)),
      |surv AS (SELECT max(id) AS id FROM log GROUP BY k)
      |SELECT 'lbl' || (id % 5) AS label, count(*) AS n,
      | cast(sum(id % 16) as bigint) AS bsum,
      | min(id) AS min_id, max(id) AS max_id
      |FROM surv WHERE id >= 40000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Round-trips the connector's WRITE half (`GraftTextSink` — the V2
    * transactional commit protocol: executors stage `_tmp_*` files and
    * report them in commit messages; the driver's `BatchWrite.commit`
    * renames them into visibility and drops `_SUCCESS`; underscore
    * prefixes keep staged files invisible to any reader meanwhile).
    * The ranged source writes through the sink, a CSV read recovers
    * the rows (Double.toString is round-trip exact), and DuckDB
    * replays the aggregate from range(). The atomicity contract —
    * a poisoned task leaves NO visible output — is spec-asserted. */
  def dsv2Sink(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("textsink")
    spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "10000").option("slices", "4").load()
      .write.format("graft.sources.GraftTextSink")
      .mode(SaveMode.Append).option("path", out).save()
    spark.read.schema("id long, bucket long, label string, value double")
      .csv(out)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("bucket")).as("bsum"),
        dsum(col("value")).as("vsum"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("label"))
  }

  val dsv2SinkSql: String =
    s"""SELECT 'lbl' || (id % 5) AS label, count(*) AS n,
       | cast(sum(id % 16) as bigint) AS bsum,
       | ${sqlDsum("cast(((id % 1000) * 2654435761) % 1000 as double) / 10.0")} AS vsum,
       | min(id) AS min_id, max(id) AS max_id
       |FROM (SELECT range AS id FROM range(0, 10000))
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hive-style partitioned write + partition-pruned read: the filter
    * on the partition column never touches non-matching files (the
    * plan's PartitionFilters — asserted in ComponentSpec). At 100 TB
    * partition-by-low-cardinality-column is the first line of defense
    * before any row filter runs. */
  def partitionedPruning(spark: SparkSession, dir: String): DataFrame = {
    writeParquet(t(spark, dir, "orders"), uniq("part"), Seq("o_orderstatus"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exposed for the pruning spec: the filtered reader over a
    * just-written partitioned layout. */
  def partitionedReader(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("part_spec")
    t(spark, dir, "orders")
      .write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(out)
    spark.read.parquet(out).filter(col("o_orderstatus") === "F")
  }

  val partitionedPruningSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders WHERE o_orderstatus = 'F'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** PARTITION-SCHEME EVOLUTION (the Iceberg partition-evolution
    * pattern from first principles): a table's early files were
    * partitioned by MONTH; later the scheme evolved to DAY — and
    * evolving must not rewrite history, so both eras coexist and
    * every query plans each era against ITS OWN scheme. A date-range
    * read prunes era-1 at month granularity (coarse partition
    * predicate + residual row filter for the mid-month edges) and
    * era-2 at day granularity (exact, no residual needed); the union
    * must equal the logical table's range scan. The range here
    * deliberately starts and ends MID-month so the old scheme's
    * residual filter is load-bearing. At 100 TB this is why evolution
    * is free: the manifest maps each file to its era's partition
    * tuple, pruning stays metadata-only in both eras, and no byte of
    * era-1 is ever rewritten. */
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame =
    evolutionReader(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))

  /** The two-era pruned union read — exposed for the pruning spec. */
  def evolutionReader(spark: SparkSession, dir: String): DataFrame = {
    // repartition ON the partition column before each partitionBy write:
    // otherwise every task writes a file into every partition dir — at
    // sf0.1 the day era is ~200 dirs × 32 tasks of small files (measured
    // 14.8 s; ~3 s with the repartition). Same discipline as q70's
    // file_id write. Era-2 starts 2001: day-granularity layouts are for
    // the RECENT era, which is also why real tables evolve mid-history.
    // The two-era layout is memoized per (orders fingerprint) — bench
    // reps measure the two pruned scans, not the era writes. Both eras
    // read back with the schema they were written with: the partition
    // columns stay strings, and an empty era reads as empty.
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"), col("o_totalprice"))
    val month = o.filter(col("o_orderdate") < "2001-01-01")
      .withColumn("pmonth", date_format(col("o_orderdate"), "yyyy-MM"))
    val day = o.filter(col("o_orderdate") >= "2001-01-01")
      .withColumn("pday", date_format(col("o_orderdate"), "yyyy-MM-dd"))
    val root = artifactRoot(s"evo-${tableFingerprint(dir, "orders")}") { staged =>
      month.repartition(col("pmonth")).write.partitionBy("pmonth").parquet(s"$staged/month")
      day.repartition(col("pday")).write.partitionBy("pday").parquet(s"$staged/day")
    }
    // the query: [2000-10-15, 2001-03-15] spans the era boundary
    val q1 = spark.read.schema(month.schema).parquet(s"$root/month")
      .filter(col("pmonth") >= "2000-10" && col("pmonth") <= "2001-03")
      .filter(col("o_orderdate") >= "2000-10-15" && col("o_orderdate") <= "2001-03-15")
      .drop("pmonth")
    val q2 = spark.read.schema(day.schema).parquet(s"$root/day")
      .filter(col("pday") >= "2000-10-15" && col("pday") <= "2001-03-15")
      .drop("pday")
    q1.unionByName(q2)
  }

  val partitionEvolutionSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderdate >= '2000-10-15' AND o_orderdate <= '2001-03-15'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Bucketed tables + co-located join: both sides bucketed 8-ways on
    * the join key → the join reads bucket i against bucket i with NO
    * shuffle exchange on either side (asserted in ComponentSpec). At
    * 100 TB this turns every recurring fact-fact join on the same key
    * into a scan-local operation — the single biggest shuffle saving
    * a warehouse layout can buy. */
  // JVM-unique table names: the in-memory catalog forgets tables
  // across JVMs but their warehouse locations persist — reusing a
  // fixed name would hit LOCATION_ALREADY_EXISTS on the next run.
  // Names carry a dir hash so two scale factors in one JVM (specs vs
  // bench) get independent tables.
  private val tblSuffix = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
  private def dirTag(dir: String): String =
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
  private def ordersTbl(dir: String) = s"graft_orders_b_${tblSuffix}_${dirTag(dir)}"
  private def lineitemTbl(dir: String) = s"graft_lineitem_b_${tblSuffix}_${dirTag(dir)}"

  // write-once per (JVM, dir): the bucketed layout is the FIXTURE, the
  // shuffle-free join is the entry — bench reps measure the join, not
  // two repeated bucketed table writes (catalog state is per-JVM, so
  // this memo cannot live in the cross-JVM artifact cache)
  private val bucketedReady = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    bucketedReady.computeIfAbsent(dir, _ => {
      t(spark, dir, "orders")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordersTbl(dir))
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lineitemTbl(dir))
      // same leak shape as cboStats' graft_stats_* tables: the catalog
      // entry dies with the JVM, the warehouse dir would not — register
      // both for exit cleanup (deferred: bucketedJoinPlan reads them later)
      Seq(ordersTbl(dir), lineitemTbl(dir)).foreach { n =>
        val meta = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(n))
        graft.util.registerShutdownDelete(new java.io.File(meta.location).getAbsolutePath)
      }
      true
    })
    val o = spark.table(ordersTbl(dir))
    val li = spark.table(lineitemTbl(dir))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** The bare bucketed join (no agg) for the no-exchange plan spec. */
  def bucketedJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.table(ordersTbl(dir))
    val li = spark.table(lineitemTbl(dir))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
  }

  val bucketedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_items, ${sqlDsum("l_quantity")} AS qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Range-partitioned, sorted write: `repartitionByRange` +
    * `sortWithinPartitions` clusters rows by date so every parquet
    * row-group covers a narrow min/max range — date-filtered scans
    * then skip whole files/row-groups on footer statistics alone (the
    * sorted-layout trick for append-only fact tables). Read back with
    * a range filter; spec asserts RangePartitioning in the write plan. */
  def rangePartitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("rangepart")
    rangePartitionedWriter(spark, dir).write.mode(SaveMode.Overwrite).parquet(out)
    spark.read.parquet(out)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** The clustered writer side, exposed for the plan spec. */
  def rangePartitionedWriter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))

  val rangePartitionedWriteSql: String =
    s"""SELECT o_orderstatus, count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
       | AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** FILE-SKIPPING EFFECTIVENESS AUDIT — the number a table-layout
    * decision is actually judged by: for the SAME orders data written
    * range-clustered on o_orderdate vs hash-scattered, how many of
    * the 8 files can a quarterly date-range probe SKIP on min/max
    * stats alone? (Clustered layouts skip ~¾; scattered layouts skip
    * ~0 because every file's span covers the whole year range — the
    * measured form of the argument `src_range_partitioned` and
    * z-order make structurally.) The per-file spans are engine
    * placement (range-partitioner sampling) → they land in the
    * sidecar as (layout, min_us, max_us) rows, and DuckDB replays the
    * probe-overlap rollup — the same discipline every layout entry
    * uses. Scale: spans come from one `input_file_name()` aggregation
    * per layout (metadata-sized, 8 rows); the audit itself is an
    * 8×4-row cross join. */
  def skippingAudit(spark: SparkSession, dir: String): DataFrame = {
    val clustered = uniq("skip_clustered"); val scattered = uniq("skip_scattered")
    val orders = t(spark, dir, "orders")
    orders.repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode(SaveMode.Overwrite).parquet(clustered)
    orders.repartition(8, col("o_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(scattered)
    def spans(path: String, label: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("o_orderdate"))).as("min_us"),
        max(unix_micros(col("o_orderdate"))).as("max_us"))
      .select(lit(label).as("layout"), col("min_us"), col("max_us"))
    val allSpans = spans(clustered, "clustered")
      .unionByName(spans(scattered, "scattered"))
    oracleSidecar("file_spans", allSpans)
    val probes = (1 to 4).map { q =>
      val lo = f"1997-${3 * q - 2}%02d-01"
      val hi = if (q == 4) "1998-01-01" else f"1997-${3 * q + 1}%02d-01"
      (q.toLong, lo, hi)
    }.toList
    val probeDf = spark.createDataFrame(probes).toDF("quarter", "lo", "hi")
      .select(col("quarter"),
        unix_micros(col("lo").cast("timestamp")).as("lo_us"),
        unix_micros(col("hi").cast("timestamp")).as("hi_us"))
    allSpans.crossJoin(broadcast(probeDf))
      .groupBy(col("layout"), col("quarter"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_us") >= col("lo_us") && col("min_us") < col("hi_us"), 1L)
          .otherwise(0L)).as("n_must_read"))
      .select(col("layout"), col("quarter"), col("n_files"),
        col("n_must_read"),
        (col("n_files") - col("n_must_read")).as("n_skippable"),
        expr("(n_files - n_must_read) * 10000 div n_files").as("skip_bp"))
      .orderBy(col("layout"), col("quarter"))
  }

  val skippingAuditSql: String =
    s"""WITH spans AS (
       | SELECT layout, min_us, max_us
       | FROM read_parquet('${graft.util.oracleSidecarGlob("file_spans")}')),
       |probes AS (
       | SELECT q AS quarter,
       |  epoch_us(cast(lo as timestamp)) AS lo_us,
       |  epoch_us(cast(hi as timestamp)) AS hi_us
       | FROM (VALUES (1, '1997-01-01', '1997-04-01'),
       |              (2, '1997-04-01', '1997-07-01'),
       |              (3, '1997-07-01', '1997-10-01'),
       |              (4, '1997-10-01', '1998-01-01')) v(q, lo, hi))
       |SELECT s.layout, cast(p.quarter as bigint) AS quarter,
       | cast(count(*) as bigint) AS n_files,
       | cast(sum(CASE WHEN s.max_us >= p.lo_us AND s.min_us < p.hi_us
       |   THEN 1 ELSE 0 END) as bigint) AS n_must_read,
       | cast(count(*) - sum(CASE WHEN s.max_us >= p.lo_us AND s.min_us < p.hi_us
       |   THEN 1 ELSE 0 END) as bigint) AS n_skippable,
       | cast((count(*) - sum(CASE WHEN s.max_us >= p.lo_us AND s.min_us < p.hi_us
       |   THEN 1 ELSE 0 END)) * 10000 // count(*) as bigint) AS skip_bp
       |FROM spans s CROSS JOIN probes p
       |GROUP BY s.layout, p.quarter
       |ORDER BY s.layout, quarter""".stripMargin

  /** Schema evolution — the append-only table whose writer gained a
    * column mid-stream: half the rows land with 2 columns, half with
    * 3, and `mergeSchema` reconciles the footers on read (old rows
    * read NULL for the new column). The aggregate proves both halves
    * survive and the new column's values are intact. At 100 TB this
    * is how fact tables actually evolve — rewriting history to add a
    * column is not an option. */
  def schemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("evolve")
    val ev = t(spark, dir, "events")
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"))
      .write.mode(SaveMode.Append).parquet(out)
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode(SaveMode.Append).parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("value")).as("n_with_value"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val schemaMergeSql: String =
    s"""SELECT event_type, count(*) AS n_rows,
       | cast(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) as bigint) AS n_with_value,
       | ${sqlDsum("CASE WHEN event_id % 2 = 1 THEN value END")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Corrupt-record quarantine — the ingest-resilience pattern: a JSON
    * "topic" containing malformed producer output is read PERMISSIVE
    * with a `_corrupt_record` column; good rows flow, bad rows are
    * counted (in production: quarantined to a dead-letter table)
    * instead of failing the job. The read is cached before filtering
    * on the corrupt column — Spark disallows referencing it otherwise
    * (the raw line is only available while parsing). */
  def corruptRecords(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("corrupt")
    t(spark, dir, "events")
      .select(col("event_id"), col("event_type"))
      .write.mode(SaveMode.Overwrite).json(out)
    // three malformed lines a crashing producer might emit
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/part-junk.json"),
      "{\"event_id\": 1, \"event_type\"\nnot json at all\n{\"event_id\":")
    val read = spark.read
      .schema("event_id bigint, event_type string, _corrupt_record string")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .cache()
    read.count() // materialize the cache (cleared by the harness per query)
    read.agg(
      count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
      count(col("_corrupt_record")).as("n_corrupt"))
  }

  val corruptRecordsSql: String =
    """SELECT count(*) AS n_good, cast(3 as bigint) AS n_corrupt
      |FROM events""".stripMargin

  /** Small-files compaction — the maintenance job every streaming
    * ingest needs: a "topic" landed as 32 small files is rewritten
    * into 2 right-sized ones (`coalesce` — a NARROW repartition: each
    * output task reads 16 inputs, no shuffle), and the compacted data
    * must be byte-identical in content. At 100 TB the small-files
    * problem is a namenode/metadata killer and a scan-parallelism tax;
    * the production loop picks `target = ceil(bytes / 128 MB)` per
    * partition directory. Oracle checks the layout counts AND the data
    * aggregate after the round-trip. */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val small = uniq("small_files")
    val compacted = uniq("compacted")
    t(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(small)
    def nFiles(p: String): Long =
      spark.read.parquet(p).select(input_file_name()).distinct().count()
    val before = nFiles(small)
    spark.read.parquet(small).coalesce(2)
      .write.mode(SaveMode.Overwrite).parquet(compacted)
    val after = nFiles(compacted)
    spark.read.parquet(compacted)
      .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
      .select(lit(before).as("files_before"), lit(after).as("files_after"),
        col("n_rows"), col("sum_value"))
  }

  val compactionSql: String =
    s"""SELECT cast(32 as bigint) AS files_before, cast(2 as bigint) AS files_after,
       | count(*) AS n_rows, ${sqlDsum("value")} AS sum_value
       |FROM events""".stripMargin

  /** Manifest-based FILE pruning — the table-format pattern
    * (Iceberg/Delta data skipping) built from first principles: write
    * orders range-partitioned on o_orderdate into 16 date-sorted
    * files, derive a MANIFEST (per-file min/max of the sort column —
    * one scan with `input_file_name()`), and answer a date-range query
    * by consulting the manifest first: only files whose [min, max]
    * interval intersects the predicate are read at all. The manifest
    * `collect()` is METADATA-sized (16 rows — exactly what an Iceberg
    * planner holds on the driver), never data. The spec asserts real
    * pruning (selected < total files); the oracle is the plain
    * filtered aggregate, proving skipped files contained no matching
    * rows. At 100 TB this is the difference between a scan planning in
    * O(files-matching) and O(corpus). */
  def manifestParts(spark: SparkSession, dir: String,
      loDate: String = "1996-01-01", hiDate: String = "1996-12-31")
      : (Seq[String], Int, String) = {
    val out = uniq("manifest")
    t(spark, dir, "orders")
      .repartitionByRange(16, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode(SaveMode.Overwrite).parquet(out)
    // min/max as 'yyyy-MM-dd HH:mm:ss' strings: lexicographic order ==
    // chronological order, and the driver-side compare stays free of
    // the java.sql vs java.time API split
    val manifest = spark.read.parquet(out)
      .groupBy(input_file_name().as("file"))
      .agg(date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mn"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mx"))
    val rows = manifest.collect() // metadata-sized: one row per file
    val lo = s"$loDate 00:00:00"
    val hi = s"$hiDate 00:00:00"
    // file intersects the predicate interval iff [mn, mx] ∩ [lo, hi] ≠ ∅
    val selected = rows.toSeq
      .filter(r => r.getString(2) >= lo && r.getString(1) <= hi)
      .map(_.getString(0))
    (selected, rows.length, out)
  }

  def manifestPruningFor(spark: SparkSession, dir: String,
      loDate: String, hiDate: String): DataFrame = {
    val (selected, _, out) = manifestParts(spark, dir, loDate, hiDate)
    // a predicate no file's [min, max] intersects prunes EVERYTHING —
    // parquet() on an empty path list cannot infer a schema and
    // throws, so an empty selection must short-circuit to an empty
    // DataFrame with the table's real schema (what a table-format
    // planner returns for an empty file list)
    val base =
      if (selected.nonEmpty) spark.read.parquet(selected: _*)
      else spark.read.parquet(out).limit(0)
    base
      .filter(col("o_orderdate").between(loDate, hiDate))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  def manifestPruning(spark: SparkSession, dir: String): DataFrame =
    manifestPruningFor(spark, dir, "1996-01-01", "1996-12-31")

  val manifestPruningSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       | ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Compression codec matrix — the same slice written as parquet
    * under each codec in the distribution (snappy / zstd / gzip / lz4
    * / uncompressed), read back and checksummed: count + exact
    * orderkey sum + exact decimal price sum per codec must all equal
    * the source (codec choice is a pure storage trade, never a
    * semantics one — the thing to PROVE before flipping a 100 TB
    * table to zstd). File sizes differ per codec/build, so the
    * oracle checks the five identical checksum rows, not bytes. */
  def codecMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val codecs = Seq("snappy", "zstd", "gzip", "lz4", "uncompressed")
    codecs.map { c =>
      val out = uniq(s"codec_$c")
      src.write.mode(SaveMode.Overwrite).option("compression", c).parquet(out)
      spark.read.parquet(out)
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          dsum(col("o_totalprice")).as("price_sum"))
        .select(lit(c).as("codec"), col("n"), col("key_sum"), col("price_sum"))
    }.reduce(_.unionAll(_)).orderBy(col("codec"))
  }

  val codecMatrixSql: String = {
    val one = (c: String) =>
      s"""SELECT '$c' AS codec, count(*) AS n,
         | cast(sum(o_orderkey) as bigint) AS key_sum,
         | ${sqlDsum("o_totalprice")} AS price_sum
         |FROM orders""".stripMargin
    Seq("snappy", "zstd", "gzip", "lz4", "uncompressed")
      .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY codec")
  }

  /** Snapshot time travel from first principles (the Iceberg/Delta
    * `VERSION AS OF` read path): a table is a MANIFEST of immutable
    * data files per snapshot — commit v1 writes files A, commit v2
    * appends file B and a manifest row [A, B]; reading "as of v1"
    * selects A, reading v2 selects A+B, and NOTHING is rewritten or
    * copied between versions (file A is shared by both manifests).
    * The manifest here is a 2-row JSON of (version → file list) —
    * metadata-sized, the only driver read — and each snapshot read is
    * a plain pruned parquet scan of its file set. At 100 TB this is
    * why time travel is free: versions share files, the manifest is
    * KB-sized, and snapshot isolation falls out of file immutability.
    * Both snapshots' aggregates replay exactly in DuckDB from the
    * defining predicates ⇒ fully oracle-checked. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val base = uniq("ttravel")
    val v1Files = s"$base/data_v1"
    val v2Files = s"$base/data_v2"
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    // commit 1: the initial load; commit 2: an APPEND-only delta
    o.filter(col("o_orderkey") % 3 =!= 0).write.parquet(v1Files)
    o.filter(col("o_orderkey") % 3 === 0).write.parquet(v2Files)
    val manifest = Seq(
      (1L, Seq(v1Files)),
      (2L, Seq(v1Files, v2Files)))
    def snapshot(version: Long): DataFrame = {
      val files = manifest.find(_._1 == version).get._2
      spark.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
        .select(lit(version).as("version"), col("n_rows"), col("revenue"))
    }
    snapshot(1L).unionAll(snapshot(2L)).orderBy(col("version"))
  }

  val timeTravelSql: String =
    s"""SELECT cast(1 as bigint) AS version, count(*) AS n_rows,
       | ${sqlDsum("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 3 <> 0
       |UNION ALL
       |SELECT cast(2 as bigint), count(*), ${sqlDsum("o_totalprice")}
       |FROM orders
       |ORDER BY version""".stripMargin

  /** OPTIMISTIC-CONCURRENCY multi-writer commits — the missing piece
    * of the repo's table-format story (manifests, time travel, DVs are
    * all single-writer so far): the Delta/Iceberg protocol from first
    * principles. Table state = dense version manifests
    * `_versions/v<N>.json`; a commit (1) reads the current max
    * version, (2) stages its data file, (3) attempts to PUBLISH the
    * manifest as v(N+1) via the filesystem's create-new atomic CAS
    * (`Files.createFile` fails iff the name exists), and (4) on losing
    * the race re-reads the head and RETRIES at the next version —
    * append-only commits never semantically conflict, so rebase is
    * just renumbering. Eight committers race from a start latch; every
    * one must land exactly once in a dense v1..v8 chain.
    *
    * The entry's output is the per-committer row count read BACK
    * through the committed manifest chain, and the oracle recomputes
    * the same counts straight from `orders` — equality IS the
    * no-lost-update proof: a clobbered or skipped commit drops a chunk
    * and the hash diverges. Retry/density mechanics are spec-pinned
    * (retries observed under the latch race; versions dense; each data
    * file referenced exactly once). */
  def occCommit(spark: SparkSession, dir: String): DataFrame = {
    val (root, _) = occRun(spark, dir)
    occRead(spark, root)
      .groupBy(col("committer"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .orderBy(col("committer"))
  }

  /** Runs the 8-committer race; returns (table root, total retries). */
  private[graft] def occRun(spark: SparkSession, dir: String): (String, Int) = {
    val root = uniq("occ_table")
    val vdir = new java.io.File(s"$root/_versions")
    vdir.mkdirs()
    val orders = graft.util.t(spark, dir, "orders")
    // stage each committer's data file up front, the 8 independent
    // write jobs OVERLAPPED from a thread pool (guide §2.6: the
    // scheduler back-fills each job's task tail with the next job's
    // tasks — measured r18: ~8 serial jobs of ~0.15 s collapsed to
    // ~2 concurrent waves). The CONCURRENT part of the PROTOCOL is
    // still the manifest CAS below, which is where multi-writer
    // safety lives; staging order was never semantically relevant.
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(Future.sequence((0 until 8).map { i => Future {
        orders.filter(col("o_orderkey") % 8 === i)
          .select(col("o_orderkey"), lit(i.toLong).as("committer"))
          .write.parquet(s"$root/data_$i")
      }}), Duration.Inf)
    }
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    def currentVersion(): Int = {
      val vs = vdir.listFiles()
      if (vs == null || vs.isEmpty) 0
      else vs.map(_.getName.stripPrefix("v").stripSuffix(".json").toInt).max
    }
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        start.await()
        var committed = false
        while (!committed) {
          val next = currentVersion() + 1
          try {
            java.nio.file.Files.createFile( // atomic create-new = the CAS
              java.nio.file.Paths.get(s"$root/_versions/v$next.json"))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$root/_versions/v$next.json"),
              s"""{"version": $next, "add": "data_$i"}""")
            committed = true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              retries.incrementAndGet() // lost the race — rebase, retry
          }
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    (root, retries.get())
  }

  /** Reads the committed table: union of every manifest's data file. */
  private[graft] def occRead(spark: SparkSession, root: String): DataFrame = {
    val adds = new java.io.File(s"$root/_versions").listFiles()
      .filter(f => f.getName.matches("v\\d+\\.json"))
      .sortBy(_.getName.stripPrefix("v").stripSuffix(".json").toInt)
      .map { f =>
        val s = java.nio.file.Files.readString(f.toPath)
        s.split("\"add\": \"")(1).split("\"")(0)
      }
    adds.map(a => spark.read.parquet(s"$root/$a")).reduce(_ unionAll _)
  }

  val occCommitSql: String =
    """SELECT o_orderkey % 8 AS committer, cast(count(*) as bigint) AS n_rows
      |FROM orders GROUP BY 1 ORDER BY committer""".stripMargin

  // ---- branch refs over version manifests (Iceberg-style refs) ----

  /** Reads `_refs/<name>` → the version it points at. */
  private[graft] def readRef(root: String, name: String): Int =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_refs/$name")).trim.toInt

  /** Atomically points ref `name` at `version` (write-temp + ATOMIC_MOVE
    * — readers never observe a torn ref; the manifest CAS in
    * [[occRun]] already serializes writers). */
  private[graft] def writeRef(root: String, name: String, version: Int): Unit = {
    val dir = java.nio.file.Paths.get(s"$root/_refs")
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp-${java.util.UUID.randomUUID}")
    java.nio.file.Files.writeString(tmp, s"$version\n")
    java.nio.file.Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Commits `df` as data file `label` in a manifest that records its
    * PARENT version (the Iceberg snapshot model: version ids allocate
    * globally, but reachability is the parent chain — a commit whose
    * branch ref is later dropped becomes an unreachable orphan, its
    * data invisible to every reader without any delete). Version ids
    * are allocated max+1 (single-writer here; multi-writer safety is
    * [[occRun]]'s CAS on exactly this create). */
  private[graft] def commitVersion(root: String, label: String, df: DataFrame,
      parent: Int): Int = {
    df.write.parquet(s"$root/$label")
    val vdir = new java.io.File(s"$root/_versions")
    vdir.mkdirs()
    val vs = Option(vdir.listFiles()).getOrElse(Array.empty)
      .map(_.getName.stripPrefix("v").stripSuffix(".json").toInt)
    val next = (if (vs.isEmpty) 0 else vs.max) + 1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_versions/v$next.json"),
      s"""{"version": $next, "parent": $parent, "add": "$label"}""")
    next
  }

  private[graft] def parentOf(root: String, v: Int): Int =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_versions/v$v.json"))
      .split("\"parent\": ")(1).split("[,}]")(0).trim.toInt

  /** version → its ancestor chain [version, parent, …] down to the
    * first commit (parent 0 = empty table). */
  private[graft] def ancestors(root: String, version: Int): List[Int] =
    if (version == 0) Nil
    else version :: ancestors(root, parentOf(root, version))

  /** Snapshot AT `version`: union of the data files added along its
    * parent chain — an orphaned commit (no ref reaches it) is simply
    * never on anyone's chain, which is why a rejected WAP stage needs
    * no cleanup to be invisible. */
  private[graft] def snapshotAt(spark: SparkSession, root: String, version: Int): DataFrame =
    ancestors(root, version).map { v =>
      val add = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$root/_versions/v$v.json"))
        .split("\"add\": \"")(1).split("\"")(0)
      // absolute adds are CROSS-TABLE references — how a zero-copy
      // clone points at the source table's files without copying them
      spark.read.parquet(if (add.startsWith("/")) add else s"$root/$add")
    }.reduce(_ unionAll _)

  /** Fast-forward merge `from` → `into`: legal iff `into`'s current
    * version is an ANCESTOR of `from`'s head; the merge is one atomic
    * ref move, no data rewrite. */
  private[graft] def ffMerge(root: String, into: String, from: String): Unit = {
    val target = readRef(root, from)
    require(ancestors(root, target).contains(readRef(root, into)),
      s"fast-forward only: $into@${readRef(root, into)} is not an ancestor of $from@$target")
    writeRef(root, into, target)
  }

  /** BRANCHES AND TAGS over the version-manifest table format — the
    * Iceberg/Nessie ref model from first principles: a branch is a
    * named pointer into the (linear, CAS-serialized) version chain,
    * branch writes advance only their own ref, and a fast-forward
    * merge publishes a branch to main as ONE atomic pointer move with
    * zero data movement. The entry runs the canonical ETL flow —
    * branch `etl` forks main at v1, lands two commits (invisible to
    * main readers: ISOLATION), then merges — and emits every
    * (phase, ref) snapshot's row count + exact revenue; the oracle
    * recomputes all of them straight from `orders` via the commit
    * predicates, so the hash match proves both isolation (main@before
    * sees only v1) and publication (main@after ≡ etl head). At 100 TB
    * this is how blue/green table deploys work: writers stage
    * arbitrarily large commits on a branch while readers stay pinned,
    * and the cutover is metadata-only. */
  def branchMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = uniq("branch_table")
    val orders = graft.util.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    writeRef(root, "main", commitVersion(root, "data_0",
      orders.filter(col("o_orderkey") % 3 === 0), parent = 0))
    writeRef(root, "etl", readRef(root, "main")) // fork at main's head
    writeRef(root, "etl", commitVersion(root, "data_1",
      orders.filter(col("o_orderkey") % 3 === 1), parent = readRef(root, "etl")))
    writeRef(root, "etl", commitVersion(root, "data_2",
      orders.filter(col("o_orderkey") % 3 === 2), parent = readRef(root, "etl")))
    def snap(phase: String, ref: String): DataFrame =
      snapshotAt(spark, root, readRef(root, ref))
        .groupBy().agg(count(lit(1)).cast("long").as("n_rows"),
          dsum(col("o_totalprice")).as("revenue"))
        .select(lit(phase).as("phase"), lit(ref).as("ref"),
          col("n_rows"), col("revenue"))
    val before = snap("before", "main").unionAll(snap("before", "etl"))
    val beforeRows = materializeLocal(before) // snapshot BEFORE the ref moves
    ffMerge(root, "main", "etl")
    beforeRows.unionAll(snap("after", "main"))
      .orderBy(col("phase"), col("ref"))
  }

  val branchMergeSql: String =
    s"""SELECT * FROM (
       | SELECT 'before' AS phase, 'main' AS ref, cast(count(*) as bigint) AS n_rows,
       |  ${sqlDsum("o_totalprice")} AS revenue
       | FROM orders WHERE o_orderkey % 3 = 0
       | UNION ALL
       | SELECT 'before', 'etl', cast(count(*) as bigint), ${sqlDsum("o_totalprice")}
       | FROM orders
       | UNION ALL
       | SELECT 'after', 'main', cast(count(*) as bigint), ${sqlDsum("o_totalprice")}
       | FROM orders
       |) ORDER BY phase, ref""".stripMargin

  /** WRITE–AUDIT–PUBLISH — the production ingestion gate (Netflix's
    * Iceberg WAP pattern) composed from this file's refs + the
    * expectations discipline of `meta_expectations`: every ingest
    * lands on an `audit` branch, the CANDIDATE snapshot (main ⊎
    * staged commit) is audited against declared data contracts, and
    * only a clean audit fast-forwards main; a failed audit drops the
    * branch ref and main never sees the bad rows. The entry stages a
    * deliberately poisoned batch (negated prices on keys ≡ 1 mod 100)
    * that the audit REJECTS, then the clean batch that PUBLISHES, and
    * emits the full audit ledger plus the final main row count — all
    * recomputed by the oracle from `orders`, so the hash match proves
    * the reject really kept every poisoned row out and the publish
    * really landed every clean one. The audits themselves are
    * answer-sized aggregates over the candidate snapshot (scan-speed
    * at any scale); the reject/publish are metadata-only ref ops. */
  def wapPublish(spark: SparkSession, dir: String): DataFrame = {
    val root = uniq("wap_table")
    val orders = graft.util.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    writeRef(root, "main", commitVersion(root, "base",
      orders.filter(col("o_orderkey") % 2 === 0), parent = 0))
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
    def audit(attempt: Int, staged: DataFrame): DataFrame = {
      // candidate = what main WOULD become if this commit published
      val candidate = snapshotAt(spark, root, readRef(root, "main"))
        .unionAll(staged)
      materializeLocal(candidate.groupBy().agg(
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("neg"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nul"))
        .select(explode(array(
          struct(lit("no_nonpositive_price").as("check_name"), col("neg").as("violations")),
          struct(lit("no_null_key").as("check_name"), col("nul").as("violations")))).as("c"))
        .select(lit(attempt.toLong).as("attempt"), col("c.check_name"),
          col("c.violations").cast("long").as("violations")))
    }
    // attempt 1: poisoned batch — audit must reject, main must not move
    val poisoned = odd.withColumn("o_totalprice",
      when(col("o_orderkey") % 100 === 1, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
    val vPoisoned = commitVersion(root, "stage_poisoned", poisoned,
      parent = readRef(root, "main"))
    writeRef(root, "audit", vPoisoned)
    val ledger1 = audit(1, poisoned)
    if (ledger1.filter(col("violations") > 0).count() > 0)
      writeRef(root, "audit", readRef(root, "main")) // reject: reset the branch
    // attempt 2: clean batch, branched from main again — the rejected
    // commit is now an orphan off every ref's parent chain
    val vClean = commitVersion(root, "stage_clean", odd,
      parent = readRef(root, "main"))
    writeRef(root, "audit", vClean)
    val ledger2 = audit(2, odd)
    if (ledger2.filter(col("violations") > 0).count() == 0)
      ffMerge(root, "main", "audit") // publish: one atomic ref move
    val published = readRef(root, "main") == vClean
    val finalCount = materializeLocal(
      snapshotAt(spark, root, readRef(root, "main"))
        .groupBy().agg(count(lit(1)).as("n"))
        .select(lit(3L).as("attempt"), lit("main_row_count").as("check_name"),
          col("n").cast("long").as("violations"), lit(true).as("published")))
    ledger1.withColumn("published", lit(false))
      .unionAll(ledger2.withColumn("published", lit(published)))
      .unionAll(finalCount)
      .orderBy(col("attempt"), col("check_name"))
  }

  val wapPublishSql: String =
    """SELECT * FROM (
      | SELECT cast(1 as bigint) AS attempt, 'no_nonpositive_price' AS check_name,
      |  cast((SELECT count(*) FROM orders
      |        WHERE o_orderkey % 2 = 1 AND o_orderkey % 100 = 1) as bigint)
      |    AS violations, false AS published
      | UNION ALL
      | SELECT 1, 'no_null_key', 0, false
      | UNION ALL
      | SELECT 2, 'no_nonpositive_price', 0, true
      | UNION ALL
      | SELECT 2, 'no_null_key', 0, true
      | UNION ALL
      | SELECT 3, 'main_row_count',
      |  cast((SELECT count(*) FROM orders) as bigint), true
      |) ORDER BY attempt, check_name""".stripMargin

  /** Snapshot expiry + orphan-file GC — the maintenance half of the
    * table format (Iceberg `expireSnapshots` + `deleteOrphanFiles`):
    * manifests not on ANY ref's parent chain (a dropped WAP stage, an
    * abandoned branch) are deleted together with the data files only
    * they reference, and the proof obligation is that every REF'S
    * READBACK IS BYTE-IDENTICAL across the GC — reclamation must be
    * invisible to readers. The entry builds a 3-commit main chain plus
    * one orphaned stage, GCs, and emits (phase, n_manifests,
    * n_datafiles, n_rows) with the row count read through main both
    * times; the oracle recomputes all four rows from `orders`, so a GC
    * that deleted a reachable file (rows drop) or missed the orphan
    * (file count stays 4) hash-fails. At 100 TB this runs as a
    * metadata-only mark (ref chains) and a listing sweep — never a
    * data scan. */
  def manifestExpire(spark: SparkSession, dir: String): DataFrame = {
    val root = uniq("expire_table")
    val orders = graft.util.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    writeRef(root, "main", commitVersion(root, "d0",
      orders.filter(col("o_orderkey") % 3 === 0), parent = 0))
    writeRef(root, "main", commitVersion(root, "d1",
      orders.filter(col("o_orderkey") % 3 === 1), parent = readRef(root, "main")))
    // an abandoned stage off v1 — no ref will ever reach it
    commitVersion(root, "orphan", orders.filter(col("o_orderkey") % 3 === 2),
      parent = 1)
    writeRef(root, "main", commitVersion(root, "d2",
      orders.filter(col("o_orderkey") % 3 === 2), parent = readRef(root, "main")))
    def census(phase: String): DataFrame = {
      val nManifests = Option(new java.io.File(s"$root/_versions").listFiles())
        .getOrElse(Array.empty).count(_.getName.matches("v\\d+\\.json")).toLong
      val nData = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).count(f => f.isDirectory &&
          !f.getName.startsWith("_")).toLong
      materializeLocal(snapshotAt(spark, root, readRef(root, "main"))
        .groupBy().agg(count(lit(1)).as("n"))
        .select(lit(phase).as("phase"), lit(nManifests).as("n_manifests"),
          lit(nData).as("n_datafiles"), col("n").cast("long").as("n_rows")))
    }
    val before = census("before")
    expireUnreachable(root, Seq("main"))
    before.unionAll(census("after")).orderBy(col("phase"))
  }

  /** Deletes every manifest not on a listed ref's parent chain, plus
    * the data files ONLY those manifests reference. Mark-then-sweep:
    * the adds of every reachable manifest are collected first and a
    * shared add (time travel / branch fan-out can legally reference
    * one data dir from several manifests) survives as long as ANY
    * reachable manifest points at it. Absolute-path adds are
    * cross-table references ([[shallowClone]] writes them) — another
    * table's GC never owns those bytes, so they are skipped
    * unconditionally (the clone's own expiry reclaims them when ITS
    * chain drops them). */
  private[graft] def expireUnreachable(root: String, refs: Seq[String]): Unit = {
    val reachable = refs.flatMap(r => ancestors(root, readRef(root, r))).toSet
    val vdir = new java.io.File(s"$root/_versions")
    def addOf(f: java.io.File): String =
      java.nio.file.Files.readString(f.toPath)
        .split("\"add\": \"")(1).split("\"")(0)
    val (kept, expired) = Option(vdir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("v\\d+\\.json"))
      .partition(f => reachable(
        f.getName.stripPrefix("v").stripSuffix(".json").toInt))
    val keptAdds = kept.map(addOf).toSet
    expired.foreach { f =>
      val add = addOf(f)
      if (!add.startsWith("/") && !keptAdds(add))
        graft.util.deleteRecursively(new java.io.File(s"$root/$add"))
      f.delete()
      ()
    }
  }

  val manifestExpireSql: String =
    """SELECT * FROM (
      | SELECT 'after' AS phase, cast(3 as bigint) AS n_manifests,
      |  cast(3 as bigint) AS n_datafiles,
      |  cast((SELECT count(*) FROM orders) as bigint) AS n_rows
      | UNION ALL
      | SELECT 'before', 4, 4, (SELECT count(*) FROM orders)
      |) ORDER BY phase""".stripMargin

  /** ZERO-COPY table clone (Delta SHALLOW CLONE / Iceberg snapshot
    * ref-ing across tables): the clone is a NEW table root whose
    * manifests reference the source's data files by ABSOLUTE path —
    * no bytes move, clone time is manifest-sized — and the two tables
    * evolve independently afterwards: an append lands only in the
    * clone's chain, and the source readback is untouched (both facts
    * hash-proven: the oracle recomputes every (table, phase) count
    * from `orders` predicates). The production use is test/dev
    * environments and blue/green experiments over petabyte tables at
    * metadata cost; the GC contract composes — [[expireUnreachable]]
    * on the source must NOT reclaim files a clone references, which
    * is why real formats track cross-table references before
    * deleting (spec-pinned here by reading the clone after a source
    * GC). */
  def cloneTable(spark: SparkSession, dir: String): DataFrame = {
    val src = uniq("clone_src")
    val dst = uniq("clone_dst")
    val orders = graft.util.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    writeRef(src, "main", commitVersion(src, "d0",
      orders.filter(col("o_orderkey") % 3 === 0), parent = 0))
    writeRef(src, "main", commitVersion(src, "d1",
      orders.filter(col("o_orderkey") % 3 === 1), parent = readRef(src, "main")))
    shallowClone(src, dst)
    // diverge: append to the CLONE only
    writeRef(dst, "main", commitVersion(dst, "d2",
      orders.filter(col("o_orderkey") % 3 === 2), parent = readRef(dst, "main")))
    def snap(table: String, root: String, phase: String): DataFrame =
      materializeLocal(snapshotAt(spark, root, readRef(root, "main"))
        .groupBy().agg(count(lit(1)).as("n"))
        .select(lit(table).as("tbl"), lit(phase).as("phase"),
          col("n").cast("long").as("n_rows")))
    snap("src", src, "after_clone_append")
      .unionAll(snap("clone", dst, "after_clone_append"))
      .orderBy(col("tbl"))
  }

  /** Copies the source's reachable manifest chain into a new root,
    * rewriting each data-file reference to an absolute path into the
    * source — the zero-copy half; the new root's version ids restart
    * dense from 1. */
  private[graft] def shallowClone(srcRoot: String, dstRoot: String): Unit = {
    val chain = ancestors(srcRoot, readRef(srcRoot, "main")).reverse
    var parent = 0
    chain.foreach { v =>
      val add = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$srcRoot/_versions/v$v.json"))
        .split("\"add\": \"")(1).split("\"")(0)
      val abs = if (add.startsWith("/")) add else s"$srcRoot/$add"
      val vdir = new java.io.File(s"$dstRoot/_versions")
      vdir.mkdirs()
      val next = parent + 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dstRoot/_versions/v$next.json"),
        s"""{"version": $next, "parent": $parent, "add": "$abs"}""")
      parent = next
    }
    writeRef(dstRoot, "main", parent)
  }

  val cloneTableSql: String =
    """SELECT * FROM (
      | SELECT 'clone' AS tbl, 'after_clone_append' AS phase,
      |  cast((SELECT count(*) FROM orders) as bigint) AS n_rows
      | UNION ALL
      | SELECT 'src', 'after_clone_append',
      |  cast((SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 2) as bigint)
      |) ORDER BY tbl""".stripMargin

  /** DYNAMIC partition overwrite — the Spark-native idempotent-ETL
    * primitive (`partitionOverwriteMode=dynamic`): an INSERT OVERWRITE
    * replaces ONLY the partitions present in the incoming batch,
    * leaving every other partition byte-identical — static mode (the
    * default) would silently TRUNCATE the whole table, the classic
    * first-week-of-production data-loss story. The entry writes
    * orders partitioned by priority, overwrites exactly two
    * priorities with a deterministic price restatement (+1 cent), and
    * reads the table back: restated partitions carry the bump,
    * untouched partitions prove isolation, and the DuckDB oracle
    * recomputes both from `orders` — a lost partition or a full
    * truncate hash-fails immediately. Scoped conf, restored after. */
  def overwriteDynamic(spark: SparkSession, dir: String): DataFrame = {
    val out = uniq("dynover")
    val orders = graft.util.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    orders.write.partitionBy("o_orderpriority").parquet(out)
    val restate = orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .withColumn("cents", col("cents") + 1)
    val table = withConfs(spark, Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
      writeParquet(restate, out, Seq("o_orderpriority"), "overwrite")
    }
    table.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("cents")).cast("long").as("sum_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val overwriteDynamicSql: String =
    """SELECT o_orderpriority, cast(count(*) as bigint) AS n_orders,
      | cast(sum(cast(round(o_totalprice * 100) as bigint)
      |   + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |     THEN 1 ELSE 0 END) as bigint) AS sum_cents
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("src_overwrite_dynamic", overwriteDynamic, Some(overwriteDynamicSql)),
    GQuery("src_clone_table", cloneTable, Some(cloneTableSql)),
    GQuery("src_manifest_expire", manifestExpire, Some(manifestExpireSql)),
    GQuery("src_branch_merge", branchMerge, Some(branchMergeSql)),
    GQuery("src_wap_publish", wapPublish, Some(wapPublishSql)),
    GQuery("src_occ_commit", occCommit, Some(occCommitSql)),
    GQuery("src_time_travel", timeTravel, Some(timeTravelSql)),
    GQuery("src_codec_matrix", codecMatrix, Some(codecMatrixSql)),
    GQuery("src_manifest_pruning", manifestPruning, Some(manifestPruningSql)),
    GQuery("src_compaction", compaction, Some(compactionSql)),
    GQuery("src_schema_merge", schemaMerge, Some(schemaMergeSql)),
    GQuery("src_corrupt_records", corruptRecords, Some(corruptRecordsSql)),
    GQuery("src_range_partitioned", rangePartitionedWrite, Some(rangePartitionedWriteSql)),
    GQuery("meta_skipping_audit", skippingAudit, Some(skippingAuditSql)),
    GQuery("src_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)),
    GQuery("src_csv_roundtrip", csvRoundtrip, Some(csvRoundtripSql)),
    GQuery("src_avro_roundtrip", avroRoundtrip, Some(avroRoundtripSql)),
    GQuery("src_orc_roundtrip", orcRoundtrip, Some(orcRoundtripSql)),
    GQuery("src_zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    GQuery("src_dsv2_source", dsv2Source, Some(dsv2SourceSql)),
    GQuery("src_compacted_scan", compactedScan, Some(compactedScanSql)),
    GQuery("src_dsv2_sink", dsv2Sink, Some(dsv2SinkSql)),
    GQuery("src_partitioned_pruning", partitionedPruning, Some(partitionedPruningSql)),
    GQuery("q78_partition_evolution", partitionEvolution, Some(partitionEvolutionSql)),
    GQuery("src_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
  )
}
