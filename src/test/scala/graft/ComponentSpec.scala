package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** R8–R11 components + the round-2 operator additions. */
class ComponentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("R9 describe: flagship plan shows pushed-down scan and hash aggregation") {
    val plan = plans.Describe.describe(spark, sf, "q1_pricing_summary")
    assert(plan.contains("HashAggregate"), "no HashAggregate in plan")
    assert(plan.contains("Scan parquet"), "no parquet scan in plan")
    assert(plan.contains("PushedFilters"), "no pushdown info in plan")
  }

  test("R9 topology query: operator inventory is queryable") {
    val ops = plans.Describe.topologyQuery(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(ops.exists(_.contains("HashAggregate")), s"ops=$ops")
    assert(ops.exists(_.contains("Scan parquet")), s"ops=$ops")
  }

  test("R10 config: properties file round-trips into session conf") {
    val f = java.io.File.createTempFile("graft_conf", ".properties")
    java.nio.file.Files.writeString(f.toPath,
      "spark.sql.cbo.enabled=true\napp.name=graft\nspark.graft.custom=42\n")
    val props = GraftConfig.load(f.getPath)
    assert(GraftConfig.sparkEntries(props).map(_._1) ==
      Seq("spark.graft.custom", "spark.sql.cbo.enabled"))
    val applied = GraftConfig.applyRuntime(spark, props)
    assert(applied.contains("spark.sql.cbo.enabled"))
    assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
    spark.conf.set("spark.sql.cbo.enabled", "false") // restore default
    f.delete()
  }

  test("R11 lifecycle: monitor sees start and termination of a streaming query") {
    val (_, m) = streaming.Lifecycle.withMonitor(spark) {
      SparkEntry.queries("stream_dedup_wm")(spark, sf).count()
    }
    assert(m.started.get() >= 1, "no query start observed")
    assert(streaming.Lifecycle.awaitTerminated(m, 1), "no termination observed in 5s")
    assert(m.lastException.isEmpty, s"query failed: ${m.lastException}")
  }

  test("bounded-state streaming dedup equals batch distinct") {
    val streamed = SparkEntry.queries("stream_dedup_wm")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val batch = util.t(spark, sf, "events")
      .select(col("user_id").cast("string"), col("event_type"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch)
  }

  test("as-of join matches only the most recent preceding purchase") {
    val bad = SparkEntry.queries("q36_asof_join")(spark, sf)
      .filter(col("p_ts") > col("click_ts")).count()
    assert(bad == 0)
  }

  test("hot paths stay inside WholeStageCodegen (incl. the native cosine)") {
    // AQE annotates codegen stages (`*(n)`) only on the FINAL plan —
    // execute first, then inspect
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    q1.collect()
    val q1Plan = q1.queryExecution.executedPlan.toString
    assert(q1Plan.contains("*("), s"q1 has no codegen stage:\n$q1Plan")
    // CosineSim implements doGenCode, so the verify projection must be
    // inside a codegen stage, not a fallback project
    val e = util.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cos = e.select(functions.CosineSim.cosine(col("v"), col("v")).as("c"))
    cos.collect()
    val cosPlan = cos.queryExecution.executedPlan.toString
    assert(cosPlan.contains("*("), s"cosine projection fell out of codegen:\n$cosPlan")
  }

  test("optimizer rule rewrites the HOF cosine into the native CosineSim") {
    val e = util.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val df = e.select(functions.Vectors.cosine(col("v"), col("v")).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_cosine"),
      s"ReplaceHofCosine did not fire:\n$optimized")
    // and the rewritten plan still evaluates correctly: cos(v,v) = 1
    assert(df.filter(col("c") =!= 1.0).count() == 0)
  }

  test("native codegen cosine is bit-identical to the HOF cosine") {
    val e = util.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"))
    val both = a.join(b, col("a_id") < col("b_id"))
      .select(
        functions.CosineSim.cosine(col("va"), col("vb")).as("nat"),
        functions.Vectors.cosine(col("va"), col("vb")).as("hof"))
    assert(both.filter(col("nat") =!= col("hof")).count() == 0)
  }

  test("UDF cosine agrees with the HOF cosine") {
    val e = util.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val a = e.select(col("vec_id").as("id"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id"), col("v").as("vb"))
    val both = a.join(b, "id")
      .select(
        round(functions.Udfs.cosineUdf(col("va"), col("vb")), 6).as("u"),
        functions.Vectors.cosine(col("va"), col("vb")).as("h"))
    assert(both.filter(col("u") =!= col("h")).count() == 0)
  }

  test("partitioned read prunes partitions in the plan") {
    val df = sources.FileSources.partitionedReader(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_orderstatus"), s"no partition pruning in:\n$plan")
    // pruned scan must list fewer partitions than the full table has
    assert(df.select("o_orderstatus").distinct().count() == 1)
  }

  test("bucketed join has no shuffle exchange on the join keys") {
    SparkEntry.queries("src_bucketed_join")(spark, sf).count() // builds tables
    // disable broadcast so the planner must choose the bucketed SMJ
    // (at test scale everything fits the broadcast threshold)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = sources.FileSources.bucketedJoinPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a join in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("merge hint forces a sort-merge join in the plan") {
    val plan = operators.Analytics.q44JoinHintSmj(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"merge hint ignored:\n$plan")
  }

  test("approx_percentile tracks the exact percentile within 5%") {
    val approx = SparkEntry.queries("q46_approx_percentile")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = util.t(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) / e < 0.05, s"flag $k: approx=${approx(k)} exact=$e")
    }
  }

  test("salted aggregation equals the direct aggregation") {
    val salted = SparkEntry.queries("q42_salted_agg")(spark, sf).collect().toSeq
    val direct = util.t(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), util.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(salted == direct)
  }

  test("range-partitioned writer plans a RangePartitioning exchange") {
    val plan = sources.FileSources.rangePartitionedWriter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(o_orderdate"),
      s"no range partitioning in:\n$plan")
  }

  test("R11 recovery: a restarted query resumes from the checkpoint without reprocessing") {
    import spark.implicits._
    val base = util.scratchDir("recovery")
    new java.io.File(base).mkdirs()
    val (src, ckpt, sink) = (s"$base/src", s"$base/ckpt", s"$base/sink")
    def record(id: Long) = (id.toString, s"v$id", new java.sql.Timestamp(1700000000000L + id))
    def run(): Unit = {
      val q = streaming.Checkpoints.start(spark.readStream
        .schema("key string, value string, ts timestamp").parquet(src)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append"))
      q.processAllAvailable(); q.stop()
    }
    (1L to 5L).map(record).toDF("key", "value", "ts")
      .write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(sink).count() == 5)
    // "crash" happened; new data arrives; a NEW query instance restarts
    // from the same checkpoint and must emit ONLY the new rows
    (6L to 8L).map(record).toDF("key", "value", "ts")
      .write.mode("append").parquet(src)
    run()
    val out = spark.read.parquet(sink)
    assert(out.count() == 8, "restart reprocessed or dropped data")
    assert(out.select("key").distinct().count() == 8)
  }

  test("R3 peek/tap: the observe() metric is delivered to a listener") {
    // the reference's mapValues debug tap (KStreamsToKTable.java:84-85)
    // surfaces here as a named observation read by a QueryExecutionListener
    @volatile var observed: Option[Long] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("kt_mapvalues_tap")
          .foreach(row => observed = Some(row.getAs[Long]("n_updates")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = SparkEntry.queries("kt_mapvalues")(spark, sf).count()
      // listener bus is async
      val deadline = System.nanoTime() + 5000000000L
      while (observed.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(observed.contains(n), s"tap saw $observed, query returned $n rows")
    } finally spark.listenerManager.unregister(listener)
  }

  test("R8 topic admin provisions 3 partitions") {
    val row = SparkEntry.queries("ks_topic_admin")(spark, sf).collect().head
    assert(row.getAs[Long]("n_partitions") == 3L)
    assert(row.getAs[Long]("n_rows") > 0L)
  }
}
