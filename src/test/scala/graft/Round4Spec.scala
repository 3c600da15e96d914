package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 additions: the streaming LSH near-dup index (must converge
  * to the batch LSH answer), the modern SQL surface (recursive CTE /
  * VARIANT / SQL UDF / pipe syntax), the one-pass column profiler,
  * and regression specs for the round's hardening (UDF null contract,
  * oversized-token sketch serialization, as-of type validation,
  * undersized-codebook guard). */
class Round4Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("streaming minhash near-dup converges to the batch LSH result") {
    // identical banding math + shared exact-Jaccard verify ⇒ the
    // streaming index must reproduce dedup_minhash_lsh row-for-row
    val streamed = SparkEntry.queries("stream_neardup_minhash")(spark, sf).collect().toSeq
    val batch = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("recursive CTE spine reports all 12 months, empty ones as zero") {
    val rows = SparkEntry.queries("q51_recursive_cte")(spark, sf).collect()
    assert(rows.length == 12)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 12))
    // the spine must keep months with no 1995 orders (count 0), which
    // a plain GROUP BY would drop
    assert(rows.forall(_.getLong(1) >= 0L))
  }

  test("variant extraction agrees with the string JSON path") {
    val v = SparkEntry.queries("q52_variant_json")(spark, sf)
    val viaString = util.t(spark, sf, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), util.dsum(col("value")).as("total_value"))
      .orderBy(col("k_bucket"))
    assert(v.collect().toSeq == viaString.collect().toSeq)
  }

  test("SQL UDF result equals the inlined expression; pipe equals nested") {
    val udfRows = SparkEntry.queries("q53_sql_udf")(spark, sf)
    val inlined = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n,
         | ${util.sqlDsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS disc_revenue
         |FROM lineitem_su GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(udfRows.collect().toSeq == inlined.collect().toSeq)
    val pipe = SparkEntry.queries("q54_pipe_syntax")(spark, sf)
    val nested = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n, ${util.sqlDsum("l_extendedprice")} AS revenue
         |FROM lineitem_ps WHERE l_shipdate >= timestamp '1995-01-01 00:00:00'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(pipe.collect().toSeq == nested.collect().toSeq)
  }

  test("column profiler matches per-column ground truth in one pass") {
    val prof = SparkEntry.queries("meta_profile_columns")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val li = util.t(spark, sf, "lineitem")
    val n = li.count()
    assert(prof.size == 4)
    assert(prof("l_orderkey").getLong(1) == n)
    assert(prof("l_orderkey").getLong(2) == li.filter(col("l_orderkey").isNull).count())
    assert(prof("l_returnflag").getLong(3) ==
      li.select(countDistinct(col("l_returnflag"))).head().getLong(0))
    assert(prof("l_quantity").getString(4).toDouble ==
      li.agg(min(col("l_quantity"))).head().getDouble(0))
  }

  test("PQ top-k recall@5 vs exact brute force is >= 0.8") {
    val pq = SparkEntry.queries("sim_pq_topk")(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = SparkEntry.queries("sim_topk_bruteforce")(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq intersect bf).size.toDouble / bf.size
    assert(recall >= 0.8, s"PQ recall@5 = $recall")
  }

  test("IVF-PQ (composed index) recall@5 vs brute force is >= 0.75") {
    // residual-quantized codes inside probed lists only — IVF prunes,
    // PQ compresses; measured 0.78 on this fixture (deterministic
    // pipeline, so the measurement is stable)
    val iv = SparkEntry.queries("sim_ivfpq_topk")(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = SparkEntry.queries("sim_topk_bruteforce")(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (iv intersect bf).size.toDouble / bf.size
    assert(recall >= 0.75, s"IVF-PQ recall@5 = $recall")
  }

  test("correlated EXISTS/NOT EXISTS matches the join formulation") {
    val viaExists = SparkEntry.queries("q55_exists_subquery")(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val o = util.t(spark, sf, "orders")
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
    val big = o.filter(col("o_totalprice") > 300000).select(col("o_custkey")).distinct()
    val viaJoins = util.t(spark, sf, "customer")
      .join(open, col("c_custkey") === open("o_custkey"), "left_semi")
      .join(big, col("c_custkey") === big("o_custkey"), "left_anti")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    assert(viaExists == viaJoins && viaExists.nonEmpty)
  }

  test("PQ codebook training is deterministic across runs") {
    val e = util.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def train() = operators.Similarity
      .trainPqCodebooks(spark, e, operators.Similarity.pqM, operators.Similarity.pqK)
      .orderBy(col("m"), col("cid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(train().toSeq == train().toSeq)
  }

  test("star-contraction components equal min-label propagation (and handle chains)") {
    import spark.implicits._
    // same pair graph, two algorithms, identical labels
    val viaStar = SparkEntry.queries("dedup_cluster_star")(spark, sf).collect().toSeq
    val viaProp = SparkEntry.queries("dedup_cluster_components")(spark, sf).collect().toSeq
    assert(viaStar.nonEmpty && viaStar == viaProp)
    // a 12-node path — the diameter-hostile shape the algorithm exists
    // for — must collapse to one component rooted at the min
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = operators.Dedup.starLabels(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 12 && labels.values.forall(_ == 1L))
  }

  test("scalar cosine UDF yields NULL on ragged input (native-expression parity)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (2L, Seq(1.0, 2.0), Seq(1.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), functions.Udfs.cosineUdf(col("a"), col("b")).as("c"))
      .orderBy(col("id")).collect()
    assert(!out(0).isNullAt(1) && math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
    assert(out(1).isNullAt(1), "ragged input must be NULL, not a prefix cosine")
  }

  test("Misra-Gries buffers round-trip terms whose UTF-8 exceeds 64 KiB") {
    val mg = functions.MisraGriesTopK(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 4)
    val buf = mg.createAggregationBuffer()
    val huge = "é" * 40000 // 80 KB encoded — writeUTF would throw
    buf.update(huge, 7L)
    buf.update("small", 2L)
    val back = mg.deserialize(mg.serialize(buf))
    assert(back(huge) == 7L && back("small") == 2L)
  }

  test("graft_heavy_hitters is SQL-callable and exact above the vocabulary size") {
    util.t(spark, sf, "lineitem").createOrReplaceTempView("li_hh")
    val viaSql = spark.sql(
      "SELECT inline(graft_heavy_hitters(l_returnflag, 8)) FROM li_hh")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val truth = util.t(spark, sf, "lineitem")
      .groupBy(col("l_returnflag")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaSql == truth) // capacity 8 > 3 distinct flags ⇒ exact
  }

  test("src_orc_roundtrip preserves microsecond timestamps") {
    val back = SparkEntry.queries("src_orc_roundtrip")(spark, sf).collect().toSeq
    val orig = util.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .orderBy(col("event_id")).collect().toSeq
    assert(back.nonEmpty && back == orig)
  }

  test("as-of join plan rejects non-long/timestamp keys at construction") {
    import spark.implicits._
    val l = Seq(("a", 1L)).toDF("k", "ts").queryExecution.analyzed
    val strKey = l.output.find(_.name == "k").get
    val tsCol = l.output.find(_.name == "ts").get
    val e = intercept[IllegalArgumentException] {
      plans.AsOfJoinPlan(l, l, strKey, strKey, tsCol, tsCol)
    }
    assert(e.getMessage.contains("must be long or timestamp"))
  }

  test("runtime bloom filter from the filtered dimension reaches the fact scan") {
    // q56's value claim is the PLAN (fact rows dropped pre-shuffle);
    // the oracle checks the values. Reproduce the scoped confs and
    // assert might_contain made it into the optimized plan.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val urgent = util.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = util.t(spark, sf, "lineitem")
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), s"no runtime bloom filter in:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("custom DSv2 source prunes partitions and columns via pushdown") {
    val df = spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "100000").option("slices", "8").load()
      .filter(col("id") < 12500).select(col("id"), col("value"))
    val rows = df.collect()
    assert(rows.length == 12500)
    // generator contract holds for what came back
    assert(rows.forall(r =>
      r.getDouble(1) == ((r.getLong(0) * 2654435761L) % 1000L).toDouble / 10.0))
    val plan = df.queryExecution.executedPlan.toString
    // the pushed id bound pruned 7 of 8 input partitions BEFORE
    // scheduling, and only the two projected columns' generators run
    assert(plan.contains("slices=1/8 kept"), s"no partition pruning in:\n$plan")
    assert(plan.contains("columns=id,value"), s"no column pruning in:\n$plan")
  }

  test("DSv2 micro-batch stream converges over several offset-paced batches") {
    val name = "dsv2_spec_stream"
    val q = spark.readStream.format("graft.sources.GraftRangeSource")
      .option("rows", "10000").option("slices", "4").option("batchRows", "2500")
      .load()
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    // offset pacing made this take >= 4 micro-batches with rows in them
    val fed = q.recentProgress.count(_.numInputRows > 0)
    assert(fed >= 4, s"expected >=4 fed micro-batches, got $fed")
    val counts = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == (0 to 4).map(i => s"lbl$i" -> 2000L).toMap)
  }

  test("DSv2 sink abort leaves no visible output (two-phase commit atomicity)") {
    val out = s"${sys.props("java.io.tmpdir")}/graft_sink_abort_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val poisoned = spark.range(0, 1000, 1, 4)
      .selectExpr("id",
        "case when id = 777 then raise_error('poison') else cast(id as string) end as s")
    intercept[Exception] {
      poisoned.write.format("graft.sources.GraftTextSink")
        .mode("append").option("path", out).save()
    }
    val dir = new java.io.File(out)
    val visible = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(visible.isEmpty, s"aborted write left: ${visible.map(_.getName).mkString(",")}")
    assert(!new java.io.File(out, "_SUCCESS").exists())
  }

  test("DSv2 stream restart resumes from the committed offset without reprocessing") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_dsv2_restart_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    def run(rows: Long): Unit = {
      val q = spark.readStream.format("graft.sources.GraftRangeSource")
        .option("rows", rows.toString).option("slices", "4").option("batchRows", "2500")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run(5000)  // first run drains ids [0, 5000)
    run(10000) // restart: same checkpoint, more data available
    val ids = spark.read.parquet(out).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    // exactly-once resume: committed rows were NOT reprocessed
    assert(ids.length == 10000, s"expected 10000 rows, got ${ids.length}")
    assert(ids.head == 0L && ids.last == 9999L && ids.distinct.length == 10000)
  }

  test("AQE splits the skewed join partition at runtime (skew=true in the executed plan)") {
    val (lPath, rPath) = operators.SqlSurface.q57SkewData(spark, sf)
    util.withConfs(spark, operators.SqlSurface.q57Confs) {
      val j = operators.SqlSurface.q57Join(spark, lPath, rPath)
      // collect() (not count()) — count() runs its OWN query execution,
      // leaving j's adaptive plan unfinalized
      assert(j.collect().length == 50000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in:\n$plan")
    }
  }

  test("z-order layout clusters BOTH filter columns; single sort only one") {
    val rows = SparkEntry.queries("src_zorder_layout")(spark, sf).collect()
    val spans = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // sorted layout: near-perfect on the sort column, useless on the other
    assert(spans(("sorted_by_orderkey", "o_orderkey")) < 3500)
    assert(spans(("sorted_by_orderkey", "o_custkey")) > 9000)
    // z-order: both columns meaningfully clustered — every file's
    // min/max span covers well under the full range of either key
    assert(spans(("zorder", "o_orderkey")) < 8000)
    assert(spans(("zorder", "o_custkey")) < 8000)
    // row conservation: both layouts carry every orders row
    val n = util.t(spark, sf, "orders").count()
    assert(rows.forall(_.getLong(3) == n), "layout lost rows")
  }

  test("CBO estimates filter selectivity from analyzed column statistics") {
    SparkEntry.queries("meta_cbo_stats")(spark, sf).collect() // materialize + ANALYZE
    val key = "spark.sql.cbo.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val nation = spark.table(operators.SqlSurface.statsTbl("nation"))
      val full = nation.queryExecution.optimizedPlan.stats
      assert(full.rowCount.contains(BigInt(25)), s"catalog rowCount: ${full.rowCount}")
      // column stats let FilterEstimation size the filtered side
      // BEFORE execution — a strict subset of the full 25 rows
      val filtered = nation.filter(col("n_regionkey") === 0)
        .queryExecution.optimizedPlan.stats
      assert(filtered.rowCount.exists(rc => rc > 0 && rc < 25),
        s"estimated filtered rowCount: ${filtered.rowCount}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("codebook training fails loudly when the sample is smaller than k") {
    import spark.implicits._
    val tiny = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.trainCodebook(spark, tiny, 16, rounds = 1, sampleMod = 1)
    }
    assert(e.getMessage.contains("hash-sample"))
  }
}
