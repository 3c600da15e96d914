package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 pins for the ANN index build/query split (VERDICT r7 #1).
  *
  *  - The trained index is DETERMINISTIC: two independent builds over
  *    the same table and params produce bit-identical artifacts
  *    (row counts + order-independent xxhash64 XOR checksums equal for
  *    all seven artifacts). This is what makes a persisted index safe
  *    to share across entries and across reruns at 100 TB: rebuilding
  *    after a node loss cannot silently change query results.
  *  - The ANN query entries READ the persisted index: their plans
  *    source the codebooks/codes from parquet relations under the
  *    index root — not from driver-built LocalRelations (the retrain-
  *    per-execution shape this round removed).
  */
class Round8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("ANN index build is bit-deterministic across independent builds") {
    val r1 = util.scratchDir("vecindex_det1")
    val r2 = util.scratchDir("vecindex_det2")
    operators.Similarity.buildIvfPqIndex(spark, sf, r1)
    operators.Similarity.buildIvfPqIndex(spark, sf, r2)
    val s1 = operators.Similarity.indexSummary(spark, r1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val s2 = operators.Similarity.indexSummary(spark, r2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(s1.length == operators.Similarity.indexArtifacts.length)
    assert(s1.sameElements(s2),
      s"index builds diverge:\n${s1.mkString("\n")}\nvs\n${s2.mkString("\n")}")
    assert(s1.forall(_._2 > 0), s"empty index artifact: ${s1.mkString(", ")}")
  }

  test("ANN query entries read the persisted index, not retrained locals") {
    val root = operators.Similarity.ivfPqIndexRoot(spark, sf)
    for (df <- Seq(operators.Similarity.ivfTopk(spark, sf),
        operators.Similarity.pqTopk(spark, sf),
        operators.Similarity.ivfpqTopk(spark, sf),
        operators.Similarity.knnJoinIvf(spark, sf))) {
      val plan = df.queryExecution.optimizedPlan
      // no driver-built codebook relations of any size: every trained
      // artifact must arrive via a file scan of the index root
      val locals = plan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.length
      }
      assert(locals.isEmpty, s"driver-built LocalRelation(s) in ANN plan: $locals")
      assert(TestSpark.scannedRoots(df).exists(_.contains(new java.io.File(root).getName)),
        s"plan never scans the index root $root")
    }
  }

  test("sim_index_build summary pins every artifact non-empty") {
    val rows = operators.Similarity.indexBuild(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      operators.Similarity.indexArtifacts.sorted)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("sketch kind tags: wrong-kind probe or cross-kind combine errors") {
    import spark.implicits._
    import graft.functions.{CmsSketch, KmvSketch}
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "s")
    val sks = df.agg(
      CmsSketch.cmsSketch(col("s")).as("cms_s"),
      KmvSketch.kmvSketch(col("id"), 16).as("kmv_i"),
      KmvSketch.kmvSketch(col("s"), 16).as("kmv_s"))
    // same-kind probe works; the string sketch answers string items
    val ok = sks.select(CmsSketch.cmsEstimate(col("cms_s"), lit("a"))).head().getLong(0)
    assert(ok >= 2L, s"string-kind probe undercounts: $ok")
    // integral probe against the string-built sketch must ERROR, not
    // return a collisions-only near-zero count
    val e1 = intercept[Exception] {
      sks.select(CmsSketch.cmsEstimate(col("cms_s"), lit(1))).head()
    }
    assert(e1.toString.contains("kind") || e1.getCause != null)
    // intersecting sketches of different input kinds must ERROR
    val e2 = intercept[Exception] {
      sks.select(KmvSketch.kmvIntersect(col("kmv_i"), col("kmv_s"))).head()
    }
    assert(e2.toString.contains("kind") || e2.getCause != null)
  }

  test("frontier BFS self-terminates with a collapsing wave and exact distances") {
    val (settled, sizes) = operators.Graph.frontierBfs(spark, sf)
    // self-termination happened (the loop returned) and the wave both
    // expanded and collapsed: the recorded trace ends in the empty
    // frontier that halted the loop — message volume fell to ZERO,
    // with no hop bound doing the halting
    assert(sizes.nonEmpty && sizes.max > 0)
    assert(sizes.last == 0L, s"loop halted without an empty frontier: $sizes")
    // delta-iteration BFS is exact: it must equal the bounded twin on
    // the <= 4-hop prefix row-for-row
    val a = settled.filter(col("dist") <= 4L).orderBy(col("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = operators.Graph.shortestPaths(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, s"frontier BFS diverges from bounded BFS: ${a.diff(b).take(3)}...")
  }

  test("sketched retention: per-cell error bounded, cells roll up by union") {
    import graft.functions.KmvSketch
    val exact = operators.Analytics.q75RetentionCohorts(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val est = operators.Analytics.q75bRetentionSketch(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(est.keySet == exact.keySet, "cell sets differ")
    // 3σ ≈ 13 % at k=512, plus a floor for tiny cells; cells under k
    // must be EXACT (θ = 1 — every distinct hash retained)
    val k = operators.Analytics.retentionSketchK
    est.foreach { case (cell, e) =>
      val x = exact(cell)
      if (x < k) assert(e == x, s"under-k cell $cell must be exact: est $e vs $x")
      else assert(math.abs(e - x) <= math.max(3.0, 0.13 * x),
        s"cell $cell estimate $e outside 3-sigma of exact $x")
    }
    // mergeability: union of a cohort's cell sketches re-estimates the
    // cohort size (= its offset-0 cell, since every user is active in
    // their own first week) within the same bound
    val rolled = operators.Analytics.retentionCellSketches(spark, sf)
      .groupBy(col("cohort_week"))
      .agg(round(KmvSketch.kmvEstimate(KmvSketch.kmvUnion(col("sk"))))
        .cast("long").as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rolled.foreach { case (cw, e) =>
      val x = exact((cw, 0L))
      assert(math.abs(e - x) <= math.max(3.0, 0.13 * x),
        s"cohort $cw rollup estimate $e vs exact cohort size $x")
    }
  }

  test("streaming funnel converges under a two-chunk arrival split") {
    import operators.StreamingOps.{FEvent, FunnelProcessor}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(pk)
    spark.conf.set(pk,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      // event-time-ordered log split into two chunks at the median ts:
      // chunk order across batches is what the state machine requires;
      // order WITHIN a chunk is destroyed by the shuffle anyway
      val evs = util.t(spark, sf, "events")
        .select(col("user_id").cast("long").as("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        .as[FEvent].collect().sortBy(_.us)
      val (a, b) = evs.splitAt(evs.length / 2)
      val ms = MemoryStream[FEvent]
      val q = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Update())
        .writeStream.format("memory").queryName("funnel_split")
        .option("checkpointLocation", util.scratchDir("funnel_split_cp"))
        .outputMode(OutputMode.Update).start()
      ms.addData(a.toIndexedSeq); q.processAllAvailable()
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
      q.stop()
      val got = operators.StreamingOps.funnelSnapshot(spark.table("funnel_split"))
        .collect().map(_.toSeq).toSeq
      val want = operators.Analytics.q74FunnelSteps(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got.nonEmpty)
      assert(got == want, {
        val diff = want.diff(got).take(3)
        s"split-arrival funnel diverges from batch funnel, e.g. $diff"
      })
    } finally {
      prevProv match {
        case Some(v) => spark.conf.set(pk, v); case None => spark.conf.unset(pk)
      }
    }
  }

  test("index lookup never scans documents and prunes postings buckets") {
    val df = operators.TextAnalysis.indexLookup(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    // the whole point of the index: the query plan reads ONLY the
    // postings table — the documents parquet must not appear
    assert(!physical.contains("documents.parquet"),
      s"lookup plan scans the documents table:\n$physical")
    assert(physical.contains("graft_postings_"),
      s"lookup plan does not read the postings table:\n$physical")
    // the IN filter on the bucket column prunes buckets at plan time
    assert(physical.contains("SelectedBucketsCount"),
      s"no bucket pruning in lookup plan:\n$physical")
    // and the result is the filtered scan's answer (oracle-equivalent,
    // checked cheaply here at spec SF)
    val viaIndex = df.collect().map(_.getLong(0)).toSeq
    val terms = operators.TextAnalysis.lookupTerms
    val direct = util.t(spark, sf, "documents")
      .filter(terms.map(t0 => array_contains(split(col("text"), " "), t0)).reduce(_ && _))
      .select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaIndex == direct)
  }

  test("time travel through delete vectors reconstructs every version") {
    val rows = operators.Warehouse.q76TimeTravelDv(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // deletes only ever shrink the live set along the version history
    // after the v2 append; v3 ⊆ v2 by construction
    assert(rows(2).getLong(1) <= rows(1).getLong(1))
    assert(rows.forall(_.getLong(1) > 0L))
  }

  test("quantile-sketch packing bounds hold on the fixture") {
    // the 2^27 cents packing assumes round(o_totalprice*100) < 2^27;
    // the Knuth multiply is safe for o_orderkey < 2^31 by construction
    val mx = util.t(spark, sf, "orders")
      .agg(max(expr("cast(round(o_totalprice * 100, 0) as bigint)")),
        max(col("o_orderkey"))).head()
    assert(mx.getLong(0) < 134217728L,
      s"o_totalprice cents ${mx.getLong(0)} overflow the 2^27 packing")
    assert(mx.getLong(1) < 2147483648L)
  }
}
