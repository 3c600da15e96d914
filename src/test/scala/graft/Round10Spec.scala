package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 pins: the KLL mergeable quantile sketch (error bound,
  * mergeability, size bound — VERDICT r9 next #4), the streaming
  * filtered-ANN serve loop (r9 #3), the integer nano-unit RRF fusion
  * (r9 #1), and the artifact-cache hygiene fixes (ADVICE r9: fail-fast
  * fingerprint, stale-staging sweep).
  */
class Round10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  // deterministic shuffle of 1..n via the repo's Knuth multiplicative
  // hash — adversarial enough for a quantile sketch (neither sorted
  // nor random-seeded), reproducible across runs
  private def shuffled(n: Int): Array[Double] =
    (1 to n).sortBy(i => (i.toLong * 2654435761L) % 4294967296L)
      .map(_.toDouble).toArray

  /** True normalized rank (fraction strictly below) of v in 1..n. */
  private def trueRank(v: Double, n: Int): Double = (v - 1.0) / n

  test("kll quantile estimates meet the 3/k rank-error bound sequentially") {
    val n = 20000
    val k = 200
    val buf = new functions.Kll.Buffer(k)
    shuffled(n).foreach(buf.add)
    assert(buf.n == n)
    val eps = 3.0 / k
    for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = buf.quantile(p)
      val err = math.abs(trueRank(est, n) - p)
      assert(err <= eps, f"p=$p: est $est%.0f has rank err $err%.4f > $eps%.4f")
    }
    assert(buf.quantile(0.0) == 1.0 && buf.quantile(1.0) == n.toDouble,
      "exact min/max must be served exactly")
  }

  test("kll sketches merge with the same error bound and a codec round-trip") {
    val n = 20000
    val k = 200
    val vals = shuffled(n)
    // 8 interleaved shards (each sees the full value range — the
    // hard merge case), sketched independently, merged pairwise
    // through serialize/deserialize so the codec is on the path
    val shards = (0 until 8).map { s =>
      val b = new functions.Kll.Buffer(k)
      vals.indices.filter(_ % 8 == s).foreach(i => b.add(vals(i)))
      b
    }
    val merged = shards.reduce { (a, b) =>
      val m = functions.Kll.deserialize(functions.Kll.serialize(a))
      m.mergeFrom(functions.Kll.deserialize(functions.Kll.serialize(b)))
      m
    }
    assert(merged.n == n, s"merge lost counts: ${merged.n}")
    val eps = 3.0 / k
    for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val err = math.abs(trueRank(merged.quantile(p), n) - p)
      assert(err <= eps, f"merged p=$p rank err $err%.4f > $eps%.4f")
    }
  }

  test("kll sketch size is O(k), independent of n") {
    val k = 200
    val buf = new functions.Kll.Buffer(k)
    var i = 0
    while (i < 200000) { buf.add(((i.toLong * 2654435761L) % 1000000L).toDouble); i += 1 }
    val bytes = functions.Kll.serialize(buf)
    // 3k + levels·straggler envelope, in bytes with headers: 8 KiB is
    // ~5× the expected ~650 retained items — a real bound, not slack
    assert(bytes.length <= 8192,
      s"sketch grew with n: ${bytes.length} bytes for n=200k (k=$k)")
  }

  test("meta_kll_quantiles: ALL scope referees against exact order statistics") {
    val rows = operators.Warehouse.metaKllQuantiles(spark, sf).collect()
    val all = rows.find(_.getString(0) == "ALL").get
    val cents = util.t(spark, sf, "orders")
      .select(expr("cast(round(o_totalprice * 100, 0) as bigint)").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length
    assert(all.getLong(1) == n, s"KLL n ${all.getLong(1)} != exact $n")
    // months + ALL, every scope sketch bounded
    assert(rows.length >= 3 && rows.forall(_.getLong(5) <= 8192))
    for ((p, idx) <- Seq(0.5 -> 2, 0.9 -> 3, 0.99 -> 4)) {
      val est = all.getDouble(idx)
      val rank = cents.count(_ < est).toDouble / n
      // ALL merges the monthly sketches — bound stays 3/k (k=200)
      assert(math.abs(rank - p) <= 0.015 + 1.0 / n,
        f"ALL p$p: est $est%.0f has rank $rank%.4f")
    }
  }

  test("graft_kll SQL surface: sketch, merge, quantiles, count") {
    util.t(spark, sf, "orders").createOrReplaceTempView("kll_orders")
    try {
      val row = spark.sql(
        """WITH sk AS (SELECT o_orderstatus AS st,
          |  graft_kll(o_totalprice, 200) AS sk
          |  FROM kll_orders GROUP BY 1)
          |SELECT graft_kll_count(graft_kll_merge(sk)) AS n,
          |  graft_kll_quantiles(graft_kll_merge(sk), array(0.5)) AS q
          |FROM sk""".stripMargin).collect().head
      val n = util.t(spark, sf, "orders").count()
      assert(row.getLong(0) == n, s"merged count ${row.getLong(0)} != $n")
      val p50 = row.getSeq[Double](1).head
      val exact = util.t(spark, sf, "orders")
        .select(col("o_totalprice").cast("double")).collect().map(_.getDouble(0)).sorted
      val rank = exact.count(_ < p50).toDouble / exact.length
      assert(math.abs(rank - 0.5) <= 0.015, f"SQL p50 rank $rank%.4f off")
      // analysis-time validation, not executor failure
      intercept[Exception] { spark.sql("SELECT graft_kll(1.0, 2)").collect() }
    } finally spark.catalog.dropTempView("kll_orders")
  }

  test("streaming filtered ANN serve converges to the batch filtered answer") {
    val served = operators.StreamingOps.streamFilteredAnnServe(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = operators.Similarity.filteredTopk(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty, "filtered serve loop produced nothing")
    assert(served == batch,
      s"served filtered results diverge from batch: ${batch.diff(served).take(3)}")
  }

  test("hybrid RRF scores are exact integers identical under reordered sums") {
    val rows = operators.Similarity.hybridRrf(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nano = r.getLong(3)
      // every score is a sum of ≤2 terms from the 21-value table
      // {1e12 div 61 .. 1e12 div 80}: check membership
      val terms = (61 to 80).map(1000000000000L / _).toSet
      val ok = terms.contains(nano) ||
        terms.exists(a => terms.contains(nano - a))
      assert(ok, s"rrf_nano $nano is not a 1- or 2-term reciprocal sum")
    }
  }

  test("exactly-once end-to-end: source → stateful dedup → V2 sink across a crash-replay restart") {
    // ONE query wiring all three exactly-once legs together (r9 gap:
    // the restart spec covered the source and the idempotent-commit
    // spec the sink, separately): replayable DSv2 source + stateful
    // dropDuplicates + epoch-idempotent V2 sink. The crash is real:
    // after run 1 the newest commit marker is deleted, so the restart
    // believes the last epoch never committed and REPLAYS it into the
    // sink before draining the new data.
    val base = util.scratchDir("e2e_exactly_once")
    def runQuery(rows: Long, out: String, ckpt: String): Unit = {
      val q = streaming.Checkpoints.start(spark.readStream.format("graft.sources.GraftRangeSource")
        .option("rows", rows.toString).option("slices", "4").option("batchRows", "2500")
        .load()
        // dupkey folds ids ≥ 7500 onto the FIRST batch's keys: batch 3
        // survivors depend on state built before the crash, so a
        // restart that loses dedup state leaks ids ≥ 7500 into the
        // output; meanwhile the replayed epoch 1 carries 2500 real
        // rows, so the idempotent-replace path is exercised non-vacuously
        .withColumn("dupkey", col("id") % 7500)
        .dropDuplicates("dupkey")
        .writeStream.format("graft.sources.GraftTextSink")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append"))
      q.processAllAvailable(); q.stop()
    }
    def readOut(out: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      new java.io.File(out).listFiles().toSeq
        .filter(f => f.getName.startsWith("part-"))
        .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
        .sorted
    }
    val (out1, ck1) = (s"$base/out1", s"$base/ck1")
    runQuery(5000, out1, ck1) // epochs 0..1 drain ids [0, 5000)
    // crash simulation: the JVM died after the sink wrote epoch 1 but
    // before the commit marker landed
    val commits = new java.io.File(s"$ck1/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 2, s"expected ≥2 committed epochs, got ${commits.length}")
    val torn = commits.last
    // the local-FS checkpoint writes a Hadoop checksum sibling; a
    // stale .N.crc would fail the replay's commit rename
    new java.io.File(torn.getParentFile, s".${torn.getName}.crc").delete()
    assert(torn.delete(), "could not remove newest commit marker")
    runQuery(10000, out1, ck1) // replays the torn epoch, then ids [5000, 10000)
    // reference: one uninterrupted run over the same final table
    val (out2, ck2) = (s"$base/out2", s"$base/ck2")
    runQuery(10000, out2, ck2)
    val (got, want) = (readOut(out1), readOut(out2))
    assert(want.nonEmpty && want.length == 7500,
      s"reference run wrong: ${want.length} rows (dedup broken?)")
    assert(got == want,
      s"restarted output diverges from single-run: ${got.length} vs ${want.length} rows; " +
        s"first diff: ${got.diff(want).headOption.orElse(want.diff(got).headOption)}")
  }

  test("tableFingerprint fails fast on a missing table") {
    val e = intercept[IllegalArgumentException] {
      util.tableFingerprint(sf, "no_such_table")
    }
    assert(e.getMessage.contains("no such table"),
      s"wrong failure mode: ${e.getMessage}")
  }

  test("stale .tmp staging dirs are swept; fresh and published roots survive") {
    val base = new java.io.File(util.scratchDir("sweeptest"))
    base.mkdirs()
    val stale = new java.io.File(base, ".tmp-stale"); stale.mkdirs()
    new java.io.File(stale, "junk").createNewFile()
    stale.setLastModified(System.currentTimeMillis - 2L * 60 * 60 * 1000)
    val fresh = new java.io.File(base, ".tmp-fresh"); fresh.mkdirs()
    val published = new java.io.File(base, "some-key"); published.mkdirs()
    util.sweepStaleStaging(base)
    assert(!stale.exists, "stale staging dir not swept")
    assert(fresh.exists, "IN-FLIGHT staging dir must never be swept")
    assert(published.exists, "published root must never be swept")
  }

  // ——— round-10 additions: FPS coreset, bloom-pruned ingest, lineage ———

  /** Sequential in-JVM FPS referee replicating the entry's exact
    * arithmetic (left-fold double dot, HALF_UP round to 6, maximin
    * with ties to smallest id). */
  private def fpsReferee(vecs: Seq[(Long, Array[Double])], k: Int): Seq[(Long, Double)] = {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def dist(a: Array[Double], b: Array[Double]) =
      1.0 - r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val sorted = vecs.sortBy(_._1)
    var picks = Vector((sorted.head._1, 0.0))
    var md = sorted.map { case (id, v) => (id, v, dist(v, sorted.head._2)) }
    for (_ <- 2 to k) {
      val best = md.minBy { case (id, _, d) => (-d, id) }
      picks = picks :+ ((best._1, best._3))
      md = md.map { case (id, v, d) => (id, v, math.min(d, dist(v, best._2))) }
    }
    picks
  }

  test("coreset FPS matches the sequential referee and distances are non-increasing") {
    val got = SparkEntry.queries("sample_coreset_fps")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 8)
    val vecs = util.t(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val want = fpsReferee(vecs, 8)
    assert(got.map(g => (g._2, g._3)).toSeq == want,
      s"got=${got.toSeq}\nwant=$want")
    // maximin radius is monotone non-increasing after the seed
    got.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"FPS distance increased: $a -> $b")
    }
    assert(got.head._3 == 0.0 && got.head._2 == vecs.map(_._1).min)
  }

  test("bloom ingest equals the exact gate and the bloom actually prunes") {
    val got = SparkEntry.queries("dedup_bloom_ingest")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val base = util.t(spark, sf, "documents")
      .selectExpr("doc_id", "regexp_replace(trim(lower(text)), ' +', ' ') AS norm")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val corpus = base.filter(_._1 % 10 != 0).map(_._2).toSet
    val want = base.filter(_._1 % 10 == 0).sortBy(_._1)
      .map { case (id, n) => (id, if (corpus(n)) "dup_exact" else "ingest") }
    assert(got.toSeq == want.toSeq)
    // no false negatives by construction; on this data the filter must
    // also genuinely prune (reject most non-dup batch docs)
    import org.apache.spark.sql.graftbridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val docs = util.t(spark, sf, "documents")
      .withColumn("norm", regexp_replace(trim(lower(col("text"))), " +", " "))
    val bits = docs.filter(col("doc_id") % 10 =!= 0)
      .agg(operators.Dedup.bloomAgg(xxhash64(col("norm")), 5000L, 40960L))
      .head().getAs[Array[Byte]](0)
    val mc = graftbridge.column(BloomFilterMightContain(
      Literal.create(bits, org.apache.spark.sql.types.BinaryType),
      graftbridge.expression(xxhash64(col("norm")))))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val passed = batch.filter(mc).count()
    val dups = want.count(_._2 == "dup_exact").toLong
    assert(passed >= dups, "bloom dropped a true duplicate (false negative!)")
    assert(passed < batch.count(), s"bloom pruned nothing (passed=$passed)")
  }

  test("column lineage of the flagship matches the committed golden rows") {
    val got = SparkEntry.queries("meta_column_lineage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.length == 13, s"got ${got.length} rows: ${got.mkString(", ")}")
    assert(got.take(2).toSeq == Seq(
      (1L, "l_returnflag", "lineitem", "l_returnflag"),
      (2L, "l_linestatus", "lineitem", "l_linestatus")))
    assert(got.filter(_._2 == "sum_charge").map(_._4).toSeq ==
      Seq("l_discount", "l_extendedprice", "l_tax"))
    assert(got.find(_._2 == "count_order").get._3 == "(constant)")
  }

  test("modularity: identities hold and q_micro replays exactly from (e_c, d_c, m)") {
    val rows = SparkEntry.queries("graph_modularity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val sumD = rows.map(_._4).sum
    assert(sumD % 2 == 0, "handshake: community degree sums must total 2m")
    val m = sumD / 2
    assert(rows.map(_._3).sum <= m, "intra-edge total cannot exceed m")
    rows.foreach { case (c, _, eC, dC, q) =>
      val want = (eC * 1000000L) / m - (dC * dC * 1000000L) / (4L * m * m)
      assert(q == want, s"community $c: q_micro $q != replayed $want")
    }
    // Q bounds: exactly 0 for the degenerate single-community cut
    // (sf0.001's dense backbone), strictly positive once LPA finds
    // real structure (sf0.01: 36 communities, Q ≈ 0.354)
    val qTotal = rows.map(_._5).sum
    assert(qTotal >= 0 && qTotal < 1000000L, s"Q_micro total $qTotal out of [0, 1e6)")
    if (rows.length > 1)
      assert(qTotal > 0, s"multi-community cut must have positive modularity")
    // communities and sizes must agree with the LPA histogram entry
    val hist = SparkEntry.queries("graph_label_propagation")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.map(r => (r._1, r._2)).toMap == hist,
      "modularity communities diverge from the LPA histogram")
  }

  test("streaming KLL: converged per-type quantiles meet the 3/k bound vs exact") {
    val got = SparkEntry.queries("stream_kll_quantiles")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val byType = util.t(spark, sf, "events")
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got.map(_._1).toSet == byType.keySet)
    val eps = 3.0 / 200
    got.foreach { case (tpe, n, p50, p90, p99) =>
      val vals = byType(tpe)
      assert(n == vals.length, s"$tpe: sketch count $n != ${vals.length}")
      for ((p, est) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99)) {
        // normalized rank of the estimate among the exact values
        val rank = vals.count(_ < est).toDouble / vals.length
        assert(math.abs(rank - p) <= eps + 1.0 / vals.length,
          s"$tpe p=$p: est $est at rank $rank exceeds ${eps} bound")
      }
    }
  }

  test("streaming KLL: state merges across micro-batches keep the rank bound") {
    // 4-chunk arrival through a MemoryStream — each batch's partial
    // sketches fold into the state-store buffer via the aggregate's
    // own merge; the converged estimate must still meet 3/k
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    import functions.KllSketch._
    val n = 8000
    val vals = shuffled(n)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Double]
    val q = ms.toDF().toDF("value")
      .groupBy().agg(kllSketch(col("value"), 200).as("sk"))
      .writeStream.format("memory").queryName("kll_chunks")
      .outputMode(OutputMode.Complete).start()
    vals.grouped(n / 4).foreach { chunk =>
      ms.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val row = spark.table("kll_chunks")
      .select(kllCount(col("sk")).as("n"),
        kllQuantiles(col("sk"), array(lit(0.5), lit(0.99))).as("qs"))
      .collect().head
    assert(row.getLong(0) == n, "cross-batch state lost rows")
    val qs = row.getSeq[Double](1)
    for ((p, est) <- Seq(0.5 -> qs(0), 0.99 -> qs(1)))
      assert(math.abs(trueRank(est, n) - p) <= 3.0 / 200,
        s"p=$p: est $est rank err exceeds 3/k after 4-batch merge")
  }

  test("streaming SCD2 enrichment equals the batch as-of join and covers every purchase") {
    val got = SparkEntry.queries("stream_scd2_enrich")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getString(4)))
    // batch twin: same deduped dimension, same native as-of join
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
    val ev = util.t(spark, sf, "events")
    val dim = ev.withColumn("prev", lag(col("event_type"), 1).over(wLag))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      .withColumn("rn", row_number().over(wTie)).filter(col("rn") === 1)
      .select(col("user_id").as("d_user"), col("ts").as("valid_from"),
        col("event_type").as("state"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val want = plans.AsOf.join(purchases, dim, "user_id", "d_user", "ts", "valid_from")
      .select(col("event_id"), col("user_id"), col("ts"), col("valid_from"), col("state"))
      .orderBy(col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getString(4)))
    assert(got.toSeq == want.toSeq)
    // every purchase has a state at its own event time (its run starts
    // at or before it), so the inner as-of must be TOTAL
    assert(got.length == purchases.count(), "an enriched purchase went missing")
    got.foreach { case (_, _, ts, from, _) =>
      assert(!from.after(ts), "dimension version newer than the event it enriches") }
  }

  test("skyline: bucket prune is lossless vs the quadratic dominance referee") {
    val rows = util.t(spark, sf, "part")
      .selectExpr("p_partkey", "cast(round(p_retailprice * 100) as bigint) pc",
        "p_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // in-JVM quadratic referee: exactly the dominance definition
    val want = rows.filter { case (_, pc, sz) =>
      !rows.exists { case (_, qc, qz) =>
        qc <= pc && qz >= sz && (qc < pc || qz > sz) }
    }.map(t => (t._1, t._2, t._3)).sortBy(t => (t._2, t._1))
    val got = operators.Analytics.q83Skyline(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == want.toSeq)
    // cover property: every non-skyline row is dominated by a skyline row
    val skySet = want.toSet
    rows.filterNot(skySet).foreach { case (_, pc, sz) =>
      assert(want.exists { case (_, qc, qz) =>
        qc <= pc && qz >= sz && (qc < pc || qz > sz) },
        "a dominated row has no dominating SKYLINE row — frontier incomplete")
    }
  }

  test("ivm join: delta-rule maintenance equals the direct recompute") {
    val direct = {
      val o = util.t(spark, sf, "orders").selectExpr("o_custkey",
        "cast(round(o_totalprice * 100) as bigint) cents")
      val c = util.t(spark, sf, "customer").selectExpr("c_custkey", "c_nationkey")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).cast("long").as("revenue_cents"))
        .orderBy(col("c_nationkey"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    }
    val delta = operators.Analytics.q84IvmJoin(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(delta.toSeq == direct.toSeq,
      "the 4-way partial-aggregate merge diverged from the full recompute")
  }

  test("entity resolution: (noun, brand) blocking is lossless vs all-pairs") {
    val recs = util.t(spark, sf, "part")
      .selectExpr("p_partkey", "split(p_name, ' ')[0] adj",
        "split(p_name, ' ')[1] noun", "p_brand", "p_type", "p_size")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getInt(5)))
    def score(a: (Long, String, String, String, String, Int),
              b: (Long, String, String, String, String, Int)): Int =
      (if (a._3 == b._3) 300 else 0) + (if (a._2 == b._2) 200 else 0) +
      (if (a._4 == b._4) 250 else 0) + (if (a._5 == b._5) 150 else 0) +
      (if (math.abs(a._6 - b._6) <= 2) 100 else 0)
    // all-pairs referee (no blocking at all)
    val want = (for {
      i <- recs.indices; j <- (i + 1) until recs.length
      if score(recs(i), recs(j)) >= operators.Dedup.erMatchThreshold
    } yield {
      val (x, y) = (recs(i)._1, recs(j)._1)
      (math.min(x, y), math.max(x, y))
    }).toSet
    // every referee match agrees on noun AND brand — the dominance
    // bound the blocking key's losslessness proof rests on
    want.foreach { case (x, y) =>
      val a = recs.find(_._1 == x).get; val b = recs.find(_._1 == y).get
      assert(a._3 == b._3 && a._4 == b._4,
        "a match pair crossed a block — the bound argument is broken")
    }
    // and the entity report over blocked pairs covers exactly the
    // referee graph's nodes
    val matched = want.flatMap(p => Seq(p._1, p._2))
    val report = operators.Dedup.entityResolution(spark, sf)
      .agg(sum(col("n_members")).cast("long")).collect()(0).getLong(0)
    assert(report == matched.size.toLong,
      s"entity members $report != referee matched-node count ${matched.size}")
  }

  test("mv rewrite: plan reads the view; answer equals the fact scan; near-miss doesn't rewrite") {
    val factPath = s"file:$sf/orders.parquet"
    val served = operators.Warehouse.q87MvRewrite(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_artifact_cache") && !plan.contains("orders.parquet"),
      "rewritten plan must scan the matview, never the fact table")
    val got = served.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    plans.MatviewRewrite.unregister(factPath, "o_orderstatus")
    try {
      val base = operators.Warehouse.canonicalStatusRevenue(spark, sf)
      assert(base.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "with no view registered the same query must scan fact")
      val want = base.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq, "view answer diverged from fact answer")
    } finally operators.Warehouse.q87MvRewrite(spark, sf) // re-register
    // near-miss: same grouping, sum WITHOUT the round — must not match
    val miss = util.t(spark, sf, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
    assert(miss.queryExecution.executedPlan.toString.contains("orders.parquet"),
      "a semantically different aggregate silently read the view")
  }

  test("mv maintain: every intermediate version is the exact prefix aggregate") {
    val (state, v) = operators.StreamingOps.mvMaintainRun(spark, sf)
    assert(v == 5, s"expected 5 merged batches, got $v")
    val orders = util.t(spark, sf, "orders")
      .selectExpr("o_orderkey", "o_orderstatus",
        "cast(round(o_totalprice * 100) as bigint) cents")
    for (k <- 1 to 5) {
      val got = spark.read.parquet(s"$state/v$k")
        .selectExpr("o_orderstatus", "cast(n_orders as long) n",
          "cast(revenue_cents as long) c")
        .orderBy(col("o_orderstatus"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // prefix truth: salts 0..k-1 of the keyspace, aggregated directly
      val want = orders.filter(pmod(col("o_orderkey"), lit(5L)) < k)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .orderBy(col("o_orderstatus"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq,
        s"version $k diverged from the direct prefix aggregate")
    }
  }

  test("mv rollup: a finer view answers the coarser grouping by re-aggregation") {
    val factPath = s"file:$sf/orders.parquet"
    val served = operators.Warehouse.q88MvRollup(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_artifact_cache") && !plan.contains("orders.parquet"),
      "roll-up plan must re-aggregate the view, never scan fact")
    val got = served.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    plans.MatviewRewrite.unregister(factPath, "o_orderpriority")
    try {
      val want = util.t(spark, sf, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(expr(
          "cast(round(o_totalprice * 100) as long)")).as("c"))
        .orderBy(col("o_orderpriority"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq, "roll-up answer diverged from fact answer")
    } finally operators.Warehouse.q88MvRollup(spark, sf)
  }

  test("matryoshka rerank: serving invariants hold and recall beats chance") {
    // USING-join column order: (q_id, neighbor_id, rk, cos, hit)
    val rows = operators.Similarity.matryoshkaRerank(spark, sf)
      .select(col("q_id"), col("rk"), col("cos"), col("hit"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 20 && byQ.values.forall(_.length == 5),
      "each of the 20 queries must serve exactly 5 neighbors")
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._3).sliding(2).forall(p => p.head >= p.last),
        "re-ranked cosine must be non-increasing in rank")
    }
    val recall = rows.map(_._4).sum.toDouble / rows.length
    val corpus = util.t(spark, sf, "embeddings").count().toDouble
    assert(recall >= 0.2, f"recall@5 $recall%.2f collapsed — shortlist broken")
    assert(recall > 5.0 / corpus * 10,
      "recall must beat the random-shortlist baseline by an order of magnitude")
  }

  test("audio segments: VAD runs match the direct per-chunk synth referee") {
    val got = operators.Multimodal.audioSegments(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty)
    // referee: no WAV container round-trip — energies straight from
    // the synthesized sample stream
    val docs = util.t(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 1).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, text) =>
      val samples = text.split(" ").grouped(8).flatMap { cArr =>
        val c = cArr.mkString(" ")
        val a = functions.Wav.synth(c)
        if ((scala.util.hashing.MurmurHash3.stringHash(c) & 1) == 0)
          a.samples.map(s => (s >> 8).toShort)
        else a.samples
      }.toArray
      val energies = samples.grouped(160).map(fr =>
        fr.foldLeft(0L)((acc, s) => acc + math.abs(s.toInt)) / fr.length).toArray
      val active = energies.map(_ > operators.Multimodal.vadEnergyFloor)
      var segs = List.empty[Long]
      var run = 0L
      active.foreach { a =>
        if (a) run += 1
        else if (run > 0) { segs ::= run; run = 0 }
      }
      if (run > 0) segs ::= run
      (id, energies.length.toLong, segs.length.toLong,
        if (segs.isEmpty) 0L else segs.max, segs.sum)
    }.sortBy(_._1).toSeq
    assert(got == want, "codec-path segmentation diverged from direct synthesis")
    // the fixture must actually exercise both phases
    assert(got.exists(_._3 > 0) && got.exists(t => t._5 < t._2),
      "fixture degenerate: need both speech and silence present")
  }

  test("scene cuts: container walk matches the direct per-chunk synth referee") {
    val got = operators.Multimodal.sceneCuts(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty)
    // referee: NO container, no codec round-trip — lumas straight from
    // the synthesized pixel planes; any walk/offset corruption diverges
    val docs = util.t(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 2).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, text) =>
      val lumas = text.split(" ").grouped(8).map { c =>
        val img = functions.Ppm.synth(c.mkString(" "))
        var r = 0L; var g = 0L; var b = 0L
        var i = 0
        while (i < img.pixels.length) {
          r += img.pixels(i) & 0xFF; g += img.pixels(i + 1) & 0xFF
          b += img.pixels(i + 2) & 0xFF; i += 3
        }
        (299L * r + 587L * g + 114L * b) / (img.width * img.height)
      }.toArray
      val deltas = lumas.sliding(2).map(p => math.abs(p(1) - p(0))).toArray
      val cutIdx = deltas.zipWithIndex.collect {
        case (d, i) if d > operators.Multimodal.sceneCutMilli => i + 1L }
      (id, lumas.length.toLong, cutIdx.length.toLong,
        cutIdx.headOption.getOrElse(-1L), lumas.sum / lumas.length)
    }.sortBy(_._1).toSeq
    assert(got == want, "container walk diverged from direct synthesis")
  }

  test("drift chi2: null halves stay near df; a shifted half scores far above") {
    val rows = operators.Warehouse.metaDriftChi2(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, na, nb, bins, drift) =>
      assert(na > 0 && nb > 0 && bins >= 1 && drift >= 0,
        s"$t: degenerate drift row")
      // statistic bound: each term ≤ (pa−pb)²·1e6/(pa+pb) ≤ 1e6·max(pa,pb)
      assert(drift <= 1000000L * 1000000L * bins, s"$t: drift out of bounds")
    }
    // referee the statistic's calibration in-JVM: same-distribution
    // halves (event_id parity over one type) must score far below a
    // deliberately shifted pair (values doubled in one half)
    val cents = util.t(spark, sf, "events")
      .filter(col("event_type") === rows.head._1)
      .selectExpr("event_id", "cast(round(value * 100) as bigint) cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxc = cents.map(_._2).max
    def hist(xs: Seq[Long]): Array[Long] = {
      val h = new Array[Long](10)
      xs.foreach(c => h(math.min(9L, c * 10 / (maxc + 1)).toInt) += 1)
      h
    }
    def drift(a: Seq[Long], b: Seq[Long]): Long = {
      val (ha, hb) = (hist(a), hist(b))
      val (ta, tb) = (a.length.toLong, b.length.toLong)
      (0 until 10).map { i =>
        val pa = ha(i) * 1000000L / math.max(ta, 1L)
        val pb = hb(i) * 1000000L / math.max(tb, 1L)
        val pp = (ha(i) + hb(i)) * 1000000L / math.max(ta + tb, 1L)
        ta * (pa - pp) * (pa - pp) / (pp + 1) +
          tb * (pb - pp) * (pb - pp) / (pp + 1)
      }.sum
    }
    val (evenH, oddH) = cents.partition(_._1 % 2 == 0)
    val same = drift(evenH.map(_._2), oddH.map(_._2))
    val shifted = drift(evenH.map(_._2),
      oddH.map(t => math.min(maxc, t._2 + maxc / 4)))
    // Pearson calibration: under no drift χ² ≈ df = 9, i.e. ~9e6 in
    // micro units; a doubled half must blow far past both
    assert(same < 50L * 1000000L,
      s"same-distribution halves score $same — statistic uncalibrated")
    assert(shifted > 4 * math.max(same, 1L) && shifted > 50L * 1000000L,
      s"shifted drift $shifted not clearly above same-dist $same — statistic uninformative")
  }

  test("occ commit: dense version chain, each committer exactly once, races observed") {
    val (root, retries) = sources.FileSources.occRun(spark, sf)
    val vfiles = new java.io.File(s"$root/_versions").listFiles()
      .filter(_.getName.matches("v\\d+\\.json"))
      .map(_.getName.stripPrefix("v").stripSuffix(".json").toInt).sorted
    assert(vfiles.toSeq == (1 to 8), s"version chain not dense: ${vfiles.toSeq}")
    val adds = (1 to 8).map { v =>
      val s = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$root/_versions/v$v.json"))
      s.split("\"add\": \"")(1).split("\"")(0)
    }
    assert(adds.distinct.length == 8,
      "a data file was referenced twice — a commit was clobbered")
    // no lost updates: the read path returns every staged row
    val n = sources.FileSources.occRead(spark, root).count()
    assert(n == util.t(spark, sf, "orders").count())
    // eight writers through one latch: at least one must have lost a
    // CAS round (probabilistically certain; if this ever flakes the
    // latch isn't racing and the test is vacuous anyway)
    assert(retries >= 1, "no CAS conflict observed — the race never raced")
  }

  test("kfold: folds partition events exactly; per-fold class mix is balanced") {
    val rows = operators.Sampling.kfoldSplit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = util.t(spark, sf, "events").count()
    assert(rows.map(_._3).sum == total, "folds must partition the events exactly")
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // fold sizes within 20% of N/5 (hash-uniformity), class shares
    // within 10 percentage points across folds (stratification sanity)
    val sizes = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).values
    sizes.foreach(s => assert(math.abs(s - total / 5).toDouble <= 0.2 * total / 5,
      s"fold size $s far from ${total / 5}"))
    rows.groupBy(_._2).values.foreach { g =>
      val shares = g.map(_._4)
      assert(shares.max - shares.min <= 100000L,
        s"class ${g.head._2} share spread ${shares.max - shares.min} > 10pp")
    }
    // determinism: a second run is bit-identical
    val again = operators.Sampling.kfoldSplit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq)
  }

  test("link predict: scores replay from the in-JVM neighborhood referee") {
    val got = operators.Graph.linkPredict(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.length <= 30)
    // referee graph from the raw baskets
    val items = util.t(spark, sf, "lineitem")
      .selectExpr("l_orderkey o", "l_partkey p").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = items.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = (und.toSeq ++ und.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (a, b, cn, jac, ra) =>
      assert(!und((math.min(a, b), math.max(a, b))),
        s"($a,$b) is an existing edge — candidates must be non-edges")
      val common = adj(a).intersect(adj(b))
      assert(cn == common.size.toLong, s"($a,$b) cn")
      assert(jac == cn * 1000000L / (adj(a).size + adj(b).size - cn),
        s"($a,$b) jaccard")
      assert(ra == common.toSeq.map(z => 1000000L / adj(z).size).sum,
        s"($a,$b) resource allocation")
    }
  }

  test("mad anomaly: medians, MAD, and flags match the sorted referee; robust to a spike") {
    val got = operators.Warehouse.metaAnomalyMad(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    val byG = util.t(spark, sf, "events")
      .selectExpr("event_type g", "cast(round(value * 100) as bigint) cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def rankMid(xs: Seq[Long]): Long = xs.sorted.apply((xs.length + 1) / 2 - 1)
    got.foreach { case (g, med, mad, thr, n, nOut, worst) =>
      val xs = byG(g)
      assert(med == rankMid(xs) && mad == rankMid(xs.map(c => math.abs(c - med))),
        s"$g: order statistics diverge from the referee")
      assert(thr == 3L * 14826L * mad / 10000L && n == xs.length.toLong)
      assert(nOut == xs.count(c => math.abs(c - med) > thr).toLong, s"$g flags")
      if (nOut > 0) assert(worst == xs.map(c => math.abs(c - med)).max)
    }
    // robustness: one absurd spike moves mean/stddev but NOT median/MAD
    val xs = byG(got.head._1)
    val spiked = xs :+ 1000000000L
    assert(math.abs(rankMid(spiked) - rankMid(xs)) * 50 <=
      math.max(math.abs(rankMid(xs)), 1L),
      "median moved materially under a single spike — not robust")
  }

  test("market basket: rule metrics replay from the in-JVM pair referee") {
    val items = util.t(spark, sf, "lineitem")
      .selectExpr("l_orderkey o", "l_partkey p").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = items.map(_._1).distinct.length.toLong
    val cp = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cab = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = operators.Analytics.q89MarketBasket(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.length == 30)
    got.foreach { case (pa, pb, c, ca, cb, sup, conf, lift) =>
      assert(cab((pa, pb)) == c && cp(pa) == ca && cp(pb) == cb,
        s"counts for ($pa,$pb) diverge from the referee")
      assert(sup == c * 1000000L / n && conf == c * 1000000L / ca &&
        lift == c * n * 1000000L / (ca * cb),
        s"metrics for ($pa,$pb) diverge from the integer formulas")
      assert(conf <= 1000000L && c <= math.min(ca, cb),
        "support/confidence bounds violated")
    }
    // the emitted 30 are THE top-30 by (cab desc, pa, pb)
    val topRef = cab.toSeq.map { case ((a, b), c) => (c, a, b) }
      .sortBy(t => (-t._1, t._2, t._3)).take(30).map(t => (t._2, t._3))
    assert(got.map(t => (t._1, t._2)).toSeq == topRef)
  }

  test("lm decode: the greedy chain replays from the collected model") {
    val kn = operators.TextAnalysis.knBigramFull(spark, sf)
      .select(col("w1"), col("w2"), col("p_micro"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byHead = kn.groupBy(_._1)
    val seed = util.t(spark, sf, "documents")
      .selectExpr("explode(split(text, ' ')) w")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), col("w")).limit(1).collect()(0).getString(0)
    val want = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]((0L, seed, 0L))
    var cur = seed
    var k = 1
    while (k <= operators.TextAnalysis.lmDecodeSteps &&
        byHead.contains(cur)) {
      val best = byHead(cur).minBy(t => (-t._3, t._2))
      want += ((k.toLong, best._2, best._3)); cur = best._2; k += 1
    }
    val got = operators.TextAnalysis.lmDecode(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want.toSeq, "distributed greedy chain diverged from the referee")
    assert(got.length >= 2, "decode must advance at least one step on this corpus")
  }

  test("winsorize: fences, clip counts, and sums match the sorted referee") {
    val byG = util.t(spark, sf, "lineitem")
      .selectExpr("l_returnflag g", "cast(round(l_extendedprice * 100) as bigint) cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = operators.Warehouse.metaWinsorize(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.map(_._1).toSet == byG.keySet)
    got.foreach { case (g, lo, hi, n, clipLo, clipHi, sumRaw, sumW) =>
      val xs = byG(g)
      val (iLo, iHi) = ((xs.length + 99) / 100, (xs.length * 99 + 99) / 100)
      assert(lo == xs(iLo - 1) && hi == xs(iHi - 1), s"$g fences")
      assert(n == xs.length && clipLo == xs.count(_ < lo) &&
        clipHi == xs.count(_ > hi), s"$g counts")
      assert(sumRaw == xs.sum &&
        sumW == xs.map(c => math.max(lo, math.min(hi, c))).sum, s"$g sums")
    }
  }

  test("kneser-ney: smoothed mass sums to one; micro table replays exactly") {
    val rows = operators.TextAnalysis.knBigramFull(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val tTypes = rows.length.toLong // table rows ARE the distinct bigrams
    // per-row integer replay of the micro formula
    rows.foreach { case (w1, w2, c12, c1, n1f, n1b, pMicro) =>
      val want = math.max(4 * c12 - 3, 0L) * 1000000L / (4 * c1) +
        (3 * n1f * 1000000L / (4 * c1)) * n1b / tTypes
      assert(pMicro == want, s"($w1,$w2) micro mismatch")
    }
    // exact KN identity: observed mass + backoff mass over UNOBSERVED
    // continuations = 1 (D = 0.75; Pcont normalized over bigram types)
    val pcontAll = rows.groupBy(_._2).map { case (_, g) => g.head._6.toDouble / tTypes }.sum
    assert(math.abs(pcontAll - 1.0) < 1e-9, "continuation distribution unnormalized")
    rows.groupBy(_._1).foreach { case (w1, g) =>
      val c1 = g.head._4.toDouble; val n1f = g.head._5.toDouble
      val lambda = 0.75 * n1f / c1
      val obs = g.map { case (_, _, c12, _, _, n1b, _) =>
        math.max(c12 - 0.75, 0.0) / c1 + lambda * (n1b.toDouble / tTypes) }.sum
      val obsCont = g.map(r => r._6.toDouble / tTypes).sum
      val full = obs + lambda * (1.0 - obsCont)
      assert(math.abs(full - 1.0) < 1e-9,
        s"P(.|$w1) full-vocabulary mass is $full — KN normalization broken")
    }
  }

  test("poisson bootstrap: replicates draw ~N rows and bracket the true mean") {
    val ev = util.t(spark, sf, "events")
      .selectExpr("cast(count(*) as long) n",
        "cast(sum(cast(round(value * 100) as bigint)) as long) cents")
      .collect()(0)
    val (n, totalCents) = (ev.getLong(0), ev.getLong(1))
    val trueMeanMicro = totalCents * 1000000L / n
    val reps = operators.Sampling.bootstrapPoisson(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(reps.length == 5)
    val tol = (6 * math.sqrt(n.toDouble)).toLong  // 6σ of a Poisson(N) total
    reps.foreach { case (rep, drawn, _, meanMicro) =>
      assert(math.abs(drawn - n) <= tol,
        s"rep $rep drew $drawn of $n — outside the Poisson 6-sigma band")
      // replicate means estimate the same population mean; at n≈6k a
      // 5% relative band is ≈ 4x the expected bootstrap SE
      assert(math.abs(meanMicro - trueMeanMicro).toDouble <=
        0.05 * math.abs(trueMeanMicro).toDouble,
        s"rep $rep mean $meanMicro vs true $trueMeanMicro")
    }
    // the draws must actually differ across replicates (no rep collapse)
    assert(reps.map(_._2).distinct.length > 1, "replicates are identical")
  }

  test("block-local union-find labels equal the iterative star contraction") {
    val pairs = operators.Dedup.erMatchPairs(spark, sf)
    val local = operators.Dedup.blockLocalLabels(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val star = operators.Dedup.starLabels(
        pairs.select(col("a_id"), col("b_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local.toSeq == star.toSeq,
      "one-pass block-local labeling diverged from the global fixed-point")
  }

  test("vocab encode: coverage partitions tokens; ids are a dense 1..V prefix") {
    val rows = operators.TextAnalysis.vocabEncode(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, known, oov) =>
      assert(known + oov == n, s"doc $id: known $known + oov $oov != $n") }
    val corpusTokens = util.t(spark, sf, "documents")
      .selectExpr("cast(sum(size(split(text, ' '))) as bigint)")
      .collect()(0).getLong(0)
    assert(rows.map(_._2).sum == corpusTokens,
      "per-doc token counts must sum to the corpus total")
  }

  test("islands: streak lengths reconcile with per-user distinct active days") {
    val got = operators.Analytics.q85Islands(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.length <= 100)
    got.foreach { case (u, nIsl, longest, days) =>
      assert(longest <= days && nIsl <= days && days <= nIsl * longest,
        s"user $u: islands $nIsl / longest $longest / days $days inconsistent") }
    // referee one user end-to-end
    val (u0, nIsl0, longest0, days0) = got.head
    val ds = util.t(spark, sf, "events")
      .filter(col("user_id") === u0)
      .selectExpr("cast(unix_micros(ts) div 86400000000 as long) d")
      .distinct().collect().map(_.getLong(0)).sorted
    val runs = ds.foldLeft(List.empty[(Long, Long)]) { // (start, len)
      case (acc, d) => acc match {
        case (s, l) :: rest if d == s + l => (s, l + 1) :: rest
        case _ => (d, 1L) :: acc
      }
    }
    assert(runs.length.toLong == nIsl0 && runs.map(_._2).max == longest0 &&
      ds.length.toLong == days0, s"user $u0 referee mismatch")
  }

  test("column lineage traces a join query back to both source tables") {
    val rows = plans.Describe.columnLineage(spark, sf, "q3_join_inner")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val tables = rows.map(_._2).toSet
    assert(tables.size >= 2, s"join lineage should span tables, got $tables")
    rows.foreach { case (_, tb, _) =>
      assert(tb != "(source)", "leaf relation name not resolved") }
  }
}
