package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DistRank

/** Round-12 specs: the DistRank distributed-ordering utility that
  * replaces every table-sized single-partition global window (VERDICT
  * r11 "What's wrong #2"), verified cell-identical against the window
  * functions it replaces, plus a plan-shape gate asserting no
  * partition-less WindowExec over table-sized input anywhere in the
  * registry entries that used to carry one.
  */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def customer = util.t(spark, sf, "customer")

  test("DistRank.withRowNumber equals row_number over a global order") {
    val sortCols = Seq(col("c_acctbal"), col("c_custkey"))
    val got = DistRank.withRowNumber(customer, sortCols, "rn", parts = 7)
      .select(col("c_custkey"), col("rn"))
    val want = customer.select(col("c_custkey"),
      row_number().over(Window.orderBy(sortCols: _*)).cast("long").as("rn"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("DistRank.withRowNumber handles desc orders and few rows") {
    val sortCols = Seq(col("n_name").desc, col("n_nationkey"))
    val nation = util.t(spark, sf, "nation")
    val got = DistRank.withRowNumber(nation, sortCols, "rn", parts = 32)
      .select(col("n_nationkey"), col("rn"))
    val want = nation.select(col("n_nationkey"),
      row_number().over(Window.orderBy(sortCols: _*)).cast("long").as("rn"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("DistRank.withNtile equals ntile for several n, incl n > rows") {
    val sortCols = Seq(col("c_acctbal"), col("c_custkey"))
    for (n <- Seq(3, 10, 8, 100000)) {
      val got = DistRank.withNtile(customer, sortCols, n, "b", parts = 5)
        .select(col("c_custkey"), col("b"))
      val want = customer.select(col("c_custkey"),
        ntile(n).over(Window.orderBy(sortCols: _*)).cast("long").as("b"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"n=$n")
    }
  }

  test("DistRank.withPrefix sum/max equal their global-window twins") {
    val sortCols = Seq(col("c_acctbal"), col("c_custkey"))
    val cents = (col("c_acctbal") * 100).cast("long")
    val wIncl = Window.orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wExcl = Window.orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val gotSum = DistRank.withPrefix(customer, sortCols, cents, "sum", "run",
        inclusive = true, parts = 6)
      .select(col("c_custkey"), col("run"))
    val wantSum = customer.select(col("c_custkey"),
      sum(cents).over(wIncl).as("run"))
    assert(gotSum.except(wantSum).isEmpty && wantSum.except(gotSum).isEmpty)

    val gotMax = DistRank.withPrefix(customer, sortCols, cents, "max", "pk",
        inclusive = false, parts = 6)
      .select(col("c_custkey"), col("pk"))
    val wantMax = customer.select(col("c_custkey"),
      max(cents).over(wExcl).as("pk"))
    assert(gotMax.except(wantMax).isEmpty && wantMax.except(gotMax).isEmpty)
  }

  test("registry-wide: no batch entry plans a partition-less Window " +
      "over its input") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import scala.jdk.CollectionConverters._
    // streaming entries drive MemoryStream micro-batches at build time
    // (minutes of wall-clock) and their stateful ops are keyed, never
    // global — the batch surface is where the global-window family lived
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_"))
    val thread = Thread.currentThread.getId
    var cacheReaders = Seq.empty[String]
    val offenders = names.flatMap { n =>
      try {
        val before = util.artifactTouchLog.size
        val df = SparkEntry.queries(n)(spark, sf)
        if (util.artifactTouchLog.asScala.drop(before).exists(_._1 == thread))
          cacheReaders :+= n
        df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => n
        }.headOption
      } catch { case e: Throwable =>
        fail(s"entry $n failed to build at $sf: $e")
      }
    }
    assert(offenders.isEmpty,
      s"entries planning a global single-partition Window: $offenders")
    // the same pass keeps Bench.amortizedEntries complete: an entry
    // whose construction reads the artifact cache is timed as a read
    // unless it is listed. The two *_index_build entries time the
    // build itself and are left off (ROADMAP item 2)
    val unlisted = cacheReaders.filterNot(n => Bench.amortizedEntries.contains(n) ||
      Set("dedup_index_build", "sim_index_build")(n))
    assert(unlisted.isEmpty,
      s"artifact-cache readers missing from Bench.amortizedEntries: $unlisted")
  }

  test("expireUnreachable is mark-then-sweep: shared and cross-table " +
      "adds survive, orphan-only adds are reclaimed") {
    import graft.sources.FileSources._
    import java.nio.file.{Files, Paths}
    val root = graft.util.scratchDir("gc_guard")
    val other = graft.util.scratchDir("gc_other")
    val nation = util.t(spark, sf, "nation").select(col("n_nationkey"))
    // main chain: v1 (d0) — reachable
    writeRef(root, "main", commitVersion(root, "d0", nation, parent = 0))
    // orphan v2 SHARING v1's data dir (time-travel-style shared add)
    Files.writeString(Paths.get(s"$root/_versions/v2.json"),
      """{"version": 2, "parent": 0, "add": "d0"}""")
    // orphan v3 with an ABSOLUTE add into another table (clone-style)
    nation.write.parquet(s"$other/dx")
    Files.writeString(Paths.get(s"$root/_versions/v3.json"),
      s"""{"version": 3, "parent": 0, "add": "$other/dx"}""")
    // orphan v4 with its own private data dir — the one true garbage
    commitVersion(root, "d_orphan", nation, parent = 0)
    val before = snapshotAt(spark, root, readRef(root, "main")).count()

    expireUnreachable(root, Seq("main"))

    assert(new java.io.File(s"$root/d0").exists(),
      "shared add deleted although a reachable manifest references it")
    assert(new java.io.File(s"$other/dx").exists(),
      "cross-table absolute add deleted by a foreign table's GC")
    assert(!new java.io.File(s"$root/d_orphan").exists(),
      "orphan-only add not reclaimed")
    assert(!new java.io.File(s"$root/_versions/v2.json").exists() &&
      !new java.io.File(s"$root/_versions/v3.json").exists(),
      "expired manifests not removed")
    assert(snapshotAt(spark, root, readRef(root, "main")).count() === before,
      "reachable readback changed across GC")
  }

  test("join elimination requires fact-scan provenance, not a column name") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.size
    val dim = util.t(spark, sf, "orders")
    val c = plans.JoinElimination.FkConstraint(
      s"$sf/orders.parquet", "o_orderkey",
      s"$sf/lineitem.parquet", "l_orderkey")
    plans.JoinElimination.register(c)
    try {
      // genuine FK column from the declared fact scan → eliminated
      val genuine = util.t(spark, sf, "lineitem")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(joins(genuine) == 0, "declared PK-FK join must be eliminated")
      // a DERIVED column that merely shares the FK name → join survives
      // (its values can violate the declared referential integrity)
      val derived = util.t(spark, sf, "lineitem")
        .select((col("l_orderkey") * 100).as("l_orderkey"),
          col("l_returnflag"))
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(joins(derived) == 1, "derived fk-named column must keep its join")
      // same name sourced from a DIFFERENT table → join survives
      val foreign = util.t(spark, sf, "customer")
        .select(col("c_custkey").as("l_orderkey"), col("c_mktsegment"))
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      assert(joins(foreign) == 1, "foreign-table column must keep its join")
    } finally plans.JoinElimination.unregister(c)
  }

  test("metaChangepoint score arithmetic cannot overflow int64 on events") {
    // score = t*(n-t)*d*d div n; sufficient bound: (n^2/4)*(2*maxAbs)^2
    // < 2^63 where maxAbs = max |daily cents total| (|mean| <= maxAbs,
    // |d| <= 2*maxAbs). Asserted at every SF the driver verifies.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val daily = util.t(spark, dir, "events")
        .groupBy(col("event_type"),
          (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val row = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(abs(col("cents"))).as("m"))
        .agg(max(col("n")).as("n"), max(col("m")).as("m")).head()
      val n = BigInt(row.getLong(0)); val m = BigInt(row.getLong(1))
      assert(n * n / 4 * (2 * m) * (2 * m) < BigInt(Long.MaxValue),
        s"$dir: n=$n maxAbsCents=$m would overflow the split score")
    }
  }

  test("compacted-log source: batch face serves exactly max-offset-per-key " +
      "with offset holes; streaming face converges to the same set") {
    val surv = sources.GraftRangeSource.survivors(20000L, 101)
    // structural truth of the survivor set: one offset per key, each
    // the key's max over the raw log
    assert(surv.length == 101)
    assert(surv.map(id => sources.GraftRangeSource.keyOf(id, 101)).distinct.length == 101)
    // offsets are non-contiguous — compaction leaves holes
    assert(surv.sliding(2).exists { case Array(a, b) => b - a > 1 })
    val batch = spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "20000").option("slices", "4").option("compactedKeys", "101")
      .load().select(col("id")).collect().map(_.getLong(0)).sorted
    assert(batch.sameElements(surv), "batch face != survivor set")
    // brute-force referee: max id per key over the raw range
    val brute = (0L until 20000L).groupBy(id => sources.GraftRangeSource.keyOf(id, 101))
      .values.map(_.max).toArray.sorted
    assert(surv.sameElements(brute), "survivors != brute-force max-per-key")
  }

  test("compacted-log replay restarts from the committed offset and " +
      "converges to latest-per-key of the grown log") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_compact_restart_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    def run(rows: Long): Unit = {
      val q = spark.readStream.format("graft.sources.GraftRangeSource")
        .option("rows", rows.toString).option("slices", "4")
        .option("batchRows", "2500").option("compactedKeys", "101")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run(10000)  // consumer reads the topic as compacted at t0
    run(20000)  // restart: log grew, cleaner re-ran, offsets advance from 10000
    val got = spark.read.parquet(out).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    // delivered = survivors of the t0 view + survivors of the grown view
    // that sit past the committed offset (nothing replayed, nothing lost)
    val want = (sources.GraftRangeSource.survivors(10000L, 101) ++
      sources.GraftRangeSource.survivors(20000L, 101).filter(_ >= 10000L)).sorted
    assert(got.sameElements(want),
      s"restart delivered ${got.length} offsets, expected ${want.length}")
    // and the CONSUMER's latest-per-key over everything delivered equals
    // latest-per-key of the final log — superseded t0 survivors are
    // overwritten, exactly the upsert guarantee the table layer gives
    val latestDelivered = got.groupBy(id => sources.GraftRangeSource.keyOf(id, 101))
      .values.map(_.max).toArray.sorted
    assert(latestDelivered.sameElements(sources.GraftRangeSource.survivors(20000L, 101)))
  }

  test("stream_compacted_replay matches its oracle and prunes to the id column") {
    val got = SparkEntry.queries("stream_compacted_replay")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // sequential referee: latest-per-key over the raw log, tombstones dropped
    val want = (0L until 20000L).groupBy(id => sources.GraftRangeSource.keyOf(id, 101))
      .values.map(_.max).filter(_ % 11 != 5)
      .map(id => (s"k${sources.GraftRangeSource.keyOf(id, 101)}",
        s"lbl${id % 5}@$id", id))
      .toArray.sortBy(_._1)
    assert(got.sameElements(want))
    // V2 column pruning: the batch twin of the projection reads only `id`
    val desc = spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "20000").option("compactedKeys", "101").load()
      .select(col("id")).queryExecution.executedPlan.toString
    assert(desc.contains("columns=id") && desc.contains("compacted=101"), desc)
  }

  test("ngram novelty: sequential first-occurrence referee agrees; " +
      "the first doc is fully novel") {
    val got = SparkEntry.queries("text_ngram_novelty")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // sequential referee: walk docs in id order with a running gram set
    val docs = util.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    docs.foreach { case (id, text) =>
      val ws = text.split(" ", -1)
      if (ws.length >= 3) {
        val grams = ws.sliding(3).map(_.mkString(" ")).toSet
        val novel = grams.count(!seen(_)).toLong
        seen ++= grams
        val (n, nv, bp) = got(id)
        assert(n == grams.size && nv == novel && bp == novel * 10000 / grams.size,
          s"doc $id: got ($n,$nv,$bp) want (${grams.size},$novel)")
      } else assert(!got.contains(id))
    }
    val firstId = docs.head._1
    assert(got(firstId)._3 == 10000L, "earliest doc must be 100% novel")
  }

  test("l-diversity: brute-force referee agrees; weak groups bounded by k-anonymity") {
    val got = SparkEntry.queries("meta_l_diversity")(spark, sf)
      .collect().map(r => r.getAs[Number](0).longValue ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = util.t(spark, sf, "customer")
      .select(col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .collect().map(r => (r.getAs[Number](0).longValue,
        math.round(r.getDouble(1) * 100) / 100000, r.getString(2)))
    val byGroup = rows.groupBy(t => (t._1, t._2))
    val perNat = byGroup.toSeq.map { case ((nat, _), g) =>
      (nat, g.length.toLong, g.map(_._3).distinct.length.toLong)
    }.groupBy(_._1)
    perNat.foreach { case (nat, gs) =>
      val (nGroups, minL, weak, exposed, nRec) = got(nat)
      assert(nGroups == gs.length && minL == gs.map(_._3).min &&
        weak == gs.count(_._3 < 3) &&
        exposed == gs.filter(_._3 < 3).map(_._2).sum &&
        nRec == gs.map(_._2).sum, s"nation $nat mismatch")
    }
    assert(got.keySet == perNat.keySet)
  }

  test("temperature mix: targets follow sqrt allocation within budget; " +
      "membership is bottom-target by Knuth priority") {
    val sel = SparkEntry.queries("sample_temperature_mix")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byLang = sel.groupBy(_._1)
    // per stratum: selected count == target, and target = min(n, floor share)
    val counts = util.t(spark, sf, "documents").groupBy(col("lang"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = counts.values.map(n => math.sqrt(n.toDouble).floor.toLong).sum
    var budgetUsed = 0L
    byLang.foreach { case (lang, rows) =>
      val n = counts(lang)
      val target = math.min(n, 200 * math.sqrt(n.toDouble).floor.toLong / tot)
      assert(rows.length == target, s"$lang: ${rows.length} != $target")
      assert(rows.forall(_._4 == n) && rows.forall(_._5 == target))
      budgetUsed += target
      // membership: exactly the target docs with smallest priority
      val all = util.t(spark, sf, "documents").filter(col("lang") === lang)
        .select(col("doc_id")).collect().map(_.getLong(0))
      val want = all.sortBy(id => ((id * 2654435761L) % 4294967296L, id))
        .take(target.toInt).toSet
      assert(rows.map(_._3).toSet == want, s"$lang membership mismatch")
    }
    assert(budgetUsed <= 200, "floor allocation must never exceed the budget")
  }

  test("join strategy matrix: each hint selects its physical join; answers equal") {
    // toString of the (possibly AQE-wrapped) executed plan carries the
    // chosen physical join — same matching discipline as the q44 spec
    def plan(hint: String) =
      operators.Analytics.q111Joined(spark, sf, hint)
        .queryExecution.executedPlan.toString
    assert(plan("broadcast").contains("BroadcastHashJoin"), plan("broadcast"))
    assert(plan("merge").contains("SortMergeJoin"), plan("merge"))
    assert(plan("shuffle_hash").contains("ShuffledHashJoin"), plan("shuffle_hash"))
    val out = SparkEntry.queries("q111_join_strategies")(spark, sf).collect()
    val bySt = out.groupBy(_.getString(3))
      .view.mapValues(_.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq).toMap
    assert(bySt.keySet == Set("broadcast", "merge", "shuffle_hash"))
    assert(bySt("broadcast") == bySt("merge") && bySt("merge") == bySt("shuffle_hash"),
      "hints must never change answers")
  }

  test("compacted batch scan composes pushdown with the survivor set") {
    val df = spark.read.format("graft.sources.GraftRangeSource")
      .option("rows", "100000").option("slices", "8")
      .option("compactedKeys", "257").load()
      .filter(col("id") >= 40000).select(col("id"))
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("pushedFilters=1") && desc.contains("compacted=257"), desc)
    val got = df.collect().map(_.getLong(0)).sorted
    val want = sources.GraftRangeSource.survivors(100000L, 257).filter(_ >= 40000L)
    assert(got.sameElements(want))
  }

  test("skew audit: brute-force frequency referee agrees on orders.o_custkey; " +
      "invariants hold for every key") {
    val got = SparkEntry.queries("meta_skew_audit")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == Set("lineitem.l_orderkey", "lineitem.l_partkey",
      "orders.o_custkey", "events.user_id"))
    got.foreach { case (k, (n, ndv, maxF, top1, skew)) =>
      assert(ndv <= n && maxF >= 1 && maxF <= n, s"$k basic bounds")
      assert(top1 == maxF * 10000 / n && top1 <= 10000, s"$k top1_bp")
      // max >= avg, so max/avg >= 1 → the x100 ratio floors to >= 100
      assert(skew == maxF * ndv * 100 / n && skew >= 100, s"$k skew_x100")
    }
    val freqs = util.t(spark, sf, "orders").select(col("o_custkey")).collect()
      .map(_.getAs[Number](0).longValue).groupBy(identity).map(_._2.length.toLong)
    val (n, ndv, maxF, _, _) = got("orders.o_custkey")
    assert(n == freqs.sum && ndv == freqs.size && maxF == freqs.max)
  }

  test("NOT IN three-valued logic: one NULL empties the set; NOT EXISTS is the " +
      "null-safe twin of the clean NOT IN") {
    val got = SparkEntry.queries("q112_not_in_nulls")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("not_in_nullable") == (0L, 0L),
      "a NULL in the NOT IN subquery must select zero rows")
    assert(got("not_exists") == got("not_in_clean"),
      "null-free NOT IN must equal NOT EXISTS")
    // brute-force referee
    val urgent = util.t(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    val free = util.t(spark, sf, "customer").select(col("c_custkey")).collect()
      .map(_.getLong(0)).filterNot(urgent)
    assert(got("not_exists") == (free.length.toLong, free.sum))
  }

  test("relational division: per-segment full-coverage customers match the " +
      "brute-force for-all referee") {
    val got = SparkEntry.queries("q113_division")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = util.t(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = orders.map(_._2).toSet
    val covered = orders.groupBy(_._1).collect {
      case (ck, rows) if rows.map(_._2).toSet == all => ck
    }.toSet
    val bySeg = util.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(t => covered(t._1)).groupBy(_._2)
    assert(got.keySet == bySeg.keySet)
    bySeg.foreach { case (seg, cs) =>
      assert(got(seg) == (cs.length.toLong, cs.map(_._1).sum), s"segment $seg")
    }
  }

  test("walk-forward CV: expanding trains, fixed-width tests, no future " +
      "leakage; train(i+1) digest = train(i) xor test(i)") {
    val rows = SparkEntry.queries("sample_walk_forward")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val n = util.t(spark, sf, "events").count()
    (1L to 4L).foreach { i =>
      val (trN, _, trMax, trXor, trSum) = rows((i, "train"))
      val (teN, teMin, _, teXor, teSum) = rows((i, "test"))
      assert(trN == n * i / 8, s"fold $i train size")
      assert(teN == n * (i + 1) / 8 - n * i / 8, s"fold $i test size")
      assert(trMax <= teMin, s"fold $i leaks future days into train")
      if (i < 4) {
        val (nextN, _, _, nextXor, nextSum) = rows((i + 1, "train"))
        assert(nextN == trN + teN && nextXor == (trXor ^ teXor) &&
          nextSum == trSum + teSum, s"fold ${i + 1} train != train+test of fold $i")
      }
    }
    // DistRank path: the ranking must not funnel through one partition
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = SparkEntry.queries("sample_walk_forward")(spark, sf)
      .queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    assert(bad.isEmpty, "walk-forward must use DistRank, not a global window")
  }

  test("degree histogram: buckets are exact binary lengths; in-JVM degree " +
      "referee agrees") {
    val got = SparkEntry.queries("graph_degree_histogram")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    got.foreach { case ((side, b), (n, mn, mx, sm)) =>
      assert(mn >= (1L << (b - 1).toInt) && mx < (1L << b.toInt),
        s"($side,$b): [$mn,$mx] outside the bucket's binary-length range")
      assert(n >= 1 && sm >= mn * n && sm <= mx * n)
    }
    // referee: recompute degrees from the raw tables
    val pairs = util.t(spark, sf, "orders")
      .join(util.t(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long"), (col("l_suppkey") * 2 + 1).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = (pairs.map(_._1) ++ pairs.map(_._2)).groupBy(identity)
      .map { case (node, xs) => node -> xs.length.toLong }
    val want = deg.groupBy { case (node, d) =>
      (if (node % 2 == 0) "customer" else "supplier", 64L - java.lang.Long.numberOfLeadingZeros(d))
    }.map { case (k, m) => k -> (m.size.toLong, m.values.min, m.values.max, m.values.sum) }
    assert(got == want)
  }

  test("partition balance: low-cardinality key strands partitions; " +
      "in-JVM hash referee agrees on o_custkey") {
    val got = SparkEntry.queries("meta_partition_balance")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    got.foreach { case (k, (used, total, mn, mx, imb)) =>
      assert(used >= 1 && used <= 32 && mn >= 1 && mx <= total, s"$k bounds")
      assert(imb == mx * 32 * 100 / total && imb >= 100, s"$k imbalance law")
    }
    // l_linenumber has ~7 distinct values → at most 7 of 32 partitions used
    assert(got("lineitem.l_linenumber")._1 <= 7,
      "a 7-value key cannot fill more than 7 partitions")
    assert(got("lineitem.l_linenumber")._5 > got("lineitem.l_orderkey")._5,
      "low-cardinality partitioning must look worse than the uniform key")
    def knuth32(k: Long): Long = ((k * 2654435761L) % 4294967296L) % 32
    val parts = util.t(spark, sf, "orders").select(col("o_custkey")).collect()
      .map(r => knuth32(r.getLong(0))).groupBy(identity).map(_._2.length.toLong)
    assert(got("orders.o_custkey") ==
      (parts.size.toLong, parts.sum, parts.min, parts.max,
        parts.max * 32 * 100 / parts.sum))
  }

  test("as-of directions: brute-force referee on a tricky frame (ties, " +
      "one-sided matches, nulls); matrix laws hold") {
    import spark.implicits._
    // key 1: backward+forward both exist, equidistant at t=20 (tie→backward)
    // key 2: only forward matches exist for t=5; only backward for t=99
    // key 3: no right rows at all; null key/ts rows must never match
    val left = Seq((1L, 10L), (1L, 20L), (1L, 25L), (2L, 5L), (2L, 99L), (3L, 7L))
      .toDF("k", "t")
      .unionByName(Seq((Option.empty[Long], Option(1L)),
        (Option(1L), Option.empty[Long])).toDF("k", "t"))
    val right = Seq((1L, 15L, "a"), (1L, 25L, "b"), (2L, 50L, "c"), (2L, 60L, "d"))
      .toDF("rk", "rt", "tag")
    def run(d: String) = plans.AsOf.join(left, right, "k", "rk", "t", "rt", d)
      .select(col("k"), col("t"), col("rt"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    val bwd = run("backward"); val fwd = run("forward"); val near = run("nearest")
    assert(bwd == Map((1L, 20L) -> (15L, "a"), (1L, 25L) -> (25L, "b"),
      (2L, 99L) -> (60L, "d")))
    assert(fwd == Map((1L, 10L) -> (15L, "a"), (1L, 20L) -> (25L, "b"),
      (1L, 25L) -> (25L, "b"), (2L, 5L) -> (50L, "c")))
    assert(near == Map((1L, 10L) -> (15L, "a"), (1L, 20L) -> (15L, "a"), // tie→backward
      (1L, 25L) -> (25L, "b"), (2L, 5L) -> (50L, "c"), (2L, 99L) -> (60L, "d")))
    intercept[IllegalArgumentException] {
      plans.AsOf.join(left, right, "k", "rk", "t", "rt", "sideways")
    }
    // matrix laws on the real entry: nearest matches exactly the union
    val got = SparkEntry.queries("q114_asof_directions")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // nearest matches exactly the clicks either one-sided variant matches
    assert(got("nearest") >= math.max(got("backward"), got("forward")))
    assert(got("nearest") <= got("backward") + got("forward"))
  }

  test("as-of tolerance: bucket laws hold and totals reconcile with the " +
      "direction matrix's backward row") {
    val rows = SparkEntry.queries("q115_asof_tolerance")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nClicks, nMatched, nWithin) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nWithin <= nMatched && nMatched <= nClicks)
      if (nWithin == 0) assert(r.getLong(4) == 0L) // no cents without matches
    }
    val backward = SparkEntry.queries("q114_asof_directions")(spark, sf)
      .filter(col("direction") === "backward").collect()(0).getLong(1)
    assert(rows.map(_.getLong(2)).sum == backward,
      "per-month matched must sum to the direction matrix's backward count")
  }

  test("hypothetical rank: counting identities equal a literal sort-based " +
      "referee per segment") {
    val got = SparkEntry.queries("q116_hypothetical_rank")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val v = 500000L
    val bySeg = customer.select(col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    for ((seg, cents) <- bySeg) {
      val (n, rankDesc, denseDesc, cumeBp, pctBp) = got(seg)
      assert(n == cents.size)
      // referee: insert v into the sorted multiset and read its rank off
      val above = cents.count(_ > v)
      assert(rankDesc == above + 1)
      assert(denseDesc == cents.filter(_ > v).distinct.size + 1)
      // hypothetical-insert semantics: v is its own peer (n+1 rows)
      assert(cumeBp == (cents.count(_ <= v) + 1) * 10000L / (n + 1))
      assert(pctBp == cents.count(_ < v) * 10000L / n)
    }
  }

  test("zipf stats: referee recount for one language; tail/head laws hold " +
      "for all") {
    val rows = SparkEntry.queries("text_zipf_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (tok, typ, hapax, dis) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(typ <= tok && hapax + dis <= typ)
      assert(r.getLong(5) == typ * 10000 / tok)   // ttr_bp
      assert(r.getLong(6) == hapax * 10000 / typ) // hapax_share_bp
    }
    val lang = rows.head.getString(0)
    val freq = util.t(spark, sf, "documents").filter(col("lang") === lang)
      .select(col("text")).collect().iterator
      .flatMap(_.getString(0).split(" ", -1))
      .foldLeft(Map.empty[String, Long]) { (m, w) => m.updated(w, m.getOrElse(w, 0L) + 1) }
    val r0 = rows.head
    assert(r0.getLong(1) == freq.values.sum && r0.getLong(2) == freq.size)
    assert(r0.getLong(3) == freq.values.count(_ == 1))
    assert(r0.getLong(7) == freq.values.max * 10000 / freq.values.sum)
  }

  test("ego sample: fan-out bounds, seed residue, and a full in-JVM " +
      "2-hop referee from the sampled adjacency") {
    val rows = SparkEntry.queries("graph_ego_sample")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(0) % 40 == 0, "seed residue")
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 3, "hop-1 fan-out")
      assert(r.getLong(4) <= 9, "hop-2 fan-out")
    }
    // referee: rebuild the <=3-per-node sampled adjacency in the JVM
    // from the raw tables and replay both hops for every seed
    val o = util.t(spark, sf, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = util.t(spark, sf, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("c"),
        (col("l_suppkey") * 2 + 1).cast("long").as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
    def pri(src: Long, dst: Long): Long =
      java.lang.Math.floorMod(java.lang.Math.floorMod(
        src * 7919L + dst, 2147483647L) * 2654435761L, 4294967296L)
    val sampled = edges.groupBy(_._1).map { case (src, es) =>
      src -> es.map(_._2).distinct.sortBy(d => (pri(src, d), d)).take(3).toSeq
    }
    val seeds = sampled.keys.filter(_ % 40 == 0)
    val want = seeds.map { seed =>
      val h1 = sampled(seed)
      val h2 = h1.flatMap(m => sampled.getOrElse(m, Seq.empty[Long]))
        .distinct.filterNot(x => x == seed || h1.contains(x))
      seed -> (h1.size.toLong, h1.fold(0L)(_ ^ _), h1.sum,
        h2.size.toLong, h2.fold(0L)(_ ^ _), h2.sum)
    }.toMap
    val gotMap = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(gotMap == want)
  }

  test("recall eval: intersection referee from the two underlying entries; " +
      "panel recall meets the IVF target") {
    val rows = SparkEntry.queries("sim_recall_eval")(spark, sf).collect()
    assert(rows.nonEmpty)
    def sets(name: String) = SparkEntry.queries(name)(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sets("sim_topk_bruteforce"); val approx = sets("sim_ivf_topk")
    for (r <- rows) {
      val q = r.getLong(0)
      assert(r.getLong(1) == exact.count(_._1 == q))
      assert(r.getLong(2) == (exact & approx).count(_._1 == q))
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1))
    }
    // same floor the sim_ivf_topk recall spec pins: >= 0.8 over the panel
    val mean = rows.map(_.getLong(3)).sum / rows.length
    assert(mean >= 8000, s"panel mean recall $mean bp < 8000")
  }

  test("data card: full per-source referee over the collected corpus") {
    val rows = SparkEntry.queries("pipeline_data_card")(spark, sf).collect()
    val docs = util.t(spark, sf, "documents")
      .select(col("source"), col("lang"), col("n_chars"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3).split(" ", -1).length.toLong))
    assert(rows.map(_.getString(0)).toSet == docs.map(_._1).toSet)
    for (r <- rows) {
      val d = docs.filter(_._1 == r.getString(0))
      assert(r.getLong(1) == d.length)
      assert(r.getLong(2) == d.map(_._2).distinct.length)
      assert(r.getLong(3) == d.map(_._4).sum)
      assert(r.getLong(4) == d.map(_._3).sum)
      assert(r.getLong(5) == d.count(_._3 < 200) * 10000L / d.length)
      val byLang = d.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
      val (topLang, topN) = byLang.sortBy { case (l, n) => (-n, l) }.head
      assert(r.getString(6) == topLang && r.getLong(7) == topN)
      assert(r.getLong(8) == topN * 10000L / d.length)
    }
  }

  test("systematic sample: exact stride over the priority permutation; " +
      "no partition-less WindowExec in the plan") {
    val df = SparkEntry.queries("sample_systematic")(spark, sf)
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"single-partition WindowExec: $bad")
    val rks = df.select(col("rk")).collect().map(_.getLong(0)).sorted
    val n = util.t(spark, sf, "orders").count()
    assert(rks.head == 7 && rks.forall(_ % 20 == 7))
    assert(rks.sliding(2).forall(p => p.length < 2 || p(1) - p(0) == 20),
      "stride must be exactly 20 — systematic, not Bernoulli")
    assert(rks.length == (n - 7) / 20 + 1) // ranks 7, 27, …, ≤ n
  }

  test("spearman: in-JVM referee on the exact classic formula") {
    val r = SparkEntry.queries("q117_spearman")(spark, sf).collect()(0)
    val bal = customer.select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("b")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val spend = util.t(spark, sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("s")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val keys = bal.keys.toSeq.sorted
    def ranks(v: Long => Long): Map[Long, Long] =
      keys.sortBy(k => (v(k), k)).zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
    val r1 = ranks(bal); val r2 = ranks(k => spend.getOrElse(k, 0L))
    val n = keys.length.toLong
    val sumD2 = keys.map(k => { val d = r1(k) - r2(k); d * d }).sum
    assert(r.getLong(0) == n && r.getLong(1) == sumD2)
    assert(r.getLong(2) == 10000 - (60000 * sumD2) / (n * (n * n - 1)))
    // synthetic balances and spend are independent: ρ ≈ 0, never strong
    assert(math.abs(r.getLong(2)) < 2000, s"|rho_bp|=${r.getLong(2)}")
  }

  test("silence trim: boundary laws and consistency with the VAD segments") {
    val trim = SparkEntry.queries("mm_silence_trim")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(trim.nonEmpty)
    for ((_, (n, fv, lv, kept, bp)) <- trim) {
      assert(kept <= n && kept >= 0)
      if (kept == 0) assert(fv == -1 && lv == -1)
      else { assert(0 <= fv && fv <= lv && lv < n); assert(kept == lv - fv + 1) }
      assert(bp == (n - kept) * 10000 / n)
    }
    // the trim region must cover every speech run the VAD found
    val segs = SparkEntry.queries("mm_audio_segments")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(trim.keySet == segs.keySet)
    for ((id, (nSegs, speechFrames)) <- segs) {
      val kept = trim(id)._4
      assert(kept >= speechFrames, s"doc $id trim window lost speech")
      assert((kept == 0) == (nSegs == 0))
    }
  }

  test("lsh tuning: banding containment laws hold and the production " +
      "config reconciles with dedup_minhash_lsh") {
    val rows = SparkEntry.queries("dedup_lsh_tuning")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("b16_r1", "b8_r2", "b4_r4"))
    // sharing an r-row band implies sharing every sub-band of a finer
    // config ⇒ candidate sets are nested: b4_r4 ⊆ b8_r2 ⊆ b16_r1
    assert(rows("b4_r4")._1 <= rows("b8_r2")._1)
    assert(rows("b8_r2")._1 <= rows("b16_r1")._1)
    assert(rows("b4_r4")._2 <= rows("b8_r2")._2)
    assert(rows("b8_r2")._2 <= rows("b16_r1")._2)
    for ((_, (c, v, p)) <- rows) {
      assert(v <= c)
      assert(p == v * 10000 / math.max(c, 1L))
    }
    // the 8×2 row IS the production banding: its verified count must
    // equal the pair relation dedup_minhash_lsh serves
    val prod = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count()
    assert(rows("b8_r2")._2 == prod)
  }

  test("sql variables: resolved variable equals the inlined literal; " +
      "re-SET takes effect") {
    val got = SparkEntry.queries("q118_sql_variables")(spark, sf)
    val want = spark.sql(
      """SELECT o_orderpriority, count(*) AS n_big,
        | cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) as bigint)
        |   AS n_open,
        | cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS cents
        |FROM orders_var WHERE o_totalprice > 150000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    assert(got.collect().toSeq == want.collect().toSeq)
    // the SET must have overridden the 100000 default: a lower floor
    // strictly widens the selection on this data
    spark.sql("SET VARIABLE price_floor = 100000.0")
    val wider = spark.sql(
      "SELECT count(*) FROM orders_var WHERE o_totalprice > price_floor")
      .collect()(0).getLong(0)
    val n150 = got.agg(sum(col("n_big"))).collect()(0).getLong(0)
    assert(wider > n150)
  }

  test("stream zscore: prequential protocol converges across arrival " +
      "splits and matches an in-JVM referee") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val prevP = spark.conf.getOption(pKey)
    spark.conf.set(pKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = util.t(spark, sf, "events")
        .select(col("event_type"), col("event_id").cast("long"),
          round(col("value") * 100).cast("long"))
        .collect()
        .map(r => operators.StreamingOps.ZIn(r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_.event_id)
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // 3-chunk arrival in id order — state must carry across batches
      val ms = MemoryStream[operators.StreamingOps.ZIn]
      val name = s"zsplit_${System.nanoTime}"
      val q = ms.toDS().groupByKey(_.event_type)
        .transformWithState(new operators.StreamingOps.ZscoreProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream.format("memory").queryName(name)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      rows.grouped(math.max(rows.length / 3, 1)).foreach { c =>
        ms.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      q.stop()
      val split = spark.table(name).select(col("event_id"), col("n_prior"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // referee: the same prequential fold, sequentially in the JVM
      val stats = scala.collection.mutable.Map.empty[String, (Long, BigInt, BigInt)]
      val want = rows.flatMap { r =>
        val (n, s1, s2) = stats.getOrElse(r.event_type, (0L, BigInt(0), BigInt(0)))
        val flag = n >= 30 &&
          (BigInt(r.cents) * n - s1).pow(2) * (n - 1) > 9 * n * (BigInt(n) * s2 - s1.pow(2))
        stats(r.event_type) = (n + 1, s1 + r.cents, s2 + BigInt(r.cents) * r.cents)
        if (flag) Some((r.event_id, n)) else None
      }.sorted
      assert(split.toSeq == want.toSeq)
      assert(want.nonEmpty, "fixture should contain at least one anomaly")
      // the entry (single-batch file read) must agree with the split run
      val entry = SparkEntry.queries("stream_zscore_anomaly")(spark, sf)
        .select(col("event_id"), col("n_prior"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(entry.toSeq == want.toSeq)
    } finally {
      prevP match { case Some(v) => spark.conf.set(pKey, v); case None => spark.conf.unset(pKey) }
    }
  }

  test("HITS: full in-JVM integer-recurrence referee; bipartite sides " +
      "and normalization hold") {
    val rows = SparkEntry.queries("graph_hits")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.count(_._1 == "hub") == 10 && rows.count(_._1 == "authority") == 10)
    for ((side, node, score) <- rows) {
      assert(score >= 0 && score <= 1000000)
      assert(if (side == "hub") node % 2 == 0 else node % 2 == 1,
        "hubs are customers (even), authorities suppliers (odd)")
    }
    assert(rows.filter(_._1 == "hub").map(_._3).max == 1000000)
    assert(rows.filter(_._1 == "authority").map(_._3).max == 1000000)
    // referee: the exact integer recurrence, sequential
    val pairs = util.t(spark, sf, "orders")
      .join(util.t(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long"), (col("l_suppkey") * 2 + 1).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val inn = pairs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var h = out.keys.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val ar = inn.map { case (s, cs) => s -> cs.map(h.getOrElse(_, 0L)).sum }
      val ma = math.max(ar.values.max, 1L)
      a = ar.map { case (k, v) => k -> v * 1000000L / ma }
      val hr = out.map { case (c, ss) => c -> ss.map(a.getOrElse(_, 0L)).sum }
      val mh = math.max(hr.values.max, 1L)
      h = hr.map { case (k, v) => k -> v * 1000000L / mh }
    }
    def top10(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (n, s) => (-s, n) }.take(10)
    assert(rows.filter(_._1 == "hub").map(r => (r._2, r._3)).toSeq == top10(h))
    assert(rows.filter(_._1 == "authority").map(r => (r._2, r._3)).toSeq == top10(a))
  }

  test("dedup-aware split: no near-dup pair straddles the boundary; " +
      "sides partition the corpus") {
    val rows = SparkEntry.queries("sample_dedup_split")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = util.t(spark, sf, "documents").count()
    assert(rows.values.sum == nDocs, "sides must partition the corpus")
    assert(rows.keySet == Set("train", "test"))
    // every exact-Jaccard pair must land on one side
    def side(k: Long): String =
      if (java.lang.Math.floorMod(java.lang.Math.floorMod(
        k * 2654435761L, 4294967296L), 10L) < 8) "train" else "test"
    val comp = spark.read
      .parquet(s"${operators.Dedup.dedupGraphRoot(spark, sf)}/components")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // id -> root
    val pairs = spark.read
      .parquet(s"${operators.Dedup.dedupGraphRoot(spark, sf)}/pairs_exact")
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    for ((a, b) <- pairs) {
      val sa = side(comp.getOrElse(a, a)); val sb = side(comp.getOrElse(b, b))
      assert(sa == sb, s"pair ($a,$b) straddles $sa/$sb")
    }
    // the naive doc-keyed split WOULD straddle at least one pair on
    // this fixture — i.e. the component key is doing real work
    assert(pairs.exists { case (a, b) => side(a) != side(b) },
      "fixture should demonstrate the leakage the component key prevents")
  }

  test("bloom FPP audit: monotone in bits, never false-negative " +
      "(synthetic membership check)") {
    val rows = SparkEntry.queries("meta_bloom_fpp")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("m4k", "m40k", "m400k"))
    for ((_, (nb, nm, np, nfp, bp)) <- rows) {
      assert(np >= nm, "a bloom must never reject a true member")
      assert(nfp == np - nm || nfp <= np)
      assert(bp == nfp * 10000 / math.max(nb - nm, 1L))
    }
    assert(rows("m400k")._5 <= rows("m40k")._5 &&
      rows("m40k")._5 <= rows("m4k")._5, "FPR must not rise with more bits")
    // the fixture has no cross-set members, so prove no-false-negative
    // non-vacuously on a synthetic set through the same aggregate
    import org.apache.spark.sql.graftbridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import spark.implicits._
    val items = (1L to 400L).map(i => s"member_$i")
    val bits = items.toDF("norm")
      .agg(operators.Dedup.bloomAgg(xxhash64(col("norm")), 5000L, 4096L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mc = graftbridge.column(BloomFilterMightContain(
      Literal.create(bits, org.apache.spark.sql.types.BinaryType),
      graftbridge.expression(xxhash64(col("norm")))))
    val rejected = items.toDF("norm").filter(!mc).count()
    assert(rejected == 0, s"$rejected true members bloom-rejected")
  }

  test("runs test: sequential referee for one type; random fixture sits " +
      "near the null expectation") {
    val rows = SparkEntry.queries("meta_runs_test")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, na, nb, runs) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(na + nb == n && runs >= 1 && runs <= n)
      assert(r.getLong(5) == 1000 + 2000 * na * nb / math.max(na + nb, 1L))
      // synthetic values are i.i.d. ⇒ observed ≈ expected runs
      assert(r.getLong(6) > 8500 && r.getLong(6) < 11500,
        s"${r.getString(0)}: obs/exp ${r.getLong(6)} bp implausible for random data")
    }
    // referee: literal sequential run count for the first type
    val tpe = rows.head.getString(0)
    val seq = util.t(spark, sf, "events").filter(col("event_type") === tpe)
      .select(col("event_id"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val mu = seq.sum / seq.length
    val signs = seq.map(_ >= mu)
    val runs = 1 + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
    assert(rows.head.getLong(4) == runs)
    assert(rows.head.getLong(2) == signs.count(identity))
  }

  test("image tiles: quadrant referee decodes one image in the JVM; " +
      "tile partition covers every pixel") {
    val rows = SparkEntry.queries("mm_image_tiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) == 4, "2x2 grid")
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getLong(4) == r.getLong(3) - r.getLong(2))
      assert(r.getLong(2) >= 0 && r.getLong(3) <= 255000L)
    }
    // referee: decode the first image doc and recompute all 4 tiles
    val docId = rows.head.getLong(0)
    val doc = util.t(spark, sf, "documents")
      .filter(col("doc_id") === docId).select(col("text")).collect()(0).getString(0)
    val img = functions.Ppm.decode(functions.Ppm.encode(functions.Ppm.synth(doc)))
    val lumas = for (tr <- 0 to 1; tc <- 0 to 1) yield {
      val (x0, x1) = (tc * img.width / 2, if (tc == 0) img.width / 2 else img.width)
      val (y0, y1) = (tr * img.height / 2, if (tr == 0) img.height / 2 else img.height)
      val px = for (y <- y0 until y1; x <- x0 until x1) yield {
        val p = (y * img.width + x) * 3
        299L * (img.pixels(p) & 0xff) + 587L * (img.pixels(p + 1) & 0xff) +
          114L * (img.pixels(p + 2) & 0xff)
      }
      px.sum / px.length
    }
    // tiles partition the image exactly (no pixel lost or doubled)
    val area = (for (tr <- 0 to 1; tc <- 0 to 1) yield {
      val w = (if (tc == 0) img.width / 2 else img.width) - tc * img.width / 2
      val h = (if (tr == 0) img.height / 2 else img.height) - tr * img.height / 2
      w * h
    }).sum
    assert(area == img.width * img.height)
    assert(rows.head.getLong(2) == lumas.min && rows.head.getLong(3) == lumas.max)
  }

  test("assortativity: in-JVM Pearson referee over the edge degrees") {
    val r = SparkEntry.queries("graph_assortativity")(spark, sf).collect()(0)
    assert(r.getDouble(1) >= -1.0001 && r.getDouble(1) <= 1.0001)
    val pairs = util.t(spark, sf, "orders")
      .join(util.t(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long"), (col("l_suppkey") * 2 + 1).cast("long"))
      .distinct().collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.getLong(0) == pairs.length)
    val xd = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val yd = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = BigInt(pairs.length)
    var (sx, sy, sxx, syy, sxy) = (BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    for ((c, s) <- pairs) {
      val x = BigInt(xd(c)); val y = BigInt(yd(s))
      sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
    }
    val want = (n * sxy - sx * sy).toDouble /
      math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
    assert(math.abs(r.getDouble(1) - want) < 5e-4)
  }

  test("wasserstein: sequential referee over the merged order; plan " +
      "carries no partition-less WindowExec") {
    val df = SparkEntry.queries("meta_wasserstein")(spark, sf)
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"single-partition WindowExec: $bad")
    val r = df.collect()(0)
    val ev = util.t(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), round(col("value") * 100).cast("long"),
        col("event_type")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
      .sortBy(x => (x._2, x._1))
    val na = ev.count(_._3 == "click").toLong
    val nb = ev.count(_._3 == "purchase").toLong
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    var (ca, cb) = (0L, 0L); var tot = BigInt(0)
    for (i <- ev.indices) {
      if (ev(i)._3 == "click") ca += 1 else cb += 1
      if (i + 1 < ev.length)
        tot += BigInt(ev(i + 1)._2 - ev(i)._2) * (BigInt(ca) * nb - BigInt(cb) * na).abs
    }
    val want = tot.toDouble / (na.toDouble * nb.toDouble)
    assert(math.abs(r.getDouble(2) - want) < 1e-3, s"got ${r.getDouble(2)} want $want")
    assert(r.getDouble(2) > 0, "click and purchase distributions differ")
  }

  test("burstiness: JVM referee for the top term; VMR laws hold") {
    val rows = SparkEntry.queries("text_burstiness")(spark, sf).collect()
    assert(rows.length == 20)
    for (r <- rows) {
      assert(r.getLong(2) >= r.getLong(1), "tf >= df")
      assert(r.getLong(3) >= 0)
    }
    val tok = rows.head.getString(0)
    val perDoc = util.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(d => d.getString(1).split(" ", -1).count(_ == tok).toLong)
    val n = perDoc.length.toLong
    val sx = perDoc.sum; val sxx = perDoc.map(x => x * x).sum
    assert(rows.head.getLong(1) == perDoc.count(_ > 0))
    assert(rows.head.getLong(2) == sx)
    assert(rows.head.getLong(3) == (n * sxx - sx * sx) * 1000 / (n * sx))
  }

  test("skipping audit: clustered layout skips most files, scattered " +
      "skips none; every probe keeps at least one file") {
    val rows = SparkEntry.queries("meta_skipping_audit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 8)
    for ((layout, _, nf, mustRead, skip, bp) <- rows) {
      assert(nf == 8 && mustRead >= 1 && mustRead + skip == nf)
      assert(bp == skip * 10000 / nf)
      if (layout == "scattered")
        assert(skip == 0, "hash layout spans the full year in every file")
      else
        assert(bp >= 5000, s"clustered quarter should skip at least half, got $bp")
    }
  }

  test("anova: in-JVM referee on the exact moment formulation") {
    val r = SparkEntry.queries("q122_anova")(spark, sf).collect()(0)
    val xs = customer.select(col("c_mktsegment"),
        floor(col("c_acctbal")).cast("long")).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    val groups = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = groups.size.toLong; val n = xs.length.toLong
    val s = xs.map(_._2).sum; val ss = xs.map(x => x._2 * x._2).sum
    val sb = groups.values.map(g => { val sg = g.sum; sg * sg / g.length }).sum
    val want = ((sb - s * s / n).toDouble / (k - 1)) /
      ((ss - sb).toDouble / (n - k))
    assert(r.getLong(0) == k && r.getLong(1) == n)
    assert(math.abs(r.getDouble(2) - want) < 1e-3)
    // segments are drawn from one distribution: F should sit near 1,
    // far below any rejection threshold
    assert(r.getDouble(2) > 0 && r.getDouble(2) < 3)
  }

  test("recall curve: monotone truth counts, candidate containment, and " +
      "the design-point recall floor") {
    val rows = SparkEntry.queries("dedup_recall_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(5000L, 6000L, 7000L, 8000L, 9000L))
    for ((_, truth, found, bp) <- rows) {
      assert(found <= truth)
      assert(bp == found * 10000 / math.max(truth, 1L))
    }
    // truth shrinks (or holds) as tau rises
    assert(rows.map(_._2).sliding(2).forall(p => p.length < 2 || p(1) <= p(0)))
    // at the banding's design point the recall spec is >= 0.8 — the
    // same floor the minhash spec pins (fixture reads 1.0: its
    // shingle-sharing pairs are all >= 0.9 similar, so the curve is
    // flat here; the thresholds below 0.8 exist for corpora with
    // mid-similarity mass)
    val at8000 = rows.find(_._1 == 8000L).get
    assert(at8000._4 >= 8000, s"recall at design point ${at8000._4}")
  }

  test("epoch shuffle: permutations differ across epochs and replay the " +
      "pure priority function") {
    val rows = SparkEntry.queries("pipeline_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byEpoch = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byEpoch.keySet == Set(1L, 2L, 3L) && byEpoch.values.forall(_.size == 5))
    // different epochs yield different leading permutations
    assert(byEpoch.values.toSeq.distinct.size == 3)
    // referee: recompute epoch 2's first five from the pure function
    val ids = util.t(spark, sf, "documents").select(col("doc_id"))
      .collect().map(_.getLong(0))
    def pri(id: Long, e: Long) =
      java.lang.Math.floorMod((id + e * 16777259L) * 2654435761L, 4294967296L)
    val want = ids.sortBy(id => (pri(id, 2L), id)).take(5).toSeq
    assert(byEpoch(2L) == want)
  }

  test("group OLS: in-JVM least-squares referee per return flag") {
    val rows = SparkEntry.queries("q124_group_ols")(spark, sf).collect()
    assert(rows.nonEmpty)
    val li = util.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for (r <- rows) {
      val g = li.filter(_._1 == r.getString(0))
      val n = g.length.toLong
      val sx = g.map(_._2).sum; val sy = g.map(_._3).sum
      val sxy = g.map(x => x._2 * x._3).sum; val sxx = g.map(x => x._2 * x._2).sum
      val slope = (n.toDouble * sxy - sx.toDouble * sy) /
        (n.toDouble * sxx - sx.toDouble * sx)
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - slope) < 1e-3)
      assert(math.abs(r.getDouble(3) - (sy - slope * sx) / n) < 1e-1)
      // synthetic extendedprice is independent of quantity — the slope
      // is small noise, not the TPC-H qty×unit-price relation
      assert(math.abs(r.getDouble(2)) < 100000)
    }
  }

  test("holt forecast: sequential JVM referee reproduces the integer " +
      "recursion for every type") {
    val rows = SparkEntry.queries("q125_holt_forecast")(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = util.t(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    for (r <- rows) {
      val series = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      var l = 0L; var b = 0L
      for ((v, i) <- series.zipWithIndex) {
        val vm = v * 1000L
        if (i == 0) l = vm
        else if (i == 1) { b = vm - l; l = vm }
        else {
          val l1 = vm / 5L + 4L * (l + b) / 5L
          b = (l1 - l) / 10L + 9L * b / 10L
          l = l1
        }
      }
      assert(r.getLong(1) == series.length)
      assert(r.getLong(2) == l && r.getLong(3) == b,
        s"${r.getString(0)}: got (${r.getLong(2)},${r.getLong(3)}) want ($l,$b)")
      assert(r.getLong(4) == l + 7 * b)
    }
  }

  test("oov rate: JVM referee rebuilds the vocab and recounts one " +
      "language; coverage laws hold") {
    val rows = SparkEntry.queries("text_oov_rate")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) == r.getLong(2) * 10000 / r.getLong(1))
      assert(r.getLong(2) > 0, "16-token vocab must leave OOV mass on this corpus")
    }
    val docs = util.t(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(d => (d.getLong(0), d.getString(1), d.getString(2).split(" ", -1)))
    val vocab = docs.filter(_._1 % 10 != 0).flatMap(_._3)
      .groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(16).map(_._1).toSet
    val lang = rows.head.getString(0)
    val held = docs.filter(d => d._1 % 10 == 0 && d._2 == lang).flatMap(_._3)
    assert(rows.head.getLong(1) == held.length)
    assert(rows.head.getLong(2) == held.count(t => !vocab.contains(t)))
    assert(rows.head.getLong(3) == held.filterNot(vocab.contains).distinct.length)
  }

  test("cusum: sequential JVM referee; alarm count sanity-bounded") {
    val rows = SparkEntry.queries("q126_cusum")(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = util.t(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    for (r <- rows) {
      val series = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      val mu = series.sum / series.length
      var sp = 0L; var sn = 0L; var maxP = 0L; var maxN = 0L; var alarms = 0L
      val k = mu / 20; val h = mu / 2
      for (v <- series) {
        sp = math.max(0L, sp + v - mu - k); sn = math.max(0L, sn + mu - v - k)
        maxP = math.max(maxP, sp); maxN = math.max(maxN, sn)
        if (sp > h) { alarms += 1; sp = 0 }
        if (sn > h) { alarms += 1; sn = 0 }
      }
      assert(r.getLong(1) == series.length && r.getLong(2) == mu)
      assert(r.getLong(3) == maxP && r.getLong(4) == maxN)
      assert(r.getLong(5) == alarms)
      // the alarm RATE is scale-dependent (daily sums at sf0.001 are
      // noisy relative to μ, so h = μ/2 trips often; at sf0.01 the
      // same chart reads ≤1 alarm/type) — the referee equality above
      // is the correctness gate; here only sanity-bound the count
      assert(r.getLong(5) <= 2 * r.getLong(1))
    }
  }

  test("stream cusum: 4-batch arrival converges to the batch chart " +
      "column-for-column") {
    val streamed = SparkEntry.queries("stream_cusum_monitor")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = SparkEntry.queries("q126_cusum")(spark, sf)
      .select(col("event_type"), col("n_days"), col("max_s_pos"),
        col("max_s_neg"), col("n_alarms"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      "the online chart must converge to the batch chart exactly")
  }

  test("autocorrelation: in-JVM referee; |acf| <= 1 and no strong " +
      "seasonality in the i.i.d. fixture") {
    val rows = SparkEntry.queries("meta_autocorrelation")(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = util.t(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    for (r <- rows) {
      assert(math.abs(r.getDouble(2)) <= 1.0001 && math.abs(r.getDouble(3)) <= 1.0001)
      val s = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      val mu = s.sum / s.length
      val d = s.map(_ - mu)
      val ss = d.map(x => x * x).sum
      def acf(l: Int) =
        d.dropRight(l).zip(d.drop(l)).map { case (a, b) => a * b }.sum.toDouble / ss
      assert(math.abs(r.getDouble(2) - acf(1)) < 1e-3)
      assert(math.abs(r.getDouble(3) - acf(7)) < 1e-3)
      // i.i.d. daily sums: no strong weekly cycle
      assert(math.abs(r.getDouble(3)) < 0.7)
    }
  }

  test("lorenz deciles: curve laws (convex, ends at 10000) and no " +
      "partition-less WindowExec") {
    val df = SparkEntry.queries("q127_lorenz_deciles")(spark, sf)
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"single-partition WindowExec: $bad")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    assert(rows.last._4 == 10000, "cumulative share must end at 100%")
    // shares nondecreasing; deciles ordered by spend so marginal
    // decile revenue is nondecreasing too (convexity of Lorenz)
    assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(1) >= p(0)))
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p(1) >= p(0)))
    val n = customer.count()
    assert(rows.map(_._2).sum == n)
  }

  test("balanced classes: every class kept at exactly the minority count; " +
      "membership referee for one class") {
    val rows = SparkEntry.queries("sample_balanced_classes")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val minority = rows.map(_._2).min
    for ((_, orig, kept, _, _) <- rows) {
      assert(kept == math.min(orig, minority))
    }
    assert(rows.exists(_._2 > minority), "fixture should be imbalanced")
    // referee one class's exact membership
    val (label, _, _, xorWant, sumWant) = rows.head
    val ids = util.t(spark, sf, "embeddings")
      .filter(col("label") === label).select(col("vec_id"))
      .collect().map(_.getLong(0))
    def pri(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
    val kept = ids.sortBy(id => (pri(id), id)).take(minority.toInt)
    assert(kept.fold(0L)(_ ^ _) == xorWant && kept.sum == sumWant)
  }

  test("trend test: in-JVM pairwise referee; i.i.d. fixture shows no " +
      "strong monotone trend") {
    val rows = SparkEntry.queries("q128_trend_test")(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = util.t(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    for (r <- rows) {
      val s = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      val n = s.length
      var stat = 0L
      for (i <- 0 until n; j <- i + 1 until n)
        stat += java.lang.Long.signum(s(j) - s(i))
      val pairs = n.toLong * (n - 1) / 2
      assert(r.getLong(1) == n && r.getLong(2) == stat)
      // Java / truncates toward zero — the measured DuckDB // semantics
      assert(r.getLong(3) == stat * 10000 / pairs)
      assert(math.abs(r.getLong(3)) < 5000, "i.i.d. series: |tau| small")
    }
  }

  test("compression filter: deflate determinism, bucket accounting, and " +
      "the repetition-compresses-better law") {
    val rows = SparkEntry.queries("text_compression_filter")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(6))
      assert(r.getLong(5) <= r.getLong(4) + 64 * r.getLong(1), "deflate bound")
      assert(r.getLong(7) == r.getLong(5) * 10000 / r.getLong(4))
    }
    def deflate(s: String): Long = {
      val raw = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      var n = 0
      while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
      d.end(); n.toLong
    }
    // determinism: same input, same size, twice
    val sample = util.t(spark, sf, "documents").select(col("text"))
      .collect()(0).getString(0)
    assert(deflate(sample) == deflate(sample))
    // the signal the filter relies on: a degenerate repetition
    // deflates far below prose of the same length
    val rep = "spam " * 200
    val prose = sample.take(1000).padTo(1000, 'x')
    // 2×, not more: the fixture "prose" itself draws on a 31-token
    // vocabulary and compresses hard, so the gap is modest here
    assert(deflate(rep) * 2 < deflate(prose.mkString),
      "repetition must compress much better than prose")
  }

  test("audio clipping: decode referee for one clip; run/threshold laws") {
    val rows = SparkEntry.queries("mm_audio_clipping")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) == r.getLong(2) * 10000 / r.getLong(1))
      assert((r.getLong(5) == 1) == (r.getLong(4) > 900 || r.getLong(3) >= 4))
    }
    assert(rows.exists(_.getLong(5) == 1) && rows.exists(_.getLong(5) == 0),
      "thresholds should split the fixture population")
    // referee: re-decode the first clip and recount
    val docId = rows.head.getLong(0)
    val text = util.t(spark, sf, "documents")
      .filter(col("doc_id") === docId).select(col("text")).collect()(0).getString(0)
    val a = functions.Wav.decode(functions.Wav.encode(functions.Wav.synth(text)))
    var clipped = 0L; var run = 0L; var maxRun = 0L
    for (s <- a.samples) {
      if (s >= 30000 || s <= -30000) { clipped += 1; run += 1; maxRun = math.max(maxRun, run) }
      else run = 0
    }
    assert(rows.head.getLong(1) == a.samples.length)
    assert(rows.head.getLong(2) == clipped && rows.head.getLong(3) == maxRun)
  }

  test("source overlap: brute-force shingle-set referee on the top pair") {
    val rows = SparkEntry.queries("dedup_source_overlap")(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p.length < 2 || p(1) <= p(0)))
    val docs = util.t(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(d => (d.getString(1), d.getString(2).split(" ", -1)))
    def shingles(src: String): Set[String] = docs.filter(_._1 == src)
      .flatMap { case (_, ws) =>
        if (ws.length < 3) Seq.empty
        else ws.sliding(3).map(_.mkString(" ")).toSeq
      }.toSet
    val top = rows.head
    val (sa, sb) = (shingles(top.getString(0)), shingles(top.getString(1)))
    val inter = (sa & sb).size.toLong
    assert(top.getLong(2) == inter)
    assert(top.getLong(3) == inter * 10000 / (sa.size + sb.size - inter))
  }

  test("DistRank plans carry no partition-less WindowExec") {
    val sortCols = Seq(col("c_acctbal"), col("c_custkey"))
    import org.apache.spark.sql.execution.window.WindowExec
    for (df <- Seq(
      DistRank.withRowNumber(customer, sortCols, "rn"),
      DistRank.withNtile(customer, sortCols, 10, "b"),
      DistRank.withPrefix(customer, sortCols, col("c_acctbal"), "sum", "s"))) {
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"single-partition WindowExec: $bad")
    }
  }
}
