package graft

import graft.streaming.KStreams
import graft.streaming.KStreams.Record
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** MemoryStream-driven topology tests — the Spark analog of the
  * reference's (declared but unused) TopologyTestDriver
  * (reference build.gradle:33). Covers R1–R7 semantics: upsert wins
  * latest across batches, tombstone retraction on table filter,
  * update output mode, watermark late-data drop.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream.toTable: latest value per key wins across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    val q = KStreams.KStreamDS(ms.toDS()).toTable.toMemory("t_latest")
    ms.addData(Record("a", "v1", ts("2024-01-01 10:00:00")),
               Record("b", "v1", ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    val s1 = KStreams.snapshot(spark, "t_latest").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(s1 == Map("a" -> "v1", "b" -> "v1"))
    // upsert a, out-of-order stale update for b (older ts must lose)
    ms.addData(Record("a", "v2", ts("2024-01-01 11:00:00")),
               Record("b", "v0", ts("2024-01-01 09:00:00")))
    q.processAllAvailable(); q.stop()
    val s2 = KStreams.snapshot(spark, "t_latest").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(s2 == Map("a" -> "v2", "b" -> "v1"))
  }

  test("table.filter: tombstone retracts a key that leaves the view") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    val q = KStreams.KStreamDS(ms.toDS()).toTable
      .filter(col("key") === lower(col("value"))) // the reference's key==value filter (KStreamsToKTable.java:87-98)
      .toMemory("t_filtered")
    ms.addData(Record("x", "X", ts("2024-01-01 10:00:00")),
               Record("y", "nope", ts("2024-01-01 10:00:30")))
    q.processAllAvailable()
    val s1 = KStreams.snapshot(spark, "t_filtered").collect().map(_.getString(0)).toSet
    assert(s1 == Set("x"))
    // x's state changes to a non-matching value -> must disappear
    ms.addData(Record("x", "zzz", ts("2024-01-01 11:00:00")))
    q.processAllAvailable(); q.stop()
    val s2 = KStreams.snapshot(spark, "t_filtered").collect().map(_.getString(0)).toSet
    assert(s2 == Set.empty[String])
  }

  /** `snapshot` of memory table `name` (job-free), checked against the
    * distributed aggregate over a parquet copy of the same sink rows. The
    * copy carries no arrival order, so its winner of an equal-`ts` tie is
    * unspecified: on `tieKey` the memory path must return the later
    * arrival `later` and the copy one of `tied`. */
  private def checkSnapshot(name: String, tieKey: String, later: String, tied: Set[String]): Map[String, (String, Timestamp)] = {
    import spark.implicits._
    var driver = Map.empty[String, (String, Timestamp)]
    val jobs = TestSpark.jobsDuring {
      val snap = KStreams.snapshot(spark, name)
      driver = snap.as[(String, String, Timestamp)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }
    assert(jobs == 0, s"a memory-table snapshot ran $jobs Spark jobs")
    val copy = s"${util.scratchDir(s"snap_$name")}/sink"
    spark.table(name).write.parquet(copy)
    spark.read.parquet(copy).createOrReplaceTempView(s"${name}_copy")
    val distributed = KStreams.snapshot(spark, s"${name}_copy")
    assert(distributed.schema.map(f => f.name -> f.dataType) ==
      KStreams.snapshot(spark, name).schema.map(f => f.name -> f.dataType))
    val dist = distributed.as[(String, String, Timestamp)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(driver(tieKey)._1 == later, s"the equal-ts tie went to ${driver(tieKey)}")
    assert(tied.contains(dist(tieKey)._1))
    assert(driver - tieKey == dist - tieKey)
    driver
  }

  test("snapshot of a toMemory table runs no Spark job; a cross-batch equal-ts tie goes to the later arrival") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    val q = KStreams.KStreamDS(ms.toDS()).toTable.toMemory("t_snap_table")
    val t0 = ts("2024-01-01 10:00:00")
    ms.addData(Record("a", "a1", t0), Record("b", "b1", t0), Record("c", "c1", t0))
    q.processAllAvailable()
    // a: same ts in a later batch (toTable keeps the later arrival);
    // b: older, so no change; c: a tombstone; d: new
    ms.addData(Record("a", "a2", t0), Record("b", "b0", ts("2024-01-01 09:00:00")),
               Record("c", null, ts("2024-01-01 11:00:00")), Record("d", "d1", ts("2024-01-01 11:00:00")))
    q.processAllAvailable(); q.stop()
    val got = checkSnapshot("t_snap_table", "a", "a2", Set("a1", "a2"))
    assert(got == Map("a" -> ("a2", t0), "b" -> ("b1", t0), "d" -> ("d1", ts("2024-01-01 11:00:00"))))
  }

  test("snapshot of a format(memory) table runs no Spark job and keeps the latest row per key in sink order") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    // the raw records, as streamAvailableNowReplay writes its changelog
    val q = ms.toDS().writeStream.format("memory").queryName("t_snap_raw").outputMode("append").start()
    val (t0, t1) = (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"))
    ms.addData(Record("x", "x1", t0), Record("y", "y1", t0), Record("z", "z1", t1))
    q.processAllAvailable()
    ms.addData(Record("y", null, t1), Record("x", "x2", t0), Record("z", "z0", t0))
    q.processAllAvailable()
    ms.addData(Record("x", "x3", t0))
    q.processAllAvailable(); q.stop()
    val got = checkSnapshot("t_snap_raw", "x", "x3", Set("x1", "x2", "x3"))
    assert(got == Map("x" -> ("x3", t0), "z" -> ("z1", t1)))
  }

  test("table.mapValues + toStream compose on the changelog") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    val q = KStreams.KStreamDS(ms.toDS()).toTable
      .mapValues(v => upper(v))
      .toStream.ds
      .writeStream.format("memory").queryName("t_mapped")
      .outputMode("update").start()
    ms.addData(Record("k", "hello", ts("2024-01-01 10:00:00")))
    q.processAllAvailable(); q.stop()
    assert(spark.table("t_mapped").collect().head.getString(1) == "HELLO")
  }

  test("watermark drops late data beyond the threshold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    val q = ms.toDS()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("key"), col("n"))
      .writeStream.format("memory").queryName("t_win")
      .outputMode("update").start()
    ms.addData(Record("a", "v", ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    // advance event time far enough that the 10:00 window is final
    ms.addData(Record("a", "v", ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    // late arrival for the finalized 10:00 window: must be dropped
    ms.addData(Record("a", "v", ts("2024-01-01 10:20:00")))
    q.processAllAvailable(); q.stop()
    val tenOClock = spark.table("t_win")
      .filter(col("w") === ts("2024-01-01 10:00:00"))
      .agg(max("n")).collect().head.getLong(0)
    assert(tenOClock == 1, "late row leaked into a finalized window")
  }

  test("drainToMemory under withConfs stops its query and restores every conf, also when a batch, a feed or the body throws") {
    import operators.StreamingOps.{RocksDb, StateConfs, drainToMemory}
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val unsetKey = "spark.graft.test.scopedUnset"
    val confs = StateConfs :+ RocksDb :+ (unsetKey -> "on")
    def current = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val before = current
    assert(spark.conf.getOption("spark.sql.shuffle.partitions").contains("4")) // set by the session
    assert(spark.conf.getOption(unsetKey).isEmpty)
    val activeBefore = spark.streams.active.map(_.id).toSet
    def assertRestored(): Unit = {
      assert(spark.streams.active.map(_.id).toSet == activeBefore, "a drained query is still running")
      assert(current == before)
    }

    val doubled = util.withConfs(spark, confs) {
      assert(current == confs.map { case (k, v) => k -> Some(v) })
      val ms = MemoryStream[Int]
      drainToMemory(ms.toDS().map(_ * 2), "drain_ok", OutputMode.Append,
        Seq(() => ms.addData(1, 2), () => ms.addData(3)))
        .as[Int].collect().sorted.toSeq
    }
    assert(doubled == Seq(2, 4, 6))
    assertRestored()

    intercept[StreamingQueryException] {
      util.withConfs(spark, confs) {
        val ms = MemoryStream[Int]
        drainToMemory(ms.toDS().map(i => if (i == 3) throw new IllegalStateException("bad row") else i),
          "drain_fail", OutputMode.Append, Seq(() => ms.addData(1), () => ms.addData(3)))
      }
    }
    assertRestored()

    // a failed batch terminates its query; a throwing feed leaves it running
    intercept[IllegalStateException] {
      util.withConfs(spark, confs) {
        val ms = MemoryStream[Int]
        drainToMemory(ms.toDS(), "drain_feed", OutputMode.Append,
          Seq(() => ms.addData(1), () => throw new IllegalStateException("bad feed")))
      }
    }
    assertRestored()

    intercept[IllegalStateException] {
      util.withConfs(spark, confs)(throw new IllegalStateException("body"))
    }
    assertRestored()
  }
}
