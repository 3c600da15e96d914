package graft

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.streaming.{Checkpoints, KStreams, LocalFirstCheckpointFileManager}
import graft.streaming.KStreams.Record
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming checkpoints: which manager writes them, what it forks, and
  * that a stateful topology restarts from them exactly once. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val key = Checkpoints.ManagerKey
  private val graftManager = classOf[LocalFirstCheckpointFileManager].getName

  private def rec(k: String, v: String, sec: Long) = Record(k, v, new Timestamp(1700000000000L + sec * 1000))

  /** Append one parquet file of records to `src`. */
  private def addFile(src: String, rows: Seq[Record]): Unit = {
    import spark.implicits._
    rows.toDS().coalesce(1).write.mode("append").parquet(src)
  }

  /** One micro-batch per file, in arrival order. */
  private def recordStream(src: String): KStreams.KStreamDS = {
    import spark.implicits._
    KStreams.KStreamDS(spark.readStream.schema("key string, value string, ts timestamp")
      .option("maxFilesPerTrigger", "1").parquet(src).as[Record])
  }

  /** Commands of the child processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft_forks", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { r.close(); Files.deleteIfExists(f) }
  }

  /** The session's manager setting for the duration of `body`, restored after. */
  private def withManager[T](value: Option[String])(body: => T): T = {
    val prior = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** 3-file topology: `toTable` → `toMemory` beside a `to` parquet sink. */
  private def smallTopology(tag: String): Unit = {
    val base = util.scratchDir(s"ckpt_forks_$tag")
    val src = s"$base/src"
    (0 until 3).foreach(f => addFile(src, (0 until 8).map(i => rec(s"k${i % 5}", s"v$f$i", f * 10L + i))))
    val stream = recordStream(src)
    val qs = Seq(stream.to(s"$base/sink", s"$base/ck_sink"), stream.toTable.toMemory(s"ckpt_forks_$tag"))
    qs.foreach(_.processAllAvailable()); qs.foreach(_.stop())
    assert(spark.read.parquet(s"$base/sink").count() == 24)
    assert(KStreams.snapshot(spark, s"ckpt_forks_$tag").count() == 5)
  }

  test("checkpoint writes of a KStreams topology fork no readlink; a user-set manager is left alone") {
    val ours = withManager(None) {
      val forks = processStarts(smallTopology("graft"))
      assert(spark.conf.get(key) == graftManager, "toMemory/to did not select the graft manager")
      forks
    }
    val ourReadlinks = ours.count(_.contains("readlink"))
    assert(ourReadlinks == 0, s"$ourReadlinks readlink forks, e.g. ${ours.find(_.contains("readlink"))}")
    // control: Spark's default manager, chosen by the user, is kept and
    // shows the readlink forks this recording can see
    val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
    val theirs = withManager(Some(sparkDefault)) {
      val forks = processStarts(smallTopology("default"))
      assert(spark.conf.get(key) == sparkDefault, "a user-set manager was overwritten")
      forks
    }
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(theirs.count(_.contains("readlink")) > 0,
        s"the control run recorded no readlink forks (${theirs.size} process starts)")
  }

  test("LocalFirstCheckpointFileManager: FileSystem for file paths, Spark's default elsewhere") {
    val conf = new Configuration()
    conf.set(key, graftManager)
    val dir = util.scratchDir("ckpt_manager")
    for (p <- Seq(s"file://$dir", dir)) {
      val m = new LocalFirstCheckpointFileManager(new Path(p), conf)
      assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], s"$p -> ${m.delegate}")
      assert(m.isLocal)
    }
    conf.set("fs.AbstractFileSystem.graftfs.impl", classOf[GraftTestFs].getName)
    val other = new LocalFirstCheckpointFileManager(new Path("graftfs:///ck"), conf)
    assert(other.delegate.isInstanceOf[FileContextBasedCheckpointFileManager], s"got ${other.delegate}")
    // the caller's conf is not edited
    assert(conf.get(key) == graftManager)
  }

  /** Latest-per-key table changes, one batch per file: what `toTable`
    * emits for each batch given the state the earlier batches left. */
  private def expectedChangelog(files: Seq[Seq[Record]]): Set[(Long, Record)] = {
    val latest = scala.collection.mutable.Map.empty[String, Record]
    files.zipWithIndex.flatMap { case (rows, batch) =>
      rows.groupBy(_.key).toSeq.flatMap { case (k, rs) =>
        val cand = (latest.get(k).iterator ++ rs).reduceLeft((a, b) => if (b.ts.compareTo(a.ts) >= 0) b else a)
        if (latest.get(k).contains(cand)) None else { latest(k) = cand; Some(batch.toLong -> cand) }
      }
    }.toSet
  }

  private def restartSpec(tornCommit: Boolean): Unit = {
    import spark.implicits._
    val base = util.scratchDir(if (tornCommit) "ckpt_restart_torn" else "ckpt_restart")
    val (src, sink, log) = (s"$base/src", s"$base/sink", s"$base/changelog")
    val (ckSink, ckTable) = (s"$base/ck_sink", s"$base/ck_table")
    val files = Seq(
      Seq(rec("a", "a1", 10), rec("b", "b1", 11), rec("c", "c1", 12)),
      Seq(rec("a", "a2", 20), rec("c", "c2", 21), rec("d", "d1", 22)),
      // "b0" and "a0" are late: older than the stored latest, so a table
      // that restored its state emits no change for them
      Seq(rec("b", "b0", 5), rec("a", "a0", 6), rec("e", "e1", 30)),
      Seq(rec("c", "c3", 40), rec("e", "e2", 41), rec("f", "f1", 42)))
    // the table's changelog is the restartable stand-in for a compacted
    // topic: one directory per batch id, overwritten when a batch replays
    def run(): Unit = {
      val stream = recordStream(src)
      val qTable = Checkpoints.start(stream.toTable.ds.writeStream
        .foreachBatch { (b: Dataset[Record], id: Long) =>
          b.write.mode("overwrite").parquet(s"$log/batch=$id") }
        .option("checkpointLocation", ckTable).outputMode(OutputMode.Update))
      val qSink = stream.to(sink, ckSink)
      Seq(qTable, qSink).foreach(_.processAllAvailable()); Seq(qTable, qSink).foreach(_.stop())
    }
    files.take(2).foreach(addFile(src, _))
    run()
    if (tornCommit) for (ck <- Seq(ckTable, ckSink)) {
      // the JVM died after batch 1's sink write, before its commit marker
      val torn = new java.io.File(s"$ck/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
      assert(torn.getName == "1", s"$ck: newest commit is ${torn.getName}")
      new java.io.File(torn.getParentFile, s".${torn.getName}.crc").delete()
      assert(torn.delete(), s"could not remove $torn")
    }
    files.drop(2).foreach(addFile(src, _))
    run()

    val changelog = spark.read.parquet(log)
    val got = changelog.select($"batch".cast("long"), $"key", $"value", $"ts").as[(Long, String, String, Timestamp)]
      .collect().map { case (b, k, v, t) => b -> Record(k, v, t) }
    assert(got.length == got.toSet.size, s"duplicate changelog rows: ${got.toSeq.sortBy(_._1)}")
    assert(got.toSet == expectedChangelog(files), "restarted table lost or replayed state")
    val view = if (tornCommit) "ckpt_restart_torn_log" else "ckpt_restart_log"
    changelog.createOrReplaceTempView(view)
    val snap = KStreams.snapshot(spark, view).as[Record].collect().toSet
    val want = files.flatten.groupBy(_.key).values.map(_.maxBy(_.ts.getTime)).toSet
    assert(snap == want)
    val out = spark.read.parquet(sink).as[Record].collect().toSeq
    assert(out.sortBy(r => (r.key, r.value)) == files.flatten.sortBy(r => (r.key, r.value)),
      "the parquet sink lost or duplicated events across the restart")
  }

  test("stateful restart: toTable state and the to sink resume from their checkpoints exactly once") {
    restartSpec(tornCommit = false)
  }

  test("stateful restart: a torn commit replays its batch without duplicating output") {
    restartSpec(tornCommit = true)
  }
}

/** A local filesystem under its own scheme, so `FileContext` accepts a
  * path that is not `file:` (no cluster needed). */
class GraftTestFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftfs", false)
