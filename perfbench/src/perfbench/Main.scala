package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.Dedup
import graft.streaming.KStreams
import graft.streaming.KStreams.{KStreamDS, Record}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

/** One benchmark run in one JVM: start a local Spark session, warm the
  * JIT on inputs of its own, then time a fixed number of whole rounds of
  * the workload (`run.py` derives it from `--seconds` alone, never from
  * the clock), and write every sample, the
  * outputs the checks need and (traced) the per-layer metrics and spans
  * under the run directory. `run.py` stages the inputs, starts this
  * program and does the checks and the arithmetic.
  *
  * Usage: Main <run.properties>
  */
object Main {

  final class Conf(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
    val workload: String = apply("workload")
    val traced: Boolean = apply("trace") == "1"
    val rounds: Int = apply("rounds").toInt
    val cpus: Int = apply("cpus").toInt
    val run: String = apply("run")
    val inputs: String = s"$run/inputs"
    val out: String = s"$run/out"
  }

  /** Samples of one run; every list is in milliseconds unless named otherwise. */
  final class Samples {
    val roundMs = new ConcurrentLinkedQueue[Double]()
    val roundCpuMs = new ConcurrentLinkedQueue[Double]()
    val batchMs = new ConcurrentLinkedQueue[Double]()
    val queryMs = new ConcurrentLinkedQueue[Double]()
    var items = 0L
    var ops = 0L
    var failed = 0L
    val notes = scala.collection.mutable.LinkedHashMap[String, Any]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val conf = new Conf(props)
    refuseWarmCache()
    val spark = session(conf)
    val sessionMs = System.currentTimeMillis()
    val trace = if (conf.traced) Some(Trace.attach(spark)) else None
    val work: Workload = conf.workload match {
      case "topology" => new Topology(spark, conf)
      case "batch_mix" => new BatchMix(spark, conf)
      case w => sys.error(s"unknown workload $w")
    }
    work.warmup()
    val setupEndMs = System.currentTimeMillis()
    val s = new Samples
    trace.foreach(_.begin())
    val t0 = System.nanoTime()
    val rounds = conf.rounds
    for (i <- 0 until rounds) {
      val r0 = System.nanoTime()
      val c0 = cpuMs()
      Trace.span("round", i.toString)(work.round(i, s))
      s.roundMs.add(ms(r0))
      s.roundCpuMs.add(cpuMs() - c0)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.stop())
    work.finish(s)
    val layers = trace.map(_.metrics(spark, rounds)).getOrElse(Map.empty)
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    Json.write(s"${conf.run}/result.json", Map(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs,
      "setup_end_ms" -> setupEndMs,
      "timed_s" -> timedS,
      "rounds" -> rounds,
      "items" -> s.items,
      "attempted" -> s.ops,
      "failed" -> s.failed,
      "round_ms" -> s.roundMs.asScala.toSeq,
      "round_cpu_ms" -> s.roundCpuMs.asScala.toSeq,
      "batch_ms" -> s.batchMs.asScala.toSeq,
      "query_ms" -> s.queryMs.asScala.toSeq,
      "jvm_gc_ms" -> gcMs,
      "notes" -> s.notes.toMap,
      "progress" -> s.progress.asScala.toSeq.map(p => Json.Raw(p.json)),
      "layers" -> layers))
    trace.foreach(_.writeSpans(s"${conf.run}/spans.json"))
    spark.stop()
  }

  /** A run must time builds, not reads of artifacts another run left:
    * the program's cross-run cache lives under java.io.tmpdir, which
    * run.py points at an empty directory of the run's own. */
  private def refuseWarmCache(): Unit = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val warm = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_artifact_cache") &&
        Option(f.list()).exists(_.nonEmpty))
    require(warm.isEmpty, s"artifact cache not empty: ${warm.mkString(", ")}")
  }

  def session(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-${conf.workload}")
      .master(s"local[${conf.cpus}]")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${conf.run}/warehouse")
      .config("spark.local.dir", s"${conf.run}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${conf.run}/checkpoints")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bytes and published roots of the program's artifact cache. */
  def artifactCache(): (Int, Long) = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val bases = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_artifact_cache"))
    def bytes(f: File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
    val roots = bases.flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
      .count(r => new File(r, "_MANIFEST").isFile)
    (roots, bases.map(bytes).sum)
  }

  /** Roots the program published between two looks at its cache. */
  def noteBuilds(s: Samples, before: (Int, Long), after: (Int, Long)): Unit = {
    val builds = after._1 - before._1
    s.notes("artifact_builds") = builds
    s.notes("artifact_bytes_per_build") = if (builds > 0) (after._2 - before._2) / builds else 0L
  }

  def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)

  def deleteTree(path: String): Unit = graft.util.deleteRecursively(new File(path))

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** CPU time of every thread of this JVM so far, in milliseconds. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Progress entries of the data-carrying micro-batches of a query. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
}

/** One workload: the warm-up is its set-up, before the timed window;
  * `round` is one whole round of its operations. */
trait Workload {
  def warmup(): Unit
  def round(i: Int, s: Main.Samples): Unit
  def finish(s: Main.Samples): Unit
}

/** stream → latest-per-key table → filter → sinks, with a snapshot scan
  * of the table after each micro-batch. Every round replays the staged
  * backlog through a fresh topology, one file per trigger. */
final class Topology(spark: SparkSession, conf: Main.Conf) extends Workload {
  import Main._
  private val files = new File(s"${conf.inputs}/backlog").list().count(_.endsWith(".parquet"))
  private val stagedRows = conf("topology.rows").toLong
  private val schema = spark.read.parquet(s"${conf.inputs}/backlog").schema
  private var last: Option[(String, String, String)] = None
  private val inputRows = scala.collection.mutable.ArrayBuffer[Long]()

  private def records(dir: String) = {
    import spark.implicits._
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
      .select(col("user_id").cast("string").as("key"), col("event_type").as("value"), col("ts"))
      .as[Record]
  }

  /** One replay of `dir`; returns (sink path, table view, filtered view). */
  private def replay(dir: String, n: Int, tag: String, s: Option[Samples]): (String, String, String) = {
    val stream = KStreamDS(records(dir))
    val table = stream.toTable
    val filtered = table.filter(lower(col("value")) === "purchase")
    val sink = s"${conf.run}/topology/sink_$tag"
    val (tbl, flt) = (s"tbl_$tag", s"flt_$tag")
    val toSink = Trace.span("KStreamDS.to")(stream.to(sink, s"${conf.run}/checkpoints/sink_$tag"))
    val toTbl = Trace.span("KTableDS.toMemory")(table.toMemory(tbl))
    val toFlt = Trace.span("KTableDS.toMemory")(filtered.toMemory(flt))
    var seen = 0
    while (seen < n) {
      while (dataBatches(toTbl).size <= seen) {
        toTbl.exception.foreach(e => throw e)
        Thread.sleep(1)
      }
      val q0 = System.nanoTime()
      Trace.span("KStreams.snapshot")(KStreams.snapshot(spark, tbl).collect())
      s.foreach(_.queryMs.add(ms(q0)))
      seen += 1
    }
    toSink.awaitTermination()
    toTbl.processAllAvailable()
    toFlt.processAllAvailable()
    toTbl.stop(); toFlt.stop()
    s.foreach { s =>
      val batches = dataBatches(toTbl)
      batches.foreach(p => s.batchMs.add(p.batchDuration.toDouble))
      Seq(toSink, toTbl, toFlt).foreach(q => dataBatches(q).foreach(s.progress.add))
      inputRows ++= Seq(toSink, toTbl, toFlt).map(q => dataBatches(q).map(_.numInputRows).sum)
    }
    (sink, tbl, flt)
  }

  def warmup(): Unit = {
    val dir = s"${conf.inputs}/warm_backlog"
    val n = new File(dir).list().count(_.endsWith(".parquet"))
    val (sink, tbl, flt) = replay(dir, n, "warm", None)
    Seq(tbl, flt).foreach(spark.catalog.dropTempView)
    deleteTree(sink)
  }

  def round(i: Int, s: Samples): Unit = {
    last.foreach { case (sink, tbl, flt) =>
      Seq(tbl, flt).foreach(spark.catalog.dropTempView); deleteTree(sink) }
    last = Some(replay(s"${conf.inputs}/backlog", files, i.toString, Some(s)))
    s.items += stagedRows
    s.ops += files
  }

  def finish(s: Samples): Unit = {
    val (sink, tbl, flt) = last.get
    KStreams.snapshot(spark, tbl).write.parquet(s"${conf.out}/table")
    KStreams.snapshot(spark, flt).write.parquet(s"${conf.out}/filtered")
    s.notes("sink_path") = sink
    s.notes("sink_rows") = spark.table(tbl).count()
    s.notes("input_rows_per_query") = inputRows.toSeq
    s.notes("files") = files
  }
}

/** The training-corpus build from raw documents, cold every pass: each
  * pass reads its own staged copy of the table, so the program's
  * artifact cache (keyed by the table's fingerprint) has nothing for it. */
final class CorpusBuild(spark: SparkSession, conf: Main.Conf) {
  import Main._
  private val copies = new File(s"${conf.inputs}/copies").list().sorted
  val buildMs = new ConcurrentLinkedQueue[Double]()
  private var first: Option[(Seq[Row], StructType)] = None
  private var cacheBefore = (0, 0L)

  /** One pass over `dir`; returns (rows, schema, build ms). */
  def pass(dir: String): (Seq[Row], StructType, Double) = {
    val t0 = System.nanoTime()
    Trace.span("Dedup.dedupGraphRoot")(Dedup.dedupGraphRoot(spark, dir))
    val built = ms(t0)
    val df = Dedup.trainCorpus(spark, dir)
    val rows = Trace.span("Dedup.trainCorpus")(df.collect()).toSeq
    (rows, df.schema, built)
  }

  /** Cold passes over small tables of their own, so the JIT has seen the
    * whole build before the first timed pass. */
  def warmup(): Unit = {
    new File(s"${conf.inputs}/warm_copies").list().sorted
      .foreach(w => pass(s"${conf.inputs}/warm_copies/$w"))
    cacheBefore = artifactCache()
  }

  /** The timed pass of round `i`, on the i-th cold copy. */
  def round(i: Int, s: Samples): Unit = {
    require(i < copies.length, s"only ${copies.length} cold copies staged")
    val (rows, schema, built) = pass(s"${conf.inputs}/copies/${copies(i)}")
    buildMs.add(built)
    first match {
      case None => first = Some((rows, schema))
      case Some((r0, _)) => if (r0 != rows) s.failed += 1
    }
  }

  def finish(s: Samples): Unit = {
    val (rows, schema) = first.get
    writeRows(spark, rows, schema, s"${conf.out}/corpus")
    Files.writeString(Paths.get(s"${conf.out}/corpus.sql"), Dedup.trainCorpusSql)
    s.notes("build_ms") = buildMs
    noteBuilds(s, cacheBefore, artifactCache())
  }
}

/** A fixed list of batch registry entries, each run to its full result
  * (collected), plus one cold training-corpus build, once per round.
  * Entry latencies are the query samples; the corpus build is sampled
  * as its own member only. */
final class BatchMix(spark: SparkSession, conf: Main.Conf) extends Workload {
  import Main._
  private val entries: Seq[(String, String)] = conf("batch.entries").split(",").toSeq
    .map { e => val Array(fam, name) = e.split(":"); (fam, name) }
  private val fns = graft.SparkEntry.queries
  private val tables = s"${conf.inputs}/tables"
  private val corpus = new CorpusBuild(spark, conf)
  private val lastRows = scala.collection.mutable.Map[String, (Seq[Row], StructType)]()
  private val firstRows = scala.collection.mutable.Map[String, Seq[Row]]()
  /** Wall and CPU milliseconds of each member's runs, keyed by its family. */
  private val memberMs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
  private val memberCpuMs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

  private def sample(fam: String, t0: Long, c0: Double): Unit = {
    memberMs(fam) = memberMs.getOrElse(fam, Seq.empty) :+ ms(t0)
    memberCpuMs(fam) = memberCpuMs.getOrElse(fam, Seq.empty) :+ (cpuMs() - c0)
  }

  private def runAll(d: String, s: Option[Samples]): Unit =
    for ((fam, name) <- entries) {
      val (t0, c0) = (System.nanoTime(), cpuMs())
      val df = fns(name)(spark, d)
      val rows = Trace.span(s"entry:$name")(df.collect()).toSeq
      s.foreach { s =>
        s.queryMs.add(ms(t0))
        sample(fam, t0, c0)
        firstRows.get(name) match {
          case None => firstRows(name) = rows
          case Some(r0) => if (r0 != rows) s.failed += 1
        }
        lastRows(name) = (rows, df.schema)
      }
    }

  /** Non-amortized entries keep nothing between calls, except the trade
    * graph that every graph entry reads and the program builds once per
    * (orders, lineitem) fingerprint: warming up on the timed tables
    * builds it before timing, so every round times the same work, and
    * the graph member times a read of the cached trade graph plus its
    * own computation, not the trade-graph build. */
  def warmup(): Unit = { runAll(tables, None); corpus.warmup() }

  def round(i: Int, s: Samples): Unit = {
    val t0 = System.nanoTime()
    runAll(tables, Some(s))
    val (c0, cpu0) = (System.nanoTime(), cpuMs())
    corpus.round(i, s)
    sample("corpus", c0, cpu0)
    s.batchMs.add(ms(t0))
    s.items += entries.size + 1
    s.ops += entries.size + 1
  }

  def finish(s: Samples): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    for ((_, name) <- entries) {
      val (rows, schema) = lastRows(name)
      writeRows(spark, rows, schema, s"${conf.out}/batch/$name")
      Files.writeString(Paths.get(s"${conf.out}/batch/$name.sql"), oracles(name))
    }
    corpus.finish(s)
    s.notes("member_ms") = memberMs.toMap
    s.notes("member_cpu_ms") = memberCpuMs.toMap
  }
}
