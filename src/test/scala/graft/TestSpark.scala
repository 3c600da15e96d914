package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One session for the whole test JVM (suites share it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // driver testdata is parquet timestamp[us] with no UTC flag: read it as
      // session-zone (UTC) TimestampType, not NTZ — watermarks/unix_micros/as-of
      // require TimestampType and every oracle was defined on UTC wall-clock
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse_test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs that `body` starts on the calling thread, counted by job
    * group. The listener bus is asynchronous, so a sentinel job in a group
    * of its own is run after `body`; once the listener has seen it, every
    * earlier job start has been delivered too. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, sentinel) = (s"counted-${UUID.randomUUID}", s"sentinel-${UUID.randomUUID}")
    val started = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(f: => Unit): Unit = {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        try f finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.containsKey(sentinel) && System.nanoTime() < deadline) Thread.sleep(5)
      require(started.containsKey(sentinel), "the listener bus did not deliver the sentinel job in 30 s")
      Option(started.get(group)).fold(0)(_.get)
    } finally sc.removeSparkListener(listener)
  }
}
