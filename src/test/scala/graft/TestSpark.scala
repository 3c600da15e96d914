package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One session for the whole test JVM (suites share it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Harness.session("4", "test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Root paths of every file scan in `df`'s physical plan, subqueries
    * included. A plan string abbreviates each scan's location to
    * `spark.sql.maxMetadataStringLength` characters, so a long temp
    * path can cut off the directory name a spec looks for. */
  def scannedRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

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
