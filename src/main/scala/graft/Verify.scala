package graft
import java.nio.file.{Files, Paths}
import graft.Harness.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session(cpus, "verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for targeted oracle checks
    // of new entries (the driver runs unfiltered)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // sentinel: a targeted run leaves a mixed-staleness outDir
        // (untouched query outputs are from an older code state) —
        // make that state impossible to mistake for a full dump
        Files.writeString(Paths.get(s"$outDir/_FILTERED"),
          names.toSeq.sorted.mkString("\n") + "\n")
        System.err.println(
          s"[verify] SPARK_GRAFT_VERIFY_ONLY active (${names.size} queries) — " +
            s"$outDir is a PARTIAL dump; other outputs in it may be stale")
        SparkEntry.queries.filter(kv => names(kv._1))
      case None =>
        Files.deleteIfExists(Paths.get(s"$outDir/_FILTERED"))
        SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // intra-query caches (LSH indexes etc.) must not accumulate
      // memory pressure across ~100 queries
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
