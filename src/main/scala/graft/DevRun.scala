package graft
import graft.Harness.jsonString

/** Dev harness: run NAMED registry entries against one SF dir and dump
  * each result to parquet — the fast inner loop for checking a single
  * new operator against its DuckDB oracle without replaying the whole
  * Verify registry. Usage: runMain graft.DevRun <sfDir> <outDir> <name>...
  */
object DevRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session(cpus, "dev")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$n")
      println(f"[devrun] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // oracle_sql.json for the selected names, so tools/check.py works
    // on a DevRun dump exactly as on a full Verify dump
    val json = SparkEntry.oracleSql.view.filterKeys(names.contains)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
