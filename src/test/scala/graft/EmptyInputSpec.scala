package graft

import org.scalatest.funsuite.AnyFunSuite

/** Zero-row input tier: registry entries that write a table and read
  * it back must treat an empty input as an empty table. A partitioned
  * write of zero rows leaves no part file, so a read that infers its
  * schema fails with UNABLE_TO_INFER_SCHEMA; [[util.writeParquet]]
  * reads back with the written schema instead.
  *
  * The fixture is a zero-row copy of every sf0.001 table, same
  * schemas, built once per source fingerprint in the cross-JVM
  * artifact cache (the Round16SkewSpec.skewDir layout), so the
  * registry functions read it unchanged. On it, every oracle below is
  * a GROUP BY over an empty `orders` and answers zero rows.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  lazy val emptyDir: String = {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted.toSeq
    val fp = tables.map(n => util.tableFingerprint(sf, n.stripSuffix(".parquet"))).mkString("-")
    util.artifactRoot(s"emptyfix-$fp-v1") { staged =>
      // the raw reader, not util.t, so each copy keeps the source's
      // parquet schema (events.ts included) and util.t converts it the
      // same way; limit(0) writes one empty part file with the schema
      for (tn <- tables)
        spark.read.parquet(s"$sf/$tn").limit(0).write.parquet(s"$staged/$tn")
    }
  }

  for (n <- Seq("q70_delete_vectors", "q77_dv_compaction", "q78_partition_evolution",
      "q80_dynamic_pruning", "src_overwrite_dynamic", "src_partitioned_pruning"))
    test(s"$n: zero-row tables give the oracle's empty answer") {
      assert(util.t(spark, emptyDir, "orders").isEmpty)
      val got = SparkEntry.queries(n)(spark, emptyDir)
      assert(got.collect().isEmpty, s"$n answered rows on an empty orders table")
      def shape(dir: String) =
        SparkEntry.queries(n)(spark, dir).schema.map(f => f.name -> f.dataType)
      assert(got.schema.map(f => f.name -> f.dataType) == shape(sf),
        s"$n changed its output columns on empty input")
    }
}
