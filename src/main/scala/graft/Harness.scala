package graft

import org.apache.spark.sql.SparkSession

/** What the run harnesses share: `Verify`, `Bench`, `DevRun` and the
  * specs build the same session, and `Verify` and `DevRun` escape
  * oracle SQL into JSON the same way. */
object Harness {
  /** A `local[cpus]` session with `cpus` shuffle partitions and the confs
    * every graft run needs: the engine's extensions, UTC session time,
    * `nanosAsLong` for the TIMESTAMP(NANOS) `events.ts` (graft.util.t
    * converts it), no UI, and a warehouse dir of its own named by `tag`.
    * Driver testdata is parquet timestamp[us] with no UTC flag: it is
    * read as session-zone (UTC) TimestampType, not NTZ, because
    * watermarks, unix_micros and as-of joins require TimestampType and
    * every oracle was defined on UTC wall-clock. */
  def session(cpus: String, tag: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse_$tag")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** `s` as a JSON string literal. Backslash, quote and ALL control
    * chars (< 0x20) are escaped: a tab or CR in an oracle's SQL would
    * otherwise make the reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
