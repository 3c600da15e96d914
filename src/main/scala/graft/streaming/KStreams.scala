package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** Structured-Streaming twins of the reference topology
  * (KStreamsToKTable.java:66-107): a keyed record stream is upserted
  * into a latest-per-key table, filtered, and re-emitted — with the
  * materialized state queryable from outside the dataflow.
  *
  * Record shape mirrors the reference's (String,String) records plus
  * event time (KStreamsToKTable.java:46,60-61); the state layer is
  * `flatMapGroupsWithState` in update mode — Spark's state store plays
  * the reference's RocksDB store, the memory/parquet sink plays the
  * output topic, and `snapshot` plays the interactive query
  * (`store().all()`, KStreamsToKTable.java:204-211).
  *
  * Scale: state is partitioned by key hash across executors; per-key
  * state is O(1) (single latest record). A production deployment swaps
  * the file source for `format("kafka")` + the RocksDB state store
  * provider — one config line each, same topology code.
  *
  * Checkpoints: every query starts through [[Checkpoints.start]], so
  * offset, commit and source logs and state-store files on a local path
  * are written by [[LocalFirstCheckpointFileManager]] (Hadoop
  * `FileSystem`, a plain rename). Spark's default `FileContext` manager
  * forks `readlink` four times per rename when libhadoop is absent, as
  * it is in a plain Spark install, and those forks cost more than a
  * small micro-batch's own work. Checkpoints on HDFS or an object store
  * keep Spark's default manager, and a manager the user configured is
  * left alone, so the production swap above stays one config line each.
  */
object KStreams {

  /** A keyed record: the reference's (key, value) String pair + event time. */
  case class Record(key: String, value: String, ts: java.sql.Timestamp)

  /** KStream analog (append semantics). Wraps a streaming Dataset[Record]. */
  final case class KStreamDS(ds: Dataset[Record]) {
    def filter(cond: Column): KStreamDS =
      KStreamDS(ds.filter(cond))
    def mapValues(f: Column => Column): KStreamDS = {
      val spark = ds.sparkSession
      import spark.implicits._
      KStreamDS(ds.withColumn("value", f(col("value"))).as[Record])
    }
    /** stream.toTable — latest value per key, update-mode changelog. */
    def toTable: KTableDS = {
      val spark = ds.sparkSession
      import spark.implicits._
      val updated = ds.groupByKey(_.key)
        .flatMapGroupsWithState[Record, Record](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (key: String, rows: Iterator[Record], state: GroupState[Record]) =>
            // latest-by-(ts, then arrival) within the batch, vs stored state
            val candidate = (state.getOption.iterator ++ rows)
              .reduceLeft((a, b) => if (b.ts.compareTo(a.ts) >= 0) b else a)
            if (state.getOption.contains(candidate)) Iterator.empty
            else { state.update(candidate); Iterator.single(candidate) }
        }
      KTableDS(updated)
    }
    /** stream.toTable on the state-v2 API (`transformWithState`,
      * Spark 4): explicit `ValueState` + `StatefulProcessor` instead
      * of `flatMapGroupsWithState` — the modern surface for custom
      * state (TTL, multiple state variables, timers). Requires the
      * RocksDB state-store provider (the production store; HDFS-backed
      * does not support state v2). Semantics identical to [[toTable]]. */
    def toTableV2: KTableDS = {
      val spark = ds.sparkSession
      import spark.implicits._
      KTableDS(ds.groupByKey(_.key).transformWithState(
        new LatestRecordProcessor, TimeMode.None(), OutputMode.Update()))
    }

    /** stream.to(topic) — append sink (parquet stands in for Kafka).
      * A local `checkpoint` is written fork-free by
      * [[LocalFirstCheckpointFileManager]]; see [[Checkpoints.start]]. */
    def to(path: String, checkpoint: String): StreamingQuery =
      Checkpoints.start(ds.writeStream.format("parquet").option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()))
  }

  /** State-v2 processor: keeps the latest record per key in a
    * `ValueState`, emits only on change (the KTable changelog). */
  final class LatestRecordProcessor extends StatefulProcessor[String, Record, Record] {
    @transient private var latest: ValueState[Record] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Record]("latest", Encoders.product[Record], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Record],
        timerValues: TimerValues): Iterator[Record] = {
      val prev = Option(latest.get())
      val candidate = (prev.iterator ++ rows)
        .reduceLeft((a, b) => if (b.ts.compareTo(a.ts) >= 0) b else a)
      if (prev.contains(candidate)) Iterator.empty
      else { latest.update(candidate); Iterator.single(candidate) }
    }
  }

  /** KTable analog: update-mode stream of latest-per-key changes. */
  final case class KTableDS(ds: Dataset[Record]) {
    /** KTable.filter — materialized-view filter with Kafka-Streams
      * tombstone semantics: an update that fails the predicate becomes
      * a null-value tombstone (the delete marker a compacted changelog
      * topic would carry), so a key whose state LEAVES the filtered
      * view is retracted on the read side (`snapshot` drops keys whose
      * latest update is a tombstone). */
    def filter(cond: Column): KTableDS = {
      val spark = ds.sparkSession
      import spark.implicits._
      KTableDS(ds.withColumn("value",
        when(cond, col("value")).otherwise(lit(null))).as[Record])
    }
    def mapValues(f: Column => Column): KTableDS = {
      val spark = ds.sparkSession
      import spark.implicits._
      KTableDS(ds.withColumn("value", f(col("value"))).as[Record])
    }
    /** table.toStream — the changelog is already a stream. */
    def toStream: KStreamDS = KStreamDS(ds)
    /** Materialize to a named in-memory table (interactive-query read
      * side; the reference's watcher thread, KStreamsToKTable:152-167).
      * The query's temporary checkpoint, state store included, is
      * written by [[LocalFirstCheckpointFileManager]] (see
      * [[Checkpoints.start]]). Spark does not restart an update-mode
      * memory sink from a checkpoint, so a table that must survive a
      * restart writes its changelog to a checkpointed sink instead. */
    def toMemory(name: String): StreamingQuery =
      Checkpoints.start(ds.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update))
  }

  /** Current table state from an update-mode memory sink: the sink
    * holds every emitted update; latest-per-key of the updates IS the
    * state-store content (upserts are monotone per key). Keys whose
    * latest update is a null-value tombstone are deleted.
    *
    * PRODUCTION NOTE — bounded memory: the memory sink retains the
    * FULL update history, so on a long-lived query this grows without
    * bound. It is the right device for tests and short interactive
    * sessions only. A production interactive-query read side keeps
    * state bounded by maintaining the latest-per-key table itself:
    * `writeStream.foreachBatch { (b, _) => b.groupBy("key").agg(
    * max_by(struct(value, ts), ts)) merged into a keyed parquet/Delta
    * table (or an upserted temp view) }` — per-batch size is the
    * changelog delta, and the materialized table holds exactly one row
    * per key. The streaming incremental-dedup operator
    * (graft.operators.StreamingOps) demonstrates the same
    * state-stays-bounded discipline with transformWithState. */
  def snapshot(spark: SparkSession, name: String): DataFrame =
    spark.table(name)
      .groupBy(col("key"))
      .agg(max_by(struct(col("value"), col("ts")), col("ts")).as("r"))
      .filter(col("r.value").isNotNull)
      .select(col("key"), col("r.value").as("value"), col("r.ts").as("ts"))
}
