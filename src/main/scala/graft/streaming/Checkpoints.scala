package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Checkpoint writes of every graft streaming query.
  *
  * Spark's default `FileContextBasedCheckpointFileManager` publishes each
  * offset, commit and source-log entry, each state-store `.delta` and each
  * state checksum file with `FileContext.rename`. Without libhadoop, Hadoop's
  * local `FileContext` resolves every path of that rename (source,
  * destination and both `.crc` sidecars) by forking `readlink`, so every
  * micro-batch of every query pays for dozens of child processes. On a
  * `file:` path this manager writes through Hadoop's `FileSystem` instead
  * (`FileSystemBasedCheckpointFileManager`), whose rename is a plain
  * `File.renameTo`: atomic on a local filesystem and fork-free. Any other
  * filesystem (HDFS, object stores) keeps the manager Spark itself would
  * pick, so their rename semantics do not change. Hadoop's `.crc` sidecars
  * and Spark's state checksum files are still written.
  */
final class LocalFirstCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, conf)
    else {
      // Spark's own default choice; unsetting the key keeps it from recursing here
      val c = new Configuration(conf)
      c.unset(Checkpoints.ManagerKey)
      CheckpointFileManager.create(path, c)
    }
  }
  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def list(p: Path) = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object Checkpoints {
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start a graft streaming query with local checkpoints written by
    * [[LocalFirstCheckpointFileManager]]. The manager is set on the active
    * session only when the user has not chosen one, so an explicit
    * `spark.sql.streaming.checkpointFileManagerClass` always wins. Every
    * graft query starts here, so the choice does not depend on which
    * query of a session runs first. */
  def start(writer: DataStreamWriter[_]): StreamingQuery = {
    val conf = SparkSession.active.conf
    if (conf.getOption(ManagerKey).isEmpty)
      conf.set(ManagerKey, classOf[LocalFirstCheckpointFileManager].getName)
    writer.start()
  }
}
