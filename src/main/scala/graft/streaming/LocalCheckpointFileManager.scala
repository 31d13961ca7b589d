package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint file manager that [[graft.GraftSession]]
  * installs (`spark.sql.streaming.checkpointFileManagerClass`).
  *
  * `file:` paths go to Spark's `FileSystemBasedCheckpointFileManager`:
  * its commit is `RawLocalFileSystem.rename`, a plain `rename(2)`,
  * which is atomic and replaces the target. Spark's default goes
  * through Hadoop's `FileContext`, whose local rename resolves links
  * by forking `readlink` several times per rename when libhadoop is
  * absent, tens of milliseconds per state-store commit.
  * Every other scheme keeps Spark's default choice, so HDFS keeps the
  * FileContext overwrite-rename its commits rely on.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val default = new Configuration(hadoopConf)
      default.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, default)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
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

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
