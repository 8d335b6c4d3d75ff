package graft.streaming

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager graft's stream sources install (see
  * `Events.readEventStream`). Without the native Hadoop library, Spark's
  * default manager starts a process for every checkpoint file on a local
  * path: FileContext's rename forks `readlink`, and Hadoop's create and
  * mkdirs fork `chmod`. Offset-log entries, commit markers and every
  * state-store delta each pay one. On Hadoop's local file system this
  * manager is [[LocalCheckpointFileManager]], which starts none; on every
  * other file system it is the manager `CheckpointFileManager.create`
  * would pick without this class configured. */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private val underlying = GraftCheckpointFileManager.resolve(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object GraftCheckpointFileManager {
  /** The session conf Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager that serves checkpoint path `path`. */
  def resolve(path: Path, hadoopConf: Configuration): CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        new LocalCheckpointFileManager(path, hadoopConf)
      case _ =>
        val conf = new Configuration(hadoopConf)
        conf.unset(ConfKey)
        CheckpointFileManager.create(path, conf)
    }
}

/** Spark's [[FileSystemBasedCheckpointFileManager]] with every call that
  * forks or misbehaves on a local path done through java.nio: temp files,
  * `mkdirs`, the checkpoint directory and the publishing rename. The
  * rename is one rename(2). It replaces an existing file when overwriting
  * is allowed, which the inherited one does not do on every local file
  * system: Hive's `ProxyLocalFileSystem`, which serves `file:` when
  * Hive's jars are on the classpath, refuses to rename onto a file, and
  * Spark's manager then keeps the old file without an error. A `.crc`
  * sidecar that another manager wrote for the replaced file is deleted
  * first, so the file stays readable. `exists`, `list`, `open` and
  * `delete` are inherited and start no process. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  private def file(p: Path): File = new File(fs.makeQualified(p).toUri.getPath)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = file(p)
    Files.createDirectories(f.getParentFile.toPath)
    new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f)), null)
  }

  /** Like Spark's managers, the no-overwrite check and the rename are two
    * steps, not one. */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val to = file(dst)
    if (!overwriteIfPossible && to.exists)
      throw new FileAlreadyExistsException(
        s"Failed to rename $src to $dst as destination already exists")
    Files.deleteIfExists(new File(to.getParentFile, s".${to.getName}.crc").toPath)
    Files.move(file(src).toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  override def mkdirs(p: Path): Unit = { Files.createDirectories(file(p).toPath); () }

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(path)
    mkdirs(qualified)
    qualified
  }
}
