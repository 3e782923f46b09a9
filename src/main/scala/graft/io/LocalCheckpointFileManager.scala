package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint file manager for streaming checkpoints on the local file
  * system, set as [[LocalCheckpointFileManager.ConfKey]] by
  * [[graft.streaming.StreamingTaxi.configureStreamingSession]]. Spark
  * reads that setting on the driver and the executors, so it covers the
  * offset, commit and source logs, the query metadata file and the
  * RocksDB changelogs with their checksum files.
  *
  * Spark's default manager writes through Hadoop's `FileContext`.
  * Without the native libhadoop its local file system starts a `chmod`
  * process for every file and directory it creates, and a `readlink`
  * process for every path a rename resolves (four per rename, counting
  * the `.crc` sidecars), all on the commit path of every micro-batch.
  *
  * For a `file:` path this manager is Spark's
  * `FileSystemBasedCheckpointFileManager` over Hadoop's checksummed
  * `LocalFileSystem`, whose raw layer sets permission bits in-process;
  * renames go through `FileSystem.rename`, which resolves no links.
  * What lands on disk is unchanged: a temp file published by rename,
  * `FileAlreadyExistsException` when the target exists and overwrite is
  * off, `.crc` sidecars, the same permission bits, and no added `fsync`.
  * Reads verify the `.crc` sidecars, which the default manager's
  * `FileContext.open` skips. Any other scheme gets Spark's default
  * manager. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val underlying: CheckpointFileManager =
    if (isFileScheme(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = localFs(hadoopConf)
      }
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(path, filter)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A `file:` path, or one without a scheme under a `file:` default
    * file system: Spark's default manager writes it through Hadoop's
    * checksummed local `FileContext`. */
  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def localFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new InProcessChmodFileSystem)
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Hadoop's raw local file system, except that without libhadoop it
    * sets permission bits with `Files.setPosixFilePermissions` instead
    * of starting `chmod`. A sticky bit, which that call cannot set,
    * still goes to `chmod`. */
  private final class InProcessChmodFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
