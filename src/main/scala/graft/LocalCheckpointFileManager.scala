package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager `graft.Main` installs for Structured
  * Streaming's offset and commit logs (the per-trigger writes behind the
  * exactly-once contract of the Structured Streaming paper).
  *
  * Without the native Hadoop library, Spark's default manager on a `file:`
  * path (`FileContextBasedCheckpointFileManager`) starts a `chmod`
  * process for every file it creates (data and `.crc`) and a `readlink`
  * process several times per rename: ~20 process starts, tens of ms, per
  * micro-batch. For `file:` paths this manager runs Spark's own
  * `FileSystemBasedCheckpointFileManager` over a `LocalFileSystem` whose
  * permission calls are `java.nio` syscalls. The
  * protocol is unchanged: write a temp file, then rename it over the
  * target; `.crc` sidecars are written and verified on read; a no-clobber
  * publish onto an existing target throws `FileAlreadyExistsException`
  * (check-then-rename, as the default's `file:` rename is too) and, unlike
  * the default, deletes its temp file.
  *
  * Every other scheme (HDFS, S3, ...) gets exactly the manager Spark would
  * have built without this class. Enable with
  * {{{ spark.sql.streaming.checkpointFileManagerClass=graft.LocalCheckpointFileManager }}}
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val underlying: CheckpointFileManager =
    if (isFileScheme(path, hadoopConf)) new OverLocalFs(path, hadoopConf)
    else sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The session (and Hadoop) conf key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** What `CheckpointFileManager.create` builds when no class is named. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ConfKey)
    CheckpointFileManager.create(path, c)
  }

  /** Spark's `FileSystem` manager over a `LocalFileSystem` of its own,
    * built from this manager's Configuration (umask, checksum chunk size)
    * as the default manager's `FileContext` is. */
  private final class OverLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionRawLocalFs)
      local.initialize(URI.create("file:///"), conf)
      local
    }

    /** Unlike the default, a refused no-clobber publish removes its temp
      * file: `cancel()` after a failed `close()` does nothing. */
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      try super.renameTempFile(src, dst, overwriteIfPossible)
      catch { case e: FileAlreadyExistsException => delete(src); throw e }
  }

  /** `RawLocalFileSystem` sets the mode Hadoop computed (umask applied) by
    * running `chmod` when the native library is absent; this sets the same
    * mode with one syscall. A sticky bit, or a store with no POSIX view,
    * takes Hadoop's own path. */
  private final class NioPermissionRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (view == null || permission.getStickyBit) super.setPermission(p, permission)
      else view.setPermissions(PosixFilePermissions.fromString(permission.toString))
    }
  }
}
