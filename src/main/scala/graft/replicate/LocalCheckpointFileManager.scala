package graft.replicate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import java.io.{BufferedOutputStream, File}
import java.nio.channels.Channels
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}
import java.nio.file.attribute.PosixFilePermissions

/** Structured Streaming checkpoint file manager that commits local
  * checkpoint files without starting a process. Registered by
  * [[graft.GraftSession.create]] under
  * [[LocalCheckpointFileManager.ConfKey]], so every offset log, commit log
  * and file-sink `_spark_metadata` log of a replicate query goes through it.
  *
  * Why: without the native Hadoop library, `RawLocalFileSystem` forks
  * `chmod` for every file it creates (and for its `.crc` sidecar), and a
  * `FileContext` rename forks `readlink` four times. Spark's default
  * manager therefore starts about ten processes per checkpoint file —
  * twenty per micro-batch, on the stream thread, before the batch can be
  * acknowledged.
  *
  *  - Local `file:` paths: Spark's FileSystem-based manager, except that
  *    the temp file is written and renamed with java.nio (no `chmod`, no
  *    `.crc`). `createAtomic` keeps Spark's semantics: `cancel()` deletes
  *    the temp file, and `overwriteIfPossible = false` raises Hadoop's
  *    `FileAlreadyExistsException` when the target exists. Reads, listings
  *    and deletes stay on the local `FileSystem`, which verifies a `.crc`
  *    where one exists, so checkpoints written by Spark's default manager
  *    (with `.crc` sidecars) resume unchanged; replacing such a file
  *    deletes its now-stale `.crc`.
  *  - Every other scheme (HDFS, `s3a://`, ...): exactly the manager Spark
  *    picks without this class — FileContext-based, FileSystem-based when
  *    the scheme has no `AbstractFileSystem`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager every call is forwarded to. */
  private[replicate] val delegate: CheckpointFileManager =
    LocalCheckpointFileManager.pick(path, hadoopConf)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's (internal) setting naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private[replicate] def pick(path: Path, conf: Configuration): CheckpointFileManager = {
    // decide by scheme first: building a remote FileSystem just to learn
    // it is not local could cost a round trip
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val local = scheme == "file" && (path.getFileSystem(conf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem => true
      case _ => false
    })
    if (local) new NioTempFileManager(path, conf) else sparkDefault(path, conf)
  }

  /** The manager Spark's own factory builds when no class is configured
    * (FileContext-based, FileSystem-based when the scheme has no
    * `AbstractFileSystem`).
    */
  private[replicate] def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    CheckpointFileManager.create(path, plain)
  }

  /** Spark's FileSystem-based manager with java.nio temp-file writes and
    * renames. The temp file is created with the permission Hadoop would
    * `chmod` it to (`fs.permissions.umask-mode` applied to 0666), further
    * narrowed by the process umask. The rename is rename(2), not
    * `fs.rename`: with hive-exec on the classpath the `file:` scheme
    * resolves to Hive's `ProxyLocalFileSystem`, whose rename refuses an
    * existing target, and Spark's manager then leaves an
    * `overwriteIfPossible = true` target silently unreplaced.
    */
  private[replicate] final class NioTempFileManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private val permission = PosixFilePermissions.asFileAttribute(
      PosixFilePermissions.fromString(
        FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)).toString))
    private val options = java.util.Set.of(CREATE, TRUNCATE_EXISTING, WRITE)

    private def local(p: Path): JPath = new File(fs.makeQualified(p).toUri.getPath).toPath

    override def createTempFile(p: Path): FSDataOutputStream = {
      val file = local(p)
      // FileSystem.create makes missing parents; keep that (rare) case on
      // Hadoop's mkdirs so directory permissions stay Hadoop's
      if (!Files.isDirectory(file.getParent)) fs.mkdirs(p.getParent)
      val out = Channels.newOutputStream(Files.newByteChannel(file, options, permission))
      new FSDataOutputStream(new BufferedOutputStream(out), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val target = local(dst)
      if (!overwriteIfPossible && Files.exists(target))
        throw new FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
      Files.move(local(src), target, StandardCopyOption.ATOMIC_MOVE)
      fs match {
        case c: ChecksumFileSystem => Files.deleteIfExists(local(c.getChecksumFile(dst)))
        case _ =>
      }
    }
  }
}
