package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Structured Streaming checkpoint file manager (offset, commit and
  * metadata logs, state files) whose writes fork no processes on local
  * paths. [[graft.GraftSession]] installs it through
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Without Hadoop's native libraries, `RawLocalFileSystem` forks `chmod`
  * (on create) and `readlink` (FileContext rename) for every file, and
  * Spark's default manager pays both on each micro-batch's offset and
  * commit log entry. For `file:` paths this manager writes the temp file
  * with `java.nio` and moves it into place with one atomic rename, as
  * Spark's default manager does: the rename replaces the target when
  * `overwriteIfPossible`, and fails with `FileAlreadyExistsException` when
  * not and the target exists. Reads still go through Hadoop's checksummed
  * local file system, so checkpoints written earlier through Hadoop (with
  * `.crc` files) read back; a replaced target's stale `.crc` is dropped
  * first. Every other scheme gets exactly the manager Spark picks by
  * default, so HDFS/S3 checkpoint atomicity is unchanged.
  */
final class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val impl: CheckpointFileManager =
    if (path.getFileSystem(conf).getScheme == "file")
      new NioCheckpointFileManager.LocalFiles(path, conf)
    else NioCheckpointFileManager.sparkDefault(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object NioCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager Spark builds when no class is configured: FileContext
    * based, falling back to FileSystem based.
    */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val unset = new Configuration(conf)
    unset.unset(ConfKey)
    CheckpointFileManager.create(path, unset)
  }

  private final class LocalFiles(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    private def local(p: Path): JPath = Paths.get(fs.makeQualified(p).toUri)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val file = local(p)
      Files.createDirectories(file.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val target = local(dst)
      if (!overwriteIfPossible && Files.exists(target)) {
        Files.delete(local(src))
        throw new FileAlreadyExistsException(s"Failed to rename $src to $dst: destination exists")
      }
      Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
      Files.move(local(src), target, StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
