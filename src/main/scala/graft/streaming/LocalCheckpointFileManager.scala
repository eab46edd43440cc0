package graft.streaming

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, StandardCopyOption, FileAlreadyExistsException => NioFileAlreadyExistsException, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint manager that writes `file:` checkpoints without
  * forking processes. [[graft.GraftSession]] registers it through
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Every micro-batch writes one offset-log file and one commit-log file.
  * Spark's default manager writes them through Hadoop's `FileContext`.
  * Without libhadoop, Hadoop's local filesystem forks `chmod` for each
  * created file and its `.crc`, and `readlink` for the rename: about 45 ms
  * per log write, on tmpfs as on disk.
  *
  * For `file:` paths (including scheme-less paths under a `file:` default
  * filesystem) this manager writes with java.nio: a temp file in the same
  * directory, then an atomic rename (`overwriteIfPossible`) or a no-clobber
  * hard link that fails with Hadoop's `FileAlreadyExistsException`, which
  * `HDFSMetadataLog` relies on to detect a concurrent writer. Reads and
  * listings go through `RawLocalFileSystem`, whose paths fork nothing. It
  * writes no `.crc` files; it hides and removes the ones a checksummed
  * writer left, so a checkpoint moves between this manager and Spark's
  * default in either direction.
  *
  * Every other scheme gets exactly Spark's default: the `FileContext`-based
  * manager, or the `FileSystem`-based one where `FileContext` does not
  * support the scheme.
  */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.Nio(path, conf)
    else
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch {
        case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
      }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
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

object LocalCheckpointFileManager {

  private final class Nio(root: Path, conf: Configuration) extends CheckpointFileManager {

    private val raw = {
      val fs = new RawLocalFileSystem
      fs.initialize(URI.create("file:///"), conf)
      fs
    }

    private def local(p: Path): NioPath = raw.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new TempFileOutput(temp, target, dst = p, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p, (q: Path) => !ChecksumFileSystem.isChecksumFile(q) && filter.accept(q))

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      raw.delete(p, true)
      Files.deleteIfExists(crc(local(p)))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val qualified = raw.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }

  /** The checksum sibling a `ChecksumFileSystem` keeps next to `file`. */
  private def crc(file: NioPath): NioPath = file.resolveSibling(s".${file.getFileName}.crc")

  /** Writes `temp`; `close` moves it to `target`, `cancel` removes it. */
  private final class TempFileOutput(temp: NioPath, target: NioPath, dst: Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(temp))) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          // a checksum left by a checksummed writer would fail the next
          // checksummed read of the new bytes
          Files.deleteIfExists(crc(target))
          if (overwrite)
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          else {
            try Files.createLink(target, temp)
            catch {
              case e: NioFileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists (${e.getMessage})")
            }
            Files.delete(temp)
          }
        } catch {
          case e: Throwable =>
            Files.deleteIfExists(temp)
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        try Files.deleteIfExists(temp) catch { case NonFatal(_) => () }
      }
    }
  }
}
