package graft.streaming

import java.nio.file.{Files, Path => NioPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming replays' checkpoint file manager (named by
  * `spark.sql.streaming.checkpointFileManagerClass` in
  * [[EventStreams.startReplay]]). Every offset, commit, metadata and
  * state-store file of a query goes through it.
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, writes a
  * local file through Hadoop's checksummed `FileContext`: without
  * libhadoop, its permission and link lookups fork shell commands, about
  * 28 ms per small file on a 4-vCPU host. For `file:` paths this manager
  * does the same publish with java.nio, at well under a millisecond:
  *  - a write goes to a hidden sibling `.<name>.<uuid>.tmp`;
  *  - `close()` publishes it by `rename(2)` (`ATOMIC_MOVE`) when
  *    `overwriteIfPossible` is set, else by `link(2)`, which fails on an
  *    existing target: Hadoop's `FileAlreadyExistsException`, the old
  *    bytes kept (the guard a metadata log relies on to catch two
  *    queries writing one checkpoint);
  *  - `cancel()` deletes the temp file, so neither the target nor the
  *    temp file is left.
  * Reads, lists and deletes go through `RawLocalFileSystem`. A `.crc`
  * sibling that Spark's manager left (a checkpoint begun under it) is
  * hidden from lists and dropped when its file is replaced or deleted,
  * so the checkpoint stays readable by both managers.
  *
  * Every other scheme goes to Spark's own manager, chosen as
  * `CheckpointFileManager.create` chooses it (calling `create` here
  * would read this class's name again and recurse), so HDFS and object
  * store checkpoints are unchanged. */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFiles._

  /** The manager every call goes to. */
  private[graft] val files: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NioFiles(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf) }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = files.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  override def mkdirs(p: Path): Unit = files.mkdirs(p)
  override def exists(p: Path): Boolean = files.exists(p)
  override def delete(p: Path): Unit = files.delete(p)
  override def isLocal: Boolean = files.isLocal
  override def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFiles {

  /** The `file:` half of [[LocalCheckpointFiles]]. */
  private final class NioFiles(root: Path, hadoopConf: Configuration) extends CheckpointFileManager {
    private val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), hadoopConf)

    private def nio(p: Path): NioPath = raw.pathToFile(p).toPath

    /** Spark's checksum sibling of `f`, stale once `f` is replaced. */
    private def dropChecksum(f: NioPath): Unit =
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new Publish(tmp, target, overwriteIfPossible)
    }

    private final class Publish(tmp: NioPath, target: NioPath, overwrite: Boolean)
        extends CancellableFSDataOutputStream(new java.io.BufferedOutputStream(
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            underlyingStream.close()
            if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            else try Files.createLink(target, tmp) catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target exists: ${e.getMessage}")
            }
            dropChecksum(target)
          } finally Files.deleteIfExists(tmp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try underlyingStream.close() finally Files.deleteIfExists(tmp)
        }
      }
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p, (f: Path) => !ChecksumFileSystem.isChecksumFile(f) && filter.accept(f))
    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))
    override def exists(p: Path): Boolean = Files.exists(nio(p))
    override def delete(p: Path): Unit = {
      raw.delete(p, true)
      dropChecksum(nio(p))
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = raw.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }
}
