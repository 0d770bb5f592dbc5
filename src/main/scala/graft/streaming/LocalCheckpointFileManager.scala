package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that commits `file:` paths without starting
  * a process (installed by [[graft.GraftSession]] through
  * `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Without libhadoop, Hadoop's local filesystem shells out to `chmod`
  * for every permission it sets and to `readlink` for every symlink
  * check, so Spark's default manager starts ~10 processes per metadata
  * log write: 30–40 per exactly-once micro-batch (offset WAL, file
  * source log, sink `_spark_metadata`, commit log). On `file:` paths
  * this manager writes the temp file and finalizes it through
  * `java.nio`: an atomic rename when overwriting is allowed, otherwise
  * a hard link (an atomic no-clobber) followed by removing the temp
  * file. Reads, listings, existence checks and deletes stay on the
  * Hadoop `FileSystem`, which starts no processes for them.
  *
  * Every other scheme goes to the manager Spark itself would create,
  * so HDFS and object-store commit semantics are unchanged.
  */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  private val impl: CheckpointFileManager =
    if (path.getFileSystem(conf).getScheme == "file")
      new LocalCheckpointFileManager.NioCommits(path, conf)
    else
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, conf)
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

  /** Spark's rename-based protocol (temp file, finalize on close,
    * delete on cancel) with the temp write, the finalize and `mkdirs`
    * done through `java.nio` instead of the checksummed local
    * `FileSystem`. Files written here get no `.crc` sidecar. */
  private final class NioCommits(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = nio(p)
      Files.createDirectories(f.getParent)
      // metadata logs write line by line; keep that off the syscall path
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (from, to) = (nio(src), nio(dst))
      // a sidecar left by a checksummed writer would fail every later
      // checksummed read of the new bytes
      val crc = to.resolveSibling(s".${to.getFileName}.crc")
      if (overwriteIfPossible) {
        Files.deleteIfExists(crc)
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(to, from)
        catch {
          // HDFSMetadataLog reads Hadoop's exception as "another query
          // owns this checkpoint". Spark's stream is terminated once
          // close() throws, so its cancel() would not remove `from`.
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(from)
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.deleteIfExists(crc)
        Files.delete(from)
      }
    }
  }
}
