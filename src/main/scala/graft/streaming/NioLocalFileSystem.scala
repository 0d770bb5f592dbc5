package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with permissions set through
  * `java.nio` (bound to `file:` by [[graft.GraftSession]] through
  * `fs.file.impl`).
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` starts a
  * `chmod` process, and every file the parquet sinks create is set
  * twice: the data file and its `.crc` sidecar. Everything else is
  * Hadoop's own code. Hadoop caches one instance per scheme, so a JVM
  * that opened a `file:` filesystem before the session keeps Hadoop's.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  // owner rwx, group rwx, others rwx: the order of FsPermission's bits
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (1 << (8 - i)) }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if (permission.getStickyBit) super.setPermission(p, permission) // not settable through nio
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava)
    }
  }
}
