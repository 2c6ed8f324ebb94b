package graft

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its per-file child processes.
  *
  * Without the native `libhadoop`, stock [[RawLocalFileSystem]] runs
  * `chmod` on every file and directory it creates and `readlink` on every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends of
  * each rename. Every streaming checkpoint file (offset and commit logs,
  * state-store deltas, snapshots and checksum files, each with its `.crc`)
  * pays both on every micro-batch. [[LocalFs.Raw]] does the two steps in
  * process; everything else, `.crc` sidecars included, is the stock code.
  * [[Sessions]] binds `file:` to these classes for `FileSystem` and for
  * `FileContext`, the API of Spark's streaming checkpoint manager.
  */
object LocalFs {

  private val unixViews = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `RawLocalFileSystem` with in-process `setPermission` and `getFileLinkStatus`. */
  class Raw extends RawLocalFileSystem {

    /** The mode bits `chmod` would set. A sticky bit, a directory carrying
      * set-id bits (which `chmod` keeps under a four-digit mode) and a
      * platform without POSIX attributes still go to the stock shell call.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      def setIdDir =
        Files.isDirectory(file) && (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
      if (!unixViews || (mode & ~0x1ff) != 0 || setIdDir) super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(
          file,
          PosixFilePermission.values.filter(b => (mode >> (8 - b.ordinal) & 1) == 1).toSet.asJava)
    }

    /** Stock runs `readlink` on `new File(f.toString)` and, when that is no
      * link, returns `getFileStatus(f)`, which throws for a missing path.
      * The same test in process; real symlinks keep the stock path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: stock `local.LocalFs` (a `ChecksumFs`
    * over `local.RawLocalFs`) with [[Raw]] underneath. Hadoop constructs it
    * with `(URI, Configuration)`; like the stock class it ignores the URI.
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))

  /** Stock `local.RawLocalFs` over [[Raw]]; that class hard-wires its delegate. */
  private class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
