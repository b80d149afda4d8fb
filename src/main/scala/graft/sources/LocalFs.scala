package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local (`file` scheme) filesystem: Hadoop's, with two
  * syscalls issued in-process instead of through a child process.
  *
  * Without libhadoop's NativeIO, Hadoop's `RawLocalFileSystem` launches
  * `chmod` for every `setPermission` (each directory and file it creates,
  * `.crc` sidecars included) and `readlink` for every FileContext
  * link-status check (each streaming-checkpoint rename): 921 launches,
  * 2.7-3.7 ms apart, in one `ingest_commit` benchmark run, half of them
  * on the serial stream-execution threads; 7 with this class, all Spark's
  * own. [[Raw]] applies the same mode bits with NIO and answers the link
  * check from NIO; a sticky bit, a non-POSIX store or a real symlink
  * still take Hadoop's own path.
  *
  * [[Raw]] is wrapped twice, as Hadoop wraps its own: [[Checksummed]] for
  * the FileSystem API and [[Context]] for the FileContext API that Spark's
  * streaming checkpoint uses. Both keep `.crc` sidecars, permission bits
  * and rename semantics; [[graft.SessionDefaults]] installs them.
  */
object LocalFs {

  /** Hadoop's raw local FS with `setPermission` and the link check in-process. */
  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      // PosixFilePermission is declared owner rwx, group rwx, others rwx:
      // ordinal i is mode bit 8 - i
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
      else view.setPermissions(
        PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava)
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed FileSystem over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext
    * filesystem over [[Raw]], as Hadoop's `local.LocalFs` over `RawLocalFs`.
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    // as Hadoop's RawLocalFs: local defaults, and names left to the OS
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
