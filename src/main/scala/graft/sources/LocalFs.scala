package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free `file:` `AbstractFileSystem` for `FileContext` users — the
  * streaming metadata logs and state stores (see
  * [[graft.streaming.StreamRun]], which installs it for a stream's run).
  *
  * Same layering and semantics as Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs`: a `ChecksumFs` (`.crc`
  * sidecars) over a `DelegateToFileSystem` over a
  * `RawLocalFileSystem`, so permissions, checksums and atomic rename
  * are unchanged. Without libhadoop the stock raw filesystem runs two
  * calls as child processes: every `setPermission` forks `chmod`, and
  * every `getFileLinkStatus` (two per rename) forks `readlink`. Here:
  *  - `setPermission` goes through `java.nio`; a sticky bit, which
  *    `java.nio` cannot set, still goes to Hadoop.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus` — what the stock call returns for it after the
  *    `readlink` comes back empty. A real symlink still goes to Hadoop.
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.Raw(uri, conf))

object LocalFs {

  /** Hadoop's `RawLocalFs` with [[NioLocalFileSystem]] underneath. */
  private class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new NioLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private class NioLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The nine rwx bits of `p` (`PosixFilePermission` is declared in
    * owner-read … others-execute order, bit 8 down to bit 0). */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort & 0x1ff
    PosixFilePermission.values.toSeq
      .filter(q => (bits & (1 << (8 - q.ordinal))) != 0).toSet.asJava
  }
}
