package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its child processes. Without
  * Hadoop's native library the stock class runs `chmod` on every file it
  * creates (`LocalFSFileOutputStream`) and every directory it makes
  * (`mkOneDirWithMode`), and `readlink` on every `FileContext` rename
  * (`getFileLinkStatus`, which passes the `file:` URI string to `readlink`,
  * so the call always fails). Here the rwx bits are set through NIO, and
  * a path that is no symlink gets its `getFileStatus`, which is what the
  * stock class returns for it. A sticky, setuid or setgid mode and a real
  * symlink still take the stock path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // a bit past 0777
    else {
      // PosixFilePermission is declared OWNER_READ .. OTHERS_EXECUTE: bit 8 down to bit 0
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(b => if ((mode & (1 << (8 - b.ordinal))) != 0) bits.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[ForkFreeRawLocalFileSystem]] (the `FileSystem` route). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` route, which
  * Spark's streaming checkpoint manager takes; Hadoop's `LocalFs` over
  * `RawLocalFs`, with [[ForkFreeRawLocalFileSystem]] as the delegate. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
