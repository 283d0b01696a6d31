package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` runs `chmod` for
  * every `setPermission` (each created file, its `.crc` and each new
  * directory with a mode) and `readlink` for every `getFileLinkStatus`
  * (FileContext's rename of each offset/commit-log entry), at ~5 ms a
  * process. Both become JDK calls here; bytes, `.crc` files and modes
  * are unchanged.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The same rwx bits as `chmod`; a sticky bit or a non-POSIX store
    * keeps the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }

  /** A path that is not a symlink has its plain status, which is what
    * the stock code returns once `readlink` finds no target. A symlink
    * goes to the stock code without its scheme: that code runs
    * `readlink` on `f.toString()`, which finds no target for a
    * qualified `file:/…` path and so reports a plain file.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    if (!Files.isSymbolicLink(file.toPath)) getFileStatus(f)
    else {
      val st = super.getFileLinkStatus(new Path(file.getPath))
      st.setPath(f)
      st
    }
  }
}

/** `fs.file.impl`: the checksummed FileSystem API (file sink,
  * `FileOutputCommitter`).
  */
class ForkFreeLocalFileSystem
  extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext API
  * (Spark's checkpoint offsets, commits and metadata), as Hadoop's
  * `LocalFs` over `RawLocalFs`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

private class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
    "file", false) {
  // RawLocalFs's overrides: no default port, local server defaults,
  // and names left to the OS to validate
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
