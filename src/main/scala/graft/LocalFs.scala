package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without process forks. Without Hadoop's native
  * library, the stock `RawLocalFileSystem` runs `chmod` for every file,
  * checksum sidecar and directory level it creates, and `readlink` for
  * every `FileContext` rename (streaming checkpoints, state store). This
  * one does the same work through `java.nio`; behaviour is otherwise the
  * stock filesystem's. [[Tables.configure]] binds it for `file:`. */
object LocalFs {

  /** `setPermission` and `getFileLinkStatus` in the JVM. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if ((perm.toShort & ~0x1ff) != 0 ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, perm)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString))
    }

    /** A non-link's link status is its status: what the stock filesystem
      * returns when `readlink` reports no target. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: checksummed (`.crc` sidecars) over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl` (FileContext), checksummed over
    * [[Raw]]; what the stock `RawLocalFs` adds to its delegate. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(
      new DelegateToFileSystem(uri, new Raw, conf, "file", false) {
        override def getUriDefaultPort: Int = -1
        override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
        override def getServerDefaults(f: Path): FsServerDefaults = getServerDefaults
        override def isValidName(src: String): Boolean = true
      })
}
