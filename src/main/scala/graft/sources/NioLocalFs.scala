package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process launch per file.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` forks `chmod` from
  * `setPermission` (after every `create` and `mkdirs`), and with or
  * without it `readlink` from `getFileLinkStatus` (both sides of every
  * `FileContext` rename). Both are plain syscalls through `java.nio`.
  * Stock Hadoop still runs for a sticky-bit mode (no `PosixFilePermission`
  * spells it) and for a symlink. Hadoop applies the umask before
  * `setPermission`, so the mode bits are the same. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else {
      // from the mode bits: `FsCreateModes.toString` is not `rwxrwxrwx`
      val rwx = Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    }

  /** A missing path still throws `FileNotFoundException` from `getFileStatus`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` for `FileContext`
  * (a `ChecksumFs` over `RawLocalFs`), rebuilt over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `RawLocalFs` with its three overrides; its constructors are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
