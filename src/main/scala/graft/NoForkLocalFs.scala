package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its two process forks.
  *
  * Without libhadoop (Spark's distribution ships none), `RawLocalFileSystem`
  * runs a `chmod` process for every `setPermission`, and that fires on each
  * directory level a `mkdirs` creates, on each file `create` and on each
  * `.crc` sidecar. Its `getFileLinkStatus` runs `readlink` first. Here
  * permissions are set with `Files.setPosixFilePermissions` (the same
  * `chmod(2)`, in process), and the link status of a path that is not a
  * symlink is its file status, which is what the superclass returns for it
  * once `readlink` finds no link.
  *
  * Everything the in-process calls would do differently goes to the
  * superclass: a sticky bit (which `Files.setPosixFilePermissions` cannot
  * set), a directory holding a set-user-ID or set-group-ID bit (GNU `chmod`
  * with a four-digit mode keeps those on directories, `chmod(2)` clears
  * them), a JVM file system without the `unix` attribute view, and a
  * symlink's link status. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!NoForkRawLocalFileSystem.UnixStore || permission.getStickyBit ||
        NoForkRawLocalFileSystem.keepsIdBits(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NoForkRawLocalFileSystem {
  private val UnixStore = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val SetIdBits = 0xc00 // set-user-ID and set-group-ID

  /** A directory whose set-ID bits `chmod` would keep. */
  private def keepsIdBits(file: java.nio.file.Path): Boolean = {
    val mode = try Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      catch { case _: IOException => 0 }
    (mode & S_IFMT) == S_IFDIR && (mode & SetIdBits) != 0
  }
}

/** The checksummed local file system (`fs.file.impl`) over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** The `FileContext` binding (`fs.AbstractFileSystem.file.impl`): Hadoop's
  * `LocalFs` over [[NoForkRawLocalFileSystem]]. Spark's streaming
  * checkpoint logs write through `FileContext`. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
