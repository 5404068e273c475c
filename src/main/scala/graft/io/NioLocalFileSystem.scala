package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** `RawLocalFileSystem` that sets permissions in-process. Without the
  * native Hadoop library, the stock `setPermission` forks `chmod` through
  * `Shell.execCommand`, and the stock filesystem calls it for every file it
  * creates (data files and `.crc` files alike) and every directory it
  * makes. Here the nine rwx bits go through
  * `Files.setPosixFilePermissions`, one syscall and no process. The stock
  * path still runs when the native library is loaded (it chmods in-process
  * already), when a mode carries a bit the rwx set cannot express (sticky),
  * and when the JVM's default filesystem has no POSIX attribute view.
  *
  * `getFileLinkStatus` (what `FileContext` asks of both paths of every
  * rename) answers a path that is not a symlink with its plain status: the
  * stock one first runs `FileUtil.readLink`, which forks `readlink`, only
  * to find no link target and return that same status. Real symlinks keep
  * the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!NioRawLocalFileSystem.usable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.rwx(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val usable = !NativeIO.isAvailable &&
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The rwx bits of `mode` — `PosixFilePermission`'s declaration order
    * (OWNER_READ … OTHERS_EXECUTE) is the bit order 0400 … 0001. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((perm, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0)
      set.add(perm)
    set
  }
}

/** The checksummed local filesystem over [[NioRawLocalFileSystem]]: `.crc`
  * files and read-side verification are the stock `LocalFileSystem`'s.
  * Registered for `file:` by [[graft.SparkSessionFactory]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` binding of `file:` over [[NioRawLocalFileSystem]],
  * mirroring Hadoop's `RawLocalFs` (whose constructors are package-private).
  * `FileContext` builds an `AbstractFileSystem` through this (URI, conf)
  * constructor. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` binding over [[NioRawLocalFs]], mirroring
  * Hadoop's `LocalFs`: streaming checkpoints (offsets, commits, metadata)
  * and `TableIO`'s atomic renames go through it. Registered for `file:` as
  * `fs.AbstractFileSystem.file.impl` by [[graft.SparkSessionFactory]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
