package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
  * and when the JVM's default filesystem has no POSIX attribute view. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!NioRawLocalFileSystem.usable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.rwx(mode))
  }
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
