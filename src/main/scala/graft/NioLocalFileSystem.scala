package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` file system (`GraftSession.LocalFileSystemImpl`):
  * Hadoop's checksummed `LocalFileSystem` over a raw local file system
  * that sets permission bits in-process. Without libhadoop, Hadoop's
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and every
  * file create and every mkdir calls it. Everything else is Hadoop's own
  * code, so paths, checksums and mode bits stay as they were. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** `RawLocalFileSystem` whose `setPermission` sets the nine mode bits
    * through `java.nio`. It defers to Hadoop's `chmod` for what NIO
    * cannot express: a sticky bit, a directory whose setuid/setgid bits
    * `chmod` would keep and NIO would clear, or a file store without
    * POSIX permissions. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      try {
        if ((mode & ~0x1ff) != 0 || keepsSetIds(f)) super.setPermission(p, permission)
        else Files.setPosixFilePermissions(f, perms(mode))
      } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A directory with setuid or setgid set (`chmod` keeps those bits on
    * a directory given a 4-digit octal mode). */
  private def keepsSetIds(f: java.nio.file.Path): Boolean = {
    val m = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    (m & 0xf000) == 0x4000 && (m & 0xc00) != 0 // S_IFDIR; S_ISUID | S_ISGID
  }

  // declaration order: OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 … 0
  private val Bits = PosixFilePermission.values

  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (1 << (8 - i))) != 0) s.add(Bits(i))
    s
  }
}
