package graft.core

import java.nio.file.{Files, Path => NPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem whose permission changes stay in
  * the JVM. Without the native Hadoop library, `RawLocalFileSystem`
  * forks a `chmod` process for every local file, `.crc` file and directory
  * it creates (about 3.5 ms each on a 4-core box; 219 forks in one cold
  * MagicTable flow). Everything else — checksums, temp + rename, the bits
  * themselves — is Hadoop's. Registered for `file:` by [[graft.Sessions]].
  *
  * A rename onto an existing file returns false, as on HDFS and as in the
  * `file:` filesystem that Spark's classpath registers by default (Hive's
  * `ProxyLocalFileSystem`); `RawLocalFileSystem` alone would replace the
  * file, and first-writer-wins cache entries
  * ([[graft.sources.UrlDiskCache.put]]) rely on the refusal.
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** Sets the nine rwx bits with `Files.setPosixFilePermissions`. Falls back
  * to Hadoop's own path where that call would not give `chmod`'s result:
  * a sticky bit (not a POSIX file permission), a target that carries
  * setuid, setgid or sticky bits (`chmod 0755` keeps a directory's
  * setgid; the NIO call would clear it), or a store without POSIX
  * attributes. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !plainMode(file)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, rwx(permission))
  }

  /** The nine rwx bits of `permission` (owner, group, others). */
  private def rwx(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = permission.toShort & 0x1ff
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared owner-read first, others-execute last: bit 8 down to bit 0
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) out.add(perm)
    }
    out
  }

  /** True when `file`'s mode holds no setuid, setgid or sticky bit
    * (octal 7000); false too when the store has no unix mode. */
  private def plainMode(file: NPath): Boolean =
    try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}
