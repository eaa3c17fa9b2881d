package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Writer options for a Spark file write to the local disk that starts no
  * operating-system process. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file, checksum
  * file and directory a write and its committer create, some 200 forks
  * for a 64-bucket batch. The options route the write's `file:` paths to
  * [[NoForkLocalFileSystem]], uncached, since the JVM-wide `FileSystem`
  * cache would otherwise hand back the session's instance. Only the write
  * that carries them is affected: the session's file system and its
  * settings stay as they are. */
object LocalWrite {
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

/** Hadoop's checksummed local file system (same `.crc` files, same umask)
  * over [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` goes through
  * `Files.setPosixFilePermissions` instead of a forked `chmod`. A mode the
  * nine rwx bits cannot express (sticky bit) or a non-POSIX store falls back
  * to Hadoop's own path. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, bit 8 .. bit 0
      val perms = PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
      }.toSet.asJava
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
