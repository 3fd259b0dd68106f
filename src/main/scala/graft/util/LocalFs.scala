package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, `.crc` sidecars included, without a
  * process per file. When Hadoop's native library is absent
  * (`NativeIO.isAvailable()` is false), `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process for every file and directory it
  * creates — ~10 ms each, dozens per written batch. Here the same nine
  * mode bits are set through NIO. A mode with the sticky bit, or a
  * store without POSIX attributes, takes Hadoop's own path.
  *
  * Select it for one job's Hadoop conf with `fs.file.impl` set to this
  * class and `fs.file.impl.disable.cache=true`: the FileSystem cache is
  * keyed by scheme, so a cached stock instance would win otherwise.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The options that route a job's `file:` paths through [[LocalFs]]. */
  val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  // OWNER_READ … OTHERS_EXECUTE: declaration order is mode bit 8 down to 0
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 1 << (8 - i)) }

  private[util] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val mode = perm.toShort.toInt
      val set = (mode & ~0x1ff) == 0 && (try {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          Bits.collect { case (b, m) if (mode & m) != 0 => b }.toSet.asJava)
        true
      } catch { case _: UnsupportedOperationException => false })
      if (!set) super.setPermission(p, perm)
    }
  }
}
