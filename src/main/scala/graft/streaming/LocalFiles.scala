package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with one change: a permission change is a
  * `java.nio` call instead of a forked process.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` runs
  * `chmod` in a shell for every directory and file it creates, and an
  * output committer creates several per written file (the task attempt
  * directories, the data file, its `.crc` sidecar, `_SUCCESS`). Here the
  * same mode, the requested one with Hadoop's umask already applied, is
  * set with `Files.setPosixFilePermissions`. Names, `.crc` sidecars,
  * bytes and modes are exactly those of Hadoop's `LocalFileSystem`.
  *
  * A rename onto an existing file replaces it, as in Hadoop's
  * `LocalFileSystem`; Hive's `ProxyLocalFileSystem`, which serves `file:`
  * by default in Spark's distribution, refuses it. The output committers
  * delete a destination before they rename onto it.
  *
  * It serves `file:` only where [[LocalFiles.confs]] is set: in every
  * stream's conf ([[Streams.start]]), and in the options of every other
  * file the engine writes ([[Streams.fileWriter]]): the store
  * generations, the cross-query layouts, the files a query writes to its
  * scratch directory and reads back, and `Verify`'s dump. Not for the
  * whole process: `perfbench` builds its own session and compiles only
  * the engine's Scala sources, so neither a classpath `core-site.xml` nor
  * a conf set where the engine builds its session would reach it.
  */
class LocalFiles extends LocalFileSystem(new LocalFiles.NioPermissions)

object LocalFiles {

  /** The conf pair that serves `file:` with [[LocalFiles]]. Hadoop
    * caches a filesystem per scheme and user, not per class, and a
    * session has cached the default `file:` filesystem long before, so
    * the cache must be off for the class to take effect.
    */
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFiles].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** setuid, setgid and sticky: bits `java.nio` cannot set. */
  private val Special = 0x0e00 // 07000

  private[graft] class NioPermissions extends RawLocalFileSystem {

    /** The nine `rwx` bits by `java.nio`. Hadoop's own `chmod` when a
      * special bit is asked for or already set: GNU `chmod` with a
      * four-digit mode keeps a directory's setuid and setgid bits, which
      * a `java.nio` change would clear.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      if ((mode & Special) != 0 ||
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & Special) != 0)
        super.setPermission(p, permission)
      else {
        // PosixFilePermission lists owner, group, others, each r, w, x:
        // bit 8 down to bit 0
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.foreach { b =>
          if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
        }
        Files.setPosixFilePermissions(f, perms)
      }
    }
  }
}
