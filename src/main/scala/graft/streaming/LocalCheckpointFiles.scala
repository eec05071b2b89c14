package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint file manager of every engine stream ([[Streams.start]]
  * names it in the stream's conf): the offset, commit and source logs and
  * the HDFS/RocksDB state-store files.
  *
  * Without the native `libhadoop`, Hadoop forks a shell command for every
  * local permission change (`chmod`) and every link-status check
  * (`readlink`), at 3–4 ms a fork. Spark's default manager renames
  * through `FileContext`, which checks link status on every rename. Here,
  * on a local (`file:`) checkpoint, `createTempFile` and the rename that
  * publishes a temp file are `java.nio` calls, which leave modes to the
  * process umask as Hadoop's defaults do. Directories, open, list, exists
  * and delete stay Spark's `FileSystem` code; inside a stream
  * [[LocalFiles]] serves `file:`, so a new directory's mode is set
  * without a fork as well. Any other scheme behaves exactly as Spark's
  * `FileSystem`-based manager.
  *
  * In a stream the manager's filesystem is [[LocalFiles]], whose rename
  * replaces an existing file as well. The rename stays `java.nio` so that
  * the publish does not depend on which class serves `file:`: on a
  * session without [[LocalFiles.confs]] (a test that builds the manager
  * on the caller's session), Hive's `ProxyLocalFileSystem` serves it
  * (Spark's distribution registers it), and its `FileSystem.rename` will
  * not replace an existing file and returns false, which Spark's
  * `FileSystem`-based manager reads as success when it may overwrite, so
  * the new content would be lost. Here a publish that may overwrite
  * replaces the file atomically, and one that may not throws
  * `FileAlreadyExistsException` when the file exists, as Spark's does.
  *
  * The trade: a file written here carries no `.crc` sidecar, so a torn
  * checkpoint file is caught by its parser rather than by a checksum.
  * Hadoop's `ChecksumFileSystem` reads a file without a sidecar without
  * complaint, and a publish deletes a stale destination `.crc` first (as
  * `ChecksumFileSystem.rename` does), so a file left by Spark's default
  * manager is overwritten and read back cleanly.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  /** `p` on the local disk (only meaningful when [[isLocal]]). */
  private def nio(p: Path): java.nio.file.Path =
    Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else {
      Files.createDirectories(nio(p).getParent)
      new FSDataOutputStream(
        new java.io.BufferedOutputStream(Files.newOutputStream(nio(p))), null)
    }

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!isLocal) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val to = nio(dst)
      if (!overwriteIfPossible && Files.exists(to))
        throw new FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
      Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      Files.move(nio(src), to, StandardCopyOption.ATOMIC_MOVE)
    }
}
