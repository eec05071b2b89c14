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
  * (`readlink`), at 3–4 ms a fork. Spark's default manager renames through
  * `FileContext`, which checks link status on every rename, and its
  * `FileSystem` creates set permissions on every new file and directory.
  * Here, on a local (`file:`) checkpoint, `mkdirs`,
  * `createCheckpointDirectory`, `createTempFile` and the rename that
  * publishes a temp file are `java.nio` calls, which leave modes to the
  * process umask as Hadoop's defaults do. Open, list, exists and delete
  * stay Spark's `FileSystem` code, which forks nothing on a local disk.
  * Any other scheme behaves exactly as Spark's `FileSystem`-based manager.
  *
  * The rename is `java.nio` for correctness as well: where Hive's
  * `ProxyLocalFileSystem` serves `file:` (Spark's distribution registers
  * it), `FileSystem.rename` will not replace an existing file and returns
  * false, which Spark's `FileSystem`-based manager reads as success when
  * it may overwrite, so the new content would be lost. Here a publish
  * that may overwrite replaces the file atomically, and one that may not
  * throws `FileAlreadyExistsException` when the file exists, as Spark's
  * does.
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

  override def mkdirs(p: Path): Unit =
    if (isLocal) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (!isLocal) super.createCheckpointDirectory()
    else {
      Files.createDirectories(nio(path))
      fs.makeQualified(path)
    }

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
