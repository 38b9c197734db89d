package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption,
  Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing
  .CheckpointFileManager.CancellableFSDataOutputStream

/** A Spark `CheckpointFileManager` that writes local (`file:`) checkpoint
  * files with java.nio and hands every other file system to the manager
  * Spark itself would pick (`FileContextBasedCheckpointFileManager`,
  * else `FileSystemBasedCheckpointFileManager`).
  *
  * Why: without Hadoop's native IO library, every file Hadoop's local
  * file system creates or renames shells out to `chmod`/`ls` (a process
  * fork plus reader threads per call), about five times per atomic
  * checkpoint file. A streaming query writes several such files per
  * micro-batch (offset log, commit log, one RocksDB changelog per state
  * store), so on small micro-batches those forks ARE the batch's fixed
  * cost. Here an atomic write is a temp-file write plus one rename(2).
  *
  * Installed through Spark's own checkpoint-file-manager class conf (the
  * entry in [[MemoryGate.GateConfs]]), which Spark reads for the offset
  * and commit logs, the file-source log, the stream metadata and
  * RocksDB's changelog and snapshot files.
  *
  * `createAtomic` keeps the contract of Spark's `RenameBasedFSDataOutputStream`:
  *  - bytes go to a hidden sibling `.<name>.<uuid>.tmp`; nothing is
  *    visible at the final path before `close()`;
  *  - `close()` publishes with rename(2) when `overwriteIfPossible`, and
  *    otherwise with link(2), which fails if the file exists, so the
  *    existence check and the publish are one step. That failure surfaces
  *    as Hadoop's `FileAlreadyExistsException`, the class `HDFSMetadataLog`
  *    turns into its concurrent-writer error; the old file stays intact;
  *  - `cancel()` deletes the temp file and publishes nothing.
  * A stale `.<name>.crc` left by Hadoop's checksummed local file system is
  * deleted before publishing, or a later read through `LocalFileSystem`
  * would check the new bytes against the old checksum. No fsync is added:
  * Hadoop's local file system does none either.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val delegate: CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  // the delegate's own test: Hadoop's LocalFs/LocalFileSystem (or raw) is
  // what serves `file:` paths, so a remapped `fs.file.impl` is delegated
  private val local = delegate.isLocal

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val dst = nio(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
      new LocalCheckpointFileManager.AtomicStream(
        dst, tmp, LocalCheckpointFileManager.openNew(tmp), overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit =
    if (local) { Files.createDirectories(nio(p)); () } else delegate.mkdirs(p)

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = local
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  // like Spark's FileContext-based manager, this needs the parent
  // directory to exist (its callers make it first)
  private def openNew(tmp: NioPath): OutputStream =
    new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))

  private final class AtomicStream(dst: NioPath, tmp: NioPath,
      out: OutputStream, overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var terminated = false
    private val crc = dst.resolveSibling(s".${dst.getFileName}.crc")

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          out.close()
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } else {
            // an existing file keeps its checksum; only an orphaned one goes
            if (!Files.exists(dst)) Files.deleteIfExists(crc)
            try Files.createLink(dst, tmp)
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(
                  s"$dst already exists").initCause(e)
            }
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    // like Spark's: never throws, so it cannot mask the caller's error
    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try out.close() catch { case NonFatal(_) => }
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
      }
    }
  }
}
