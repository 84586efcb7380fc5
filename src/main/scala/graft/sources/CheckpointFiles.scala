package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.file.Files
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint manager of every graft stream
  * ([[graft.GraftSession]] names it in the session): offset, commit
  * and source logs, state deltas and snapshots, Spark's state
  * checksum files and the metadata file.
  *
  * On a `file:` path every file is committed through [[Spool.open]]:
  * temp file, then atomic publish. Spark's default manager goes
  * through Hadoop's local filesystem instead, which without the native
  * Hadoop library forks a `chmod` for every file it creates and two
  * `readlink`s for every rename (about 100 processes per live
  * micro-batch). Like that filesystem, this manager forces nothing to
  * disk: a commit survives the process, not the machine. Forcing each
  * file and its directory put about 44 `fsync`s on every micro-batch's
  * path, and on a shared VM disk one took 0.3 to 70 ms, so the
  * trigger time followed the other tenants' writes.
  * Beside each file goes a Hadoop-format `.crc` sidecar, so reads —
  * through `LocalFileSystem`, as before — still verify every byte.
  * A file written with `overwriteIfPossible = false` is published by
  * a hard link, which fails with `FileAlreadyExistsException` if the
  * file exists and leaves it as it was. On a replace the old sidecar
  * goes first and the new one follows the file, so a process that
  * dies between them leaves a file that reads unverified, never one
  * that fails to read. Any other scheme goes to Spark's default
  * manager. */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val manager: CheckpointFileManager = path.getFileSystem(conf) match {
    case _: LocalFileSystem => new CheckpointFiles.Local(path, conf)
    case _ =>
      // Spark's own choice: FileContext, else FileSystem
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf) }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    manager.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = manager.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = manager.list(p, filter)
  def mkdirs(p: Path): Unit = manager.mkdirs(p)
  def exists(p: Path): Boolean = manager.exists(p)
  def delete(p: Path): Unit = manager.delete(p)
  def isLocal: Boolean = manager.isLocal
  def createCheckpointDirectory(): Path = manager.createCheckpointDirectory()
  override def close(): Unit = manager.close()
}

object CheckpointFiles {

  /** Bytes per CRC32 in a sidecar: Hadoop's `file.bytes-per-checksum`
    * default (a reader takes the value from the sidecar's header). */
  private val BytesPerSum = 512

  /** Spark's FileSystem manager over `LocalFileSystem` — reads, lists
    * (sidecars filtered out), existence checks and deletes (sidecar
    * included) — with the writes and directory creation that fork
    * replaced. */
  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    private val local = fs.asInstanceOf[LocalFileSystem]
    private def file(p: Path) = local.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
      new Atomic(file(p), file(local.getChecksumFile(p)), overwriteIfPossible)

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))

    override def createCheckpointDirectory(): Path = {
      mkdirs(path)
      local.makeQualified(path)
    }
  }

  private final class Atomic(target: java.nio.file.Path, sidecar: java.nio.file.Path, replace: Boolean)
      extends CancellableFSDataOutputStream(
        new Summed(Spool.open(target, replace, force = false))) {
    private val summed = underlyingStream.asInstanceOf[Summed]
    private var done = false

    override def close(): Unit = if (!done) {
      done = true
      if (replace) Files.deleteIfExists(sidecar)
      try super.close() catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target exists")
      }
      Spool.commit(sidecar, summed.sidecar, force = false)
    }

    def cancel(): Unit = if (!done) {
      done = true
      summed.data.cancel()
    }
  }

  /** Passes bytes to `data` and keeps the Hadoop checksum of them: a
    * `crc\0` header, the chunk size, then the big-endian CRC32 of
    * every [[BytesPerSum]]-byte chunk, the last partial one included. */
  private final class Summed(val data: Spool.Pending) extends OutputStream {
    private val crc = new CRC32
    private var inChunk = 0
    private val sums = new ByteArrayOutputStream()
    private val out = new DataOutputStream(sums)
    out.write(Array[Byte]('c', 'r', 'c', 0))
    out.writeInt(BytesPerSum)

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      data.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(off + len - i, BytesPerSum - inChunk)
        crc.update(b, i, n)
        inChunk += n
        i += n
        if (inChunk == BytesPerSum) endChunk()
      }
    }

    private def endChunk(): Unit = {
      out.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    def sidecar: Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }

    override def close(): Unit = data.close()
  }
}
