package graft.sources

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** The one way graft commits a file outside a Spark writer, and the
  * spool's record format.
  *
  *  - [[commit]] makes a file durable: write a hidden temp file that
  *    is unique per call, `force` it, atomically rename it over the
  *    target, then `force` the directory so the rename itself survives
  *    a crash. A reader (or a crash) sees the old file or the new one,
  *    never a part of either, and a commit is on disk before it
  *    returns. The spool, the REST poll mark ([[HighWaterMark]]) and
  *    the snapshot pointer ([[graft.sinks.AtomicSwapWriter]]) all
  *    commit through it. [[CheckpointFiles]] commits with
  *    `force = false`: still atomic, but on disk only when the kernel
  *    writes it back.
  *  - [[spool]] writes one gateway envelope as one spool file holding
  *    ONE line: [[EventBatchReader]] reads the spool with
  *    `readStream.text`, so an envelope split over several lines would
  *    parse to nothing and its events would be dropped after a 200.
  */
object Spool {

  /** Per-process nonce: N gateway or poller processes share one spool
    * directory (an object-store prefix at fleet scale), and a counter
    * alone restarts at 0 in every process. */
  private val nonce = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new AtomicLong(0L)

  /** An open commit of `target`, for content too large to hold on
    * the heap: bytes written go to a hidden temp file that is unique
    * per call. [[close]] publishes it — `force` the file, move it into
    * place, `force` the directory; without `force` only the move — and
    * [[cancel]] drops it; either leaves no temp file, and a second call
    * of either does nothing. With `replace` the move is an atomic
    * rename over the target; without it the temp file is hard-linked
    * to the target name, which fails with `FileAlreadyExistsException`
    * and leaves an existing target as it was. */
  final class Pending private[Spool] (target: Path, replace: Boolean, force: Boolean)
      extends OutputStream {
    private val dir = target.toAbsolutePath.getParent
    private val tmp = dir.resolve(s".${target.getFileName}.${nonce}_${seq.incrementAndGet()}.tmp")
    private val ch = FileChannel.open(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    private val out = new BufferedOutputStream(Channels.newOutputStream(ch))
    private var done = false

    override def write(b: Int): Unit = out.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)

    override def close(): Unit = if (!done) {
      done = true
      try {
        out.flush()
        if (force) ch.force(true)
        ch.close()
        if (replace) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        else try Files.createLink(target, tmp) finally Files.delete(tmp)
      } catch {
        case e: Throwable => ch.close(); Files.deleteIfExists(tmp); throw e
      }
      if (force) {
        val d = FileChannel.open(dir, StandardOpenOption.READ)
        try d.force(true) finally d.close()
      }
    }

    def cancel(): Unit = if (!done) {
      done = true
      try ch.close() finally Files.deleteIfExists(tmp)
    }
  }

  /** Start a commit of `target`, whose directory must exist. */
  def open(target: Path, replace: Boolean = true, force: Boolean = true): Pending =
    new Pending(target, replace, force)

  /** Replace `target` with `bytes`: one file write, one rename and,
    * with `force` (durably), two `force` calls. On failure the temp
    * file is removed and the target is untouched. */
  def commit(target: Path, bytes: Array[Byte], force: Boolean = true): Unit = {
    val p = open(target, force = force)
    try p.write(bytes) catch { case e: Throwable => p.cancel(); throw e }
    p.close()
  }

  /** Commit `envelope` into `dir` as `<prefix>_<nonce>_<n>.json`, a name
    * unique per process, on one line: raw CR/LF become spaces. In
    * valid JSON a raw CR or LF can only be whitespace between tokens
    * (inside a string it must be escaped), so no payload changes
    * meaning. */
  def spool(dir: String, prefix: String, envelope: String): Unit = {
    val line = envelope.replace('\n', ' ').replace('\r', ' ')
    commit(Paths.get(dir, s"${prefix}_${nonce}_${seq.incrementAndGet()}.json"),
      line.getBytes(StandardCharsets.UTF_8))
  }

  /** JSON string-body escape: backslash, quote and every control char
    * — everything a config-store value, a query parameter or an error
    * message could smuggle into an interpolated JSON document. */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
