package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
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
  *    commit through it.
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

  /** Durably replace `target` with `bytes`: one file write, two
    * `force` calls and one rename. The target's directory must exist.
    * On failure the temp file is removed and the target is untouched. */
  def commit(target: Path, bytes: Array[Byte]): Unit = {
    val dir = target.toAbsolutePath.getParent
    val tmp = dir.resolve(s".${target.getFileName}.${nonce}_${seq.incrementAndGet()}.tmp")
    try {
      val ch = FileChannel.open(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
    val d = FileChannel.open(dir, StandardOpenOption.READ)
    try d.force(true) finally d.close()
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
