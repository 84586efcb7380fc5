package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Persisted incremental-extraction watermark for BATCH re-invocation
  * — the reference's polling loop advances a `[from, to)` window per
  * poll and resumes from config after a restart
  * (sources/camunda/extract.go:140-151: `from = t - history`,
  * `to = from + interval`, truncated to the minute). Structured
  * Streaming gets this from checkpoints; repeated batch jobs need
  * their own durable mark.
  *
  * One tiny JSON state file per (stateDir, source). The protocol is
  * extract-then-commit:
  *   1. `plan` computes the next window `[from, to)` from the stored
  *      mark (or `defaultStartMs` on first run), capped at `ceilingMs`
  *      so a backlogged source catches up `stepMs` at a time;
  *   2. the caller extracts that window (`extractWindow` is the
  *      filter);
  *   3. `commit` persists `to` through [[Spool.commit]]: atomic (a
  *      reader or a crash sees the old mark or the new one) and on
  *      disk before it returns.
  * A crash between 2 and 3 re-extracts the same window on restart —
  * at-least-once, the reference's own re-poll semantics — and never
  * skips data. Downstream idempotence (dedup / idempotentSink /
  * JdbcSink upsert) turns that into exactly-once.
  */
object HighWaterMark {

  /** Source names become file names and JSON values verbatim, so the
    * character set is restricted up front — a separator would escape
    * stateDir, a quote would corrupt the JSON (and the corrupted mark
    * would silently replay from defaultStartMs forever). */
  private def validSource(source: String): String = {
    require(source.matches("[A-Za-z0-9_-]+"),
      s"source name must match [A-Za-z0-9_-]+, got: '$source'")
    source
  }

  private def stateFile(stateDir: String, source: String) =
    Paths.get(stateDir, s"hwm_${validSource(source)}.json")

  /** The committed mark, if any. */
  def read(stateDir: String, source: String): Option[Long] = {
    val f = stateFile(stateDir, source)
    if (!Files.exists(f)) None
    else {
      val s = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      "\"watermark_ms\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong)
    }
  }

  /** Next extraction window `[from, to)`: `from` = committed mark (or
    * `defaultStartMs`), `to` = min(from + stepMs, ceilingMs). Returns
    * None when the source is fully caught up (from >= ceilingMs). */
  def plan(stateDir: String, source: String, defaultStartMs: Long,
           stepMs: Long, ceilingMs: Long): Option[(Long, Long)] = {
    val from = read(stateDir, source).getOrElse(defaultStartMs)
    if (from >= ceilingMs) None
    else Some((from, math.min(from + stepMs, ceilingMs)))
  }

  /** Persist the new mark ([[Spool.commit]]: atomic, and durable
    * before it returns). */
  def commit(stateDir: String, source: String, watermarkMs: Long): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val body =
      s"""{"source":"${validSource(source)}","watermark_ms":$watermarkMs}""" + "\n"
    Spool.commit(stateFile(stateDir, source), body.getBytes(StandardCharsets.UTF_8))
  }

  /** The window filter — pushed to the scan as `ts >= from AND
    * ts < to`, so each poll reads only the window's partitions. */
  def extractWindow(df: DataFrame, tsCol: String, fromMs: Long,
                    toMs: Long): DataFrame =
    df.filter(col(tsCol) >= fromMs && col(tsCol) < toMs)

  /** One full poll cycle: plan → extract → caller consumes → commit.
    * `consume` runs BEFORE the commit (extract-then-commit); if it
    * throws, the mark stays put and the window replays next poll. */
  def poll[T](stateDir: String, source: String, df: DataFrame,
              tsCol: String, defaultStartMs: Long, stepMs: Long,
              ceilingMs: Long)(consume: DataFrame => T): Option[T] =
    plan(stateDir, source, defaultStartMs, stepMs, ceilingMs).map {
      case (from, to) =>
        val out = consume(extractWindow(df, tsCol, from, to))
        commit(stateDir, source, to)
        out
    }
}
