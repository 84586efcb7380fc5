package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.{Spool, Tables}

/** Atomic-swap table loads — the warehouse staging discipline (load
  * into a staging table, then swap it live) applied to a columnar
  * lake table: a reader must NEVER observe a half-written table, and
  * a crashed load must leave the live table untouched.
  *
  * Layout: `<root>/v_<n>/` holds immutable snapshot directories;
  * `<root>/_CURRENT` names the live one. A load writes a brand-new
  * snapshot dir (never touching the live files), then commits the
  * new `_CURRENT` through [[Spool.commit]] (temp file, atomic rename,
  * on disk before the publish returns). Readers
  * resolve the pointer at read time: before the commit they see the
  * old snapshot, after it the new — nothing in between. A crash
  * mid-write leaves an orphan `v_` dir and the old pointer; `vacuum`
  * sweeps orphans and superseded snapshots (keeping the live one),
  * the maintenance pass of every snapshot store.
  *
  * [[ShardExport]] publishes its two coupled artifacts through the
  * same [[swap]]. POSIX and HDFS renames are atomic; on S3-style
  * stores the pointer would be a conditional PUT. */
object AtomicSwapWriter {

  private def currentFile(root: String) = Paths.get(root, "_CURRENT")

  /** The live snapshot's version number, if a commit ever happened. */
  def currentVersion(root: String): Option[Long] = {
    val f = currentFile(root)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong)
  }

  /** Load a new snapshot and swap it live. Returns the new version. */
  def publish(df: DataFrame, root: String): Long =
    swap(root)(df.write.mode(SaveMode.ErrorIfExists).parquet(_))

  /** Write the next snapshot with `write` (given its directory), then
    * commit the pointer to it. Returns the new version. */
  def swap(root: String)(write: String => Unit): Long = {
    Files.createDirectories(Paths.get(root))
    val next = currentVersion(root).getOrElse(0L) + 1L
    write(Paths.get(root, s"v_$next").toString)
    Spool.commit(currentFile(root), s"$next\n".getBytes(StandardCharsets.UTF_8))
    next
  }

  /** Read the LIVE snapshot (pointer resolved now — concurrent
    * publishes don't disturb an in-flight read of the old version,
    * whose files are immutable until vacuumed). */
  def readCurrent(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    Tables.read(spark, Paths.get(root, s"v_$v").toString)
  }

  /** Remove orphaned (crashed-load) and superseded snapshot dirs,
    * keeping the live one. A non-live dir younger than `minAgeMs` is
    * spared: it may be an IN-FLIGHT publish that has written its
    * snapshot but not yet committed the pointer — sweeping it would
    * let the subsequent commit point _CURRENT at a deleted dir. Age
    * is the dir's mtime; the default grace comfortably exceeds any
    * load's write-to-commit window. Returns the dirs removed. */
  def vacuum(root: String, minAgeMs: Long = 3600000L): Seq[String] = {
    val live = currentVersion(root).map(v => s"v_$v")
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) return Nil
    val cutoff = System.currentTimeMillis() - minAgeMs
    val doomed = withStream(Files.list(rootPath))(
      _.filter(p => Files.isDirectory(p))
        .filter(p => p.getFileName.toString.startsWith("v_"))
        .filterNot(p => live.contains(p.getFileName.toString))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq)
    doomed.foreach { dir =>
      withStream(Files.walk(dir))(_.toSeq.reverse.foreach(Files.delete))
    }
    doomed.map(_.toString)
  }

  /** Files.list/walk hold a directory handle until closed. */
  private def withStream[A, T](s: java.util.stream.Stream[A])(
      f: Iterator[A] => T): T =
    try {
      val it = s.iterator()
      f(new Iterator[A] {
        def hasNext: Boolean = it.hasNext
        def next(): A = it.next()
      })
    } finally s.close()
}
