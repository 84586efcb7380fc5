package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table catalogue over an sf directory (TESTDATA.md), and
  * graft's one parquet reader.
  *
  * Mirrors the reference's source catalogue (kassette-server
  * `backendconfig/configdb.go` keeps a DB-backed catalogue of sources;
  * here the catalogue is a parquet lakehouse directory). Every read is
  * a plain parquet relation so Catalyst sees a relation it can push
  * filters/projections into — verify with `.explain("formatted")`
  * (`PushedFilters`, `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)` without the Spark job it runs to infer
    * the schema: the schema comes from the one footer that job would
    * read, read on the driver
    * ([[org.apache.spark.sql.graftbridge.ParquetBridge.footerSchema]]),
    * and is handed to the reader as given. The frame's schema
    * (partition columns included, from Spark's path inference) and
    * rows are those of `spark.read.parquet(path)`. Where Spark must
    * decide (`mergeSchema` on, a missing path, no file to read) this
    * is `spark.read.parquet(path)`.
    * Every parquet read in graft goes through here. */
  def read(spark: SparkSession, path: String): DataFrame =
    ParquetBridge.footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Session-scoped memo of the ANALYZED base frame per
    * (session, dir, table). Query constructors call Tables on every
    * invocation (the bench's min-of-2 constructs each query twice), so
    * without it the read cost was paid ~450× per board. A warm read
    * ([[read]]) takes ~8-9 ms: ~2.5 ms to list the files and read the
    * footer, ~6 ms for Spark to list them again and resolve the
    * relation over the given schema. Through
    * `spark.read.parquet` the same read took 53-60 ms, the rest of it
    * the one-task schema job (medians over the ten sf0.01 and sf0.1
    * tables, 4-core box, idle; a `limit(1).count()` of a table takes
    * another 67-75 ms). The memo reuses the analyzed
    * LOGICAL PLAN only: every execution still scans the parquet files
    * — no data, result, or intermediate is cached (plan reuse, not
    * result caching).
    *
    * Contract: a catalogue dir is immutable within a session
    * (Replicate writes only to a NEW out dir; EntrySpec writes each
    * variant once to a fresh dir before its first read). Code that
    * rewrites a dir a session has read calls [[invalidate]] before
    * reading it again. Entries live as long as their session: a
    * stopped session's entries are dropped at the next read, a live
    * session's never. */
  private val frameMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    frameMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    frameMemo.computeIfAbsent((spark, dir, name), _ => {
      val df = read(spark, s"$dir/$name.parquet")
      if (name == "events") normalizeEvents(df) else df
    })
  }

  /** Forget every session's frames over `dir`, so the next read sees
    * what is there now. */
  def invalidate(dir: String): Unit = frameMemo.keySet.removeIf(_._2 == dir)

  /** The sessions holding memoized frames. */
  private[graft] def memoSessions: Set[SparkSession] = {
    import scala.jdk.CollectionConverters._
    frameMemo.keySet.asScala.map(_._1).toSet
  }

  /** Normalize events.parquet's `ts` — whose parquet annotation has
    * drifted across test-data generators — to a stable contract:
    *  - `ts_ms`  epoch millis (BIGINT, floor) — the canonical event
    *    time used by every pipeline operator (floor matches the
    *    DuckDB oracle's `epoch_ns(ts)//1000000`),
    *  - `ts` TimestampType (micros, UTC session) for
    *    windowing/watermarks.
    * Dispatches on the ACTUAL column type rather than assuming one
    * physical annotation:
    *  - LongType: INT64 TIMESTAMP(NANOS) surfaced as epoch-nanos via
    *    `spark.sql.legacy.parquet.nanosAsLong` (older generator).
    *  - TimestampNTZType: TIMESTAMP_MICROS(isAdjustedToUTC=false)
    *    (current generator). The session timezone is pinned to UTC
    *    (GraftSession builds every graft session that way and
    *    SparkEntry.queries tunes a caller's), so casting
    *    NTZ→TimestampType reinterprets the wall-clock value as UTC — the same instant the nanos path and
    *    the DuckDB oracle (naive-UTC) derive.
    *  - TimestampType: already instant-typed; derive ts_ms directly.
    * Idempotent: a corpus WRITTEN from this frame (the replicated
    * scale-smoke tables) already carries ts_ms + a micros ts and
    * short-circuits unchanged, keeping every oracle consistent. */
  private def normalizeEvents(df: DataFrame): DataFrame =
    if (df.columns.contains("ts_ms")) df
    else df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts_ms", expr("ts div 1000000"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      case TimestampType =>
        df.withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — extend " +
            "Tables.normalizeEvents for the new generator annotation")
    }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
