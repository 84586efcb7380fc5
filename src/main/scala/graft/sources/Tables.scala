package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table catalogue over an sf directory (TESTDATA.md).
  *
  * Mirrors the reference's source catalogue (kassette-server
  * `backendconfig/configdb.go` keeps a DB-backed catalogue of sources;
  * here the catalogue is a parquet lakehouse directory). All reads are
  * plain `spark.read.parquet` so Catalyst sees a relation it can push
  * filters/projections into — verify with `.explain("formatted")`
  * (`PushedFilters`, `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped memo of the ANALYZED base frame per
    * (session, dir, table) — r22 fast-tail item (r21 verdict #5).
    * Every `spark.read.parquet` call pays ~40-60 ms of driver-side
    * file listing + parquet footer schema inference; query
    * constructors call Tables on every invocation (the bench's
    * min-of-2 constructs each query twice), so the read cost was paid
    * ~450× per board. The memo reuses the analyzed LOGICAL PLAN only:
    * every execution still scans the parquet files — no data, result,
    * or intermediate is cached (plan reuse, not result caching).
    * Safe because the catalogue dirs are immutable within a session
    * (Replicate writes only to a NEW out dir; EntrySpec writes each
    * variant once to a fresh dir before its first read). The size
    * bound drops entries from stopped test sessions; re-reading after
    * a clear just re-pays one listing. */
  private val frameMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (frameMemo.size > 512) frameMemo.clear()
    frameMemo.computeIfAbsent((spark, dir, name), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEvents(df) else df
    })
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
