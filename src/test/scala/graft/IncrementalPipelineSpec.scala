package graft

import org.apache.spark.sql.functions._
import graft.model.{SchemaField, TableSchema}
import graft.operators.IncrementalAgg
import graft.sinks.JdbcSink
import graft.sources.{HighWaterMark, Tables}

/** End-to-end composition of the round-3 components into the
  * reference's operating loop: incremental extraction (HighWaterMark)
  * → mergeable partial summaries (IncrementalAgg) → transactional
  * keyed delivery (JdbcSink MERGE upsert).
  *
  * Exactly-once discipline: each window's partial rows are keyed by
  * (event_type, window_from), so an at-least-once REPLAY of a window
  * (crash after delivery, before the watermark commit) overwrites its
  * own rows instead of double-counting — idempotent keyed writes turn
  * replay into exactly-once, the same trick as the streaming
  * idempotentSink. */
class IncrementalPipelineSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftpipe;create=true"

  test("poll → partial → upsert loop survives a post-delivery crash exactly-once") {
    val stateDir = tempDir("graft_pipe").toString
    JdbcSink.createTable(url, TableSchema("rollup_parts", Seq(
      SchemaField("event_type", "STRING"),
      SchemaField("window_from", "INT"),
      SchemaField("n_events", "INT"),
      SchemaField("total_value", "FLOAT"))), "derby")

    val ev = Tables.events(spark, sf)
    val lo = 1704844800000L // 2024-01-10T00:00:00Z
    val day = 86400000L
    val ceiling = lo + 3 * day

    var crashOnce = true
    def onePoll(): Option[Long] =
      HighWaterMark.poll(stateDir, "events", ev, "ts_ms", lo, day, ceiling) { w =>
        val from = HighWaterMark.read(stateDir, "events").getOrElse(lo)
        val part = IncrementalAgg.render(
          IncrementalAgg.partial(w, Seq("event_type"), "value"))
          .select(col("event_type"), lit(from).as("window_from"),
            col("n_events"), col("total_value"))
        val n = JdbcSink.stagedWrite(part, url, "rollup_parts",
          pk = Seq("event_type", "window_from"))
        // crash AFTER delivery, BEFORE the watermark commit — the
        // nastier failure point: the window will be replayed
        if (crashOnce) { crashOnce = false; throw new RuntimeException("crash") }
        n
      }

    intercept[RuntimeException] { onePoll() } // poll 1 delivers then dies
    assert(HighWaterMark.read(stateDir, "events").isEmpty, "mark must not advance")
    while (onePoll().isDefined) {} // replay poll 1, then 2 and 3

    // read the delivered partials back and merge to per-type totals
    val parts = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "rollup_parts").load()
      .select(col("EVENT_TYPE").as("event_type"),
        col("N_EVENTS").cast("long").as("n_events"),
        col("TOTAL_VALUE").as("total_value"))
    val delivered = parts.groupBy("event_type")
      .agg(sum("n_events").as("n"), sum("total_value").as("v"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))

    // ground truth: direct aggregation over the whole extracted range
    val direct = IncrementalAgg.render(IncrementalAgg.partial(
        HighWaterMark.extractWindow(ev, "ts_ms", lo, ceiling),
        Seq("event_type"), "value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_events"),
        math.round(r.getAs[Double]("total_value") * 100)))

    assert(delivered.toSeq == direct.toSeq,
      "replayed window must not double-count (idempotent keyed upsert)")
  }
}
