package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end pipeline sample — the reference's gateway → processor →
  * router → destination flow on Spark, batch and streaming, driven
  * against a scratch directory. Run:
  *   sbt "runMain graft.Demo /tmp/graft_demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = GraftSession.get()
    import spark.implicits._

    // --- gateway intake: envelope JSON → exploded, skew-fixed events
    val env =
      """{"writeKey":"wk1","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z","batch":[
        |{"messageId":"m1","userId":"u1","event":"click","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:05:00.000Z"},
        |{"userId":"u2","event":"purchase","originalTimestamp":"2024-01-01T00:01:00.000Z","sentAt":"2024-01-01T00:01:30.000Z"},
        |{"userId":"u1","event":"error","originalTimestamp":"2024-01-01T00:02:00.000Z","sentAt":"2024-01-01T00:02:00.000Z"}]}"""
        .stripMargin.replaceAll("\n", "")
    Files.createDirectories(Paths.get(s"$out/in"))
    Files.write(Paths.get(s"$out/in/batch1.jsonl"), env.getBytes)

    val events = sources.EventBatchReader.read(spark, s"$out/in")
    println("== gateway intake (skew-fixed) ==")
    events.select("message_id", "user_id", "event", "timestamp").show(truncate = false)

    // --- processor: rules + destination schema projection
    val routed = operators.TransformRules(events,
      Seq(model.FieldMap("event", "action"), model.FieldHide("request_ip")))
    println("== transformed ==")
    routed.select("message_id", "user_id", "action").show(truncate = false)

    // --- router: micro-batch + sinks
    val envelopes = sinks.RestBatcher.envelopes(
      routed.select("action", "message_id", "user_id"), "action", "message_id", size = 10)
    println("== REST envelopes ==")
    envelopes.show(truncate = false)
    sinks.WarehouseWriter.write(routed.drop("received_at", "original_timestamp", "sent_at", "timestamp"),
      s"$out/warehouse", Seq("action"))
    println("== warehouse dir == " +
      Files.list(Paths.get(s"$out/warehouse")).toArray.mkString(", "))
    println(sinks.WarehouseWriter.ddl(model.TableSchema("events", Seq(
      model.SchemaField("message_id", "STRING", primaryKey = true),
      model.SchemaField("user_id", "STRING"),
      model.SchemaField("at", "TIMESTAMP"))), "postgres"))

    // --- warehouse history + journey analytics over the job ledger
    val ledger = Seq(
      (1L, "waiting", 1000L, 1L), (1L, "executing", 2000L, 2L),
      (1L, "failed", 3000L, 3L), (1L, "executing", 4000L, 4L),
      (1L, "succeeded", 5000L, 5L), (2L, "waiting", 1500L, 6L))
      .toDF("job_id", "status", "ts_ms", "sid")
    println("== SCD2 status history (closed versions + current) ==")
    operators.JobLedger.scd2History(ledger, "job_id", "status", "ts_ms", "sid")
      .orderBy("job_id", "version").show()

    // --- queue rotation: finished jobs compact, live jobs keep history
    val (snap, tail) = operators.JobLedger.rotate(ledger, "job_id", "status",
      "ts_ms", "sid", terminalValues = Seq("succeeded"), cutoffMs = 10000L)
    println("== rotated ledger (snapshot + live tail) ==")
    snap.withColumn("part", lit("snapshot"))
      .unionByName(tail.withColumn("part", lit("tail")))
      .orderBy("job_id", "ts_ms").show()

    // --- delivery acks → ledger states (the router response loop)
    val ackEnv = Seq(("powerbi", 0L, 3L), ("powerbi", 1L, 2L), ("keen", 0L, 4L))
      .toDF("dest", "batch_id", "n_in_batch")
    val ackRows = Seq(
      ("powerbi", 0L, 1, 503, 1000L), ("powerbi", 0L, 2, 200, 3000L),
      ("powerbi", 1L, 1, 404, 1000L))
      .toDF("dest", "batch_id", "attempt", "code", "ack_ms")
    println("== ack ledger (succeeded / aborted / waiting) ==")
    operators.Router.ackLedger(ackEnv, ackRows, Seq("dest", "batch_id"),
        "attempt", "code", "ack_ms", maxRetry = 3, baseBackoffMs = 1000L)
      .orderBy("dest", "batch_id").show()

    // --- skew tooling + format catalogue
    val skewed = spark.range(0, 1000).select(
      when(col("id") % 100 === 0, "cold").otherwise("hot").as("k"),
      col("id"), (col("id") % 7).cast("double").as("v"))
    println("== salted aggregation (hot key spread over shards) ==")
    operators.Salting.saltedAgg(skewed, "k", "v", "id").orderBy("k").show()
    routed.select("message_id", "user_id", "action")
      .write.mode("overwrite").option("header", "true").csv(s"$out/csv")
    println("== catalog csv read-back == rows=" +
      sources.CatalogReader.csv(spark, s"$out/csv").count())

    // --- LLM corpus curation: repetition stats → funnel → span dedup
    val corpus = Seq(
      (1L, "the cat sat on the mat and the cat sat on the mat again", "en"),
      (2L, "one two three four five six seven eight nine ten eleven twelve", "en"),
      (3L, "the cat sat on the mat and then it left quietly today", "en"),
      (4L, "der hund lief schnell", "de"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"),
        split(col("text"), " ").as("t"))
    println("== repetition stats (native kernel) ==")
    corpus.select(col("doc_id"),
      functions.TextFunctions.repetitionStats(col("t"), 2, 3).as("rep"))
      .select("doc_id", "rep.top_gram", "rep.top_cnt", "rep.dup_covered")
      .show(truncate = false)
    println("== curation funnel ==")
    operators.FilterChain.funnel(corpus, Seq(
      "length" -> (size(col("t")) >= 5),
      "language" -> (col("lang") === "en"))).show(truncate = false)
    println("== cross-doc duplicate spans (ExactSubstr-lite) ==")
    operators.Dedup.crossDocSpanCoverage(corpus, "doc_id", "text",
      k = 5, minDocs = 2).orderBy("doc_id").show(truncate = false)

    // --- mixing policy: temperature weights → deterministic epoch repeats
    val corpusSrc = corpus.withColumn("source", col("lang"))
    val rates = operators.Mixing.sourceRates(corpusSrc, "text", "source",
      tokenBudget = 120.0)
    println("== mixture weights + micro-rates (tokens^0.5 temperature) ==")
    rates.orderBy("source").show()
    val expanded = operators.Mixing.expandEpochs(corpusSrc, "text", "source", rates)
      .select(concat_ws("#", col("doc_id"), col("epoch")).as("row_id"),
        col("source"), col("text"))
    println("== epoch-expanded trainer rows == " + expanded.count())

    // --- trainer-facing export: deterministic shuffle → ordered shards
    sinks.ShardExport.export(expanded, "text", "row_id", "source",
      s"$out/export", shardSize = 2L)
    println("== training-shard export manifest (v" +
      sinks.AtomicSwapWriter.currentVersion(s"$out/export").get + ") ==")
    sinks.ShardExport.readManifest(spark, s"$out/export").orderBy("shard")
      .show(truncate = false)

    // --- streaming: same intake as a stream, sessionized
    val stream = sources.EventBatchReader.readStream(spark, s"$out/in")
      .select(
        abs(hash(col("user_id"))).cast("long").as("user_id"),
        col("event").as("event_type"),
        unix_millis(col("timestamp")).as("ts_ms"),
        lit(1.0d).as("value"))
    val sessions = streaming.StreamingPipeline.sessionize(stream, gapMs = 60000L)
    val q = sessions.writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    println("== streaming sessions (closed by gap) ==")
    spark.table("demo_sessions").show(truncate = false)

    spark.stop()
  }
}
