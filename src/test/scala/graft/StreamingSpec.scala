package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat_ws, min}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingPipeline

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Trigger.AvailableNow snapshots available data at start() — feed
  // the MemoryStream BEFORE starting each query.

  test("streaming sessionize closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "ts_ms", "value")
    val sessions = StreamingPipeline.sessionize(events, gapMs = 60000L, watermark = "0 seconds")

    // user 1: two events 9s apart (one session), then a 10-min jump
    // (in-stream gap close); user 2 advances the watermark. NB: an
    // event at exactly ts=0 would be dropped as late (== the initial
    // watermark), so timestamps start at 1000.
    input.addData(
      (1L, "click", 1000L, 1.0), (1L, "view", 10000L, 1.0),
      (1L, "click", 700000L, 1.0),
      (2L, "click", 2000000L, 1.0))

    val query = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val out = spark.table("sess_out").orderBy("user_id", "start_ms").collect()
    // the 2-event session must be closed (by in-stream gap); later
    // sessions may remain open in state
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(3) == 2L))
  }

  test("streaming SCD2 closed versions equal the batch history under sentinel punctuation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "ts_ms", "value")
    val hist = StreamingPipeline.scd2Stream(events,
      flushAfterMs = 3600000L, watermark = "0 seconds")

    val data = Seq(
      (1L, "a", 1000L, 1.0), (1L, "a", 2000L, 1.0), // run 1
      (1L, "b", 3000L, 1.0),                        // run 2
      (1L, "a", 4000L, 1.0),                        // run 3
      (2L, "x", 1500L, 1.0))
    val sentinelMs = 5000L
    // one sentinel per user closes every open real version in-stream
    input.addData(data ++ Seq(
      (1L, " s", sentinelMs, 0.0), (2L, " s", sentinelMs, 0.0)): _*)

    val q = hist.writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("scd2_out")
      .filter(!org.apache.spark.sql.functions.col("state").startsWith(" "))
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet

    // batch history over the same events; current rows close at the
    // sentinel timestamp in the streaming replay
    val batch = graft.operators.JobLedger.scd2History(
        data.toDF("user_id", "event_type", "ts_ms", "value"),
        "user_id", "event_type", "ts_ms", "ts_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) sentinelMs else r.getLong(4),
        r.getLong(6))).toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
  }

  test("streaming ack ledger: per-batch delivery state machine with terminal tombstone") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Long, Long)]
    val acks = input.toDF().toDF("dest", "batch_id", "attempt", "code", "ack_ms")
    val ledger = StreamingPipeline.ackLedgerStream(acks,
      maxRetry = 3, baseBackoffMs = 1000L, watermark = "0 seconds")
    val q = ledger.writeStream.format("memory").queryName("ack_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def batch(rows: (String, Long, Long, Long, Long)*): Unit = {
      input.addData(rows: _*); q.processAllAvailable()
    }
    // b0: 503 then 200 across micro-batches (recovery). Later batches
    // use strictly later ack times — the watermark from an earlier
    // micro-batch drops older event times as late.
    batch(("pbi", 0L, 1L, 503L, 1000L))
    batch(("pbi", 0L, 2L, 200L, 5000L),
      // b1: three 503s in one micro-batch → aborted at the ceiling
      ("pbi", 1L, 1L, 503L, 2000L), ("pbi", 1L, 2L, 503L, 3000L),
      ("pbi", 1L, 3L, 503L, 4000L),
      // b2: non-retryable 404 aborts immediately
      ("keen", 2L, 1L, 404L, 2000L))
    // late ack for terminal b0 inside the tombstone TTL: dropped
    batch(("pbi", 0L, 3L, 503L, 6000L))
    q.processAllAvailable(); q.stop()

    val out = spark.table("ack_out")
      .as[(String, Long, Long, Long, String, Long)].collect().toSet
    assert(out == Set(
      ("pbi", 0L, 1L, 503L, "waiting_retry", 1000L + 1000L),
      ("pbi", 0L, 2L, 200L, "succeeded", -1L),
      ("pbi", 1L, 1L, 503L, "waiting_retry", 2000L + 1000L),
      ("pbi", 1L, 2L, 503L, "waiting_retry", 3000L + 2000L),
      ("pbi", 1L, 3L, 503L, "aborted", -1L),
      ("keen", 2L, 1L, 404L, "aborted", -1L)), out.toString)
  }

  test("streaming SCD2 keeps version numbering monotone across timeout flushes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "ts_ms", "value")
    val hist = StreamingPipeline.scd2Stream(events,
      flushAfterMs = 1000L, watermark = "0 seconds")
    val q = hist.writeStream.format("memory").queryName("scd2_hwm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def batch(rows: (Long, String, Long, Double)*): Unit = {
      input.addData(rows: _*); q.processAllAvailable()
    }
    batch((1L, "a", 1000L, 1.0))          // open v1
    batch((2L, "x", 10000L, 1.0))         // watermark → 1000
    batch((2L, "x", 10001L, 1.0))         // watermark → 10000: u1 flushes v1
    batch((1L, "b", 20000L, 1.0))         // u1 resumes — must be v2, not v1
    batch((1L, " s", 30000L, 0.0))        // sentinel closes v2 in-stream
    q.processAllAvailable(); q.stop()

    val u1 = spark.table("scd2_hwm")
      .filter(org.apache.spark.sql.functions.col("user_id") === 1L)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    // v1 flushed as current (-1), v2 'b' closed by the sentinel — no
    // duplicate (user_id, version) keys after the flush
    assert(u1 == Set(
      (1L, 1L, "a", 1000L, -1L, 1L),
      (1L, 2L, "b", 20000L, 30000L, 1L)), u1.toString)
  }

  test("streaming funnel tracks ordered stages and flushes on sentinel") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "ts_ms", "value")
    val journeys = StreamingPipeline.funnelJourneyStream(events,
      flushAfterMs = 3600000L, watermark = "0 seconds")

    input.addData(
      // u1: full ordered funnel
      (1L, "view", 1000L, 1.0), (1L, "click", 2000L, 1.0),
      (1L, "purchase", 3000L, 1.0),
      // u2: click BEFORE any view — must not count; then view only
      (2L, "click", 1000L, 1.0), (2L, "view", 2000L, 1.0),
      // u3: view then purchase without click — purchase must not count
      (3L, "view", 1000L, 1.0), (3L, "purchase", 2000L, 1.0),
      (1L, " flush", 5000L, 0.0), (2L, " flush", 5000L, 0.0),
      (3L, " flush", 5000L, 0.0))

    val q = journeys.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("funnel_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1000L, 2000L, 3000L),
      (2L, 2000L, -1L, -1L),
      (3L, 1000L, -1L, -1L)), out.toString)
  }

  test("stream-static auth filter drops disabled writeKeys per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val events = input.toDF().toDF("write_key", "ts_ms")
    val enabled = Seq("wk-good", "wk-ok").toDF("write_key")
    val out = StreamingPipeline.authFilterStream(events, enabled, "write_key")

    input.addData(("wk-good", 1L), ("wk-bad", 2L), ("wk-ok", 3L), ("wk-good", 4L))

    val query = out.writeStream
      .format("memory").queryName("auth_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val keys = spark.table("auth_out").collect().map(_.getString(0))
    assert(keys.sorted.toSeq == Seq("wk-good", "wk-good", "wk-ok"))
  }

  test("config refresh: a writeKey revoked between micro-batches is gone next batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // mutable config source — the backendconfig poll target
    @volatile var enabledKeys = Seq("wk-a", "wk-b")
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val writer = StreamingPipeline.authFilterRefreshing(
      input.toDF().toDF("write_key", "ts_ms"),
      () => enabledKeys.toDF("write_key"), "write_key") { (df, batchId) =>
      df.collect().foreach(r => seen.synchronized {
        seen += ((batchId, r.getString(0))) })
    }

    input.addData(("wk-a", 1L), ("wk-b", 2L), ("wk-c", 3L))
    val query = writer.start()
    query.processAllAvailable()
    // revoke wk-b, enable wk-c — next batch must see the new config
    enabledKeys = Seq("wk-a", "wk-c")
    input.addData(("wk-a", 4L), ("wk-b", 5L), ("wk-c", 6L))
    query.processAllAvailable()
    query.stop()

    val byBatch = seen.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byBatch.size == 2, s"per-batch output: $byBatch")
    val batches = byBatch.keys.toSeq.sorted
    assert(byBatch(batches.head) == Seq("wk-a", "wk-b"))
    assert(byBatch(batches.last) == Seq("wk-a", "wk-c"))
  }

  test("config-store hot reload: a status UPDATE in the database lands on the next micro-batch") {
    // the reference's full cycle — portal writes backendconfig
    // (configdb.go UPDATE), the server's poll loop hot-applies — run
    // end to end: authFilterRefreshing re-reads the DURABLE Derby
    // config store at each micro-batch boundary, so a revocation
    // between batches takes effect with no query restart
    val url = "jdbc:derby:memory:graftconfig2;create=true"
    graft.sources.ConfigStore.bootstrap(url)
    graft.sources.ConfigStore.insertSource(url, 1L, "s-a", 1, "wk-a", 1, "{}")
    graft.sources.ConfigStore.insertSource(url, 2L, "s-b", 1, "wk-b", 1, "{}")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val writer = StreamingPipeline.authFilterRefreshing(
      input.toDF().toDF("write_key", "ts_ms"),
      () => graft.sources.ConfigStore.enabledWriteKeys(spark, url),
      "write_key") { (df, batchId) =>
      df.collect().foreach(r => seen.synchronized {
        seen += ((batchId, r.getString(0))) })
    }

    input.addData(("wk-a", 1L), ("wk-b", 2L), ("wk-x", 3L))
    val query = writer.start()
    query.processAllAvailable()
    graft.sources.ConfigStore.setSourceStatus(url, 2L, "disabled")
    input.addData(("wk-a", 4L), ("wk-b", 5L))
    query.processAllAvailable()
    query.stop()

    val byBatch = seen.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byBatch.size == 2, s"per-batch output: $byBatch")
    val batches = byBatch.keys.toSeq.sorted
    assert(byBatch(batches.head) == Seq("wk-a", "wk-b"))
    assert(byBatch(batches.last) == Seq("wk-a"))
  }

  test("stream-stream interval join matches views in the hour before purchase") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Long, Long)]
    val views = MemoryStream[(Long, Long, Long)]
    val joined = StreamingPipeline.intervalJoinStream(
      purchases.toDF().toDF("user_id", "event_id", "ts_ms"),
      views.toDF().toDF("user_id", "event_id", "ts_ms"),
      "user_id", beforeMs = 3600000L, watermark = "1 minute")

    // purchase at t=2h; views at 1.5h (in band), 30m (out), other user
    purchases.addData((1L, 100L, 7200000L))
    views.addData((1L, 200L, 5400000L), (1L, 201L, 1800000L), (2L, 202L, 5400000L))

    val query = joined.writeStream
      .format("memory").queryName("ij_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("ij_out").collect()
    assert(rows.map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet ==
      Set((100L, 200L)))
  }

  test("streaming dedup keeps first event per id within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double)]
    val events = input.toDF().toDF("event_id", "event_type", "ts_ms", "value")
    val deduped = StreamingPipeline.dedupStream(events, Seq("event_id"),
      watermark = "1 minute")

    // id 1 arrives three times (different payloads), id 2 once
    input.addData(
      (1L, "click", 1000L, 1.0), (1L, "click", 2000L, 2.0),
      (2L, "view", 3000L, 3.0), (1L, "click", 4000L, 4.0))

    val query = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("dedup_out").orderBy("event_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // keep-FIRST: id 1 survives with its earliest payload
    assert(rows(0).getDouble(3) == 1.0)
  }

  test("streaming fanout counts aggregate per window and type") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "ts_ms", "value")
    val counts = StreamingPipeline.fanoutCounts(events, "1 minute", "5 minutes")

    input.addData(
      (1L, "click", 0L, 2.0), (2L, "click", 1000L, 3.0), (3L, "view", 2000L, 4.0))

    val query = counts.writeStream
      .format("memory").queryName("fan_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("fan_out").collect()
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 2L)
    assert(click.getDouble(3) == 5.0)
  }

  test("streaming funnel counts equal the batch funnel after the last batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val stages = Seq(
      "len" -> (col("n") >= 10),
      "lang" -> (col("lang") === "en"))
    val data = Seq((1L, 5, "en"), (2L, 50, "en"), (3L, 50, "de"),
      (4L, 50, "en"), (5L, 9, "de"))

    val input = MemoryStream[(Long, Int, String)]
    val docs = input.toDF().toDF("id", "n", "lang")
    val query = StreamingPipeline.funnelStream(docs, stages).writeStream
      .format("memory").queryName("funnel_stream").outputMode("complete")
      .start()
    // two micro-batches — the funnel must accumulate across them
    input.addData(data.take(2): _*)
    query.processAllAvailable()
    input.addData(data.drop(2): _*)
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("funnel_stream").collect().last
    val batch = data.toDF("id", "n", "lang")
      .agg(graft.operators.FilterChain.passCounts(stages).head,
        graft.operators.FilterChain.passCounts(stages).tail: _*)
      .collect().head
    assert(streamed.toSeq == batch.toSeq)
    assert(batch.toSeq == Seq(5L, 3L, 2L)) // total, past len, past len+lang
  }

  test("idempotent sink: replayed batch overwrites its partition, no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_sink").toString + "/out"

    // drive once through a real stream
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a"), (2L, "b"))
    val query = StreamingPipeline.idempotentSink(
      input.toDF().toDF("id", "v"), dir)
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    assert(spark.read.parquet(dir).count() == 2L)

    // simulate at-least-once redelivery of batch 0 — count unchanged
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    StreamingPipeline.deliverBatch(batch, 0L, dir)
    StreamingPipeline.deliverBatch(batch, 0L, dir)
    assert(spark.read.parquet(dir).count() == 2L)
    // a NEW batch appends its own partition
    StreamingPipeline.deliverBatch(Seq((3L, "c")).toDF("id", "v"), 1L, dir)
    assert(spark.read.parquet(dir).count() == 3L)
  }

  test("streaming retry state machine: backoff doubles, abort at maxRetry, success clears") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPipeline.AttemptEvt
    val input = MemoryStream[AttemptEvt]
    val decisions = StreamingPipeline.retryBackoffStream(
      input.toDS(), maxRetry = 3, baseBackoffMs = 500L)

    input.addData(
      // job 1: two failures then success
      AttemptEvt(1L, 1000L, ok = false), AttemptEvt(1L, 2000L, ok = false),
      AttemptEvt(1L, 3000L, ok = true),
      // job 2: three failures -> abort on the third
      AttemptEvt(2L, 1000L, ok = false), AttemptEvt(2L, 2000L, ok = false),
      AttemptEvt(2L, 3000L, ok = false))

    val query = decisions.writeStream
      .format("memory").queryName("retry_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("retry_out")
      .orderBy("job_id", "attempts", "action").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 1, "retry", 1500L),   // 1000 + 500·2⁰
      (1L, 2, "done", -1L),
      (1L, 2, "retry", 3000L),   // 2000 + 500·2¹
      (2L, 1, "retry", 1500L),
      (2L, 2, "retry", 3000L),
      (2L, 3, "abort", -1L)))
  }

  test("retry abort is terminal: post-abort attempts are dropped, state tombstoned") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPipeline.AttemptEvt
    val input = MemoryStream[AttemptEvt]
    val decisions = StreamingPipeline.retryBackoffStream(
      input.toDS(), maxRetry = 2, baseBackoffMs = 500L)

    // batch 1: two failures -> retry then abort
    input.addData(AttemptEvt(9L, 1000L, ok = false), AttemptEvt(9L, 2000L, ok = false))
    val query = decisions.writeStream
      .format("memory").queryName("retry_term_out").outputMode("append")
      .start()
    query.processAllAvailable()
    // batch 2: the poison-pill job fails again, and even "succeeds" —
    // aborted is terminal (jobsdb AbortedState), both must be dropped
    input.addData(AttemptEvt(9L, 3000L, ok = false), AttemptEvt(9L, 4000L, ok = true))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("retry_term_out").orderBy("attempts").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.toSeq == Seq((9L, 1, "retry"), (9L, 2, "abort")))
  }

  test("streaming latest-status ledger in update mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    val status = input.toDF().toDF("job_id", "state", "attempt", "ts_ms")
    val latest = StreamingPipeline.latestStatus(status)

    input.addData((7L, "waiting", 1L, 100L), (7L, "failed", 2L, 200L),
      (7L, "succeeded", 3L, 300L))

    val query = latest.writeStream
      .format("memory").queryName("ledger_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("ledger_out").collect()
    assert(rows.length == 1 && rows(0).getString(1) == "succeeded")
  }

  test("streaming contamination gate: bloom prefilter + exact join equals the batch audit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.functions._
    // train = even docs' fingerprints (static side), eval docs arrive
    // as the stream; the gated output must equal the plain exact-join
    // audit — the bloom is invisible in the RESULT, only in the plan
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
    val train = all.filter(col("doc_id") % 2 === 0)
    val evalDocs = all.filter(col("doc_id") % 2 === 1)
    val want = evalDocs.join(
        train.groupBy("fp").agg(count(lit(1)).as("n_train_matches")), "fp")
      .select("doc_id", "n_train_matches").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "corpus must contain cross-split exact dups")

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "fp")
    val gated = StreamingPipeline.contamGateStream(stream, "fp", train,
      expectedKeys = train.count())
    input.addData(evalDocs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    val q = gated.writeStream.format("memory").queryName("contam_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("contam_gate").select("doc_id", "n_train_matches")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
  }

  test("streaming LSH near-dup emits the batch pair set — cross-micro-batch, at-least-once") {
    implicit val sqlCtx = spark.sqlContext
    // the REAL corpus, fed as a stream in two halves: pairs whose two
    // docs arrive in DIFFERENT micro-batches must still be found (the
    // bucket membership is the state), and the deduped emission must
    // equal Dedup.minhashLsh's pair set on the same docs exactly
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.length > 20)
    val (first, second) = docs.splitAt(docs.length / 2)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val pairs = StreamingPipeline.lshNearDupStream(stream, "doc_id", "text",
      shingleK = 3, numPerms = 16, rowsPerBand = 4)

    // ONE continuous query, TWO micro-batches — a fresh query would
    // replay the MemoryStream from offset 0 with fresh state and the
    // cross-batch claim would be vacuous
    val query = pairs.writeStream.format("memory").queryName("lsh_stream")
      .outputMode("append").start()
    input.addData(first.toSeq)
    query.processAllAvailable()
    val afterFirst = spark.table("lsh_stream").count()
    input.addData(second.toSeq)
    query.processAllAvailable()
    query.stop()

    val allRows = spark.table("lsh_stream").collect()
    assert(afterFirst < allRows.length, "second micro-batch must add pairs")
    val streamed = allRows.map(r => (r.getLong(0), r.getLong(1))).toSet

    val batchDf = spark.createDataFrame(docs.toSeq).toDF("doc_id", "text")
    val want = graft.operators.Dedup.minhashLsh(batchDf, "doc_id", "text",
      shingleK = 3, numPerms = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == want, s"streamed=${streamed.size} batch=${want.size} " +
      s"onlyStream=${(streamed -- want).take(5)} onlyBatch=${(want -- streamed).take(5)}")
    assert(want.nonEmpty, "corpus should contain near-dups")
    // at least one pair spans the two halves — the stateful cross-
    // batch detection actually fired
    val firstIds = first.map(_._1).toSet
    assert(streamed.exists(p => firstIds.contains(p._1) != firstIds.contains(p._2)),
      "expected a cross-micro-batch pair")
  }

  test("streaming LSH bootstrapped from a persisted band table matches full recompute") {
    implicit val sqlCtx = spark.sqlContext
    // corpus refresh without replay: the old corpus exists only as its
    // persisted band table (minhashLshDelta's artifact); the stream
    // carries ONLY the new docs, state bootstraps from the snapshot,
    // and old-pairs ∪ streamed-pairs must equal a full recompute
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val old = all.filter($"doc_id" % 3 =!= 0L)
    val fresh = all.filter($"doc_id" % 3 === 0L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val oldBands = graft.operators.Dedup.lshBands(
      graft.operators.Dedup.minhashSignatures(old, "doc_id", "text", 3, 16, None),
      "doc_id", 16, 4).localCheckpoint(eager = true)

    val input = MemoryStream[(Long, String)]
    val pairs = StreamingPipeline.lshNearDupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      initialBands = Some(oldBands))
    val query = pairs.writeStream.format("memory").queryName("lsh_boot")
      .outputMode("append").start()
    input.addData(fresh.toSeq)
    query.processAllAvailable()
    query.stop()

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = spark.table("lsh_boot")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldPairs = pairSet(graft.operators.Dedup.candidatePairs(oldBands, "doc_id"))
    val full = pairSet(graft.operators.Dedup.minhashLsh(all, "doc_id", "text"))
    val freshIds = fresh.map(_._1).toSet
    assert(streamed.nonEmpty &&
      streamed.forall(p => freshIds.contains(p._1) || freshIds.contains(p._2)),
      "every streamed pair must involve a new doc")
    assert((oldPairs ++ streamed) == full,
      s"old=${oldPairs.size} streamed=${streamed.size} full=${full.size} " +
        s"missing=${(full -- oldPairs -- streamed).take(5)} " +
        s"extra=${((oldPairs ++ streamed) -- full).take(5)}")
  }

  test("streaming LSH idle-bucket TTL drops state: bounded rows, recent dups still found") {
    implicit val sqlCtx = spark.sqlContext
    def doc(id: Long, seed: String) =
      (id, s"$seed one two three four five six seven eight nine ten")
    // Under ProcessingTimeTimeout the engine's no-data timer batches
    // ALWAYS "require another batch" (FlatMapGroupsWithStateExec
    // .shouldRunAnotherBatch is unconditionally true for that conf),
    // so noNewData never latches and processAllAvailable() hangs
    // forever. Disable no-data batches for this test: timers then
    // fire inside ordinary data batches — which an always-on crawl
    // has continuously anyway.
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prior = spark.conf.get(noData)
    spark.conf.set(noData, "false")
    try {
    val input = MemoryStream[(Long, String)]
    val pairs = StreamingPipeline.lshNearDupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      stateTtlMs = Some(3000L))
    val query = pairs.writeStream.format("memory").queryName("lsh_ttl")
      .outputMode("append").start()
    // batch 1: doc 1 enters state — 16 perms / 4 rows = 4 band buckets
    input.addData(doc(1L, "alpha"))
    query.processAllAvailable()
    val stateAfter1 = query.lastProgress.stateOperators.head.numRowsTotal
    assert(stateAfter1 == 4L, s"doc 1 must occupy its 4 band buckets: $stateAfter1")
    // idle past the TTL, then land an UNRELATED doc: that data batch
    // fires the expired timers of doc 1's (data-less) buckets
    Thread.sleep(3500L)
    input.addData(doc(50L, "zeta wholly different vocabulary in here"))
    query.processAllAvailable()
    val stateAfterExpiry = query.lastProgress.stateOperators.head.numRowsTotal
    assert(stateAfterExpiry == 4L,
      s"doc 1's buckets must expire, leaving only the filler's: $stateAfterExpiry")
    // doc 2 is a near-dup of doc 1 — but doc 1 left the horizon, so
    // NO pair fires (the documented dedup-against-recent trade)...
    input.addData(doc(2L, "alpha"))
    query.processAllAvailable()
    val dupAfterExpiry = spark.table("lsh_ttl")
      .filter("id1 = 1 and id2 = 2").count()
    // ...while a dup arriving WITHIN the TTL still pairs instantly
    input.addData(doc(3L, "alpha"))
    query.processAllAvailable()
    val freshDup = spark.table("lsh_ttl").filter("id1 = 2 and id2 = 3").count()
    query.stop()
    assert(dupAfterExpiry == 0L,
      "expired buckets must not pair (dedup-against-recent horizon)")
    assert(freshDup > 0L, "a dup within the TTL must still pair")
    } finally spark.conf.set(noData, prior)
  }

  // shared trained codebooks for the pqDedupStream suite — one Lloyd
  // run on the real corpus
  private lazy val pqBooks = graft.operators.Similarity.pqCodebooks(
    spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding",
    m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4)

  private def batchPqDrops(emb: org.apache.spark.sql.DataFrame) =
    batchDropsFrom(graft.operators.Similarity.pqCodes(emb, "vec_id",
      "embedding", pqBooks), pqBooks.indices.map(i => s"code_$i"))

  /** the d_pq_semdedup batch semantics over an arbitrary codes frame:
    * per occupied multi-member key, keeper = min id, everyone else
    * drops. Key columns parameterized so the residual-index variant
    * (cell + codes) shares the logic. */
  private def batchDropsFrom(codes: org.apache.spark.sql.DataFrame,
                             cell: Seq[String]) = {
    val keep = codes.groupBy(cell.map(col): _*)
      .agg(min(col("vec_id")).as("keep_id"))
    codes.join(keep, cell).filter($"vec_id" =!= $"keep_id")
      .select(concat_ws("|", cell.map(col): _*).as("cell_key"),
        $"keep_id", $"vec_id".as("drop_id"))
  }

  test("streaming PQ dedup emits the batch drop set — cross-micro-batch, keeper demotion included") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val rows = emb.orderBy($"vec_id".desc).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // LARGE ids stream first: the true (minimum) keeper of every
    // multi-member cell arrives in a LATER batch, so the demotion
    // path (old keeper emitted as the drop) is actually exercised
    val (first, second) = rows.splitAt(rows.length / 2)

    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val query = StreamingPipeline
      .pqDedupStream(stream, "vec_id", "embedding", pqBooks)
      .writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    input.addData(first.toSeq)
    query.processAllAvailable()
    val afterFirst = spark.table("pq_stream").count()
    input.addData(second.toSeq)
    query.processAllAvailable()
    query.stop()
    assert(afterFirst < spark.table("pq_stream").count(),
      "second micro-batch must add drops")

    val em = spark.table("pq_stream")
    val want = batchPqDrops(emb).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // drop set parity
    assert(em.select("cell_key", "drop_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      want.map(t => (t._1, t._3)).toSet)
    // the final keeper reconstructs as min emitted keep_id per cell
    val keepers = em.groupBy("cell_key").agg(min("keep_id").as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    want.foreach { case (cellKey, keep, _) =>
      assert(keepers(cellKey) == keep,
        s"cell $cellKey reconstructed keeper ${keepers(cellKey)} != batch $keep")
    }
    // at least one demotion happened (a keep_id emitted that is not
    // that cell's final keeper) — the ordering above guarantees the
    // corpus has one if any cell spans the halves
    assert(em.collect().exists(r =>
      keepers(r.getString(0)) != r.getLong(1)),
      "expected a keeper demotion across micro-batches")
  }

  test("streaming PQ dedup bootstrapped from the AnnIndex codes table: snapshot + stream == full batch") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val old = emb.filter($"vec_id" % 3 =!= 0L)
    val fresh = emb.filter($"vec_id" % 3 === 0L).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // the persisted artifact IS the bootstrap source: the bucketed
    // codes table AnnIndex wrote for the old corpus — RESIDUAL codes
    // under (cents, residual books), so the stream must code in the
    // same domain (the `cents` parameter) and the batch comparator
    // keys on (cell, codes)
    val cents = graft.operators.Similarity.kmeansCentroids(old, "vec_id",
      "embedding", k = 8, iters = 4, trainMod = 4)
    val resBooks = graft.operators.Similarity.pqResidualCodebooks(old,
      "vec_id", "embedding", cents, m = 4, ks = 8, dim = 64,
      iters = 4, trainMod = 4)
    val dir = tempDir("pqboot").toString
    graft.operators.AnnIndex.write(old, "vec_id", "embedding", dir,
      "pq_boot_codes", cents, resBooks)
    val (codes, _) = graft.operators.AnnIndex.load(spark, dir, "pq_boot_codes")

    val input = MemoryStream[(Long, Seq[Float])]
    val query = StreamingPipeline.pqDedupStream(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        resBooks, initialCodes = Some(codes), cents = Some(cents))
      .writeStream.format("memory").queryName("pq_boot")
      .outputMode("append").start()
    input.addData(fresh.toSeq)
    query.processAllAvailable()
    query.stop()

    def residDrops(df: org.apache.spark.sql.DataFrame) =
      batchDropsFrom(graft.operators.Similarity.pqCodesResidual(df,
        "vec_id", "embedding", cents, resBooks),
        "cell" +: resBooks.indices.map(i => s"code_$i"))
    val streamed = spark.table("pq_boot").select("cell_key", "drop_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val oldDrops = residDrops(old).select("cell_key", "drop_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fullDrops = residDrops(emb).select("cell_key", "drop_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // snapshot-internal drops are NOT re-emitted; the union with the
    // persisted batch output equals a full recompute (delta contract)
    assert(streamed.nonEmpty)
    assert((oldDrops ++ streamed) == fullDrops,
      s"old=${oldDrops.size} streamed=${streamed.size} full=${fullDrops.size} " +
        s"missing=${(fullDrops -- oldDrops -- streamed).take(5)} " +
        s"extra=${((oldDrops ++ streamed) -- fullDrops).take(5)}")
  }

  test("streaming PQ dedup idle-cell TTL: one long per cell, expired cells leave the horizon") {
    implicit val sqlCtx = spark.sqlContext
    // all three docs share ONE vector → one PQ cell; state is exactly
    // one row (the keeper long) while occupied
    val vec = spark.read.parquet(s"$sf/embeddings.parquet")
      .orderBy("vec_id").select("embedding").head().getSeq[Float](0)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prior = spark.conf.get(noData)
    spark.conf.set(noData, "false")
    try {
      val input = MemoryStream[(Long, Seq[Float])]
      val query = StreamingPipeline.pqDedupStream(
          input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          pqBooks, stateTtlMs = Some(3000L))
        .writeStream.format("memory").queryName("pq_ttl")
        .outputMode("append").start()
      input.addData((1L, vec))
      query.processAllAvailable()
      assert(query.lastProgress.stateOperators.head.numRowsTotal == 1L,
        "one occupied cell = one state row")
      Thread.sleep(3500L)
      // unrelated filler fires the expired timer inside a data batch
      input.addData((50L, vec.map(v => -v)))
      query.processAllAvailable()
      // doc 2 lands in doc 1's cell AFTER expiry: no drop (doc 1 left
      // the horizon — doc 2 is the new keeper) ...
      input.addData((2L, vec))
      query.processAllAvailable()
      val afterExpiry = spark.table("pq_ttl").filter("drop_id = 2").count()
      // ... while doc 3 within the TTL drops against doc 2 instantly
      input.addData((3L, vec))
      query.processAllAvailable()
      val freshDrop = spark.table("pq_ttl")
        .filter("keep_id = 2 and drop_id = 3").count()
      query.stop()
      assert(afterExpiry == 0L,
        "expired cell must not drop (dedup-against-recent horizon)")
      assert(freshDrop == 1L, "a dup within the TTL must drop instantly")
    } finally spark.conf.set(noData, prior)
  }

  test("autoFilesPerTrigger: trigger count bounded at any volume, 1 file/trigger at gate scale") {
    import StreamingPipeline.autoFilesPerTrigger
    assert(autoFilesPerTrigger(0) == 1)
    assert(autoFilesPerTrigger(1) == 1)
    assert(autoFilesPerTrigger(16) == 1)   // gate scale: every boundary
    assert(autoFilesPerTrigger(17) == 2)
    assert(autoFilesPerTrigger(100) == 7)  // the 100× replica: 15 triggers
    // the bound itself: ceil(n / mfpt) ≤ targetBatches for any n —
    // per-trigger fixed cost stops scaling with file count
    for (n <- Seq(1L, 5L, 16L, 17L, 99L, 100L, 1000L, 12345L, 1000000L)) {
      val m = autoFilesPerTrigger(n)
      assert((n + m - 1) / m <= 16, s"n=$n mfpt=$m")
    }
    intercept[IllegalArgumentException](autoFilesPerTrigger(-1))
    intercept[IllegalArgumentException](autoFilesPerTrigger(10, 0))
  }
}
