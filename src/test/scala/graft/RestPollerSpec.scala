package graft

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatter

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{EventBatchReader, HighWaterMark, RestPoller}

/** The live REST polling source against a scripted paged history
  * server — the reference's camunda extract loop (extract.go:40
  * camundaHistoryRest + gateway.go:246 ticker worker) run wire-level:
  * windows advance through the durable mark, pages are fetched until a
  * short page, a failed window replays (at-least-once), and spooled
  * envelopes land in the stream through the SAME EventBatchReader the
  * batch gate verifies. */
class RestPollerSpec extends SparkSpec {

  /** Scripted /history/{api} endpoint: items keyed by a startTime
    * minute; serves the startedAfter/startedBefore variant from that
    * key, the finished* variant always empty (like a camunda history
    * with only running instances). Records every request's query
    * string; can fail the next N requests with a 500. */
  private class HistoryServer(api: String, itemsByMinute: Map[Long, Seq[String]]) {
    val requests = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")

    server.createContext(s"/history/$api", { ex =>
      val q = ex.getRequestURI.getRawQuery
      requests.add(q)
      def param(k: String): Option[String] =
        q.split("&").collectFirst {
          case kv if kv.startsWith(k + "=") =>
            java.net.URLDecoder.decode(kv.drop(k.length + 1), StandardCharsets.UTF_8)
        }
      val body =
        if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) { ex.sendResponseHeaders(500, -1); null }
        else {
          val window = for {
            aft <- param("startedAfter"); bef <- param("startedBefore")
          } yield (Instant.from(fmt.parse(aft)).toEpochMilli,
            Instant.from(fmt.parse(bef)).toEpochMilli)
          val all = window match {
            case Some((f, t)) => itemsByMinute.toSeq.sortBy(_._1)
              .filter { case (m, _) => m >= f && m < t }.flatMap(_._2)
            case None => Seq.empty // finished* variant: nothing
          }
          val first = param("firstResult").map(_.toInt).getOrElse(0)
          val max = param("maxResults").map(_.toInt).getOrElse(100)
          "[" + all.slice(first, first + max).mkString(",") + "]"
        }
      if (body != null) {
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    def base: String = s"http://localhost:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private def item(id: String, name: String) =
    s"""{"messageId":"$id","userId":"u1","event":"$name","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:00:00.000Z"}"""

  private def tmpDir(prefix: String) =
    tempDir(prefix).toString

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z, minute-aligned

  test("config parse matches the reference's CamundaSourceConfig semantics") {
    val cfg = RestPoller.configFromJson(
      """{"url":"http://cam:8080/engine-rest","count":"2","interval":"1",
        |"history":"3","activity-instance":"true","process-instance":"true",
        |"task":"false"}""".stripMargin)
    assert(cfg.url == "http://cam:8080/engine-rest")
    assert(cfg.apis == Seq("process-instance", "activity-instance"))
    assert(cfg.pageSize == 2)
    assert(cfg.stepMs == 60000L && cfg.historyMs == 180000L)
    intercept[IllegalArgumentException](RestPoller.configFromJson("{}"))
  }

  test("windows advance through the durable mark; pages fetched until short page") {
    // 3 items in minute 0, 1 item in minute 1, pageSize 2 → minute-0
    // window needs 2 started* pages (2 + 1 short)
    val srv = new HistoryServer("activity-instance", Map(
      T0 -> Seq(item("a1", "start"), item("a2", "run"), item("a3", "end")),
      T0 + 60000L -> Seq(item("a4", "start"))))
    val state = tmpDir("graft_rp_state"); val spool = tmpDir("graft_rp_spool")
    try {
      val cfg = RestPoller.configFromJson(
        s"""{"url":"${srv.base}","count":"2","interval":"1","history":"3","activity-instance":"true"}""")
      // now = T0+3min → defaultStart = now-history = T0; 3 one-minute windows
      val polled = RestPoller.catchUp(state, "cam", spool, cfg, "wk-rest",
        nowMs = T0 + 180000L)
      assert(polled.map(w => (w._1, w._2, w._3)) == Seq(
        (T0, T0 + 60000L, 3), (T0 + 60000L, T0 + 120000L, 1),
        (T0 + 120000L, T0 + 180000L, 0)))
      assert(HighWaterMark.read(state, "cam").contains(T0 + 180000L))
      // caught up: nothing more to poll, no further requests
      val before = srv.requests.size
      assert(RestPoller.pollOnce(state, "cam", spool, cfg, "wk-rest",
        nowMs = T0 + 180000L).isEmpty)
      assert(srv.requests.size == before)

      // paging accounting for the minute-0 window's started* variant:
      // firstResult 0 (full page of 2) then 2 (short page of 1)
      val w0started = srv.requests.toArray.map(_.toString)
        .filter(q => q.contains("startedAfter") && q.contains("firstResult"))
        .filter(q => q.contains(s"firstResult=0") || q.contains(s"firstResult=2"))
      assert(srv.requests.toArray.map(_.toString)
        .count(_.contains("firstResult=2")) == 1, w0started.mkString("\n"))

      // only non-empty windows spool an envelope (minute-2 window: none)
      val files = new java.io.File(spool).listFiles().filter(_.getName.endsWith(".json"))
      assert(files.length == 2)
      // every spooled item carries its kassetteType tag (extract.go:118)
      files.foreach { f =>
        val body = new String(java.nio.file.Files.readAllBytes(f.toPath))
        assert(body.contains(""""kassetteType":"activity-instance""""))
      }

      // spool-then-stream: the SAME envelope reader as the batch gate
      val events = EventBatchReader.explodeBatches(
        spark.readStream.text(spool).withColumnRenamed("value", "raw"), "raw")
      val q = events.writeStream.format("memory").queryName("rest_poll")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("rest_poll").select("message_id", "write_key")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set("a1", "a2", "a3", "a4").map(_ -> "wk-rest"))
    } finally srv.stop()
  }

  test("every item of a pretty-printed poll response reaches readStream") {
    def pretty(id: String) =
      s"""{\n  "messageId": "$id",\r\n  "userId": "u1",\n  "event": "run"\n}"""
    val srv = new HistoryServer("task", Map(T0 -> Seq(pretty("p1"), pretty("p2"))))
    val state = tmpDir("graft_rp_state5"); val spool = tmpDir("graft_rp_spool5")
    try {
      val cfg = RestPoller.configFromJson(
        s"""{"url":"${srv.base}","count":"10","interval":"1","history":"1","task":"true"}""")
      assert(RestPoller.pollOnce(state, "pretty", spool, cfg, "wk-rest",
        nowMs = T0 + 60000L).contains((T0, T0 + 60000L, 2)))
      val q = EventBatchReader.readStream(spark, spool)
        .writeStream.format("memory").queryName("rest_pretty")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("rest_pretty").select("message_id", "kassette_type")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set("p1", "p2").map(_ -> "task"))
    } finally srv.stop()
  }

  test("envelope escapes a hostile write key — the spool stream parses it back intact") {
    val wk = "k\"ey\\with\ncontrol"
    val body = graft.sources.RestPoller.envelope(wk,
      Seq("""{"id":"x"}"""), 1700000000000L)
    val spool = tmpDir("graft_rp_esc")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(spool, "rest_esc_1.json"),
      body.getBytes("UTF-8"))
    val rows = EventBatchReader.read(spark, spool)
      .select("write_key").collect().map(_.getString(0))
    assert(rows.toSeq == Seq(wk),
      s"write key must round-trip through the envelope: $rows")
  }

  test("one poll worker per enabled config-store source with a url (gateway.go:226)") {
    val srv = new HistoryServer("activity-instance",
      Map(T0 -> Seq(item("s1", "start"), item("s2", "end"))))
    val state = tmpDir("graft_rp_state3"); val spool = tmpDir("graft_rp_spool3")
    val dbUrl = "jdbc:derby:memory:graftrest1;create=true"
    try {
      graft.sources.ConfigStore.bootstrap(dbUrl)
      // a REST source, a plain event source (no url), a DISABLED REST
      // source — only the first starts a worker
      graft.sources.ConfigStore.insertSource(dbUrl, 7L, "cam-live", 13,
        "wk-cam", 1,
        s"""{"url":"${srv.base}","count":"10","interval":"1","history":"1","activity-instance":"true"}""")
      graft.sources.ConfigStore.insertSource(dbUrl, 8L, "web", 1, "wk-web", 1, "{}")
      graft.sources.ConfigStore.insertSource(dbUrl, 9L, "cam-dead", 13,
        "wk-dead", 1, s"""{"url":"${srv.base}","count":"10","interval":"1","history":"1","activity-instance":"true"}""",
        status = "disabled")
      // (a NULL config/write_key row can't exist here — the DDL says
      // NOT NULL, matching the reference's configdb.go:128 — but
      // pollStoreSources still guards against an external store
      // without the constraint: Option(..).exists skips, not NPEs)

      val polled = graft.sources.RestPoller.pollStoreSources(spark, dbUrl,
        state, spool, nowMs = T0 + 60000L)
      assert(polled.map(_._1) == Seq("cam-live"))
      assert(polled.head._2 == Seq((T0, T0 + 60000L, 2)))
      assert(HighWaterMark.read(state, "src_7").contains(T0 + 60000L))
      assert(HighWaterMark.read(state, "src_9").isEmpty)
      // the spooled envelope carries the STORE row's write key
      val events = EventBatchReader.read(spark, spool)
        .select("message_id", "write_key").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(events == Set("s1" -> "wk-cam", "s2" -> "wk-cam"))
    } finally srv.stop()
  }

  test("polled REST source drives the full live loop: poll → spool → route → deliver, api tag on the wire") {
    // the reference's WORKER-sourced cycle end-to-end: gateway.go:246
    // ticker worker polls the history endpoint, ProcessWorkerRequest
    // feeds the intake queue, the processor fans out on the configdb
    // routing dim, the router POSTs to the destination — and the
    // kassetteType tag stamped at extraction (extract.go:118) must be
    // readable in the bytes the destination RECEIVES, because the
    // warehouse handler routes on it
    val srv = new HistoryServer("process-instance",
      Map(T0 -> Seq(item("pi1", "start"), item("pi2", "end"))))
    val state = tmpDir("graft_rp_state4"); val spool = tmpDir("graft_rp_spool4")
    val dbUrl = "jdbc:derby:memory:graftrest2;create=true"
    val bodies = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val dests = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    dests.createContext("/wh", { e =>
      bodies.merge("/wh", new String(e.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8), (a, b) => a + b)
      e.sendResponseHeaders(200, -1); e.close()
    })
    dests.start()
    try {
      graft.sources.ConfigStore.bootstrap(dbUrl)
      graft.sources.ConfigStore.insertSource(dbUrl, 7L, "cam-live", 13,
        "wk-cam", 1,
        s"""{"url":"${srv.base}","count":"10","interval":"1","history":"1","process-instance":"true"}""")
      graft.sources.ConfigStore.insertDestination(dbUrl, 1L, "warehouse", 2, 1, "{}")
      graft.sources.ConfigStore.insertConnection(dbUrl, 1L, 7, 1)

      // gateway worker: poll every REST source the config store enables
      val polled = RestPoller.pollStoreSources(spark, dbUrl, state, spool,
        nowMs = T0 + 60000L)
      assert(polled.map(_._1) == Seq("cam-live"))

      // processor: spool → envelope explode → fan-out on the routing dim
      val events = EventBatchReader.read(spark, spool)
      val routing = graft.sources.ConfigStore.routingTable(spark, dbUrl)
      val routed = events.join(broadcast(routing), "write_key")
        .withColumn("ord", xxhash64(col("message_id")))
      assert(routed.count() == 2)
      // the api tag survives the envelope explode into the stream
      assert(routed.select("kassette_type").collect()
        .map(_.getString(0)).toSet == Set("process-instance"))

      // router: envelope build + live POST, ledger terminal
      val urls = Map(
        "warehouse" -> s"http://localhost:${dests.getAddress.getPort}/wh")
      val envelopes = graft.sinks.RestBatcher.envelopes(
        routed.select("destination_name", "ord", "message_id", "kassette_type"),
        "destination_name", "ord", size = 10)
      val ledger = graft.sinks.HttpEgress.deliverWithRetries(envelopes,
        "destination_name", "batch_id", "body", urls,
        maxRetry = 3, baseBackoffMs = 1L, sleeper = _ => ())
      assert(ledger.select("state").collect()
        .forall(_.getString(0) == "succeeded"))
      val wire = bodies.get("/wh")
      assert(wire.contains("pi1") && wire.contains("pi2"), wire)
      assert(wire.contains(""""kassette_type":"process-instance""""), wire)
    } finally { srv.stop(); dests.stop(0) }
  }

  test("a failed window replays: extract-then-commit is at-least-once on the wire") {
    val srv = new HistoryServer("process-instance",
      Map(T0 -> Seq(item("p1", "start"))))
    val state = tmpDir("graft_rp_state2"); val spool = tmpDir("graft_rp_spool2")
    try {
      val cfg = RestPoller.configFromJson(
        s"""{"url":"${srv.base}","count":"10","interval":"1","history":"1","process-instance":"true"}""")
      // crash mid-extract: the first GET of the window 500s
      srv.failNext.set(1)
      intercept[java.io.IOException](
        RestPoller.pollOnce(state, "cam2", spool, cfg, "wk-rest", nowMs = T0 + 60000L))
      // mark did NOT advance, nothing spooled
      assert(HighWaterMark.read(state, "cam2").isEmpty)
      assert(new java.io.File(spool).listFiles().forall(!_.getName.endsWith(".json")))
      // next poll replays the SAME [from, to) — wire shows the same
      // startedAfter twice (failed attempt + replay)
      assert(RestPoller.pollOnce(state, "cam2", spool, cfg, "wk-rest",
        nowMs = T0 + 60000L).contains((T0, T0 + 60000L, 1)))
      val startedReqs = srv.requests.toArray.map(_.toString)
        .filter(_.contains("startedAfter"))
      assert(startedReqs.length == 2 &&
        startedReqs.distinct.length == 1, startedReqs.mkString("\n"))
      assert(HighWaterMark.read(state, "cam2").contains(T0 + 60000L))

      // crash AFTER spool but BEFORE commit (simulated by resetting the
      // mark): the window replays, the duplicate envelope spools, and
      // message_id dedup downstream restores exactly-once — the
      // reference's jobsdb dedup on replayed polls
      val hwmFile = java.nio.file.Paths.get(state, "hwm_cam2.json")
      java.nio.file.Files.delete(hwmFile)
      assert(RestPoller.pollOnce(state, "cam2", spool, cfg, "wk-rest",
        nowMs = T0 + 60000L).contains((T0, T0 + 60000L, 1)))
      val files = new java.io.File(spool).listFiles().filter(_.getName.endsWith(".json"))
      assert(files.length == 2, "replayed window spools a duplicate envelope")
      val events = EventBatchReader.read(spark, spool)
      assert(events.count() == 2)
      assert(events.dropDuplicates("message_id").count() == 1)
    } finally srv.stop()
  }
}
