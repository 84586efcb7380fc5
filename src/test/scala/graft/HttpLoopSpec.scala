package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sinks.{HttpEgress, RestBatcher}
import graft.sources.{ConfigStore, EventBatchReader, HttpIngress}

/** The two HTTP seams of the reference run LIVE, in-JVM:
  *
  *  - INGRESS (gateway.go startWebHandler): real POSTs against
  *    HttpIngress, write-key auth answered by the durable Derby
  *    ConfigStore per request (configdb.go:566), accepted envelopes
  *    spooled and consumed by a Structured Streaming file source
  *    through the same EventBatchReader the batch gate verifies.
  *  - EGRESS (router.go JobsRequestWorker → integrations Send): real
  *    envelope bodies POSTed executor-side to a scripted destination
  *    server, responses folded through Router.ackLedger, the retry
  *    loop re-POSTing ONLY waiting_retry batches until terminal.
  */
class HttpLoopSpec extends SparkSpec {
  import spark.implicits._

  private def post(url: String, body: String): Int = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("HTTP ingress: auth from the config store, spool to stream, envelope semantics") {
    val dbUrl = "jdbc:derby:memory:graftconfig3;create=true"
    ConfigStore.bootstrap(dbUrl)
    ConfigStore.insertSource(dbUrl, 1L, "web", 1, "wk-live", 1, "{}")
    ConfigStore.insertSource(dbUrl, 2L, "old", 1, "wk-dead", 1, "{}",
      status = "disabled")
    val spool = tempDir("graft_spool").toString
    val server = HttpIngress.start(0, spool,
      wk => ConfigStore.isWriteKeyEnabled(dbUrl, wk))
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v1/batch"
      def env(wk: String, events: String*) =
        s"""{"writeKey":"$wk","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z","batch":[${events.mkString(",")}]}"""
      def evt(id: String, name: String) =
        s"""{"messageId":"$id","userId":"u1","event":"$name","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:05:00.000Z"}"""

      assert(post(base, env("wk-live", evt("m1", "click"), evt("m2", "view"))) == 200)
      assert(post(base, env("wk-live", evt("m3", "purchase"))) == 200)
      assert(post(base, env("wk-dead", evt("m4", "click"))) == 401)
      assert(post(base, """{"batch":[]}""") == 401) // no writeKey at all (NoWriteKeyInBasicAuth)
      assert(new java.io.File(spool).listFiles()
        .count(_.getName.endsWith(".json")) == 2)

      // the spool is the stream: requests → envelopes → events
      val stream = spark.readStream.text(spool)
      val events = EventBatchReader.explodeBatches(
        stream.withColumnRenamed("value", "raw"), "raw")
      val q = events.writeStream.format("memory").queryName("http_ingress")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("http_ingress")
        .select("message_id", "event", "write_key").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(("m1", "click", "wk-live"), ("m2", "view", "wk-live"),
        ("m3", "purchase", "wk-live")))
    } finally server.stop(0)
  }

  test("HTTP ingress: concurrent clients all spool; overload sheds 429, never hangs") {
    val spool = tempDir("graft_spool_conc").toString
    def env(i: Int) =
      s"""{"writeKey":"wk-live","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z","batch":[{"messageId":"c$i","userId":"u1","event":"e","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:00:00.000Z"}]}"""

    // phase 1: 32 parallel clients against 8 permits — a burst MAY be
    // shed (429 TooManyRequests is the protocol: retry), so every
    // client lands exactly once and no accepted event is lost
    val server = HttpIngress.start(0, spool, _ => true,
      threads = 16, maxInFlight = 8)
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v1/batch"
      def postRetrying(body: String): Int = {
        var code = 429; var tries = 0
        while (code == 429 && tries < 50) {
          code = post(base, body); tries += 1
          if (code == 429) Thread.sleep(20)
        }
        code
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      val codes = (0 until 32).map(i =>
        pool.submit(() => postRetrying(env(i)): Integer))
        .map(_.get(60, java.util.concurrent.TimeUnit.SECONDS).toInt)
      pool.shutdown()
      assert(codes.forall(_ == 200), codes.groupBy(identity).view.mapValues(_.size).toMap.toString)
      val names = new java.io.File(spool).listFiles()
        .filter(_.getName.endsWith(".json")).map(_.getName)
      assert(names.length == 32, s"spooled ${names.length}")
      assert(names.toSet.size == 32, "spool names must not collide")
    } finally server.stop(0)

    // phase 2: permits exhausted by requests parked in auth — the
    // overflow gets an IMMEDIATE 429 while the parked ones still land
    val gate = new java.util.concurrent.CountDownLatch(1)
    val parked = new java.util.concurrent.atomic.AtomicInteger(0)
    val spool2 = tempDir("graft_spool_ovl").toString
    val slow = HttpIngress.start(0, spool2,
      { _ => parked.incrementAndGet(); gate.await(); true },
      threads = 8, maxInFlight = 2)
    try {
      val base = s"http://localhost:${slow.getAddress.getPort}/v1/batch"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val blocked = (0 until 2).map(i => pool.submit(() => post(base, env(i)): Integer))
      // wait until both permits are held inside auth
      val t0 = System.currentTimeMillis()
      while (parked.get() < 2 && System.currentTimeMillis() - t0 < 10000) Thread.sleep(10)
      assert(parked.get() == 2)
      // every further request is shed load: 429 within the timeout,
      // no client ever hangs on a queue
      val shed = (2 until 6).map(i => pool.submit(() => post(base, env(i)): Integer))
        .map(_.get(10, java.util.concurrent.TimeUnit.SECONDS).toInt)
      assert(shed.forall(_ == 429), shed.toString)
      gate.countDown() // release the parked pair — they complete normally
      assert(blocked.map(_.get(10, java.util.concurrent.TimeUnit.SECONDS).toInt)
        .forall(_ == 200))
      pool.shutdown()
      assert(new java.io.File(spool2).listFiles()
        .count(_.getName.endsWith(".json")) == 2)
    } finally slow.stop(0)
  }

  test("HTTP egress: executor-side POSTs + ledger-driven retries converge to terminal states") {
    // scripted destination endpoints, one context per scenario; each
    // counts its requests so the retry discipline is observable
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def handler(script: Int => Int): HttpExchange => Unit = { exchange =>
      val key = exchange.getHttpContext.getPath
      val n = hits.merge(key, 1, (a, b) => a + b)
      exchange.getRequestBody.readAllBytes() // drain
      val code = script(n)
      exchange.sendResponseHeaders(code, -1)
      exchange.close()
    }
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/ok", e => handler(_ => 200)(e))
    server.createContext("/flaky", e => handler(n => if (n == 1) 503 else 200)(e))
    server.createContext("/down", e => handler(_ => 503)(e))
    server.createContext("/bad", e => handler(_ => 400)(e))
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val urls = Map("ok" -> s"$base/ok", "flaky" -> s"$base/flaky",
        "down" -> s"$base/down", "bad" -> s"$base/bad")
      val events = Seq("ok", "flaky", "down", "bad")
        .flatMap(d => (0 until 3).map(i => (d, i.toLong, s"e$i")))
        .toDF("dest", "seq", "name")
      val envelopes = RestBatcher.envelopes(events, "dest", "seq", size = 3)

      val ledger = HttpEgress.deliverWithRetries(envelopes, "dest", "batch_id",
        "body", urls, maxRetry = 3, baseBackoffMs = 1L, sleeper = _ => ())
      val got = ledger.select("dest", "n_attempts", "state").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap

      assert(got == Map(
        "ok" -> ((1L, "succeeded")),      // first POST lands
        "flaky" -> ((2L, "succeeded")),   // 503 then recovered
        "down" -> ((3L, "aborted")),      // retry ceiling
        "bad" -> ((1L, "aborted"))), got.toString) // non-retryable, no retry
      // the wire saw exactly the retry discipline the ledger claims:
      // re-POSTs only for retryable batches, none after terminal
      assert(hits.get("/ok") == 1 && hits.get("/flaky") == 2 &&
        hits.get("/down") == 3 && hits.get("/bad") == 1, hits.toString)
    } finally server.stop(0)
  }

  test("HTTP egress: every micro-batch's POSTs share one client, so egress threads stay flat") {
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/sink", { e =>
      e.getRequestBody.readAllBytes()
      e.sendResponseHeaders(200, -1); e.close()
    })
    server.start()
    try {
      val urls = Map("pbi" -> s"http://localhost:${server.getAddress.getPort}/sink")
      val envelopes = (0 until 8).map(i => ("pbi", i.toLong, s"""{"payload":[$i]}"""))
        .toDF("dest", "batch_id", "body")
      assert(envelopes.rdd.getNumPartitions == 4)
      def deliver(): Unit = assert(HttpEgress.postEnvelopes(envelopes, "dest", "batch_id",
        "body", urls, attempt = 1).select("code").as[Long].collect().toSeq == Seq.fill(8)(200L))
      // the JVM's HttpClient threads: each client runs a selector
      // thread until it is collected, and workers of its own
      def clientThreads(): Seq[String] = Thread.getAllStackTraces.keySet
        .toArray(Array.empty[Thread]).map(_.getName).filter(_.startsWith("HttpClient-")).toSeq
      deliver()
      val before = clientThreads()
      // 40 micro-batches of 4 partitions: 160 clients if each made its own
      (0 until 40).foreach(_ => deliver())
      val after = clientThreads()
      // a GC in between may collect earlier clients, so compare names:
      // no selector thread may appear that was not running before
      val newSelectors = after.filter(_.endsWith("-SelectorManager")).filterNot(before.toSet)
      assert(newSelectors.isEmpty, s"${before.sorted} -> ${after.sorted}")
      assert(after.size <= before.size + 4, s"${before.sorted} -> ${after.sorted}")
    } finally server.stop(0)
  }

  test("streaming egress: each micro-batch POSTs live and its acks land in the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/sink", { e =>
      hits.incrementAndGet()
      e.getRequestBody.readAllBytes()
      e.sendResponseHeaders(200, -1); e.close()
    })
    server.start()
    try {
      val urls = Map("pbi" -> s"http://localhost:${server.getAddress.getPort}/sink")
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Long, String)]
      val acks = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
      val writer = HttpEgress.streamDeliver(
        input.toDF().toDF("dest", "batch_id", "body"),
        "dest", "batch_id", "body", urls) { (df, mb) =>
        df.collect().foreach(r => acks.synchronized {
          acks += ((mb, r.getString(0), r.getLong(1), r.getLong(3))) })
      }
      input.addData(("pbi", 0L, """{"payload":["a"]}"""),
        ("pbi", 1L, """{"payload":["b"]}"""))
      val q = writer.start()
      q.processAllAvailable()
      input.addData(("pbi", 2L, """{"payload":["c"]}"""))
      q.processAllAvailable()
      q.stop()
      assert(hits.get() == 3)
      assert(acks.map(a => (a._3, a._4)).toSet == Set((0L, 200L), (1L, 200L), (2L, 200L)))
      assert(acks.map(_._1).distinct.size == 2, "two micro-batches delivered")
    } finally server.stop(0)
  }

  test("streaming egress with attempts: a two-attempt micro-batch POSTs every envelope once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/sink", { e =>
      bodies.add(new String(e.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      e.sendResponseHeaders(200, -1); e.close()
    })
    server.start()
    try {
      val urls = Map("pbi" -> s"http://localhost:${server.getAddress.getPort}/sink")
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Long, String, Int)]
      val acks = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val writer = HttpEgress.streamDeliver(
        input.toDF().toDF("dest", "batch_id", "body", "attempt"),
        "dest", "batch_id", "body", urls, attemptCol = Some("attempt")) { (df, _) =>
        df.collect().foreach(r => acks.synchronized {
          acks += ((r.getLong(1), r.getLong(2), r.getLong(3))) })
      }
      val sent = (0 until 6).map(i => ("pbi", i.toLong, s"""{"payload":["e$i"]}""", 1 + i % 2))
      input.addData(sent: _*)
      val q = writer.start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      assert(bodies.asScala.toSeq.sorted == sent.map(_._3).sorted)
      assert(acks.toSet == sent.map(s => (s._2, s._4.toLong, 200L)).toSet)
      assert(acks.map(_._2).toSet == Set(1L, 2L))
    } finally server.stop(0)
  }

  test("HTTP ingress: after a 200 the spool holds the whole body and no temp file") {
    val spool = tempDir("graft_spool_sync").toString
    val server = HttpIngress.start(0, spool, _ == "wk-live")
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v1/batch"
      val events = (0 until 50).map(i =>
        s"""{"messageId":"d$i","userId":"u1","event":"e$i","originalTimestamp":"2024-01-01T00:00:00.000Z"}""")
      val body = s"""{"writeKey":"wk-live","batch":[${events.mkString(",")}]}"""
      assert(post(base, body) == 200)
      val files = new java.io.File(spool).listFiles().toSeq
      assert(files.map(_.getName).filter(_.endsWith(".tmp")).isEmpty, files.toString)
      assert(files.size == 1 && files.head.getName.endsWith(".json"), files.toString)
      assert(new String(java.nio.file.Files.readAllBytes(files.head.toPath),
        StandardCharsets.UTF_8) == body)
    } finally server.stop(0)
  }

  test("HTTP ingress: every event of a pretty-printed envelope reaches readStream") {
    val spool = tempDir("graft_spool_pretty").toString
    val server = HttpIngress.start(0, spool, _ == "wk-live")
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v1/batch"
      // LF and CRLF line breaks between tokens, as any JSON pretty-printer emits
      val body =
        """{
          |  "writeKey": "wk-live",
          |  "receivedAt": "2024-01-01T00:10:00.000Z",
          |  "batch": [
          |    {"messageId": "p1", "userId": "u1", "event": "click",
          |     "originalTimestamp": "2024-01-01T00:00:00.000Z"},
          |    {
          |      "messageId": "p2",
          |      "userId": "u1",
          |      "event": "view"
          |    }
          |  ]
          |}""".stripMargin.replace("[\n", "[\r\n")
      assert(post(base, body) == 200)
      val q = EventBatchReader.readStream(spark, spool)
        .writeStream.format("memory").queryName("http_pretty")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("http_pretty").select("message_id", "event", "write_key")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(("p1", "click", "wk-live"), ("p2", "view", "wk-live")))
    } finally server.stop(0)
  }

  test("config-store transforms run inside the live loop: FIELDMAP reaches the destination payload") {
    // the reference's processor applies each connection's transforms
    // config between gateway and router (transformer.go
    // transformBatchPayload ← configdb connection.transforms) — here
    // the rename/delete must be visible in the bytes the destination
    // actually RECEIVES, not just in a frame
    val dbUrl = "jdbc:derby:memory:graftconfig5;create=true"
    ConfigStore.bootstrap(dbUrl)
    ConfigStore.insertSource(dbUrl, 1L, "web", 1, "wk-live", 1, "{}")
    ConfigStore.insertDestination(dbUrl, 1L, "powerbi", 2, 1, "{}")
    ConfigStore.insertDestination(dbUrl, 2L, "keen", 3, 1, "{}")
    ConfigStore.insertConnection(dbUrl, 1L, 1, 1,
      """[{"type":"field_map","from":"event","to":"action"},
        | {"type":"field_delete","field":"event","value":"drop-me"}]""".stripMargin)
    ConfigStore.insertConnection(dbUrl, 2L, 1, 2) // keen: no transforms

    val spool = tempDir("graft_tf").toString
    val gateway = HttpIngress.start(0, spool,
      wk => ConfigStore.isWriteKeyEnabled(dbUrl, wk))
    val bodies = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val dests = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    for (path <- Seq("/powerbi", "/keen"))
      dests.createContext(path, { e =>
        bodies.merge(path, new String(e.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8), (a, b) => a + b)
        e.sendResponseHeaders(200, -1); e.close()
      })
    dests.start()
    try {
      val in = s"http://localhost:${gateway.getAddress.getPort}/v1/batch"
      def evt(id: String, name: String) =
        s"""{"messageId":"$id","userId":"u1","event":"$name","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:05:00.000Z"}"""
      assert(post(in, s"""{"writeKey":"wk-live","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z","batch":[${evt("m1", "click")},${evt("m2", "drop-me")}]}""") == 200)

      val events = EventBatchReader.read(spark, spool)
      val routing = ConfigStore.routingTable(spark, dbUrl)
      val perDest = graft.operators.TransformRules.routedTransforms(events, routing)
      assert(perDest.keySet == Set("powerbi", "keen"))

      val base = s"http://localhost:${dests.getAddress.getPort}"
      val urls = Map("powerbi" -> s"$base/powerbi", "keen" -> s"$base/keen")
      perDest.foreach { case (dest, df) =>
        val envelopes = RestBatcher.envelopes(
          df.withColumn("dest", lit(dest))
            .withColumn("ord", xxhash64(col("message_id"))),
          "dest", "ord", size = 10)
        val ledger = HttpEgress.deliverWithRetries(envelopes, "dest", "batch_id",
          "body", urls, maxRetry = 3, baseBackoffMs = 1L, sleeper = _ => ())
        assert(ledger.select("state").collect().forall(_.getString(0) == "succeeded"))
      }
      val pbi = bodies.get("/powerbi"); val keen = bodies.get("/keen")
      // FIELDMAP rename visible on the wire; FIELDDELETE record gone
      assert(pbi.contains(""""action":"click"""") && !pbi.contains(""""event""""), pbi)
      assert(!pbi.contains("drop-me"), pbi)
      // the untransformed connection still carries the original shape
      assert(keen.contains(""""event":"click"""") && keen.contains("drop-me"), keen)
    } finally { gateway.stop(0); dests.stop(0) }
  }

  test("full server loop: POST to gateway → route by config store → POST to destinations → ledger") {
    // the reference's entire gateway→processor→router→destination
    // cycle live: ingress socket, Derby-backed routing config,
    // fan-out join, envelope build, egress sockets, ack ledger
    val dbUrl = "jdbc:derby:memory:graftconfig4;create=true"
    ConfigStore.bootstrap(dbUrl)
    ConfigStore.insertSource(dbUrl, 1L, "web", 1, "wk-live", 1, "{}")
    ConfigStore.insertDestination(dbUrl, 1L, "powerbi", 2, 1, "{}")
    ConfigStore.insertDestination(dbUrl, 2L, "keen", 3, 1, "{}")
    ConfigStore.insertConnection(dbUrl, 1L, 1, 1)
    ConfigStore.insertConnection(dbUrl, 2L, 1, 2)

    val spool = tempDir("graft_loop").toString
    val gateway = HttpIngress.start(0, spool,
      wk => ConfigStore.isWriteKeyEnabled(dbUrl, wk))
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val dests = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    dests.createContext("/powerbi", { e =>
      hits.merge("/powerbi", 1, (a, b) => a + b)
      e.getRequestBody.readAllBytes()
      e.sendResponseHeaders(200, -1); e.close()
    })
    dests.createContext("/keen", { e =>
      val n = hits.merge("/keen", 1, (a, b) => a + b)
      e.getRequestBody.readAllBytes()
      e.sendResponseHeaders(if (n == 1) 503 else 200, -1); e.close()
    })
    dests.start()
    try {
      val in = s"http://localhost:${gateway.getAddress.getPort}/v1/batch"
      def evt(id: String, name: String) =
        s"""{"messageId":"$id","userId":"u1","event":"$name","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:05:00.000Z"}"""
      assert(post(in, s"""{"writeKey":"wk-live","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z","batch":[${evt("m1", "click")},${evt("m2", "view")}]}""") == 200)
      assert(post(in, s"""{"writeKey":"wk-live","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z","batch":[${evt("m3", "purchase")}]}""") == 200)

      // processor: spool → envelope explode → fan-out on the routing dim
      val events = EventBatchReader.explodeBatches(
        spark.read.text(spool).withColumnRenamed("value", "raw"), "raw")
      val routing = ConfigStore.routingTable(spark, dbUrl)
      val routed = events.join(broadcast(routing), "write_key")
        .withColumn("ord", xxhash64(col("message_id")))
      assert(routed.count() == 6) // 3 events × 2 destinations

      // router: envelope build + live delivery with retries
      val base = s"http://localhost:${dests.getAddress.getPort}"
      val urls = Map("powerbi" -> s"$base/powerbi", "keen" -> s"$base/keen")
      val envelopes = RestBatcher.envelopes(
        routed.select("destination_name", "ord", "message_id", "event"),
        "destination_name", "ord", size = 10)
      val ledger = HttpEgress.deliverWithRetries(envelopes,
        "destination_name", "batch_id", "body", urls,
        maxRetry = 3, baseBackoffMs = 1L, sleeper = _ => ())
      val got = ledger.select("destination_name", "n_attempts", "state")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(got == Map(
        "powerbi" -> ((1L, "succeeded")),
        "keen" -> ((2L, "succeeded"))), got.toString)
      assert(hits.get("/powerbi") == 1 && hits.get("/keen") == 2, hits.toString)
      // every routed event reached a destination envelope body
      val delivered = envelopes
        .agg(sum(size(split(col("body"), "\"message_id\"")) - 1)).head().getLong(0)
      assert(delivered == 6, s"delivered=$delivered")
    } finally { gateway.stop(0); dests.stop(0) }
  }

  test("HTTP ingress: a body over MaxBodyBytes is answered 413 and never spooled") {
    val spool = tempDir("graft_spool_413").toString
    val server = HttpIngress.start(0, spool, _ == "wk-live")
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v1/batch"
      // a valid envelope padded with whitespace to an exact byte size
      def sized(n: Int): String = {
        val head = """{"writeKey":"wk-live","batch":[{"messageId":"m1","userId":"u1"}]}"""
        head + " " * (n - head.length)
      }
      def spooled: Int =
        new java.io.File(spool).listFiles().count(_.getName.endsWith(".json"))
      assert(post(base, sized(HttpIngress.MaxBodyBytes + 1)) == 413)
      assert(post(base, sized(2 * HttpIngress.MaxBodyBytes)) == 413)
      assert(spooled == 0)
      // the cap is inclusive, and the gateway keeps serving after a 413
      assert(post(base, sized(HttpIngress.MaxBodyBytes)) == 200)
      assert(post(base, sized(100)) == 200)
      assert(spooled == 2)
    } finally server.stop(0)
  }
}
