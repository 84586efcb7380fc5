package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.{ConfigStore, EventBatchReader, GatewayResponse, HttpIngress, Portal}
import graft.streaming.StreamingPipeline

/** The portal/control-plane HTTP API driven LIVE over the wire
  * (gateway.go:324-592 startWebHandler), backed by the durable Derby
  * ConfigStore — and the data-plane coupling: a source created
  * through the portal is honored by the hot-reloading auth gate on
  * the very next micro-batch, with no restart. */
class PortalSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()
  private def send(method: String, url: String,
                   body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("portal CRUD over the wire: health, catalogue, source, destination, connection, auth") {
    val dbUrl = "jdbc:derby:memory:graftportal1;create=true"
    ConfigStore.bootstrap(dbUrl)
    ConfigStore.insertCatalogue(dbUrl, 3L, "Webhook", "Source", "free",
      "events", "http://cat/src", "", "", "icons/webhook.png")
    ConfigStore.insertCatalogue(dbUrl, 4L, "Postgres", "Destination", "free",
      "warehouse", "http://cat/dest", "", "", "icons/pg.png")
    val server = Portal.start(0, dbUrl,
      routerJobStatus = () => """[{"job_id":7,"job_state":"failed"}]""")
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      // health probe (gateway.go:334)
      assert(send("GET", s"$base/health") == ((200, """{"status":"ok"}""")))

      // catalogue list + type filter + point read (gateway.go:341-355)
      val (_, cats) = send("GET", s"$base/service-catalogue")
      assert(cats.contains("\"Webhook\"") && cats.contains("\"Postgres\""))
      val (_, srcCats) = send("GET", s"$base/service-catalogue?type=src")
      assert(srcCats.contains("\"Webhook\"") && !srcCats.contains("\"Postgres\""))
      val (_, cat4) = send("GET", s"$base/service-catalogue/4")
      assert(cat4.contains(""""name":"Postgres"""") &&
        cat4.contains(""""iconurl":"icons/pg.png""""))

      // POST /source derives the write key server-side (gateway.go:418)
      val (pc, pb) = send("POST", s"$base/source",
        """{"id":21,"name":"portal-src","service_id":3,"customer_id":9,"customer_name":"acme","secret_key":"s3cret","config":"{}","status":"enabled"}""")
      assert((pc, pb) == ((200, """{"success":true}""")))
      val wk = Portal.generateWriteKey("acme", "s3cret")
      val (_, list) = send("GET", s"$base/source")
      assert(list.contains(s""""write_key":"$wk"""") &&
        list.contains(""""customer_name":""""))
      // duplicate id → success:false, never a 500
      assert(send("POST", s"$base/source",
        """{"id":21,"name":"dup","service_id":3,"customer_id":9,"customer_name":"x","secret_key":"y","config":"{}","status":"enabled"}""")
        == ((200, """{"success":false}""")))

      // detail = source + its catalogue row (SourceDetailT)
      val (_, detail) = send("GET", s"$base/source/21")
      assert(detail.contains(""""source":{"id":21""") &&
        detail.contains(""""catalogue":{"id":3,"name":"Webhook""""))

      // PATCH without credentials keeps the supplied write key
      assert(send("PATCH", s"$base/source",
        s"""{"id":21,"name":"renamed","service_id":3,"write_key":"$wk","customer_id":9,"config":"{}","status":"enabled"}""")
        == ((200, """{"success":true}""")))
      assert(send("GET", s"$base/source/21")._2.contains(""""name":"renamed""""))

      // authenticate speaks the reference's Status vocabulary
      assert(send("POST", s"$base/authenticate",
        """{"customer_name":"acme","secret_key":"s3cret"}""")
        == ((200, """{"Status":"Authentication Passed"}""")))
      assert(send("POST", s"$base/authenticate",
        """{"customer_name":"acme","secret_key":"wrong"}""")
        == ((400, """{"Status":"No matched source instance!"}""")))

      // destination + connection CRUD
      assert(send("POST", s"$base/destination",
        """{"id":31,"name":"pg","service_id":4,"customer_id":9,"config":"{}","status":"enabled"}""")._2
        == """{"success":true}""")
      assert(send("POST", s"$base/connection",
        """{"id":5,"source_id":21,"destination_id":31,"transforms":"[]"}""")._2
        == """{"success":true}""")
      val (_, conn) = send("GET", s"$base/connection/5")
      assert(conn == """{"id":5,"source_id":21,"destination_id":31,"transforms":"[]"}""")
      // the POSTed pair is live in the router's fan-out dim
      val routed = ConfigStore.routingTable(spark, dbUrl)
        .select("write_key", "destination_name").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(routed == Set(wk -> "pg"))
      assert(send("DELETE", s"$base/connection/5")._2 == """{"success":true}""")

      // field options (gateway.go:576 ← integrations type maps)
      val (_, pg) = send("GET", s"$base/field-options?type=destination&name=Postgres")
      assert(pg.contains(""""BIGSERIAL":"int64"""") && pg.contains(""""JSONB":"string""""))
      val (_, srcMap) = send("GET", s"$base/field-options?type=source")
      assert(srcMap.contains(""""STRING":"string"""") && srcMap.contains(""""DATE":"date""""))

      // router job health passthrough (gateway.go:588)
      assert(send("GET", s"$base/router-job-status")._2
        == """[{"job_id":7,"job_state":"failed"}]""")

      // delete + list shrink
      assert(send("DELETE", s"$base/source/21")._2 == """{"success":true}""")
      assert(!send("GET", s"$base/source")._2.contains("renamed"))

      // wrong method speaks the response vocabulary
      assert(send("PUT", s"$base/source", "{}")
        == ((400, """{"msg": "Invalid HTTP Request Method"}""")))
    } finally server.stop(0)
  }

  test("a source POSTed through the portal is honored by the hot-reload auth gate next micro-batch") {
    val dbUrl = "jdbc:derby:memory:graftportal2;create=true"
    ConfigStore.bootstrap(dbUrl)
    ConfigStore.insertSource(dbUrl, 1L, "web", 1, "wk-old", 1, "{}")
    val server = Portal.start(0, dbUrl)
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      implicit val sqlCtx = spark.sqlContext
      val wkNew = Portal.generateWriteKey("acme", "s3cret")
      val input = MemoryStream[(String, Long)]
      val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val writer = StreamingPipeline.authFilterRefreshing(
        input.toDF().toDF("write_key", "ts_ms"),
        () => ConfigStore.enabledWriteKeys(spark, dbUrl),
        "write_key") { (df, batchId) =>
        df.collect().foreach(r => seen.synchronized {
          seen += ((batchId, r.getString(0))) })
      }
      input.addData(("wk-old", 1L), (wkNew, 2L))
      val query = writer.start()
      query.processAllAvailable()
      // create the source OVER THE WIRE between micro-batches
      assert(send("POST", s"$base/source",
        """{"id":2,"name":"portal-live","service_id":1,"customer_id":1,"customer_name":"acme","secret_key":"s3cret","config":"{}","status":"enabled"}""")._2
        == """{"success":true}""")
      input.addData(("wk-old", 3L), (wkNew, 4L))
      query.processAllAvailable()
      query.stop()

      val byBatch = seen.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.toSeq).toMap
      val batches = byBatch.keys.toSeq.sorted
      assert(byBatch(batches.head) == Seq("wk-old"),
        s"pre-POST batch must reject the unknown key: $byBatch")
      assert(byBatch(batches.last) == Seq("wk-old", wkNew).sorted,
        s"post-POST batch must accept the portal-created key: $byBatch")
    } finally server.stop(0)
  }

  test("pixel GET intake: query params become a spooled envelope, the answer is the GIF") {
    val spool = tempDir("graft_pixel").toString
    val server = HttpIngress.start(0, spool, _ == "wk-pix")
    val base = s"http://localhost:${server.getAddress.getPort}/pixel/v1/track"
    try {
      // happy path: 200, the 43-byte transparent GIF, one spooled file
      val ok = client.send(
        HttpRequest.newBuilder(URI.create(
          s"$base?writeKey=wk-pix&anonymousId=a1&event=page%20view")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ok.statusCode() == 200)
      assert(ok.body().toSeq == GatewayResponse.pixelResponse.toSeq)
      assert(ok.headers().firstValue("Content-Type").orElse("") == "image/gif")

      // the envelope parses through the SAME reader as POSTed batches
      val got = EventBatchReader.read(spark, spool)
        .select("write_key", "event").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq("wk-pix" -> "page view"))

      // vocabulary on the error paths
      assert(send("GET", base)
        == ((401, """{"msg": "Failed to read writeKey from Query Params"}""")))
      assert(send("GET", s"$base?writeKey=wk-bad&anonymousId=a1")
        == ((401, """{"msg": "Invalid Write Key"}""")))
      assert(send("GET", s"$base?writeKey=wk-pix&event=orphan")
        == ((400, """{"msg": "Request neither has anonymousId nor userId"}""")))
    } finally server.stop(0)
  }

  test("response vocabulary matches the reference's status map") {
    import GatewayResponse._
    assert(getStatus(Ok) == "OK" && getErrorStatusCode(Ok) == 200)
    assert(getErrorStatusCode(TooManyRequests) == 429)
    assert(getErrorStatusCode(InvalidWriteKey) == 401)
    assert(getErrorStatusCode(SourceDisabled) == 404)
    assert(getErrorStatusCode(RequestBodyTooLarge) == 413)
    // the one asymmetric entry: deadline key answers the timeout message
    assert(getStatus(ContextDeadlineExceeded) == GatewayTimeout)
    assert(getErrorStatusCode(ContextDeadlineExceeded) == 504)
    // unknown keys: message passes through, code defaults to 500
    assert(getStatus("surprise") == "surprise" &&
      getErrorStatusCode("surprise") == 500)
    assert(makeResponse(Ok) == """{"msg": "OK"}""")
    assert(pixelResponse.length == 43 &&
      new String(pixelResponse.take(6), "US-ASCII") == "GIF89a")
  }
}
