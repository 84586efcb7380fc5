package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The gateway's web handler — the reference's HTTP ingress
  * (gateway/gateway.go:324 startWebHandler, :624 ProcessRequest)
  * realized on the JDK's built-in server:
  *
  *  - POST /v1/batch accepts a `{"batch":[...]}` envelope, checks the
  *    writeKey against a pluggable resolver (back it with
  *    [[ConfigStore.enabledWriteKeys]] for the durable config store,
  *    as the reference checks configdb.go:566), and SPOOLS the raw
  *    body as one atomically-renamed file per request.
  *  - a Structured Streaming file source on the spool directory turns
  *    accepted requests into the live intake stream —
  *    `spark.readStream.text(spoolDir)` →
  *    [[EventBatchReader.explodeBatches]] is the gateway→processor
  *    hand-off with the SAME envelope semantics the batch gate
  *    verifies (p_envelope).
  *
  * Spool-then-stream is the Spark-native shape for HTTP ingest: the
  * socket handler does no processing (accept, auth, persist, 200 —
  * exactly the reference's enqueue-into-jobsdb contract), so ingest
  * throughput is bounded by file writes, and the engine consumes the
  * spool with full streaming semantics (watermarks, exactly-once file
  * tracking). At fleet scale the spool directory is an object-store
  * prefix and N gateway pods write to it independently — the
  * streaming reader needs no coordination with the writers.
  */
object HttpIngress {

  /** Largest request body the gateway reads (bytes). The read stops
    * one byte past it, so a hostile or runaway client costs at most
    * this much heap per in-flight request; a longer body is answered
    * 413 `Request size exceeds max limit` and never spooled. */
  val MaxBodyBytes: Int = 4 << 20

  /** Start the gateway on `port` (0 = ephemeral). Returns the server;
    * `stop(0)` it when done. `isAuthorized` is consulted per request
    * with the envelope's writeKey (401 on refusal, as gateway.go's
    * auth middleware).
    *
    * Concurrency: `threads` handler threads serve requests (the
    * reference gateway's concurrent webRequestQ workers), and at most
    * `maxInFlight` of them do body-read + auth + fsync at once. A
    * request arriving with every permit taken is answered 429
    * `Max Requests Limit reached` IMMEDIATELY (response.go
    * TooManyRequests) — overload sheds load, it never hangs a client
    * — so the pool keeps headroom over the permit count (a shed
    * answer needs a thread too; enforced below). */
  def start(port: Int, spoolDir: String,
            isAuthorized: String => Boolean,
            threads: Int = 16, maxInFlight: Int = 8): HttpServer = {
    require(threads > maxInFlight,
      s"HttpIngress: threads ($threads) must exceed maxInFlight " +
        s"($maxInFlight) so overload sheds always find a free thread")
    Files.createDirectories(Paths.get(spoolDir))
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // per-instance nonce: N gateway pods share one spool directory
    // (object-store prefix at fleet scale) — names must not collide
    // across processes, and an AtomicLong alone restarts at 0 in every
    // pod
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    val permits = new java.util.concurrent.Semaphore(maxInFlight)
    import GatewayResponse._
    // every wire answer speaks the reference's response vocabulary
    // (response/response.go statusMap): body = {"msg": <message>},
    // code from the same key → code map
    def answer(exchange: HttpExchange, key: String): Unit =
      respond(exchange, getErrorStatusCode(key), makeResponse(getStatus(key)))
    def spool(body: String): Unit = {
      // atomic spool: tmp write + rename, so the streaming file
      // source never lists a half-written request
      val name = s"req_${nonce}_${System.currentTimeMillis()}_${seq.incrementAndGet()}"
      val tmp = Paths.get(spoolDir, s".$name.tmp")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(spoolDir, s"$name.json"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    server.createContext("/v1/batch", (exchange: HttpExchange) => {
      try {
        if (exchange.getRequestMethod != "POST") answer(exchange, InvalidRequestMethod)
        else if (!permits.tryAcquire()) // shed before reading the body
          answer(exchange, TooManyRequests)
        else try {
          val in = exchange.getRequestBody
          val bytes = in.readNBytes(MaxBodyBytes + 1)
          lazy val body = new String(bytes, StandardCharsets.UTF_8)
          if (bytes.length > MaxBodyBytes) {
            discard(in, 4L * MaxBodyBytes)
            answer(exchange, RequestBodyTooLarge)
          } else if (bytes.isEmpty) answer(exchange, RequestBodyNil)
          else extractWriteKey(body) match {
            case None => answer(exchange, NoWriteKeyInBasicAuth)
            case Some(wk) if !isAuthorized(wk) => answer(exchange, InvalidWriteKey)
            case Some(_) =>
              spool(body)
              respond(exchange, 200, makeResponse(Ok))
          }
        } finally permits.release()
      } catch {
        // getMessage can be null (NPE et al.) — never let the error
        // body itself throw and leave the client with no response
        case e: Throwable =>
          respond(exchange, 500, makeResponse(String.valueOf(e.getMessage)))
      }
    })
    // the 1×1-GIF intake path (response.go:58 transPixelResponse) — a
    // GET whose query params ARE the event; the spooled envelope is
    // the same shape the POST path accepts, so the streaming reader
    // needs no second parser
    server.createContext("/pixel/v1/track", (exchange: HttpExchange) => {
      try {
        if (exchange.getRequestMethod != "GET") answer(exchange, InvalidRequestMethod)
        else {
          val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
          def param(k: String): Option[String] =
            q.split("&").collectFirst {
              case kv if kv.takeWhile(_ != '=') == k =>
                java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
            }.filter(_.nonEmpty)
          param("writeKey") match {
            case None => answer(exchange, NoWriteKeyInQueryParams)
            case Some(wk) if !isAuthorized(wk) => answer(exchange, InvalidWriteKey)
            case Some(wk) =>
              if (param("anonymousId").isEmpty && param("userId").isEmpty)
                answer(exchange, NonIdentifiableRequest)
              else {
                val item = (Seq("messageId", "anonymousId", "userId", "event",
                  "originalTimestamp", "sentAt", "properties")
                  .flatMap(k => param(k).map(v =>
                    s""""$k":"${RestPoller.jsonEscape(v)}"""")) :+
                  """"type":"track"""").mkString("{", ",", "}")
                val receivedAt = java.time.format.DateTimeFormatter.ISO_INSTANT
                  .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis()))
                spool(s"""{"writeKey":"${RestPoller.jsonEscape(wk)}",""" +
                  s""""requestIP":"${exchange.getRemoteAddress.getAddress.getHostAddress}",""" +
                  s""""receivedAt":"$receivedAt","batch":[$item]}""")
                exchange.getResponseHeaders.set("Content-Type", "image/gif")
                exchange.sendResponseHeaders(200, pixelResponse.length.toLong)
                val os = exchange.getResponseBody
                try os.write(pixelResponse) finally os.close()
              }
          }
        }
      } catch {
        case e: Throwable =>
          respond(exchange, 500, makeResponse(String.valueOf(e.getMessage)))
      }
    })
    // daemon threads: server.stop() doesn't shut the executor down,
    // and a non-daemon pool would pin the JVM after the gateway stops
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, "graft-ingress"); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    server
  }

  /** writeKey from the envelope body without a full JSON parse — the
    * handler stays allocation-light; the streaming side does the real
    * parse (from_json in EventBatchReader). */
  private[sources] def extractWriteKey(body: String): Option[String] = {
    val m = """"writeKey"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(body)
    m.map(_.group(1))
  }

  /** Read and drop up to `limit` more bytes of an oversized body, in a
    * fixed buffer: a client still sending then reads the 413 instead
    * of a connection reset. Past `limit` the connection is cut. */
  private def discard(in: java.io.InputStream, limit: Long): Unit = {
    val buf = new Array[Byte](64 << 10)
    var left = limit
    var n = 0
    while (left > 0 && { n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt); n > 0 })
      left -= n
  }

  private def respond(exchange: HttpExchange, code: Int, msg: String): Unit = {
    val bytes = msg.getBytes(StandardCharsets.UTF_8)
    exchange.sendResponseHeaders(code, bytes.length)
    val os = exchange.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
