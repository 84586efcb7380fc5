package graft.sources

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Live REST polling source — the reference's camunda extractor loop
  * (gateway/gateway.go:246 startWorkerHandlerTickerForSource drives
  * sources/camunda/extract.go:125 ExtractCamundaRest on a ticker;
  * extract.go:40 camundaHistoryRest does the windowed GETs;
  * gateway.go:297 ProcessWorkerRequest feeds the results back into the
  * gateway intake queue with the source's writeKey).
  *
  * Composition of pieces the engine already has:
  *   - the `[from, to)` window per poll comes from
  *     [[HighWaterMark.plan]] instead of a wall-clock ticker, so a
  *     crash between extraction and commit REPLAYS the window on
  *     restart (at-least-once — the reference gets the same property
  *     from re-polling a `history`-lagged window; a durable mark also
  *     survives restarts the reference's in-memory ticker does not);
  *   - each window's items are wrapped in the gateway's
  *     `{"batch":[...]}` envelope with per-item `kassetteType` tagging
  *     (extract.go:118 sjson.SetBytes `batch.N.kassetteType`) and
  *     SPOOLED through [[Spool.spool]], the same one-line, durable
  *     commit as [[HttpIngress]] (on disk before it returns, so before
  *     the window's mark commits; a pretty-printed response still
  *     lands as one line) — a Structured Streaming file source on the
  *     spool directory is the hand-off into the live pipeline, and
  *     [[EventBatchReader.explodeBatches]] parses the envelopes with
  *     the exact semantics the batch gate verifies (p_envelope).
  *
  * The HTTP GET loop itself is a driver-side control loop — one tiny
  * client fetching config-plane-sized pages, exactly like the
  * reference's one goroutine per source. The DATA path stays fully
  * distributed: the spool is consumed by Spark's streaming file
  * source, so N poller instances (per-process spool names) can feed
  * one stream with no coordination.
  */
object RestPoller {

  /** Parsed source config — the reference's CamundaSourceConfig
    * (extract.go:18-38): REST base url, page size (`count`), poll
    * window length (`interval`, minutes), look-back (`history`,
    * minutes), and the per-API `"true"` flags selecting which history
    * endpoints to poll. */
  case class RestSourceConfig(url: String, apis: Seq[String], pageSize: Int,
                              stepMs: Long, historyMs: Long)

  /** The history APIs the reference knows (extract.go:18-38 struct
    * tags), in struct order. */
  val knownApis: Seq[String] = Seq(
    "task", "batch", "detail", "schema", "job-log", "incident",
    "case-instance", "user-operation", "process-instance",
    "activity-instance", "decision-instance", "identity-link-log",
    "variable-instance", "process-definition", "case-activity-instance")

  /** Parse the `source.config` JSON column ([[ConfigStore]]) the way
    * the reference unmarshals CamundaSourceConfig — all values are
    * strings, api flags are `"true"`. Regex-extracted like
    * [[HttpIngress.extractWriteKey]]: the config is control-plane
    * JSON, flat and tiny. */
  def configFromJson(json: String): RestSourceConfig = {
    def str(k: String): Option[String] =
      (s""""${java.util.regex.Pattern.quote(k)}"\\s*:\\s*"([^"]*)"""").r
        .findFirstMatchIn(json).map(_.group(1))
    val url = str("url").getOrElse(
      throw new IllegalArgumentException("rest source config: url required"))
    RestSourceConfig(
      url = url,
      apis = knownApis.filter(a => str(a).contains("true")),
      pageSize = str("count").map(_.trim.toInt).getOrElse(100),
      stepMs = str("interval").map(_.trim.toLong * 60000L).getOrElse(60000L),
      historyMs = str("history").map(_.trim.toLong * 60000L).getOrElse(0L))
  }

  /** The reference's timestamp format for window boundaries
    * (extract.go:149 `2006-01-02T15:04:05.000-0700`), pinned to UTC —
    * boundaries are minute-truncated epoch millis, so the rendering is
    * deterministic. */
  private val boundaryFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")
      .withZone(ZoneOffset.UTC)

  def truncMinute(ms: Long): Long = ms - math.floorMod(ms, 60000L)

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def get(client: HttpClient, url: String, timeoutMs: Long): String = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(
        s"rest poll GET $url -> ${resp.statusCode()}")
    resp.body()
  }

  /** Split a top-level JSON array body into its element strings
    * (string-literal and nesting aware) — the structural step the
    * reference does with gjson over the combined payload. Returns
    * empty for `[]` / `null` bodies (extract.go:97 treats both as "no
    * data for this interval"). */
  private[sources] def splitTopLevel(body: String): Seq[String] = {
    val s = body.trim
    if (s.isEmpty || s == "null" || s == "[]") return Seq.empty
    require(s.startsWith("[") && s.endsWith("]"),
      s"expected JSON array response, got: ${s.take(40)}")
    val out = Vector.newBuilder[String]
    var depth = 0; var inStr = false; var esc = false; var start = -1
    var i = 1
    while (i < s.length - 1) {
      val c = s.charAt(i)
      if (esc) esc = false
      else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' | '[' => if (depth == 0) start = i; depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 0) { out += s.substring(start, i + 1); start = -1 }
        case _ =>
      }
      i += 1
    }
    require(depth == 0 && !inStr, s"unbalanced JSON array response: ${s.take(40)}")
    out.result()
  }

  /** Insert `"kassetteType":"<api>"` as the first field of a JSON
    * object item — extract.go:118's sjson.SetBytes per batch index. */
  private[sources] def tagType(item: String, api: String): String = {
    val t = item.trim
    require(t.startsWith("{") && t.endsWith("}"),
      s"batch item must be a JSON object, got: ${t.take(40)}")
    val rest = t.substring(1).trim
    if (rest == "}") s"""{"kassetteType":"$api"}"""
    else s"""{"kassetteType":"$api",""" + t.substring(1)
  }

  /** Fetch one api's items for `[fromMs, toMs)`: both query-param
    * variants the reference issues (extract.go:43-46 startedAfter/
    * startedBefore then finishedAfter/finishedBefore), each paged via
    * firstResult/maxResults until a short page (the `count` config the
    * reference threads through as batchSize). */
  def fetchApiWindow(client: HttpClient, baseUrl: String, api: String,
                     fromMs: Long, toMs: Long, pageSize: Int,
                     timeoutMs: Long = 10000L): Seq[String] = {
    val fromS = boundaryFmt.format(Instant.ofEpochMilli(fromMs))
    val toS = boundaryFmt.format(Instant.ofEpochMilli(toMs))
    val variants = Seq(("startedAfter", "startedBefore"),
      ("finishedAfter", "finishedBefore"))
    variants.flatMap { case (aft, bef) =>
      val items = Vector.newBuilder[String]
      var page = 0
      var more = true
      while (more) {
        val url = s"$baseUrl/history/$api?sortOrder=asc&sortBy=startTime" +
          s"&$aft=${enc(fromS)}&$bef=${enc(toS)}" +
          s"&firstResult=${page * pageSize}&maxResults=$pageSize"
        val got = splitTopLevel(get(client, url, timeoutMs))
        items ++= got
        more = got.size == pageSize
        page += 1
      }
      items.result()
    }
  }

  /** Wrap tagged items in the gateway envelope the spool stream
    * parses: writeKey + the worker statics the reference stamps in
    * ProcessWorkerRequest (gateway.go:299-301 ipAddr 127.0.0.2), with
    * receivedAt = the window's exclusive end (deterministic across
    * replays, unlike a wall-clock stamp). */
  private[graft] def envelope(writeKey: String, items: Seq[String],
                                toMs: Long): String = {
    val receivedAt = DateTimeFormatter.ISO_INSTANT
      .format(Instant.ofEpochMilli(toMs))
    // the write key is config-store DATA — escape it, or a key holding
    // a quote/backslash corrupts the envelope and the spool stream
    // silently drops or misparses the whole batch
    val wk = Spool.jsonEscape(writeKey)
    s"""{"writeKey":"$wk","requestIP":"127.0.0.2","receivedAt":"$receivedAt","batch":[${items.mkString(",")}]}"""
  }

  /** One poll cycle, extract-then-commit:
    *   1. plan the next `[from, to)` window from the durable mark
    *      (first run starts at now − history, minute-truncated — the
    *      reference's `t.Add(-history).Truncate(time.Minute)`), capped
    *      at the minute-truncated now so a backlog catches up stepMs
    *      at a time;
    *   2. GET every configured api's pages for the window and spool
    *      one tagged envelope per non-empty api (the reference's
    *      combinedCamundaPayload, one ProcessWorkerRequest each);
    *   3. commit the mark.
    * A throw in 2 (transport error, non-200) leaves the mark put —
    * the SAME window replays next poll. A crash after spool but
    * before commit replays too: duplicate envelopes, deduped
    * downstream by message_id (at-least-once → exactly-once at the
    * sink, like the reference's jobsdb dedup).
    *
    * Returns the polled window and item count, or None when caught
    * up. */
  def pollOnce(stateDir: String, source: String, spoolDir: String,
               cfg: RestSourceConfig, writeKey: String, nowMs: Long,
               client: HttpClient = HttpClient.newHttpClient(),
               timeoutMs: Long = 10000L): Option[(Long, Long, Int)] =
    HighWaterMark.plan(stateDir, source,
      defaultStartMs = truncMinute(nowMs - cfg.historyMs),
      stepMs = cfg.stepMs,
      ceilingMs = truncMinute(nowMs)).map { case (from, to) =>
      Files.createDirectories(Paths.get(spoolDir))
      var total = 0
      cfg.apis.foreach { api =>
        val items = fetchApiWindow(client, cfg.url, api, from, to,
          cfg.pageSize, timeoutMs).map(tagType(_, api))
        if (items.nonEmpty) {
          Spool.spool(spoolDir, s"rest_${source}_${from}_$api", envelope(writeKey, items, to))
          total += items.size
        }
      }
      HighWaterMark.commit(stateDir, source, to)
      (from, to, total)
    }

  /** Poll until caught up (plan returns None) — the backlog catch-up
    * a restarted poller runs before settling into the ticker cadence.
    * Returns every polled window. */
  def catchUp(stateDir: String, source: String, spoolDir: String,
              cfg: RestSourceConfig, writeKey: String, nowMs: Long,
              client: HttpClient = HttpClient.newHttpClient(),
              timeoutMs: Long = 10000L): Seq[(Long, Long, Int)] = {
    val out = Vector.newBuilder[(Long, Long, Int)]
    var more = true
    while (more)
      pollOnce(stateDir, source, spoolDir, cfg, writeKey, nowMs, client,
        timeoutMs) match {
        case Some(w) => out += w
        case None => more = false
      }
    out.result()
  }

  /** One poll worker per enabled REST source in the config store —
    * gateway.go:226 startWorkerHandlerTickers reads the configdb
    * source rows and starts a ticker per source whose config carries a
    * url (gateway.go:254-264 requires url/interval/count). Here each
    * qualifying source gets a catch-up poll keyed `src_<id>` in the
    * durable mark store; disabled sources and sources without a url
    * (plain event sources) are skipped like the reference's guard.
    * Returns (source name, polled windows) per started worker. */
  def pollStoreSources(spark: org.apache.spark.sql.SparkSession,
                       dbUrl: String, stateDir: String, spoolDir: String,
                       nowMs: Long,
                       client: HttpClient = HttpClient.newHttpClient(),
                       timeoutMs: Long = 10000L): Seq[(String, Seq[(Long, Long, Int)])] =
    ConfigStore.sources(spark, dbUrl)
      .filter(org.apache.spark.sql.functions.col("status") === "enabled")
      .select("id", "name", "write_key", "config").collect().toSeq
      // a misconfigured row (NULL config / write_key) is SKIPPED, not
      // fatal — the reference's per-source guard does the same rather
      // than letting one bad row kill every poll worker's startup
      .filter(r => Option(r.getString(3)).exists(_.contains("\"url\"")) &&
        r.getString(2) != null)
      .map { r =>
        val cfg = configFromJson(r.getString(3))
        r.getString(1) -> catchUp(stateDir, s"src_${r.getLong(0)}", spoolDir,
          cfg, r.getString(2), nowMs, client, timeoutMs)
      }
}
