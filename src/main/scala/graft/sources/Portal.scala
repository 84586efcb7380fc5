package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import graft.sinks.JdbcSink.withConnection

/** The portal / control-plane HTTP API — the reference gateway's CRUD
  * routes (gateway/gateway.go:324-592 startWebHandler: `/health`,
  * `/service-catalogue`, `/source`, `/destination`, `/connection`,
  * `/authenticate`, `/field-options`, `/router-job-status`) served
  * over the same JDK server as [[HttpIngress]], backed by the durable
  * [[ConfigStore]].
  *
  * Control-plane ONLY: every handler is a point JDBC read/write on a
  * thousands-of-rows table — no Spark job ever runs on the request
  * path. The data plane reacts through the store: a POSTed source's
  * write key is visible to [[ConfigStore.enabledWriteKeys]] (and so
  * to the hot-reloading auth gate) on the very next micro-batch, and
  * a POSTed connection lands in [[ConfigStore.routingTable]] — the
  * reference gets the same coupling from the processor re-polling
  * configdb.
  *
  * Response bodies mirror the reference's gin handlers field for
  * field (struct-tag JSON of backendconfig/types.go:103-161, the
  * `{"success":…}` envelopes, `/authenticate`'s `{"Status":…}`
  * vocabulary).
  */
object Portal {

  /** misc.go:299 GenerateWriteKey: md5 hex of
    * `customer_name + "_" + secret_key`. */
  def generateWriteKey(customerName: String, secretKey: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"${customerName}_$secretKey".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Start the portal on `port` (0 = ephemeral). `routerJobStatus`
    * backs GET /router-job-status (gateway.go:588 ← jobsdb
    * GetJobHealth) — wire it to a JobLedger view rendered to JSON;
    * the default answers an empty ledger. */
  def start(port: Int, dbUrl: String,
            routerJobStatus: () => String = () => "[]",
            threads: Int = 4): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    server.createContext("/health", (ex: HttpExchange) => safely(ex) {
      json(ex, 200, """{"status":"ok"}""")
    })

    server.createContext("/service-catalogue", (ex: HttpExchange) => safely(ex) {
      (ex.getRequestMethod, idOf(ex, "/service-catalogue")) match {
        case ("GET", None) =>
          // gateway.go:341: ?type=src|dest filters on the catalogue's
          // Type column ("Source"/"Destination")
          val typ = queryParam(ex, "type") match {
            case Some("src") => Some("Source")
            case Some("dest") => Some("Destination")
            case _ => None
          }
          val rows = catalogueRows(dbUrl, None)
            .filter(r => typ.forall(_ == r("type")))
          json(ex, 200, rows.map(renderCatalogue).mkString("[", ",", "]"))
        case ("GET", Some(id)) =>
          catalogueRows(dbUrl, Some(id)).headOption match {
            case Some(r) => json(ex, 200, renderCatalogue(r))
            case None => json(ex, 500, """{"Error": "no catalogue row"}""")
          }
        case _ => methodNotAllowed(ex)
      }
    })

    server.createContext("/source", (ex: HttpExchange) => safely(ex) {
      (ex.getRequestMethod, idOf(ex, "/source")) match {
        case ("GET", None) =>
          json(ex, 200, sourceRows(dbUrl, None).map(renderSource).mkString("[", ",", "]"))
        case ("GET", Some(id)) =>
          sourceRows(dbUrl, Some(id)).headOption match {
            case Some(r) =>
              // SourceDetailT (types.go:136): the source + its
              // catalogue entry (zero-valued when the service id has
              // no catalogue row, like Go's zero struct)
              val cat = catalogueRows(dbUrl, Some(r("service_id").toLong))
                .headOption.getOrElse(emptyCatalogue)
              json(ex, 200,
                s"""{"source":${renderSource(r)},"catalogue":${renderCatalogue(cat)}}""")
            case None => json(ex, 400, """{"error": "no such source"}""")
          }
        case ("POST", None) =>
          val b = body(ex)
          // gateway.go:418: the server derives the write key from
          // customer_name + secret_key; the client never supplies one
          val wk = generateWriteKey(jStr(b, "customer_name").getOrElse(""),
            jStr(b, "secret_key").getOrElse(""))
          val ok = try {
            ConfigStore.insertSource(dbUrl, jLong(b, "id").getOrElse(0L),
              jStr(b, "name").getOrElse(""),
              jLong(b, "service_id").getOrElse(0L).toInt, wk,
              jLong(b, "customer_id").getOrElse(0L).toInt,
              jStr(b, "config").getOrElse("{}"),
              jStr(b, "status").getOrElse("enabled"))
            true
          } catch { case _: java.sql.SQLException => false }
          json(ex, 200, s"""{"success":$ok}""")
        case ("PATCH", None) =>
          val b = body(ex)
          val cn = jStr(b, "customer_name").getOrElse("")
          val sk = jStr(b, "secret_key").getOrElse("")
          // gateway.go:440: PATCH regenerates the key only when both
          // credentials are present; otherwise the given key stands
          val wk = if (cn.nonEmpty && sk.nonEmpty) generateWriteKey(cn, sk)
            else jStr(b, "write_key").getOrElse("")
          val ok = ConfigStore.updateSource(dbUrl,
            jLong(b, "id").getOrElse(0L), jStr(b, "name").getOrElse(""),
            jLong(b, "service_id").getOrElse(0L).toInt, wk,
            jLong(b, "customer_id").getOrElse(0L).toInt,
            jStr(b, "config").getOrElse("{}"),
            jStr(b, "status").getOrElse("enabled"))
          json(ex, 200, s"""{"success":$ok}""")
        case ("DELETE", Some(id)) =>
          json(ex, 200, s"""{"success":${ConfigStore.deleteSource(dbUrl, id)}}""")
        case _ => methodNotAllowed(ex)
      }
    })

    server.createContext("/destination", (ex: HttpExchange) => safely(ex) {
      (ex.getRequestMethod, idOf(ex, "/destination")) match {
        case ("GET", None) =>
          json(ex, 200, destRows(dbUrl, None).map(renderDest).mkString("[", ",", "]"))
        case ("GET", Some(id)) =>
          destRows(dbUrl, Some(id)).headOption match {
            case Some(r) =>
              val cat = catalogueRows(dbUrl, Some(r("service_id").toLong))
                .headOption.getOrElse(emptyCatalogue)
              json(ex, 200,
                s"""{"destination":${renderDest(r)},"catalogue":${renderCatalogue(cat)}}""")
            case None => json(ex, 400, """{"error": "no such destination"}""")
          }
        case ("POST", None) =>
          val b = body(ex)
          val ok = try {
            ConfigStore.insertDestination(dbUrl, jLong(b, "id").getOrElse(0L),
              jStr(b, "name").getOrElse(""),
              jLong(b, "service_id").getOrElse(0L).toInt,
              jLong(b, "customer_id").getOrElse(0L).toInt,
              jStr(b, "config").getOrElse("{}"),
              jStr(b, "status").getOrElse("enabled"))
            true
          } catch { case _: java.sql.SQLException => false }
          json(ex, 200, s"""{"success":$ok}""")
        case ("PATCH", None) =>
          val b = body(ex)
          val ok = ConfigStore.updateDestination(dbUrl,
            jLong(b, "id").getOrElse(0L), jStr(b, "name").getOrElse(""),
            jLong(b, "service_id").getOrElse(0L).toInt,
            jLong(b, "customer_id").getOrElse(0L).toInt,
            jStr(b, "config").getOrElse("{}"),
            jStr(b, "status").getOrElse("enabled"))
          json(ex, 200, s"""{"success":$ok}""")
        case ("DELETE", Some(id)) =>
          json(ex, 200, s"""{"success":${ConfigStore.deleteDestination(dbUrl, id)}}""")
        case _ => methodNotAllowed(ex)
      }
    })

    server.createContext("/connection", (ex: HttpExchange) => safely(ex) {
      (ex.getRequestMethod, idOf(ex, "/connection")) match {
        case ("GET", None) =>
          json(ex, 200, connRows(dbUrl, None).map(renderConn).mkString("[", ",", "]"))
        case ("GET", Some(id)) =>
          connRows(dbUrl, Some(id)).headOption match {
            case Some(r) => json(ex, 200, renderConn(r))
            case None => json(ex, 400, """{"error": "no such connection"}""")
          }
        case ("POST", None) =>
          val b = body(ex)
          val ok = try {
            ConfigStore.insertConnection(dbUrl, jLong(b, "id").getOrElse(0L),
              jLong(b, "source_id").getOrElse(0L).toInt,
              jLong(b, "destination_id").getOrElse(0L).toInt,
              jStr(b, "transforms").getOrElse("[]"))
            true
          } catch { case _: java.sql.SQLException => false }
          json(ex, 200, s"""{"success":$ok}""")
        case ("PATCH", None) =>
          val b = body(ex)
          val ok = ConfigStore.updateConnection(dbUrl,
            jLong(b, "id").getOrElse(0L),
            jLong(b, "source_id").getOrElse(0L).toInt,
            jLong(b, "destination_id").getOrElse(0L).toInt,
            jStr(b, "transforms").getOrElse("[]"))
          json(ex, 200, s"""{"success":$ok}""")
        case ("DELETE", Some(id)) =>
          json(ex, 200, s"""{"success":${ConfigStore.deleteConnection(dbUrl, id)}}""")
        case _ => methodNotAllowed(ex)
      }
    })

    server.createContext("/authenticate", (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestMethod != "POST") methodNotAllowed(ex)
      else {
        val b = body(ex)
        val hash = generateWriteKey(jStr(b, "customer_name").getOrElse(""),
          jStr(b, "secret_key").getOrElse(""))
        if (ConfigStore.authenticate(dbUrl, hash))
          json(ex, 200, """{"Status":"Authentication Passed"}""")
        else json(ex, 400, """{"Status":"No matched source instance!"}""")
      }
    })

    server.createContext("/field-options", (ex: HttpExchange) => safely(ex) {
      // gateway.go:576: the per-service type vocabularies the portal's
      // field-mapping UI offers (integrations/*/main.go type maps)
      def render(m: Seq[(String, String)]) =
        m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      val out = (queryParam(ex, "type"), queryParam(ex, "name")) match {
        case (Some("destination"), Some("Postgres")) => render(Seq(
          "INT" -> "int", "FLOAT" -> "float64", "BOOLEAN" -> "bool",
          "SERIAL" -> "int", "BIGSERIAL" -> "int64", "VARCHAR" -> "string",
          "TEXT" -> "string", "JSONB" -> "string", "TIMESTAMP" -> "datetime"))
        case (Some("destination"), Some("PowerBI")) => render(Seq(
          "NUMBER" -> "number", "TEXT" -> "string", "DATETIME" -> "datetime"))
        case (Some("destination"), Some("Anaplan")) => render(Seq(
          "NUMBER" -> "number", "BOOLEAN" -> "bool", "TEXT" -> "string",
          "DATE" -> "date"))
        case (Some("source"), _) => render(Seq(
          "INT" -> "int", "FLOAT" -> "float64", "BOOLEAN" -> "bool",
          "STRING" -> "string", "TIMESTAMP" -> "datetime", "DATE" -> "date"))
        case _ => ""
      }
      json(ex, 200, out)
    })

    server.createContext("/router-job-status", (ex: HttpExchange) => safely(ex) {
      json(ex, 200, routerJobStatus())
    })

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, "graft-portal"); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    server
  }

  // ---- request plumbing -------------------------------------------

  private def safely(ex: HttpExchange)(f: => Unit): Unit =
    try f catch {
      case e: Throwable => try json(ex, 500,
        s"""{"Error": "${Spool.jsonEscape(String.valueOf(e.getMessage))}"}""")
      catch { case _: Throwable => () }
    }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Trailing `/:id` path segment, None for the bare collection. */
  private def idOf(ex: HttpExchange, root: String): Option[Long] = {
    val rest = ex.getRequestURI.getPath.stripPrefix(root).stripPrefix("/")
    if (rest.isEmpty) None else rest.toLongOption
  }

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.takeWhile(_ != '=') == key =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })

  private def json(ex: HttpExchange, code: Int, out: String): Unit = {
    val bytes = out.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    // -1 = no body (an empty field-options answer); 0 would mean chunked
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def methodNotAllowed(ex: HttpExchange): Unit =
    json(ex, GatewayResponse.getErrorStatusCode(GatewayResponse.InvalidRequestMethod),
      GatewayResponse.makeResponse(GatewayResponse.InvalidRequestMethod))

  // ---- flat-JSON field extraction (control-plane bodies) ----------

  private val strField = """"((?:[^"\\]|\\.)*)""""

  private[sources] def jStr(jsonBody: String, key: String): Option[String] =
    (s""""${java.util.regex.Pattern.quote(key)}"\\s*:\\s*$strField""").r
      .findFirstMatchIn(jsonBody).map(m => unescape(m.group(1)))

  private[sources] def jLong(jsonBody: String, key: String): Option[Long] =
    (s""""${java.util.regex.Pattern.quote(key)}"\\s*:\\s*(-?\\d+)""").r
      .findFirstMatchIn(jsonBody).map(_.group(1).toLong)

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' if i + 5 < s.length + 1 && i + 6 <= s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.result()
  }

  // ---- store reads + struct-tag-shaped rendering ------------------

  private type Row = Map[String, String]

  private def rows(dbUrl: String, sql: String, id: Option[Long],
                   cols: Seq[String]): Seq[Row] =
    withConnection(dbUrl) { conn =>
      val ps = conn.prepareStatement(sql + id.map(_ => " WHERE id = ?").getOrElse("") + " ORDER BY id")
      try {
        id.foreach(ps.setLong(1, _))
        val rs = ps.executeQuery()
        try {
          val out = Seq.newBuilder[Row]
          while (rs.next())
            out += cols.map(c => c -> String.valueOf(rs.getString(c))).toMap
          out.result()
        } finally rs.close()
      } finally ps.close()
    }

  private def sourceRows(dbUrl: String, id: Option[Long]): Seq[Row] =
    rows(dbUrl, """SELECT * FROM "source"""", id,
      Seq("id", "name", "service_id", "write_key", "customer_id", "config", "status"))

  private def destRows(dbUrl: String, id: Option[Long]): Seq[Row] =
    rows(dbUrl, """SELECT * FROM "destination"""", id,
      Seq("id", "name", "service_id", "customer_id", "config", "status"))

  private def connRows(dbUrl: String, id: Option[Long]): Seq[Row] =
    rows(dbUrl, """SELECT * FROM "connection"""", id,
      Seq("id", "source_id", "destination_id", "transforms"))

  private def catalogueRows(dbUrl: String, id: Option[Long]): Seq[Row] =
    rows(dbUrl, """SELECT * FROM "service_catalogue"""", id,
      Seq("id", "name", "type", "access", "category", "url", "notes",
        "metadata", "iconurl"))

  private val emptyCatalogue: Row = Map("id" -> "0", "name" -> "",
    "type" -> "", "access" -> "", "category" -> "", "url" -> "",
    "notes" -> "", "metadata" -> "", "iconurl" -> "").withDefaultValue("")

  private def s(r: Row, k: String): String =
    "\"" + Spool.jsonEscape(Option(r(k)).filter(_ != "null").getOrElse("")) + "\""
  private def n(r: Row, k: String): String =
    Option(r(k)).filter(_ != "null").getOrElse("0")

  /** SourceInstanceT struct-tag JSON (types.go:115-125) — the
    * credential fields marshal as empty strings, never stored. */
  private def renderSource(r: Row): String =
    s"""{"id":${n(r, "id")},"name":${s(r, "name")},"service_id":${n(r, "service_id")},""" +
      s""""write_key":${s(r, "write_key")},"customer_id":${n(r, "customer_id")},""" +
      s""""customer_name":"","secret_key":"","config":${s(r, "config")},""" +
      s""""status":${s(r, "status")}}"""

  private def renderDest(r: Row): String =
    s"""{"id":${n(r, "id")},"name":${s(r, "name")},"service_id":${n(r, "service_id")},""" +
      s""""customer_id":${n(r, "customer_id")},"config":${s(r, "config")},""" +
      s""""status":${s(r, "status")}}"""

  private def renderConn(r: Row): String =
    s"""{"id":${n(r, "id")},"source_id":${n(r, "source_id")},""" +
      s""""destination_id":${n(r, "destination_id")},"transforms":${s(r, "transforms")}}"""

  private def renderCatalogue(r: Row): String =
    s"""{"id":${n(r, "id")},"name":${s(r, "name")},"type":${s(r, "type")},""" +
      s""""access":${s(r, "access")},"category":${s(r, "category")},""" +
      s""""url":${s(r, "url")},"notes":${s(r, "notes")},""" +
      s""""metadata":${s(r, "metadata")},"iconurl":${s(r, "iconurl")}}"""
}
