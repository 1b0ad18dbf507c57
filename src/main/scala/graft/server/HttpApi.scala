package graft.server

import java.io.OutputStreamWriter
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsExchange, HttpsParameters, HttpsServer}
import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.planner.{QueryJson, TimelyApi}

/**
 * HTTP facade — the serving analog of the reference's Netty HTTP pipeline
 * (Server.java:520-527: aggregators, metrics, query, search/lookup, suggest,
 * version, put). This class holds HTTP framing, auth and error mapping only:
 * it maps each API path to its entry in the [[Operations]] table, the one
 * path of every operation the WebSocket gateway serves too, and hands it the
 * POST body or the URL parameters, so an OpenTSDB/Grafana-style client gets
 * the same answer here as over any other transport. `/api/put` takes the
 * reference's flattened Metric JSON (Metric.java:19, HTTP body shape
 * MetricRequest.java:56-60) or newline-separated `put <metric> <ts> <value>
 * k=v...` lines (the TCP wire format, which the reference's own ITs use for
 * seeding — ITBase.java:183-198); a put with a line or field that
 * [[graft.model.MetricParser]] refuses is a 400 naming it, and stores
 * nothing. Bulk ingest at scale should use
 * [[graft.streaming.PutLineIngest]] or [[graft.sources.PointStore]] directly.
 *
 * A query answer streams chunked straight onto the response body, so an
 * `aggregator:none` query over a wide range never materializes on the
 * driver (unlike the reference server, which merges the whole response in
 * its JVM — DataStore.java:748-788); every other answer goes out with a
 * Content-Length. The table parses, checks and plans before the 200 goes
 * out, so those errors still get their status.
 *
 * HTTP error mapping mirrors the reference: unparseable request (also a
 * POST body that is not JSON) → 400
 * (TimelyExceptionHandler), no matching tags → 400 "No matching tags"
 * (HttpQueryRequestHandler.java:36), unknown path → 404, internal error → 500,
 * which also prints one stderr line (method, path, exception).
 *
 * Auth: with a [[AuthSessions]] store configured, `POST /login` authenticates
 * and sets the `TSESSIONID` cookie (the reference's login handler mints the
 * session UUID and Set-Cookie the same way —
 * TimelyLoginRequestHandler.java:44-58), and every data route resolves the
 * request's cookie to the caller's authorizations, threading them into the
 * query plan — per-caller visibility enforcement. An absent or expired
 * session falls back to the anonymous principal or is refused with 401 per
 * the store's `allowAnonymous` policy
 * (SecurityProperties.allowAnonymousHttpAccess). Without a store every
 * caller is anonymous (no authorizations).
 *
 * TLS: with a [[Tls.Config]] the facade serves HTTPS (the reference fronts
 * its HTTP pipeline with an SslHandler — Server.java:490); `needClientAuth`
 * additionally REQUIRES a client certificate (two-way SSL, TwoWaySSLIT) and
 * the verified subject DN becomes the caller's identity via
 * [[AuthSessions.caller]] — no login round trip, like the reference's
 * X509 login path. Over TLS the facade also emits
 * `Strict-Transport-Security` (HTTPStrictTransportSecurityIT) and marks the
 * session cookie `Secure`.
 *
 * Transport parity (Server.java:494-527): responses gzip when the client
 * advertises `Accept-Encoding: gzip` (HttpContentCompressor analog), and
 * cross-origin requests get CORS headers with an OPTIONS preflight handler
 * (the Netty CorsHandler analog; origins reflected, credentials allowed).
 */
class HttpApi(
    spark: SparkSession,
    dataDir: String,
    metaDir: String,
    sessions: Option[AuthSessions] = None,
    tls: Option[Tls.Config] = None,
    staticRoot: Option[String] = None) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Bind and start; `port` 0 picks an ephemeral port. Returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "already started")
    server = tls match {
      case None => HttpServer.create(new InetSocketAddress(port), 0)
      case Some(cfg) =>
        val hs = HttpsServer.create(new InetSocketAddress(port), 0)
        val ctx = cfg.sslContext()
        hs.setHttpsConfigurator(new HttpsConfigurator(ctx) {
          override def configure(p: HttpsParameters): Unit = {
            val sp = ctx.getDefaultSSLParameters
            if (cfg.needClientAuth) sp.setNeedClientAuth(true)
            p.setSSLParameters(sp)
          }
        })
        hs
    }
    pool = Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.start()
    server.getAddress.getPort
  }

  /** Closes every connection, then waits for the running handlers: a put
    * that was read is appended (or reported), though it gets no answer. */
  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    // HttpServer.stop does NOT shut down a user-supplied executor — without
    // this the 4 non-daemon pool threads outlive every server lifecycle
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.MILLISECONDS)
      pool = null
    }
  }

  private val ops = new Operations(spark, dataDir, metaDir)

  // ---- request parsing --------------------------------------------------

  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").toSeq.filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
        else URLDecoder.decode(kv.substring(0, i), UTF_8) ->
          URLDecoder.decode(kv.substring(i + 1), UTF_8)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  // ---- routing ----------------------------------------------------------

  /** Transport headers on EVERY response: HSTS over TLS
    * (HTTPStrictTransportSecurityIT pins the header on each exchange) and
    * CORS reflection when the request is cross-origin. */
  private def transportHeaders(ex: HttpExchange): Unit = {
    if (tls.isDefined)
      ex.getResponseHeaders.set("Strict-Transport-Security", "max-age=604800")
    Option(ex.getRequestHeaders.getFirst("Origin")).foreach { origin =>
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", origin)
      h.set("Access-Control-Allow-Credentials", "true")
      h.set("Vary", "Origin")
    }
  }

  private def route(ex: HttpExchange): Unit = {
    try {
      transportHeaders(ex)
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("OPTIONS", _) =>
          // CORS preflight (the Netty CorsHandler short-circuits these the
          // same way — Server.java:518): allowed methods/headers, no body
          val h = ex.getResponseHeaders
          h.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
          h.set("Access-Control-Allow-Headers", "Content-Type, Authorization")
          h.set("Access-Control-Max-Age", "86400")
          respond(ex, 204, "")
        case (_, "/version") =>
          respond(ex, 200, TimelyApi.Version + "\n", "text/plain")
        case ("POST", "/login") if sessions.isDefined =>
          val jv = QueryJson.parseDocument(body(ex))
          val cred = for {
            u <- (jv \ "username") match { case JString(s) => Some(s); case _ => None }
            p <- (jv \ "password") match { case JString(s) => Some(s); case _ => None }
          } yield (u, p)
          cred.flatMap { case (u, p) => sessions.get.login(u, p) } match {
            case Some(sid) =>
              // the reference's session cookie (TimelyLoginRequestHandler.java:52-58);
              // Secure over TLS, like the reference's cookie on its SSL port
              val secure = if (tls.isDefined) "; Secure" else ""
              ex.getResponseHeaders.add("Set-Cookie",
                s"${AuthSessions.CookieName}=$sid; Path=/; HttpOnly$secure")
              respond(ex, 200, "{}")
            case None => respond(ex, 401, "login failure\n", "text/plain")
          }
        case (m, p) if staticRoot.isDefined && !p.startsWith("/api") &&
            p != "/login" && p != "/version" =>
          // static files sit OUTSIDE the authenticated API surface, like the
          // reference's HttpStaticFileServerHandler (it receives whatever the
          // typed-request decoder did not convert, with no auth check —
          // Server.java:516, HttpStaticFileServerHandler.java:124-160)
          // hand the handler the RAW (still-encoded) path: java.net.URI has
          // already percent-decoded getPath once, and sanitizeStaticUri does
          // the one URLDecoder.decode the reference does — decoding twice
          // would 404 filenames containing literal '%' or '+'
          serveStatic(ex, m, ex.getRequestURI.getRawPath)
        case _ =>
          val ssl = ex match { case hx: HttpsExchange => Some(hx.getSSLSession); case _ => None }
          AuthSessions.caller(sessions, ssl, Option(ex.getRequestHeaders.getFirst("Cookie"))) match {
            case None => respond(ex, 401, "unauthorized\n", "text/plain")
            case Some(callerAuths) => routeAuthed(ex, callerAuths)
          }
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, Option(e.getMessage).getOrElse("bad request") + "\n", "text/plain")
      case NonFatal(e) =>
        Operations.reportFailure(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}", e)
        respond(ex, 500, e.toString + "\n", "text/plain")
    } finally ex.close()
  }

  /** API path -> the [[Operations]] entry it serves. */
  private val Routes = Map(
    "/api/aggregators" -> "aggregators", "/api/metrics" -> "metrics",
    "/api/suggest" -> "suggest", "/api/search/lookup" -> "lookup",
    "/api/query" -> "query", "/api/cache" -> "cache", "/api/put" -> "put")

  /** Run the path's operation over the POST body, or over the URL parameters
    * when there is none. It has parsed, checked and planned before any
    * status goes out; a query then streams chunked, so an
    * `aggregator:none` query over a wide range never sits on the driver,
    * and an execution error past this point truncates the chunked body. */
  private def routeAuthed(ex: HttpExchange, callerAuths: Seq[String]): Unit = {
    val method = ex.getRequestMethod
    Routes.get(ex.getRequestURI.getPath).filter(_ != "put" || method == "POST") match {
      case None => respond(ex, 404, "not found\n", "text/plain")
      case Some("query") =>
        val answer = ops.table("query")(fields(ex, method), callerAuths)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        val gz = wantsGzip(ex)
        if (gz) ex.getResponseHeaders.set("Content-Encoding", "gzip")
        ex.sendResponseHeaders(200, 0) // chunked
        val sink =
          if (gz) new java.util.zip.GZIPOutputStream(ex.getResponseBody)
          else ex.getResponseBody
        val w = new OutputStreamWriter(sink, UTF_8)
        answer(w)
        w.flush(); w.close()
      case Some(op) =>
        val w = new java.io.StringWriter()
        ops.table(op)(fields(ex, method), callerAuths)(w)
        respond(ex, 200, w.toString, if (op == "put") "text/plain" else "application/json")
    }
  }

  private def fields(ex: HttpExchange, method: String): Operations.Fields = {
    val content = if (method == "POST") body(ex).trim else ""
    if (content.nonEmpty) Operations.Body(content) else Operations.Params(params(ex))
  }

  // ---- static files ------------------------------------------------------

  /** `.*[<>&"].*` — the reference's insecure-URI reject list
    * (HttpStaticFileServerHandler.java:230). */
  private val InsecureUri = java.util.regex.Pattern.compile(""".*[<>&"].*""")
  /** Listing entries the reference will render (java:258). */
  private val AllowedFileName = java.util.regex.Pattern.compile("""[A-Za-z0-9][-_A-Za-z0-9\.]*""")
  private val HttpCacheSeconds = 60L // HttpStaticFileServerHandler.java:120

  private def httpDate(epochMs: Long): String =
    java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
      java.time.Instant.ofEpochMilli(epochMs).atZone(java.time.ZoneId.of("GMT")))

  /** Decode + reject traversal/insecure URIs, mapping `/webapp/...` under
    * `staticRoot` (the reference resolves under `user.dir` —
    * HttpStaticFileServerHandler.java:232-256). Returns null to mean 403. */
  private def sanitizeStaticUri(uri: String): java.io.File = {
    val decoded = URLDecoder.decode(uri, UTF_8)
    if (decoded.isEmpty || decoded.charAt(0) != '/' ||
        decoded.contains("/.") || decoded.contains("./") ||
        decoded.last == '.' || InsecureUri.matcher(decoded).matches()) null
    else new java.io.File(staticRoot.get, decoded)
  }

  /** GET-only file serving rooted at `staticRoot/webapp`, mirroring the
    * reference handler end to end: `/favicon.ico` aliases into `/webapp`,
    * anything outside `/webapp` is 403 (StaticFileServerIT.testGetBadPath),
    * traversal/insecure URIs 403, missing/hidden files 404, a directory URI
    * without a trailing slash redirects to one, with the slash renders a
    * listing of allowed names, and files carry the browser-cache header set
    * (Date / Expires / Cache-Control max-age / Last-Modified) with an
    * If-Modified-Since second-granularity 304 short-circuit
    * (HttpStaticFileServerHandler.java:124-228,355-374). */
  private def serveStatic(ex: HttpExchange, method: String, rawPath: String): Unit = {
    if (method != "GET") { respond(ex, 405, "method not allowed\n", "text/plain"); return }
    val uri = if (rawPath.startsWith("/favicon.ico")) rawPath.replaceFirst("/", "/webapp/")
              else rawPath
    if (!uri.startsWith("/webapp")) { respond(ex, 403, "forbidden\n", "text/plain"); return }
    val file = sanitizeStaticUri(uri)
    if (file == null) { respond(ex, 403, "forbidden\n", "text/plain"); return }
    if (file.isHidden || !file.exists()) { respond(ex, 404, "not found\n", "text/plain"); return }
    if (file.isDirectory) {
      if (uri.endsWith("/")) {
        val names = Option(file.list()).getOrElse(Array.empty[String]).sorted
          .filter(AllowedFileName.matcher(_).matches())
        val body = names.map(n => s"""<li><a href="$n">$n</a></li>""")
          .mkString(s"<html><body><h3>Listing of: $uri</h3><ul><li><a href=\"../\">..</a></li>",
            "", "</ul></body></html>")
        respond(ex, 200, body, "text/html; charset=UTF-8")
      } else {
        ex.getResponseHeaders.set("Location", uri + "/")
        respond(ex, 302, "")
      }
      return
    }
    if (!file.isFile) { respond(ex, 403, "forbidden\n", "text/plain"); return }
    val lastModS = file.lastModified() / 1000
    val ifModifiedSince = Option(ex.getRequestHeaders.getFirst("If-Modified-Since"))
      .flatMap(s => scala.util.Try(java.time.ZonedDateTime.parse(
        s, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toEpochSecond).toOption)
    if (ifModifiedSince.contains(lastModS)) {
      ex.getResponseHeaders.set("Date", httpDate(System.currentTimeMillis()))
      respond(ex, 304, "")
      return
    }
    val now = System.currentTimeMillis()
    val h = ex.getResponseHeaders
    h.set("Date", httpDate(now))
    h.set("Expires", httpDate(now + HttpCacheSeconds * 1000))
    h.set("Cache-Control", s"private, max-age=$HttpCacheSeconds")
    h.set("Last-Modified", httpDate(file.lastModified()))
    respondBytes(ex, 200, java.nio.file.Files.readAllBytes(file.toPath), contentTypeOf(file.getName))
  }

  /** Extension map the reference gets from `MimetypesFileTypeMap`
    * (HttpStaticFileServerHandler.java:376-379); octet-stream fallback. */
  private def contentTypeOf(name: String): String = {
    val ext = name.lastIndexOf('.') match {
      case -1 => ""
      case i  => name.substring(i + 1).toLowerCase
    }
    ext match {
      case "html" | "htm" => "text/html"
      case "css"          => "text/css"
      case "js"           => "text/javascript"
      case "json"         => "application/json"
      case "txt"          => "text/plain"
      case "png"          => "image/png"
      case "jpg" | "jpeg" => "image/jpeg"
      case "gif"          => "image/gif"
      case "svg"          => "image/svg+xml"
      case "ico"          => "image/x-icon"
      case _              => "application/octet-stream"
    }
  }

  /** Does the request advertise gzip support (HttpContentCompressor analog)? */
  private def wantsGzip(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Accept-Encoding")).exists(
      _.toLowerCase.split(",").exists(_.trim.takeWhile(_ != ';') == "gzip"))

  private def respond(ex: HttpExchange, status: Int, content: String,
      contentType: String = "application/json"): Unit =
    respondBytes(ex, status, content.getBytes(UTF_8), contentType)

  private def respondBytes(ex: HttpExchange, status: Int, raw: Array[Byte],
      contentType: String): Unit = {
    val gz = raw.nonEmpty && wantsGzip(ex)
    val bytes =
      if (!gz) raw
      else {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(raw); g.close()
        bos.toByteArray
      }
    try {
      ex.getResponseHeaders.set("Content-Type", contentType)
      if (gz) ex.getResponseHeaders.set("Content-Encoding", "gzip")
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    } catch {
      // headers already sent (an error mid-chunked-stream): nothing more can
      // be signalled in-band — closing the exchange truncates the chunked
      // body, which IS the client-visible error
      case _: IllegalStateException | _: java.io.IOException => ()
    }
  }
}
