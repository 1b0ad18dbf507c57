package graft.server

import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/**
 * Whole-server integration: all four transports over ONE store, like the
 * reference's Server.java binds them — a put over TCP and a put over UDP are
 * queryable over HTTP, a WebSocket subscription on the same server tails
 * the same store (the cross-transport shape the reference's integration
 * suites exercise transport-by-transport), concurrent TCP connections each
 * land every point exactly once, and HTTP and WS answer the same request
 * with the same body.
 */
class GraftServerSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val T = 1704067200000L
  private lazy val dir = Files.createTempDirectory("graft-server").toFile
  private lazy val auth = new AuthSessions(
    Map("viz" -> AuthSessions.User("pw", Seq("A"))), allowAnonymous = true)
  private lazy val server = new GraftServer(spark,
    new java.io.File(dir, "data").getAbsolutePath,
    new java.io.File(dir, "meta").getAbsolutePath,
    sessions = Some(auth))
  private lazy val ports = server.start()
  private lazy val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = { super.beforeAll(); ports }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def httpGet(path: String, cookie: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports.http}$path")).GET()
    cookie.foreach(b.header("Cookie", _))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def httpPost(path: String, body: String,
      cookie: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports.http}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8))
    cookie.foreach(b.header("Cookie", _))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** A WebSocket connection to the server on `port`, upgraded with `cookie`. */
  private final class Ws(port: Int, cookie: Option[String]) {
    private val socket = new Socket("127.0.0.1", port)
    socket.setSoTimeout(500)
    private val out = new java.io.BufferedOutputStream(socket.getOutputStream)
    val in = new java.io.BufferedInputStream(socket.getInputStream)
    out.write(WebSocketCodec.clientHandshake("/websocket", s"127.0.0.1:$port",
      "dGhlIHNhbXBsZSBub25jZQ==", cookie))
    out.flush()
    private val sb = new StringBuilder
    private var done = false
    while (!done) {
      val c = in.read()
      if (c == -1) done = true
      else { sb.append(c.toChar); if (sb.endsWith("\r\n\r\n")) done = true }
    }
    assert(sb.toString.startsWith("HTTP/1.1 101"), sb.toString)

    def send(json: String): Unit = WebSocketCodec.writeClientFrame(
      out, WebSocketCodec.OpText, json.getBytes(UTF_8), Array[Byte](9, 8, 7, 6))

    /** Send one operation and return the text frame that answers it. */
    def ask(json: String, timeoutMs: Long = 60000L): String =
      reply(json, timeoutMs).fold(c => fail(s"closed: $c"), identity)

    /** Send one operation; its answer: a close frame's (code, reason) or a
      * text frame. */
    def reply(json: String, timeoutMs: Long = 60000L): Either[(Int, String), String] = {
      send(json)
      val t0 = System.currentTimeMillis()
      while (System.currentTimeMillis() - t0 < timeoutMs) {
        try WebSocketCodec.readMessage(in) match {
          case Some((WebSocketCodec.OpText, p)) => return Right(new String(p, UTF_8))
          case Some((WebSocketCodec.OpClose, p)) =>
            return Left((((p(0) & 0xFF) << 8) | (p(1) & 0xFF), new String(p, 2, p.length - 2, UTF_8)))
          case Some(_) => ()
          case None => fail("connection ended")
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      fail(s"no answer to $json")
    }

    def close(): Unit = socket.close()
  }

  private def awaitStored(n: Long): Unit = {
    val t0 = System.currentTimeMillis()
    def count(): Long =
      try graft.sources.PointStore.read(spark,
        new java.io.File(dir, "data").getAbsolutePath).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    while (count() < n && System.currentTimeMillis() - t0 < 30000L) Thread.sleep(100)
    assert(count() >= n, s"expected >= $n stored points")
  }

  test("TCP and UDP puts are queryable over HTTP (one store behind every transport)") {
    // TCP put
    val s = new Socket("127.0.0.1", ports.tcp)
    s.getOutputStream.write(s"put xport.metric $T 1.0 src=tcp\n".getBytes(UTF_8))
    s.getOutputStream.flush(); s.close()
    // UDP put — datagrams are fire-and-forget, and under a fully loaded CI
    // host the kernel may drop one before the listener drains its socket:
    // resend until the store shows it rather than flaking. Resends can land
    // as duplicate stored points (append store), so the query below uses a
    // duplicate-insensitive aggregator (max), not sum.
    val sock = new DatagramSocket()
    val b = s"put xport.metric ${T + 1000} 2.0 src=udp\n".getBytes(UTF_8)
    def stored(): Long =
      try graft.sources.PointStore.read(spark,
        new java.io.File(dir, "data").getAbsolutePath).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val t0 = System.currentTimeMillis()
    while (stored() < 2 && System.currentTimeMillis() - t0 < 30000L) {
      sock.send(new DatagramPacket(b, b.length, InetAddress.getByName("127.0.0.1"), ports.udp))
      Thread.sleep(500)
    }
    sock.close()
    awaitStored(2)
    // HTTP query sees both transports' points
    val q = httpPost("/api/query",
      s"""{"start":$T,"end":${T + 6000},"msResolution":true,
         |"queries":[{"aggregator":"max","metric":"xport.metric","tags":{"src":"*"}}]}""".stripMargin)
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(s""""$T":1.0"""), q.body())
    assert(q.body().contains(s""""${T + 1000}":2.0"""), q.body())
    // and the meta catalog learned the metric (suggest over HTTP)
    val sug = httpGet("/api/suggest?type=metrics&q=xport")
    assert(sug.body().contains("xport.metric"), sug.body())
  }

  test("WS subscription on the same server tails the store the sockets append to") {
    // subscribe over WS first, then put over TCP — the subscription must
    // deliver the socket-ingested point (reference: MetricScanner tails the
    // store every put handler writes)
    val ws = new Ws(ports.ws, None)
    import ws.{in, send}
    send("""{"operation":"create","subscriptionId":"xp"}""")
    send("""{"operation":"add","subscriptionId":"xp","metric":"live.metric","delayTime":200}""")
    Thread.sleep(2000) // tail running
    val s = new Socket("127.0.0.1", ports.tcp)
    s.getOutputStream.write(s"put live.metric ${T + 50} 7.5 src=tcp\n".getBytes(UTF_8))
    s.getOutputStream.flush(); s.close()
    // collect frames until the subscription delivers the TCP-put point
    val t0 = System.currentTimeMillis()
    var seen = false
    while (!seen && System.currentTimeMillis() - t0 < 60000L) {
      try {
        WebSocketCodec.readMessage(in) match {
          case Some((WebSocketCodec.OpText, p)) =>
            val frames = JsonMethods.parse(new String(p, UTF_8)) \ "responses" match {
              case JArray(rs) => rs; case _ => Nil
            }
            seen = frames.exists(r => r \ "metric" == JString("live.metric") &&
              r \ "complete" == JBool(false))
          case None => Thread.sleep(100)
          case _ => ()
        }
      } catch { case _: java.net.SocketTimeoutException => () }
    }
    send("""{"operation":"close","subscriptionId":"xp"}""")
    ws.close()
    assert(seen, "WS subscription must deliver the TCP-ingested point")
  }

  test("a TCP put shows on the very next HTTP request after the store was served") {
    val query = s"""{"start":$T,"end":${T + 6000},"msResolution":true,""" +
      """"queries":[{"aggregator":"max","metric":"served.metric"}]}"""
    // serve the store first, so the HTTP facade's entry is loaded
    assert(httpGet("/api/suggest?type=metrics&q=served.metric").body() == "[]")
    assert(httpPost("/api/query", query).statusCode() == 400) // no catalog entry yet
    // the listener appends a connection's last batch at EOF and closes the
    // socket only after the append returns: read to EOF to wait for it
    val s = new Socket("127.0.0.1", ports.tcp)
    s.getOutputStream.write(s"put served.metric $T 3.0 src=tcp\n".getBytes(UTF_8))
    s.getOutputStream.flush()
    s.shutdownOutput()
    s.setSoTimeout(60000)
    assert(s.getInputStream.read() == -1)
    s.close()
    val q = httpPost("/api/query", query)
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(s""""$T":3.0"""), q.body())
    assert(httpGet("/api/suggest?type=metrics&q=served.metric").body() == """["served.metric"]""")
  }

  test("concurrent TCP connections store every point exactly once") {
    // three agents stream disjoint series at once; their batches append to
    // the same store concurrently and none may be lost or duplicated
    val agents = 3
    val perAgent = 3000
    val start = new java.util.concurrent.CountDownLatch(1)
    val senders = (0 until agents).map { a =>
      val t = new Thread(() => {
        val s = new Socket("127.0.0.1", ports.tcp)
        val out = new java.io.BufferedOutputStream(s.getOutputStream)
        start.await()
        (0 until perAgent).foreach(i =>
          out.write(s"put conc.metric ${T + i} $i.0 agent=a$a\n".getBytes(UTF_8)))
        out.flush(); s.close()
      })
      t.start(); t
    }
    start.countDown()
    senders.foreach(_.join())
    import org.apache.spark.sql.functions.col
    def stored() = graft.sources.PointStore.read(spark,
      new java.io.File(dir, "data").getAbsolutePath).where(col("metric") === "conc.metric")
    val expected = agents.toLong * perAgent
    val t0 = System.currentTimeMillis()
    while (stored().count() < expected && System.currentTimeMillis() - t0 < 60000L)
      Thread.sleep(500)
    val perPoint = stored().groupBy(col("tags")("agent"), col("ts")).count()
    assert(perPoint.count() == expected, "every (series, ts) stored")
    assert(perPoint.where(col("count") =!= 1L).count() == 0, "no point stored twice")
  }

  test("HTTP and WS give the same body for the same request from the same caller") {
    val sid = auth.login("viz", "pw").get
    val cookie = Some(s"${AuthSessions.CookieName}=$sid")
    val put = httpPost("/api/put", Seq(
      s"put same.metric $T 1.0 rack=r1",
      s"put same.metric ${T + 1000} 2.0 rack=r2",
      s"put same.metric ${T + 2000} 4.0 rack=r2 viz=A").mkString("\n"), cookie)
    assert(put.statusCode() == 200, put.body())
    val query = s"""{"start":$T,"end":${T + 10000},"msResolution":true,""" +
      """"queries":[{"aggregator":"sum","metric":"same.metric","tags":{"rack":"*"}}]}"""
    val lookup = "same.metric{rack=r.*}"
    val encoded = java.net.URLEncoder.encode(lookup, UTF_8)
    val http = Seq(
      httpPost("/api/query", query, cookie),
      httpGet("/api/suggest?type=metrics&q=same&max=10", cookie),
      httpGet("/api/suggest?type=tagk&q=same.metric", cookie),
      httpGet("/api/suggest?type=tagv&q=same.metric&tagk=rack", cookie),
      httpGet(s"/api/search/lookup?q=$encoded&limit=10", cookie),
      httpGet(s"/api/search/lookup?q=$encoded", cookie),
      httpGet("/api/metrics", cookie),
      httpGet("/api/cache", cookie),
      httpGet("/api/aggregators", cookie))
    http.foreach(r => assert(r.statusCode() == 200, r.body()))
    val ws = new Ws(ports.ws, cookie)
    val overWs = try Seq(
      ws.ask("""{"operation":"query",""" + query.drop(1)),
      ws.ask("""{"operation":"suggest","type":"metrics","q":"same","max":10}"""),
      ws.ask("""{"operation":"suggest","type":"tagk","q":"same.metric"}"""),
      ws.ask("""{"operation":"suggest","type":"tagv","q":"same.metric","tagk":"rack"}"""),
      ws.ask(s"""{"operation":"lookup","query":"$lookup","limit":10}"""),
      ws.ask(s"""{"operation":"lookup","query":"$lookup"}"""),
      ws.ask("""{"operation":"metrics"}"""),
      ws.ask("""{"operation":"cache"}"""),
      ws.ask("""{"operation":"aggregators"}""")) finally ws.close()
    http.map(_.body()).zip(overWs).zip(Seq("query", "suggest metrics", "suggest tagk",
      "suggest tagv", "lookup", "lookup without limit", "metrics", "cache", "aggregators"))
      .foreach { case ((h, w), op) => assert(h == w, s"$op over HTTP vs WS") }
    // the caller's authorization applies: the viz=A point is in the answer
    assert(overWs.head.contains(s""""${T + 2000}":4.0"""), overWs.head)
  }

  test("a point put over TCP, UDP TMFB, HTTP JSON and WS is stored as the same ms row") {
    // one point, its timestamp in seconds, carried by each transport in its
    // own wire format; `src` tells the copies apart
    val secs = T / 1000 + 7
    def json(src: String) =
      s"""{"name":"same.row","timestamp":$secs,"measure":5.0,"tags":[{"src":"$src"}]}"""
    val s = new Socket("127.0.0.1", ports.tcp)
    s.getOutputStream.write(s"put same.row $secs 5.0 src=tcp\n".getBytes(UTF_8))
    s.shutdownOutput()
    s.setSoTimeout(5000)
    assert(s.getInputStream.read() == -1) // closed once the append returned
    s.close()
    assert(httpPost("/api/put", json("http")).statusCode() == 200)
    val ws = new Ws(ports.ws, None)
    try {
      ws.send(s"""{"operation":"put","metric":${json("ws")}}""")
      ws.ask("""{"operation":"version"}""", timeoutMs = 5000L) // answered after the put
    } finally ws.close()
    import org.apache.spark.sql.functions.col
    def rows(): Set[(String, Long, Double)] = graft.sources.PointStore.read(spark,
        new java.io.File(dir, "data").getAbsolutePath)
      .where(col("metric") === "same.row")
      .select(col("tags")("src"), col("ts"), col("value")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // UDP is fire-and-forget: resend until the row shows (a resent copy may
    // be stored twice, hence distinct rows)
    val frame = graft.model.MetricsFlatBuffer.encode(Seq(
      graft.model.MetricPoint("same.row", secs, 5.0, Map("src" -> "udp"), None)))
    val sock = new DatagramSocket()
    val t0 = System.currentTimeMillis()
    while (!rows().exists(_._1 == "udp") && System.currentTimeMillis() - t0 < 5000L) {
      sock.send(new DatagramPacket(frame, frame.length, InetAddress.getByName("127.0.0.1"), ports.udp))
      Thread.sleep(500)
    }
    sock.close()
    assert(rows() == Seq("tcp", "udp", "http", "ws").map(src => (src, T + 7000, 5.0)).toSet)
  }

  test("a failed append is a 500 over HTTP and a 1011 over WS, each with one stderr line") {
    // a catalog on a filesystem scheme nothing serves: every append throws
    val broken = new GraftServer(spark, new java.io.File(dir, "broken-data").getAbsolutePath,
      "nosuch://nowhere/meta")
    val p = broken.start()
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true, UTF_8))
    val (status, closed) = try {
      val put = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${p.http}/api/put"))
        .POST(HttpRequest.BodyPublishers.ofString(s"put broken.metric $T 1.0 host=a", UTF_8)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ws = new Ws(p.ws, None)
      try (put.statusCode(), ws.reply(s"""{"operation":"put","metric":{"name":"broken.metric",""" +
        s""""timestamp":$T,"measure":1.0,"tags":[{"host":"a"}]}}"""))
      finally ws.close()
    } finally {
      System.setErr(stderr)
      broken.stop()
    }
    assert(status == 500)
    assert(closed.left.toOption.map(_._1).contains(1011), s"got $closed")
    val lines = new String(captured.toByteArray, UTF_8).linesIterator
      .filter(_.contains("UnsupportedFileSystemException")).toSeq
    assert(lines.exists(_.contains("POST /api/put")), lines.mkString("\n"))
    assert(lines.exists(_.contains("ws put from")), lines.mkString("\n"))
  }

  test("a start that fails on a taken port stops what it started; stop returns and a new start serves") {
    val restart = new GraftServer(spark, new java.io.File(dir, "restart-data").getAbsolutePath,
      new java.io.File(dir, "restart-meta").getAbsolutePath)
    val taken = new java.net.ServerSocket(0)
    val free = Seq.fill(2)(new java.net.ServerSocket(0))
    val Seq(httpPort, wsPort) = free.map(_.getLocalPort)
    free.foreach(_.close())
    try {
      intercept[java.net.BindException](
        restart.start(httpPort = httpPort, wsPort = wsPort, tcpPort = taken.getLocalPort))
      // the HTTP and WS transports started before the TCP bind failed are stopped
      Seq(httpPort, wsPort).foreach(new java.net.ServerSocket(_).close())
      restart.stop()
      val p = restart.start()
      val s = new Socket("127.0.0.1", p.tcp)
      s.getOutputStream.write(s"put restart.metric $T 4.0 host=a\n".getBytes(UTF_8))
      s.shutdownOutput()
      s.setSoTimeout(10000)
      assert(s.getInputStream.read() == -1) // the append has returned
      s.close()
      val q = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${p.http}/api/query"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"start":$T,"end":${T + 1000},""" +
          """"msResolution":true,"queries":[{"aggregator":"max","metric":"restart.metric"}]}""", UTF_8))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains(s""""$T":4.0"""), q.body())
    } finally { taken.close(); restart.stop() }
  }
}
