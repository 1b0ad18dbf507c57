package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, File}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** keytool-generated PKCS12 key material for the TLS ITs — the JDK's own
  * tooling, the same kind of stores a deployment would configure. One server
  * identity (CN=localhost with a SAN so hostname verification passes), one
  * TRUSTED client identity (imported into the server truststore), and one
  * ROGUE self-signed client identity the server has never seen
  * (TwoWaySSLFailureIT's untrusted cert). */
object TlsTestStores {
  final case class Stores(
      serverKs: String, clientTrust: String,
      clientKs: String, serverTrust: String,
      rogueKs: String, pass: String)

  val ClientDn = "CN=alice, OU=graft"

  def create(dir: File): Stores = {
    val pass = "changeit"
    def path(n: String) = new File(dir, n).getAbsolutePath
    def kt(args: String*): Unit = {
      val p = new ProcessBuilder(("keytool" +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), UTF_8)
      require(p.waitFor() == 0, s"keytool ${args.head} failed:\n$out")
    }
    def genkey(ks: String, alias: String, dname: String, ext: Seq[String] = Nil): Unit =
      kt(Seq("-genkeypair", "-alias", alias, "-keyalg", "RSA", "-keysize", "2048",
        "-validity", "3650", "-dname", dname, "-keystore", path(ks),
        "-storetype", "PKCS12", "-storepass", pass) ++ ext: _*)
    def export(ks: String, alias: String, crt: String): Unit =
      kt("-exportcert", "-alias", alias, "-keystore", path(ks),
        "-storepass", pass, "-file", path(crt))
    def trust(ts: String, alias: String, crt: String): Unit =
      kt("-importcert", "-noprompt", "-alias", alias, "-file", path(crt),
        "-keystore", path(ts), "-storetype", "PKCS12", "-storepass", pass)

    genkey("server.p12", "server", "CN=localhost",
      Seq("-ext", "san=dns:localhost,ip:127.0.0.1"))
    export("server.p12", "server", "server.crt")
    trust("clienttrust.p12", "server", "server.crt")
    genkey("client.p12", "client", ClientDn)
    export("client.p12", "client", "client.crt")
    trust("servertrust.p12", "client", "client.crt")
    genkey("rogue.p12", "rogue", "CN=mallory")

    Stores(path("server.p12"), path("clienttrust.p12"),
      path("client.p12"), path("servertrust.p12"), path("rogue.p12"), pass)
  }
}

/**
 * TLS on the serving facades — the engine's analog of the reference's SSL
 * integration suites (server/src/test/java/timely/server/integration/
 * OneWaySSLBase.java, TwoWaySSLIT.java, TwoWaySSLFailureIT.java,
 * HTTPStrictTransportSecurityIT.java, FileUserDetailsServiceIT.java):
 *  - one-way SSL: HTTPS round trips, HSTS on every response, Secure session
 *    cookie, login + viz enforcement working over TLS, anonymous-over-TLS
 *    parity;
 *  - two-way SSL: the client certificate's subject DN IS the identity (no
 *    login), mapped to authorizations like FileUserDetailsService;
 *  - failure: an untrusted client cert (or none) cannot complete the
 *    handshake;
 *  - WSS: the WebSocket gateway over the same TLS config, one-way and
 *    two-way.
 */
class TlsITSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val T = 1704067200000L
  private lazy val dir = Files.createTempDirectory("graft-tls").toFile
  private lazy val stores = TlsTestStores.create(dir)

  private lazy val auth = new AuthSessions(
    Map("alice" -> AuthSessions.User("secret", Seq("A"))),
    allowAnonymous = true,
    dnUsers = Map(TlsTestStores.ClientDn -> Seq("A")))

  private def dataDir = new File(dir, "data").getAbsolutePath
  private def metaDir = new File(dir, "meta").getAbsolutePath

  // one-way HTTPS facade (server identity only)
  private lazy val oneWay = new HttpApi(spark, dataDir, metaDir,
    sessions = Some(auth),
    tls = Some(Tls.Config(stores.serverKs, stores.pass)))
  private lazy val oneWayPort = oneWay.start()

  // two-way HTTPS facade (client certs REQUIRED, DN -> auths)
  private lazy val twoWay = new HttpApi(spark, dataDir, metaDir,
    sessions = Some(auth),
    tls = Some(Tls.Config(stores.serverKs, stores.pass,
      truststorePath = Some(stores.serverTrust), truststorePass = stores.pass,
      needClientAuth = true)))
  private lazy val twoWayPort = twoWay.start()

  private def httpsClient(keystore: Option[String] = None): HttpClient =
    HttpClient.newBuilder()
      .sslContext(Tls.clientContext(stores.clientTrust, stores.pass,
        keystorePath = keystore, keystorePass = stores.pass))
      .build()

  private def send(client: HttpClient, port: Int, path: String,
      body: Option[String] = None, cookie: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"https://localhost:$port$path"))
    body match {
      case Some(s) => b.POST(HttpRequest.BodyPublishers.ofString(s, UTF_8))
      case None => b.GET()
    }
    cookie.foreach(c => b.header("Cookie", s"${AuthSessions.CookieName}=$c"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    // unlabeled + viz=A points (the HttpAuthSpec fixture): identity decides
    // which timestamps a query returns
    val r = send(httpsClient(), oneWayPort, "/api/put", body = Some(Seq(
      s"put sys.cpu.user $T 1.0 rack=r1",
      s"put sys.cpu.user ${T + 1000} 2.0 rack=r1 viz=A").mkString("\n")))
    assert(r.statusCode() == 200, r.body())
  }

  override def afterAll(): Unit = {
    oneWay.stop(); twoWay.stop()
    super.afterAll()
  }

  private def queryBody =
    s"""{"start":$T,"end":${T + 6000},"msResolution":true,
       |"queries":[{"aggregator":"sum","metric":"sys.cpu.user",
       |"tags":{"rack":"r1"}}]}""".stripMargin

  private def dpsKeys(body: String): Set[Long] =
    """"(\d{13})":""".r.findAllMatchIn(body).map(_.group(1).toLong).toSet

  // ---- one-way SSL (OneWaySSLBase family) --------------------------------

  test("one-way TLS: HTTPS round trip, HSTS header, Secure session cookie") {
    val c = httpsClient()
    val v = send(c, oneWayPort, "/version")
    assert(v.statusCode() == 200 && v.body().contains("."))
    // HSTS on every response (HTTPStrictTransportSecurityIT)
    assert(v.headers().firstValue("Strict-Transport-Security").isPresent,
      "HSTS header required over TLS")
    assert(v.headers().firstValue("Strict-Transport-Security").get.contains("max-age="))
    // login over TLS: cookie marked Secure
    val login = send(c, oneWayPort, "/login",
      body = Some("""{"username":"alice","password":"secret"}"""))
    assert(login.statusCode() == 200)
    val sc = login.headers().firstValue("Set-Cookie").get
    assert(sc.contains("Secure"), s"session cookie must be Secure over TLS: $sc")
    // and the session works: alice sees the viz=A point
    val sid = sc.split(";")(0).split("=", 2)(1)
    val q = send(c, oneWayPort, "/api/query", body = Some(queryBody), cookie = Some(sid))
    assert(q.statusCode() == 200, q.body())
    assert(dpsKeys(q.body()) == Set(T, T + 1000), q.body())
  }

  test("one-way TLS: anonymous-over-TLS parity (unlabeled points only)") {
    val q = send(httpsClient(), oneWayPort, "/api/query", body = Some(queryBody))
    assert(q.statusCode() == 200, q.body())
    assert(dpsKeys(q.body()) == Set(T), s"anonymous sees only unlabeled: ${q.body()}")
  }

  test("one-way TLS: a client that does not trust the server cert refuses the connection") {
    // trust store = the ROGUE store (does not contain the server cert)
    val distrust = HttpClient.newBuilder()
      .sslContext(Tls.clientContext(stores.rogueKs, stores.pass)).build()
    intercept[java.io.IOException] {
      send(distrust, oneWayPort, "/version")
    }
  }

  // ---- two-way SSL (TwoWaySSLIT / FileUserDetailsServiceIT) --------------

  test("two-way TLS: client-cert DN is the identity — authorized with NO login") {
    val c = httpsClient(keystore = Some(stores.clientKs))
    val q = send(c, twoWayPort, "/api/query", body = Some(queryBody))
    assert(q.statusCode() == 200, q.body())
    // the DN maps to auths [A]: both points visible, no cookie involved
    assert(dpsKeys(q.body()) == Set(T, T + 1000), q.body())
  }

  test("two-way TLS: untrusted client cert fails the handshake (TwoWaySSLFailureIT)") {
    val rogue = HttpClient.newBuilder()
      .sslContext(Tls.clientContext(stores.clientTrust, stores.pass,
        keystorePath = Some(stores.rogueKs), keystorePass = stores.pass))
      .build()
    intercept[java.io.IOException] {
      send(rogue, twoWayPort, "/version")
    }
  }

  test("two-way TLS: NO client cert is refused outright") {
    intercept[java.io.IOException] {
      send(httpsClient(), twoWayPort, "/version")
    }
  }

  // ---- WSS (the WS gateway over the same TLS configs) --------------------

  /** Minimal WS-over-TLS client (the raw-socket Client of WebSocketApiSpec
    * with an SSLSocketFactory underneath). */
  private final class WssClient(port: Int, keystore: Option[String] = None) {
    private val ctx = Tls.clientContext(stores.clientTrust, stores.pass,
      keystorePath = keystore, keystorePass = stores.pass)
    private val socket = ctx.getSocketFactory.createSocket("localhost", port)
    socket.setSoTimeout(5000)
    private val in = new BufferedInputStream(socket.getInputStream)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private val mask = Array[Byte](9, 8, 7, 6)

    def handshake(): Int = {
      out.write(WebSocketCodec.clientHandshake("/websocket", s"localhost:$port",
        "dGhlIHNhbXBsZSBub25jZQ==", None))
      out.flush()
      val sb = new StringBuilder
      var done = false
      while (!done) {
        val cur = in.read()
        if (cur == -1) done = true
        else { sb.append(cur.toChar); if (sb.endsWith("\r\n\r\n")) done = true }
      }
      sb.toString.split(" ")(1).toInt
    }

    def send(json: String): Unit =
      WebSocketCodec.writeClientFrame(out, WebSocketCodec.OpText, json.getBytes(UTF_8), mask)

    def readText(): String = {
      WebSocketCodec.readMessage(in) match {
        case Some((WebSocketCodec.OpText, p)) => new String(p, UTF_8)
        case other => fail(s"expected a text frame, got $other")
      }
    }

    /** The text frames read until the stream ends, and how it ended: None
      * at end of stream, else the exception the read threw. */
    def textsToEnd(): (Seq[String], Option[Throwable]) = {
      val texts = scala.collection.mutable.ArrayBuffer[String]()
      try {
        var frame = WebSocketCodec.readMessage(in)
        while (frame.nonEmpty) {
          frame.collect { case (WebSocketCodec.OpText, p) => texts += new String(p, UTF_8) }
          frame = WebSocketCodec.readMessage(in)
        }
        (texts.toSeq, None)
      } catch { case scala.util.control.NonFatal(e) => (texts.toSeq, Some(e)) }
    }

    def close(): Unit = socket.close()
  }

  test("WSS one-way: handshake + version operation over TLS") {
    val ws = new WebSocketApi(spark, dataDir, metaDir, sessions = Some(auth),
      tls = Some(Tls.Config(stores.serverKs, stores.pass)))
    val port = ws.start()
    try {
      val c = new WssClient(port)
      assert(c.handshake() == 101)
      c.send("""{"operation":"version"}""")
      assert(c.readText().nonEmpty)
      c.close()
    } finally ws.stop()
  }

  test("WSS two-way: client-cert DN authorizes the session's queries") {
    val ws = new WebSocketApi(spark, dataDir, metaDir, sessions = Some(auth),
      tls = Some(Tls.Config(stores.serverKs, stores.pass,
        truststorePath = Some(stores.serverTrust), truststorePass = stores.pass,
        needClientAuth = true)))
    val port = ws.start()
    try {
      val c = new WssClient(port, keystore = Some(stores.clientKs))
      assert(c.handshake() == 101)
      c.send(s"""{"operation":"query","start":$T,"end":${T + 6000},"msResolution":true,
                |"queries":[{"aggregator":"sum","metric":"sys.cpu.user",
                |"tags":{"rack":"r1"}}]}""".stripMargin)
      val body = c.readText()
      // DN auths [A]: both timestamps visible without any login/cookie
      assert(dpsKeys(body) == Set(T, T + 1000), body)
      c.close()
      // and an untrusted peer cannot even handshake
      intercept[Exception] {
        val rogue = new WssClient(port, keystore = Some(stores.rogueKs))
        rogue.handshake()
        rogue.send("""{"operation":"version"}""")
        rogue.readText()
      }
    } finally ws.stop()
  }

  test("WSS: stop ends a live subscription with its sentinel, then end of stream, and no failure line") {
    val ws = new WebSocketApi(spark, dataDir, metaDir, sessions = Some(auth),
      tls = Some(Tls.Config(stores.serverKs, stores.pass)))
    val port = ws.start()
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    val (texts, ended) = try {
      val c = new WssClient(port)
      assert(c.handshake() == 101)
      c.send("""{"operation":"create","subscriptionId":"live"}""")
      c.send(s"""{"operation":"add","subscriptionId":"live","metric":"sys.cpu.user",""" +
        s""""startTime":$T,"delayTime":100}""")
      // the first row shows the tail is live (two 5 s reads at most)
      val first = try c.readText() catch { case _: java.net.SocketTimeoutException => c.readText() }
      assert(first.contains("responses"), first)
      System.setErr(new java.io.PrintStream(captured, true, UTF_8))
      ws.stop()
      try c.textsToEnd() finally c.close()
    } finally {
      System.setErr(stderr)
      ws.stop()
    }
    // the SSL socket's shutdownInput throws (no close_notify from the peer)
    // but shuts the input all the same, so the connection ends as over plain
    // WS: its sentinel goes out, then the stream ends
    assert(ended.isEmpty, s"the stream ended on $ended")
    assert(texts.lastOption.exists(_.contains("\"complete\":true")), texts)
    val failures = new String(captured.toByteArray, UTF_8).linesIterator.filter(_.startsWith("[graft]")).toSeq
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
