package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricPoint
import graft.sources.PointStore

/**
 * Live-port WebSocket integration test — the engine's analog of the
 * reference's WebSocketClientIT (server/src/test/java/timely/server/
 * integration/WebSocketClientIT.java): put data, subscribe over a REAL
 * WebSocket connection, receive MetricResponse envelopes, and require the
 * `complete:true` sentinel for a bounded (endTime) subscription — plus the
 * per-caller visibility contract (authorized vs anonymous sessions see
 * different points, WebSocketClientIT.testClientAuthAccess /
 * testClientAnonymousAccess) and the reference's protocol-error close frames
 * (WSAddSubscriptionRequestHandler.java:27,48).
 */
class WebSocketApiSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val T = 1704067200000L
  private lazy val dir = Files.createTempDirectory("graft-ws").toFile
  private lazy val dataDir = new java.io.File(dir, "data").getAbsolutePath
  private lazy val metaDir = new java.io.File(dir, "meta").getAbsolutePath

  private lazy val auth = new AuthSessions(
    Map("alice" -> AuthSessions.User("secret", Seq("A"))),
    allowAnonymous = true)

  private lazy val api = new WebSocketApi(spark, dataDir, metaDir,
    sessions = Some(auth), subscriptionBatchSize = 100)
  private lazy val port = api.start()

  override def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    // WebSocketClientIT-style fixture plus viz-labeled points: the bounded
    // range is [T, T+1000]; the T+2000 point is the past-end completion signal
    val pts = Seq(
      MetricPoint("sys.cpu.user", T, 1.0, Map("tag1" -> "value1", "rack" -> "r1"), None),
      MetricPoint("sys.cpu.user", T + 500, 2.0, Map("tag3" -> "value3", "rack" -> "r2"), Some("A")),
      MetricPoint("sys.cpu.user", T + 600, 3.0, Map("rack" -> "r3"), Some("B")),
      MetricPoint("sys.cpu.user", T + 2000, 9.0, Map("rack" -> "r1"), None),
      MetricPoint("sys.cpu.idle", T + 2, 1.0, Map("tag3" -> "value3"), None))
    PointStore.write(pts.toDF(), dataDir)
    PointStore.writeMeta(pts.toDF(), metaDir)
    port // force server start
  }

  override def afterAll(): Unit = {
    api.stop()
    super.afterAll()
  }

  /** Minimal WS client over a raw socket (the test plays the reference's
    * WebSocketSubscriptionClient). */
  private final class Client(cookie: Option[String] = None,
      portOverride: Option[Int] = None) {
    private val socket = new Socket("127.0.0.1", portOverride.getOrElse(port))
    socket.setSoTimeout(200)
    private val in = new BufferedInputStream(socket.getInputStream)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private val mask = Array[Byte](1, 2, 3, 4)

    def handshake(): Int = {
      out.write(WebSocketCodec.clientHandshake("/websocket", s"127.0.0.1:$port",
        "dGhlIHNhbXBsZSBub25jZQ==", cookie))
      out.flush()
      val sb = new StringBuilder
      var done = false
      while (!done) {
        val cur = in.read()
        if (cur == -1) done = true
        else { sb.append(cur.toChar); if (sb.endsWith("\r\n\r\n")) done = true }
      }
      sb.toString.split(" ")(1).toInt // status code
    }

    def send(json: String): Unit =
      WebSocketCodec.writeClientFrame(out, WebSocketCodec.OpText, json.getBytes(UTF_8), mask)

    /** Poll frames until `deadline` (or `minFrames` text frames arrived, or a
      * complete sentinel when `untilComplete`); returns all text payloads
      * received and whether a close frame arrived. */
    def collectFrames(untilComplete: Boolean, deadlineMs: Long = 60000L,
        minFrames: Int = Int.MaxValue): (Seq[String], Boolean) = {
      val texts = ArrayBuffer[String]()
      var closed = false
      val t0 = System.currentTimeMillis()
      var done = false
      while (!done && System.currentTimeMillis() - t0 < deadlineMs) {
        try {
          WebSocketCodec.readMessage(in) match {
            case Some((WebSocketCodec.OpText, p)) =>
              val s = new String(p, UTF_8)
              texts += s
              if (untilComplete && s.contains("\"complete\":true")) done = true
              if (texts.size >= minFrames) done = true
            case Some((WebSocketCodec.OpClose, _)) => closed = true; done = true
            case Some(_) => ()
            case None => done = true
          }
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      (texts.toSeq, closed)
    }

    /** Read until the server's close frame and return its (code, reason);
      * None when the deadline passes or the stream ends first. */
    def awaitClose(deadlineMs: Long = 30000L): Option[(Int, String)] = {
      val t0 = System.currentTimeMillis()
      while (System.currentTimeMillis() - t0 < deadlineMs) {
        try WebSocketCodec.readMessage(in) match {
          case Some((WebSocketCodec.OpClose, p)) =>
            return Some((((p(0) & 0xFF) << 8) | (p(1) & 0xFF),
              new String(p, 2, p.length - 2, UTF_8)))
          case Some(_) => ()
          case None => return None
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      None
    }

    /** The text frames read until the stream ends; None when it has not
      * ended within `deadlineMs`. */
    def textsToEnd(deadlineMs: Long): Option[Seq[String]] = {
      val texts = ArrayBuffer[String]()
      val t0 = System.currentTimeMillis()
      while (System.currentTimeMillis() - t0 < deadlineMs) {
        try WebSocketCodec.readMessage(in) match {
          case Some((WebSocketCodec.OpText, p)) => texts += new String(p, UTF_8)
          case Some(_) => ()
          case None => return Some(texts.toSeq)
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      None
    }

    def close(): Unit = socket.close()
  }

  private def responsesOf(frames: Seq[String]): Seq[JValue] =
    frames.flatMap { f =>
      JsonMethods.parse(f) \ "responses" match {
        case JArray(rs) => rs
        case _ => Nil
      }
    }

  private def tsOf(r: JValue): Long = r \ "timestamp" match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => fail(s"no timestamp in $r: $other")
  }

  test("WebSocketClientIT workflow: subscribe -> receive frames -> bounded range completes") {
    val c = new Client()
    assert(c.handshake() == 101)
    c.send("""{"operation":"create","subscriptionId":"sub1"}""")
    c.send(s"""{"operation":"add","subscriptionId":"sub1","metric":"sys.cpu.user",""" +
      s""""startTime":$T,"endTime":${T + 1000},"delayTime":100}""")
    val (frames, _) = c.collectFrames(untilComplete = true)
    c.close()
    val rs = responsesOf(frames)
    assert(rs.nonEmpty, s"no responses in $frames")
    // every response is for the subscribed metric + subscription id
    rs.foreach { r =>
      assert(r \ "metric" == JString("sys.cpu.user"))
      assert(r \ "subscriptionId" == JString("sub1"))
    }
    val complete = rs.filter(r => r \ "complete" == JBool(true))
    assert(complete.nonEmpty, "complete:true sentinel must arrive for a bounded subscription")
    // anonymous session: only unlabeled in-range points (T); viz A/B hidden,
    // past-end point (T+2000) never delivered
    val dataTs = rs.filter(r => r \ "complete" == JBool(false)).map(tsOf).toSet
    assert(dataTs == Set(T), s"anonymous sees only the unlabeled in-range point, got $dataTs")
  }

  test("authorized session sees its viz-labeled points (per-caller enforcement)") {
    val sid = auth.login("alice", "secret").get
    val c = new Client(cookie = Some(s"${AuthSessions.CookieName}=$sid"))
    assert(c.handshake() == 101)
    c.send("""{"operation":"create","subscriptionId":"sub2"}""")
    c.send(s"""{"operation":"add","subscriptionId":"sub2","metric":"sys.cpu.user",""" +
      s""""startTime":$T,"endTime":${T + 1000},"delayTime":100}""")
    val (frames, _) = c.collectFrames(untilComplete = true)
    c.close()
    val rs = responsesOf(frames)
    val dataTs = rs.filter(r => r \ "complete" == JBool(false)).map(tsOf).toSet
    // alice (auths=[A]) sees unlabeled T and viz=A T+500; viz=B T+600 stays hidden
    assert(dataTs == Set(T, T + 500), s"auths=[A] sees unlabeled + viz=A, got $dataTs")
  }

  test("add without create closes with 1003 like the reference") {
    val c = new Client()
    assert(c.handshake() == 101)
    c.send("""{"operation":"add","subscriptionId":"nope","metric":"m"}""")
    val (_, closed) = c.collectFrames(untilComplete = false, deadlineMs = 5000L)
    c.close()
    assert(closed, "unknown subscription id must close the connection (reference 1003)")
  }

  test("timeseries operations over WS: version, aggregators, suggest") {
    val c = new Client()
    assert(c.handshake() == 101)
    c.send("""{"operation":"version"}""")
    c.send("""{"operation":"aggregators"}""")
    c.send("""{"operation":"suggest","type":"metrics","q":"sys.cpu","max":10}""")
    c.send("""{"operation":"cache"}""")
    // version/aggregators are static strings; suggest/cache run Spark jobs —
    // poll until all four frames land
    val (frames, _) = c.collectFrames(untilComplete = false, deadlineMs = 60000L, minFrames = 4)
    c.close()
    assert(frames.exists(_.contains(graft.planner.TimelyApi.Version)))
    assert(frames.exists(_.contains("\"avg\"")))
    assert(frames.exists(f => f.contains("sys.cpu.user") && f.contains("sys.cpu.idle")))
    // cache (CacheResponse shape): anonymous session sees only unlabeled
    // points, so newest is the T+2000 unlabeled one, not the viz-labeled rows
    assert(frames.exists(f => f.contains(s""""oldestTimestamp":$T""") &&
      f.contains(s""""newestTimestamp":${T + 2000}""")), frames.mkString("\n"))
  }

  test("lookup on a malformed query closes with 1008 and the parser's message") {
    // HTTP answers 400 for both (the shared TimelyApi.parseLookupQuery)
    for ((query, reason) <- Seq(
        "m{host}" -> "requirement failed: bad lookup tag 'host'",
        "m{host=a" -> "requirement failed: bad lookup query: m{host=a")) {
      val c = new Client()
      assert(c.handshake() == 101)
      c.send(s"""{"operation":"lookup","query":"$query"}""")
      val closed = c.awaitClose()
      c.close()
      assert(closed == Some((1008, reason)), s"lookup $query")
    }
  }

  test("query whose tags match no catalog entry closes with 1008 No matching tags") {
    // the reference's pre-scan meta check (DataStore.java:936-941), which
    // HTTP answers with 400
    val c = new Client()
    assert(c.handshake() == 101)
    c.send(s"""{"operation":"query","start":$T,"end":${T + 1000},""" +
      """"queries":[{"aggregator":"sum","metric":"sys.cpu.user","tags":{"rack":"r99"}}]}""")
    val closed = c.awaitClose()
    c.close()
    assert(closed.map(_._1).contains(1008), s"got $closed")
    assert(closed.exists(_._2.startsWith("No matching tags")), s"got $closed")
  }

  test("MetricScanner batch semantics: size-bounded envelopes, sentinel flush, slow consumer") {
    // dedicated gateway: batch size 2, so envelope shapes are forced by the
    // batch bound + the micro-batch's end, which carries the sentinel
    // (MetricScanner.java:212-214 size flush, 270-280 completion flush)
    val dir2 = Files.createTempDirectory("graft-ws-batch").toFile
    val dataDir2 = new java.io.File(dir2, "data").getAbsolutePath
    val metaDir2 = new java.io.File(dir2, "meta").getAbsolutePath
    import spark.implicits._
    val pts = (0 until 5).map(i =>
      MetricPoint("m.batch", T + i * 100L, i.toDouble, Map("rack" -> "r1"), None)) :+
      MetricPoint("m.batch", T + 2000, 9.0, Map("rack" -> "r1"), None) // past-end trigger
    PointStore.write(pts.toDF(), dataDir2)
    PointStore.writeMeta(pts.toDF(), metaDir2)
    val api2 = new WebSocketApi(spark, dataDir2, metaDir2,
      subscriptionBatchSize = 2)
    val port2 = api2.start()
    try {
      val c = new Client(portOverride = Some(port2))
      assert(c.handshake() == 101)
      c.send("""{"operation":"create","subscriptionId":"b1"}""")
      c.send(s"""{"operation":"add","subscriptionId":"b1","metric":"m.batch",""" +
        s""""startTime":$T,"endTime":${T + 1000},"delayTime":100}""")
      // slow consumer: don't read anything until the subscription has long
      // completed server-side — frames must buffer, none lost, batches intact
      Thread.sleep(8000)
      val (frames, _) = c.collectFrames(untilComplete = true)
      c.close()
      val perEnvelope = frames.map(f => responsesOf(Seq(f)))
      val all = perEnvelope.flatten
      val data = all.filter(r => r \ "complete" == JBool(false))
      assert(data.map(tsOf) == (0 until 5).map(T + _ * 100L),
        s"all in-range rows, ts-ordered: ${data.map(tsOf)}")
      assert(all.exists(r => r \ "complete" == JBool(true)), "sentinel must flush the tail")
      // every envelope before the sentinel-bearing one is exactly batch-sized
      val beforeSentinel = perEnvelope.takeWhile(!_.exists(r => r \ "complete" == JBool(true)))
      assert(beforeSentinel.forall(_.size == 2),
        s"size-bounded envelopes, got ${perEnvelope.map(_.size)}")
    } finally api2.stop()
  }

  test("a gateway started, stopped and started again serves a bounded subscription to completion") {
    val api2 = new WebSocketApi(spark, dataDir, metaDir)
    api2.start()
    api2.stop()
    val port2 = api2.start()
    try {
      val c = new Client(portOverride = Some(port2))
      assert(c.handshake() == 101)
      c.send("""{"operation":"create","subscriptionId":"again"}""")
      c.send(s"""{"operation":"add","subscriptionId":"again","metric":"sys.cpu.user",""" +
        s""""startTime":$T,"endTime":${T + 1000},"delayTime":100}""")
      val (frames, closed) = c.collectFrames(untilComplete = true, deadlineMs = 10000L)
      c.close()
      val rs = responsesOf(frames)
      assert(!closed, s"the restarted gateway closed the connection after $frames")
      assert(rs.filter(r => r \ "complete" == JBool(false)).map(tsOf) == Seq(T), frames)
      assert(rs.exists(r => r \ "complete" == JBool(true)), s"no sentinel in $frames")
    } finally api2.stop()
  }

  test("stopping the gateway ends a live subscription as a disconnect does: its sentinel, then end of stream") {
    val api2 = new WebSocketApi(spark, dataDir, metaDir)
    val port2 = api2.start()
    try {
      val before = spark.streams.active.map(_.id).toSet
      val c = new Client(portOverride = Some(port2))
      assert(c.handshake() == 101)
      c.send("""{"operation":"create","subscriptionId":"live"}""")
      c.send(s"""{"operation":"add","subscriptionId":"live","metric":"sys.cpu.idle",""" +
        s""""startTime":$T,"delayTime":100}""")
      val (first, _) = c.collectFrames(untilComplete = false, deadlineMs = 10000L, minFrames = 1)
      assert(responsesOf(first).exists(r => r \ "complete" == JBool(false)), s"no row before stop: $first")
      val started = spark.streams.active.map(_.id).toSet -- before
      assert(started.nonEmpty)
      api2.stop()
      val outliving = spark.streams.active.map(_.id).toSet.intersect(started)
      val rest = c.textsToEnd(10000L)
      c.close()
      assert(outliving.isEmpty, "a query the add started outlives stop")
      val last = rest.flatMap(_.lastOption).toSeq.flatMap(f => responsesOf(Seq(f)))
      assert(last.exists(r => r \ "complete" == JBool(true) && r \ "metric" == JString("sys.cpu.idle")),
        s"the sentinel, then end of stream: $rest")
    } finally api2.stop()
  }

  test("concurrent connections: independent subscriptions, one closing leaves the other live") {
    val c1 = new Client()
    val c2 = new Client()
    assert(c1.handshake() == 101)
    assert(c2.handshake() == 101)
    // same subscriptionId on both connections is fine — each connection owns
    // its own Subscriptions engine (the reference keys subscriptions per WS
    // session the same way)
    c1.send("""{"operation":"create","subscriptionId":"shared"}""")
    c2.send("""{"operation":"create","subscriptionId":"shared"}""")
    c1.send(s"""{"operation":"add","subscriptionId":"shared","metric":"sys.cpu.user",""" +
      s""""startTime":$T,"endTime":${T + 1000},"delayTime":100}""")
    c2.send(s"""{"operation":"add","subscriptionId":"shared","metric":"sys.cpu.idle",""" +
      s""""startTime":$T,"endTime":${T + 1000},"delayTime":100}""")
    // c1 completes its bounded range and closes; c2 must still deliver
    val (f1, _) = c1.collectFrames(untilComplete = true)
    c1.send("""{"operation":"close","subscriptionId":"shared"}""")
    c1.close()
    val (f2, _) = c2.collectFrames(untilComplete = false, deadlineMs = 30000L, minFrames = 1)
    c2.close()
    val m1 = responsesOf(f1).filter(r => r \ "complete" == JBool(false)).map(_ \ "metric").toSet
    val m2 = responsesOf(f2).filter(r => r \ "complete" == JBool(false)).map(_ \ "metric").toSet
    assert(m1 == Set(JString("sys.cpu.user")), s"c1 sees only its metric: $m1")
    assert(m2 == Set(JString("sys.cpu.idle")), s"c2 sees only its metric: $m2")
  }

  test("WS put -> live subscription delivers the new point (WSMetricPutHandler flow)") {
    val c = new Client()
    assert(c.handshake() == 101)
    c.send("""{"operation":"create","subscriptionId":"sub-put"}""")
    c.send(s"""{"operation":"add","subscriptionId":"sub-put","metric":"ws.put.metric",""" +
      s""""delayTime":200}""")
    Thread.sleep(2000) // let the tail start before the put lands
    c.send(s"""{"operation":"put","metric":{"name":"ws.put.metric",""" +
      s""""timestamp":${T + 50},"measure":42.5,"tags":[{"rack":"r9"}]}}""")
    // the streaming tail must pick the new parquet file up and push it
    val t0 = System.currentTimeMillis()
    var got = Seq.empty[JValue]
    while (got.isEmpty && System.currentTimeMillis() - t0 < 60000L) {
      val (frames, _) = c.collectFrames(untilComplete = false, deadlineMs = 2000L, minFrames = 1)
      got = responsesOf(frames).filter(r => r \ "metric" == JString("ws.put.metric"))
    }
    c.send("""{"operation":"close","subscriptionId":"sub-put"}""")
    c.close()
    assert(got.nonEmpty, "the subscription must deliver the point put over the same WS connection")
    assert(got.exists(r => tsOf(r) == T + 50))
  }

  test("remove sends the completion sentinel for an unbounded subscription") {
    val c = new Client()
    assert(c.handshake() == 101)
    c.send("""{"operation":"create","subscriptionId":"sub3"}""")
    c.send(s"""{"operation":"add","subscriptionId":"sub3","metric":"sys.cpu.idle",""" +
      s""""delayTime":100}""")
    // wait for the initial delivery, then remove -> sentinel
    Thread.sleep(3000)
    c.send("""{"operation":"remove","subscriptionId":"sub3","metric":"sys.cpu.idle"}""")
    val (frames, _) = c.collectFrames(untilComplete = true, deadlineMs = 30000L)
    c.close()
    val rs = responsesOf(frames)
    assert(rs.exists(r => r \ "complete" == JBool(true) && r \ "metric" == JString("sys.cpu.idle")),
      s"remove must deliver the complete:true sentinel, got $frames")
  }

  test("two connections may hold the same subscription id and metric, each with its caller's points") {
    // alice (auths A) and an anonymous caller both subscribe `dup` to the
    // same metric: each tail keeps its own sink and viz filter, and neither
    // connection is refused
    val sid = auth.login("alice", "secret").get
    val alice = new Client(cookie = Some(s"${AuthSessions.CookieName}=$sid"))
    val anon = new Client()
    assert(alice.handshake() == 101 && anon.handshake() == 101)
    for (c <- Seq(alice, anon)) {
      c.send("""{"operation":"create","subscriptionId":"dup"}""")
      c.send("""{"operation":"add","subscriptionId":"dup","metric":"sys.cpu.user","delayTime":100}""")
    }
    def put(ts: Long, tags: String): Unit = alice.send(s"""{"operation":"put","metric":""" +
      s"""{"name":"sys.cpu.user","timestamp":$ts,"measure":5.0,"tags":[$tags]}}""")
    put(T + 3000, """{"rack":"r4"},{"viz":"A"}""")
    put(T + 3100, """{"rack":"r4"}""") // unlabelled: shows the anonymous tail got past T+3000
    /** Data timestamps delivered until `ts` arrives (30 s at most), and
      * whether the server closed the connection. */
    def until(c: Client, ts: Long): (Set[Long], Boolean) = {
      var seen = Set.empty[Long]
      var closed = false
      val t0 = System.currentTimeMillis()
      while (!seen(ts) && !closed && System.currentTimeMillis() - t0 < 30000L) {
        val (frames, cl) = c.collectFrames(untilComplete = false, deadlineMs = 1000L, minFrames = 1)
        seen ++= responsesOf(frames).filter(r => r \ "complete" == JBool(false)).map(tsOf)
        closed = cl
      }
      (seen, closed)
    }
    val (aliceTs, aliceClosed) = until(alice, T + 3000)
    val (anonTs, anonClosed) = until(anon, T + 3100)
    for (c <- Seq(alice, anon)) { c.send("""{"operation":"close","subscriptionId":"dup"}"""); c.close() }
    assert(!aliceClosed && !anonClosed, "neither connection may be closed")
    assert(aliceTs(T + 3000), s"alice receives the viz=A point, got $aliceTs")
    assert(anonTs(T + 3100) && anonTs.subsetOf(Set(T, T + 2000, T + 3100)),
      s"the anonymous connection receives only unlabelled points, got $anonTs")
  }
}
