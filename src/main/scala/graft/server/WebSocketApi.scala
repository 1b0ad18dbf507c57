package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._

import graft.planner.QueryJson
import graft.sources.PointStore
import graft.streaming.{MetricResponseJson, Subscriptions}

/**
 * Live WebSocket gateway — the serving analog of the reference's WebSocket
 * endpoint (server/src/main/java/timely/server/Server.java:579-585 binds
 * `/websocket`; operation routing via the `@WebSocket(operation=...)`
 * annotations on CreateSubscription/AddSubscription/RemoveSubscription/
 * CloseSubscription, common/src/main/java/timely/api/request/websocket/).
 *
 * Protocol (one JSON text frame per operation, like the reference client
 * WebSocketSubscriptionClient.java:49-86):
 *   {"operation":"create","subscriptionId":id}
 *   {"operation":"add","subscriptionId":id,"metric":m,
 *    "tags":{...},"startTime":ms,"endTime":ms,"delayTime":ms}
 *   {"operation":"remove","subscriptionId":id,"metric":m}
 *   {"operation":"close","subscriptionId":id}
 * plus `put` and the timeseries operations the reference also serves over
 * WS (netty/websocket/timeseries/): version, aggregators, metrics, suggest,
 * lookup, query, cache. This class holds framing, auth and close-code
 * mapping only: each of those operations is its entry in the
 * [[Operations]] table, the one path the HTTP facade serves too, with the
 * frame's fields as its request, so a request gets the same body over WS
 * as over HTTP; an answer goes out as one text frame, and a put answers
 * none. A malformed request (bad lookup query, no matching tags, unknown
 * operation) closes the connection with 1008 and the operation's message.
 * An operation that fails otherwise closes it with 1011, and that failure,
 * like a connection that ends on an exception, prints one stderr line
 * (peer, operation, exception).
 *
 * Delivery: each connection holds one [[Subscriptions]] engine, and each
 * `add` starts a Structured Streaming tail of the store
 * ([[PointStore.stream]], [[Subscriptions.addMetric]]); matched points are
 * pushed as `{"responses":[MetricResponse…]}` envelopes. Batching follows
 * MetricScanner: responses accumulate until a batch of 100
 * (MetricScanner.java:212-214), and the end of each micro-batch sends what
 * is left, where MetricScanner flushes on a timer (MetricScanner.java:
 * 180-183); the `complete:true` sentinel rides in the envelope of the last
 * rows (sendCompletedResponse, MetricScanner.java:270-280). All frames of
 * one connection serialize through its write lock.
 *
 * Auth: the upgrade request's TSESSIONID cookie resolves to the session's
 * authorizations via [[AuthSessions]] — the viz filter inside every
 * subscription plan and query then enforces them per-caller. No valid
 * session + anonymous disallowed refuses the upgrade with 401, the WS analog
 * of SecurityProperties.allowAnonymousWsAccess
 * (WebSocketClientIT.testClientAnonymousAccess). Without a session store
 * every connection is anonymous (no authorizations).
 *
 * The gateway runs on [[SocketServer]]: a start that fails to bind leaves
 * nothing running, and `stop` ends each connection as a client disconnect
 * does. Its own thread finishes the current operation and tears its
 * subscriptions down, sentinels included, before `stop` returns.
 *
 * TLS: with a [[Tls.Config]] the gateway serves WSS (the reference's WS
 * endpoint rides the same SslHandler as HTTP — Server.java:579); two-way
 * mode requires a client certificate in the handshake and the verified
 * subject DN resolves to the session's authorizations before any cookie is
 * consulted ([[AuthSessions.caller]]).
 */
class WebSocketApi(
    spark: SparkSession,
    dataDir: String,
    metaDir: String,
    sessions: Option[AuthSessions] = None,
    tls: Option[Tls.Config] = None) {

  private val server = new SocketServer("ws", "graft-ws-accept", "graft-ws-conn", new Conn(_).run())

  def start(port: Int = 0): Int = server.start(tls match {
    case None => new ServerSocket(port)
    case Some(cfg) =>
      val s = cfg.sslContext().getServerSocketFactory
        .createServerSocket(port).asInstanceOf[javax.net.ssl.SSLServerSocket]
      if (cfg.needClientAuth) s.setNeedClientAuth(true)
      s
  })

  def stop(): Unit = server.stop()

  private val ops = new Operations(spark, dataDir, metaDir)

  /** Responses per full envelope, the reference's batch size. */
  private val SubscriptionBatchSize = 100

  // ---- one connection ----------------------------------------------------

  private final class Conn(socket: Socket) {
    private val peer = String.valueOf(socket.getRemoteSocketAddress)
    private val in = new BufferedInputStream(socket.getInputStream)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    // guards the socket's output and `pending`
    private val writeLock = new Object
    private val subs = new Subscriptions(deliver, end)
    // the subscription ids `create` made: `add` needs one
    private val created = ConcurrentHashMap.newKeySet[String]()
    private val pending = new ArrayBuffer[JValue]()
    @volatile private var closed = false

    def run(): Unit = {
      try {
        val (_, headers) = WebSocketCodec.readHandshake(in)
        val key = headers.get("sec-websocket-key")
        if (key.isEmpty || !headers.get("upgrade").exists(_.equalsIgnoreCase("websocket"))) {
          refuse(400, "Bad Request")
          return
        }
        // two-way TLS: the read above forced the SSL handshake, so the
        // session is live
        val ssl = socket match {
          case s: javax.net.ssl.SSLSocket => Some(s.getSession)
          case _ => None
        }
        val auths = AuthSessions.caller(sessions, ssl, headers.get("cookie")) match {
          case Some(resolved) => resolved
          case None => refuse(401, "Unauthorized"); return
        }
        writeLock.synchronized {
          out.write(WebSocketCodec.handshakeResponse(key.get)); out.flush()
        }
        serve(auths)
      } catch {
        // a connection `stop` ended reports nothing, even when that cut a
        // frame off
        case NonFatal(e) => if (!closed && !socket.isInputShutdown)
          Operations.reportFailure(s"ws connection from $peer", e)
      } finally {
        // every tail stops, even after a failed write; while the socket is
        // open, the sentinels of the subscriptions torn down here still go out
        created.forEach(id => subs.close(id))
        closed = true
      }
    }

    private def refuse(status: Int, reason: String): Unit = writeLock.synchronized {
      out.write(WebSocketCodec.refuseResponse(status, reason)); out.flush()
    }

    private def serve(auths: Seq[String]): Unit = {
      var open = true
      while (open && !closed) {
        WebSocketCodec.readMessage(in) match {
          case None => open = false
          case Some((WebSocketCodec.OpClose, _)) => open = closeWith(1000, "")
          case Some((WebSocketCodec.OpPing, payload)) =>
            writeLock.synchronized(WebSocketCodec.writeFrame(out, WebSocketCodec.OpPong, payload))
          case Some((WebSocketCodec.OpText, payload)) =>
            open = handle(new String(payload, UTF_8), auths)
          case Some(_) => () // binary/pong: ignored
        }
      }
    }

    /** Send a close frame; false, the value of a frame that ends the
      * connection. */
    private def closeWith(code: Int, reason: String): Boolean = {
      writeLock.synchronized(
        try WebSocketCodec.writeClose(out, code, reason) catch { case NonFatal(_) => () })
      false
    }

    /** Dispatch one operation frame; returns false when the connection must
      * close (the reference closes with a CloseWebSocketFrame on protocol
      * errors — WSAddSubscriptionRequestHandler.java:27,48). */
    private def handle(frame: String, auths: Seq[String]): Boolean = {
      val f = Operations.Body(frame)
      try f.json catch { case NonFatal(_) => return closeWith(1008, "unparseable request") }
      val op = f.str("operation").getOrElse("")
      val subId = f.str("subscriptionId")
      def requireId = subId.getOrElse(throw new IllegalArgumentException("Subscription ID is required."))
      try op match {
        case "create" =>
          created.add(requireId)
          true
        case "add" =>
          val id = requireId
          // reference: unknown id -> CloseWebSocketFrame(1003, ...)
          if (!created.contains(id)) closeWith(1003, "Unknown subscription id, create subscription first")
          else f.str("metric") match {
            case None => closeWith(1008, "Metric name cannot be null in add subscription")
            case Some(metric) =>
              subs.addMetric(id, PointStore.stream(spark, dataDir), metric,
                QueryJson.parseTags(f.json \ "tags"), auths,
                beginTimeMs = f.long("startTime").getOrElse(0L),
                endTimeMs = f.long("endTime").getOrElse(0L),
                delayMs = f.long("delayTime").getOrElse(1000L))
              true
          }
        case "remove" =>
          for (id <- subId; m <- f.str("metric")) subs.removeMetric(id, m)
          true
        case "close" =>
          subId.filter(created.remove).foreach(subs.close)
          true
        // every other operation (put, version, aggregators, metrics, suggest,
        // lookup, query, cache) is the HTTP facade's too; a put answers
        // nothing, and a live subscription's tail picks its file up
        case _ => ops.table.get(op) match {
          case None => closeWith(1008, s"unknown operation: $op")
          case Some(run) =>
            val w = new java.io.StringWriter()
            run(f, auths)(w)
            if (w.getBuffer.length > 0) sendText(w.toString)
            true
        }
      } catch {
        case e: IllegalArgumentException =>
          closeWith(1008, Option(e.getMessage).getOrElse("bad request"))
        case NonFatal(e) =>
          Operations.reportFailure(s"ws $op from $peer", e)
          closeWith(1011, "internal error")
      }
    }

    // ---- batched delivery (MetricScanner batch semantics) ----------------

    private def deliver(id: String, row: Row): Unit = writeLock.synchronized {
      pending += MetricResponseJson.response(row, id)
      if (pending.size >= SubscriptionBatchSize) sendPending()
    }

    /** The end of a micro-batch sends what is pending; the end of a
      * subscription adds its sentinel to the same envelope. */
    private def end(id: String, metric: String, complete: Boolean): Unit = writeLock.synchronized {
      if (complete) pending += MetricResponseJson.completed(metric, id)
      if (pending.nonEmpty) sendPending()
    }

    private def sendPending(): Unit = {
      sendText(MetricResponseJson.envelope(pending.toSeq))
      pending.clear()
    }

    private def sendText(text: String): Unit =
      writeLock.synchronized {
        if (!closed) try WebSocketCodec.writeText(out, text)
        catch { case NonFatal(_) => closed = true }
      }
  }
}
