package graft.server

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.sources.PointStore

/**
 * The whole serving surface in one object — the analog of the reference's
 * `Server` (server/src/main/java/timely/server/Server.java starts the TCP,
 * HTTP, UDP and WebSocket listeners together over one DataStore,
 * Server.java:520-585): HTTP facade, WebSocket gateway, and TCP/UDP line
 * listeners, all bound to ONE parquet point store + meta catalog.
 *
 * A put over any transport lands through the same [[PointStore.append]],
 * which serializes appends, so concurrent puts from many connections are
 * each stored exactly once; a put is queryable over every other transport
 * once the append that carries it returns. A TCP connection or the UDP
 * listener reads on while it appends, so its next append carries every
 * point read meanwhile ([[PutListeners]]); live subscriptions tail the same
 * store. HTTP and WS serve the
 * same operations through one table ([[Operations]]), each transport only
 * framing its requests and answers, so a request gets the same body on
 * either. An optional [[AuthSessions]] store gives the HTTP and WS
 * surfaces per-caller authorization (the TCP/UDP line protocol is
 * unauthenticated in the reference too — it binds those listeners to trusted
 * interfaces).
 *
 * [[start]] starts all four transports or none: a failed start stops those
 * already started and rethrows. [[stop]] returns once every transport has
 * appended, answered or reported what it had read.
 */
class GraftServer(
    spark: SparkSession,
    dataDir: String,
    metaDir: String,
    sessions: Option[AuthSessions] = None,
    tls: Option[Tls.Config] = None,
    staticRoot: Option[String] = None) {

  /** Ports the server is listening on after [[start]]. */
  case class Ports(http: Int, ws: Int, tcp: Int, udp: Int)

  val http = new HttpApi(spark, dataDir, metaDir, sessions = sessions,
    tls = tls, staticRoot = staticRoot)
  val ws = new WebSocketApi(spark, dataDir, metaDir, sessions = sessions,
    tls = tls)
  val tcp = new PutListeners.Tcp(PointStore.append(spark, _, dataDir, metaDir))
  val udp = new PutListeners.Udp(PointStore.append(spark, _, dataDir, metaDir))

  private var ports: Option[Ports] = None

  def start(httpPort: Int = 0, wsPort: Int = 0,
            tcpPort: Int = 0, udpPort: Int = 0): Ports = synchronized {
    require(ports.isEmpty, "already started")
    val p = try Ports(
      http = http.start(httpPort),
      ws = ws.start(wsPort),
      tcp = tcp.start(tcpPort),
      udp = udp.start(udpPort))
    catch { case NonFatal(e) => stop(); throw e }
    ports = Some(p)
    p
  }

  def stop(): Unit = synchronized {
    tcp.stop(); udp.stop(); ws.stop(); http.stop()
    ports = None
  }
}
