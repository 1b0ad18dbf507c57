package graft.server

import java.io.{BufferedInputStream, PushbackInputStream}
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.model.{MetricParser, MetricPoint, MetricsFlatBuffer}

/**
 * Live TCP/UDP put listeners — the dev-parity acceptors of the reference's
 * socket ingest (server/src/main/java/timely/server/netty/tcp/
 * TcpPutHandler.java, udp/UdpPutHandler.java, exercised by
 * TimelyTcpIT/TimelyUdpIT put round trips). These classes only move bytes
 * from a socket into the one put decoder ([[MetricParser]], which every
 * transport shares) and hand its admitted points to the supplied sink.
 *
 * Frame auto-detection mirrors the reference's MetricsBufferDecoder
 * (common/src/main/java/timely/netty/tcp/MetricsBufferDecoder.java:28-52):
 * a TCP connection opening with the FlatBuffers "TMFB" identifier is read to
 * EOF and decoded as one Metrics batch; anything else streams as newline-
 * delimited put lines, and a `version` line answers the version string. A
 * UDP datagram is one frame either way.
 *
 * Text lines batch toward the sink: a batch flushes at `BatchSize` lines
 * or when the connection pauses for `LingerMs` (so an interactive `telnet
 * put` still lands promptly) — the socket-side analog of the ingest
 * pipeline's micro-batching. A batch, frame or datagram with points the
 * decoder refuses (a malformed line, a point without a tag, a corrupt TMFB
 * frame) stores the rest and prints one stderr line naming the peer, the
 * refused count and the first refusal. A failure that ends a connection or
 * a datagram (a sink that throws) prints one stderr line naming the peer,
 * the exception and the decoded points that were not stored.
 */
object PutListeners {

  /** Put lines a TCP connection batches before it flushes. */
  private val BatchSize = 1000

  /** A TCP connection idle this long flushes its partial batch. */
  private val LingerMs = 100

  /** The largest UDP datagram. */
  private val MaxPacket = 65535

  private def reportFailure(peer: String, e: Throwable, unstored: Int): Unit =
    System.err.println(s"[graft] put from $peer failed: $e; $unstored parsed point(s) not stored")

  /** The decoded put's points; first, one stderr line if it refused any. */
  private def admitted(peer: String, put: MetricParser.Decoded): Seq[MetricPoint] = {
    put.reportRefused(s"put from $peer")
    put.points
  }

  final class Tcp(sink: Seq[MetricPoint] => Unit) {
    private var server: ServerSocket = _
    @volatile private var running = false

    def start(port: Int = 0): Int = synchronized {
      require(server == null, "already started")
      server = new ServerSocket()
      server.bind(new InetSocketAddress(port))
      running = true
      val acceptor = new Thread(() => {
        while (running) {
          try {
            val s = server.accept()
            val t = new Thread(() => serve(s), s"graft-tcp-put-${s.getPort}")
            t.setDaemon(true)
            t.start()
          } catch {
            case _: Throwable if !running => ()
            case NonFatal(_) => ()
          }
        }
      }, "graft-tcp-put-accept")
      acceptor.setDaemon(true)
      acceptor.start()
      server.getLocalPort
    }

    def stop(): Unit = synchronized {
      running = false
      if (server != null) { try server.close() catch { case NonFatal(_) => () }; server = null }
    }

    private def serve(socket: Socket): Unit = {
      val peer = String.valueOf(socket.getRemoteSocketAddress)
      var unstored = 0 // points of the sink call in progress
      def store(put: MetricParser.Decoded): Unit = {
        val pts = admitted(peer, put)
        if (pts.nonEmpty) {
          unstored = pts.size
          sink(pts)
          unstored = 0
        }
      }
      try {
        val in = new PushbackInputStream(new BufferedInputStream(socket.getInputStream), 8)
        val head = new Array[Byte](8)
        val n = in.readNBytes(head, 0, 8)
        in.unread(head, 0, n)
        if (n == 8 && MetricsFlatBuffer.hasIdentifier(head)) {
          // binary batch: one frame per connection, read to EOF
          // (MetricsBufferDecoder's TMFB branch)
          store(MetricParser.frame(in.readAllBytes()))
        } else serveText(socket, in, store)
      } catch { case NonFatal(e) => reportFailure(peer, e, unstored) }
      finally { try socket.close() catch { case NonFatal(_) => () } }
    }

    private def serveText(socket: Socket, in: PushbackInputStream,
                          store: MetricParser.Decoded => Unit): Unit = {
      socket.setSoTimeout(LingerMs)
      val batch = new ArrayBuffer[String]()
      def flush(): Unit = if (batch.nonEmpty) {
        val put = MetricParser.lines(batch)
        batch.clear()
        store(put)
      }
      val line = new java.io.ByteArrayOutputStream()
      var open = true
      while (open) {
        try {
          val b = in.read()
          if (b < 0) { // EOF
            if (line.size > 0) { batch += new String(line.toByteArray, UTF_8); line.reset() }
            open = false
          } else if (b == '\n') {
            val l = new String(line.toByteArray, UTF_8)
            line.reset()
            if (l.trim.equalsIgnoreCase("version")) {
              // the TCP `version` operation (@Tcp(operation="version"),
              // TcpVersionHandler.java:13-17 writes the version string back)
              val out = socket.getOutputStream
              out.write((graft.planner.TimelyApi.Version + "\n").getBytes(UTF_8))
              out.flush()
            } else {
              batch += l
              if (batch.size >= BatchSize) flush()
            }
          } else if (b != '\r') line.write(b)
        } catch {
          case _: SocketTimeoutException => flush() // connection paused: linger flush
        }
      }
      flush()
    }
  }

  final class Udp(sink: Seq[MetricPoint] => Unit) {
    private var socket: DatagramSocket = _
    @volatile private var running = false

    def start(port: Int = 0): Int = synchronized {
      require(socket == null, "already started")
      socket = new DatagramSocket(new InetSocketAddress(port))
      running = true
      val rx = new Thread(() => {
        val buf = new Array[Byte](MaxPacket)
        val packet = new DatagramPacket(buf, buf.length)
        while (running) {
          var unstored = 0
          // the packet's address, not getSocketAddress: that throws before
          // the first datagram has arrived
          def peer = s"${packet.getAddress}:${packet.getPort}"
          try {
            socket.receive(packet)
            // one datagram = one frame (text lines or a TMFB batch), exactly
            // the reference's UDP pipeline shape
            val frame = java.util.Arrays.copyOfRange(
              packet.getData, packet.getOffset, packet.getOffset + packet.getLength)
            if (frame.nonEmpty) {
              val pts = admitted(peer, MetricParser.frame(frame))
              unstored = pts.size
              if (pts.nonEmpty) sink(pts)
            }
          } catch {
            case _: Throwable if !running => ()
            case NonFatal(e) => reportFailure(peer, e, unstored)
          }
        }
      }, "graft-udp-put-rx")
      rx.setDaemon(true)
      rx.start()
      socket.getLocalPort
    }

    def stop(): Unit = synchronized {
      running = false
      if (socket != null) { socket.close(); socket = null }
    }
  }
}
