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
 * Text lines batch toward the sink: the reader hands a batch off at
 * `BatchSize` lines or when the connection pauses for `LingerMs` (so an
 * interactive `telnet put` still lands promptly) — the socket-side analog of
 * the ingest pipeline's micro-batching. Handing off does not wait for the
 * append: each connection (and the UDP listener) has one appender thread,
 * whose next sink call carries every point handed off while the previous one
 * ran — one append in flight and one filling, so batches grow when the write
 * falls behind, as Timely's buffered `BatchWriter` does (DataStore.java:
 * 183-186). A put is queryable once the append that carries it returns; a
 * connection closes its socket only after its last append returns.
 *
 * The TCP listener runs on [[SocketServer]]: a start that fails to bind
 * leaves nothing running, and `stop` returns once each open connection has
 * appended (or reported) the points it had read.
 *
 * A batch, frame or datagram with points the decoder refuses (a malformed
 * line, a point without a tag, a corrupt TMFB frame) stores the rest and
 * prints one stderr line naming the peer, the refused count and the first
 * refusal. A failed append (a sink that throws) prints one stderr line
 * naming the peer, the exception and every decoded point the connection held
 * that was not stored: the failed call's and those read while it ran; a TCP
 * connection then ends, the UDP listener goes on. A failed read or accept
 * prints one stderr line too.
 */
object PutListeners {

  /** Put lines a TCP connection reads before it hands them off. */
  private val BatchSize = 1000

  /** A TCP connection idle this long hands its partial batch off. */
  private val LingerMs = 100

  /**
   * Decoded points a connection (or the UDP listener) holds, in flight and
   * filling, before its reader blocks. Chosen for heap, not for a workload:
   * at about 500 bytes a point (a decoded put line with a 16-character name
   * and three short tags measures 450) it is about 25 MB a connection.
   * One hand-off may overshoot it by the batch, datagram or TMFB frame that
   * crosses it.
   */
  private val MaxHeld = 50000

  /** The largest UDP datagram. */
  private val MaxPacket = 65535

  private def reportFailure(what: String, e: Throwable, unstored: Int): Unit =
    System.err.println(s"[graft] $what failed: $e; $unstored parsed point(s) not stored")

  /** The decoded put's points; first, one stderr line if it refused any. */
  private def admitted(peer: String, put: MetricParser.Decoded): Seq[MetricPoint] = {
    put.reportRefused(s"put from $peer")
    put.points
  }

  /**
   * The points one reader hands off to its own appender thread, which calls
   * the sink with everything handed off since its previous call returned. A
   * failed call prints one stderr line counting its points and those read
   * while it ran, which are dropped; later hand-offs append as before.
   */
  private final class Handoff(what: String, sink: Seq[MetricPoint] => Unit, thread: String) {
    private val filling = new ArrayBuffer[MetricPoint]()
    private var inFlight = 0
    private var closed = false
    private var failed = false

    private val appender = new Thread(() => {
      var batch = take()
      while (batch.nonEmpty) {
        try sink(batch)
        catch { case NonFatal(e) => reportFailure(what, e, dropHeld(batch.size)) }
        batch = take()
      }
    }, thread)
    appender.setDaemon(true)
    appender.start()

    /** Hands `points` off, first waiting while `MaxHeld` are held; false
      * once an append has failed. */
    def offer(points: Seq[MetricPoint]): Boolean = synchronized {
      while (filling.size + inFlight >= MaxHeld) wait()
      if (points.nonEmpty) { filling ++= points; notifyAll() }
      !failed
    }

    /** Waits until everything handed off has been appended or reported. */
    def close(): Unit = {
      synchronized { closed = true; notifyAll() }
      appender.join()
    }

    /** Everything handed off since the last call; empty once closed. */
    private def take(): Seq[MetricPoint] = synchronized {
      inFlight = 0
      notifyAll()
      while (filling.isEmpty && !closed) wait()
      val batch = filling.toVector
      filling.clear()
      inFlight = batch.size
      batch
    }

    /** The failed call's points plus those filling, which are dropped. */
    private def dropHeld(failedCall: Int): Int = synchronized {
      failed = true
      val n = failedCall + filling.size
      filling.clear()
      n
    }
  }

  final class Tcp(sink: Seq[MetricPoint] => Unit) {
    private val server = new SocketServer("TCP put", "graft-tcp-put-accept", "graft-tcp-put", serve)

    def start(port: Int = 0): Int = server.start(new ServerSocket(port))

    /** Stops accepting, then ends every open connection: it reads no more,
      * and its points already read are appended (or reported) first. */
    def stop(): Unit = server.stop()

    private def serve(socket: Socket): Unit = {
      val peer = String.valueOf(socket.getRemoteSocketAddress)
      val handoff = new Handoff(s"put from $peer", sink, s"graft-tcp-put-append-${socket.getPort}")
      def store(put: MetricParser.Decoded): Boolean = handoff.offer(admitted(peer, put))
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
      } catch { case NonFatal(e) => reportFailure(s"put from $peer", e, 0) }
      finally handoff.close()
    }

    /** Reads put lines until EOF or a failed append, handing off each batch. */
    private def serveText(socket: Socket, in: PushbackInputStream,
                          store: MetricParser.Decoded => Boolean): Unit = {
      socket.setSoTimeout(LingerMs)
      val batch = new ArrayBuffer[String]()
      var open = true
      def flush(): Unit = if (batch.nonEmpty) {
        val put = MetricParser.lines(batch)
        batch.clear()
        if (!store(put)) open = false // an append failed: the connection ends
      }
      val line = new java.io.ByteArrayOutputStream()
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
          case _: SocketTimeoutException => flush() // connection paused: linger hand-off
        }
      }
      flush()
    }
  }

  final class Udp(sink: Seq[MetricPoint] => Unit) {
    private var socket: DatagramSocket = _
    private var rx: Thread = _

    def start(port: Int = 0): Int = synchronized {
      require(socket == null, "already started")
      socket = new DatagramSocket(new InetSocketAddress(port))
      val handoff = new Handoff(s"put over UDP port ${socket.getLocalPort}", sink, "graft-udp-put-append")
      rx = new Thread(() => {
        val buf = new Array[Byte](MaxPacket)
        val packet = new DatagramPacket(buf, buf.length)
        while (!socket.isClosed) {
          // the packet's address, not getSocketAddress: that throws before
          // the first datagram has arrived
          def peer = s"${packet.getAddress}:${packet.getPort}"
          try {
            socket.receive(packet)
            // one datagram = one frame (text lines or a TMFB batch), exactly
            // the reference's UDP pipeline shape
            val frame = java.util.Arrays.copyOfRange(
              packet.getData, packet.getOffset, packet.getOffset + packet.getLength)
            if (frame.nonEmpty) handoff.offer(admitted(peer, MetricParser.frame(frame)))
          } catch {
            case NonFatal(e) => if (!socket.isClosed) reportFailure(s"put from $peer", e, 0)
          }
        }
        handoff.close()
      }, "graft-udp-put-rx")
      rx.setDaemon(true)
      rx.start()
      socket.getLocalPort
    }

    /** Stops receiving; the datagrams already received are appended (or
      * reported) first. */
    def stop(): Unit = synchronized {
      if (socket != null) {
        socket.close()
        rx.join()
        socket = null
      }
    }
  }
}
