package graft.server

import java.net.{ServerSocket, Socket}
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

/**
 * The accept loop and stop of the connection transports, the WebSocket
 * gateway and the TCP put listener. It accepts on one thread from a listener
 * its transport has bound, plain or TLS, and serves each connection on its
 * own daemon thread, which closes the socket once `serve` returns. A failed
 * accept prints one `[graft] <name> accept failed: …` line and waits 100 ms
 * before it accepts again: a persistent failure (no file descriptor left)
 * prints at most ten lines a second, and a listener that recovers, or a
 * [[stop]], waits at most that long. [[stop]] closes the listener, shuts
 * each open connection's input and joins its thread: a connection ends as
 * on a client disconnect, finishing what it read.
 */
private[server] final class SocketServer(
    name: String, acceptThread: String, connThread: String, serve: Socket => Unit) {

  private val AcceptRetryMs = 100L
  private var listener: ServerSocket = _
  private var acceptor: Thread = _
  // the open connections and their threads, ended by `stop`
  private val conns = new ConcurrentHashMap[Socket, Thread]()

  /** Accepts on the listener `bound` returns, kept only once bound; its port. */
  def start(bound: => ServerSocket): Int = synchronized {
    require(listener == null, "already started")
    val l = bound
    listener = l
    acceptor = new Thread(() => {
      while (!l.isClosed) {
        try {
          val s = l.accept()
          val t = new Thread(() =>
            try serve(s)
            finally {
              try s.close() catch { case NonFatal(_) => () }
              conns.remove(s)
            }, s"$connThread-${s.getPort}")
          t.setDaemon(true)
          conns.put(s, t)
          t.start()
        } catch {
          case NonFatal(e) => if (!l.isClosed) {
            Operations.reportFailure(s"$name accept", e)
            Thread.sleep(AcceptRetryMs)
          }
        }
      }
    }, acceptThread)
    acceptor.setDaemon(true)
    acceptor.start()
    l.getLocalPort
  }

  def stop(): Unit = synchronized {
    if (listener != null) {
      try listener.close() catch { case NonFatal(_) => () }
      acceptor.join()
      listener = null
    }
    conns.keySet.forEach(s => try s.shutdownInput() catch { case NonFatal(_) => () })
    conns.values.forEach(_.join())
  }
}
