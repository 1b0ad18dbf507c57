package graft.server

import java.io.{ByteArrayOutputStream, IOException, PrintStream}
import java.net.{ServerSocket, Socket}

import org.scalatest.funsuite.AnyFunSuite

/** The accept loop of the connection transports, without Spark. */
class SocketServerSpec extends AnyFunSuite {

  test("an accept that keeps failing prints about ten lines a second, and stop returns") {
    val server = new SocketServer("spin", "spin-accept", "spin-conn", _ => ())
    val err = new ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new PrintStream(err, true))
    val (runMs, stopMs) = try {
      val t0 = System.nanoTime()
      // a listener out of file descriptors: every accept fails at once
      server.start(new ServerSocket(0) {
        override def accept(): Socket = throw new IOException("Too many open files")
      })
      Thread.sleep(1000)
      val t1 = System.nanoTime()
      server.stop()
      ((t1 - t0) / 1000000, (System.nanoTime() - t1) / 1000000)
    } finally System.setErr(stderr)
    val lines = err.toString.linesIterator.count(_.startsWith("[graft] spin accept failed"))
    assert(lines >= 1 && lines <= runMs / 100 + 2, s"$lines accept-failure lines in $runMs ms")
    assert(stopMs < 1000, s"stop took $stopMs ms")
  }
}
