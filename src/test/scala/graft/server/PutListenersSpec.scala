package graft.server

import java.io.{BufferedOutputStream, BufferedReader, InputStreamReader}
import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.SECONDS

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.{MetricPoint, MetricsFlatBuffer}
import graft.planner.{QueryJson, QueryPlanner}
import graft.sources.PointStore

/**
 * Live-socket put round trips — the engine's analog of the reference's
 * TimelyTcpIT / TimelyUdpIT (server/src/test/java/timely/server/integration/):
 * send put lines (and a FlatBuffers batch, TimelyTcpIT.testPutMultipleBinary)
 * over REAL sockets, require them parsed/stored, then query them back through
 * the planner.
 */
class PutListenersSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val T = 1704067200000L

  /** Collecting sink (the TestCaptureRequestHandler role in the reference ITs). */
  private final class Capture {
    val points = new ArrayBuffer[MetricPoint]()
    def sink(batch: Seq[MetricPoint]): Unit = points.synchronized { points ++= batch }
    def await(n: Int, timeoutMs: Long = 15000L): Seq[MetricPoint] = {
      val t0 = System.currentTimeMillis()
      while (points.synchronized(points.size) < n &&
             System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(20)
      points.synchronized(points.toSeq)
    }
  }

  /** `f` with `System.err` captured; its result and the `[graft] put from
    * … refused` lines printed once `until` holds of them (at most 5 s). */
  private def refusalsDuring[A](until: Seq[String] => Boolean)(f: => A): (A, Seq[String]) = {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try {
      val a = f
      def reports = err.synchronized(err.toString("UTF-8")).linesIterator
        .filter(l => l.startsWith("[graft] put from") && l.contains(" refused ")).toSeq
      val t0 = System.currentTimeMillis()
      while (!until(reports) && System.currentTimeMillis() - t0 < 5000L) Thread.sleep(20)
      (a, reports)
    } finally System.setErr(saved)
  }

  private def refusedCount(reports: Seq[String]): Int =
    reports.map(l => """refused (\d+) point""".r.findFirstMatchIn(l).get.group(1).toInt).sum

  /** A sink whose calls wait until `release` opens (at most 10 s), then
    * record their sizes and, with `fail`, throw. */
  private final class Gate(fail: Boolean) {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    private val sizes = new ArrayBuffer[Int]()
    def calls: Seq[Int] = sizes.synchronized(sizes.toSeq)
    def sink(batch: Seq[MetricPoint]): Unit = {
      entered.countDown()
      release.await(10, SECONDS)
      sizes.synchronized(sizes += batch.size)
      if (fail) throw new RuntimeException("append failed")
    }
  }

  /**
   * Sends `lines` put lines over one connection while the gate holds the
   * first append: 1,000 lines, which the listener hands off at once, then
   * the rest and a `version` line, whose answer shows the listener has read
   * every line before it (a listener that does not read on answers after 5
   * s). Then shuts the output, opens the gate and waits (at most 10 s) for
   * the listener to close the connection; returns the version answer.
   */
  private def putPastGate(port: Int, gate: Gate, lines: Int): Try[String] = {
    val s = new Socket("127.0.0.1", port)
    try {
      val out = new BufferedOutputStream(s.getOutputStream)
      def put(from: Int, until: Int): Unit = (from until until).foreach(i =>
        out.write(s"put gate.metric ${T + i} $i.0 host=a\n".getBytes(UTF_8)))
      put(0, 1000)
      out.flush()
      assert(gate.entered.await(10, SECONDS), "the first append never started")
      // the rest from another thread: a listener that does not read on
      // leaves them in the socket buffers, which may fill
      val sender = new Thread(() => { put(1000, lines); out.write("version\n".getBytes(UTF_8)); out.flush() })
      sender.start()
      s.setSoTimeout(5000)
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8))
      val answer = Try(in.readLine())
      sender.join(10000L)
      s.shutdownOutput()
      gate.release.countDown()
      s.setSoTimeout(10000)
      Try(in.read()) // EOF: the connection's last append has returned
      answer
    } finally s.close()
  }

  /** A refused point of each kind, and a good point beside it. */
  private val refusedLines =
    s"put sys.cpu.user $T 1.0 viz=A\nput bad\nput sys.cpu.user ${T + 1} 2.0 host=a\n"
  private val refusedFrame = MetricsFlatBuffer.encode(Seq(
    MetricPoint("sys.cpu.idle", T, 3.0, Map.empty, Some("A")),
    MetricPoint("sys.cpu.idle", T + 2, 4.0, Map("host" -> "b"), None)))
  private val admittedPoints = Set(
    MetricPoint("sys.cpu.user", T + 1, 2.0, Map("host" -> "a"), None),
    MetricPoint("sys.cpu.idle", T + 2, 4.0, Map("host" -> "b"), None))

  test("TCP stores only admitted points and reports the refused ones per batch") {
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val port = tcp.start()
    try {
      val (peers, reports) = refusalsDuring(r => refusedCount(r) >= 3) {
        Seq[Array[Byte]](refusedLines.getBytes(UTF_8), refusedFrame).map { payload =>
          val s = new Socket("127.0.0.1", port)
          s.getOutputStream.write(payload)
          s.getOutputStream.flush()
          val peer = String.valueOf(s.getLocalSocketAddress)
          s.close()
          peer
        }
      }
      assert(cap.await(2, timeoutMs = 5000L).toSet == admittedPoints)
      // a viz-only line, a malformed line and a tagless TMFB entry
      assert(refusedCount(reports) == 3, reports)
      assert(peers.forall(p => reports.exists(_.contains(s"put from $p"))), reports)
    } finally tcp.stop()
  }

  test("UDP stores only admitted points and reports the refused ones per datagram") {
    val cap = new Capture
    val udp = new PutListeners.Udp(cap.sink)
    val port = udp.start()
    try {
      val sock = new DatagramSocket()
      val peer = s"put from /127.0.0.1:${sock.getLocalPort}"
      val (_, reports) = refusalsDuring(_.size >= 2) {
        Seq(refusedLines.getBytes(UTF_8), refusedFrame).foreach(b =>
          sock.send(new DatagramPacket(b, b.length, InetAddress.getByName("127.0.0.1"), port)))
      }
      sock.close()
      assert(cap.await(2, timeoutMs = 5000L).toSet == admittedPoints)
      assert(reports.size == 2, reports)
      assert(reports.exists(_.contains("refused 2 point(s)")), reports)
      assert(reports.exists(_.contains("refused 1 point(s)")), reports)
      assert(reports.forall(_.contains(peer)), reports)
    } finally udp.stop()
  }

  test("TCP put lines round trip (TimelyTcpIT.testPutMultiple)") {
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val port = tcp.start()
    try {
      val s = new Socket("127.0.0.1", port)
      val out = s.getOutputStream
      out.write((s"put sys.cpu.user $T 1.0 tag1=value1 tag2=value2\n" +
        s"put sys.cpu.idle ${T + 1} 1.0 tag3=value3 tag4=value4\n").getBytes(UTF_8))
      out.flush()
      s.close()
      val got = cap.await(2)
      assert(got.map(_.metric).toSet == Set("sys.cpu.user", "sys.cpu.idle"))
      assert(got.forall(_.value == 1.0))
      assert(got.find(_.metric == "sys.cpu.user").get.tags ==
        Map("tag1" -> "value1", "tag2" -> "value2"))
    } finally tcp.stop()
  }

  test("TCP linger flush delivers without closing the connection") {
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val port = tcp.start()
    try {
      val s = new Socket("127.0.0.1", port)
      val out = s.getOutputStream
      out.write(s"put sys.cpu.user $T 2.0 tag1=value1\n".getBytes(UTF_8))
      out.flush()
      // connection stays open (interactive telnet shape): the linger flush
      // must deliver the line anyway
      val got = cap.await(1)
      assert(got.nonEmpty && got.head.value == 2.0)
      s.close()
    } finally tcp.stop()
  }

  test("TCP version operation answers the version string (TcpVersionHandler)") {
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val port = tcp.start()
    try {
      val s = new Socket("127.0.0.1", port)
      s.getOutputStream.write(s"version\nput sys.cpu.user $T 1.0 tag1=value1\n".getBytes(UTF_8))
      s.getOutputStream.flush()
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream, UTF_8))
      assert(r.readLine() == graft.planner.TimelyApi.Version)
      s.close()
      // the put line on the same connection still ingests
      assert(cap.await(1).map(_.metric) == Seq("sys.cpu.user"))
    } finally tcp.stop()
  }

  test("TCP FlatBuffers batch (TimelyTcpIT.testPutMultipleBinary)") {
    val pts = Seq(
      MetricPoint("sys.cpu.user", T, 1.0, Map("tag1" -> "value1"), None),
      MetricPoint("sys.cpu.idle", T + 2, 3.0, Map("tag3" -> "value3"), Some("A")))
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val port = tcp.start()
    try {
      val s = new Socket("127.0.0.1", port)
      s.getOutputStream.write(MetricsFlatBuffer.encode(pts))
      s.getOutputStream.flush()
      s.close()
      val got = cap.await(2)
      assert(got.toSet == pts.toSet)
    } finally tcp.stop()
  }

  test("UDP put datagrams round trip (TimelyUdpIT.testPutMultiple)") {
    val cap = new Capture
    val udp = new PutListeners.Udp(cap.sink)
    val port = udp.start()
    try {
      val sock = new DatagramSocket()
      def send(payload: String): Unit = {
        val b = payload.getBytes(UTF_8)
        sock.send(new DatagramPacket(b, b.length, InetAddress.getByName("127.0.0.1"), port))
      }
      // one multi-line datagram + one single-line datagram + one malformed
      send(s"put sys.cpu.user $T 1.0 tag1=value1\nput sys.cpu.user ${T + 1} 2.0 tag1=value1\n")
      send(s"put sys.cpu.idle ${T + 2} 1.0 tag3=value3\n")
      send("put bad\n") // dropped like the reference drops unparseable messages
      sock.close()
      val got = cap.await(3)
      assert(got.size == 3, s"got $got")
      assert(got.map(_.metric).toSet == Set("sys.cpu.user", "sys.cpu.idle"))
    } finally udp.stop()
  }

  test("UDP FlatBuffers datagram decodes as a batch") {
    val pts = Seq(MetricPoint("sys.cpu.user", T, 7.0, Map("rack" -> "r1"), None))
    val cap = new Capture
    val udp = new PutListeners.Udp(cap.sink)
    val port = udp.start()
    try {
      val sock = new DatagramSocket()
      val b = MetricsFlatBuffer.encode(pts)
      sock.send(new DatagramPacket(b, b.length, InetAddress.getByName("127.0.0.1"), port))
      sock.close()
      assert(cap.await(1) == pts)
    } finally udp.stop()
  }

  test("TCP put -> store -> query round trip (the full TimelyTcpIT workflow)") {
    val dir = Files.createTempDirectory("graft-tcp-rt").toFile
    val dataDir = new java.io.File(dir, "data").getAbsolutePath
    import spark.implicits._
    // storage sink: every delivered batch lands in the point store
    val tcp = new PutListeners.Tcp(batch =>
      PointStore.write(batch.toDF(), dataDir))
    val port = tcp.start()
    try {
      val s = new Socket("127.0.0.1", port)
      s.getOutputStream.write((s"put sys.cpu.user $T 1.0 tag1=value1\n" +
        s"put sys.cpu.user ${T + 1000} 3.0 tag1=value1\n").getBytes(UTF_8))
      s.getOutputStream.flush()
      s.close()
      // wait for the async write to land
      val t0 = System.currentTimeMillis()
      def stored(): Long =
        // the dir may exist but hold no readable parquet yet (write in flight)
        try PointStore.read(spark, dataDir).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      while (stored() < 2 && System.currentTimeMillis() - t0 < 30000L) Thread.sleep(100)
      assert(stored() == 2L)
      val req = QueryJson.parseRequest(
        s"""{"start":$T,"end":${T + 6000},"msResolution":true,
           |"queries":[{"aggregator":"sum","metric":"sys.cpu.user",
           |"tags":{"tag1":"value1"}}]}""".stripMargin)
      val frames = QueryPlanner.plan(PointStore.read(spark, dataDir), req, Seq.empty)
      val w = new java.io.StringWriter()
      QueryJson.writeResponses(frames, w)
      assert(w.toString.contains(s""""$T":1.0"""), w.toString)
      assert(w.toString.contains(s""""${T + 1000}":3.0"""), w.toString)
    } finally tcp.stop()
  }

  test("TCP put whose sink throws reports the peer, the exception and the lost points") {
    val tcp = new PutListeners.Tcp(_ => throw new RuntimeException("boom"))
    val port = tcp.start()
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try {
      val s = new Socket("127.0.0.1", port)
      s.getOutputStream.write(s"put sys.cpu.user $T 1.0 tag1=value1\n".getBytes(UTF_8))
      s.getOutputStream.flush()
      s.close()
      def report = err.synchronized(err.toString("UTF-8")).linesIterator.find(_.contains("boom"))
      val t0 = System.currentTimeMillis()
      while (report.isEmpty && System.currentTimeMillis() - t0 < 15000L) Thread.sleep(20)
      val line = report.getOrElse(fail(s"no failure report on stderr: $err"))
      assert(line.contains("127.0.0.1") && line.contains("1 parsed point(s) not stored"), line)
    } finally {
      System.setErr(saved)
      tcp.stop()
    }
  }

  test("a TCP connection reads on while it appends: its next append carries every line read meanwhile") {
    val gate = new Gate(fail = false)
    val tcp = new PutListeners.Tcp(gate.sink)
    val port = tcp.start()
    try {
      val answer = putPastGate(port, gate, 3500)
      assert(gate.calls.sum == 3500, gate.calls)
      // one append in flight, one filling: the second carries what was read
      // while the first ran, not one 1,000-line batch
      assert(gate.calls(1) > 1000, gate.calls)
      assert(answer.toOption.contains(graft.planner.TimelyApi.Version))
    } finally tcp.stop()
  }

  test("a failed TCP append reports every point the connection held, and stores none") {
    val gate = new Gate(fail = true)
    val tcp = new PutListeners.Tcp(gate.sink)
    val port = tcp.start()
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try {
      putPastGate(port, gate, 2500)
      // the connection is closed: every report has been printed
      val lost = err.synchronized(err.toString("UTF-8")).linesIterator
        .filter(_.contains("append failed"))
        .map(l => """(\d+) parsed point""".r.findFirstMatchIn(l).get.group(1).toInt).toSeq
      assert(lost.nonEmpty, err.toString("UTF-8"))
      // the failed call's 1,000 points plus those read while it ran
      assert(lost.head > 1000, lost)
      // every line sent is counted as lost (the sink stores nothing)
      assert(lost.sum == 2500, lost)
    } finally {
      System.setErr(saved)
      tcp.stop()
    }
  }

  test("TCP stop ends the open connections: a line put after stop is never stored") {
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val port = tcp.start()
    val s = new Socket("127.0.0.1", port)
    try {
      val out = s.getOutputStream
      out.write(s"put before.stop $T 1.0 host=a\n".getBytes(UTF_8))
      out.flush()
      assert(cap.await(1, timeoutMs = 5000L).map(_.metric) == Seq("before.stop"))
      tcp.stop()
      // the connection may already be reset
      Try { out.write(s"put after.stop ${T + 1} 2.0 host=a\n".getBytes(UTF_8)); out.flush() }
      // an open connection hands this line off within its 100 ms linger
      assert(cap.await(2, timeoutMs = 2000L).map(_.metric) == Seq("before.stop"))
    } finally { s.close(); tcp.stop() }
  }

  test("a TCP listener that fails to bind a taken port stops, then starts again and stores a put") {
    val cap = new Capture
    val tcp = new PutListeners.Tcp(cap.sink)
    val taken = new java.net.ServerSocket(0)
    try {
      intercept[java.net.BindException](tcp.start(taken.getLocalPort))
      tcp.stop()
      val port = tcp.start(0)
      val s = new Socket("127.0.0.1", port)
      s.getOutputStream.write(s"put after.failed.start $T 1.0 host=a\n".getBytes(UTF_8))
      s.close()
      assert(cap.await(1, timeoutMs = 10000L).map(_.metric) == Seq("after.failed.start"))
    } finally { taken.close(); tcp.stop() }
  }

  test("UDP datagrams received while an append runs go out together in the next one") {
    val gate = new Gate(fail = false)
    val udp = new PutListeners.Udp(gate.sink)
    val port = udp.start()
    try {
      val sock = new DatagramSocket()
      def send(i: Int): Unit = {
        // a refused line beside each point: its stderr report shows the
        // datagram has been received
        val b = s"put udp.metric ${T + i} $i.0 host=a\nput bad\n".getBytes(UTF_8)
        sock.send(new DatagramPacket(b, b.length, InetAddress.getByName("127.0.0.1"), port))
      }
      send(0)
      assert(gate.entered.await(10, SECONDS), "the first append never started")
      // the five datagrams' reports: each of the first four has been handed
      // off before the fifth is reported (a receiver that does not read on
      // reports none of them until the gate opens, after 5 s)
      refusalsDuring(_.size >= 5)((1 to 5).foreach(send))
      sock.close()
      gate.release.countDown()
      val t0 = System.currentTimeMillis()
      while (gate.calls.sum < 6 && System.currentTimeMillis() - t0 < 10000L) Thread.sleep(20)
      assert(gate.calls.sum == 6, gate.calls)
      assert(gate.calls.size - 1 < 5, gate.calls)
    } finally udp.stop()
  }
}
