package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.client.GraftClient

/** How an ingest workload sends: `agents` TCP connections at once, each
  * owning the series with `id % agents == agent`, for `backlogSteps`
  * minutes of every series. */
final case class Agents(count: Int, backlogSteps: Int)

/**
 * `ingest`: TCP agents push a fixed backlog of put lines that continue the
 * base store's series forward in time, while one HTTP reader queries the
 * newest window of the same series in a closed loop. Afterwards every agent's
 * points are counted per series and minute through the server; a point that
 * is missing or stored twice is a failed operation.
 *
 * `ingest` runs three agents at once (30,000 points); `ingest_serial` runs
 * one agent over one connection (20,000 points), so the server appends one
 * batch at a time.
 */
object Ingest {
  def agentsFor(workload: String): Agents = workload match {
    case "ingest" => Agents(3, 15)
    case "ingest_serial" => Agents(1, 10)
  }
  val WarmupReads = 2
  val WarmupLines = 1000
  /** The store counts as settled when it has not grown for this long. */
  val SettleSeconds = 5.0

  /** Rows readable in the store: the row counts in the footers of every
    * committed parquet file (what a fresh `PointStore.read` would scan). */
  final class StoreRows(dataDir: String) {
    private val seen = mutable.HashMap[String, Long]()
    private val conf = new org.apache.hadoop.conf.Configuration()
    def count(): Long = {
      val files = try Files.walk(Paths.get(dataDir)).iterator().asScala.toList
        catch { case _: java.io.UncheckedIOException | _: java.nio.file.NoSuchFileException => return -1L }
      files.foreach { p =>
        val name = p.getFileName.toString
        val s = p.toString
        if (name.endsWith(".parquet") && !s.contains("/_temporary/") && !seen.contains(s)) {
          try {
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(s), conf))
            try seen(s) = r.getRecordCount finally r.close()
          } catch { case _: Exception => () } // moved mid-commit: picked up next poll
        }
      }
      seen.values.sum
    }
  }

  /** Untimed writes before the clock runs, so the server's write path is
    * compiled when the backlog arrives: one 1,000-line batch, one minute of
    * half the series an hour past the backlog (outside the reader's window
    * and the accounting range), sent over one connection. Returns the
    * store's rows once they are readable and no append job is open on the
    * data or meta directory (a backlog append beside a warm-up one would
    * race it), or after a minute. */
  def warmWrites(u: Universe, tcpPort: Int, rows: StoreRows, backlogSteps: Int, dataDir: String): Long = {
    val before = rows.count()
    val tcp = new GraftClient.Tcp("127.0.0.1", tcpPort)
    val warm = u.series.take(WarmupLines)
    warm.foreach(s => tcp.putLine(u.putLine(s, u.steps + backlogSteps + 60)))
    tcp.close()
    // the store's meta directory sits beside its data directory (Setup.run)
    val open = Seq(Paths.get(dataDir), Paths.get(dataDir).resolveSibling("meta")).map(_.resolve("_temporary"))
    val t0 = System.nanoTime()
    var n = rows.count()
    while ((n < before + warm.length || open.exists(Files.exists(_))) && System.nanoTime() - t0 < 60e9) {
      Thread.sleep(100); n = rows.count()
    }
    n
  }

  /** Per-series, per-minute counts of the backlog range, read as the
    * auditor (who may see every series). */
  def account(u: Universe, port: Int, backlogSteps: Int): Map[(String, Map[String, String], Long), Int] = {
    val c = Dashboard.login(port, Users.Audit)
    val start = u.ts(u.steps); val end = u.ts(u.steps + backlogSteps - 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = u.metrics.map { m =>
        pool.submit(() => c.query(
          s"""{"start":$start,"end":$end,"queries":[{"metric":"$m","aggregator":"none","downsample":"1m-count"}]}"""))
      }
      futs.flatMap { f =>
        Expect.parseQueryResponse(f.get()).flatMap(o => o.dps.map { case (t, n) => (o.metric, o.tags, t * 1000) -> n.toInt })
      }.toMap
    } finally pool.shutdown()
  }

  def run(workload: String, seed: Long, seconds: Double, httpPort: Int, tcpPort: Int, dataDir: String): String = {
    val u = Universe.ingestBase(seed)
    val ag = agentsFor(workload)
    val backlogs = (0 until ag.count).map(a => Traffic.backlog(u, a, ag.count, ag.backlogSteps))
    val lines = backlogs.map(_.map { case (s, k) => u.putLine(s, k) })
    val rows = new StoreRows(dataDir)
    Main.log("warm-up writes")
    val baseRows = warmWrites(u, tcpPort, rows, ag.backlogSteps, dataDir)
    Main.log("sending")
    val reconnects = new AtomicLong(0)
    val readerStop = new AtomicBoolean(false)

    // reader: closed loop over the newest window, warmed up before the
    // agents start
    val reads = Traffic.ingestReads(u, seed, ag.backlogSteps, 100000)
    val samples = ArrayBuffer[Sample]()
    val c = Dashboard.login(httpPort, Users.Ops)
    def read(r: PanelQuery): Sample = {
      val s = System.nanoTime()
      val (body, err) = try (Some(c.query(r.json)), None) catch { case e: Exception => (None, Some(e.toString)) }
      Sample(r, Users.Ops, (System.nanoTime() - s) / 1e6, body, err)
    }
    val warm = reads.take(WarmupReads).map(read)
    val reader = new Thread(() => {
      var j = WarmupReads
      while (!readerStop.get && j < reads.length) {
        val s = read(reads(j)); j += 1
        samples.synchronized(samples += s)
      }
    })

    val t0 = System.nanoTime()
    reader.start()
    val agents = lines.map { ls =>
      val t = new Thread(() => {
        var tcp = new GraftClient.Tcp("127.0.0.1", tcpPort)
        ls.foreach { l =>
          try tcp.putLine(l)
          catch {
            case _: java.io.IOException =>
              // the server dropped the connection: reconnect and go on, as a
              // collectd agent does; what sat in the dead socket is lost
              reconnects.incrementAndGet()
              tcp.close()
              tcp = new GraftClient.Tcp("127.0.0.1", tcpPort)
              tcp.putLine(l)
          }
        }
        tcp.close()
      })
      t.start(); t
    }
    agents.foreach(_.join())
    val tSent = System.nanoTime()
    val target = baseRows + lines.map(_.length).sum
    // wait until every sent point is readable or the store stops growing
    var last = rows.count(); var tLast = System.nanoTime()
    while (last < target && System.nanoTime() - tLast < SettleSeconds * 1e9 && System.nanoTime() - t0 < 120e9) {
      Thread.sleep(100)
      val n = rows.count()
      if (n != last && n >= 0) { last = n; tLast = System.nanoTime() }
    }
    val elapsed = (math.max(tLast, tSent) - t0) / 1e9
    readerStop.set(true)
    reader.join(120000)

    Main.log("accounting")
    val counts = account(u, httpPort, ag.backlogSteps)
    Main.log("accounted")
    val perAgent = backlogs.map { b =>
      var missing = 0; var dup = 0
      b.foreach { case (s, k) =>
        val n = counts.getOrElse((s.metric, s.tags, u.ts(k)), 0)
        if (n == 0) missing += 1 else dup += n - 1
      }
      (missing, dup)
    }
    val sentKeys = backlogs.flatten.map { case (s, k) => (s.metric, s.tags, u.ts(k)) }.toSet
    val unexpected = counts.keySet.count(k => !sentKeys.contains(k))
    val stored = counts.count { case (k, n) => n > 0 && sentKeys.contains(k) }
    val readSamples = samples.synchronized(samples.toList)
    val checked = warm ++ readSamples
    val readWrong = checked.flatMap(s => s.body.flatMap(b => Expect.checkTail(u, s.req.asInstanceOf[PanelQuery], s.user.auths, b)))
    val readErr = checked.flatMap(_.error)
    val q = readSamples.filter(_.error.isEmpty).map(_.ms)
    val missing = perAgent.map(_._1).sum; val dup = perAgent.map(_._2).sum
    Main.json(Map(
      "attempted" -> (sentKeys.size + checked.length),
      "failed" -> (missing + dup + unexpected + readWrong.length + readErr.length),
      "wrong" -> (dup + unexpected + readWrong.length),
      "reasons" -> (readErr ++ readWrong).take(5),
      "sent_points" -> sentKeys.size, "stored_points" -> stored, "missing_points" -> missing,
      "duplicate_points" -> dup, "unexpected_points" -> unexpected, "reconnects" -> reconnects.get,
      "per_agent" -> perAgent.zipWithIndex.map { case ((m, d), i) =>
        Map("agent" -> i, "sent" -> backlogs(i).length, "missing" -> m, "duplicated" -> d) },
      "ingest_points_per_s" -> stored / elapsed, "ingest_s" -> elapsed, "send_s" -> (tSent - t0) / 1e9,
      "stored_rows" -> last,
      "query_p50_ms" -> (if (q.nonEmpty) Stats.median(q) else Double.NaN), "query_samples" -> q.length,
      "query_p90_ms" -> (if (q.nonEmpty) Stats.tail(q)._2 else Double.NaN),
      "query_tail_pct" -> Stats.supportedPercentile(q.length) * 100,
      "inputs" -> Map("series" -> u.series.length, "base_points" -> u.points, "agents" -> ag.count,
        "backlog_points" -> sentKeys.size, "viz_share" -> u.series.count(_.viz.nonEmpty).toDouble / u.series.length,
        "zipf_exponent" -> Traffic.ZipfExponent, "reader_requests" -> readSamples.length)))
  }
}
