package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import graft.client.GraftClient

/** One completed (or failed) request of a closed-loop client. */
final case class Sample(req: Request, user: Users.User, ms: Double, body: Option[String], error: Option[String])

object Dashboard {
  val Clients = 4
  /** Untimed requests per client before the clock runs: with fewer, the
    * server's JIT is still warming through the measured window (its first
    * half ran 20-25% slower than its second with one per client, 10-15%
    * with four). Eight steadied runs further but made a run too long. */
  val WarmupPerClient = 6
  /** How long a request may stay open after the loop's deadline before it
    * counts as timed out. Warm-up (capped at [[WarmupSeconds]]), measured
    * loop and checks together stay well inside run.py's time limit on this
    * process. */
  val GraceSeconds = 30.0
  val WarmupSeconds = 45.0

  def send(c: GraftClient.Http, r: Request): String = r match {
    case q: PanelQuery => c.query(q.json)
    case s: Suggest => c.suggest(s.kind, s.q, s.max)
    case l: Lookup => c.lookup(l.query, l.limit)
  }

  def login(port: Int, user: Users.User): GraftClient.Http = {
    val c = new GraftClient.Http(s"http://127.0.0.1:$port")
    require(c.login(user.name, user.password), s"login failed for ${user.name}")
    c
  }

  /** Run `clients` closed loops until the deadline; each sends its next
    * request when the last one returns. A request still open
    * [[GraceSeconds]] after the deadline counts as timed out. */
  def closedLoop(port: Int, seqs: IndexedSeq[IndexedSeq[Request]], users: IndexedSeq[Users.User],
                 seconds: Double): (IndexedSeq[Seq[Sample]], Double) = {
    val done = Array.fill(seqs.length)(0L)
    val out = seqs.indices.map(_ => ArrayBuffer[Sample]())
    val stop = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = seqs.indices.map { i =>
      val t = new Thread(() => {
        val c = login(port, users(i))
        var j = 0
        while (System.nanoTime() < deadline && j < seqs(i).length && !stop.get) {
          val r = seqs(i)(j); j += 1
          val s = System.nanoTime()
          val (body, err) = try (Some(send(c, r)), None) catch { case e: Exception => (None, Some(e.toString)) }
          val e = System.nanoTime()
          out(i).synchronized(out(i) += Sample(r, users(i), (e - s) / 1e6, body, err))
          done(i) = e
        }
      })
      t.start(); t
    }
    val cutoff = deadline + (GraceSeconds * 1e9).toLong
    threads.foreach(t => t.join(math.max(1L, (cutoff - System.nanoTime()) / 1000000L)))
    stop.set(true)
    val timeouts = threads.indices.filter(threads(_).isAlive)
      .map(i => Sample(seqs(i).head, users(i), Double.NaN, None, Some("timeout")))
    val samples = out.map(b => b.synchronized(b.toSeq))
    // completed requests per second: each client's count over the time to
    // its own last completion, summed (no partial request is counted)
    val rate = samples.indices.map(i => if (done(i) > t0) samples(i).count(_.error.isEmpty) / ((done(i) - t0) / 1e9) else 0.0).sum
    (samples :+ timeouts, rate)
  }

  /** Check every sample; returns (failed, wrong answers, first failure
    * reasons). A failed request either errored (non-2xx, timeout) or
    * returned a wrong answer. */
  def verify(u: Universe, samples: Seq[Sample]): (Int, Int, Seq[String]) = {
    val wrong = samples.flatMap(s => s.body.flatMap(b => Expect.check(u, s.req, s.user.auths, b)).map(s -> _))
    val errors = samples.flatMap(s => s.error.map(s -> _))
    val reasons = (errors ++ wrong).map { case (s, r) => s"${s.req.json.take(160)} as ${s.user.name}: ${r.take(300)}" }
    (errors.length + wrong.length, wrong.length, reasons.take(5))
  }

  def run(seed: Long, seconds: Double, port: Int): String = {
    val u = Universe.dashboard(seed)
    val users = IndexedSeq.tabulate(Clients)(i => if (i % 2 == 0) Users.Ops else Users.Dev)
    val seqs = IndexedSeq.tabulate(Clients)(i => Traffic.dashboard(u, seed, i, Clients, 5000))
    val warm = IndexedSeq.tabulate(Clients)(i => Traffic.dashboard(u, seed, 100 + i, Clients, WarmupPerClient))
    Main.log("warm-up")
    val warmSamples = closedLoop(port, warm, users, WarmupSeconds)._1.flatten
    Main.log("measuring")
    val (perClient, rate) = closedLoop(port, seqs, users, seconds)
    Main.log("checking")
    val samples = perClient.flatten
    val (failed, wrong, reasons) = verify(u, samples ++ warmSamples)
    Main.log("checked")
    val ok = samples.filter(_.error.isEmpty)
    val q = ok.filter(_.req.isInstanceOf[PanelQuery]).map(_.ms)
    val meta = ok.filterNot(_.req.isInstanceOf[PanelQuery]).map(_.ms)
    val (p, tail) = if (q.nonEmpty) Stats.tail(q) else (0.5, Double.NaN)
    Main.json(Map(
      "attempted" -> (samples.length + warmSamples.length), "failed" -> failed, "wrong" -> wrong,
      "reasons" -> reasons,
      "query_p50_ms" -> (if (q.nonEmpty) Stats.median(q) else Double.NaN),
      "query_p90_ms" -> tail, "query_tail_pct" -> p * 100, "query_samples" -> q.length,
      "query_ms" -> q.map(x => math.round(x)),
      "meta_p50_ms" -> (if (meta.nonEmpty) Stats.median(meta) else Double.NaN), "meta_samples" -> meta.length,
      "queries_per_s" -> rate,
      "stored_rows" -> u.points,
      "inputs" -> (Map("series" -> u.series.length, "points" -> u.points,
        "viz_share" -> u.series.count(_.viz.nonEmpty).toDouble / u.series.length,
        "zipf_exponent" -> Traffic.ZipfExponent, "clients" -> Clients) ++
        Traffic.properties(perClient.zip(seqs).flatMap { case (s, q) => q.take(s.length) }))))
  }
}
