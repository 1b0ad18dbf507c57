package perfbench

/** Checks of the benchmark's own machinery: generator determinism, the
  * percentile helper's ten-samples-beyond rule, and that the answer checker
  * rejects corrupted responses. `run.py --selftest` runs it. */
object SelfTest {
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  private def expect(cond: Boolean, what: String): Unit = if (!cond) failures += what

  /** Render an expected answer the way the server writes it. */
  def render(metric: String, want: Map[Map[String, String], (Seq[String], Expect.Dps)]): String =
    want.toSeq.sortBy(_._1.toSeq.sorted.mkString(",")).map { case (tags, (agg, dps)) =>
      val t = tags.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      val a = agg.map(x => s""""$x"""").mkString("[", ",", "]")
      val d = dps.toSeq.sorted.map { case (ts, v) => s""""$ts":$v""" }.mkString("{", ",", "}")
      s"""{"metric":"$metric","tags":$t,"aggregatedTags":$a,"dps":$d}"""
    }.mkString("[", ",", "]")

  def run(): String = {
    // determinism: same seed, same bytes; another seed, other bytes
    def traffic(seed: Long) = {
      val u = Universe.dashboard(seed)
      (0 until 4).flatMap(c => Traffic.dashboard(u, seed, c, 4, 300)).map(_.json).mkString("\n")
    }
    def lines(seed: Long) = {
      val u = Universe.ingestBase(seed)
      Traffic.backlog(u, 1, 3, 3).map { case (s, k) => u.putLine(s, k) }.mkString("\n")
    }
    expect(traffic(7) == traffic(7), "dashboard sequence differs for one seed")
    expect(traffic(7) != traffic(8), "dashboard sequence equal for two seeds")
    expect(lines(7) == lines(7), "put lines differ for one seed")
    expect(lines(7) != lines(8), "put lines equal for two seeds")
    expect(Traffic.ingestReads(Universe.ingestBase(7), 7, 15, 50) == Traffic.ingestReads(Universe.ingestBase(7), 7, 15, 50),
      "ingest reads differ for one seed")

    // percentile helper: at least ten samples beyond the reported rank
    expect(Stats.supportedPercentile(100) == 0.9, "100 samples support p90")
    expect(Stats.supportedPercentile(99) == 0.89, "99 samples support p89 only")
    expect(Stats.supportedPercentile(50) == 0.8, "50 samples support p80")
    expect(Stats.supportedPercentile(15) == 0.5, "15 samples fall back to the median")
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.tail(xs) == ((0.9, 90.0)), "p90 of 1..100 is 90")
    expect(xs.count(_ > Stats.tail(xs)._2) >= 10, "ten samples beyond p90")
    val ys = (1 to 37).map(_.toDouble)
    expect(ys.count(_ > Stats.tail(ys)._2) >= 10, "ten samples beyond the tail of 37")
    expect(Stats.median(Seq(1.0, 3.0, 2.0, 10.0)) == 2.5, "median of an even count")
    expect(Stats.medianInterval(Seq(3.0, 1.0, 4.0, 2.0)) == ((1.0, 4.0)), "median interval of four is [min, max]")
    expect(Stats.medianInterval(xs) == ((41.0, 60.0)), "median interval of 1..100 is ranks 41..60")

    // the checker accepts the right answer and rejects corrupted ones
    val u = Universe.dashboard(3)
    val q = PanelQuery(u.endMs - 6 * 3600000L, u.endMs, "sys.cpu.user", "sum", "15m-avg", Map("tier" -> "*"),
      rate = false, window = "6h")
    val auths = Users.Ops.auths
    val want = Expect.query(u, q, auths)
    val good = render(q.metric, want)
    expect(Expect.checkQuery(u, q, auths, good).isEmpty, s"right answer rejected: ${Expect.checkQuery(u, q, auths, good)}")
    val (g0, (a0, d0)) = want.head
    val (t0, v0) = d0.head
    def with_(dps: Expect.Dps) = render(q.metric, want.updated(g0, (a0, dps)))
    expect(Expect.checkQuery(u, q, auths, with_(d0.updated(t0, v0 + 1))).nonEmpty, "wrong value accepted")
    expect(Expect.checkQuery(u, q, auths, with_(d0 - t0)).nonEmpty, "missing point accepted")
    expect(Expect.checkQuery(u, q, auths, render(q.metric, want - g0)).nonEmpty, "missing series accepted")
    val leaked = Expect.query(u, q, Users.Audit.auths)
    expect(leaked.keySet.exists(_.get("tier").contains("B")), "no B-labelled series to leak")
    expect(Expect.checkQuery(u, q, auths, render(q.metric, leaked)).exists(_.contains("leak")), "viz leak accepted")
    val rateQ = q.copy(metric = "app.requests", rate = true, tags = Map("host" -> "h01"), aggregator = "avg")
    val rateWant = render(rateQ.metric, Expect.query(u, rateQ, auths))
    expect(Expect.checkQuery(u, rateQ, auths, rateWant).isEmpty, "right rate answer rejected")
    expect(Expect.checkSuggest(u, Suggest("metrics", "sys.cpu", 25), """["sys.cpu.iowait","sys.cpu.system","sys.cpu.user"]""").isEmpty,
      "right suggest rejected")
    expect(Expect.checkSuggest(u, Suggest("metrics", "sys.cpu", 25), """["sys.cpu.system","sys.cpu.user"]""").nonEmpty,
      "short suggest accepted")
    val ub = Universe.ingestBase(3)
    val tail = Traffic.ingestReads(ub, 3, 15, 1).head
    val tailWant = render(tail.metric, Expect.query(ub, tail, auths))
    expect(Expect.checkTail(ub, tail, auths, tailWant).isEmpty, "right tail answer rejected")
    expect(Expect.checkTail(ub, tail, auths, tailWant.replaceFirst(":(\\d+)\\.0", ":$1.5")).nonEmpty, "wrong tail value accepted")

    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"selftest FAILED: $f"))
      sys.exit(1)
    }
    Main.json(Map("selftest" -> "ok"))
  }
}
