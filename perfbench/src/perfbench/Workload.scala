package perfbench

/** Deterministic 64-bit mixing (SplitMix64 finalizer): every generated value
  * is a pure function of (seed, coordinates), so expected answers are
  * computed from the same formula without reading the store. */
object Hash {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long): Long = mix(mix(mix(seed) ^ a) ^ b)
  /** Non-negative value in [0, n). */
  def mod(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)
}

/** One series of the generated store. `tier` mirrors the viz label ("pub"
  * when unlabeled), so a series a caller may not see is recognisable in a
  * response that carries its tags. */
final case class Series(id: Int, metric: String, counter: Boolean,
                        tags: Map[String, String], viz: Option[String])

/**
 * The closed-form store: `metrics` metric names x `hosts` hosts x `cpus`
 * cpus, one point per series every `stepMs` from `t0` for `steps` steps.
 * Gauges take integer values in [0, 700); counters grow by at least 1 per
 * step. Points beyond `steps` continue the same formula (the ingest
 * backlog).
 */
final case class Universe(seed: Long, hosts: Int, cpus: Int, stepMs: Long, steps: Int,
                          metrics: IndexedSeq[String] = Universe.MetricNames, vizShare: Double = 0.2) {
  import Universe._

  val t0: Long = T0
  /** One step past the last stored point: the "now" of dashboard windows. */
  val endMs: Long = t0 + steps * stepMs

  val series: IndexedSeq[Series] =
    for (m <- metrics.indices; h <- 0 until hosts; c <- 0 until cpus) yield {
      val id = (m * hosts + h) * cpus + c
      // labels do not depend on the seed: the series set, and with it how
      // the engine's hash partitioning spreads series over tasks, is the
      // same for every seed; only the values change
      val u = Hash.mod(Hash.h(0, 1, id), 1000)
      val viz = if (u < vizShare * 500) Some("A") else if (u < vizShare * 1000) Some("B") else None
      Series(id, metrics(m), isCounter(metrics(m)),
        Map("host" -> f"h$h%02d", "rack" -> s"r${h % 5}", "cpu" -> c.toString,
          "tier" -> viz.getOrElse("pub")), viz)
    }
  val byMetric: Map[String, IndexedSeq[Series]] = series.groupBy(_.metric)

  def ts(k: Int): Long = t0 + k * stepMs

  def value(s: Series, k: Int): Double = {
    val base = Hash.mod(Hash.h(seed, 2, s.id), 500)
    val noise = Hash.h(seed, 1000L + s.id, k)
    if (!s.counter) (base + Hash.mod(noise, 200)).toDouble
    else {
      val r = 1 + Hash.mod(Hash.h(seed, 3, s.id), 50)
      (base * 1000 + k.toLong * r + Hash.mod(noise, r)).toDouble
    }
  }

  def points: Long = series.length.toLong * steps

  /** The put line for series `s` at step `k` (seconds-precision timestamps
    * are also accepted by the parser; milliseconds are sent here). */
  def putLine(s: Series, k: Int): String = {
    val tags = s.tags.toSeq.sorted.map { case (a, b) => s"$a=$b" }.mkString(" ")
    val viz = s.viz.map(v => s" viz=$v").getOrElse("")
    s"put ${s.metric} ${ts(k)} ${value(s, k).toLong} $tags$viz"
  }
}

object Universe {
  /** 2024-01-01T00:00:00Z — a fixed epoch, so windows never depend on the
    * wall clock. */
  val T0 = 1704067200000L

  val MetricNames: IndexedSeq[String] = IndexedSeq(
    "sys.cpu.user", "sys.cpu.system", "sys.cpu.iowait", "sys.mem.used",
    "sys.mem.cached", "sys.load.1m", "sys.disk.util", "sys.disk.queue",
    "app.latency.ms", "app.queue.depth", "jvm.heap.used", "jvm.gc.pause",
    "db.conn.active", "db.lock.wait", "cache.hit.ratio", "web.sessions",
    "sys.net.bytes.in", "sys.net.bytes.out", "app.requests", "app.errors")

  def isCounter(metric: String): Boolean =
    metric.startsWith("sys.net.bytes") || metric == "app.requests" || metric == "app.errors"

  /** Store sizes per workload: 2,000 series over 24 h at 5-minute steps
    * (480 hour partitions); the same series over 1 h at 1-minute steps as
    * the ingest base; 500 series of a gauge and a counter over 7 days at
    * 10-minute steps (336 hour partitions) for the rollup. */
  def dashboard(seed: Long): Universe = Universe(seed, hosts = 25, cpus = 4, stepMs = 5L * 60000L, steps = 24 * 12)
  def ingestBase(seed: Long): Universe = Universe(seed, hosts = 25, cpus = 4, stepMs = 60000L, steps = 60)
  def rollup(seed: Long): Universe = Universe(seed, hosts = 25, cpus = 10, stepMs = 10L * 60000L, steps = 7 * 24 * 6,
    metrics = IndexedSeq("sys.cpu.user", "app.requests"))
}

/** Callers of the HTTP surface: two dashboard users with different
  * authorizations, and an auditor holding both (used only for the ingest
  * accounting read). */
object Users {
  final case class User(name: String, password: String, auths: Seq[String])
  val Ops = User("ops", "ops-pw", Seq("A"))
  val Dev = User("dev", "dev-pw", Seq("B"))
  val Audit = User("audit", "audit-pw", Seq("A", "B"))
  val All = Seq(Ops, Dev, Audit)
  /** The `Serve --users` value. */
  def flag: String = All.map(u => s"${u.name}:${u.password}:${u.auths.mkString("|")}").mkString(",")
  def visible(s: Series, auths: Seq[String]): Boolean = s.viz.forall(auths.contains)
}

/** One dashboard request, with everything the checker needs. */
sealed trait Request { def json: String }

/** An `/api/query` panel query with one subquery. `tags` values are exact,
  * `a|b` alternations, or `*` (group by). */
final case class PanelQuery(start: Long, end: Long, metric: String, aggregator: String,
                            downsample: String, tags: Map[String, String], rate: Boolean,
                            window: String) extends Request {
  def json: String = {
    val tagJson = tags.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val rateJson = if (rate) ""","rate":true,"rateOptions":{"counter":true}""" else ""
    s"""{"start":$start,"end":$end,"queries":[{"metric":"$metric","aggregator":"$aggregator",""" +
      s""""downsample":"$downsample","tags":{$tagJson}$rateJson}]}"""
  }
}
final case class Suggest(kind: String, q: String, max: Int) extends Request {
  def json: String = s"suggest $kind $q $max"
}
final case class Lookup(metric: String, tagk: String, pattern: String, limit: Int) extends Request {
  def query: String = s"$metric{$tagk=$pattern}"
  def json: String = s"lookup $query $limit"
}

/** Seeded traffic. Every draw comes from a per-(seed, client) generator, so
  * the same seed yields the same sequences byte for byte. */
object Traffic {
  val ZipfExponent = 1.1
  /** Dashboard windows: (name, length, downsample period). */
  val Windows: Seq[(String, Long, String)] = Seq(
    ("1h", 3600000L, "5m"), ("6h", 6 * 3600000L, "15m"), ("24h", 24 * 3600000L, "1h"))

  private def pick[T](rng: java.util.Random, weighted: Seq[(T, Double)]): T = {
    var u = rng.nextDouble() * weighted.map(_._2).sum
    weighted.find { case (_, w) => u -= w; u < 0 }.getOrElse(weighted.last)._1
  }

  /** Metric popularity: Zipf over a fixed metric order. */
  final class Zipf(order: IndexedSeq[String]) {
    private val weights = order.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
    def draw(rng: java.util.Random): String = pick(rng, order.zip(weights))
  }

  /** One dashboard refresh: eight panels of fixed shape — (window, tag
    * filter, counter rate) — and two metadata calls (`None`), in a fixed
    * cycle that spaces the metadata calls and the 6 h / 24 h panels apart.
    * Every client walks the cycle from its own offset, so at any moment the
    * clients together cover it evenly and a short run of any seed completes
    * the same cost mix. (A per-seed shuffle of each refresh let a run's
    * metadata share range from 9% to 29%, and its request rate with it.)
    * Metrics (Zipf), hosts, aggregators and the metadata calls are drawn
    * per client and request, so different seeds send different requests. */
  val Refresh: Seq[Option[(String, String, Boolean)]] = Seq(
    Some(("1h", "host", false)), Some(("6h", "rack*", false)), Some(("1h", "host", true)),
    Some(("24h", "all", false)), None, Some(("1h", "rack*", false)), Some(("24h", "host", false)),
    Some(("1h", "hosts", false)), Some(("6h", "tier*", false)), None)

  def dashboard(u: Universe, seed: Long, client: Int, clients: Int, n: Int): IndexedSeq[Request] = {
    val rng = new java.util.Random(Hash.h(seed, 77, client))
    val zipf = new Zipf(u.metrics)
    val counters = new Zipf(u.metrics.filter(Universe.isCounter))
    val gauges = new Zipf(u.metrics.filterNot(Universe.isCounter))
    def host(): String = f"h${rng.nextInt(u.hosts)}%02d"
    def aggName(): String = Seq("avg", "max", "sum")(rng.nextInt(3))
    def panel(p: (String, String, Boolean)): Request = {
      val (wname, filter, rate) = p
      val (_, wlen, period) = Windows.find(_._1 == wname).get
      val tags: Map[String, String] = filter match {
        case "host" => Map("host" -> host())
        case "hosts" => Map("host" -> Seq.fill(3)(host()).distinct.sorted.mkString("|"))
        case "rack*" => Map("rack" -> "*")
        case "tier*" => Map("tier" -> "*")
        case "all" => Map.empty
      }
      PanelQuery(u.endMs - wlen, u.endMs, (if (rate) counters else gauges).draw(rng), aggName(),
        s"$period-${aggName()}", tags, rate, wname)
    }
    def meta(): Request =
      if (rng.nextBoolean()) {
        if (rng.nextBoolean()) Suggest("metrics", Seq("sys.", "app.", "cpu", "db.", "net", "jvm")(rng.nextInt(6)), 25)
        else Suggest("tagk", zipf.draw(rng), 25)
      } else {
        val metric = zipf.draw(rng)
        if (rng.nextBoolean()) Lookup(metric, "host", s"h${rng.nextInt(3)}.*", 25)
        else Lookup(metric, "rack", s"r[${rng.nextInt(3)}-4]", 25)
      }
    val offset = (client % clients) * Refresh.length / clients
    Iterator.continually(Refresh).flatten.drop(offset).take(n)
      .map(_.map(panel).getOrElse(meta())).toIndexedSeq
  }

  /** Ingest reader: the newest 30 minutes of the base store plus the
    * backlog's time range, one host of a Zipf-drawn metric, raw points. */
  def ingestReads(u: Universe, seed: Long, backlogSteps: Int, n: Int): IndexedSeq[PanelQuery] = {
    val rng = new java.util.Random(Hash.h(seed, 78, 0))
    val zipf = new Zipf(u.metrics)
    IndexedSeq.fill(n) {
      val metric = zipf.draw(rng)
      PanelQuery(u.endMs - 30 * 60000L, u.ts(u.steps + backlogSteps - 1), metric, "none", "1m-avg",
        Map("host" -> f"h${rng.nextInt(u.hosts)}%02d"), rate = false, window = "tail")
    }
  }

  /** The agents' backlogs: agent `a` owns the series with `id % agents ==
    * a` and sends them step by step, continuing the store forward in time. */
  def backlog(u: Universe, agent: Int, agents: Int, steps: Int): IndexedSeq[(Series, Int)] = {
    val own = u.series.filter(_.id % agents == agent)
    for (k <- u.steps until u.steps + steps; s <- own) yield (s, k)
  }

  /** Recorded input properties of a request sequence. */
  def properties(reqs: Seq[Request]): Map[String, Any] = {
    val seen = scala.collection.mutable.HashSet[String]()
    var repeats = 0
    reqs.foreach(r => if (!seen.add(r.json)) repeats += 1)
    val q = reqs.collect { case p: PanelQuery => p }
    Map(
      "requests" -> reqs.length,
      "query_share" -> q.length.toDouble / reqs.length.max(1),
      "repeat_share" -> repeats.toDouble / reqs.length.max(1),
      "window_mix" -> q.groupBy(_.window).map { case (k, v) => k -> v.length.toDouble / q.length.max(1) },
      "rate_share" -> q.count(_.rate).toDouble / q.length.max(1))
  }
}
