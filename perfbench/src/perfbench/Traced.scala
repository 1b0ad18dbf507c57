package perfbench

import java.io.StringWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{MetricParser, MetricPoint}
import graft.planner.{QueryJson, QueryPlanner, TimelyApi}
import graft.server.{AuthSessions, HttpApi}
import graft.sources.PointStore

/** Per-layer metric assembly. Every workload reports every name; a layer
  * the workload does not call reads 0. Times are mean self times per
  * operation, so a root span's mean equals its children's plus the
  * residual. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "client.request_ms" -> "ms", "trace.residual_ms" -> "ms", "trace.overhead_ms" -> "ms",
    "server.self_ms" -> "ms", "server.meta_self_ms" -> "ms",
    "planner.parse_ms" -> "ms", "planner.meta_check_ms" -> "ms", "planner.plan_ms" -> "ms",
    "planner.meta_ms" -> "ms",
    "sources.open_ms" -> "ms", "sources.meta_open_ms" -> "ms", "sources.files_listed" -> "count",
    "sources.files_read" -> "count", "sources.rows_read_per_row_returned" -> "ratio",
    "sources.bytes_read" -> "B", "sources.write_ms" -> "ms", "sources.meta_write_ms" -> "ms",
    "sources.files_per_batch" -> "count", "sources.batches_failed" -> "count",
    "operators.execute_ms" -> "ms", "operators.downsample_ms" -> "ms", "operators.cross_series_ms" -> "ms",
    "operators.rate_ms" -> "ms", "operators.percentile_ms" -> "ms", "operators.summarize_ms" -> "ms",
    "model.parse_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count", "spark.busy_frac" -> "ratio",
    "spark.jobs_per_batch" -> "count", "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B")

  val Cores = 4

  def empty: Map[String, Double] = Names.map(_._1 -> 0.0).toMap

  /** Mean self ms per root operation for every span name under it. */
  def selfPerOp(sum: Map[String, (Int, Double, Double, Counters)], ops: Int): Map[String, Double] =
    sum.map { case (name, (_, self, _, _)) => s"${name}_ms" -> self / math.max(ops, 1) }

  def rollup(t: Tracer, passes: Int, filesListed: Int, overheadMs: Double): Map[String, Double] = {
    val s = t.summary("client.pass")
    val root = s("client.pass")
    val c = root._4
    empty ++ selfPerOp(s - "client.pass", passes) ++ Map(
      "client.request_ms" -> root._3 / passes, "trace.residual_ms" -> root._2 / passes,
      "trace.overhead_ms" -> overheadMs,
      "sources.files_listed" -> filesListed.toDouble, "sources.files_read" -> c.filesRead.toDouble / passes,
      "sources.bytes_read" -> c.bytesRead.toDouble / passes,
      "spark.jobs_per_op" -> c.jobs.toDouble / passes, "spark.tasks_per_op" -> c.tasks.toDouble / passes,
      "spark.busy_frac" -> c.taskMs / (root._3 * Cores),
      "spark.shuffle_bytes" -> c.shuffleBytes.toDouble / passes, "spark.spill_bytes" -> c.spillBytes.toDouble / passes)
  }
}

/** The in-process replay: the same public calls the HTTP handlers make, each
  * wrapped in a span named after the module it enters. */
final class Pipeline(spark: SparkSession, data: String, meta: String) {
  def metaFrame(): DataFrame = spark.read.parquet(meta)

  /** (response body, files the store read listed). */
  def run(sp: Spans, r: Request, auths: Seq[String]): (String, Int) = r match {
    case q: PanelQuery => sp.span("client.query") {
      val req = sp.span("planner.parse")(QueryJson.parseRequest(q.json))
      val pts = sp.span("sources.open")(PointStore.read(spark, data))
      val m = sp.span("sources.meta_open")(metaFrame())
      sp.span("planner.meta_check")(req.queries.foreach(TimelyApi.requireMatchingTags(m, _)))
      val frames = sp.span("planner.plan")(QueryPlanner.plan(pts, req, auths))
      val w = new StringWriter()
      sp.span("operators.execute")(QueryJson.writeResponses(frames, w))
      (w.toString, pts.inputFiles.length)
    }
    case s: Suggest => sp.span("client.meta") {
      val m = sp.span("sources.meta_open")(metaFrame())
      (sp.span("planner.meta")(TimelyApi.suggestJson(m, s.kind, s.q, max = s.max)), 0)
    }
    case l: Lookup => sp.span("client.meta") {
      val m = sp.span("sources.meta_open")(metaFrame())
      (sp.span("planner.meta")(TimelyApi.lookupJson(m, l.metric, Map(l.tagk -> l.pattern), l.limit)), 0)
    }
  }
}

object Traced {
  def sessions: AuthSessions =
    new AuthSessions(Users.All.map(x => x.name -> AuthSessions.User(x.password, x.auths)).toMap)

  private def dps(body: String): Long =
    try Expect.parseQueryResponse(body).map(_.dps.size.toLong).sum catch { case _: Exception => 0L }

  /** Per-layer numbers of one request class, from the spans under `rootName`
    * (`client.query` or `client.meta`). */
  private def queryLayers(t: Tracer, rootName: String, ops: Int, filesListed: Double, rowsOut: Long): Map[String, Double] = {
    val s = t.summary(rootName)
    s.get(rootName).map { root =>
      val c = root._4
      Layers.selfPerOp(s - rootName, ops) ++ Map(
        "client.request_ms" -> root._3 / ops, "trace.residual_ms" -> root._2 / ops,
        "sources.files_listed" -> filesListed, "sources.files_read" -> c.filesRead.toDouble / ops,
        "sources.rows_read_per_row_returned" -> (if (rowsOut > 0) c.recordsRead.toDouble / rowsOut else 0.0),
        "sources.bytes_read" -> c.bytesRead.toDouble / ops,
        "spark.jobs_per_op" -> c.jobs.toDouble / ops, "spark.tasks_per_op" -> c.tasks.toDouble / ops,
        "spark.busy_frac" -> c.taskMs / (root._3 * Layers.Cores),
        "spark.shuffle_bytes" -> c.shuffleBytes.toDouble / ops, "spark.spill_bytes" -> c.spillBytes.toDouble / ops)
    }.getOrElse(Map.empty)
  }

  /** A difference of two timings of the same operations, such as traced
    * minus untraced: the median of the paired differences with its
    * interval, resolved only when the interval excludes zero. Reported as
    * `<name>_ms`, `<name>_interval_ms`, `<name>_pairs`, `<name>_resolved`. */
  def paired(name: String, diffs: Seq[Double]): Map[String, Any] =
    if (diffs.isEmpty) Map(s"${name}_ms" -> 0.0, s"${name}_pairs" -> 0, s"${name}_resolved" -> false)
    else {
      val (lo, hi) = Stats.medianInterval(diffs)
      Map(s"${name}_ms" -> Stats.median(diffs), s"${name}_interval_ms" -> Seq(lo, hi),
        s"${name}_pairs" -> diffs.length, s"${name}_resolved" -> (lo > 0 || hi < 0))
    }

  /** The six orders of (HTTP call, traced replay, untraced replay), cycled
    * per request, so no path always runs first or always follows another. */
  private val Orders = Seq("htu", "hut", "thu", "tuh", "uht", "uth")

  def dashboard(seed: Long, seconds: Double, dir: String): String = {
    val spark = Main.spark()
    val u = Universe.dashboard(seed)
    val data = s"$dir/store/data"; val meta = s"$dir/store/meta"
    Setup.write(spark, u, data, meta)
    val api = new HttpApi(spark, data, meta, sessions = Some(sessions))
    val port = api.start(0)
    val users = IndexedSeq(Users.Ops, Users.Dev)
    val clients = users.map(Dashboard.login(port, _))
    // one walk of the refresh cycle, the users taking turns, so the
    // shortest replay still covers every panel shape and metadata call
    val seq = Traffic.dashboard(u, seed, 0, 1, 5000)
    val pipe = new Pipeline(spark, data, meta)
    val failures = ArrayBuffer[String]()
    def checked(r: Request, user: Users.User, body: String): Unit =
      Expect.check(u, r, user.auths, body).foreach(f => failures += s"${r.json.take(120)}: $f")
    // warm-up through both paths
    Traffic.dashboard(u, seed, 100, 1, 3).foreach { r =>
      checked(r, Users.Ops, Dashboard.send(clients(0), r)); pipe.run(Untraced, r, Users.Ops.auths)
    }
    val tracer = new Tracer(spark)
    // per request: (is a query, HTTP ms, traced ms, untraced ms)
    val times = ArrayBuffer[(Boolean, Double, Double, Double)]()
    var listed = 0.0; var rowsOut = 0L; var i = 0; var attempted = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < Traffic.Refresh.length) {
      val user = users(i % 2); val r = seq(i)
      val isQ = r.isInstanceOf[PanelQuery]
      var httpMs = 0.0; var tracedMs = 0.0; var plainMs = 0.0
      // the untraced replay runs for queries only: its pair with the
      // traced replay gives the tracing overhead
      Orders(i % Orders.length).filter(c => isQ || c != 'u').foreach {
        case 'h' =>
          val h0 = System.nanoTime()
          val body = try Dashboard.send(clients(i % 2), r) catch { case e: Exception => failures += e.toString; null }
          httpMs = (System.nanoTime() - h0) / 1e6
          if (body != null) checked(r, user, body)
          attempted += 1
        case 't' =>
          tracer.request(i)
          val p0 = System.nanoTime()
          val (out, files) = pipe.run(tracer, r, user.auths)
          tracedMs = (System.nanoTime() - p0) / 1e6
          checked(r, user, out)
          attempted += 1
          if (isQ) { listed += files; rowsOut += dps(out) }
        case 'u' =>
          val q0 = System.nanoTime(); pipe.run(Untraced, r, user.auths)
          plainMs = (System.nanoTime() - q0) / 1e6
      }
      times += ((isQ, httpMs, tracedMs, plainMs))
      i += 1
    }
    tracer.finish()
    tracer.dump(s"$dir/spans.jsonl")
    api.stop()
    val (q, m) = times.toSeq.partition(_._1)
    val nq = q.length
    val diffs = paired("trace_overhead", q.map(t => t._3 - t._4)) ++
      paired("server_self", q.map(t => t._2 - t._3)) ++ paired("server_meta_self", m.map(t => t._2 - t._3))
    def ms(name: String) = diffs(s"${name}_ms").asInstanceOf[Double]
    val layers = Layers.empty ++ queryLayers(tracer, "client.query", nq, listed / math.max(nq, 1), rowsOut) ++ Map(
      "server.self_ms" -> ms("server_self"), "server.meta_self_ms" -> ms("server_meta_self"),
      "planner.meta_ms" -> tracer.summary("client.meta").get("planner.meta").map(x => x._2 / x._1).getOrElse(0.0),
      "trace.overhead_ms" -> ms("trace_overhead"))
    Main.json(Map("attempted" -> attempted, "failed" -> failures.length, "wrong" -> failures.length,
      "reasons" -> failures.take(5).toSeq, "per_layer" -> layers, "traced_requests" -> i, "traced_queries" -> nq) ++ diffs)
  }

  def ingest(workload: String, seed: Long, seconds: Double, dir: String): String = {
    val spark = Main.spark()
    import spark.implicits._
    val u = Universe.ingestBase(seed)
    val data = s"$dir/store/data"; val meta = s"$dir/store/meta"
    Setup.write(spark, u, data, meta)
    def files(): Int = java.nio.file.Files.walk(java.nio.file.Paths.get(data)).filter(_.toString.endsWith(".parquet")).count().toInt
    val filesBefore = files()
    val tracer = new Tracer(spark)
    // the server's TCP path: 1,000-line batches per connection, one
    // connection per agent, all at once
    val ag = Ingest.agentsFor(workload)
    val batches = (0 until ag.count).map { a =>
      Traffic.backlog(u, a, ag.count, ag.backlogSteps).map { case (s, k) => u.putLine(s, k) }.grouped(1000).toSeq
    }
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    val threads = batches.zipWithIndex.map { case (bs, a) =>
      val th = new Thread(() => bs.zipWithIndex.foreach { case (lines, j) =>
        tracer.request(a * 100000 + j)
        tracer.span("client.batch") {
          val pts = tracer.span("model.parse")(lines.flatMap(l => MetricParser.parse(l)))
          try {
            val df = tracer.span("sources.write") {
              val df = pts.toDF()
              PointStore.write(df, data)
              df
            }
            tracer.span("sources.meta_write")(PointStore.metaProjection(df).write.mode("append").parquet(meta))
          } catch { case _: Exception => failed.incrementAndGet() }
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    val nBatches = batches.map(_.length).sum
    val filesAdded = files() - filesBefore
    // the reader's view of the grown store
    val pipe = new Pipeline(spark, data, meta)
    val reads = Traffic.ingestReads(u, seed, ag.backlogSteps, 6)
    var listed = 0.0; var rowsOut = 0L; val wrong = ArrayBuffer[String]()
    reads.zipWithIndex.foreach { case (r, j) =>
      tracer.request(1000000 + j)
      val (out, f) = pipe.run(tracer, r, Users.Ops.auths)
      listed += f; rowsOut += dps(out)
      Expect.checkTail(u, r, Users.Ops.auths, out).foreach(wrong += _)
    }
    tracer.finish()
    tracer.dump(s"$dir/spans.jsonl")
    val s = tracer.summary("client.batch")
    val batch = s("client.batch")
    def per(name: String) = s.get(name).map(_._2 / nBatches).getOrElse(0.0)
    val layers = Layers.empty ++ queryLayers(tracer, "client.query", reads.length, listed / reads.length, rowsOut) ++ Map(
      "model.parse_ms" -> per("model.parse"), "sources.write_ms" -> per("sources.write"),
      "sources.meta_write_ms" -> per("sources.meta_write"),
      "sources.files_per_batch" -> filesAdded.toDouble / nBatches,
      "spark.jobs_per_batch" -> batch._4.jobs.toDouble / nBatches,
      "sources.batches_failed" -> failed.get.toDouble)
    Main.json(Map("attempted" -> (nBatches + reads.length), "failed" -> (failed.get + wrong.length),
      "wrong" -> wrong.length, "reasons" -> wrong.take(5).toSeq, "per_layer" -> layers, "batches" -> nBatches))
  }
}
