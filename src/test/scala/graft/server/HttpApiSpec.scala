package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/**
 * Live-port integration test of [[HttpApi]], mirroring the reference's
 * HttpApiIT put -> query round trip (HttpApiIT.java:229-312: the standard
 * 4-line fixture, then /api/query with msResolution on and off) plus the
 * catalog endpoints (suggest / lookup / metrics / aggregators / version) and
 * the reference's 400 contracts (no matching tags —
 * HttpQueryRequestHandler.java:36 — and unparseable requests).
 */
class HttpApiSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val T = 1704067200000L
  private lazy val dir = Files.createTempDirectory("graft-http").toFile
  private lazy val api = new HttpApi(spark,
    new java.io.File(dir, "data").getAbsolutePath,
    new java.io.File(dir, "meta").getAbsolutePath)
  private lazy val port = api.start()
  private lazy val client = HttpClient.newHttpClient()

  /** Requests to the [[HttpApi]] listening on `port`. */
  private final class Client(port: Int) {
    def get(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())

    def post(path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
        HttpResponse.BodyHandlers.ofString())
  }

  private lazy val shared = new Client(port)
  private def get(path: String): HttpResponse[String] = shared.get(path)
  private def post(path: String, body: String): HttpResponse[String] = shared.post(path, body)

  /** `f` against an [[HttpApi]] of its own over `dataDir` / `metaDir`. */
  private def withApi(dataDir: String, metaDir: String)(f: Client => Unit): Unit = {
    val own = new HttpApi(spark, dataDir, metaDir)
    try f(new Client(own.start())) finally own.stop()
  }

  /** A raw-points query of `metric` over [T, T + spanMs], ms-keyed dps. */
  private def rawQuery(metric: String, spanMs: Long = 6000L): String =
    s"""{"start":$T,"end":${T + spanMs},"msResolution":true,""" +
      s""""queries":[{"aggregator":"max","metric":"$metric"}]}"""

  override def afterAll(): Unit = {
    api.stop()
    super.afterAll()
  }

  test("put lines -> query round trip (HttpApiIT fixture), with and without msResolution") {
    // the reference IT's exact 4-line seed (HttpApiIT.java:231-236)
    val put = post("/api/put", Seq(
      s"put sys.cpu.user $T 1.0 tag1=value1 tag2=value2",
      s"put sys.cpu.user ${T + 1} 1.0 tag3=value3",
      s"put sys.cpu.idle ${T + 2} 1.0 tag3=value3 tag4=value4",
      s"put sys.cpu.idle ${T + 1000} 3.0 tag3=value3 tag4=value4").mkString("\n"))
    assert(put.statusCode() == 200)

    // msResolution=false: SECOND-resolution dps keys (testQueryWithoutMsResolution)
    val q = post("/api/query",
      s"""{"start":$T,"end":${T + 6000},"msResolution":false,
         |"queries":[{"aggregator":"sum","metric":"sys.cpu.idle",
         |"downsample":"1s-max","tags":{"tag3":"value3"}}]}""".stripMargin)
    assert(q.statusCode() == 200)
    assert(q.body() ==
      s"""[{"metric":"sys.cpu.idle","tags":{"tag3":"value3"},"aggregatedTags":["tag4"],""" +
      s""""dps":{"${T / 1000}":1.0,"${T / 1000 + 1}":3.0}}]""")

    // msResolution=true: millisecond keys, 1s-aligned (testQueryWithMsResolution)
    val qMs = post("/api/query",
      s"""{"start":$T,"end":${T + 6000},"msResolution":true,
         |"queries":[{"aggregator":"sum","metric":"sys.cpu.idle",
         |"downsample":"1s-max","tags":{"tag3":"value3"}}]}""".stripMargin)
    assert(qMs.statusCode() == 200)
    assert(qMs.body().contains(s""""dps":{"$T":1.0,"${T + 1000}":3.0}"""))
  }

  test("GET-form query (m= grammar)") {
    val r = get(s"/api/query?start=$T&end=${T + 6000}" +
      "&m=sum:1s-max:sys.cpu.idle%7Btag3%3Dvalue3%7D%7Btag3%3Dvalue3%7D")
    assert(r.statusCode() == 200)
    assert(r.body().contains(s""""${T / 1000}":1.0"""))
  }

  test("query with no matching tags is the reference's 400") {
    val r = post("/api/query",
      s"""{"start":$T,"end":${T + 6000},
         |"queries":[{"aggregator":"sum","metric":"sys.cpu.idle",
         |"tags":{"tag3":"nosuchvalue"}}]}""".stripMargin)
    assert(r.statusCode() == 400)
    assert(r.body().contains("No matching tags"))
  }

  test("unparseable query body is a 400") {
    assert(post("/api/query", """{"end":5}""").statusCode() == 400)
  }

  test("metric JSON put (reference Metric.java:19 flattened shape)") {
    val r = post("/api/put",
      s"""{"name":"sys.mem.free","timestamp":${T + 5},"measure":42.0,"tags":[{"host":"h1"}]}""")
    assert(r.statusCode() == 200)
    val q = post("/api/query",
      s"""{"start":$T,"end":${T + 6000},
         |"queries":[{"aggregator":"none","metric":"sys.mem.free"}]}""".stripMargin)
    assert(q.statusCode() == 200)
    assert(q.body().contains(""""metric":"sys.mem.free""""))
    assert(q.body().contains("42.0"))
  }

  test("suggest / lookup / metrics catalog endpoints") {
    val sg = get("/api/suggest?type=metrics&q=sys.cpu&max=10")
    assert(sg.statusCode() == 200)
    assert(sg.body() == """["sys.cpu.idle","sys.cpu.user"]""")

    // lookup grammar metric{tagk=regex} (testSearchLookup's fixture family)
    val lk = get("/api/search/lookup?q=sys.cpu.idle%7Btag3%3D.*%7D&limit=10")
    assert(lk.statusCode() == 200)
    assert(lk.body().contains(""""results":[{"tags":{"tag3":"value3"}"""))
    assert(lk.body().contains(""""totalResults":1"""))

    val mt = get("/api/metrics")
    assert(mt.statusCode() == 200)
    assert(mt.body().contains(""""metric":"sys.cpu.idle""""))
    assert(mt.body().contains("""{"key":"tag3","value":"value3"}"""))
  }

  test("aggregators and version") {
    val ag = get("/api/aggregators")
    assert(ag.statusCode() == 200)
    assert(ag.body() == """["avg","dev","max","min","sum","count","none"]""")
    val v = get("/version")
    assert(v.statusCode() == 200 && v.body().trim.nonEmpty)
    assert(get("/nope").statusCode() == 404)
  }

  test("plan-time validation errors still 400 (headers not sent before planning)") {
    val r = post("/api/query",
      s"""{"start":$T,"end":${T + 6000},
         |"queries":[{"aggregator":"sum","metric":"sys.cpu.idle",
         |"downsample":"garbage","tags":{"tag3":"value3"}}]}""".stripMargin)
    assert(r.statusCode() == 400, s"got ${r.statusCode()}: ${r.body()}")
  }

  test("JSON put without tags is rejected (line-protocol parity, no orphan points)") {
    val r = post("/api/put", """{"name":"orphan.metric","timestamp":1,"measure":1.0,"tags":[]}""")
    assert(r.statusCode() == 400, s"got ${r.statusCode()}: ${r.body()}")
    // viz alone doesn't count: it's stripped into the visibility slot
    val r2 = post("/api/put",
      """{"name":"orphan.metric","timestamp":1,"measure":1.0,"tags":[{"viz":"A"}]}""")
    assert(r2.statusCode() == 400)
    // nor on a put line: the same admission rule holds for every format
    val r3 = post("/api/put", "put orphan.metric 1704067200000 1.0 viz=A")
    assert(r3.statusCode() == 400, s"got ${r3.statusCode()}: ${r3.body()}")
    assert(r3.body().contains("put orphan.metric"), r3.body())
    assert(get("/api/suggest?type=metrics&q=orphan&max=10").body() == "[]")
  }

  test("a POST body that is not JSON is a 400, not a server failure") {
    val sessions = new AuthSessions(Map("u" -> AuthSessions.User("pw", Seq("A"))),
      allowAnonymous = true)
    val own = new HttpApi(spark, new java.io.File(dir, "data").getAbsolutePath,
      new java.io.File(dir, "meta").getAbsolutePath, sessions = Some(sessions))
    val c = new Client(own.start())
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true, UTF_8))
    val truncated = s"""{"start":$T,"""
    val answers = try Seq("/api/query", "/api/search/lookup", "/api/put", "/login")
      .map(path => path -> c.post(path, truncated))
    finally {
      System.setErr(stderr)
      own.stop()
    }
    answers.foreach { case (path, r) =>
      assert(r.statusCode() == 400, s"$path: ${r.statusCode()} ${r.body()}")
    }
    val reported = new String(captured.toByteArray, UTF_8).linesIterator.filter(_.contains("[graft]")).toSeq
    assert(reported.isEmpty, reported.mkString("\n"))
  }

  test("gzip response compression when the client advertises it (HttpContentCompressor parity)") {
    // fixed-length route
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/aggregators"))
      .header("Accept-Encoding", "gzip").GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Encoding").orElse("") == "gzip")
    val un = new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(r.body())).readAllBytes(), UTF_8)
    assert(un == """["avg","dev","max","min","sum","count","none"]""")
    // chunked streaming query route
    val q = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/query"))
      .header("Accept-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"""{"start":$T,"end":${T + 6000},
           |"queries":[{"aggregator":"none","metric":"sys.cpu.idle"}]}""".stripMargin, UTF_8))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(q.statusCode() == 200)
    assert(q.headers().firstValue("Content-Encoding").orElse("") == "gzip")
    val qb = new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(q.body())).readAllBytes(), UTF_8)
    assert(qb.contains(""""metric":"sys.cpu.idle""""), qb)
    // no Accept-Encoding -> identity (and clients that don't ask never see gzip)
    val plain = get("/api/aggregators")
    assert(plain.headers().firstValue("Content-Encoding").isEmpty)
  }

  test("CORS: preflight answered, origins reflected with credentials (CorsHandler parity)") {
    val pre = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/query"))
      .header("Origin", "https://grafana.example")
      .header("Access-Control-Request-Method", "POST")
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(pre.statusCode() == 204, s"${pre.statusCode()} ${pre.body()}")
    assert(pre.headers().firstValue("Access-Control-Allow-Origin").orElse("")
      == "https://grafana.example")
    assert(pre.headers().firstValue("Access-Control-Allow-Methods").orElse("").contains("POST"))
    assert(pre.headers().firstValue("Access-Control-Allow-Credentials").orElse("") == "true")
    // actual cross-origin request: origin reflected on the response too
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/version"))
      .header("Origin", "https://grafana.example").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("")
      == "https://grafana.example")
    // same-origin requests stay untouched
    assert(get("/version").headers().firstValue("Access-Control-Allow-Origin").isEmpty)
    // plain HTTP: no HSTS (it is a TLS-only header)
    assert(get("/version").headers().firstValue("Strict-Transport-Security").isEmpty)
  }

  test("a put shows up in the very next suggest (catalog kept current by append)") {
    assert(get("/api/suggest?type=metrics&q=sys.disk&max=10").body() == "[]")
    assert(post("/api/put", s"put sys.disk.free $T 1.0 tag1=value1").statusCode() == 200)
    assert(get("/api/suggest?type=metrics&q=sys.disk&max=10").body() == """["sys.disk.free"]""")
    assert(get("/api/suggest?type=tagk&q=sys.disk.free&max=10").body() == """["tag1"]""")
  }

  test("a store given as file: URIs answers its puts on query and suggest") {
    val base = Files.createTempDirectory("graft-http-uri").toUri
    val (data, meta) = (base.resolve("data").toString, base.resolve("meta").toString)
    assert(data.startsWith("file:"))
    withApi(data, meta) { c =>
      assert(c.post("/api/put", s"put uri.metric $T 5.0 host=a").statusCode() == 200)
      val q = c.post("/api/query", rawQuery("uri.metric"))
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains(s""""$T":5.0"""), q.body())
      assert(c.get("/api/suggest?type=metrics&q=uri").body() == """["uri.metric"]""")
    }
  }

  test("numeric-looking metric names stay strings: a query and /api/cache tell 1 from 01") {
    val base = Files.createTempDirectory("graft-http-numeric").toString
    withApi(s"$base/data", s"$base/meta") { c =>
      assert(c.post("/api/put", Seq(
        s"put 1 $T 1.0 host=a",
        s"put 01 $T 2.0 host=a",
        s"put 7.5 $T 3.0 host=a").mkString("\n")).statusCode() == 200)
      val q = c.post("/api/query", rawQuery("01"))
      assert(q.statusCode() == 200, q.body())
      assert(q.body() == s"""[{"metric":"01","tags":{},"aggregatedTags":["host"],""" +
        s""""dps":{"$T":2.0}}]""", q.body())
      val cache = c.get("/api/cache")
      assert(cache.statusCode() == 200, cache.body())
      assert(cache.body().contains(""""metrics":["01","1","7.5"]"""), cache.body())
    }
  }

  test("a direct PointStore.write + writeMeta shows on the very next request") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-http-write").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    withApi(data, meta) { c =>
      assert(c.post("/api/put", s"put direct.metric $T 1.0 host=a").statusCode() == 200)
      // served once: the facade's store entry holds this listing and catalog
      assert(c.post("/api/query", rawQuery("direct.metric")).body().contains(s""""$T":1.0"""))
      assert(c.get("/api/suggest?type=tagv&q=direct.metric&tagk=host").body() == """["a"]""")
      val more = Seq(graft.model.MetricPoint("direct.metric", T + 1000, 2.0,
        Map("host" -> "b"), None)).toDF()
      graft.sources.PointStore.write(more, data)
      graft.sources.PointStore.writeMeta(more, meta) // overwrites: host=b only
      val q = c.post("/api/query", rawQuery("direct.metric")).body()
      assert(q.contains(s""""$T":1.0""") && q.contains(s""""${T + 1000}":2.0"""), q)
      assert(c.get("/api/suggest?type=tagv&q=direct.metric&tagk=host").body() == """["b"]""")
    }
  }

  test("ageOffDropPartitions on the served store shows on the very next request") {
    val day = 86400000L
    val base = Files.createTempDirectory("graft-http-ageoff").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    withApi(data, meta) { c =>
      assert(c.post("/api/put", Seq(
        s"put aged.metric $T 1.0 host=a",
        s"put aged.metric ${T + 10 * day} 2.0 host=a").mkString("\n")).statusCode() == 200)
      val before = c.post("/api/query", rawQuery("aged.metric", 11 * day)).body()
      assert(before.contains(s""""$T":1.0""") && before.contains(s""""${T + 10 * day}":2.0"""), before)
      assert(graft.sources.PointStore.ageOffDropPartitions(spark, data,
        Map("default" -> 5 * day), nowMs = T + 10 * day) == Seq("aged.metric/2024-01-01"))
      // the dropped day's files are gone: a stale listing would fail the scan
      val after = c.post("/api/query", rawQuery("aged.metric", 11 * day))
      assert(after.statusCode() == 200, after.body())
      assert(!after.body().contains(s""""$T":1.0""") &&
        after.body().contains(s""""${T + 10 * day}":2.0"""), after.body())
    }
  }

  test("a Maintenance pass and a compaction on the served store show on the very next request") {
    import org.apache.spark.sql.functions.{col, lit}
    val day = 86400000L
    val base = Files.createTempDirectory("graft-http-maint").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    withApi(data, meta) { c =>
      assert(c.post("/api/put", Seq(
        s"put kept.metric $T 1.0 host=a",
        s"put kept.metric ${T + 10 * day} 2.0 host=a",
        s"put gone.metric $T 3.0 host=a").mkString("\n")).statusCode() == 200)
      assert(c.post("/api/query", rawQuery("kept.metric", 11 * day)).body().contains(s""""$T":1.0"""))
      assert(c.get("/api/suggest?type=metrics&q=.metric").body() == """["gone.metric","kept.metric"]""")
      def onlyLatestKept(): Unit = {
        val q = c.post("/api/query", rawQuery("kept.metric", 11 * day))
        assert(q.statusCode() == 200, q.body())
        assert(!q.body().contains(s""""$T":1.0""") &&
          q.body().contains(s""""${T + 10 * day}":2.0"""), q.body())
      }
      val report = graft.tools.Maintenance.run(spark, data, meta,
        Map("default" -> 5 * day), nowMs = T + 10 * day)
      assert(report.droppedPartitions == Seq("gone.metric/2024-01-01", "kept.metric/2024-01-01"))
      onlyLatestKept()
      // the swapped-in catalog no longer holds the aged-off metric
      assert(c.get("/api/suggest?type=metrics&q=.metric").body() == """["kept.metric"]""")
      assert(c.post("/api/query", rawQuery("gone.metric")).statusCode() == 400)
      // the compaction swap replaces every file the served listing named
      graft.tools.Maintenance.compactZOrder(spark, data, col("value").cast("long"), lit(0L),
        bits = 2, numFiles = 1, auditXLo = 0L, auditXHi = 3L)
      onlyLatestKept()
    }
  }

  test("a maintenance pass by another process shows on the next request") {
    // what such a pass leaves, made here without this JVM's PointStore: day
    // dirs deleted under a data dir whose modification time moved (as
    // ageOffDropPartitions leaves it) and a catalog dir swapped in by rename
    // (as AtomicDir.swap leaves it)
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val day = 86400000L
    val base = Files.createTempDirectory("graft-http-otherproc").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    val fs = new Path(data).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withApi(data, meta) { c =>
      assert(c.post("/api/put", Seq(
        s"put kept.metric $T 1.0 host=a",
        s"put kept.metric ${T + 10 * day} 2.0 host=a",
        s"put gone.metric $T 3.0 host=a").mkString("\n")).statusCode() == 200)
      assert(c.post("/api/query", rawQuery("kept.metric", 11 * day)).body().contains(s""""$T":1.0"""))
      assert(c.get("/api/suggest?type=metrics&q=.metric").body() == """["gone.metric","kept.metric"]""")
      Seq("kept.metric", "gone.metric").foreach(m =>
        assert(fs.delete(new Path(s"$data/metric=$m/dt=2024-01-01"), true)))
      fs.setTimes(new Path(data), System.currentTimeMillis(), -1L)
      spark.read.parquet(meta).where(col("metric") === "kept.metric")
        .write.parquet(s"$meta.tmp")
      assert(fs.rename(new Path(meta), new Path(s"$meta.bak")) &&
        fs.rename(new Path(s"$meta.tmp"), new Path(meta)))
      val q = c.post("/api/query", rawQuery("kept.metric", 11 * day))
      assert(q.statusCode() == 200, q.body())
      assert(!q.body().contains(s""""$T":1.0""") &&
        q.body().contains(s""""${T + 10 * day}":2.0"""), q.body())
      assert(c.get("/api/suggest?type=metrics&q=.metric").body() == """["kept.metric"]""")
    }
  }

  test("every append that has returned shows in the next query, while queries run") {
    val base = Files.createTempDirectory("graft-http-race").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    def batch(i: Int) = Seq(graft.model.MetricPoint("race.metric", T + i * 1000L, i.toDouble,
      Map("host" -> "a"), None))
    graft.sources.PointStore.append(spark, batch(0), data, meta)
    val returned = new java.util.concurrent.atomic.AtomicInteger(1)
    @volatile var failure: Option[Throwable] = None
    val writer = new Thread(() =>
      try (1 to 20).foreach { i =>
        graft.sources.PointStore.append(spark, batch(i), data, meta)
        returned.set(i + 1)
      } catch { case e: Throwable => failure = Some(e) })
    withApi(data, meta) { c =>
      def check(): Unit = {
        val n = returned.get
        val q = c.post("/api/query", rawQuery("race.metric", 30000L))
        assert(q.statusCode() == 200, q.body())
        (0 until n).foreach { i =>
          assert(q.body().contains(s""""${T + i * 1000L}":$i.0"""),
            s"batch $i returned before the query was sent but is missing: ${q.body()}")
        }
      }
      writer.start()
      var queries = 0
      while (writer.isAlive) { check(); queries += 1 }
      writer.join()
      check()
      assert(failure.isEmpty, failure.toString)
      assert(queries > 0, "no query overlapped the appends")
    }
  }
}
