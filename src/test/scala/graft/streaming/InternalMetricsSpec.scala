package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.planner.{QueryAnswer, QueryPlanner}
import graft.planner.QueryPlanner.{SubQuery, TsQueryRequest}
import graft.server.HttpApi

/**
 * S10 internal-metrics loopback: counter semantics, the exact reference
 * emission (names, order, resets, derived-value quirks —
 * InternalMetrics.java:88-125), and the loopback being queryable through the
 * ordinary planner and the served HTTP query/suggest routes.
 */
class InternalMetricsSpec extends AnyFunSuite with SparkSpec {

  private val T = 1704067200000L

  test("metricsAndReset: names, order, resets, derived quirks") {
    val im = new InternalMetrics("testhost", 1)
    im.incrementMetricsReceived(100)
    im.incrementMetricKeysInserted(100)
    im.incrementMetaKeysInserted(7)
    im.incrementMetricsCached(40)
    im.setNumCachedMetricsTotal(500)
    im.setAgeOfOldestCachedMetric(60000)
    im.addQueryResponse(numMetrics = 3, elapsedMs = 200)
    im.addQueryResponse(numMetrics = 5, elapsedMs = 300)

    val out = im.metricsAndReset(T)
    assert(out.map(_.metric) == Seq(
      "timely.metrics.received", "timely.cache.metric.received",
      "timely.cache.metric.total", "timely.cache.metric.oldest.age",
      "timely.keys.meta.inserted", "timely.keys.metric.inserted",
      "timely.query.num.completed", "timely.query.metrics.returned",
      "timely.query.return.time", "timely.query.metrics.returned.rate"))
    assert(out.forall(p => p.ts == T && p.tags == Map("host" -> "testhost_1")))
    val v = out.map(p => p.metric -> p.value).toMap
    assert(v("timely.metrics.received") == 100.0)
    assert(v("timely.cache.metric.received") == 40.0)
    assert(v("timely.cache.metric.total") == 500.0)
    assert(v("timely.cache.metric.oldest.age") == 60000.0)
    assert(v("timely.keys.meta.inserted") == 7.0)
    assert(v("timely.keys.metric.inserted") == 100.0)
    assert(v("timely.query.num.completed") == 2.0)
    assert(v("timely.query.metrics.returned") == 8.0)
    // reference quirk: "return time" is queries/elapsed (InternalMetrics.java:108-110)
    assert(v("timely.query.return.time") == 2.0 / 500.0)
    assert(v("timely.query.metrics.returned.rate") == 8.0 / (500.0 / 60000.0))

    // incremental counters reset, gauges persist, zero-elapsed drops return.time
    val again = im.metricsAndReset(T + 1)
    val v2 = again.map(p => p.metric -> p.value).toMap
    assert(!v2.contains("timely.query.return.time"))
    assert(v2("timely.metrics.received") == 0.0)
    assert(v2("timely.query.metrics.returned.rate") == 0.0)
    assert(v2("timely.cache.metric.total") == 500.0)
  }

  test("loopback points land in the store and catalog and answer planner and HTTP queries") {
    val dir = Files.createTempDirectory("graft-s10").toString
    val (data, meta) = (s"$dir/data", s"$dir/meta")
    val im = new InternalMetrics("testhost", 1)
    im.incrementMetricsReceived(42)
    im.loopback(spark, data, meta, T)
    im.incrementMetricsReceived(13)
    im.loopback(spark, data, meta, T + 60000)

    val stored = graft.sources.PointStore.read(spark, data)
    val req = TsQueryRequest(T, T + 60000, msResolution = true, queries = Seq(
      SubQuery(aggregator = "sum", metric = "timely.metrics.received",
        downsample = Some("1m-sum"))))
    val got = QueryPlanner.plan(stored, req, auths = Seq.empty).head
      .select("ts_out", "value").orderBy("ts_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((T, 42.0), (T + 60000, 13.0)))

    // served like any put: the loopback wrote catalog rows, so the HTTP
    // query passes the no-matching-tags check and suggest lists the metric
    val api = new HttpApi(spark, data, meta)
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def send(b: HttpRequest.Builder): HttpResponse[String] =
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      val q = send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"start":$T,"end":${T + 60000},"msResolution":true,
             |"queries":[{"aggregator":"sum","metric":"timely.metrics.received",
             |"downsample":"1m-sum","tags":{}}]}""".stripMargin, UTF_8)))
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains(s""""dps":{"$T":42.0,"${T + 60000}":13.0}"""), q.body())
      val s = send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/suggest?type=metrics&q=timely")).GET())
      assert(s.statusCode() == 200)
      assert(s.body().contains("\"timely.metrics.received\""), s.body())
    } finally api.stop()
  }

  test("the query entry and the storage sink feed the loopback counters") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val im = new InternalMetrics("testhost", 1)

    val dir = Files.createTempDirectory("graft-s10-sink").toString
    val input = MemoryStream[String]
    val q = PutLineIngest.startStorageSink(PutLineIngest.parse(input.toDS()),
      s"$dir/data", s"$dir/meta", s"$dir/ckpt", internal = Some(im))
    input.addData(
      s"put sys.cpu.user $T 1.0 host=a rack=r1",
      s"put sys.cpu.user ${T + 1} 2.0 host=a rack=r1",
      s"put sys.cpu.idle ${T + 2} 3.0 host=b")
    q.processAllAvailable()
    q.stop()

    val stored = graft.sources.PointStore.read(spark, s"$dir/data")
    val req = TsQueryRequest(T, T + 10, queries = Seq(
      SubQuery(aggregator = "sum", metric = "sys.cpu.user", downsample = Some("1m-sum"))))
    QueryAnswer(stored, req, auths = Seq.empty, internal = Some(im))

    val v = im.metricsAndReset(T + 1).map(p => p.metric -> p.value).toMap
    assert(v("timely.metrics.received") == 3.0)
    assert(v("timely.keys.metric.inserted") == 3.0)
    assert(v("timely.keys.meta.inserted") == 3.0) // user:{host=a,rack=r1} + idle:{host=b}
    assert(v("timely.query.num.completed") == 1.0)
    assert(v("timely.query.metrics.returned") == 1.0)
  }
}
