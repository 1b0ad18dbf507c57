package graft.planner

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricParser
import graft.planner.QueryPlanner._

/** GET-form `m=` parsing and planner edge semantics pinned to the reference. */
class ApiParitySpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("m= query parsing: agg:rate{...}:downsample:metric{groupBy}{tags}") {
    // GET-form rate option ORDER is the reference's (QueryRequest.java:
    // 540-561): {counter, interval, counterMax, resetValue}, counter detected
    // via endsWith("counter") — NOT the POST RateOption field order
    val q = QueryJson.parseMQuery("sum:rate{counter,100,10}:1m-avg:sys.cpu.user{host=web.*,rack=r1}")
    assert(q.aggregator == "sum" && q.metric == "sys.cpu.user")
    assert(q.rate && q.rateOptions ==
      RateOptions(counter = true, counterMax = 10L, interval = Some("100")))
    assert(q.downsample.contains("1m-avg"))
    // the reference's GET tag grammar: the FIRST {} block becomes groupBy
    // FILTER clauses — which the engine ignores — so a single-block query
    // carries NO tags and runs unfiltered (QueryRequest.java:583-606)
    assert(q.tags.isEmpty)
    assert(q.filters == Seq(
      FilterClause("", "host", "web.*", groupBy = true),
      FilterClause("", "rack", "r1", groupBy = true)))
    val two = QueryJson.parseMQuery("avg:m{host=a}{rack=r2}")
    assert(two.filters == Seq(FilterClause("", "host", "a", groupBy = true)))
    assert(two.tags == Map("rack" -> "r2")) // only the SECOND block filters
    val full = QueryJson.parseMQuery("sum:rate{counter,1s,100,10}:1m-avg:m")
    assert(full.rateOptions ==
      RateOptions(counter = true, counterMax = 100L, resetValue = 10L, interval = Some("1s")))
    assert(QueryPlanner.durationMs("1s") == 1000L && QueryPlanner.durationMs("100") == 100L)
  }

  test("m= query parsing: minimal and partial forms") {
    assert(QueryJson.parseMQuery("avg:sys.cpu.idle") ==
      SubQuery("avg", "sys.cpu.idle"))
    val r = QueryJson.parseMQuery("max:rate:proc.net.bytes")
    assert(r.rate && r.rateOptions == RateOptions() && r.downsample.isEmpty)
    val d = QueryJson.parseMQuery("none:10s-max:sys.load{host=a}")
    assert(d.aggregator == "none" && d.downsample.contains("10s-max"))
    intercept[IllegalArgumentException](QueryJson.parseMQuery("sum:bogus-seg-ment:m1"))
  }

  private val T = 1704067200000L

  private def fixture = Seq(
    s"put m $T 10.0 host=a",
    s"put m ${T + 1000} 40.0 host=a",
    s"put m ${T + 2000} 40.0 host=a")
    .flatMap(MetricParser.parse).toDF()

  test("rate default interval equals the downsample period (DataStore.java:716-719)") {
    // downsample 1m-avg => rate interval defaults to 60000 ms:
    // (40-10)/1000ms * 60000 = 1800
    val req = TsQueryRequest(T, T + 60000, msResolution = true, Seq(
      SubQuery("sum", "m", rate = true, downsample = Some("1m-avg"))))
    val out = QueryPlanner.plan(fixture, req, Seq.empty).head
      .select("value").as[Double].collect()
    // two rate points: 1800 and 0; downsampled 1m-avg -> 900; cross-series sum -> 900
    assert(out.toSeq == Seq(900.0))
  }

  test("GET query-string parsing: start/end/m/tsuid (QueryRequest.parseQueryParameters)") {
    val req = QueryJson.parseGetQuery(Map(
      "start" -> Seq(s"$T"), "end" -> Seq(s"${T + 6000}"),
      "m" -> Seq("sum:1m-avg:m1{h=a}{h=a}", "max:m2"),
      "tsuid" -> Seq("sum:000001000001000001,000001000001000002")))
    assert(req.start == T && req.end == T + 6000 && !req.msResolution)
    assert(req.queries.length == 3)
    assert(req.queries(0).metric == "m1" && req.queries(0).tags == Map("h" -> "a"))
    assert(req.queries(1) == SubQuery("max", "m2"))
    assert(req.queries(2).aggregator == "sum" && req.queries(2).metric.isEmpty &&
      req.queries(2).tsuids == Seq("000001000001000001", "000001000001000002"))
    // end defaults to "now"; start is required
    assert(QueryJson.parseGetQuery(Map("start" -> Seq("5")), nowMs = () => 42L).end == 42L)
    intercept[IllegalArgumentException](QueryJson.parseGetQuery(Map.empty))
  }

  test("query with no matching tags is a 400, not an empty result (HttpApiIT.testQueryWithNoMatchingTags)") {
    // reference fixture (HttpApiIT.java:385-404): sys.cpu.idle exists but no
    // rack=r3 value does -> DataStore.getColumnFamilies finds no columns ->
    // TimelyException 400 "No matching tags"
    val pts = Seq(
      s"put sys.cpu.user $T 1.0 tag1=value1 tag2=value2 rack=r1",
      s"put sys.cpu.user ${T + 1} 1.0 tag3=value3 rack=r2",
      s"put sys.cpu.idle ${T + 2} 1.0 tag3=value3 tag4=value4 rack=r1",
      s"put sys.cpu.idle ${T + 1000} 3.0 tag3=value3 tag4=value4 rack=r2")
      .flatMap(MetricParser.parse).toDF()
    val meta = graft.sources.Catalog.collect(pts.select(org.apache.spark.sql.functions.col("metric"),
      org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.col("tags"))
        .as(Seq("tagk", "tagv"))).distinct())
    def req(tags: Map[String, String], metric: String = "sys.cpu.idle") =
      TsQueryRequest(T, T + 6000, msResolution = false,
        Seq(SubQuery("sum", metric, downsample = Some("1s-max"), tags = tags)))
    val e = intercept[TimelyApi.NoMatchingTagsException](
      QueryAnswer(pts, req(Map("rack" -> "r3")), Seq.empty, Some(meta)))
    assert(e.status == 400)
    // matching tags (incl. regex) and tag-less queries still answer normally
    assert(QueryAnswer(pts, req(Map("rack" -> "r1")), Seq.empty, Some(meta)).nonEmpty)
    assert(QueryAnswer(pts, req(Map("rack" -> "r.*")), Seq.empty, Some(meta)).nonEmpty)
    assert(QueryAnswer(pts, req(Map.empty), Seq.empty, Some(meta)).nonEmpty)
    // unknown metric with no tags: no catalog entries at all -> 400 too
    intercept[TimelyApi.NoMatchingTagsException](
      QueryAnswer(pts, req(Map.empty, metric = "nope"), Seq.empty, Some(meta)))
  }

  test("aggregator none keeps per-series rows with full tag sets") {
    val req = TsQueryRequest(T, T + 60000, msResolution = true, Seq(
      SubQuery("none", "m", downsample = Some("1s-avg"))))
    val out = QueryPlanner.plan(fixture, req, Seq.empty).head
    assert(out.count() == 3) // no cross-series collapse, 1s buckets
    val tags = out.select("group_tags").collect().map(_.getMap[String, String](0).toMap).distinct
    assert(tags.toSeq == Seq(Map("host" -> "a"))) // full tag set retained
  }

  test("unknown aggregator behaves like none (Aggregator.getAggregator null default)") {
    // reference: no AggregationIterator is added for an unresolvable name
    // (DataStore.java:738-746) — same per-series rows as aggregator=none
    def rows(agg: String) = {
      val req = TsQueryRequest(T, T + 60000, msResolution = true, Seq(
        SubQuery(agg, "m", downsample = Some("1s-avg"))))
      QueryPlanner.plan(fixture, req, Seq.empty).head
        .select("ts_out", "value").sort("ts_out").as[(Long, Double)].collect().toSeq
    }
    assert(rows("zimsum") == rows("none") && rows("none").nonEmpty)
  }
}
