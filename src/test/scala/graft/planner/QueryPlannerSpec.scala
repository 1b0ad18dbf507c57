package graft.planner

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricParser
import graft.planner.QueryPlanner._

/**
 * End-to-end planner behavior on the reference's standard 4-line fixture
 * (HttpApiIT.java:231-236): put -> plan -> response JSON, pinning downsample
 * `1s-max`, second-vs-ms resolution, tag filtering, and response shape.
 */
class QueryPlannerSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val T = 1704067200000L // aligned to 1s

  private def fixture: DataFrame = {
    val lines = Seq(
      s"put sys.cpu.user $T 1.0 tag1=value1 tag2=value2",
      s"put sys.cpu.user ${T + 1} 1.0 tag3=value3",
      s"put sys.cpu.idle ${T + 2} 1.0 tag3=value3 tag4=value4",
      s"put sys.cpu.idle ${T + 1000} 3.0 tag3=value3 tag4=value4")
    lines.flatMap(MetricParser.parse).toDF()
  }

  test("downsample 1s-max with tag filter, second-resolution keys") {
    val req = TsQueryRequest(T, T + 6000, msResolution = false, Seq(
      SubQuery(aggregator = "sum", metric = "sys.cpu.idle",
        downsample = Some("1s-max"), tags = Map("tag3" -> "value3"))))
    val out = QueryPlanner.plan(fixture, req, auths = Seq.empty).head
      .select("ts_out", "value").sort("ts_out").as[(Long, Double)].collect()
    // two 1s buckets: [T, T+1s) max 1.0 and [T+1s, T+2s) max 3.0, keys in SECONDS
    assert(out.toSeq == Seq((T / 1000, 1.0), (T / 1000 + 1, 3.0)))
  }

  test("sub-second buckets at second resolution collapse to the LAST sample") {
    // reference dps is a LinkedHashMap filled in ts order (QueryResponse.java:
    // 18,60; DataStore.java:852-854): samples colliding on one second key
    // keep the last (highest bucket_ms) one. Collisions happen WITHIN a
    // series — this fixture plants two sub-second points in the same second.
    val pts = Seq(
      s"put m ${T + 100} 1.0 h=a",
      s"put m ${T + 600} 5.0 h=a",
      s"put m ${T + 1000} 3.0 h=a").flatMap(MetricParser.parse).toDF()
    val none = TsQueryRequest(T, T + 6000, msResolution = false, Seq(
      SubQuery(aggregator = "none", metric = "m")))
    val outNone = QueryPlanner.plan(pts, none, auths = Seq.empty).head
      .select("ts_out", "value").sort("ts_out").as[(Long, Double)].collect()
    assert(outNone.toSeq == Seq((T / 1000, 5.0), (T / 1000 + 1, 3.0)),
      "raw ms points collapse per second, last value wins")
    val ds = TsQueryRequest(T, T + 6000, msResolution = false, Seq(
      SubQuery(aggregator = "sum", metric = "m", downsample = Some("500ms-max"))))
    val outDs = QueryPlanner.plan(pts, ds, auths = Seq.empty).head
      .select("ts_out", "value").sort("ts_out").as[(Long, Double)].collect()
    assert(outDs.toSeq == Seq((T / 1000, 5.0), (T / 1000 + 1, 3.0)),
      "two 500ms buckets collapse onto one second key, later bucket wins")
  }

  test("msResolution keeps millisecond keys") {
    val req = TsQueryRequest(T, T + 6000, msResolution = true, Seq(
      SubQuery(aggregator = "sum", metric = "sys.cpu.idle",
        downsample = Some("1s-max"), tags = Map("tag3" -> "value3"))))
    val out = QueryPlanner.plan(fixture, req, auths = Seq.empty).head
      .select("ts_out").sort("ts_out").as[Long].collect()
    assert(out.toSeq == Seq(T, T + 1000))
  }

  test("wildcard and regex tag values") {
    val req = TsQueryRequest(T, T + 6000, msResolution = false, Seq(
      SubQuery(aggregator = "sum", metric = "sys.cpu.user",
        downsample = Some("1s-max"), tags = Map("tag3" -> "*")),
      SubQuery(aggregator = "sum", metric = "sys.cpu.user",
        downsample = Some("1s-max"), tags = Map("tag3" -> "val.*3"))))
    val Seq(wild, regex) = QueryPlanner.plan(fixture, req, auths = Seq.empty)
    assert(wild.count() == 1)  // only the point carrying tag3
    assert(regex.count() == 1)
  }

  test("queried-tag grouping and aggregatedTags in the response JSON") {
    val req = TsQueryRequest(T, T + 6000, msResolution = false, Seq(
      SubQuery(aggregator = "sum", metric = "sys.cpu.idle",
        downsample = Some("1s-max"), tags = Map("tag3" -> "value3"))))
    val json = QueryAnswer(fixture, req, Seq.empty)
    assert(json.contains(""""metric":"sys.cpu.idle""""))
    assert(json.contains(""""tags":{"tag3":"value3"}"""))
    // the reference serializes the FIELD name aggregatedTags (with the d,
    // QueryResponse.java:12,17) — a deliberate divergence from OpenTSDB's
    // aggregateTags that wire parity must reproduce
    assert(json.contains(""""aggregatedTags":["tag4"]"""))
    assert(json.contains(s""""${T / 1000}":1.0"""))
  }

  test("streamed response assembly is byte-identical to the collected form; no driver collect, partitioned sort") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // the pre-round-7 collected reference assembly, kept here as the equality
    // oracle for the streaming writer
    def collected(planned: DataFrame): String = {
      import org.apache.spark.sql.functions._
      val rows = planned
        .select(col("metric"), col("group_tags"), col("aggregated_tags"), col("ts_out"), col("value"))
        .collect()
      val grouped = rows.groupBy(r => (r.getString(0), r.getMap[String, String](1).toMap))
      val objs: List[JValue] = grouped.toList
        .sortBy { case ((m, tags), _) => (m, tags.toSeq.sorted.mkString(",")) }
        .map { case ((metric, tags), rs) =>
          val aggTags = rs.head.getSeq[String](2).toList.sorted
          val dps = rs.sortBy(_.getLong(3)).map { r =>
            JField(r.getLong(3).toString, JDouble(r.getDouble(4)))
          }.toList
          JObject(
            "metric" -> JString(metric),
            "tags" -> JObject(tags.toList.sorted.map { case (k, v) => JField(k, JString(v)) }),
            "aggregatedTags" -> JArray(aggTags.map(JString(_))),
            "dps" -> JObject(dps))
        }
      JsonMethods.compact(JsonMethods.render(JArray(objs)))
    }
    // aggregator:none = the unbounded-response shape (one row per sample,
    // several series); a multi-series sum exercises group boundaries
    val reqs = Seq(
      TsQueryRequest(T, T + 6000, msResolution = true, Seq(
        SubQuery(aggregator = "none", metric = "sys.cpu.user"))),
      TsQueryRequest(T, T + 6000, msResolution = false, Seq(
        SubQuery(aggregator = "sum", metric = "sys.cpu.idle",
          downsample = Some("1s-max"), tags = Map("tag3" -> "value3")),
        SubQuery(aggregator = "none", metric = "sys.cpu.idle"))))
    for (req <- reqs) {
      val dfs = QueryPlanner.plan(fixture, req, Seq.empty)
      val perFrame = dfs.map(collected).map(_.stripPrefix("[").stripSuffix("]"))
        .filter(_.nonEmpty).mkString("[", ",", "]")
      // the one query entry and the spliced multi-frame writer agree with
      // per-frame assembly
      assert(QueryAnswer(fixture, req, Seq.empty) == perFrame)
      val sw = new java.io.StringWriter()
      QueryJson.writeResponses(dfs, sw)
      assert(sw.toString == perFrame)
    }
    // scale guard for aggregator:none: the assembly input plans a RANGE-
    // partitioned (multi-partition-capable) sort — toLocalIterator then holds
    // one partition at a time on the driver, never the whole result
    import org.apache.spark.sql.functions._
    val planned = QueryPlanner.plan(fixture, reqs.head, Seq.empty).head
      .select(col("metric"), col("group_tags"), col("aggregated_tags"), col("ts_out"), col("value"))
      .withColumn("_sk", lit("x"))
      .orderBy(col("metric"), col("_sk"), col("ts_out"))
    val planStr = planned.queryExecution.executedPlan.toString
    assert(planStr.contains("rangepartitioning"),
      s"response assembly sort is not range-partitioned:\n$planStr")
  }

  test("sort-key collision between distinct tag maps still yields one object per series") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // {a: "b,c"} and {"a,b": "c"} both render the sort key "(a,b,c)";
    // interleaved timestamps must NOT split series objects (the entries
    // array is the secondary sort key)
    val rows = Seq(
      ("m", Map("a" -> "b,c"), Seq.empty[String], T, 1.0),
      ("m", Map("a,b" -> "c"), Seq.empty[String], T + 1, 2.0),
      ("m", Map("a" -> "b,c"), Seq.empty[String], T + 2, 3.0))
      .toDF("metric", "group_tags", "aggregated_tags", "ts_out", "value")
    val sw = new java.io.StringWriter()
    val n = QueryJson.writeResponses(Seq(rows), sw)
    assert(n == 2, s"expected one object per distinct map:\n${sw.toString}")
    val arr = JsonMethods.parse(sw.toString).asInstanceOf[JArray].arr
    assert(arr.length == 2)
    assert(arr.map(o => (o \ "dps").asInstanceOf[JObject].obj.length).sorted == List(1, 2))
  }

  test("request JSON parsing (POST body shape)") {
    val req = QueryJson.parseRequest(
      s"""{"start": $T, "end": ${T + 6000}, "msResolution": false,
         |  "queries": [{"aggregator": "sum", "metric": "sys.cpu.idle",
         |    "rate": true,
         |    "rateOptions": {"counter": false, "counterMax": 0, "resetValue": 0, "interval": "1m"},
         |    "downsample": "1s-max", "tags": {"tag3": "value3"}}]}""".stripMargin)
    assert(req.start == T && req.end == T + 6000 && !req.msResolution)
    val q = req.queries.head
    assert(q.aggregator == "sum" && q.metric == "sys.cpu.idle" && q.rate)
    assert(q.rateOptions.interval.contains("1m"))
    assert(q.downsample.contains("1s-max") && q.tags == Map("tag3" -> "value3"))
  }

  test("filters/tsuids parse faithfully and are accepted-and-ignored in planning") {
    // reference behavior: QueryRequest parses both (QueryRequest.java:227-228,
    // 282-283) but DataStore never reads them — tags alone drive the scan
    val req = QueryJson.parseRequest(
      s"""{"start": $T, "end": ${T + 6000}, "queries": [
         |  {"aggregator": "sum", "metric": "sys.cpu.idle",
         |   "tags": {"tag3": "value3"},
         |   "filters": [{"type": "literal_or", "tagk": "tag4", "filter": "value4", "groupBy": true}],
         |   "tsuids": ["000001000001000001", "000001000001000002"]}]}""".stripMargin)
    val q = req.queries.head
    assert(q.filters == Seq(FilterClause("literal_or", "tag4", "value4", groupBy = true)))
    assert(q.tsuids == Seq("000001000001000001", "000001000001000002"))
    val planned = QueryPlanner.plan(fixture, req, auths = Seq.empty).head
      .select("ts_out", "value").sort("ts_out").as[(Long, Double)].collect()
    val bare = QueryPlanner.plan(fixture,
      req.copy(queries = Seq(q.copy(filters = Nil, tsuids = Nil))), auths = Seq.empty).head
      .select("ts_out", "value").sort("ts_out").as[(Long, Double)].collect()
    assert(planned.toSeq == bare.toSeq, "filters/tsuids must not change the plan's answer")
  }

  test("visibility is enforced in the plan") {
    val withViz = fixture.withColumn("viz",
      org.apache.spark.sql.functions.lit("SECRET"))
    val req = TsQueryRequest(T, T + 6000, msResolution = false, Seq(
      SubQuery(aggregator = "sum", metric = "sys.cpu.idle", downsample = Some("1s-max"))))
    assert(QueryPlanner.plan(withViz, req, auths = Seq.empty).head.count() == 0)
    assert(QueryPlanner.plan(withViz, req, auths = Seq("SECRET")).head.count() == 2)
  }

  test("duration parsing") {
    assert(durationMs("500ms") == 500L)
    assert(durationMs("30s") == 30000L)
    assert(durationMs("1m") == 60000L)
    assert(durationMs("2h") == 7200000L)
    assert(durationMs("1d") == 86400000L)
    intercept[IllegalArgumentException](durationMs("7w"))
  }
}
