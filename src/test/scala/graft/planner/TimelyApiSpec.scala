package graft.planner

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Catalog endpoints: suggest/lookup/aggregators over a meta frame. */
class TimelyApiSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private lazy val meta = Seq(
    ("sys.cpu.user", "host", "web01"), ("sys.cpu.user", "host", "web02"),
    ("sys.cpu.user", "rack", "r1"), ("sys.cpu.idle", "host", "web01"),
    ("net.bytes", "iface", "eth0")).toDF("metric", "tagk", "tagv")

  test("suggest: metrics substring, tagk/tagv scoping, limit") {
    assert(TimelyApi.suggest(meta, "metrics", "cpu").as[String].collect().toSeq ==
      Seq("sys.cpu.idle", "sys.cpu.user"))
    assert(TimelyApi.suggest(meta, "metrics", "cpu", max = 1).as[String].collect().toSeq ==
      Seq("sys.cpu.idle"))
    assert(TimelyApi.suggest(meta, "tagk", "sys.cpu.user").as[String].collect().toSeq ==
      Seq("host", "rack"))
    // tagv scopes by BOTH metric and tag key (DataStore.java:558-573) — and
    // a missing scope answers empty suggestions, not an error
    assert(TimelyApi.suggest(meta, "tagv", "sys.cpu.user", Some("host")).as[String].collect().toSeq ==
      Seq("web01", "web02"))
    assert(TimelyApi.suggest(meta, "tagv", "sys.cpu.idle", Some("host")).as[String].collect().toSeq ==
      Seq("web01"))
    assert(TimelyApi.suggest(meta, "tagv", "sys.cpu.user").as[String].collect().isEmpty)
    intercept[IllegalArgumentException](TimelyApi.suggest(meta, "bogus", "x"))
  }

  test("suggest JSON is a bare array (SuggestResponse serializer shape)") {
    assert(TimelyApi.suggestJson(meta, "metrics", "cpu") ==
      """["sys.cpu.idle","sys.cpu.user"]""")
    assert(TimelyApi.suggestJson(meta, "tagv", "sys.cpu.user", Some("host"), max = 1) == """["web01"]""")
    assert(TimelyApi.suggestJson(meta, "metrics", "nosuch") == "[]")
  }

  test("lookup JSON matches the SearchLookupResponse envelope exactly") {
    // field order per @JsonPropertyOrder(SearchLookupResponse.java:13); result
    // rows carry null metric/tsuid like the reference's default serializer
    assert(TimelyApi.lookupJson(meta, "sys.cpu.user", Map("host" -> "web.*")) ==
      """{"type":"LOOKUP","metric":"sys.cpu.user","tags":{"host":"web.*"},""" +
      """"limit":25,"time":0,"totalResults":2,"results":[""" +
      """{"tags":{"host":"web01"},"metric":null,"tsuid":null},""" +
      """{"tags":{"host":"web02"},"metric":null,"tsuid":null}]}""")
    // limit caps results but totalResults counts all matches
    assert(TimelyApi.lookupJson(meta, "sys.cpu.user", Map("host" -> "web.*", "rack" -> "r\\d"), limit = 1) ==
      """{"type":"LOOKUP","metric":"sys.cpu.user","tags":{"host":"web.*","rack":"r\\d"},""" +
      """"limit":1,"time":0,"totalResults":3,"results":[""" +
      """{"tags":{"host":"web01"},"metric":null,"tsuid":null}]}""")
    // full-match semantics: "web" alone must NOT match web01 (Matcher.matches)
    assert(TimelyApi.lookupJson(meta, "sys.cpu.user", Map("host" -> "web")) ==
      """{"type":"LOOKUP","metric":"sys.cpu.user","tags":{"host":"web"},""" +
      """"limit":25,"time":0,"totalResults":0,"results":[]}""")
  }

  test("metrics report JSON matches the MetricsResponse shape, ignoring configured tags") {
    assert(TimelyApi.metricsJson(meta, ignoredTags = Set("rack")) ==
      """{"metrics":[""" +
      """{"metric":"net.bytes","tags":[{"key":"iface","value":"eth0"}]},""" +
      """{"metric":"sys.cpu.idle","tags":[{"key":"host","value":"web01"}]},""" +
      """{"metric":"sys.cpu.user","tags":[""" +
      """{"key":"host","value":"web01"},{"key":"host","value":"web02"}]}]}""")
  }

  test("metrics report collect is hard-capped (pathological tag cardinality)") {
    // cap 2: the report becomes the sorted 2-row catalog prefix — the
    // driver-side collect is bounded no matter the tag cardinality
    assert(TimelyApi.metricsJson(meta, maxRows = 2) ==
      """{"metrics":[""" +
      """{"metric":"net.bytes","tags":[{"key":"iface","value":"eth0"}]},""" +
      """{"metric":"sys.cpu.idle","tags":[{"key":"host","value":"web01"}]}]}""")
  }

  test("aggregators list matches the reference set") {
    assert(TimelyApi.Aggregators == Seq("avg", "dev", "max", "min", "sum", "count", "none"))
    assert(TimelyApi.aggregatorsJson == """["avg","dev","max","min","sum","count","none"]""")
  }
}
