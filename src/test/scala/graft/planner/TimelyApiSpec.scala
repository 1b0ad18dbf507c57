package graft.planner

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.Catalog

/** Catalog endpoints: suggest/lookup/aggregators over a meta frame. */
class TimelyApiSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private lazy val meta = Seq(
    ("sys.cpu.user", "host", "web01"), ("sys.cpu.user", "host", "web02"),
    ("sys.cpu.user", "rack", "r1"), ("sys.cpu.idle", "host", "web01"),
    ("net.bytes", "iface", "eth0")).toDF("metric", "tagk", "tagv")

  test("suggest: metrics substring, tagk/tagv scoping, limit") {
    val cat = Catalog.collect(meta)
    assert(TimelyApi.suggest(cat, "metrics", "cpu", None, 25) ==
      Seq("sys.cpu.idle", "sys.cpu.user"))
    assert(TimelyApi.suggest(cat, "metrics", "cpu", None, 1) ==
      Seq("sys.cpu.idle"))
    assert(TimelyApi.suggest(cat, "tagk", "sys.cpu.user", None, 25) ==
      Seq("host", "rack"))
    // tagv scopes by BOTH metric and tag key (DataStore.java:558-573) — and
    // a missing scope answers empty suggestions, not an error
    assert(TimelyApi.suggest(cat, "tagv", "sys.cpu.user", Some("host"), 25) ==
      Seq("web01", "web02"))
    assert(TimelyApi.suggest(cat, "tagv", "sys.cpu.idle", Some("host"), 25) ==
      Seq("web01"))
    assert(TimelyApi.suggest(cat, "tagv", "sys.cpu.user", None, 25).isEmpty)
    intercept[IllegalArgumentException](TimelyApi.suggest(cat, "bogus", "x", None, 25))
  }

  test("catalog answers order strings as Spark's orderBy does (UTF-8 bytes, not UTF-16)") {
    // U+FB01 sorts before U+1F600 in UTF-8 but after its surrogate pair in UTF-16
    val names = Seq("m.\uD83D\uDE00", "m.\uFB01", "m.z", "m.A")
    val frame = names.map(m => (m, "host", "a")).toDF("metric", "tagk", "tagv")
    val sparkOrder = frame.select("metric").orderBy("metric").as[String].collect().toSeq
    assert(sparkOrder.head == "m.A" && sparkOrder.last == "m.\uD83D\uDE00")
    assert(TimelyApi.suggest(Catalog.collect(frame), "metrics", "m.", None, 25) == sparkOrder)
  }

  test("a catalog extended with ++ answers as one collected from all its triples") {
    val more = Seq(("sys.cpu.user", "host", "web00"), ("sys.cpu.user", "host", "web01"),
      ("sys", "k", "v"), ("sys.cpu.user", "a", "\uD83D\uDE00"), ("sys.cpu.user", "a", "\uFB01"))
    val extended = Catalog.collect(meta) ++ more
    val whole = Catalog.collect(meta.union(more.toDF("metric", "tagk", "tagv")))
    assert(extended.triples == whole.triples)
    assert(extended.byMetric == whole.byMetric)
    assert(extended.sorted == whole.sorted)
    assert(whole.sorted == whole.sorted.sorted(
      Ordering.Tuple3(Catalog.StringOrder, Catalog.StringOrder, Catalog.StringOrder)))
    assert(TimelyApi.suggest(extended, "metrics", "sys", None, 25) ==
      Seq("sys", "sys.cpu.idle", "sys.cpu.user"))
    assert(TimelyApi.suggest(extended, "tagv", "sys.cpu.user", Some("a"), 25) ==
      Seq("\uFB01", "\uD83D\uDE00"))
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
    assert(TimelyApi.metricsJson(Catalog.collect(meta), Set("rack"), TimelyApi.MetricsMaxRows) ==
      """{"metrics":[""" +
      """{"metric":"net.bytes","tags":[{"key":"iface","value":"eth0"}]},""" +
      """{"metric":"sys.cpu.idle","tags":[{"key":"host","value":"web01"}]},""" +
      """{"metric":"sys.cpu.user","tags":[""" +
      """{"key":"host","value":"web01"},{"key":"host","value":"web02"}]}]}""")
  }

  test("metrics report collect is hard-capped (pathological tag cardinality)") {
    // cap 2: the report becomes the sorted 2-row catalog prefix — the
    // driver-side collect is bounded no matter the tag cardinality
    assert(TimelyApi.metricsJson(Catalog.collect(meta), Set.empty, 2) ==
      """{"metrics":[""" +
      """{"metric":"net.bytes","tags":[{"key":"iface","value":"eth0"}]},""" +
      """{"metric":"sys.cpu.idle","tags":[{"key":"host","value":"web01"}]}]}""")
  }

  test("aggregators list matches the reference set") {
    assert(QueryPlanner.Aggregators == Seq("avg", "dev", "max", "min", "sum", "count", "none"))
    assert(TimelyApi.aggregatorsJson == """["avg","dev","max","min","sum","count","none"]""")
  }
}
