package graft.model

import org.scalatest.funsuite.AnyFunSuite

/**
 * Parser semantics pinned to the reference (MetricParser.java:17-30,
 * Value.java:43-45, MetricAdapter.java:55-85, TagListParser.java:45-73).
 */
class MetricParserSpec extends AnyFunSuite {

  test("basic put line") {
    val p = MetricParser.parse("put sys.cpu.user 1447767913681 1.0 tag1=value1 tag2=value2").get
    assert(p.metric == "sys.cpu.user")
    assert(p.ts == 1447767913681L)
    assert(p.value == 1.0)
    assert(p.tags == Map("tag1" -> "value1", "tag2" -> "value2"))
    assert(p.viz.isEmpty)
  }

  test("seconds-precision timestamps are normalized to millis") {
    // Value.java:43-45: < 10^12 treated as seconds
    assert(MetricParser.parse("put m 1447767913 2.5 k=v").get.ts == 1447767913000L)
    assert(MetricParser.parse("put m 1447767913681 2.5 k=v").get.ts == 1447767913681L)
  }

  test("viz tag is stripped into its own field") {
    val p = MetricParser.parse("put m 1447767913681 1.0 k=v viz=A&B").get
    assert(p.tags == Map("k" -> "v"))
    assert(p.viz.contains("A&B"))
  }

  test("requires put opcode, >=1 tag, numeric fields") {
    assert(MetricParser.parse("get m 1 1.0 k=v").isEmpty)
    assert(MetricParser.parse("put m 1 1.0").isEmpty)        // no tags (4-token rule)
    assert(MetricParser.parse("put m notanum 1.0 k=v").isEmpty)
    assert(MetricParser.parse("put m 1 notanum k=v").isEmpty)
    assert(MetricParser.parse("put m 1 1.0 malformedtag").isEmpty)
  }

  test("one admission rule for put lines, TMFB entries and Metric JSON") {
    import org.json4s.jackson.JsonMethods.parse
    // a name, a tag other than viz, a seconds timestamp scaled to ms
    val ok = MetricPoint("m", 1447767913000L, 1.0, Map("k" -> "v"), Some("A"))
    assert(MetricParser.parseLine("put m 1447767913 1.0 k=v viz=A") == Right(ok))
    assert(MetricParser.frame(MetricsFlatBuffer.encode(Seq(ok.copy(ts = 1447767913L))))
      == MetricParser.Decoded(Seq(ok), Nil))
    assert(MetricParser.metricJson(parse("""{"name":"m","timestamp":1447767913,""" +
      """"measure":1.0,"tags":[{"k":"v"},{"viz":"A"}]}""")) == MetricParser.Decoded(Seq(ok), Nil))
    // refused on every format: only a viz tag, no tags, no name
    assert(MetricParser.parseLine("put m 1447767913 1.0 viz=A").isLeft)
    val refused = MetricParser.frame(MetricsFlatBuffer.encode(Seq(
      ok.copy(tags = Map.empty), ok.copy(tags = Map.empty, viz = None), ok.copy(metric = ""))))
    assert(refused.points.isEmpty && refused.refused.size == 3, refused)
    assert(MetricParser.metricJson(parse(
      """{"name":"","timestamp":1,"measure":1.0,"tags":[{"k":"v"}]}""")).refused ==
      Seq("metric name required"))
  }

  test("escaped = and , in tag keys/values") {
    val p = MetricParser.parse("""put m 1447767913681 1.0 a\=b=c\,d""").get
    assert(p.tags == Map("a=b" -> "c,d"))
  }

  test("format/parse round trip") {
    val p = MetricPoint("sys.cpu.user", 1447767913681L, 1.25,
      Map("host" -> "h1", "rack" -> "r2"), Some("(A|B)"))
    assert(MetricParser.parse(MetricParser.format(p)).get == p)
  }
}
