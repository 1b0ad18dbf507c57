package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.{MetricParser, MetricPoint}
import graft.planner.QueryAnswer
import graft.planner.QueryPlanner.{SubQuery, TsQueryRequest}

/** Hot/cold range-split serving (reference cache-probe semantics). */
class HotColdPointsSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val T = 1704067200000L

  test("union splits at the boundary with no double counting; queries see full data") {
    val all = (0 until 10).map(i =>
      MetricPoint("m", T + i * 1000L, i.toDouble, Map("h" -> "a"), None)).toDF()
    val boundary = T + 6000L
    val hot = HotColdPoints.hotWindow(all, boundary)
    // cold tier deliberately contains EVERYTHING (like a full table on disk):
    // the split must still not double count
    val served = HotColdPoints.union(all, hot, boundary)
    assert(served.count() == 10)
    assert(HotColdPoints.oldestHotTs(hot).contains(boundary))
    // a query through the one entry over the tiered frame equals the plain one
    val req = TsQueryRequest(T, T + 60000, msResolution = true,
      Seq(SubQuery("sum", "m", downsample = Some("10s-sum"))))
    val tiered = QueryAnswer(served, req, Seq.empty)
    val plain = QueryAnswer(all, req, Seq.empty)
    assert(tiered == plain && tiered.contains("\"dps\""))
  }

  test("multi-subquery query concatenates response arrays") {
    val pts = Seq(
      s"put a $T 1.0 h=x",
      s"put b ${T + 1} 2.0 h=x").flatMap(MetricParser.parse).toDF()
    val req = TsQueryRequest(T, T + 60000, msResolution = true, Seq(
      SubQuery("sum", "a", downsample = Some("1s-avg")),
      SubQuery("sum", "b", downsample = Some("1s-avg"))))
    val json = QueryAnswer(pts, req, Seq.empty)
    assert(json.contains("\"metric\":\"a\"") && json.contains("\"metric\":\"b\""))
    assert(json.startsWith("[") && json.endsWith("]"))
  }
}
