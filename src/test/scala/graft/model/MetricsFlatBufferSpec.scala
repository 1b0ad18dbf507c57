package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** Hand-rolled FlatBuffers Metrics codec: identifier detection, lossless
  * round trip, viz splitting, and the put decoder's frame path (auto-detect,
  * ts normalization, corrupt frames). */
class MetricsFlatBufferSpec extends AnyFunSuite {

  private val pts = Seq(
    MetricPoint("sys.cpu.user", 1704067200000L, 1.5, Map("host" -> "a", "rack" -> "r1"), None),
    MetricPoint("sys.cpu.idle", 1704067260000L, -2.25, Map("host" -> "b"), Some("A&B")),
    MetricPoint("m.empty.tags", 1704067320000L, 0.0, Map.empty, None),
    MetricPoint("m.weird", 1704067380000L, 3.14159, Map("k=1" -> "v,2", "u" -> ""), None))

  test("encode emits the file identifier the reference auto-detects") {
    val bytes = MetricsFlatBuffer.encode(pts)
    assert(MetricsFlatBuffer.hasIdentifier(bytes))
    assert(new String(bytes.slice(4, 8), "UTF-8") == "TMFB")
    assert(!MetricsFlatBuffer.hasIdentifier("put sys.cpu.user 1 2 h=a".getBytes("UTF-8")))
  }

  test("round trip is lossless including viz and awkward tag characters") {
    assert(MetricsFlatBuffer.decode(MetricsFlatBuffer.encode(pts)) == pts)
    assert(MetricsFlatBuffer.decode(MetricsFlatBuffer.encode(Seq.empty)).isEmpty)
  }

  test("seconds-precision timestamps normalize to ms like every ingest path") {
    val p = MetricPoint("m", 1704067200L, 1.0, Map("h" -> "a"), None) // seconds
    val back = MetricParser.frame(MetricsFlatBuffer.encode(Seq(p))).points
    assert(back.head.ts == 1704067200000L)
  }

  test("corrupt TMFB frames are dropped, never fatal (no unbounded allocation)") {
    val good = MetricsFlatBuffer.encode(pts)
    // identifier present but body is garbage with a huge offset/length word
    val garbage = Array[Byte](12, 0, 0, 0, 'T', 'M', 'F', 'B',
      0x7f.toByte, 0x7f.toByte, 0x7f.toByte, 0x7f.toByte)
    assert(MetricParser.frame(garbage).points.isEmpty)
    // truncated mid-table
    assert(MetricParser.frame(good.take(20)).points.isEmpty)
    // a length word patched to a huge positive value must throw cheaply (and
    // be refused by the frame decoder), not allocate gigabytes
    val patched = good.clone()
    patched(patched.length - 6) = 0x7f.toByte
    assert(MetricParser.frame(patched).points.size <= pts.size)
  }

  test("frame decode auto-detects: FB batch vs put-line text") {
    val fb = MetricParser.frame(MetricsFlatBuffer.encode(pts.take(2))).points
    assert(fb == pts.take(2))
    val text = "put sys.cpu.user 1704067200 1.5 host=a\nput bad line\nput m 1704067201 2 h=b"
    val parsed = MetricParser.frame(text.getBytes("UTF-8")).points
    assert(parsed.map(_.metric) == Seq("sys.cpu.user", "m")) // malformed line dropped
  }

  test("a large batch survives buffer growth") {
    val many = (0 until 5000).map(i =>
      MetricPoint(s"metric.$i", 1704067200000L + i, i * 0.5, Map("i" -> i.toString), None))
    assert(MetricsFlatBuffer.decode(MetricsFlatBuffer.encode(many)) == many)
  }
}
