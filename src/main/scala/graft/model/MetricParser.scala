package graft.model

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.json4s._

/**
 * The one put decoder: every transport's puts become [[MetricPoint]]s here
 * (the reference sends every transport through its MetricParser and
 * MetricsBufferDecoder into one DataStore.store). It reads the three put
 * wire formats:
 *   - put lines, `put <metric> <epoch> <double> k1=v1 k2=v2 ...`, which must
 *     start with "put" and carry metric, ts, value and at least one tag token
 *     (common/src/main/java/timely/model/parse/MetricParser.java:17-30); tag
 *     keys/values may escape '=' and ',' with a backslash
 *     (MetricAdapter.java:55-85, TagListParser.java:45-73);
 *   - TMFB frames, a FlatBuffers `Metrics` batch ([[MetricsFlatBuffer]]),
 *     told from put-line text by their identifier
 *     (common/src/main/java/timely/netty/tcp/MetricsBufferDecoder.java:28-52);
 *   - the reference's flattened Metric JSON,
 *     `{"name":m,"timestamp":ts,"measure":v,"tags":[{"k":"v"},…]}`
 *     (Metric.java:19, MetricRequest.java:56-60).
 * Every decoded point then passes one admission rule, [[admit]]. A line,
 * entry or frame that does not decode or is not admitted comes back refused,
 * with its reason; each transport decides what a refusal answers.
 */
object MetricParser {

  /** A put's admitted points, and one reason per refused line, entry or
    * frame. */
  final case class Decoded(points: Seq[MetricPoint], refused: Seq[String]) {

    /** One stderr line when anything was refused:
      * `[graft] <source> refused <n> point(s); first: <reason>`. */
    def reportRefused(source: String): Unit = refused.headOption.foreach { first =>
      System.err.println(s"[graft] $source refused ${refused.size} point(s); first: $first")
    }
  }

  private def decoded(results: Seq[Either[String, MetricPoint]]): Decoded = {
    val (refused, points) = results.partitionMap(identity)
    Decoded(points, refused)
  }

  /** ms vs s heuristic from Value.java:43-45: treat < 10^12 as seconds. */
  private val MsThreshold = 1000000000000L

  def normalizeTs(ts: Long): Long = if (math.abs(ts) < MsThreshold) ts * 1000L else ts

  /**
   * The admission rule of every put, whatever carried it:
   *   - the metric name is non-empty;
   *   - the reserved `viz` tag moves to the visibility slot
   *     (MetricAdapter.java:44,152-159) and at least one other tag remains,
   *     since a point without one writes no catalog row and no query could
   *     find it;
   *   - the timestamp is normalized to epoch ms ([[normalizeTs]]).
   */
  def admit(p: MetricPoint): Either[String, MetricPoint] = {
    val tags = p.tags - MetricPoint.VisibilityTag
    if (p.metric == null || p.metric.isEmpty) Left("metric name required")
    else if (tags.isEmpty) Left("at least one tag other than viz required")
    else Right(MetricPoint(p.metric, normalizeTs(p.ts), p.value, tags,
      p.tags.get(MetricPoint.VisibilityTag).orElse(p.viz)))
  }

  /** Unescape `\=` and `\,` in a tag key or value (MetricAdapter.java:55-85). */
  def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length && (s.charAt(i + 1) == '=' || s.charAt(i + 1) == ',')) {
        sb.append(s.charAt(i + 1)); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def escape(s: String): String =
    s.replace("=", "\\=").replace(",", "\\,")

  /** Split a tag token on the first unescaped '='. */
  private def splitTag(tok: String): Option[(String, String)] = {
    var i = 0
    while (i < tok.length) {
      if (tok.charAt(i) == '=' && (i == 0 || tok.charAt(i - 1) != '\\')) {
        if (i == 0) return None
        return Some((unescape(tok.substring(0, i)), unescape(tok.substring(i + 1))))
      }
      i += 1
    }
    None
  }

  /** One put line, admitted or refused (wrong opcode, < 4 tokens after
    * "put", unparseable numbers, malformed tags, or the admission rule). */
  def parseLine(line: String): Either[String, MetricPoint] = {
    val toks = line.trim.split("\\s+")
    def unparseable = Left(s"unparseable put line: $line")
    // "put" + metric + ts + value + >=1 tag  (MetricParser.java:22-29)
    if (toks.length < 5 || toks(0) != "put") return unparseable
    // viz goes to its slot here, so the tag map is built once in line order
    // and admit's removal of viz leaves it as it is
    var viz: Option[String] = None
    val tags = Map.newBuilder[String, String]
    var i = 4
    while (i < toks.length) {
      splitTag(toks(i)) match {
        case Some((k, v)) =>
          if (k == MetricPoint.VisibilityTag) viz = Some(v) else tags += (k -> v)
        case None => return unparseable
      }
      i += 1
    }
    val point =
      try MetricPoint(toks(1), toks(2).toLong, toks(3).toDouble, tags.result(), viz)
      catch { case _: NumberFormatException => return unparseable }
    admit(point).left.map(why => s"$why: $line")
  }

  /** [[parseLine]], the refusal dropped. */
  def parse(line: String): Option[MetricPoint] = parseLine(line).toOption

  /** Newline-separated put lines; a blank line is not a put and is skipped. */
  def lines(ls: IterableOnce[String]): Decoded =
    decoded(ls.iterator.filter(_.trim.nonEmpty).map(parseLine).toSeq)

  /** One ingest frame: a TMFB batch when it carries the identifier, each
    * entry admitted on its own, and put-line text otherwise. A corrupt TMFB
    * frame is one refusal, since its entries cannot be told apart. */
  def frame(bytes: Array[Byte]): Decoded =
    if (MetricsFlatBuffer.hasIdentifier(bytes)) {
      val entries =
        try MetricsFlatBuffer.decode(bytes)
        catch { case NonFatal(e) => return Decoded(Nil, Seq(s"corrupt TMFB frame: $e")) }
      decoded(entries.zipWithIndex.map { case (p, i) =>
        admit(p).left.map(why => s"$why: TMFB entry $i")
      })
    } else lines(new String(bytes, UTF_8).linesIterator)

  /** One point in the reference's flattened Metric JSON. */
  def metricJson(jv: JValue): Decoded = {
    def field[A](name: String, what: String)(read: PartialFunction[JValue, A]) =
      read.lift(jv \ name).toRight(s"$what required")
    val tags = jv \ "tags" match {
      case JArray(ts) => ts.flatMap {
        case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }
        case _ => Nil
      }.toMap
      case _ => Map.empty[String, String]
    }
    decoded(Seq(for {
      name <- field("name", "metric name") { case JString(s) => s }
      ts <- field("timestamp", "timestamp") { case JInt(i) => i.toLong; case JLong(l) => l }
      measure <- field("measure", "measure") {
        case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
      }
      p <- admit(MetricPoint(name, ts, measure, tags, None))
    } yield p))
  }

  /** Render a point back to the wire format (for sinks / round-trip tests). */
  def format(p: MetricPoint): String = {
    val tagStr = (p.tags.toSeq.sortBy(_._1).map { case (k, v) => s"${escape(k)}=${escape(v)}" } ++
      p.viz.map(v => s"viz=${escape(v)}")).mkString(" ")
    val v = if (p.value == p.value.toLong.toDouble) p.value.toLong.toString else p.value.toString
    s"put ${p.metric} ${p.ts} $v $tagStr"
  }
}
