package graft.server

import java.io.Writer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.{MetricParser, MetricPoint}
import graft.planner.{QueryJson, TimelyApi}
import graft.sources.PointStore

/**
 * The operations HTTP and WebSocket both serve, in one table keyed by the
 * WebSocket operation name (the reference's `@WebSocket(operation=…)`
 * names; its HTTP handlers serve the same requests —
 * Server.java:520-527,579-585). Each entry is the one path of its
 * operation: it reads the request's [[Operations.Fields]], makes the
 * [[TimelyApi]] / [[PointStore]] call over the store entry's points
 * relation and in-memory catalog ([[PointStore.points]] /
 * [[PointStore.catalog]]), and returns the [[Operations.Answer]] that
 * writes the response body. Parsing, the query's meta check and planning
 * all run before the answer is returned, so a client error is thrown
 * before a transport has written a byte. A transport only frames: it maps
 * its request to a name and fields, and the answer to a response.
 */
private[server] final class Operations(spark: SparkSession, dataDir: String, metaDir: String) {
  import Operations._

  private def points = PointStore.points(spark, dataDir)

  private def catalog = PointStore.catalog(spark, metaDir)

  /** Operation name -> its run over the request's fields and the caller's
    * authorizations. */
  val table: Map[String, Op] = Map(
    "version" -> op((_, _) => text(TimelyApi.Version)),
    "aggregators" -> op((_, _) => text(TimelyApi.aggregatorsJson)),
    "metrics" -> op((_, _) =>
      text(TimelyApi.metricsJson(catalog, Set.empty, TimelyApi.MetricsMaxRows))),
    "suggest" -> op((f, _) => text(TimelyApi.suggestJson(catalog,
      f.str("type").getOrElse("metrics"), f.str("q").orElse(f.str("m")).getOrElse(""),
      tagKey = f.str("tagk"), max = f.int("max").getOrElse(25)))),
    "lookup" -> op { (f, _) =>
      val (metric, tags) = TimelyApi.parseLookupQuery(f.str("q").orElse(f.str("query"))
        .getOrElse(throw new IllegalArgumentException("query required")))
      text(TimelyApi.lookupJson(catalog, metric, tags, f.int("limit").getOrElse(25), 0))
    },
    "query" -> op { (f, auths) =>
      val req = f match {
        case Params(p) => QueryJson.parseGetQuery(p)
        case b: Body => QueryJson.parseRequest(b.text)
      }
      val frames = TimelyApi.planQuery(points, req, auths, Some(catalog))
      QueryJson.writeResponses(frames, _)
    },
    // the reference's CacheResponse, viz-filtered per caller
    "cache" -> op((_, auths) => text(TimelyApi.cacheJson(points, auths))),
    "put" -> op { (f, _) =>
      PointStore.append(spark, putBatch(f), dataDir, metaDir)
      _ => ()
    })
}

private[server] object Operations {

  /** Writes an operation's response body. */
  type Answer = Writer => Unit

  type Op = (Fields, Seq[String]) => Answer

  private def op(run: Op): Op = run

  private def text(s: String): Answer = _.write(s)

  /** A request's fields, read the same way whatever carried them. */
  sealed trait Fields {
    /** A scalar field as text; a JSON number reads as its digits. */
    def str(name: String): Option[String]

    def int(name: String): Option[Int] = str(name).flatMap(_.toIntOption)

    def long(name: String): Option[Long] = str(name).flatMap(_.toLongOption)
  }

  /** URL parameters: an HTTP request without a body. */
  final case class Params(params: Map[String, Seq[String]]) extends Fields {
    def str(name: String): Option[String] = params.get(name).flatMap(_.headOption)
  }

  /** A request document: an HTTP POST body or a WebSocket text frame. */
  final case class Body(text: String) extends Fields {
    lazy val json: JValue = JsonMethods.parse(text)

    def str(name: String): Option[String] = json \ name match {
      case JString(s) => Some(s)
      case JInt(i) => Some(i.toString)
      case JLong(l) => Some(l.toString)
      case _ => None
    }
  }

  /** A put's points: newline-separated put lines (the TCP wire format, which
    * the reference's own ITs seed with — ITBase.java:183-198), or one point
    * in the reference's flattened Metric JSON, the whole HTTP body
    * (MetricRequest.java:56-60) or a WS frame's `metric` field
    * (WSMetricPutHandler.java:17-19). */
  private def putBatch(f: Fields): Seq[MetricPoint] = f match {
    case Params(_) => throw new IllegalArgumentException("put needs a body")
    case b: Body if b.text.startsWith("put ") || b.text.startsWith("put\t") =>
      b.text.linesIterator.filter(_.trim.nonEmpty).map { l =>
        MetricParser.parse(l)
          .getOrElse(throw new IllegalArgumentException(s"unparseable put line: $l"))
      }.toSeq
    case b: Body => Seq(metric(b.json \ "metric" match {
      case m: JObject => m
      case _ => b.json
    }))
  }

  /** `{"name":m,"timestamp":ms,"measure":v,"tags":[{"k":"v"},…]}`
    * (Metric.java:19) -> [[MetricPoint]]; the `viz` tag moves to the
    * visibility slot like every other ingest path (MetricAdapter.java:44). */
  private def metric(jv: JValue): MetricPoint = {
    val name = jv \ "name" match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException("metric name required")
    }
    val ts = jv \ "timestamp" match {
      case JInt(i) => i.toLong; case JLong(l) => l
      case _ => throw new IllegalArgumentException("timestamp required")
    }
    val measure = jv \ "measure" match {
      case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
      case _ => throw new IllegalArgumentException("measure required")
    }
    val tags = jv \ "tags" match {
      case JArray(ts) => ts.flatMap {
        case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }
        case _ => Nil
      }.toMap
      case _ => Map.empty[String, String]
    }
    // line-protocol parity: MetricParser requires >= 1 tag, and a tag-less
    // point would write no meta rows — permanently unqueryable data (every
    // query 400s on "No matching tags"). Reject at the door instead.
    if ((tags - MetricPoint.VisibilityTag).isEmpty)
      throw new IllegalArgumentException("at least one tag required")
    MetricPoint(name, ts, measure,
      tags - MetricPoint.VisibilityTag, tags.get(MetricPoint.VisibilityTag))
  }

  /** One stderr line for a failure no client is told the cause of. */
  def reportFailure(what: String, e: Throwable): Unit =
    System.err.println(s"[graft] $what failed: $e")
}
