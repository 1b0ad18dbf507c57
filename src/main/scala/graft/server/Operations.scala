package graft.server

import java.io.Writer

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.model.MetricParser
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
 * before a transport has written a byte. A client error is an
 * `IllegalArgumentException`: a request document that is not JSON, a bad
 * field, or a put that the one put decoder ([[MetricParser]], shared with
 * the TCP/UDP listeners and the streaming ingest) refuses. A transport only
 * frames: it maps its request to a name and fields, and the answer to a
 * response.
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
    // a put is newline-separated put lines (the TCP wire format, which the
    // reference's own ITs seed with — ITBase.java:183-198), or one point in
    // the flattened Metric JSON: the whole HTTP body (MetricRequest.java:
    // 56-60) or a WS frame's `metric` field (WSMetricPutHandler.java:17-19).
    // One refused line or field refuses the request, and nothing is stored.
    "put" -> op { (f, _) =>
      val put = f match {
        case Params(_) => throw new IllegalArgumentException("put needs a body")
        case b: Body if b.text.startsWith("put ") || b.text.startsWith("put\t") =>
          MetricParser.lines(b.text.linesIterator)
        case b: Body => MetricParser.metricJson(b.json \ "metric" match {
          case m: JObject => m
          case _ => b.json
        })
      }
      put.refused.headOption.foreach(why => throw new IllegalArgumentException(why))
      PointStore.append(spark, put.points, dataDir, metaDir)
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
    lazy val json: JValue = QueryJson.parseDocument(text)

    def str(name: String): Option[String] = json \ name match {
      case JString(s) => Some(s)
      case JInt(i) => Some(i.toString)
      case JLong(l) => Some(l.toString)
      case _ => None
    }
  }

  /** One stderr line for a failure no client is told the cause of. */
  def reportFailure(what: String, e: Throwable): Unit =
    System.err.println(s"[graft] $what failed: $e")
}
