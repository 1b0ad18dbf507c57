package graft.planner

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.planner.QueryPlanner._

/**
 * JSON codec for the OpenTSDB-compatible API: request parsing mirroring
 * `QueryRequest` (reference common/src/main/java/timely/api/request/
 * timeseries/QueryRequest.java:219-380) and response assembly mirroring
 * `QueryResponse{metric, tags, aggregatedTags, dps}` (server/src/main/java/
 * timely/api/response/timeseries/QueryResponse.java:1-40). A parsed request
 * is answered by [[TimelyApi.query]], which writes through [[writeResponses]].
 *
 * Uses the json4s shipped with Spark — no extra dependency.
 */
object QueryJson {

  private implicit val formats: Formats = DefaultFormats

  /** A request document; text that is not JSON is the client's error. */
  def parseDocument(text: String): JValue =
    try JsonMethods.parse(text)
    catch { case NonFatal(e) => throw new IllegalArgumentException("unparseable request", e) }

  /** A request's `tags` object, tag key -> value; a value that is not a
    * string is skipped. A subquery and a subscription's `add` read their
    * tags here. */
  def parseTags(jv: JValue): Map[String, String] = jv match {
    case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  def parseRequest(json: String): TsQueryRequest = {
    val jv = parseDocument(json)
    def str(j: JValue): Option[String] = j match {
      case JString(s) => Some(s); case _ => None
    }
    def lng(j: JValue): Option[Long] = j match {
      case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
      case JDouble(d) => Some(d.toLong); case JString(s) => s.toLongOption
      case _ => None
    }
    def bool(j: JValue): Boolean = j match {
      case JBool(b) => b; case JString("true") => true; case _ => false
    }
    val queries = (jv \ "queries") match {
      case JArray(qs) => qs.map { q =>
        val ro = q \ "rateOptions"
        SubQuery(
          aggregator = str(q \ "aggregator").getOrElse("none"),
          metric = str(q \ "metric").getOrElse(throw new IllegalArgumentException("metric required")),
          rate = bool(q \ "rate"),
          rateOptions = RateOptions(
            counter = bool(ro \ "counter"),
            counterMax = lng(ro \ "counterMax").getOrElse(0L),
            resetValue = lng(ro \ "resetValue").getOrElse(0L),
            interval = str(ro \ "interval")),
          downsample = str(q \ "downsample"),
          tags = parseTags(q \ "tags"),
          // wire parity with QueryRequest.SubQuery.filters/tsuids
          // (QueryRequest.java:227-228,282-283): parsed faithfully, consumed
          // by nothing — the reference's DataStore reads only tags, so a
          // request using them gets the same (unfiltered) answer there too
          filters = (q \ "filters") match {
            case JArray(fs) => fs.map { f =>
              FilterClause(
                filterType = str(f \ "type").getOrElse(""),
                tagk = str(f \ "tagk").getOrElse(""),
                filter = str(f \ "filter").getOrElse(""),
                groupBy = bool(f \ "groupBy"))
            }
            case _ => Nil
          },
          tsuids = (q \ "tsuids") match {
            case JArray(ts) => ts.flatMap(str)
            case _ => Nil
          })
      }
      case _ => Nil
    }
    TsQueryRequest(
      start = lng(jv \ "start").getOrElse(throw new IllegalArgumentException("start required")),
      end = lng(jv \ "end").getOrElse(System.currentTimeMillis()),
      msResolution = bool(jv \ "msResolution"),
      queries = queries)
  }

  /**
   * GET-form subquery: `m=<agg>:[rate[{counter[,interval[,max[,reset]]]}]:]
   * [<dur>-<agg>:]<metric>[{k=v,...}[{k=v,...}]]`
   * (reference QueryRequest.parseQueryParameters, QueryRequest.java:515-627).
   *
   * Faithfully-reproduced reference quirk: the FIRST `{}` block of the metric
   * segment becomes groupBy FILTER clauses (QueryRequest.java:583-595) — and
   * the engine never reads filters (DataStore consumes only tags), so a
   * single-block GET query runs UNFILTERED on the reference server. Only a
   * SECOND block populates `tags` (QueryRequest.java:596-606) and actually
   * filters/groups. Pinned by ApiParitySpec.
   */
  def parseMQuery(m: String): SubQuery = {
    // the tag blocks live in the FINAL segment — a brace inside an earlier
    // segment (rate{counter,...}) precedes the last ':' and is not matched
    val braceAt = m.indexOf('{', m.lastIndexOf(':') + 1)
    def kvs(block: String): Seq[(String, String)] =
      block.stripPrefix("{").split(",").iterator.filter(_.nonEmpty).map { t =>
        val j = t.indexOf('=')
        require(j > 0, s"bad tag '$t' in: $m")
        t.substring(0, j) -> t.substring(j + 1)
      }.toSeq
    val (head, filters, tags) =
      if (braceAt < 0) (m, Seq.empty[FilterClause], Map.empty[String, String])
      else {
        require(m.endsWith("}"), s"Tag section does not end with '}' in: $m")
        val blocks = m.substring(braceAt).split("\\}").toSeq
        val groupByFilters = kvs(blocks.head)
          .map { case (k, v) => FilterClause("", k, v, groupBy = true) }
        val tagMap = if (blocks.length > 1) kvs(blocks(1)).toMap else Map.empty[String, String]
        (m.substring(0, braceAt), groupByFilters, tagMap)
      }
    val parts = head.split(":").toSeq
    require(parts.length >= 2, s"bad m= query: $m")
    val aggregator = parts.head
    var rate = false
    var rateOptions = RateOptions()
    var downsample: Option[String] = None
    val RatePat = "^rate(\\{([^}]*)\\})?$".r
    val DsPat = "^\\d+(ms|s|m|h|d)?-\\w+$".r
    parts.slice(1, parts.length - 1).foreach {
      case RatePat(_, opts) =>
        rate = true
        if (opts != null && opts.nonEmpty) {
          // GET-form option ORDER is the reference's, not OpenTSDB's POST
          // RateOption: {counter, interval, counterMax, resetValue} with
          // endsWith("counter") detection (QueryRequest.java:540-561) — the
          // interval sits at position 1, durations allow bare ms numbers
          val fields = opts.split(",", -1)
          rateOptions = RateOptions(
            counter = fields.headOption.exists(_.endsWith("counter")),
            interval = fields.lift(1).filter(_.nonEmpty),
            counterMax = fields.lift(2).flatMap(_.toLongOption).getOrElse(0L),
            resetValue = fields.lift(3).flatMap(_.toLongOption).getOrElse(0L))
        }
      case ds if DsPat.findFirstIn(ds).isDefined => downsample = Some(ds)
      case other => throw new IllegalArgumentException(s"bad m= segment '$other' in: $m")
    }
    SubQuery(aggregator, parts.last, rate, rateOptions, downsample, tags, filters)
  }

  /**
   * Full GET query string -> request, mirroring the reference's
   * `parseQueryParameters` (QueryRequest.java:515-627): `start` required,
   * `end` optional (defaults to now), each `m` value through [[parseMQuery]],
   * and each `tsuid` value (`[agg:]tsuid1,tsuid2,...`) becoming a
   * metric-less SubQuery carrying only tsuids — which the engine, like the
   * reference's, cannot answer (DataStore reads `metric`; a tsuid-only GET
   * subquery fails there too). GET has no msResolution parameter.
   */
  def parseGetQuery(
      params: Map[String, Seq[String]],
      nowMs: () => Long = () => System.currentTimeMillis()): TsQueryRequest = {
    val start = params.get("start").flatMap(_.headOption).map(_.toLong)
      .getOrElse(throw new IllegalArgumentException("start required"))
    val end = params.get("end").flatMap(_.headOption).map(_.toLong).getOrElse(nowMs())
    val mQueries = params.getOrElse("m", Nil).map(parseMQuery)
    val tsuidQueries = params.getOrElse("tsuid", Nil).map { ts =>
      val colon = ts.indexOf(':')
      SubQuery(
        aggregator = if (colon >= 0) ts.substring(0, colon) else "",
        metric = "",
        tsuids = ts.substring(colon + 1).split(",").toSeq.filter(_.nonEmpty))
    }
    TsQueryRequest(start, end, msResolution = false, queries = mQueries ++ tsuidQueries)
  }

  /**
   * Stream planned subquery frames as ONE spliced QueryResponse array (the
   * reference splices every SubQuery's responses into a single array —
   * DataStore.java:645-662), writing each series object as its rows arrive:
   * one object per (metric, group_tags), dps ordered by timestamp (the
   * reference emits TreeMap order — Aggregation.java:58). Returns the number
   * of objects written.
   *
   * The reference server materializes the whole merged response in its JVM
   * (DataStore.java:748-788) — bounded for any downsampled query, but an
   * `aggregator:none` query over a wide range is unbounded driver memory.
   * Here the frame is globally SORTED by (metric, canonical tag key, ts) —
   * a distributed range-partitioned sort, no single-task funnel — and
   * `toLocalIterator` hands the driver one partition at a time: series
   * boundaries are detected on the sorted stream and each dps entry is
   * written as it is read, so peak driver memory is one fetched partition,
   * independent of how many rows the query returns.
   *
   * Output is byte-identical to the collected form this replaces
   * (json4s compact style: no whitespace; series ordered by
   * `(metric, tags.toSeq.sorted.mkString(","))` exactly as before —
   * the Spark-side sort key below reproduces that string). Boundary
   * detection compares the actual tag MAP, and the sorted entries array
   * rides as a SECONDARY sort key: two distinct maps whose rendered keys
   * collide (tag text containing '(' / ',') still sort contiguously per
   * map instead of interleaving by timestamp — without it, an A,B,A
   * alternation would emit the same series object twice with its dps
   * split, and a client keying responses by tags would drop datapoints.
   */
  def writeResponses(planned: Seq[DataFrame], out: java.io.Writer): Long = {
    import org.apache.spark.sql.functions._
    var nObjs = 0L
    // "(k1,v1),(k2,v2)" over entries sorted by (key, value) — the exact
    // string the driver-side sortBy used, so series order is unchanged
    val skey = concat_ws(",", transform(
      sort_array(map_entries(col("group_tags"))),
      e => concat(lit("("), e.getField("key"), lit(","), e.getField("value"), lit(")"))))
    def js(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
    out.write("[")
    var firstObj = true
    for (df <- planned) {
      val it = df
        .select(col("metric"), col("group_tags"), col("aggregated_tags"),
          col("ts_out"), col("value"))
        .withColumn("_sk", skey)
        .orderBy(col("metric"), col("_sk"),
          sort_array(map_entries(col("group_tags"))), col("ts_out"))
        .toLocalIterator()
      var cur: (String, Map[String, String]) = null
      var firstDp = true
      while (it.hasNext) {
        val r = it.next()
        val key = (r.getString(0), r.getMap[String, String](1).toMap)
        if (key != cur) {
          if (cur != null) out.write("}}")
          if (!firstObj) out.write(",")
          firstObj = false
          nObjs += 1
          val (metric, tags) = key
          val aggTags = r.getSeq[String](2).toList.sorted
          out.write("{\"metric\":" + js(JString(metric)) + ",\"tags\":" +
            js(JObject(tags.toList.sorted.map { case (k, v) => JField(k, JString(v)) })) +
            // "aggregatedTags" WITH the d — the reference's Jackson field
            // name (QueryResponse.java:12,17), not OpenTSDB's "aggregateTags"
            ",\"aggregatedTags\":" + js(JArray(aggTags.map(JString(_)))) +
            ",\"dps\":{")
          cur = key
          firstDp = true
        }
        if (!firstDp) out.write(",")
        firstDp = false
        out.write("\"" + r.getLong(3).toString + "\":" + js(JDouble(r.getDouble(4))))
      }
      if (cur != null) out.write("}}")
    }
    out.write("]")
    nObjs
  }
}
