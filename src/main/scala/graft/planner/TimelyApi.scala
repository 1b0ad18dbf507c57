package graft.planner

import java.io.Writer
import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.Catalog
import graft.streaming.InternalMetrics

/**
 * The query entry and the small constant/catalog API endpoints of the
 * reference, as library calls:
 * - [[query]], the one entry of every query: meta check, plan, then the
 *   streamed response
 * - aggregators list (/api/aggregators — reference
 *   server/src/main/java/timely/api/response/timeseries/AggregatorsResponse.java:21-30)
 * - version (/version — common/src/main/java/timely/api/request/VersionRequest.java:2-14)
 * - suggest / lookup / metrics-report and the query's meta check over a
 *   store's in-memory [[Catalog]] (M1-M3), plain Scala with no Spark job;
 *   each keeps a `DataFrame` form that collects a meta frame into a
 *   [[Catalog]] first (the batch query implementations live in
 *   graft.queries.TimelyQueries and graft.sources.PointStore.metaProjection)
 * - the lookup-query grammar and the cache report (M6).
 * HTTP and WebSocket serve these operations through one table that calls
 * them here (`graft.server.Operations`), so an answer does not depend on the
 * socket a request arrives on.
 */
object TimelyApi {

  val Version = "graft-0.1.0"

  /** The row cap of a served /api/metrics report ([[metricsJson]]). */
  val MetricsMaxRows = 100000

  def aggregatorsJson: String = QueryPlanner.Aggregators.mkString("[\"", "\",\"", "\"]")

  /** /api/suggest (DataStore.java:528-580): `metrics` = substring match on
    * the metric name; `tagk` = the tag keys of ONE metric; `tagv` = the tag
    * values of one (metric, tag key) PAIR — the reference requires both and
    * answers an empty suggestion list (not an error) when the scope params
    * are missing (DataStore.java:558-573). At most `max` suggestions, in
    * Spark's string order. */
  def suggest(
      catalog: Catalog, kind: String, q: String,
      tagKey: Option[String], max: Int): Seq[String] = {
    // a metric's entries are already in (tagk, tagv) order
    def entries = catalog.byMetric.getOrElse(q, IndexedSeq.empty)
    kind match {
      case "metrics" =>
        catalog.byMetric.keys.filter(_.contains(q)).toSeq.sorted(Catalog.StringOrder).take(max)
      case "tagk" => entries.map(_._1).distinct.take(max)
      case "tagv" => tagKey match {
        case Some(k) => entries.collect { case (`k`, v) => v }.take(max)
        case None => Nil // reference: missing scope -> empty suggestions
      }
      case other => throw new IllegalArgumentException(s"unknown suggest type: $other")
    }
  }

  /** The reference's 400 for a query whose tags match nothing
    * (DataStore.java:936-941 via getColumnFamilies, surfaced as HTTP 400
    * "No matching tags" by HttpQueryRequestHandler.java:36). */
  class NoMatchingTagsException extends IllegalArgumentException(
    "No matching tags: no tags were found that matched the submitted tags") {
    val status = 400
  }

  /**
   * Pre-query meta validation, exactly the reference's getColumnFamilies +
   * setQueryColumns contract (DataStore.java:864-941): the FIRST queried tag
   * of a subquery must match at least one (tagk, tagv) catalog entry of its
   * metric — value compared as full-match regex iff it is not `^\w+$`, like
   * TagFilter — and a tag-less subquery requires the metric to have catalog
   * entries at all (the reference scans the metric's first tag family; empty
   * only when the metric has no meta). Throws [[NoMatchingTagsException]]
   * (HTTP 400) otherwise. The check reads the catalog, never the points
   * table.
   */
  def requireMatchingTags(catalog: Catalog, q: QueryPlanner.SubQuery): Unit = {
    val scoped = catalog.byMetric.getOrElse(q.metric, IndexedSeq.empty)
    val matched = q.tags.headOption match {
      case None => scoped.nonEmpty
      case Some((k, v)) =>
        val valueMatch: String => Boolean =
          if (v == "*") _ != null
          else if (QueryPlanner.isRegexTagValue(v)) rlike(fullMatch(v))
          else _ == v
        scoped.exists { case (tagk, tagv) => tagk == k && valueMatch(tagv) }
    }
    if (!matched) throw new NoMatchingTagsException
  }

  def requireMatchingTags(meta: DataFrame, q: QueryPlanner.SubQuery): Unit =
    requireMatchingTags(Catalog.collect(meta), q)

  /** A tag value pattern anchored to match the whole value (TagFilter's
    * `Matcher.matches`), as the planner's tag predicate anchors it. */
  private def fullMatch(re: String): Pattern = Pattern.compile(s"^(?:$re)$$")

  /** Spark's `rlike` on a non-null value: `find`, here of an anchored
    * pattern. */
  private def rlike(p: Pattern)(value: String): Boolean =
    value != null && p.matcher(value).find()

  /**
   * The one query entry (the reference's DataStore.query,
   * DataStore.java:645-771): every transport, tool and test answers a query
   * here. With a catalog, every subquery first passes [[requireMatchingTags]];
   * then [[QueryPlanner.plan]] plans them all. Both run before this returns,
   * so a client error is thrown before a caller has written a byte. The
   * returned writer streams the one spliced response array
   * ([[QueryJson.writeResponses]]); with `internal` set, it counts the
   * response objects and the elapsed ms from this call into it, like the
   * reference's query counters.
   */
  def query(
      points: DataFrame,
      req: QueryPlanner.TsQueryRequest,
      auths: Seq[String],
      catalog: Option[Catalog],
      internal: Option[InternalMetrics]): Writer => Unit = {
    val t0 = System.currentTimeMillis()
    catalog.foreach(c => req.queries.foreach(requireMatchingTags(c, _)))
    val frames = QueryPlanner.plan(points, req, auths)
    out => {
      val responses = QueryJson.writeResponses(frames, out)
      internal.foreach(_.addQueryResponse(responses, System.currentTimeMillis() - t0))
    }
  }

  /** `metric{tagk=regex,...}` — the reference's SearchLookupRequest query
    * grammar (DataStore.java:582-600) — into the metric and its tag map.
    * Malformed input (no closing brace, a tag without `=`) throws
    * IllegalArgumentException. */
  def parseLookupQuery(q: String): (String, Map[String, String]) = {
    val brace = q.indexOf('{')
    if (brace < 0) (q, Map.empty)
    else {
      require(q.endsWith("}"), s"bad lookup query: $q")
      val tags = q.substring(brace + 1, q.length - 1).split(",").toSeq
        .filter(_.nonEmpty)
        .map { t =>
          val i = t.indexOf('=')
          require(i > 0, s"bad lookup tag '$t'")
          t.substring(0, i) -> t.substring(i + 1)
        }.toMap
      (q.substring(0, brace), tags)
    }
  }

  /**
   * /api/metrics wire shape — the exact MetricsResponse JSON
   * (server/src/main/java/timely/api/response/timeseries/MetricsResponse.java:190-224):
   * `{"metrics":[{"metric":m,"tags":[{"key":k,"value":v},…]},…]}`, with
   * configured ignored tag keys (plus the visibility tag, always) excluded
   * from the tag lists while their metrics still appear. The reference emits
   * HashMap order; here metrics and tags are sorted for determinism. The
   * report covers at most `maxRows` catalog rows ([[MetricsMaxRows]] when
   * served), so a pathological tag cardinality cannot flood a response:
   * past the cap it is a deterministic (sorted) prefix of the catalog, the
   * same bound lookup applies via its `limit`.
   */
  def metricsJson(catalog: Catalog, ignoredTags: Set[String], maxRows: Int): String = {
    val ignored = ignoredTags + graft.model.MetricPoint.VisibilityTag
    val byMetric = catalog.sorted.take(maxRows).groupBy(_._1)
    val metrics = JArray(byMetric.keys.toList.sorted.map { m =>
      val tags = byMetric(m).toList
        .filterNot { case (_, k, _) => ignored.contains(k) }
        .map { case (_, k, v) => (k, v) }.sorted
        .map { case (k, v) => JObject("key" -> JString(k), "value" -> JString(v)) }
      JObject("metric" -> JString(m), "tags" -> JArray(tags))
    })
    JsonMethods.compact(JsonMethods.render(JObject("metrics" -> metrics)))
  }

  /** /api/cache wire shape — the reference's CacheResponse
    * (CacheResponse.java:7-36, served by HttpCacheRequestHandler and the WS
    * `cache` operation): the oldest and newest timestamp and the sorted metric
    * names of the points visible to `auths`; nulls and an empty list for an
    * empty store. */
  def cacheJson(points: DataFrame, auths: Seq[String]): String = {
    val agg = QueryPlanner.visible(points, auths)
      .agg(min("ts"), max("ts"), sort_array(collect_set(col("metric")))).collect().head
    val (oldest, newest, metrics) =
      if (agg.isNullAt(0)) (JNull, JNull, JArray(Nil))
      else (JLong(agg.getLong(0)), JLong(agg.getLong(1)),
        JArray(agg.getSeq[String](2).map(JString(_)).toList))
    JsonMethods.compact(JsonMethods.render(JObject(
      "oldestTimestamp" -> oldest, "newestTimestamp" -> newest, "metrics" -> metrics)))
  }

  /** /api/suggest wire shape: a bare JSON array of the suggestion strings
    * (reference SuggestResponse.SuggestSerializer,
    * server/src/main/java/timely/api/response/timeseries/SuggestResponse.java:28-37). */
  def suggestJson(
      catalog: Catalog, kind: String, q: String,
      tagKey: Option[String], max: Int): String =
    JsonMethods.compact(JsonMethods.render(
      JArray(suggest(catalog, kind, q, tagKey, max).map(JString(_)).toList)))

  def suggestJson(
      meta: DataFrame, kind: String, q: String,
      tagKey: Option[String] = None, max: Int = 25): String =
    suggestJson(Catalog.collect(meta), kind, q, tagKey, max)

  /**
   * /api/search/lookup wire shape — the exact SearchLookupResponse envelope
   * (server/src/main/java/timely/api/response/timeseries/SearchLookupResponse.java:13,
   * field order from @JsonPropertyOrder; assembly DataStore.java:582-633):
   * `{"type":"LOOKUP","metric":…,"tags":{…},"limit":N,"time":T,
   *   "totalResults":N,"results":[{"tags":{k:v},"metric":null,"tsuid":null},…]}`.
   *
   * `tags` maps tag key -> value regex; a meta row matches when some entry has
   * an equal key and a FULL-matching value pattern (DataStore.matches,
   * `Matcher.matches` semantics — hence the `^(?:…)$` anchoring). Results are
   * (tagk, tagv)-ordered like the reference's meta-table scan order.
   *
   * @param timeMs elapsed-time field value; injectable so responses are
   *               deterministic under test (the reference stamps wall time)
   */
  def lookupJson(
      catalog: Catalog,
      metric: String,
      tags: Map[String, String],
      limit: Int,
      timeMs: Int): String = {
    val patterns = tags.map { case (k, re) => k -> rlike(fullMatch(re)) _ }
    val matches = catalog.byMetric.getOrElse(metric, IndexedSeq.empty)
      .filter { case (tagk, tagv) => patterns.get(tagk).exists(_(tagv)) }
    val results = JArray(matches.take(limit).toList.map { case (tagk, tagv) =>
      JObject(
        "tags" -> JObject(tagk -> JString(tagv)),
        "metric" -> JNull,
        "tsuid" -> JNull)
    })
    val envelope = JObject(
      "type" -> JString("LOOKUP"),
      "metric" -> JString(metric),
      "tags" -> JObject(tags.toList.sorted.map { case (k, v) => JField(k, JString(v)) }),
      "limit" -> JInt(limit),
      "time" -> JInt(timeMs),
      "totalResults" -> JInt(matches.size),
      "results" -> results)
    JsonMethods.compact(JsonMethods.render(envelope))
  }

  def lookupJson(
      meta: DataFrame,
      metric: String,
      tags: Map[String, String],
      limit: Int = 25,
      timeMs: Int = 0): String =
    lookupJson(Catalog.collect(meta), metric, tags, limit, timeMs)
}
