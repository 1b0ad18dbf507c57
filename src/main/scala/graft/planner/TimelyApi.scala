package graft.planner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * The small constant/catalog API endpoints of the reference, as library calls:
 * - aggregators list (/api/aggregators — reference
 *   server/src/main/java/timely/api/response/timeseries/AggregatorsResponse.java:21-30)
 * - version (/version — common/src/main/java/timely/api/request/VersionRequest.java:2-14)
 * - suggest / lookup / metrics-report over a meta frame (M1-M3; the query
 *   implementations live in graft.queries.TimelyQueries and
 *   graft.sources.PointStore.metaProjection)
 * - the lookup-query grammar, the cache report (M6) and the query's
 *   meta-check-then-plan step.
 * Every transport (HTTP, WebSocket) serves these operations by calling them
 * here, so an answer does not depend on the socket a request arrives on.
 */
object TimelyApi {

  /** Exactly the reference's set (AggregatorsResponse.java:21-30). */
  val Aggregators: Seq[String] = Seq("avg", "dev", "max", "min", "sum", "count", "none")

  val Version = "graft-0.1.0"

  def aggregatorsJson: String = Aggregators.mkString("[\"", "\",\"", "\"]")

  /** /api/suggest (DataStore.java:528-580): `metrics` = substring match on
    * the metric name; `tagk` = the tag keys of ONE metric; `tagv` = the tag
    * values of one (metric, tag key) PAIR — the reference requires both and
    * answers an empty suggestion list (not an error) when the scope params
    * are missing (DataStore.java:558-573). Limited (default 25). */
  def suggest(
      meta: DataFrame, kind: String, q: String,
      tagKey: Option[String] = None, max: Int = 25): DataFrame = kind match {
    case "metrics" =>
      meta.select("metric").distinct().where(col("metric").contains(q)).orderBy("metric").limit(max)
    case "tagk" =>
      meta.where(col("metric") === q).select("tagk").distinct().orderBy("tagk").limit(max)
    case "tagv" =>
      tagKey match {
        case Some(k) =>
          meta.where(col("metric") === q && col("tagk") === k)
            .select("tagv").distinct().orderBy("tagv").limit(max)
        case None => // reference: missing scope -> empty suggestions
          meta.select("tagv").where(lit(false)).limit(max)
      }
    case other => throw new IllegalArgumentException(s"unknown suggest type: $other")
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
   * (HTTP 400) otherwise. The check reads the catalog-sized meta frame, never
   * the points table.
   */
  def requireMatchingTags(meta: DataFrame, q: QueryPlanner.SubQuery): Unit = {
    val scoped = meta.where(col("metric") === q.metric)
    val matched = q.tags.headOption match {
      case None => scoped
      case Some((k, v)) =>
        val tagv = col("tagv")
        val valueMatch =
          if (v == "*") tagv.isNotNull
          else if (QueryPlanner.isRegexTagValue(v)) tagv.rlike(s"^(?:$v)$$")
          else tagv === v
        scoped.where(col("tagk") === k && valueMatch)
    }
    if (matched.isEmpty) throw new NoMatchingTagsException
  }

  /** The query's step before execution, shared by every transport and
    * [[QueryPlanner.runQuery]]: with a catalog, the [[requireMatchingTags]]
    * check of every subquery, then [[QueryPlanner.plan]]. Both fail before
    * any row is read, so a caller can still answer with an error status. */
  def planQuery(
      points: DataFrame,
      req: QueryPlanner.TsQueryRequest,
      auths: Seq[String],
      meta: Option[DataFrame]): Seq[DataFrame] = {
    meta.foreach(m => req.queries.foreach(q => requireMatchingTags(m, q)))
    QueryPlanner.plan(points, req, auths)
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
   * collect is catalog-sized (metric cardinality), the same data the
   * reference holds in its MetaCache — but hard-capped at `maxRows` sorted
   * catalog rows so a pathological tag cardinality cannot flood the driver:
   * past the cap the report is a deterministic (sorted) prefix of the
   * catalog, the same bound lookup applies via its `limit`.
   */
  def metricsJson(meta: DataFrame, ignoredTags: Set[String] = Set.empty,
                  maxRows: Int = 100000): String = {
    val ignored = ignoredTags + graft.model.MetricPoint.VisibilityTag
    val rows = meta.select("metric", "tagk", "tagv")
      .orderBy("metric", "tagk", "tagv").limit(maxRows).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val byMetric = rows.groupBy(_._1)
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
    val agg = points
      .where(graft.functions.VizFunctions.vizVisible(col("viz"), lit(auths.mkString(","))))
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
      meta: DataFrame, kind: String, q: String,
      tagKey: Option[String] = None, max: Int = 25): String = {
    val vals = suggest(meta, kind, q, tagKey, max).collect().map(_.getString(0))
    JsonMethods.compact(JsonMethods.render(JArray(vals.map(JString(_)).toList)))
  }

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
      meta: DataFrame,
      metric: String,
      tags: Map[String, String],
      limit: Int = 25,
      timeMs: Int = 0): String = {
    val cond = tags
      .map { case (k, re) => col("tagk") === k && col("tagv").rlike(s"^(?:$re)$$") }
      .reduceOption(_ || _).getOrElse(lit(false))
    val matches = meta.where(col("metric") === metric && cond)
    val total = matches.count()
    val rows = matches.orderBy("tagk", "tagv").limit(limit).select("tagk", "tagv").collect()
    val results = JArray(rows.toList.map { r =>
      JObject(
        "tags" -> JObject(r.getString(0) -> JString(r.getString(1))),
        "metric" -> JNull,
        "tsuid" -> JNull)
    })
    val envelope = JObject(
      "type" -> JString("LOOKUP"),
      "metric" -> JString(metric),
      "tags" -> JObject(tags.toList.sorted.map { case (k, v) => JField(k, JString(v)) }),
      "limit" -> JInt(limit),
      "time" -> JInt(timeMs),
      "totalResults" -> JInt(total),
      "results" -> results)
    JsonMethods.compact(JsonMethods.render(envelope))
  }
}
