package graft.planner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VizFunctions
import graft.operators.TimeSeries

/**
 * OpenTSDB-style query model and planner — the Spark re-expression of the
 * reference's `/api/query` lifecycle (SURVEY.md §3.1):
 *
 * reference: QueryRequest JSON (common/src/main/java/timely/api/request/
 * timeseries/QueryRequest.java:219-380) -> per-SubQuery Accumulo scan with an
 * iterator stack rate(499) -> downsample(500) -> aggregation(501)
 * (server/src/main/java/timely/server/store/DataStore.java:645-771).
 *
 * here: one declarative DataFrame per SubQuery —
 * `filter(metric ∧ ts-range ∧ viz ∧ tag-predicates) [-> rate] ->
 * groupBy(series, bucket).agg(dsAgg) [-> groupBy(queriedTags, bucket).agg(agg)]`.
 * Catalyst provides partition pruning on the metric predicate (the ts range
 * filters rows in the scan: no `dt`/`hr` predicate is derived from it), partial
 * aggregation, and spilling; the iterator ORDER (rate before downsample) is
 * preserved structurally.
 *
 * The planner only turns a request into frames. Every query is answered
 * through `TimelyApi.query`, which checks the catalog, calls [[plan]] and
 * streams the frames out; nothing here reads the catalog or writes JSON.
 */
object QueryPlanner {

  /** Exactly the reference's aggregator set (AggregatorsResponse.java:21-30). */
  val Aggregators: Seq[String] = Seq("avg", "dev", "max", "min", "sum", "count", "none")

  /** Rate options (QueryRequest.java:30-136). */
  case class RateOptions(
      counter: Boolean = false,
      counterMax: Long = 0L,
      resetValue: Long = 0L,
      interval: Option[String] = None)

  /** OpenTSDB filter clause (QueryRequest.java:138-210): parsed for wire
    * compatibility and surfaced on the SubQuery, but — exactly like the
    * reference, whose DataStore never calls getFilters/getTsuids (their only
    * call sites are the HTTP-decoder tests) — planning consumes `tags` alone
    * and ACCEPTS-AND-IGNORES filters/tsuids. Pinned by QueryPlannerSpec. */
  case class FilterClause(
      filterType: String, tagk: String, filter: String, groupBy: Boolean = false)

  /** One subquery of a query request. `tags` values may be "*" (wildcard),
    * `a|b` alternation, or a regex — detection mirrors DataStore.java:860-862.
    * `filters`/`tsuids` are wire-parity passengers (see [[FilterClause]]). */
  case class SubQuery(
      aggregator: String,
      metric: String,
      rate: Boolean = false,
      rateOptions: RateOptions = RateOptions(),
      downsample: Option[String] = None,
      tags: Map[String, String] = Map.empty,
      filters: Seq[FilterClause] = Seq.empty,
      tsuids: Seq[String] = Seq.empty)

  case class TsQueryRequest(
      start: Long,
      end: Long,
      msResolution: Boolean = false,
      queries: Seq[SubQuery] = Seq.empty)

  /** Parse `"1m"`, `"30s"`, `"500ms"`, `"2h"`, `"1d"` — or a bare number,
    * which is milliseconds, like the Accumulo `getTimeInMillis` the reference
    * feeds its rate/downsample durations through (RateIterator.java:42). */
  def durationMs(s: String): Long = {
    val m = "^(\\d+)(ms|s|m|h|d)?$".r
    s.trim match {
      case m(n, unit) =>
        n.toLong * (unit match {
          case null | "ms" => 1L; case "s" => 1000L; case "m" => 60000L
          case "h" => 3600000L; case "d" => 86400000L
        })
      case other => throw new IllegalArgumentException(s"bad duration: $other")
    }
  }

  /** Split a downsample spec `"<dur>-<agg>"` (DownsampleIterator.java:161-185);
    * aggregator `none` disables downsampling (period 1 ms, agg avg). */
  def parseDownsample(spec: Option[String]): (Long, String) = spec match {
    case None => (1L, "avg")
    case Some(s) =>
      val idx = s.indexOf('-')
      require(idx > 0, s"bad downsample: $s")
      val agg = s.substring(idx + 1)
      if (agg == "none") (1L, "avg") else (durationMs(s.substring(0, idx)), agg)
  }

  /** A tag value is a regex iff it does not match `^\w+$`; `|` alternation and
    * `*` wildcards are regexes (reference DataStore.java:107,860-862). */
  def isRegexTagValue(v: String): Boolean = !v.matches("^\\w+$")

  /** Tag predicate, matching TagFilter semantics: tag must exist and its value
    * must full-match (TagFilter.java:79-116; `Matcher.matches` = full match). */
  def tagPredicate(key: String, value: String): Column = {
    val tagVal = col("tags").getItem(key)
    if (value == "*") tagVal.isNotNull
    else if (isRegexTagValue(value)) tagVal.isNotNull && tagVal.rlike(s"^(?:$value)$$")
    else tagVal === value
  }

  /** The points `auths` may see, like the reference's scan-time
    * VisibilityFilter: the one visibility decision of every read. */
  def visible(points: DataFrame, auths: Seq[String]): DataFrame =
    points.where(VizFunctions.vizVisible(col("viz"), lit(auths.mkString(","))))

  /** The points of `metric` visible to `auths`, from `fromTs` on, whose tags
    * match `tags` ([[tagPredicate]]): the selection a served query and a
    * subscription share. */
  def select(
      points: DataFrame, metric: String, auths: Seq[String],
      fromTs: Long, tags: Map[String, String]): DataFrame =
    tags.foldLeft(visible(points.where(col("metric") === metric && col("ts") >= fromTs), auths)) {
      case (df, (k, v)) => df.where(tagPredicate(k, v))
    }

  /**
   * Plan one subquery over the canonical points table.
   *
   * @param auths session authorizations — the visibility filter of
   *              [[select]] is injected unconditionally (security
   *              non-bypassable).
   * @return DataFrame (metric, group_tags MAP, bucket_ms LONG, value DOUBLE)
   */
  def planSubQuery(points: DataFrame, req: TsQueryRequest, q: SubQuery, auths: Seq[String]): DataFrame = {
    val (periodMs, dsAgg) = parseDownsample(q.downsample)
    // bucket alignment: start of first period (DataStore.java:693-695)
    val alignedStart = req.start - (req.start % periodMs)

    var df = select(points.where(col("ts") <= req.end), q.metric, auths, req.start, q.tags)

    // rate BEFORE downsample (iterator priorities 499 < 500)
    if (q.rate) {
      val interval = q.rateOptions.interval.map(durationMs).getOrElse(periodMs)
      df = TimeSeries.rate(df, interval, q.rateOptions.counter,
          q.rateOptions.counterMax, q.rateOptions.resetValue)
        .drop("value").withColumnRenamed("rate", "value").drop("series")
    }

    val bucket = (col("ts") - ((col("ts") - lit(alignedStart)) % lit(periodMs))).as("bucket_ms")
    // source measures aggregate via exact decimal sums (partition-order
    // independent); rate outputs are derived doubles and stay plain
    val dsAggregator =
      if (q.rate) TimeSeries.foldAggregator(dsAgg) // derived doubles: sorted fold
      else TimeSeries.exactAggregator(dsAgg, col("value"))
    val perSeries = df
      .groupBy(col("metric"), col("tags"), bucket)
      .agg(dsAggregator.as("value"))

    // cross-series aggregation, grouped by the QUERIED tag subset only
    // (DataStore.java:752-762): series collapse onto the tags the user asked for.
    // An UNKNOWN aggregator name resolves to null in the reference
    // (Aggregator.getAggregator's default, Aggregator.java:55-56) and no
    // AggregationIterator is added (DataStore.java:738-746) — the query then
    // behaves exactly like aggregator=none rather than erroring.
    if (q.aggregator == "none" || !Aggregators.contains(q.aggregator)) {
      perSeries.select(col("metric"), col("tags").as("group_tags"), col("bucket_ms"),
        typedlit(Seq.empty[String]).as("aggregated_tags"), col("value"))
    } else {
      val queriedKeys = q.tags.keys.toSeq.sorted
      val groupTags =
        if (queriedKeys.isEmpty) typedlit(Map.empty[String, String])
        else map_from_arrays(
          typedlit(queriedKeys),
          array(queriedKeys.map(k => col("tags").getItem(k)): _*))
      // tag keys aggregated away -> QueryResponse.aggregatedTags
      val aggTags = (c: Column) =>
        array_sort(array_distinct(flatten(collect_list(c))))
      val strippedKeys = array_except(map_keys(col("tags")), typedlit(queriedKeys))
      val grouped = perSeries.withColumn("group_tags", groupTags)
      val gb = Seq(col("metric"), col("group_tags"), col("bucket_ms"))
      q.aggregator match {
        case "sum" | "avg" | "dev" =>
          // two-level deterministic fold: bounded buffers at any series
          // cardinality (see TimeSeries.crossSeries scaladoc)
          grouped
            .groupBy(gb :+ TimeSeries.seriesShard(
              TimeSeries.seriesKey(col("tags")), TimeSeries.CrossSeriesShards).as("shard"): _*)
            .agg(TimeSeries.shardPartials(q.aggregator).head,
              TimeSeries.shardPartials(q.aggregator).tail :+ aggTags(strippedKeys).as("ptags"): _*)
            .groupBy(gb: _*)
            .agg(TimeSeries.shardFinal(q.aggregator).as("value"),
              aggTags(col("ptags")).as("aggregated_tags"))
        case _ =>
          grouped
            .groupBy(gb: _*)
            .agg(
              TimeSeries.foldAggregator(q.aggregator).as("value"),
              aggTags(strippedKeys).as("aggregated_tags"))
      }
    }
  }

  /** Response timestamps are seconds unless msResolution (DataStore.java:774).
    *
    * Sub-second buckets COLLIDE after the divide-by-1000: the reference's dps
    * is a LinkedHashMap populated in timestamp order
    * (QueryResponse.java:18,60; DataStore.java:852-854), so a colliding
    * second keeps the value of its LAST (highest bucket_ms) sample. The
    * collapse re-aggregation only runs when a collision is possible —
    * second-aligned periods map buckets 1:1 onto response keys and skip the
    * extra shuffle entirely (the common path stays one-level). */
  def withResponseTs(planned: DataFrame, msResolution: Boolean, periodMs: Long = 1000L): DataFrame =
    if (msResolution) planned.withColumn("ts_out", col("bucket_ms"))
    else if (periodMs % 1000L == 0L) planned.withColumn("ts_out", expr("bucket_ms div 1000"))
    else planned
      .withColumn("ts_out", expr("bucket_ms div 1000"))
      .groupBy(col("metric"), col("group_tags"), col("ts_out"))
      .agg(
        max_by(col("value"), col("bucket_ms")).as("value"),
        max_by(col("aggregated_tags"), col("bucket_ms")).as("aggregated_tags"),
        max(col("bucket_ms")).as("bucket_ms"))

  /** Plan all subqueries; result frames share the output schema. */
  def plan(points: DataFrame, req: TsQueryRequest, auths: Seq[String]): Seq[DataFrame] =
    req.queries.map { q =>
      val (periodMs, _) = parseDownsample(q.downsample)
      withResponseTs(planSubQuery(points, req, q, auths), req.msResolution, periodMs)
    }
}
