package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Points, TimeSeries}
import graft.sources.PointStore

/**
 * Timely-parity operator queries over the synthetic `events` table
 * (event_type -> metric, user_id -> `user` tag), each paired with an ANSI-SQL
 * DuckDB oracle. These exercise SURVEY.md §2.3/§2.4/§2.5: downsample
 * aggregators (A2-A6, A8), series grouping (A13), cross-series aggregation
 * (A10), rate/counter (W1/W2), FIR moving average (W3), and meta queries
 * (M1/M2).
 */
object TimelyQueries {

  private val Hour = 3600000L

  /** events -> canonical points frame. */
  private def points(s: SparkSession, dir: String): DataFrame =
    Points.fromEvents(Points.table(s, dir, "events"))

  /** Downsample with a given aggregator; output (metric, series, bucket_ms, value). */
  private def ds(s: SparkSession, dir: String, agg: String): DataFrame =
    TimeSeries.downsample(points(s, dir), Hour, agg, exact = true)

  /** DuckDB oracle for the same downsample. The series key for a single
    * `user` tag is `user=<id>`. */
  private def dsSql(aggSql: String): String =
    s"""SELECT event_type AS metric,
       |       'user=' || CAST(user_id AS VARCHAR) AS series,
       |       epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
       |       $aggSql AS value
       |FROM events
       |GROUP BY 1, 2, 3""".stripMargin

  /** DuckDB replay of the [[TimeSeries.ewmaWeights]] FIR: the identical
    * Scala weight doubles embedded as shortest-round-trip literals in a
    * LAG chain (oldest tap first — the firFilter fold order). */
  private def ewmaOracleSql(alpha: Double, span: Int): String = {
    val w = TimeSeries.ewmaWeights(alpha, span)
    val taps = w.zipWithIndex.map { case (wt, j) =>
      val lagN = span - 1 - j
      val v = if (lagN == 0) "value" else s"LAG(value, $lagN) OVER w"
      s"$wt * $v"
    }.mkString("\n         + ")
    s"""WITH p AS (
       |  SELECT event_type AS metric,
       |         'user=' || CAST(user_id AS VARCHAR) AS series,
       |         epoch_ms(ts) AS ts, value,
       |         ROW_NUMBER() OVER w AS rn,
       |         $taps AS ewma
       |  FROM events
       |  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY epoch_ms(ts), value))
       |SELECT metric, series, ts, ewma
       |FROM p WHERE rn >= $span""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_downsample_avg" -> ((s, dir) => ds(s, dir, "avg")),
    "ts_downsample_sum" -> ((s, dir) => ds(s, dir, "sum")),
    "ts_downsample_min" -> ((s, dir) => ds(s, dir, "min")),
    "ts_downsample_max" -> ((s, dir) => ds(s, dir, "max")),
    "ts_downsample_count" -> ((s, dir) => ds(s, dir, "count")),
    "ts_downsample_dev" -> ((s, dir) => ds(s, dir, "dev")),
    // gap-filled hourly grid per series: all three OpenTSDB fill policies
    // (none/zero/LOCF) carried side by side, with the filled audit flag.
    // One sparse metric (purchase) — per-user purchase series are mostly
    // gaps, the case fill policies exist for (and a bench-bounded output)
    "ts_downsample_fill" -> ((s, dir) =>
      TimeSeries.downsampleFill(
        points(s, dir).where(col("metric") === "purchase"), Hour)),
    "ts_cross_series_sum" -> ((s, dir) => {
      // downsample 1h-avg per series, then cross-series sum per metric+bucket
      // (reference AggregationIterator: all surviving series collapse into one)
      val d = TimeSeries.downsample(points(s, dir), Hour, "avg", exact = true)
      TimeSeries.crossSeries(d, "sum")
    }),
    "ts_rate" -> ((s, dir) => {
      TimeSeries.rate(points(s, dir), intervalMs = 1000L)
        .select(col("metric"), col("series"), col("ts"), col("rate"))
    }),
    "ts_rate_counter" -> ((s, dir) => {
      TimeSeries.rate(points(s, dir), intervalMs = 1000L, counter = true, resetValue = 100L)
        .select(col("metric"), col("series"), col("ts"), col("rate"))
    }),
    "ts_ewma" -> ((s, dir) => {
      // truncated-EWMA smoothing as an exponential-tap FIR (α=0.5 over the
      // last 8 points): plan-time Scala weight constants shared with the
      // oracle's LAG chain via shortest-round-trip double literals
      TimeSeries.firFilter(points(s, dir), TimeSeries.ewmaWeights(0.5, 8))
        .select(col("metric"), col("series"), col("ts"), col("filtered").as("ewma"))
    }),
    "ts_moving_avg" -> ((s, dir) => {
      TimeSeries.firFilter(points(s, dir), Seq.fill(5)(0.2))
        .select(col("metric"), col("series"), col("ts"), col("filtered"))
    }),
    // Holt linear (level+trend) smoothing of the hourly volume series per
    // metric: the inherently-ordered recursion runs as a SORTED FOLD with a
    // [level, trend] array state over the bounded bucket list; alpha=0.5 /
    // beta=0.25 chosen exactly representable and mirrored by the oracle's
    // list_reduce replay
    "ts_holt" -> ((s, dir) =>
      TimeSeries.holtForecast(points(s, dir), bucketMs = Hour)),
    // Holt-Winters ADDITIVE seasonal (period 24h on hourly buckets): the
    // rotating [level, trend, s_1..s_24] array-state sorted fold — slot
    // t-24 is always element 3, the fresh slot appends; alpha=0.5 /
    // beta=0.25 / gamma=0.25 exactly representable, init mean is one
    // pinned division over the exact first-season sum
    "ts_holt_winters" -> ((s, dir) =>
      TimeSeries.holtWintersForecast(points(s, dir), bucketMs = Hour)),
    // Theil-Sen robust trend per metric: nearest-rank median of all pairwise
    // slopes (quadratic in BUCKETS, never in events), rank-PICKED values so
    // equal-slope ordering cannot change the result
    "ts_theil_sen" -> ((s, dir) =>
      TimeSeries.theilSen(points(s, dir), bucketMs = Hour)),
    // nearest-rank p95 downsample: the tail-latency aggregator beyond the
    // reference's §2.3 set — rank-PICKED (an observed sample, min/max
    // determinism class), never interpolated; per-bucket sorted pick over
    // the bounded series-hour group, no corpus window
    "ts_downsample_p95" -> ((s, dir) =>
      TimeSeries.downsamplePercentile(points(s, dir), Hour, 0.95)),
    // nearest-rank MEDIAN downsample — the robust center the avg aggregator
    // loses to outliers; same rank-picked determinism class as p95
    "ts_downsample_p50" -> ((s, dir) =>
      TimeSeries.downsamplePercentile(points(s, dir), Hour, 0.50)),
    // seasonal-naive error at a 24h period over the hourly-sum grid: one
    // exact-lag equi join (no window), exact-decimal MAE/WMAPE numerators
    "ts_seasonal_error" -> ((s, dir) =>
      TimeSeries.seasonalError(
        ds(s, dir, "sum").withColumnRenamed("bucket_ms", "ts"), 86400000L)),
    // per-series sampling-gap audit: max inter-arrival gap + 1h-grid
    // coverage — the "can this series be trusted by alerts" report
    "ts_gap_report" -> ((s, dir) =>
      TimeSeries.gapReport(points(s, dir), Hour)),
    // Gorilla cache-cost model per metric (paper bit classes over the exact
    // decimal value codec): which metrics are cheap to hold hot
    "ts_gorilla_cost" -> ((s, dir) =>
      TimeSeries.gorillaCost(points(s, dir))),
    // lag-{1,2,24} sample ACF over the per-metric hourly cross-series
    // average: the periodicity evidence behind the seasonal-naive baseline
    // (fixed-point integer sums, one pinned closing ratio)
    "ts_autocorr" -> ((s, dir) =>
      TimeSeries.autocorrelation(points(s, dir))),
    // lagged cross-correlation between every ordered metric pair over the
    // same bucket grid — the leading-indicator matrix ("traffic leads
    // errors by one bucket"); bucket-series-sized joins only
    "ts_cross_corr" -> ((s, dir) =>
      TimeSeries.crossCorrelation(points(s, dir))),
    // OLS trend per metric on the gap-aware integer bucket index: the
    // secular-drift number (exact integer moments, pinned closing slope)
    "ts_trend" -> ((s, dir) => TimeSeries.trendReport(points(s, dir))),
    // max-|level-shift| changepoint per metric: binary segmentation's
    // first split over the bucket series, argmax as one struct aggregate
    "ts_changepoint" -> ((s, dir) => TimeSeries.changepoint(points(s, dir))),
    // top-5 series per metric by exact sum: shard-local top-k then a
    // bounded final rank — never a rank window over the full series set
    "ts_topn_series" -> ((s, dir) =>
      TimeSeries.topSeries(points(s, dir), "sum", k = 5)),
    "meta_suggest" -> ((s, dir) => {
      // /api/suggest type=metrics: substring match + ordered limit
      // (reference DataStore.suggest, DataStore.java:528-580)
      PointStore.metaProjection(points(s, dir))
        .select("metric").distinct()
        .where(col("metric").contains("e"))
        .orderBy("metric").limit(25)
    }),
    "meta_lookup" -> ((s, dir) => {
      // /api/search/lookup: tag regex lookup for one metric
      // (reference DataStore.lookup, DataStore.java:582-633)
      PointStore.metaProjection(points(s, dir))
        .where(col("metric") === "purchase" && col("tagv").rlike("^1.*"))
        .orderBy("metric", "tagk", "tagv")
    }),
    "meta_cardinality" -> ((s, dir) => {
      // tag-cardinality stats used for predicate ordering
      // (reference DataStore.updateMetricCounts, DataStore.java:514-526)
      PointStore.metaProjection(points(s, dir))
        .groupBy("metric", "tagk")
        .agg(countDistinct("tagv").as("cardinality"))
    }),
    "meta_report" -> ((s, dir) => {
      // /api/metrics catalog report (reference MetricsResponse / MetaCache)
      points(s, dir)
        .groupBy("metric")
        .agg(
          count(lit(1)).as("points"),
          countDistinct(col("tags").getItem("user")).as("user_values"))
    }),
    "points_ageoff" -> ((s, dir) => {
      // L1 metric age-off (MetricAgeOffIterator.java:26-110): the surviving
      // point set under per-prefix TTLs, longest prefix wins ('si' over 's'),
      // required 'default' fallback; nowMs anchored to max(ts) so the gate is
      // deterministic at any scale factor.
      val pts = points(s, dir)
      val now = pts.agg(max("ts")).first().getLong(0)
      val ttl = Map(
        "default" -> 30L * 24 * 3600000,
        "error" -> 3600000L,
        "si" -> 48L * 3600000,
        "s" -> 12L * 3600000)
      pts.where(col("ts") >= graft.sources.PointStore.horizonExpr(ttl, now))
        .select(col("metric"), col("ts"), col("value"), col("tags").getItem("user").as("tag_user"))
    }),
    "meta_cache_status" -> ((s, dir) => {
      // M6 /api/cache status: oldest hot (cached-window) timestamp per metric
      // (reference DataStoreCache.getCacheStatus, cache/DataStoreCache.java:911)
      val boundary = 1705276800000L // 2024-01-15T00:00Z — mid-range hot window
      graft.sources.HotColdPoints.hotWindow(points(s, dir), boundary)
        .groupBy("metric").agg(min("ts").as("oldest_hot_ts"))
    }),
    "meta_ageoff" -> ((s, dir) => {
      // L2 meta age-off (MetaAgeOffIterator.java:77-97): a meta row survives
      // iff its metric has points newer than the prefix-TTL horizon. nowMs is
      // anchored to max(ts) so the gate is deterministic at any scale factor;
      // prefix set exercises longest-prefix-wins ('si' over 's').
      val pts = points(s, dir)
      val now = pts.agg(max("ts")).first().getLong(0)
      val ttl = Map(
        "default" -> 30L * 24 * 3600000,
        "error" -> 3600000L,
        "si" -> 48L * 3600000,
        "s" -> 12L * 3600000)
      val live = pts.where(col("ts") >= PointStore.horizonExpr(ttl, now))
      PointStore.metaAgeOff(PointStore.metaProjection(pts), live)
    })
  )

  val oracles: Map[String, String] = Map(
    "ts_downsample_avg" -> dsSql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)"),
    "ts_downsample_sum" -> dsSql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"),
    "ts_downsample_min" -> dsSql("MIN(value)"),
    "ts_downsample_max" -> dsSql("MAX(value)"),
    "ts_downsample_count" -> dsSql("CAST(COUNT(value) AS DOUBLE)"),
    "ts_downsample_dev" ->
      // RMS quirk (Dev.java:5-19): sqrt(sum(x^2)/(n-1)), n==1 -> sqrt(sum(x^2))
      dsSql("CASE WHEN COUNT(*) = 1 THEN SQRT(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(18,4))) AS DOUBLE)) ELSE SQRT(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(18,4))) AS DOUBLE)/(COUNT(*)-1)) END"),
    // mirrors TimeSeries.downsampleFill(Hour): exact-decimal hourly avg,
    // per-series full grid, NULL/zero/LOCF fills + the audit flag
    "ts_downsample_fill" -> {
      val avg = "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)"
      s"""WITH d AS (
         |  SELECT event_type AS metric,
         |         'user=' || CAST(user_id AS VARCHAR) AS series,
         |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
         |         $avg AS value
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3),
         |b AS (SELECT metric, series, MIN(bucket_ms) AS b0, MAX(bucket_ms) AS b1
         |      FROM d GROUP BY 1, 2),
         |g AS (SELECT metric, series,
         |             UNNEST(range(b0, b1 + 3600000, 3600000)) AS bucket_ms
         |      FROM b),
         |j AS (SELECT g.metric, g.series, g.bucket_ms, d.value
         |      FROM g LEFT JOIN d ON g.metric = d.metric AND g.series = d.series
         |                        AND g.bucket_ms = d.bucket_ms)
         |SELECT metric, series, bucket_ms, value,
         |       COALESCE(value, 0.0) AS value_zero,
         |       LAST_VALUE(value IGNORE NULLS) OVER (
         |         PARTITION BY metric, series ORDER BY bucket_ms
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
         |       CAST(CASE WHEN value IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
         |FROM j""".stripMargin
    },
    "ts_cross_series_sum" ->
      // two-level deterministic fold (TimeSeries.crossSeries): fold within an
      // md5-derived series shard, then fold the sorted partial sums
      """WITH d AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value
        |  FROM events GROUP BY 1, 2, 3),
        |l1 AS (
        |  SELECT metric, bucket_ms,
        |         ((strpos('0123456789abcdef', substr(md5(series), 1, 1)) - 1) * 16
        |          + strpos('0123456789abcdef', substr(md5(series), 2, 1)) - 1) % 64 AS shard,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))), (acc, v) -> acc + v) AS psum
        |  FROM d GROUP BY 1, 2, 3)
        |SELECT metric, bucket_ms,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(psum))), (acc, v) -> acc + v) AS value
        |FROM l1 GROUP BY 1, 2""".stripMargin,
    "ts_rate" ->
      """WITH p AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) AS ts, value,
        |         LAG(value) OVER w AS pv, LAG(epoch_ms(ts)) OVER w AS pts
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY epoch_ms(ts), value))
        |SELECT metric, series, ts,
        |       CASE WHEN ts = pts THEN 0
        |            ELSE (value - pv) / (ts - pts) * 1000 END AS rate
        |FROM p WHERE pts IS NOT NULL""".stripMargin,
    "ts_rate_counter" ->
      """WITH p AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) AS ts, value,
        |         LAG(value) OVER w AS pv, LAG(epoch_ms(ts)) OVER w AS pts
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY epoch_ms(ts), value)),
        |r AS (
        |  SELECT metric, series, ts,
        |         CASE WHEN ts = pts THEN 0
        |              ELSE ((CASE WHEN value < pv THEN value + pv ELSE value END) - pv)
        |                   / (ts - pts) * 1000 END AS raw
        |  FROM p WHERE pts IS NOT NULL)
        |SELECT metric, series, ts,
        |       CASE WHEN raw > 100 THEN 0 ELSE raw END AS rate
        |FROM r""".stripMargin,
    "ts_ewma" -> ewmaOracleSql(0.5, 8),
    // mirrors TimeSeries.holtForecast(alpha=0.5, beta=0.25): ordered list
    // aggregation + list_reduce over [level, trend] list states; l' is
    // recomputed inside the trend update with the identical expression
    "ts_holt" ->
      """WITH h AS (SELECT event_type AS metric, epoch_ms(ts) // 3600000 AS b,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT metric, list(n ORDER BY b) AS ns FROM h GROUP BY 1),
        |f AS (SELECT metric, CAST(len(ns) AS BIGINT) AS n_buckets,
        |             list_reduce(
        |               list_prepend([CAST(ns[1] AS DOUBLE), CAST(ns[2] AS DOUBLE) - CAST(ns[1] AS DOUBLE)],
        |                            list_transform(ns[3:], y -> [CAST(y AS DOUBLE), CAST(0.0 AS DOUBLE)])),
        |               (acc, p) -> [CAST(0.5 AS DOUBLE) * p[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
        |                            CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * p[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
        |                              + CAST(0.75 AS DOUBLE) * acc[2]]) AS st
        |      FROM s WHERE len(ns) >= 2)
        |SELECT metric, n_buckets, st[1] AS level, st[2] AS trend,
        |       st[1] + st[2] AS forecast_1h,
        |       st[1] + CAST(24.0 AS DOUBLE) * st[2] AS forecast_24h
        |FROM f""".stripMargin,
    // mirrors TimeSeries.holtWintersForecast(0.5, 0.25, 0.25, period=24):
    // the same rotating-buffer list_reduce — state [l, b, s1..s24], slot
    // t-24 at [3], fresh slot appended; l_t recomputed inline identically
    "ts_holt_winters" ->
      """WITH h AS (SELECT event_type AS metric, epoch_ms(ts) // 3600000 AS b,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT metric, list(n ORDER BY b) AS ns FROM h GROUP BY 1),
        |i AS (SELECT metric, ns, CAST(len(ns) AS BIGINT) AS n_buckets,
        |             CAST(list_sum(ns[1:24]) AS DOUBLE) / CAST(24 AS DOUBLE) AS l0
        |      FROM s WHERE len(ns) >= 25),
        |f AS (SELECT metric, n_buckets,
        |             list_reduce(
        |               list_prepend(
        |                 list_concat([l0, CAST(0.0 AS DOUBLE)],
        |                   list_transform(ns[1:24], x -> CAST(x AS DOUBLE) - l0)),
        |                 list_transform(ns[25:], y -> [CAST(y AS DOUBLE)])),
        |               (acc, p) -> list_concat(list_concat(
        |                 [CAST(0.5 AS DOUBLE) * (p[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
        |                  CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (p[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
        |                    + CAST(0.75 AS DOUBLE) * acc[2]],
        |                 acc[4:]),
        |                 [CAST(0.25 AS DOUBLE) * (p[1] - (CAST(0.5 AS DOUBLE) * (p[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])))
        |                    + CAST(0.75 AS DOUBLE) * acc[3]])) AS st
        |      FROM i)
        |SELECT metric, n_buckets, st[1] AS level, st[2] AS trend,
        |       st[3] AS seasonal_next,
        |       st[1] + st[2] + st[3] AS forecast_1h,
        |       st[1] + CAST(24.0 AS DOUBLE) * st[2] + st[26] AS forecast_24h
        |FROM f""".stripMargin,
    // mirrors TimeSeries.theilSen: pairwise slopes over hourly counts, lower
    // nearest-rank median pick for slope, same pick over residuals for the
    // intercept — picks are actual values, so ties cannot drift
    "ts_theil_sen" ->
      """WITH h AS (SELECT event_type AS metric, epoch_ms(ts) // 3600000 AS b,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT x.metric, CAST(y.n - x.n AS DOUBLE) / CAST(y.b - x.b AS DOUBLE) AS slope
        |      FROM h x JOIN h y ON x.metric = y.metric AND x.b < y.b),
        |sl AS (SELECT metric, n_pairs, slope FROM (
        |         SELECT metric, slope,
        |                ROW_NUMBER() OVER (PARTITION BY metric ORDER BY slope) AS rk,
        |                CAST(COUNT(*) OVER (PARTITION BY metric) AS BIGINT) AS n_pairs
        |         FROM p)
        |       WHERE rk = (n_pairs + 1) // 2),
        |r AS (SELECT h.metric, sl.n_pairs, sl.slope,
        |             CAST(h.n AS DOUBLE) - sl.slope * CAST(h.b AS DOUBLE) AS r
        |      FROM h JOIN sl USING (metric))
        |SELECT metric, n_buckets, n_pairs, slope, r AS intercept FROM (
        |  SELECT metric, n_pairs, slope, r,
        |         ROW_NUMBER() OVER (PARTITION BY metric ORDER BY r) AS rk,
        |         CAST(COUNT(*) OVER (PARTITION BY metric) AS BIGINT) AS n_buckets
        |  FROM r)
        |WHERE rk = (n_buckets + 1) // 2""".stripMargin,
    // mirrors seasonalError(24h) over the hourly exact-sum downsample: the
    // sum values are <= 6dp decimals exactly representable as doubles, so
    // the decimal re-cast in both engines is exact (no rounding ambiguity)
    "ts_seasonal_error" ->
      """WITH d AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) // 3600000 * 3600000 AS ts,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
        |  FROM events GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT c.metric, c.series, c.value, p.value AS prev_value
        |  FROM d c JOIN d p ON c.metric = p.metric AND c.series = p.series
        |                   AND c.ts = p.ts + 86400000),
        |a AS (
        |  SELECT metric, series, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(abs(CAST(value AS DECIMAL(18,6)) - CAST(prev_value AS DECIMAL(18,6)))) AS DOUBLE) AS abs_err_sum,
        |         CAST(SUM(abs(CAST(value AS DECIMAL(18,6)))) AS DOUBLE) AS abs_actual_sum
        |  FROM j GROUP BY 1, 2)
        |SELECT metric, series, n_pairs,
        |       abs_err_sum / CAST(n_pairs AS DOUBLE) AS mae,
        |       CASE WHEN abs_actual_sum > 0 THEN abs_err_sum / abs_actual_sum END AS wmape
        |FROM a""".stripMargin,
    // mirrors autocorrelation(1h, lags 1/2/24, scale 1000): exact-decimal
    // bucket avg -> fixed-point -> integer cross/marginal sums -> the pinned
    // xbar/num/den arithmetic, term for term
    "ts_autocorr" ->
      """WITH b AS (
        |  SELECT event_type AS metric,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(floor((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)) * 1000 + 0.5) AS BIGINT) AS fp
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT metric, fp,
        |         LEAD(fp, 1) OVER w AS l1, LEAD(fp, 2) OVER w AS l2,
        |         LEAD(fp, 24) OVER w AS l24
        |  FROM b WINDOW w AS (PARTITION BY metric ORDER BY bucket_ms)),
        |e AS (
        |  SELECT metric, fp, lg.lag_k,
        |         CASE lg.lag_k WHEN 1 THEN l1 WHEN 2 THEN l2 ELSE l24 END AS lk
        |  FROM l, (SELECT CAST(UNNEST([1, 2, 24]) AS BIGINT) AS lag_k) lg),
        |pl AS (
        |  SELECT metric, lag_k,
        |         CAST(SUM(CASE WHEN lk IS NOT NULL THEN fp * lk END) AS BIGINT) AS a,
        |         CAST(SUM(CASE WHEN lk IS NOT NULL THEN fp END) AS BIGINT) AS h,
        |         CAST(SUM(lk) AS BIGINT) AS t,
        |         CAST(SUM(CASE WHEN lk IS NOT NULL THEN 1 END) AS BIGINT) AS n_pairs
        |  FROM e GROUP BY 1, 2),
        |st AS (
        |  SELECT metric, COUNT(*) AS n, CAST(SUM(fp) AS BIGINT) AS m,
        |         CAST(SUM(fp * fp) AS BIGINT) AS s2
        |  FROM b GROUP BY 1),
        |x AS (SELECT pl.metric, pl.lag_k, pl.a, pl.h, pl.t, pl.n_pairs,
        |             st.n, st.s2,
        |             CAST(st.m AS DOUBLE) / CAST(st.n AS DOUBLE) / 1000.0 AS xbar
        |      FROM pl JOIN st ON pl.metric = st.metric)
        |SELECT metric, lag_k AS lag, n AS n_buckets,
        |       COALESCE(n_pairs, 0) AS n_pairs,
        |       CASE WHEN n_pairs IS NOT NULL
        |                 AND (CAST(s2 AS DOUBLE) / 1000000.0 - CAST(n AS DOUBLE) * xbar * xbar) != 0.0
        |            THEN (CAST(a AS DOUBLE) / 1000000.0 - xbar * (CAST(h + t AS DOUBLE) / 1000.0)
        |                    + CAST(n_pairs AS DOUBLE) * xbar * xbar)
        |                 / (CAST(s2 AS DOUBLE) / 1000000.0 - CAST(n AS DOUBLE) * xbar * xbar)
        |       END AS acf
        |FROM x""".stripMargin,
    // mirrors crossCorrelation(1h, lags 0/1/2, scale 1000): the same
    // fixed-point bucket series, bucket-offset join, exact moment sums over
    // the matched subset, pinned Pearson closing arithmetic
    "ts_cross_corr" ->
      """WITH b AS (
        |  SELECT event_type AS metric,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(floor((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)) * 1000 + 0.5) AS BIGINT) AS fp
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT CAST(UNNEST([0, 1, 2]) AS BIGINT) AS lag_k),
        |y AS (SELECT metric AS metric_b, bucket_ms - lag_k * 3600000 AS bucket_ms,
        |             fp AS fpy, lag_k
        |      FROM b, lg),
        |j AS (SELECT x.metric AS metric_a, y.metric_b, y.lag_k, x.fp AS fpx, y.fpy
        |      FROM b x JOIN y ON x.bucket_ms = y.bucket_ms
        |      WHERE x.metric != y.metric_b),
        |a AS (SELECT metric_a, metric_b, lag_k, COUNT(*) AS n,
        |             CAST(SUM(fpx) AS BIGINT) AS sx, CAST(SUM(fpy) AS BIGINT) AS sy,
        |             CAST(SUM(fpx * fpy) AS BIGINT) AS sxy,
        |             CAST(SUM(fpx * fpx) AS BIGINT) AS sxx,
        |             CAST(SUM(fpy * fpy) AS BIGINT) AS syy
        |      FROM j GROUP BY 1, 2, 3),
        |m AS (SELECT a.*,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 AS xm,
        |             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 AS ym
        |      FROM a),
        |v AS (SELECT m.*,
        |             CAST(sxy AS DOUBLE) / 1000000.0 - xm * (CAST(sy AS DOUBLE) / 1000.0)
        |               - ym * (CAST(sx AS DOUBLE) / 1000.0) + CAST(n AS DOUBLE) * xm * ym AS cov,
        |             CAST(sxx AS DOUBLE) / 1000000.0 - CAST(n AS DOUBLE) * xm * xm AS varx,
        |             CAST(syy AS DOUBLE) / 1000000.0 - CAST(n AS DOUBLE) * ym * ym AS vary
        |      FROM m)
        |SELECT metric_a, metric_b, lag_k AS lag, n AS n_pairs,
        |       CASE WHEN varx * vary > 0.0 THEN cov / sqrt(varx * vary) END AS xcorr
        |FROM v""".stripMargin,
    // mirrors trendReport(1h, scale 1000): same fp bucket series, gap-aware
    // integer index, exact OLS moments, pinned slope/mean arithmetic
    "ts_trend" ->
      """WITH b AS (
        |  SELECT event_type AS metric,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(floor((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)) * 1000 + 0.5) AS BIGINT) AS fp
        |  FROM events GROUP BY 1, 2),
        |t0 AS (SELECT metric, MIN(bucket_ms) AS b0 FROM b GROUP BY 1),
        |a AS (SELECT b.metric, COUNT(*) AS n,
        |             CAST(SUM((b.bucket_ms - t0.b0) // 3600000) AS BIGINT) AS st,
        |             CAST(SUM(fp) AS BIGINT) AS sy,
        |             CAST(SUM((b.bucket_ms - t0.b0) // 3600000 * fp) AS BIGINT) AS sty,
        |             CAST(SUM((b.bucket_ms - t0.b0) // 3600000 * ((b.bucket_ms - t0.b0) // 3600000)) AS BIGINT) AS stt
        |      FROM b JOIN t0 ON b.metric = t0.metric GROUP BY 1)
        |SELECT metric, n AS n_buckets,
        |       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 AS mean_value,
        |       CASE WHEN (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
        |                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) != 0.0
        |            THEN (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
        |                   - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
        |                 / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
        |                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / 1000.0
        |       END AS slope_per_bucket
        |FROM a""".stripMargin,
    // mirrors changepoint(1h, scale 1000): prefix sums over the fp bucket
    // series, every split's pinned means/shift, argmax by (|shift| DESC,
    // k ASC) — the struct aggregate's exact tie order
    "ts_changepoint" ->
      """WITH b AS (
        |  SELECT event_type AS metric,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(floor((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)) * 1000 + 0.5) AS BIGINT) AS fp
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT metric, bucket_ms, fp,
        |             CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
        |             CAST(SUM(fp) OVER w AS BIGINT) AS cum,
        |             LEAD(bucket_ms, 1) OVER w AS nxt
        |      FROM b WINDOW w AS (PARTITION BY metric ORDER BY bucket_ms)),
        |t AS (SELECT metric, COUNT(*) AS n, CAST(SUM(fp) AS BIGINT) AS s FROM b GROUP BY 1),
        |c AS (SELECT r.metric, t.n, r.k, r.nxt,
        |             CAST(r.cum AS DOUBLE) / CAST(r.k AS DOUBLE) / 1000.0 AS mb,
        |             CAST(t.s - r.cum AS DOUBLE) / CAST(t.n - r.k AS DOUBLE) / 1000.0 AS ma
        |      FROM r JOIN t ON r.metric = t.metric
        |      WHERE r.k < t.n),
        |ranked AS (SELECT *, ma - mb AS sh,
        |                  ROW_NUMBER() OVER (PARTITION BY metric
        |                    ORDER BY abs(ma - mb) DESC, k ASC) AS rk
        |           FROM c)
        |SELECT metric, n AS n_buckets, k AS n_before, nxt AS break_ms,
        |       mb AS mean_before, ma AS mean_after, sh AS shift
        |FROM ranked WHERE rk = 1""".stripMargin,
    // mirrors topSeries(sum, k=5): the two-level shard prune keeps a
    // superset of the global top-k, so the single-window rank is identical
    "ts_topn_series" ->
      """WITH per AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY metric ORDER BY value DESC, series) AS rank
        |      FROM per)
        |SELECT metric, CAST(rank AS BIGINT) AS rank, series, value
        |FROM r WHERE rank <= 5""".stripMargin,
    // mirrors gapReport(1h): per-series lag gaps + distinct-bucket coverage
    // mirrors TimeSeries.gorillaCost: same bit classes, same decimal-scaled
    // XOR codec, LAG/LAG-2 window with the (ts, value) tie-break
    "ts_gorilla_cost" ->
      """WITH p AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) AS ts, value,
        |         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS sv
        |  FROM events),
        |l AS (
        |  SELECT metric, series, ts, sv,
        |         LAG(ts) OVER w AS pts, LAG(ts, 2) OVER w AS ppts,
        |         LAG(sv) OVER w AS psv
        |  FROM p WINDOW w AS (PARTITION BY metric, series ORDER BY ts, value)),
        |b AS (
        |  SELECT metric, series,
        |         CASE WHEN pts IS NULL THEN 64
        |              WHEN ppts IS NULL THEN 14
        |              WHEN (ts - pts) - (pts - ppts) = 0 THEN 1
        |              WHEN (ts - pts) - (pts - ppts) BETWEEN -63 AND 64 THEN 9
        |              WHEN (ts - pts) - (pts - ppts) BETWEEN -255 AND 256 THEN 12
        |              WHEN (ts - pts) - (pts - ppts) BETWEEN -2047 AND 2048 THEN 16
        |              ELSE 36 END AS tb,
        |         CASE WHEN psv IS NULL THEN 64
        |              WHEN xor(sv, psv) = 0 THEN 1
        |              ELSE 13 + CASE WHEN xor(sv, psv) < 0 THEN 64
        |                             ELSE LENGTH(bin(xor(sv, psv))) END
        |         END AS vb
        |  FROM l),
        |a AS (
        |  SELECT metric, CAST(COUNT(DISTINCT series) AS BIGINT) AS n_series,
        |         CAST(COUNT(*) AS BIGINT) AS n_points,
        |         CAST(SUM(tb) AS BIGINT) AS ts_bits,
        |         CAST(SUM(vb) AS BIGINT) AS val_bits
        |  FROM b GROUP BY 1)
        |SELECT metric, n_series, n_points, n_points * 128 AS raw_bits,
        |       ts_bits, val_bits, ts_bits + val_bits AS gorilla_bits,
        |       CAST(n_points * 128 AS DOUBLE) / CAST(ts_bits + val_bits AS DOUBLE)
        |         AS compression_ratio
        |FROM a""".stripMargin,
    "ts_gap_report" ->
      """WITH p AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) AS ts,
        |         epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY event_type, user_id
        |             ORDER BY epoch_ms(ts)) AS gap
        |  FROM events),
        |a AS (
        |  SELECT metric, series, CAST(COUNT(*) AS BIGINT) AS n_points,
        |         MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |         MAX(gap) AS max_gap_ms,
        |         CAST(COUNT(DISTINCT ts - ts % 3600000) AS BIGINT) AS n_buckets
        |  FROM p GROUP BY 1, 2)
        |SELECT metric, series, n_points, first_ts, last_ts,
        |       last_ts - first_ts AS span_ms, max_gap_ms, n_buckets,
        |       ((last_ts - last_ts % 3600000) - (first_ts - first_ts % 3600000)) // 3600000 + 1 AS expected_buckets,
        |       CAST(n_buckets AS DOUBLE) /
        |         CAST(((last_ts - last_ts % 3600000) - (first_ts - first_ts % 3600000)) // 3600000 + 1 AS DOUBLE) AS coverage
        |FROM a""".stripMargin,
    "ts_downsample_p50" ->
      """WITH b AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         list_sort(list(value)) AS vs
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT metric, series, bucket_ms,
        |       vs[CAST(GREATEST(1, CEIL(0.5 * len(vs))) AS BIGINT)] AS value
        |FROM b""".stripMargin,
    // mirrors downsamplePercentile(p=0.95): nearest-rank pick = smallest
    // value with rank >= ceil(0.95 * n) in the sorted bucket sample
    "ts_downsample_p95" ->
      """WITH b AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         list_sort(list(value)) AS vs
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT metric, series, bucket_ms,
        |       vs[CAST(GREATEST(1, CEIL(0.95 * len(vs))) AS BIGINT)] AS value
        |FROM b""".stripMargin,
    "ts_moving_avg" ->
      """WITH p AS (
        |  SELECT event_type AS metric,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) AS ts, value,
        |         ROW_NUMBER() OVER w AS rn,
        |         0.2*LAG(value, 4) OVER w + 0.2*LAG(value, 3) OVER w
        |         + 0.2*LAG(value, 2) OVER w + 0.2*LAG(value, 1) OVER w
        |         + 0.2*value AS filtered
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY epoch_ms(ts), value))
        |SELECT metric, series, ts, filtered
        |FROM p WHERE rn >= 5""".stripMargin,
    "meta_suggest" ->
      """SELECT DISTINCT event_type AS metric FROM events
        |WHERE event_type LIKE '%e%' ORDER BY 1 LIMIT 25""".stripMargin,
    "meta_lookup" ->
      """SELECT DISTINCT event_type AS metric, 'user' AS tagk, CAST(user_id AS VARCHAR) AS tagv
        |FROM events
        |WHERE event_type = 'purchase' AND regexp_matches(CAST(user_id AS VARCHAR), '^1.*')
        |ORDER BY 1, 2, 3""".stripMargin,
    "meta_cardinality" ->
      """SELECT event_type AS metric, 'user' AS tagk, COUNT(DISTINCT user_id) AS cardinality
        |FROM events GROUP BY 1, 2""".stripMargin,
    "meta_report" ->
      """SELECT event_type AS metric, COUNT(*) AS points,
        |       COUNT(DISTINCT user_id) AS user_values
        |FROM events GROUP BY 1""".stripMargin,
    "points_ageoff" ->
      """WITH pts AS (
        |  SELECT event_type AS metric, epoch_ms(ts) AS ts, value,
        |         CAST(user_id AS VARCHAR) AS tag_user
        |  FROM events),
        |mx AS (SELECT MAX(ts) AS now FROM pts)
        |SELECT metric, ts, value, tag_user FROM pts, mx
        |WHERE ts >= CASE WHEN metric LIKE 'error%' THEN now - 3600000
        |                 WHEN metric LIKE 'si%' THEN now - 172800000
        |                 WHEN metric LIKE 's%' THEN now - 43200000
        |                 ELSE now - 2592000000 END""".stripMargin,
    "meta_cache_status" ->
      """SELECT event_type AS metric, MIN(epoch_ms(ts)) AS oldest_hot_ts
        |FROM events WHERE epoch_ms(ts) >= 1705276800000
        |GROUP BY 1""".stripMargin,
    "meta_ageoff" ->
      """WITH pts AS (
        |  SELECT event_type AS metric, epoch_ms(ts) AS ts, user_id FROM events),
        |mx AS (SELECT MAX(ts) AS now FROM pts),
        |live AS (
        |  SELECT DISTINCT metric FROM pts, mx
        |  WHERE ts >= CASE WHEN metric LIKE 'error%' THEN now - 3600000
        |                   WHEN metric LIKE 'si%' THEN now - 172800000
        |                   WHEN metric LIKE 's%' THEN now - 43200000
        |                   ELSE now - 2592000000 END),
        |meta AS (
        |  SELECT DISTINCT metric, 'user' AS tagk, CAST(user_id AS VARCHAR) AS tagv FROM pts)
        |SELECT m.metric, m.tagk, m.tagv FROM meta m JOIN live l ON m.metric = l.metric""".stripMargin
  )
}
