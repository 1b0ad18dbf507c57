package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VizFunctions
import graft.model.{MetricParser, MetricPoint}
import graft.operators.{Anomaly, AsOf, Funnel, Points, Sessionize, Summarization}
import graft.planner.QueryPlanner
import graft.planner.QueryPlanner.{RateOptions, SubQuery, TsQueryRequest}

/**
 * API-level queries: the OpenTSDB-style planner end-to-end, visibility
 * enforcement, Flink-parity summarization, and a put-line wire-format
 * round-trip — each against a DuckDB oracle.
 */
object ApiQueries {

  /** 2024-01-01T00:00Z .. 2024-02-03T00:00Z — covers the whole events range. */
  private val Start = 1704067200000L
  private val End = 1706918400000L

  private def points(s: SparkSession, dir: String): DataFrame =
    Points.fromEvents(Points.table(s, dir, "events"))

  /** Deterministic viz derivation for visibility tests: A / A&B / C|D by id. */
  private def withViz(events: DataFrame): DataFrame =
    events.withColumn("viz",
      element_at(array(lit("A"), lit("A&B"), lit("C|D")), (col("event_id") % 3).cast("int") + 1))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full /api/query stack: tag-less subquery -> all series collapse per
    // bucket (rate off, downsample 1h-avg, cross-series sum).
    "api_query_sum" -> ((s, dir) => {
      val req = TsQueryRequest(Start, End, msResolution = false, queries = Seq(
        SubQuery(aggregator = "sum", metric = "purchase", downsample = Some("1h-avg"))))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).head
        .select(col("metric"), col("ts_out"), col("value"))
    }),
    // Regex tag filter + rate-before-downsample + max aggregator.
    "api_query_rate_max" -> ((s, dir) => {
      val req = TsQueryRequest(Start, End, msResolution = true, queries = Seq(
        SubQuery(aggregator = "max", metric = "view", rate = true,
          rateOptions = RateOptions(interval = Some("1h")),
          downsample = Some("1h-max"), tags = Map("user" -> "1.*"))))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).head
        .select(col("metric"), col("group_tags").getItem("user").as("tag_user"),
          col("ts_out"), col("value"))
    }),
    // Visibility enforcement through the native Catalyst expression.
    "api_viz_filter" -> ((s, dir) => {
      withViz(Points.table(s, dir, "events"))
        .where(VizFunctions.vizVisible(col("viz"), lit("A,C")))
        .select(col("event_id"), col("viz"), col("value"))
    }),
    // Flink-parity daily histogram summarization (count/min/max/sum/avg +
    // nearest-rank percentiles).
    "api_summarize_1d" -> ((s, dir) => Summarization.summarize(points(s, dir), 86400000L)),
    // Point-in-time attribution: each purchase joined as-of to the user's
    // latest view at or before it (inclusive; view_* null when none) — the
    // union-and-sweep as-of join, one shuffle on user_id.
    "events_asof_attrib" -> ((s, dir) => {
      // ms timestamps on both engines: DuckDB truncates parquet NANOS to its
      // native microsecond timestamp, so raw-ns values can never hash-match
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms").as("ts"), col("value"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_event_id"),
          col("ts_ms").as("view_ts"), col("value").as("view_value"))
      AsOf.asofJoin(purchases, views, Seq("user_id"), "ts", "view_ts", "view_event_id")
    }),
    // MULTI-TABLE point-in-time join: each purchase picks up its user's
    // latest prior view AND latest prior click in one composed pass — the
    // PIT feature-assembly shape (k feature tables = k chained as-of joins,
    // each one user-keyed shuffle, no range-join amplification)
    "events_asof_multi" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms").as("ts"), col("value"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_event_id"),
          col("ts_ms").as("view_ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_event_id"),
          col("ts_ms").as("click_ts"))
      val withView = AsOf.asofJoin(purchases, views, Seq("user_id"),
        "ts", "view_ts", "view_event_id")
      AsOf.asofJoin(withView, clicks, Seq("user_id"),
        "ts", "click_ts", "click_event_id")
    }),
    // CUPED variance-reduced A/B readout on the parity split: pre-period
    // event count as the covariate, pooled theta, adjusted post means
    "events_cuped" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000"))
        .withColumn("variant", when(col("user_id") % 2 === 0, "control").otherwise("treat"))
      Funnel.cupedReport(ev, "variant")
    }),
    // Strict-order conversion funnel: first signup, first view within 24h
    // after it, first purchase within 24h after that — per user
    "events_funnel" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.funnel(ev, "user_id", "ts_ms", "event_type",
        Seq("signup", "view", "purchase"), horizonMs = 86400000L)
    }),
    // step-conversion report over the SAME funnel: per step the reach
    // count, conversion from the previous step, and its Wilson lower bound
    "events_funnel_rates" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.funnelRates(ev, "user_id", "ts_ms", "event_type",
        Seq("signup", "view", "purchase"), horizonMs = 86400000L)
    }),
    // Position-based multi-touch attribution: each purchase credits its
    // prior-7-day click/view touches 4000/2000/4000 basis points
    // (first/middles/last), integer remainder to the earliest middles —
    // credits per conversion sum to exactly 10000
    "events_attribution_multi" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.attributionMulti(ev, "user_id", "ts_ms", "event_id", "event_type",
        convType = "purchase", touchTypes = Seq("click", "view"),
        lookbackMs = 604800000L)
    }),
    // Cohort retention grid: users by first-activity day x return-day offset
    "events_retention" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.retention(ev, "user_id", "ts_ms")
    }),
    // Gap-based sessionization rollup: 6h-gap sessions per user (one
    // sessionization shuffle + one rollup exchange; session identity is the
    // deterministic per-user sequence number, no global counter).
    "events_sessions" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Sessionize.sessionStats(ev, "user_id", "ts_ms", "event_id",
        gapMs = 21600000L, valueCol = "value")
    }),
    // Peak concurrent 1h-gap sessions per day: two-level sweep line (hour-
    // partial prefix maxima + a <=24-row day combine) — no global sort
    "events_concurrency" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Sessionize.concurrency(ev, "user_id", "ts_ms", "event_id", gapMs = 3600000L)
    }),
    // Deterministic z-score outliers per event_type: exact-decimal first
    // moments, fixed-order double variance, broadcast stats vs the scan
    "events_zscore_outliers" -> ((s, dir) =>
      Anomaly.zscoreOutliers(Points.table(s, dir, "events"), threshold = 3.0)),
    // robust variant: median/MAD flags survive contaminated moments — no
    // accumulation anywhere, so no decimal quantization is even needed
    "events_outliers_mad" -> ((s, dir) =>
      Anomaly.madOutliers(Points.table(s, dir, "events"), threshold = 3.0)),
    // day-over-day volume trend: counts collapse map-side, the lag window
    // runs over the tiny (type, day) frame — the monitoring view
    "events_daily_trend" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.dailyTrend(ev, "event_type", "ts_ms")
    }),
    // trailing-7-day exact distinct actors per (type, day): contribution
    // explode (factor 7) + ONE distinct-count aggregate — the WAU view;
    // no window function can express a sliding COUNT DISTINCT
    "events_rolling_uniques" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.rollingUniques(ev, "event_type", "ts_ms", "user_id", windowDays = 7)
    }),
    // the 100 TB scale path for rolling uniques: per-(type, day) HLL
    // registers merged register-wise-MAX across the trailing window —
    // window cost independent of actor cardinality; exact count beside it
    "events_rolling_hll" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      graft.operators.Sketches.rollingHllUniques(ev, "event_type", "ts_ms", "user_id")
    }),
    // audience overlap between event types: distinct-actor intersection +
    // Jaccard per type pair — actor-keyed join, <= C(types,2) rows per user
    "events_type_overlap" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events")
      Funnel.typeOverlap(ev)
    }),
    // anomaly-flag run lengths over the volume bands (gaps-and-islands):
    // the alert-fatigue report — one incident per run, however long
    "events_flag_runs" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Anomaly.flagRuns(ev, "event_type", "ts_ms")
    }),
    // weekday x hour traffic heatmap per type: the capacity-planning /
    // cron-forensics grid — integer cells + one pinned share division
    "events_weekday_profile" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.weekdayProfile(ev, "event_type", "ts_ms")
    }),
    // Bollinger-style volume bands: each hour vs the trailing 24 FULL
    // buckets' mean +- 2 sigma (self excluded) — rolling-regime anomaly
    // view; integer window sums, pinned double expressions per row
    "events_volume_bands" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Anomaly.volumeBands(ev, "event_type", "ts_ms")
    }),
    // seasonal-naive (same hour yesterday) baseline error per type: the
    // accuracy floor a real forecaster must beat; exact integer errors,
    // one pinned double division each for MAE and WAPE
    "events_forecast_error" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Anomaly.seasonalNaiveError(ev, "event_type", "ts_ms")
    }),
    // per-(type, day) top-3 contributors by event count: map-side-combined
    // counts + the k-bounded topk aggregate — no corpus-sized rank window
    "events_heavy_hitters" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.heavyHitters(ev, "event_type", "ts_ms", "user_id", k = 3)
    }),
    // Crawler/bot screen: per-user exact inter-arrival stats (integer
    // microseconds) + burst/cadence thresholds — one user-keyed shuffle
    "events_bot_flag" -> ((s, dir) =>
      Anomaly.botFlag(Points.table(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000")))),
    // hour-of-day entropy per type: the one-number temporal-concentration
    // audit (cron/bot traffic reads near 0, organic near ln 24); ln terms
    // DECIMAL(28,12)-quantized so the 24-cell sum is engine-exact
    "events_hour_entropy" -> ((s, dir) =>
      Funnel.hourEntropy(Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000")))),
    // per-user inter-event gap profile: exact-integer nearest-rank
    // median/p95 over per-user windows — the distribution the binary bot
    // tells are thresholds of
    "events_interarrival" -> ((s, dir) =>
      Anomaly.interarrival(Points.table(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000")))),
    // Goh–Barabási burstiness + CV per user over the same gap sequence:
    // sorted-fold moment sums, pinned (mu, sigma, B) closing expressions —
    // the metronome-vs-organic-vs-bursty axis of the bot screens
    "events_burstiness" -> ((s, dir) =>
      Anomaly.burstiness(Points.table(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000")))),
    // first-order Markov transitions between event types: per-user lag
    // window, then counts + probabilities over the tiny (type x type) frame
    "events_path_transitions" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.pathTransitions(ev, "user_id", "ts_ms", "event_id", "event_type")
    }),
    // path-diversity bot tell: per-user transition Gini (exact integer
    // sums, no log) over a planted low-entropy cohort — every 10th user's
    // events collapse to one type, gini 0, flagged
    "events_user_gini" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000"))
        .withColumn("event_type",
          when(col("user_id") % 10 === 0, lit("ping")).otherwise(col("event_type")))
      Funnel.userPathGini(ev, "user_id", "ts_ms", "event_id", "event_type")
    }),
    // multiwindow SLO burn rate: hourly error share over 1h and rolling-6h
    // RANGE windows vs a 10% budget; alert fires only when BOTH burn past 2x
    "events_slo_burn" -> ((s, dir) =>
      Anomaly.sloBurnRate(Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000")))),
    // hourly CTR with the Wilson 95% lower bound — the low-volume-honest
    // ratio a ranking or alerting rule should threshold instead of p
    "events_ctr_wilson" -> ((s, dir) =>
      Funnel.ctrWilson(Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000")))),
    // Poisson dispersion index per event type: variance-to-mean of hourly
    // arrival counts (exact DECIMAL moments, pinned close) — the arrival-
    // process fingerprint behind the seasonal/burstiness screens
    "events_dispersion" -> ((s, dir) =>
      Anomaly.dispersionIndex(Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000")))),
    // seasonal-baseline volume anomalies: hourly counts vs the (dow, hour)
    // cell mean, cross-multiplied integer comparisons — no division anywhere
    "events_seasonal_anomaly" -> ((s, dir) =>
      Anomaly.seasonalAnomaly(Points.table(s, dir, "events")
        .withColumn("ts_ms", expr("ts div 1000000")))),
    // stationary distribution of the event-type Markov chain: 6 integer
    // fixed-point power steps over the transition counts, self-loops for
    // absorbing states — bit-exact vs the unrolled replay
    "events_markov_stationary" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.markovStationary(ev, "user_id", "ts_ms", "event_id", "event_type")
    }),
    // top-50 3-step user paths: two lag columns on the bigram window, count
    // over the types^3-bounded frame, total-order rank
    "events_path_trigrams" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.pathTrigrams(ev, "user_id", "ts_ms", "event_id", "event_type")
    }),
    // weekly churn off the same cohort machinery: (user, week) distinct +
    // one (user, week+1) self-join; last week flagged unjudgeable
    "events_churn" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.churn(ev)
    }),
    // hour-of-day x day-of-week traffic heatmap (epoch-day mod 7, day 0 =
    // Thursday — an integer convention, no timezone machinery)
    "events_seasonality" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.seasonality(ev)
    }),
    // new-vs-returning daily split off the retention cohort machinery:
    // first-seen day per user, day-level rollup, no window
    "events_new_users" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.newVsReturning(ev)
    }),
    // log2 time-to-convert histogram: carry-forward last-touch window per
    // user, integer digit-count banding — the attribution-window evidence
    "events_time_to_convert" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.timeToConvert(ev)
    }),
    // DAU / rolling-28d-MAU stickiness: exact rolling distinct via the
    // (user, day) explode onto window-end days — no sketch, no day scan
    "events_stickiness" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.stickiness(ev)
    }),
    // concentration (Lorenz) report: event share of the top pct% users —
    // the skew evidence behind rate limits and source caps; computed on the
    // compact per-count-value rollup, exact integers until the one division
    "events_pareto" -> ((s, dir) =>
      Funnel.paretoReport(Points.table(s, dir, "events"))),
    // cohort LTV curves: first-conversion-day cohorts x day offsets with
    // exact-decimal revenue and the running cumulative — retention's
    // revenue sibling (the payback-period view)
    "events_cohort_ltv" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.cohortLtv(ev)
    }),
    // RFM segmentation base per purchasing user, recency anchored to the
    // data's own last conversion day (deterministic at any SF)
    "events_rfm" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Funnel.rfm(ev)
    }),
    // one-row A/B readout on the planted parity split: exact counts, pinned
    // pooled-z double expression
    "events_ab_report" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events")
        .withColumn("variant", when(col("user_id") % 2 === 0, "control").otherwise("treat"))
      Funnel.abReport(ev, "variant")
    }),
    // sample-ratio-mismatch integrity check over a deliberately skewed
    // split (user_id % 3 treat vs a designed 50/50): chi2 past 3.841 flags
    "events_srm" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 3 === 0, "treat").otherwise("control"))
      Funnel.srmCheck(ev)
    }),
    // CUSUM drift over daily per-type volumes: exact integer prefix sums,
    // one pinned double deviation expression — the slow-ramp detector
    "events_cusum" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Anomaly.cusumDrift(ev, "event_type", "ts_ms", threshold = 3.0)
    }),
    // log2-bucket user-activity histogram: integer digit-count bucketing,
    // no window — the volume-concentration view without a Lorenz sort
    "events_activity_hist" -> ((s, dir) =>
      Funnel.activityHistogram(Points.table(s, dir, "events"))),
    // SLIDING 1h windows every 15min (each event in exactly 4 windows):
    // map-side explode factor 4 + ONE (type, window) aggregate — the
    // overlapping-window view the tumbling family can't express
    "events_sliding_window" -> ((s, dir) => {
      val ev = Points.table(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
      Sessionize.slidingCounts(ev, "event_type", "ts_ms", "user_id",
        windowMs = 3600000L, slideMs = 900000L)
    }),
    // Semi-structured extraction: pull the numeric `k` out of the JSON-ish
    // props string with a regex (portable to the oracle without a JSON
    // extension) and aggregate per decade bucket.
    "api_props_extract" -> ((s, dir) => {
      Points.table(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(regexp_extract(props, '\"k\": (\\\\d+)', 1) AS BIGINT)").as("k"),
          col("value"))
        .where(col("k").isNotNull)
        .groupBy(col("event_type"), expr("k div 10 * 10").as("k_decade"))
        .agg(count(lit(1)).as("n"), (sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("avg_value"))
    }),
    // Wire-format round trip: points -> put lines -> MetricParser -> points.
    // Exercises the ingest parser inside the correctness gate.
    "api_putline_roundtrip" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      points(s, dir).as[MetricPoint]
        .map(p => MetricParser.format(p))
        .map(l => MetricParser.parse(l).getOrElse(sys.error(s"unparseable: $l")))
        .toDF()
        .select(col("metric"), col("ts"), col("value"),
          col("tags").getItem("user").as("tag_user"))
    }),
    // aggregator=none end-to-end: no downsample (1 ms passthrough), no
    // cross-series collapse — one output row per (series, ts), group_tags =
    // the full tag set (reference DataStore.java:741-751: "none" skips the
    // AggregationIterator entirely).
    "api_query_none" -> ((s, dir) => {
      val req = TsQueryRequest(Start, End, msResolution = true, queries = Seq(
        SubQuery(aggregator = "none", metric = "signup")))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).head
        .select(col("metric"), col("group_tags").getItem("user").as("tag_user"),
          col("ts_out"), col("value"))
    }),
    // Sub-second dps keys at SECOND resolution: aggregator=none (1 ms
    // passthrough buckets) + msResolution=false divides bucket_ms by 1000, so
    // several samples collide on one response key. The reference's dps
    // LinkedHashMap keeps the LAST sample of a colliding second
    // (QueryResponse.java:18,60; DataStore.java:852-854) — pinned here via
    // the collapse re-aggregation in QueryPlanner.withResponseTs.
    "api_query_subsec" -> ((s, dir) => {
      val req = TsQueryRequest(Start, End, msResolution = false, queries = Seq(
        SubQuery(aggregator = "none", metric = "signup")))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).head
        .select(col("metric"), col("group_tags").getItem("user").as("tag_user"),
          col("ts_out"), col("value"))
    }),
    // Rate with counterMax > 0 (RateIterator.java:78-89: on decrease the new
    // value is bumped by counterMax, not the previous value).
    "api_rate_countermax" -> ((s, dir) => {
      val req = TsQueryRequest(Start, End, msResolution = true, queries = Seq(
        SubQuery(aggregator = "max", metric = "click", rate = true,
          rateOptions = RateOptions(counter = true, counterMax = 100000L, interval = Some("1h")),
          downsample = Some("1h-max"), tags = Map("user" -> "1.*"))))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).head
        .select(col("metric"), col("group_tags").getItem("user").as("tag_user"),
          col("ts_out"), col("value"))
    }),
    // Multi-subquery request: both subqueries planned from ONE TsQueryRequest
    // (the reference splices all SubQuery responses into a single array —
    // QueryRequest.java:219-234, DataStore.java:645-662).
    "api_query_multi" -> ((s, dir) => {
      val req = TsQueryRequest(Start, End, msResolution = false, queries = Seq(
        SubQuery(aggregator = "sum", metric = "purchase", downsample = Some("1d-avg")),
        SubQuery(aggregator = "max", metric = "view", downsample = Some("1d-max"))))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).zipWithIndex
        .map { case (df, i) =>
          df.select(lit(i.toLong).as("q_idx"), col("metric"), col("ts_out"), col("value"))
        }
        .reduce(_.unionAll(_))
    }),
    // GET-form m= subquery string through the full grammar
    // (QueryRequest.java:515-627): agg : rate{counter,interval,max,reset} :
    // dur-agg : metric {groupBy}{tags} — the reference's GET option order
    // (interval at position 1, bare numbers are ms) and its two-block tag
    // grammar, where only the SECOND block filters (the first becomes
    // ignored groupBy filter clauses). Here: counter, interval 50000 ms,
    // counterMax 1000, tags user=3.*.
    "api_query_getform" -> ((s, dir) => {
      val sub = graft.planner.QueryJson.parseMQuery(
        "avg:rate{counter,50000,1000}:2h-avg:view{user=3.*}{user=3.*}")
      val req = TsQueryRequest(Start, End, msResolution = false, queries = Seq(sub))
      QueryPlanner.plan(points(s, dir), req, auths = Seq.empty).head
        .select(col("metric"), col("group_tags").getItem("user").as("tag_user"),
          col("ts_out"), col("value"))
    }),
    // S5 FlatBuffers batch ingest round trip: points -> per-partition Metrics
    // buffers (100-point batches) -> the put decoder's frame decode -> points.
    // Same oracle shape as the put-line round trip: the wire format must be
    // lossless.
    "api_fb_roundtrip" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      points(s, dir).as[MetricPoint]
        .mapPartitions(_.grouped(100).map(g => graft.model.MetricsFlatBuffer.encode(g)))
        .flatMap(bytes => MetricParser.frame(bytes).points)
        .toDF()
        .select(col("metric"), col("ts"), col("value"),
          col("tags").getItem("user").as("tag_user"))
    }),
    // KMV distinct sketch per event type over the (unique) event ids: k=64
    // minimum 60-bit md5 hashes -> density estimate, exact audit column.
    // Element cardinality (~200/2k/20k per type across SFs) keeps the
    // estimator branch live at every SF the driver runs.
    "sketch_kmv" -> ((s, dir) =>
      graft.operators.Sketches.kmvDistinct(
        Points.table(s, dir, "events"), "event_type", "event_id", k = 64)),
    // HLL-256 raw estimator per event type (register build + sorted-fold
    // harmonic sum); raw regime holds at sf0.01+ (distinct > 2.5m);
    // below it the pinned raw bias shows up in the exact audit column.
    "sketch_hll" -> ((s, dir) =>
      graft.operators.Sketches.hllDistinct(
        Points.table(s, dir, "events"), "event_type", "event_id")),
    // Count-min 4x1024 frequency estimates for the exact top-20 users:
    // cms_n >= exact_n by construction (collision over-count only).
    "sketch_cms" -> ((s, dir) =>
      graft.operators.Sketches.cmsTopK(
        Points.table(s, dir, "events"), "user_id", depth = 4, width = 1024,
        nCandidates = 20)),
    // q-digest-lite mergeable quantile sketch per event type: <= 64 longs of
    // power-of-2 bucket state, upper-bound p50/p95/p99 estimates, exact
    // rank-coverage audit columns.
    "sketch_qdigest" -> ((s, dir) =>
      graft.operators.Sketches.qdigestQuantiles(
        Points.table(s, dir, "events"), "event_type", "value")),
    // AMS tug-of-war F2 (self-join size of user_id): 16 ±1-counters, lower-
    // median-of-squares estimate, exact F2 audit — the join-size pricer
    "sketch_ams_f2" -> ((s, dir) =>
      graft.operators.Sketches.amsF2(
        Points.table(s, dir, "events"), "user_id", r = 16)),
    // theta-sketch set intersection: audience overlap between every pair
    // of event types from 64-min KMV sketches, exact pairwise audit
    "sketch_kmv_intersect" -> ((s, dir) =>
      graft.operators.Sketches.kmvIntersect(
        Points.table(s, dir, "events"), "event_type", "user_id", k = 64)),
    // theta-sketch set ALGEBRA: union + both differences per event-type
    // pair from the same 64-min sketches, exact Venn audit columns
    "sketch_kmv_setops" -> ((s, dir) =>
      graft.operators.Sketches.kmvSetOps(
        Points.table(s, dir, "events"), "event_type", "user_id", k = 64))
  )

  /** DuckDB BIGINT value of the first `n` hex digits of md5 expression `m`
    * starting at digit `from` — the portable `conv()` (strpos polynomial). */
  private def hexPoly(m: String, from: Int, n: Int): String =
    (0 until n).map { i =>
      s"(strpos('0123456789abcdef', substr($m, ${from + i}, 1)) - 1) * ${1L << (4 * (n - 1 - i))}"
    }.mkString("(", "\n               + ", ")")

  /** The strict-order funnel oracle, shared verbatim by `events_funnel`
    * and (as a subquery) `events_funnel_rates` so the two cannot drift. */
  private val FunnelOracleSql =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |s1 AS (SELECT user_id, MIN(ts_ms) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT s1.user_id, MIN(e.ts_ms) AS t2 FROM s1 JOIN e ON e.user_id = s1.user_id
      |       AND e.event_type = 'view' AND e.ts_ms > s1.t1 AND e.ts_ms <= s1.t1 + 86400000 GROUP BY 1),
      |s3 AS (SELECT s2.user_id, MIN(e.ts_ms) AS t3 FROM s2 JOIN e ON e.user_id = s2.user_id
      |       AND e.event_type = 'purchase' AND e.ts_ms > s2.t2 AND e.ts_ms <= s2.t2 + 86400000 GROUP BY 1)
      |SELECT s1.user_id, t1, t2, t3,
      |       CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |              + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps_reached
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "api_query_sum" ->
      """WITH d AS (
        |  SELECT 'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |  GROUP BY 1, 2),
        |l1 AS (
        |  SELECT bucket_ms,
        |         ((strpos('0123456789abcdef', substr(md5(series), 1, 1)) - 1) * 16
        |          + strpos('0123456789abcdef', substr(md5(series), 2, 1)) - 1) % 64 AS shard,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))), (acc, v) -> acc + v) AS psum
        |  FROM d GROUP BY 1, 2)
        |SELECT 'purchase' AS metric, bucket_ms // 1000 AS ts_out,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(psum))), (acc, v) -> acc + v) AS value
        |FROM l1 GROUP BY 2""".stripMargin,
    "api_query_rate_max" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ms(ts) AS ts, value,
        |         LAG(value) OVER w AS pv, LAG(epoch_ms(ts)) OVER w AS pts
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |    AND regexp_matches(CAST(user_id AS VARCHAR), '^(?:1.*)$')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), value)),
        |r AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts = pts THEN 0
        |              ELSE (value - pv) / (ts - pts) * 3600000 END AS value
        |  FROM p WHERE pts IS NOT NULL),
        |d AS (
        |  SELECT user_id, ts // 3600000 * 3600000 AS ts_out, MAX(value) AS value
        |  FROM r GROUP BY 1, 2)
        |SELECT 'view' AS metric, CAST(user_id AS VARCHAR) AS tag_user, ts_out,
        |       MAX(value) AS value
        |FROM d GROUP BY 1, 2, 3""".stripMargin,
    "api_viz_filter" ->
      """SELECT event_id,
        |       ['A', 'A&B', 'C|D'][CAST(event_id % 3 AS INT) + 1] AS viz,
        |       value
        |FROM events
        |WHERE event_id % 3 IN (0, 2)""".stripMargin,
    "api_summarize_1d" ->
      """SELECT event_type || '_summarized' AS metric,
        |       epoch_ms(ts) // 86400000 * 86400000 AS window_ms,
        |       COUNT(value) AS cnt,
        |       MIN(value) AS vmin,
        |       MAX(value) AS vmax,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS vsum,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS vavg,
        |       list_sort(list(value))[CAST(ceil(0.50 * COUNT(value)) AS INT)] AS p50,
        |       list_sort(list(value))[CAST(ceil(0.75 * COUNT(value)) AS INT)] AS p75,
        |       list_sort(list(value))[CAST(ceil(0.90 * COUNT(value)) AS INT)] AS p90,
        |       list_sort(list(value))[CAST(ceil(0.99 * COUNT(value)) AS INT)] AS p99
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "api_query_none" ->
      """SELECT event_type AS metric, CAST(user_id AS VARCHAR) AS tag_user,
        |       epoch_ms(ts) AS ts_out,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value
        |FROM events
        |WHERE event_type = 'signup'
        |  AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |GROUP BY 1, 2, 3""".stripMargin,
    "api_query_subsec" ->
      """WITH d AS (
        |  SELECT event_type AS metric, CAST(user_id AS VARCHAR) AS tag_user,
        |         epoch_ms(ts) AS bucket_ms,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value
        |  FROM events
        |  WHERE event_type = 'signup'
        |    AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |  GROUP BY 1, 2, 3)
        |SELECT metric, tag_user, bucket_ms // 1000 AS ts_out,
        |       max_by(value, bucket_ms) AS value
        |FROM d GROUP BY 1, 2, 3""".stripMargin,
    "api_rate_countermax" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ms(ts) AS ts, value,
        |         LAG(value) OVER w AS pv, LAG(epoch_ms(ts)) OVER w AS pts
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |    AND regexp_matches(CAST(user_id AS VARCHAR), '^(?:1.*)$')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), value)),
        |r AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts = pts THEN 0
        |              ELSE ((CASE WHEN value < pv THEN value + 100000 ELSE value END) - pv)
        |                   / (ts - pts) * 3600000 END AS value
        |  FROM p WHERE pts IS NOT NULL),
        |d AS (
        |  SELECT user_id, ts // 3600000 * 3600000 AS ts_out, MAX(value) AS value
        |  FROM r GROUP BY 1, 2)
        |SELECT 'click' AS metric, CAST(user_id AS VARCHAR) AS tag_user, ts_out,
        |       MAX(value) AS value
        |FROM d GROUP BY 1, 2, 3""".stripMargin,
    "api_query_multi" ->
      """WITH d0 AS (
        |  SELECT 'user=' || CAST(user_id AS VARCHAR) AS series,
        |         epoch_ms(ts) // 86400000 * 86400000 AS bucket_ms,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |  GROUP BY 1, 2),
        |l0 AS (
        |  SELECT bucket_ms,
        |         ((strpos('0123456789abcdef', substr(md5(series), 1, 1)) - 1) * 16
        |          + strpos('0123456789abcdef', substr(md5(series), 2, 1)) - 1) % 64 AS shard,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))), (acc, v) -> acc + v) AS psum
        |  FROM d0 GROUP BY 1, 2)
        |SELECT CAST(0 AS BIGINT) AS q_idx, 'purchase' AS metric,
        |       bucket_ms // 1000 AS ts_out,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(psum))), (acc, v) -> acc + v) AS value
        |FROM l0 GROUP BY 3
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'view',
        |       epoch_ms(ts) // 86400000 * 86400000 // 1000, MAX(value)
        |FROM events
        |WHERE event_type = 'view'
        |  AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |GROUP BY 3""".stripMargin,
    "api_query_getform" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ms(ts) AS ts, value,
        |         LAG(value) OVER w AS pv, LAG(epoch_ms(ts)) OVER w AS pts
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_ms(ts) BETWEEN 1704067200000 AND 1706918400000
        |    AND regexp_matches(CAST(user_id AS VARCHAR), '^(?:3.*)$')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), value)),
        |r AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts = pts THEN 0
        |              ELSE ((CASE WHEN value < pv THEN value + 1000 ELSE value END) - pv)
        |                   / (ts - pts) * 50000 END AS value
        |  FROM p WHERE pts IS NOT NULL),
        |d AS (
        |  SELECT user_id, ts // 7200000 * 7200000 AS bucket_ms,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))), (acc, v) -> acc + v)
        |           / COUNT(value) AS value
        |  FROM r GROUP BY 1, 2)
        |SELECT 'view' AS metric, CAST(user_id AS VARCHAR) AS tag_user,
        |       bucket_ms // 1000 AS ts_out, value
        |FROM d""".stripMargin,
    "api_putline_roundtrip" ->
      """SELECT event_type AS metric, epoch_ms(ts) AS ts, value,
        |       CAST(user_id AS VARCHAR) AS tag_user
        |FROM events""".stripMargin,
    "api_fb_roundtrip" ->
      """SELECT event_type AS metric, epoch_ms(ts) AS ts, value,
        |       CAST(user_id AS VARCHAR) AS tag_user
        |FROM events""".stripMargin,
    "events_asof_attrib" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts, value FROM events WHERE event_type = 'purchase'),
        |views AS (
        |  SELECT user_id, event_id AS view_event_id, epoch_ms(ts) AS view_ts, value AS view_value
        |  FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts, p.value, v.view_event_id, v.view_ts, v.view_value
        |FROM purchases p LEFT JOIN LATERAL (
        |  SELECT view_event_id, view_ts, view_value FROM views v
        |  WHERE v.user_id = p.user_id AND v.view_ts <= p.ts
        |  ORDER BY v.view_ts DESC, v.view_event_id DESC LIMIT 1) v ON true""".stripMargin,
    // chained PIT joins: DuckDB replays each as-of with a LATERAL top-1
    // (largest ts, then largest tie-break id — the window's last-wins order)
    "events_asof_multi" ->
      """WITH purchases AS (SELECT event_id, user_id, epoch_ms(ts) AS ts, value
        |                   FROM events WHERE event_type = 'purchase'),
        |views AS (SELECT user_id, event_id AS view_event_id, epoch_ms(ts) AS view_ts
        |          FROM events WHERE event_type = 'view'),
        |clicks AS (SELECT user_id, event_id AS click_event_id, epoch_ms(ts) AS click_ts
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.view_event_id, v.view_ts, c.click_event_id, c.click_ts
        |FROM purchases p
        |LEFT JOIN LATERAL (
        |  SELECT view_event_id, view_ts FROM views v
        |  WHERE v.user_id = p.user_id AND v.view_ts <= p.ts
        |  ORDER BY v.view_ts DESC, v.view_event_id DESC LIMIT 1) v ON true
        |LEFT JOIN LATERAL (
        |  SELECT click_event_id, click_ts FROM clicks c
        |  WHERE c.user_id = p.user_id AND c.click_ts <= p.ts
        |  ORDER BY c.click_ts DESC, c.click_event_id DESC LIMIT 1) c ON true""".stripMargin,
    // mirrors Funnel.cupedReport: integer per-user pre/post counts at the
    // data-derived midpoint day, DECIMAL(38,0) moment sums, pinned theta
    // and adjusted-mean chains
    "events_cuped" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |                  CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treat' END AS variant
        |           FROM events),
        |md AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM e),
        |u AS (SELECT variant, user_id,
        |             CAST(SUM(CASE WHEN day < md.mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |             CAST(SUM(CASE WHEN day >= md.mid THEN 1 ELSE 0 END) AS BIGINT) AS y
        |      FROM e CROSS JOIN md GROUP BY 1, 2),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
        |             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
        |      FROM u),
        |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |             CAST(SUM(x) AS BIGINT) AS vx, CAST(SUM(y) AS BIGINT) AS vy
        |      FROM u GROUP BY 1),
        |t AS (SELECT m.*,
        |        CASE WHEN CAST(m.n AS DECIMAL(38,0)) * m.sxx
        |                  - CAST(m.sx AS DECIMAL(38,0)) * m.sx != 0 THEN
        |          CAST(CAST(m.n AS DECIMAL(38,0)) * m.sxy
        |               - CAST(m.sx AS DECIMAL(38,0)) * m.sy AS DOUBLE)
        |            / CAST(CAST(m.n AS DECIMAL(38,0)) * m.sxx
        |               - CAST(m.sx AS DECIMAL(38,0)) * m.sx AS DOUBLE)
        |        END AS theta
        |      FROM m)
        |SELECT v.variant, v.n_users,
        |       CAST(v.vx AS DOUBLE) / CAST(v.n_users AS DOUBLE) AS mean_pre,
        |       CAST(v.vy AS DOUBLE) / CAST(v.n_users AS DOUBLE) AS mean_post,
        |       t.theta,
        |       (CAST(v.vy AS DOUBLE) / CAST(v.n_users AS DOUBLE))
        |         - COALESCE(t.theta, CAST(0.0 AS DOUBLE))
        |           * ((CAST(v.vx AS DOUBLE) / CAST(v.n_users AS DOUBLE))
        |              - (CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE))) AS mean_adjusted
        |FROM v CROSS JOIN t""".stripMargin,
    "events_funnel" -> FunnelOracleSql,
    // rates over the SAME funnel SQL (shared literal so the two gates
    // cannot drift): threshold counts, conversion, ctr_wilson's exact
    // Wilson chain with n = previous-step reach
    "events_funnel_rates" ->
      s"""WITH f AS (SELECT * FROM ($FunnelOracleSql)),
         |c AS (SELECT CAST(SUM(CASE WHEN steps_reached >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |             CAST(SUM(CASE WHEN steps_reached >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |             CAST(SUM(CASE WHEN steps_reached >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
         |      FROM f),
         |r AS (
         |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_type, n1 AS n_reached,
         |         CAST(NULL AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS np FROM c
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), 'view', n2,
         |         CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END,
         |         CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) END FROM c
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 'purchase', n3,
         |         CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) END,
         |         CASE WHEN n2 > 0 THEN CAST(n2 AS DOUBLE) END FROM c)
         |SELECT step, step_type, n_reached, p AS conv_from_prev,
         |       (p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (np * 2.0)
         |          - 1.96 * sqrt(p * (1.0 - p) / np + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (np * np * 4.0)))
         |         / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / np) AS wilson_low
         |FROM r""".stripMargin,
    "events_attribution_multi" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        |conv AS (SELECT event_id AS conv_event_id, user_id, ts_ms AS conv_ts
        |         FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS touch_event_id, user_id, event_type AS touch_type, ts_ms AS touch_ts
        |      FROM e WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.conv_event_id, c.user_id, c.conv_ts, t.touch_event_id, t.touch_type, t.touch_ts
        |      FROM conv c JOIN t ON t.user_id = c.user_id
        |        AND t.touch_ts < c.conv_ts AND t.touch_ts >= c.conv_ts - 604800000),
        |r AS (SELECT *,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY conv_event_id ORDER BY touch_ts, touch_event_id) AS BIGINT) AS touch_rank,
        |        COUNT(*) OVER (PARTITION BY conv_event_id) AS n_touches
        |      FROM j)
        |SELECT conv_event_id, user_id, conv_ts, touch_event_id, touch_type, touch_ts,
        |       touch_rank, n_touches,
        |       CAST(CASE WHEN n_touches = 1 THEN 10000
        |                 WHEN n_touches = 2 THEN 5000
        |                 WHEN touch_rank = 1 OR touch_rank = n_touches THEN 4000
        |                 ELSE 2000 // (n_touches - 2)
        |                      + (CASE WHEN touch_rank - 1 <= 2000 % (n_touches - 2)
        |                              THEN 1 ELSE 0 END)
        |            END AS BIGINT) AS credit_bp
        |FROM r""".stripMargin,
    "events_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset, COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |m AS (
        |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 21600000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM m)
        |SELECT user_id, session_seq, MIN(ts_ms) AS session_start, MAX(ts_ms) AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY 1, 2""".stripMargin,
    // mirrors Sessionize.concurrency(gap=1h): same session CTE as
    // events_sessions, day-boundary interval split, hour-partial sweep,
    // day-level carry combine
    "events_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
        |m AS (
        |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 3600000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM m),
        |iv AS (SELECT user_id, session_seq, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
        |       FROM sess GROUP BY 1, 2),
        |segs AS (
        |  SELECT day, GREATEST(start_ms, day * 86400000) AS seg_start,
        |         LEAST(end_ms, (day + 1) * 86400000 - 1) AS seg_end
        |  FROM iv, UNNEST(range(start_ms // 86400000, end_ms // 86400000 + 1)) AS t(day)),
        |d AS (
        |  SELECT day, seg_start AS ts, 1 AS delta FROM segs
        |  UNION ALL
        |  SELECT day, seg_end + 1, -1 FROM segs WHERE seg_end + 1 <= (day + 1) * 86400000 - 1),
        |r AS (
        |  SELECT day, ts // 3600000 AS hr, ts, delta,
        |         SUM(delta) OVER (PARTITION BY day, ts // 3600000 ORDER BY ts, delta
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM d),
        |h AS (SELECT day, hr, MAX(run) AS hour_max_rel, SUM(delta) AS hour_sum FROM r GROUP BY 1, 2),
        |c AS (SELECT day, hr, hour_max_rel,
        |             COALESCE(SUM(hour_sum) OVER (PARTITION BY day ORDER BY hr
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
        |      FROM h),
        |p AS (SELECT day, MAX(carry + hour_max_rel) AS peak FROM c GROUP BY 1),
        |s AS (SELECT day, COUNT(*) AS n_sessions, SUM(seg_end - seg_start + 1) AS active_ms
        |      FROM segs GROUP BY 1)
        |SELECT s.day, CAST(s.n_sessions AS BIGINT) AS n_sessions,
        |       CAST(s.active_ms AS BIGINT) AS active_ms,
        |       CAST(p.peak AS BIGINT) AS peak_concurrency
        |FROM s JOIN p USING (day)""".stripMargin,
    // mirrors Anomaly.zscoreOutliers(threshold=3): same exact-decimal sums,
    // same double expression order for mean/ex2/dev/z
    "events_zscore_outliers" ->
      """WITH st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS s,
        |         CAST(SUM(CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS ss
        |  FROM events GROUP BY 1 HAVING COUNT(*) >= 2),
        |m AS (SELECT event_type, n, s / n AS mean, ss / n AS ex2 FROM st),
        |d AS (SELECT event_type, mean,
        |             sqrt((ex2 - mean * mean) * n / (n - 1)) AS dev FROM m)
        |SELECT e.event_id, e.event_type, e.value, d.mean, d.dev,
        |       (e.value - d.mean) / d.dev AS z
        |FROM events e JOIN d ON e.event_type = d.event_type
        |WHERE d.dev > 0 AND abs(e.value - d.mean) > 3.0 * d.dev""".stripMargin,
    "events_outliers_mad" ->
      """WITH n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1 HAVING COUNT(*) >= 2),
        |r AS (SELECT event_type, value,
        |             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn FROM events),
        |med AS (SELECT r.event_type, r.value AS med
        |        FROM r JOIN n USING (event_type) WHERE rn = (n + 1) // 2),
        |a AS (SELECT e.event_id, e.event_type, e.value, m.med,
        |             abs(e.value - m.med) AS ad
        |      FROM events e JOIN med m USING (event_type)),
        |rr AS (SELECT event_type, ad,
        |              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad) AS rd FROM a),
        |mad AS (SELECT rr.event_type, rr.ad AS mad
        |        FROM rr JOIN n USING (event_type) WHERE rd = (n + 1) // 2)
        |SELECT a.event_id, a.event_type, a.value, a.med, m.mad,
        |       (a.value - a.med) / m.mad AS score
        |FROM a JOIN mad m USING (event_type)
        |WHERE m.mad > 0 AND a.ad > CAST(3.0 AS DOUBLE) * m.mad""".stripMargin,
    "events_daily_trend" ->
      """WITH c AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |       LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
        |       LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
        |       n - LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS delta,
        |       CASE WHEN LAG(n) OVER (PARTITION BY event_type ORDER BY day) > 0
        |            THEN CAST(n - LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
        |                 / LAG(n) OVER (PARTITION BY event_type ORDER BY day) END AS pct_change
        |FROM c""".stripMargin,
    // mirrors Funnel.rollingUniques(windowDays=7): contribution explode via
    // generate_series, distinct counts, output restricted to days-with-events
    "events_rolling_uniques" ->
      """WITH kd AS (SELECT DISTINCT event_type, epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |du AS (SELECT event_type, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS day_uniques
        |       FROM kd GROUP BY 1, 2),
        |ex0 AS (SELECT event_type, day, user_id, unnest(generate_series(0, 6)) AS o FROM kd),
        |ru AS (SELECT event_type, day + o AS day,
        |              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS rolling_uniques
        |       FROM ex0 GROUP BY 1, 2)
        |SELECT du.event_type, du.day, du.day_uniques, ru.rolling_uniques
        |FROM du JOIN ru ON du.event_type = ru.event_type AND du.day = ru.day""".stripMargin,
    // mirrors Sketches.rollingHllUniques: per-(type, day) registers,
    // generate_series contribution explode, register-wise MAX merge, the
    // sketch_hll estimator expressions, exact rolling count joined beside
    "events_rolling_hll" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, user_id,
         |         md5('hll:' || CAST(user_id AS VARCHAR)) AS h
         |  FROM events),
         |b AS (SELECT event_type, day,
         |             ${hexPoly("h", 1, 2)} AS bucket,
         |             61 - length(bin(${hexPoly("h", 3, 15)})) AS rho
         |      FROM e),
         |dayregs AS (SELECT event_type, day, bucket, MAX(rho) AS m_reg
         |            FROM b GROUP BY 1, 2, 3),
         |ex0 AS (SELECT event_type, day, bucket, m_reg, unnest(generate_series(0, 6)) AS o
         |        FROM dayregs),
         |rolled AS (SELECT event_type, day + o AS day, bucket, MAX(m_reg) AS m_reg
         |           FROM ex0 GROUP BY 1, 2, 3),
         |s AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |             list_reduce(
         |               list_prepend(0.0::DOUBLE,
         |                 list_sort(list(POWER(2.0, -CAST(m_reg AS DOUBLE))))),
         |               (acc, v) -> acc + v) AS sum_present
         |      FROM rolled GROUP BY 1, 2),
         |kd AS (SELECT DISTINCT event_type, day, user_id
         |       FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS day, user_id FROM events)),
         |du AS (SELECT event_type, day FROM kd GROUP BY 1, 2),
         |exr AS (SELECT event_type, day + o AS day,
         |               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_rolling
         |        FROM (SELECT event_type, day, user_id, unnest(generate_series(0, 6)) AS o FROM kd)
         |        GROUP BY 1, 2),
         |est AS (SELECT event_type, day, n_buckets,
         |               0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 /
         |                 (sum_present + CAST(256 - n_buckets AS DOUBLE)) AS raw
         |        FROM s)
         |SELECT est.event_type, est.day, est.n_buckets,
         |       CAST(CAST(CASE WHEN est.raw <= CAST(640.0 AS DOUBLE) AND est.n_buckets < 256
         |                      THEN CAST(256.0 AS DOUBLE)
         |                           * ln(CAST(256.0 AS DOUBLE) / CAST(256 - est.n_buckets AS DOUBLE))
         |                      ELSE est.raw END AS DECIMAL(18,6)) AS DOUBLE) AS est_rolling,
         |       exr.exact_rolling
         |FROM est
         |JOIN du ON est.event_type = du.event_type AND est.day = du.day
         |JOIN exr ON est.event_type = exr.event_type AND est.day = exr.day""".stripMargin,
    // mirrors Funnel.typeOverlap: distinct (type, actor), actor-keyed pair
    // join with a < b, exact counts + one pinned Jaccard division
    "events_type_overlap" ->
      """WITH ku AS (SELECT DISTINCT event_type AS k, user_id AS id FROM events),
        |s AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM ku GROUP BY 1),
        |b AS (SELECT x.k AS type_a, y.k AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
        |      FROM ku x JOIN ku y ON x.id = y.id AND x.k < y.k GROUP BY 1, 2)
        |SELECT b.type_a, b.type_b, sa.n AS n_a, sb.n AS n_b, b.n_both,
        |       CAST(b.n_both AS DOUBLE) / CAST(sa.n + sb.n - b.n_both AS DOUBLE) AS jaccard
        |FROM b JOIN s sa ON b.type_a = sa.k JOIN s sb ON b.type_b = sb.k""".stripMargin,
    // mirrors Anomaly.flagRuns: the volume-bands replay filtered to flags,
    // then the gaps-and-islands constant (bucket - row_number) per run
    "events_flag_runs" ->
      """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS b,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, b, n,
        |             COUNT(*) OVER tw AS c,
        |             CAST(SUM(n) OVER tw AS BIGINT) AS s,
        |             CAST(SUM(n * n) OVER tw AS BIGINT) AS ss
        |      FROM h
        |      WINDOW tw AS (PARTITION BY event_type ORDER BY b
        |                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT event_type, b AS bucket FROM w
        |      WHERE c = 24
        |        AND ABS(CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE))
        |            > CAST(2.0 AS DOUBLE) * sqrt(GREATEST(CAST(ss AS DOUBLE) / CAST(24.0 AS DOUBLE)
        |                - (CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE)),
        |              CAST(0.0 AS DOUBLE)))),
        |r AS (SELECT event_type, bucket,
        |             bucket - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS island
        |      FROM f)
        |SELECT event_type, CAST(MIN(bucket) AS BIGINT) AS run_start,
        |       CAST(COUNT(*) AS BIGINT) AS run_len
        |FROM r GROUP BY event_type, island""".stripMargin,
    // mirrors Funnel.weekdayProfile: integer epoch-day/hour floor division,
    // dow 0 = Monday via the +3 Thursday-epoch offset
    "events_weekday_profile" ->
      """WITH c AS (SELECT event_type,
        |                  ((epoch_ms(ts) // 86400000 + 3) % 7 + 7) % 7 AS dow,
        |                  ((epoch_ms(ts) // 3600000) % 24 + 24) % 24 AS hour,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total FROM c GROUP BY 1)
        |SELECT c.event_type, c.dow, c.hour, c.n,
        |       CAST(c.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
        |FROM c JOIN t USING (event_type)""".stripMargin,
    // mirrors Anomaly.volumeBands(window=24, nSigma=2): trailing rows-based
    // window of integer sums, identical mean/variance/flag expressions
    "events_volume_bands" ->
      """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS b,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, b, n,
        |             COUNT(*) OVER tw AS c,
        |             CAST(SUM(n) OVER tw AS BIGINT) AS s,
        |             CAST(SUM(n * n) OVER tw AS BIGINT) AS ss
        |      FROM h
        |      WINDOW tw AS (PARTITION BY event_type ORDER BY b
        |                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, b AS bucket, n,
        |       CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE) AS mean_n,
        |       sqrt(GREATEST(CAST(ss AS DOUBLE) / CAST(24.0 AS DOUBLE)
        |              - (CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE)),
        |            CAST(0.0 AS DOUBLE))) AS sd_n,
        |       CAST(CASE WHEN ABS(CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE))
        |                      > CAST(2.0 AS DOUBLE) * sqrt(GREATEST(CAST(ss AS DOUBLE) / CAST(24.0 AS DOUBLE)
        |                          - (CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(24.0 AS DOUBLE)),
        |                        CAST(0.0 AS DOUBLE)))
        |                 THEN 1 ELSE 0 END AS BIGINT) AS band_flag
        |FROM w WHERE c = 24""".stripMargin,
    // mirrors Anomaly.seasonalNaiveError(24h season over 1h buckets): exact
    // integer errors from the (grp, bucket-24) key join, pinned divisions
    "events_forecast_error" ->
      """WITH h AS (SELECT event_type AS grp, epoch_ms(ts) // 3600000 AS b,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |j AS (SELECT cur.grp, ABS(cur.n - prev.n) AS abs_err, cur.n
        |      FROM h cur JOIN h prev ON cur.grp = prev.grp AND cur.b = prev.b + 24)
        |SELECT grp AS event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |       CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        |       CASE WHEN SUM(n) > 0
        |            THEN CAST(SUM(abs_err) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) END AS wape,
        |       CAST(MAX(abs_err) AS BIGINT) AS max_abs_err
        |FROM j GROUP BY 1""".stripMargin,
    "events_heavy_hitters" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |c AS (SELECT event_type, day, user_id, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2, 3)
        |SELECT event_type, day, user_id, n, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY n DESC, user_id) AS BIGINT) AS rank
        |  FROM c)
        |WHERE rank <= 3""".stripMargin,
    "events_bot_flag" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |g AS (SELECT user_id, tu,
        |             tu - LAG(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS gap
        |      FROM o),
        |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |             CAST(MAX(tu) - MIN(tu) AS BIGINT) AS span_us,
        |             CAST(MIN(gap) AS BIGINT) AS min_gap_us
        |      FROM g GROUP BY 1)
        |SELECT user_id, n_events, span_us, min_gap_us,
        |       CASE WHEN n_events > 1 THEN span_us // (n_events - 1) END AS mean_gap_us,
        |       CAST(CASE WHEN n_events >= 20
        |                 THEN CASE WHEN min_gap_us <= 600000000
        |                             OR span_us // (n_events - 1) <= 40000000000
        |                           THEN 1 ELSE 0 END
        |                 ELSE 0 END AS BIGINT) AS is_bot
        |FROM a""".stripMargin,
    // mirrors Funnel.hourEntropy: exact hour shares, p*ln(p) quantized
    // DECIMAL(28,12), exact decimal sum, pinned closing casts
    "events_hour_entropy" ->
      """WITH c AS (SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hour,
        |                  COUNT(*) AS c
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
        |             CAST(COUNT(*) AS BIGINT) AS n_hours,
        |             CAST(MAX(c) AS BIGINT) AS max_c
        |      FROM c GROUP BY 1),
        |e AS (SELECT c.event_type, t.n_events, t.n_hours, t.max_c,
        |             CAST((CAST(c.c AS DOUBLE) / CAST(t.n_events AS DOUBLE)) *
        |                  ln(CAST(c.c AS DOUBLE) / CAST(t.n_events AS DOUBLE))
        |                  AS DECIMAL(28,12)) AS term
        |      FROM c JOIN t USING (event_type))
        |SELECT event_type, n_events, n_hours,
        |       CAST(max_c AS DOUBLE) / CAST(n_events AS DOUBLE) AS max_share,
        |       CAST(-SUM(term) AS DOUBLE) AS entropy_nats
        |FROM e GROUP BY 1, 2, 3, max_c""".stripMargin,
    // mirrors Anomaly.interarrival(minEvents=3): per-user gap lag window,
    // rank window with the event-id tie-break, nearest-rank integer picks
    "events_interarrival" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |g AS (SELECT user_id, event_id,
        |             tu - LAG(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS gap
        |      FROM o),
        |r AS (SELECT user_id, gap,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap, event_id) AS BIGINT) AS rk,
        |             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |      FROM g WHERE gap IS NOT NULL),
        |k AS (SELECT * FROM r WHERE n >= 2),
        |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |             CAST(MIN(gap) AS BIGINT) AS min_gap_us,
        |             CAST(MAX(gap) AS BIGINT) AS max_gap_us
        |      FROM k GROUP BY 1),
        |med AS (SELECT user_id, CAST(gap AS BIGINT) AS med_gap_us FROM k
        |        WHERE rk = (n + 1) // 2),
        |p95 AS (SELECT user_id, CAST(gap AS BIGINT) AS p95_gap_us FROM k
        |        WHERE rk = (19 * n + 19) // 20)
        |SELECT a.user_id, a.n_gaps, a.min_gap_us, med.med_gap_us,
        |       p95.p95_gap_us, a.max_gap_us
        |FROM a JOIN med ON a.user_id = med.user_id
        |       JOIN p95 ON a.user_id = p95.user_id""".stripMargin,
    // mirrors Anomaly.burstiness(minEvents=5): per-user gap lag window,
    // sorted double folds for both moments, pinned closing expressions
    "events_burstiness" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |g AS (SELECT user_id,
        |             tu - LAG(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS gap
        |      FROM o),
        |f AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |             list_sort(list(CAST(gap AS DOUBLE))) AS gs
        |      FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 4),
        |s AS (SELECT user_id, n_gaps,
        |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), gs),
        |                         (acc, v) -> acc + v) AS s1,
        |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), gs),
        |                         (acc, v) -> acc + v * v) AS s2
        |      FROM f),
        |m AS (SELECT user_id, n_gaps,
        |             s1 / CAST(n_gaps AS DOUBLE) AS mu,
        |             sqrt(GREATEST(s2 / CAST(n_gaps AS DOUBLE)
        |                  - (s1 / CAST(n_gaps AS DOUBLE)) * (s1 / CAST(n_gaps AS DOUBLE)),
        |                  0.0)) AS sd
        |      FROM s)
        |SELECT user_id, n_gaps, mu AS mean_gap_us, sd AS sd_gap_us,
        |       CASE WHEN sd + mu = 0 THEN NULL ELSE (sd - mu) / (sd + mu) END AS burstiness,
        |       CASE WHEN mu = 0 THEN NULL ELSE sd / mu END AS cv
        |FROM m""".stripMargin,
    "events_path_transitions" ->
      """WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |s AS (SELECT event_type AS to_type,
        |             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS from_type
        |      FROM o),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.n_from,
        |       CAST(c.n AS DOUBLE) / t.n_from AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,
    // mirrors Anomaly.sloBurnRate(budgetBp=1000, longHours=6, alertAt=2):
    // hourly counts, RANGE frame over bucket_ms, pinned burn chains
    "events_slo_burn" ->
      """WITH h AS (
        |  SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(COUNT(*) AS BIGINT) AS n_total,
        |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_errors
        |  FROM events GROUP BY 1),
        |r AS (SELECT *,
        |        CAST(SUM(n_total) OVER w AS BIGINT) AS n_total_long,
        |        CAST(SUM(n_errors) OVER w AS BIGINT) AS n_errors_long
        |      FROM h WINDOW w AS (ORDER BY bucket_ms
        |        RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW))
        |SELECT bucket_ms, n_total, n_errors,
        |       CAST(n_errors AS DOUBLE) / CAST(n_total AS DOUBLE) / 0.1 AS burn_short,
        |       n_total_long, n_errors_long,
        |       CAST(n_errors_long AS DOUBLE) / CAST(n_total_long AS DOUBLE) / 0.1 AS burn_long,
        |       CAST(CASE WHEN CAST(n_errors AS DOUBLE) / CAST(n_total AS DOUBLE) / 0.1 > 2.0
        |                  AND CAST(n_errors_long AS DOUBLE) / CAST(n_total_long AS DOUBLE) / 0.1 > 2.0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS alert
        |FROM r""".stripMargin,
    // mirrors Funnel.ctrWilson(z=1.96): hourly view/click counts, clamped
    // p, one pinned Wilson lower-bound chain
    "events_ctr_wilson" ->
      """WITH h AS (
        |  SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks
        |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1),
        |f AS (SELECT *, CAST(n_views AS DOUBLE) AS n,
        |             LEAST(1.0, CAST(n_clicks AS DOUBLE) / CAST(n_views AS DOUBLE)) AS p
        |      FROM h WHERE n_views > 0)
        |SELECT bucket_ms, n_views, n_clicks, p AS ctr,
        |       (p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (n * 2.0)
        |          - 1.96 * sqrt(p * (1.0 - p) / n + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (n * n * 4.0)))
        |         / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n) AS wilson_low
        |FROM f""".stripMargin,
    // mirrors Anomaly.dispersionIndex(periodMs=1h): exact DECIMAL moment
    // sums over hourly counts, GREATEST-guarded pinned variance
    "events_dispersion" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 AS b,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |             CAST(SUM(n) AS BIGINT) AS s1,
        |             CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2
        |      FROM b GROUP BY 1),
        |m AS (SELECT event_type, n_buckets,
        |             CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mu,
        |             GREATEST(CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE)
        |               - (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE))
        |                 * (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE)), 0.0) AS varr
        |      FROM s)
        |SELECT event_type, n_buckets, mu AS mean_per_bucket,
        |       varr AS var_per_bucket, varr / mu AS dispersion
        |FROM m""".stripMargin,
    // mirrors Anomaly.seasonalAnomaly(spikeX=3, dropX=3): presence-only
    // hourly buckets, (dow, hour) cell rollup, cross-multiplied flags
    "events_seasonal_anomaly" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 * 3600000 AS bucket_ms,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b2 AS (SELECT *, (bucket_ms // 86400000) % 7 AS dow,
        |              (bucket_ms // 3600000) % 24 AS hour FROM b),
        |c AS (SELECT event_type, dow, hour, CAST(COUNT(*) AS BIGINT) AS n_cell,
        |             CAST(SUM(n) AS BIGINT) AS cell_total
        |      FROM b2 GROUP BY 1, 2, 3)
        |SELECT b2.event_type, b2.bucket_ms, b2.n, b2.dow, b2.hour,
        |       c.n_cell, c.cell_total,
        |       CAST(CASE WHEN CAST(b2.n AS HUGEINT) * c.n_cell
        |                      > CAST(c.cell_total AS HUGEINT) * 3
        |                 THEN 1 ELSE 0 END AS BIGINT) AS spike,
        |       CAST(CASE WHEN CAST(b2.n AS HUGEINT) * c.n_cell * 3
        |                      < CAST(c.cell_total AS HUGEINT)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS vol_drop
        |FROM b2 JOIN c USING (event_type, dow, hour)""".stripMargin,
    // mirrors Funnel.srmCheck(expectedTreatBp=5000) over the skewed plant:
    // distinct-user split, pinned two-cell chi-square
    "events_srm" ->
      """WITH u AS (
        |  SELECT DISTINCT CASE WHEN user_id % 3 = 0 THEN 'treat'
        |                       ELSE 'control' END AS variant, user_id
        |  FROM events),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |             CAST(SUM(CASE WHEN variant = 'treat' THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_treat
        |      FROM u),
        |f AS (SELECT n_users, n_treat, n_users - n_treat AS n_control,
        |             CAST(n_users AS DOUBLE) * 0.5 AS et
        |      FROM c),
        |x AS (SELECT *,
        |        (CAST(n_treat AS DOUBLE) - et) * (CAST(n_treat AS DOUBLE) - et) / et
        |      + (CAST(n_control AS DOUBLE) - (CAST(n_users AS DOUBLE) - et))
        |        * (CAST(n_control AS DOUBLE) - (CAST(n_users AS DOUBLE) - et))
        |        / (CAST(n_users AS DOUBLE) - et) AS chi2
        |      FROM f)
        |SELECT n_users, n_treat, n_control, et AS expected_treat, chi2,
        |       CAST(CASE WHEN chi2 > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        |FROM x""".stripMargin,
    // mirrors Funnel.markovStationary(iters=6, scale=1e12): dangling self-
    // loops, per-edge floored mass moves, unrolled power-iteration CTEs
    "events_markov_stationary" -> {
      val rounds = (1 to 6).map { r =>
        s"""p$r AS MATERIALIZED (
           |  SELECT e.t AS s, CAST(SUM(CAST(p.pi AS HUGEINT) * e.n // o.o) AS BIGINT) AS pi
           |  FROM p${r - 1} p JOIN e ON p.s = e.f JOIN o ON e.f = o.f GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
         |st0 AS (SELECT event_type AS to_type,
         |             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS from_type
         |      FROM ev),
         |c AS (SELECT from_type AS f, to_type AS t, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM st0 WHERE from_type IS NOT NULL GROUP BY 1, 2),
         |sts AS MATERIALIZED (SELECT f AS s FROM c UNION SELECT t FROM c),
         |dang AS (SELECT s AS f, s AS t, CAST(1 AS BIGINT) AS n FROM sts
         |         WHERE s NOT IN (SELECT f FROM c)),
         |e AS MATERIALIZED (SELECT * FROM c UNION ALL SELECT * FROM dang),
         |o AS MATERIALIZED (SELECT f, CAST(SUM(n) AS BIGINT) AS o FROM e GROUP BY 1),
         |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sts),
         |p0 AS (SELECT s, 1000000000000 // (SELECT n FROM ns) AS pi FROM sts),
         |$rounds
         |SELECT sts.s AS event_type, CAST(COALESCE(p6.pi, 0) AS BIGINT) AS pi_fp,
         |       CAST(COALESCE(p6.pi, 0) AS DOUBLE) / 1000000000000.0 AS pi
         |FROM sts LEFT JOIN p6 ON sts.s = p6.s""".stripMargin
    },
    // mirrors Funnel.pathTrigrams(k=50): two lags on the per-user window,
    // trigram counts, (n DESC, t1, t2, t3) total-order rank
    "events_path_trigrams" ->
      """WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |s AS (SELECT event_type AS t3,
        |             LAG(event_type, 1) OVER w AS t2,
        |             LAG(event_type, 2) OVER w AS t1
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |c AS (SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM s WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
        |r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS BIGINT) AS rank,
        |             t1, t2, t3, n
        |      FROM c)
        |SELECT rank, t1, t2, t3, n FROM r WHERE rank <= 50""".stripMargin,
    "events_user_gini" ->
      """WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |             CASE WHEN user_id % 10 = 0 THEN 'ping' ELSE event_type END AS event_type
        |           FROM events),
        |s AS (SELECT user_id, event_type AS to_type,
        |             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS from_type
        |      FROM o),
        |c AS (SELECT user_id, from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2, 3),
        |p AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |             SUM(CAST(n AS HUGEINT) * n) AS sumsq
        |      FROM c GROUP BY 1)
        |SELECT user_id, total, n_pairs,
        |       CAST(1.0 AS DOUBLE) - CAST(sumsq AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) AS gini,
        |       CAST(CASE WHEN total >= 10
        |                  AND CAST(1.0 AS DOUBLE) - CAST(sumsq AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) <= 0.2
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_low_diversity
        |FROM p""".stripMargin,
    "api_props_extract" ->
      """SELECT event_type,
        |       TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) // 10 * 10 AS k_decade,
        |       COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events
        |WHERE TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // mirrors Funnel.churn (epoch weeks)
    "events_churn" ->
      """WITH a AS (SELECT DISTINCT user_id, (epoch_ms(ts) // 86400000) // 7 AS week FROM events),
        |n AS (SELECT user_id, week - 1 AS week, 1 AS ret FROM a),
        |mw AS (SELECT MAX(week) AS max_week FROM a),
        |g AS (
        |  SELECT a.week, CAST(COUNT(*) AS BIGINT) AS n_active,
        |         CAST(COUNT(n.ret) AS BIGINT) AS n_retained
        |  FROM a LEFT JOIN n ON a.user_id = n.user_id AND a.week = n.week
        |  GROUP BY 1)
        |SELECT g.week, g.n_active, g.n_retained,
        |       g.n_active - g.n_retained AS n_churned,
        |       CAST(g.n_active - g.n_retained AS DOUBLE) / CAST(g.n_active AS DOUBLE) AS churn_rate,
        |       CAST(CASE WHEN g.week = mw.max_week THEN 1 ELSE 0 END AS BIGINT) AS is_last_week
        |FROM g, mw""".stripMargin,
    // mirrors Funnel.seasonality (dow 0 = Thursday)
    "events_seasonality" ->
      """WITH c AS (
        |  SELECT (epoch_ms(ts) // 86400000) % 7 AS dow,
        |         (epoch_ms(ts) // 3600000) % 24 AS hour,
        |         CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour, n_events,
        |       CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t""".stripMargin,
    // mirrors Funnel.newVsReturning
    "events_new_users" ->
      """WITH a AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1),
        |g AS (
        |  SELECT a.day,
        |         CAST(SUM(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |         CAST(SUM(CASE WHEN a.day != f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |         CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM a JOIN f USING (user_id) GROUP BY 1)
        |SELECT day, n_new, n_returning, n_active,
        |       CAST(n_new AS DOUBLE) / CAST(n_active AS DOUBLE) AS frac_new
        |FROM g""".stripMargin,
    // mirrors Funnel.timeToConvert: carry-forward MAX touch window, log2
    // digit-count bands, never-touched bucket -1
    "events_time_to_convert" ->
      """WITH o AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
        |         MAX(CASE WHEN event_type IN ('click', 'view') THEN epoch_ms(ts) END)
        |           OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |  FROM events),
        |c AS (SELECT user_id, ts_ms - last_touch AS delay FROM o WHERE event_type = 'purchase'),
        |b AS (SELECT CASE WHEN delay IS NULL THEN -1
        |                  ELSE length(bin(GREATEST(delay, 1))) - 1 END AS delay_bucket, user_id
        |      FROM c),
        |g AS (SELECT CAST(delay_bucket AS BIGINT) AS delay_bucket,
        |             CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM b GROUP BY 1)
        |SELECT delay_bucket,
        |       CASE WHEN delay_bucket >= 0 THEN CAST(2 ** delay_bucket AS BIGINT) END AS min_delay_ms,
        |       n_conversions, n_users
        |FROM g""".stripMargin,
    // mirrors Funnel.stickiness(28d): (user, day) activity exploded onto
    // the window-end days, exact distinct per end day
    "events_stickiness" ->
      """WITH a AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM a GROUP BY 1),
        |m AS (SELECT user_id, day + i AS day FROM a, UNNEST(range(0, 28)) AS t(i)),
        |mau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau FROM m GROUP BY 1)
        |SELECT dau.day, dau.dau, mau.mau,
        |       CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
        |FROM dau JOIN mau USING (day)""".stripMargin,
    // mirrors Funnel.paretoReport: per-count-value rollup, exclusive cum
    // sums desc by count, boundary-group interpolation in exact integers
    "events_pareto" ->
      """WITH cnts AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
        |g AS (SELECT c, COUNT(*) AS nu, c * COUNT(*) AS ev FROM cnts GROUP BY 1),
        |cum AS (SELECT c, nu, ev,
        |               CAST(COALESCE(SUM(nu) OVER w, 0) AS BIGINT) AS cum_users,
        |               CAST(COALESCE(SUM(ev) OVER w, 0) AS BIGINT) AS cum_ev
        |        FROM g WINDOW w AS (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS n_users, CAST(SUM(ev) AS BIGINT) AS n_events FROM g),
        |p AS (SELECT CAST(UNNEST([1, 5, 10, 25, 50, 100]) AS BIGINT) AS pct_users),
        |sel AS (
        |  SELECT pct_users,
        |         CAST(GREATEST(1, pct_users * n_users // 100) AS BIGINT) AS n_top_users,
        |         CAST(cum_ev + (GREATEST(1, pct_users * n_users // 100) - cum_users) * c AS BIGINT) AS n_events_top,
        |         n_events
        |  FROM cum, tot, p
        |  WHERE cum_users < GREATEST(1, pct_users * n_users // 100)
        |    AND cum_users + nu >= GREATEST(1, pct_users * n_users // 100))
        |SELECT pct_users, n_top_users, n_events_top,
        |       CAST(n_events_top AS DOUBLE) / CAST(n_events AS DOUBLE) AS share
        |FROM sel""".stripMargin,
    // mirrors Funnel.cohortLtv(convType=purchase): floor-division days,
    // exact-decimal revenue cells and running cumulative per cohort
    "events_cohort_ltv" ->
      """WITH conv AS (
        |  SELECT user_id AS u, epoch_ms(ts) // 86400000 AS day,
        |         CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |ch AS (SELECT u, MIN(day) AS cohort_day FROM conv GROUP BY 1),
        |cells AS (
        |  SELECT ch.cohort_day, conv.day - ch.cohort_day AS day_offset,
        |         CAST(COUNT(DISTINCT conv.u) AS BIGINT) AS n_users,
        |         SUM(conv.v) AS rev
        |  FROM conv JOIN ch ON conv.u = ch.u GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_users,
        |       CAST(rev AS DOUBLE) AS revenue,
        |       CAST(SUM(rev) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS DOUBLE) AS cum_revenue
        |FROM cells""".stripMargin,
    // mirrors Funnel.rfm(convType=purchase)
    "events_rfm" ->
      """WITH conv AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, value
        |  FROM events WHERE event_type = 'purchase'),
        |anchor AS (SELECT MAX(day) AS anchor_day FROM conv),
        |u AS (
        |  SELECT user_id, MAX(day) AS last_day, CAST(COUNT(*) AS BIGINT) AS frequency,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        |  FROM conv GROUP BY 1)
        |SELECT user_id, last_day, anchor_day - last_day AS recency_days, frequency, monetary
        |FROM u, anchor""".stripMargin,
    // mirrors Funnel.abReport over the parity variant: per-user converted
    // flags, 2-row variant rollup, one pinned pooled-z expression
    "events_ab_report" ->
      """WITH pu AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treat' END AS variant,
        |         user_id,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |             CAST(SUM(converted) AS BIGINT) AS n_conv
        |      FROM pu GROUP BY 1),
        |a AS (SELECT n_users AS n_a, n_conv AS conv_a FROM v ORDER BY variant LIMIT 1),
        |b AS (SELECT n_users AS n_b, n_conv AS conv_b FROM v ORDER BY variant DESC LIMIT 1),
        |r AS (
        |  SELECT *, CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |            CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |            CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pooled
        |  FROM a, b)
        |SELECT n_a, conv_a, rate_a, n_b, conv_b, rate_b,
        |       rate_b - rate_a AS lift_abs,
        |       CASE WHEN rate_a > 0 THEN (rate_b - rate_a) / rate_a END AS lift_rel,
        |       CASE WHEN sqrt(pooled * (1.0 - pooled) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0
        |            THEN (rate_b - rate_a) / sqrt(pooled * (1.0 - pooled) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |       END AS z_stat
        |FROM r""".stripMargin,
    // mirrors Anomaly.cusumDrift(threshold=3): integer prefix sums + the
    // pinned cum_n - i*mean deviation expression
    "events_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total,
        |              CAST(COUNT(*) AS BIGINT) AS n_days
        |       FROM daily GROUP BY 1),
        |r AS (
        |  SELECT event_type, day, n,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS day_index,
        |         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |j AS (
        |  SELECT r.*, CAST(st.n_total AS DOUBLE) / CAST(st.n_days AS DOUBLE) AS mean_n
        |  FROM r JOIN st USING (event_type))
        |SELECT event_type, day, n, day_index, cum_n, mean_n,
        |       CAST(cum_n AS DOUBLE) - CAST(day_index AS DOUBLE) * mean_n AS cum_dev,
        |       CAST(CASE WHEN abs(CAST(cum_n AS DOUBLE) - CAST(day_index AS DOUBLE) * mean_n)
        |                      > 3.0 * mean_n
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_drift
        |FROM j""".stripMargin,
    // mirrors Funnel.activityHistogram: bucket = binary digit count - 1
    // (pure integer floor-log2), shares over 1-row totals
    "events_activity_hist" ->
      """WITH pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |b AS (SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
        |             CAST(COUNT(*) AS BIGINT) AS n_users,
        |             CAST(SUM(n) AS BIGINT) AS n_events
        |      FROM pu GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS t_users,
        |             CAST(SUM(n_events) AS BIGINT) AS t_events FROM b)
        |SELECT bucket, CAST(2 ** bucket AS BIGINT) AS min_events, n_users, n_events,
        |       CAST(n_users AS DOUBLE) / CAST(t_users AS DOUBLE) AS user_share,
        |       CAST(n_events AS DOUBLE) / CAST(t_events AS DOUBLE) AS event_share
        |FROM b, t""".stripMargin,
    // mirrors Sessionize.slidingCounts(1h window, 15min slide): each event
    // lands in the 4 windows starting on the slide boundaries at or before
    // it; floor-div boundary is negative-epoch safe like the funnel family
    "events_sliding_window" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_ms(ts) AS ts_ms FROM events),
        |w AS (
        |  SELECT event_type, user_id,
        |         (ts_ms // 900000) * 900000 - i * 900000 AS window_start
        |  FROM e, UNNEST(range(0, 4)) AS t(i))
        |SELECT event_type, window_start,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM w GROUP BY 1, 2""".stripMargin,
    // mirrors Sketches.kmvDistinct(k=64): distinct 60-bit hash fractions,
    // direct rank (the Spark side's 64-shard prune is rank-invariant),
    // pinned (63 * 2^60) / kth estimator
    "sketch_kmv" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |         ${hexPoly("md5('kmv:' || CAST(event_id AS VARCHAR))", 1, 15)} AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |      FROM h),
         |k AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_held,
         |             MAX(h) AS kth_h
         |      FROM r WHERE rk <= 64 GROUP BY 1),
         |x AS (SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_distinct
         |      FROM events GROUP BY 1)
         |SELECT event_type, n_held, kth_h,
         |       CASE WHEN n_held < 64 THEN CAST(n_held AS DOUBLE)
         |            ELSE CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(kth_h AS DOUBLE)
         |       END AS est_distinct,
         |       exact_distinct
         |FROM k JOIN x USING (event_type)""".stripMargin,
    // mirrors Sketches.hllDistinct: byte-0 bucket, rho = 61 - bitlength of
    // the 60-bit remainder (bin-string length; bin(0)='0' -> rho 60 in both
    // engines), register max, sorted-fold 2^-M sum, pinned raw estimator
    "sketch_hll" ->
      s"""WITH e AS (
         |  SELECT event_type, md5('hll:' || CAST(event_id AS VARCHAR)) AS h
         |  FROM events),
         |b AS (SELECT event_type,
         |             ${hexPoly("h", 1, 2)} AS bucket,
         |             61 - length(bin(${hexPoly("h", 3, 15)})) AS rho
         |      FROM e),
         |regs AS (SELECT event_type, bucket, MAX(rho) AS m_reg
         |         FROM b GROUP BY 1, 2),
         |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |             list_reduce(
         |               list_prepend(0.0::DOUBLE,
         |                 list_sort(list(POWER(2.0, -CAST(m_reg AS DOUBLE))))),
         |               (acc, v) -> acc + v) AS sum_present
         |      FROM regs GROUP BY 1),
         |x AS (SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_distinct
         |      FROM events GROUP BY 1)
         |SELECT event_type, n_buckets,
         |       0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 /
         |         (sum_present + CAST(256 - n_buckets AS DOUBLE)) AS est_distinct,
         |       exact_distinct
         |FROM s JOIN x USING (event_type)""".stripMargin,
    // mirrors Sketches.cmsTopK(depth=4, width=1024): hex5 bucket arithmetic,
    // exact top-20 candidates (count desc, id asc), min across depth cells
    "sketch_cms" ->
      s"""WITH s AS (SELECT UNNEST([0, 1, 2, 3]) AS salt),
         |c AS (
         |  SELECT salt,
         |         ${hexPoly("md5(CAST(salt AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))", 1, 5)} % 1024 AS bucket,
         |         COUNT(*) AS c
         |  FROM events, s GROUP BY 1, 2),
         |cand AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
         |  FROM events GROUP BY 1
         |  ORDER BY exact_n DESC, user_id ASC LIMIT 20),
         |probe AS (
         |  SELECT cand.user_id, cand.exact_n, s.salt,
         |         ${hexPoly("md5(CAST(s.salt AS VARCHAR) || ':' || CAST(cand.user_id AS VARCHAR))", 1, 5)} % 1024 AS bucket
         |  FROM cand, s)
         |SELECT probe.user_id, probe.exact_n, CAST(MIN(c.c) AS BIGINT) AS cms_n
         |FROM probe JOIN c ON probe.salt = c.salt AND probe.bucket = c.bucket
         |GROUP BY 1, 2""".stripMargin,
    // mirrors Sketches.qdigestQuantiles: power-of-2 buckets of the
    // DECIMAL(18,4)-scaled value, cumulative-count bucket pick, upper-bound
    // estimates, exact rank audits
    "sketch_qdigest" ->
      """WITH p AS (
        |  SELECT event_type AS key,
        |         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS sv
        |  FROM events),
        |b AS (
        |  SELECT key,
        |         CASE WHEN sv <= 0 THEN 0
        |              ELSE CAST(LENGTH(bin(sv)) AS BIGINT) END AS bucket,
        |         COUNT(*) AS cnt
        |  FROM p GROUP BY 1, 2),
        |c AS (
        |  SELECT key, bucket, cnt,
        |         SUM(cnt) OVER (PARTITION BY key ORDER BY bucket) AS cum,
        |         SUM(cnt) OVER (PARTITION BY key) AS n
        |  FROM b),
        |e AS (
        |  SELECT key, CAST(MAX(n) AS BIGINT) AS n_points,
        |         CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |         MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN bucket END) AS b50,
        |         MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN bucket END) AS b95,
        |         MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN bucket END) AS b99
        |  FROM c GROUP BY 1),
        |u AS (
        |  SELECT key, n_points, n_buckets,
        |         (CAST(1 AS BIGINT) << CAST(b50 AS INTEGER)) - 1 AS ub50,
        |         (CAST(1 AS BIGINT) << CAST(b95 AS INTEGER)) - 1 AS ub95,
        |         (CAST(1 AS BIGINT) << CAST(b99 AS INTEGER)) - 1 AS ub99
        |  FROM e)
        |SELECT p.key, MAX(n_points) AS n_points, MAX(n_buckets) AS n_buckets,
        |       CAST(MAX(ub50) AS DOUBLE) / 10000.0 AS p50_est,
        |       CAST(MAX(ub95) AS DOUBLE) / 10000.0 AS p95_est,
        |       CAST(MAX(ub99) AS DOUBLE) / 10000.0 AS p99_est,
        |       COUNT(*) FILTER (sv <= ub50) AS rank_le_p50,
        |       COUNT(*) FILTER (sv <= ub95) AS rank_le_p95,
        |       COUNT(*) FILTER (sv <= ub99) AS rank_le_p99
        |FROM p JOIN u USING (key)
        |GROUP BY 1""".stripMargin,
    // mirrors Sketches.kmvIntersect(k=64) over (event_type, user_id):
    // rank-64 sketches, theta = LEAST of pair thresholds (2^60 when not
    // full), h < theta common count, pinned estimator, exact pair audit
    "sketch_kmv_intersect" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type AS key,
         |         ${hexPoly("md5('kmv:' || CAST(user_id AS VARCHAR))", 1, 15)} AS h
         |  FROM events),
         |r AS (SELECT key, h, ROW_NUMBER() OVER (PARTITION BY key ORDER BY h) AS rk
         |      FROM h),
         |kept AS (SELECT key, h FROM r WHERE rk <= 64),
         |t AS (SELECT key, CASE WHEN COUNT(*) < 64 THEN 1152921504606846976
         |                       ELSE MAX(h) END AS theta
         |      FROM kept GROUP BY 1),
         |p AS (SELECT ta.key AS key_a, tb.key AS key_b,
         |             LEAST(ta.theta, tb.theta) AS theta
         |      FROM t ta JOIN t tb ON ta.key < tb.key),
         |cm AS (SELECT a.key AS key_a, b.key AS key_b,
         |              CAST(COUNT(*) AS BIGINT) AS n_common
         |       FROM kept a JOIN kept b ON a.h = b.h AND a.key < b.key
         |       JOIN p ON p.key_a = a.key AND p.key_b = b.key
         |       WHERE a.h < p.theta GROUP BY 1, 2),
         |el AS (SELECT DISTINCT event_type AS key, user_id AS e FROM events),
         |ex AS (SELECT a.key AS key_a, b.key AS key_b,
         |              CAST(COUNT(*) AS BIGINT) AS exact_overlap
         |       FROM el a JOIN el b ON a.e = b.e AND a.key < b.key GROUP BY 1, 2)
         |SELECT p.key_a, p.key_b, COALESCE(cm.n_common, 0) AS n_common, p.theta,
         |       CAST(COALESCE(cm.n_common, 0) AS DOUBLE) * 1152921504606846976.0
         |         / CAST(p.theta AS DOUBLE) AS est_overlap,
         |       COALESCE(ex.exact_overlap, 0) AS exact_overlap
         |FROM p LEFT JOIN cm ON p.key_a = cm.key_a AND p.key_b = cm.key_b
         |       LEFT JOIN ex ON p.key_a = ex.key_a AND p.key_b = ex.key_b""".stripMargin,
    // mirrors Sketches.kmvSetOps(k=64): same sketches/theta as the intersect
    // gate, below-theta per-side sample counts, union/difference estimators,
    // exact Venn audit from per-key distinct sizes + the exact overlap
    "sketch_kmv_setops" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type AS key,
         |         ${hexPoly("md5('kmv:' || CAST(user_id AS VARCHAR))", 1, 15)} AS h
         |  FROM events),
         |r AS (SELECT key, h, ROW_NUMBER() OVER (PARTITION BY key ORDER BY h) AS rk
         |      FROM h),
         |kept AS (SELECT key, h FROM r WHERE rk <= 64),
         |t AS (SELECT key, CASE WHEN COUNT(*) < 64 THEN 1152921504606846976
         |                       ELSE MAX(h) END AS theta
         |      FROM kept GROUP BY 1),
         |p AS (SELECT ta.key AS key_a, tb.key AS key_b,
         |             LEAST(ta.theta, tb.theta) AS theta
         |      FROM t ta JOIN t tb ON ta.key < tb.key),
         |na AS (SELECT p.key_a, p.key_b, CAST(COUNT(*) AS BIGINT) AS n_a
         |       FROM p JOIN kept ka ON ka.key = p.key_a
         |       WHERE ka.h < p.theta GROUP BY 1, 2),
         |nb AS (SELECT p.key_a, p.key_b, CAST(COUNT(*) AS BIGINT) AS n_b
         |       FROM p JOIN kept kb ON kb.key = p.key_b
         |       WHERE kb.h < p.theta GROUP BY 1, 2),
         |cm AS (SELECT a.key AS key_a, b.key AS key_b,
         |              CAST(COUNT(*) AS BIGINT) AS n_common
         |       FROM kept a JOIN kept b ON a.h = b.h AND a.key < b.key
         |       JOIN p ON p.key_a = a.key AND p.key_b = b.key
         |       WHERE a.h < p.theta GROUP BY 1, 2),
         |el AS (SELECT DISTINCT event_type AS key, user_id AS e FROM events),
         |sz AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS nd FROM el GROUP BY 1),
         |ex AS (SELECT a.key AS key_a, b.key AS key_b,
         |              CAST(COUNT(*) AS BIGINT) AS exact_overlap
         |       FROM el a JOIN el b ON a.e = b.e AND a.key < b.key GROUP BY 1, 2)
         |SELECT p.key_a, p.key_b, p.theta,
         |       COALESCE(na.n_a, 0) AS n_a, COALESCE(nb.n_b, 0) AS n_b,
         |       COALESCE(cm.n_common, 0) AS n_common,
         |       CAST(COALESCE(na.n_a, 0) + COALESCE(nb.n_b, 0) - COALESCE(cm.n_common, 0) AS DOUBLE)
         |         * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_union,
         |       CAST(COALESCE(na.n_a, 0) - COALESCE(cm.n_common, 0) AS DOUBLE)
         |         * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_diff_a,
         |       CAST(COALESCE(nb.n_b, 0) - COALESCE(cm.n_common, 0) AS DOUBLE)
         |         * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_diff_b,
         |       sa.nd + sb.nd - COALESCE(ex.exact_overlap, 0) AS exact_union,
         |       sa.nd - COALESCE(ex.exact_overlap, 0) AS exact_diff_a,
         |       sb.nd - COALESCE(ex.exact_overlap, 0) AS exact_diff_b
         |FROM p LEFT JOIN na ON p.key_a = na.key_a AND p.key_b = na.key_b
         |       LEFT JOIN nb ON p.key_a = nb.key_a AND p.key_b = nb.key_b
         |       LEFT JOIN cm ON p.key_a = cm.key_a AND p.key_b = cm.key_b
         |       JOIN sz sa ON sa.key = p.key_a
         |       JOIN sz sb ON sb.key = p.key_b
         |       LEFT JOIN ex ON p.key_a = ex.key_a AND p.key_b = ex.key_b""".stripMargin,
    // mirrors Sketches.amsF2(r=16) over user_id: md5 first-hex-digit parity
    // signs, 16 exact counters, lower median (rank 8) of squares, exact audit
    "sketch_ams_f2" ->
      """WITH x AS (SELECT CAST(user_id AS VARCHAR) AS e FROM events
        |           WHERE user_id IS NOT NULL),
        |sgn AS (
        |  SELECT j.j,
        |         CASE WHEN strpos('0123456789abcdef',
        |                substr(md5('ams' || CAST(j.j AS VARCHAR) || ':' || x.e), 1, 1))
        |                - 1 < 8
        |              THEN 1 ELSE -1 END AS s
        |  FROM x, (SELECT UNNEST(range(16)) AS j) j),
        |c AS (SELECT j, CAST(SUM(s) AS BIGINT) AS c FROM sgn GROUP BY 1),
        |m AS (SELECT CAST(c * c AS DECIMAL(38,0)) AS est_f2,
        |             ROW_NUMBER() OVER (ORDER BY c * c ASC, j ASC) AS rn FROM c),
        |ex AS (SELECT SUM(CAST(f * f AS DECIMAL(38,0))) AS exact_f2,
        |              CAST(SUM(f) AS BIGINT) AS n_rows
        |       FROM (SELECT COUNT(*) AS f FROM x GROUP BY e))
        |SELECT CAST(16 AS BIGINT) AS r, CAST(m.est_f2 AS DOUBLE) AS est_f2,
        |       CAST(ex.exact_f2 AS DOUBLE) AS exact_f2, ex.n_rows
        |FROM m, ex WHERE m.rn = 8""".stripMargin
  )
}
