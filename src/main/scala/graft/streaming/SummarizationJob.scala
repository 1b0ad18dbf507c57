package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/**
 * Streaming histogram summarization — parity with the reference's Flink job
 * (reference analytics/src/main/java/timely/analytics/flink/SummarizationJob.java:36-105):
 * per metric per tumbling event-time window, emit count/min/max/sum/avg +
 * nearest-rank percentiles as `<metric>_summarized` rows.
 *
 * The Flink job reads a WebSocket subscription; here the engine reads its own
 * points stream directly (no bridge needed). Late data handling: the
 * reference's subscriptions lag `now` by a configured delay
 * (MetricScanner.java:106-110) — expressed as a watermark, after which append
 * mode finalizes each window.
 */
object SummarizationJob {

  /** Windowed summarize on a *streaming* points frame. Uses `window()` (the
    * streaming-compatible bucket op; epoch-aligned like the batch bucket). */
  def summarizeStream(pointsStream: DataFrame, windowMs: Long, watermarkDelay: String): DataFrame = {
    val withTime = pointsStream
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermarkDelay)
    withTime
      .groupBy(col("metric"), window(col("event_time"), s"$windowMs milliseconds"))
      .agg(
        count(col("value")).as("cnt"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("vsum"),
        (sum(col("value").cast("decimal(18,6)")).cast("double") / count(col("value"))).as("vavg"),
        element_at(sort_array(collect_list(col("value"))),
          ceil(lit(0.50) * count(col("value"))).cast("int")).as("p50"),
        element_at(sort_array(collect_list(col("value"))),
          ceil(lit(0.75) * count(col("value"))).cast("int")).as("p75"),
        element_at(sort_array(collect_list(col("value"))),
          ceil(lit(0.90) * count(col("value"))).cast("int")).as("p90"),
        element_at(sort_array(collect_list(col("value"))),
          ceil(lit(0.99) * count(col("value"))).cast("int")).as("p99"))
      .select(
        concat(col("metric"), lit("_summarized")).as("metric"),
        unix_millis(col("window.start")).as("window_ms"),
        col("cnt"), col("vmin"), col("vmax"), col("vsum"), col("vavg"),
        col("p50"), col("p75"), col("p90"), col("p99"))
  }

  /** Start the job writing summarized rows back as a points-like table — the
    * analog of the Flink sink re-emitting `_summarized` put lines. */
  def start(
      pointsStream: DataFrame,
      windowMs: Long,
      watermarkDelay: String,
      outDir: String,
      checkpointDir: String): StreamingQuery =
    summarizeStream(pointsStream, windowMs, watermarkDelay)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
}
