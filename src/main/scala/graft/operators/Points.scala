package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Loading and normalizing point datasets.
 *
 * The canonical point schema (SURVEY.md §1.5, mirroring the reference model
 * common/src/main/java/timely/model/Metric.java:25-31):
 * `metric STRING, ts LONG (epoch ms), value DOUBLE, tags MAP<STRING,STRING>, viz STRING`.
 *
 * At cluster scale the points table is written `PARTITIONED BY (metric, dt, hr)`
 * — the Spark equivalent of the reference's (metric, hour-bucket) row keys
 * (common/src/main/java/timely/accumulo/MetricAdapter.java:47-53) — so metric
 * equality + time-range predicates become partition pruning, not data reads.
 */
object Points {

  /** Read a driver-generated table from a scale-factor dir.
    *
    * `events.ts` arrives as epoch-nanos either way: generator versions have
    * written it as parquet TIMESTAMP(NANOS) — readable only as a LONG of
    * epoch nanos via the legacy conf — and as TIMESTAMP(MICROS) without
    * timezone, which Spark reads as TIMESTAMP_NTZ. Both normalize here to the
    * LONG-epoch-nanos contract every downstream query (`ts div 1000000`)
    * and DuckDB oracle (`epoch_ms(ts)`) is written against. The NTZ wall time
    * is interpreted in the session timezone, which this project pins to UTC
    * in every entry point (Verify/Bench/SparkSpec builders) — matching
    * DuckDB's UTC-naive `epoch_ms`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** `ts` -> LONG epoch nanos, whatever the generator wrote. */
  private def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df // legacy TIMESTAMP(NANOS) read as epoch nanos
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case other =>
        throw new IllegalArgumentException(s"unexpected events.ts type: $other")
    }
  }

  /**
   * Map the synthetic `events` table onto the point model:
   * event_type -> metric, ts -> epoch ms, user_id -> a `user` tag.
   */
  def fromEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsMs = events.schema("ts").dataType match {
      case LongType         => expr("ts div 1000000") // epoch ns -> ms (integral div: ns don't fit a double)
      case TimestampType    => unix_millis(col("ts"))
      case TimestampNTZType => unix_millis(col("ts").cast(TimestampType)) // session tz pinned UTC
      case other            => throw new IllegalArgumentException(s"unexpected ts type: $other")
    }
    events.select(
      col("event_type").as("metric"),
      tsMs.as("ts"),
      col("value"),
      map(lit("user"), col("user_id").cast("string")).as("tags"),
      lit(null).cast("string").as("viz"))
  }
}
