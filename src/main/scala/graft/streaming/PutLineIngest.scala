package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Exclusions, MetricParser, MetricPoint}
import graft.sources.PointStore

/**
 * Streaming ingest of the put line protocol — the Spark re-expression of the
 * reference's TCP/UDP/HTTP/WS ingest pipes (reference
 * server/src/main/java/timely/server/netty/tcp/TcpPutHandler.java:16-43,
 * common/src/main/java/timely/model/parse/MetricParser.java:17-30).
 *
 * Any line source works (socket for dev, Kafka value column, file drop):
 * the contract is a streaming Dataset[String] of put lines (or of binary
 * frames) in, a canonical points stream out. Lines and frames go through
 * the one put decoder every transport uses ([[MetricParser]]), so a point
 * is admitted here exactly when a socket or HTTP put of it would be. What
 * the decoder refuses is dropped, like the reference drops unparseable
 * messages, and each partition that refused any prints one stderr line, as
 * the TCP and UDP listeners do. The storage sink writes nothing itself:
 * every store write goes through [[PointStore.append]].
 */
object PutLineIngest {

  /** Apply the ingest-time policy shared by every source: metric exclusion
    * (matched against the full metric line, reference Exclusions.java:96-105),
    * then per-metric tag stripping (Exclusions.java:147-155), then default
    * visibility injection (DataStore.java:402-407). All executor-side. */
  private def applyPolicy(
      points: Dataset[MetricPoint],
      excludeMetricRegex: Option[String],
      excludedTags: Map[String, Set[String]],
      defaultViz: Option[String]): Dataset[MetricPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    var out = points
    excludeMetricRegex.foreach { re => out = out.filter(p => !Exclusions.isExcluded(Seq(re), p)) }
    if (excludedTags.nonEmpty) out = out.map(Exclusions.stripTags(excludedTags, _))
    defaultViz.foreach { dv =>
      out = out.map(p => if (p.viz.isEmpty) p.copy(viz = Some(dv)) else p)
    }
    out
  }

  /** Decode each partition as one put; its refusals make one stderr line. */
  private def decodePartitions[A](in: Dataset[A])(
      decode: Iterator[A] => MetricParser.Decoded): Dataset[MetricPoint] = {
    val spark = in.sparkSession
    import spark.implicits._
    in.mapPartitions { it =>
      val put = decode(it)
      put.reportRefused("ingest")
      put.points.iterator
    }
  }

  /** Parse a (streaming or batch) line dataset into canonical points.
    * Exclusion filters (reference Exclusions.java) are predicate pushups:
    * apply `excludeMetricRegex` before anything else so excluded series
    * never enter the stream, and strip `excludedTags` before storage so
    * neither the data nor the meta catalog ever sees them. */
  def parse(
      lines: Dataset[String],
      excludeMetricRegex: Option[String] = None,
      defaultViz: Option[String] = None,
      excludedTags: Map[String, Set[String]] = Map.empty): Dataset[MetricPoint] = {
    applyPolicy(decodePartitions(lines)(MetricParser.lines), excludeMetricRegex, excludedTags, defaultViz)
  }

  /** Parse a (streaming or batch) dataset of binary frames — the S5 batch
    * ingest source. Works for any framed byte source (Kafka value column,
    * socket with length framing, file drop). Each frame is a TMFB batch or
    * put-line text ([[MetricParser.frame]]); a corrupt frame is refused, so
    * one bad frame never fails the micro-batch and crash-loops checkpoint
    * replay. */
  def parseFrames(
      frames: Dataset[Array[Byte]],
      excludeMetricRegex: Option[String] = None,
      defaultViz: Option[String] = None,
      excludedTags: Map[String, Set[String]] = Map.empty): Dataset[MetricPoint] = {
    val decoded = decodePartitions(frames) { fs =>
      val puts = fs.map(MetricParser.frame).toSeq
      MetricParser.Decoded(puts.flatMap(_.points), puts.flatMap(_.refused))
    }
    applyPolicy(decoded, excludeMetricRegex, excludedTags, defaultViz)
  }

  /** Exact-dedup a streaming points frame within an event-time watermark.
    * At-least-once transports re-deliver frames (Kafka redelivery, client
    * retry after a dropped ack), and the reference's store is naturally
    * idempotent — re-putting a point overwrites the same Accumulo key
    * (common/src/main/java/timely/accumulo/MetricAdapter.java:87-110). An
    * append-only parquet sink is NOT idempotent, so ingest gets an explicit
    * dedup stage: `dropDuplicatesWithinWatermark` keyed on the full point
    * identity, with state bounded by the watermark window (a fixed-size
    * recent-window state store per key at any corpus scale, never
    * corpus-sized). Tags ride as sorted-entry JSON rather than the display
    * `k=v,..` form ([[graft.operators.TimeSeries.seriesKey]]): map columns
    * can't key a dedup, sorting makes logically-equal maps collide as
    * intended, and JSON string escaping makes the key INJECTIVE — a tag
    * value containing `=`/`,` must not make two distinct points dedup into
    * one (that would be silent data loss, not mere idempotency).
    *
    * DOCUMENTED DIVERGENCE — corrected re-puts: `value` is part of the dedup
    * key, so a re-put of the same (metric, ts, tags, viz) with a CHANGED
    * value lands as a second row, where the reference's Accumulo store
    * (value in the Value, not the key) overwrites and keeps the last write.
    * Keying without value here would keep the FIRST arrival
    * (dropDuplicatesWithinWatermark semantics) — the opposite of the
    * reference's last-write-wins, i.e. corrections silently ignored. Exact
    * redelivery idempotency plus visible corrections is the safer append-sink
    * trade; pipelines needing last-write-wins compaction run a batch
    * `row_number() over (partition by identity order by ingest desc) = 1`
    * maintenance pass (cf. SURVEY.md §2.1 S7 note). */
  def dedupPoints(points: Dataset[MetricPoint], delay: String = "10 minutes"): Dataset[MetricPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.toDF()
      .withColumn("event_ts", timestamp_millis(col("ts")))
      .withColumn("series_key",
        to_json(map_from_entries(sort_array(map_entries(col("tags"))))))
      .withWatermark("event_ts", delay)
      .dropDuplicatesWithinWatermark("metric", "ts", "value", "series_key", "viz")
      .drop("event_ts", "series_key")
      .as[MetricPoint]
  }

  /** Start a streaming write of parsed points into the store. Each
    * micro-batch goes through [[PointStore.append]] — the same serialized
    * points + meta catalog write every other store writer uses (the
    * reference writes meta keys on every store — DataStore.java:415-433) —
    * so the sink can share its directories with a serving transport. With
    * `internal` set, per-batch point/key counts feed the S10 loopback
    * (reference DataStore.java:436-441 increments the same counters on every
    * store call). */
  def startStorageSink(
      points: Dataset[MetricPoint],
      dataDir: String,
      metaDir: String,
      checkpointDir: String,
      internal: Option[InternalMetrics] = None): org.apache.spark.sql.streaming.StreamingQuery =
    points.toDF()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the append reads the batch twice (catalog triples, then points):
        // persisted, its lines are decoded, and their refusals reported, once
        val b = batch.persist()
        try {
          PointStore.append(b, dataDir, metaDir)
          internal.foreach { im =>
            val n = b.count()
            im.incrementMetricsReceived(n)
            im.incrementMetricKeysInserted(n)
            im.incrementMetaKeysInserted(PointStore.metaProjection(b).count())
          }
        } finally b.unpersist()
        ()
      }
      .start()
}
