package graft.streaming

import java.util.concurrent.atomic.DoubleAdder

import org.apache.spark.sql.SparkSession

import graft.model.MetricPoint
import graft.sources.PointStore

/**
 * S10 internal-metrics loopback — the engine reports its own operational
 * counters as ordinary metric points fed back into its own store (reference
 * server/src/main/java/timely/server/store/InternalMetrics.java:18-125;
 * reported on the cache maintenance tick, DataStoreCache.java:158,310). The
 * report is stored like any put: every store write goes through
 * [[PointStore.append]], so the points land with their catalog rows.
 *
 * Names, tag shape (`host=<hostname>_<instance>`), emission order, which
 * counters reset on report, and the derived-value formulas all mirror
 * `getMetricsAndReset` (InternalMetrics.java:88-125) — including its
 * documented-as-average but actually INVERSE `query.return.time`
 * (queries / elapsed-ms, InternalMetrics.java:108-110) — so dashboards built
 * on the reference read identically here.
 */
class InternalMetrics(hostName: String = InternalMetrics.localHost, instance: Int = 1) {

  private val metricsReceived = new DoubleAdder
  private val cachedMetricsReceived = new DoubleAdder
  private val metaKeysInserted = new DoubleAdder
  private val metricKeysInserted = new DoubleAdder
  private val queriesCompleted = new DoubleAdder
  private val metricsReturned = new DoubleAdder
  private val elapsedQueryTime = new DoubleAdder
  @volatile private var cachedMetricsTotal: Double = 0
  @volatile private var oldestCachedAgeMs: Double = 0

  private val tags = Map("host" -> s"${hostName}_$instance")

  def incrementMetricsReceived(n: Long): Unit = metricsReceived.add(n.toDouble)
  def incrementMetricsCached(n: Long): Unit = cachedMetricsReceived.add(n.toDouble)
  def incrementMetaKeysInserted(n: Long): Unit = metaKeysInserted.add(n.toDouble)
  def incrementMetricKeysInserted(n: Long): Unit = metricKeysInserted.add(n.toDouble)
  def setNumCachedMetricsTotal(n: Long): Unit = cachedMetricsTotal = n.toDouble
  def setAgeOfOldestCachedMetric(ageMs: Long): Unit = oldestCachedAgeMs = ageMs.toDouble

  /** One query finished: response count + elapsed wall ms
    * (InternalMetrics.java:70-74). */
  def addQueryResponse(numMetrics: Long, elapsedMs: Long): Unit = {
    queriesCompleted.add(1)
    metricsReturned.add(numMetrics.toDouble)
    elapsedQueryTime.add(elapsedMs.toDouble)
  }

  /**
   * Snapshot all internal metrics as points at `tsMs` and reset the
   * incremental counters (gauges keep their value) — exact parity with
   * getMetricsAndReset (InternalMetrics.java:88-125). `tsMs` is injectable so
   * tests and replays are deterministic.
   */
  def metricsAndReset(tsMs: Long): Seq[MetricPoint] = synchronized {
    def p(name: String, v: Double) = MetricPoint(name, tsMs, v, tags, None)
    val out = Seq.newBuilder[MetricPoint]
    out += p("timely.metrics.received", metricsReceived.sumThenReset())
    out += p("timely.cache.metric.received", cachedMetricsReceived.sumThenReset())
    out += p("timely.cache.metric.total", cachedMetricsTotal)
    out += p("timely.cache.metric.oldest.age", oldestCachedAgeMs)
    out += p("timely.keys.meta.inserted", metaKeysInserted.sumThenReset())
    out += p("timely.keys.metric.inserted", metricKeysInserted.sumThenReset())
    val queries = queriesCompleted.sumThenReset()
    val returned = metricsReturned.sumThenReset()
    val elapsed = elapsedQueryTime.sumThenReset()
    out += p("timely.query.num.completed", queries)
    out += p("timely.query.metrics.returned", returned)
    if (elapsed > 0) {
      // the reference's "average response time" is queries/elapsed (inverse!)
      // and its return rate is responses per minute — replicated verbatim
      out += p("timely.query.return.time", queries / elapsed)
      out += p("timely.query.metrics.returned.rate", returned / (elapsed / (1000 * 60)))
    } else {
      out += p("timely.query.metrics.returned.rate", 0)
    }
    out.result()
  }

  /** The loopback itself: snapshot-and-reset, then append to the same
    * store and meta catalog every other metric lives in through
    * [[PointStore.append]] — the reported points are suggestable and
    * queryable through the ordinary serving paths with no special case. */
  def loopback(spark: SparkSession, dataDir: String, metaDir: String, tsMs: Long): Unit =
    PointStore.append(spark, metricsAndReset(tsMs), dataDir, metaDir)
}

object InternalMetrics {
  private def localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }
}
