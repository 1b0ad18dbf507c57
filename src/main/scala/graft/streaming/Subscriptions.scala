package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.planner.QueryPlanner

/**
 * Subscription manager — the Spark re-expression of the reference's WebSocket
 * subscription surface (reference: create/add/remove/close operations,
 * common/src/main/java/timely/api/request/websocket/AddSubscription.java:1-40;
 * per-metric tailing MetricScanner threads,
 * server/src/main/java/timely/server/subscription/MetricScanner.java:45-120).
 *
 * Each (session, metric) subscription becomes a Structured Streaming query:
 * `readStream -> filter(metric ∧ tags ∧ viz) -> sink`. The reference's
 * replay-from-beginTime maps onto the stream starting position, and `delay`
 * becomes the processing trigger interval. Every subscription lives in its
 * instance, keyed by its (session, metric) pair: two instances — two
 * WebSocket connections — may hold the same pair without meeting.
 */
class Subscriptions(
    sink: Row => Unit,
    onComplete: (String, String) => Unit = (_, _) => ()) {

  private type Key = (String, String) // (session id, metric)

  private val active = new ConcurrentHashMap[Key, StreamingQuery]()
  // each subscription's sink, looked up per micro-batch rather than captured,
  // so a subscription replaced under the same key stops delivering at once
  private val sinks = new ConcurrentHashMap[Key, Subscriptions.SubSink]()

  /** The reference sends a `complete:true` MetricResponse sentinel when a
    * scanner finishes or its subscription is torn down
    * (MetricScanner.java:270-280) — surfaced here as the onComplete callback
    * with (sessionId, metric); pair it with
    * [[MetricResponseJson.completed]] for the wire shape. */
  private def signalComplete(sessionId: String, metric: String): Unit =
    onComplete(sessionId, metric)

  /** `add` operation: start a tailing query for one metric. `pointsStream`
    * is a streaming DataFrame of the canonical point schema. A zero
    * `beginTimeMs` clamps to the retention horizon when `ageOffTtlMs` is
    * configured — the reference starts zero-start subscriptions at the
    * age-off horizon, not the epoch (MetricScanner.java:45-120).
    *
    * A nonzero `endTimeMs` makes the subscription BOUNDED (reference
    * AddSubscription.endTime, AddSubscription.java:14,45-46): points past the
    * end are never delivered, and the `complete:true` sentinel fires
    * automatically — without an explicit remove — as soon as the stream
    * produces evidence it has progressed beyond the range (the first in-
    * metric point with ts > endTimeMs, the micro-batch analog of
    * MetricScanner exhausting its final bounded range and calling
    * sendCompletedResponse, MetricScanner.java:110,270-280). Like the
    * reference scanner — which only finishes once its Accumulo scan moves
    * past endTime — completion requires the stream to reach beyond the bound;
    * a stream that stops exactly at endTime keeps the subscription open until
    * removed. */
  def addMetric(
      sessionId: String,
      pointsStream: DataFrame,
      metric: String,
      tags: Map[String, String] = Map.empty,
      auths: Seq[String] = Seq.empty,
      beginTimeMs: Long = 0L,
      endTimeMs: Long = 0L,
      delayMs: Long = 1000L,
      ageOffTtlMs: Option[Long] = None,
      nowMs: () => Long = () => System.currentTimeMillis()): StreamingQuery = {
    val begin =
      if (beginTimeMs == 0L) ageOffTtlMs.map(ttl => nowMs() - ttl).getOrElse(0L)
      else beginTimeMs
    // the ts upper cut is enforced at delivery, not in the plan: the first
    // past-end row is the bounded-subscription completion SIGNAL
    var df = pointsStream
      .where(col("metric") === metric && col("ts") >= begin)
      .where(graft.functions.VizFunctions.vizVisible(col("viz"), lit(auths.mkString(","))))
    tags.foreach { case (k, v) => df = df.where(QueryPlanner.tagPredicate(k, v)) }
    val k = (sessionId, metric)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    sinks.put(k,
      Subscriptions.SubSink(sink, endTimeMs, () => completeBounded(sessionId, metric, fired)))
    // foreachBatch, not a row-wise ForeachWriter: one micro-batch's rows land
    // unordered across partitions, so a past-end row could tear the sink down
    // BEFORE other partitions delivered their in-range rows. Batch-granular
    // delivery sorts by ts (the reference scanner's key order), serves every
    // in-range row, and only then fires the bounded-completion signal.
    // unnamed: Spark requires a query's name to be unique per session, and
    // the same (session, metric) pair may be live on two connections
    val q = df.writeStream
      .trigger(Trigger.ProcessingTime(delayMs))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val s = sinks.get(k)
        if (s != null) {
          var pastEnd = false
          // BOUNDED replay: the sorted micro-batch streams to the driver one
          // range-partition at a time (toLocalIterator) instead of one
          // collect — a subscription replaying a huge backlog holds at most
          // one partition in driver memory, the micro-batch analog of
          // MetricScanner fetching its scan in bounded ranges
          // (MetricScanner.java:45-130). Global ts order is preserved: sort
          // range-partitions by ts and the iterator walks partitions in
          // order, each internally sorted.
          val it = batch.sort("ts").toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            if (s.endTimeMs == 0L || r.getAs[Long]("ts") <= s.endTimeMs) s.deliver(r)
            else pastEnd = true
          }
          if (pastEnd) s.onPastEnd()
        }
      }
      .start()
    val old = active.put(k, q)
    if (old != null) old.stop()
    q
  }

  /** Automatic completion of a bounded subscription: exactly-once per
    * subscription (the past-end signal can arrive from several partitions of
    * one micro-batch), sentinel first, then an async stop of the query — the
    * signal fires on an executor task thread, and StreamingQuery.stop from
    * inside the batch it is processing would deadlock. */
  private def completeBounded(
      sessionId: String, metric: String,
      fired: java.util.concurrent.atomic.AtomicBoolean): Unit =
    if (fired.compareAndSet(false, true)) {
      val k = (sessionId, metric)
      val q = active.remove(k)
      sinks.remove(k)
      signalComplete(sessionId, metric)
      if (q != null) {
        val t = new Thread(() => try q.stop() catch { case _: Throwable => () },
          s"graft-sub-complete-$sessionId/$metric")
        t.setDaemon(true)
        t.start()
      }
    }

  /** `remove` operation: stop one metric's tail (+ completion sentinel). */
  def removeMetric(sessionId: String, metric: String): Unit = {
    val k = (sessionId, metric)
    val q = active.remove(k)
    sinks.remove(k)
    if (q != null) {
      q.stop()
      signalComplete(sessionId, metric)
    }
  }

  /** `close` operation: tear down every query of the session (+ sentinels) —
    * one teardown implementation, shared with [[removeMetric]], so the
    * race-sensitive remove/stop/signal sequence exists exactly once. */
  def close(sessionId: String): Unit = {
    val it = active.keySet().iterator()
    while (it.hasNext) {
      val (id, metric) = it.next()
      if (id == sessionId) removeMetric(id, metric)
    }
  }

  /** The live subscriptions as `<session id>/<metric>`, sorted. */
  def activeQueries: Seq[String] = {
    import scala.jdk.CollectionConverters._
    active.keySet().asScala.toSeq.map { case (id, metric) => s"$id/$metric" }.sorted
  }
}

object Subscriptions {

  /** One registered subscription sink: the delivery callback, the bounded-
    * subscription end (0 = unbounded tail), and the auto-completion hook. */
  private[streaming] case class SubSink(
      deliver: Row => Unit, endTimeMs: Long, onPastEnd: () => Unit)
}
