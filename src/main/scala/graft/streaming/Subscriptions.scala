package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.planner.QueryPlanner

/**
 * Subscription engine of one WebSocket connection — the Spark re-expression
 * of the reference's subscription surface (reference: create/add/remove/close
 * operations, common/src/main/java/timely/api/request/websocket/
 * AddSubscription.java:1-40; per-metric tailing MetricScanner threads,
 * server/src/main/java/timely/server/subscription/MetricScanner.java:45-120).
 *
 * Each (subscription id, metric) subscription is one Structured Streaming
 * query over [[QueryPlanner.select]], the selection a served query makes,
 * with no upper ts bound. The reference's replay-from-beginTime maps onto the
 * selection's start, and `delay` becomes the processing trigger interval.
 * Two engines — two connections — may hold the same key without meeting.
 *
 * Each micro-batch is one unit of delivery: `deliver(id, row)` receives its
 * in-range rows in ts order, then `end(id, metric, false)` runs. When the
 * subscription ends — by bounded completion, [[removeMetric]] or [[close]] —
 * `end(id, metric, true)` runs once, the reference's `complete:true`
 * sentinel (MetricScanner.java:270-280; see
 * [[MetricResponseJson.completed]]). A micro-batch delivers only while its
 * own tail is still the current one for its key, so a tail that was removed
 * or replaced is silent from that moment on.
 */
class Subscriptions(
    deliver: (String, Row) => Unit,
    end: (String, String, Boolean) => Unit) {

  private type Key = (String, String) // (subscription id, metric)

  /** One subscription's tail; its query is known once started. */
  private final class Tail { @volatile var query: StreamingQuery = _ }

  private val tails = new ConcurrentHashMap[Key, Tail]()

  /** `add` operation: start a tailing query for one metric. `pointsStream`
    * is a streaming DataFrame of the canonical point schema. A zero
    * `beginTimeMs` clamps to the retention horizon when `ageOffTtlMs` is
    * configured — the reference starts zero-start subscriptions at the
    * age-off horizon, not the epoch (MetricScanner.java:45-120). Adding a
    * key again replaces its tail.
    *
    * A nonzero `endTimeMs` makes the subscription BOUNDED (reference
    * AddSubscription.endTime, AddSubscription.java:14,45-46): points past the
    * end are never delivered, and the subscription completes — without an
    * explicit remove — as soon as the stream produces evidence it has
    * progressed beyond the range (the first in-selection point with
    * ts > endTimeMs, the micro-batch analog of MetricScanner exhausting its
    * final bounded range and calling sendCompletedResponse,
    * MetricScanner.java:110,270-280). Like the reference scanner — which only
    * finishes once its Accumulo scan moves past endTime — completion requires
    * the stream to reach beyond the bound; a stream that stops exactly at
    * endTime keeps the subscription open until removed. */
  def addMetric(
      id: String,
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
    val k = (id, metric)
    val tail = new Tail
    // a replaced tail is no longer current, so it delivers nothing more; it
    // stops before its successor starts
    val old = tails.put(k, tail)
    if (old != null && old.query != null) old.query.stop()
    // foreachBatch, not a row-wise ForeachWriter: one micro-batch's rows land
    // unordered across partitions, so a past-end row could end the
    // subscription BEFORE other partitions delivered their in-range rows.
    // unnamed: Spark requires a query's name to be unique per session, and
    // the same key may be live on two connections
    val q = QueryPlanner.select(pointsStream, metric, auths, begin, tags).writeStream
      .trigger(Trigger.ProcessingTime(delayMs))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // the sorted micro-batch streams to the driver one range-partition
        // at a time (toLocalIterator), in global ts order — a huge backlog
        // holds at most one partition in driver memory, the analog of
        // MetricScanner fetching its scan in bounded ranges
        // (MetricScanner.java:45-130); the first past-end row ends the range
        val it = batch.sort("ts").toLocalIterator()
        var pastEnd = false
        while (!pastEnd && it.hasNext) {
          val r = it.next()
          if (endTimeMs != 0L && r.getAs[Long]("ts") > endTimeMs) pastEnd = true
          else if (tails.get(k) eq tail) deliver(id, r)
        }
        if (pastEnd) completeBounded(k, tail)
        else if (tails.get(k) eq tail) end(id, metric, false)
      }
      .start()
    tail.query = q
    if (tails.get(k) ne tail) q.stop() // completed or replaced before it was known
    q
  }

  /** A bounded tail's end, once: its `end(…, true)`, then a stop from another
    * thread — stopping a query inside its own batch deadlocks. A query not
    * known yet is stopped by [[addMetric]] once it is. */
  private def completeBounded(k: Key, tail: Tail): Unit =
    if (tails.remove(k, tail)) {
      end(k._1, k._2, true)
      val stopper = new Thread(() => Option(tail.query).foreach(_.stop()),
        s"graft-sub-complete-${k._1}/${k._2}")
      stopper.setDaemon(true)
      stopper.start()
    }

  /** `remove` operation: stop one metric's tail, then its `end(…, true)`. */
  def removeMetric(id: String, metric: String): Unit = {
    val tail = tails.remove((id, metric))
    if (tail != null) {
      if (tail.query != null) tail.query.stop()
      end(id, metric, true)
    }
  }

  /** `close` operation: remove every metric of the subscription id. */
  def close(id: String): Unit =
    tails.keySet().forEach(k => if (k._1 == id) removeMetric(id, k._2))

  /** The live subscriptions as `<subscription id>/<metric>`, sorted. */
  def activeQueries: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tails.keySet().asScala.toSeq.map { case (id, metric) => s"$id/$metric" }.sorted
  }
}
