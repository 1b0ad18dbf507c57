package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work charged to one span. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var taskMs = 0L
  var recordsRead = 0L; var bytesRead = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var filesRead = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; recordsRead += o.recordsRead
    bytesRead += o.bytesRead; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    filesRead += o.filesRead
  }
}

final case class Span(id: Int, parent: Int, req: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Where the benchmark's calls into a layer are wrapped: [[Tracer]] records
  * them, [[Untraced]] only runs them. */
trait Spans {
  def span[T](name: String)(body: => T): T
  def request(id: Int): Unit = ()
}

object Untraced extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/**
 * In-memory tracer for the traced replay. A span records name, start, end,
 * parent and request id; the open span id rides the calling thread's Spark
 * local properties, so the listener below charges every job, task and SQL
 * execution a call starts to the span that was open on that thread.
 */
final class Tracer(spark: SparkSession) extends Spans {
  val spans = ArrayBuffer[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val req = ThreadLocal.withInitial[Int](() => 0)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val PropKey = "perfbench.span"
  override def request(id: Int): Unit = req.set(id)

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private def cnt(span: Int) = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
      cnt(span).synchronized(cnt(span).jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      val c = cnt(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.recordsRead += m.inputMetrics.recordsRead
          c.bytesRead += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val open = stack.get
    val sc = spark.sparkContext
    sc.setLocalProperty(PropKey, id.toString)
    stack.set(id :: open)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(open)
      sc.setLocalProperty(PropKey, open.headOption.map(_.toString).orNull)
      spans.synchronized(spans += Span(id, open.headOption.getOrElse(-1), req.get, name, t0, t1))
    }
  }

  /** Drain the listener bus and fold SQL scan metrics (files read) into
    * the spans; call once after the replay. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val store = org.apache.spark.PerfbenchBridge.sqlStatus(spark)
    execSpan.asScala.foreach { case (exec, span) =>
      store.execution(exec).foreach { ui =>
        val ids = ui.metrics.filter(_.name == "number of files read").map(_.accumulatorId).toSet
        val vals = store.executionMetrics(exec)
        val files = ids.toSeq.flatMap(vals.get).map(s => s.replaceAll("[^0-9]", "")).filter(_.nonEmpty).map(_.toLong).sum
        val c = cnt(span); c.synchronized(c.filesRead += files)
      }
    }
  }

  def countersOf(span: Int): Counters = Option(counters.get(span)).getOrElse(new Counters)

  /** Duration minus the union of the children's intervals. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Per span name, over the spans whose root span is named `root`: (ops,
    * total self ms, total ms, counters including the descendants' work). */
  def summary(root: String): Map[String, (Int, Double, Double, Counters)] = {
    val all = spans.synchronized(spans.toList)
    val byId = all.map(s => s.id -> s).toMap
    def top(s: Span): Span = byId.get(s.parent).map(top).getOrElse(s)
    val kept = all.filter(top(_).name == root)
    val kids = kept.groupBy(_.parent)
    def subtree(id: Int): Counters = {
      val c = new Counters; c.add(countersOf(id))
      kids.getOrElse(id, Nil).foreach(k => c.add(subtree(k.id)))
      c
    }
    kept.groupBy(_.name).map { case (name, ss) =>
      val c = new Counters
      ss.foreach(s => c.add(subtree(s.id)))
      name -> ((ss.length, ss.map(s => selfMs(s, kids.getOrElse(s.id, Nil))).sum, ss.map(_.ms).sum, c))
    }
  }

  /** Spans as JSON lines (name, start, end, parent, request id). */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the value at 1-indexed rank ceil(p*n). */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.length - 1e-9).toInt) - 1)
  }

  /** The highest percentile, in whole percent and at most `target`, whose
    * nearest rank leaves at least `beyond` samples above it; the median
    * (0.5) when even that is not supported. */
  def supportedPercentile(n: Int, target: Double = 0.9, beyond: Int = 10): Double = {
    val p = (math.round(target * 100).toInt to 50 by -1).map(_ / 100.0)
      .find(p => n - math.ceil(p * n - 1e-9).toInt >= beyond)
    p.getOrElse(0.5)
  }

  /** Distribution-free interval for the median of `xs` (order statistics
    * at about 95% by the sign test; [min, max] up to seven samples). */
  def medianInterval(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "interval of nothing")
    val s = xs.sorted; val n = s.length
    val k = math.max(0, math.floor(n / 2.0 - 0.98 * math.sqrt(n)).toInt)
    (s(k), s(n - 1 - k))
  }

  /** (percentile used, value) under [[supportedPercentile]]. */
  def tail(xs: Seq[Double], target: Double = 0.9): (Double, Double) = {
    val p = supportedPercentile(xs.length, target)
    (p, if (p == 0.5) median(xs) else nearestRank(xs, p))
  }
}
