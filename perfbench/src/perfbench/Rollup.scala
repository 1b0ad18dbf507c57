package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Summarization, TimeSeries}
import graft.sources.PointStore

/**
 * `rollup`: an in-process batch job over the 7-day store. One pass runs five
 * steps — 1 h-avg downsample of every series, cross-series sum by rack,
 * counter rate, 1-day nearest-rank p95 downsample, hourly summarization —
 * and every step's output is checked against the closed form.
 */
object Rollup {
  val Hour = 3600000L
  val Day = 86400000L
  val CounterMetric = "app.requests"
  /** Untimed passes first, over a one-day copy of the store (cheap), then
    * one over the store itself: the JIT and Spark's code generation settle
    * before the clock runs. */
  val WarmupPasses = 2

  def seriesKey(s: Series): String = s.tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Expected outputs, computed once per run from the closed form. */
  final class Expected(u: Universe) {
    private def values(s: Series) = (0 until u.steps).map(k => (u.ts(k), u.value(s, k)))
    val downsample: Map[(String, String, Long), Double] = u.series.flatMap { s =>
      values(s).groupBy { case (t, _) => t - t % Hour }.map { case (b, vs) => (s.metric, seriesKey(s), b) -> vs.map(_._2).sum / vs.length }
    }.toMap
    val byRack: Map[(String, String, Long), Double] = u.series.flatMap { s =>
      values(s).groupBy { case (t, _) => t - t % Hour }.map { case (b, vs) => ((s.metric, s.tags("rack"), b), vs.map(_._2).sum / vs.length) }
    }.groupBy(_._1).map { case (k, vs) => k -> Expect.fold(vs.map(_._2)) }
    val rate: Map[String, (Double, Long)] = u.byMetric(CounterMetric).map { s =>
      val r = (1 until u.steps).map(k => (u.value(s, k) - u.value(s, k - 1)) / (u.ts(k) - u.ts(k - 1)).toDouble * 60000.0)
      seriesKey(s) -> ((Expect.fold(r), r.length.toLong))
    }.toMap
    val p95: Map[(String, String, Long), Double] = u.series.filterNot(_.counter).flatMap { s =>
      values(s).groupBy { case (t, _) => t - t % Day }.map { case (b, vs) =>
        val sorted = vs.map(_._2).sorted
        (s.metric, seriesKey(s), b) -> sorted(math.max(1, math.ceil(0.95 * sorted.length).toInt) - 1)
      }
    }.toMap
    /** (metric_summarized, window) -> cnt, min, max, sum, avg, p50, p75, p90, p99 */
    val summary: Map[(String, Long), Seq[Double]] = u.series.flatMap(s => values(s).map { case (t, v) => ((s.metric, t - t % Hour), v) })
      .groupBy(_._1).map { case ((m, w), vs) =>
        val sorted = vs.map(_._2).sorted.toIndexedSeq
        val n = sorted.length
        def rank(p: Double) = sorted(math.ceil(p * n).toInt - 1)
        (s"${m}_summarized", w) -> Seq(n.toDouble, sorted.head, sorted.last, sorted.sum, sorted.sum / n,
          rank(0.5), rank(0.75), rank(0.9), rank(0.99))
      }
  }

  private def near(a: Double, b: Double) = Expect.close(a, b)

  private def compare[K](name: String, got: Map[K, Double], want: Map[K, Double]): Option[String] =
    if (got.size != want.size || got.keySet != want.keySet) Some(s"$name: ${got.size} keys, want ${want.size}")
    else want.collectFirst { case (k, v) if !near(got(k), v) => s"$name at $k: got ${got(k)}, want $v" }

  /** The five steps of one pass; each returns its collected rows. */
  def steps(points: DataFrame, sp: Spans): Seq[(String, () => Array[Row])] = {
    var ds: DataFrame = null
    Seq(
      "downsample" -> (() => sp.span("operators.downsample") {
        ds = TimeSeries.downsample(points, Hour, "avg", exact = true).persist()
        ds.collect()
      }),
      "cross_series" -> (() => sp.span("operators.cross_series") {
        try TimeSeries.crossSeries(
          ds.withColumn("rack", regexp_extract(col("series"), "(?:^|,)rack=([^,]*)", 1)),
          "sum", groupCols = Seq("metric", "rack")).collect()
        finally ds.unpersist()
      }),
      "rate" -> (() => sp.span("operators.rate") {
        TimeSeries.rate(points.where(col("metric") === CounterMetric), 60000L, counter = true)
          .groupBy(col("series")).agg(sum(col("rate")), count(col("rate"))).collect()
      }),
      "percentile" -> (() => sp.span("operators.percentile") {
        TimeSeries.downsamplePercentile(points.where(col("metric") =!= CounterMetric), Day, 0.95).collect()
      }),
      "summarize" -> (() => sp.span("operators.summarize") {
        Summarization.summarize(points, Hour).collect()
      }))
  }

  def check(name: String, rows: Array[Row], e: Expected): Option[String] = name match {
    case "downsample" => compare(name, rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3)).toMap, e.downsample)
    case "cross_series" => compare(name, rows.map(r => (r.getAs[String]("metric"), r.getAs[String]("rack"), r.getAs[Long]("bucket_ms")) -> r.getAs[Double]("value")).toMap, e.byRack)
    case "rate" =>
      compare(name, rows.map(r => r.getString(0) -> r.getDouble(1)).toMap, e.rate.map { case (k, v) => k -> v._1 })
        .orElse(rows.collectFirst { case r if r.getLong(2) != e.rate(r.getString(0))._2 => s"rate count for ${r.getString(0)}" })
    case "percentile" => compare(name, rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3)).toMap, e.p95)
    case "summarize" =>
      val got = rows.map(r => (r.getString(0), r.getLong(1)) -> (2 to 10).map(i => r.get(i).toString.toDouble)).toMap
      if (got.keySet != e.summary.keySet) Some(s"summarize: ${got.size} windows, want ${e.summary.size}")
      else e.summary.collectFirst { case (k, v) if !v.zip(got(k)).forall { case (a, b) => near(a, b) } =>
        s"summarize at $k: got ${got(k)}, want $v" }
  }

  /** One pass: (wall seconds of the steps, per-step failure). Checks run
    * after the clock stops. */
  def pass(spark: SparkSession, data: String, e: Expected, sp: Spans): (Double, Seq[Option[String]]) = {
    val t0 = System.nanoTime()
    val outs = sp.span("client.pass") {
      val points = sp.span("sources.open")(PointStore.read(spark, data))
      steps(points, sp).map { case (name, run) =>
        name -> (try Right(run()) catch { case ex: Exception => Left(s"$name threw $ex") })
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    (secs, outs.map {
      case (_, Left(err)) => Some(err)
      case (name, Right(rows)) => check(name, rows, e)
    })
  }

  def run(seed: Long, seconds: Double, dir: String, trace: Boolean): String = {
    val spark = Main.spark()
    val u = Universe.rollup(seed)
    val data = s"$dir/store/data"; val meta = s"$dir/store/meta"
    val w0 = System.nanoTime()
    Setup.write(spark, u, data, meta)
    val writeS = (System.nanoTime() - w0) / 1e9
    Main.log("store written")
    val e = new Expected(u)
    Main.log("expected answers computed")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var attempted = 0
    def record(r: (Double, Seq[Option[String]])): Double = {
      attempted += r._2.length; failures ++= r._2.flatten; r._1
    }
    val day = u.copy(steps = (Day / u.stepMs).toInt)
    Setup.write(spark, day, s"$dir/warm/data", s"$dir/warm/meta")
    val dayExpected = new Expected(day)
    (1 to WarmupPasses).foreach(_ => record(pass(spark, s"$dir/warm/data", dayExpected, Untraced)))
    record(pass(spark, data, e, Untraced))
    Main.log("warmed up")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val untraced = scala.collection.mutable.ArrayBuffer[Double]()
    // a pass count fixed by --seconds alone (about one pass per 4 s): a
    // count that followed the measured speed would move the median along
    // the passes' warm-up trend. A traced run pairs each traced pass with
    // an untraced one, which goes first on every other pair.
    (1 to math.max(3, math.round(seconds / 4).toInt)).foreach { j =>
      def plain(): Unit = tracer.foreach(_ => untraced += record(pass(spark, data, e, Untraced)))
      if (j % 2 == 1) plain()
      times += record(pass(spark, data, e, tracer.getOrElse(Untraced)))
      if (j % 2 == 0) plain()
    }
    val base = Map[String, Any](
      "attempted" -> attempted, "failed" -> failures.length, "wrong" -> failures.length,
      "reasons" -> failures.take(5).toSeq, "write_s" -> writeS,
      "rollup_s" -> Stats.median(times.toSeq), "pass_s" -> times.toSeq,
      "rollup_tail_s" -> Stats.tail(times.toSeq)._2,
      "points_per_s" -> u.points / Stats.median(times.toSeq),
      "stored_rows" -> u.points, "rss_peak_mb" -> Main.rssPeakMb(), "data" -> data, "meta" -> meta,
      "inputs" -> Map("series" -> u.series.length, "points" -> u.points, "hour_partitions" -> u.metrics.length * u.steps * u.stepMs / Hour,
        "viz_share" -> u.series.count(_.viz.nonEmpty).toDouble / u.series.length))
    val traced = tracer.map { t =>
      t.finish()
      t.dump(s"$dir/spans.jsonl")
      val files = PointStore.read(spark, data).inputFiles.length
      val oh = Traced.paired("trace_overhead", times.zip(untraced).map { case (a, b) => (a - b) * 1000 }.toSeq)
      Map("per_layer" -> Layers.rollup(t, times.length, files, oh("trace_overhead_ms").asInstanceOf[Double])) ++ oh
    }
    Main.json(base ++ traced.getOrElse(Map.empty))
  }
}
