package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.planner.{QueryJson, QueryPlanner}
import graft.sources.PointStore
import graft.streaming.PutLineIngest

/**
 * End-to-end quickstart: wire-format put lines -> parse -> partitioned store
 * -> OpenTSDB-style JSON query -> response JSON. Run with
 * `sbt "runMain graft.Quickstart"`.
 */
object Quickstart {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = args.headOption.getOrElse("/tmp/graft-quickstart")
    val T = 1704067200000L
    val lines = Seq(
      s"put sys.cpu.user $T 1.0 host=a viz=A",
      s"put sys.cpu.user ${T + 1000} 3.0 host=a viz=A",
      s"put sys.cpu.user ${T + 1500} 5.0 host=b viz=A&B",
      "garbage line (dropped)").toDS()

    val pts = PutLineIngest.parse(lines)
    PointStore.write(pts.toDF(), s"$dir/store", SaveMode.Overwrite)
    val stored = PointStore.read(spark, s"$dir/store")
    PointStore.writeMeta(stored, s"$dir/meta")
    println(s"STORED_ROWS=${stored.count()}")

    val req = QueryJson.parseRequest(
      s"""{"start": $T, "end": ${T + 60000}, "queries": [
         |  {"aggregator": "sum", "metric": "sys.cpu.user",
         |   "downsample": "1s-avg", "tags": {}}]}""".stripMargin)
    // session with auth A only: the host=b point (viz A&B) must stay invisible
    println("RESPONSE=" + QueryPlanner.runQuery(stored, req, auths = Seq("A")))

    // hot/cold tiering: recent window cached in memory, reads split at the
    // boundary (reference cache-probe semantics) — same answer either way
    val hot = graft.sources.HotColdPoints.hotWindow(stored, T + 1000)
    val tiered = graft.sources.HotColdPoints.union(stored, hot, T + 1000)
    println("TIERED_RESPONSE_EQUAL=" +
      (QueryPlanner.runQuery(tiered, req, Seq("A")) == QueryPlanner.runQuery(stored, req, Seq("A"))))

    // GET-form query string (OpenTSDB m= syntax) through the same planner
    val mReq = QueryPlanner.TsQueryRequest(T, T + 60000, msResolution = false,
      queries = Seq(QueryJson.parseMQuery("sum:1s-avg:sys.cpu.user{host=a}")))
    println("M_RESPONSE=" + QueryJson.toResponses(
      QueryPlanner.plan(stored, mReq, auths = Seq("A")).head))

    // S5: a FlatBuffers Metrics batch goes through the same put decoder —
    // MetricParser.frame auto-detects the "TMFB" identifier vs put-line text
    val fbFrame = graft.model.MetricsFlatBuffer.encode(pts.collect().toIndexedSeq)
    println(s"FB_DECODED=${graft.model.MetricParser.frame(fbFrame).points.size}")

    // P6: ingest-time exclusions — tag stripping configured per metric
    val stripped = PutLineIngest.parse(
      Seq(s"put sys.mem $T 1.0 host=a secret=x").toDS(),
      excludedTags = Map("sys.mem" -> Set("secret"))).collect()
    println(s"EXCLUSIONS_TAGS=${stripped.head.tags.keySet.mkString(",")}")

    // S10: the engine reports its own counters back into the store and its
    // meta catalog, through the same PointStore.append every put uses
    val im = new graft.streaming.InternalMetrics("quickstart", 1)
    im.incrementMetricsReceived(lines.count())
    im.loopback(spark, s"$dir/store", s"$dir/meta", T + 2000)
    println("LOOPBACK_ROWS=" + PointStore.read(spark, s"$dir/store")
      .where($"metric".startsWith("timely.")).count())

    // M1/M2 wire shapes over the served catalog, loopback metrics included
    val meta = PointStore.readMeta(spark, s"$dir/meta")
    println("SUGGEST=" + graft.planner.TimelyApi.suggestJson(meta, "metrics", "."))
    println("LOOKUP=" + graft.planner.TimelyApi.lookupJson(
      meta, "timely.metrics.received", Map("host" -> "quickstart.*")))

    // session-level enforcement: with GraftExtensions registered, even a RAW
    // read of a viz-bearing table is filtered by the session's auths — user
    // code cannot bypass it.
    spark.conf.set(graft.plans.VizEnforcement.EnforceConf, "true")
    spark.conf.set(graft.plans.VizEnforcement.AuthsConf, "A")
    println(s"ENFORCED_RAW_READ_ROWS=${PointStore.read(spark, s"$dir/store").count()}")
    spark.conf.set(graft.plans.VizEnforcement.EnforceConf, "false")
    spark.stop()
  }
}
