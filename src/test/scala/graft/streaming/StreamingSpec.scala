package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricPoint
import graft.operators.Summarization

/**
 * Structured Streaming behavior: put-line ingest parsing, the partitioned
 * storage sink with meta upsert, and stream==batch equivalence of the
 * summarization job (the Flink-parity A12 operator).
 */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val T = 1704067200000L

  test("streaming put-line ingest parses, excludes, injects default viz") {
    val input = MemoryStream[String]
    val parsed = PutLineIngest.parse(input.toDS(),
      excludeMetricRegex = Some("^drop\\..*"), defaultViz = Some("DEFAULT"))
    val q = parsed.writeStream.format("memory").queryName("ingest_test").start()
    input.addData(
      s"put sys.cpu.user $T 1.0 host=a",
      s"put drop.me $T 2.0 host=a",            // excluded metric
      "this is not a put line",                 // malformed -> dropped
      s"put sys.cpu.user ${T + 1} 2.0 host=b viz=X")
    q.processAllAvailable()
    val rows = spark.table("ingest_test").as[MetricPoint].collect().sortBy(_.ts)
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).viz.contains("DEFAULT")) // injected
    assert(rows(1).viz.contains("X"))       // preserved
    assert(rows.forall(_.metric == "sys.cpu.user"))
  }

  test("ingest reports its refused points on stderr, batch and streaming alike") {
    val lines = Seq(
      s"put ingest.refused $T 1.0 host=a",
      "garbage",                                  // unparseable
      s"put ingest.refused ${T + 1} 2.0 viz=A")   // no tag besides viz
    val Refused = """\[graft\] ingest refused (\d+) point\(s\); first: .+""".r
    /** Run `body` with System.err captured; the refused points it reports. */
    def refusedIn(body: => Unit): Int = {
      val err = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true))
      try body finally System.setErr(saved)
      err.toString("UTF-8").linesIterator.collect { case Refused(n) => n.toInt }.sum
    }
    val dir = Files.createTempDirectory("graft-ingest-refused").toString
    var points = Seq.empty[MetricPoint]
    assert(refusedIn {
      points = PutLineIngest.parse(lines.toDS().repartition(2)).collect().toSeq
    } == 2)
    graft.sources.PointStore.append(spark, points, s"$dir/data", s"$dir/meta")
    assert(graft.sources.PointStore.read(spark, s"$dir/data").count() == 1)
    // the storage sink reads each micro-batch twice; its refusals count once
    val input = MemoryStream[String]
    val q = PutLineIngest.startStorageSink(PutLineIngest.parse(input.toDS()),
      s"$dir/sdata", s"$dir/smeta", s"$dir/ckpt")
    try assert(refusedIn { input.addData(lines); q.processAllAvailable() } == 2)
    finally q.stop()
    assert(graft.sources.PointStore.read(spark, s"$dir/sdata").count() == 1)
  }

  test("streaming ingest dedup drops redelivered points, keeps distinct ones") {
    val input = MemoryStream[String]
    val deduped = PutLineIngest.dedupPoints(PutLineIngest.parse(input.toDS()))
    val q = deduped.writeStream.format("memory").queryName("dedup_test").start()
    input.addData(
      s"put sys.cpu.user $T 1.0 host=a",
      s"put sys.cpu.user $T 1.0 host=a",        // exact redelivery -> dropped
      s"put sys.cpu.user $T 1.0 host=b",        // different series -> kept
      s"put sys.cpu.user $T 2.0 host=a",        // different value -> kept
      s"put sys.cpu.user ${T + 1} 1.0 host=a")  // different ts -> kept
    q.processAllAvailable()
    // redelivery in a LATER micro-batch is the common at-least-once case
    input.addData(s"put sys.cpu.user $T 1.0 host=a")
    q.processAllAvailable()
    val rows = spark.table("dedup_test").as[MetricPoint].collect()
    q.stop()
    assert(rows.length == 4)
    assert(rows.count(p => p.ts == T && p.value == 1.0 && p.tags == Map("host" -> "a")) == 1)
  }

  test("ingest dedup key is injective: delimiter-bearing tags don't collide") {
    val input = MemoryStream[String]
    val deduped = PutLineIngest.dedupPoints(PutLineIngest.parse(input.toDS()))
    val q = deduped.writeStream.format("memory").queryName("dedup_inj_test").start()
    input.addData(
      s"""put m $T 1.0 h=a\\,x\\=b""", // ONE tag: h -> "a,x=b"
      s"""put m $T 1.0 h=a x=b""")     // TWO tags — same display form, distinct point
    q.processAllAvailable()
    val rows = spark.table("dedup_inj_test").as[MetricPoint].collect()
    q.stop()
    assert(rows.length == 2, s"distinct tag maps must both survive: ${rows.toSeq}")
    assert(rows.map(_.tags).toSet == Set(Map("h" -> "a,x=b"), Map("h" -> "a", "x" -> "b")))
  }

  test("excluded tags are stripped before storage: absent from data AND meta") {
    val dir = Files.createTempDirectory("graft-excl").toString
    val input = MemoryStream[String]
    // reference Exclusions.java:147-155: per-metric tag-KEY stripping at ingest
    val parsed = PutLineIngest.parse(input.toDS(),
      excludedTags = Map("sys.cpu.user" -> Set("instance", "pid")))
    val q = PutLineIngest.startStorageSink(parsed, s"$dir/data", s"$dir/meta", s"$dir/ckpt")
    input.addData(
      s"put sys.cpu.user $T 1.0 host=a instance=i-123 pid=42",
      s"put sys.cpu.idle $T 2.0 host=b instance=i-999") // unconfigured metric: untouched
    q.processAllAvailable()
    q.stop()
    val data = spark.read.parquet(s"$dir/data")
    val userTags = data.where(col("metric") === "sys.cpu.user")
      .select(explode(col("tags"))).as[(String, String)].collect().toMap
    assert(userTags == Map("host" -> "a")) // instance/pid stripped
    val idleTags = data.where(col("metric") === "sys.cpu.idle")
      .select(explode(col("tags"))).as[(String, String)].collect().toMap
    assert(idleTags == Map("host" -> "b", "instance" -> "i-999"))
    val metaKeys = spark.read.parquet(s"$dir/meta")
      .as[(String, String, String)].collect().toSet
    assert(metaKeys == Set(
      ("sys.cpu.user", "host", "a"),
      ("sys.cpu.idle", "host", "b"), ("sys.cpu.idle", "instance", "i-999")))
  }

  test("metric exclusion matches the full metric line with .* auto-append") {
    import graft.model.Exclusions
    val p = MetricPoint("sys.cpu.user", T, 1.0, Map("rack" -> "r1", "host" -> "a"), None)
    assert(Exclusions.metricLine(p) == "sys.cpu.user host=a rack=r1") // sorted tags
    assert(Exclusions.isExcluded(Seq("sys\\.cpu"), p))            // prefix + auto .*
    assert(Exclusions.isExcluded(Seq("sys\\.cpu\\.user host=a"), p)) // tag-aware match
    assert(!Exclusions.isExcluded(Seq("sys\\.cpu\\.user host=z"), p))
    assert(Exclusions.stripTags(Map("other" -> Set("host")), p) == p) // unconfigured
  }

  test("storage sink writes (metric, dt, hr)-partitioned data + meta") {
    val dir = Files.createTempDirectory("graft-store").toString
    val input = MemoryStream[String]
    val q = PutLineIngest.startStorageSink(PutLineIngest.parse(input.toDS()),
      s"$dir/data", s"$dir/meta", s"$dir/ckpt")
    input.addData(
      s"put sys.cpu.user $T 1.0 host=a rack=r1",
      s"put sys.cpu.idle ${T + 3600000} 2.0 host=b")
    q.processAllAvailable()
    q.stop()
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == 2)
    // partition columns materialized -> pruning-capable layout
    assert(data.columns.toSet.intersect(Set("metric", "dt", "hr")).size == 3)
    val meta = spark.read.parquet(s"$dir/meta")
      .as[(String, String, String)].collect().toSet
    assert(meta == Set(
      ("sys.cpu.user", "host", "a"), ("sys.cpu.user", "rack", "r1"),
      ("sys.cpu.idle", "host", "b")))
  }

  test("a storage-sink micro-batch shows on the very next served request") {
    val dir = Files.createTempDirectory("graft-sink-served").toString
    val (data, meta) = (s"$dir/data", s"$dir/meta")
    graft.sources.PointStore.append(spark,
      Seq(MetricPoint("sink.served", T, 1.0, Map("host" -> "a"), None)), data, meta)
    val api = new graft.server.HttpApi(spark, data, meta)
    val port = api.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(path: String): String = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    val query = s"/api/query?start=$T&end=${T + 6000}&m=max:sink.served"
    val input = MemoryStream[String]
    val q = PutLineIngest.startStorageSink(PutLineIngest.parse(input.toDS()),
      data, meta, s"$dir/ckpt")
    try {
      // served once: the facade's store entry holds this listing and catalog
      assert(get(query).contains(s""""${T / 1000}":1.0"""))
      assert(get("/api/suggest?type=tagv&q=sink.served&tagk=host") == """["a"]""")
      input.addData(s"put sink.served ${T + 1000} 2.0 host=b")
      q.processAllAvailable()
      val after = get(query)
      assert(after.contains(s""""${T / 1000}":1.0""") &&
        after.contains(s""""${T / 1000 + 1}":2.0"""), after)
      assert(get("/api/suggest?type=tagv&q=sink.served&tagk=host") == """["a","b"]""")
    } finally {
      q.stop()
      api.stop()
    }
    assert(q.exception.isEmpty)
  }

  test("storage sink and concurrent PointStore.append share one store exactly once") {
    import java.util.concurrent.{Executors, TimeUnit}
    val dir = Files.createTempDirectory("graft-shared").toString
    val (data, meta) = (s"$dir/data", s"$dir/meta")
    val input = MemoryStream[String]
    val q = PutLineIngest.startStorageSink(PutLineIngest.parse(input.toDS()),
      data, meta, s"$dir/ckpt")
    val pool = Executors.newFixedThreadPool(3)
    try {
      // three server-side writers append while the sink's micro-batches run
      val appends = (0 until 3).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 4).foreach { b =>
            graft.sources.PointStore.append(spark,
              (0 until 10).map(i => MetricPoint("put.m", T + b * 10 + i, i.toDouble,
                Map("host" -> s"t$t"), None)),
              data, meta)
          }
        })
      }
      (0 until 3).foreach { b =>
        input.addData((0 until 20).map(i => s"put sink.m ${T + b * 20 + i} $i.0 host=s"))
        q.processAllAvailable()
      }
      appends.foreach(_.get(2, TimeUnit.MINUTES))
    } finally {
      pool.shutdown()
      q.stop()
    }
    assert(q.exception.isEmpty)

    val stored = graft.sources.PointStore.read(spark, data)
    val perPoint = stored.groupBy(col("metric"), col("tags")("host"), col("ts")).count()
    assert(perPoint.count() == 3 * 20 + 3 * 4 * 10)
    assert(perPoint.where(col("count") =!= 1).isEmpty, "every point stored exactly once")
    val metaRows = graft.sources.PointStore.readMeta(spark, meta)
      .as[(String, String, String)].collect().toSet
    assert(metaRows == Set(("sink.m", "host", "s"),
      ("put.m", "host", "t0"), ("put.m", "host", "t1"), ("put.m", "host", "t2")))
  }

  test("streaming summarization equals the batch operator") {
    val pts = (0 until 20).map { i =>
      MetricPoint("m", T + i * 60000L, (i * 7 % 13).toDouble, Map("host" -> "a"), None)
    }
    val input = MemoryStream[MetricPoint]
    val stream = SummarizationJob.summarizeStream(input.toDS().toDF(), 3600000L, "0 seconds")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("summ_test").start()
    input.addData(pts: _*)
    q.processAllAvailable()
    // append mode finalizes only windows below the watermark: add a late probe
    // far in the future to flush, then compare finalized windows to batch
    input.addData(MetricPoint("m", T + 10L * 3600000L, 0.0, Map("host" -> "a"), None))
    q.processAllAvailable()
    val streamed = spark.table("summ_test")
      .select("metric", "window_ms", "cnt", "vmin", "vmax", "vsum", "vavg", "p50", "p75", "p90", "p99")
      .collect().toSet
    q.stop()
    val batch = Summarization.summarize(pts.toDF(), 3600000L)
      .select("metric", "window_ms", "cnt", "vmin", "vmax", "vsum", "vavg", "p50", "p75", "p90", "p99")
      .collect().toSet
    assert(batch.subsetOf(streamed))
    assert(batch.nonEmpty)
  }

  test("streaming rate (flatMapGroupsWithState) equals the batch rate operator") {
    // two series interleaved, fed across TWO micro-batches: the predecessor of
    // batch-2's first point lives in the group state, not the batch
    val mk = (ts: Long, v: Double, host: String) =>
      MetricPoint("m", ts, v, Map("host" -> host), None)
    val batch1 = Seq(mk(T, 10.0, "a"), mk(T + 1000, 40.0, "a"), mk(T, 5.0, "b"))
    val batch2 = Seq(mk(T + 2000, 40.0, "a"), mk(T + 3000, 20.0, "b"))
    val input = MemoryStream[MetricPoint]
    val q = RateJob.rateStream(input.toDS().toDF(), intervalMs = 1000L,
        counter = true, counterMax = 100L)
      .writeStream.outputMode("append").format("memory").queryName("rate_test").start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("rate_test")
      .select("metric", "series", "ts", "rate").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    val batch = graft.operators.TimeSeries.rate(
        (batch1 ++ batch2).toDF(), intervalMs = 1000L, counter = true, counterMax = 100L)
      .select("metric", "series", "ts", "rate").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.size == 3) // 2 rates for series a, 1 (counter-bumped) for b
  }

  test("subscriptions start, deliver, and tear down per (session, metric)") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val completed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val subs = new Subscriptions(
      (sid, row) => { received.add(MetricResponseJson.envelope(
        Seq(MetricResponseJson.response(row, sid)))); () },
      (sid, m, complete) => if (complete) { completed.add(MetricResponseJson.envelope(
        Seq(MetricResponseJson.completed(m, sid)))); () })
    val input = MemoryStream[MetricPoint]
    val q = subs.addMetric("session1", input.toDS().toDF(), metric = "sys.cpu.user",
      tags = Map("host" -> "a"), delayMs = 50L)
    input.addData(
      MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a"), None),
      MetricPoint("sys.cpu.user", T + 1, 1.0, Map("host" -> "b"), None), // tag mismatch
      MetricPoint("sys.cpu.idle", T + 2, 1.0, Map("host" -> "a"), None)) // other metric
    q.processAllAvailable()
    assert(subs.activeQueries == Seq("session1/sys.cpu.user"))
    assert(received.size() == 1)
    // delivery wire shape: MetricResponse field order + single-entry tag objects
    assert(received.peek() ==
      s"""{"responses":[{"metric":"sys.cpu.user","timestamp":$T,"value":1.0,""" +
      """"tags":[{"host":"a"}],"subscriptionId":"session1","complete":false}]}""")
    subs.close("session1")
    assert(subs.activeQueries.isEmpty)
    assert(!q.isActive)
    // teardown sends the reference's complete:true sentinel (MetricScanner.java:270-280)
    assert(completed.peek() ==
      """{"responses":[{"metric":"sys.cpu.user","timestamp":0,"value":0.0,""" +
      """"tags":null,"subscriptionId":"session1","complete":true}]}""")
  }

  test("a subscription's tag filter selects exactly what a query with the same tags returns") {
    import graft.planner.QueryPlanner
    import graft.sources.PointStore
    val dir = Files.createTempDirectory("graft-sub-tags").toString
    val pts = Seq(
      MetricPoint("sub.tags", T, 1.0, Map("host" -> "a"), None),
      MetricPoint("sub.tags", T + 1, 2.0, Map("host" -> "b"), None),
      MetricPoint("sub.tags", T + 2, 3.0, Map("host" -> "c"), None),
      MetricPoint("sub.tags", T + 3, 4.0, Map("host" -> "w1"), None),
      MetricPoint("sub.tags", T + 4, 5.0, Map("host" -> "xw"), None),     // w.* must full-match
      MetricPoint("sub.tags", T + 5, 6.0, Map("rack" -> "r1"), None),     // no host tag
      MetricPoint("sub.tags", T + 6, 7.0, Map("host" -> "a"), Some("X")), // hidden
      MetricPoint("sub.other", T + 7, 8.0, Map("host" -> "a"), None))
    PointStore.write(pts.toDF(), dir)
    type Seen = (Map[String, String], Long, Double)
    val received = new java.util.concurrent.ConcurrentHashMap[String, Set[Seen]]()
    val subs = new Subscriptions(
      (id, r) => { received.merge(id, Set((r.getMap[String, String](r.fieldIndex("tags")).toMap,
        r.getAs[Long]("ts"), r.getAs[Double]("value"))), (a: Set[Seen], b: Set[Seen]) => a ++ b); () },
      (_, _, _) => ())
    // the subscription id names its host filter; every tail reads the store
    val filters = Seq("*", "a|b", "w.*")
    val tails = filters.map(f => subs.addMetric(f, PointStore.stream(spark, dir), "sub.tags",
      tags = Map("host" -> f), beginTimeMs = T, delayMs = 50L))
    tails.foreach(_.processAllAvailable())
    filters.foreach(subs.close)
    for (f <- filters) {
      val req = QueryPlanner.TsQueryRequest(T, T + 1000L, msResolution = true,
        Seq(QueryPlanner.SubQuery("none", "sub.tags", tags = Map("host" -> f))))
      val queried = QueryPlanner.plan(PointStore.read(spark, dir), req, Seq.empty).head
        .select("group_tags", "ts_out", "value").collect()
        .map(r => (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2))).toSet
      assert(queried.nonEmpty && received.getOrDefault(f, Set.empty) == queried, s"host -> $f")
    }
  }

  test("streaming binary-frame ingest: FB batches and put-line text interleave") {
    import graft.model.{MetricsFlatBuffer, MetricPoint => MP}
    val input = MemoryStream[Array[Byte]]
    val parsed = PutLineIngest.parseFrames(input.toDS(),
      excludeMetricRegex = Some("^drop\\..*"),
      excludedTags = Map("sys.fb" -> Set("secret")))
    val q = parsed.writeStream.format("memory").queryName("frames_test").start()
    input.addData(
      MetricsFlatBuffer.encode(Seq(
        MP("sys.fb", T, 1.0, Map("host" -> "a", "secret" -> "x"), None),
        MP("drop.fb", T, 2.0, Map("host" -> "a"), None))),      // excluded metric
      s"put sys.text $T 3.0 host=b".getBytes("UTF-8"))          // plain text frame
    q.processAllAvailable()
    val rows = spark.table("frames_test").as[MetricPoint].collect().sortBy(_.metric)
    q.stop()
    assert(rows.map(_.metric).toSeq == Seq("sys.fb", "sys.text"))
    assert(rows(0).tags == Map("host" -> "a")) // secret stripped
    assert(rows(1).value == 3.0)
  }

  test("bounded subscription (endTime) delivers its range then completes WITHOUT remove") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val completed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val subs = new Subscriptions(
      (_, row) => { received.add(row.getAs[Long]("ts")); () },
      (sid, m, complete) => if (complete) { completed.add((sid, m)); () })
    val input = MemoryStream[MetricPoint]
    // reference AddSubscription.endTime + MetricScanner.java:110,270-280: a
    // bounded scan serves [begin, end] and sends complete:true on its own
    val query = subs.addMetric("s", input.toDS().toDF(), metric = "m", delayMs = 50L,
      beginTimeMs = T, endTimeMs = T + 1000L)
    input.addData(
      MetricPoint("m", T, 1.0, Map("host" -> "a"), None),          // in range
      MetricPoint("m", T + 500L, 2.0, Map("host" -> "a"), None),   // in range
      MetricPoint("m", T + 2000L, 3.0, Map("host" -> "a"), None))  // past end -> sentinel
    val q = subs.activeQueries // registered before the batch runs
    assert(q == Seq("s/m"))
    query.processAllAvailable()
    assert(received.toArray(Array.empty[java.lang.Long]).toSet == Set(T, T + 500L),
      "only the bounded range is delivered")
    assert(completed.peek() == ("s", "m"), "sentinel fired automatically")
    assert(subs.activeQueries.isEmpty, "subscription tore itself down")
  }

  test("big-backlog replay: paginated delivery keeps global ts order across partitions") {
    // 20k-point backlog in one micro-batch: the foreachBatch path must
    // stream it through the driver one range-partition at a time
    // (toLocalIterator — the MetricScanner scan-batching analog) and still
    // deliver in global ts order; a slow consumer is simulated by the
    // callback doing per-row work on the driver thread
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val subs = new Subscriptions((_, row) => { received.add(row.getAs[Long]("ts")); () }, (_, _, _) => ())
    val input = MemoryStream[MetricPoint]
    val query = subs.addMetric("big", input.toDS().toDF(), metric = "m", delayMs = 50L)
    val n = 20000
    // shuffled insertion order: global order must come from the sort, not
    // the arrival order
    val idx = scala.util.Random.shuffle((0 until n).toVector)
    input.addData(idx.map(i => MetricPoint("m", T + i, i.toDouble, Map("host" -> "a"), None)))
    query.processAllAvailable()
    val got = received.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(got.size == n, s"all $n backlog rows delivered, got ${got.size}")
    assert(got == got.sorted, "delivery preserves global ts order across range partitions")
    assert(got.head == T && got.last == T + n - 1)
    subs.close("big")
  }

  test("zero beginTime clamps to the age-off horizon (MetricScanner semantics)") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val subs = new Subscriptions((_, row) => { received.add(row.getAs[Long]("ts")); () }, (_, _, _) => ())
    val input = MemoryStream[MetricPoint]
    // now = T + 100s, ttl = 60s -> horizon T + 40s; the T-point must be dropped
    val q = subs.addMetric("s", input.toDS().toDF(), metric = "m", delayMs = 50L,
      ageOffTtlMs = Some(60000L), nowMs = () => T + 100000L)
    input.addData(
      MetricPoint("m", T, 1.0, Map("host" -> "a"), None),          // pre-horizon
      MetricPoint("m", T + 50000, 2.0, Map("host" -> "a"), None))  // post-horizon
    q.processAllAvailable()
    subs.close("s")
    assert(received.size() == 1 && received.peek() == T + 50000)
  }

  test("streaming bloom screen: micro-batches probe one prebuilt history bitset") {
    import graft.operators.Dedup
    // history built ONCE (the bloomBits build/probe split's whole point) and
    // reused by every micro-batch through the stream-static broadcast join
    val history = Seq((0L, "seen doc alpha"), (1L, "seen doc beta"))
      .toDF("doc_id", "text")
    val bits = Dedup.bloomBits(history).cache()
    val input = MemoryStream[(Long, String)]
    val screened = Dedup.bloomFlag(
      input.toDS().toDF("doc_id", "text"), bits)
    val q = screened.writeStream.format("memory").queryName("bloom_stream").start()
    input.addData((10L, "seen doc alpha"), (11L, "fresh doc gamma"))
    q.processAllAvailable()
    input.addData((12L, "seen doc beta"), (13L, "fresh doc delta"))
    q.processAllAvailable()
    val rows = spark.table("bloom_stream")
      .select("doc_id", "dup_hit").as[(Long, Boolean)].collect().toMap
    q.stop()
    // no false negatives across batches; the fresh docs pass (this fixture
    // has no FP collision — pinned by the equality spec in PipelineOpsSpec)
    assert(rows == Map(10L -> true, 11L -> false, 12L -> true, 13L -> false))
    // flag and filter share one predicate: hits == bloomProbe's row set
    val hits = Dedup.bloomProbe(
      Seq((10L, "seen doc alpha"), (11L, "fresh doc gamma"),
        (12L, "seen doc beta"), (13L, "fresh doc delta")).toDF("doc_id", "text"),
      bits).select("doc_id").as[Long].collect().toSet
    assert(hits == rows.filter(_._2).keySet)
    bits.unpersist()
  }

  test("streaming simhash screen: one-batch stream rollup == batch near-dup screen") {
    import graft.operators.Dedup
    val ws = (0 until 100).map(i => s"w$i")
    val corpus = ((0L, ws.mkString(" ")) +:
      (1L to 6L).map(i => (i, ws.updated(5 * i.toInt, s"changed$i").mkString(" "))) :+
      (50L, (0 until 100).map(i => s"zzz$i").mkString(" ")))
    val input = MemoryStream[(Long, String)]
    val screened = Dedup.simhashStreamScreen(
      input.toDS().toDF("doc_id", "text"), maxHamming = 6, maxPerBucket = 4)
    val q = screened.writeStream.format("memory").queryName("simhash_stream")
      .outputMode("append").start()
    input.addData(corpus: _*)
    q.processAllAvailable()
    // per-doc rollup over the 28 bucket verdicts: flag = OR, best match =
    // min (hamming, match_id) — the cmsStream per-lane pattern
    val rolled = spark.table("simhash_stream")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.max("near_dup").as("near_dup"),
        org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.when(col("near_dup") === 1L,
            org.apache.spark.sql.functions.struct(col("hamming"), col("match_id")))).as("m"))
      .select(col("doc_id"), col("near_dup"), col("m.match_id"), col("m.hamming"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val batch = Dedup.simhashScreen(corpus.toDF("doc_id", "text"),
        maxHamming = 6, maxPerBucket = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(rolled == batch, "one-batch stream must reproduce the batch screen exactly")
    // cross-batch state: a later batch's near-dup of doc 0 still flags
    input.addData((100L, ws.updated(3, "later").mkString(" ")))
    q.processAllAvailable()
    val later = spark.table("simhash_stream").where(col("doc_id") === 100L)
      .agg(org.apache.spark.sql.functions.max("near_dup")).collect().head.getLong(0)
    q.stop()
    assert(later == 1L, "representatives persist across micro-batches")
  }

  test("holt stream: closed-prefix state == batch holtForecast, open bucket pending") {
    import graft.operators.TimeSeries
    val hour = 3600000L
    // hourly counts 1, 2, 4 (buckets 0-2); a sentinel in bucket 3 closes
    // bucket 2 so the closed prefix is exactly the batch fixture
    val real = (Seq.fill(1)(0L) ++ Seq.fill(2)(hour) ++ Seq.fill(4)(2 * hour))
      .map(ts => ("m", ts))
    val input = MemoryStream[(String, Long)]
    val out = TimeSeries.holtStream(input.toDS().toDF("metric", "ts"))
    val q = out.writeStream.format("memory").queryName("holt_stream")
      .outputMode("append").start()
    input.addData(real :+ ("m", 3 * hour): _*)
    q.processAllAvailable()
    val last = spark.table("holt_stream").orderBy(col("n_buckets").desc)
      .collect().head
    val batch = TimeSeries.holtForecast(
      real.map { case (m, ts) => (m, "s", ts, 1.0) }.toDF("metric", "series", "ts", "value"))
      .collect().head
    assert(last.getLong(1) == batch.getLong(1))                 // n_buckets
    assert(last.getDouble(2) == batch.getDouble(2))             // level, bit-exact
    assert(last.getDouble(3) == batch.getDouble(3))             // trend
    assert(last.getDouble(4) == batch.getDouble(4))             // forecast_1h

    // cross-batch: more events in bucket 3 GROW the open bucket, then a
    // bucket-4 sentinel closes it — state carried between micro-batches
    input.addData(Seq.fill(7)(("m", 3 * hour)) :+ ("m", 4 * hour): _*)
    q.processAllAvailable()
    val later = spark.table("holt_stream").orderBy(col("n_buckets").desc).collect().head
    q.stop()
    val batch2 = TimeSeries.holtForecast(
      (real ++ Seq.fill(8)(("m", 3 * hour)))
        .map { case (m, ts) => (m, "s", ts, 1.0) }.toDF("metric", "series", "ts", "value"))
      .collect().head
    assert(later.getLong(1) == 4L && later.getDouble(2) == batch2.getDouble(2)
      && later.getDouble(3) == batch2.getDouble(3))
  }

  test("volume-bands stream: sentinel-flushed one-batch stream == batch bands exactly") {
    import graft.operators.Anomaly
    val hour = 3600000L
    // 8 buckets at 10 events, then a 30-event spike, then 2 normal buckets
    // (window = 4 keeps the fixture small); a final sentinel closes the tail
    val counts = Seq.fill(8)(10) ++ Seq(30) ++ Seq(11, 9)
    val real = counts.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c)(("A", h * hour, 1L))
    }
    val input = MemoryStream[(String, Long, Long)]
    val out = Anomaly.volumeBandsStream(
      input.toDS().toDF("event_type", "ts_ms", "user_id"), window = 4)
    val q = out.writeStream.format("memory").queryName("bands_stream")
      .outputMode("append").start()
    input.addData(real :+ (("A", 100 * hour, 1L)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bands_stream")
      .where(col("bucket") < 100) // the sentinel bucket itself never scores
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    val batch = Anomaly.volumeBands(
      real.toDF("event_type", "ts_ms", "user_id"), window = 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(streamed.toSeq == batch.toSeq,
      "one-batch stream must reproduce the batch band frame bit-for-bit")
    // the spike bucket flags, its normal neighbors don't
    val byBucket = streamed.map(t => t._1 -> t._5).toMap
    assert(byBucket(8L) == 1L && byBucket(7L) == 0L && byBucket(9L) == 0L)
  }

  test("funnel stream: one-batch snapshot == batch funnel; cross-batch advance") {
    import graft.operators.Funnel
    val h = 7200000L // 2h horizon
    val steps = Seq("view", "cart", "buy")
    // u1 completes in order; u2's cart shares t1's timestamp (strict > blocks
    // it) and its buy has no qualifying cart; u4's cart falls past the
    // horizon; u3 never does step 1 -> absent
    val real = Seq(
      (1L, 1000L, "view"), (1L, 2000L, "cart"), (1L, 3000L, "buy"),
      (2L, 5000L, "view"), (2L, 5000L, "cart"), (2L, 6000L, "buy"),
      (3L, 1000L, "cart"), (3L, 2000L, "buy"),
      (4L, 10000L, "view"), (4L, 10000L + h + 1L, "cart"))
    val input = MemoryStream[(Long, Long, String)]
    val out = Funnel.funnelStream(
      input.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, h)
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    input.addData(real: _*)
    q.processAllAvailable()
    def snap(): Map[String, (Seq[Option[Long]], Long)] = {
      val w = Window.partitionBy("user_id").orderBy(col("steps_reached").desc)
      spark.table("funnel_stream")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .collect()
        .map(r => r.getString(0) ->
          (r.getSeq[Any](1).map(Option(_).map(_.asInstanceOf[Long])).toSeq,
            r.getLong(2))).toMap
    }
    val streamed = snap()
    val batch = Funnel.funnel(real.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", steps, h)
      .collect()
      .map(r => r.getLong(0).toString ->
        (Seq(1, 2, 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))),
          r.getAs[Long]("steps_reached"))).toMap
    assert(streamed == batch,
      "one-batch stream snapshot must equal the batch funnel exactly")
    assert(streamed("1")._2 == 3L && streamed("2")._2 == 1L &&
      streamed("4")._2 == 1L && !streamed.contains("3"))

    // cross-batch: u2's qualifying cart then buy arrive later — state
    // carried, funnel advances to 3; u4 stays stalled
    input.addData((2L, 6000L, "cart"), (2L, 7000L, "buy"))
    q.processAllAvailable()
    q.stop()
    val later = snap()
    assert(later("2")._1 == Seq(Some(5000L), Some(6000L), Some(7000L)) &&
      later("2")._2 == 3L)
    assert(later("4")._2 == 1L)
  }
}
