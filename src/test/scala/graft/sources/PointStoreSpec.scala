package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricPoint

/** Partitioned store round trip, pruning layout, and age-off maintenance. */
class PointStoreSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val Day = 86400000L
  private val T = 1704067200000L

  test("write/read round trip with partition pruning layout") {
    val dir = Files.createTempDirectory("graft-ps").toString + "/data"
    val pts = Seq(
      MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a"), None),
      MetricPoint("sys.cpu.idle", T + 3600000L, 2.0, Map("host" -> "b"), None))
    PointStore.write(pts.toDF(), dir)
    val back = PointStore.read(spark, dir)
    assert(back.count() == 2)
    // metric partition dirs exist -> `metric = x` prunes at the source
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("metric="))
    assert(dirs.toSet == Set("metric=sys.cpu.user", "metric=sys.cpu.idle"))
  }

  test("append(DataFrame): partitioned points plus their catalog rows") {
    val base = Files.createTempDirectory("graft-append").toString
    val pts = Seq(
      MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a", "rack" -> "r1"), None),
      MetricPoint("sys.cpu.user", T + 1000L, 2.0, Map("host" -> "a", "rack" -> "r1"), None),
      MetricPoint("sys.cpu.idle", T, 3.0, Map("host" -> "b"), None))
    PointStore.append(pts.toDF(), s"$base/data", s"$base/meta")
    PointStore.append(pts.take(1).toDF(), s"$base/data", s"$base/meta")
    val back = PointStore.read(spark, s"$base/data")
    assert(back.count() == 4)
    assert(back.select("dt", "hr").distinct().as[(String, Int)].collect().toSeq
      == Seq(("2024-01-01", 0)))
    // one catalog row per (metric, tagk, tagv) the store has seen
    val meta = PointStore.readMeta(spark, s"$base/meta")
      .as[(String, String, String)].collect()
    assert(meta.toSet == Set(("sys.cpu.user", "host", "a"), ("sys.cpu.user", "rack", "r1"),
      ("sys.cpu.idle", "host", "b")))
    assert(meta.length == 3, "the second batch's triples are known, so none is rewritten")
  }

  test("append of an empty put batch writes neither points nor catalog") {
    val base = Files.createTempDirectory("graft-append-empty").toString
    PointStore.append(spark, Seq.empty[MetricPoint], s"$base/data", s"$base/meta")
    assert(!new java.io.File(s"$base/data").exists())
    assert(!new java.io.File(s"$base/meta").exists())
    assert(PointStore.read(spark, s"$base/data").isEmpty)
    assert(PointStore.readMeta(spark, s"$base/meta").isEmpty)
  }

  test("append writes the catalog first: a failed catalog write stores no point") {
    val base = Files.createTempDirectory("graft-append-order").toString
    val metaFile = new java.io.File(base, "meta")
    Files.write(metaFile.toPath, "not a catalog".getBytes("UTF-8"))
    intercept[Exception](PointStore.append(spark,
      Seq(MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a"), None)),
      s"$base/data", metaFile.getPath))
    assert(PointStore.read(spark, s"$base/data").isEmpty,
      "points must not be stored without their catalog rows")
  }

  test("append writes only the triples the catalog lacks") {
    val base = Files.createTempDirectory("graft-append-dedup").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    val series = Seq(MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a", "rack" -> "r1"), None))
    def metaFiles(): Set[String] =
      Files.walk(java.nio.file.Paths.get(meta)).toArray.map(_.toString).toSet
    PointStore.append(spark, series, data, meta)
    val first = metaFiles()
    PointStore.append(spark, series.map(_.copy(ts = T + 1000L)), data, meta)
    assert(metaFiles() == first, "a known series adds no catalog file")
    val rows = PointStore.readMeta(spark, meta).as[(String, String, String)].collect()
    assert(rows.sorted.toSeq == Seq(("sys.cpu.user", "host", "a"), ("sys.cpu.user", "rack", "r1")))
    assert(PointStore.read(spark, data).count() == 2)
    // a new tag value is the only triple the next append writes
    PointStore.append(spark, series.map(_.copy(tags = Map("host" -> "b", "rack" -> "r1"))), data, meta)
    assert(PointStore.readMeta(spark, meta).count() == 3)
    assert(PointStore.catalog(spark, meta).triples ==
      PointStore.readMeta(spark, meta).as[(String, String, String)].collect().toSet)
  }

  test("an append and a stream restore a store that a crashed swap left as .bak") {
    val base = Files.createTempDirectory("graft-append-bak").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    def park(dir: String): Unit =
      assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".bak")))
    val first = MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a"), None)
    PointStore.append(spark, Seq(first), data, meta)
    // the crash window inside AtomicDir.swap: each directory only at its .bak
    park(data)
    park(meta)
    PointStore.append(spark, Seq(first.copy(ts = T + 1000L, tags = Map("host" -> "b"))), data, meta)
    assert(PointStore.read(spark, data).select("ts").as[Long].collect().toSet == Set(T, T + 1000L))
    assert(PointStore.readMeta(spark, meta).as[(String, String, String)].collect().toSet ==
      Set(("sys.cpu.user", "host", "a"), ("sys.cpu.user", "host", "b")))
    assert(!new java.io.File(data + ".bak").exists() && !new java.io.File(meta + ".bak").exists())
    // a subscription's stream creates the data directory: it restores it first
    park(data)
    PointStore.stream(spark, data)
    assert(PointStore.read(spark, data).count() == 2)
    assert(!new java.io.File(data + ".bak").exists())
  }

  test("re-listing a served store after an append starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = Files.createTempDirectory("graft-relist").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    val put = MetricPoint("sys.cpu.user", T, 1.0, Map("host" -> "a"), None)
    PointStore.append(spark, Seq(put), data, meta)
    val served = PointStore.points(spark, data)
    PointStore.append(spark, Seq(put.copy(ts = T + 1000L)), data, meta)
    // job groups tell this thread's jobs from any other suite's
    val (relist, marker) = (s"relist-${System.nanoTime}", s"marker-${System.nanoTime}")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val relisted =
      try {
        sc.setJobGroup(relist, "re-list after an append")
        val df = PointStore.points(spark, data)
        // the bus delivers events in order: once the marker job's start is
        // seen, so is every job the re-list started
        sc.setJobGroup(marker, "listener bus marker")
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime + 10000000000L
        while (!groups.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
        assert(groups.contains(marker), "the marker job's start never reached the listener")
        df
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    assert(!groups.contains(relist), "the re-list started a Spark job")
    assert(relisted ne served, "the append must move the store's listing on")
    assert(relisted.count() == 2)
  }

  test("partition columns are UTC epoch arithmetic, whatever the session timezone") {
    val late = T + 23 * 3600000L + 30 * 60000L // 2024-01-01 23:30 UTC
    val early = T - 1L                          // 2023-12-31 23:59:59.999 UTC
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val got = PointStore.withPartitionColumns(Seq(
          MetricPoint("m", late, 1.0, Map("h" -> "a"), None),
          MetricPoint("m", early, 2.0, Map("h" -> "a"), None)).toDF())
        .select("ts", "dt", "hr").as[(Long, String, Int)].collect().toSet
      assert(got == Set((late, "2024-01-01", 23), (early, "2023-12-31", 23)))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("partition-drop age-off deletes expired day dirs AND boundary-day hr dirs") {
    val dir = Files.createTempDirectory("graft-dropage").toString + "/data"
    val now = T + 10 * Day + 90 * 60000L // 1.5h into day 10
    val pts = Seq(
      MetricPoint("sys.a", T, 1.0, Map("h" -> "a"), None),             // day 0: whole day expired -> dir dropped
      MetricPoint("sys.a", T + 7 * Day, 2.0, Map("h" -> "a"), None),   // horizon day, hr=0 wholly expired -> hr dir dropped
      MetricPoint("sys.a", T + 7 * Day + 3600000L, 2.5, Map("h" -> "a"), None), // horizon HOUR: kept (slack < 1h)
      MetricPoint("sys.a", now - Day, 3.0, Map("h" -> "a"), None),     // live
      MetricPoint("other", T, 4.0, Map("h" -> "a"), None))             // 30d default: live
    PointStore.write(pts.toDF(), dir)
    val dropped = PointStore.ageOffDropPartitions(spark, dir,
      Map("default" -> 30 * Day, "sys" -> 3 * Day), now)
    // sys.a horizon = now - 3d = day 7 (2024-01-08) at 01:30: strictly older
    // day dirs AND the boundary day's wholly-expired hr=0 are deleted; only
    // the horizon hour itself retains expired rows for the clamp to hide
    assert(dropped == Seq("sys.a/2024-01-01", "sys.a/2024-01-08/hr=0"))
    val left = PointStore.read(spark, dir).select("metric", "value")
      .as[(String, Double)].collect().toSet
    assert(left == Set(("sys.a", 2.5), ("sys.a", 3.0), ("other", 4.0)))
    // pairing with the query-time clamp: rows past the horizon stay invisible
    val clamped = PointStore.clampStart(T, now, 3 * Day)
    assert(clamped == now - 3 * Day)
    assert(clamped > T + 7 * Day + 3600000L, "the surviving expired row is clamp-hidden")
  }

  test("a partition drop moves the data directory's modification time, a dry run does not") {
    val dir = Files.createTempDirectory("graft-dropmtime").toString + "/data"
    PointStore.write(Seq(MetricPoint("sys.a", T, 1.0, Map("h" -> "a"), None)).toDF(), dir)
    val root = new java.io.File(dir)
    val written = root.lastModified()
    Thread.sleep(10)
    val ttl = Map("default" -> Day)
    assert(PointStore.ageOffDropPartitions(spark, dir, ttl, T + 3 * Day, dryRun = true) ==
      Seq("sys.a/2024-01-01"))
    assert(root.lastModified() == written)
    // the deleted day dir sits two levels down: only the explicit touch moves
    // the root, which a server over the store in another process checks
    assert(PointStore.ageOffDropPartitions(spark, dir, ttl, T + 3 * Day) == Seq("sys.a/2024-01-01"))
    assert(root.lastModified() > written)
  }

  test("age-off drops per-metric-prefix expired data, longest prefix wins") {
    val base = Files.createTempDirectory("graft-ageoff").toString
    val now = T + 10 * Day
    val pts = Seq(
      MetricPoint("keep.long", now - 5 * Day, 1.0, Map("h" -> "a"), None),   // ttl 7d -> kept
      MetricPoint("keep.long", now - 9 * Day, 1.0, Map("h" -> "a"), None),   // ttl 7d -> dropped
      MetricPoint("other.m", now - 2 * Day, 1.0, Map("h" -> "a"), None),     // default 3d -> kept
      MetricPoint("other.m", now - 4 * Day, 1.0, Map("h" -> "a"), None))     // default 3d -> dropped
    PointStore.write(pts.toDF(), s"$base/data")
    PointStore.ageOff(spark, s"$base/data", s"$base/out",
      Map("default" -> 3 * Day, "keep." -> 7 * Day), now)
    val kept = PointStore.read(spark, s"$base/out")
      .select("metric", "ts").as[(String, Long)].collect().toSet
    assert(kept == Set(("keep.long", now - 5 * Day), ("other.m", now - 2 * Day)))
  }

  test("age-off output keeps the (metric, dt, hr) store layout") {
    val base = Files.createTempDirectory("graft-ageoff-layout").toString
    val now = T + 10 * Day
    val pts = Seq(
      MetricPoint("m", now - Day + 3600000L, 1.0, Map("h" -> "a"), None),
      MetricPoint("m", now - 5 * Day, 2.0, Map("h" -> "a"), None))
    PointStore.write(pts.toDF(), s"$base/data")
    // an existing output is replaced, not appended to
    PointStore.write(pts.toDF(), s"$base/out")
    PointStore.ageOff(spark, s"$base/data", s"$base/out", Map("default" -> 3 * Day), now)
    val out = new java.io.File(s"$base/out")
    val days = new java.io.File(out, "metric=m").listFiles().map(_.getName).filter(_.startsWith("dt="))
    assert(days.toSeq == Seq("dt=2024-01-10"))
    assert(new java.io.File(out, "metric=m/dt=2024-01-10/hr=1").isDirectory)
    val back = PointStore.read(spark, s"$base/out")
      .select("metric", "ts", "dt", "hr").as[(String, Long, String, Int)].collect().toSeq
    assert(back == Seq(("m", now - Day + 3600000L, "2024-01-10", 1)))
  }

  test("metric equality prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft-prune").toString + "/data"
    val pts = Seq(
      MetricPoint("sys.cpu.user", T, 1.0, Map("h" -> "a"), None),
      MetricPoint("sys.cpu.idle", T, 2.0, Map("h" -> "a"), None))
    PointStore.write(pts.toDF(), dir)
    val q = PointStore.read(spark, dir).where($"metric" === "sys.cpu.user")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    // the metric predicate must land in PartitionFilters (directory pruning),
    // not in the data filters
    assert(scan.partitionFilters.exists(_.toString.contains("metric")))
    assert(q.count() == 1)
  }

  test("meta age-off removes catalog rows for fully-aged metrics") {
    val base = Files.createTempDirectory("graft-metaageoff").toString
    val now = T + 10 * Day
    val pts = Seq(
      MetricPoint("live.m", now - 1 * Day, 1.0, Map("host" -> "a"), None),
      MetricPoint("dead.m", now - 9 * Day, 1.0, Map("host" -> "b", "rack" -> "r1"), None))
    PointStore.write(pts.toDF(), s"$base/data")
    PointStore.writeMeta(pts.toDF(), s"$base/meta")
    PointStore.ageOff(spark, s"$base/data", s"$base/aged",
      Map("default" -> 3 * Day), now)
    val aged = PointStore.metaAgeOff(PointStore.readMeta(spark, s"$base/meta"),
      PointStore.read(spark, s"$base/aged"))
    // dead.m has no surviving points -> all of its meta rows (both tags) drop;
    // suggest over the aged catalog no longer offers it
    val before = spark.read.parquet(s"$base/meta").select("metric").distinct()
      .as[String].collect().toSet
    assert(before == Set("live.m", "dead.m"))
    val after = aged
      .select("metric", "tagk", "tagv").as[(String, String, String)].collect().toSet
    assert(after == Set(("live.m", "host", "a")))
  }

  test("age-off horizon is a codegen'd when-chain, longest prefix first") {
    val h = PointStore.horizonExpr(
      Map("default" -> 100L, "a" -> 200L, "ab" -> 300L), nowMs = 1000L)
    val got = Seq("abc", "ax", "zzz").toDF("metric").select(h.as("hz"))
      .as[Long].collect().toSeq
    assert(got == Seq(700L, 800L, 900L)) // ab beats a; default for zzz
    // no ScalaUDF anywhere in the expression tree
    val e = org.apache.spark.sql.GraftSqlBridge.expression(h)
    assert(e.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]).isEmpty)
  }

  test("query-time retention clamp") {
    assert(PointStore.clampStart(0L, 1000000L, 10000L) == 990000L)
    assert(PointStore.clampStart(995000L, 1000000L, 10000L) == 995000L)
  }

  test("census: per (metric, dt) hour partitions, rows, gaps, files") {
    val dir = Files.createTempDirectory("graft-census").toString + "/data"
    // metric m: hours 0, 1 and 3 on one day (gap at hour 2), 2 rows in hr 0
    val pts = Seq(
      MetricPoint("m", T, 1.0, Map("host" -> "a"), None),
      MetricPoint("m", T + 1000L, 2.0, Map("host" -> "b"), None),
      MetricPoint("m", T + 3600000L, 3.0, Map("host" -> "a"), None),
      MetricPoint("m", T + 3 * 3600000L, 4.0, Map("host" -> "a"), None),
      MetricPoint("other", T + Day, 5.0, Map("host" -> "a"), None))
    PointStore.write(pts.toDF(), dir)
    val c = PointStore.census(spark, dir)
      .collect().map(r => (r.getAs[String]("metric"), r.getAs[Any]("dt").toString) -> r).toMap
    assert(c.size == 2)
    val m = c.collectFirst { case ((met, _), r) if met == "m" => r }.get
    assert(m.getAs[Long]("n_hr_partitions") == 3L)
    assert(m.getAs[Long]("n_rows") == 4L)
    assert(m.getAs[Long]("hr_min") == 0L && m.getAs[Long]("hr_max") == 3L)
    assert(m.getAs[Long]("hr_gaps") == 1L, "hour 2 is missing")
    assert(m.getAs[Long]("n_files") >= 3L)
    val o = c.collectFirst { case ((met, _), r) if met == "other" => r }.get
    assert(o.getAs[Long]("n_rows") == 1L && o.getAs[Long]("hr_gaps") == 0L)
  }
}
