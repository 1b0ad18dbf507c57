package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricPoint
import graft.sources.PointStore

/**
 * Single-pass retention maintenance ([[Maintenance.run]]): partition-level
 * data age-off + meta age-off with a dry-run report — L1-L3 as one
 * operational entry point.
 */
class MaintenanceSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val Day = 86400000L
  private val T = 1704067200000L // 2024-01-01T00:00Z

  /** sys.a: 7d TTL with one expired day + one live; dead.metric: all expired. */
  private def seed(): (String, String, Long) = {
    val base = Files.createTempDirectory("graft-maint").toString
    val now = T + 10 * Day
    val pts = Seq(
      MetricPoint("sys.a", T, 1.0, Map("h" -> "a"), None),            // day 0: expired under 7d
      MetricPoint("sys.a", now - Day, 2.0, Map("h" -> "a"), None),    // live
      MetricPoint("dead.metric", T, 3.0, Map("h" -> "b"), None))      // expired under 7d -> metric dies
    PointStore.write(pts.toDF(), s"$base/data")
    PointStore.writeMeta(pts.toDF(), s"$base/meta")
    (s"$base/data", s"$base/meta", now)
  }

  private val ttl = Map("default" -> 7 * Day)

  test("dry run reports drops and the meta delta, touching nothing") {
    val (data, meta, now) = seed()
    val r = Maintenance.run(spark, data, meta, ttl, now, dryRun = true)
    assert(r.dryRun)
    assert(r.droppedPartitions == Seq("dead.metric/2024-01-01", "sys.a/2024-01-01"))
    assert(r.metaRowsBefore == 2 && r.metaRowsAfter == 1) // dead.metric's row would die
    // nothing touched: both expired partitions still exist, meta unchanged
    assert(PointStore.read(spark, data).count() == 3)
    assert(spark.read.parquet(meta).count() == 2)
    assert(r.render.contains("DRY RUN") && r.render.contains("would drop"))
  }

  test("real pass drops expired partitions and ages the meta catalog in place") {
    val (data, meta, now) = seed()
    val r = Maintenance.run(spark, data, meta, ttl, now)
    assert(!r.dryRun)
    assert(r.droppedPartitions == Seq("dead.metric/2024-01-01", "sys.a/2024-01-01"))
    assert(r.metaRowsBefore == 2 && r.metaRowsAfter == 1)
    // surviving data: only sys.a's live day; meta: only sys.a's row
    val kept = PointStore.read(spark, data).select("metric").distinct()
      .as[String].collect().toSet
    assert(kept == Set("sys.a"))
    assert(spark.read.parquet(meta).select("metric").as[String].collect().toSeq == Seq("sys.a"))
    // no stale tmp dir left behind
    assert(!new java.io.File(meta + ".tmp").exists())
  }

  test("dry run counts a metric whose last hour expires within the horizon day as gone") {
    val base = Files.createTempDirectory("graft-maint-hour").toString
    val (data, meta) = (s"$base/data", s"$base/meta")
    val now = T + 7 * Day + 5 * 3600000L // 7d TTL: horizon hour 5 of 2024-01-01
    val pts = Seq(
      MetricPoint("hour0.metric", T, 1.0, Map("h" -> "a"), None),             // hr=0: dropped
      MetricPoint("hour6.metric", T + 6 * 3600000L, 2.0, Map("h" -> "b"), None)) // hr=6: kept
    PointStore.write(pts.toDF(), data)
    PointStore.writeMeta(pts.toDF(), meta)
    val dry = Maintenance.run(spark, data, meta, ttl, now, dryRun = true)
    val real = Maintenance.run(spark, data, meta, ttl, now)
    assert(dry.droppedPartitions == Seq("hour0.metric/2024-01-01/hr=0"))
    assert(real.droppedPartitions == dry.droppedPartitions)
    assert(real.metaRowsAfter == 1)
    assert(dry.metaRowsAfter == real.metaRowsAfter)
  }

  test("a second pass is a no-op with an accurate report") {
    val (data, meta, now) = seed()
    Maintenance.run(spark, data, meta, ttl, now)
    val r2 = Maintenance.run(spark, data, meta, ttl, now)
    assert(r2.droppedPartitions.isEmpty)
    assert(r2.metaRowsBefore == 1 && r2.metaRowsAfter == 1)
  }

  test("compactZOrder: small-files store rewrites to fewer, skippable files; dry-run inert") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-compact").toString + "/data"
    val T = 1704067200000L
    // 32 tiny appends in TIME order (the realistic small-files accumulation
    // shape — each append is a 2-second slice spanning every x): 64x64 grid,
    // value = x dim, seconds-into-hour = y dim, ONE (metric, dt, hr) dir
    val rows = for (y <- 0 until 64; x <- 0 until 64)
      yield MetricPoint("sys.cpu.user", T + y * 1000L, x.toDouble, Map("h" -> "a"), None)
    rows.grouped(128).foreach(g => PointStore.write(g.toSeq.toDF().coalesce(1), dir))
    val xDim = col("value").cast("long")
    val yDim = ((col("ts") - org.apache.spark.sql.functions.lit(T)) /
      org.apache.spark.sql.functions.lit(1000L)).cast("long")
    val dry = Maintenance.compactZOrder(spark, dir, xDim, yDim,
      bits = 6, numFiles = 16, auditXLo = 16L, auditXHi = 23L, dryRun = true)
    assert(dry.dryRun && dry.rows == 4096L && dry.filesBefore >= 32L)
    assert(dry.skipBefore == dry.skipAfter, "dry run measures, never rewrites")
    val r = Maintenance.compactZOrder(spark, dir, xDim, yDim,
      bits = 6, numFiles = 16, auditXLo = 16L, auditXHi = 23L)
    assert(r.rows == 4096L)
    assert(r.filesAfter < r.filesBefore, s"compaction must shrink file count: $r")
    // 16 z-range files over the 64x64 grid: the x-slab needs only the
    // x5=0/x4=1 quadrant-files; range-sampled boundaries cost at most one
    // extra touched file, so >= 0.5 is safe at 16 files (it is NOT at 8)
    assert(r.skipAfter >= 0.5 && r.skipAfter > r.skipBefore,
      s"z-order rewrite must make the x-slab skippable: $r")
    // content survives byte-identically (logical rows, new layout)
    assert(PointStore.read(spark, dir).count() == 4096L)
    assert(PointStore.read(spark, dir)
      .where(col("value") === 7.0 && col("ts") === T + 9000L).count() == 1L)
  }

  test("census-driven compaction policy: drifted store self-schedules, healthy store no-ops") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-policy").toString
    val dir = s"$base/data"
    val T = 1704067200000L
    val rows = for (y <- 0 until 64; x <- 0 until 64)
      yield MetricPoint("sys.cpu.user", T + y * 1000L, x.toDouble, Map("h" -> "a"), None)
    // 32 time-slice appends: small-files pressure + zero x-locality
    rows.grouped(128).foreach(g => PointStore.write(g.toSeq.toDF().coalesce(1), dir))
    PointStore.writeMeta(rows.toDF(), s"$base/meta")
    val xDim = col("value").cast("long")
    val yDim = ((col("ts") - org.apache.spark.sql.functions.lit(T)) /
      org.apache.spark.sql.functions.lit(1000L)).cast("long")
    // maxFilesPerPartition must sit ABOVE the rewrite's own numFiles target
    // (one hour partition here), else a freshly-compacted store re-triggers
    val policy = Maintenance.CompactionPolicy(xDim, yDim, bits = 6, numFiles = 16,
      auditXLo = 16L, auditXHi = 23L, maxFilesPerPartition = 20.0)
    val ttl = Map("default" -> (365L * 86400000L))
    val preContent = PointStore.read(spark, dir)
      .select("metric", "ts", "value").collect().map(_.toSeq).toSet
    // DRY RUN: the drifted store schedules a compaction and reports its
    // would-be effect without touching a file
    val dry = Maintenance.run(spark, dir, s"$base/meta", ttl, T, dryRun = true,
      compaction = Some(policy))
    assert(dry.compaction.isDefined, "drifted store must schedule compaction")
    assert(dry.compaction.get.dryRun && dry.compaction.get.filesBefore >= 32L)
    assert(PointStore.read(spark, dir)
      .select(org.apache.spark.sql.functions.input_file_name()).distinct().count() >= 32L,
      "dry run rewrote files")
    // APPLY: the pass executes the rewrite; logical content byte-identical
    val applied = Maintenance.run(spark, dir, s"$base/meta", ttl, T,
      compaction = Some(policy))
    val c = applied.compaction.getOrElse(fail("apply must compact the drifted store"))
    assert(!c.dryRun && c.filesAfter < c.filesBefore && c.skipAfter >= 0.5)
    assert(PointStore.read(spark, dir)
      .select("metric", "ts", "value").collect().map(_.toSeq).toSet == preContent)
    // HEALTHY: a second policy pass measures and does nothing
    val again = Maintenance.run(spark, dir, s"$base/meta", ttl, T,
      compaction = Some(policy))
    assert(again.compaction.isEmpty, s"healthy store must not recompact: $again")
  }

  test("ivfMaintain: bootstrap + increments == one batch assign under fixed centroids") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ivfdim").toString + "/index"
    val all = (0L until 120L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 31 + d * 7) % 100) / 10).toFloat))
    }.toDF("vec_id", "embedding")
    val r1 = Maintenance.ivfMaintain(spark, dir, all.where(col("vec_id") < 60L), nLists = 6)
    assert(r1.bootstrap && r1.vectorsAfter == 60L && r1.nLists == 6L)
    // dry-run increment reports without writing
    val dry = Maintenance.ivfMaintain(spark, dir,
      all.where(col("vec_id") >= 60L && col("vec_id") < 90L), nLists = 6, dryRun = true)
    assert(dry.dryRun && !dry.bootstrap && dry.vectorsAfter == 90L)
    assert(spark.read.parquet(s"$dir/assignments").count() == 60L, "dry run wrote")
    // two real increments
    Maintenance.ivfMaintain(spark, dir,
      all.where(col("vec_id") >= 60L && col("vec_id") < 90L), nLists = 6)
    val r3 = Maintenance.ivfMaintain(spark, dir, all.where(col("vec_id") >= 90L), nLists = 6)
    assert(r3.vectorsBefore == 90L && r3.vectorsAfter == 120L)
    // the maintained index equals one batch assign under the SAME persisted
    // centroids — bit-exact on (vec_id, list_id, vnorm)
    val cents = spark.read.parquet(s"$dir/centroids")
    val batch = graft.operators.SimilarityIvf.assign(all, cents)
      .select("vec_id", "list_id", "vnorm")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val stored = spark.read.parquet(s"$dir/assignments")
      .select("vec_id", "list_id", "vnorm")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(stored == batch)
    // and search composes on the maintained index unchanged
    val q = all.where(col("vec_id") % 40L === 0L)
    val hits = graft.operators.SimilarityIvf.search(
      spark.read.parquet(s"$dir/assignments"), cents, q, k = 3, nProbe = 6)
    assert(hits.count() > 0L)
  }

  test("scd2Maintain: bootstrap, incremental applies == batch rebuild, dry-run inert") {
    import org.apache.spark.sql.functions.col
    val dim = Files.createTempDirectory("graft-scd2dim").toString + "/dim"
    val all = (0 until 90).map { i =>
      val u = (i % 3).toLong
      (u, s"v${(i / 5) % 3}", (i / 3).toLong * 10L, i.toLong)
    }
    val batches = all.grouped(30).map(_.toDF("user_id", "attr", "ms", "event_id")).toSeq
    // pass 1 bootstraps from an empty dir
    val r1 = Maintenance.scd2Maintain(spark, dim, batches.head,
      "user_id", "attr", col("ms"), "event_id")
    assert(r1.bootstrap && r1.rowsBefore == 0L && r1.rowsAfter > 0L)
    // dry run on the second delta reports without touching the store
    val before = spark.read.parquet(dim).collect().map(_.toSeq).toSet
    val dry = Maintenance.scd2Maintain(spark, dim, batches(1),
      "user_id", "attr", col("ms"), "event_id", dryRun = true)
    assert(dry.dryRun && !dry.bootstrap && dry.rowsAfter > dry.rowsBefore)
    assert(spark.read.parquet(dim).collect().map(_.toSeq).toSet == before, "dry run wrote")
    // real incremental passes converge to the batch rebuild, hash-equal
    batches.tail.foreach { b =>
      Maintenance.scd2Maintain(spark, dim, b, "user_id", "attr", col("ms"), "event_id")
    }
    val rebuilt = graft.operators.Cdc.scd2(
        all.toDF("user_id", "attr", "ms", "event_id"),
        "user_id", "attr", col("ms"), "event_id")
      .collect().map(_.toSeq).toSet
    assert(spark.read.parquet(dim).collect().map(_.toSeq).toSet == rebuilt)
  }

  test("crash rehearsal: missing target with surviving .bak auto-restores") {
    import org.apache.spark.sql.functions.col
    val dim = Files.createTempDirectory("graft-crash").toString + "/dim"
    val b1 = (0 until 30).map(i => ((i % 3).toLong, s"v${i / 10}", (i / 3).toLong * 10L, i.toLong))
      .toDF("user_id", "attr", "ms", "event_id")
    val b2 = (30 until 60).map(i => ((i % 3).toLong, s"v${i / 10}", (i / 3).toLong * 10L, i.toLong))
      .toDF("user_id", "attr", "ms", "event_id")
    Maintenance.scd2Maintain(spark, dim, b1, "user_id", "attr", col("ms"), "event_id")
    val preCrash = spark.read.parquet(dim).collect().map(_.toSeq).toSet
    // simulate the one mid-swap crash window: old -> .bak done, tmp -> target not
    val fs = new org.apache.hadoop.fs.Path(dim)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dim),
      new org.apache.hadoop.fs.Path(dim + ".bak")))
    // next pass restores the .bak and applies the delta on it — NOT a fresh
    // bootstrap (which would have deleted the only copy of the history)
    val r = Maintenance.scd2Maintain(spark, dim, b2, "user_id", "attr", col("ms"), "event_id")
    assert(!r.bootstrap, "crash recovery must read as existing history")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dim + ".bak")))
    val rebuilt = graft.operators.Cdc.scd2(b1.unionByName(b2),
      "user_id", "attr", col("ms"), "event_id").collect().map(_.toSeq).toSet
    assert(spark.read.parquet(dim).collect().map(_.toSeq).toSet == rebuilt)
    assert(rebuilt != preCrash)
  }

  test("ivfRetrain: retrain + backfill == fresh bootstrap, bit-exact; audit stays green") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ivfretrain").toString + "/index"
    val all = (0L until 150L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 17 + d * 11) % 100) / 10).toFloat))
    }.toDF("vec_id", "embedding")
    // maintained index: bootstrap at 4 lists + one increment
    Maintenance.ivfMaintain(spark, dir, all.where(col("vec_id") < 100L), nLists = 4)
    Maintenance.ivfMaintain(spark, dir, all.where(col("vec_id") >= 100L), nLists = 4)
    val pre = Maintenance.ivfAudit(spark, dir)
    assert(pre.ok && pre.n == 150L)
    // dry-run retrain touches nothing
    val dry = Maintenance.ivfRetrain(spark, dir, nLists = 8, dryRun = true)
    assert(dry.dryRun && dry.listsBefore == 4L && dry.listsAfter == 8L)
    assert(spark.read.parquet(s"$dir/centroids").count() == 4L, "dry run wrote")
    // real retrain to 8 lists, then compare against a fresh bootstrap dir
    val r = Maintenance.ivfRetrain(spark, dir, nLists = 8)
    assert(!r.dryRun && r.vectors == 150L && r.listsAfter == 8L)
    val freshDir = Files.createTempDirectory("graft-ivffresh").toString + "/index"
    Maintenance.ivfMaintain(spark, freshDir, all, nLists = 8)
    def snap(d: String) = (
      spark.read.parquet(s"$d/centroids").collect()
        .map(x => (x.getInt(0), x.getSeq[Float](1), x.getDouble(2))).toSet,
      spark.read.parquet(s"$d/assignments").select("vec_id", "list_id", "vnorm").collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getDouble(2))).toSet)
    assert(snap(dir) == snap(freshDir), "retrain+backfill must equal a fresh index")
    val post = Maintenance.ivfAudit(spark, dir)
    assert(post.ok && post.maxListId <= 8L && post.nullListIds == 0L)
    // and recall on the retrained dir: searchable end-to-end
    val q = all.where(col("vec_id") % 50L === 0L)
    assert(graft.operators.SimilarityIvf.search(
      spark.read.parquet(s"$dir/assignments"), spark.read.parquet(s"$dir/centroids"),
      q, k = 3, nProbe = 8).count() > 0L)
  }

  test("postingsMaintain: bootstrap + increments == fresh index; pruned search == batch BM25") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-postings").toString + "/index"
    val all = (0L until 90L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 9} gamma " * (1 + (i % 3)).toInt)
    }.toDF("doc_id", "text")
    // bootstrap on 60 docs, dry-run inert, then two increments
    val r1 = Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 60L))
    assert(r1.bootstrap && r1.docsAfter == 60L)
    val dry = Maintenance.postingsMaintain(spark, dir,
      all.where(col("doc_id") >= 60L && col("doc_id") < 75L), dryRun = true)
    assert(dry.dryRun && !dry.bootstrap && dry.docsAfter == 75L)
    assert(spark.read.parquet(s"$dir/stats").head.getLong(0) == 60L, "dry run wrote")
    Maintenance.postingsMaintain(spark, dir,
      all.where(col("doc_id") >= 60L && col("doc_id") < 75L))
    val r3 = Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") >= 75L))
    assert(r3.docsBefore == 75L && r3.docsAfter == 90L)
    val aud = Maintenance.postingsAudit(spark, dir)
    assert(aud.ok, s"audit must be green after disjoint increments: $aud")
    // maintained index == fresh bootstrap over the same corpus, as sets
    val freshDir = Files.createTempDirectory("graft-postfresh").toString + "/index"
    Maintenance.postingsMaintain(spark, freshDir, all)
    def snap(d: String) = (
      spark.read.parquet(s"$d/postings").select("term", "doc_id", "dl", "tf", "tb")
        .collect().map(_.toSeq).toSet,
      // last_pass is a per-pass marker, legitimately different per store
      spark.read.parquet(s"$d/stats").select("n_docs", "sum_dl")
        .collect().map(_.toSeq).toSet)
    assert(snap(dir) == snap(freshDir))
    // pruned search == the batch scorer, bit-exact (rank, score, n_terms)
    val q = Seq((1L, "alpha shared"), (2L, "gamma run4")).toDF("query_id", "qtext")
    val got = Maintenance.bm25Maintained(spark, dir, q, k = 5)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Search.bm25TopK(all, q, k = 5)
      .collect().map(_.toSeq).toSet
    assert(got == batch, "maintained-index BM25 must equal the batch scorer")
    // the read PRUNES on the tb partition column (the 100 TB point)
    val plan = Maintenance.bm25Maintained(spark, dir, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
      s"expected tb partition pruning in the postings scan:\n$plan")
    // audit catches a re-appended (duplicate) document batch — BOTH flags:
    // n_docs runs ahead of distinct doc_ids, and the duplicated (term,
    // doc_id) keys break row uniqueness
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 5L))
    val bad = Maintenance.postingsAudit(spark, dir)
    assert(!bad.ok && bad.statsDocs == 95L && bad.distinctDocs == 90L && !bad.rowsUnique)
  }

  test("dirichletMaintained / prfMaintained == the batch scorers, bit-exact") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Search
    val dir = Files.createTempDirectory("graft-postlm").toString + "/index"
    val all = (0L until 90L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 9} gamma " * (1 + (i % 3)).toInt)
    }.toDF("doc_id", "text")
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 60L))
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") >= 60L))
    val q = Seq((1L, "alpha shared"), (2L, "gamma run4")).toDF("query_id", "qtext")
    val qt = q.select(col("query_id"),
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("qtext"), " ")).as("term")).distinct()
    // Dirichlet-QL from the maintained store == from a fresh matched fetch
    val dGot = Maintenance.dirichletMaintained(spark, dir, q, k = 5)
      .collect().map(_.toSeq).toSet
    val dWant = Search.dirichletTopKFromPostings(
        Search.matchedPostings(all, qt), Search.corpusStats(all), qt, k = 5)
      .collect().map(_.toSeq).toSet
    assert(dGot == dWant)
    // PRF from the maintained store (feedback prefix + bucket-pruned
    // expansion fetch) == the self-contained batch prfExpand
    val pGot = Maintenance.prfMaintained(spark, dir, all, q, r = 2, m = 1, k = 5)
      .collect().map(_.toSeq).toSet
    val pWant = Search.prfExpand(all, q, r = 2, m = 1, k = 5)
      .collect().map(_.toSeq).toSet
    assert(pGot == pWant)
    // tf-idf from the maintained store (norms sidecar, no corpus scan) ==
    // the batch scorer that computes norms from the docs at query time
    val tGot = Maintenance.tfidfMaintained(spark, dir, q, k = 5)
      .collect().map(_.toSeq).toSet
    val tWant = Search.tfidfTopKFromPostings(
        all, Search.matchedPostings(all, qt), Search.corpusStats(all), qt, k = 5)
      .collect().map(_.toSeq).toSet
    assert(tGot == tWant)
    // the expansion fetch PRUNES on tb like every maintained read
    val plan = Maintenance.prfMaintained(spark, dir, all, q, r = 2, m = 1, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"))
  }

  test("positional sidecar: phrase/proximity/boolean maintained == batch; lifecycle ages/compacts it") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Search
    // mixed case exercises the sidecar's lowercased tokenization
    val all = (0L until 90L).map { i =>
      (i, s"Alpha doc$i beta Shared corpus words run${i % 9} gamma " * (1 + (i % 3)).toInt)
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-positions").toString + "/index"
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 60L),
      passId = "boot", positions = true)
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") >= 60L),
      passId = "inc1")
    assert(Maintenance.postingsAudit(spark, dir).ok)
    val q = Seq((1L, "alpha doc5"), (2L, "shared corpus"), (3L, "gamma run4"))
      .toDF("query_id", "qtext")
    val got = Maintenance.phraseMaintained(spark, dir, q).collect().map(_.toSeq).toSet
    val want = Search.phraseHits(all, q).collect().map(_.toSeq).toSet
    assert(got == want, "maintained phrase must equal the batch corpus scan")
    val pGot = Maintenance.proximityMaintained(spark, dir, q, proxWindow = 6, k = 5)
      .collect().map(_.toSeq).toSet
    val pWant = Search.proximityHits(all, q, window = 6, k = 5)
      .collect().map(_.toSeq).toSet
    assert(pGot == pWant)
    val bq = Seq((1L, "alpha beta gamma", "doc7"), (2L, "shared corpus", null))
      .toDF("query_id", "qtext", "nottext")
    val bGot = Maintenance.booleanMaintained(spark, dir, bq).collect().map(_.toSeq).toSet
    val bWant = Search.booleanHits(all, bq).collect().map(_.toSeq).toSet
    assert(bGot == bWant)
    val sGot = Maintenance.snippetsMaintained(spark, dir, q, snipWindow = 8)
      .collect().map(_.toSeq).toSet
    val sWant = Search.bestSnippets(all, q, window = 8).collect().map(_.toSeq).toSet
    assert(sGot == sWant)
    // the positional read PRUNES on the pb partition column
    val plan = Maintenance.phraseMaintained(spark, dir, q)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pb"),
      s"expected pb partition pruning in the positions scan:\n$plan")
    // a store bootstrapped WITHOUT positions refuses both the retrofit
    // increment and the positional read, loudly
    val bare = Files.createTempDirectory("graft-posbare").toString + "/index"
    Maintenance.postingsMaintain(spark, bare, all.where(col("doc_id") < 60L))
    intercept[IllegalArgumentException] {
      Maintenance.postingsMaintain(spark, bare, all.where(col("doc_id") >= 60L),
        positions = true)
    }
    intercept[IllegalArgumentException] {
      Maintenance.phraseMaintained(spark, bare, q).collect()
    }
    // age-off drops the docs from the sidecar too: aged store == fresh
    // positions bootstrap over the survivors, as sets
    val dropIds = all.where(col("doc_id") % 11 === 0).select("doc_id")
    Maintenance.postingsAgeOff(spark, dir, dropIds)
    assert(Maintenance.postingsAudit(spark, dir).ok)
    val freshDir = Files.createTempDirectory("graft-posfresh").toString + "/index"
    Maintenance.postingsMaintain(spark, freshDir,
      all.where(col("doc_id") % 11 =!= 0), positions = true)
    def posSnap(d: String) = spark.read.parquet(s"$d/positions")
      .select("doc_id", "w", "poss", "pb").collect().map(_.toSeq).toSet
    assert(posSnap(dir) == posSnap(freshDir))
    // aged reads still equal the batch scan over the surviving corpus
    val surv = all.where(col("doc_id") % 11 =!= 0)
    assert(Maintenance.phraseMaintained(spark, dir, q).collect().map(_.toSeq).toSet ==
      Search.phraseHits(surv, q).collect().map(_.toSeq).toSet)
    // compaction censuses the sidecar: accumulated per-pass files rewrite
    // to one per bucket, content-invariant
    val preFiles = posSnap(dir)
    val rep = Maintenance.postingsCompact(spark, dir, maxFilesPerBucket = 1)
    assert(rep.triggered && posSnap(dir) == preFiles)
    assert(Maintenance.postingsAudit(spark, dir).ok)
  }

  test("postings pass protocol: retries cannot duplicate; crash windows reconcile") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-postcrash").toString + "/index"
    val all = (0L until 60L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 6} gamma")
    }.toDF("doc_id", "text")
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 40L), passId = "boot")
    val inc = all.where(col("doc_id") >= 40L)
    val r = Maintenance.postingsMaintain(spark, dir, inc, passId = "day1")
    assert(!r.bootstrap && r.docsAfter == 60L)
    // a blind RETRY of the committed pass is skipped, not re-appended
    val retry = Maintenance.postingsMaintain(spark, dir, inc, passId = "day1")
    assert(retry.skipped && retry.docsAfter == 60L)
    assert(Maintenance.postingsAudit(spark, dir).ok)
    // crash window A: a staged-but-uncommitted pending dir (pre-commit
    // orphan) is dropped by the next pass's reconcile
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/postings.pending/ghost")
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, "tb=0"))
    Maintenance.postingsMaintain(spark, dir, all.limit(0), passId = "day2")
    assert(!fs.exists(orphan), "uncommitted orphan stage must be dropped")
    assert(Maintenance.postingsAudit(spark, dir).ok)
    // crash window B: committed but unpublished — move a published pass's
    // bucket files back into a pending dir named by the committed last_pass,
    // then verify a READER (bm25Maintained) reconciles and still scores the
    // full index
    val statsLast = spark.read.parquet(s"$dir/stats").select("last_pass").head.getString(0)
    val pend = new org.apache.hadoop.fs.Path(s"$dir/postings.pending/$statsLast")
    val tb0 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      .filter(_.getPath.getName.startsWith("tb=")).head.getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(pend, tb0.getName))
    val movedFile = fs.listStatus(tb0).filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    // strip any pass prefix so the republished name differs — the reconcile
    // must still land it (fresh name => plain move)
    fs.rename(movedFile, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(pend, tb0.getName), "part-replay.parquet"))
    import spark.implicits._
    val q = Seq((1L, "alpha shared")).toDF("query_id", "qtext")
    val got = Maintenance.bm25Maintained(spark, dir, q, k = 5)
    got.count()
    assert(!fs.exists(pend), "reader must publish the committed pending stage")
    assert(Maintenance.postingsAudit(spark, dir).ok)
  }

  test("postingsCompact: accumulated increment files trigger a bucket-preserving rewrite") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-postcompact").toString + "/index"
    val all = (0L until 120L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 6} gamma")
    }.toDF("doc_id", "text")
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 40L))
    // 8 increment passes: each publishes one file per touched bucket
    (0 until 8).foreach { k =>
      Maintenance.postingsMaintain(spark, dir,
        all.where(col("doc_id") >= 40L + k * 10L && col("doc_id") < 50L + k * 10L))
    }
    val preSearch = {
      import spark.implicits._
      val q = Seq((1L, "alpha shared"), (2L, "gamma run4")).toDF("query_id", "qtext")
      Maintenance.bm25Maintained(spark, dir, q, k = 5).collect().map(_.toSeq).toSet
    }
    // healthy threshold high: measured max is below it -> no-op
    val healthy = Maintenance.postingsCompact(spark, dir, maxFilesPerBucket = 100)
    assert(!healthy.triggered && healthy.filesAfter == healthy.filesBefore)
    // dry run at a real threshold: triggered, but rewrites nothing
    val dry = Maintenance.postingsCompact(spark, dir, maxFilesPerBucket = 4, dryRun = true)
    assert(dry.dryRun && dry.triggered && dry.maxFilesPerBucketBefore > 4L)
    val applied = Maintenance.postingsCompact(spark, dir, maxFilesPerBucket = 4)
    assert(applied.triggered && applied.filesAfter < applied.filesBefore,
      s"compaction must shrink the file count: $applied")
    // content identical, audit green, search identical, pruning preserved
    assert(Maintenance.postingsAudit(spark, dir).ok)
    import spark.implicits._
    val q = Seq((1L, "alpha shared"), (2L, "gamma run4")).toDF("query_id", "qtext")
    val post = Maintenance.bm25Maintained(spark, dir, q, k = 5)
    assert(post.collect().map(_.toSeq).toSet == preSearch)
    val plan = post.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"))
    // a freshly-compacted store is healthy: the same policy no-ops
    val again = Maintenance.postingsCompact(spark, dir, maxFilesPerBucket = 4)
    assert(!again.triggered)
  }

  test("postingsMaintain auto-compaction: the store self-schedules its rewrite") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-postauto").toString + "/index"
    val all = (0L until 100L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 6} gamma")
    }.toDF("doc_id", "text")
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 40L), passId = "boot")
    // healthy passes: censused, not rewritten
    val r1 = Maintenance.postingsMaintain(spark, dir,
      all.where(col("doc_id") >= 40L && col("doc_id") < 50L), passId = "i1",
      autoCompactFilesPerBucket = Some(6))
    assert(r1.compaction.isEmpty, s"healthy store must not rewrite: $r1")
    // keep appending without the policy until the census degrades...
    (1 until 5).foreach { k =>
      Maintenance.postingsMaintain(spark, dir,
        all.where(col("doc_id") >= 40L + k * 10L && col("doc_id") < 50L + k * 10L),
        passId = s"i${k + 1}")
    }
    // ...then a policy-carrying pass self-schedules the rewrite
    val ingest = all.where(col("doc_id") >= 90L)
    val r2 = Maintenance.postingsMaintain(spark, dir, ingest, passId = "i6",
      autoCompactFilesPerBucket = Some(2))
    val c = r2.compaction.getOrElse(fail(s"degraded store must self-compact: $r2"))
    assert(c.triggered && c.filesAfter < c.filesBefore)
    assert(Maintenance.postingsAudit(spark, dir).ok)
    // content == fresh bootstrap (compaction is layout-only)
    val freshDir = Files.createTempDirectory("graft-postautofresh").toString + "/index"
    Maintenance.postingsMaintain(spark, freshDir, all)
    def snap(d: String) = spark.read.parquet(s"$d/postings")
      .select("term", "doc_id", "dl", "tf", "tb").collect().map(_.toSeq).toSet
    assert(snap(dir) == snap(freshDir))
  }

  test("postingsAgeOff: index == fresh bootstrap over the surviving corpus, bit-exact") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-postage").toString + "/index"
    val all = (0L until 90L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 9} gamma " * (1 + (i % 3)).toInt)
    }.toDF("doc_id", "text")
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") < 60L))
    Maintenance.postingsMaintain(spark, dir, all.where(col("doc_id") >= 60L))
    val dropDocs = all.where(col("doc_id") % 4 === 0L).select("doc_id")
    // dry run measures, touches nothing
    val dry = Maintenance.postingsAgeOff(spark, dir, dropDocs, dryRun = true)
    assert(dry.dryRun && dry.docsBefore == 90L && dry.docsAfter == 67L && dry.rowsDropped > 0L)
    assert(spark.read.parquet(s"$dir/stats").head.getLong(0) == 90L, "dry run wrote")
    val r = Maintenance.postingsAgeOff(spark, dir, dropDocs)
    assert(!r.dryRun && r.docsBefore == 90L && r.docsAfter == 67L)
    assert(Maintenance.postingsAudit(spark, dir).ok)
    // the aged index equals a fresh bootstrap over the survivors — postings
    // set AND stats row (modulo the pass marker)
    val freshDir = Files.createTempDirectory("graft-postagefresh").toString + "/index"
    Maintenance.postingsMaintain(spark, freshDir, all.where(col("doc_id") % 4 =!= 0L))
    def snap(d: String) = (
      spark.read.parquet(s"$d/postings").select("term", "doc_id", "dl", "tf", "tb")
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$d/stats").select("n_docs", "sum_dl")
        .collect().map(_.toSeq).toSet)
    assert(snap(dir) == snap(freshDir))
    // and the maintained read path scores identically to batch BM25 over
    // the surviving corpus
    import spark.implicits._
    val q = Seq((1L, "alpha shared"), (2L, "gamma run4")).toDF("query_id", "qtext")
    val got = Maintenance.bm25Maintained(spark, dir, q, k = 5).collect().map(_.toSeq).toSet
    val batch = graft.operators.Search.bm25TopK(
      all.where(col("doc_id") % 4 =!= 0L), q, k = 5).collect().map(_.toSeq).toSet
    assert(got == batch)
    // age-off is idempotent: a retry drops nothing further
    val r2 = Maintenance.postingsAgeOff(spark, dir, dropDocs)
    assert(r2.rowsDropped == 0L && r2.docsAfter == 67L)
  }

  test("lshMaintain + lshCandidates: store passes reproduce the batch LSH screen exactly") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-lshstore").toString + "/index"
    // near-dup-rich corpus: every 4th doc is a shingle-identical twin of its
    // predecessor, so banded collisions actually occur
    val all = (0L until 80L).map { i =>
      val base = if (i % 4 == 3) i - 1 else i
      (i, s"alpha beta gamma delta shard${base % 10} token${base % 7} omega rho sigma tau")
    }.toDF("doc_id", "text")
    val baseDocs = all.where(col("doc_id") % 3 =!= 0)
    val newDocs = all.where(col("doc_id") % 3 === 0)
    // bootstrap signs the base corpus
    val r1 = Maintenance.lshMaintain(spark, dir, baseDocs, passId = "boot")
    assert(r1.bootstrap && r1.docsAfter == baseDocs.count())
    // dry-run increment reports without writing
    val dry = Maintenance.lshMaintain(spark, dir, newDocs, passId = "inc1", dryRun = true)
    assert(dry.dryRun && !dry.bootstrap && dry.docsAfter == 80L)
    assert(spark.read.parquet(s"$dir/meta").head.getAs[Long]("n_docs") == baseDocs.count())
    // the store-backed increment screen == minhashLshIncremental(base, new),
    // which itself is spec-pinned to minhashLsh(all) restricted to new-side
    // pairs — signatures come from the PERSISTED store, not a base re-sign
    val cand = Maintenance.lshCandidates(spark, dir, newDocs)
    val expected = graft.operators.Dedup.minhashLshIncremental(baseDocs, newDocs)
    assert(cand.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    // ... and the read PRUNES on the kb partition column (the 100 TB point)
    val onedoc = all.where(col("doc_id") === 0L)
    val plan = Maintenance.lshCandidates(spark, dir, onedoc)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("kb"),
      s"expected kb partition pruning in the signatures scan:\n$plan")
    // fold the increment in; bootstrap(base)+increment == one bootstrap(all)
    val r2 = Maintenance.lshMaintain(spark, dir, newDocs, passId = "inc1")
    assert(!r2.bootstrap && r2.docsAfter == 80L)
    assert(Maintenance.lshAudit(spark, dir).ok)
    val freshDir = Files.createTempDirectory("graft-lshfresh").toString + "/index"
    Maintenance.lshMaintain(spark, freshDir, all)
    def snap(d: String) = spark.read.parquet(s"$d/signatures")
      .select("doc_id", "mh0", "mh7", "b", "key").collect().map(_.toSeq).toSet
    assert(snap(dir) == snap(freshDir))
    // a blind retry of the committed pass is skipped, not re-appended
    val retry = Maintenance.lshMaintain(spark, dir, newDocs, passId = "inc1")
    assert(retry.skipped)
    assert(Maintenance.lshAudit(spark, dir).ok)
    // parameter mismatch is refused: signatures are not comparable
    intercept[IllegalArgumentException] {
      Maintenance.lshMaintain(spark, dir, newDocs, numHashes = 4, bandSize = 2, passId = "bad")
    }
    // union of the bootstrap screen and the increment screen == the batch
    // screen over the full corpus (the dedup_lsh_store gate's contract)
    val unioned = graft.operators.Dedup.minhashLsh(baseDocs).unionByName(cand)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Dedup.minhashLsh(all).collect().map(_.toSeq).toSet
    assert(unioned == batch)
  }

  test("ivfRetrain absorbs an increment: retrain(store ∪ inc) == fresh bootstrap over the union") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ivfinc").toString + "/index"
    val all = (0L until 160L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 13 + d * 5) % 100) / 10).toFloat))
    }.toDF("vec_id", "embedding")
    val stored = all.where(col("vec_id") < 120L)
    val inc = all.where(col("vec_id") >= 120L)
    Maintenance.ivfMaintain(spark, dir, stored, nLists = 4)
    // retrain to 8 lists, absorbing the not-yet-assigned increment
    val r = Maintenance.ivfRetrain(spark, dir, nLists = 8, increment = Some(inc))
    assert(r.vectors == 160L && r.listsAfter == 8L)
    val freshDir = Files.createTempDirectory("graft-ivfincfresh").toString + "/index"
    Maintenance.ivfMaintain(spark, freshDir, all, nLists = 8)
    def snap(d: String) = (
      spark.read.parquet(s"$d/centroids").collect()
        .map(x => (x.getInt(0), x.getSeq[Float](1), x.getDouble(2))).toSet,
      spark.read.parquet(s"$d/assignments").select("vec_id", "list_id", "vnorm").collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getDouble(2))).toSet)
    assert(snap(dir) == snap(freshDir))
    assert(Maintenance.ivfAudit(spark, dir).ok)
  }

  test("a crashed ivfRetrain (marker left, mixed dirs) is auto-repaired at the next entry") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ivfcrash").toString + "/index"
    val all = (0L until 100L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 19 + d * 3) % 100) / 10).toFloat))
    }.toDF("vec_id", "embedding")
    Maintenance.ivfMaintain(spark, dir, all, nLists = 8)
    // simulate the between-swaps crash: centroids already v2 (4 lists —
    // SHRUNK, so v1 assignments hold out-of-range list_ids), assignments
    // still v1, marker on disk
    val cents2 = graft.operators.SimilarityIvf.centroids(all, 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cents2.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/centroids.v2")
    graft.sources.AtomicDir.swap(fs, new org.apache.hadoop.fs.Path(s"$dir/centroids.v2"),
      new org.apache.hadoop.fs.Path(s"$dir/centroids"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/retrain.pending"), true).close()
    // the audit entry detects the marker and repairs: assignments re-derive
    // from the LIVE centroids, bit-equal to a clean retrain's backfill
    val aud = Maintenance.ivfAudit(spark, dir)
    assert(aud.ok && aud.maxListId <= 4L, s"repair must rebucket to the live geometry: $aud")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/retrain.pending")))
    val expected = graft.operators.SimilarityIvf.assign(all, spark.read.parquet(s"$dir/centroids"))
      .select("vec_id", "list_id", "vnorm").collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$dir/assignments").select("vec_id", "list_id", "vnorm")
      .collect().map(_.toSeq).toSet == expected)
  }

  test("lshAgeOff: aged store == fresh bootstrap over the surviving corpus") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-lshage").toString + "/index"
    val all = (0L until 80L).map { i =>
      val base = if (i % 4 == 3) i - 1 else i
      (i, s"alpha beta gamma delta shard${base % 10} token${base % 7} omega rho sigma tau")
    }.toDF("doc_id", "text")
    Maintenance.lshMaintain(spark, dir, all.where(col("doc_id") < 50L), passId = "boot")
    Maintenance.lshMaintain(spark, dir, all.where(col("doc_id") >= 50L), passId = "inc")
    val drop = all.where(col("doc_id") % 5 === 0L).select("doc_id")
    val dry = Maintenance.lshAgeOff(spark, dir, drop, dryRun = true)
    assert(dry.dryRun && dry.docsBefore == 80L && dry.docsAfter == 64L)
    assert(spark.read.parquet(s"$dir/meta").head.getAs[Long]("n_docs") == 80L, "dry run wrote")
    val r = Maintenance.lshAgeOff(spark, dir, drop)
    assert(!r.dryRun && r.docsAfter == 64L && r.rowsDropped == 16L * 4L)
    assert(Maintenance.lshAudit(spark, dir).ok)
    val freshDir = Files.createTempDirectory("graft-lshagefresh").toString + "/index"
    Maintenance.lshMaintain(spark, freshDir, all.where(col("doc_id") % 5 =!= 0L))
    def snap(d: String) = spark.read.parquet(s"$d/signatures")
      .select("doc_id", "mh0", "mh7", "b", "key").collect().map(_.toSeq).toSet
    assert(snap(dir) == snap(freshDir))
    // dead docs no longer surface as candidates: the screen over a delta
    // equals the incremental screen against the surviving base
    val delta = all.where(col("doc_id") % 5 === 0L)
      .select(col("doc_id") + 1000L as "doc_id", col("text"))
    val got = Maintenance.lshCandidates(spark, dir, delta).collect().map(_.toSeq).toSet
    val want = graft.operators.Dedup.minhashLshIncremental(
      all.where(col("doc_id") % 5 =!= 0L), delta).collect().map(_.toSeq).toSet
    assert(got == want)
    // retry drops nothing (idempotent)
    assert(Maintenance.lshAgeOff(spark, dir, drop).rowsDropped == 0L)
  }

  test("ivfAgeOff: aged assignments == batch assign of survivors under the same centroids") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ivfage").toString + "/index"
    val all = (0L until 120L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 23 + d * 7) % 100) / 10).toFloat))
    }.toDF("vec_id", "embedding")
    Maintenance.ivfMaintain(spark, dir, all, nLists = 6)
    val drop = all.where(col("vec_id") % 3 === 0L).select("vec_id")
    val dry = Maintenance.ivfAgeOff(spark, dir, drop, dryRun = true)
    assert(dry.dryRun && dry.vectorsBefore == 120L && dry.vectorsAfter == 80L)
    assert(spark.read.parquet(s"$dir/assignments").count() == 120L, "dry run wrote")
    val r = Maintenance.ivfAgeOff(spark, dir, drop)
    assert(!r.dryRun && r.vectorsAfter == 80L)
    assert(Maintenance.ivfAudit(spark, dir).ok)
    val cents = spark.read.parquet(s"$dir/centroids")
    val expected = graft.operators.SimilarityIvf.assign(
        all.where(col("vec_id") % 3 =!= 0L), cents)
      .select("vec_id", "list_id", "vnorm").collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$dir/assignments").select("vec_id", "list_id", "vnorm")
      .collect().map(_.toSeq).toSet == expected)
    // retry is a no-op
    assert(Maintenance.ivfAgeOff(spark, dir, drop).vectorsAfter == 80L)
  }

  test("scd2Prune: closed-history trim keeps open intervals and commutes with apply") {
    import org.apache.spark.sql.functions.col
    val mk = (lo: Int, hi: Int) => (lo until hi).map { i =>
      ((i % 3).toLong, s"v${(i / 5) % 3}", (i / 3).toLong * 10L, i.toLong)
    }.toDF("user_id", "attr", "ms", "event_id")
    val cutoff = 120L
    // prune-then-apply
    val dimA = Files.createTempDirectory("graft-scd2pr").toString + "/dim"
    Maintenance.scd2Maintain(spark, dimA, mk(0, 60), "user_id", "attr", col("ms"), "event_id")
    val dry = Maintenance.scd2Prune(spark, dimA, cutoff, dryRun = true)
    assert(dry.dryRun && dry.rowsAfter < dry.rowsBefore && dry.openKept == 3L)
    assert(spark.read.parquet(dimA).count() == dry.rowsBefore, "dry run wrote")
    val r = Maintenance.scd2Prune(spark, dimA, cutoff)
    assert(!r.dryRun && r.rowsAfter < r.rowsBefore && r.openKept == 3L)
    // every surviving closed interval ends at/after the cutoff
    assert(spark.read.parquet(dimA)
      .where(col("is_current") === 0L && col("valid_to") < cutoff).count() == 0L)
    Maintenance.scd2Maintain(spark, dimA, mk(60, 90), "user_id", "attr", col("ms"), "event_id")
    // apply-then-prune
    val dimB = Files.createTempDirectory("graft-scd2pr2").toString + "/dim"
    Maintenance.scd2Maintain(spark, dimB, mk(0, 60), "user_id", "attr", col("ms"), "event_id")
    Maintenance.scd2Maintain(spark, dimB, mk(60, 90), "user_id", "attr", col("ms"), "event_id")
    Maintenance.scd2Prune(spark, dimB, cutoff)
    assert(spark.read.parquet(dimA).collect().map(_.toSeq).toSet ==
      spark.read.parquet(dimB).collect().map(_.toSeq).toSet,
      "prune must commute with apply for cutoffs before the delta")
  }

  test("ivfAudit flags duplicate vec_ids and out-of-range list_ids") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("graft-ivfaudit").toString + "/index"
    val all = (0L until 40L).map { i =>
      (i, Array.tabulate(4)(d => ((i + d) % 7).toFloat))
    }.toDF("vec_id", "embedding")
    Maintenance.ivfMaintain(spark, dir, all, nLists = 4)
    assert(Maintenance.ivfAudit(spark, dir).ok)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // violate the new-vec_ids contract: plant an already-indexed slice's
    // files into the matching list_id= partition dirs (the layout a buggy
    // writer bypassing the pass protocol would leave)
    val cents = spark.read.parquet(s"$dir/centroids")
    graft.operators.SimilarityIvf.assign(all.where(col("vec_id") < 5L), cents)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("list_id").parquet(s"$dir/assignments.broken")
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/assignments.broken"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("list_id="))
      .foreach { d =>
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(
            s"$dir/assignments/${d.getPath.getName}/dup-${f.getPath.getName}"))
        }
      }
    val dup = Maintenance.ivfAudit(spark, dir)
    assert(!dup.vecIdsUnique && !dup.ok)
    // corrupt a list_id out of the centroid range: envelope check trips
    val dir2 = Files.createTempDirectory("graft-ivfaudit2").toString + "/index"
    Maintenance.ivfMaintain(spark, dir2, all, nLists = 4)
    spark.read.parquet(s"$dir2/assignments").drop("list_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir2/assignments.broken")
    // (stage the corruption under an out-of-range list_id= partition dir)
    val fs2 = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.mkdirs(new org.apache.hadoop.fs.Path(s"$dir2/assignments/list_id=99"))
    fs2.listStatus(new org.apache.hadoop.fs.Path(s"$dir2/assignments.broken"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        fs2.rename(f.getPath, new org.apache.hadoop.fs.Path(
          s"$dir2/assignments/list_id=99/corrupt-${f.getPath.getName}"))
      }
    val bad = Maintenance.ivfAudit(spark, dir2)
    assert(!bad.listIdsValid && bad.maxListId == 99L && !bad.ok)
  }

  test("vocab store: additive deltas == fresh counts; retire goes negative; compact merges") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Search
    val dir = Files.createTempDirectory("graft-vocab").toString + "/index"
    val all = (0L until 90L).map { i =>
      (i, s"Alpha doc$i beta Shared words run${i % 9} gamma " * (1 + (i % 3)).toInt)
    }.toDF("doc_id", "text")
    // bootstrap + 2 increments
    Maintenance.vocabMaintain(spark, dir, all.where(col("doc_id") < 40L), passId = "boot")
    Maintenance.vocabMaintain(spark, dir,
      all.where(col("doc_id") >= 40L && col("doc_id") < 70L), passId = "inc1")
    val r = Maintenance.vocabMaintain(spark, dir, all.where(col("doc_id") >= 70L),
      passId = "inc2")
    assert(!r.bootstrap && r.deltaTokens > 0L)
    // blind retry of a committed pass skips
    assert(Maintenance.vocabMaintain(spark, dir, all.where(col("doc_id") >= 70L),
      passId = "inc2").skipped)
    assert(Maintenance.vocabAudit(spark, dir).ok)
    // maintained suggest == the batch corpus-explode route, bit-exact
    val w2 = org.apache.spark.sql.functions.expr("element_at(split(text, ' '), 2)")
    val q = all.where(col("doc_id") % 11 === 0)
      .select(col("doc_id").as("query_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.expr(
            "substring(element_at(split(text, ' '), 2), 1, length(element_at(split(text, ' '), 2)) - 1)"),
          org.apache.spark.sql.functions.lit("z")).as("qterm"))
    val got = Maintenance.spellMaintained(spark, dir, q).collect().map(_.toSeq).toSet
    val want = Search.spellSuggest(all, q).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // the suggest read PRUNES on the vb partition column
    val plan = Maintenance.spellMaintained(spark, dir, q)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("vb"),
      s"expected vb partition pruning in the vocab scan:\n$plan")
    // RETIRE every 9th doc (negative deltas through the same protocol):
    // suggest then equals the batch route over the SURVIVING corpus
    Maintenance.vocabRetire(spark, dir,
      all.where(col("doc_id") % 9 === 0), passId = "ret1")
    assert(Maintenance.vocabAudit(spark, dir).ok)
    val surv = all.where(col("doc_id") % 9 =!= 0)
    val agedGot = Maintenance.spellMaintained(spark, dir, q).collect().map(_.toSeq).toSet
    assert(agedGot == Search.spellSuggest(surv, q).collect().map(_.toSeq).toSet)
    // merge-compaction: per-word delta rows collapse, zero totals reclaim,
    // reads unchanged
    val rep = Maintenance.vocabCompact(spark, dir, maxFilesPerBucket = 1)
    assert(rep.triggered)
    val merged = spark.read.parquet(s"$dir/vocab")
    assert(merged.groupBy("w").count()
      .where(col("count") > 1L).count() == 0L, "compact must merge per-word deltas")
    assert(merged.where(col("n") <= 0L).count() == 0L, "zeroed words must reclaim")
    assert(Maintenance.spellMaintained(spark, dir, q).collect().map(_.toSeq).toSet == agedGot)
    assert(Maintenance.vocabAudit(spark, dir).ok)
    // over-retirement is flagged, loudly visible in the audit
    Maintenance.vocabRetire(spark, dir, all.where(col("doc_id") % 9 === 0), passId = "ret2")
    assert(!Maintenance.vocabAudit(spark, dir).nonNegative)
  }

  test("lshCompact / ivfCompact: accumulated increment files rewrite, content-invariant") {
    import org.apache.spark.sql.functions.col
    // LSH: bootstrap + 5 increments (one file per touched kb bucket each)
    val lshDir = Files.createTempDirectory("graft-lshcompact").toString + "/index"
    val docs = (0L until 120L).map { i =>
      (i, s"alpha doc$i beta shared corpus words run${i % 6} gamma")
    }.toDF("doc_id", "text")
    Maintenance.lshMaintain(spark, lshDir, docs.where(col("doc_id") < 20L), passId = "boot")
    (1 to 5).foreach { k =>
      Maintenance.lshMaintain(spark, lshDir,
        docs.where(col("doc_id") >= k * 20L && col("doc_id") < (k + 1) * 20L),
        passId = s"inc$k")
    }
    def lshSnap() = spark.read.parquet(s"$lshDir/signatures")
      .collect().map(_.toSeq).toSet
    val lshBefore = lshSnap()
    val lshDry = Maintenance.lshCompact(spark, lshDir, maxFilesPerBucket = 1, dryRun = true)
    assert(lshDry.dryRun && lshDry.triggered && lshSnap() == lshBefore)
    val lshRep = Maintenance.lshCompact(spark, lshDir, maxFilesPerBucket = 1)
    assert(lshRep.triggered && lshRep.filesAfter < lshRep.filesBefore)
    assert(lshSnap() == lshBefore && Maintenance.lshAudit(spark, lshDir).ok)
    // healthy store: second pass is a census-only no-op
    assert(!Maintenance.lshCompact(spark, lshDir, maxFilesPerBucket = 1).triggered)
    // IVF: auto-compaction self-schedules from the maintain pass itself
    val ivfDir = Files.createTempDirectory("graft-ivfcompact").toString + "/index"
    val vecs = (0L until 120L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 3 + d * 5) % 11).toFloat))
    }.toDF("vec_id", "embedding")
    Maintenance.ivfMaintain(spark, ivfDir, vecs.where(col("vec_id") < 20L),
      nLists = 4, passId = "boot")
    var compactions = 0
    (1 to 5).foreach { k =>
      val r = Maintenance.ivfMaintain(spark, ivfDir,
        vecs.where(col("vec_id") >= k * 20L && col("vec_id") < (k + 1) * 20L),
        nLists = 4, passId = s"inc$k", autoCompactFilesPerList = Some(2))
      if (r.compaction.isDefined) compactions += 1
    }
    assert(compactions >= 1, "the degraded store must self-schedule a rewrite")
    assert(Maintenance.ivfAudit(spark, ivfDir).ok)
    // the compacted store still equals one batch assign under its centroids
    val cents = spark.read.parquet(s"$ivfDir/centroids")
    assert(spark.read.parquet(s"$ivfDir/assignments")
      .select("vec_id", "list_id").collect().map(_.toSeq).toSet ==
      graft.operators.SimilarityIvf.assign(vecs, cents)
        .select("vec_id", "list_id").collect().map(_.toSeq).toSet)
  }

  test("ivf pass protocol: retries skip; maintained probe prunes lists; lifecycle == fresh") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilarityIvf
    val dir = Files.createTempDirectory("graft-ivfproto").toString + "/index"
    val all = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 3 + d * 5) % 11).toFloat))
    }.toDF("vec_id", "embedding")
    Maintenance.ivfMaintain(spark, dir, all.where(col("vec_id") < 40L),
      nLists = 4, passId = "boot")
    val inc = all.where(col("vec_id") >= 40L)
    val r = Maintenance.ivfMaintain(spark, dir, inc, nLists = 4, passId = "day1")
    assert(!r.bootstrap && r.vectorsAfter == 60L)
    // a blind RETRY of the committed pass is skipped, not re-appended
    val retry = Maintenance.ivfMaintain(spark, dir, inc, nLists = 4, passId = "day1")
    assert(retry.skipped && retry.vectorsAfter == 60L)
    assert(Maintenance.ivfAudit(spark, dir).ok)
    // crash window: committed but unpublished — move a published list file
    // back into a pending stage named by the committed last_pass; the
    // READER must publish it and still score the full index
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastPass = spark.read.parquet(s"$dir/meta").select("last_pass").head.getString(0)
    val lid = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/assignments"))
      .filter(_.getPath.getName.startsWith("list_id=")).head.getPath
    val pend = new org.apache.hadoop.fs.Path(s"$dir/assignments.pending/$lastPass/${lid.getName}")
    fs.mkdirs(pend)
    val moved = fs.listStatus(lid).filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(moved, new org.apache.hadoop.fs.Path(pend, "part-replay.parquet"))
    val q = all.where(col("vec_id") < 3L)
    val got = Maintenance.ivfKnnMaintained(spark, dir, q, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/assignments.pending")),
      "reader must publish the committed pending stage")
    val cents = spark.read.parquet(s"$dir/centroids")
    val want = SimilarityIvf.search(
        spark.read.parquet(s"$dir/assignments"), cents, q, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // the maintained probe PRUNES on the list_id partition column
    val plan = Maintenance.ivfKnnMaintained(spark, dir, q, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"expected list_id partition pruning in the assignments scan:\n$plan")
    // bootstrap + increment + retrain == a fresh bootstrap over the union,
    // and the maintained read then equals the one-shot batch ivfKnn
    Maintenance.ivfRetrain(spark, dir, nLists = 4)
    assert(Maintenance.ivfAudit(spark, dir).ok)
    val mGot = Maintenance.ivfKnnMaintained(spark, dir, q, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val bWant = SimilarityIvf.ivfKnn(all, q, k = 5, nLists = 4, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(mGot == bWant)
  }
}
