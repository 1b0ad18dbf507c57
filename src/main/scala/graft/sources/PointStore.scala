package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.model.MetricPoint

/**
 * Partitioned-parquet point store — the storage layer replacing the
 * reference's Accumulo metrics/meta tables (SURVEY.md §1.2).
 *
 * Layout: `PARTITIONED BY (metric, dt, hr)` mirrors the reference's
 * (metric, hour-rounded timestamp) row keys (reference
 * common/src/main/java/timely/accumulo/MetricAdapter.java:36,47-53,189-196 —
 * hour rounding is explicitly for scan efficiency and compression). Catalyst
 * partition pruning plays part of the role of `DataStore.getQueryRanges`
 * (server/src/main/java/timely/server/store/DataStore.java:997-1039): a query
 * `metric = m AND ts BETWEEN a AND b` prunes to `metric=m`'s directories, but
 * no query derives `dt`/`hr` predicates from its ts range, so it reads them all.
 *
 * Serving state: each store directory has one in-JVM entry, looked up by its
 * qualified Hadoop path (so `/x` and `file:/x` share one). It holds the
 * served points relation ([[points]]: one listing of the store, which every
 * query's partition pruning then runs over) and the in-memory catalog
 * ([[catalog]]), each loaded on first use. Every write into a directory
 * through this object — [[append]], [[write]], [[writeZOrdered]],
 * [[writeMeta]], [[ageOff]], [[ageOffDropPartitions]], [[ageOffCatalog]] — and
 * every [[AtomicDir]] swap (the maintenance passes' rewrites) moves that
 * directory's generation on once its files are in place. A reader tags what
 * it loads with the generation, and the directory's modification time, read
 * before listing, and reloads when either has moved, so a load that raced a
 * write is never kept as current. [[append]] keeps the catalog current
 * itself: it adds the triples it writes to the in-memory catalog instead of
 * re-reading it.
 *
 * Contract: one process appends to a store — the one that holds the append
 * lock. A maintenance pass may run in another process (`graft.tools.
 * Maintenance` on the served directories): its swaps replace a directory and
 * [[ageOffDropPartitions]] touches the data directory's modification time,
 * so the serving process sees the pass on its next request. A write by hand
 * into the directories, which moves neither, is not seen until one of the
 * writers above touches the same directory.
 */
object PointStore {

  /** Canonical points frame with derived partition columns. At cluster scale
    * `(metric, dt, hr)` partitioning is the analog of the reference's
    * (metric, hour-bucket) row keys (MetricAdapter.java:47-53,189-196); only
    * a metric predicate prunes (see the object doc).
    *
    * dt/hr derive from pure epoch arithmetic (UTC by construction), NOT from
    * date_format/hour — those follow the session timezone, and a non-UTC
    * writer would shift rows across day directories, corrupting
    * partition-level maintenance (age-off drops compare UTC horizon days). */
  def withPartitionColumns(points: DataFrame): DataFrame =
    points
      .withColumn("dt", date_add(to_date(lit("1970-01-01")), expr("ts div 86400000").cast("int")).cast("string"))
      .withColumn("hr", expr("(ts div 3600000) % 24").cast("int"))

  /** Batch-write canonical points, partitioned for pruning. */
  def write(points: DataFrame, dataDir: String, mode: SaveMode = SaveMode.Append): Unit =
    writing(points.sparkSession, dataDir) {
      withPartitionColumns(points)
        .write.mode(mode).partitionBy("metric", "dt", "hr").parquet(dataDir)
    }

  /**
   * Z-ORDERED batch write: same `(metric, dt, hr)` directory layout, but the
   * files INSIDE each directory are clustered on the Morton interleave of
   * two residual query dimensions (e.g. a tag-derived cohort x the value
   * band) — so parquet row-group / file min-max statistics stay tight on
   * BOTH dims and a reader can skip most files for either predicate, not
   * just the partition-pruned ones. This is the write-side half of
   * [[graft.operators.Layout]]: the directory tree prunes metric/time
   * (the reference's hour-rounded row key, MetricAdapter.java:47-53), the
   * z-sort prunes within the hour.
   *
   * Mechanics: one `repartitionByRange` over (metric, dt, hr, z) gives
   * every output file a contiguous, disjoint z-range (range partitioning is
   * a global sort boundary — `numFiles` is the TOTAL file budget across
   * dirs, each dir receiving the ranges that intersect it), then
   * `sortWithinPartitions` lays rows z-ordered inside each file so row
   * groups inherit the same tight envelopes. Both x and y must already be
   * small non-negative ints (bucket upstream; 0 <= x,y < 2^bits).
   *
   * Scale shape: exactly one extra shuffle (the range exchange) over the
   * plain [[write]]; the sort is per-partition, spillable, and the z column
   * is dropped before write (it is derivable, not stored).
   */
  def writeZOrdered(points: DataFrame, dataDir: String,
                    xCol: org.apache.spark.sql.Column, yCol: org.apache.spark.sql.Column,
                    bits: Int = 8, numFiles: Int = 32,
                    mode: SaveMode = SaveMode.Append): Unit = {
    require(numFiles >= 1, "numFiles >= 1")
    writing(points.sparkSession, dataDir) {
      withPartitionColumns(points)
        .withColumn("_z", graft.operators.Layout.mortonKey(xCol, yCol, bits))
        .repartitionByRange(numFiles, col("metric"), col("dt"), col("hr"), col("_z"))
        .sortWithinPartitions(col("metric"), col("dt"), col("hr"), col("_z"))
        .drop("_z")
        .write.mode(mode).partitionBy("metric", "dt", "hr").parquet(dataDir)
    }
  }

  /** The store as read back: the canonical point columns plus the `dt`/`hr`
    * partition columns (also the schema of [[stream]]). */
  val Schema: StructType = StructType(
    Encoders.product[MetricPoint].schema.fields ++ Seq(
      StructField("dt", StringType), StructField("hr", IntegerType)))

  /** The store as a stream, the tail every subscription plans over: each new
    * parquet file in the store becomes a micro-batch (the MetricScanner
    * re-scan loop, minus the hand-rolled ranges — the file source tracks
    * progress). A file source needs its directory, so the stream creates it
    * first, through the directory's own `FileSystem`, after restoring a
    * crash-left `.bak` (see [[restored]]). */
  def stream(spark: SparkSession, dataDir: String): DataFrame = {
    val (fs, root) = restored(spark, dataDir)
    fs.mkdirs(root)
    spark.readStream.schema(Schema).parquet(dataDir)
  }

  /** The meta catalog's (metric, tagk, tagv) rows. */
  private val MetaSchema: StructType = StructType(Seq(
    StructField("metric", StringType), StructField("tagk", StringType),
    StructField("tagv", StringType)))

  /** The store's points read afresh as [[Schema]] (partition columns kept
    * for pruning; `ts` stays the epoch-ms source of truth). */
  def read(spark: SparkSession, dataDir: String): DataFrame =
    load(spark, dataDir, Schema)

  /** The meta catalog read afresh as its (metric, tagk, tagv) schema. */
  def readMeta(spark: SparkSession, metaDir: String): DataFrame =
    load(spark, metaDir, MetaSchema)

  /** `dir` read with its declared schema: inferring one costs a Spark job and
    * reads a numeric-looking metric name back as a number. A directory not
    * yet written (asked of its own `FileSystem`, so a URI store reads like a
    * plain path) is read as zero paths, an empty frame of the same schema. */
  private def load(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val path = new Path(dir)
    val written = path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    spark.read.schema(schema).parquet(Seq(dir).filter(_ => written): _*)
  }

  // ---- the per-directory serving entries ----------------------------------

  /** What a load from a directory is tagged with: the directory's in-JVM
    * generation, then its modification time (moved by another process's
    * maintenance pass, see the object doc), both read before loading. */
  private type Stamp = (Long, Long)

  /** A value loaded from a directory, tagged with its [[Stamp]]. */
  private final class Slot[A] {
    @volatile private var held: Option[(Stamp, A)] = None

    def get(stamp: Stamp)(load: => A): A = held match {
      case Some((`stamp`, v)) => v
      case _ =>
        val v = load
        keep(stamp, v)
        v
    }

    /** Keep `v` unless a load tagged with a later generation is held. */
    def keep(stamp: Stamp, v: A): Unit = synchronized {
      if (held.forall(_._1._1 <= stamp._1)) held = Some((stamp, v))
    }
  }

  /** One store directory's entry (see the object doc). */
  private final class Dir {
    val generation = new AtomicLong
    val points = new Slot[DataFrame]
    val catalog = new Slot[Catalog]
  }

  private val dirs = new ConcurrentHashMap[String, Dir]

  private def dir(fs: FileSystem, path: Path): Dir =
    dirs.computeIfAbsent(fs.makeQualified(path).toString, _ => new Dir)

  /** `path`'s entry and its current [[Stamp]], the generation read first. */
  private def stamped(spark: SparkSession, path: String): (Dir, Stamp) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = dir(fs, p)
    val generation = d.generation.get
    val modified =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    (d, (generation, modified))
  }

  /** Run a write into `path`, then move the directory's generation on — also
    * when the write fails, since it may have left files. Returns the new
    * generation. */
  private[sources] def writing(fs: FileSystem, path: Path)(write: => Unit): Long = {
    val d = dir(fs, path)
    try write catch { case e: Throwable => d.generation.incrementAndGet(); throw e }
    d.generation.incrementAndGet()
  }

  private def writing(spark: SparkSession, path: String)(write: => Unit): Long = {
    val (fs, p) = restored(spark, path)
    writing(fs, p)(write)
  }

  /** `path` and its `FileSystem`, once a `.bak` left by a crashed
    * [[AtomicDir.swap]] is restored: a write that created the directory
    * beside its only copy would let the next swap delete that copy. */
  private def restored(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, p)
    (fs, p)
  }

  /** The served points relation of a store: [[read]], listed once per
    * [[Stamp]] of the directory, so a query prunes partitions over the
    * cached listing instead of re-listing the store. */
  def points(spark: SparkSession, dataDir: String): DataFrame = {
    val (d, stamp) = stamped(spark, dataDir)
    d.points.get(stamp)(read(spark, dataDir))
  }

  /** The store's catalog in memory: read from `metaDir` once per [[Stamp]]
    * of the directory and extended by [[append]]. */
  def catalog(spark: SparkSession, metaDir: String): Catalog = {
    val (d, stamp) = stamped(spark, metaDir)
    d.catalog.get(stamp)(Catalog.collect(readMeta(spark, metaDir)))
  }

  private val appendLock = new Object

  /**
   * Append one batch of canonical points — the one write every serving
   * store write lands through (HTTP/WS/TCP/UDP puts, the streaming storage
   * sink's micro-batches, the internal-metrics loopback). The catalog rows
   * go first: only the batch's `(metric, tagk, tagv)` triples the catalog
   * lacks are written (the reference writes a meta key only when its
   * MetaCache lacks it — DataStore.java:415-483), then the points,
   * partitioned for pruning. A failure between the two writes therefore
   * leaves an unused catalog row, never points their catalog cannot find.
   * Appends are serialized JVM-wide: concurrent parquet appends to one
   * directory share its `_temporary` staging directory, and the first
   * commit deletes it under the others, failing their jobs.
   */
  def append(batch: DataFrame, dataDir: String, metaDir: String): Unit =
    appendLock.synchronized {
      val triples = metaProjection(batch).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      appendWith(batch.sparkSession, triples, dataDir, metaDir)(write(batch, dataDir))
    }

  /** [[append]] for a decoded put batch; an empty batch writes nothing. */
  def append(spark: SparkSession, batch: Seq[MetricPoint],
             dataDir: String, metaDir: String): Unit =
    if (batch.nonEmpty) {
      import spark.implicits._
      val triples = batch.flatMap(p => p.tags.map { case (k, v) => (p.metric, k, v) })
      appendLock.synchronized {
        appendWith(spark, triples, dataDir, metaDir)(write(batch.toDF(), dataDir))
      }
    }

  /** Under the append lock: restore the catalog (see [[restored]]) before
    * reading it, write the triples it lacks, add them to the in-memory
    * catalog, then write the points. */
  private def appendWith(spark: SparkSession, triples: Iterable[Catalog.Triple],
                         dataDir: String, metaDir: String)(writePoints: => Unit): Unit = {
    restored(spark, metaDir)
    val known = catalog(spark, metaDir)
    val added = triples.iterator.filterNot(known.triples.contains).toSet
    if (added.nonEmpty) {
      val rows = added.toSeq.map { case (m, k, v) => Row(m, k, v) }
      val generation = writing(spark, metaDir) {
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), MetaSchema)
          .write.mode(SaveMode.Append).parquet(metaDir)
      }
      val (d, (_, modified)) = stamped(spark, metaDir)
      d.catalog.keep((generation, modified), known ++ added)
    }
    writePoints
  }

  /** Partition census — the maintenance-pass visibility report: per
    * (metric, dt), hour-partition and row counts, the hour span, and a
    * small-files tell (files per hour partition; compaction wants ~1). One
    * aggregate over the partition-pruned scan (`input_file_name` counts
    * files without a filesystem walk); the result is partition-cardinality
    * sized. Feed it to [[ageOffDropPartitions]] planning, bucket sizing,
    * and the "which days are bloated" question every retention review
    * starts with. */
  def census(spark: SparkSession, dataDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    read(spark, dataDir)
      .select(col("metric"), col("dt"), col("hr"), input_file_name().as("f"))
      .groupBy(col("metric"), col("dt"))
      .agg(
        countDistinct(col("hr")).as("n_hr_partitions"),
        count(lit(1)).as("n_rows"),
        min(col("hr").cast("long")).as("hr_min"),
        max(col("hr").cast("long")).as("hr_max"),
        countDistinct(col("f")).as("n_files"))
      .withColumn("hr_gaps",
        col("hr_max") - col("hr_min") + lit(1L) - col("n_hr_partitions"))
      .withColumn("files_per_partition",
        col("n_files").cast("double") / col("n_hr_partitions").cast("double"))
  }

  /**
   * Bucketed variant for co-located joins: bucketBy(seriesKey-ish column) so
   * repeated joins/aggregations on the same key skip their shuffle entirely —
   * the Spark analog of the reference balancer's metric->host affinity
   * (balancer/src/main/java/timely/balancer/MetricResolver.java:70-160), done
   * with storage layout instead of an L7 proxy. Requires a catalog table
   * (saveAsTable), so callers pass a table name, not a path.
   */
  def writeBucketed(points: DataFrame, table: String, buckets: Int = 32): Unit =
    withPartitionColumns(points)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "metric")
      .sortBy("metric", "ts")
      .saveAsTable(table)

  /** The ONE points -> (metric, tagk, tagv) catalog projection (reference
    * meta table, Meta.java:55-67) — shared by the batch rebuild and the
    * serving [[append]] so the two paths cannot drift. */
  def metaProjection(points: DataFrame): DataFrame =
    points
      .select(col("metric"), explode(col("tags")).as(Seq("tagk", "tagv")))
      .distinct()

  /** Derive/refresh the meta catalog. */
  def writeMeta(points: DataFrame, metaDir: String): Unit =
    writing(points.sparkSession, metaDir) {
      metaProjection(points).write.mode(SaveMode.Overwrite).parquet(metaDir)
    }

  /** Retention horizon for a metric as a codegen'd when-chain (longest prefix
    * wins, 'default' fallback) — no UDF, so the resulting `ts >= horizon`
    * predicate stays inside whole-stage codegen and, for a constant-per-metric
    * store, prunes at the scan. */
  def horizonExpr(ttlMsByPrefix: Map[String, Long], nowMs: Long): org.apache.spark.sql.Column = {
    require(ttlMsByPrefix.contains("default"), "age-off config requires a 'default' TTL")
    val byLen = ttlMsByPrefix.filter(_._1 != "default").toSeq
      .sortBy { case (p, _) => (-p.length, p) } // longest prefix first
    byLen.reverse.foldLeft(lit(nowMs - ttlMsByPrefix("default"))) {
      case (els, (prefix, ttl)) =>
        when(col("metric").startsWith(prefix), lit(nowMs - ttl)).otherwise(els)
    }
  }

  /**
   * Retention / age-off — the reference's MetricAgeOffIterator + tablet-drop
   * compaction (server/src/main/java/timely/server/store/MetricAgeOffIterator.java:26-110,
   * compaction/MetricCompactionStrategy.java): per-metric-prefix TTLs with a
   * required "default", longest prefix wins. Two forms: [[ageOff]] rewrites
   * the exactly-retained set (row-accurate), [[ageOffDropPartitions]] deletes
   * fully-expired day and hour directories in place (metadata/file-level,
   * no data movement — the daily maintenance form). No served read clamps
   * to the horizon: after a drop, the expired rows of the horizon hour stay
   * visible until a later pass drops that hour.
   */
  def ageOff(
      spark: SparkSession,
      dataDir: String,
      outDir: String,
      ttlMsByPrefix: Map[String, Long],
      nowMs: Long): Unit =
    write(read(spark, dataDir).where(col("ts") >= horizonExpr(ttlMsByPrefix, nowMs)),
      outDir, SaveMode.Overwrite)

  /** Scala-side retention horizon (same longest-prefix-wins resolution as
    * [[horizonExpr]]) for partition-level maintenance. */
  def horizonMs(metric: String, ttlMsByPrefix: Map[String, Long], nowMs: Long): Long = {
    require(ttlMsByPrefix.contains("default"), "age-off config requires a 'default' TTL")
    val ttl = ttlMsByPrefix.view.filterKeys(_ != "default").toSeq
      .filter { case (p, _) => metric.startsWith(p) }
      .sortBy { case (p, _) => (-p.length, p) }
      .headOption.map(_._2)
      .getOrElse(ttlMsByPrefix("default"))
    nowMs - ttl
  }

  /**
   * In-place age-off as a partition DROP: delete whole `metric=/dt=` day
   * directories strictly older than the metric's horizon day — a
   * metadata/file-level operation touching no surviving data, exactly the
   * reference's tablet-drop compaction (server/src/main/java/timely/server/
   * store/compaction/MetricCompactionStrategy.java:1-60 drops only tablets
   * whose whole key range is expired; the scan-time iterator handles the
   * partial boundary). On the horizon day itself, fully-expired `hr=`
   * subdirectories are dropped the same way — the layout's hour granularity
   * mirrors the reference row key's hour rounding (MetricAdapter.java:47-53),
   * so only the horizon HOUR retains expired rows (bounded slack < 1 hour).
   * Those rows stay visible to queries and subscriptions: unlike the
   * reference's scan-time age-off iterator, no served read calls
   * [[clampStart]]. A pass that drops anything
   * touches `dataDir`'s modification time, so a server over the store in
   * another process re-lists it (see the object doc).
   */
  def ageOffDropPartitions(
      spark: SparkSession,
      dataDir: String,
      ttlMsByPrefix: Map[String, Long],
      nowMs: Long,
      dryRun: Boolean = false): Seq[String] = {
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    val dropped = Seq.newBuilder[String]
    def drop(): Unit = if (fs.exists(root)) {
      for ((metric, metricDir) <- partitionDirs(fs, root, "metric")) {
        // ISO dates compare correctly as strings
        val horizon = horizonMs(metric, ttlMsByPrefix, nowMs)
        val horizonDay = fmt.format(java.time.Instant.ofEpochMilli(horizon))
        val horizonHour = Math.floorDiv(horizon, 3600000L) % 24L
        for ((day, dtDir) <- partitionDirs(fs, metricDir, "dt")) {
          if (day < horizonDay) {
            if (!dryRun) fs.delete(dtDir, true)
            dropped += s"$metric/$day"
          } else if (day == horizonDay) {
            // boundary day: hr= dirs wholly below the horizon hour hold only
            // ts < hourStart(horizon) <= horizon — droppable in full
            for ((hr, hrDir) <- partitionDirs(fs, dtDir, "hr") if hr.toLong < horizonHour) {
              if (!dryRun) fs.delete(hrDir, true)
              dropped += s"$metric/$day/hr=${hr.toLong}"
            }
          }
        }
      }
    }
    if (dryRun) drop()
    else writing(spark, dataDir) {
      drop()
      if (dropped.result().nonEmpty) fs.setTimes(root, System.currentTimeMillis(), -1L)
    }
    dropped.result().sorted
  }

  /** Catalog age-off after [[ageOffDropPartitions]] returned `dropped`: a
    * metric is live iff one of its hour partitions is not dropped (one rule
    * whether a dry run left them on disk or not). A real pass that ages rows
    * off stages them in `<metaDir>.tmp` and swaps it in ([[AtomicDir.swap]]).
    * Returns the catalog's row count before and after. */
  def ageOffCatalog(spark: SparkSession, dataDir: String, metaDir: String,
                    dropped: Seq[String], dryRun: Boolean): (Long, Long) = {
    import spark.implicits._
    val (fs, meta) = restored(spark, metaDir)
    val catalog = readMeta(spark, metaDir)
    val gone = dropped.toSet
    val live = hourPartitions(spark, dataDir).collect {
      case (m, day, hr) if !gone(s"$m/$day") && !gone(s"$m/$day/hr=$hr") => m
    }.distinct
    val aged = metaAgeOff(catalog, live.toDF("metric"))
    val (before, after) = (catalog.count(), aged.count())
    if (!dryRun && after < before) {
      val tmp = new Path(metaDir + ".tmp")
      aged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      AtomicDir.swap(fs, tmp, meta)
    }
    (before, after)
  }

  /** The store's hour partitions as (metric, day, hour): one walk of its
    * `metric=/dt=/hr=` directories; a store not yet written has none. */
  private def hourPartitions(spark: SparkSession, dataDir: String): Seq[(String, String, Long)] = {
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else for {
      (metric, m) <- partitionDirs(fs, root, "metric")
      (day, d) <- partitionDirs(fs, m, "dt")
      (hr, _) <- partitionDirs(fs, d, "hr")
    } yield (metric, day, hr.toLong)
  }

  /** (value, directory) of each `key=value` partition directory under
    * `dir`. The value is unescaped by the true inverse of Spark's
    * partition-path escaping (URLDecoder is NOT: it would turn '+' in a
    * metric name into a space and resolve the wrong TTL). */
  private def partitionDirs(fs: FileSystem, dir: Path, key: String): Seq[(String, Path)] =
    for (p <- fs.listStatus(dir).toSeq.map(_.getPath) if p.getName.startsWith(s"$key="))
      yield (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(p.getName.stripPrefix(s"$key=")), p)

  /**
   * Meta age-off (L2) — the reference ages catalog entries alongside the data
   * (server/src/main/java/timely/server/store/MetaAgeOffIterator.java:77-97);
   * here the catalog invariant is "a meta row survives iff its metric still
   * has live points". The live-metric set is metric-cardinality-sized (tiny
   * next to the corpus), so the semi-join broadcasts under AQE while the meta
   * side streams — no full rebuild of meta from data.
   */
  def metaAgeOff(meta: DataFrame, livePoints: DataFrame): DataFrame =
    meta.join(livePoints.select("metric").distinct(), Seq("metric"), "left_semi")

  /** Age-off clamp of a scan start, like the reference's cache iterator
    * clamping the scan start to the retention horizon
    * (cache/DataStoreCache.java:748-752). No served read calls it yet. */
  def clampStart(requestedStartMs: Long, nowMs: Long, ttlMs: Long): Long =
    math.max(requestedStartMs, nowMs - ttlMs)
}
