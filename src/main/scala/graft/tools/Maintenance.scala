package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.sources.{AtomicDir, PointStore}

/**
 * Retention maintenance driver — the single-pass operational entry point for
 * the engine's age-off surface (SURVEY L1-L3), the analog of the reference's
 * scheduled age-off/compaction: the data side drops whole expired
 * `metric=/dt=` day directories plus fully-expired boundary-day `hr=`
 * directories (the tablet-drop compaction shape,
 * server/src/main/java/timely/server/store/compaction/
 * MetricCompactionStrategy.java — file metadata only, no surviving row is
 * rewritten), then the meta catalog is aged to the survivors' metric set
 * (MetaAgeOffIterator.java:77-97: a catalog row lives iff its metric still
 * has a live hour partition). The expired rows of the horizon hour stay on
 * disk and stay visible to served reads until a later pass drops that hour: no
 * served read clamps to the horizon ([[PointStore.clampStart]] is not on
 * that path), where the reference's scan-time age-off iterator hides them.
 *
 * Dry-run mode reports everything the pass WOULD do — partition paths and
 * meta row delta — touching nothing, so an operator can review a TTL change
 * before running it for real.
 */
object Maintenance {

  /** Census-driven z-order compaction policy for [[run]] — the analog of
    * the reference's scheduled compaction strategies
    * (MetricCompactionStrategy.java:20-60): the store self-schedules a
    * [[compactZOrder]] rewrite when EITHER measured signal degrades past
    * its threshold — the [[PointStore.census]] average files-per-hour
    * exceeds `maxFilesPerPartition` (small-files pressure from
    * append-accumulated micro-batches), or the REAL file-envelope skip
    * ratio for the policy's x-slab ([[graft.operators.Layout.filePruneReport]]
    * on the written files) falls below `minSkipRatio` (locality drift —
    * new files straddle the residual dimension). Both signals are
    * measurements of the actual files, not folklore. Set
    * `maxFilesPerPartition` ABOVE the per-partition file count the rewrite
    * itself produces (~`numFiles` / populated hour dirs), or a
    * freshly-compacted store re-triggers every pass. */
  case class CompactionPolicy(
      xCol: org.apache.spark.sql.Column,
      yCol: org.apache.spark.sql.Column,
      bits: Int,
      numFiles: Int,
      auditXLo: Long,
      auditXHi: Long,
      maxFilesPerPartition: Double = 4.0,
      minSkipRatio: Double = 0.5)

  /** What one maintenance pass did (or, dry run, would do). */
  case class Report(
      dryRun: Boolean,
      droppedPartitions: Seq[String],
      metaRowsBefore: Long,
      metaRowsAfter: Long,
      compaction: Option[CompactReport] = None) {
    def render: String = {
      val verb = if (dryRun) "would drop" else "dropped"
      (s"maintenance${if (dryRun) " (DRY RUN)" else ""}: " +
        s"$verb ${droppedPartitions.size} partition dir(s); " +
        s"meta $metaRowsBefore -> $metaRowsAfter rows") +
        droppedPartitions.map(p => s"\n  $verb $p").mkString +
        compaction.map(c => s"\n  ${c.render}").getOrElse("")
    }
  }

  /**
   * One maintenance pass over a store: partition-level data age-off
   * ([[PointStore.ageOffDropPartitions]]), catalog age-off against the
   * surviving partitions ([[PointStore.ageOffCatalog]]), then the optional
   * compaction. No-op (with an accurate report) when nothing is expired.
   */
  def run(
      spark: SparkSession,
      dataDir: String,
      metaDir: String,
      ttlMsByPrefix: Map[String, Long],
      nowMs: Long = System.currentTimeMillis(),
      dryRun: Boolean = false,
      compaction: Option[CompactionPolicy] = None): Report = {
    val dropped = PointStore.ageOffDropPartitions(spark, dataDir, ttlMsByPrefix, nowMs, dryRun)
    val (before, after) = PointStore.ageOffCatalog(spark, dataDir, metaDir, dropped, dryRun)
    Report(dryRun, dropped, before, after,
      compaction.flatMap(maybeCompact(spark, dataDir, _, dryRun)))
  }

  /** The census-driven trigger behind [[run]]'s `compaction` policy: measure
    * both signals on the CURRENT store files, and only when one degrades
    * past its threshold run (or, dry-run, size up) a [[compactZOrder]] pass.
    * Returns None when the store is healthy or holds no file — a no-op pass
    * measures two cheap aggregates and rewrites nothing. */
  private def maybeCompact(
      spark: SparkSession,
      dataDir: String,
      policy: CompactionPolicy,
      dryRun: Boolean): Option[CompactReport] = {
    import graft.operators.Layout
    import org.apache.spark.sql.functions.{avg => favg}
    val store = PointStore.read(spark, dataDir)
    if (store.inputFiles.isEmpty) return None
    val filesPerHr = PointStore.census(spark, dataDir)
      .agg(favg(org.apache.spark.sql.functions.col("files_per_partition"))).head
    val avgFiles = if (filesPerHr.isNullAt(0)) 0.0 else filesPerHr.getDouble(0)
    val skip = Layout.filePruneReport(
        Layout.fileEnvelopes(store, policy.xCol, policy.yCol),
        policy.auditXLo, policy.auditXHi)
      .collect().head.getAs[Double]("file_skip_ratio")
    val triggered = avgFiles > policy.maxFilesPerPartition || skip < policy.minSkipRatio
    if (!triggered) None
    else Some(compactZOrder(spark, dataDir, policy.xCol, policy.yCol, policy.bits,
      policy.numFiles, policy.auditXLo, policy.auditXHi, dryRun))
  }

  /** What one SCD2-dimension maintenance pass did (or would do). */
  case class Scd2Report(
      dryRun: Boolean,
      bootstrap: Boolean,
      rowsBefore: Long,
      rowsAfter: Long,
      openBefore: Long,
      openAfter: Long,
      skipped: Boolean = false) {
    def render: String =
      s"scd2${if (dryRun) " (DRY RUN)" else ""}: " +
        s"${if (skipped) "pass already committed — skipped"
           else if (bootstrap) "bootstrapped" else "applied delta"}; " +
        s"history $rowsBefore -> $rowsAfter rows, open $openBefore -> $openAfter"
  }

  /**
   * Maintained SCD2 dimension on the store: the history directory holds the
   * [[graft.operators.Cdc.scd2]] frame, and each pass folds ONE event delta
   * in via [[graft.operators.Cdc.scd2Apply]] — closed intervals are never
   * recomputed, so a pass costs O(delta + open keys) regardless of history
   * size (the 100 TB dimension-table maintenance shape). First pass on a
   * missing directory bootstraps with the batch [[graft.operators.Cdc.scd2]].
   * The rewrite stages into `<dimDir>.tmp` and swaps via rename, like the
   * meta catalog in [[run]] — readers never observe a half-written
   * dimension. Dry-run reports the would-be delta, touching nothing.
   */
  def scd2Maintain(
      spark: SparkSession,
      dimDir: String,
      events: org.apache.spark.sql.DataFrame,
      keyCol: String,
      attrCol: String,
      tsExpr: org.apache.spark.sql.Column,
      tieCol: String,
      dryRun: Boolean = false,
      passId: String = ""): Scd2Report = {
    import graft.operators.Cdc
    val fs = new Path(dimDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a mid-swap crash must read as "history exists" (restored), never as a
    // fresh bootstrap that would let the next swap delete the only copy
    AtomicDir.recover(fs, new Path(dimDir))
    val metaPath = new Path(dimDir + ".meta")
    AtomicDir.recover(fs, metaPath)
    val exists = fs.exists(new Path(dimDir))
    // RETRY detection (the streaming-sink replay shape): the pass marker
    // swaps AFTER the dim swap, so a committed pass's blind retry skips
    // cleanly here; the one crash window between the two swaps leaves a
    // stale marker and the retry then fails LOUDLY on scd2Apply's strict-
    // progress guard (never silently double-applies) — resolve by
    // re-writing the marker, the dim itself is already correct.
    if (exists && passId.nonEmpty && lastPassOf(spark, metaPath).contains(passId)) {
      val cur = spark.read.parquet(dimDir)
      val rows = cur.count()
      val open = cur.where(org.apache.spark.sql.functions.col("is_current") === 1L).count()
      return Scd2Report(dryRun, bootstrap = false, rows, rows, open, open, skipped = true)
    }
    val before = if (exists) spark.read.parquet(dimDir) else null
    val rowsBefore = if (exists) before.count() else 0L
    val openBefore =
      if (exists) before.where(org.apache.spark.sql.functions.col("is_current") === 1L).count()
      else 0L
    val next =
      if (exists) Cdc.scd2Apply(before, events, keyCol, attrCol, tsExpr, tieCol)
      else Cdc.scd2(events, keyCol, attrCol, tsExpr, tieCol)
    if (dryRun) {
      val rowsAfter = next.count()
      val openAfter = next.where(org.apache.spark.sql.functions.col("is_current") === 1L).count()
      Scd2Report(dryRun = true, bootstrap = !exists, rowsBefore, rowsAfter, openBefore, openAfter)
    } else {
      val tmp = new Path(dimDir + ".tmp")
      next.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val written = spark.read.parquet(tmp.toString)
      val rowsAfter = written.count()
      val openAfter = written.where(org.apache.spark.sql.functions.col("is_current") === 1L).count()
      AtomicDir.swap(fs, tmp, new Path(dimDir))
      if (passId.nonEmpty) {
        import spark.implicits._
        val metaTmp = new Path(metaPath.toString + ".tmp")
        Seq(Tuple1(passId)).toDF("last_pass")
          .write.mode(SaveMode.Overwrite).parquet(metaTmp.toString)
        AtomicDir.swap(fs, metaTmp, metaPath)
      }
      Scd2Report(dryRun = false, bootstrap = !exists, rowsBefore, rowsAfter, openBefore, openAfter)
    }
  }

  /** What one z-order compaction pass did (or would do). */
  case class CompactReport(
      dryRun: Boolean,
      rows: Long,
      filesBefore: Long,
      filesAfter: Long,
      skipBefore: Double,
      skipAfter: Double) {
    def render: String =
      f"compact${if (dryRun) " (DRY RUN)" else ""}: $rows rows, " +
        f"files $filesBefore -> $filesAfter, x-slab skip ratio " +
        f"$skipBefore%.2f -> $skipAfter%.2f"
  }

  /**
   * Z-order COMPACTION of an existing store: rewrite a (typically
   * append-accumulated, small-files) store directory through
   * [[PointStore.writeZOrdered]], so both the file-count pressure the
   * census reports and the residual-dimension skip ratio improve in one
   * pass — the ops move after [[PointStore.census]] flags a bloated day.
   * The rewrite stages into `<dataDir>.tmp` + rename-swap (same pattern as
   * the meta catalog in [[run]]). The report carries MEASURED before/after
   * per-file envelope skip ratios for the given x-slab
   * ([[graft.operators.Layout.filePruneReport]] on the real files), so the
   * operator sees what the rewrite bought, not folklore.
   */
  def compactZOrder(
      spark: SparkSession,
      dataDir: String,
      xCol: org.apache.spark.sql.Column,
      yCol: org.apache.spark.sql.Column,
      bits: Int,
      numFiles: Int,
      auditXLo: Long,
      auditXHi: Long,
      dryRun: Boolean = false): CompactReport = {
    import graft.operators.Layout
    def skipOf(df: org.apache.spark.sql.DataFrame): Double =
      Layout.filePruneReport(Layout.fileEnvelopes(df, xCol, yCol), auditXLo, auditXHi)
        .collect().head.getAs[Double]("file_skip_ratio")
    def nFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
    val fsPre = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fsPre, new Path(dataDir)) // mid-swap crash: .bak is the store
    val before = PointStore.read(spark, dataDir)
    val rows = before.count()
    val filesBefore = nFiles(before)
    val skipBefore = skipOf(before)
    if (dryRun) return CompactReport(dryRun = true, rows, filesBefore, filesBefore,
      skipBefore, skipBefore)
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = dataDir + ".tmp"
    // drop the derived partition cols before rewrite: writeZOrdered re-adds
    // them from ts, and a duplicate dt/hr column would break partitionBy
    PointStore.writeZOrdered(before.drop("dt", "hr"), tmp, xCol, yCol, bits, numFiles,
      mode = SaveMode.Overwrite)
    AtomicDir.swap(fs, new Path(tmp), new Path(dataDir))
    val after = PointStore.read(spark, dataDir)
    CompactReport(dryRun = false, rows, filesBefore, nFiles(after), skipBefore, skipOf(after))
  }

  /** What one IVF-index maintenance pass did (or would do). */
  case class IvfReport(
      dryRun: Boolean,
      bootstrap: Boolean,
      vectorsBefore: Long,
      vectorsAfter: Long,
      nLists: Long,
      skipped: Boolean = false,
      compaction: Option[StoreCompactReport] = None) {
    def render: String =
      s"ivf${if (dryRun) " (DRY RUN)" else ""}: " +
        s"${if (skipped) "pass already committed — skipped"
           else if (bootstrap) "trained + assigned" else "assigned increment"}; " +
        s"index $vectorsBefore -> $vectorsAfter vectors over $nLists lists" +
        compaction.map(c => s"\n  ${c.render}").getOrElse("")
  }

  /**
   * Maintained IVF ANN index on the store: `indexDir/centroids` holds the
   * trained centroid frame (fixed between retrains), `indexDir/assignments`
   * the (vec_id, embedding, vnorm, list_id) rows. Bootstrap trains seeded
   * centroids ([[graft.operators.SimilarityIvf.centroids]]) and batch-
   * assigns the corpus; every later pass folds ONE increment of NEW vectors
   * in via the stateless [[graft.operators.SimilarityIvf.assignStream]]
   * (bit-equal to the batch assign by its spec) and APPENDS — existing
   * assignments are immutable under fixed centroids, so a pass costs
   * O(increment), never O(index). Search composes unchanged:
   * [[graft.operators.SimilarityIvf.search]](assignments, centroids, ...).
   *
   * Contract: increment vec_ids must be new (the index is keyed storage,
   * not an upsert target); retraining centroids is a new bootstrap into a
   * fresh dir, never an in-place mutation.
   */
  /** Crash repair for [[ivfRetrain]]'s two-directory swap: the retrain
    * writes a `retrain.pending` marker before its first swap and removes it
    * after the second, so a crash between the swaps — which durably
    * persists v2 centroids with v1 assignments (unreachable vectors when
    * nLists shrank, out-of-range list_ids when it grew) — is DETECTED at
    * the next pass/audit entry and repaired by re-assigning every stored
    * vector against whatever centroids are live (deterministic, so repair
    * converges to exactly the retrain's intended end state). */
  private def ivfRepair(spark: SparkSession, indexDir: String): Unit = {
    import graft.operators.SimilarityIvf
    val marker = new Path(indexDir, "retrain.pending")
    val centsPath = new Path(indexDir, "centroids")
    val assignPath = new Path(indexDir, "assignments")
    val fs = centsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, centsPath)
    AtomicDir.recover(fs, assignPath)
    if (!fs.exists(marker)) return
    val cents = spark.read.parquet(centsPath.toString)
    val vecs = spark.read.parquet(assignPath.toString).select("vec_id", "embedding")
    val tmp = new Path(assignPath.toString + ".tmp")
    // 16 = the default probe-family list count; only sizes the within-list
    // salt width, never the layout (partitionBy stays list_id)
    bucketLayout(SimilarityIvf.assign(vecs, cents), "list_id",
      org.apache.spark.sql.functions.col("vec_id"), 16)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("list_id").parquet(tmp.toString)
    AtomicDir.swap(fs, tmp, assignPath)
    fs.delete(marker, false)
  }

  def ivfMaintain(
      spark: SparkSession,
      indexDir: String,
      vecs: org.apache.spark.sql.DataFrame,
      nLists: Int,
      passId: String = "",
      dryRun: Boolean = false,
      autoCompactFilesPerList: Option[Int] = None): IvfReport = {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilarityIvf
    val centsPath = new Path(indexDir, "centroids")
    val assignPath = new Path(indexDir, "assignments")
    val metaPath = new Path(indexDir, "meta")
    val fs = centsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, centsPath)
    AtomicDir.recover(fs, assignPath)
    AtomicDir.recover(fs, metaPath)
    if (!dryRun && fs.exists(centsPath)) {
      // publish/drop pendings BEFORE repair: a crashed retrain's repair
      // re-assigns every LIVE row against the live centroids, so any
      // committed-but-unpublished increment must land first or its rows
      // would rejoin under stale geometry afterwards
      reconcilePending(fs, indexDir, "assignments", lastPassOf(spark, metaPath))
      ivfRepair(spark, indexDir)
    }
    val id = effectivePassId(passId)
    val exists = fs.exists(centsPath)
    import spark.implicits._
    if (!exists) {
      // an empty bootstrap (e.g. a streaming sink's empty batch 0) must
      // NOT create a centroid-less store — leave bootstrapping to the
      // first non-empty pass
      if (vecs.isEmpty)
        return IvfReport(dryRun, bootstrap = true, 0L, 0L, 0L, skipped = true)
      val cents = SimilarityIvf.centroids(vecs, nLists)
      // partitioned on list_id: increments publish per-list files through
      // the staged-append protocol, and probe reads prune on the lists
      val assigned = SimilarityIvf.assign(vecs, cents)
      val n = if (dryRun) assigned.count() else {
        cents.write.mode(SaveMode.Overwrite).parquet(centsPath.toString)
        bucketLayout(assigned, "list_id", col("vec_id"), nLists)
          .write.mode(SaveMode.Overwrite).partitionBy("list_id")
          .parquet(assignPath.toString)
        val nw = spark.read.parquet(assignPath.toString).count()
        Seq((nw, nLists.toLong, id)).toDF("n_vecs", "n_lists", "last_pass")
          .write.mode(SaveMode.Overwrite).parquet(metaPath.toString)
        nw
      }
      IvfReport(dryRun, bootstrap = true, 0L, n, nLists.toLong)
    } else {
      require(dryRun || fs.exists(metaPath),
        s"$indexDir predates the assignment commit marker — rebuild the index")
      // retry of a committed pass: nothing re-appended
      if (!dryRun && passId.nonEmpty && lastPassOf(spark, metaPath).contains(passId)) {
        val m = spark.read.parquet(metaPath.toString).head
        return IvfReport(dryRun = false, bootstrap = false, m.getLong(0), m.getLong(0),
          m.getLong(1), skipped = true)
      }
      val cents = spark.read.parquet(centsPath.toString)
      val increment = SimilarityIvf.assignStream(vecs, cents)
      if (dryRun) {
        val before = spark.read.parquet(assignPath.toString).count()
        IvfReport(dryRun = true, bootstrap = false, before,
          before + increment.count(), cents.count())
      } else {
        val prior = spark.read.parquet(metaPath.toString).head
        // STAGE -> COMMIT (meta swap records last_pass) -> PUBLISH: the
        // postings-store protocol — a crash or blind retry can never
        // duplicate an increment's assignment rows
        val pending = new Path(indexDir, s"assignments.pending/$id")
        increment.repartition(col("list_id"))
          .write.mode(SaveMode.Overwrite).partitionBy("list_id").parquet(pending.toString)
        val staged = spark.read.schema(increment.schema).parquet(pending.toString).count()
        val metaTmp = new Path(metaPath.toString + ".tmp")
        Seq((prior.getLong(0) + staged, prior.getLong(1), id))
          .toDF("n_vecs", "n_lists", "last_pass")
          .write.mode(SaveMode.Overwrite).parquet(metaTmp.toString)
        AtomicDir.swap(fs, metaTmp, metaPath)
        publishPending(fs, assignPath, pending)
        val root = new Path(indexDir, "assignments.pending")
        if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, true)
        // self-scheduling file health on the ingest cadence (an FS census;
        // a rewrite only on measured degradation — the postings pattern)
        val compacted = autoCompactFilesPerList
          .map(n => ivfCompact(spark, indexDir, maxFilesPerList = n))
          .filter(_.triggered)
        IvfReport(dryRun = false, bootstrap = false, prior.getLong(0),
          prior.getLong(0) + staged, cents.count(), compaction = compacted)
      }
    }
  }

  /** IVF top-k over an [[ivfMaintain]] index — the maintained ANN read:
    * the query batch's probed list ids are computed driver-side against
    * the tiny centroid frame (bounded by nLists) and the assignments scan
    * filters on the `list_id` PARTITION column, so at 100 TB a probe
    * touches only its lists' directories — the index body is never
    * scanned. Reader-side recovery included (pending publish + crashed-
    * retrain repair), then scoring is the shared
    * [[graft.operators.SimilarityIvf.search]] — bit-identical to a fresh
    * batch [[graft.operators.SimilarityIvf.ivfKnn]] over the same vectors
    * when the store geometry equals the batch build's (spec-pinned via
    * bootstrap+increment+retrain == fresh bootstrap). */
  def ivfKnnMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame,
      k: Int = 10, nProbe: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilarityIvf
    val metaPath = new Path(indexDir, "meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcilePending(fs, indexDir, "assignments", lastPassOf(spark, metaPath))
    ivfRepair(spark, indexDir)
    val cents = spark.read.parquet(new Path(indexDir, "centroids").toString)
    val lids = SimilarityIvf.probedListIds(queries, cents, nProbe)
    val indexed = spark.read.parquet(new Path(indexDir, "assignments").toString)
      .where(col("list_id").isin(lids.toIndexedSeq: _*))
    SimilarityIvf.search(indexed, cents, queries, k, nProbe)
  }

  /** What one IVF retrain pass did (or would do). */
  case class IvfRetrainReport(
      dryRun: Boolean,
      vectors: Long,
      listsBefore: Long,
      listsAfter: Long) {
    def render: String =
      s"ivf retrain${if (dryRun) " (DRY RUN)" else ""}: " +
        s"$vectors vectors rebucketed, $listsBefore -> $listsAfter lists"
  }

  /**
   * RETRAIN an [[ivfMaintain]] index: [[ivfMaintain]] holds centroids fixed
   * forever (the append-pass contract), so after enough drift or growth the
   * list geometry goes stale — this pass trains centroids-v2 from the
   * CURRENT vector set (the persisted assignments are the vector store:
   * vec_id + embedding) UNION the optional `increment` (new, not-yet-
   * assigned vectors absorbed in the same pass — a retrain after a growth
   * burst shouldn't need an append pass against the stale geometry first),
   * backfills EVERY assignment against the new centroids with the batch
   * [[graft.operators.SimilarityIvf.assign]], and atomically swaps both
   * directories (`.tmp` stage + [[AtomicDir.swap]], crash windows auto-restored).
   *
   * The two swaps are bracketed by a `retrain.pending` marker: a crash
   * between them persists v2 centroids with v1 assignments, and the next
   * pass or [[ivfAudit]] detects the marker and REPAIRS by re-assigning
   * the stored vectors against the live centroids ([[ivfRepair]]) — the
   * mixed state is a bounded window, never a silent steady state.
   *
   * Equivalence (spec-pinned): retrain + backfill over the maintained
   * index (∪ increment) == a fresh bootstrap over the same vectors,
   * bit-exact — the trainers and the assigner are deterministic in
   * row-set, not row-order. Cost: O(index) by design — this is the
   * deliberate periodic rebuild, not the per-pass increment path.
   */
  def ivfRetrain(
      spark: SparkSession,
      indexDir: String,
      nLists: Int,
      kmeansIters: Int = 0,
      increment: Option[org.apache.spark.sql.DataFrame] = None,
      dryRun: Boolean = false): IvfRetrainReport = {
    import graft.operators.SimilarityIvf
    val centsPath = new Path(indexDir, "centroids")
    val assignPath = new Path(indexDir, "assignments")
    val marker = new Path(indexDir, "retrain.pending")
    val fs = centsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dryRun) {
      reconcilePending(fs, indexDir, "assignments",
        lastPassOf(spark, new Path(indexDir, "meta")))
      ivfRepair(spark, indexDir) // also recovers both dirs
    } else { AtomicDir.recover(fs, centsPath); AtomicDir.recover(fs, assignPath) }
    val listsBefore = spark.read.parquet(centsPath.toString).count()
    val stored = spark.read.parquet(assignPath.toString).select("vec_id", "embedding")
    val vecs = increment match {
      case Some(inc) => stored.unionByName(inc.select("vec_id", "embedding"))
      case None => stored
    }
    val cents2 =
      if (kmeansIters > 0) SimilarityIvf.kmeansCentroids(vecs, nLists, kmeansIters)
      else SimilarityIvf.centroids(vecs, nLists)
    if (dryRun)
      return IvfRetrainReport(dryRun = true, vecs.count(), listsBefore, cents2.count())
    val centsTmp = new Path(centsPath.toString + ".tmp")
    cents2.write.mode(SaveMode.Overwrite).parquet(centsTmp.toString)
    // backfill reads the STAGED centroids (not the still-live v1 dir) so the
    // assignment rewrite and the centroid swap agree on v2 geometry
    val assigned2 = SimilarityIvf.assign(vecs, spark.read.parquet(centsTmp.toString))
    val assignTmp = new Path(assignPath.toString + ".tmp")
    bucketLayout(assigned2, "list_id",
      org.apache.spark.sql.functions.col("vec_id"), nLists)
      .write.mode(SaveMode.Overwrite).partitionBy("list_id").parquet(assignTmp.toString)
    val nVec = spark.read.parquet(assignTmp.toString).count()
    val nLists2 = spark.read.parquet(centsTmp.toString).count()
    fs.create(marker, true).close() // bracket the two swaps (see ivfRepair)
    AtomicDir.swap(fs, centsTmp, centsPath)
    AtomicDir.swap(fs, assignTmp, assignPath)
    fs.delete(marker, false)
    // refresh the commit descriptor (vector/list counts; last_pass kept so
    // an already-committed increment's retry detection survives a retrain)
    val metaPath = new Path(indexDir, "meta")
    if (fs.exists(metaPath)) {
      import spark.implicits._
      val lp = lastPassOf(spark, metaPath).getOrElse("")
      val metaTmp = new Path(metaPath.toString + ".tmp")
      Seq((nVec, nLists2, lp)).toDF("n_vecs", "n_lists", "last_pass")
        .write.mode(SaveMode.Overwrite).parquet(metaTmp.toString)
      AtomicDir.swap(fs, metaTmp, metaPath)
    }
    IvfRetrainReport(dryRun = false, nVec, listsBefore, nLists2)
  }

  /** What one postings-index maintenance pass did (or would do).
    * `postingsRows` counts THIS PASS's rows (the bootstrap total or the
    * appended delta) — never a full-index count, which would put an
    * O(index) term into every O(increment) pass just for reporting.
    * `skipped = true` means the pass id was already committed (a retry of
    * a completed pass) and nothing was re-appended. */
  case class PostingsReport(
      dryRun: Boolean,
      bootstrap: Boolean,
      docsBefore: Long,
      docsAfter: Long,
      postingsRows: Long,
      skipped: Boolean = false,
      compaction: Option[PostingsCompactReport] = None) {
    def render: String =
      s"postings${if (dryRun) " (DRY RUN)" else ""}: " +
        s"${if (skipped) "pass already committed — skipped"
           else if (bootstrap) "bootstrapped" else "appended increment"}; " +
        s"docs $docsBefore -> $docsAfter, $postingsRows postings rows this pass" +
        compaction.map(c => s"\n  ${c.render}").getOrElse("")
  }

  /** Term-hash bucket for the maintained postings layout: 2 md5 hex chars
    * -> 64 buckets — the partition column query-time reads prune on. */
  private def termBucket(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(conv(substring(md5(term), 1, 2), 16, 10).cast("long"), lit(64L))
  }

  /** Bootstrap/full-rewrite write layout (round 14, guide §6 small files):
    * an unrepartitioned `partitionBy(bucket)` write lets EVERY shuffle/map
    * task write into every bucket dir — tasks × buckets tiny files that
    * every later store read (all the *_store / *_ageoff gates) pays to
    * open; the increment paths already stage one-file-per-bucket.
    * Repartition on the bucket column, adding a deterministic within-bucket
    * salt when shuffle parallelism exceeds the bucket count so a huge
    * bootstrap is never serialized into `buckets` write tasks: files per
    * bucket ≈ max(1, shufflePartitions / buckets) — derived from session
    * parallelism, no local-mode constant. The salt is hash-derived from a
    * row key, never rand(): retried tasks must reproduce the same
    * row-to-partition assignment (SPARK-38388). */
  private def bucketLayout(df: org.apache.spark.sql.DataFrame, bucketCol: String,
      saltKey: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val width = math.max(1L,
      df.sparkSession.sessionState.conf.numShufflePartitions.toLong / buckets)
    if (width == 1L) df.repartition(col(bucketCol))
    else df.repartition(col(bucketCol), pmod(xxhash64(saltKey), lit(width)))
  }

  /** Doc-hash bucket for the norms sidecar: 16 buckets — enough that each
    * increment pass writes bounded files, not so many that a corpus of
    * tiny per-doc rows fragments. */
  private def docBucket(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(conv(substring(md5(docId.cast("string")), 1, 1), 16, 10).cast("long"), lit(16L))
  }

  /** The per-doc tf-idf lnc norm² sidecar rows for one pass's postings
    * frame — doc-local (each doc lives wholly in one pass), on the same
    * decimal grid as the batch scorer's query-time scan, so the maintained
    * read is bit-identical ([[graft.operators.Search.lncNormSquareTerm]]). */
  private def normRows(post: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    post.select(col("doc_id"),
        graft.operators.Search.lncNormSquareTerm(col("tf")).as("w2"))
      .groupBy("doc_id").agg(sum(col("w2")).as("norm2"))
      .withColumn("nb", docBucket(col("doc_id")))
  }

  /** Positional-sidecar rows for one pass's docs: one row per (doc,
    * LOWERCASED word) holding the sorted in-doc position array — the
    * persisted form of [[graft.operators.Search.matchedPositions]]'s
    * positional explode (the phrase/proximity/boolean/snippet family's
    * shared fetch), term-bucketed on the same 64-way md5 layout as the
    * postings so a query's read prunes on the `pb` partition column.
    * Doc-local, so the ordinary append passes maintain it. Positions are
    * OPT-IN at bootstrap ([[postingsMaintain]]'s `positions` flag): the
    * sidecar roughly doubles index weight, the classic positional-index
    * trade a 100 TB deployment makes per-collection, not globally. */
  private def positionRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      .groupBy("doc_id", "w")
      .agg(sort_array(collect_list(col("pos"))).as("poss"))
      .withColumn("pb", termBucket(col("w")))
  }

  // ---- staged-append commit protocol (shared by the postings and LSH
  // ---- signature stores) -------------------------------------------------
  //
  // An append-only partitioned store has ONE unsafe pattern: SaveMode.Append
  // into the live directory, then swap the stats row. A crash (or a blind
  // retry) between the two re-appends the identical increment — duplicate
  // rows that silently inflate every downstream score. The protocol below
  // makes each increment pass atomic-with-retry instead:
  //
  //   1. STAGE   the increment into `<data>.pending/<passId>` (Overwrite —
  //              a pre-commit crash leaves an orphan a retry replaces);
  //   2. COMMIT  by swapping the stats row, which records `last_pass`
  //              (the single atomic commit point);
  //   3. PUBLISH by renaming each staged `part=<v>/f.parquet` into the live
  //              `<data>/part=<v>/` dir under a pass-prefixed name (renames
  //              are idempotent: an existing target means that file already
  //              published).
  //
  // [[reconcilePending]] runs at the entry of every pass AND every reader:
  // a pending dir whose id equals the committed `last_pass` is finished
  // (publish), any other pending dir is a pre-commit orphan (delete). A
  // retry of a fully-committed pass id is detected from `last_pass` and
  // skipped — duplicate appends are impossible, not just detectable.
  // Single-writer per index directory, like every maintained artifact here.

  /** Sanitized pass id: caller-supplied ids give retries idempotence; the
    * derived fallback (unique per call) keeps the protocol's crash safety
    * but cannot dedupe a blind re-invocation. */
  private def effectivePassId(passId: String): String = {
    require(passId.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"pass id must be a safe directory name: '$passId'")
    if (passId.nonEmpty) passId else s"p${System.nanoTime()}"
  }

  /** Publish one committed pending stage: move its partition files into the
    * live store dir under pass-prefixed names, then drop the stage. Each
    * file moves at most once (existing target = already published), so a
    * crash mid-publish is resumed by the next [[reconcilePending]]. */
  private def publishPending(fs: org.apache.hadoop.fs.FileSystem,
      dataDir: Path, pending: Path): Unit = {
    val passId = pending.getName
    if (!fs.exists(dataDir)) fs.mkdirs(dataDir)
    fs.listStatus(pending).filter(_.isDirectory).foreach { part =>
      val dst = new Path(dataDir, part.getPath.getName)
      if (!fs.exists(dst)) fs.mkdirs(dst)
      fs.listStatus(part.getPath).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val target = new Path(dst, s"$passId-${f.getPath.getName}")
        if (fs.exists(target)) fs.delete(f.getPath, false)
        else require(fs.rename(f.getPath, target), s"publish: rename ${f.getPath} failed")
      }
    }
    fs.delete(pending, true)
  }

  /** Crash recovery for the staged-append protocol: finish the publish of
    * a COMMITTED stage (its id == the store's recorded `last_pass`), drop
    * any UNCOMMITTED orphan stages. No-op when nothing is pending. */
  private def reconcilePending(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, dataName: String, lastPass: Option[String]): Unit = {
    val pendRoot = new Path(indexDir, s"$dataName.pending")
    if (!fs.exists(pendRoot)) return
    fs.listStatus(pendRoot).foreach { p =>
      if (lastPass.contains(p.getPath.getName))
        publishPending(fs, new Path(indexDir, dataName), p.getPath)
      else fs.delete(p.getPath, true)
    }
    if (fs.exists(pendRoot) && fs.listStatus(pendRoot).isEmpty) fs.delete(pendRoot, true)
  }

  /** The committed `last_pass` marker from a stats/meta row, tolerant of
    * stores written before the column existed. */
  private def lastPassOf(spark: SparkSession, statsPath: Path): Option[String] = {
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) return None
    val df = spark.read.parquet(statsPath.toString)
    if (!df.columns.contains("last_pass")) None
    else Option(df.select("last_pass").head.getString(0))
  }

  /**
   * Maintained BM25 POSTINGS index on the store — the lexical sibling of
   * [[ivfMaintain]] / [[scd2Maintain]]: `indexDir/postings` holds the full
   * inverted index `(term, doc_id, dl, tf)` PARTITIONED BY a 64-way term
   * hash bucket (`tb`), `indexDir/stats` the one-row `(n_docs, sum_dl)`
   * corpus stats. Bootstrap explodes the corpus once; every later pass
   * APPENDS the new docs' postings (postings are doc-local, so existing
   * rows are immutable — a pass costs O(increment), never O(index)) and
   * merges the stats by exact integer addition (staged + swapped, crash
   * windows auto-restored). At 100 TB this is how the retrieval family
   * avoids re-exploding the corpus per query batch: [[bm25Maintained]]
   * reads ONLY the query terms' buckets (partition pruning on `tb`), and
   * [[graft.operators.Search.bm25TopKFromPostings]] scores on that bounded
   * fetch.
   *
   * Contract: increment doc_ids must be NEW (keyed storage, not an upsert
   * target) — [[postingsAudit]] catches violations after the fact
   * (distinct doc_ids vs the stats row's accumulated n_docs, plus a
   * duplicate-row check on (term, doc_id)).
   *
   * CRASH/RETRY SAFETY: increments go through the staged-append protocol
   * (stage -> stats-swap commit with `last_pass` -> publish, see
   * [[reconcilePending]]); a retried pass with the same caller-supplied
   * `passId` is detected as committed and skipped, so a crash at ANY point
   * followed by a blind retry can never duplicate an increment's rows.
   *
   * SELF-SCHEDULING COMPACTION: with `autoCompactFilesPerBucket` set, every
   * non-skipped increment pass ends with the [[postingsCompact]] census
   * check (an FS listing) and rewrites only when the measured max
   * files-per-bucket exceeds the threshold — the store maintains its own
   * file health on the ingest cadence, the `Maintenance.run` points-store
   * policy shape applied to the index (reference analog: scheduled
   * self-compaction, MetricCompactionStrategy.java:20-60).
   */
  def postingsMaintain(
      spark: SparkSession,
      indexDir: String,
      docs: org.apache.spark.sql.DataFrame,
      passId: String = "",
      dryRun: Boolean = false,
      autoCompactFilesPerBucket: Option[Int] = None,
      positions: Boolean = false): PostingsReport = {
    import org.apache.spark.sql.functions._
    val postingsPath = new Path(indexDir, "postings")
    val normsPath = new Path(indexDir, "norms")
    val positionsPath = new Path(indexDir, "positions")
    val statsPath = new Path(indexDir, "stats")
    val fs = postingsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, postingsPath)
    AtomicDir.recover(fs, normsPath)
    AtomicDir.recover(fs, positionsPath)
    AtomicDir.recover(fs, statsPath)
    if (!dryRun) {
      val lp = lastPassOf(spark, statsPath)
      reconcilePending(fs, indexDir, "postings", lp)
      reconcilePending(fs, indexDir, "norms", lp)
      reconcilePending(fs, indexDir, "positions", lp)
    }
    val id = effectivePassId(passId)
    val exists = fs.exists(statsPath)
    require(!exists || fs.exists(normsPath),
      s"$indexDir predates the doc-norm sidecar — rebuild the index (a partial " +
        "norms dir would silently drop docs from tf-idf scoring)")
    // increments FOLLOW the store's bootstrap-time shape: a positions flag
    // on an increment cannot retrofit a sidecar (earlier docs' positions
    // would be missing — silent partial phrase results)
    val hasPositions = if (exists) fs.exists(positionsPath) else positions
    require(!(exists && positions && !hasPositions),
      s"$indexDir was bootstrapped WITHOUT positions — rebuild with " +
        "positions=true (an increment cannot retrofit earlier docs' positions)")
    // retry of a committed pass: last_pass says this increment is already in
    if (exists && passId.nonEmpty && lastPassOf(spark, statsPath).contains(passId)) {
      val n = spark.read.parquet(statsPath.toString).head.getLong(0)
      return PostingsReport(dryRun, bootstrap = false, n, n, 0L, skipped = true)
    }
    val words = split(col("text"), " ")
    val post = docs
      .select(col("doc_id"), size(words).cast("long").as("dl"), explode(words).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("tb", termBucket(col("term")))
    val delta = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(words).cast("long")).as("sum_dl")).head
    val (dN, dSum) = (delta.getLong(0), if (delta.isNullAt(1)) 0L else delta.getLong(1))
    val before = if (exists) spark.read.parquet(statsPath.toString).head.getLong(0) else 0L
    if (dryRun)
      return PostingsReport(dryRun = true, bootstrap = !exists, before, before + dN, post.count())
    import spark.implicits._
    if (!exists) {
      // bucketLayout: bounded files per bucket (see the helper doc) — the
      // unrepartitioned bootstrap wrote tasks × 64 tiny files per store
      bucketLayout(post, "tb", col("doc_id"), 64)
        .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(postingsPath.toString)
      bucketLayout(normRows(spark.read.schema(post.schema).parquet(postingsPath.toString)),
          "nb", col("doc_id"), 16)
        .write.mode(SaveMode.Overwrite).partitionBy("nb").parquet(normsPath.toString)
      if (hasPositions)
        bucketLayout(positionRows(docs), "pb", col("doc_id"), 64)
          .write.mode(SaveMode.Overwrite).partitionBy("pb").parquet(positionsPath.toString)
      Seq((dN, dSum, id)).toDF("n_docs", "sum_dl", "last_pass")
        .write.mode(SaveMode.Overwrite).parquet(statsPath.toString)
      PostingsReport(dryRun = false, bootstrap = true, 0L, dN, post.count())
    } else {
      val prior = spark.read.parquet(statsPath.toString).head
      // STAGE — one file per bucket per pass (repartition on tb/nb): an
      // increment is small relative to the index, and letting every shuffle
      // partition write into every bucket dir (up to partitions x 64 files)
      // is exactly the small-files pressure the census flags elsewhere.
      // Postings AND the doc-norm sidecar stage under the SAME pass id and
      // commit at the SAME stats swap — one commit point for the pass.
      val pending = new Path(indexDir, s"postings.pending/$id")
      post.repartition(col("tb"))
        .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(pending.toString)
      val staged = post.count()
      val normsPending = new Path(indexDir, s"norms.pending/$id")
      // explicit schema: an empty pass stages zero files, which parquet
      // cannot infer from — the norm frame is then legitimately empty
      normRows(spark.read.schema(post.schema).parquet(pending.toString))
        .repartition(col("nb"))
        .write.mode(SaveMode.Overwrite).partitionBy("nb").parquet(normsPending.toString)
      val positionsPending = new Path(indexDir, s"positions.pending/$id")
      if (hasPositions)
        positionRows(docs).repartition(col("pb"))
          .write.mode(SaveMode.Overwrite).partitionBy("pb").parquet(positionsPending.toString)
      // COMMIT — the stats swap is the single atomic commit point
      val statsTmp = new Path(statsPath.toString + ".tmp")
      Seq((prior.getLong(0) + dN, prior.getLong(1) + dSum, id))
        .toDF("n_docs", "sum_dl", "last_pass")
        .write.mode(SaveMode.Overwrite).parquet(statsTmp.toString)
      AtomicDir.swap(fs, statsTmp, statsPath)
      // PUBLISH — idempotent file moves; a crash here is finished by the
      // next pass/reader's reconcilePending
      publishPending(fs, postingsPath, pending)
      publishPending(fs, normsPath, normsPending)
      if (hasPositions) publishPending(fs, positionsPath, positionsPending)
      Seq("postings.pending", "norms.pending", "positions.pending").foreach { p =>
        val root = new Path(indexDir, p)
        if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, true)
      }
      // census check (FS listing only when healthy); rewrite when degraded
      val compacted = autoCompactFilesPerBucket
        .map(n => postingsCompact(spark, indexDir, maxFilesPerBucket = n))
        .filter(_.triggered)
      PostingsReport(dryRun = false, bootstrap = false, prior.getLong(0),
        prior.getLong(0) + dN, staged, compaction = compacted)
    }
  }

  /** [[postingsAudit]] verdict: `docsMatch` (stats n_docs == distinct
    * doc_ids — a lost or extra DOCUMENT), `rowsUnique` (row count ==
    * distinct (term, doc_id) — a duplicated APPEND, which n_docs alone
    * cannot see when the same batch re-appends), `sumDlMatch` (stats sum_dl
    * == the exact per-doc dl sum). */
  case class PostingsAuditReport(
      rows: Long, distinctTermDoc: Long, distinctDocs: Long,
      statsDocs: Long, statsSumDl: Long, actualSumDl: Long,
      normRowsCount: Long, normDistinctDocs: Long,
      posRows: Long = -1L, posDistinctWordDoc: Long = -1L,
      posDistinctDocs: Long = -1L) {
    def docsMatch: Boolean = distinctDocs == statsDocs
    def rowsUnique: Boolean = rows == distinctTermDoc
    def sumDlMatch: Boolean = statsSumDl == actualSumDl
    def normsMatch: Boolean =
      normRowsCount == statsDocs && normDistinctDocs == statsDocs
    /** Positional sidecar (when bootstrapped with one): row-unique per
      * (doc, word) — a duplicated append would double position arrays —
      * and covering exactly the stats doc set. -1 = store has no sidecar. */
    def positionsMatch: Boolean = posRows < 0 ||
      (posRows == posDistinctWordDoc && posDistinctDocs == statsDocs)
    def ok: Boolean =
      docsMatch && rowsUnique && sumDlMatch && normsMatch && positionsMatch
  }

  /** [[postingsMaintain]] integrity audit: three exact invariants of an
    * append-only postings store — accumulated stats vs distinct doc_ids,
    * row count vs distinct (term, doc_id) (duplicate appends re-add the
    * SAME keys, so this catches what the doc count cannot), and the exact
    * sum_dl recomputed from per-doc dl. Two aggregates over the postings
    * plus the one-row stats read; run on the maintenance cadence. */
  def postingsAudit(spark: SparkSession, indexDir: String): PostingsAuditReport = {
    import org.apache.spark.sql.functions._
    val statsPath = new Path(indexDir, "stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = lastPassOf(spark, statsPath)
    reconcilePending(fs, indexDir, "postings", lp)
    reconcilePending(fs, indexDir, "norms", lp)
    reconcilePending(fs, indexDir, "positions", lp)
    val p = spark.read.parquet(new Path(indexDir, "postings").toString)
    val r = p.agg(count(lit(1)).as("rows"),
      countDistinct(col("term"), col("doc_id")).as("td"),
      countDistinct(col("doc_id")).as("d")).head
    val dl = p.select("doc_id", "dl").distinct()
      .agg(sum(col("dl"))).head
    val s = spark.read.parquet(statsPath.toString).head
    // the norm sidecar must mirror the doc set exactly: one row per doc
    val nr = spark.read.parquet(new Path(indexDir, "norms").toString)
      .agg(count(lit(1)).as("rows"), countDistinct(col("doc_id")).as("d")).head
    val positionsPath = new Path(indexDir, "positions")
    val pr = if (fs.exists(positionsPath))
      Some(spark.read.parquet(positionsPath.toString)
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("doc_id"), col("w")).as("wd"),
          countDistinct(col("doc_id")).as("d")).head)
    else None
    PostingsAuditReport(r.getLong(0), r.getLong(1), r.getLong(2),
      s.getLong(0), s.getLong(1), if (dl.isNullAt(0)) 0L else dl.getLong(0),
      normRowsCount = nr.getLong(0), normDistinctDocs = nr.getLong(1),
      posRows = pr.map(_.getLong(0)).getOrElse(-1L),
      posDistinctWordDoc = pr.map(_.getLong(1)).getOrElse(-1L),
      posDistinctDocs = pr.map(_.getLong(2)).getOrElse(-1L))
  }

  /** What one postings compaction pass did (or would do). */
  case class PostingsCompactReport(
      dryRun: Boolean,
      triggered: Boolean,
      rows: Long,
      filesBefore: Long,
      filesAfter: Long,
      maxFilesPerBucketBefore: Long) {
    def render: String =
      s"postings compact${if (dryRun) " (DRY RUN)" else ""}: " +
        (if (!triggered) s"healthy (max $maxFilesPerBucketBefore files/bucket) — no-op"
         else s"$rows rows, files $filesBefore -> $filesAfter " +
           s"(max $maxFilesPerBucketBefore files/bucket before)")
  }

  /** Census-driven COMPACTION for a [[postingsMaintain]] index — the
    * postings sibling of the points store's [[CompactionPolicy]] (reference
    * analog: the scheduled self-compaction in
    * MetricCompactionStrategy.java:20-60). Every increment pass publishes
    * one file per touched bucket, so files-per-bucket grows linearly with
    * passes forever; when the MEASURED maximum exceeds `maxFilesPerBucket`,
    * the index is rewritten bucket-partitioned (one shuffle on `tb`, one
    * file per bucket) through the atomic-swap path. Readers keep pruning on
    * `tb` throughout — they see the old or the new directory, never a
    * partial one. The trigger is an FS listing (<= 64 dirs), not a Spark
    * job: a healthy-store pass costs a directory walk. */
  def postingsCompact(
      spark: SparkSession,
      indexDir: String,
      maxFilesPerBucket: Int = 4,
      dryRun: Boolean = false): PostingsCompactReport = {
    import org.apache.spark.sql.functions._
    val postingsPath = new Path(indexDir, "postings")
    val normsPath = new Path(indexDir, "norms")
    val positionsPath = new Path(indexDir, "positions")
    val statsPath = new Path(indexDir, "stats")
    val fs = postingsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, postingsPath)
    AtomicDir.recover(fs, normsPath)
    AtomicDir.recover(fs, positionsPath)
    if (!dryRun) {
      val lp = lastPassOf(spark, statsPath)
      reconcilePending(fs, indexDir, "postings", lp)
      reconcilePending(fs, indexDir, "norms", lp)
      reconcilePending(fs, indexDir, "positions", lp)
    }
    def bucketFiles(path: Path, prefix: String): Seq[Long] =
      if (!fs.exists(path)) Seq.empty
      else fs.listStatus(path).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")).toLong)
    def rewrite(path: Path, part: String): Unit = {
      val tmp = new Path(path.toString + ".tmp")
      spark.read.parquet(path.toString).repartition(col(part))
        .write.mode(SaveMode.Overwrite).partitionBy(part).parquet(tmp.toString)
      AtomicDir.swap(fs, tmp, path)
    }
    // the postings buckets and both sidecars accumulate one file per pass;
    // census each, rewrite each only when ITS max degrades
    val pb = bucketFiles(postingsPath, "tb=")
    val nb = bucketFiles(normsPath, "nb=")
    val xb = bucketFiles(positionsPath, "pb=")
    val filesBefore = pb.sum + nb.sum + xb.sum
    val maxBefore = (pb ++ nb ++ xb ++ Seq(0L)).max
    val pTrig = pb.nonEmpty && pb.max > maxFilesPerBucket
    val nTrig = nb.nonEmpty && nb.max > maxFilesPerBucket
    val xTrig = xb.nonEmpty && xb.max > maxFilesPerBucket
    if ((!pTrig && !nTrig && !xTrig) || dryRun) {
      val trig = pTrig || nTrig || xTrig
      val rows = if (trig) spark.read.parquet(postingsPath.toString).count() else 0L
      return PostingsCompactReport(dryRun, trig, rows, filesBefore, filesBefore, maxBefore)
    }
    if (pTrig) rewrite(postingsPath, "tb")
    if (nTrig) rewrite(normsPath, "nb")
    if (xTrig) rewrite(positionsPath, "pb")
    val rows = spark.read.parquet(postingsPath.toString).count()
    PostingsCompactReport(dryRun = false, triggered = true, rows,
      filesBefore,
      bucketFiles(postingsPath, "tb=").sum + bucketFiles(normsPath, "nb=").sum +
        bucketFiles(positionsPath, "pb=").sum,
      maxBefore)
  }

  /** What one bucket-store compaction pass did (or would do) — the
    * signatures/assignments sibling of [[PostingsCompactReport]]. */
  case class StoreCompactReport(
      dryRun: Boolean,
      triggered: Boolean,
      filesBefore: Long,
      filesAfter: Long,
      maxBefore: Long) {
    def render: String =
      s"store compact${if (dryRun) " (DRY RUN)" else ""}: " +
        (if (!triggered) s"healthy (max $maxBefore files/bucket) — no-op"
         else s"files $filesBefore -> $filesAfter (max $maxBefore files/bucket before)")
  }

  /** Files-per-partition census of one bucket-partitioned store dir. */
  private def bucketCensus(fs: org.apache.hadoop.fs.FileSystem,
      path: Path, prefix: String): Seq[Long] =
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")).toLong)

  /** Census-triggered rewrite of one bucket-partitioned store dir through
    * the atomic-swap path — shared by [[lshCompact]] and [[ivfCompact]]
    * (each staged-append increment adds one file per touched bucket, so a
    * daily cadence accumulates files without bound exactly like the
    * postings store; [[postingsCompact]] keeps its own multi-sidecar
    * variant). */
  private def compactBucketDir(spark: SparkSession, path: Path, partCol: String,
      maxFiles: Int, dryRun: Boolean): StoreCompactReport = {
    import org.apache.spark.sql.functions._
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, path)
    val before = bucketCensus(fs, path, partCol + "=")
    val (fb, mb) = (before.sum, if (before.isEmpty) 0L else before.max)
    val triggered = before.nonEmpty && before.max > maxFiles
    if (!triggered || dryRun)
      return StoreCompactReport(dryRun, triggered, fb, fb, mb)
    val tmp = new Path(path.toString + ".tmp")
    spark.read.parquet(path.toString).repartition(col(partCol))
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
    AtomicDir.swap(fs, tmp, path)
    StoreCompactReport(dryRun = false, triggered = true, fb,
      bucketCensus(fs, path, partCol + "=").sum, mb)
  }

  /** Census-driven compaction of an [[lshMaintain]] signature store. */
  def lshCompact(spark: SparkSession, indexDir: String,
      maxFilesPerBucket: Int = 8, dryRun: Boolean = false): StoreCompactReport = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dryRun) reconcilePending(fs, indexDir, "signatures",
      lastPassOf(spark, new Path(indexDir, "meta")))
    compactBucketDir(spark, new Path(indexDir, "signatures"), "kb",
      maxFilesPerBucket, dryRun)
  }

  /** Census-driven compaction of an [[ivfMaintain]] assignment store. */
  def ivfCompact(spark: SparkSession, indexDir: String,
      maxFilesPerList: Int = 8, dryRun: Boolean = false): StoreCompactReport = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dryRun) {
      reconcilePending(fs, indexDir, "assignments",
        lastPassOf(spark, new Path(indexDir, "meta")))
      ivfRepair(spark, indexDir)
    }
    compactBucketDir(spark, new Path(indexDir, "assignments"), "list_id",
      maxFilesPerList, dryRun)
  }

  // ---- maintained vocabulary (additive word counts) ----------------------

  /** First-letter hash bucket for the vocab layout: spell candidates block
    * on the first character, so bucketing on a hash OF that character
    * makes the suggest read a partition-pruned fetch (and stays path-safe
    * for arbitrary unicode words, unlike partitioning on the raw char). */
  private def charBucket(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(conv(substring(md5(substring(w, 1, 1)), 1, 2), 16, 10).cast("long"), lit(64L))
  }

  private def vocabRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .withColumn("vb", charBucket(col("w")))
  }

  /** What one vocabulary pass did (or would do). `deltaTokens` is signed:
    * positive for an ingest pass, negative for a retirement. */
  case class VocabReport(
      dryRun: Boolean,
      bootstrap: Boolean,
      tokensBefore: Long,
      tokensAfter: Long,
      deltaTokens: Long,
      skipped: Boolean = false,
      compaction: Option[StoreCompactReport] = None) {
    def render: String =
      s"vocab${if (dryRun) " (DRY RUN)" else ""}: " +
        s"${if (skipped) "pass already committed — skipped"
           else if (bootstrap) "bootstrapped" else s"applied delta ($deltaTokens tokens)"}; " +
        s"tokens $tokensBefore -> $tokensAfter" +
        compaction.map(c => s"\n  ${c.render}").getOrElse("")
  }

  /**
   * Maintained VOCABULARY on the store — the first ADDITIVE-AGGREGATE
   * artifact (the others are keyed row stores): `indexDir/vocab` holds
   * `(w, n, vb)` COUNT DELTAS partitioned on the first-letter hash bucket,
   * and a read sums per word — so an ingest pass appends positive deltas,
   * a retirement pass ([[vocabRetire]]) appends NEGATIVE deltas for the
   * dropped docs' words through the exact same staged-append commit, and
   * [[vocabCompact]] MERGES deltas (groupBy-sum rewrite, dropping words
   * whose total reached zero) instead of merely re-filing them. Counts are
   * exact integers, so sum-of-deltas == a fresh corpus count at every
   * point in the lifecycle (spec-pinned). The stats row's accumulated
   * token total is the commit point recording `last_pass`.
   */
  def vocabMaintain(
      spark: SparkSession,
      indexDir: String,
      docs: org.apache.spark.sql.DataFrame,
      passId: String = "",
      dryRun: Boolean = false,
      autoCompactFilesPerBucket: Option[Int] = None): VocabReport =
    vocabPass(spark, indexDir, docs, passId, dryRun, autoCompactFilesPerBucket, deltaSign = 1L)

  /** RETENTION for a [[vocabMaintain]] store: appends the dropped docs'
    * word counts NEGATED, through the same staged-append commit — the
    * additive-aggregate shape makes retirement just another delta, and a
    * later [[vocabCompact]] physically reclaims zeroed words. The dropped
    * frame must be exactly the docs previously ingested (over-retirement
    * drives totals negative; [[vocabAudit]] flags it). */
  def vocabRetire(
      spark: SparkSession,
      indexDir: String,
      droppedDocs: org.apache.spark.sql.DataFrame,
      passId: String = "",
      dryRun: Boolean = false): VocabReport =
    vocabPass(spark, indexDir, droppedDocs, passId, dryRun, None, deltaSign = -1L)

  private def vocabPass(
      spark: SparkSession,
      indexDir: String,
      docs: org.apache.spark.sql.DataFrame,
      passId: String,
      dryRun: Boolean,
      autoCompactFilesPerBucket: Option[Int],
      deltaSign: Long): VocabReport = {
    import org.apache.spark.sql.functions._
    val vocabPath = new Path(indexDir, "vocab")
    val statsPath = new Path(indexDir, "stats")
    val fs = vocabPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, vocabPath)
    AtomicDir.recover(fs, statsPath)
    if (!dryRun) reconcilePending(fs, indexDir, "vocab", lastPassOf(spark, statsPath))
    val id = effectivePassId(passId)
    val exists = fs.exists(statsPath)
    require(exists || deltaSign > 0, "cannot retire from a store that does not exist")
    if (exists && passId.nonEmpty && lastPassOf(spark, statsPath).contains(passId)) {
      val n = spark.read.parquet(statsPath.toString).head.getLong(0)
      return VocabReport(dryRun, bootstrap = false, n, n, 0L, skipped = true)
    }
    val rows = vocabRows(docs)
      .withColumn("n", (col("n") * deltaSign).as("n"))
    val dTok = {
      val r = rows.agg(sum(col("n"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val before = if (exists) spark.read.parquet(statsPath.toString).head.getLong(0) else 0L
    if (dryRun)
      return VocabReport(dryRun = true, bootstrap = !exists, before, before + dTok, dTok)
    import spark.implicits._
    if (!exists) {
      bucketLayout(rows, "vb", col("w"), 64)
        .write.mode(SaveMode.Overwrite).partitionBy("vb").parquet(vocabPath.toString)
      Seq((dTok, id)).toDF("n_tokens", "last_pass")
        .write.mode(SaveMode.Overwrite).parquet(statsPath.toString)
      VocabReport(dryRun = false, bootstrap = true, 0L, dTok, dTok)
    } else {
      val pending = new Path(indexDir, s"vocab.pending/$id")
      rows.repartition(col("vb"))
        .write.mode(SaveMode.Overwrite).partitionBy("vb").parquet(pending.toString)
      val statsTmp = new Path(statsPath.toString + ".tmp")
      Seq((before + dTok, id)).toDF("n_tokens", "last_pass")
        .write.mode(SaveMode.Overwrite).parquet(statsTmp.toString)
      AtomicDir.swap(fs, statsTmp, statsPath)
      publishPending(fs, vocabPath, pending)
      val root = new Path(indexDir, "vocab.pending")
      if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, true)
      val compacted = autoCompactFilesPerBucket
        .map(n => vocabCompact(spark, indexDir, maxFilesPerBucket = n))
        .filter(_.triggered)
      VocabReport(dryRun = false, bootstrap = false, before, before + dTok, dTok,
        compaction = compacted)
    }
  }

  /** MERGE-compaction for a [[vocabMaintain]] store: when the files-per-
    * bucket census degrades, rewrite each bucket as the per-word SUM of
    * its deltas, physically dropping words whose total reached zero (the
    * retirement reclaim) — read-equivalent by the additive contract, and
    * the row count shrinks from deltas to distinct live words. */
  def vocabCompact(spark: SparkSession, indexDir: String,
      maxFilesPerBucket: Int = 8, dryRun: Boolean = false): StoreCompactReport = {
    import org.apache.spark.sql.functions._
    val vocabPath = new Path(indexDir, "vocab")
    val fs = vocabPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, vocabPath)
    if (!dryRun) reconcilePending(fs, indexDir, "vocab",
      lastPassOf(spark, new Path(indexDir, "stats")))
    val before = bucketCensus(fs, vocabPath, "vb=")
    val (fb, mb) = (before.sum, if (before.isEmpty) 0L else before.max)
    val triggered = before.nonEmpty && before.max > maxFilesPerBucket
    if (!triggered || dryRun)
      return StoreCompactReport(dryRun, triggered, fb, fb, mb)
    val tmp = new Path(vocabPath.toString + ".tmp")
    spark.read.parquet(vocabPath.toString)
      .groupBy("w", "vb").agg(sum(col("n")).as("n"))
      .where(col("n") =!= 0L)
      .select("w", "n", "vb")
      .repartition(col("vb"))
      .write.mode(SaveMode.Overwrite).partitionBy("vb").parquet(tmp.toString)
    AtomicDir.swap(fs, tmp, vocabPath)
    StoreCompactReport(dryRun = false, triggered = true, fb,
      bucketCensus(fs, vocabPath, "vb=").sum, mb)
  }

  /** [[vocabMaintain]] integrity audit: the summed deltas must equal the
    * stats row's accumulated token total exactly (additive bookkeeping),
    * and no word's total may be negative (over-retirement). */
  case class VocabAuditReport(sumTokens: Long, statsTokens: Long, negativeWords: Long) {
    def sumMatch: Boolean = sumTokens == statsTokens
    def nonNegative: Boolean = negativeWords == 0L
    def ok: Boolean = sumMatch && nonNegative
  }

  def vocabAudit(spark: SparkSession, indexDir: String): VocabAuditReport = {
    import org.apache.spark.sql.functions._
    val statsPath = new Path(indexDir, "stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcilePending(fs, indexDir, "vocab", lastPassOf(spark, statsPath))
    val totals = spark.read.parquet(new Path(indexDir, "vocab").toString)
      .groupBy("w").agg(sum(col("n")).as("t"))
    val r = totals.agg(sum(col("t")).as("s"),
      sum(when(col("t") < 0L, 1L).otherwise(0L)).as("neg")).head
    VocabAuditReport(
      if (r.isNullAt(0)) 0L else r.getLong(0),
      spark.read.parquet(statsPath.toString).head.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Spell suggestion over a [[vocabMaintain]] store: the query terms'
    * first-letter buckets are computed driver-side and the vocab scan
    * prunes on the `vb` PARTITION column (candidates block on the first
    * character, so the bucket superset is sound), deltas sum per word
    * (zero/negative totals drop — retired words never resurface), and
    * scoring is the shared
    * [[graft.operators.Search.spellSuggestFromVocab]] — bit-identical to
    * the batch corpus-explode route (spec-pinned). */
  def spellMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame,
      maxDist: Int = 1, k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val statsPath = new Path(indexDir, "stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcilePending(fs, indexDir, "vocab", lastPassOf(spark, statsPath))
    val q = queries.select(lower(col("qterm")).as("qterm"))
    val buckets = q.select(charBucket(col("qterm")).as("vb")).distinct()
      .collect().map(_.getLong(0))
    val vocab = spark.read.parquet(new Path(indexDir, "vocab").toString)
      .where(col("vb").isin(buckets.toIndexedSeq: _*))
      .groupBy("w").agg(sum(col("n")).as("n"))
      .where(col("n") > 0L)
    graft.operators.Search.spellSuggestFromVocab(vocab, queries, maxDist, k)
  }

  /** What one postings age-off pass did (or would do). */
  case class PostingsAgeOffReport(
      dryRun: Boolean,
      docsBefore: Long,
      docsAfter: Long,
      rowsDropped: Long,
      bucketsRewritten: Long) {
    def render: String =
      s"postings age-off${if (dryRun) " (DRY RUN)" else ""}: " +
        s"docs $docsBefore -> $docsAfter, $rowsDropped postings rows dropped " +
        s"across $bucketsRewritten bucket(s)"
  }

  /** RETENTION for a [[postingsMaintain]] index — the postings sibling of
    * `points_ageoff`/`meta_ageoff` (reference analog:
    * MetricAgeOffIterator.java:26-110 ages the data, MetaAgeOffIterator the
    * catalog; an index over an age-managed corpus must age with it or its
    * df/dl statistics drift from reality). Drops the given doc_ids'
    * postings and restores the stats row to EXACTLY the surviving corpus:
    *
    *  - only buckets that actually hold a dropped doc's postings are
    *    rewritten (anti-join per affected bucket, <= 64 per-bucket atomic
    *    swaps) — untouched buckets keep their files byte-identical;
    *  - stats are RECOMPUTED from the surviving postings (one distinct
    *    (doc_id, dl) aggregate), not decremented from the drop set — so a
    *    crashed, partially-swapped pass converges to the exact truth on
    *    retry instead of compounding an estimate.
    *
    * Equivalence contract (spec-pinned): after age-off, the index equals a
    * fresh bootstrap over the surviving corpus, postings AND stats. */
  def postingsAgeOff(
      spark: SparkSession,
      indexDir: String,
      dropDocs: org.apache.spark.sql.DataFrame,
      dryRun: Boolean = false): PostingsAgeOffReport = {
    import org.apache.spark.sql.functions._
    val postingsPath = new Path(indexDir, "postings")
    val normsPath = new Path(indexDir, "norms")
    val positionsPath = new Path(indexDir, "positions")
    val statsPath = new Path(indexDir, "stats")
    val fs = postingsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, postingsPath)
    AtomicDir.recover(fs, normsPath)
    AtomicDir.recover(fs, positionsPath)
    AtomicDir.recover(fs, statsPath)
    if (!dryRun) {
      val lp = lastPassOf(spark, statsPath)
      reconcilePending(fs, indexDir, "postings", lp)
      reconcilePending(fs, indexDir, "norms", lp)
      reconcilePending(fs, indexDir, "positions", lp)
    }
    val postings = spark.read.parquet(postingsPath.toString)
    val drop = dropDocs.select("doc_id").distinct()
    val docsBefore = spark.read.parquet(statsPath.toString).head.getLong(0)
    // the doomed rows' buckets: an FS-bounded collect (<= 64 values)
    val doomed = postings.join(drop, Seq("doc_id"), "left_semi")
    // ONE pass over the doomed rows: row/doc counts + the affected-bucket
    // set (<= 64 values by construction, driver-safe at any drop size);
    // tb comes back from partition-dir inference as INT — read numerically
    val d = doomed.agg(count(lit(1)).as("rows"),
      countDistinct(col("doc_id")).as("docs"),
      collect_set(col("tb")).as("tbs")).head
    val (rowsDropped, docsDropped) = (d.getLong(0), d.getLong(1))
    val affected = d.getSeq[Any](2).map(_.asInstanceOf[Number].longValue).sorted
    if (dryRun || affected.isEmpty)
      return PostingsAgeOffReport(dryRun, docsBefore, docsBefore - docsDropped,
        rowsDropped, affected.length.toLong)
    // stage the survivors of ONLY the affected buckets, then swap each
    // bucket dir atomically; a bucket whose every row is doomed stages
    // nothing and is deleted outright
    val stage = new Path(indexDir, "postings.ageoff.tmp")
    if (fs.exists(stage)) fs.delete(stage, true)
    postings.where(col("tb").isin(affected.toIndexedSeq: _*))
      .join(drop, Seq("doc_id"), "left_anti")
      .repartition(col("tb"))
      .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(stage.toString)
    affected.foreach { b =>
      val src = new Path(stage, s"tb=$b")
      val dst = new Path(postingsPath, s"tb=$b")
      if (fs.exists(src)) AtomicDir.swap(fs, src, dst)
      else if (fs.exists(dst)) fs.delete(dst, true)
    }
    fs.delete(stage, true)
    // the norm sidecar ages with the doc set: same per-affected-bucket
    // anti-join rewrite over the <= 16 nb buckets the drop set hashes into
    val nAffected = drop.select(docBucket(col("doc_id")).as("nb")).distinct()
      .collect().map(_.getLong(0)).sorted
    val nStage = new Path(indexDir, "norms.ageoff.tmp")
    if (fs.exists(nStage)) fs.delete(nStage, true)
    spark.read.parquet(normsPath.toString)
      .where(col("nb").isin(nAffected.toIndexedSeq: _*))
      .join(drop, Seq("doc_id"), "left_anti")
      .repartition(col("nb"))
      .write.mode(SaveMode.Overwrite).partitionBy("nb").parquet(nStage.toString)
    nAffected.foreach { b =>
      val src = new Path(nStage, s"nb=$b")
      val dst = new Path(normsPath, s"nb=$b")
      if (fs.exists(src)) AtomicDir.swap(fs, src, dst)
      else if (fs.exists(dst)) fs.delete(dst, true)
    }
    fs.delete(nStage, true)
    // the positional sidecar (when present) ages like the postings: its
    // affected term buckets come from the doomed rows themselves (<= 64),
    // then the same per-bucket anti-join rewrite + atomic swaps
    if (fs.exists(positionsPath)) {
      val positions = spark.read.parquet(positionsPath.toString)
      val xAffected = positions.join(drop, Seq("doc_id"), "left_semi")
        .agg(collect_set(col("pb"))).head.getSeq[Any](0)
        .map(_.asInstanceOf[Number].longValue).sorted
      if (xAffected.nonEmpty) {
        val xStage = new Path(indexDir, "positions.ageoff.tmp")
        if (fs.exists(xStage)) fs.delete(xStage, true)
        positions.where(col("pb").isin(xAffected.toIndexedSeq: _*))
          .join(drop, Seq("doc_id"), "left_anti")
          .repartition(col("pb"))
          .write.mode(SaveMode.Overwrite).partitionBy("pb").parquet(xStage.toString)
        xAffected.foreach { b =>
          val src = new Path(xStage, s"pb=$b")
          val dst = new Path(positionsPath, s"pb=$b")
          if (fs.exists(src)) AtomicDir.swap(fs, src, dst)
          else if (fs.exists(dst)) fs.delete(dst, true)
        }
        fs.delete(xStage, true)
      }
    }
    // stats: exact recompute from the survivors (retry-convergent)
    val surv = spark.read.parquet(postingsPath.toString)
    val sd = surv.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head
    val (nAfter, sumAfter) =
      (sd.getLong(0), if (sd.isNullAt(1)) 0L else sd.getLong(1))
    import spark.implicits._
    val statsTmp = new Path(statsPath.toString + ".tmp")
    Seq((nAfter, sumAfter, s"ageoff-${System.nanoTime()}"))
      .toDF("n_docs", "sum_dl", "last_pass")
      .write.mode(SaveMode.Overwrite).parquet(statsTmp.toString)
    AtomicDir.swap(fs, statsTmp, statsPath)
    PostingsAgeOffReport(dryRun = false, docsBefore, nAfter, rowsDropped,
      affected.length.toLong)
  }

  /** BM25 top-k over a [[postingsMaintain]] index: the query terms' hash
    * buckets are computed driver-side (bounded by the query batch) and the
    * postings read filters on the `tb` PARTITION column — at 100 TB the
    * scan touches only the matching bucket directories (partition pruning),
    * never the full index. Scoring is the shared
    * [[graft.operators.Search.bm25TopKFromPostings]] — bit-identical to a
    * fresh batch [[graft.operators.Search.bm25TopK]] over the same corpus
    * (spec-pinned). */
  /** Bucket-pruned, term-filtered postings fetch from a [[postingsMaintain]]
    * index — the maintained-store equivalent of
    * [[graft.operators.Search.matchedPostings]]: the given terms' hash
    * buckets are computed driver-side (<= 64 values at any term count) and
    * the scan filters on the `tb` PARTITION column, then an exact term
    * semi-join drops the buckets' unrelated terms. At 100 TB a query
    * batch's fetch touches only its matching bucket directories, never the
    * corpus and never the full index. Reader-side recovery included: a
    * committed-but-unpublished increment is published before the scan, so
    * the read never misses rows the stats already count. */
  def postingsFor(spark: SparkSession, indexDir: String,
      terms: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val statsP = new Path(indexDir, "stats")
    val fsr = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = lastPassOf(spark, statsP)
    reconcilePending(fsr, indexDir, "postings", lp)
    reconcilePending(fsr, indexDir, "norms", lp)
    val t = terms.select("term").distinct()
    val buckets = t.select(termBucket(col("term")).as("tb")).distinct()
      .collect().map(_.getLong(0))
    spark.read.parquet(new Path(indexDir, "postings").toString)
      .where(col("tb").isin(buckets.toIndexedSeq: _*))
      .join(broadcast(t), Seq("term"), "left_semi")
      .select("term", "doc_id", "dl", "tf")
  }

  /** The one-row `(n_docs, sum_dl, ...)` stats frame of a
    * [[postingsMaintain]] index — public so a caller serving several
    * scorers from one index can share a single read (the
    * [[postingsFor]]-composition pattern). */
  def postingsStats(spark: SparkSession, indexDir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(new Path(indexDir, "stats").toString)

  /** Bucket-pruned positional fetch from a positions-bootstrapped
    * [[postingsMaintain]] index — the maintained-store equivalent of
    * [[graft.operators.Search.matchedPositions]]: the given (lowercased)
    * words' hash buckets are computed driver-side, the scan filters on the
    * `pb` PARTITION column, the buckets' unrelated words drop on an exact
    * semi-join, and the stored per-(doc, word) position arrays explode back
    * to the `(doc_id, pos, w)` frame every positional scorer consumes. At
    * 100 TB a query batch touches only its words' bucket directories —
    * the corpus text is never re-exploded. */
  def positionsFor(spark: SparkSession, indexDir: String,
      words: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val statsP = new Path(indexDir, "stats")
    val fsr = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = lastPassOf(spark, statsP)
    reconcilePending(fsr, indexDir, "postings", lp)
    reconcilePending(fsr, indexDir, "norms", lp)
    reconcilePending(fsr, indexDir, "positions", lp)
    val positionsPath = new Path(indexDir, "positions")
    require(fsr.exists(positionsPath),
      s"$indexDir has no positional sidecar — bootstrap with positions=true")
    val t = words.select("w").distinct()
    val buckets = t.select(termBucket(col("w")).as("pb")).distinct()
      .collect().map(_.getLong(0))
    spark.read.parquet(positionsPath.toString)
      .where(col("pb").isin(buckets.toIndexedSeq: _*))
      .join(broadcast(t), Seq("w"), "left_semi")
      .select(col("doc_id"), explode(col("poss")).as("pos"), col("w"))
  }

  /** Exact-phrase retrieval over a positions-bootstrapped index: the
    * anchor-alignment count ([[graft.operators.Search.phraseHitsFromPositions]])
    * over the bucket-pruned [[positionsFor]] fetch — bit-identical to the
    * batch [[graft.operators.Search.phraseHits]] corpus scan (spec-pinned). */
  def phraseMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ws = queries.select(explode(split(lower(col("qtext")), " ")).as("w"))
    graft.operators.Search.phraseHitsFromPositions(
      positionsFor(spark, indexDir, ws), queries)
  }

  /** NEAR/window proximity retrieval over a positions-bootstrapped index
    * ([[graft.operators.Search.proximityHitsFromPositions]] on the pruned
    * fetch) — bit-identical to the batch scan (spec-pinned). */
  def proximityMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame,
      proxWindow: Int = 6, k: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ws = queries.select(explode(split(lower(col("qtext")), " ")).as("w"))
    graft.operators.Search.proximityHitsFromPositions(
      positionsFor(spark, indexDir, ws), queries, proxWindow, k)
  }

  /** Boolean (all-MUST + NOT) retrieval over a positions-bootstrapped index
    * ([[graft.operators.Search.booleanHitsFromPositions]] on a fetch
    * covering must AND not terms) — bit-identical to the batch scan. */
  def booleanMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ws = queries.select(explode(split(lower(col("qtext")), " ")).as("w"))
      .unionByName(queries.where(col("nottext").isNotNull)
        .select(explode(split(lower(col("nottext")), " ")).as("w")))
    graft.operators.Search.booleanHitsFromPositions(
      positionsFor(spark, indexDir, ws), queries)
  }

  /** Best-snippet windows over a positions-bootstrapped index
    * ([[graft.operators.Search.bestSnippetsFromPositions]] on the pruned
    * fetch) — the qualification + two-pointer cover sweep with no corpus
    * posexplode. Snippet TEXT extraction
    * ([[graft.operators.Search.snippetTextFrom]]) still reads the doc
    * column — the hit set is index-bounded, so that read is a semi-joined
    * row fetch, not a scan. Bit-identical to the batch path. */
  def snippetsMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame,
      snipWindow: Int = 12): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ws = queries.select(explode(split(lower(col("qtext")), " ")).as("w"))
    graft.operators.Search.bestSnippetsFromPositions(
      positionsFor(spark, indexDir, ws), queries, snipWindow)
  }

  def bm25Maintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val qTerms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    graft.operators.Search.bm25TopKFromPostings(
      postingsFor(spark, indexDir, qTerms), postingsStats(spark, indexDir),
      qTerms, k, k1, b)
  }

  /** Dirichlet query-likelihood top-k over a [[postingsMaintain]] index —
    * the LM scorer served from the same bucket-pruned fetch as
    * [[bm25Maintained]] (cf(t) needs every corpus occurrence of each query
    * term, which is exactly what the term-filtered bucket read returns).
    * Bit-identical to the batch
    * [[graft.operators.Search.dirichletTopKFromPostings]] over a fresh
    * matchedPostings frame (spec-pinned). */
  def dirichletMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame, k: Int = 10,
      mu: Double = 1000.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val qTerms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    graft.operators.Search.dirichletTopKFromPostings(
      postingsFor(spark, indexDir, qTerms), postingsStats(spark, indexDir),
      qTerms, k, mu)
  }

  /** tf-idf (SMART lnc.ltn) top-k over a [[postingsMaintain]] index — the
    * vector-space scorer with NO corpus scan left in the read path: the
    * matched fetch is the bucket-pruned [[postingsFor]], and the full-vector
    * lnc doc norms come from the index's `norms` sidecar (per-doc norm²
    * persisted on the same decimal grid at index time — doc-local, so the
    * sidecar is maintained by the same append passes). Bit-identical to the
    * batch [[graft.operators.Search.tfidfTopKFromPostings]] (spec-pinned). */
  def tfidfMaintained(spark: SparkSession, indexDir: String,
      queries: org.apache.spark.sql.DataFrame, k: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val qTerms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val norms = spark.read.parquet(new Path(indexDir, "norms").toString)
      .select("doc_id", "norm2")
    graft.operators.Search.tfidfTopKWithNorms(
      postingsFor(spark, indexDir, qTerms), norms, postingsStats(spark, indexDir),
      qTerms, k)
  }

  /** Pseudo-relevance-feedback retrieval over a [[postingsMaintain]] index:
    * the feedback prefix is a maintained-read BM25 top-r, and the expansion
    * round's incremental fetch reads ONLY the newly picked terms' hash
    * buckets ([[postingsFor]] as the
    * [[graft.operators.Search.prfExpandFromPostings]] `newTermFetch`) —
    * the classic PRF cost profile (a second corpus pass) becomes two
    * bucket-pruned store reads. `docs` is still required for the
    * feedback-doc term explode (a doc's FULL term list spans all buckets,
    * so the r x |queries| feedback docs read cheaper from the corpus
    * column than from a full-index scan). Bit-identical to the batch
    * [[graft.operators.Search.prfExpand]] (spec-pinned). */
  def prfMaintained(spark: SparkSession, indexDir: String,
      docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      r: Int = 3, m: Int = 2, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val qTerms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val shared = postingsFor(spark, indexDir, qTerms)
    val stats = postingsStats(spark, indexDir)
    val fb = graft.operators.Search.bm25TopKFromPostings(shared, stats, qTerms, r, k1, b)
    graft.operators.Search.prfExpandFromPostings(docs, Some((shared, stats)),
      queries, fb, r, m, k, k1, b,
      newTermFetch = Some(nt => postingsFor(spark, indexDir, nt)))
  }

  /** What one LSH signature-store maintenance pass did (or would do). */
  case class LshReport(
      dryRun: Boolean,
      bootstrap: Boolean,
      docsBefore: Long,
      docsAfter: Long,
      bandRows: Long,
      skipped: Boolean = false,
      compaction: Option[StoreCompactReport] = None) {
    def render: String =
      s"lsh${if (dryRun) " (DRY RUN)" else ""}: " +
        s"${if (skipped) "pass already committed — skipped"
           else if (bootstrap) "bootstrapped signatures" else "appended increment"}; " +
        s"docs $docsBefore -> $docsAfter, $bandRows band rows this pass" +
        compaction.map(c => s"\n  ${c.render}").getOrElse("")
  }

  /**
   * Maintained MinHash-LSH SIGNATURE store — the dedup sibling of
   * [[postingsMaintain]] and the fifth maintained artifact:
   * `indexDir/signatures` holds the banded signature frame
   * `(doc_id, mh0..mhN, b, key)` PARTITIONED BY a 64-way hash bucket of the
   * band key (`kb`), `indexDir/meta` the one-row
   * `(n_docs, num_hashes, band_size, last_pass)` store descriptor.
   * Signatures are doc-local (like postings), so existing rows are
   * immutable: bootstrap signs the corpus once, every later pass signs ONLY
   * the new docs and appends — O(increment · bands), never a corpus
   * re-sign. Increments ride the same staged-append commit protocol as the
   * postings store ([[reconcilePending]]): a crash or blind retry can never
   * duplicate a pass.
   *
   * This is the artifact [[graft.operators.Dedup.minhashLshIncremental]]'s
   * doc describes a production pipeline persisting: at 100 TB the near-dup
   * screen for a daily delta is [[lshCandidates]] (delta bands x the
   * store's matching `kb` buckets — partition-pruned, delta-bounded pair
   * work) followed by one [[lshMaintain]] append, with the corpus never
   * re-signed and never re-paired against itself.
   */
  def lshMaintain(
      spark: SparkSession,
      indexDir: String,
      docs: org.apache.spark.sql.DataFrame,
      numHashes: Int = 8,
      bandSize: Int = 2,
      passId: String = "",
      dryRun: Boolean = false,
      autoCompactFilesPerBucket: Option[Int] = None): LshReport = {
    import org.apache.spark.sql.functions._
    val sigPath = new Path(indexDir, "signatures")
    val metaPath = new Path(indexDir, "meta")
    val fs = sigPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, sigPath)
    AtomicDir.recover(fs, metaPath)
    if (!dryRun) reconcilePending(fs, indexDir, "signatures", lastPassOf(spark, metaPath))
    val id = effectivePassId(passId)
    val exists = fs.exists(metaPath)
    if (exists) {
      val m = spark.read.parquet(metaPath.toString).head
      require(m.getAs[Int]("num_hashes") == numHashes && m.getAs[Int]("band_size") == bandSize,
        s"store was built with numHashes=${m.getAs[Int]("num_hashes")}/" +
          s"bandSize=${m.getAs[Int]("band_size")} — signatures are not comparable " +
          "across parameters; rebuild into a fresh directory to change them")
      if (passId.nonEmpty && lastPassOf(spark, metaPath).contains(passId)) {
        val n = m.getAs[Long]("n_docs")
        return LshReport(dryRun, bootstrap = false, n, n, 0L, skipped = true)
      }
    }
    val bands = graft.operators.Dedup.bandedSignatures(docs, numHashes, bandSize)
      .withColumn("kb", termBucket(col("key")))
    val dN = docs.agg(count(lit(1))).head.getLong(0)
    val before = if (exists) spark.read.parquet(metaPath.toString).head.getAs[Long]("n_docs") else 0L
    if (dryRun)
      return LshReport(dryRun = true, bootstrap = !exists, before, before + dN, bands.count())
    import spark.implicits._
    def writeMeta(n: Long, tmpTo: Option[Path]): Unit = {
      val df = Seq((n, numHashes, bandSize, id))
        .toDF("n_docs", "num_hashes", "band_size", "last_pass")
      tmpTo match {
        case Some(tmp) =>
          df.write.mode(SaveMode.Overwrite).parquet(tmp.toString); AtomicDir.swap(fs, tmp, metaPath)
        case None => df.write.mode(SaveMode.Overwrite).parquet(metaPath.toString)
      }
    }
    if (!exists) {
      bucketLayout(bands, "kb", col("doc_id"), 64)
        .write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(sigPath.toString)
      writeMeta(dN, None)
      LshReport(dryRun = false, bootstrap = true, 0L, dN,
        spark.read.parquet(sigPath.toString).count())
    } else {
      // STAGE (one file per touched bucket) -> COMMIT (meta swap) -> PUBLISH
      val pending = new Path(indexDir, s"signatures.pending/$id")
      bands.repartition(col("kb"))
        .write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(pending.toString)
      val staged = bands.count()
      writeMeta(before + dN, Some(new Path(metaPath.toString + ".tmp")))
      publishPending(fs, sigPath, pending)
      val pendRoot = new Path(indexDir, "signatures.pending")
      if (fs.exists(pendRoot) && fs.listStatus(pendRoot).isEmpty) fs.delete(pendRoot, true)
      // self-scheduling file health on the ingest cadence (postings pattern)
      val compacted = autoCompactFilesPerBucket
        .map(n => lshCompact(spark, indexDir, maxFilesPerBucket = n))
        .filter(_.triggered)
      LshReport(dryRun = false, bootstrap = false, before, before + dN, staged,
        compaction = compacted)
    }
  }

  /**
   * Near-dup candidate screen for an increment against a [[lshMaintain]]
   * store: signs ONLY `newDocs`, reads ONLY the store buckets (`kb`
   * partition pruning) the increment's band keys hash into, and emits
   * exactly [[graft.operators.Dedup.minhashLshIncremental]](storeCorpus,
   * newDocs) — candidate pairs with >= 1 new side, canonical (a < b), with
   * the all-components est_jaccard — WITHOUT re-signing the stored corpus
   * (spec-pinned equivalence). Run BEFORE [[lshMaintain]] folds the
   * increment in, so new-vs-new pairs come from the unioned new bands, not
   * double-counted store rows. The increment side is small by contract, so
   * Spark broadcast-joins it against the pruned store scan — the store is
   * scanned (matching buckets only), never shuffled.
   */
  def lshCandidates(
      spark: SparkSession,
      indexDir: String,
      newDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val metaPath = new Path(indexDir, "meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcilePending(fs, indexDir, "signatures", lastPassOf(spark, metaPath))
    val m = spark.read.parquet(metaPath.toString).head
    val (numHashes, bandSize) = (m.getAs[Int]("num_hashes"), m.getAs[Int]("band_size"))
    // persisted (increment x bands rows — small by the increment contract):
    // the bucket-set collect, the union side and the probe side all read it,
    // and uncut each re-ran the increment's shingle + signature explode
    val newBands0 = graft.operators.Dedup.bandedSignatures(newDocs, numHashes, bandSize)
    val newBands =
      if (newBands0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        newBands0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else newBands0
    val sigCols = newBands.columns // doc_id, mh0.., b, key
    // the increment's bucket set is <= 64 values by construction — a
    // driver-side collect that stays bounded at any increment size
    val kbs = newBands.select(termBucket(col("key")).as("kb")).distinct()
      .collect().map(_.getLong(0))
    val store = spark.read.parquet(new Path(indexDir, "signatures").toString)
      .where(col("kb").isin(kbs.toIndexedSeq: _*))
      .select(sigCols.map(col).toIndexedSeq: _*)
    val allBands = store.unionByName(newBands)
    val eq = (0 until numHashes)
      .map(k => when(col(s"x.mh$k") === col(s"y.mh$k"), 1).otherwise(0))
      .reduce(_ + _)
    newBands.as("x").join(allBands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        (eq.cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** [[lshMaintain]] integrity audit: distinct doc_ids vs the meta row's
    * accumulated n_docs (lost/duplicated DOCUMENTS), row count vs
    * n_docs x bands (a duplicated append re-adds the same (doc_id, b)
    * keys), and distinct (doc_id, b) vs rows. Two aggregates. */
  case class LshAuditReport(
      rows: Long, distinctDocBand: Long, distinctDocs: Long,
      metaDocs: Long, bands: Long) {
    def docsMatch: Boolean = distinctDocs == metaDocs
    def rowsUnique: Boolean = rows == distinctDocBand
    def complete: Boolean = rows == metaDocs * bands
    def ok: Boolean = docsMatch && rowsUnique && complete
  }

  /** What one LSH-signature age-off pass did (or would do). */
  case class LshAgeOffReport(
      dryRun: Boolean,
      docsBefore: Long,
      docsAfter: Long,
      rowsDropped: Long,
      bucketsRewritten: Long) {
    def render: String =
      s"lsh age-off${if (dryRun) " (DRY RUN)" else ""}: " +
        s"docs $docsBefore -> $docsAfter, $rowsDropped signature rows dropped " +
        s"across $bucketsRewritten bucket(s)"
  }

  /** RETENTION for an [[lshMaintain]] signature store — the signature
    * sibling of [[postingsAgeOff]]: drops aged doc_ids' band rows by
    * rewriting ONLY the affected `kb` buckets (per-bucket atomic swaps)
    * and restores the meta row's n_docs by exact recompute from the
    * survivors, so a crashed pass converges on retry. Without this, an
    * age-managed corpus's dead documents keep surfacing as near-dup
    * candidates forever. Equivalence (spec-pinned): aged store ==
    * fresh bootstrap over the surviving corpus. */
  def lshAgeOff(
      spark: SparkSession,
      indexDir: String,
      dropDocs: org.apache.spark.sql.DataFrame,
      dryRun: Boolean = false): LshAgeOffReport = {
    import org.apache.spark.sql.functions._
    val sigPath = new Path(indexDir, "signatures")
    val metaPath = new Path(indexDir, "meta")
    val fs = sigPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, sigPath)
    AtomicDir.recover(fs, metaPath)
    if (!dryRun) reconcilePending(fs, indexDir, "signatures", lastPassOf(spark, metaPath))
    val sigs = spark.read.parquet(sigPath.toString)
    val drop = dropDocs.select("doc_id").distinct()
    val meta = spark.read.parquet(metaPath.toString).head
    val docsBefore = meta.getAs[Long]("n_docs")
    val doomed = sigs.join(drop, Seq("doc_id"), "left_semi")
    val d = doomed.agg(count(lit(1)).as("rows"),
      countDistinct(col("doc_id")).as("docs"),
      collect_set(col("kb")).as("kbs")).head
    val (rowsDropped, docsDropped) = (d.getLong(0), d.getLong(1))
    val affected = d.getSeq[Any](2).map(_.asInstanceOf[Number].longValue).sorted
    if (dryRun || affected.isEmpty)
      return LshAgeOffReport(dryRun, docsBefore, docsBefore - docsDropped,
        rowsDropped, affected.length.toLong)
    val stage = new Path(indexDir, "signatures.ageoff.tmp")
    if (fs.exists(stage)) fs.delete(stage, true)
    sigs.where(col("kb").isin(affected.toIndexedSeq: _*))
      .join(drop, Seq("doc_id"), "left_anti")
      .repartition(col("kb"))
      .write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(stage.toString)
    affected.foreach { b =>
      val src = new Path(stage, s"kb=$b")
      val dst = new Path(sigPath, s"kb=$b")
      if (fs.exists(src)) AtomicDir.swap(fs, src, dst)
      else if (fs.exists(dst)) fs.delete(dst, true)
    }
    fs.delete(stage, true)
    // meta: exact recompute from the survivors (retry-convergent)
    val nAfter = spark.read.parquet(sigPath.toString)
      .agg(countDistinct(col("doc_id"))).head.getLong(0)
    import spark.implicits._
    val metaTmp = new Path(metaPath.toString + ".tmp")
    Seq((nAfter, meta.getAs[Int]("num_hashes"), meta.getAs[Int]("band_size"),
        s"ageoff-${System.nanoTime()}"))
      .toDF("n_docs", "num_hashes", "band_size", "last_pass")
      .write.mode(SaveMode.Overwrite).parquet(metaTmp.toString)
    AtomicDir.swap(fs, metaTmp, metaPath)
    LshAgeOffReport(dryRun = false, docsBefore, nAfter, rowsDropped,
      affected.length.toLong)
  }

  def lshAudit(spark: SparkSession, indexDir: String): LshAuditReport = {
    import org.apache.spark.sql.functions._
    val metaPath = new Path(indexDir, "meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcilePending(fs, indexDir, "signatures", lastPassOf(spark, metaPath))
    val m = spark.read.parquet(metaPath.toString).head
    val r = spark.read.parquet(new Path(indexDir, "signatures").toString)
      .agg(count(lit(1)).as("rows"),
        countDistinct(col("doc_id"), col("b")).as("db"),
        countDistinct(col("doc_id")).as("d")).head
    LshAuditReport(r.getLong(0), r.getLong(1), r.getLong(2),
      m.getAs[Long]("n_docs"),
      (m.getAs[Int]("num_hashes") / m.getAs[Int]("band_size")).toLong)
  }

  /** What one IVF age-off pass did (or would do). */
  case class IvfAgeOffReport(
      dryRun: Boolean,
      vectorsBefore: Long,
      vectorsAfter: Long) {
    def render: String =
      s"ivf age-off${if (dryRun) " (DRY RUN)" else ""}: " +
        s"index $vectorsBefore -> $vectorsAfter vectors (centroids unchanged)"
  }

  /** RETENTION for an [[ivfMaintain]] index: drop aged vec_ids from the
    * assignments (anti-join + atomic swap; centroids are geometry, not
    * data — they stay). Removal under fixed centroids is exact by
    * construction: surviving rows are untouched, so the aged index ==
    * a batch assign of the survivors under the same centroids
    * (spec-pinned). O(index) rewrite like [[ivfRetrain]] — retention is a
    * periodic pass, not the increment path. A retrain after heavy age-off
    * re-fits the geometry to the survivors. */
  def ivfAgeOff(
      spark: SparkSession,
      indexDir: String,
      dropVecs: org.apache.spark.sql.DataFrame,
      dryRun: Boolean = false): IvfAgeOffReport = {
    import org.apache.spark.sql.functions._
    val assignPath = new Path(indexDir, "assignments")
    val fs = assignPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dryRun) {
      reconcilePending(fs, indexDir, "assignments",
        lastPassOf(spark, new Path(indexDir, "meta")))
      ivfRepair(spark, indexDir)
    } else AtomicDir.recover(fs, assignPath)
    val a = spark.read.parquet(assignPath.toString)
    val drop = dropVecs.select("vec_id").distinct()
    val before = a.count()
    val survivors = a.join(drop, Seq("vec_id"), "left_anti")
    if (dryRun)
      return IvfAgeOffReport(dryRun = true, before, survivors.count())
    val tmp = new Path(assignPath.toString + ".tmp")
    survivors.write.mode(SaveMode.Overwrite).partitionBy("list_id").parquet(tmp.toString)
    val after = spark.read.parquet(tmp.toString).count()
    AtomicDir.swap(fs, tmp, assignPath)
    // keep the commit descriptor's vector count current for reporting;
    // the pass starts with a reconcile, so no pending stage can be orphaned
    val metaPath = new Path(indexDir, "meta")
    if (fs.exists(metaPath)) {
      import spark.implicits._
      val prior = spark.read.parquet(metaPath.toString).head
      val metaTmp = new Path(metaPath.toString + ".tmp")
      Seq((after, prior.getLong(1), s"ageoff-${System.nanoTime()}"))
        .toDF("n_vecs", "n_lists", "last_pass")
        .write.mode(SaveMode.Overwrite).parquet(metaTmp.toString)
      AtomicDir.swap(fs, metaTmp, metaPath)
    }
    IvfAgeOffReport(dryRun = false, before, after)
  }

  /** What one SCD2 history-retention pass did (or would do). */
  case class Scd2PruneReport(
      dryRun: Boolean,
      rowsBefore: Long,
      rowsAfter: Long,
      openKept: Long) {
    def render: String =
      s"scd2 prune${if (dryRun) " (DRY RUN)" else ""}: " +
        s"history $rowsBefore -> $rowsAfter rows ($openKept open intervals kept)"
  }

  /** RETENTION for an [[scd2Maintain]] dimension: drop CLOSED intervals
    * that ended before `cutoffMs` — the dimension-history TTL trim (GDPR /
    * storage-budget shape). Open intervals (is_current = 1) are always
    * kept regardless of age: they are the live state, not history. The
    * rewrite stages + swaps atomically like every pass here. Pruning
    * commutes with [[graft.operators.Cdc.scd2Apply]] increments for any
    * cutoff at-or-before the delta's earliest event time (apply only
    * touches open intervals and appends newer ones), so prune-then-apply
    * == apply-then-prune — the property that makes the pass safe to
    * schedule independently of ingestion (spec-pinned). */
  def scd2Prune(
      spark: SparkSession,
      dimDir: String,
      cutoffMs: Long,
      dryRun: Boolean = false): Scd2PruneReport = {
    import org.apache.spark.sql.functions._
    val fs = new Path(dimDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, new Path(dimDir))
    val dim = spark.read.parquet(dimDir)
    val before = dim.count()
    val kept = dim.where(col("is_current") === 1L || col("valid_to") >= cutoffMs)
    if (dryRun) {
      val k = kept.agg(count(lit(1)).as("n"),
        sum(when(col("is_current") === 1L, 1L).otherwise(0L)).as("open")).head
      return Scd2PruneReport(dryRun = true, before, k.getLong(0), k.getLong(1))
    }
    val tmp = new Path(dimDir + ".tmp")
    kept.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val w = spark.read.parquet(tmp.toString)
    val k = w.agg(count(lit(1)).as("n"),
      sum(when(col("is_current") === 1L, 1L).otherwise(0L)).as("open")).head
    AtomicDir.swap(fs, tmp, new Path(dimDir))
    Scd2PruneReport(dryRun = false, before, k.getLong(0), k.getLong(1))
  }

  /** [[ivfAudit]] verdict: row/distinct-vec_id counts (the increment
    * contract says vec_ids are NEW each pass, so n == distinctVecIds), plus
    * the list-id envelope of the assignments validated against the centroid
    * frame — null or out-of-range list_ids in a corrupted append show up as
    * `listIdsValid = false`. */
  case class IvfAuditReport(
      n: Long, distinctVecIds: Long, nullListIds: Long,
      minListId: Long, maxListId: Long,
      vecIdsUnique: Boolean, listIdsValid: Boolean) {
    def ok: Boolean = vecIdsUnique && listIdsValid
  }

  /** Periodic integrity audit for an [[ivfMaintain]] index: one aggregate
    * over the assignments (count, distinct vec_id, null/min/max list_id)
    * plus one tiny aggregate over the centroid frame — catches a violated
    * new-vec_ids contract or list-id corruption in an appended increment
    * after the fact, without putting an O(index) anti-join into every
    * increment's hot path. Run it on the maintenance cadence, not per
    * append. */
  def ivfAudit(spark: SparkSession, indexDir: String): IvfAuditReport = {
    import org.apache.spark.sql.functions._
    val fsA = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcilePending(fsA, indexDir, "assignments",
      lastPassOf(spark, new Path(indexDir, "meta")))
    ivfRepair(spark, indexDir) // a crashed retrain is repaired before auditing
    val a = spark.read.parquet(new Path(indexDir, "assignments").toString)
    val r = a.agg(count(lit(1)).as("n"), countDistinct(col("vec_id")).as("d"),
      sum(when(col("list_id").isNull, 1L).otherwise(0L)).as("nulls"),
      min(col("list_id")).cast("long").as("lo"),
      max(col("list_id")).cast("long").as("hi")).head
    val c = spark.read.parquet(new Path(indexDir, "centroids").toString)
      .agg(min(col("list_id")).cast("long").as("clo"),
        max(col("list_id")).cast("long").as("chi")).head
    val nulls = r.getLong(2)
    val (lo, hi) = (if (r.isNullAt(3)) 0L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4))
    IvfAuditReport(r.getLong(0), r.getLong(1), nulls, lo, hi,
      vecIdsUnique = r.getLong(0) == r.getLong(1),
      listIdsValid = nulls == 0L &&
        (r.getLong(0) == 0L || (lo >= c.getLong(0) && hi <= c.getLong(1))))
  }

  /** CLI: `Maintenance <dataDir> <metaDir> <ttlSpec> [nowMs] [--dry-run]`
    * where ttlSpec is `prefix=ttlMs,...` and must include `default`
    * (e.g. `default=2592000000,sys.err=3600000`). */
  def main(args: Array[String]): Unit = {
    val dryRun = args.contains("--dry-run")
    val rest = args.filterNot(_ == "--dry-run")
    require(rest.length >= 3, "usage: Maintenance <dataDir> <metaDir> <ttlSpec> [nowMs] [--dry-run]")
    val Array(dataDir, metaDir, ttlSpec) = rest.take(3)
    val nowMs = rest.lift(3).map(_.toLong).getOrElse(System.currentTimeMillis())
    val ttl = ttlSpec.split(",").map { kv =>
      val i = kv.lastIndexOf('=')
      require(i > 0, s"bad ttl entry: $kv")
      kv.substring(0, i) -> kv.substring(i + 1).toLong
    }.toMap
    require(ttl.contains("default"), "ttlSpec must include default=<ms>")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      println(run(spark, dataDir, metaDir, ttl, nowMs, dryRun).render)
      // partition census: the visibility report a retention review reads
      // (hour gaps, bloated days, small-files pressure)
      println("census (metric, dt, hr_partitions, rows, hr_span, gaps, files/partition):")
      graft.sources.PointStore.census(spark, dataDir)
        .orderBy(org.apache.spark.sql.functions.col("metric"),
          org.apache.spark.sql.functions.col("dt"))
        .collect()
        .foreach { r =>
          println(s"  ${r.getAs[String]("metric")} ${r.getAs[Any]("dt")}: " +
            s"hrs=${r.getAs[Long]("n_hr_partitions")} rows=${r.getAs[Long]("n_rows")} " +
            s"span=${r.getAs[Long]("hr_min")}-${r.getAs[Long]("hr_max")} " +
            s"gaps=${r.getAs[Long]("hr_gaps")} " +
            f"filesPerPart=${r.getAs[Double]("files_per_partition")}%.1f")
        }
    } finally spark.stop()
  }
}
