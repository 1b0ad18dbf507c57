package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.MetricPoint
import graft.operators.Layout

/** Store-level z-order write path: real files, real per-file statistics,
  * measured skip ratios — the write-side half of the Layout operators.
  * The claim under test: inside one (metric, dt, hr) partition dir, a
  * Morton-clustered write keeps per-file min/max envelopes tight on BOTH
  * residual query dims, so an envelope-consulting reader (file skipping /
  * parquet row-group pruning) drops most files for either predicate, while
  * a plain time-major write leaves the non-time dim spread across every
  * file (zero skip). */
class ZOrderStoreSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val T = 1704067200000L // 2024-01-01T00:00Z, hour-aligned

  /** 64x64 grid in ONE hour partition: y = seconds into the hour, x rides
    * in the value column. Every (x, y) cell occurs exactly once. */
  private def gridPoints = {
    val rows = for (x <- 0 until 64; y <- 0 until 64)
      yield MetricPoint("sys.cpu.user", T + y * 1000L, x.toDouble,
        Map("host" -> s"h${x % 4}"), None)
    rows.toDF()
  }

  private val xDim = col("value").cast("long")
  private def yDim = ((col("ts") - lit(T)) / lit(1000L)).cast("long")

  test("z-ordered store skips most files for either dim; time-major skips none") {
    val zDir = Files.createTempDirectory("graft-zstore").toString + "/data"
    val linDir = Files.createTempDirectory("graft-linstore").toString + "/data"
    PointStore.writeZOrdered(gridPoints, zDir, xDim, yDim, bits = 6, numFiles = 16)
    // time-major baseline: same partition layout, files split along ts only
    PointStore.withPartitionColumns(gridPoints)
      .repartitionByRange(16, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.partitionBy("metric", "dt", "hr").parquet(linDir)

    val zBack = PointStore.read(spark, zDir)
    val linBack = PointStore.read(spark, linDir)
    // identical content — the layout changes bytes-on-disk order only
    assert(zBack.count() == 4096 && linBack.count() == 4096)
    assert(zBack.select("ts", "value").as[(Long, Double)].collect().toSet ==
      linBack.select("ts", "value").as[(Long, Double)].collect().toSet)

    // real per-file envelopes from the written files
    val zEnv = Layout.fileEnvelopes(zBack, xDim, yDim).collect()
    val linEnv = Layout.fileEnvelopes(linBack, xDim, yDim).collect()
    assert(zEnv.length > 4, s"z store must split into several files, got ${zEnv.length}")
    assert(linEnv.length > 4)

    // x-slab predicate (value in [16, 23], 1/8 of the domain)
    val zRep = Layout.filePruneReport(
      Layout.fileEnvelopes(zBack, xDim, yDim), 16L, 23L).collect().head
    val linRep = Layout.filePruneReport(
      Layout.fileEnvelopes(linBack, xDim, yDim), 16L, 23L).collect().head
    assert(zRep.getAs[Double]("file_skip_ratio") >= 0.5,
      s"z layout should skip most files for an x slab, got $zRep")
    assert(linRep.getAs[Double]("file_skip_ratio") == 0.0,
      "time-major layout spreads x across every file — nothing skippable")

    // y-slab predicate (a 1/8 time slice): BOTH layouts skip — z-order's
    // point is keeping the second dim skippable without losing the first
    val zRepY = Layout.filePruneReport(
      Layout.fileEnvelopes(zBack, yDim, xDim), 16L, 23L).collect().head
    val linRepY = Layout.filePruneReport(
      Layout.fileEnvelopes(linBack, yDim, xDim), 16L, 23L).collect().head
    assert(zRepY.getAs[Double]("file_skip_ratio") >= 0.5, s"y-slab on z store: $zRepY")
    assert(linRepY.getAs[Double]("file_skip_ratio") >= 0.5, s"y-slab on lin store: $linRepY")

    // the skipped files really contain no matching rows (envelope soundness):
    // rows in touched files >= matching rows, and a full filtered read over
    // the z store returns exactly the expected 8*64 grid cells
    assert(zRep.getAs[Long]("rows_in_touched_files") >= 8L * 64L)
    assert(zBack.where(xDim.between(16L, 23L)).count() == 8L * 64L)
  }

  test("z-ordered files carry disjoint z-ranges (range exchange, not hash)") {
    val zDir = Files.createTempDirectory("graft-zrange").toString + "/data"
    PointStore.writeZOrdered(gridPoints, zDir, xDim, yDim, bits = 6, numFiles = 8)
    val z = Layout.mortonKey(xDim, yDim, 6)
    val perFile = PointStore.read(spark, zDir)
      .select(input_file_name().as("f"), z.as("z"))
      .groupBy("f").agg(min("z").as("zmin"), max("z").as("zmax"))
      .orderBy("zmin")
      .collect()
    val spans = perFile.map(r => (r.getAs[Long]("zmin"), r.getAs[Long]("zmax")))
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlapping z-ranges: $spans")
      case _ =>
    }
  }
}
