package graft.operators

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/**
 * The duplicate-subtree sweep as a regression gate (round-14, VERDICT r13
 * item 8): the round-13/14 audits found operators re-executing shared
 * subtrees once per downstream reference — invisible in per-query timings
 * at bench scale, a full extra corpus pass each at 100 TB (e.g.
 * graph_triangles once planned 188 parquet scans; search_prf 19). Each
 * pinned registry query must keep its parquet-scan node count at (or
 * below) the swept bound; a regression that re-introduces a duplicated
 * scan subtree fails here, not in a driver round.
 *
 * The count is taken over the executed physical plan: FileSourceScanExec
 * nodes including subquery plans; cached (InMemory) subtrees are intentionally NOT descended — a memoized frame's build cost
 * is its builder's, not the consumer's.
 */
class PlanSweepSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def parquetScans(df: org.apache.spark.sql.DataFrame): Int = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectWithSubqueries { case s: FileSourceScanExec => s }.size
  }

  // (query, max parquet scans) — the r14 swept values; raise a bound ONLY
  // with a plan diff showing the extra scan is load-bearing
  private val bounds = Seq(
    "graph_triangles" -> 4,
    "curate_pipeline_keep" -> 2,
    "curate_lm_buckets" -> 3,
    "sketch_kmv_setops" -> 2,
    "events_outliers_mad" -> 1,
    "priv_kanon_sweep" -> 1,
    "text_bigram_entropy" -> 1,
    "search_prf" -> 5)

  bounds.foreach { case (name, maxScans) =>
    test(s"$name plans <= $maxScans parquet scans (dup-subtree sweep bound)") {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val n = parquetScans(df)
      assert(n <= maxScans,
        s"$name plans $n parquet scans (swept bound $maxScans): a shared " +
          "subtree is being re-executed per reference — see " +
          "plans/r14 and OPTIMIZATION_r14.md")
    }
  }
}
