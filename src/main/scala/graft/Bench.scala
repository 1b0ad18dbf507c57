package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
 * prints ONE JSON line `{"metric":"total","value":...,"queries":{...}}`.
 *
 * Each query is measured over SPARK_GRAFT_BENCH_RUNS (default 3) whole-suite
 * passes and reported as its per-query MEDIAN — single runs carried ±3 s of
 * noise (BASELINE.md), making sub-1.3x deltas unattributable. The cache is
 * cleared between passes so every pass pays the same (cache-cold) work and
 * the median estimates a steady cold run; pass 1 additionally absorbs JIT /
 * codegen warm-up, which is exactly what the median discards. Per-pass totals
 * are emitted alongside for transparency.
 *
 * Survivability (round 14): both round-13 driver bench runs were killed by a
 * wall-clock window (rc=124) and produced NOTHING because the JSON printed
 * only after all passes finished. Three additive changes fix that without
 * touching the timing methodology of any entry:
 *   1. After EVERY completed pass a cumulative one-line JSON summary is
 *      printed (medians over the passes completed so far, `"partial":true`
 *      until the last). A killed run now yields the latest completed pass's
 *      medians instead of parsed:null. The final compact line stays LAST.
 *   2. Durable STORE artifacts (postings/lsh/ivf/vocab/scd2 directories)
 *      survive clearCache, so their one-time build cost used to land inside
 *      pass 1's wall time. They are now built in a timed BOOTSTRAP phase
 *      before the pass loop and reported as their own `bootstrap_*` fields;
 *      every per-pass `shared_build_*` entry then times steady-state
 *      (cache-cold rebuild for persisted frames, store read for durable
 *      dirs) exactly as the cross-pass median already reported.
 *   3. A soft wall budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 3000 s):
 *      if the budget is exhausted when a pass ends, remaining passes are
 *      skipped and the summary reports the passes that ran
 *      (`"passes_done"`). At least one pass always runs. On a healthy host
 *      3 passes fit well inside the default; the budget only degrades
 *      slow-window runs from "killed, no data" to "fewer passes, full data".
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "3000").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the registry legitimately plans a few bounded-frame
    // unpartitioned windows and each emits a WARN per plan; a driver that
    // captures a bounded output tail would lose the JSON lines under that
    // spam (the round-13 tails were 100% WindowExec WARNs)
    spark.sparkContext.setLogLevel("ERROR")
    val wallStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wallStart) / 1e9
    // JVM/codegen warm-up so the first measured query doesn't absorb JIT cost
    spark.range(1 << 20).selectExpr("sum(id)", "count(distinct id % 1000)").collect()
    SparkEntry.entry(spark).count()
    // SPARK_GRAFT_BENCH_ONLY=comma,separated,names — local dev filter only
    // (the driver never sets it and times the full registry)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    def jstr(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // BOOTSTRAP: run every shared build once before the timed passes so the
    // one-time durable-store directory builds (which survive clearCache) are
    // paid here, not inside pass 1. Timed and reported per entry for
    // transparency; the memoized persisted FRAMES forced here are evicted by
    // each pass's clearCache, so per-pass shared_build_* entries still time
    // the full cache-cold rebuild — entry medians are unchanged.
    val bootstrap = SparkEntry.sharedBuilds.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir); None }
        catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val bootstrapTotal = bootstrap.map(_._2).sum
    val bootJson = bootstrap.map { case (k, v, _) => jstr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // a failed build is named here, not only by the queries it breaks later
    def errors(results: Seq[(String, Double, Option[String])]): Seq[String] =
      results.collect { case (k, _, Some(e)) => jstr(k) + ":" + jstr(e) }
    def errField(errs: Seq[String]): String =
      if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val bootErrs = errors(bootstrap)
    println(f"""{"metric":"bootstrap","value":$bootstrapTotal%.3f,"unit":"sec",""" +
      s""""builds":$bootJson${errField(bootErrs)},"sf":"$sfDir"}""")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // self-describing 0.0 convention: durable STORE artifacts (scd2 dim, dp
    // ledger, postings/lsh index dirs) are built once per session (now in the
    // bootstrap phase) and survive clearCache, so their shared_build_*
    // entries time only the steady-state read path in every pass — the
    // one-time build cost is the bootstrap line
    val notes = jstr("durable store dirs (scd2_dim, dp_ledger, postings_store, " +
      "postings_aged, lsh_store, ivf/lsh-aged, vocab) are built once per session " +
      "in the timed bootstrap phase; per-pass shared_build_* entries time the " +
      "steady-state (cache-cold) path")
    def summarize(passes: Seq[Seq[(String, Double, Option[String])]], partial: Boolean)
        : (Seq[(String, Double, Option[String])], Seq[String]) = {
      val results = passes.head.map(_._1).map { name =>
        val samples = passes.map(_.find(_._1 == name).get)
        (name, median(samples.map(_._2)), samples.flatMap(_._3).headOption)
      }
      val errs = errors(results)
      val qs = results.map { case (k, v, _) => jstr(k) + ":" + v }
        .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      val passTotals = passes.map(_.map(_._2).sum).mkString("[", ",", "]")
      val partialField = if (partial) """"partial":true,""" else ""
      println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
        s""""passes_done":${passes.length},$partialField""" +
        f""""bootstrap_total":$bootstrapTotal%.3f,""" +
        s""""pass_totals":$passTotals,"notes":$notes,"queries":$qs${errField(errs)},"sf":"$sfDir"}""")
      (results, errs)
    }
    // a failed query must be visible as a failure, not a fast timing:
    // record per-query errors and exit nonzero if any query broke
    var passes: Seq[Seq[(String, Double, Option[String])]] = Seq.empty
    var stop = false
    for (_ <- 1 to runs if !stop) {
      spark.catalog.clearCache() // every pass pays the same cache-cold work
      // force the memoized shared family frames FIRST, each timed as its own
      // `shared_build_*` entry: clearCache evicts them, so without this the
      // family's one-off build cost lands on whichever consumer gate runs
      // first alphabetically and reads as a per-gate regression (the
      // round-10 search_bm25/search_highlight driver-median finding)
      // under --only the builds still ALL run (a filtered run would
      // otherwise land the memoized family build back on its first selected
      // consumer — the exact attribution skew the shared_build_* entries
      // exist to prevent); they are reported as timed entries only when
      // explicitly selected or on full runs, so filtered per-gate medians
      // stay comparable to the driver's full-registry medians
      val builds = SparkEntry.sharedBuilds
        .map { case (name, fn) =>
          val t0 = System.nanoTime()
          val err =
            try { fn(spark, sfDir); None }
            catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
          (name, (System.nanoTime() - t0) / 1e9, err)
        }
        .filter { case (n, _, _) => only.forall(_.contains(n)) }
      val pass = builds ++ names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
      passes = passes :+ pass
      val lastPass = passes.length == runs
      // soft budget: never abandon mid-pass (a partial pass would corrupt the
      // medians), but skip remaining passes when the window is nearly spent —
      // a slow-window driver run then finishes with fewer passes instead of
      // being killed with nothing printed
      stop = lastPass || elapsedSec > budgetSec
      if (!lastPass) summarize(passes, partial = true)
    }
    val (results, errs) = summarize(passes, partial = false)
    // LAST line: a compact self-contained summary (total + slowest 20) that
    // survives a bounded stdout tail — the full per-query line above grew
    // past 2000 chars at ~280 gates and a tail capture would otherwise lose
    // the "metric"/"value" head (BENCH_r08 arrived with parsed:null).
    val total = results.map(_._2).sum
    val passTotals = passes.map(_.map(_._2).sum).mkString("[", ",", "]")
    val slowest = results.sortBy(-_._2).take(20)
    val qsTop = slowest.map { case (k, v, _) => jstr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,""" +
      s""""passes_done":${passes.length},""" +
      f""""bootstrap_total":$bootstrapTotal%.3f,""" +
      s""""n_queries":${results.size},"n_errors":${errs.size},""" +
      s""""pass_totals":$passTotals,"queries":$qsTop,"sf":"$sfDir"}""")
    spark.stop()
    if (errs.nonEmpty || bootErrs.nonEmpty) {
      System.err.println(s"bench: ${errs.size} quer${if (errs.size == 1) "y" else "ies"} " +
        s"and ${bootErrs.size} bootstrap build(s) failed")
      sys.exit(1)
    }
  }
}
