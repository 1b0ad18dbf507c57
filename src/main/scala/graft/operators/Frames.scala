package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared frame utilities for the operator package. */
private[graft] object Frames {

  /** Idempotent cache: several operators share sub-frames (signatures,
    * count tables, scored pairs) across calls in one session, so the same
    * logical plan can reach a cache() site twice. Caching an already-cached
    * plan is a no-op that still logs a CacheManager warning per call — check
    * first. The ONE copy of this guard — Dedup, Curation and TextAnalysis
    * all route through it.
    *
    * LIFETIME CONTRACT (session-scoped, audited round 14): an operator-
    * internal cache cannot unpersist itself — the operator returns a LAZY
    * frame that still references the cached subtree, and Spark has no
    * after-materialization hook — so entries live until the session
    * releases them. The contract that keeps this bounded:
    *
    *  1. Every site caches a NARROW projection or an aggregate result it
    *     built itself (never a caller's frame — see kAnonymitySweep), so
    *     each entry is small relative to its corpus pass.
    *  2. Entries are MEMORY_AND_DISK and LRU-evicted under executor memory
    *     pressure — a full cache never OOMs an executor, it spills/evicts.
    *  3. `spark.catalog.clearCache()` releases every entry (all sites route
    *     through DataFrame.cache, which registers with the catalog's
    *     CacheManager — pinned by CacheHygieneSpec). Long-lived sessions
    *     sweeping many operators or cycling corpora MUST call it between
    *     sweeps; graft.Bench calls it before every pass.
    */
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df
}
