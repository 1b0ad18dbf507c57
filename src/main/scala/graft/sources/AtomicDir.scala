package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Crash-safe directory publication primitives shared by every maintained
 * store artifact (points/meta catalog, SCD2 dimension, IVF index, BM25
 * postings, LSH signatures, DP releases): stage a rewrite into a `.tmp`
 * sibling, then [[swap]] it into place so that at every instant either the
 * old or the new directory exists under a recoverable name. The reference
 * gets the same guarantee from Accumulo's RFile compaction commit protocol
 * (server/src/main/java/timely/server/store/compaction/ — a tablet's files
 * are swapped atomically in the metadata table); on a plain filesystem the
 * rename dance below is the equivalent.
 *
 * Single-writer contract: one maintenance process per artifact directory.
 * Concurrent writers would race the `.bak`/`.tmp` renames; readers are safe
 * at any point (they see the old or the new directory, never a partial one,
 * provided they call [[recover]] first).
 */
private[graft] object AtomicDir {

  /** Crash recovery for a [[swap]]-maintained directory: the one mid-swap
    * crash window leaves `target` missing with the old data parked at
    * `target.bak` — restore it before anything reads or stages, so the next
    * pass sees the pre-crash state instead of bootstrapping from scratch
    * (or, worse, letting a later swap garbage-collect the `.bak` that still
    * holds the only copy). Call at the entry of every maintained-pass
    * function; a no-op when `target` exists. */
  def recover(fs: FileSystem, target: Path): Unit = {
    val bak = new Path(target.toString + ".bak")
    if (!fs.exists(target) && fs.exists(bak)) PointStore.writing(fs, target) {
      require(fs.rename(bak, target), s"crash recovery: rename $bak -> $target failed")
    }
  }

  /** Crash-safe directory swap: `old -> .bak`, `tmp -> target`, delete
    * `.bak` — at every instant either the old or the new directory exists
    * under a recoverable name (a plain delete-then-rename has a window
    * where a crash loses BOTH). A leftover `.bak` after a crash is the old
    * data (auto-restored by [[recover]] on the next pass); a leftover
    * `.tmp` is an incomplete rewrite — safe to resolve by hand, never data
    * loss. Like [[recover]]'s rename, it moves `target`'s [[PointStore]]
    * generation, so a server in this process re-reads a swapped store. */
  def swap(fs: FileSystem, tmp: Path, target: Path): Unit = PointStore.writing(fs, target) {
    recover(fs, target) // never delete a .bak that is the only copy
    val bak = new Path(target.toString + ".bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(target)) require(fs.rename(target, bak), s"rename $target -> $bak failed")
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    fs.delete(bak, true)
  }
}
