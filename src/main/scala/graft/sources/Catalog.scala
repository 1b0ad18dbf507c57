package graft.sources

import org.apache.spark.sql.DataFrame

/**
 * A store's meta catalog held in memory: the distinct `(metric, tagk, tagv)`
 * triples of its catalog directory — the reference's MetaCache
 * (server/src/main/java/timely/server/store/MetaCache.java:1-45), which
 * DataStore consults and extends on every store call
 * (DataStore.java:415-483). Immutable: [[PointStore]] owns one per catalog
 * directory and replaces it with `catalog ++ added` when an append writes
 * new triples.
 *
 * The sorted views use Spark's string order (UTF-8 bytes, unsigned), so an
 * answer computed from them equals the Spark `orderBy` it replaces, also for
 * characters where UTF-16 order differs.
 *
 * @param byMetric each metric's `(tagk, tagv)` pairs, in `(tagk, tagv)` order
 */
final class Catalog private (
    val triples: Set[Catalog.Triple],
    val byMetric: Map[String, IndexedSeq[(String, String)]]) {
  import Catalog._

  /** Every triple, in `(metric, tagk, tagv)` order. */
  lazy val sorted: IndexedSeq[Triple] =
    byMetric.keys.toIndexedSeq.sorted(StringOrder)
      .flatMap(m => byMetric(m).map { case (k, v) => (m, k, v) })

  /** This catalog and `more`: only the metrics `more` adds triples to have
    * their entries re-sorted. */
  def ++(more: Iterable[Triple]): Catalog = {
    val added = more.iterator.filterNot(triples.contains).toSet
    if (added.isEmpty) this
    else new Catalog(triples ++ added,
      group(added).foldLeft(byMetric) { case (acc, (m, pairs)) =>
        acc.updated(m, (acc.getOrElse(m, IndexedSeq.empty) ++ pairs).sorted(PairOrder))
      })
  }
}

object Catalog {
  type Triple = (String, String, String)

  /** The triples of a `(metric, tagk, tagv)` frame (a catalog-sized collect). */
  def collect(meta: DataFrame): Catalog = {
    val triples = meta.select("metric", "tagk", "tagv").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    new Catalog(triples, group(triples).view.mapValues(_.sorted(PairOrder)).toMap)
  }

  /** Each metric's `(tagk, tagv)` pairs, unordered. */
  private def group(triples: Set[Triple]): Map[String, IndexedSeq[(String, String)]] =
    triples.toIndexedSeq.groupMap(_._1)(t => (t._2, t._3))

  /** Spark's ascending string order: unsigned UTF-8 bytes, nulls first.
    * For well-formed strings UTF-8 byte order is code point order, so the
    * comparison walks code points and encodes nothing. */
  val StringOrder: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else {
      var i = 0
      var c = 0
      while (c == 0 && i < a.length && i < b.length) {
        val x = a.codePointAt(i)
        c = Integer.compare(x, b.codePointAt(i))
        i += Character.charCount(x)
      }
      if (c != 0) c else Integer.compare(a.length, b.length)
    }

  private val PairOrder = Ordering.Tuple2(StringOrder, StringOrder)
}
