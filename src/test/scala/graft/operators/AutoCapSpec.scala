package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/**
 * Auto-sized skew caps ([[Dedup.autoBucketCap]] and friends): the hand-tuned
 * cap contract — "size the cap below the corpus's duplication factor"
 * (a 100x replica scale run: cap=50 -> 16 s, cap=200 -> 100 s on a 100-replica
 * corpus) — derived from the observed bucket-size distribution instead of a
 * constant, so a corpus change cannot silently violate it.
 */
class AutoCapSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("autoBucketCap: factor x quantile, floored") {
    // 90 singleton buckets + 10 hundred-doc pair bombs
    val sizes = (Seq.fill(90)(1L) ++ Seq.fill(10)(100L)).toDF("bn")
    assert(Dedup.autoBucketCap(sizes, "bn", quantile = 0.99, factor = 0.5, floor = 8L) == 50L)
    // uniform tiny buckets: the floor keeps genuine small near-dup clusters
    val uniform = Seq.fill(100)(1L).toDF("bn")
    assert(Dedup.autoBucketCap(uniform, "bn", quantile = 0.99, factor = 0.5, floor = 8L) == 8L)
  }

  /** Replica corpus like that scale run's: `reps` near-identical siblings per
    * base doc — every LSH bucket is a reps-clique. */
  private def replicaCorpus(reps: Int): DataFrame =
    (0L until 8L).flatMap { i =>
      (0 until reps).map(r =>
        (i * reps + r, s"some document number $i with shared words and unique token t$i rep$r"))
    }.toDF("doc_id", "text")

  test("minhashAutoCap lands below the duplication factor on a replica corpus") {
    val docs = replicaCorpus(32)
    val cap = Dedup.minhashAutoCap(docs)
    // every bucket is a 32-clique, so the 0.99-quantile is 32 and the cap
    // factor*32 = 16 — below the duplication factor by construction
    assert(cap >= 8L && cap < 32L, s"auto cap must sit below the duplication factor, got $cap")
  }

  test("minhashLshAuto == minhashLsh at the derived cap, a subset of uncapped") {
    val docs = replicaCorpus(12)
    val cap = Dedup.minhashAutoCap(docs)
    val auto = Dedup.minhashLshAuto(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.minhashLsh(docs, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.minhashLsh(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit)
    assert(auto.subsetOf(uncapped))
  }

  test("ngramAutoDocFreqCap derives from shingle document frequencies") {
    val docs = replicaCorpus(32)
    val cap = Dedup.ngramAutoDocFreqCap(docs)
    // MEDIAN-based (not p99): the typical shingle df is the duplication
    // factor (32), so the cap lands at factor*32 = 16 — well below the
    // cross-doc boilerplate at df=256 (p99 territory) whose k^2 pair bombs
    // the cap exists to exclude
    assert(cap >= 8L && cap <= 16L, s"got $cap")
    val auto = Dedup.ngramJaccardAuto(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.ngramJaccard(docs, threshold = 0.5, maxDocFreq = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit)
  }
}
