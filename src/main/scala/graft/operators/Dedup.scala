package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, in increasing fuzziness:
 * exact (hash), MinHash+LSH (candidate generation without O(n^2)), n-gram
 * Jaccard (exact verify), SimHash (bit-signature near-dup).
 *
 * Scale design: nothing here compares all pairs. Exact dedup is a hash
 * group-by; MinHash/SimHash block by band keys so the self-join only touches
 * co-bucketed rows; n-gram Jaccard joins on shared shingles (a pair appears
 * only if it shares at least one shingle, and the join key distributes across
 * the cluster). At 100 TB each stage is shuffle-partitioned on its key —
 * no broadcast of the corpus, no driver collection.
 *
 * Hashing is md5-based so an independent SQL engine reproduces every signature
 * bit-for-bit (oracle parity): a "permutation" h_k of MinHash is the
 * lexicographic min of md5("k:" || shingle).
 */
object Dedup {

  /** Idempotent cache (see [[Frames.cached]]): sub-frames here (signatures,
    * scored pairs) are shared across calls in one session — e.g.
    * `simhashPairs` at two thresholds, or `ngramJaccard` feeding both the
    * pair gate and `clusters`. */
  private def cached(df: DataFrame): DataFrame = Frames.cached(df)

  /** Exact dedup: group by content hash, keep min doc_id as representative. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Fuzzy-exact dedup (the RefinedWeb/FineWeb normalization step between
    * byte-exact and MinHash): hash the text after lowercasing, stripping
    * non-alphanumerics, collapsing whitespace runs, and trimming — so case,
    * punctuation, and spacing variants of one document collapse to a single
    * group. Same scale shape as [[exact]]: a row-wise codegen'd key and one
    * hash groupBy — no pair generation, linear at any corpus size. NULL text
    * normalizes to "" (one group), so NULL-text docs count as mutual dups
    * rather than vanishing (the [[graft.operators.Curation.dupReport]]
    * convention). Non-alphanumeric RUNS map to one space (separators, not
    * deletions — "end.Start" keeps its word break). */
  /** The [[fuzzyExact]] group key as a column — exposed so composed
    * decisions (keep-reason tables) can test representativeness per doc. */
  def fuzzyKey(text: Column): Column =
    md5(trim(regexp_replace(lower(coalesce(text, lit(""))), "[^a-z0-9]+", " ")))

  def fuzzyExact(docs: DataFrame): DataFrame =
    docs.groupBy(fuzzyKey(col("text")).as("norm_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Word-3-gram shingles, lowercased: (doc_id, s). `distinct` de-duplicates
    * per doc (set semantics — needed for Jaccard); skip it for operators that
    * are duplicate-insensitive (min-aggregation) to save the shuffle.
    *
    * The n-gram windows come from zipping three shifted slices of the word
    * array rather than a `transform(sequence(...), i -> slice(...))` lambda:
    * higher-order-function lambdas evaluate interpreted (one closure dispatch
    * per window), while slice/arrays_zip/concat_ws are plain codegen'd
    * expressions — same output strings, fraction of the per-row cost. */
  def shingles(docs: DataFrame, distinct: Boolean = true): DataFrame = {
    val n = size(col("ws")) - 2
    val exploded = docs
      .repartition(col("doc_id")) // spread the explode-heavy scan across cores/executors
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ws"), lit(1), n), slice(col("ws"), lit(2), n), slice(col("ws"), lit(3), n))).as("z"))
      .select(col("doc_id"), concat_ws(" ", col("z.0"), col("z.1"), col("z.2")).as("s"))
    if (distinct) exploded.distinct() else exploded
  }

  /** Doc-frequency skew cap shared by the Jaccard variants: drop shingles
    * appearing in more than `maxDocFreq` docs of `sh` from CANDIDATE
    * GENERATION (a shingle in k docs emits O(k^2) pairs). Identity when the
    * cap is off. The frequency frame shuffles on the shingle itself (never a
    * broadcast of a corpus-sized side; AQE may still broadcast a genuinely
    * small survivor set). */
  private def capByDocFreq(sh: DataFrame, maxDocFreq: Long): DataFrame =
    if (maxDocFreq == Long.MaxValue) sh else {
      val freq = sh.groupBy("s").agg(count(lit(1)).as("df")).where(col("df") <= maxDocFreq)
      sh.join(freq.select("s"), "s")
    }

  /** Score co-shingle counts into Jaccard: |A∩B| / (|A|+|B|-|A∩B|), sizes
    * always from the UNCAPPED shingle frames (capping only narrows candidate
    * generation; scores stay comparable). Shared by the self-join and
    * cross-corpus variants so the scoring rule can never diverge. */
  private def jaccardScored(inter: DataFrame, aCol: String, bCol: String,
                            sizesA: DataFrame, sizesB: DataFrame): DataFrame = {
    val jac = col("inter").cast("double") /
      (col("sa.n") + col("sb.n") - col("inter")).cast("double")
    inter
      .join(sizesA.as("sa"), col(aCol) === col("sa.doc_id"))
      .join(sizesB.as("sb"), col(bCol) === col("sb.doc_id"))
      .select(col(aCol), col(bCol), jac.as("jaccard"))
  }

  /**
   * MinHash signatures: `numHashes` lexicographic-min-md5 "permutations" per
   * doc. One shuffle (group by doc) regardless of numHashes; duplicate
   * shingles don't change a min, so the distinct shuffle is skipped.
   */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 8): DataFrame = {
    val mins = (0 until numHashes).map(k => min(md5(concat(lit(s"$k:"), col("s")))).as(s"mh$k"))
    shingles(docs, distinct = false).groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** The banded signature frame as a PUBLIC (package) artifact shape:
    * (doc_id, mh0..mhN, b, key) — what [[graft.tools.Maintenance.lshMaintain]]
    * persists per document so increments never re-sign the corpus.
    * Signatures are doc-local (like BM25 postings), which is exactly what
    * makes the maintained store's append-only contract sound. */
  private[graft] def bandedSignatures(docs: DataFrame, numHashes: Int, bandSize: Int): DataFrame =
    minhashAllBands(docs, numHashes, bandSize)

  /** The banded signature frame both [[minhashLsh]] and the auto-cap
    * pre-aggregate read: (doc_id, mh0..mhN, b, key). Built on the cached
    * signature frame, so the two consumers share one signature computation. */
  private def minhashAllBands(docs: DataFrame, numHashes: Int, bandSize: Int): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    // cached (memory+disk, partition-local) because the banded self-join reads
    // it once per side; this is a per-executor materialization, not a broadcast
    val mh = cached(minhashSignatures(docs, numHashes))
    val nBands = numHashes / bandSize
    val bandKey = (b: Int) => concat((b * bandSize until (b + 1) * bandSize).map(k => col(s"mh$k")): _*)
    val sigCols = (0 until numHashes).map(c => col(s"mh$c"))
    mh.select(
      col("doc_id") +: sigCols :+
        explode(array((0 until nBands).map(b => struct(lit(b).as("b"), bandKey(b).as("key"))): _*)).as("bk"): _*)
      .select(col("doc_id") +: sigCols :+ col("bk.b").as("b") :+ col("bk.key").as("key"): _*)
  }

  /**
   * MinHash LSH near-dup candidates: band the signature (`bandSize` hashes per
   * band), self-join per band key, estimate Jaccard as the fraction of equal
   * signature components. Only co-bucketed pairs are ever compared.
   *
   * Scale: the full signature rides along through the band explode, so the
   * estimate is computed inside the banded self-join itself — no re-join
   * against the per-doc signature table (which would be corpus-sized and must
   * never be broadcast). The only shuffles are the band-key join and the
   * final pair distinct, both on well-distributed keys.
   */
  def minhashLsh(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 2,
                 maxBucket: Long = Long.MaxValue): DataFrame = {
    require(maxBucket >= 1L, "maxBucket must be positive")
    val allBands = minhashAllBands(docs, numHashes, bandSize)
    // Optional skew guard (the 100 TB configuration, same contract as
    // ngramJaccard's maxDocFreq / simhashPairs' maxBucket): a (band, key)
    // bucket of k docs emits k^2/2 candidate pairs, so hot buckets —
    // boilerplate-dominated signatures — are capped out of CANDIDATE
    // GENERATION. Default off: the oracle-pinned configuration keeps exact
    // LSH semantics (every banded collision surfaces).
    val bands =
      if (maxBucket == Long.MaxValue) allBands
      else {
        val ok = allBands.groupBy("b", "key").agg(count(lit(1)).as("bn"))
          .where(col("bn") <= maxBucket).select("b", "key")
        allBands.join(ok, Seq("b", "key"))
      }
    val eq = (0 until numHashes)
      .map(k => when(col(s"x.mh$k") === col(s"y.mh$k"), 1).otherwise(0))
      .reduce(_ + _)
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (eq.cast("double") / numHashes).as("est_jaccard"))
      .distinct() // est_jaccard is a function of (a,b), so this == distinct pairs
  }

  /**
   * Incremental MinHash LSH: near-dup candidate pairs that TOUCH the new
   * snapshot — the screen a [[Cdc.snapshotDiff]]'s `added` docs pass before
   * entering the corpus, without re-pairing the base against itself. Emits
   * exactly `minhashLsh(base ∪ new)` restricted to pairs with >= 1 new side
   * (spec-pinned), canonically ordered (a < b).
   *
   * Scale shape: signatures are doc-local, so the base's banded signature
   * frame is exactly the artifact a production pipeline PERSISTS (bucketed
   * by band key); each increment then shuffles only the delta's bands plus
   * the bucket-count cap scan. Here both sides derive from their doc
   * frames; the join is new-bands x all-bands on the band key, so the
   * pair work is delta-bounded (capped buckets bound the per-band fan-out).
   */
  def minhashLshIncremental(baseDocs: DataFrame, newDocs: DataFrame,
                            numHashes: Int = 8, bandSize: Int = 2,
                            maxBucket: Long = Long.MaxValue): DataFrame = {
    require(maxBucket >= 1L, "maxBucket must be positive")
    val newBands0 = minhashAllBands(newDocs, numHashes, bandSize)
    val allBands0 = minhashAllBands(baseDocs, numHashes, bandSize)
      .unionByName(newBands0)
    val (newBands, allBands) =
      if (maxBucket == Long.MaxValue) (newBands0, allBands0)
      else {
        val ok = allBands0.groupBy("b", "key").agg(count(lit(1)).as("bn"))
          .where(col("bn") <= maxBucket).select("b", "key")
        (newBands0.join(ok, Seq("b", "key")), allBands0.join(ok, Seq("b", "key")))
      }
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

  /**
   * Derive a skew cap from the OBSERVED bucket-size distribution instead of a
   * hand-tuned constant — the sizing rule the hand-tuned caps followed
   * ("below the duplication factor": a 100x replica scale run showed cap=50
   * finishing in 16 s where cap=200 took 100 s on a 100-replica corpus)
   * becomes a property of the data: cap = `factor` x the `quantile`th bucket
   * size, floored at `floor`.
   *
   *  - Replica-heavy corpus (every bucket a k-clique): the quantile IS k, so
   *    the cap lands at factor*k — below the duplication factor by
   *    construction, and it cannot be silently violated by a corpus change.
   *  - Ordinary corpus (bucket sizes ~1, boilerplate tail): the quantile
   *    stays small, the floor keeps genuine small near-dup clusters, and the
   *    far tail above it — the k^2 pair bombs — is dropped from candidate
   *    generation.
   *
   * Cost: one `approx_percentile` over the bucket-counts frame — bucket-
   * count-sized (docs x bands rows pre-aggregate), a rounding error next to
   * the pair join it protects. The cap is a runtime tuning parameter, not a
   * semantic one: capped configurations are corpus-dependent by design, and
   * the oracle-pinned gates keep their explicit caps.
   */
  def autoBucketCap(bucketSizes: DataFrame, sizeCol: String,
                    quantile: Double = 0.99, factor: Double = 0.5,
                    floor: Long = 8L): Long = {
    require(quantile > 0 && quantile < 1, "quantile in (0,1)")
    require(factor > 0 && floor >= 1L, "factor > 0, floor >= 1")
    val q = bucketSizes
      .agg(expr(s"approx_percentile($sizeCol, $quantile, 10000)").cast("long"))
      .first().getLong(0)
    math.max(floor, (q * factor).toLong)
  }

  /** The auto-cap value [[minhashLshAuto]] would use (exposed so callers can
    * log/record the derived cap). */
  def minhashAutoCap(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 2,
                     quantile: Double = 0.99, factor: Double = 0.5,
                     floor: Long = 8L): Long =
    autoBucketCap(
      minhashAllBands(docs, numHashes, bandSize)
        .groupBy("b", "key").agg(count(lit(1)).as("bn")),
      "bn", quantile, factor, floor)

  /** [[minhashLsh]] with the skew cap derived from the observed band-bucket
    * distribution ([[autoBucketCap]]). The signature frame is cached, so the
    * cap pre-aggregate and the pair join share one signature computation. */
  def minhashLshAuto(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 2,
                     quantile: Double = 0.99, factor: Double = 0.5,
                     floor: Long = 8L): DataFrame =
    minhashLsh(docs, numHashes, bandSize,
      minhashAutoCap(docs, numHashes, bandSize, quantile, factor, floor))

  /**
   * MinHash LSH candidate-quality audit: every LSH candidate pair scored with
   * its EXACT shingle Jaccard — the precision report that tells you whether
   * numHashes/bandSize are tuned for the corpus (banding theory gives the
   * recall curve; this measures the false-positive side on real data).
   * Output per candidate pair: `(a, b, est_jaccard, exact_jaccard,
   * true_pos)` with `true_pos = 1` iff the exact Jaccard clears `threshold`
   * (pairs sharing no shingle at all — pure banding collisions — score 0).
   *
   * Scale: the exact side is CANDIDATE-BOUNDED — shingles are semi-joined to
   * the docs that appear in any candidate pair before the intersection join,
   * so the expensive all-co-shingle-pairs frame of [[ngramJaccard]] is never
   * built; cost is proportional to the near-dup rate, not the corpus.
   */
  def minhashAudit(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 2,
                   threshold: Double = 0.8, maxBucket: Long = Long.MaxValue): DataFrame = {
    // cand (near-dup-rate-bounded) and shC (candidate-doc shingles) are
    // cached: cand is read three times (both union sides + the final join)
    // and shC three (both intersection sides + sizes) — uncut, each
    // reference re-ran the banded self-join / the semi-join respectively
    val cand = cached(minhashLsh(docs, numHashes, bandSize, maxBucket))
    val allSh = cached(shingles(docs))
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    val shC = cached(allSh.join(candDocs, Seq("doc_id"), "left_semi"))
    val inter = shC.as("x").join(shC.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val exact = jaccardScored(inter, "a", "b", sizes, sizes)
    cand.join(exact, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("est_jaccard"),
        coalesce(col("jaccard"), lit(0.0)).as("exact_jaccard"),
        (coalesce(col("jaccard"), lit(0.0)) >= threshold).cast("long").as("true_pos"))
  }

  /** The auto-cap value [[ngramJaccardAuto]] would use: derived from the
    * observed shingle document-frequency distribution.
    *
    * The statistic differs from the minhash cap's ON PURPOSE: band-bucket
    * sizes cluster at the duplication factor (a bucket IS a near-dup clique,
    * so the 0.99 quantile reads it off), but shingle document frequency
    * conflates duplication with corpus-wide PHRASE frequency — its upper
    * tail is exactly the boilerplate the cap exists to exclude, so sizing
    * from p99 admits it (measured at the 100x smoke tier: p99-derived
    * cap=750 -> 845 s of mid-frequency k^2 pair bombs vs 13.6 s hand-tuned).
    * The MEDIAN df tracks the duplication factor instead (most shingles are
    * doc-unique modulo duplication), putting factor*median right where the
    * hand-tuned cap sat. */
  def ngramAutoDocFreqCap(docs: DataFrame, quantile: Double = 0.5,
                          factor: Double = 0.5, floor: Long = 8L): Long =
    autoBucketCap(
      cached(shingles(docs)).groupBy("s").agg(count(lit(1)).as("df")),
      "df", quantile, factor, floor)

  /** [[ngramJaccard]] with `maxDocFreq` derived from the observed shingle
    * document-frequency distribution ([[autoBucketCap]]). */
  def ngramJaccardAuto(docs: DataFrame, threshold: Double = 0.8,
                       quantile: Double = 0.99, factor: Double = 0.5,
                       floor: Long = 8L): DataFrame =
    ngramJaccard(docs, threshold,
      maxDocFreq = ngramAutoDocFreqCap(docs, quantile, factor, floor))

  /**
   * Exact n-gram Jaccard near-dup pairs: join on shared shingles (the shingle
   * IS the blocking key — disjoint docs never meet), count intersection, then
   * |A∩B| / (|A| + |B| - |A∩B|) >= threshold.
   */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.8, maxDocFreq: Long = Long.MaxValue): DataFrame = {
    // Optional skew guard for corpus scale: a shingle shared by k docs emits
    // k^2 candidate pairs, so at 100 TB ultra-common shingles (boilerplate)
    // are dropped from CANDIDATE GENERATION above `maxDocFreq`. Default off —
    // the oracle-pinned configuration keeps exact semantics.
    val allSh = cached(shingles(docs))
    val sh = capByDocFreq(allSh, maxDocFreq)
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    // one row per doc — corpus-sized, so the scoring joins shuffle on doc_id
    val sizes = allSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // scored pairs are threshold-INDEPENDENT and near-dup-rate-sized (tiny
    // next to the corpus): cache them pre-filter so runs at different
    // thresholds over the same docs (scoring, then clustering) share one
    // shingle-join computation via the plan cache. Entries are MEMORY_AND_DISK
    // and LRU-evicted under pressure; a long-lived session cycling many
    // corpora can release them explicitly (spark.catalog.clearCache())
    val scoredC = cached(jaccardScored(inter, "a", "b", sizes, sizes))
    scoredC.where(col("jaccard") >= threshold)
  }

  /**
   * Cross-corpus n-gram Jaccard: near-dup pairs BETWEEN two corpora — the
   * incremental-dedup step a growing training set runs on every incoming
   * crawl batch (drop an incoming doc if it near-duplicates anything already
   * kept), where a self-join over the union would waste the whole
   * existing×existing quadrant. Same shingle-blocking shape as
   * [[ngramJaccard]]: a pair meets only on a shared shingle, both shingle
   * frames shuffle on the shingle key, nothing broadcasts the corpora.
   *
   * @param maxDocFreq skew cap applied to the EXISTING side's document
   *        frequency (at scale the existing set is the big one and carries
   *        the boilerplate); incoming shingles are never dropped.
   * @return (incoming_id, existing_id, jaccard) with jaccard >= threshold.
   */
  def crossNgramJaccard(incoming: DataFrame, existing: DataFrame, threshold: Double = 0.8,
                        maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val shIn = cached(shingles(incoming))
    val allShEx = cached(shingles(existing))
    val shEx = capByDocFreq(allShEx, maxDocFreq)
    val inter = shIn.as("x").join(shEx.as("y"), col("x.s") === col("y.s"))
      .groupBy(col("x.doc_id").as("incoming_id"), col("y.doc_id").as("existing_id"))
      .agg(count(lit(1)).as("inter"))
    val sizesIn = shIn.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sizesEx = allShEx.groupBy("doc_id").agg(count(lit(1)).as("n"))
    jaccardScored(inter, "incoming_id", "existing_id", sizesIn, sizesEx)
      .where(col("jaccard") >= threshold)
  }

  /**
   * Asymmetric shingle CONTAINMENT near-dup pairs — the doc-in-doc detector
   * Jaccard structurally misses: a short doc quoted wholesale inside a long
   * one has Jaccard ≈ |A|/|B| (arbitrarily small as B grows) but containment
   * `|A∩B| / min(|A|, |B|) = 1`. This is the near-dup signal for partial
   * copies — article + boilerplate wrapper, aggregator pages, quote farms —
   * the curation case where a training corpus double-counts a passage even
   * though no symmetric score fires (Broder's resemblance-vs-containment
   * distinction, applied to word 3-gram shingle sets).
   *
   * Scale shape: identical to [[ngramJaccard]] — the shingle IS the blocking
   * key (disjoint docs never meet), `maxDocFreq` caps k²-pair boilerplate
   * shingles out of CANDIDATE generation, sizes always come from the uncapped
   * shingle frames so scores stay comparable. The shingle frame is cache-
   * shared with the Jaccard family: running both audits costs one shingle
   * build.
   *
   * @return (a, b, n_a, n_b, containment) with a < b and containment
   *         >= threshold; `n_a`/`n_b` are the distinct-shingle set sizes so
   *         the consumer can see WHICH side is the contained one.
   */
  def containment(docs: DataFrame, threshold: Double = 0.5,
                  maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val allSh = cached(shingles(docs))
    val sh = capByDocFreq(allSh, maxDocFreq)
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = allSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("sa.n").as("n_a"), col("sb.n").as("n_b"),
        (col("inter").cast("double") /
          least(col("sa.n"), col("sb.n")).cast("double")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /**
   * Near-dup clustering: connected components over a candidate-pair frame
   * `(a, b)` — the step a real dedup pipeline runs after pair generation, so
   * each group of transitively-linked near-duplicates keeps ONE
   * representative (the min doc_id). Min-label propagation: every node starts
   * as its own label and repeatedly takes the min over its neighborhood until
   * a fixpoint — each sweep is one shuffle join on doc_id (no collected edge
   * list, no driver graph), so it scales like any distributed
   * connected-components; sweeps needed = component diameter, which for
   * near-dup clusters is tiny. The loop stops on a converged sweep (count of
   * changed labels = 0) and is capped by `maxIters` as a safety bound.
   *
   * Below `driverCutoff` pairs the components are solved with a driver-side
   * union-find instead (driver-orderable id types only — binary/array/struct
   * ids always take the distributed loop, whose `min` aggregate orders them
   * natively): the pair frame at near-dup rates is usually MUCH
   * smaller than the sweep loop's fixed cost (each distributed sweep is
   * several scheduler round-trips; a half-million-pair union-find is
   * milliseconds). The cutoff bounds driver memory explicitly — collected
   * rows plus the union-find maps peak around ~100 MB at the 500k default
   * (more with long string ids; size the cutoff to the driver heap) — so
   * this stays a deliberately-bounded driver round-trip, the same pattern
   * as the IVF seed collect, while a 100 TB pair frame takes the
   * distributed loop. Both paths produce identical labels (equality-pinned
   * by spec, including UTF8String ordering for string ids).
   *
   * @return (doc_id, cluster_id) for every doc appearing in `pairs`, where
   *         cluster_id = min doc_id of its component.
   */
  def clusters(pairs: DataFrame, maxIters: Int = 8, driverCutoff: Long = 500000L): DataFrame = {
    // NULL ids have no component semantics (SQL joins drop them, the driver
    // path would NPE ordering them): exclude them identically on both paths
    val cleanPairs = pairs.where(col("a").isNotNull && col("b").isNotNull)
    // never destroy a cache the CALLER owns — only unpersist what we cached
    val callerCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    // the pair frame is referenced four times below (direction flip +
    // self-loops): cache AND materialize it first — a lazy cache would still
    // compute the expensive upstream pair generator once per union branch
    // inside the first job, since sibling branches can't read a cache that is
    // being populated by the same stage
    val p = cached(if (callerCached) pairs else cleanPairs)
    val pClean = if (callerCached) cleanPairs else p
    val nPairs = pClean.count()
    if (nPairs <= driverCutoff && driverOrderable(pClean.schema("a").dataType)) {
      val out = clustersDriver(pClean)
      if (!callerCached) p.unpersist()
      return out
    }
    // Sweep frames are O(pairs) — at near-dup rates orders of magnitude
    // smaller than the corpus — so the session-wide shuffle width (sized for
    // corpus scans) spends ~all its sweep time on task scheduling. Size the
    // sweep shuffles to the data (~100k edges per partition, clamped to the
    // session setting, so a 100 TB pair frame still gets the full width) and
    // restore the conf after the loop. AQE cannot do this coalescing itself:
    // cached-plan output partitioning is pinned (canChangeCachedPlanOutput-
    // Partitioning=false), and every sweep state below is cached. The swap is
    // session-wide while the loop runs: a concurrent query planned in the
    // same session during that window would inherit the narrow width — run
    // clusters() on its own session (newSession/cloneSession) in multi-tenant
    // drivers.
    val sess = p.sparkSession
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions")
    val nParts = math.max(1L, math.min(prevParts.toLong, nPairs / 100000L + 1L)).toInt
    // undirected edges PLUS self-loops: a propagation sweep is then a single
    // `join + min` with ONE reference to the label frame — sweeps compose
    // lazily into a linear DAG (no branch duplication), so one Spark action
    // executes several sweeps
    // no distinct: duplicate edges can't change a min-aggregate, and the
    // dedup shuffle would cost more than the duplicates do
    // materialized ONCE at the sweep width: the raw union is 4 branches x the
    // pair frame's (corpus-scan-sized) partitioning, so reading it lazily
    // re-schedules ~4x pairs-partitions near-empty tasks per sweep — at
    // near-dup pair volumes that scheduling dwarfs the data. One repartition
    // to nParts (hash on the join key) makes every subsequent sweep read
    // nParts data-sized partitions instead.
    val edges = cached(
      pClean.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pClean.select(col("b").as("src"), col("a").as("dst")))
        .unionByName(pClean.select(col("a").as("src"), col("a").as("dst")))
        .unionByName(pClean.select(col("b").as("src"), col("b").as("dst")))
        .repartition(nParts, col("dst")))
    edges.count() // one materialization; every sweep reads this nParts-wide cache
    if (!callerCached) p.unpersist() // pair content now lives (4x, still tiny) in edges
    def sweep(l: DataFrame): DataFrame =
      edges
        .join(l.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("label"))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    // Fixpoint iff a sweep changes no label. Run 2 sweeps + 1 more and
    // compare the two states in a SINGLE (short-circuiting) action —
    // type-agnostic over the id column and overflow-free, unlike a label-sum
    // certificate. Tiny-diameter components (the near-dup case — mostly
    // cliques) converge in one pass, larger ones loop — maxIters * 3 sweeps
    // bounds the reachable diameter.
    var iters = 0
    var converged = false
    sess.conf.set("spark.sql.shuffle.partitions", nParts)
    try {
      while (!converged && iters < maxIters) {
        val s2 = sweep(sweep(labels)).cache()
        val s3 = sweep(s2).cache()
        converged = s3
          .join(s2.withColumnRenamed("label", "prev"), "id")
          .where(col("label") =!= col("prev"))
          .isEmpty
        labels.unpersist()
        s2.unpersist()
        labels = s3
        iters += 1
      }
    } finally sess.conf.set("spark.sql.shuffle.partitions", prevParts)
    // the returned label frame is itself cached; edges only backs its
    // (lineage-valid) recompute path, so release the executor storage now
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /**
   * Near-dup representative selection by QUALITY: one survivor per jaccard
   * component like the keep-list, but the survivor is the highest-quality
   * member — the production rule (min-id keeps an arbitrary doc; a curation
   * pipeline keeps the best one). Singletons keep themselves. Total order:
   * quality desc (NULL — degenerate text — below every real score), then
   * doc_id asc; quality is bit-exact cross-engine (the text_quality gate),
   * so the winner can never differ between engines.
   *
   * Scale: pair generation and clustering are [[ngramJaccard]]/[[clusters]]
   * (pass `maxDocFreq` to cap boilerplate shingles out of candidate
   * generation — the 100 TB configuration, same contract as the capped
   * jaccard gate); quality is a row-wise column on one corpus scan; the
   * winner per cluster is a `max_by` hash aggregate (map-side combined) over
   * the member frame and joins back on the well-distributed cluster key.
   * Nothing corpus-sized is broadcast or windowed.
   *
   * @return one row per doc: (doc_id, cluster_id, quality, keep_doc_id)
   */
  def keepBest(docs: DataFrame, threshold: Double = 0.7,
               maxDocFreq: Long = Long.MaxValue): DataFrame =
    keepBestFrom(docs,
      clusters(ngramJaccard(docs, threshold, maxDocFreq).select("a", "b")))

  /** [[keepBest]] over a PRE-BUILT components frame (the shared-fetch entry
    * point, like `bm25TopKFromPostings`): one `clusters(ngramJaccard(...))`
    * build serves every cluster-consuming gate. `comps` must be the
    * components of exactly the ngramJaccard pairs [[keepBest]] would
    * compute. */
  def keepBestFrom(docs: DataFrame, comps: DataFrame): DataFrame = {
    val member = docs
      .select(col("doc_id"), graft.operators.TextAnalysis.qualityCol.as("quality"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"), col("quality"))
    // Two-stage, id-type-agnostic selection (works for string doc_ids and any
    // quality range, unlike a `-doc_id` tiebreak): (1) per-cluster max of
    // (has_quality, quality) — the leading boolean puts NULL quality below
    // every real score without a sentinel; (2) min doc_id among the rows tied
    // at that max (Spark `min` orders strings as UTF8, same as the engine's
    // sort). Both aggregates map-side combine on the cluster key.
    val best = member.groupBy("cluster_id").agg(
      max(struct(col("quality").isNotNull.as("has"), col("quality").as("q"))).as("mq"))
    val winners = member.join(best, "cluster_id")
      .where(col("quality") <=> col("mq").getField("q"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("keep_doc_id"))
    member.join(winners, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("keep_doc_id"))
  }

  /** Id types whose collected JVM values order identically to Spark's `min`
    * aggregate on the driver (strings get the UTF8String comparator below).
    * Anything else — binary (Array[Byte] is not Comparable), arrays, structs
    * — takes the distributed sweep regardless of pair count, so both paths
    * stay equivalent for every id type `clusters` accepts. */
  private def driverOrderable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** Union-find over a collected (bounded, see [[clusters]]) pair list.
    * Id-type-agnostic within [[driverOrderable]] types: ids come back as
    * whatever the `a`/`b` columns hold (long, int, string, ...) and the min
    * label uses their natural ordering — identical to the distributed loop's
    * `min` aggregate. */
  private def clustersDriver(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val idType = p.schema("a").dataType
    val parent = new java.util.HashMap[Any, Any]()
    // every id ever seen — self-pairs (a == b) never create a parent entry
    // but must still label themselves, exactly like the distributed loop's
    // self-loop edges
    val seen = new java.util.LinkedHashSet[Any]()
    @annotation.tailrec
    def find(x: Any): Any = {
      val px = parent.getOrDefault(x, x)
      if (px == x) x
      else {
        parent.put(x, parent.getOrDefault(px, px)) // path halving
        find(parent.get(x))
      }
    }
    p.select(col("a"), col("b")).collect().foreach { r =>
      seen.add(r.get(0)); seen.add(r.get(1))
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) parent.put(ra, rb)
    }
    // min must order like Spark's min aggregate: strings compare as UTF-8
    // bytes (UTF8String), not UTF-16 code units (String.compareTo) — they
    // differ for supplementary characters
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val minOfRoot = new java.util.HashMap[Any, Any]()
    val ids = seen.toArray
    ids.foreach { id =>
      val root = find(id)
      val cur = minOfRoot.get(root)
      if (cur == null || lt(id, cur)) minOfRoot.put(root, id)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    val rows: java.util.List[org.apache.spark.sql.Row] = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
      ids.foreach(id => l.add(org.apache.spark.sql.Row(id, minOfRoot.get(find(id)))))
      l
    }
    spark.createDataFrame(rows, schema)
  }

  /**
   * Embedding-cosine near-dup dedup: the keep/drop decision for EVERY vector
   * of an embedding table. Candidate pairs come from
   * [[Similarity.lshBucketedPairs]] (random-hyperplane LSH buckets — exact
   * cosine is only computed inside a bucket, never all-pairs), transitively
   * linked near-dups collapse through [[clusters]], and each vector keeps its
   * component's min vec_id — itself when it has no near-dup.
   *
   * Scale: the corpus never self-joins outside LSH buckets; the component
   * frame is near-dup-rate-sized (tiny next to the corpus), so the final
   * left join shuffles the corpus once on vec_id and AQE broadcasts the
   * representative side when it is genuinely small.
   *
   * @return (vec_id, keep_id) for every row of `emb`; a vector is a drop
   *         candidate iff keep_id != vec_id.
   */
  def embedCosine(emb: DataFrame, minCosine: Double = 0.9, bits: Int = 8): DataFrame = {
    val pairs = Similarity.lshBucketedPairs(emb, bits, minCosine).select(col("a"), col("b"))
    val reps = clusters(pairs).select(col("doc_id").as("vec_id"), col("cluster_id"))
    emb.select("vec_id").join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("cluster_id"), col("vec_id")).as("keep_id"))
  }

  /**
   * SimHash: 64-bit signature from the distinct-word md5s, packed in one
   * LONG. Logical bit i comes from hex digit i/4 of the word hash (bit i%4 of
   * the digit's value); the doc bit is the sign of the +1/-1 balance over its
   * words. Near-dup pairs block on band PAIRS of the signature and pass a
   * Hamming-distance threshold (see [[simhashPairs]]).
   *
   * The signature frame is cache()d by [[simhashPairs]] for the duration of
   * its self-join; a long-lived session cycling many corpora should release
   * entries via `spark.catalog.clearCache()` (entries are MEMORY_AND_DISK and
   * LRU-evicted under pressure, so this is hygiene, not a correctness need).
   */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .distinct()
      .select(col("doc_id"), md5(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(collect_list("h").as("hs"))
      // native one-pass signature (graft.functions.SimHashBits): identical
      // integer arithmetic to the 32-way declarative fold it replaces (and to
      // the SQL oracle), without the interpreted per-bit lambda re-scan
      .select(col("doc_id"), graft.functions.VectorFunctions.simhashBits(col("hs")).as("simhash"))

  /** Bands in the SimHash blocking; with [[graft.functions.SimHashBits.Bits]]
    * = 64-bit signatures each band is 8 bits. */
  val SimHashBands = 8

  /** SimHash near-dup pairs, blocked on PAIRS of the [[SimHashBands]]
    * signature bands: two docs are candidates iff they agree on at least one
    * of the C(8,2)=28 band pairs (both bands of the pair identical). By
    * pigeonhole, d differing bits touch at most d bands, so a pair at Hamming
    * distance ≤ [[SimHashBands]]−2 (= 6, the default threshold) agrees on ≥ 2
    * whole bands — i.e. on the band pair formed by any two of them — a real
    * recall GUARANTEE. Versus blocking on single bands, the pair key doubles
    * the key width: 2^16 = 65 536 possible values instead of 2^8 = 256, so a
    * bucket holds ~corpus/65536 docs and the in-bucket self-join stays linear
    * in the corpus instead of quadratic in corpus/256 — the difference
    * between a plan that survives 100× and one that explodes (the lesson of
    * the round-3 single-band version: 18× slower from hot 256-value buckets).
    *
    * Each (band-pair, key) is the join key of a shuffle self-join on a
    * well-distributed key — the signature table is corpus-sized and must
    * never be broadcast. Hamming distance is a single codegen'd
    * `bit_count(x.sig ^ y.sig)` on the packed LONG signatures (no interpreted
    * per-bit lambda); pairs colliding in several band pairs are deduped by
    * the final distinct over the (already threshold-filtered, near-dup-rate-
    * sized) result, as in [[minhashLsh]].
    *
    * @param maxBucket skew guard for corpus scale, off by default: a
    *        (band-pair, key) bucket of k docs emits k^2/2 candidate pairs, so
    *        at 100 TB degenerate keys (e.g. the all-zeros signature of empty
    *        docs, boilerplate-heavy corpora) are dropped from CANDIDATE
    *        GENERATION above this bucket size — trading bounded recall loss
    *        on ultra-hot buckets for a hard quadratic-blowup cap, exactly
    *        like [[ngramJaccard]]'s `maxDocFreq`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6, maxBucket: Long = Long.MaxValue): DataFrame = {
    val bits = graft.functions.SimHashBits.Bits
    require(maxHamming <= SimHashBands - 2,
      s"band-pair blocking guarantees recall only at Hamming <= ${SimHashBands - 2}")
    val width = bits / SimHashBands
    val sh = cached(simhashSignatures(docs))
    // band b = logical bits [b*width, (b+1)*width) = long bits (63-b*width)
    // down — a shift+mask on the packed signature
    def band(b: Int): Column =
      shiftright(col("simhash"), (SimHashBands - 1 - b) * width).bitwiseAND(lit((1L << width) - 1))
    val bandPairs = for { i <- 0 until SimHashBands; j <- (i + 1) until SimHashBands } yield (i, j)
    val keyed = sh.select(col("doc_id"), col("simhash"),
      explode(array(bandPairs.zipWithIndex.map { case ((i, j), p) =>
        struct(lit(p).as("bp"), (shiftleft(band(i), width) + band(j)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.bp").as("bp"), col("bk.key").as("key"))
    val blocked = if (maxBucket == Long.MaxValue) keyed else {
      // bucket sizes aggregate to ≤ 28×65536 rows per corpus — tiny, AQE may
      // broadcast it; the join itself shuffles on the distributed (bp, key)
      val ok = keyed.groupBy("bp", "key").agg(count(lit(1)).as("bucket_n"))
        .where(col("bucket_n") <= maxBucket)
      keyed.join(ok.select("bp", "key"), Seq("bp", "key"))
    }
    val xor = col("x.simhash").bitwiseXOR(col("y.simhash"))
    val hamming = bit_count(xor).cast("long")
    if (maxBucket == Long.MaxValue) {
      // Near-dups agree on MANY band pairs (>= 2 guaranteed, often most of
      // the 28), so the banded join emits each pair once per agreeing pair —
      // up to 28 duplicate rows each paying a Hamming eval and a dedup
      // shuffle. Emit from the LOWEST agreeing band pair only: a when-chain
      // over the 28 (bands-i-and-j-clean-in-xor) masks — first match wins —
      // must equal the row's own bp. Bitwise compares in codegen, no
      // distinct() stage, identical result set (the distinct form keeps one
      // row per (a,b) too, and hamming is a function of the pair).
      val firstAgreeing = bandPairs.zipWithIndex.tail.foldLeft(
        when(agreesOn(xor, bandPairs.head, width), lit(0))) { case (acc, ((i, j), p)) =>
          acc.when(agreesOn(xor, (i, j), width), lit(p))
        }
      blocked.as("x").join(blocked.as("y"),
          col("x.bp") === col("y.bp") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .where(firstAgreeing === col("x.bp"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), hamming.as("hamming"))
        .where(col("hamming") <= maxHamming)
    } else {
      // capped path: a pair's lowest agreeing bucket may have been dropped by
      // the skew cap while a later one survived, so emission must stay
      // bucket-local and dedup at the end (the capped pair volume is bounded
      // by construction, so this distinct is cheap)
      blocked.as("x").join(blocked.as("y"),
          col("x.bp") === col("y.bp") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), hamming.as("hamming"))
        .where(col("hamming") <= maxHamming)
        .distinct()
    }
  }

  /** Bands i and j of the signature XOR are both all-zero — the two
    * signatures agree on band pair (i, j). */
  private def agreesOn(xor: Column, ij: (Int, Int), width: Int): Column = {
    val (i, j) = ij
    def mask(b: Int): Long = ((1L << width) - 1) << ((SimHashBands - 1 - b) * width)
    xor.bitwiseAND(lit(mask(i) | mask(j))) === lit(0L)
  }

  /**
   * SimHash near-dup SCREEN — the per-document flag view of
   * [[simhashPairs]], in the BOUNDED-REPRESENTATIVE formulation a streaming
   * pipeline can carry as state: each (band-pair, key) bucket keeps only its
   * `maxPerBucket` LOWEST doc ids as representatives, and a document flags
   * iff some lower-id representative in one of its 28 buckets is within
   * `maxHamming`. The flagged doc reports its best match by
   * (hamming, match_id) — fully tie-broken.
   *
   * The cap is the recall/state trade stated explicitly: an over-full
   * bucket screens only against its R earliest members (bounded memory at
   * any corpus size), exactly the behavior the STREAMING twin
   * [[simhashStreamScreen]] must reproduce — the spec pins
   * one-batch-stream == this operator.
   *
   * Scale: signatures once per doc; the reps frame is ≤ 28·R rows per
   * bucket key (window partitioned by the well-distributed (bp, key));
   * candidate volume ≤ 28·R per document — linear in the corpus by
   * construction, no quadratic bucket risk at all (tighter than
   * [[simhashPairs]]' optional cap).
   *
   * @return one row per doc: (doc_id, near_dup, match_id, hamming) —
   *         match_id/hamming NULL when near_dup = 0.
   */
  def simhashScreen(docs: DataFrame, maxHamming: Int = 6,
                    maxPerBucket: Int = 8): DataFrame = {
    val bits = graft.functions.SimHashBits.Bits
    require(maxHamming <= SimHashBands - 2,
      s"band-pair blocking guarantees recall only at Hamming <= ${SimHashBands - 2}")
    require(maxPerBucket >= 1, "maxPerBucket >= 1")
    val width = bits / SimHashBands
    val sh = cached(simhashSignatures(docs))
    def band(b: Int): Column =
      shiftright(col("simhash"), (SimHashBands - 1 - b) * width).bitwiseAND(lit((1L << width) - 1))
    val bandPairs = for { i <- 0 until SimHashBands; j <- (i + 1) until SimHashBands } yield (i, j)
    val keyed = sh.select(col("doc_id"), col("simhash"),
      explode(array(bandPairs.zipWithIndex.map { case ((i, j), p) =>
        struct(lit(p).as("bp"), (shiftleft(band(i), width) + band(j)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.bp").as("bp"), col("bk.key").as("key"))
    val repW = org.apache.spark.sql.expressions.Window
      .partitionBy("bp", "key").orderBy("doc_id")
    val reps = keyed
      .withColumn("rn", row_number().over(repW)).where(col("rn") <= maxPerBucket)
      .select(col("bp"), col("key"), col("doc_id").as("rep_id"), col("simhash").as("rep_sig"))
    val hits = keyed.join(reps, Seq("bp", "key"))
      .where(col("rep_id") < col("doc_id"))
      .select(col("doc_id"), col("rep_id"),
        bit_count(col("simhash").bitwiseXOR(col("rep_sig"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("doc_id")
      .agg(min(struct(col("hamming"), col("rep_id"))).as("m"))
      .select(col("doc_id"), col("m.hamming").as("hamming"), col("m.rep_id").as("match_id"))
    sh.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hamming").isNotNull, 1L).otherwise(0L).as("near_dup"),
        col("match_id"), col("hamming"))
  }

  /**
   * STREAMING near-dup screen — [[simhashScreen]] for an unbounded stream,
   * completing the streaming-screen family ([[bloomFlag]] covers EXACT
   * dups; this covers NEAR dups): per (band-pair, key) bucket, the
   * representative list (≤ `maxPerBucket` (doc_id, signature) pairs —
   * ≤ 16·R bytes of state per live bucket) carried in
   * `flatMapGroupsWithState`; each arriving document emits one verdict row
   * per bucket it hashes into, flagged iff a lower-id representative sits
   * within `maxHamming`. The per-DOC flag is the OR over its 28 bucket
   * verdicts — one tiny groupBy on this output (the [[Sketches.cmsStream]]
   * per-lane pattern; the spec pins one-batch-stream == the batch screen).
   *
   * Signatures are computed PER ROW in plain Scala (identical arithmetic to
   * [[simhashSignatures]]: split-on-space with empties, distinct lowercase
   * words, md5 hex, [[graft.functions.SimHashBits]] packing) — no
   * aggregation before the stateful operator, so the stream needs no
   * watermark and state stays bounded by construction. Batch rows process
   * in doc_id order, making the kept representatives the bucket's lowest
   * ids — the batch operator's exact rep set.
   *
   * @return streaming (doc_id, bp_key, near_dup, match_id, hamming) — one
   *         row per (doc, bucket).
   */
  def simhashStreamScreen(docs: DataFrame, maxHamming: Int = 6,
                          maxPerBucket: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(maxHamming <= SimHashBands - 2,
      s"band-pair blocking guarantees recall only at Hamming <= ${SimHashBands - 2}")
    val spark = docs.sparkSession
    import spark.implicits._
    val width = graft.functions.SimHashBits.Bits / SimHashBands
    val mask = (1L << width) - 1
    val nBands = SimHashBands
    val banded = docs
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = Dedup.simhashOfText(text)
        var p = 0
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](nBands * (nBands - 1) / 2)
        var i = 0
        while (i < nBands) {
          var j = i + 1
          while (j < nBands) {
            val bi = (sig >>> ((nBands - 1 - i) * width)) & mask
            val bj = (sig >>> ((nBands - 1 - j) * width)) & mask
            out += (((p.toLong << 16) | (bi << width) | bj, id, sig))
            p += 1; j += 1
          }
          i += 1
        }
        out
      }
    banded.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bpKey: Long, rows: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[List[(Long, Long)]]) =>
          var reps = state.getOption.getOrElse(Nil) // ascending doc_id, ≤ R
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Option[Long], Option[Long])]()
          rows.toVector.sortBy(_._2).foreach { case (_, id, sig) =>
            var best: Option[(Long, Long)] = None // (hamming, rep_id)
            reps.foreach { case (repId, repSig) =>
              if (repId < id) {
                val h = java.lang.Long.bitCount(repSig ^ sig).toLong
                val better = best.isEmpty ||
                  h < best.get._1 || (h == best.get._1 && repId < best.get._2)
                if (h <= maxHamming && better) best = Some((h, repId))
              }
            }
            out += ((id, bpKey, if (best.isDefined) 1L else 0L,
              best.map(_._2), best.map(_._1)))
            if (reps.size < maxPerBucket) reps = reps :+ ((id, sig))
          }
          state.update(reps)
          out.iterator
      }
      .toDF("doc_id", "bp_key", "near_dup", "match_id", "hamming")
  }

  /** The [[simhashSignatures]] arithmetic for ONE document in plain Scala —
    * split on single spaces KEEPING empties (Spark `split` semantics),
    * distinct lowercase words, lowercase md5 hex, packed signature. */
  private[operators] def simhashOfText(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = text.toLowerCase.split(" ", -1).toSeq.distinct.map { w =>
      val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < d.length) {
        sb.append(java.lang.Character.forDigit((d(i) >> 4) & 0xf, 16))
        sb.append(java.lang.Character.forDigit(d(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }
    graft.functions.SimHashBits.signatureOf(hashes)
  }

  /**
   * Passage-level exact dedup — the C4/RefinedWeb boilerplate-removal step:
   * documents are cut into consecutive `wordsPerChunk`-word passages, every
   * passage whose corpus-wide DOCUMENT frequency reaches `maxDocFreq` is
   * dropped (navigation chrome, license footers, repeated headers), and each
   * document is reassembled from its surviving passages in original order.
   * Unlike [[exact]] (whole-doc) and [[ngramJaccard]] (whole-doc similarity),
   * this edits INSIDE documents — the two stages remove different duplication.
   *
   * Scale: three shuffles, all on well-distributed keys — passage-frequency
   * group-by (passage text), frequency join back (same key; AQE broadcasts
   * the frequency side when the duplicated-passage set is small, the common
   * case), reassembly group-by (doc_id). No self-join, no window over the
   * corpus, no driver state. The per-row chunking lambda is a higher-order
   * `transform`, interpreted per CHUNK (one closure call per `wordsPerChunk`
   * words) — unlike the per-WINDOW shingle path ([[shingles]]) this is off
   * the hot path by a factor of the chunk width.
   *
   * @return (doc_id, text, removed_chunks) for every input doc; `text` is ""
   *         when every passage was boilerplate. NULL input text is treated
   *         as "" (a NULL would otherwise explode to zero chunk rows and
   *         silently drop the doc from the returned corpus, breaking the
   *         every-input-doc contract).
   */
  def passageDedup(docs: DataFrame, wordsPerChunk: Int = 10, maxDocFreq: Long = 2L): DataFrame = {
    require(wordsPerChunk >= 1, "wordsPerChunk >= 1")
    val k = wordsPerChunk
    val chunks = docs
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L), floor((size(col("ws")) - 1) / k).cast("long")),
          i => array_join(slice(col("ws"), (i * k + 1).cast("int"), lit(k)), " "))))
      .select(col("doc_id"), col("pos").as("ci"), col("col").as("chunk"))
    val freq = chunks.groupBy("chunk").agg(countDistinct("doc_id").as("df"))
    chunks.join(freq, "chunk")
      .groupBy("doc_id")
      .agg(
        // collect_list skips the nulls `when` leaves for dropped passages;
        // sorting the (ci, chunk) structs restores original passage order
        array_join(transform(
          array_sort(collect_list(when(col("df") < maxDocFreq, struct(col("ci"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("text"),
        count(when(col("df") >= maxDocFreq, 1)).as("removed_chunks"))
  }

  /**
   * Line-level boilerplate removal (the C4/CCNet cleanup step): drop every
   * LINE that occurs in >= `minDocs` distinct documents — navigation menus,
   * cookie banners, copyright footers, share-bar text — and reassemble each
   * document from its surviving lines in original order. Distinct from
   * [[passageDedup]] (fixed-width word chunks, frequency on chunk text):
   * here the unit is the newline-delimited line, the granularity real web
   * boilerplate arrives at, and the threshold is a distinct-DOCUMENT count,
   * so a line repeated many times inside one document is not boilerplate.
   *
   * Scale: the same three corpus-sized shuffles as passage dedup, all on
   * well-distributed keys — (line, doc_id) distinct + line-frequency
   * group-by (partial map-side), frequency join back on the line key (AQE
   * broadcasts the frequency side when the over-threshold set is small — the
   * common case — and skew-splits a pathologically hot line), reassembly
   * group-by (doc_id). No self-join, no window over the corpus, no driver
   * state; line keys cap at the longest line, and the threshold only ever
   * REMOVES hot keys from the output.
   *
   * @return (doc_id, text_clean, n_lines_kept, n_lines_dropped) for every
   *         input doc; `text_clean` is "" when every line was boilerplate.
   *         NULL text reads as "" (one empty line), keeping the
   *         every-input-doc contract.
   */
  def boilerplateStrip(docs: DataFrame, minDocs: Long = 50L): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2 (1 would drop every line)")
    val lines = docs
      .select(col("doc_id"), posexplode(split(coalesce(col("text"), lit("")), "\n")))
      .select(col("doc_id"), col("pos").as("li"), col("col").as("line"))
    val freq = lines.groupBy("line").agg(countDistinct("doc_id").as("df"))
    // Empty lines are paragraph breaks, not boilerplate: any multi-paragraph
    // corpus has "" in >= minDocs docs, and frequency-dropping it would
    // collapse paragraph structure corpus-wide (GopherRepStats pins the
    // opposite rule) — so "" is kept unconditionally.
    val keep = col("line") === "" || col("df") < minDocs
    lines.join(freq, "line")
      .groupBy("doc_id")
      .agg(
        // collect_list skips the nulls `when` leaves for dropped lines;
        // sorting the (li, line) structs restores original line order
        array_join(transform(
          array_sort(collect_list(when(keep, struct(col("li"), col("line"))))),
          s => s.getField("line")), "\n").as("text_clean"),
        count(when(keep, 1)).as("n_lines_kept"),
        count(when(!keep, 1)).as("n_lines_dropped"))
  }

  /**
   * Exact-substring duplicate spans (the Lee et al. "Deduplicating Training
   * Data" step): every maximal token span of length >= `k` whose text appears
   * `minCount`+ times in the corpus at ANY offset — repeated license
   * paragraphs, syndicated passages, templated intros — reported per document
   * as (span_start, span_end) token offsets. [[passageDedup]] only sees
   * duplication aligned to its fixed chunk grid; a shared 50-token passage
   * entering two documents at different offsets straddles both documents'
   * chunk boundaries and survives chunk dedup entirely — this operator
   * catches it (pinned by spec).
   *
   * Method: every k-token window (stride 1) hashes to md5; window-hash counts
   * mark duplicated windows (a span of j>=k repeated tokens is exactly a run
   * of j-k+1 consecutive duplicated windows); per-document runs merge to
   * maximal spans with a classic gaps-and-islands pass. A true suffix-array
   * build (the paper's single-node method) orders the whole corpus globally;
   * window-hash counting reaches the same >=k-token spans with corpus-sized
   * SHUFFLES instead of a global sort — the Spark-native trade.
   *
   * Scale: no self-join, no candidate pairs — ONE aggregate on the window
   * hash (partial map-side, so a boilerplate window repeated 10M times costs
   * its count, not a 10M-row group), one shuffle join of the window frame
   * against the (small) duplicated-hash set on the same key (AQE skew-splits
   * a pathologically hot hash), and a per-document window whose input is
   * only the DUPLICATED windows (duplicated fraction of the corpus, and
   * bounded per partition key by document length). The md5 window hash caps
   * shuffle width at 32 bytes regardless of k.
   *
   * Output: (doc_id, span_start, span_end, span_tokens, n_windows), token
   * offsets 0-based, end exclusive. Documents shorter than k tokens have no
   * windows; NULL text reads as "".
   */
  def substringSpans(docs: DataFrame, k: Int = 10, minCount: Long = 2L): DataFrame = {
    require(k >= 2, "k >= 2 (a 1-token window flags every repeated word)")
    require(minCount >= 2, "minCount >= 2")
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("ws"))
      .where(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("ws")) - (k - 1)),
          i => md5(array_join(slice(col("ws"), i, lit(k)), " ")))))
      .select(col("doc_id"), col("pos").cast("long").as("s"), col("col").as("gh"))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount).select("gh")
    val hits = grams.join(dup, "gh")
      .select(col("doc_id"), col("s"), (col("s") + k).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("s")
    val prevMaxEnd = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_island",
        when(prevMaxEnd.isNull || col("s") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("s").as("span_start"), max("e").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"), col("n_windows"))
  }

  /**
   * Cleaned corpus from [[substringSpans]]: every token covered by a
   * duplicated >=k-token span is removed and the document reassembled from
   * the survivors in order — the whole-corpus "strip repeated passages" step
   * (the harsher drop-ALL-occurrences variant, like [[passageDedup]]'s
   * df-threshold drop; Lee et al. keep one occurrence per cluster, which
   * needs a cross-document election per duplicate cluster — documented
   * trade: drop-all is one corpus pass and monotone under corpus growth).
   *
   * Plan: the span frame groups to a per-doc span ARRAY (bounded by spans
   * per document, not corpus size), left-joins the corpus on doc_id, and a
   * codegen'd `filter(ws, (w, i) -> no span covers i)` rebuilds each text —
   * no token explode, no range join.
   *
   * @return (doc_id, text, removed_tokens) for every input doc.
   */
  def stripSubstringSpans(docs: DataFrame, k: Int = 10, minCount: Long = 2L): DataFrame = {
    val spans = substringSpans(docs, k, minCount)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("ws"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>")).as("spans"))
      .select(col("doc_id"),
        array_join(filter(col("ws"), (w, i) =>
          !exists(col("spans"), s =>
            i >= s.getField("span_start") && i < s.getField("span_end"))), " ").as("text"),
        aggregate(col("spans"),
          lit(0L), (acc, s) => acc + (s.getField("span_end") - s.getField("span_start")))
          .as("removed_tokens"))
  }

  /** Bloom position i of content hash `h`: the first `hexDigits` hex digits
    * of md5("i:" || h) as an integer — k independent deterministic hashes any
    * md5-capable engine reproduces. */
  private def bloomPos(i: Int, h: Column, hexDigits: Int): Column =
    conv(substring(md5(concat(lit(s"$i:"), h)), 1, hexDigits), 16, 10).cast("long")

  /**
   * Bloom-filter cross-corpus screen: flag incoming docs whose content hash
   * is PROBABLY in the existing corpus — the scale path for "have we trained
   * on this before?" against a historical corpus too large to join. The
   * existing side folds each hash's `k` bit positions (md5-derived,
   * [[bloomPos]]) into a `16^hexDigits`-bit bitset via [[graft.functions.BitsetOrAgg]]
   * (partial per task, OR-merged); incoming docs then probe the broadcast
   * bitset with `k` codegen'd bit tests — a FIXED-size broadcast (128 KiB at
   * the default 2^20 bits) regardless of corpus size, where the exact
   * semi-join ([[crossNgramJaccard]]'s exact-hash analog) would shuffle both
   * corpora.
   *
   * Standard Bloom semantics: no false negatives (an exact re-occurrence is
   * always flagged); false positives at the classic `(1-e^{-kn/m})^k` rate —
   * size `hexDigits` so `m >= ~1.44 k n log2(1/fp)`-ish for the target
   * corpus (the default 2^20 bits holds ~90k hashes at k=4 under ~2% FP; at
   * 100 TB you'd raise `hexDigits` to 7 — 2^28 bits, 32 MiB, ~25M hashes at
   * ~2% — and build per-shard filters beyond that). The decision is fully
   * deterministic (bitset membership bijects with the md5 position set), so
   * the screen has an exact SQL oracle despite being "approximate".
   */
  def bloomScreen(incoming: DataFrame, existing: DataFrame,
                  hexDigits: Int = 5, k: Int = 4): DataFrame =
    bloomProbe(incoming, bloomBits(existing, hexDigits, k), hexDigits, k)

  /** The existing-corpus side of [[bloomScreen]] as a standalone 1-row
    * bitset frame — build it ONCE (and cache the materialized row) when
    * screening many batches, e.g. a streaming ingest probing every
    * micro-batch against the same history; inlining the build in the probe
    * would re-aggregate the historical corpus per batch. */
  def bloomBits(existing: DataFrame, hexDigits: Int = 5, k: Int = 4): DataFrame = {
    // 7 hex digits = 2^28 bits = 32 MiB per aggregation buffer; 8 would mean
    // 512 MiB PER PARTIAL-AGG TASK (plus a serialize copy) — an executor-OOM
    // foot-gun, and exactly where the docstring says to shard instead
    require(hexDigits >= 2 && hexDigits <= 7, "hexDigits in 2..7 (256 bits .. 2^28 bits)")
    require(k >= 1 && k <= 16, "k in 1..16")
    val numWords = (1L << (4 * hexDigits - 6)).toInt
    existing.select(md5(col("text")).as("h"))
      .select(explode(array((0 until k).map(i => bloomPos(i, col("h"), hexDigits)): _*)).as("pos"))
      .agg(graft.functions.BitsetFunctions.bitsetOr(col("pos"), numWords).as("bits"))
  }

  /** "every position in `ps` has its bit set in `bits`" — the ONE probe
    * predicate shared by the broadcast and sharded screens so bit indexing
    * cannot drift between them. */
  private def bloomHit(ps: Column, bits: Column): Column =
    forall(ps, p =>
      element_at(bits, call_function("shiftrightunsigned", p, lit(6)).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), p.bitwiseAND(lit(63L)).cast("int"))) =!= 0L)

  /** Probe side of [[bloomScreen]] against a prebuilt [[bloomBits]] frame —
    * `hexDigits` and `k` MUST match the build (different values probe the
    * wrong bits and silently break the no-false-negative guarantee). */
  def bloomProbe(incoming: DataFrame, bits: DataFrame,
                 hexDigits: Int = 5, k: Int = 4): DataFrame = {
    require(hexDigits >= 2 && hexDigits <= 7, "hexDigits in 2..7 (256 bits .. 2^28 bits)")
    require(k >= 1 && k <= 16, "k in 1..16")
    // positions ride as ONE array so each md5 evaluates once per probe row —
    // k conjuncts referencing bloomPos directly would re-inline the hash
    // into every use site (filter predicates get no subexpression
    // elimination: 2k md5s per row instead of k)
    incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("ps", array((0 until k).map(i => bloomPos(i, col("h"), hexDigits)): _*))
      .crossJoin(broadcast(bits))
      .where(bloomHit(col("ps"), col("bits")))
      .select("doc_id", "h")
  }

  /** [[bloomProbe]]'s decision as a FLAG instead of a filter: every incoming
    * row survives with a `dup_hit` column (same [[bloomHit]] predicate, so
    * flag and filter cannot drift). This is the STREAMING screen shape: a
    * `readStream` of docs stream-static-joins the prebuilt (cached)
    * [[bloomBits]] row per micro-batch and routes on the flag — survivors to
    * the corpus sink, hits to an audit sink — without the non-equi filter
    * join a streaming plan can't express. Parameters MUST match the build. */
  def bloomFlag(incoming: DataFrame, bits: DataFrame,
                hexDigits: Int = 5, k: Int = 4): DataFrame = {
    require(hexDigits >= 2 && hexDigits <= 7, "hexDigits in 2..7 (256 bits .. 2^28 bits)")
    require(k >= 1 && k <= 16, "k in 1..16")
    incoming.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
      .withColumn("ps", array((0 until k).map(i => bloomPos(i, col("h"), hexDigits)): _*))
      .crossJoin(broadcast(bits))
      .select(col("doc_id"), col("text"), col("h"),
        bloomHit(col("ps"), col("bits")).as("dup_hit"))
  }

  /**
   * Bloom FALSE-POSITIVE-RATE audit: probe a KNOWN-NON-MEMBER batch against
   * the [[bloomBits]] filter and report the observed hit rate beside the
   * classic analytic rate `(1 − e^{−kn/m})^k` — the sizing check that tells
   * an operator whether `hexDigits`/`k` still fit the corpus BEFORE false
   * positives start silently discarding fresh training data (the screen
   * drops what it flags). Observed ≫ expected means the filter is past its
   * design load — move up a `hexDigits` or shard ([[bloomScreenSharded]]).
   *
   * Determinism: counts are exact integers (the Bloom decision bijects with
   * the md5 position set); observed_fpr is one pinned double division. The
   * analytic rate is the ONE libm-shaped expression (`exp`/`pow` can differ
   * by 1 ulp across engines), so it quantizes to DECIMAL(18,9) exactly like
   * the BM25 family's per-term ln contributions.
   *
   * @param probes rows (doc_id, text) that must NOT be members — the caller
   *               plants them (e.g. salted copies); members would inflate
   *               the "false"-positive count with true positives.
   * @return one row (n_hashes, m_bits, n_probes, n_flagged, observed_fpr,
   *         expected_fpr).
   */
  def bloomFprAudit(existing: DataFrame, probes: DataFrame,
      hexDigits: Int = 5, k: Int = 4): DataFrame = {
    val mBits = math.pow(16.0, hexDigits).toLong
    val nExist = existing.select(md5(col("text")).as("h")).distinct()
      .agg(count(lit(1)).as("n_hashes"))
    val flagged = bloomFlag(probes, bloomBits(existing, hexDigits, k), hexDigits, k)
    flagged
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("dup_hit"), 1L).otherwise(0L)).as("n_flagged"))
      .crossJoin(broadcast(nExist))
      .select(col("n_hashes"), lit(mBits).as("m_bits"), col("n_probes"), col("n_flagged"),
        (col("n_flagged").cast("double") / col("n_probes").cast("double")).as("observed_fpr"),
        pow(lit(1.0d) - exp(lit(-k.toDouble) * col("n_hashes").cast("double") / lit(mBits.toDouble)),
          lit(k.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double").as("expected_fpr"))
  }

  /** Shard key of content hash `h`: the first `shardHexDigits` hex digits of
    * md5("shard:" || h) — salted so shard routing is independent of the
    * position bits (unsalted, shard and position would share md5(i:h) prefix
    * structure and correlate). 16^shardHexDigits shards. */
  private def bloomShard(h: Column, shardHexDigits: Int): Column =
    substring(md5(concat(lit("shard:"), h)), 1, shardHexDigits)

  /**
   * SHARDED Bloom screen — the capacity path past [[bloomScreen]]'s single-
   * bitset ceiling (2^28 bits / ~25M hashes): the content-hash space routes
   * to `16^shardHexDigits` shards (salted md5 prefix, [[bloomShard]]), each
   * shard builds its own `16^hexDigits`-bit filter in ONE grouped pass over
   * the existing corpus (partial [[graft.functions.BitsetOrAgg]] buffers per
   * task, OR-merged per shard), and incoming docs JOIN their shard's row on
   * the shard key instead of probing one broadcast — each reducer holds only
   * the <= 32 MiB filters of the shards routed to it, never the whole
   * filter bank. At shardHexDigits=2, hexDigits=7: 256 x 2^28 bits = 8 GiB
   * of filter capacity (~6.4B hashes at ~2% FP) with no single buffer,
   * broadcast, or task above 32 MiB; one more shard digit scales 16x again.
   *
   * Semantics vs the unsharded screen: identical no-false-negative guarantee
   * (a hash probes exactly the bits its own shard's build set); false
   * positives can only DECREASE (other shards' hashes no longer pollute the
   * probed bitset) — flagged(sharded) is a superset of the true duplicates
   * and a subset of flagged(unsharded at equal per-shard size); pinned by
   * spec, and the whole decision keeps an exact SQL oracle (membership
   * bijects with the (shard, position) set).
   */
  def bloomScreenSharded(incoming: DataFrame, existing: DataFrame,
                         shardHexDigits: Int = 2, hexDigits: Int = 5, k: Int = 4): DataFrame =
    bloomProbeSharded(incoming,
      bloomBitsSharded(existing, shardHexDigits, hexDigits, k), shardHexDigits, hexDigits, k)

  /** Build side of [[bloomScreenSharded]]: one (shard, bits) row per
    * OCCUPIED shard — build once and cache when screening many batches. */
  def bloomBitsSharded(existing: DataFrame,
                       shardHexDigits: Int = 2, hexDigits: Int = 5, k: Int = 4): DataFrame = {
    require(shardHexDigits >= 1 && shardHexDigits <= 4,
      "shardHexDigits in 1..4 (16 .. 65536 shards)")
    require(hexDigits >= 2 && hexDigits <= 7, "hexDigits in 2..7 (256 bits .. 2^28 bits)")
    require(k >= 1 && k <= 16, "k in 1..16")
    val numWords = (1L << (4 * hexDigits - 6)).toInt
    existing.select(md5(col("text")).as("h"))
      .select(bloomShard(col("h"), shardHexDigits).as("shard"),
        explode(array((0 until k).map(i => bloomPos(i, col("h"), hexDigits)): _*)).as("pos"))
      // repartition on the shard key BEFORE the aggregate: the exchange then
      // carries raw (shard, pos) longs and each shard's bitset is built once
      // on its reducer. Without this, partial aggregation ships one
      // SERIALIZED bitset per (shard x map-partition) through the shuffle —
      // shards x partitions x bitset-size bytes (tens of GiB at 2^28 bits),
      // measured 49 s vs 4 s at 16 shards x 2^28 over 475k docs.
      .repartition(col("shard"))
      .groupBy("shard")
      .agg(graft.functions.BitsetFunctions.bitsetOr(col("pos"), numWords).as("bits"))
  }

  /** Probe side of [[bloomScreenSharded]] — parameters MUST match the build.
    * A shard-key join (not a broadcast): an incoming doc whose shard has no
    * existing row cannot be a duplicate (its shard's filter is empty) and
    * drops out with the inner join. */
  def bloomProbeSharded(incoming: DataFrame, bits: DataFrame,
                        shardHexDigits: Int = 2, hexDigits: Int = 5, k: Int = 4): DataFrame = {
    require(shardHexDigits >= 1 && shardHexDigits <= 4,
      "shardHexDigits in 1..4 (16 .. 65536 shards)")
    require(hexDigits >= 2 && hexDigits <= 7, "hexDigits in 2..7 (256 bits .. 2^28 bits)")
    require(k >= 1 && k <= 16, "k in 1..16")
    incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("shard", bloomShard(col("h"), shardHexDigits))
      .withColumn("ps", array((0 until k).map(i => bloomPos(i, col("h"), hexDigits)): _*))
      .join(bits, Seq("shard"))
      .where(bloomHit(col("ps"), col("bits")))
      .select("doc_id", "h")
  }

  /**
   * URL-canonicalization dedup — the first pass of every web-crawl curation
   * pipeline (one page fetched through many URL variants should survive
   * once): docs sharing a canonical first-URL collapse to the lowest doc_id.
   * Canonical form = the doc's first extracted URL
   * ([[TextAnalysis.UrlPattern]] over the lowercased text) with the scheme,
   * query string, fragment, and trailing slashes stripped — so
   * `https://example.org/a?utm=x`, `http://example.org/a/` and
   * `HTTP://EXAMPLE.ORG/a#frag` all key to `example.org/a`. Docs without a
   * URL key to NULL and keep themselves (dup_count 1).
   *
   * Scale: the canonicalization is pure row-wise regexp (codegen, no
   * shuffle); the group table aggregates on the url_key (naturally
   * well-distributed — a single hot key means a genuinely hot URL, which the
   * min/count agg absorbs map-side) and joins back key-to-key. Two shuffles
   * total, both on url_key; nothing corpus-sized is broadcast.
   *
   * @return one row per doc: (doc_id, url_key, keep_doc_id, dup_count)
   */
  def urlDedup(docs: DataFrame): DataFrame = {
    val first = regexp_extract(lower(col("text")), TextAnalysis.UrlPattern, 0)
    val key = nullif(
      regexp_replace(
        regexp_extract(regexp_replace(first, "^https?://", ""), "^[^?#]*", 0),
        "/+$", ""),
      lit(""))
    val keyed = cached(docs.select(col("doc_id"), key.as("url_key")))
    val groups = keyed.where(col("url_key").isNotNull)
      .groupBy("url_key")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))
    keyed.join(groups, Seq("url_key"), "left")
      .select(col("doc_id"), col("url_key"),
        coalesce(col("keep_doc_id"), col("doc_id")).as("keep_doc_id"),
        coalesce(col("dup_count"), lit(1L)).as("dup_count"))
  }

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic deduplication"):
   * cluster the embedding space with the IVF coarse quantizer
   * ([[SimilarityIvf.centroids]] seeded pick + [[SimilarityIvf.assign]]),
   * then compare pairs ONLY inside a cluster — a vector is a semantic
   * duplicate when its cosine to ANY lower-id member of its cluster reaches
   * `minCosine`. The keep set is the dedup survivors. (The paper drops all
   * but the member farthest from the centroid; lowest-id-wins is the
   * deterministic, engine-reproducible variant — which member of a dup group
   * survives is retention policy, not dedup semantics.)
   *
   * This is the embedding-space complement of [[embedCosine]]: LSH buckets
   * group by random-hyperplane SIGN pattern (good for high thresholds),
   * while k-means cells group by region of the actual data distribution —
   * the SemDeDup observation is that web-scale semantic dups concentrate
   * inside such cells, so cell-blocked comparison sees them at a tiny
   * fraction of all-pairs cost.
   *
   * Scale: the corpus never self-joins outside a cluster. Assignment is a
   * broadcast-centroids `max_by` aggregate (no corpus shuffle beyond the
   * group-by); the in-cluster pair join shuffles on `list_id` — `nLists`
   * must scale with the corpus (the paper uses ~|corpus|/10k clusters, e.g.
   * 2^16 lists for 1B docs) so a cell holds thousands of rows, keeping the
   * per-cell self-join linear in the corpus. `maxList` is the skew guard:
   * cells past the cap are excluded from CANDIDATE GENERATION (their
   * members all keep), trading bounded recall loss on degenerate cells
   * (e.g. a zero-vector pile-up) for a hard quadratic-blowup cap, exactly
   * like [[ngramJaccard]]'s `maxDocFreq`.
   *
   * @return one row per input vector: (vec_id, list_id, n_sem_dups, keep)
   *         where `n_sem_dups` counts lower-id in-cell neighbors at
   *         cosine >= `minCosine` and `keep` = 1 iff that count is 0.
   */
  def semanticDedup(emb: DataFrame, minCosine: Double = 0.3, nLists: Int = 16,
                    maxList: Long = Long.MaxValue): DataFrame = {
    val cents = SimilarityIvf.centroids(emb, nLists)
    val assigned = cached(SimilarityIvf.assign(emb, cents))
    val members =
      if (maxList == Long.MaxValue) assigned
      else assigned.join(
        assigned.groupBy("list_id").agg(count(lit(1)).as("n"))
          .where(col("n") <= maxList).select("list_id"),
        Seq("list_id"), "left_semi")
    val l = members.select(col("list_id"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("vnorm").as("na"))
    val r = members.select(col("list_id"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("vnorm").as("nb"))
    val dupCounts = l.join(r, Seq("list_id"))
      .where(col("a") < col("b"))
      .where(graft.functions.VectorFunctions.floatDot(col("ea"), col("eb"))
        / (col("na") * col("nb")) >= minCosine)
      .groupBy(col("b").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_lower"))
    assigned.select("vec_id", "list_id").join(dupCounts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_sem_dups"),
        when(col("n_dup_lower").isNull, 1L).otherwise(0L).as("keep"))
  }

  // -------------------------------------------------------------------------
  // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — MOSS)
  // -------------------------------------------------------------------------

  /**
   * Per-document winnowing fingerprints `(doc_id, fp)`: md5 over every
   * `gramLen`-char gram, minimum per `window` consecutive grams, distinct
   * minima. The guarantee the plain [[Dedup.exact]]/k-gram screens lack:
   * any shared substring of ≥ `gramLen + window − 1` chars yields at least
   * one SHARED fingerprint between the two documents, at ~2/(window+1) the
   * stored density of hashing every gram — the character-level (layout-
   * robust) complement of the word-shingle family.
   *
   * The selection runs in ONE native codegen pass per row
   * ([[graft.functions.WinnowGramMd5]], monotonic-deque sliding min): no
   * per-position explode ever hits the engine; only the selected minima
   * (~2·len/window values) become rows. Documents shorter than `gramLen`
   * chars have no fingerprint; shorter than `gramLen+window−1` yield their
   * single overall minimum.
   */
  def winnow(docs: DataFrame, gramLen: Int = 12, window: Int = 16): DataFrame =
    docs
      .repartition(col("doc_id")) // spread the digest-heavy scan across cores
      .select(col("doc_id"),
        graft.functions.TextFunctions.winnowGramMd5(col("text"), gramLen, window).as("fps"))
      .where(col("fps").isNotNull)
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /**
   * Near-dup candidate pairs by shared winnowing fingerprints:
   * `(a, b, n_shared)` with `n_shared ≥ minShared`. Same blocked-join shape
   * as [[ngramJaccard]] — a pair meets only on a shared fingerprint, both
   * sides shuffle on the fingerprint key, nothing broadcasts the corpus —
   * with the same candidate-generation skew cap (`maxDocFreq` drops
   * boilerplate fingerprints shared by more than that many docs; k docs on
   * one fingerprint emit O(k²) pairs).
   */
  def winnowPairs(docs: DataFrame, gramLen: Int = 12, window: Int = 16,
                  minShared: Long = 2L, maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val all = cached(winnow(docs, gramLen, window))
    val fps =
      if (maxDocFreq == Long.MaxValue) all
      else {
        val freq = all.groupBy("fp").agg(count(lit(1)).as("df")).where(col("df") <= maxDocFreq)
        all.join(freq.select("fp"), "fp")
      }
    fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /**
   * LSH banding S-CURVE — the analytic companion to [[thresholdSweep]]'s
   * empirical counts: for the (numHashes / bandSize) banding in use, the
   * textbook candidate-detection probability 1 − (1 − t^r)^b at each probe
   * similarity t. Reading both side by side is how (b, r) gets chosen: the
   * curve says what the banding CAN catch, the sweep says what the corpus
   * actually contains. Exactness: the powers unroll to left-associated
   * multiplication chains (no `pow`, whose rounding is not pinned across
   * engines), so any SQL engine replays the identical doubles.
   *
   * @return (threshold, n_bands, band_size, p_detect) — one row per probe.
   */
  def lshCurve(spark: org.apache.spark.sql.SparkSession,
               thresholds: Seq[Double] = (10 to 19).map(_ / 20.0),
               numHashes: Int = 8, bandSize: Int = 2): DataFrame = {
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    val b = numHashes / bandSize
    import spark.implicits._
    val t = col("threshold")
    val tr = (1 until bandSize).foldLeft(t) { (acc, _) => acc * t }       // t^r
    val q = lit(1.0) - tr
    val qb = (1 until b).foldLeft(q) { (acc, _) => acc * q }              // (1-t^r)^b
    thresholds.toDF("threshold")
      .select(t, lit(b.toLong).as("n_bands"), lit(bandSize.toLong).as("band_size"),
        (lit(1.0) - qb).as("p_detect"))
  }

  /**
   * Shingle DOCUMENT-FREQUENCY profile on log2 buckets — the view that sets
   * the `maxDocFreq` candidate-generation cap from evidence instead of
   * folklore: per power-of-two band of shingle df, how many distinct
   * shingles live there, how many postings they carry, and their PAIR MASS
   * Σ df·(df−1)/2 — the exact number of candidate pairs the blocked
   * self-join would emit from that band. The cap trades the top bands'
   * (boilerplate) pair mass for recall; this profile shows precisely how
   * much quadratic cost each band contributes, which is what the
   * [[ngramAutoDocFreqCap]] quantile heuristic approximates.
   *
   * Scale: the shingle df aggregate (map-side combined — the corpus-sized
   * pass [[ngramJaccard]] pays anyway), a ≤64-row bucket rollup on a pure
   * integer digit-count key (no float log at band boundaries), and a 1-row
   * broadcast total. Pair mass accumulates in DECIMAL(38,0) (df² at web
   * scale exceeds LONG) and reports as double.
   *
   * @return (bucket, min_df, n_shingles, n_postings, pair_mass,
   *         pair_mass_share) — bucket b covers df in [2^b, 2^(b+1)).
   */
  def dfProfile(docs: DataFrame): DataFrame = {
    val dfreq = shingles(docs).groupBy("s").agg(count(lit(1)).as("df"))
    val pm = (col("df").cast("decimal(19,0)") * (col("df") - 1).cast("decimal(19,0)") / 2)
      .cast("decimal(38,0)")
    val b = dfreq
      .groupBy((length(bin(col("df"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"),
        sum(pm).as("pm"))
    val totals = broadcast(b.agg(sum(col("pm")).as("t_pm")))
    b.crossJoin(totals)
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").as("min_df"),
        col("n_shingles"), col("n_postings"),
        col("pm").cast("double").as("pair_mass"),
        when(col("t_pm") > 0, col("pm").cast("double") / col("t_pm").cast("double"))
          .as("pair_mass_share"))
  }

  /**
   * Jaccard THRESHOLD TUNING sweep — the audit a pipeline runs BEFORE
   * committing to a near-dup threshold: for each candidate threshold, how
   * many co-shingle pairs would be called duplicates? The knee of this curve
   * (pair count collapsing as the threshold rises past the boilerplate band)
   * is where production thresholds get set; guessing it without this view is
   * how corpora lose 30% of their non-duplicate long tail.
   *
   * Cost: the same cached threshold-INDEPENDENT scored-pair frame
   * [[ngramJaccard]] builds (so a sweep followed by the production run at
   * the chosen threshold shares one shingle self-join), plus a per-pair
   * when-chain bucketing (NO per-threshold pass and no explode: each pair
   * lands in the bucket of the highest threshold it clears) and a
   * descending cumulative sum over the |thresholds|-row histogram — the
   * only window runs over ≤ |thresholds| rows.
   *
   * @param thresholds distinct probe thresholds; default 0.50 … 0.95 step
   *        0.05. Counts are cumulative: `n_pairs` at t counts every scored
   *        pair with jaccard ≥ t (so rows are monotone non-increasing in t).
   * @param maxDocFreq the [[ngramJaccard]] candidate-generation skew cap —
   *        at 100 TB sweep the CAPPED frame, the one production will use.
   * @return one row per threshold: (threshold, n_pairs), zero-count rows
   *         included.
   */
  def thresholdSweep(docs: DataFrame,
                     thresholds: Seq[Double] = (10 to 19).map(_ / 20.0),
                     maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted && thresholds.distinct == thresholds,
      "thresholds must be non-empty, ascending, distinct")
    val spark = docs.sparkSession
    // the full scored frame (inter >= 1), shared with ngramJaccard via the
    // plan cache; sweep from the lowest probe up
    val scored = ngramJaccard(docs, threshold = thresholds.head, maxDocFreq = maxDocFreq)
    // highest threshold cleared per pair: a when-chain probing from the top
    val topFirst = thresholds.reverse
    val bucket = topFirst.tail.foldLeft(when(col("jaccard") >= topFirst.head, lit(topFirst.head))) {
      (acc, t) => acc.when(col("jaccard") >= t, lit(t))
    }
    val hist = scored.select(bucket.as("threshold"))
      .where(col("threshold").isNotNull)
      .groupBy("threshold").agg(count(lit(1)).as("n_at"))
    import spark.implicits._
    val probe = thresholds.toDF("threshold")
    // cumulative ≥-count: per probe threshold, sum of buckets at or above it
    // — a |thresholds|-row frame, the range join is broadcast by size
    probe.as("p")
      .join(hist.as("h"), col("h.threshold") >= col("p.threshold"), "left")
      .groupBy(col("p.threshold").as("threshold"))
      .agg(coalesce(sum(col("h.n_at")), lit(0L)).as("n_pairs"))
  }

  /**
   * Near-dup CLUSTER-SIZE distribution — the dedup post-mortem audit: how
   * much of the corpus sits in pairs, how much in 100-doc boilerplate
   * blobs? A healthy crawl shows a steep power law (mass in size 2–3); a
   * heavy tail of large clusters means the shingle cap or threshold is
   * letting template families through, and the keep-list is about to delete
   * large swaths of near-identical SEO spam (good) or mirrored documentation
   * (check first). Singleton docs (in no pair) count as size-1 clusters, so
   * `sum(n_docs)` equals the corpus size and the fractions partition 1.
   *
   * Cost on top of [[clusters]]: one groupBy over the per-doc component
   * frame (corpus-keyed, map-side combined), one groupBy over the
   * cluster-count frame (cluster-sized), and a 1-row broadcast total for
   * the fraction — no window, no driver state beyond the 1-row count.
   *
   * @return one row per observed size: (cluster_size, n_clusters, n_docs,
   *         frac_docs) with frac_docs = n_docs / corpus size as one
   *         exact-integer division.
   */
  def clusterSizes(docs: DataFrame, threshold: Double = 0.7,
                   maxDocFreq: Long = Long.MaxValue): DataFrame =
    clusterSizesFrom(docs,
      clusters(ngramJaccard(docs, threshold, maxDocFreq).select("a", "b")))

  /** [[clusterSizes]] over a PRE-BUILT components frame (the shared-fetch
    * entry point — see [[keepBestFrom]]). */
  def clusterSizesFrom(docs: DataFrame, comps: DataFrame): DataFrame = {
    val perCluster = comps.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val clustered = perCluster.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    // one corpus count + one component count, attached as 1-row broadcasts
    val totals = cached(docs.agg(count(lit(1)).as("n_total")).crossJoin(
      comps.agg(count(lit(1)).as("n_clustered"))))
    // singletons: corpus minus docs appearing in any component
    val singles = totals.select(lit(1L).as("cluster_size"),
      (col("n_total") - col("n_clustered")).as("n_clusters"))
      .where(col("n_clusters") > 0)
    clustered.unionByName(singles)
      .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .crossJoin(broadcast(totals.select("n_total")))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double")).as("frac_docs"))
  }
}
