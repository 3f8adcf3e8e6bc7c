package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact heavy hitters over a high-cardinality key WITHOUT a full
  * key-space shuffle. Extension operator (SURVEY §7.1): completes the
  * sketch family (HLL q67, approx-percentile q67, bloom d14) with the
  * frequent-items summary.
  *
  * Two passes, both cheap at scale:
  *  1. One scan through a bounded Misra–Gries summary (Misra & Gries
  *     1982; merge rule from Agarwal et al., "Mergeable Summaries",
  *     PODS'12 — see PAPERS.md): k counters per partial buffer,
  *     partial-aggregable, so map-side combine and AQE both work. The
  *     merged summary's undercount is ≤ n/(k+1), so every key with
  *     true count > n/k is GUARANTEED to be among the ≤ 2k candidates
  *     — the sketch can only over-generate, never miss.
  *  2. Exact counts for the candidate keys via an `isin` filter +
  *     key-bounded aggregation, keeping only count·k > n. The final
  *     threshold test is integer arithmetic, so the result is exactly
  *     the full-shuffle `GROUP BY … HAVING cnt·k > n` set — an
  *     external engine's naive plan reproduces it bit-for-bit.
  *
  * 100-TB design: pass 1 shuffles only 2k-counter buffers (one per
  * map task), pass 2 shuffles only rows matching ≤ 2k keys. The
  * driver holds the ≤ 2k candidate keys between passes — the same
  * decide-and-fetch bound as [[BloomFilter.build]]'s bitmap and the
  * d8 union-find. Contrast with a full groupBy over, say, a web-scale
  * token vocabulary: that shuffle is sized by the KEY SPACE; this one
  * is sized by k. The MG reduce is O(log k) amortized per row (trims
  * batch at 2k); k is a user-bounded constant.
  */
object HeavyHitters {

  /** Bounded frequent-items summary: ≤ 2k candidate counts plus the
    * total row count n (carried so the second pass needs no extra
    * scan). Immutable map buffer: encodable as a Catalyst MapType,
    * and summary sizes are ≤ 2k so per-row copying is k-bounded. */
  final case class MGSummary(counts: Map[String, Long], n: Long)

  /** Misra–Gries with k counters as a typed Aggregator. The buffer
    * is allowed to grow to 2k between trims, so a cold-key arrival
    * costs O(1) and the O(k·log k) trim amortizes to O(log k) per
    * row — the n/(k+1) bound is indifferent to WHEN trims happen
    * (each trim subtracts its cut from ≥ k+1 counters, so the cuts
    * across the whole merge tree still sum to ≤ n/(k+1); Agarwal et
    * al. §3.2 analyzes exactly this arbitrary-merge-tree case). */
  final class MisraGriesAgg(k: Int)
    extends Aggregator[String, MGSummary, MGSummary] {
    require(k >= 2, "need k >= 2 counters")

    /** Subtract the (k+1)-th largest counter from all and drop
      * non-positives: ≤ k survive, ≥ (k+1)·cut total weight removed. */
    private def trim(sum: Map[String, Long]): Map[String, Long] =
      if (sum.size <= k) sum
      else {
        val cut = sum.valuesIterator.toArray.sortInPlace()(
          Ordering[Long].reverse).apply(k)
        sum.collect { case (ky, n) if n > cut => (ky, n - cut) }
      }

    override def zero: MGSummary = MGSummary(Map.empty, 0L)

    override def reduce(b: MGSummary, key: String): MGSummary = {
      val c = b.counts
      val bumped = c.updated(key, c.getOrElse(key, 0L) + 1L)
      MGSummary(if (bumped.size <= 2 * k) bumped else trim(bumped),
        b.n + 1L)
    }

    override def merge(a: MGSummary, b: MGSummary): MGSummary = {
      val sum = b.counts.foldLeft(a.counts) { case (acc, (ky, n)) =>
        acc.updated(ky, acc.getOrElse(ky, 0L) + n)
      }
      MGSummary(trim(sum), a.n + b.n)
    }

    override def finish(r: MGSummary): MGSummary = r
    override def bufferEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
    override def outputEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
  }

  /** Per-group heavy hitters: for every NON-NULL value of `grp`, the
    * non-null keys occurring in strictly more than 1/k of that group's
    * non-null-keyed rows, with exact counts — the per-domain /
    * per-language token-stats shape. Null groups and null keys are
    * excluded by contract (null keys cannot live in a Catalyst map
    * buffer, and the candidate join-back is null-unsafe — so the
    * exclusion is made explicit here rather than left to join
    * semantics). Unlike [[frequentItems]] this stays fully in-plan: the per-group
    * summaries frame (groups × ≤ 2k candidates, with each group's row
    * count riding in the summary) joins back against the keyed rows —
    * AQE broadcasts it — and an exact (grp, key) aggregation with the
    * integer threshold reproduces the naive GROUP BY + HAVING plan
    * bit-for-bit. Output columns: (grpName, outName, cnt). Shuffle
    * economics per group are those of [[frequentItems]]: sketch
    * buffers and candidate rows, never the group's key space.
    */
  def frequentItemsByGroup(df: DataFrame, grp: Column, key: Column,
                           k: Int, grpName: String = "grp",
                           outName: String = "key"): DataFrame = {
    val mg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    // NULL keys and NULL groups are excluded (documented contract):
    // Catalyst map keys cannot be null, so a null key can never live
    // in the MG buffer; null groups would silently vanish in the
    // null-unsafe candidate join-back, so they are filtered up front
    // where the contract is visible.
    val keyed = df.select(grp.cast("string").as(grpName),
      key.cast("string").as(outName))
      .filter(col(outName).isNotNull && col(grpName).isNotNull)
    val summaries = keyed.groupBy(grpName).agg(mg(col(outName)).as("s"))
    val cand = summaries.select(col(grpName), col("s.n").as("_n"),
      explode(map_keys(col("s.counts"))).as(outName))
    keyed.join(cand, Seq(grpName, outName))
      .groupBy(grpName, outName)
      .agg(count(lit(1)).cast("bigint").as("cnt"), first(col("_n")).as("_n"))
      .filter(col("cnt") * k > col("_n"))
      .select(col(grpName), col(outName), col("cnt"))
  }

  /** One-row PERSISTABLE MG summary frame — (counts map<string,
    * bigint>, n bigint) — the sketch state an incremental heavy-hitter
    * pipeline stores between ingests. Summaries are MERGEABLE with no
    * accuracy loss beyond the n/(k+1) bound (Agarwal et al., PODS'12:
    * the bound holds over ARBITRARY merge trees), which is what makes
    * the fold in [[frequentItemsFolded]] sound. */
  def summarize(df: DataFrame, key: Column, k: Int): DataFrame = {
    val mg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    df.select(key.cast("string").as("k"))
      .filter(col("k").isNotNull)
      .agg(mg(col("k")).as("s"))
      .select(col("s.counts").as("counts"), col("s.n").as("n"),
        lit(k).cast("int").as("k"))
  }

  /** Exact heavy hitters over corpus ∪ batch from a PERSISTED corpus
    * summary — the ingest twin of [[frequentItems]] (the d13/q90
    * discipline): the sketch pass folds the stored summary with the
    * batch's (the corpus is NEVER rescanned to sketch), and the exact
    * recheck touches only rows matching the ≤ 2k merged candidates —
    * an isin-pushed scan, the d10 candidate-bounded-rescan shape (the
    * recheck is the exactness source and CANNOT be incremental in
    * general: a key newly hot in the batch has an unknown exact corpus
    * count — but it is bounded by the candidate set, not the corpus).
    * The merged summary's undercount stays ≤ n/(k+1) over any merge
    * tree, so every key with true union count > n/k is among the
    * candidates and the result is bit-identical to the naive
    * GROUP BY + HAVING over the union — the q92 gate. */
  def frequentItemsFolded(storedSummary: DataFrame, batch: DataFrame,
                          batchKey: Column, union: DataFrame,
                          unionKey: Column, k: Int,
                          outName: String = "key"): DataFrame = {
    def toSummary(df: DataFrame): MGSummary = {
      // The n/(k+1) undercount bound holds only when every summary in
      // the merge tree was built with THE SAME k: folding a stored
      // summary built with smaller k would silently weaken the bound
      // and could drop a true heavy hitter from the candidate set —
      // so the stored k (persisted by [[summarize]]) must equal the
      // fold's k, loudly.
      val r = df.select(col("counts"), col("n"), col("k")).head()
      require(r.getInt(2) == k,
        s"stored summary was built with k=${r.getInt(2)}, fold requires k=$k")
      MGSummary(r.getMap[String, Long](0).toMap, r.getLong(1))
    }
    val merged = new MisraGriesAgg(k).merge(
      toSummary(storedSummary), toSummary(summarize(batch, batchKey, k)))
    val candidates = merged.counts.keysIterator.toSeq
    union.select(unionKey.cast("string").as(outName))
      .filter(if (candidates.isEmpty) lit(false)
              else col(outName).isInCollection(candidates))
      .groupBy(outName)
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .filter(col("cnt") * k > lit(merged.n))
  }

  /** Persist the corpus's key counts as a parquet store PARTITIONED
    * BY `bucket = crc32(k) mod nBuckets` — the q91 contribution-store
    * discipline applied to heavy hitters, so the exact recheck in
    * [[frequentItemsFoldedFromStore]] reads ONLY the buckets holding
    * a candidate key (static `PartitionFilters: [bucket IN (…)]`)
    * instead of rescanning the full corpus per fold. Rows are
    * ADDITIVE (k, cnt) deltas — one row per distinct key per
    * build/append, partial-aggregated before the bucket shuffle, so
    * the store is O(distinct keys × appends), not O(corpus rows),
    * and readers sum deltas per key ([[vacuumKeyStore]] collapses
    * accumulated deltas). CRC32 (not Murmur3 `hash()`) because it is
    * bit-identical in every engine AND driver-side
    * (`java.util.zip.CRC32`), so the candidate→bucket map needs no
    * Spark job. Ingest is a plain mode=append into the batch's own
    * bucket partitions ([[appendToKeyStore]]) — counts are additive,
    * so unlike the graph store nothing is ever rewritten. At 100 TB
    * raise `nBuckets` so one bucket ≈ one comfortable read unit. */
  def buildKeyStore(df: DataFrame, key: Column, path: String,
                    nBuckets: Int = 32): Unit = {
    keyedWithBucket(df, key, nBuckets)
      .repartition(col("bucket")) // bucket-aligned: nBuckets file sets,
      // not shufflePartitions x nBuckets tiny files
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    StoreMeta.write(df.sparkSession, path, "overwrite",
      Seq("n_buckets" -> nBuckets))
  }

  /** `nBuckets` defines where a key LIVES in the store layout; an
    * append or pruned read run with a different value writes to /
    * prunes the WRONG bucket partitions — silently wrong results, no
    * error. The build pins it in `_meta`; every later store operation
    * requires equality loudly ([[StoreMeta]] — the MG summary's
    * stored-k discipline). */
  private def requireStoreBuckets(spark: org.apache.spark.sql.SparkSession,
                                  path: String, nBuckets: Int): Unit = {
    StoreMeta.readRequire(spark, path, Seq("n_buckets" -> nBuckets))
    ()
  }

  /** Fold a batch into a [[buildKeyStore]] layout: append-only (no
    * partition is read or rewritten — counts are additive), cost
    * O(batch) regardless of store size. Maintenance is self-scheduled:
    * when any bucket's delta-file count reaches `autoVacuumTrigger`
    * (listing-only check, no job), the fold runs [[vacuumKeyStore]]
    * before returning — a store folded daily stays O(keys) rows and
    * O(1) files per bucket with no operator-remembered vacuum call.
    * `autoVacuumTrigger` ≤ 0 disables (explicit-maintenance callers,
    * e.g. a separate maintenance scheduler, keep full control). */
  def appendToKeyStore(batch: DataFrame, key: Column, path: String,
                       nBuckets: Int = 32,
                       autoVacuumTrigger: Int = 24): Unit = {
    requireStoreBuckets(batch.sparkSession, path, nBuckets)
    keyedWithBucket(batch, key, nBuckets)
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)
    if (autoVacuumTrigger > 0 &&
        StoreCompaction.needsMaintenance(batch.sparkSession, path,
          autoVacuumTrigger))
      vacuumKeyStore(batch.sparkSession, path)
  }

  /** Maintenance vacuum for a [[buildKeyStore]] layout: a key folded
    * daily for a year carries 365 delta rows — collapse each key's
    * deltas to one row, in one job under the crash-convergent swap
    * ([[StoreCompaction.rewriteStore]]; the bucket column is a
    * function of k, so grouping by (bucket, k) is the per-partition
    * `groupBy(k)` exactly). Read-invariant: readers sum deltas per
    * key, and one row sums the same. Single-maintainer contract — do
    * not run concurrently with appends. */
  def vacuumKeyStore(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit = {
    StoreCompaction.rewriteStore(spark, path, df =>
      df.groupBy(col("bucket"), col("k"))
        .agg(sum(col("cnt")).cast("bigint").as("cnt")))
    ()
  }

  /** Additive (k, cnt) delta rows — a build or append writes ONE row
    * per distinct key, not one per occurrence (partial-aggregated
    * before the bucket shuffle), so the store is O(distinct keys ×
    * appends) and readers sum deltas per key. */
  private def keyedWithBucket(df: DataFrame, key: Column,
                              nBuckets: Int): DataFrame =
    df.select(key.cast("string").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).cast("bigint").as("cnt"))
      .withColumn("bucket", pmod(crc32(col("k")), lit(nBuckets.toLong)))

  /** Driver-side twin of the store's bucket function — must stay
    * bit-identical to `pmod(crc32(k), nBuckets)` above. */
  private[graft] def bucketOf(k: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue % nBuckets // crc32 value is non-negative, % == pmod
  }

  /** The partition-pruned read half of the store: (k, cnt) delta
    * rows for the candidate keys, scanning ONLY their buckets — sum
    * per key for exact counts. The candidate set
    * is ≤ 2k (an operator bound, not data), so its bucket set is
    * collected driver-side and pruned STATICALLY — the
    * [[Graph.affectedStoreRows]] economics: directory-level skip
    * guaranteed at any scale, no optimizer heuristic in the loop. */
  def candidateStoreRows(spark: org.apache.spark.sql.SparkSession,
                         path: String, candidates: Seq[String],
                         nBuckets: Int): DataFrame = {
    requireStoreBuckets(spark, path, nBuckets)
    val base = spark.read.parquet(path)
    if (candidates.isEmpty) base.filter(lit(false))
    else {
      val buckets = candidates.map(bucketOf(_, nBuckets)).distinct.sorted
      base.filter(col("bucket").isin(buckets: _*))
        .filter(col("k").isInCollection(candidates))
    }
  }

  /** [[frequentItemsFolded]] with the exact recheck served from a
    * persisted [[buildKeyStore]] layout instead of a full union
    * rescan — the last full-corpus-scan-per-fold in the incremental
    * family, removed: the sketch pass folds the stored summary with
    * the batch's (corpus never rescanned to sketch), and the recheck
    * reads ONLY the candidate keys' buckets of the store plus the
    * batch's candidate rows. Fold cost is O(batch + candidate-bucket
    * rows), independent of corpus size — bit-identical to the naive
    * GROUP BY + HAVING over corpus ∪ batch (the q92 gate) because
    * the store's summed (k, cnt) deltas equal the corpus's exact
    * non-null key counts and the merged summary's candidate set is a
    * superset of the true heavy hitters (n/(k+1) bound, any merge
    * tree). */
  def frequentItemsFoldedFromStore(spark: org.apache.spark.sql.SparkSession,
                                   storedSummary: DataFrame,
                                   storePath: String, batch: DataFrame,
                                   batchKey: Column, k: Int,
                                   nBuckets: Int = 32,
                                   outName: String = "key"): DataFrame = {
    def toSummary(df: DataFrame): MGSummary = {
      val r = df.select(col("counts"), col("n"), col("k")).head()
      require(r.getInt(2) == k,
        s"stored summary was built with k=${r.getInt(2)}, fold requires k=$k")
      MGSummary(r.getMap[String, Long](0).toMap, r.getLong(1))
    }
    val merged = new MisraGriesAgg(k).merge(
      toSummary(storedSummary), toSummary(summarize(batch, batchKey, k)))
    val candidates = merged.counts.keysIterator.toSeq
    val storeRows = candidateStoreRows(spark, storePath, candidates, nBuckets)
      .select(col("k").as(outName), col("cnt"))
    val batchRows = batch.select(batchKey.cast("string").as(outName))
      .filter(if (candidates.isEmpty) lit(false)
              else col(outName).isInCollection(candidates))
      .groupBy(outName).agg(count(lit(1)).cast("bigint").as("cnt"))
    storeRows.unionByName(batchRows)
      .groupBy(outName)
      .agg(sum(col("cnt")).cast("bigint").as("cnt"))
      .filter(col("cnt") * k > lit(merged.n))
  }

  /** All values of `key` (stringified) occurring in strictly more
    * than 1/k of `df`'s rows, with exact counts. Output columns:
    * (outName, cnt), bit-identical to the naive full-shuffle
    * GROUP BY + HAVING cnt·k > n plan over the non-null keys.
    * NULL keys are excluded by contract (Catalyst map keys cannot be
    * null, so the MG buffer could never track them); `n` counts only
    * non-null rows, matching that exclusion on both sides of the
    * threshold.
    */
  def frequentItems(df: DataFrame, key: Column, k: Int,
                    outName: String = "key"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(key.cast("string").as("k"))
      .filter(col("k").isNotNull).as[String]
    // Decide-and-fetch: one row holding ≤ k candidates + n.
    val summary = keyed.select(new MisraGriesAgg(k).toColumn).head()
    val candidates = summary.counts.keysIterator.toSeq
    val exact = df.select(key.cast("string").as(outName))
      .filter(if (candidates.isEmpty) lit(false)
              else col(outName).isInCollection(candidates))
      .groupBy(outName)
      .agg(count(lit(1)).cast("bigint").as("cnt"))
    exact.filter(col("cnt") * k > lit(summary.n))
  }
}
