package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Corpus-scale deduplication — exact, MinHash+LSH, SimHash.
  * Extension operators for training-data pipelines (SURVEY §7.1).
  *
  * Scale design:
  *  - Exact dedup is a hash-groupBy: map-side partial `min` collapses
  *    per-hash groups before the single shuffle on the 16-byte digest —
  *    the canonical 100 TB exact-dedup plan.
  *  - MinHash/LSH turns all-pairs O(n²) similarity into a shuffle on
  *    (band, band_hash): only docs sharing a band bucket ever meet.
  *    Bucket sizes are bounded by the band width r (collision prob
  *    s^r), so the pair blow-up is controlled; hot buckets (boilerplate
  *    docs) are the skew risk and are capped via `maxBucket`.
  *  - All hashing is MD5-derived (engine-portable, deterministic), no
  *    JVM-specific `hashCode`.
  */
object DedupSuite {

  /** Exact dedup: keep the minimum id per md5(text). Returns the kept
    * rows with their content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol), md5(col(textCol)).as("content_hash"))
    h.groupBy("content_hash")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).cast("bigint").as("n_copies"))
      .select(col(idCol), col("content_hash"), col("n_copies"))
  }

  /** Word n-gram shingles from a PRE-MATERIALIZED token array column.
    * The token array must be its own projection column: referencing an
    * inline `tokens(text)` expression from inside the per-element lambda
    * would re-run the regex split once per shingle index (O(tokens²)
    * splits per document — measured ~10 s vs ~1 s at sf0.1). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array())

  /** Word n-gram shingles straight from text. The token array is
    * let-bound internally ([[graft.functions.ColUtil.bindOnce]]):
    * [[shinglesFromTokens]] references it once per shingle index, and
    * an inline `tokens(text)` tree would re-run the regex split
    * O(tokens²) times per document. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ColUtil.bindOnce(tokens(text))(t => shinglesFromTokens(t, n))

  /** Shingle hashes from a PRE-MATERIALIZED token-hash array column:
    * rolling 32-bit polynomial combination of n consecutive token
    * hashes. Avoids materializing shingle strings entirely — Spark's
    * higher-order functions evaluate interpreted (no codegen), so per-
    * element work must be arithmetic, not string slice+concat+hash
    * (measured 4 s → ~1 s at sf0.1 for the minhash pipeline). Masking
    * to 32 bits after each step keeps values in the affine family's
    * domain and overflow-free. */
  def shingleHashesFromTokenHashes(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(0), size(th) - n), i =>
        (1 until n).foldLeft(element_at(th, i + 1)) { (acc, j) =>
          (acc * 31 + element_at(th, i + j + 1)).bitwiseAND(lit(0xFFFFFFFFL))
        }))
      .otherwise(array().cast("array<long>"))

  /** Tokenize + masked 32-bit xxhash in ONE native byte scan
    * ([[graft.plans.TokenHashes32]]) — bit-identical to
    * `transform(tokens(c), t => xxhash64(t) & 0xFFFFFFFF)` with zero
    * per-token string allocation. Unicode lowercasing stays Spark's
    * `lower`. */
  def tokenHashesNative(text: Column): Column =
    GraftColumnBridge.column(graft.plans.TokenHashes32(
      GraftColumnBridge.expression(lower(text))))

  /** Engine-portable shingle hashes (md5-derived hash32 of each n-gram
    * string) in ONE fused pass via
    * [[graft.plans.PortableShingleHashes]] — bit-identical to
    * `transform(shinglesFromTokens(toks, n), s => hash32(s))` and to
    * the DuckDB oracle's reproduction, without the per-shingle
    * interpreted slice/concat/md5-hex/conv tree. */
  def shingleHashesPortableNative(toks: Column, n: Int): Column =
    GraftColumnBridge.column(graft.plans.PortableShingleHashes(
      GraftColumnBridge.expression(toks), n))

  /** [[shingleHashesFromTokenHashes]] via the codegen'd native
    * expression [[graft.plans.ShingleHashes]] — one fused loop, no
    * boxed inner fold; bit-identical output. */
  def shingleHashesNative(th: Column, n: Int): Column =
    GraftColumnBridge.column(graft.plans.ShingleHashes(
      GraftColumnBridge.expression(th), n))

  /** MinHash hash family: ONE md5 per shingle (the expensive part),
    * then k affine variants h_i(x) = (a_i·x + b_i) mod p — the standard
    * universal-hash construction. 16× less hashing than salted-MD5-per-
    * function at identical collision behavior; constants are fixed-seed
    * so signatures stay deterministic across runs and engines. Bounds:
    * x < 2^32, a_i < 2^30 keeps a_i·x < 2^62 (no signed-64 overflow). */
  val MinhashP = 4294967311L // prime > 2^32
  def affineConsts(k: Int): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(0x5eed1234L)
    Seq.fill(k)((1L + rnd.nextInt(1 << 30).toLong, rnd.nextLong().abs % MinhashP))
  }

  /** MinHash signature from a PRE-MATERIALIZED base-hash array column.
    * The base hashes must live in their own projection (not be an
    * inline expression): each of the k `array_min`s references the
    * array, and an inline expression tree would be re-evaluated k times
    * (k× the md5 work — measured 12s vs 1s at sf0.1). */
  def minhashSignatureFromHashes(hashCol: Column, k: Int): Column =
    when(size(hashCol) > 0,
      array(affineConsts(k).map { case (a, b) =>
        array_min(transform(hashCol, x => (x * a + b) % MinhashP))
      }: _*))
      .otherwise(lit(null))

  /** [[minhashSignatureFromHashes]] via the codegen'd native expression
    * [[graft.plans.MinhashSignature]] — ONE fused pass over the hash
    * array instead of k interpreted walks; bit-identical signatures
    * (same fixed-seed affine family), so d5's DuckDB oracle still
    * reproduces them. Use on hot paths. */
  def minhashSignatureNative(hashCol: Column, k: Int): Column =
    GraftColumnBridge.column(graft.plans.MinhashSignature(
      GraftColumnBridge.expression(hashCol), k))

  /** LSH banding: docs×bands rows of (id, band, band_hash). b bands of
    * width r must satisfy b*r == signature length. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               b: Int, r: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(b - 1)),
          j => md5(concat_ws(",", slice(col(sigCol), j * r + 1, lit(r)))))))
      .toDF(idCol, "band", "band_hash")

  /** Name of the [[org.apache.spark.sql.Dataset.observe]] metric group
    * emitted by [[candidatePairs]]; read it from the driving query's
    * `queryExecution.observedMetrics` (or a QueryExecutionListener). */
  val LshBucketMetrics = "graft_lsh_buckets"

  /** Candidate pairs from shared LSH buckets (id_a < id_b), with hot
    * buckets above `maxBucket` docs dropped (boilerplate guard — at
    * corpus scale a near-universal shingle bucket would otherwise emit
    * O(bucket²) pairs).
    *
    * NO SILENT CAP (r3 VERDICT item 4): the drop is accounted for via
    * an `observe` metric group [[LshBucketMetrics]] with
    * `dropped_buckets` / `dropped_docs` / `max_bucket_size`, riding the
    * existing aggregation pass — a boilerplate-heavy corpus at 100 TB
    * surfaces its recall hole in metrics instead of hiding it.
    *
    * One aggregation on (band, band_hash) collecting the bucket's ids,
    * then in-bucket pair expansion from the sorted array — a single
    * shuffle, versus the window-count + self-join formulation (two).
    * Bucket arrays are bounded by `maxBucket`, so the per-row pair
    * expansion is small and the skew guard doubles as a memory bound. */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int = 1000): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("band_hash"))
      .agg(array_sort(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .observe(LshBucketMetrics,
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(size(col("ids")) > maxBucket, size(col("ids")).cast("long"))
          .otherwise(0L)).as("dropped_docs"),
        max(size(col("ids"))).cast("long").as("max_bucket_size"))
      .filter(size(col("ids")) <= maxBucket)
    val pairs = flatten(transform(
      sequence(lit(0), size(col("ids")) - 2), i =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), j =>
          struct(element_at(col("ids"), i + 1).as("id_a"), j.as("id_b")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** [[candidatePairs]] with a FIXED-WIDTH payload column (the 8-byte
    * locality hash of the Hamming family) carried THROUGH the bucket
    * aggregation, so the verify stage reads both sides' hashes straight
    * off the pair expansion instead of joining the (id, hash) frame
    * back once per side. The join-back form evaluated the hash frame
    * up to three times (band derivation + both verify sides) — for
    * SimHash that is the 60-fold token aggregation re-run per branch,
    * for perceptual hashes a full media re-DECODE (the §8 "move heavy
    * bytes once" rule: here the decision payload is 8 bytes, so
    * carrying it beats re-attaching it). Costs 8 bytes per band row
    * through the one existing exchange; removes two joins and their
    * exchanges from every plan in the family.
    *
    * Identical pair semantics to [[candidatePairs]] given the family
    * contract that `idCol` is unique per input row: structs sort by
    * id first (ids are unique, so payload never decides order), bucket
    * membership and the hot-bucket cap see the same populations, and
    * the trailing distinct dedups (id, payload) pairs exactly as it
    * dedups ids. Same observe group, same accounting.
    * Output: (id_a, pay_a, id_b, pay_b). */
  private[graft] def candidatePairsCarry(bands: DataFrame, idCol: String,
                                         payCol: String,
                                         maxBucket: Int = 1000): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("band_hash"))
      .agg(array_sort(collect_set(struct(col(idCol), col(payCol)))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .observe(LshBucketMetrics,
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(size(col("ids")) > maxBucket, size(col("ids")).cast("long"))
          .otherwise(0L)).as("dropped_docs"),
        max(size(col("ids"))).cast("long").as("max_bucket_size"))
      .filter(size(col("ids")) <= maxBucket)
    val pairs = flatten(transform(
      sequence(lit(0), size(col("ids")) - 2), i =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), j =>
          struct(
            element_at(col("ids"), i + 1).getField(idCol).as("id_a"),
            element_at(col("ids"), i + 1).getField(payCol).as("pay_a"),
            j.getField(idCol).as("id_b"),
            j.getField(payCol).as("pay_b")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.pay_a").as("pay_a"),
        col("p.id_b").as("id_b"), col("p.pay_b").as("pay_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard over shingle SETS (distinct semantics, like
    * `array_intersect`/`array_union`), as the raw DOUBLE quotient of
    * the two exact counts — integer→double conversion and double
    * division are correctly rounded in both engines, so the bits match
    * with no decimal quantization step (quotient-rounding to decimal
    * diverges between engines on exact halves). */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val ic = size(array_intersect(aShingles, bShingles)).cast("double")
    val uc = size(array_union(aShingles, bShingles)).cast("double")
    when(uc > 0, ic / uc).otherwise(lit(0.0))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → hash → sign → band →
    * bucket-join → exact-Jaccard verify ≥ `threshold`.
    *
    * Shingle base hashes use native `xxhash64` (masked to 32 bits for
    * the affine family): ~10× cheaper than md5 and this operator needs
    * engine-portability only in its SEMANTICS, not its hash values. The
    * Jaccard verify runs over the hashed shingle sets (long arrays) —
    * same cardinalities as the string sets modulo negligible 32-bit
    * collisions, and the hash array is far cheaper to shuffle through
    * the two verify joins than the raw shingle strings. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    // No size(tokens) >= n pre-filter: a Filter and a Project cannot
    // share the token array (predicate pushdown substitutes the
    // expression, re-tokenizing every doc), and short docs already
    // yield an empty shingle array → null signature → zero bands, so
    // they drop out of the pipeline for free.
    val hs = docs
      .select(col(idCol),
        shingleHashesNative(tokenHashesNative(col(textCol)), n).as("hs"))
    val sig = hs.select(col(idCol), minhashSignatureNative(col("hs"), k).as("sig"))
    val cand = candidatePairs(lshBands(sig, idCol, "sig", bands, k / bands), idCol)
    cand
      .join(hs.select(col(idCol).as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(hs.select(col(idCol).as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Engine-portable variant of [[minhashNearDups]]: shingle base
    * hashes use md5 (hash32) instead of xxhash64, so every stage —
    * signatures, band hashes, bucket capping, candidate pairs, Jaccard
    * verify — is reproducible bit-for-bit in the DuckDB oracle (query
    * d5). Slower than the xxhash path (one interpreted md5 per shingle);
    * use it when cross-engine reproducibility of the PAIRS matters, the
    * fast path when only the semantics do. */
  def minhashNearDupsPortable(docs: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, k: Int = 16, bands: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    // no pre-filter — see [[minhashNearDups]]: short docs produce empty
    // shingle sets and fall out via the null signature
    val hs = docs
      .select(col(idCol),
        shingleHashesPortableNative(tokens(col(textCol)), n).as("hs"))
    val sig = hs.select(col(idCol), minhashSignatureNative(col("hs"), k).as("sig"))
    val cand = candidatePairs(lshBands(sig, idCol, "sig", bands, k / bands), idCol)
    cand
      .join(hs.select(col(idCol).as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(hs.select(col(idCol).as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Persisted MinHash-LSH index over a corpus — the d13/d18 ingest
    * shape for the near-dup family. One row per doc: (id, hs, bands)
    * where `hs` is the engine-portable hashed shingle set (the verify
    * operand) and `bands` the b LSH band hashes in band order. Built
    * once per corpus epoch, persisted columnar, reused across ingest
    * batches — probing never re-shingles or re-signs the corpus. */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    docs
      .select(col(idCol).as("id"),
        shingleHashesPortableNative(tokens(col(textCol)), n).as("hs"))
      .select(col("id"), col("hs"),
        graft.functions.ColUtil.bindOnce(
          minhashSignatureNative(col("hs"), k)) { sig =>
          transform(sequence(lit(0), lit(bands - 1)),
            j => md5(concat_ws(",", slice(sig, j * r + 1, lit(r)))))
        }.as("bands"))
  }

  /** Metric group for [[incrementalMinhashNearDups]]'s hot-bucket
    * accounting (the [[LshBucketMetrics]] discipline). */
  val IncLshBucketMetrics = "graft_inc_lsh_buckets"

  /** Incremental MinHash-LSH near-dup: new-batch docs against a
    * persisted [[minhashIndex]] — candidates from shared (band,
    * band_hash) buckets, exact-Jaccard verify ≥ `threshold` over the
    * stored hashed shingle sets. Output: (id_a, id_b, jaccard) with
    * id_a from the corpus, id_b from the batch. Semantics equal the
    * full [[minhashNearDupsPortable]] run over corpus ∪ batch
    * restricted to cross pairs (band hashes are deterministic, and
    * the hot-bucket cap counts the UNION bucket population so the
    * cap bites identically) — DedupSuiteSpec proves the identity.
    *
    * 100-TB design: per-batch work is the batch's own shingle/sign
    * pass plus hash joins against the index; the bucket-size guard is
    * a narrow (band, band_hash) partial-agg over index + batch band
    * rows (at a fixed corpus, precompute the index side's counts once
    * and union only the batch deltas). Dropped hot buckets are
    * `observe`-accounted under [[IncLshBucketMetrics]], never silent. */
  def incrementalMinhashNearDups(index: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 3, k: Int = 16, bands: Int = 4,
                                 threshold: Double = 0.5,
                                 maxBucket: Int = 1000): DataFrame = {
    val bhs = batch.select(col(idCol).as("id"),
      shingleHashesPortableNative(tokens(col(textCol)), n).as("hs"))
    val bsig = bhs.select(col("id"), minhashSignatureNative(col("hs"), k).as("sig"))
    val bBands = lshBands(bsig, "id", "sig", bands, k / bands)
      .select(col("id").as("id_b"), col("band"), col("band_hash"))
    val iBands = index
      .select(col("id").as("id_a"), posexplode(col("bands"))
        .as(Seq("band", "band_hash")))

    // Union bucket population (so the cap equals the full run's) with
    // the candidatePairs accounting riding the same aggregation.
    val ok = iBands.select(col("band"), col("band_hash"))
      .unionByName(bBands.select(col("band"), col("band_hash")))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .observe(IncLshBucketMetrics,
        sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(col("bucket_n") > maxBucket, col("bucket_n")).otherwise(0L))
          .as("dropped_docs"),
        max(col("bucket_n")).as("max_bucket_size"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_hash"))

    val cand = iBands.join(ok, Seq("band", "band_hash"), "left_semi")
      .join(bBands.join(ok, Seq("band", "band_hash"), "left_semi"),
        Seq("band", "band_hash"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    cand
      .join(index.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(bhs.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental Hamming near-dup: a batch of 60-bit hashes against a
    * persisted hash index ([[hammingPairs]]' ingest twin — the d19
    * pattern for the dHash/SimHash family, feeding d30's component
    * fold). Returns exactly the pairs a full [[hammingPairs]] run over
    * index ∪ batch emits that TOUCH the batch (id_a < id_b, either
    * side may be the batch doc); the caller unions them onto its
    * previously-computed index-only pairs (or folds them into a
    * component store — [[Dedup.foldComponents]]).
    *
    * Exactness incl. the hot-bucket cap: a bucket's cap decision
    * depends only on its FULL population, and every batch-touching
    * bucket enters [[candidatePairs]] with its full population — the
    * index side is restricted to the batch's (band, band_hash) keys by
    * a broadcast semi-join, which drops whole buckets (none of which
    * can hold a batch-touching pair), never rows within a surviving
    * bucket. So the pair set equals the full run's restricted to new
    * pairs, bit-exactly (DedupSuiteSpec pins it). Index-internal pairs
    * that share a surviving bucket were emitted by the index's own
    * run already and are filtered here.
    *
    * 100-TB design: the corpus is never re-decoded or re-banded into
    * a shuffle — the per-fold cost is one scan of the index's 8-byte
    * hash column under a broadcast semi-join (batch-bounded build
    * side), plus batch-sized work. */
  def incrementalHammingPairs(index: DataFrame, batch: DataFrame,
                              idCol: String, hashCol: String,
                              maxHamming: Int = 3, bands: Int = 4,
                              maxBucket: Int = 1000): DataFrame = {
    require(60 % bands == 0, s"bands must divide 60, got $bands")
    require(bands >= maxHamming + 1,
      s"pigeonhole exactness needs bands >= maxHamming+1 ($bands vs $maxHamming)")
    val width = 60 / bands
    val mask = (1L << width) - 1
    def simsOf(df: DataFrame) = df.select(
      col(idCol).cast("long").as(idCol), col(hashCol).cast("long").as("sim"))
    // hash rides the band rows (candidatePairsCarry) — the verify
    // reads carried sims, so neither side's hash frame is re-evaluated
    // by join-backs (for the index side that was a second corpus-scan
    // of the 8-byte hash column; for the batch a re-decode)
    def bandRows(sims: DataFrame) = sims.select(col(idCol), col("sim"),
        posexplode(
        transform(sequence(lit(0), lit(bands - 1)), j =>
          call_function("shiftright", col("sim"), j * lit(width))
            .bitwiseAND(lit(mask)))))
      .toDF(idCol, "sim", "band", "band_hash")
    val iSims = simsOf(index)
    val bSims = simsOf(batch)
    val bBand = bandRows(bSims)
    val touched = bBand.select(col("band"), col("band_hash")).distinct()
    val rows = bandRows(iSims)
      .join(broadcast(touched), Seq("band", "band_hash"), "left_semi")
      .unionByName(bBand)
    val pairs = candidatePairsCarry(rows, idCol, "sim", maxBucket)
    val bIds = bSims.select(col(idCol))
    val newPairs = pairs
      .join(bIds.withColumnRenamed(idCol, "id_a"), Seq("id_a"), "left_semi")
      .unionByName(pairs
        .join(bIds.withColumnRenamed(idCol, "id_b"), Seq("id_b"), "left_semi"))
      .distinct()
    newPairs
      .select(col("id_a"), col("id_b"),
        call_function("bit_count", col("pay_a").bitwiseXOR(col("pay_b")))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------
  // Persisted Hamming band index (d30/s18/d31): the ON-DISK store
  // behind incremental perceptual dedup — [[incrementalHammingPairs]]'
  // in-memory index frame made durable under the same maintenance
  // discipline as every other ingest family (d19 minhash bands, d23
  // SemDeDup members, q92 key store). Hash-family-generic: BMP dHash
  // (d30), WAV dHash (d31), SimHash — anything 60-bit.
  //
  // Layout: rows (id, sim, band) parquet-partitioned by
  // `bucket = band · nBuckets + (band_hash mod nBuckets)` — each
  // image's 8-byte hash is replicated once per band (`bands` rows,
  // ~`bands`·24 B/image on disk; trivial next to the pixels it
  // replaces) because PRUNING is per-band: a fold's batch touches a
  // set of (band, band_hash) keys, and bucket is a pure function of
  // the key, so the fold reads ONLY the buckets its batch's keys hash
  // to — the q92/d26 directory-skip guarantee. band_hash itself is
  // re-derived from `sim` in-plan at read (a shift+mask — storing it
  // would be redundant bytes through every scan).
  //
  // Contracts: batch ids must be DISJOINT from stored ids (ingest
  // batches are new images by definition; the verify join would
  // duplicate a shared id). A fold publishes exactly once per batch
  // id through its staged commit (d30, d31 and s18 alike).
  // Compaction ([[StoreCompaction.compactStore]]) is
  // row-invariant and self-scheduled by the fold.
  // ---------------------------------------------------------------

  private def hammingMetaFields(bands: Int, nBuckets: Int): Seq[(String, Any)] =
    Seq("bands" -> bands.toLong, "n_buckets" -> nBuckets.toLong)

  /** (id, sim, band, band_hash) rows for a 60-bit hash frame — the
    * banding [[hammingPairs]] and the store share. */
  private def hammingBandRows(sims: DataFrame, idCol: String,
                              bands: Int): DataFrame = {
    val width = 60 / bands
    val mask = (1L << width) - 1
    sims.select(col(idCol), col("sim"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), j =>
          call_function("shiftright", col("sim"), j * lit(width))
            .bitwiseAND(lit(mask)))))
      .toDF(idCol, "sim", "band", "band_hash")
  }

  /** Initialize a persisted Hamming band index from a corpus's (id,
    * 60-bit hash) frame. Layout parameters are pinned in `_meta`
    * ([[StoreMeta]]) — folds read them back, never re-accept them. */
  def hammingIndexBuild(hashes: DataFrame, idCol: String, hashCol: String,
                        path: String, bands: Int = 4,
                        nBuckets: Int = 16): Unit = {
    require(60 % bands == 0, s"bands must divide 60, got $bands")
    val spark = hashes.sparkSession
    val sims = hashes.select(col(idCol).cast("long").as(idCol),
      col(hashCol).cast("long").as("sim"))
    // bucket-aligned write: one task per bucket, so the store is
    // bands·nBuckets files, not shufflePartitions × buckets
    hammingBandRows(sims, idCol, bands)
      .withColumn("bucket", col("band").cast("long") * nBuckets +
        pmod(col("band_hash"), lit(nBuckets.toLong)))
      .select(col(idCol), col("sim"), col("band"), col("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    StoreMeta.write(spark, path, "overwrite",
      hammingMetaFields(bands, nBuckets))
  }

  /** The fold's pruned store read as an EXPLICIT file snapshot — the
    * [[substrStoreFiles]] discipline: pruning is driver-decided and
    * absolute (no directory outside the batch's bucket set is even
    * listed) and the pinned list structurally isolates the fold's
    * output from its own delta append. `private[graft]` so the spec
    * asserts the inventory on exactly the production selection. */
  private[graft] def hammingStoreFiles(spark: SparkSession, path: String,
                                       buckets: Seq[Long]): Seq[String] =
    StoreFiles.bucketFilePaths(spark, path, buckets)

  /** The Hamming fold's pure computation — everything
    * [[hammingIndexFold]] does except touching the store: reads the
    * pinned layout, checkpoints the batch's band rows ONCE (clustered
    * by bucket, so the delta append is mapper-only; the batch's bucket
    * set rides the checkpoint as an observed metric), reads the LIVE
    * store bucket-pruned + semi-join-restricted, and returns (delta
    * rows WITH their bucket column, the new batch-touching pair set).
    * [[hammingWriters]] stages both frames.
    *
    * Exactness vs [[incrementalHammingPairs]] over the full index
    * frame: a stored row dropped by bucket pruning has
    * bucket(band, band_hash) outside the batch's bucket set, hence its
    * exact (band, band_hash) outside the touched set — the broadcast
    * semi-join would drop it anyway; a touched key's bucket is BY
    * CONSTRUCTION in the read set (bucket is a function of the key),
    * so every surviving (band, band_hash) group enters
    * [[candidatePairs]] with its full population and the hot-bucket
    * cap decides identically. The spec pins the store-served fold
    * bit-equal to the in-memory form and to the full-run
    * restriction. */
  private[graft] def computeHammingFold(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucket: Int): (DataFrame, DataFrame) = {
    val metaRows = StoreMeta.readRequire(spark, path, Nil)
    val bands = StoreMeta.pinnedOf[Long](metaRows, path, "bands").toInt
    val nBuckets = StoreMeta.pinnedOf[Long](metaRows, path, "n_buckets").toInt
    require(bands >= maxHamming + 1,
      s"pigeonhole exactness needs bands >= maxHamming+1 ($bands vs $maxHamming)")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val bObs = org.apache.spark.sql.Observation()
    val bRows = hammingBandRows(
        batch.select(col(idCol).cast("long").as(idCol),
          col(hashCol).cast("long").as("sim")), idCol, bands)
      .withColumn("bucket", col("band").cast("long") * nBuckets +
        pmod(col("band_hash"), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .observe(bObs, collect_set(col("bucket")).as("bset"))
      .localCheckpoint()
    val buckets = bObs.get("bset")
      .asInstanceOf[scala.collection.Seq[Long]].sorted
    val storeFiles = hammingStoreFiles(spark, path, buckets.toIndexedSeq)
    val touched = bRows.select(col("band"), col("band_hash")).distinct()
    // the restricted index side is candidate-bounded (only rows whose
    // exact key the batch touches) — checkpoint it so the pair set's
    // two batch-side semi-join branches scan the store once, not per
    // branch (the r18 d30 lazy-decode lesson, applied to the store
    // scan)
    val iRows = (if (storeFiles.isEmpty)
        bRows.select(col(idCol), col("sim"), col("band")).limit(0)
      else spark.read.parquet(storeFiles: _*)
        .select(col(idCol), col("sim"), col("band")))
      .withColumn("band_hash",
        call_function("shiftright", col("sim"), col("band") * lit(width))
          .bitwiseAND(lit(mask)))
      .join(broadcast(touched), Seq("band", "band_hash"), "left_semi")
      .localCheckpoint()
    // the 8-byte sim rides the band rows through candidatePairsCarry:
    // the verify xor/popcount reads both sides off the pair expansion,
    // so the old per-side join-backs (and their distinct-union of a
    // second store-column scan) are gone from the fold entirely
    val rows = iRows.select(col(idCol), col("sim"), col("band"),
        col("band_hash"))
      .unionByName(bRows.select(col(idCol), col("sim"), col("band"),
        col("band_hash")))
    val pairs = candidatePairsCarry(rows, idCol, "sim", maxBucket)
    val bIds = bRows.select(col(idCol)).distinct()
    val newPairs = pairs
      .join(bIds.withColumnRenamed(idCol, "id_a"), Seq("id_a"), "left_semi")
      .unionByName(pairs
        .join(bIds.withColumnRenamed(idCol, "id_b"), Seq("id_b"), "left_semi"))
      .distinct()
    val verified = newPairs
      .select(col("id_a"), col("id_b"),
        call_function("bit_count", col("pay_a").bitwiseXOR(col("pay_b")))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val delta = bRows.select(col(idCol), col("sim"), col("band"),
      col("bucket"))
    (delta, verified)
  }

  private val HammingNames =
    StoreFiles.CommitNames("_ham_batch_", ".ham_staging_", "hbatch")

  /** The Hamming fold's declaration: the store delta (bucket
    * partitions — the batch's band rows, so later batches dedupe
    * against corpus ∪ every earlier batch) and the batch's NEW-PAIR
    * emission (accumulated under `outPath`; pairs are final on
    * emission — a pair's hamming distance never changes, so segments
    * are disjoint and need no latest-wins resolution). */
  private[graft] def hammingCommit(spark: SparkSession, path: String,
                                   outPath: String,
                                   batchId: Long): StoreFiles.StagedCommit =
    HammingNames.at(spark, path, batchId, Seq(
      StoreFiles.Artifact("delta", path),
      StoreFiles.Artifact("out", outPath)))

  /** The Hamming fold's writers over [[computeHammingFold]]; the delta
    * arrives CLUSTERED by bucket (the fold's one checkpoint), so its
    * write is mapper-only. */
  private[graft] def hammingWriters(spark: SparkSession, path: String,
                                    batch: DataFrame, idCol: String,
                                    hashCol: String, maxHamming: Int,
                                    maxBucket: Int): Map[String, String => Unit] = {
    val (delta, pairs) = computeHammingFold(spark, path, batch, idCol,
      hashCol, maxHamming, maxBucket)
    Map("delta" -> (dir => delta.write.partitionBy("bucket").parquet(dir)),
      "out" -> (dir => pairs.write.parquet(dir)))
  }

  /** Fold a batch of (id, 60-bit hash) rows into a persisted
    * [[hammingIndexBuild]] layout, exactly once per `batchId` through
    * [[hammingCommit]] (protocol in [[StoreFiles]]), adding the NEW
    * batch-touching pair set (id_a, id_b, hamming) to `outPath` —
    * exactly what a full [[hammingPairs]] run over index ∪ batch
    * emits that touches the batch (the [[incrementalHammingPairs]]
    * contract, served from disk): the store is read bucket-pruned +
    * broadcast-semi-restricted, the corpus is never re-decoded or
    * re-banded into a shuffle, and the batch's band rows join the
    * store so later folds dedupe against corpus ∪ every earlier
    * batch. The emitted pairs feed [[Dedup.foldComponents]] (the d30
    * composition). Self-scheduled compaction, after the batch's
    * marker is durable, keeps per-bucket file counts bounded over
    * unbounded folds (row-invariant; ≤ 0 disables). Returns whether
    * the batch was applied (false = replay skip). */
  def hammingIndexFold(spark0: SparkSession, path: String, outPath: String,
                       batch: DataFrame, batchId: Long, idCol: String,
                       hashCol: String, maxHamming: Int = 3,
                       maxBucket: Int = 1000,
                       autoCompactTrigger: Int = 24): Boolean = {
    // AQE-off clone: batch-sized actions, fixed-latency tax otherwise
    val spark = StoreCompaction.quietSession(spark0)
    val applied = hammingCommit(spark, path, outPath, batchId)
      .applyIdempotent(hammingWriters(spark, path,
        GraftColumnBridge.onSession(spark, batch), idCol, hashCol,
        maxHamming, maxBucket))
    if (applied && autoCompactTrigger > 0 &&
        StoreCompaction.needsMaintenance(spark, path, autoCompactTrigger)) {
      StoreCompaction.compactStore(spark, path)
      ()
    }
    applied
  }

  /** C4-style paragraph-level exact dedup: split every document on
    * `sep`, keep only the globally-FIRST occurrence of each distinct
    * paragraph (ordered by (doc id, position)), and reconstruct each
    * document from its surviving paragraphs in original order.
    * Removes cross-document boilerplate (cookie banners, nav footers)
    * that whole-document dedup can't see.
    *
    * Scale design: the winner of each distinct paragraph is a
    * partial-aggregable MIN — `groupBy(para).agg(min(struct(doc_id,
    * pos)))` — so map-side combine collapses a boilerplate banner
    * present in 10% of a 100 TB corpus to one row per input task
    * BEFORE the shuffle; the reduce side sees ~n_tasks rows per
    * paragraph, never a single-task sort of billions (the
    * row_number-window form this replaced could not partial-aggregate
    * because the surrounding count consumes every row, defeating the
    * WindowGroupLimit pushdown). Marking kept occurrences is a plain
    * equi-join back on the content, which AQE's OptimizeSkewedJoin can
    * split at runtime — a window partition can't be split.
    * Reconstruction is the final shuffle, back on doc id
    * (high-cardinality, skew-tolerant). Both the winner aggregation
    * and the join-back are keyed on md5(paragraph), not the text: the
    * winners side then never ships paragraph bodies through the
    * exchange and the shuffle sorts/compares 16-byte digests instead
    * of arbitrary-length strings. A 128-bit digest is collision-safe
    * far past any real corpus (~2^64 distinct paragraphs for a 50%
    * birthday bound), so the content-keyed SEMANTICS are unchanged —
    * which is why the oracle still groups by the raw paragraph text
    * and the outputs hash-match.
    *
    * Returns (doc_id, n_paras, n_kept, clean_text). */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .withColumn("ph", unhex(md5(col("para"))))
    val winners = paras.groupBy(col("ph"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    paras.join(winners, Seq("ph"))
      .withColumn("keep",
        col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        // collect_list drops the nulls (= dropped paragraphs); struct
        // sort restores document order before the join
        array_join(transform(
          sort_array(collect_list(when(col("keep"),
            struct(col("pos"), col("para"))))),
          s => s.getField("para")), sep).as("clean_text"))
  }

  /** 60-bit SimHash over token hashes: bit i of the result is set iff
    * the (+1/−1)-weighted count of tokens with bit i set is positive.
    * Token hashes are computed once, then folded in ONE fused native
    * pass ([[graft.plans.SimhashFold]], whole-stage codegen) — the
    * composable 60-per-bit-aggregate form this replaces walked the
    * hash array 60 times through interpreted HOFs per document
    * (bit-identical results; r19 optimization, d12 ~2.0 → measured
    * below). */
  def simhash60(text: Column): Column =
    GraftColumnBridge.column(graft.plans.SimhashFold(
      GraftColumnBridge.expression(transform(tokens(text), t => hash60(t)))))

  /** SimHash near-dup PAIRS, exact within `maxHamming` bits, by
    * pigeonhole banding: the 60-bit simhash is split into `bands`
    * equal-width slices; two hashes within Hamming distance
    * `maxHamming` differ in at most `maxHamming` slices, so with
    * `bands >= maxHamming + 1` they MUST agree on at least one slice
    * and meet in that band's bucket. Candidates from shared buckets
    * go through [[candidatePairs]] — the same single-shuffle bucket
    * expansion, hot-bucket cap, and observe accounting as the MinHash
    * LSH path — then one xor+popcount verifies the true distance. The
    * output is therefore the EXACT pair set at the threshold (modulo
    * capped buckets, which are metric-accounted, never silent), not an
    * approximation: banding buys recall=1 at O(bands) rows per doc
    * instead of the O(n²) all-pairs join.
    *
    * Scale: one shuffle keyed on (band, 15-bit band value), with the
    * 8-byte hash riding each band row so the verify is expression-only
    * (no join-back; [[candidatePairsCarry]]) — the hash frame is
    * evaluated exactly once. Boilerplate corpora are the skew risk —
    * every empty/near-empty doc folds to simhash 0 and lands in one
    * bucket per band — and hit the same `maxBucket` guard as d2. */
  def simhashHammingPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          maxBucket: Int = 1000): DataFrame =
    // the 60-fold simhash aggregation is evaluated ONCE: the hash
    // rides the band rows through candidatePairsCarry and the verify
    // reads it off the pair expansion (r19 optimization — the old
    // join-back form re-ran the fold per verify side; measured 3
    // corpus scans / 2 extra joins in the d12 plan, 3.4→~1.3 s).
    hammingPairs(docs.select(col(idCol), simhash60(col(textCol)).as("sim")),
      idCol, "sim", maxHamming, bands, maxBucket)

  /** Hamming near-dup PAIRS over a PRECOMPUTED 60-bit locality hash —
    * the banding + verify core of [[simhashHammingPairs]], factored
    * out so any 60-bit hash family reuses it unchanged: SimHash over
    * token streams (d3/d12), perceptual dHash over decoded image
    * pixels ([[graft.operators.Multimodal.dHash60]], d27). Same
    * pigeonhole-exactness contract: `bands >= maxHamming + 1` slices
    * guarantee two hashes within `maxHamming` bits agree on at least
    * one slice, so recall is 1 (modulo metric-accounted capped
    * buckets) at O(bands) rows per doc instead of O(n²) all-pairs.
    * Output: (id_a, id_b, hamming) with id_a < id_b. */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3, bands: Int = 4,
                   maxBucket: Int = 1000): DataFrame = {
    require(60 % bands == 0, s"bands must divide 60, got $bands")
    require(bands >= maxHamming + 1,
      s"pigeonhole exactness needs bands >= maxHamming+1 ($bands vs $maxHamming)")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val sims = hashes.select(col(idCol), col(hashCol).cast("long").as("sim"))
    // the 8-byte hash RIDES the band rows through the one exchange
    // (candidatePairsCarry): the verify xor/popcount reads both sides
    // off the pair expansion, so the hash frame — a 60-fold token
    // aggregation for SimHash, a full media decode for d27/d28 — is
    // evaluated ONCE, and the two join-back exchanges are gone.
    val bandRows = sims.select(col(idCol), col("sim"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), j =>
          call_function("shiftright", col("sim"), j * lit(width))
            .bitwiseAND(lit(mask)))))
      .toDF(idCol, "sim", "band", "band_hash")
    candidatePairsCarry(bandRows, idCol, "sim", maxBucket)
      .select(col("id_a"), col("id_b"),
        call_function("bit_count", col("pay_a").bitwiseXOR(col("pay_b")))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Repeated-span coverage (substring-level dedup signal, the
    * Lee-et-al. "deduplicating training data" family): per doc, the
    * token count covered by width-`k` shingles occurring more than
    * once in the corpus, by EXACT interval union — sorted duplicate
    * start positions, `lag()`: first start contributes k, each next
    * `min(k, gap)` — not the naive `k * n_starts` that over-counts
    * overlapping spans. Returns
    * (doc_id, n_tokens, n_dup_starts, n_covered, dup_span_frac).
    *
    * Scale: shingle counts are a partial-aggregable groupBy on the
    * hash (a boilerplate shingle in billions of docs still emits one
    * count per mapper); the join-back is hash-keyed with no downstream
    * agg on h; the interval-union window is doc-keyed, bounded by doc
    * length. The d10 contamination plan family, pointed inward. */
  def spanCoverage(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val sh = tk.filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(shingleHashesPortableNative(col("toks"), k)))
      .withColumnRenamed("col", "h").withColumnRenamed("pos", "p")
    val dup = sh.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p").asc)
    val covered = sh.join(dup, "h")
      .withColumn("prev", lag(col("p"), 1).over(w))
      .withColumn("add", when(col("prev").isNull, lit(k.toLong))
        .otherwise(least(lit(k.toLong), (col("p") - col("prev")).cast("long"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_dup_starts"),
        sum(col("add")).cast("bigint").as("n_covered"))
    tk.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_starts"), lit(0L)).cast("bigint").as("n_dup_starts"),
        coalesce(col("n_covered"), lit(0L)).cast("bigint").as("n_covered"),
        when(col("n_tokens") > 0,
          coalesce(col("n_covered"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("dup_span_frac"))
  }

  /** ExactSubstr-style duplicate-SPAN removal (Lee et al. 2022,
    * arXiv:2107.06499 — "Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr tool; reference behavior for
    * cross-document repeated-substring removal): every token window of
    * length `l` whose token sequence occurs MORE THAN ONCE in the
    * corpus (across or within documents) marks all its occurrences
    * EXCEPT the lexicographically first (doc_id, pos) — keep-first,
    * the D1 keep-lowest-id discipline, so one copy of each duplicated
    * span survives. A token is removed iff some marked window covers
    * it; the cleaned text is the remaining tokens in order. d11 is
    * paragraph-granular and d16 only SCORES span coverage — this
    * actually REMOVES cross-document duplicate text at token
    * granularity, the paper's semantics re-expressed relationally
    * (their suffix-array scan is a single-machine construction; the
    * window-key group-by is the shuffle-native equivalent).
    *
    * Plan shape and 100 TB economics: one shuffle of (window-key,
    * doc, pos) to find duplicated keys (partial-aggregable min/count,
    * map-side combined), one broadcast-or-shuffle join back of the
    * marked starts (duplicate keys only — at web scale still corpus-
    * sized in the worst case, but bounded by the true duplication
    * volume, which is the work's intrinsic size), then ONE window per
    * document (partition key = doc_id, so no task ever holds more
    * than one document's tokens — the per-doc form of the q89
    * bucketing argument). With `hashKeys = true` the shuffled window
    * key is the 16-byte md5 digest of the window text — fixed-width
    * instead of ~l words, and collision-safe far past any real corpus
    * (~2^64 distinct windows for a 50% birthday bound, the d11
    * digest-keying argument), so the content-keyed semantics are
    * unchanged. The text-keyed form is what the oracle gates; the
    * hashed form is spec-pinned equal. Output:
    * (doc_id, clean_text, n_removed) per tokenizable document.
    *
    * Incremental ingest twin: [[exactSubstrBuildStore]] /
    * [[exactSubstrFold]] (the d26 gate).
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
                       l: Int, hashKeys: Boolean = false): DataFrame = {
    require(l >= 2, "window length must be at least 2")
    val tk = substrTokens(docs, idCol, textCol)
    val occ = substrWindows(tk, l, hashKeys)
    // duplicated keys, keep-first: min(struct) is the lexicographic
    // (doc_id, wpos) minimum — partial-aggregable, no per-key window
    // (the boilerplate key IS a mega-key; a row_number over it would
    // serialize in one task)
    val dup = occ.groupBy(col("wkey"))
      .agg(min(struct(col("doc_id"), col("wpos"))).as("keep"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    substrClean(tk, substrMarked(occ, dup), l)
  }

  private def substrTokens(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))

  /** One row per l-token window: (doc_id, wpos, wkey). With
    * `hashKeys` the key is the 16-byte md5 digest of the window text
    * (the d11 move: the shuffle sorts/compares fixed 16-byte digests
    * instead of ~l words, and 128 bits is collision-safe far past any
    * real corpus — ~2^64 distinct windows for a 50% birthday bound —
    * so the content-keyed semantics are unchanged). */
  private def substrWindows(tk: DataFrame, l: Int,
                            hashKeys: Boolean): DataFrame =
    tk.filter(size(col("toks")) >= l)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - l)).as("wpos"))
      .withColumn("wkey_text",
        array_join(slice(col("toks"), col("wpos") + 1, lit(l)), " "))
      .withColumn("wkey",
        if (hashKeys) unhex(md5(col("wkey_text"))) else col("wkey_text"))
      .select(col("doc_id"), col("wpos"), col("wkey"))

  /** Duplicate occurrences to cut: every (doc, wpos) of a duplicated
    * key except its keep. `dup` carries (wkey, keep). Renamed columns:
    * marked shares lineage with the token side downstream, and a
    * same-name join condition would degenerate to the trivially-true
    * self-comparison Spark warns about. No distinct: every caller
    * passes a wkey-unique `dup` (the full dedup's groupBy; the fold's
    * batch-agg ∪ DISTINCT stored keys) and `occ` is unique per
    * (doc_id, wpos) by construction, so the join output is already
    * row-unique — a distinct here would be a free-standing shuffle of
    * every marked occurrence (corpus-sized in the full dedup). */
  private def substrMarked(occ: DataFrame, dup: DataFrame): DataFrame =
    occ.join(dup.select(col("wkey"), col("keep")), Seq("wkey"))
      // null-safe: a NULL keep (the fold's stored-key rows — the true
      // keep lives store-side under the monotone-id contract) exempts
      // no occurrence; non-null keeps compare exactly as before
      .filter(!(struct(col("doc_id"), col("wpos")) <=> col("keep")))
      .select(col("doc_id").as("m_doc"), col("wpos"))

  /** Coverage + reconstruction: a token is covered iff a marked window
    * STARTS within the l-1 positions at or before it. The marked
    * starts are grouped to ONE sorted array per document (the only
    * shuffle here, bounded by the marked-occurrence count), then a
    * codegen'd two-pointer walk ([[graft.plans.SpanRemoveClean]] /
    * [[graft.plans.SpanRemoveCount]]) reconstructs each document in a
    * single map-only pass over `tk` — the previous relational form
    * (posexplode → join → per-doc RANGE window → collect_list regroup)
    * paid two token-level corpus-sized shuffles for the same answer.
    * Returns (doc_id, clean_text, n_removed) for every document with
    * at least one token (posexplode semantics preserved). */
  private def substrClean(tk: DataFrame, marked: DataFrame,
                          l: Int): DataFrame = {
    val starts = marked.groupBy(col("m_doc"))
      .agg(sort_array(collect_list(col("wpos"))).as("starts"))
    val toks = GraftColumnBridge.expression(col("toks"))
    val sts = GraftColumnBridge.expression(
      coalesce(col("starts"), array().cast("array<int>")))
    tk.filter(size(col("toks")) > 0)
      .join(starts, col("doc_id") === col("m_doc"), "left")
      .select(col("doc_id"),
        GraftColumnBridge.column(graft.plans.SpanRemoveClean(toks, sts, l))
          .as("clean_text"),
        GraftColumnBridge.column(graft.plans.SpanRemoveCount(toks, sts, l))
          .as("n_removed"))
  }

  /** The store's layout parameters ride in its `_meta` file alongside
    * the ingest high-water mark: `l` and `hashKeys` define what a
    * window KEY IS, and `nBuckets` defines where a key LIVES — a fold
    * run with any of them different would silently mis-join keys or
    * prune the wrong bucket partitions (keeping batch duplicates of
    * stored text with no error), so [[readSubstrMeta]] requires
    * equality loudly ([[StoreMeta]]). The meta is APPEND-ONLY past the
    * build (one row per ingest; readers take the max high-water mark
    * and validate every row's layout): an append promotes
    * idempotently under a deterministic file name, which is what lets
    * a fold replay a crashed batch without a read-modify-write window.
    * This is the row shape the build writes and each fold stages. */
  private[graft] def substrMetaFields(maxDoc: Long, l: Int, nBuckets: Int,
                                      hashKeys: Boolean): Seq[(String, Any)] =
    Seq("max_doc" -> maxDoc, "l" -> l, "n_buckets" -> nBuckets,
      "hash_keys" -> hashKeys)

  /** Validate the store's layout against the caller's parameters and
    * return the ingest high-water mark (max over the append-only meta
    * rows). Loud on any mismatch — see [[substrMetaFields]]. */
  private[graft] def readSubstrMeta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      l: Int, nBuckets: Int, hashKeys: Boolean): Long =
    StoreMeta.maxLong(
      StoreMeta.readRequire(spark, path, Seq("l" -> l,
        "n_buckets" -> nBuckets, "hash_keys" -> hashKeys)),
      "max_doc")

  private def substrWithBucket(agg: DataFrame, nBuckets: Int): DataFrame =
    agg.withColumn("bucket", pmod(crc32(col("wkey")), lit(nBuckets.toLong)))

  /** The fold's pruned store read, as an EXPLICIT file snapshot: the
    * parquet files currently under exactly the requested bucket
    * directories (the q92 directory-skip guarantee, enforced by file
    * selection rather than by a partition filter the optimizer must
    * honor). Pinning the concrete file list does double duty:
    *
    *  - PRUNING is driver-decided and absolute — no directory outside
    *    the batch's bucket set is even listed (`private[graft]` so the
    *    spec asserts the inventory on EXACTLY the production
    *    selection);
    *  - SNAPSHOT ISOLATION is structural — a plan built over these
    *    files can never observe a later delta append, so the fold's
    *    returned output frame stays lazily composable (no eager
    *    checkpoint barrier) and two folds' store scans can never
    *    canonicalize equal (their file lists differ by the earlier
    *    fold's delta), which closes the exchange-reuse duplicate-keep
    *    regression the previous checkpoint existed to prevent. */
  private[graft] def substrStoreFiles(spark: SparkSession, path: String,
                                      buckets: Seq[Long]): Seq[String] =
    StoreFiles.bucketFilePaths(spark, path, buckets)

  /** Initialize a persisted window-key store for incremental
    * ExactSubstr ingest AND return the corpus's cleaned output (the
    * same result as [[exactSubstrDedup]] over `docs`, computed from
    * the same window aggregation). The store holds one DELTA row per
    * (window key, batch): (wkey, keep, cnt), parquet-partitioned by
    * `bucket = crc32(wkey) mod nBuckets` — the q92 key-store
    * discipline, crc32 because it is bit-identical in every engine
    * and driver-side. `keep = min(struct(doc_id, wpos))` and `cnt`
    * are both associative, so folds APPEND deltas and readers
    * re-aggregate per key; nothing is ever rewritten. Singleton keys
    * (cnt = 1) are stored deliberately: a window seen once now can be
    * duplicated by any later batch, and dropping it would silently
    * keep both copies (spec-pinned counter-example). State is
    * corpus-sized — O(total tokens) key rows, the d23 economics: the
    * price of bit-exactness for corpus-wide keep-first semantics.
    * `outWrite`, when set, PERSISTS the cleaned output via a fan-out
    * that shares the one window aggregation between the store write
    * and the output write (see the branch comment below). */
  def exactSubstrBuildStore(docs: DataFrame, idCol: String,
                            textCol: String, l: Int, path: String,
                            nBuckets: Int = 64,
                            hashKeys: Boolean = false,
                            outWrite: Option[DataFrame => Unit] = None,
                            bloomSide: Boolean = false): DataFrame = {
    require(l >= 2, "window length must be at least 2")
    val spark = docs.sparkSession
    val tk = substrTokens(docs, idCol, textCol)
    // the high-water max RIDES the store write as an observed metric
    // on a write-chain-only branch of tk (the separate tk.agg(max)
    // pre-pass was a full corpus scan); identical semantics — the
    // high-water was already max over TOKENIZED docs
    val obs = org.apache.spark.sql.Observation()
    val occW = substrWindows(
      tk.observe(obs, max(col("doc_id").cast("long")).as("mx")),
      l, hashKeys)
    val aggOf = (o: DataFrame) => o.groupBy(col("wkey"))
      .agg(min(struct(col("doc_id"), col("wpos"))).as("keep"),
        count(lit(1)).as("cnt"))
    // The window aggregation is the expensive shared stage — the
    // store's content IS aggOf(occ) and the returned cleaned output
    // needs its dup keys — so materialize it ONCE (executor-local
    // checkpoint: the same bytes the store write is about to persist,
    // spilled where a shuffle of that size would spill anyway). The
    // pre-checkpoint form paid the corpus agg TWICE on the plain
    // path: once in the store write, once again when the returned
    // frame materialized. The cleaned output re-windows tk for
    // positions (unavoidable — positions don't survive the agg) but
    // never re-aggregates; it deliberately does NOT read the store
    // back, so it stays valid after later folds append or a vacuum
    // rewrites the files. Retention: the checkpoint blocks (one row
    // per distinct window key — corpus-scale) stay pinned on executor
    // local storage for as long as the RETURNED frame is referenced,
    // and are context-cleaned once the caller drops it; a caller that
    // must hold the cleaned output across a long session should
    // materialize it (write/collect) and release the frame rather
    // than keep the lazy handle alive.
    val agg = aggOf(occW).localCheckpoint()
    // the checkpoint materialized occW, so the observed max is set
    val maxDoc = {
      val mxAny = obs.get("mx")
      if (mxAny == null) Long.MinValue else mxAny.asInstanceOf[Long]
    }
    val dup = agg.filter(col("cnt") >= 2)
      .select(col("wkey"), col("keep"))
    val occ = substrWindows(tk, l, hashKeys)
    val cleaned = substrClean(tk, substrMarked(occ, dup), l)
    // bucket-align the write (the SemDeDup-state discipline): each
    // bucket's rows land in ONE task, so the store is nBuckets files,
    // not shuffle-partitions × nBuckets — at a store maintained by
    // many appends that factor is the difference between listing
    // thousands of files and listing nBuckets. `outWrite` (the s14
    // stream seed) persists the cleaned output as a concurrent
    // action of the same fan-out.
    // opt-in small-fold bucket pruning ([[BloomSide]]): the sidecar
    // seeds from the SAME checkpointed aggregation as a concurrent
    // action of the build fan-out — the post-write rebuildFromStore
    // form paid a serialized store read-back pass for content the
    // build already holds in memory. Folds auto-detect the dir and
    // maintain it. The seed lands in a SIBLING staging dir and is
    // installed only after the store write commits: the store write's
    // mode("overwrite") deletes the whole `path` tree up front, so a
    // sidecar written under `path` concurrently could be erased
    // mid-commit — a PARTIAL sidecar with maintained()=true would let
    // later folds prune buckets holding uncovered build keys (silent
    // wrong dedup output). A crash between the write and the install
    // leaves the store sidecar-less: folds scan everything, correct.
    Par.run(Seq(
      () => {
        substrWithBucket(agg, nBuckets)
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(path)
        ()
      })
      ++ (if (bloomSide)
            Seq[() => Unit](() => BloomSide.seedFreshStaged(
              substrWithBucket(agg, nBuckets), path, "bucket", "wkey"))
          else Nil)
      ++ outWrite.map(write => () => write(cleaned)).toSeq)
    if (bloomSide) BloomSide.installSeed(spark, path)
    StoreMeta.write(spark, path, "overwrite",
      substrMetaFields(maxDoc, l, nBuckets, hashKeys))
    cleaned
  }

  /** Maintenance vacuum for an [[exactSubstrBuildStore]] layout: each
    * fold appends one (wkey, keep, cnt) delta row per batch key, so a
    * window key hot across many folds accumulates one row per fold.
    * Collapse each key to its merged row (min keep — the global keep
    * under the monotone-id contract; summed cnt), in one job under
    * the crash-convergent swap ([[StoreCompaction.rewriteStore]]; wkey
    * determines bucket, so (bucket, wkey) grouping is the
    * per-partition collapse exactly).
    * Read-invariant: every store reader merges with exactly this
    * min/sum. Single-maintainer contract — do not run concurrently
    * with folds. */
  def vacuumSubstrStore(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    StoreCompaction.rewriteStore(spark, path, df =>
      df.groupBy(col("bucket"), col("wkey"))
        .agg(min(col("keep")).as("keep"),
          sum(col("cnt")).cast("bigint").as("cnt")))
    // collapse the fold-accumulated bloom rows to one per bucket
    // (atomic swap; key set is vacuum-invariant so coverage holds)
    if (BloomSide.maintained(spark, path))
      BloomSide.rebuildFromStore(spark, path, "bucket", "wkey")
    ()
  }

  private val SubstrNames =
    StoreFiles.CommitNames("_substr_batch_", ".substr_staging_", "sbatch")

  /** The substr fold's declaration: the store delta (bucket
    * partitions), the append-only `_meta` high-water row (readers max
    * over rows), the batch's cleaned output (accumulated under
    * `outPath`) — and, on a bloom-maintained store, the delta's
    * bloom-sidecar rows. The sidecar's coverage contract survives
    * every crash window because the batch is not marked applied until
    * the promote copied BOTH the delta and its blooms, and a crashed
    * batch replays (single-maintainer) before any later fold could
    * consult the sidecar against the new keys. */
  private[graft] def substrCommit(spark: SparkSession, path: String,
                                  outPath: String,
                                  batchId: Long): StoreFiles.StagedCommit =
    SubstrNames.at(spark, path, batchId, Seq(
        StoreFiles.Artifact("delta", path),
        StoreFiles.Artifact("meta", StoreMeta.metaPath(path)),
        StoreFiles.Artifact("out", outPath))
      ++ (if (BloomSide.maintained(spark, path))
            Seq(StoreFiles.Artifact("bloom", s"$path/${BloomSide.DirName}"))
          else Nil))

  /** The substr fold's writers over [[computeSubstrFold]]: delta, out
    * and bloom derive from the fold's checkpointed join. */
  private[graft] def substrWriters(spark: SparkSession, path: String,
                                   batch: DataFrame, idCol: String,
                                   textCol: String, l: Int, nBuckets: Int,
                                   hashKeys: Boolean): Map[String, String => Unit] = {
    val (delta, out, newMax) = computeSubstrFold(spark, path, batch,
      idCol, textCol, l, nBuckets, hashKeys)
    def desc(s: String)(body: => Unit): Unit =
      graft.Phase(spark, s"substr-fold: $s")(body)
    Map(
      // pre-clustered by bucket
      "delta" -> (dir => desc("delta write") {
        delta.write.partitionBy("bucket").parquet(dir) }),
      "out" -> (dir => out.write.parquet(dir)),
      "meta" -> (dir => StoreMeta.writeFile(spark, dir,
        substrMetaFields(newMax, l, nBuckets, hashKeys))),
      "bloom" -> (dir => desc("bloom write") {
        BloomSide.stageDelta(delta.select(col("bucket"), col("wkey")), dir,
          "bucket", "wkey") }))
  }

  /** Fold a document batch into an [[exactSubstrBuildStore]] layout,
    * exactly once per `batchId` through [[substrCommit]] (protocol in
    * [[StoreFiles]]), adding the BATCH's cleaned output to `outPath`
    * — bit-identical to what a full [[exactSubstrDedup]] over corpus
    * ∪ batch emits for these docs (the d26 gate), WITHOUT rescanning
    * the corpus: the batch's window keys join only their own bucket
    * partitions of the store (static `PartitionFilters: [bucket IN
    * (…)]`, spec-proved unread elsewhere), so fold cost is O(batch +
    * matched store rows).
    *
    * Correctness rests on the monotonic-ingest contract (enforced
    * loudly against the store's meta): batch doc ids strictly exceed
    * every stored doc id, so a stored key's keep is always the GLOBAL
    * lexicographic minimum — previously emitted cleaned documents can
    * never change (a new occurrence can only lose to an older keep),
    * which is what makes per-batch emission ∪-equal to the full
    * recompute. A batch occurrence is cut iff its key's total count
    * (stored + batch) is ≥ 2 and it is not that global keep; in
    * particular one PRIOR occurrence suffices to cut every batch
    * occurrence of the key.
    *
    * Self-scheduled maintenance runs after the batch's marker is
    * durable: once a bucket's delta-file count reaches the trigger
    * (listing-only check), the store collapses in place — fold cost
    * stays O(batch + matched rows) forever without an
    * operator-remembered vacuum call. ≤ 0 disables. Returns whether
    * the batch was applied (false = replay skip). */
  def exactSubstrFold(spark0: SparkSession, path: String, outPath: String,
                      batch: DataFrame, batchId: Long, idCol: String,
                      textCol: String, l: Int, nBuckets: Int = 64,
                      hashKeys: Boolean = false,
                      autoVacuumTrigger: Int = 24): Boolean = {
    // AQE-off clone: the fold is a handful of batch-sized actions
    // whose per-exchange stage-jobs are fixed-latency tax (see
    // StoreCompaction.quietSession)
    val spark = StoreCompaction.quietSession(spark0)
    val applied = substrCommit(spark, path, outPath, batchId)
      .applyIdempotent(substrWriters(spark, path,
        GraftColumnBridge.onSession(spark, batch), idCol, textCol, l,
        nBuckets, hashKeys))
    if (applied && autoVacuumTrigger > 0 &&
        StoreCompaction.needsMaintenance(spark, path, autoVacuumTrigger))
      vacuumSubstrStore(spark, path)
    applied
  }

  /** The fold's pure computation — everything [[exactSubstrFold]]
    * does EXCEPT touching the store: validates layout + monotonicity,
    * reads the live store (pruned, semi-filtered), and returns
    * (delta rows WITH their bucket column — already CLUSTERED by it,
    * so writers `partitionBy("bucket")` directly with no repartition —
    * the batch's cleaned output, the new high-water mark). The store
    * joins inside are
    * eagerly checkpointed, so neither returned frame re-reads the
    * store when materialized later. [[substrWriters]] stages both
    * frames BEFORE any live mutation. */
  private[graft] def computeSubstrFold(
      spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String,
      textCol: String, l: Int, nBuckets: Int,
      hashKeys: Boolean): (DataFrame, DataFrame, Long) = {
    require(l >= 2, "window length must be at least 2")
    def desc[A](s: String)(body: => A): A =
      graft.Phase(spark, s"substr-fold: $s")(body)
    // ONE serialized checkpoint wave per fold, not two: the batch
    // min/max RIDES the batchAgg checkpoint below as observed metrics
    // on a tokenize branch that feeds ONLY the aggregation — the
    // separate "tokenize checkpoint" job existed to share the token
    // arrays across consumers, but the fold's other consumers (the
    // marked join-back and the reconstruction) both live inside the
    // `out` frame, which materializes as its own CONCURRENT staged
    // action: re-tokenizing the (ingest-sized) batch there adds
    // batch-bounded work to a job that runs in parallel anyway, while
    // the dropped checkpoint removes a whole serialized fixed job
    // latency from every fold — the s14 drain chain's unit of cost.
    // The monotonic guard now fires after the agg job (wasted work on
    // a violating batch — an error path; nothing has been mutated).
    val obs = org.apache.spark.sql.Observation()
    val tkObs = substrTokens(batch, idCol, textCol)
      .observe(obs, min(col("doc_id").cast("long")).as("mn"),
        max(col("doc_id").cast("long")).as("mx"))
    val prevMax = readSubstrMeta(spark, path, l, nBuckets, hashKeys)
    val tk = substrTokens(batch, idCol, textCol)
    val occ = substrWindows(tk, l, hashKeys)
    // localCheckpoint, not persist: the batch aggregation feeds three
    // consumers (bucket collect, delta append, returned frame) and
    // must be computed once — but a CacheManager-tracked persist with
    // no unpersist would accumulate cached blocks across folds, while
    // checkpoint blocks are context-cleaned once the frame is
    // unreferenced. The bucket column rides along and the checkpoint
    // is CLUSTERED by it, so the staged delta write is a mapper-only
    // pass with no further shuffle.
    // the batch's bucket set — and, for bloom-maintained stores, the
    // (bucket, key-hash) prune rows — RIDE this checkpoint as observed
    // metrics (both batch-bounded: ≤ nBuckets longs / the same rows
    // the bloom path used to collect in its own job), saving the
    // separate collect job every fold paid
    val occForAgg = substrWindows(tkObs, l, hashKeys)
    val bloomMaintained = BloomSide.maintained(spark, path)
    val aggObs = org.apache.spark.sql.Observation()
    // ONE shuffle, not two: bucket = crc32(wkey) % n is a FUNCTION of
    // wkey, so a bucket-keyed exchange already co-locates every wkey's
    // occurrences — grouping by (wkey, bucket) on top of
    // repartition(bucket) satisfies the required clustering (the
    // partitioning expressions are a subset of the grouping keys) and
    // Catalyst plans no second exchange, where the groupBy(wkey)-then-
    // repartition(bucket) form paid a wkey shuffle AND a bucket
    // shuffle per fold. Map-side partial aggregation still applies.
    // Batch folds are ingest-sized, so ≤ nBuckets reduce partitions is
    // ample parallelism (the corpus-scale BUILD keeps full-width
    // aggregation in exactSubstrBuildStore).
    val batchAgg = desc("batchAgg checkpoint") {
      substrWithBucket(occForAgg, nBuckets)
        .repartition(col("bucket"))
        .groupBy(col("wkey"), col("bucket"))
        .agg(min(struct(col("doc_id"), col("wpos"))).as("bkeep"),
          count(lit(1)).as("bcnt"))
        .observe(aggObs,
          if (bloomMaintained)
            collect_list(struct(col("bucket"), xxhash64(col("wkey"))))
              .as("bset")
          else collect_set(col("bucket")).as("bset"))
        .localCheckpoint()
    }
    // the checkpoint job materialized tkObs, so the batch min/max are
    // set; enforce the ingest contract before anything is staged
    val mmMap = obs.get
    val mnAny = mmMap("mn")
    require(mnAny != null && mnAny.asInstanceOf[Long] > prevMax,
      s"monotonic-ingest contract: batch min doc id " +
        s"${if (mnAny == null) "(empty)" else mnAny} must exceed " +
        s"stored max $prevMax")
    // the batch's bucket set, collected for a STATIC partition filter
    // (≤ nBuckets longs — the q92 directory-skip guarantee, no
    // optimizer heuristic in the loop). Stores WITHOUT a bloom
    // sidecar pay one single-row agg job (not a distinct + collect
    // pair); bloom-maintained stores collect the batch's (bucket,
    // key-hash) rows instead — the SAME one job (batch-bounded, the
    // contract that lets every store-facing join broadcast the keys)
    // — and prune further: once a batch carries ≳ nBuckets keys its
    // own bucket set covers the store, but the steady-state ingest
    // shape is a SMALL batch against a big store, where most buckets
    // hold none of the batch's keys. [[BloomSide.pruneBuckets]] keeps
    // only maybe-hit buckets, driver-direct (zero extra jobs); false
    // positives re-add a bucket scan, misses are exact, so the
    // fold's output is unchanged.
    val buckets = if (bloomMaintained) {
      val kh = aggObs.get("bset")
        .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      val byBucket = kh.groupBy(_.getLong(0))
        .map { case (b, rows) => b -> rows.map(_.getLong(1)).toArray }
      BloomSide.pruneBuckets(spark, path,
        byBucket.keys.toSeq.sorted, byBucket)
    } else aggObs.get("bset")
      .asInstanceOf[scala.collection.Seq[Long]].toSeq.sorted
    // The stored side of the cut decision is EXISTENCE ONLY: under
    // the monotone-id contract a stored key's global keep is always
    // stored-side (stored doc ids are strictly below batch doc ids),
    // so EVERY batch occurrence of a stored key is cut — the fold's
    // output never needs stored keep or cnt. The scan of the PINNED
    // file snapshot ([[substrStoreFiles]] — structural isolation from
    // this fold's own delta append, no checkpoint barrier) therefore
    // reads the SINGLE wkey column (columnar pruning cuts store-scan
    // bytes ~3×), and the merge needs NO shuffle at all: the
    // existence semi-join and the batch-only anti-join both broadcast
    // the checkpointed batch keys. A stored key enters the dup set
    // with a NULL keep (exempts nothing — the null-safe inequality in
    // [[substrMarked]] cuts all its batch occurrences); a batch-only
    // duplicated key keeps its batch keep. An empty snapshot degrades
    // to the batch-only set with the same schema.
    val storeFiles = substrStoreFiles(spark, path, buckets)
    // explicit broadcasts: both build sides are bounded by the
    // batch's distinct keys (ingest-batch-sized by the fold
    // contract); the static planner only sees the scan's size.
    // distinct(): the raw store holds one DELTA row per (key, fold),
    // so a key hot across folds would otherwise surface once per
    // fold, fanning out substrMarked's join and inflating the dup
    // broadcast (the walk is idempotent under duplicate starts, but
    // paying autoVacuumTrigger× rows for it is waste) — batch-key-
    // bounded, so the dedup is cheap under the broadcast
    val storedKeys = (if (storeFiles.isEmpty)
        batchAgg.select(col("wkey")).limit(0)
      else spark.read.parquet(storeFiles: _*)
        .select(col("wkey"))
        .join(broadcast(batchAgg.select(col("wkey"))),
          Seq("wkey"), "left_semi")
        .distinct())
    val dup = batchAgg.filter(col("bcnt") >= 2)
      .select(col("wkey"), col("bkeep").as("keep"))
      .join(broadcast(storedKeys), Seq("wkey"), "left_anti")
      .unionByName(storedKeys.select(col("wkey"),
        lit(null).cast(batchAgg.schema("bkeep").dataType).as("keep")))
    // dup is batch-bounded HERE (the build path's dup is corpus-sized
    // and must stay shuffled — hint only this call site)
    val out = substrClean(tk, substrMarked(occ, broadcast(dup)), l)
    val delta = batchAgg.select(col("wkey"), col("bkeep").as("keep"),
      col("bcnt").as("cnt"), col("bucket"))
    (delta, out, mmMap("mx").asInstanceOf[Long])
  }
}
