package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.hash32

/** Corpus-mix sampling operators for training-data curation.
  *
  * Both operators are deterministic (hash-keyed, no RNG state), so the
  * same inputs produce the same sample on any cluster layout — the
  * property a training pipeline needs for reproducible data orders and
  * resumable jobs.
  */
object Sampling {

  /** Temperature (power-law) domain rebalancing: sample domain `s`
    * with expected kept count proportional to `sqrt(n_s)`, normalized
    * so the expected total is `targetTotal` — the standard alpha=0.5
    * rebalance that keeps mega-domains from drowning the tail in a
    * web-scale training mix.
    *
    * Scale design: the corpus is touched exactly ONCE and never
    * key-shuffled. Per-domain counts are a partial-aggregable groupBy
    * whose output is domain-cardinality-sized; quotas are derived on
    * that tiny frame and BROADCAST back; membership is a narrow filter
    * `hash32(doc_id) mod 2^20 < threshold`. No window, no row_number,
    * no corpus-wide sort — the shape q66's cap (exact-k, needs a
    * per-group rank) cannot reach. This is the 100-TB form of mixture
    * rebalancing: rate-based, not rank-based.
    *
    * Determinism across engines: `sqrt` is IEEE-754 correctly rounded
    * (bit-identical in the JVM and DuckDB); the threshold expression
    * uses a fixed operation order so every intermediate double is
    * identical; everything else is integer arithmetic. `f_s =
    * floor(sqrt(n_s) * 2^20)` is an exact fixed-point weight summed as
    * BIGINT, dodging order-dependent double summation.
    */
  def temperatureSample(docs: DataFrame, idCol: String, domainCol: Column,
                        targetTotal: Long, salt: Int = 5): DataFrame = {
    val Ring = 1L << 20
    val d = docs.select(col(idCol).as("doc_id"), domainCol.as("domain"))
    val counts = d.groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_total"))
      .withColumn("f", floor(sqrt(col("n_total").cast("double")) * (1L << 20))
        .cast("long"))
    val s = counts.agg(sum(col("f")).as("f_sum"))
    // threshold on the 2^20 hash ring; double math in a FIXED order
    // (f*T*R, then S*n, then one divide) mirrored verbatim in the SQL
    // oracle, so cross-engine results are bit-identical without the
    // BIGINT overflow a pure-integer form would hit at corpus scale.
    val quotas = counts.crossJoin(broadcast(s))
      .withColumn("threshold",
        least(lit(Ring),
          floor(col("f").cast("double") * targetTotal.toDouble * Ring.toDouble /
            (col("f_sum").cast("double") * col("n_total").cast("double")))
            .cast("long")))
      .select(col("domain"), col("n_total"), col("threshold"))
    val kept = d.join(broadcast(quotas), "domain")
      .filter(pmod(hash32(col("doc_id").cast("string"), salt), lit(Ring)) <
        col("threshold"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).cast("bigint").as("n_kept"),
        min(col("doc_id")).as("min_kept_id"))
    quotas.join(kept, Seq("domain"), "left")
      .select(col("domain"), col("n_total"), col("threshold"),
        coalesce(col("n_kept"), lit(0L)).cast("bigint").as("n_kept"),
        col("min_kept_id"))
  }

  /** Deterministic per-epoch training shuffle + shard assignment: each
    * (epoch, doc) gets a pseudorandom but reproducible position —
    * `key = hash32(epoch:doc_id)`, `shard = key mod n_shards`,
    * `pos = row_number` within (epoch, shard) by key — so every epoch
    * reads the corpus in a different order, yet any reader (or a
    * resumed job) reconstructs the exact same order with no stored
    * shuffle state.
    *
    * Scale design: the per-shard position window is the only sort, and
    * the shard count is DERIVED in-plan from the corpus size
    * (`ceil(n_docs / targetDocsPerShard)`, the q68/Pack discipline),
    * so each window is a bounded ~targetDocsPerShard-row task and
    * parallelism grows with the data. Hash sharding keeps shards
    * uniform — there is no skewed key to straggle on by construction.
    */
  def epochShuffle(docs: DataFrame, idCol: String, epochs: Int,
                   targetDocsPerShard: Long = 1L << 20,
                   salt: Int = 6): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"))
    val n = base.agg(count(lit(1)).cast("long").as("n_docs_total"))
    val t = base.crossJoin(broadcast(n))
      .withColumn("epoch", explode(sequence(lit(1), lit(epochs))))
      .withColumn("n_shards",
        greatest(expr(s"(n_docs_total + ${targetDocsPerShard - 1}) div $targetDocsPerShard"),
          lit(1L)))
      .withColumn("key", hash32(
        concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")), salt))
      .withColumn("shard", pmod(col("key"), col("n_shards")))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("key").asc, col("doc_id").asc)
    t.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
  }

  /** Priority sampling (Duffield–Lunde–Thorup, JACM 2007): keep the k
    * items per group with the largest priority `w/u`, `u` uniform on
    * (0,1] — a weighted sample whose subset-sum estimators are
    * near-optimal, the standard one-pass weighted-sampling scheme for
    * picking k representative documents per stratum proportional to a
    * quality/size weight.
    *
    * Determinism across engines: `u` is a Lehmer step on the item id
    * (`1 + ((id mod M-1) * 48271) mod M`, M = 2^31-1) — pure BIGINT
    * arithmetic with intermediates < 2^48, identical in Spark and
    * DuckDB — and the priority is ONE correctly-rounded IEEE division
    * of two integer-exact doubles (< 2^53), so the ranking is
    * bit-portable with no libm dependency (the t14/q72 discipline:
    * ln/pow are not cross-engine-safe; +,*,/ and sqrt are). The id
    * tie-break makes the order total.
    *
    * Scale design: priorities are computed scan-side; the per-group
    * rank goes through [[TopK.perGroup]], which Spark plans with
    * WindowGroupLimit — each mapper ships at most k rows per group
    * into the single group-key shuffle, so the exchange carries
    * O(groups × k × mappers), never the corpus. Rows with
    * non-positive weight can never be sampled (priority ≤ 0) and are
    * excluded up front where the contract is visible.
    */
  def prioritySample(df: DataFrame, groupKeys: Seq[String], idCol: Column,
                     weightCol: Column, k: Int): DataFrame =
    TopK.perGroup(
      df.filter(weightCol > 0)
        .withColumn("priority", priorityOf(idCol, weightCol)),
      groupKeys, Seq(col("priority").desc, idCol.asc), k)

  /** The DLT priority w/u with the deterministic Lehmer uniform —
    * shared by [[prioritySample]] and its ingest fold. */
  private def priorityOf(idCol: Column, weightCol: Column): Column = {
    val M = 2147483647L // 2^31 - 1 (Lehmer modulus)
    val u = lit(1L) + pmod(pmod(idCol.cast("long"), lit(M - 1)) * 48271L, lit(M))
    weightCol.cast("double") / u.cast("double")
  }

  /** Fold an ingest batch into a persisted priority sample — the
    * d13/q90 ingest discipline for weighted sampling. Top-k selection
    * is K-MERGEABLE: when `state` = top-k(corpus), top-k(state ∪
    * batch) = top-k(corpus ∪ batch) — any corpus row outside the
    * stored top-k is beaten by k state rows in its group and can
    * never re-enter — so ingest touches ONLY the O(groups·k) state
    * plus the batch; the corpus is never rescanned. Priorities are
    * deterministic (Lehmer uniforms), so the fold is BIT-identical to
    * a full recompute over the union — the q93 gate. `state` must be
    * a prior [[prioritySample]] output (its `rnk` is recomputed);
    * batch ids must be disjoint from corpus ids (the sampled-once
    * contract). */
  def prioritySampleFold(state: DataFrame, batch: DataFrame,
                         groupKeys: Seq[String], idCol: Column,
                         weightCol: Column, k: Int): DataFrame = {
    val b = batch.filter(weightCol > 0)
      .withColumn("priority", priorityOf(idCol, weightCol))
    TopK.perGroup(state.drop("rnk").unionByName(b),
      groupKeys, Seq(col("priority").desc, idCol.asc), k)
  }

  /** DSIR-style data selection (Xie et al., NeurIPS 2023,
    * arXiv:2302.03169): score every raw document by how target-like
    * its hashed n-gram feature profile is, keep the top `k`. The
    * published method ranks by Σ_buckets log(p_target(b)/p_raw(b));
    * this implementation ranks by the integer-exact surrogate
    *
    *   score(doc) = Σ_tokens [ tc(b)·N_raw − rc(b)·N_target ]
    *
    * — per bucket the cross-multiplied numerator of
    * p_target(b) − p_raw(b) — preserving the method's structure
    * (hashed bucket features, importance weights from target-vs-raw
    * frequency, rank and select) while staying BIGINT-exact in every
    * engine: no libm log, whose last-ULP rounding the IEEE standard
    * does not pin down across implementations (the q72/t14/q83
    * portability discipline).
    *
    * Scale design: the corpus is tokenized ONCE. Bucket statistics are
    * one partial-aggregable groupBy onto `nBuckets` keys (tiny output,
    * map-side combined); the weight table (`nBuckets` rows) is
    * BROADCAST back onto the token stream, so the only corpus-sized
    * shuffle is the per-doc score sum — itself partial-aggregable on
    * doc_id. The final top-k plans as TakeOrderedAndProject
    * (per-partition heads, never a global sort materialization). At
    * 100 TB raise `nBuckets` toward the paper's 10^4 — every cost
    * above is unchanged, only the broadcast grows by rows.
    *
    * Overflow bound: |score| ≤ n_doc_tokens · N_tgt · N_raw; safe in
    * BIGINT while total corpus tokens stay under ~2^31 per stats
    * partition, and ENFORCED by an in-plan gate (see
    * [[dsirSelectWithStats]]) — at larger corpora compute the weights
    * on a fixed-rate hash sample of tokens (the paper itself estimates
    * distributions from a sample), which rescales both products
    * identically. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: Column,
                 isTarget: Column, k: Int, nBuckets: Int = 64,
                 salt: Int = 0): DataFrame =
    dsirSelectWithStats(docs, idCol, textCol,
      dsirStats(docs, textCol, isTarget, nBuckets, salt), k, nBuckets, salt)

  /** DSIR bucket statistics: (b, rc, tc) — raw and target token
    * counts per hashed bucket. Plain sums, so stats are ADDITIVE:
    * `stats(A ∪ B) = stats(A) ⊎ stats(B)` (union + groupBy-sum on
    * `nBuckets` keys). That additivity is the d13/d19 incremental
    * discipline for data selection — persist the corpus stats once
    * and fold each ingest batch's stats in WITHOUT rescanning the
    * corpus; q90 gates the whole incremental path against a full
    * recompute over the union. */
  def dsirStats(docs: DataFrame, textCol: Column, isTarget: Column,
                nBuckets: Int = 64, salt: Int = 0): DataFrame =
    docs
      .select(isTarget.as("tgt"),
        explode(graft.functions.TextFunctions.tokens(textCol)).as("tok"))
      .select(col("tgt"),
        pmod(hash32(col("tok"), salt), lit(nBuckets.toLong)).as("b"))
      .groupBy(col("b")).agg(
        count(lit(1)).cast("long").as("rc"),
        sum(when(col("tgt"), lit(1L)).otherwise(lit(0L))).as("tc"))

  /** Fold one batch's stats into existing stats (bucket-wise sums). */
  def combineDsirStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("b"))
      .agg(sum(col("rc")).as("rc"), sum(col("tc")).as("tc"))

  /** Score `docs` against a given stats frame and keep the top `k` —
    * the query half of [[dsirSelect]] (same integer-exact surrogate,
    * same plan shape: broadcast weights, partial-aggregable per-doc
    * sum, TakeOrderedAndProject). Corpus totals and max|w| come from
    * ONE aggregate row holding the `nBuckets`-row stats frame —
    * bounded, and it keeps the end-to-end plan at two corpus scans (a
    * separate `stats.agg` would add a third).
    *
    * Candidate-set contract (ADVICE r10): scoring is an INNER join on
    * bucket, so a doc with zero tokens — or whose tokens all hash to
    * buckets absent from a foreign `stats` frame (possible in the
    * incremental use, where stats may predate the scored docs) —
    * produces no score rows and CANNOT be selected; it does not
    * compete with score 0. That matches DSIR's intent (a doc sharing
    * no features with the reference distributions carries no evidence
    * of being target-like), and zero-token docs have no defined score
    * at all; callers wanting them selectable must left-join survivors
    * back with a default score themselves.
    *
    * Overflow is LOUD, not silent (ADVICE r10): |score| ≤
    * n_doc_tokens · max|w|, and that bound is asserted in-plan
    * against 2^62 (double-precision product with 2× headroom for
    * rounding), so a corpus past the scaladoc'd ~2^31-token stats
    * bound fails the job with a gate message instead of wrapping
    * BIGINT — on such corpora compute the weights on a fixed-rate
    * token sample (the paper itself estimates distributions from a
    * sample), which rescales both products identically. */
  def dsirSelectWithStats(docs: DataFrame, idCol: String, textCol: Column,
                          stats: DataFrame, k: Int, nBuckets: Int = 64,
                          salt: Int = 0): DataFrame = {
    val w = stats
      .agg(collect_list(struct(col("b"), col("rc"), col("tc"))).as("s"),
        sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
      .select(transform(col("s"), x => struct(x("b").as("b"),
        (x("tc") * col("rt") - x("rc") * col("tt")).as("w"))).as("ws"))
      .select(explode(col("ws")).as("x"),
        array_max(transform(col("ws"), x => abs(x("w")))).as("maxw"))
      .select(col("x.b").as("b"), col("x.w").as("w"), col("maxw"))
    val scored = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(textCol)).as("tok"))
      .select(col("doc_id"),
        pmod(hash32(col("tok"), salt), lit(nBuckets.toLong)).as("b"))
      .join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).cast("long").as("score"),
        count(lit(1)).cast("long").as("ntok"), max(col("maxw")).as("maxw"))
    Checks.gated(scored, "dsir_score_overflow",
        col("ntok").cast("double") * col("maxw").cast("double")
          < lit(math.pow(2, 62)),
        concat(lit("ntok="), col("ntok").cast("string"),
          lit(" max|w|="), col("maxw").cast("string")))
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
