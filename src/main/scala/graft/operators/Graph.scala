package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph scoring operators.
  *
  * Corpus-curation pipelines score documents/hosts by graph centrality
  * (the CommonCrawl-derived corpora gate on link-graph signals before
  * text-quality filters ever run), and the reference's relational
  * surface has no graph operator family at all — this is extension
  * surface in the spirit of `Dedup.connectedComponents`, its sibling
  * iterative-graph shape.
  *
  * All arithmetic is INTEGER-EXACT (the d17/q78 discipline): ranks are
  * BIGINT in units of `scale`, damping is applied as `(85 * x) div
  * 100`, and per-node contribution is `rank div out_degree` with
  * truncating (= floor, all values non-negative) division. Exactness
  * buys two things: the DuckDB oracle can replicate the recurrence
  * bit-for-bit with no float-sum-order hazard, and the 1x/8x
  * parallelism sweep is trivially deterministic because BIGINT
  * addition is associative — a double-summed PageRank is neither.
  */
object Graph {

  /** Damped PageRank over a directed edge list, `iters` fixed
    * synchronous iterations, integer-exact.
    *
    * Recurrence (all BIGINT):
    * {{{
    *   r_0(v)     = scale
    *   r_{t+1}(v) = (15*scale) div 100
    *                + (85 * sum_{u->v} (r_t(u) div outdeg(u))) div 100
    * }}}
    * The node set is src ∪ dst of `edges` (assumed pre-deduplicated).
    * Dangling nodes (no out-edges) receive rank but contribute none —
    * their mass decays rather than being redistributed, the standard
    * "lost mass" simplification; callers wanting the probability-
    * normalized variant symmetrize the edge list (as q82 does), which
    * removes dangling nodes by construction.
    *
    * Scale shape: `edges ⋈ outdeg` is precomputed ONCE and persisted
    * with the contribution divisor attached — the loop's per-iteration
    * work is exactly one shuffle (ranks hash-join edges on src — both
    * sides partitioned by the same key after round 1, so AQE reuses
    * the exchange) plus one partial-aggregable BIGINT sum keyed by
    * dst. Rank state is O(|V|) rows of 16 bytes; lineage is truncated
    * by localCheckpoint each round (the connectedComponents idiom at
    * `Dedup.scala:99`). At 100 TB the edge list is the big side and it
    * never re-materializes after the first iteration.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val (contribEdges, nodes, ranks0) = pageRankSetup(edges, srcCol, dstCol, scale)
    // iterations are UNROLLED into one lazy plan, checkpointed every
    // `chunk` rounds (lineage/plan-size bound) and once at the end —
    // a fixed-iteration recurrence needs no per-round convergence
    // read, so materializing every round bought nothing but a
    // blockstore round-trip + an extra job per iteration (r19
    // optimization; the per-round plan shape is still exactly
    // [[pageRankStep]], which GraphSpec pins to one exchange).
    val chunk = 8
    var ranks = ranks0
    var t = 0
    while (t < iters) {
      ranks = pageRankStep(contribEdges, nodes, ranks, scale)
      t += 1
      if (t % chunk == 0 || t == iters) ranks = ranks.localCheckpoint()
    }
    // ranks is materialized (checkpointed at t == iters), so the lazy
    // unpersist cannot strand the final action without its cache
    contribEdges.unpersist(blocking = false)
    ranks
  }

  /** The loop inputs of [[pageRank]]: `(contribEdges, nodes, ranks0)`
    * — the persisted edge list with its contribution divisor attached,
    * the checkpointed node set, and the checkpointed uniform initial
    * ranks. Exposed (with [[pageRankStep]]) so plan evidence —
    * GraphSpec's exchange-count assertion, PlanDump's q82 iteration
    * entry — inspects EXACTLY the plan the production loop runs, not a
    * reconstruction. */
  def pageRankSetup(edges: DataFrame, srcCol: String, dstCol: String,
                    scale: Long = 1000000000000L): (DataFrame, DataFrame, DataFrame) = {
    // checkpoint the (src, dst) list FIRST: it fans out into three
    // consumers (out-degrees, the contribution join's probe side, the
    // node set), and without materialization each consumer re-ran the
    // caller's whole edge derivation — for q82 that is an
    // orders ⋈ lineitem join + distinct + symmetrizing union,
    // measured re-executing twice more in the setup jobs (r19
    // optimization; 16 bytes/edge, the cheapest thing in the plan)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val outdeg = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("bigint").as("outd"))
    // the loop's only big join input: edge list with the divisor
    // pre-attached, persisted so iterations 2..n reread a materialized
    // shuffle-friendly cache instead of re-running the upstream plan
    val contribEdges = e.join(outdeg, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id")))
      .distinct()
      .localCheckpoint()
    // ranks0 is NOT checkpointed: it is a literal-column projection
    // over the already-checkpointed node set, so materializing it was
    // one more fixed-latency job + blockstore round-trip for a frame
    // the first iteration can rebuild from the node checkpoint with a
    // single scan inside its own job (r19 optimization; bit-identical
    // by construction — same rows, same literal).
    (contribEdges, nodes,
      nodes.select(col("node_id"), lit(scale).as("pr")))
  }

  /** ONE synchronous iteration of the recurrence, as an UNCHECKPOINTED
    * plan over the loop state — the exact loop body of [[pageRank]].
    *
    * The per-iteration shape that must hold at any scale — pinned by
    * GraphSpec ("loop body plans exactly one shuffle") and PLANS.md's
    * q82 iteration entry: ONE hash exchange total, the contribution
    * sum's, fed by a map-side partial `sum`; the edge side joins from
    * the persisted cache and is never re-shuffled (ranks is the small
    * O(|V|) side — broadcast locally, co-partitioned SMJ at cluster
    * scale). Nodes with no in-edges are handled by UNIONING a zero
    * contribution row per node into the aggregation, NOT by a second
    * join back to the node set: `sum(0 ∪ contribs) = sum(contribs)`
    * bit-exactly in BIGINT, every node is guaranteed a group, and the
    * join-back's own rank-sized exchange (the checkpointed ranks scan
    * has unknown partitioning, so the join could never reuse one)
    * disappears — measured, that removed 1 of 2 per-iteration
    * exchanges without changing a single output bit.
    *
    * `a DIV b`, NOT `a / b`: Spark's `/` on BIGINT routes through
    * DOUBLE, whose 53-bit mantissa mis-floors quotients once the
    * damped sums pass 2^53 (~9e15 — reachable at graph sizes this
    * targets). DIV is true integral division, exact at any magnitude. */
  /** Materialize the loop's big input — the contribution-edge list
    * `(src, dst, outd)` — as a parquet store PARTITIONED BY `bucket =
    * src mod nBuckets`: the persisted-state layout that makes graph
    * INGEST incremental (the d13/d19/e10/q90 discipline applied to
    * PageRank). The bucket column exists purely so an edge-batch
    * append can rewrite ONLY the partitions holding an affected
    * source ([[appendToContribStore]]); `nBuckets` bounds the rewrite
    * granularity — at 100 TB raise it so one bucket ≈ one comfortable
    * rewrite unit. Modulo (not hash) keeps the bucket reproducible in
    * any engine; a hot SOURCE does not skew storage because a source
    * row count is its out-degree, already bounded by the graph. */
  def buildContribStore(edges: DataFrame, path: String, srcCol: String,
                        dstCol: String, nBuckets: Int = 32): Unit = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outdeg = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("bigint").as("outd"))
    e.join(outdeg, Seq("src"))
      .withColumn("bucket", pmod(col("src"), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Fold an edge batch into a [[buildContribStore]] layout WITHOUT
    * rescanning the old edge list: the batch changes `outd` only for
    * its own sources, so only the partitions CONTAINING an affected
    * source are read back (a STATIC `bucket IN (…)` partition filter
    * from the bounded affected-bucket set — see
    * [[affectedStoreRows]]) and rewritten (dynamic partition
    * overwrite); every other bucket's files are untouched on disk —
    * GraphSpec pins that at the file level. Cost is O(batch +
    * affected-bucket rows), independent of total graph size when the
    * batch touches few buckets — the only ingest shape that holds
    * when the edge list is 100 TB and the daily delta is 0.1% of it.
    *
    * The folded store is row-identical to a fresh build over
    * edges ∪ batch (outd_new = outd_old + outd_batch per source;
    * untouched sources keep their rows verbatim), so a fixed-iteration
    * BIGINT PageRank over it is BIT-EXACT to a full rebuild — the q91
    * gate. `batch` must be disjoint from the stored edges (the same
    * pre-deduplicated contract [[pageRank]] assumes). */
  def appendToContribStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, batch: DataFrame, srcCol: String,
                           dstCol: String, nBuckets: Int = 32): Unit = {
    val b = batch.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val bOutdeg = b.groupBy(col("src"))
      .agg(count(lit(1)).cast("bigint").as("b_outd"))
    val oldAff = affectedStoreRows(spark, path, bOutdeg, nBuckets)
    val oldOutd = oldAff.groupBy(col("src"))
      .agg(max(col("outd")).as("old_outd")) // outd is constant per src
    val newOutd = oldOutd.join(bOutdeg, Seq("src"), "full")
      .select(col("src"),
        (coalesce(col("old_outd"), lit(0L)) +
          coalesce(col("b_outd"), lit(0L))).as("outd"))
    // localCheckpoint materializes the new partition contents BEFORE
    // the overwrite starts — never overwrite a path mid-read
    val staged = oldAff.select(col("src"), col("dst"))
      .unionByName(b)
      .join(newOutd, Seq("src"))
      .withColumn("bucket", pmod(col("src"), lit(nBuckets.toLong)))
      .localCheckpoint()
    staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)
  }

  /** The partition-pruned read half of [[appendToContribStore]] —
    * store rows from ONLY the buckets containing a batch source.
    * The affected-bucket set is bounded by `nBuckets` (an OPERATOR
    * PARAMETER, not data), so it is collected and pruned STATICALLY:
    * the scan carries `PartitionFilters: [bucket IN (…)]`
    * unconditionally — where a broadcast-join DPP formulation is
    * hostage to the optimizer's benefit heuristic (measured: it
    * declines to fire on a predicate-free build side, leaving a full
    * store scan). This is the q9 bounded-collect economics: one tiny
    * driver-side set, directory-level skip guaranteed at any scale.
    * Exposed so plan evidence (PlanDump's q91 section, GraphSpec)
    * inspects EXACTLY the production read. `batchOutdeg` is the
    * (src, …) frame of batch sources. */
  def affectedStoreRows(spark: org.apache.spark.sql.SparkSession,
                        path: String, batchOutdeg: DataFrame,
                        nBuckets: Int): DataFrame = {
    val buckets = batchOutdeg
      .select(pmod(col("src"), lit(nBuckets.toLong)).as("bucket")).distinct()
      .collect().map(_.getLong(0)).sorted
    StoreCompaction.repairStore(spark, path) // converge a crashed compaction
    spark.read.parquet(path)
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
  }

  /** Run the fixed-iteration recurrence over a persisted
    * [[buildContribStore]] layout — the serving half of incremental
    * PageRank: same loop, same single per-iteration exchange as
    * [[pageRank]], but the edge side comes from the store (one scan,
    * persisted across iterations) instead of being derived from raw
    * edges, so ranks can be refreshed after every
    * [[appendToContribStore]] without ever re-deriving out-degrees
    * from the full edge list. */
  def pageRankFromStore(spark: org.apache.spark.sql.SparkSession,
                        path: String, iters: Int,
                        scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // the store is compaction-maintained: converge any crashed
    // compaction swap BEFORE reading, so a crash window never
    // silently serves with a partition absent until the next
    // maintenance pass happens to run (no-op on a clean store)
    StoreCompaction.repairStore(spark, path)
    val contrib = spark.read.parquet(path)
      .select(col("src"), col("dst"), col("outd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = contrib.select(col("src").as("node_id"))
      .unionByName(contrib.select(col("dst").as("node_id")))
      .distinct()
      .localCheckpoint()
    // uncheckpointed for the same reason as in [[pageRankSetup]]:
    // a projection over the checkpointed node set rebuilds in-plan
    var ranks = nodes.select(col("node_id"), lit(scale).as("pr"))
    // unrolled like [[pageRank]]: checkpoint every `chunk` rounds and
    // at the end, not per round
    val chunk = 8
    var t = 0
    while (t < iters) {
      ranks = pageRankStep(contrib, nodes, ranks, scale)
      t += 1
      if (t % chunk == 0 || t == iters) ranks = ranks.localCheckpoint()
    }
    contrib.unpersist(blocking = false)
    ranks
  }

  def pageRankStep(contribEdges: DataFrame, nodes: DataFrame, ranks: DataFrame,
                   scale: Long = 1000000000000L): DataFrame = {
    val contribs = contribEdges
      .join(ranks.withColumnRenamed("node_id", "src"), Seq("src"))
      .select(col("dst").as("node_id"),
        expr("pr div outd").as("c"))
    nodes.select(col("node_id"), lit(0L).as("c"))
      .unionByName(contribs)
      .groupBy(col("node_id"))
      .agg(sum(col("c")).as("m"))
      .select(col("node_id"),
        (lit(15L * scale / 100L) + expr("(85 * m) div 100")).as("pr"))
  }
}
