package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.operators.{Boilerplate, DedupSuite, Pack, Quantiles, Similarity}

/** Structured Streaming forms of the engine's batch operators.
  *
  * The reference's "stream" is a sequence of timestamped batch files
  * (`/root/reference/README.md:113-124`): one extraction run = one file,
  * consumed by the next phase. That maps exactly onto Spark's file
  * source — each new file is a micro-batch; `Trigger.AvailableNow`
  * reproduces the reference's run-to-completion semantics.
  *
  * Scale notes: the file source tracks processed files in the checkpoint
  * log, giving the same exactly-once, idempotent-rerun behavior the
  * reference gets from its PK merge; watermarks bound the window state
  * so the aggregation state store stays O(open windows), not O(stream).
  *
  * The persisted-store ingests (s13–s18) hand each micro-batch, with
  * its batch id, to the store family's one fold in `operators/`, which
  * applies it exactly once (protocol in [[graft.operators.StoreFiles]]).
  */
object StreamingJobs {

  /** Tumbling event-time aggregation with a watermark — the streaming
    * twin of [[graft.operators.Windows.tumbling]]. Caller starts it with
    * `.writeStream` (see StreamingSpec for the AvailableNow harness). */
  def tumblingCounts(spark: SparkSession, srcDir: String, schema: StructType,
                     tsCol: String, keyCol: String, width: String,
                     watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total"))

  /** The parquet file source every `foreachBatch` job here reads: one
    * file per micro-batch, each handed to `f` with its batch id. */
  private def eachFile(spark: SparkSession, srcDir: String,
                       schema: StructType, checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        f(batch.toDF(), batchId)
      }
      .start()

  /** Streaming keyed merge: each arriving file micro-batch is upserted
    * into versioned staging via the shared
    * [[graft.operators.VersionedStaging]] protocol inside `foreachBatch`
    * — the streaming form of the reference's load phase. The batch id is
    * recorded per version, so a micro-batch replayed after a failure
    * between write and checkpoint commit is skipped, not duplicated; the
    * _SUCCESS completeness check means a crash mid-write can never
    * become the next merge target. Returns the started query; callers
    * await/stop it. */
  def streamingMerge(spark: SparkSession, srcDir: String, schema: StructType,
                     stagingRoot: String, keys: Seq[String], versionCol: String,
                     checkpoint: String): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      graft.operators.VersionedStaging.mergeInto(
        batch.sparkSession, stagingRoot, batch,
        keys, versionCol, batchId = Some(batchId))
      ()
    }

  /** Streaming incremental mart maintenance: each micro-batch is
    * partially aggregated ([[graft.operators.Marts.dailyPartial]]) and
    * COMBINED with the current mart state — per batch the work is
    * O(batch) + O(mart keys), never a re-aggregation of history (the
    * reference's full refresh, and the only refresh shape that survives
    * 100 TB of accumulated stream). State lives in the same versioned
    * protocol as the staging merge. */
  def streamingIncrementalMart(spark: SparkSession, srcDir: String,
                               schema: StructType, martRoot: String,
                               checkpoint: String): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      val s = batch.sparkSession
      val newPartial = graft.operators.Marts.dailyPartial(
        graft.Tables.normalizeNanos(batch))
      val combined = graft.operators.VersionedStaging.latestComplete(s, martRoot)
        .map(c => graft.operators.Marts.combinePartials(s.read.parquet(c), newPartial))
        .getOrElse(newPartial)
      graft.operators.VersionedStaging.publish(s, martRoot, combined,
        batchId = Some(batchId))
      ()
    }

  /** Streaming CDC APPLY — the consumer half of the q77/q81 snapshot
    * diff: a stream of change rows (key cols + payload cols + `op` ∈
    * ('insert','update','delete'), the [[graft.operators.SnapshotDiff.diff]]
    * output shape) is applied micro-batch by micro-batch to a keyed
    * table held in versioned staging, so
    * `applyCdcStream(diff(old, new))` over a root seeded with `old`
    * converges to `new` — the roundtrip identity the s9 gate checks.
    *
    * Each batch is one [[graft.operators.SnapshotDiff.applyChanges]]
    * (anti-join removal + upsert union: the change batch is small by
    * the CDC premise, so AQE broadcasts it and the table is never
    * shuffled) published as a NEW version — the same atomic,
    * replay-idempotent protocol as [[streamingMerge]], extended with
    * delete semantics the reference's merge lacks
    * (`/root/reference/sql/load/03_merge.sql:1-33` only upserts).
    * Deterministic under any batch split that keeps each key's changes
    * in one batch: diff emits ≤ 1 row per key, so batches commute.
    *
    * 100-TB design: per batch the work is O(batch) + one broadcast-
    * probe pass over the snapshot — at scale the rewrite cost says
    * "partition the staging layout and rewrite only changed
    * partitions", which is exactly [[graft.operators.SnapshotDiff
    * .changedPartitions]] composed with this loop; the gate keeps the
    * unpartitioned form for oracle exactness. */
  def applyCdcStream(spark: SparkSession, srcDir: String, schema: StructType,
                     stateRoot: String, keys: Seq[String],
                     checkpoint: String): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      val s = batch.sparkSession
      val current = graft.operators.VersionedStaging.latestComplete(s, stateRoot)
        .map(p => s.read.parquet(p))
        .getOrElse(sys.error(s"applyCdcStream: $stateRoot not seeded"))
      graft.operators.VersionedStaging.publish(s, stateRoot,
        graft.operators.SnapshotDiff.applyChanges(current, batch, keys),
        batchId = Some(batchId))
      ()
    }

  /** Streaming incremental MinHash-LSH near-dup — the ingest-dedup
    * production shape (r9 verdict item 6): a persisted
    * [[graft.operators.DedupSuite.minhashIndex]] over the corpus is
    * PROBED and GROWN from a document stream via `foreachBatch`. Per
    * micro-batch: (1) probe the current index with
    * [[graft.operators.DedupSuite.incrementalMinhashNearDups]] — the
    * batch is shingled/signed once, candidates come from shared (band,
    * band_hash) buckets, exact-Jaccard verified; (2) append the found
    * pairs under `pairsDir/batch=<id>`; (3) publish index ∪
    * minhashIndex(batch) as the next version. Docs arriving in batch
    * t are therefore deduped against the corpus AND every earlier
    * batch — the cross-batch pairs are the part a fixed-index probe
    * (d19) cannot see, and the s11 gate plants clone pairs split
    * across batches to make exactly that observable.
    *
    * Replay safety: a crash between the index publish and the
    * checkpoint commit replays the batch; the `_BATCH` marker on the
    * latest version detects it and the whole step is SKIPPED —
    * re-probing against the already-grown index would emit wrong
    * pairs (self-matches of the batch against its own index rows).
    * The pairs write is per-batch-dir overwrite, so the
    * crash-before-publish replay (which recomputes against the same
    * index) is idempotent too.
    *
    * 100-TB design: per-batch cost is the batch's own shingle/sign
    * pass plus hash joins against the index — the corpus is never
    * re-shingled (the d19 invariant, now maintained continuously).
    * The index append is a metadata-cheap versioned publish; at real
    * scale the union-write becomes an append-only table partition
    * plus periodic [[graft.operators.VersionedStaging.compact]]. */
  def streamingIncrementalNearDup(spark: SparkSession, srcDir: String,
                                  schema: StructType, indexRoot: String,
                                  pairsDir: String, checkpoint: String,
                                  n: Int = 3, k: Int = 16, bands: Int = 4,
                                  threshold: Double = 0.5): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (b, batchId) =>
      val s = b.sparkSession
      val current = graft.operators.VersionedStaging.latestComplete(s, indexRoot)
        .getOrElse(sys.error(s"streamingIncrementalNearDup: $indexRoot not seeded"))
      if (!graft.operators.VersionedStaging.batchIdOf(s, current).contains(batchId)) {
        val index = s.read.parquet(current)
        graft.operators.DedupSuite.incrementalMinhashNearDups(
          index, b, "doc_id", "text", n, k, bands, threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        graft.operators.VersionedStaging.publish(s, indexRoot,
          index.unionByName(
            graft.operators.DedupSuite.minhashIndex(b, "doc_id", "text", n, k, bands)),
          batchId = Some(batchId))
      }
      ()
    }

  /** Streaming ANN serving (s12): a stream of query vectors scored
    * per micro-batch against a STATIC precomputed PQ index (codebook
    * + code table) — the online form of e9. Each batch runs the exact
    * batch pqScore, so the accumulated output equals the batch run
    * over all queries (each query arrives whole in one batch; top-k
    * is per-query, so batching cannot change it). The stream holds NO
    * state and never shuffles the code table — at 100 TB/day of
    * queries this is the s10 broadcast-enrichment shape pointed at a
    * vector index; index refresh is a VersionedStaging republish,
    * orthogonal to the stream. */
  def streamingAnnServe(spark: SparkSession, srcDir: String,
                        schema: StructType, codebook: DataFrame,
                        codes: DataFrame, outDir: String,
                        checkpoint: String, k: Int, m: Int,
                        dims: Int): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      val qtab = graft.operators.Similarity.pqQueryTable(
        batch, codebook, "vec_id", "embedding", m, dims)
      graft.operators.Similarity.pqScore(codes, qtab, k)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      ()
    }

  /** Streaming incremental IVF ingest (s13): a stream of vector
    * batches grows a persisted, centroid-partitioned IVF index —
    * each micro-batch is assigned against the FROZEN centroid set and
    * folded into the partition layout exactly once
    * ([[graft.operators.Similarity.foldIvfIndex]]); the existing
    * corpus is never re-read, re-assigned, or re-shuffled. This is
    * the s11 move (stream grows persisted state batch by batch)
    * pointed at ANN serving: at 100 TB the index is the big side and
    * ingest cost must be O(batch), which this is. Because centroids
    * are frozen, the stream-grown index is bit-identical to a batch
    * rebuild over corpus ∪ all batches — the s13 gate serves queries
    * from the grown index against e10's full-pipeline oracle. */
  def streamingIvfIngest(spark: SparkSession, srcDir: String,
                         schema: StructType, indexPath: String,
                         centroids: DataFrame,
                         checkpoint: String): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      Similarity.foldIvfIndex(batch.sparkSession, indexPath, batch,
        batchId, centroids, "vec_id", "embedding")
      ()
    }

  /** Streaming incremental ExactSubstr ingest (s14): a stream of
    * MONOTONICALLY-ID'd document batches folds into the persisted
    * window-key store, each micro-batch emitting its own cleaned
    * output exactly once — the d26 fold
    * ([[graft.operators.DedupSuite.exactSubstrFold]]). The corpus is
    * never re-windowed: per batch the store join touches only the
    * batch's own crc32 buckets, and because ids are monotone the
    * accumulated outputs ∪-equal a full ExactSubstr recompute over
    * corpus ∪ batches — the s14 gate reads the accumulated `outPath`
    * against d25's full-pipeline oracle. */
  def streamingSubstrIngest(spark: SparkSession, srcDir: String,
                            schema: StructType, storePath: String,
                            outPath: String, checkpoint: String,
                            l: Int, nBuckets: Int,
                            hashKeys: Boolean): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      DedupSuite.exactSubstrFold(spark, storePath, outPath, batch,
        batchId, "doc_id", "text", l, nBuckets, hashKeys)
      ()
    }

  /** Streaming multimodal ingest (s18): a stream of media batches
    * folds into the persisted Hamming band index, each micro-batch
    * decoding ONCE (`hashesOf` maps the raw micro-batch to its (id,
    * 60-bit hash) frame — e.g. a BMP/WAV decode over a binary
    * column), emitting its new batch-touching pairs exactly once via
    * the d30 fold ([[graft.operators.DedupSuite.hammingIndexFold]]).
    * Because a pair's distance never changes and each batch's ids are
    * fresh, the accumulated pair output ∪-equals the full
    * [[graft.operators.DedupSuite.hammingPairs]] run over corpus ∪
    * batches restricted to batch-touching pairs (no hot-bucket cap
    * trips ⇒ sequential cap decisions are vacuously the full run's —
    * gate corpora stay far under the cap, and trips are
    * observe-accounted, never silent); folding them into the corpus's
    * component labels reproduces the full d29 recompute — the s18
    * gate. */
  def streamingHammingIngest(spark: SparkSession, srcDir: String,
                             schema: StructType, storePath: String,
                             outPath: String, checkpoint: String,
                             hashesOf: DataFrame => DataFrame,
                             idCol: String, hashCol: String,
                             maxHamming: Int): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      DedupSuite.hammingIndexFold(spark, storePath, outPath,
        hashesOf(batch), batchId, idCol, hashCol, maxHamming)
      ()
    }

  /** Streaming incremental quantile-store ingest (s15): a stream of
    * (group, value) batches folds additive cell-count deltas into the
    * persisted store — each micro-batch exactly once via the q96 fold
    * ([[graft.operators.Quantiles.foldQuantileStore]]). The corpus is
    * never rescanned; after the stream drains,
    * [[graft.operators.Quantiles.quantilesFromStore]] serves exact
    * quantiles whose global ranks come from the stream-grown store
    * alone. */
  def streamingQuantileIngest(spark: SparkSession, srcDir: String,
                              schema: StructType, storePath: String,
                              checkpoint: String, grpCol: String,
                              valueCol: String): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      Quantiles.foldQuantileStore(spark, storePath, batch, batchId,
        col(grpCol), col(valueCol))
      ()
    }

  /** Streaming incremental boilerplate ingest (s16): a stream of
    * MONOTONICALLY-ID'd document batches folds into the persisted
    * boilerplate store through the c5 fold
    * ([[graft.operators.Boilerplate.fold]]), each micro-batch emitting
    * a changelog segment (its own cleaned docs + re-emissions of
    * invalidated stored docs, `seq` = the batch id) exactly once.
    * Because the common-line predicate is RETROACTIVE, the accumulated
    * output is resolved latest-seq-per-doc — and that resolution
    * equals the full [[graft.operators.Boilerplate.removeCommonLines]]
    * recompute over corpus ∪ batches (c5's oracle). Per batch the
    * pair store is read bucket-pruned and the doc store only for the
    * bounded invalidated-id set — the corpus is never rescanned. */
  def streamingBoilerplateIngest(spark: SparkSession, srcDir: String,
                                 schema: StructType, storePath: String,
                                 outPath: String, checkpoint: String,
                                 minDocs: Long, nBuckets: Int,
                                 nDocBuckets: Int): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      Boilerplate.fold(spark, storePath, outPath, batch, batchId,
        "doc_id", "text", minDocs, nBuckets, nDocBuckets)
      ()
    }

  /** Streaming incremental sequence packing (s17): a stream of
    * MONOTONICALLY-ID'd (doc_id, n_tokens) batches extends the global
    * token stream at its high-water mark through the q98 fold
    * ([[graft.operators.Pack.foldSpans]]), each micro-batch emitting
    * its final spans exactly once. The accumulated output ∪-equals a
    * one-shot [[graft.operators.Pack.packSpans]] over corpus ∪
    * batches — q97's oracle — because spans are a pure function of
    * (doc order, counts, seqLen) and emitted segments never change. */
  def streamingPackIngest(spark: SparkSession, srcDir: String,
                          schema: StructType, storePath: String,
                          outPath: String, checkpoint: String,
                          seqLen: Long, docsPerShard: Long): StreamingQuery =
    eachFile(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      Pack.foldSpans(spark, storePath, outPath, batch, batchId, "doc_id",
        col("n"), seqLen, docsPerShard)
      ()
    }

  final case class Keyed(id: Long, version: Long, payload: String)

  /** Last-write-wins keyed state — the streaming form of the batch merge
    * (keep-newest-per-key, `/root/reference/sql/load/03_merge.sql:27`).
    * Emits the row only when the incoming version is strictly newer than
    * the stored one (ties keep stored state, like the reference's
    * strict `>`). State is one row per key — at scale, bounded by key
    * cardinality, and evictable via a timeout if keys churn. */
  final case class SessionState(startUs: Long, endUs: Long, n: Long)
  final case class SessionOut(key: Long, start_us: Long, end_us: Long,
                              n_events: Long)

  /** Custom-state streaming sessionization via flatMapGroupsWithState +
    * EventTimeTimeout: per-key session state extends while events
    * arrive within `gapMicros`; a session EMITS either when a
    * same-batch event splits it, or when the WATERMARK passes its
    * end + gap (the timeout path — this is how custom state gets the
    * same bounded-state guarantee `session_window` has natively).
    * Input: a frame with `key` (long) and a WATERMARKED timestamp
    * column `ts` — the watermarked column must flow into the stateful
    * operator itself or the analyzer rejects the event-time timeout. */
  def statefulSessions(events: DataFrame,
                       gapMicros: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    events.select(col("key"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rowsIn: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          val rows = rowsIn.map(r => (r._1, r._2))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(key, s.startUs, s.endUs, s.n))
          } else {
            val sorted = rows.map(_._2).toArray.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { us =>
              cur = cur match {
                case Some(s) if us - s.endUs <= gapMicros =>
                  Some(SessionState(s.startUs, math.max(s.endUs, us), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(key, s.startUs, s.endUs, s.n)
                  Some(SessionState(us, us, 1))
                case None => Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the event-time watermark passes end + gap
              state.setTimeoutTimestamp((s.endUs + gapMicros) / 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Watermark-BOUNDED streaming dedup — the production form of the
    * gate's s3 entry (which keeps exact unbounded `dropDuplicates`
    * state for gate determinism; see SparkEntry s3 notes).
    * `dropDuplicatesWithinWatermark` holds a key in the state store
    * only until the event-time watermark passes its arrival time plus
    * `horizon`, so state is O(keys per horizon) instead of O(every key
    * ever seen) — at 100 TB/day the unbounded form grows without
    * bound, this one plateaus. The trade: a key recurring AFTER the
    * horizon is re-emitted (one duplicate slips through), which is the
    * right contract for ingest dedup where the duplicates that matter
    * are near-in-time (retries, replays) — and exactly why the
    * deterministic gate can't use it (output depends on arrival order
    * relative to the watermark). */
  def dedupWithinWatermark(src: DataFrame, tsCol: String, keys: Seq[String],
                           horizon: String = "10 minutes"): DataFrame =
    src.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keys)

  /** One streaming Misra–Gries summary update: the sketch group's
    * partition id, its non-null-keyed row count so far, and its
    * current ≤ 2k candidate keys (sorted — the array is state, not
    * output, but deterministic encoding keeps sink tables stable for
    * same-order replays). */
  final case class HHUpdate(pgrp: Int, n: Long, keys: Array[String])

  /** Streaming heavy-hitter SKETCH: the q76 Misra–Gries summary
    * maintained incrementally inside `mapGroupsWithState` — the
    * streaming half of the two-pass exact-frequent-items contract
    * ([[graft.operators.HeavyHitters.frequentItems]]).
    *
    * Keys are spread over `nGroups` hash groups; each group's state is
    * one bounded [[graft.operators.HeavyHitters.MGSummary]] (≤ 2k
    * counters + the group's row count), folded forward every
    * micro-batch with the SAME reduce the batch Aggregator uses. A key
    * lives in exactly one hash group, so its undercount is bounded by
    * that group's n_g/(k+1) ≤ n/(k+1) — the merged candidate union
    * therefore contains every key with global count > n/k, the same
    * guarantee the batch sketch gives, regardless of batch boundaries
    * or arrival order (Agarwal et al.'s mergeable-summaries analysis
    * covers arbitrary merge trees, and a stream is just a deep one).
    *
    * Each update emits the group's CURRENT (n, candidates); the
    * finalization (take each group's last update, union candidates,
    * exact-recheck against cold storage with the integer threshold
    * cnt·k > Σn) runs as a batch step — see the s8 entry. The exact
    * recheck makes the final output deterministic even though the
    * in-flight candidate sets vary with arrival order: candidates are
    * a superset of the true heavy hitters in every run, and the exact
    * threshold prunes them to the same set.
    *
    * 100-TB design: state is nGroups × ≤ 2k counters TOTAL — the
    * stream shuffles rows to nGroups state partitions but the STATE
    * STORE never grows with key cardinality (contrast a streaming
    * groupBy(key).count(), whose state is the key space). nGroups
    * spreads the per-row state-update cost; k bounds memory.
    */
  def streamingHeavyHitterSketch(keys: Dataset[String], k: Int,
                                 nGroups: Int): Dataset[HHUpdate] = {
    import keys.sparkSession.implicits._
    val agg = new graft.operators.HeavyHitters.MisraGriesAgg(k)
    keys
      .groupByKey(s => math.floorMod(s.##, nGroups))
      .mapGroupsWithState[graft.operators.HeavyHitters.MGSummary, HHUpdate](
        GroupStateTimeout.NoTimeout) {
        (pgrp: Int, rows: Iterator[String],
         state: GroupState[graft.operators.HeavyHitters.MGSummary]) =>
          val next = rows.foldLeft(state.getOption.getOrElse(agg.zero))(agg.reduce)
          state.update(next)
          HHUpdate(pgrp, next.n, next.counts.keysIterator.toArray.sorted)
      }
  }

  /** Finalize a [[streamingHeavyHitterSketch]] run: `updates` is the
    * update-mode sink table (every emitted [[HHUpdate]]), `keyed` the
    * batch view of the SAME rows the stream consumed (one string
    * column `k`, nulls already excluded). Takes each group's last
    * update (n strictly increases per update, so max-n is unique),
    * unions the candidates, and exact-rechecks with the integer
    * threshold cnt·k > Σn — output (k, cnt) is exactly the batch
    * [[graft.operators.HeavyHitters.frequentItems]] / naive
    * GROUP BY + HAVING set. */
  def finalizeHeavyHitters(updates: DataFrame, keyed: DataFrame,
                           k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pgrp")).orderBy(col("n").desc)
    val fin = updates.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val tot = fin.agg(sum(col("n")).as("_n"))
    val cand = fin.select(explode(col("keys")).as("k")).distinct()
    keyed.join(cand, "k")
      .groupBy("k").agg(count(lit(1)).cast("bigint").as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * k > col("_n"))
      .select(col("k"), col("cnt"))
  }

  def lastWriteWins(input: Dataset[Keyed]): Dataset[Keyed] = {
    import input.sparkSession.implicits._
    input.groupByKey(_.id)
      .flatMapGroupsWithState[Keyed, Keyed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Keyed], state: GroupState[Keyed]) =>
          val newest = rows.reduceOption((a, b) => if (b.version > a.version) b else a)
          newest match {
            case Some(r) if !state.exists || r.version > state.get.version =>
              state.update(r)
              Iterator.single(r)
            case _ => Iterator.empty
          }
      }
  }
}
