package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.hash32

/** Token-budget sequence packing (training-example prep): stream
  * documents in id order into `binTokens`-token bins, shard-parallel.
  *
  * The cumulative-sum window that assigns bins is inherently a sort, so
  * the scale lever is the SHARD: docs are hash-sharded and each shard
  * packs independently. The shard count is DERIVED from the input size
  * — `ceil(n_docs / targetDocsPerShard)`, floor 1 — rather than a
  * constant: with a fixed shard count each shard's window is a
  * single-task sort over corpus/k rows and grows without bound (at
  * 100 TB a constant 8 means eight 12.5 TB sorts); with a derived
  * count each shard stays a bounded `targetDocsPerShard`-row task and
  * parallelism grows with the data. The count is computed IN-PLAN from
  * a broadcast one-row count aggregate (integer ceil, so the same
  * arithmetic is reproducible in the DuckDB oracle), not driver-side.
  *
  * Packing quality note: hash sharding trades perfect fill for
  * parallelism — bins at each shard's tail may run short. That is the
  * standard corpus-scale tradeoff (greedy global packing would
  * serialize); bin fill converges to `1 - avg_doc/binTokens` per shard
  * either way.
  */
object Pack {

  /** GPT-style sequence packing WITH document splitting: concatenate
    * every document's tokens in doc-id order into one global stream,
    * chunk the stream into `seqLen`-token training sequences, and
    * emit the span map — which token range of which document lands in
    * which sequence. Unlike [[packBins]] (whole docs into bins,
    * order traded for hash-shard parallelism), this keeps EXACT
    * global order and splits long documents across sequence
    * boundaries — the standard pretraining shape.
    *
    * The global running offset is a TWO-PHASE distributed prefix sum:
    * docs shard by `doc_id div docsPerShard` (arithmetic, so the
    * shard respects global order and is reproducible in any engine),
    * each shard cumsums locally under a bounded-size window, and the
    * per-shard totals — one row per shard — are collected into ONE
    * row, prefix-summed there and broadcast back. Nothing corpus-sized
    * is ever sorted globally or moved to one task; the big side pays exactly
    * one exchange (the shard key). Span extraction is a per-row
    * `sequence()` explode: ~n/seqLen + 1 rows per doc.
    *
    * Returns (seq_id, doc_id, tok_start, tok_end): sequence `seq_id`
    * carries doc tokens [tok_start, tok_end). Zero-token docs are
    * excluded (they occupy no stream positions).
    *
    * `nTokens` is evaluated on BOTH sides of the two-phase sum (the
    * shard-offset branch aggregates before its exchange, which is
    * cheaper than paying the big exchange twice) — if counting is
    * expensive (a real tokenizer), pass a precomputed counts column
    * instead of an inline expression. */
  def packSpans(docs: DataFrame, idCol: String, nTokens: Column,
                seqLen: Long, docsPerShard: Long = 1L << 20,
                baseOffset: Long = 0L): DataFrame = {
    require(seqLen > 0 && docsPerShard > 0 && baseOffset >= 0,
      "seqLen and docsPerShard must be positive, baseOffset non-negative")
    val base = docs.select(col(idCol).as("doc_id"),
        nTokens.cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("shard", expr(s"doc_id div $docsPerShard"))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // duplicate doc ids would make the cumsum's tie order (and so
    // every start offset) run-nondeterministic — detect them for
    // free: equal ids share a shard (shard = id div docsPerShard)
    // and are adjacent under the window's sort, so a same-window lag
    // comparison sees every duplicate without any extra exchange or
    // job. assert_true yields NULL when the check passes; threading
    // it through local_start (+0) keeps the column-pruner from
    // dropping it.
    val prevId = lag(col("doc_id"), 1)
      .over(Window.partitionBy(col("shard")).orderBy(col("doc_id")))
    val dupGuard = coalesce(
      assert_true(prevId.isNull || prevId =!= col("doc_id"),
        lit("packSpans requires unique doc ids — duplicate id found; " +
          "offsets would be tie-order nondeterministic")).cast("long"),
      lit(0L))
    val within = base
      .withColumn("local_start",
        coalesce(sum(col("n")).over(wIn), lit(0L)) + dupGuard)
    // one row per shard, gathered in shard order into a single row
    // (bounded: shards, never docs); a shard's offset is the sum of
    // the totals before it
    val offsets = base.groupBy(col("shard")).agg(sum(col("n")).as("stot"))
      .agg(sort_array(collect_list(struct(col("shard"), col("stot")))).as("ts"))
      .select(col("ts"), posexplode(col("ts")).as(Seq("i", "t")))
      .select(col("t.shard").as("shard"),
        aggregate(slice(col("ts"), lit(1), col("i")), lit(0L),
          (acc, t) => acc + t.getField("stot")).as("offset"))
    within.join(broadcast(offsets), Seq("shard"))
      .withColumn("start", lit(baseOffset) + col("offset") + col("local_start"))
      .withColumn("fin", col("start") + col("n"))
      .select(col("doc_id"), col("start"), col("fin"),
        explode(sequence(expr(s"start div $seqLen"),
          expr(s"(fin - 1) div $seqLen"))).as("seq_id"))
      .select(col("seq_id"),
        col("doc_id"),
        (greatest(col("seq_id") * seqLen, col("start")) - col("start"))
          .as("tok_start"),
        (least((col("seq_id") + 1) * seqLen, col("fin")) - col("start"))
          .as("tok_end"))
  }

  // ---------------------------------------------------------------
  // Incremental sequence packing (q98/s17). Packing is the CHEAPEST
  // ingest family in the repo: spans are a pure function of (doc
  // order, token counts, seqLen) and the stream only ever GROWS at
  // the end, so previously emitted spans never change and the whole
  // persisted state is two numbers — the token high-water (where the
  // next batch's stream starts) and the doc-id high-water (the
  // monotone guard). Meta rows are additive (token deltas summed,
  // max_doc maxed), the q92 mergeable move; `seq_len` is pinned and
  // checked loudly (a silently different seqLen re-chunks the whole
  // stream). Union of build + fold emissions == a one-shot packSpans
  // over the full corpus bit-exactly — the q98/s17 gate.
  // ---------------------------------------------------------------

  /** The span store's meta row shape — the build writes it and each
    * fold stages it, so both share one schema (promote copies the
    * staged file into the live meta dir). */
  private[graft] def spanMetaFields(maxDoc: Long, tokenDelta: Long,
                                    seqLen: Long): Seq[(String, Any)] =
    Seq("max_doc" -> maxDoc, "token_delta" -> tokenDelta,
      "seq_len" -> seqLen)

  /** Validate `seqLen` against the store ([[StoreMeta]] — a different
    * seqLen re-chunks the whole stream) and return
    * (docHighWater, tokenHighWater). */
  private[graft] def readSpanMeta(spark: org.apache.spark.sql.SparkSession,
                                  path: String, seqLen: Long): (Long, Long) = {
    val rows = StoreMeta.readRequire(spark, path, Seq("seq_len" -> seqLen))
    (StoreMeta.maxLong(rows, "max_doc"),
      StoreMeta.sumLong(rows, "token_delta"))
  }

  /** Initialize the incremental span store (just its meta — see the
    * family notes) and return the corpus's spans
    * (== [[packSpans]] over `docs`). */
  def buildSpanStore(docs: DataFrame, idCol: String, nTokens: Column,
                     seqLen: Long, path: String,
                     docsPerShard: Long = 1L << 20): DataFrame = {
    val (b, _, mx, tot) = observedCounts(docs, idCol, nTokens)
    require(mx != null, "cannot build a span store from an empty corpus")
    StoreMeta.write(docs.sparkSession, path, "overwrite",
      spanMetaFields(mx.asInstanceOf[Long], tot, seqLen))
    packSpans(b, "doc_id", col("n"), seqLen, docsPerShard)
  }

  /** `docs` as checkpointed (doc_id, n) rows, evaluated once: the id
    * min and max and the token sum ride the checkpoint job as observed
    * metrics. Returns (rows, min id, max id, token sum); the ids are
    * null on an empty frame. */
  private def observedCounts(docs: DataFrame, idCol: String,
                             nTokens: Column): (DataFrame, Any, Any, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val b = docs.select(col(idCol).as("doc_id"), nTokens.cast("long").as("n"))
      .observe(obs, min(col("doc_id").cast("long")).as("mn"),
        max(col("doc_id").cast("long")).as("mx"), sum(col("n")).as("tot"))
      .localCheckpoint()
    val m = obs.get
    (b, m("mn"), m("mx"), Option(m("tot")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** One fold's computation WITHOUT mutating the store meta — the
    * fold's writers stage on this. Returns
    * (spans, newDocHighWater, tokenDelta). */
  private[graft] def computeSpanFold(spark: org.apache.spark.sql.SparkSession,
                                     path: String, batch: DataFrame,
                                     idCol: String, nTokens: Column,
                                     seqLen: Long,
                                     docsPerShard: Long): (DataFrame, Long, Long) = {
    val (prevMax, prevTotal) = readSpanMeta(spark, path, seqLen)
    val (b, mn, mx, tot) = observedCounts(batch, idCol, nTokens)
    require(mn != null && mn.asInstanceOf[Long] > prevMax,
      s"monotonic-ingest contract: batch min doc id " +
        s"${if (mn == null) "(empty)" else mn} must exceed " +
        s"stored max $prevMax")
    (packSpans(b, "doc_id", col("n"), seqLen, docsPerShard,
        baseOffset = prevTotal),
      mx.asInstanceOf[Long], tot)
  }

  private val PackNames =
    StoreFiles.CommitNames("_pack_batch_", ".pack_staging_", "pbatch")

  /** The pack fold's declaration: the batch's span emission
    * (accumulated under `outPath`; spans are final on emission — the
    * stream only grows at the end, so segments are disjoint and no
    * latest-wins resolution is needed) and the additive `_meta`
    * high-water row. */
  private[graft] def packCommit(spark: org.apache.spark.sql.SparkSession,
                                path: String, outPath: String,
                                batchId: Long): StoreFiles.StagedCommit =
    PackNames.at(spark, path, batchId, Seq(
      StoreFiles.Artifact("out", outPath),
      StoreFiles.Artifact("meta", StoreMeta.metaPath(path))))

  private[graft] def packWriters(spark: org.apache.spark.sql.SparkSession,
                                 path: String, batch: DataFrame,
                                 idCol: String, nTokens: Column,
                                 seqLen: Long,
                                 docsPerShard: Long): Map[String, String => Unit] = {
    val (spans, newMax, delta) = computeSpanFold(spark, path, batch,
      idCol, nTokens, seqLen, docsPerShard)
    Map("out" -> (dir => spans.write.parquet(dir)),
      "meta" -> (dir => StoreMeta.writeFile(spark, dir,
        spanMetaFields(newMax, delta, seqLen))))
  }

  /** Fold a monotonic document batch into a [[buildSpanStore]] layout,
    * exactly once per `batchId` through [[packCommit]] (protocol in
    * [[StoreFiles]]), adding ITS spans to `outPath` — the batch's
    * token stream appended at the stored high-water, so the union of
    * build + fold emissions equals the one-shot [[packSpans]] over the
    * whole corpus bit-exactly. Returns whether the batch was applied
    * (false = replay skip). */
  def foldSpans(spark: org.apache.spark.sql.SparkSession, path: String,
                outPath: String, batch: DataFrame, batchId: Long,
                idCol: String, nTokens: Column, seqLen: Long,
                docsPerShard: Long = 1L << 20): Boolean =
    packCommit(spark, path, outPath, batchId).applyIdempotent(
      packWriters(spark, path, batch, idCol, nTokens, seqLen, docsPerShard))

  /** Length-bucketed inference batching: sort documents by token
    * count within a shard, group each consecutive `batchSize` into a
    * batch, and account the PADDING WASTE — a batch pads every member
    * to its longest sequence, so batching similar lengths together is
    * the standard serving-cost lever. Output one row per batch:
    * (shard, batch_id, n_docs, max_len, batch_tokens, padding,
    * first_doc), padding = n_docs·max_len − batch_tokens.
    *
    * Shard discipline is [[packBins]]'s: hash shards sized by a
    * DERIVED in-plan count, so every per-shard sort stays a bounded
    * `targetDocsPerShard`-row task and parallelism grows with the
    * data; hash sharding trades a little cross-shard length mixing
    * for that parallelism (a global sort would serialize), and each
    * shard's tail batch may run short — the same corpus-scale
    * tradeoff as bin packing. */
  def lengthBatches(docs: DataFrame, idCol: String, nTokens: Column,
                    batchSize: Int,
                    targetDocsPerShard: Long = 1L << 20,
                    hashSalt: Int = 3): DataFrame = {
    require(batchSize >= 1, "batchSize must be positive")
    val base = docs.select(col(idCol).as("doc_id"),
      nTokens.cast("long").as("n"))
    val n = base.agg(count(lit(1)).cast("long").as("n_docs_total"))
    val t = base.crossJoin(broadcast(n))
      .withColumn("n_shards",
        greatest(expr(s"(n_docs_total + ${targetDocsPerShard - 1}) div $targetDocsPerShard"),
          lit(1L)))
      .withColumn("shard", pmod(hash32(col("doc_id").cast("string"), hashSalt),
        col("n_shards")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("n").asc, col("doc_id").asc)
    t.withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr(s"(rn - 1) div $batchSize").cast("bigint"))
      .groupBy(col("shard"), col("batch_id"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        max(col("n")).cast("bigint").as("max_len"),
        sum(col("n")).cast("bigint").as("batch_tokens"),
        min(col("doc_id")).as("first_doc"))
      .select(col("shard"), col("batch_id"), col("n_docs"), col("max_len"),
        col("batch_tokens"),
        (col("n_docs") * col("max_len") - col("batch_tokens")).as("padding"),
        col("first_doc"))
  }

  /** Bin assignment + per-bin rollup. Returns
    * (shard, bin, n_docs, bin_tokens, first_doc). */
  def packBins(docs: DataFrame, idCol: String, nTokens: Column,
               binTokens: Long = 4096,
               targetDocsPerShard: Long = 1L << 20,
               hashSalt: Int = 3): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      nTokens.cast("long").as("n_tokens"))
    val n = base.agg(count(lit(1)).cast("long").as("n_docs_total"))
    val t = base.crossJoin(broadcast(n))
      .withColumn("n_shards",
        greatest(expr(s"(n_docs_total + ${targetDocsPerShard - 1}) div $targetDocsPerShard"),
          lit(1L)))
      .withColumn("shard", pmod(hash32(col("doc_id").cast("string"), hashSalt),
        col("n_shards")))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("before") / lit(binTokens.toDouble)).cast("bigint"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
  }
}
