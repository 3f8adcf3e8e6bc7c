package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Line-granular corpus cleaning and quality signals — the CCNet /
  * Gopher preprocessing stages of an LLM data pipeline (reference
  * capability class: corpus preparation; cf. the paragraph-granular
  * [[DedupSuite.dedupParagraphs]], which KEEPS one occurrence — these
  * operators target boilerplate, which is removed everywhere, and
  * within-document repetition, which is scored, not cut).
  *
  * 100-TB economics: both operators are two-shuffle pipelines. Lines
  * shuffle once on the line key (partial-aggregated — the map side
  * combines duplicate lines before the exchange) and once on doc_id
  * for per-document assembly. Nothing is corpus-sized on the driver;
  * the only optional driver-sized object is the broadcast boilerplate
  * set, bounded by construction (a line must appear in ≥ `minDocs`
  * distinct documents, so the set holds at most nDocs·meanLines /
  * minDocs entries, and in practice boilerplate is a tiny dictionary). */
object Boilerplate {

  private[graft] def lines(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))

  /** CCNet-style cross-document boilerplate removal: a line whose text
    * occurs in at least `minDocs` DISTINCT documents is dropped from
    * EVERY document (cookie banners, subscribe footers, nav chrome);
    * remaining lines are re-joined in original order. Output:
    * (id, clean_text, n_removed) — one row per input document, empty
    * string when every line was boilerplate.
    *
    * `broadcastCommon` (default true) broadcasts the boilerplate
    * dictionary — one corpus shuffle total. With false, the mark join
    * runs as a shuffle join that REUSES the line-key exchange the
    * count pass already paid (same child subplan → ReusedExchange),
    * for corpora whose common-line set outgrows the driver. */
  def removeCommonLines(docs: DataFrame, idCol: String, textCol: String,
                        minDocs: Long,
                        broadcastCommon: Boolean = true): DataFrame = {
    val ls = lines(docs, idCol, textCol)
    val common0 = ls.groupBy(col("line"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line"), lit(true).as("is_common"))
    val common = if (broadcastCommon) broadcast(common0) else common0
    assemble(ls.join(common, Seq("line"), "left"), idCol)
  }

  /** Reassemble marked lines (id, pos, line, is_common ∈ {true,null})
    * into one row per document: surviving lines re-joined in position
    * order, plus the count of removed occurrences. Doc-keyed shuffle;
    * collect_list is document-sized. */
  private def assemble(marked: DataFrame, idCol: String): DataFrame =
    marked.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(
            when(col("is_common").isNull, struct(col("pos"), col("line"))))),
          x => x("line")), "\n").as("clean_text"),
        count(col("is_common")).as("n_removed"))

  /** Clean `docs` against an EXPLICIT boilerplate dictionary `dict`
    * (one `line` column) — the serving half of the incremental store.
    * The mark join keys on the 16-byte md5 digest of the line (the
    * d25 `hashKeys` move: boilerplate lines are long — banners,
    * footers — and the digest makes the broadcast table and the join
    * comparisons fixed-width; md5 collisions are treated as
    * impossible, the repo-wide content-hash discipline).
    *
    * `broadcastDict` (default true): one map-side mark join, dict
    * digests broadcast (boilerplate-sized by construction). With
    * false the mark join runs as a shuffle join on the digest — the
    * escape for a corpus whose dictionary outgrows the driver, the
    * same contract [[removeCommonLines]]'s `broadcastCommon=false`
    * gives the batch path. */
  def cleanWithDict(docs: DataFrame, idCol: String, textCol: String,
                    dict: DataFrame,
                    broadcastDict: Boolean = true): DataFrame = {
    val dk0 = dict.select(unhex(md5(col("line"))).as("lk")).distinct()
      .withColumn("is_common", lit(true))
    val dk = if (broadcastDict) broadcast(dk0) else dk0
    assemble(
      lines(docs, idCol, textCol)
        .withColumn("lk", unhex(md5(col("line"))))
        .join(dk, Seq("lk"), "left")
        .drop("lk"),
      idCol)
  }

  /** Gopher-style within-document line repetition signals: for each
    * document, the number of lines, the fraction of lines that are
    * occurrences of a line duplicated WITHIN the document, and the
    * same fraction weighted by characters. Repetition-heavy documents
    * (chat logs, scraped tickers, SEO spam) score high and get
    * filtered upstream of training. Output:
    * (id, n_lines, dup_line_frac, dup_char_frac). */
  def lineRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def frac(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
    lines(docs, idCol, textCol)
      .groupBy(col(idCol), col("line"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"),
        sum(length(col("line")) * col("c")).as("chars"),
        sum(when(col("c") > 1, length(col("line")) * col("c"))
          .otherwise(lit(0L))).as("dupchars"))
      .select(col(idCol),
        col("n").cast("bigint").as("n_lines"),
        frac(col("dup"), col("n")).as("dup_line_frac"),
        frac(col("dupchars"), col("chars")).as("dup_char_frac"))
  }

  // ---------------------------------------------------------------
  // Incremental boilerplate ingest (c5). Unlike every other ingest
  // family in this repo, the common-line predicate is NOT stable for
  // already-emitted documents: a line can cross the minDocs threshold
  // in a LATER batch, retroactively making earlier cleaned output
  // wrong. The store therefore emits a CHANGELOG — each fold returns
  // its batch's cleaned docs PLUS re-emissions of every stored doc
  // invalidated by a threshold crossing — and latest-emission-per-doc
  // across all folds equals the full removeCommonLines recompute
  // bit-exactly (the gate). Monotone corpus growth makes the
  // dictionary monotone (nd only grows), which bounds the machinery.
  // Detection and lookup are split into TWO stores because their
  // access patterns differ by orders of magnitude:
  //  * `counts` — additive (line, nd_delta) rows for SUB-threshold
  //    lines, partitioned by crc32(line) mod nBuckets; readers sum
  //    deltas per line (the q92 mergeable-summary move). Crossing
  //    detection joins the batch's candidate lines against this scan
  //    — a batch's lines spread over every bucket, so this read is
  //    honestly corpus-distinct-lines-sized, but NARROW (no doc ids,
  //    no text) and semi-join-filtered.
  //  * `pairs`  — (line, doc_id) distinct pairs for sub-threshold
  //    lines, same partitioning. Read ONLY for lines that actually
  //    CROSSED this fold — a handful of lines in a handful of
  //    buckets, so the static `bucket IN (…)` partition filter here
  //    genuinely prunes (unlike detection, where candidates hash
  //    everywhere). A dictionary line never returns to the candidate
  //    path, so every stored line carries < minDocs pairs.
  //  * `docs`   — (doc_id, text) partitioned by doc_id mod
  //    nDocBuckets, read back ONLY for invalidated ids: a static
  //    dbucket partition filter (≤ nDocBuckets values collected —
  //    the q91 bounded-set economics) plus a broadcast semi-join on
  //    the id set (≤ (minDocs-1) × crossed lines ids, distributed).
  //  * `dict`   — append-only crossed lines; the serving dictionary.
  //    Crossed lines' dead counts/pairs rows are never read again
  //    (the candidate path excludes dictionary lines) — compaction
  //    may drop them.
  //  * `sidecar` — the NEAR-THRESHOLD detection accelerator: (line,
  //    nd, as_of) for sub-threshold lines with nd ≥ minDocs − eps at
  //    the last refresh (build or vacuum), plus one null-line
  //    sentinel row carrying `as_of` even when no line qualifies.
  //    Counts rows are stamped with the fold sequence `fseq` (the
  //    fold's doc high-water — monotone by the ingest contract), so
  //    "deltas since the refresh" is the pushed-down predicate
  //    `fseq > as_of`, which parquet row-group stats resolve against
  //    pre-refresh files footer-only. Per-fold detection then reads
  //    sidecar + post-refresh slice instead of the whole counts
  //    store; only a line OUTSIDE the sidecar that accumulated
  //    > eps occurrences since the refresh (rare — it was ≥ eps+1
  //    below the threshold then) escalates to a full counts read,
  //    and only for those lines. Exactness: a non-sidecar line has
  //    nd ≤ minDocs − eps − 1 at the refresh, so it cannot cross
  //    without > eps post-refresh occurrences — the escalation
  //    predicate is the contrapositive, not a heuristic.
  // ---------------------------------------------------------------

  /** Auto eps (sentinel −1): a quarter of nothing — near-threshold
    * width 4, clamped below minDocs. eps = 0 disables the sidecar
    * (every potentially-crossing line escalates to a full counts
    * read — the pre-sidecar behavior, still exact). */
  private def resolveEps(minDocs: Long, eps: Long): Long =
    if (eps >= 0) {
      require(eps < minDocs,
        s"eps $eps must be < minDocs $minDocs (the sidecar holds " +
          "SUB-threshold lines only)")
      eps
    } else math.max(0L, math.min(4L, minDocs - 1))

  /** The boilerplate store's meta row shape — the build writes it and
    * each fold stages it (identical schema; promote copies the staged
    * file into the live meta dir). */
  private def boilerMetaFields(maxDoc: Long, minDocs: Long, nBuckets: Int,
                               nDocBuckets: Int,
                               eps: Long): Seq[(String, Any)] =
    Seq("max_doc" -> maxDoc, "min_docs" -> minDocs,
      "n_buckets" -> nBuckets, "n_doc_buckets" -> nDocBuckets,
      "eps" -> eps)

  private[graft] def writeMeta(spark: SparkSession, path: String,
                               maxDoc: Long, minDocs: Long, nBuckets: Int,
                               nDocBuckets: Int, eps: Long,
                               mode: String): Unit =
    StoreMeta.write(spark, path, mode,
      boilerMetaFields(maxDoc, minDocs, nBuckets, nDocBuckets, eps))

  /** Validate layout params against the store's meta ([[StoreMeta]] —
    * a silently different minDocs or bucket count mis-prunes or
    * mis-thresholds with no error) and return (ingest high-water
    * mark, pinned eps). eps is READ, never passed — the Quantiles
    * `cell_bits` free-parameter-removed discipline. */
  private[graft] def readMeta(spark: SparkSession, path: String,
                              minDocs: Long, nBuckets: Int,
                              nDocBuckets: Int): (Long, Long) = {
    val rows = StoreMeta.readRequire(spark, path,
      Seq("min_docs" -> minDocs, "n_buckets" -> nBuckets,
        "n_doc_buckets" -> nDocBuckets))
    (StoreMeta.maxLong(rows, "max_doc"),
      StoreMeta.pinnedOf[Long](rows, path, "eps"))
  }

  /** The sidecar's one frame shape: qualifying (line, nd) rows plus
    * the null-line sentinel that carries `as_of` when nothing
    * qualifies. */
  private def sidecarFrame(spark: SparkSession, qualifying: DataFrame,
                           asOf: Long): DataFrame = {
    import spark.implicits._
    qualifying
      .select(col("line"), col("nd").cast("long").as("nd"),
        lit(asOf).as("as_of"))
      .unionByName(Seq((Option.empty[String], 0L, asOf))
        .toDF("line", "nd", "as_of"))
  }

  private def pairBucket(line: Column, nBuckets: Int): Column =
    pmod(crc32(line), lit(nBuckets.toLong))

  /** Driver-side twin of [[pairBucket]] (crc32 is bit-identical in
    * the JVM, Spark, and DuckDB — the q92 store's reason for choosing
    * it): lets specs and maintenance code map a line to its bucket
    * without a Spark job. */
  private[graft] def bucketOf(line: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32
    val b = line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    c.update(b, 0, b.length)
    java.lang.Math.floorMod(c.getValue, nBuckets.toLong)
  }

  private def docBucket(id: Column, nDocBuckets: Int): Column =
    pmod(id, lit(nDocBuckets.toLong))

  /** The fold's pruned pair-store read — only ever called with the
    * CROSSED lines' buckets (a handful), so the static `bucket IN (…)`
    * partition filter genuinely prunes. `private[graft]` so the spec
    * asserts the filter on exactly the production scan (inside the
    * fold it is consumed by an eagerly collected join and never
    * appears in a returned plan). */
  private[graft] def pairStoreRows(spark: SparkSession, path: String,
                                   buckets: Seq[Long]): DataFrame =
    spark.read.parquet(s"$path/pairs")
      .filter(if (buckets.isEmpty) lit(false)
              else col("bucket").isin(buckets: _*))

  /** Initialize the incremental boilerplate store from a corpus and
    * return the corpus's cleaned output (== [[removeCommonLines]]
    * over `docs`). `eps` (pinned in `_meta`; −1 = auto) is the
    * sidecar's near-threshold width — see the layout notes above.
    * `outWrite`, when set, PERSISTS that cleaned output as a sixth
    * concurrent action of the build fan-out (the s16 stream seed):
    * it consumes the in-memory checkpointed dictionary, so the
    * build-then-separate-removeCommonLines form's duplicate
    * lines-scan + count aggregation disappears. */
  def buildStore(docs: DataFrame, idCol: String, textCol: String,
                 minDocs: Long, path: String, nBuckets: Int = 64,
                 nDocBuckets: Int = 64, eps: Long = -1L,
                 outWrite: Option[DataFrame => Unit] = None): DataFrame = {
    val spark = docs.sparkSession
    val ep = resolveEps(minDocs, eps)
    val pairs = lines(docs, idCol, textCol)
      .select(col("line"), col(idCol).as("doc_id")).distinct()
    val nd = pairs.groupBy(col("line")).agg(count(lit(1)).as("nd"))
      .localCheckpoint() // feeds dict write, pair filter, and nothing else twice
    val dict = nd.filter(col("nd") >= minDocs).select(col("line"))
    // no checkpoint: a trivial filter over the CHECKPOINTED nd — its
    // three consumers below re-filter in-memory partitions, cheaper
    // than the extra serialized checkpoint job this used to pay
    val sub = nd.filter(col("nd") < minDocs)
    // the high-water max RIDES the docs-store write as an observed
    // metric (the separate docs.agg(max) pre-pass was a full corpus
    // scan). The stamped writers (counts fseq, sidecar as_of) wait on
    // a completion future — NOT on obs.get directly, which would hang
    // the fan-out forever if the docs write failed — so dict/pairs
    // overlap the docs write and only the two stamped writers
    // serialize behind it (a vocabulary-sized wait buying back a
    // corpus-sized scan).
    val obs = org.apache.spark.sql.Observation()
    val docsDone = new java.util.concurrent.CompletableFuture[Long]()
    def maxDoc: Long = docsDone.get()
    // the sub-store writes fan out as concurrent jobs (nd/sub are
    // checkpointed; pairs and docs re-derive from the input).
    // Bucket-aligned repartition so each store is nBuckets files,
    // not shufflePartitions × nBuckets.
    // POOL INVARIANT (this fan-out blocks inside its own pool): the
    // counts and sidecar actions park their threads on docsDone.get();
    // that is deadlock-free because Par.run sizes its pool min(8, n)
    // and this Seq stays ≤ 8 actions with the docs task FIRST — every
    // action owns a thread for the fan-out's whole life, so the docs
    // write always runs and completes the future. Adding a 9th action
    // or moving the docs task off the head breaks the guarantee:
    // extend past 8 only by moving the stamped writers AFTER Par.run.
    Par.run(Seq(
      () => try {
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
          .observe(obs, max(col("doc_id").cast("long")).as("mx"))
          .withColumn("dbucket", docBucket(col("doc_id"), nDocBuckets))
          .repartition(col("dbucket"))
          .write.mode("overwrite").partitionBy("dbucket")
          .parquet(s"$path/docs")
        val m = obs.get("mx")
        docsDone.complete(
          if (m == null) Long.MinValue else m.asInstanceOf[Long])
        ()
      } catch { case e: Throwable =>
        docsDone.completeExceptionally(e); throw e
      },
      () => dict.write.mode("overwrite").parquet(s"$path/dict"),
      // sub-threshold pairs only
      () => pairs.join(sub.select(col("line")), Seq("line"), "left_semi")
        .withColumn("bucket", pairBucket(col("line"), nBuckets))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/pairs"),
      // the narrow detection store: additive count deltas per line,
      // fold-sequence-stamped so post-refresh slices prune on fseq
      () => sub.select(col("line"), col("nd").as("nd_delta"),
          lit(maxDoc).as("fseq"))
        .withColumn("bucket", pairBucket(col("line"), nBuckets))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/counts"),
      // near-threshold sidecar, exact as of this build
      () => sidecarFrame(spark, sub.filter(col("nd") >= minDocs - ep),
          maxDoc)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/sidecar"))
      // optional sixth action: persist the cleaned corpus output from
      // the IN-MEMORY dictionary (dict derives from the checkpointed
      // nd — no store read, no docsDone wait, fully concurrent)
      ++ outWrite.map(write =>
        () => write(cleanWithDict(docs, idCol, textCol, dict))).toSeq)
    writeMeta(spark, path, maxDoc, minDocs, nBuckets, nDocBuckets, ep,
      "overwrite")
    cleanWithDict(docs, idCol, textCol,
      spark.read.parquet(s"$path/dict"))
  }

  /** Everything one fold must publish, plus the changelog it emits.
    * Every frame is either eagerly checkpointed or derives only from
    * checkpointed frames and the input batch, so none re-reads the
    * store after the caller starts mutating it. `escalatedFull`
    * records whether THIS fold took the full-counts escalation branch
    * (the only code path that reads the counts store without the
    * `fseq > as_of` slice) — exposed so the escalation spec pins the
    * branch actually taken, not just the output. */
  private[graft] final case class FoldArtifacts(
      pairsDelta: DataFrame, countsDelta: DataFrame, docsApp: DataFrame,
      dictApp: DataFrame, newMax: Long, eps: Long, changelog: DataFrame,
      escalatedFull: Boolean)

  /** The detection-side post-refresh counts slice: `fseq > asOf` is
    * the pushed-down predicate parquet row-group stats resolve
    * against pre-refresh delta files footer-only. `private[graft]` so
    * the spec asserts the pushed filter on exactly the production
    * scan. */
  private[graft] def postRefreshCounts(spark: SparkSession, path: String,
                                       asOf: Long): DataFrame =
    spark.read.parquet(s"$path/counts").filter(col("fseq") > asOf)

  /** One fold's full computation against the LIVE store WITHOUT
    * mutating it — [[foldWriters]] stages every artifact from it under
    * the committed-staging exactly-once protocol before anything
    * touches the live layout.
    *
    * Crossing detection is SIDECAR-FIRST: candidates join the
    * near-threshold sidecar (tiny, batch-semi-filtered) plus the
    * post-refresh counts slice (`fseq > as_of` — parquet row-group
    * stats resolve pre-refresh delta files footer-only), and only
    * candidates OUTSIDE the sidecar whose post-refresh occurrences
    * could bridge the eps gap (pnd + ndb ≥ eps + 1 — usually none)
    * escalate to a full counts read, semi-joined to just those
    * lines. The full corpus-distinct-lines scan the pre-sidecar fold
    * paid EVERY fold is now paid only by escalations and by the
    * vacuum's refresh. */
  /** A fold step's [[graft.Phase]] (the c5 profile's phases). */
  private def desc[A](spark: SparkSession, s: String)(body: => A): A =
    graft.Phase(spark, s"boiler-fold: $s")(body)

  private[graft] def computeFold(spark: SparkSession, path: String,
                                 batch: DataFrame, idCol: String,
                                 textCol: String, minDocs: Long,
                                 nBuckets: Int,
                                 nDocBuckets: Int): FoldArtifacts = {
    val (prevMax, eps) = readMeta(spark, path, minDocs, nBuckets, nDocBuckets)
    // Batch materialization: NO separate batch checkpoint — the
    // min/max observation RIDES the bpairs checkpoint job below (an
    // observe node under the explode sees every batch row, null text
    // included), and the docsApp/changelog consumers re-scan the batch
    // inside their own CONCURRENT staged writes: batch-bounded work in
    // a parallel wave, bought with a whole serialized fixed job
    // latency per fold.
    val fusedObs = org.apache.spark.sql.Observation()
    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val bForPairs = b.observe(fusedObs,
      min(col("doc_id").cast("long")).as("mn"),
      max(col("doc_id").cast("long")).as("mx"))
    // snapshot the dictionary BEFORE any mutation (eager — the
    // returned frames must not re-list the dict path after the
    // crossed-lines append below). Independent of the batch's line
    // pairs, so the two checkpoints run as concurrent jobs — one
    // fixed latency, not two.
    var dict0: DataFrame = null
    var bpairs: DataFrame = null
    Par.run(Seq(
      () => dict0 = desc(spark, "dict snapshot") {
        spark.read.parquet(s"$path/dict").localCheckpoint() },
      // ONE bucket-keyed exchange for the whole fold's pair-side:
      // bucket = crc32(line) % n is a function of line, so
      // repartition(bucket) co-locates every line's rows; the distinct
      // (grouping (bucket, line, doc_id) ⊇ the partitioning), the
      // candidate agg below (grouping (line, bucket)), and the staged
      // pairs/counts writes (partitionBy bucket) all plan on top of it
      // with NO further shuffle. localCheckpoint preserves the
      // physical partitioning, so the planner still sees it.
      () => bpairs = desc(spark, "batch line pairs") {
        lines(bForPairs, "doc_id", "text")
          .select(col("line"), col("doc_id"))
          .withColumn("bucket", pairBucket(col("line"), nBuckets))
          .repartition(col("bucket"))
          .distinct()
          .localCheckpoint() } // feeds candidate agg + delta write
    ))
    // the bpairs checkpoint job materialized the observed node
    val mm = org.apache.spark.sql.Row(fusedObs.get("mn"), fusedObs.get("mx"))
    require(!mm.isNullAt(0) && mm.getLong(0) > prevMax,
      s"monotonic-ingest contract: batch min doc id " +
        s"${if (mm.isNullAt(0)) "(empty)" else mm.getLong(0)} must exceed " +
        s"stored max $prevMax")
    // candidate lines = batch lines not yet in the dictionary (a
    // dict line's count can never matter again — monotone). NOT
    // checkpointed: its three uses below (two broadcast semi-join
    // builds + cand2's probe side) all sit inside cand2's ONE job,
    // where they share the agg's exchange-free plan over the
    // checkpointed bpairs, so fusing saves a whole serialized fixed
    // job latency per fold without recomputing the agg; countsDelta
    // later re-derives (line, bucket, ndb) from the CHECKPOINTED
    // cand2, never from here.
    val candAgg = bpairs
      .join(broadcast(dict0), Seq("line"), "left_anti")
      .groupBy(col("line"), col("bucket")).agg(count(lit(1)).as("ndb"))
    // crossing detection, sidecar-first (see scaladoc). The batch
    // side is broadcast in every store-facing join so no store scan
    // is ever shuffled — which makes "batch distinct lines fit a
    // broadcast" part of the fold contract (batches are ingest-sized
    // by definition; a corpus-sized "batch" belongs in buildStore,
    // not here).
    StoreCompaction.repairFlatStore(spark, s"$path/sidecar")
    val sc = spark.read.parquet(s"$path/sidecar")
    // every sidecar row carries the refresh's as_of, so parquet footer
    // stats resolve it driver-side — no job (agg fallback if any file
    // lacks stats)
    val asOf = StoreMeta.footerMaxLong(spark, s"$path/sidecar", "as_of")
      .getOrElse(sc.agg(max(col("as_of"))).head().getLong(0))
    // ONE store-facing side: sidecar hits and the post-refresh delta
    // slice (pushed-down fseq > as_of skips every pre-refresh delta
    // file on footer stats) union into a single per-line aggregate —
    // max over at-most-one sidecar nd (nulls from delta rows ignored),
    // sum over the deltas (sidecar rows contribute 0). One broadcast
    // build and one left join where two of each ran; equivalence:
    // sidecar lines are unique, so (snd, pnd) land exactly as the
    // separate joins produced them, null snd ⇔ not in the sidecar.
    val probe = candAgg.select(col("line"))
    val storeSide = sc.filter(col("line").isNotNull)
      .join(broadcast(probe), Seq("line"), "left_semi")
      .select(col("line"), col("nd").cast("long").as("snd"),
        lit(0L).as("pnd"))
      .unionByName(postRefreshCounts(spark, path, asOf)
        .join(broadcast(probe), Seq("line"), "left_semi")
        .select(col("line"), lit(null).cast("long").as("snd"),
          col("nd_delta").cast("long").as("pnd")))
      .groupBy(col("line"))
      .agg(max(col("snd")).as("snd"), sum(col("pnd")).as("pnd"))
    // the escalation probe AND the side-crossed bucket set RIDE the
    // checkpoint job as observed metrics (max over the exact
    // escalation predicate; collect_set over the side-crossing
    // predicate's pair buckets, ≤ nBuckets values) — the head(1)
    // probe and, for non-escalating folds, the whole `crossed`
    // checkpoint job they replace were pure fixed latency
    val cand2Obs = org.apache.spark.sql.Observation()
    val sideCrossPred = col("snd").isNotNull &&
      col("snd") + col("pnd") + col("ndb") >= minDocs
    val cand2 = desc(spark, "crossing candidates") { candAgg
      .join(storeSide.hint("broadcast"), Seq("line"), "left")
      .select(col("line"), col("bucket"), col("ndb"), col("snd"),
        coalesce(col("pnd"), lit(0L)).as("pnd"))
      .observe(cand2Obs,
        max(when(col("snd").isNull &&
          col("pnd") + col("ndb") >= eps + 1L, 1).otherwise(0)).as("esc"),
        collect_set(when(sideCrossPred, col("bucket"))).as("sbuckets"))
      .localCheckpoint() }
    // a line outside the sidecar had nd ≤ minDocs − eps − 1 at the
    // refresh: it can only cross with > eps occurrences since — the
    // exact escalation predicate, not a heuristic
    // derived from the checkpointed cand2 only (no store scan), so it
    // needs no checkpoint of its own — each consumer recomputes one
    // cheap filter instead of the fold paying a whole extra job
    val escalated = cand2
      .filter(col("snd").isNull && col("pnd") + col("ndb") >= eps + 1L)
    val escAny = {
      val e = cand2Obs.get("esc")
      e != null && e.asInstanceOf[Int] == 1
    }
    val escCrossed =
      if (!escAny) None
      else {
        val ndFull = spark.read.parquet(s"$path/counts")
          .join(broadcast(escalated.select(col("line"))),
            Seq("line"), "left_semi")
          .groupBy(col("line")).agg(sum(col("nd_delta")).as("nd0"))
        Some(escalated
          .join(ndFull.hint("broadcast"), Seq("line"), "left")
          .filter(coalesce(col("nd0"), lit(0L)) + col("ndb") >= minDocs)
          .select(col("line")))
      }
    val sideCrossed = cand2.filter(sideCrossPred).select(col("line"))
    // crossed lines + their pair-store bucket set (bounded by
    // nBuckets — operator parameter, not data). Non-escalating folds
    // — the steady state — pay NO job here: sideCrossed is a cheap
    // filter over the checkpointed cand2 (each consumer recomputes
    // it, the `escalated` discipline) and the bucket set already rode
    // cand2's observation. Only an escalation, which reads the counts
    // store anyway, checkpoints the union and collects its buckets.
    val (crossed, crossedBuckets) = escCrossed match {
      case None =>
        (sideCrossed, cand2Obs.get("sbuckets")
          .asInstanceOf[scala.collection.Seq[Long]].sorted)
      case Some(esc) =>
        val crossedObs = org.apache.spark.sql.Observation()
        val c = desc(spark, "crossed lines") {
          sideCrossed.unionByName(esc)
            .observe(crossedObs,
              collect_set(pairBucket(col("line"), nBuckets)).as("buckets"))
            .localCheckpoint() }
        (c, crossedObs.get("buckets")
          .asInstanceOf[scala.collection.Seq[Long]].sorted)
    }
    // carrier lookup reads the WIDE pair store only for the crossed
    // lines' buckets — a handful, so the partition filter genuinely
    // prunes. The invalidated-id set is bounded (< minDocs ids per
    // crossed line) but stays DISTRIBUTED: only its ≤ nDocBuckets
    // dbucket values are collected for the doc store's partition
    // filter; the ids themselves reach the pruned read as a broadcast
    // semi-join (an `isin` over the ids would build a literal list
    // that grows with the crossing size).
    // no crossing (the steady-state fold): dictNew IS dict0, already
    // checkpointed — the union+distinct checkpoint job would be a
    // no-op pass over the dictionary (dict lines are distinct by
    // construction: built distinct, appends are anti-joined crossings)
    val dictNew =
      if (crossedBuckets.isEmpty) dict0
      else desc(spark, "dict update") {
        dict0.unionByName(crossed).distinct().localCheckpoint() }
    val invCarriers =
      if (crossedBuckets.isEmpty) None
      else {
        // emptiness + the doc store's dbucket set both RIDE the
        // checkpoint as observed metrics (the head(1) probe and the
        // distinct+collect each cost a fixed job latency)
        val idsObs = org.apache.spark.sql.Observation()
        val ids = desc(spark, "invalidated carriers") {
          pairStoreRows(spark, path, crossedBuckets.toIndexedSeq)
          .join(broadcast(crossed), Seq("line"), "left_semi")
          .select(col("doc_id")).distinct()
          .observe(idsObs, count(lit(1)).as("n"),
            collect_set(docBucket(col("doc_id"), nDocBuckets)).as("dbuckets"))
          .localCheckpoint() }
        if (idsObs.get("n").asInstanceOf[Long] == 0L) None
        else Some((ids, idsObs.get("dbuckets")
          .asInstanceOf[scala.collection.Seq[Long]].sorted))
      }
    val outInv = invCarriers.map { case (ids, dbuckets) =>
      val inv = desc(spark, "invalidated docs") {
        spark.read.parquet(s"$path/docs")
          .filter(col("dbucket").isin(dbuckets.toIndexedSeq: _*))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text"))
          .localCheckpoint() } // snapshot before the doc-store append below
      cleanWithDict(inv, "doc_id", "text", dictNew)
        .withColumnRenamed("doc_id", idCol)
    }
    // both deltas inherit bpairs'/cand2's bucket column AND physical
    // bucket clustering (broadcast joins preserve partitioning), so
    // the staged writers partitionBy("bucket") directly — no
    // repartition, no further shuffle anywhere in the fold's pair-side
    val pairsDelta = bpairs.join(broadcast(dictNew), Seq("line"), "left_anti")
    // (line, bucket, ndb) re-derived from the CHECKPOINTED cand2 — its
    // left joins are per-line unique on both sides, so it holds
    // candAgg's rows exactly once; reading it here keeps the
    // un-checkpointed candAgg from being recomputed after the fold
    val countsDelta = cand2.select(col("line"), col("bucket"), col("ndb"))
      .join(broadcast(dictNew), Seq("line"), "left_anti")
      .select(col("line"), col("ndb").as("nd_delta"),
        lit(mm.getLong(1)).as("fseq"), col("bucket"))
    val docsApp = b.withColumn("dbucket", docBucket(col("doc_id"), nDocBuckets))
    val outBatch = cleanWithDict(b, "doc_id", "text", dictNew)
      .withColumnRenamed("doc_id", idCol)
    val changelog = outInv.map(outBatch.unionByName(_)).getOrElse(outBatch)
    FoldArtifacts(pairsDelta, countsDelta, docsApp, crossed,
      mm.getLong(1), eps, changelog, escAny)
  }

  /** Maintenance vacuum for a [[buildStore]] layout — three
    * read-invariant rewrites plus the sidecar REFRESH:
    *
    *  1. Sidecar refresh: rebuild the near-threshold sidecar from
    *     the (pre-compaction) counts store with `as_of` = the
    *     current fold high-water S, under
    *     [[StoreCompaction.rewriteFlatStore]]'s crash-convergent
    *     swap. Ordering makes every crash window exact: with the NEW
    *     sidecar and uncompacted counts, `fseq > S` selects nothing
    *     (sidecar nd already covers it); with the OLD sidecar,
    *     `fseq > old as_of` still selects every delta the old nd
    *     missed.
    *  2. Counts: drop dead (dictionary) lines — the candidate path
    *     never consults them again — and collapse each line's
    *     accumulated deltas to ONE row stamped `fseq = S` (covered
    *     by the new sidecar, so post-refresh slices skip it).
    *  3. Pairs: drop dead lines.
    *
    * Also sweeps the `_boiler_batch_<id>` replay markers of cleanly
    * completed folds but the newest (they otherwise accumulate one
    * file per fold forever) — safe because the monotonic-ingest guard
    * already rejects a replay of any fold at or below the meta
    * high-water, which every marker is; the newest stays so that a
    * replay of the last batch still skips. A fold whose staging
    * SURVIVES is a crashed fold awaiting replay; vacuum REFUSES to
    * run then, because its rewrites collapse the very delta files
    * that replay would re-promote (a silent double-apply) — replay
    * the fold first.
    *
    * Single-maintainer contract — do not run concurrently with
    * folds. */
  def vacuumStore(spark0: SparkSession, path: String): Unit = {
    val spark = StoreCompaction.quietSession(spark0)
    val fs = StoreFiles.fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    // a replay of a crashed fold re-promotes delta files a vacuum
    // would have collapsed into the store already
    val pendingStaging = foldStagings(spark, path)
    require(pendingStaging.isEmpty,
      s"crashed fold staging ${pendingStaging.headOption.getOrElse("")} " +
        "survives under the store — replay that fold (re-call fold with " +
        "its batch) before vacuuming; a vacuum now would collapse the " +
        "delta files its replay re-promotes, double-applying them")
    val dict = spark.read.parquet(s"$path/dict")
      .select(col("line")).distinct().localCheckpoint()
    // thresholds and the refresh high-water come from the pinned meta
    // (driver-side read, no job): every counts fseq equals some fold's
    // max_doc, so the meta high-water bounds them all and stamping the
    // refresh with it is exact — `fseq > as_of` selects nothing until
    // the next fold appends rows stamped above it
    val metaRows = StoreMeta.readRequire(spark, path, Nil)
    val minDocs = StoreMeta.pinnedOf[Long](metaRows, path, "min_docs")
    val eps = StoreMeta.pinnedOf[Long](metaRows, path, "eps")
    val s = StoreMeta.maxLong(metaRows, "max_doc")
    val counts = spark.read.parquet(s"$path/counts")
    // reads the LIVE counts — safe lazily (no checkpoint job): its
    // only consumer is the sidecar's staged write below, which runs
    // before any swap touches the counts store (the counts rewrite is
    // sequenced strictly after the sidecar swap in the same chain)
    val newSidecar = sidecarFrame(spark,
        counts.join(broadcast(dict), Seq("line"), "left_anti")
          .groupBy(col("line")).agg(sum(col("nd_delta")).as("nd"))
          .filter(col("nd") >= minDocs - eps),
        s)
    // ORDERING: the sidecar swap must COMPLETE before the counts
    // rewrite starts — a crash leaving compacted counts (one row per
    // line, fseq = S) under the OLD sidecar would double-count: the
    // old `fseq > old as_of` slice returns each line's FULL collapsed
    // total on top of the old sidecar nd. The pairs rewrite carries
    // no fseq semantics and runs concurrently with that chain.
    Par.run(Seq(
      () => {
        StoreCompaction.rewriteFlatStore(spark, s"$path/sidecar",
          _ => newSidecar)
        // one-job collapse (line determines bucket, so (bucket, line)
        // grouping is the per-partition collapse exactly)
        StoreCompaction.rewriteStore(spark, s"$path/counts", df =>
          df.join(broadcast(dict), Seq("line"), "left_anti")
            .groupBy(col("bucket"), col("line"))
            .agg(sum(col("nd_delta")).as("nd_delta"))
            .withColumn("fseq", lit(s)))
        ()
      },
      () => {
        StoreCompaction.rewriteStore(spark, s"$path/pairs", df =>
          df.join(broadcast(dict), Seq("line"), "left_anti"))
        ()
      }))
    // replay markers of cleanly completed folds (no staging survives —
    // checked above): the monotonic guard subsumes all but the newest,
    // which a replay of the last batch (a stream's crash between the
    // fold and its checkpoint commit) must still find to skip
    StoreFiles.list(fs, root).map(_.getPath)
      .filter(_.getName.startsWith(FoldNames.marker))
      .sortBy(_.getName.stripPrefix(FoldNames.marker).toLong).dropRight(1)
      .foreach(StoreFiles.delete(fs, _))
  }

  private val FoldNames =
    StoreFiles.CommitNames("_boiler_batch_", ".boiler_staging_", "bbatch")

  /** The surviving fold stagings under `path`. */
  private def foldStagings(spark: SparkSession, path: String): Seq[String] =
    StoreFiles.list(StoreFiles.fs(spark, path), new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith(FoldNames.staging))

  /** One fold's declaration: the pair/counts/docs deltas, the
    * dictionary append, the `_meta` high-water row, and the changelog,
    * promoted into `outPath`. */
  private[graft] def foldCommit(spark: SparkSession, path: String,
                                outPath: String,
                                batchId: Long): StoreFiles.StagedCommit =
    FoldNames.at(spark, path, batchId, Seq("pairs", "counts", "docs", "dict")
      .map(sub => StoreFiles.Artifact(sub, s"$path/$sub")) ++ Seq(
        StoreFiles.Artifact("meta", StoreMeta.metaPath(path)),
        StoreFiles.Artifact("out", outPath)))

  /** One fold's writers, computed against the LIVE store
    * ([[computeFold]] reads nothing from the store after it returns),
    * the changelog stamped `seq`. */
  private[graft] def foldWriters(spark: SparkSession, path: String,
                                 batch: DataFrame, idCol: String,
                                 textCol: String, minDocs: Long,
                                 nBuckets: Int, nDocBuckets: Int,
                                 seq: Long): Map[String, String => Unit] = {
    val a = computeFold(spark, path, batch, idCol, textCol, minDocs,
      nBuckets, nDocBuckets)
    Map(
      // pairs/counts deltas arrive CLUSTERED by bucket (the fold's one
      // bucket-keyed exchange) — partitionBy writes directly
      "pairs" -> (dir => desc(spark, "staged pairs write") {
        a.pairsDelta.write.partitionBy("bucket").parquet(dir) }),
      "counts" -> (dir => desc(spark, "staged counts write") {
        a.countsDelta.write.partitionBy("bucket").parquet(dir) }),
      "docs" -> (dir => desc(spark, "staged docs write") {
        a.docsApp.repartition(col("dbucket"))
          .write.partitionBy("dbucket").parquet(dir) }),
      "dict" -> (dir => desc(spark, "staged dict write") {
        a.dictApp.write.parquet(dir) }),
      "meta" -> (dir => StoreMeta.writeFile(spark, dir,
        boilerMetaFields(a.newMax, minDocs, nBuckets, nDocBuckets, a.eps))),
      "out" -> (dir => desc(spark, "staged changelog write") {
        a.changelog.withColumn("seq", lit(seq)).write.parquet(dir) }))
  }

  /** Fold a monotonic document batch into a [[buildStore]] layout,
    * exactly once per `batchId` through [[foldCommit]] (protocol in
    * [[StoreFiles]]), adding its changelog to `outPath`: the batch
    * cleaned under the updated dictionary, PLUS re-emissions of every
    * stored document a threshold crossing invalidated, each row
    * stamped `seq = batchId`. Boilerplate cleaning is RETROACTIVE, so
    * the accumulated changelog overlaps and readers resolve
    * latest-seq-per-doc: over build + folds that resolution equals the
    * full [[removeCommonLines]] recompute bit-exactly — the c5 and s16
    * gates. The corpus text is never rescanned: crossing detection
    * reads the sidecar + the post-refresh counts slice (full counts
    * only for rare escalations), the wide pair store is read
    * bucket-pruned for the crossed lines only (< minDocs rows per line
    * by the store invariant), and the doc store only for the bounded
    * invalidated-id set. Returns whether the batch was applied (false
    * = replay skip). */
  def fold(spark: SparkSession, path: String, outPath: String,
           batch: DataFrame, batchId: Long, idCol: String, textCol: String,
           minDocs: Long, nBuckets: Int = 64, nDocBuckets: Int = 64,
           autoVacuumTrigger: Int = 24): Boolean = {
    // the fold's ~15 tiny actions run on an AQE-off session clone:
    // under AQE each action's 1-3 exchanges schedule as separate
    // stage-jobs (~40 jobs per fold measured — pure fixed-latency tax
    // at ingest-batch scale, where runtime re-planning has nothing to
    // buy). Clone-local, so the caller's session conf is untouched.
    val qs = StoreCompaction.quietSession(spark)
    val applied = foldCommit(qs, path, outPath, batchId).applyIdempotent(
      foldWriters(qs, path, org.apache.spark.sql.GraftColumnBridge
        .onSession(qs, batch), idCol, textCol, minDocs, nBuckets,
        nDocBuckets, seq = batchId))
    // self-scheduled maintenance once the batch's marker is durable:
    // each fold adds one delta file set per touched counts bucket, so
    // bucket file count IS the uncollapsed-fold count. When it reaches
    // the trigger (listing-only check, no job) run the vacuum — fold
    // cost stays flat over unbounded folds with no operator-remembered
    // vacuum call. Skipped (not failed) if another fold's crashed
    // staging survives: vacuuming then would double-apply its replay,
    // and maintenance deferral is always safe. ≤ 0 disables.
    if (applied && autoVacuumTrigger > 0 &&
        StoreCompaction.needsMaintenance(qs, s"$path/counts",
          autoVacuumTrigger) &&
        foldStagings(qs, path).isEmpty)
      vacuumStore(spark, path)
    applied
  }
}
