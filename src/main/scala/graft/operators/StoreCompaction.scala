package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Small-files maintenance for the persisted serving stores (q91
  * contribution buckets, q92 key buckets, d19 minhash index, e13
  * `/codes`, d23 SemDeDup state): every incremental append lands one
  * file set per partition per batch, so a store ingesting daily for a
  * year serves from hundreds of files per partition — at 100 TB that
  * is planning-time listing, footer-reading, and task-granularity
  * death. [[compactStore]] rewrites each oversized partition in place
  * into ~`targetBytes` files.
  *
  * Protocol, per partition directory (the VersionedStaging
  * stage-then-atomically-publish discipline applied at partition
  * granularity — the whole-store republish it replaces would rescan
  * 100 TB to fix file counts):
  *
  *  1. Write the compacted replacement under
  *     `<root>/.compact_stage/<partition>` (dot-prefixed: invisible
  *     to Spark readers). Spark commits `_SUCCESS` last, so a staged
  *     dir with `_SUCCESS` is complete by construction.
  *  2. `rename(partition, .compact_trash/partition)` then
  *     `rename(staged, partition)` — two atomic renames; no reader
  *     ever observes a HALF-WRITTEN partition (the failure mode of
  *     compact-in-place-by-append), though between the two renames
  *     the partition is briefly ABSENT, the same window Spark's own
  *     dynamic partition overwrite has. Single-maintainer contract,
  *     like every store writer here.
  *  3. Drop the trash.
  *
  * A crash at ANY step is convergent: [[repairStore]] (run on entry)
  * finishes a swap whose staged partition is committed but not yet
  * in place, and discards uncommitted staging / superseded trash —
  * the same replay-converges discipline as the streaming IVF append.
  * Data is never both absent from the partition and absent from
  * (stage ∪ trash).
  *
  * Correctness contract: the compacted store is ROW-IDENTICAL to the
  * original (same rows, same per-partition placement, only file
  * grouping changes), so every serving gate that read the store
  * before compaction must hash-match after — q91 and s13 run their
  * oracle gates over post-compaction stores.
  */
object StoreCompaction {
  import StoreFiles.{deleteRecursively, isDataFile, listDir}

  final case class CompactionReport(partitionsCompacted: Int,
                                    filesBefore: Long, filesAfter: Long)

  private def partitionDirs(root: Path): Seq[Path] =
    listDir(root)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.contains("=") &&
        !p.getFileName.toString.startsWith("."))
      .sortBy(_.getFileName.toString)

  /** Converge a store out of any crashed [[compactStore]] state:
    * committed staged partitions missing from the root are moved
    * into place; a partition missing from the root with NO committed
    * stage is restored from trash (the publish never completed, so
    * the trashed copy is the only live data — deleting it would be
    * permanent partition loss); everything else in stage/trash is
    * superseded or uncommitted and is dropped. Stage is resolved
    * BEFORE trash so a committed stage (same rows, compacted) wins
    * over its trashed original. Idempotent; safe on a clean store. */
  def repairStore(path: String): Unit = {
    val root = Paths.get(path)
    val stageRoot = root.resolve(".compact_stage")
    val trashRoot = root.resolve(".compact_trash")
    if (Files.exists(stageRoot)) {
      // a FUSED stage (one Spark write covering many partitions) has
      // ONE root-level `_SUCCESS` committing every staged partition
      // dir at once; per-partition stages carry their own marker
      val rootCommitted = Files.exists(stageRoot.resolve("_SUCCESS"))
      listDir(stageRoot).filter(Files.isDirectory(_)).foreach { staged =>
        val target = root.resolve(staged.getFileName.toString)
        val committed = rootCommitted ||
          Files.exists(staged.resolve("_SUCCESS"))
        if (committed && !Files.exists(target)) {
          // crash between the two renames: finish the publish
          Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
        } else {
          // either uncommitted (crash mid-stage) or the partition is
          // still/already in place (crash before the first rename or
          // a stale retry) — drop the stage; if the partition is
          // missing the trash pass below restores the original
          deleteRecursively(staged)
        }
      }
      // the root marker (and any stray files) go LAST: a crash midway
      // through the loop above must leave the remaining committed
      // staged dirs still provably committed on the next repair
      deleteRecursively(stageRoot)
    }
    if (Files.exists(trashRoot)) {
      listDir(trashRoot).foreach { trashed =>
        val target = root.resolve(trashed.getFileName.toString)
        if (!Files.exists(target)) {
          // publish never happened and no committed stage covered the
          // partition: the trashed copy IS the partition — restore it
          Files.move(trashed, target, StandardCopyOption.ATOMIC_MOVE)
        } else deleteRecursively(trashed)
      }
      deleteRecursively(trashRoot)
    }
  }

  /** Compact every partition of a hive-partitioned parquet store that
    * holds ≥ `minFiles` data files into ceil(bytes / targetBytes)
    * files, in place, atomically per partition (see object notes).
    * Partitions below the threshold are untouched — their files are
    * not rewritten, read, or even opened, so repeated maintenance
    * runs cost only the delta since the last one. Returns what was
    * done; `log()`-style accounting, no silent work. */
  def compactStore(spark: SparkSession, path: String,
                   targetBytes: Long = 128L * 1024 * 1024,
                   minFiles: Int = 2): CompactionReport = {
    require(minFiles >= 2, "minFiles at least 2")
    rewritePartitions(spark, path, targetBytes, minFiles, identity)
  }

  /** [[compactStore]]'s machinery with a caller-supplied row
    * transform — for maintenance that CHANGES rows (dropping dead
    * rows, collapsing additive deltas), not just file grouping. The
    * caller owns the semantic contract that every store read is
    * transform-invariant; the crash-convergence protocol (stage with
    * `_SUCCESS`, two atomic renames, [[repairStore]] on entry) is the
    * same. Every partition is rewritten (`minFiles` 1): dead rows
    * exist regardless of file count. */
  def rewriteStore(spark: SparkSession, path: String,
                   transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                   targetBytes: Long = 128L * 1024 * 1024): CompactionReport =
    rewritePartitions(spark, path, targetBytes, 1, transform)

  private def rewritePartitions(spark: SparkSession, path: String,
                                targetBytes: Long, minFiles: Int,
                                transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): CompactionReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    repairStore(path)
    val root = Paths.get(path)
    val parts = partitionDirs(root)
    val compacted = new java.util.concurrent.atomic.AtomicInteger(0)
    val before = new java.util.concurrent.atomic.AtomicLong(0L)
    val after = new java.util.concurrent.atomic.AtomicLong(0L)
    // partitions rewrite independently (each owns its staged dir,
    // trash slot, and the two renames) — fan them out as concurrent
    // small Spark jobs; serializing them costs one fixed job latency
    // per partition, which dominated maintenance on many-bucket stores
    def rewriteOne(part: Path): Unit = {
      val dataFiles = listDir(part).filter(isDataFile)
      before.addAndGet(dataFiles.size.toLong)
      if (dataFiles.size >= minFiles) {
        val bytes = dataFiles.map(Files.size).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        val staged = root.resolve(".compact_stage")
          .resolve(part.getFileName.toString)
        transform(spark.read.parquet(part.toString))
          .repartition(nOut)
          .write.mode("overwrite").parquet(staged.toString)
        // The swap below treats "staged has _SUCCESS" as "staged is
        // complete" — [[repairStore]] restores a crashed swap on that
        // evidence alone. If the session disables success markers
        // (mapreduce.fileoutputcommitter.marksuccessfuljobs=false)
        // that evidence never exists and a crash between the renames
        // would strand the only copy in trash as 'uncommitted' — so
        // refuse to touch the live partition at all.
        require(Files.exists(staged.resolve("_SUCCESS")),
          s"staged compaction for $part has no _SUCCESS marker " +
            "(success markers disabled in this session?) — aborting " +
            "before touching the live partition; the store is intact")
        val trash = root.resolve(".compact_trash")
          .resolve(part.getFileName.toString)
        Files.createDirectories(trash.getParent)
        Files.move(part, trash, StandardCopyOption.ATOMIC_MOVE)
        Files.move(staged, part, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(trash)
        compacted.incrementAndGet()
        after.addAndGet(nOut.toLong)
      } else after.addAndGet(dataFiles.size.toLong)
    }
    if (parts.nonEmpty) {
      // per-partition jobs are tiny (one bucket read + write); 16-way
      // fan-out turns a 16-bucket store's maintenance into one wave
      // instead of two — pure fixed-latency savings
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(16, parts.size))
      val results = try {
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        // await EVERY partition before surfacing any failure: a
        // fail-fast return would leave sibling writes in flight for
        // a later repairStore to race (deleting a stage dir under a
        // live writer)
        parts.map(p => scala.concurrent.Future(
            scala.util.Try(rewriteOne(p)))(ec))
          .map(f => scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
      results.collectFirst { case scala.util.Failure(e) => throw e }
    }
    val stageRoot = root.resolve(".compact_stage")
    if (Files.exists(stageRoot) && listDir(stageRoot).isEmpty)
      Files.delete(stageRoot)
    CompactionReport(compacted.get(), before.get(), after.get())
  }

  /** File count per partition directory — the observable compaction
    * moves; exposed for specs and soak accounting. */
  def partitionFileCounts(path: String): Map[String, Int] =
    partitionDirs(Paths.get(path)).map { part =>
      part.getFileName.toString -> listDir(part).count(isDataFile)
    }.toMap

  // ----- fused (one-job) rewrite -----------------------------------
  //
  // The per-partition forms above run ONE Spark job per rewritten
  // bucket — the right unit when few buckets changed, but a full
  // vacuum of a 16-bucket store is 16 tiny jobs whose cost is almost
  // entirely per-job fixed latency (the calib_job_sec probe measures
  // it at ~0.07-0.11 s/job on this host; c5's vacuum paid ~45 of
  // them). The fused form stages EVERY due partition with ONE
  // partitionBy write — one root-level `_SUCCESS` commits them all
  // (repairStore honors it) — then runs the same per-partition
  // two-rename swap, which is pure driver-side filesystem work.
  // ----------------------------------------------------------------

  /** One-job sibling of [[rewriteStore]]: read every partition in a
    * single pruned scan, transform, stage all replacements with one
    * `partitionBy` write, swap each atomically. The transform sees
    * the WHOLE store frame INCLUDING the hive partition column
    * `partCol` and must PRESERVE it (the per-partition form's
    * transform sees one bucket with the column hive-erased — a
    * key-collapse `groupBy(key)` there becomes
    * `groupBy(partCol, key)` here; equivalent because a key lives in
    * exactly one bucket). Each small partition lands as ~one output
    * file; partitions over 2×`targetBytes` are detected from the
    * listing and routed through the SIZED per-partition path instead
    * (own staged dir + `_SUCCESS`, output in ~targetBytes files), so
    * a skewed bucket never becomes one multi-GB object. */
  def rewriteStoreFused(spark: SparkSession, path: String,
                        partCol: String,
                        transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        targetBytes: Long = 128L * 1024 * 1024): CompactionReport =
    fusedRewrite(spark, path, partCol, targetBytes, 1, transform)

  /** One-job sibling of [[compactStore]] — file regrouping only.
    * Partitions below `minFiles` are neither read nor rewritten, so
    * repeated maintenance costs one job over the delta. */
  def compactStoreFused(spark: SparkSession, path: String,
                        partCol: String,
                        targetBytes: Long = 128L * 1024 * 1024,
                        minFiles: Int = 2): CompactionReport = {
    require(minFiles >= 2, "minFiles at least 2")
    fusedRewrite(spark, path, partCol, targetBytes, minFiles, identity)
  }

  private def fusedRewrite(spark: SparkSession, path: String,
                           partCol: String, targetBytes: Long, minFiles: Int,
                           transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): CompactionReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    repairStore(path)
    val root = Paths.get(path)
    val byPart = partitionDirs(root).map(p => p -> listDir(p).filter(isDataFile))
    val before = byPart.map(_._2.size.toLong).sum
    val due = byPart.filter(_._2.size >= minFiles)
    if (due.isEmpty) return CompactionReport(0, before, before)
    require(due.forall(_._1.getFileName.toString.startsWith(partCol + "=")),
      s"store $path partition dirs do not match partCol=$partCol")
    // SKEW SPLIT: the fused write lands each partition as one file —
    // right for the many-small-bucket maintenance it exists for, but
    // a skewed bucket would become one multi-GB object. Oversized
    // partitions take the SIZED per-partition path below instead.
    val (big, todo) = due.partition(_._2.map(Files.size).sum >
      2L * targetBytes)
    val stageRoot = root.resolve(".compact_stage")
    val trashRoot = root.resolve(".compact_trash")
    var after = before - due.map(_._2.size.toLong).sum
    if (todo.nonEmpty) {
      // basePath keeps the hive partition column in the frame so the
      // transform can group by it and partitionBy can re-emit it
      val src = spark.read.option("basePath", root.toString)
        .parquet(todo.map(_._1.toString): _*)
      // hash-partition on partCol: all of a bucket's rows land in one
      // task → exactly one file per staged partition. nOut only bounds
      // task count (several buckets may share a task).
      val nOut = math.min(todo.size,
        math.max(1L, (todo.flatMap(_._2).map(Files.size).sum +
          targetBytes - 1) / targetBytes).toInt)
      transform(src)
        .repartition(nOut, org.apache.spark.sql.functions.col(partCol))
        .write.mode("overwrite").partitionBy(partCol)
        .parquet(stageRoot.toString)
      require(Files.exists(stageRoot.resolve("_SUCCESS")),
        s"fused stage for $path has no _SUCCESS marker (success markers " +
          "disabled in this session?) — aborting before touching the " +
          "live store; the store is intact")
      Files.createDirectories(trashRoot)
      todo.foreach { case (part, _) =>
        val staged = stageRoot.resolve(part.getFileName.toString)
        // a partition the transform emptied entirely writes no staged
        // dir — swap in an explicit empty one so its dead files are
        // still retired (read-invariant by the transform's contract);
        // created after `_SUCCESS`, so a crash before this line leaves
        // the original in place, which is equally read-correct
        if (!Files.exists(staged)) Files.createDirectories(staged)
        val trash = trashRoot.resolve(part.getFileName.toString)
        Files.move(part, trash, StandardCopyOption.ATOMIC_MOVE)
        Files.move(staged, part, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(trash)
        after += listDir(part).count(isDataFile).toLong
      }
      deleteRecursively(stageRoot)
    }
    // oversized partitions, AFTER the fused stage is fully retired
    // (its mode=overwrite write would wipe sibling staged dirs):
    // each stages its own dir with its own `_SUCCESS` — the same
    // per-partition crash windows repairStore already converges —
    // and sizes its output at targetBytes
    big.foreach { case (part, files) =>
      val bytes = files.map(Files.size).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val staged = stageRoot.resolve(part.getFileName.toString)
      transform(spark.read.option("basePath", root.toString)
          .parquet(part.toString))
        .drop(partCol) // constant here; the dir name carries it
        .repartition(nOut)
        .write.mode("overwrite").parquet(staged.toString)
      require(Files.exists(staged.resolve("_SUCCESS")),
        s"staged compaction for $part has no _SUCCESS marker " +
          "(success markers disabled in this session?) — aborting " +
          "before touching the live partition; the store is intact")
      val trash = trashRoot.resolve(part.getFileName.toString)
      Files.createDirectories(trashRoot)
      Files.move(part, trash, StandardCopyOption.ATOMIC_MOVE)
      Files.move(staged, part, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(trash)
      after += listDir(part).count(isDataFile).toLong
    }
    if (Files.exists(stageRoot) && listDir(stageRoot).isEmpty)
      Files.delete(stageRoot)
    if (Files.exists(trashRoot) && listDir(trashRoot).isEmpty)
      Files.delete(trashRoot)
    CompactionReport(due.size, before, after)
  }

  // ----- auto-maintenance trigger ----------------------------------

  /** AQE-off clone of the caller's session for fold/maintenance
    * paths: their plans are dozens of tiny 1-3-exchange actions where
    * AQE's per-exchange stage-jobs are pure fixed-latency tax
    * (measured: ~40 jobs per boilerplate fold, ~15 actions) and its
    * runtime re-planning has nothing to buy. Without AQE the fixed
    * shuffle-partition count IS the task count of every tiny
    * maintenance shuffle, so it is capped at 8 (shuffles here are
    * bounded by one ingest batch / one bucket's deltas, never by the
    * corpus). Clone-local — never mutates the caller's conf (a
    * session-wide flip would race concurrent work, e.g. the shared
    * streaming seeds). */
  private[graft] def quietSession(spark: SparkSession): SparkSession = {
    val c = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
    c.conf.set("spark.sql.adaptive.enabled", "false")
    c.conf.set("spark.sql.shuffle.partitions",
      math.min(8, spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .toString)
    c
  }

  /** Listing-only maintenance trigger for a hive-partitioned delta
    * store — TRUE when any partition holds ≥ `trigger` data files.
    * Delta-file count IS the dead/duplicate-row proxy for these
    * stores: every fold appends exactly one file set per touched
    * bucket, so a bucket with F files carries ~F delta rows per key
    * and F× the planning/footer cost. Pure driver-side directory
    * listing — no Spark jobs, safe to evaluate on every fold; at
    * 1000-executor scale this is one object-store LIST per bucket,
    * amortized by the fold's own store read. A store's fold() calls
    * this and runs its vacuum when due, so serving stores stay fast
    * WITHOUT an operator remembering to schedule maintenance. */
  def needsMaintenance(path: String, trigger: Int): Boolean = {
    require(trigger >= 2, "trigger at least 2")
    val root = Paths.get(path)
    Files.exists(root) && partitionDirs(root)
      .exists(p => listDir(p).count(isDataFile) >= trigger)
  }

  /** [[needsMaintenance]] for FLAT (unpartitioned) stores: the root's
    * own data-file count is the delta count. */
  def flatNeedsMaintenance(path: String, trigger: Int): Boolean = {
    require(trigger >= 2, "trigger at least 2")
    val root = Paths.get(path)
    Files.exists(root) && listDir(root).count(isDataFile) >= trigger
  }

  // ----- flat (unpartitioned) stores ------------------------------
  //
  // The quantile cell store appends one small delta file per fold
  // into an UNPARTITIONED root — there is no partition dir to swap,
  // so the maintenance unit is the root itself:
  //
  //  1. Write the rewritten replacement under `<root>/.flat_stage`
  //     (dot dir: invisible to readers); Spark's `_SUCCESS` lands
  //     last, so a committed stage is complete by construction.
  //  2. Move every pre-existing data file into `<root>/.flat_trash`.
  //  3. COPY each staged part into the root under the deterministic
  //     name `flatc-<part>` (part names carry write-unique UUIDs, so
  //     successive rewrites never collide) — a partial-crash re-copy
  //     overwrites the same targets byte-identically.
  //  4. Drop stage, then trash.
  //
  // Crash convergence ([[repairFlatStore]], run on entry and by
  // store readers): a committed stage means steps 2–3 may be
  // unfinished — finish them (files already trashed stay trashed,
  // staged copies re-copy); an UNCOMMITTED stage is a crashed step 1
  // and is dropped with the live root untouched; trash with no stage
  // means step 4 crashed mid-way — the promote completed, drop the
  // trash. Data is never both absent from the root and absent from
  // (stage ∪ trash). Readers see the same brief mixed window
  // compactStore's swap has; single-maintainer contract.
  // ----------------------------------------------------------------

  /** Converge a flat store out of any crashed [[rewriteFlatStore]]
    * state. Idempotent; safe on a clean store. */
  def repairFlatStore(path: String): Unit = {
    val root = Paths.get(path)
    val stage = root.resolve(".flat_stage")
    val trash = root.resolve(".flat_trash")
    if (Files.exists(stage)) {
      if (Files.exists(stage.resolve("_SUCCESS"))) {
        finishFlatSwap(root, stage, trash)
      } else deleteRecursively(stage) // crashed mid-stage; root intact
    }
    if (Files.exists(trash)) deleteRecursively(trash)
  }

  /** Steps 2–4 of the flat swap, resumable from any point: trash
    * every live data file that is not one of the stage's promote
    * targets, copy the staged parts in under `flatc-` names, drop
    * stage then trash. */
  private def finishFlatSwap(root: Path, stage: Path, trash: Path): Unit = {
    val staged = listDir(stage).filter(isDataFile)
    val targets = staged.map(p => s"flatc-${p.getFileName.toString}").toSet
    Files.createDirectories(trash)
    listDir(root).filter(isDataFile)
      .filterNot(p => targets.contains(p.getFileName.toString))
      .foreach { old =>
        Files.move(old, trash.resolve(old.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
    staged.foreach { p =>
      Files.copy(p, root.resolve(s"flatc-${p.getFileName.toString}"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    deleteRecursively(stage)
    deleteRecursively(trash)
  }

  /** Rewrite a FLAT (unpartitioned) parquet store in place through a
    * caller-supplied row transform — the root-granularity sibling of
    * [[rewriteStore]] for stores with no partition dirs (one delta
    * file per fold otherwise accumulates forever). The caller owns
    * the contract that every store read is transform-invariant. */
  def rewriteFlatStore(spark: SparkSession, path: String,
                       transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                       targetBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    repairFlatStore(path)
    val root = Paths.get(path)
    val dataFiles = listDir(root).filter(isDataFile)
    if (dataFiles.isEmpty) return CompactionReport(0, 0L, 0L)
    val bytes = dataFiles.map(Files.size).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val stage = root.resolve(".flat_stage")
    transform(spark.read.parquet(path))
      .repartition(nOut)
      .write.mode("overwrite").parquet(stage.toString)
    require(Files.exists(stage.resolve("_SUCCESS")),
      s"staged flat rewrite for $path has no _SUCCESS marker " +
        "(success markers disabled in this session?) — aborting " +
        "before touching the live store; the store is intact")
    finishFlatSwap(root, stage, root.resolve(".flat_trash"))
    CompactionReport(1, dataFiles.size.toLong,
      listDir(root).count(isDataFile).toLong)
  }
}
