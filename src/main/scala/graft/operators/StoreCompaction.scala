package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-files maintenance for the persisted serving stores (q91
  * contribution buckets, q92 key buckets, d19 minhash index, e13
  * `/codes`, d23 SemDeDup state): every incremental append lands one
  * file set per partition per batch, so a store ingesting daily for a
  * year serves from hundreds of files per partition — at 100 TB that
  * is planning-time listing, footer-reading, and task-granularity
  * death.
  *
  * A hive-partitioned store has one rewrite path with two entry
  * points: [[compactStore]] regroups the files of every partition
  * holding two or more, and [[rewriteStore]] runs a caller's row
  * transform over every partition. Both read the due partitions in ONE
  * pruned scan and stage every replacement with ONE `partitionBy`
  * write under `<root>/.compact_stage` (dot-prefixed: invisible to
  * Spark readers), whose root-level `_SUCCESS` commits them all. Each
  * partition is then published by [[StoreFiles.swap]] through
  * `<root>/.compact_trash` — driver-side renames, no job. One job per
  * pass, not one per partition: a full vacuum of a 16-bucket store
  * used to pay 16 fixed job latencies.
  *
  * A partition over 2×`targetBytes` would land as one multi-GB file,
  * so it is staged on its own instead (its own dir and `_SUCCESS`,
  * output sized at ~`targetBytes` per file) after the shared stage is
  * retired, and swapped the same way.
  *
  * A crash at ANY step is convergent: [[repairStore]] (run on entry,
  * and by store readers) is [[StoreFiles.repair]] over the stage and
  * trash roots — it finishes a swap whose staged partition is
  * committed but not yet in place, restores a trashed partition whose
  * publish never completed, and discards the rest. Data is never both
  * absent from the partition and absent from (stage ∪ trash).
  *
  * Correctness contract: [[compactStore]] is ROW-IDENTICAL (same
  * rows, same per-partition placement, only file grouping changes),
  * so every serving gate that read the store before compaction must
  * hash-match after — q91 and s13 run their oracle gates over
  * post-compaction stores. [[rewriteStore]]'s caller owns the contract
  * that every store read is invariant under its transform.
  *
  * A FLAT (unpartitioned) store has no partition dir to swap, so
  * [[rewriteFlatStore]] promotes the rewritten files into its root
  * with [[StoreFiles.promote]] (notes below).
  */
object StoreCompaction {
  import StoreFiles.{dataFiles, delete, list, rename, requireCommitted}

  final case class CompactionReport(partitionsCompacted: Int,
                                    filesBefore: Long, filesAfter: Long)

  private val DefaultTargetBytes = 128L * 1024 * 1024

  private def outFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  private def partitionDirs(fs: FileSystem, root: Path): Seq[Path] =
    list(fs, root).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.contains("=") && !p.getName.startsWith("."))
      .sortBy(_.getName)

  /** Converge a store out of any crashed [[compactStore]] or
    * [[rewriteStore]] state ([[StoreFiles.repair]]). Idempotent; safe
    * on a clean store. */
  def repairStore(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    StoreFiles.repair(StoreFiles.fs(spark, path), root,
      new Path(root, ".compact_stage"), new Path(root, ".compact_trash"))
  }

  /** Compact every partition of a hive-partitioned parquet store that
    * holds two or more data files, in place (see object notes).
    * Smaller partitions are not rewritten, read, or even opened, so
    * repeated maintenance runs cost one job over the delta since the
    * last one. Returns what was done. */
  def compactStore(spark: SparkSession, path: String): CompactionReport =
    rewrite(spark, path, identity, minFiles = 2)

  /** [[compactStore]]'s machinery over EVERY partition (dead rows
    * exist regardless of file count) with a caller-supplied row
    * transform — for maintenance that CHANGES rows (dropping dead
    * rows, collapsing additive deltas). The transform sees the whole
    * store frame INCLUDING the hive partition column and must
    * PRESERVE it: a per-key collapse is `groupBy(partCol, key)`,
    * equivalent to the per-partition `groupBy(key)` because a key
    * lives in exactly one partition. */
  def rewriteStore(spark: SparkSession, path: String,
                   transform: DataFrame => DataFrame): CompactionReport =
    rewrite(spark, path, transform, minFiles = 1)

  /** The one rewrite path. `targetBytes` sizes the oversized-partition
    * split; specs lower it to exercise that split on a small store. */
  private[graft] def rewrite(spark: SparkSession, path: String,
                             transform: DataFrame => DataFrame,
                             minFiles: Int,
                             targetBytes: Long = DefaultTargetBytes): CompactionReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    repairStore(spark, path)
    val fs = StoreFiles.fs(spark, path)
    val root = new Path(path)
    val byPart = partitionDirs(fs, root).map(p => p -> dataFiles(fs, p))
    val before = byPart.map(_._2.size.toLong).sum
    val due = byPart.filter(_._2.size >= minFiles)
    if (due.isEmpty) return CompactionReport(0, before, before)
    // the partition column, from the directory names
    val partCols = due.map(_._1.getName.takeWhile(_ != '=')).distinct
    require(partCols.size == 1,
      s"store $path partition dirs name ${partCols.mkString(", ")}, not one column")
    val partCol = partCols.head
    def bytes(files: Seq[FileStatus]): Long = files.map(_.getLen).sum
    val (big, todo) = due.partition(p => bytes(p._2) > 2L * targetBytes)
    val stageRoot = new Path(root, ".compact_stage")
    val trashRoot = new Path(root, ".compact_trash")
    var after = before - due.map(_._2.size.toLong).sum
    def publish(part: Path): Unit = {
      StoreFiles.swap(fs, new Path(stageRoot, part.getName), part,
        new Path(trashRoot, part.getName))
      after += dataFiles(fs, part).size.toLong
    }
    if (todo.nonEmpty) {
      // basePath keeps the hive partition column in the frame so the
      // transform can group by it and partitionBy can re-emit it
      val src = spark.read.option("basePath", path)
        .parquet(todo.map(_._1.toString): _*)
      // hash-partition on partCol: all of a partition's rows land in
      // one task → exactly one file per staged partition. The task
      // count only bounds the write's parallelism (several partitions
      // may share a task).
      transform(src)
        .repartition(math.min(todo.size,
          outFiles(bytes(todo.flatMap(_._2)), targetBytes)), col(partCol))
        .write.mode("overwrite").partitionBy(partCol)
        .parquet(stageRoot.toString)
      requireCommitted(fs, stageRoot)
      todo.foreach { case (part, _) =>
        // a partition the transform emptied entirely writes no staged
        // dir — swap in an explicit empty one so its dead files are
        // still retired (read-invariant by the transform's contract);
        // created after `_SUCCESS`, so a crash before this line leaves
        // the original in place, which is equally read-correct
        fs.mkdirs(new Path(stageRoot, part.getName))
        publish(part)
      }
      // its root `_SUCCESS` too: a sized stage below, crashed before
      // its own `_SUCCESS`, must not read as committed by this one
      delete(fs, stageRoot)
    }
    // oversized partitions, AFTER the shared stage is fully retired
    // (its mode=overwrite write would wipe sibling staged dirs): each
    // stages its own dir with its own `_SUCCESS`, which repairStore
    // honors the same way
    big.foreach { case (part, files) =>
      val staged = new Path(stageRoot, part.getName)
      transform(spark.read.option("basePath", path).parquet(part.toString))
        .drop(partCol) // constant here; the dir name carries it
        .repartition(outFiles(bytes(files), targetBytes))
        .write.mode("overwrite").parquet(staged.toString)
      requireCommitted(fs, staged)
      publish(part)
    }
    delete(fs, stageRoot)
    delete(fs, trashRoot)
    CompactionReport(due.size, before, after)
  }

  /** File count per partition directory — the observable compaction
    * moves; exposed for specs and soak accounting. */
  def partitionFileCounts(spark: SparkSession, path: String): Map[String, Int] = {
    val fs = StoreFiles.fs(spark, path)
    partitionDirs(fs, new Path(path))
      .map(p => p.getName -> dataFiles(fs, p).size).toMap
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
  def needsMaintenance(spark: SparkSession, path: String,
                       trigger: Int): Boolean = {
    require(trigger >= 2, "trigger at least 2")
    val fs = StoreFiles.fs(spark, path)
    partitionDirs(fs, new Path(path))
      .exists(p => dataFiles(fs, p).size >= trigger)
  }

  /** [[needsMaintenance]] for FLAT (unpartitioned) stores: the root's
    * own data-file count is the delta count. */
  def flatNeedsMaintenance(spark: SparkSession, path: String,
                           trigger: Int): Boolean = {
    require(trigger >= 2, "trigger at least 2")
    dataFiles(StoreFiles.fs(spark, path), new Path(path)).size >= trigger
  }

  // ----- flat (unpartitioned) stores ------------------------------
  //
  // The quantile cell store appends one small delta file per fold
  // into an UNPARTITIONED root — there is no partition dir to swap,
  // so the maintenance unit is the root's file set:
  //
  //  1. Write the rewritten replacement under `<root>/.flat_stage`
  //     (dot dir: invisible to readers); Spark's `_SUCCESS` lands
  //     last, so a committed stage is complete by construction.
  //  2. Move every pre-existing data file into `<root>/.flat_trash`.
  //  3. [[StoreFiles.promote]] the staged parts into the root under
  //     the stamp `flatc` (part names carry write-unique UUIDs, so
  //     successive rewrites never collide).
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
  def repairFlatStore(spark: SparkSession, path: String): Unit = {
    val fs = StoreFiles.fs(spark, path)
    val root = new Path(path)
    val stage = new Path(root, ".flat_stage")
    val trash = new Path(root, ".flat_trash")
    if (fs.exists(new Path(stage, "_SUCCESS"))) finishFlatSwap(fs, root, stage, trash)
    else delete(fs, stage) // crashed mid-stage; root intact
    delete(fs, trash)
  }

  /** Steps 2–4 of the flat swap, resumable from any point: trash
    * every live data file that is not one of the stage's promote
    * targets, promote the staged parts, drop stage then trash. */
  private def finishFlatSwap(fs: FileSystem, root: Path, stage: Path,
                             trash: Path): Unit = {
    val stamp = "flatc"
    val targets = dataFiles(fs, stage).map(st => s"$stamp-${st.getPath.getName}").toSet
    dataFiles(fs, root).map(_.getPath).filterNot(p => targets(p.getName))
      .foreach(p => rename(fs, p, new Path(trash, p.getName)))
    StoreFiles.promote(fs, stage, root, stamp)
    delete(fs, stage)
    delete(fs, trash)
  }

  /** Rewrite a FLAT (unpartitioned) parquet store in place through a
    * caller-supplied row transform — the root-granularity sibling of
    * [[rewriteStore]] for stores with no partition dirs (one delta
    * file per fold otherwise accumulates forever). The caller owns
    * the contract that every store read is transform-invariant. */
  def rewriteFlatStore(spark: SparkSession, path: String,
                       transform: DataFrame => DataFrame): CompactionReport = {
    repairFlatStore(spark, path)
    val fs = StoreFiles.fs(spark, path)
    val root = new Path(path)
    val files = dataFiles(fs, root)
    if (files.isEmpty) return CompactionReport(0, 0L, 0L)
    val stage = new Path(root, ".flat_stage")
    transform(spark.read.parquet(path))
      .repartition(outFiles(files.map(_.getLen).sum, DefaultTargetBytes))
      .write.mode("overwrite").parquet(stage.toString)
    requireCommitted(fs, stage)
    finishFlatSwap(fs, root, stage, new Path(root, ".flat_trash"))
    CompactionReport(1, files.size.toLong, dataFiles(fs, root).size.toLong)
  }
}
