package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The versioned-staging protocol shared by the batch pipeline and the
  * streaming merge sink: each merge writes a NEW `v%06d` directory
  * (never overwrite-while-reading), and readers take the newest
  * COMPLETE version.
  *
  * - Completeness: a version counts only if its `_SUCCESS` marker
  *   exists, so a crash mid-write can never be picked up as the merge
  *   target (a partial snapshot would silently drop rows).
  * - Ordering: versions compare NUMERICALLY (parsed from the dir name),
  *   not lexicographically — `v1000000` must sort after `v999999` even
  *   though the padding is exhausted.
  * - Idempotence: an optional `batchId` is recorded as a
  *   `_BATCH-<id>` marker; a replayed micro-batch (same id as the
  *   current latest version) is skipped instead of stacking a duplicate
  *   snapshot.
  */
object VersionedStaging {

  private def versionOf(path: String): Option[Int] =
    path.split("/").last.stripPrefix("v").toIntOption

  /** The COMPLETE (_SUCCESS-marked) version dirs, oldest first by
    * numeric order. */
  private def completeVersions(f: FileSystem, root: String): Seq[String] =
    Option(f.globStatus(new Path(s"$root/v*"))).getOrElse(Array.empty).toSeq
      .map(_.getPath.toString)
      .filter(p => versionOf(p).isDefined && f.exists(new Path(p, "_SUCCESS")))
      .sortBy(versionOf(_).get)

  /** Newest COMPLETE (_SUCCESS-marked) version dir, by numeric order. */
  def latestComplete(spark: SparkSession, root: String): Option[String] =
    completeVersions(StoreFiles.fs(spark, root), root).lastOption

  /** Batch id recorded for a version, if any. */
  def batchIdOf(spark: SparkSession, versionDir: String): Option[Long] = {
    val f = StoreFiles.fs(spark, versionDir)
    Option(f.globStatus(new Path(s"$versionDir/_BATCH-*")))
      .getOrElse(Array.empty)
      .headOption
      .flatMap(_.getPath.getName.stripPrefix("_BATCH-").toLongOption)
  }

  /** Publish `df` as the next version under `root`. Returns the new
    * version path, or None if `batchId` matches the current version's
    * (exact replay — skipped). The single owner of the version-advance
    * + marker protocol; every writer goes through here.
    *
    * Crash safety: data AND batch-id marker are staged in a hidden
    * `.tmp-*` dir (invisible to the `v*` glob) and renamed into place
    * in one step — a version can never exist complete-but-markerless,
    * which for non-idempotent combiners (incremental marts) would turn
    * a micro-batch replay into a double-count. */
  def publish(spark: SparkSession, root: String, df: DataFrame,
              batchId: Option[Long] = None): Option[String] =
    publishFrom(spark, root, latestComplete(spark, root), df, batchId)

  /** [[publish]] with the current-version listing already computed —
    * callers that listed for their own read (mergeInto) pass it in so a
    * long-lived stream doesn't pay two O(versions) listings per batch.
    * `beforeRename` runs once the write has returned and before the
    * version becomes visible: it may read the write's observed metrics,
    * and if it throws, the staged dir is deleted and nothing is
    * published. */
  private def publishFrom(spark: SparkSession, root: String,
                          current: Option[String], df: DataFrame,
                          batchId: Option[Long],
                          beforeRename: () => Unit = () => ()): Option[String] = {
    if (batchId.isDefined && current.exists(c => batchIdOf(spark, c) == batchId))
      return None
    val next = current.flatMap(versionOf).getOrElse(0) + 1
    val dest = f"$root/v$next%06d"
    val tmp = f"$root/.tmp-v$next%06d"
    df.write.mode("overwrite").parquet(tmp)
    val f = StoreFiles.fs(spark, root)
    try beforeRename()
    catch {
      case e: Throwable =>
        try StoreFiles.delete(f, new Path(tmp))
        catch { case d: java.io.IOException => e.addSuppressed(d) }
        throw e
    }
    batchId.foreach(id => StoreFiles.createMarker(f, new Path(tmp, s"_BATCH-$id")))
    // checked: a swallowed failure here would let a streaming
    // checkpoint commit a batch whose version was never created
    // (silent data loss). A stale partial `dest` is dropped first.
    StoreFiles.delete(f, new Path(dest))
    StoreFiles.rename(f, new Path(tmp), new Path(dest))
    Some(dest)
  }

  /** Storage lifecycle: delete every complete version older than the
    * newest `keep` ones, plus any orphaned `.tmp-*` staging dirs (a
    * crash between write and rename leaves one; it is invisible to
    * readers but holds space). Never touches the newest complete
    * version. Returns the deleted paths. At 100 TB this is the
    * history-retention knob — unbounded version history is unbounded
    * storage, the same reason table formats ship VACUUM. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val f = StoreFiles.fs(spark, root)
    val complete = completeVersions(f, root)
    val doomedVersions = complete.dropRight(keep)
    val orphans = Option(f.globStatus(new Path(s"$root/.tmp-v*")))
      .getOrElse(Array.empty)
      .map(_.getPath.toString)
      // an in-flight writer's tmp dir is NOT an orphan: only collect
      // tmp dirs whose target version already exists (rename happened
      // via a retry path) or that sort at/below the newest version
      .filter(p => versionOf(p.replace(".tmp-", ""))
        .exists(v => complete.lastOption.flatMap(versionOf).exists(_ >= v)))
    val doomed = doomedVersions ++ orphans
    doomed.foreach(p => StoreFiles.delete(f, new Path(p)))
    doomed
  }

  /** Compaction: rewrite the newest complete version into
    * `numPartitions` files and publish it as the NEXT version (readers
    * never see a half-compacted snapshot; the old version remains until
    * [[vacuum]]). Micro-batch merges accrete small part files — at
    * cluster scale file-count, not byte-count, is what kills scan
    * planning. Returns the new version path, or None if there is
    * nothing to compact. */
  def compact(spark: SparkSession, root: String,
              numPartitions: Int = 1): Option[String] =
    latestComplete(spark, root).flatMap { current =>
      val df = spark.read.parquet(current).repartition(numPartitions)
      publishFrom(spark, root, Some(current), df, batchId = None)
    }

  /** Merge `batch` into the staging at `root`: read the newest complete
    * version as target, keep-newest merge, publish the next version.
    * Returns the new version path, or None on batch-id replay.
    *
    * One Spark action, the merged write. Two checks ride it as observed
    * metrics and run before the rename, so a failing one publishes
    * nothing and the prior version stays the latest complete one:
    *   - key uniqueness of the merged relation ([[Checks.observedUnique]],
    *     B5/G7 "duplicate ids in staging"), a window over the merge's own
    *     key partitioning, so it adds no Exchange or Sort;
    *   - `guard`, the caller's, over the merge counts
    *     ([[Merge.observedMerged]]).
    * The target is read with the batch's schema (it must union with the
    * batch), so opening it infers no schema either. */
  def mergeInto(spark: SparkSession, root: String, batch: DataFrame,
                keys: Seq[String], versionCol: String,
                batchId: Option[Long] = None,
                guard: Merge.MergeCounts => Unit = _ => ()
               ): Option[(String, Merge.MergeResult)] = {
    val current = latestComplete(spark, root)
    val target = current.map(spark.read.schema(batch.schema).parquet(_))
      .getOrElse(batch.limit(0))
    val (merged, obs) = Merge.observedMerged(target, batch, keys, versionCol)
    val (checked, unique) = checkStagingKeys(merged, keys, root)
    lazy val counts = Merge.countsOf(obs) // filled once the write returns
    publishFrom(spark, root, current, checked, batchId,
      () => { unique.verify(); guard(counts) })
      .map(dest => (dest, Merge.MergeResult(merged, counts.inserted, counts.updated)))
  }

  /** The staging check (`04_checks.sql`): no key occurs twice. */
  private[graft] def checkStagingKeys(df: DataFrame, keys: Seq[String],
                                      root: String): (DataFrame, Checks.UniqueCheck) =
    Checks.observedUnique(df, keys, Seq(s"duplicate ids in staging $root" -> lit(true)))
}
