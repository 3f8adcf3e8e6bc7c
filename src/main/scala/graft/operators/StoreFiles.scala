package graft.operators

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** The filesystem operations every persisted store publishes through,
  * on the Hadoop `FileSystem` API so a store lives on any filesystem
  * the session resolves (local, HDFS, an object store, or a scheme a
  * test registers on the session's Hadoop conf):
  *
  *  - [[list]], recursive [[delete]] and the create-no-overwrite
  *    [[createMarker]];
  *  - [[rename]], checked: Hadoop's rename onto an existing directory
  *    moves the source INTO it, and reports failure by returning
  *    false, so the target must be absent and the result is checked;
  *  - [[promote]], the one file-set publish: copy the data files of a
  *    staged directory into a live one under deterministic
  *    `<stamp>-<file>` names, overwriting, so a re-copy after a crash
  *    lands on the same targets byte-identically;
  *  - [[swap]], the one directory publish: live → trash, staged →
  *    live, drop trash, with [[repair]] converging a crashed swap.
  *
  * `LocalFileSystem` keeps a dot-prefixed `.crc` sidecar beside every
  * file it writes and hides them from its listings; [[isDataFile]]
  * skips dot-files regardless.
  *
  * On top of these sits the committed-staging exactly-once protocol.
  * Each store family has one fold, declared once beside it in
  * `operators/` as a [[CommitNames]] with its artifacts and writers,
  * and every caller goes through it with a batch id: IVF
  * (`Similarity.foldIvfIndex`, e10 and s13), substr
  * (`DedupSuite.exactSubstrFold`, d26 and s14), quantile
  * (`Quantiles.foldQuantileStore`, q96 and s15), boilerplate
  * (`Boilerplate.fold`, c5 and s16), pack (`Pack.foldSpans`, q98 and
  * s17) and hamming (`DedupSuite.hammingIndexFold`, d30, d31 and
  * s18). A fold runs its family's self-scheduled maintenance only
  * after its marker is durable. Three stores still append directly
  * and are crash-redo by contract, with no exactly-once fold: the
  * HeavyHitters key store, the Graph contribution store and the
  * SemDedup state.
  *
  * The protocol. Parquet append has no natural idempotency, and a bare
  * marker-after-append leaves a window (append committed, marker not
  * yet) where a replayed batch double-appends. A fold therefore never
  * writes the live store directly:
  *
  *  1. `marker` exists → already applied, skip (and sweep a leaked
  *     staging).
  *  2. Stage, unless `staging/_SUCCESS` exists: sweep the staging, run
  *     the family's writers concurrently, one per declared artifact,
  *     computing from the LIVE (not-yet-mutated) store, then write
  *     `_SUCCESS` LAST. Its presence freezes the staging, so a replay
  *     after a half-promote reuses it verbatim and never recomputes
  *     against mutated state; a staging without it is a crashed
  *     attempt and is restaged from scratch.
  *  3. Promote: [[promote]] each artifact's staged files (top level
  *     and one `k=v` partition level) into its live destination — a
  *     partial-crash re-copy overwrites the same targets, because the
  *     committed staging fixes the name set.
  *  4. Marker (the commit point, create-no-overwrite), then sweep the
  *     staging.
  *
  * Any crash replays to the same final state: before `_SUCCESS` → a
  * clean restage; between `_SUCCESS` and the marker → an idempotent
  * re-copy; after the marker → step 1 skips. */
object StoreFiles {

  /** `path`'s filesystem under the session's Hadoop conf. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The children of `dir`; a missing directory lists empty. */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** Recursive delete; a missing path is a no-op (no write reaches the
    * filesystem, so a reader's repair of a clean store writes
    * nothing), a failed one throws. */
  def delete(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true) && fs.exists(p))
      throw new IOException(s"failed to delete $p")

  /** Create the empty file `p`; throws if it already exists. */
  def createMarker(fs: FileSystem, p: Path): Unit = fs.create(p, false).close()

  /** Rename `src` to the absent `dst` (its parent is created), or throw. */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit = {
    if (fs.exists(dst))
      throw new FileAlreadyExistsException(s"rename target $dst exists")
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IOException(s"failed to rename $src to $dst")
  }

  /** A parquet data file, not a hidden or `_`-prefixed marker. */
  def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")

  /** The data files directly under `dir`; none if it is missing. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    list(fs, dir).filter(st => st.isFile && isDataFile(st.getPath.getName))

  /** Copy every data file directly under `srcDir` into `dstDir` as
    * `<stamp>-<file>`, overwriting. */
  def promote(fs: FileSystem, srcDir: Path, dstDir: Path, stamp: String): Unit = {
    fs.mkdirs(dstDir)
    dataFiles(fs, srcDir).foreach { st =>
      if (!FileUtil.copy(fs, st, fs,
          new Path(dstDir, s"$stamp-${st.getPath.getName}"), false, true,
          fs.getConf))
        throw new IOException(s"failed to copy ${st.getPath} into $dstDir")
    }
  }

  /** Throw unless the staged directory `stage` carries Spark's
    * `_SUCCESS`: a swap treats it as the evidence that the staging is
    * complete, and [[repair]] publishes a crashed swap on it alone. A
    * session that disables success markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) never
    * writes it, so refuse before the live data is touched. */
  def requireCommitted(fs: FileSystem, stage: Path): Unit =
    require(fs.exists(new Path(stage, "_SUCCESS")),
      s"staged rewrite $stage has no _SUCCESS marker (success markers " +
        "disabled in this session?) — aborting before touching the " +
        "live data; the store is intact")

  /** Publish the committed directory `staged` as `live`: move any
    * `live` to `trash`, `staged` to `live`, then drop `trash`. Between
    * the two renames `live` is briefly absent (the window Spark's own
    * dynamic partition overwrite has); data is never absent from both
    * `live` and (`staged` ∪ `trash`). Single-maintainer contract. */
  def swap(fs: FileSystem, staged: Path, live: Path, trash: Path): Unit = {
    if (fs.exists(live)) rename(fs, live, trash)
    rename(fs, staged, live)
    delete(fs, trash)
  }

  /** Converge every crashed [[swap]] whose slots are the children of
    * `stageRoot` and `trashRoot`, publishing into the same-named
    * children of `liveRoot`. A staged slot is committed by its own
    * `_SUCCESS` or by one at `stageRoot` (a single Spark write that
    * staged many slots). Stages resolve first: a committed stage whose
    * live slot is missing is moved into place (the crash hit between
    * the two renames); every other stage is uncommitted or superseded
    * and is dropped. Then a trashed slot whose live slot is still
    * missing is restored (the publish never completed, so it is the
    * only copy), and every other one dropped. The stage root (and its
    * `_SUCCESS`) goes only after all its slots, so a crash mid-repair
    * leaves the remaining slots provably committed. Idempotent. */
  def repair(fs: FileSystem, liveRoot: Path, stageRoot: Path,
             trashRoot: Path): Unit = {
    val rootCommitted = fs.exists(new Path(stageRoot, "_SUCCESS"))
    list(fs, stageRoot).filter(_.isDirectory).foreach { st =>
      val live = new Path(liveRoot, st.getPath.getName)
      if ((rootCommitted || fs.exists(new Path(st.getPath, "_SUCCESS"))) &&
          !fs.exists(live)) rename(fs, st.getPath, live)
      else delete(fs, st.getPath)
    }
    delete(fs, stageRoot)
    list(fs, trashRoot).foreach { st =>
      val live = new Path(liveRoot, st.getPath.getName)
      if (!fs.exists(live)) rename(fs, st.getPath, live)
      else delete(fs, st.getPath)
    }
    delete(fs, trashRoot)
  }

  /** The data files of each existing `bucket=<b>` directory under
    * `root`, in `buckets` order; a bucket with no directory is left
    * out. A store read pinned to these files lists no other directory. */
  def bucketFiles(fs: FileSystem, root: Path,
                  buckets: Seq[Long]): Seq[(Long, Seq[FileStatus])] =
    buckets.map(b => b -> new Path(root, s"bucket=$b"))
      .filter { case (_, d) => fs.isDirectory(d) }
      .map { case (b, d) => b -> dataFiles(fs, d) }

  /** [[bucketFiles]] flattened to path strings. */
  def bucketFilePaths(spark: SparkSession, root: String,
                      buckets: Seq[Long]): Seq[String] =
    bucketFiles(fs(spark, root), new Path(root), buckets)
      .flatMap(_._2).map(_.getPath.toString)

  /** One staged artifact: the staging sub-directory `name` (`""` = the
    * staging root itself, for a family whose single writer commits
    * the root) and the live directory its files promote into. */
  final case class Artifact(name: String, dest: String)

  /** A store family's on-disk names, keyed by batch id: marker
    * `<marker><id>`, staging `<staging><id>`, stamp `<stamp><id>`. */
  final case class CommitNames(marker: String, staging: String,
                               stamp: String) {
    def at(spark: SparkSession, root: String, id: Long,
           artifacts: Seq[Artifact]): StagedCommit =
      StagedCommit(fs(spark, root), root, s"$marker$id", s"$staging$id",
        s"$stamp$id", artifacts)
  }

  /** One batch's committed-staging transaction (protocol above) on
    * `fs`: marker and staging live under the store `root`; `stamp`
    * prefixes every promoted file name. */
  final case class StagedCommit(fs: FileSystem, root: String, marker: String,
                                staging: String, stamp: String,
                                artifacts: Seq[Artifact]) {
    require(artifacts.nonEmpty, s"staged commit $staging promotes no artifact")
    // the root artifact's own writer commits `_SUCCESS` — no sibling
    // may still be writing then
    require(artifacts.size == 1 || !artifacts.exists(_.name.isEmpty),
      s"staged commit $staging: a root artifact must be the only one")

    private def markerPath: Path = new Path(root, marker)
    private def stagingPath: Path = new Path(root, staging)
    private def successPath: Path = new Path(stagingPath, "_SUCCESS")
    private def stagedPath(name: String): Path =
      if (name.isEmpty) stagingPath else new Path(stagingPath, name)

    def stagedDir(name: String): String = stagedPath(name).toString
    def applied: Boolean = fs.exists(markerPath)
    def committed: Boolean = fs.exists(successPath)
    def sweep(): Unit = delete(fs, stagingPath)

    /** Step 2: run each declared artifact's writer (keyed by artifact
      * name, handed its staged dir) concurrently, `_SUCCESS` last. A
      * family may offer writers for optional artifacts it did not
      * declare; they do not run. */
    def stage(writers: Map[String, String => Unit]): Unit = {
      val missing = artifacts.map(_.name).filterNot(writers.contains)
      require(missing.isEmpty,
        s"staged commit $staging has no writer for ${missing.mkString(", ")}")
      sweep()
      Par.run(artifacts.map(a => () => writers(a.name)(stagedDir(a.name))))
      // a root artifact's Spark write has committed `_SUCCESS` already
      if (!committed) createMarker(fs, successPath)
    }

    /** Step 3. Every declared artifact is checked before any file
      * moves: a committed staging missing one throws with the live
      * store untouched and no marker written. */
    def promote(): Unit = {
      require(committed, s"staging $stagingPath is not committed")
      val live = artifacts.map(a => stagedPath(a.name) -> new Path(a.dest))
      live.foreach { case (src, _) =>
        if (!fs.isDirectory(src))
          throw new IllegalStateException(
            s"committed staging $stagingPath has no declared artifact $src")
      }
      live.foreach { case (src, dst) =>
        StoreFiles.promote(fs, src, dst, stamp)
        list(fs, src)
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .foreach(st => StoreFiles.promote(fs, st.getPath,
            new Path(dst, st.getPath.getName), stamp))
      }
    }

    /** Steps 1–4. `writers` is evaluated only when a stage runs, so a
      * family's fold compute is skipped on every replay. Returns
      * whether the batch was applied (false = replay skip). */
    def applyIdempotent(writers: => Map[String, String => Unit]): Boolean =
      if (applied) {
        sweep()
        false
      } else {
        if (!committed) stage(writers)
        promote()
        createMarker(fs, markerPath)
        sweep()
        true
      }
  }
}
