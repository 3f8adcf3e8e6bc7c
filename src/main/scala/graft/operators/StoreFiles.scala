package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Filesystem primitives shared by every persisted-store maintenance
  * and ingest family, and the committed-staging exactly-once protocol
  * that every store fold (IVF s13, substr s14, quantile s15,
  * boilerplate s16 and c5, pack s17, hamming s18) runs through ONE
  * [[StagedCommit]] declaration.
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
  *  3. Promote: copy each artifact's staged `*.parquet` files (top
  *     level and one `k=v` partition level) into its live destination
  *     under the DETERMINISTIC name `<stamp>-<file>` with
  *     REPLACE_EXISTING — a partial-crash re-copy overwrites the same
  *     targets byte-identically, because the committed staging fixes
  *     the name set.
  *  4. Marker (the commit point, create-no-overwrite), then sweep the
  *     staging.
  *
  * Any crash replays to the same final state: before `_SUCCESS` → a
  * clean restage; between `_SUCCESS` and the marker → an idempotent
  * re-copy; after the marker → step 1 skips. */
object StoreFiles {

  /** `Files.list` with the mandated close (its javadoc requires it;
    * an unclosed stream leaks a directory fd until GC). */
  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** The one tree removal: children before parents; a missing tree is
    * a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** A parquet data file, not a hidden or `_`-prefixed marker. */
  def isDataFile(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
  }

  /** The data files of each existing `bucket=<b>` directory under
    * `root`, in `buckets` order; a bucket with no directory is left
    * out. A store read pinned to these files lists no other directory. */
  def bucketFiles(root: Path, buckets: Seq[Long]): Seq[(Long, Seq[Path])] =
    buckets.map(b => b -> root.resolve(s"bucket=$b"))
      .filter { case (_, d) => Files.isDirectory(d) }
      .map { case (b, d) => b -> listDir(d).filter(isDataFile) }

  /** [[bucketFiles]] flattened to path strings. */
  def bucketFilePaths(root: String, buckets: Seq[Long]): Seq[String] =
    bucketFiles(Paths.get(root), buckets).flatMap(_._2).map(_.toString)

  /** Copy every `*.parquet` directly under `srcDir` into `dstDir` as
    * `<stamp>-<file>` with REPLACE_EXISTING. */
  private def promoteFiles(srcDir: Path, dstDir: Path, stamp: String): Unit = {
    Files.createDirectories(dstDir)
    listDir(srcDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f =>
        Files.copy(f, dstDir.resolve(s"$stamp-${f.getFileName.toString}"),
          StandardCopyOption.REPLACE_EXISTING)
      }
  }

  /** One staged artifact: the staging sub-directory `name` (`""` = the
    * staging root itself, for a family whose single writer commits
    * the root) and the live directory its files promote into. `dest`
    * None = staged but never promoted (the batch boilerplate fold's
    * changelog, which the fold returns instead). */
  final case class Artifact(name: String, dest: Option[String])

  /** A store family's on-disk names, keyed by batch id: marker
    * `<marker><id>`, staging `<staging><id>`, stamp `<stamp><id>`. */
  final case class CommitNames(marker: String, staging: String,
                               stamp: String) {
    def at(root: String, id: Long, artifacts: Seq[Artifact]): StagedCommit =
      StagedCommit(root, s"$marker$id", s"$staging$id", s"$stamp$id",
        artifacts)
  }

  /** One batch's committed-staging transaction (protocol above):
    * marker and staging live under the store `root`; `stamp` prefixes
    * every promoted file name. */
  final case class StagedCommit(root: String, marker: String,
                                staging: String, stamp: String,
                                artifacts: Seq[Artifact]) {
    require(artifacts.exists(_.dest.isDefined),
      s"staged commit $staging promotes no artifact")
    // the root artifact's own writer commits `_SUCCESS` — no sibling
    // may still be writing then
    require(artifacts.size == 1 || !artifacts.exists(_.name.isEmpty),
      s"staged commit $staging: a root artifact must be the only one")

    private def markerPath: Path = Paths.get(root, marker)
    private def stagingPath: Path = Paths.get(root, staging)
    private def successPath: Path = stagingPath.resolve("_SUCCESS")

    def stagedDir(name: String): String = stagingPath.resolve(name).toString
    def applied: Boolean = Files.exists(markerPath)
    def committed: Boolean = Files.exists(successPath)
    def sweep(): Unit = deleteRecursively(stagingPath)

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
      if (!committed) Files.createFile(successPath)
    }

    /** Step 3. Every declared artifact is checked before any file
      * moves: a committed staging missing one throws with the live
      * store untouched and no marker written. */
    def promote(): Unit = {
      require(committed, s"staging $stagingPath is not committed")
      val live = artifacts.flatMap(a =>
        a.dest.map(d => stagingPath.resolve(a.name) -> Paths.get(d)))
      live.foreach { case (src, _) =>
        if (!Files.isDirectory(src))
          throw new IllegalStateException(
            s"committed staging $stagingPath has no declared artifact $src")
      }
      live.foreach { case (src, dst) =>
        promoteFiles(src, dst, stamp)
        listDir(src)
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.contains("="))
          .foreach(p => promoteFiles(p, dst.resolve(p.getFileName.toString),
            stamp))
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
        Files.createFile(markerPath)
        sweep()
        true
      }
  }
}
