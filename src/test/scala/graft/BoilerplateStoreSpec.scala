package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Boilerplate

/** The incremental boilerplate store's changelog contract: a line
  * crossing the minDocs threshold in a later batch must RE-EMIT the
  * stored docs that carry it (earlier cleaned output is retroactively
  * wrong — the property no other ingest family in this repo has), and
  * latest-emission-per-doc equals the full recompute bit-exactly.
  * Also pins the bucket-pruned pair-store read and the loud layout /
  * monotonicity guards. */
class BoilerplateStoreSpec extends SparkSpec {
  import spark.implicits._

  private val m = 3L
  private val nB = 16

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** The changelog rows batch `id` emitted into `<store>-out`. */
  private def emitted(store: String, id: Long): DataFrame =
    spark.read.parquet(s"$store-out").filter(col("seq") === id)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))

  private def asMap(df: DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  /** Fold `batch` into `store` as batch `id`, its changelog into
    * `<store>-out`; returns whether it applied. */
  private def fold(store: String, batch: DataFrame, id: Long,
                   minDocs: Long = m): Boolean =
    Boilerplate.fold(spark, store, s"$store-out", batch, id, "doc_id",
      "text", minDocs, nB, 8)

  /** [[fold]], then the changelog that fold emitted. */
  private def foldEmits(store: String, batch: DataFrame, id: Long,
                        minDocs: Long = m): Map[Long, (String, Long)] = {
    fold(store, batch, id, minDocs)
    asMap(emitted(store, id))
  }

  // promo line reaches nd=2 in the build, crosses (nd=3) in fold 1,
  // and is already dictionary boilerplate by fold 2
  private val build = docsDf(
    (1L, "promo line\nalpha one"),
    (2L, "promo line\nbeta two"),
    (3L, "gamma three\ndelta four"),
    (4L, "epsilon five"))
  private val batch1 = docsDf(
    (5L, "promo line\nzeta six"),
    (6L, "eta seven"))
  private val batch2 = docsDf(
    (7L, "promo line\ntheta eight"),
    (8L, "iota nine"))

  test("threshold crossing re-emits invalidated stored docs; latest-wins equals full recompute") {
    val tmp = java.nio.file.Files.createTempDirectory("boiler_store")
    val store = s"$tmp/state"
    val e0 = Boilerplate.buildStore(build, "doc_id", "text", m, store, nB, 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // build: promo nd=2 < 3 — docs 1,2 ship with promo still present
    assert(e0(1L)._1 == "promo line\nalpha one" && e0(1L)._2 == 0L)

    val e1 = foldEmits(store, batch1, 1L)
    // fold 1: promo crosses (2 stored + 1 batch = 3) → batch doc 5 is
    // cleaned AND stored docs 1,2 are re-emitted cleaned
    assert(e1.keySet === Set(1L, 2L, 5L, 6L))
    assert(e1(5L) === (("zeta six", 1L)))
    assert(e1(1L) === (("alpha one", 1L)), "invalidated build doc re-emitted")
    assert(e1(2L) === (("beta two", 1L)))

    val e2 = foldEmits(store, batch2, 2L)
    // fold 2: promo already in the dictionary — no re-emission
    assert(e2.keySet === Set(7L, 8L))
    assert(e2(7L) === (("theta eight", 1L)))

    // latest-wins over the changelog == full recompute
    val latest = (e0 ++ e1 ++ e2) // later maps win on key collision
    val full = Boilerplate.removeCommonLines(
        build.unionByName(batch1).unionByName(batch2), "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(latest === full)
  }

  test("pair-store read is bucket-pruned; guards are loud") {
    val tmp = java.nio.file.Files.createTempDirectory("boiler_store2")
    val store = s"$tmp/state"
    Boilerplate.buildStore(build, "doc_id", "text", m, store, nB, 8).count()

    val cand = Seq("promo line", "zeta six")
    val buckets = cand.map(Boilerplate.bucketOf(_, nB)).distinct.sorted
    val pruned = Boilerplate.pairStoreRows(spark, store, buckets)
    val planStr = pruned.queryExecution.executedPlan.toString
    // a single candidate bucket folds `isin` to `=`, so match both forms
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(planStr).isDefined,
      s"pair read must carry a static bucket partition filter:\n" +
        planStr.take(2000))
    val scanned = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString)
    }.flatten
    assert(scanned.nonEmpty)
    assert(scanned.forall(p => buckets.exists(b => p.contains(s"bucket=$b/"))),
      s"scan must touch only candidate buckets $buckets, saw:\n" +
        scanned.mkString("\n"))
    val allBuckets = spark.read.parquet(s"$store/pairs")
      .select("bucket").distinct().count()
    assert(allBuckets > buckets.size,
      "fixture must leave unread buckets for the proof to bite")

    // a dictionary line's pairs and count deltas are NOT appended
    // (sub-threshold invariant: crossed lines never rejoin the
    // candidate path)
    fold(store, batch1, 1L)
    val promoBucket = Boilerplate.bucketOf("promo line", nB)
    val promoRows = Boilerplate.pairStoreRows(spark, store, Seq(promoBucket))
      .filter(col("line") === "promo line").count()
    assert(promoRows == 2L,
      "only the pre-crossing pairs remain; the crossing batch appends none")
    val promoCounts = spark.read.parquet(s"$store/counts")
      .filter(col("line") === "promo line")
      .agg(count(lit(1)), sum(col("nd_delta"))).head()
    assert(promoCounts.getLong(0) == 1L && promoCounts.getLong(1) == 2L,
      "counts hold only the build's pre-crossing delta for a crossed line")

    // monotonicity and layout mismatches fail loudly
    val eMono = intercept[IllegalArgumentException] {
      fold(store, build, 2L)
    }
    assert(eMono.getMessage.contains("monotonic"))
    val eLayout = intercept[IllegalArgumentException] {
      fold(store, batch2, 3L, m + 1)
    }
    assert(eLayout.getMessage.contains("layout mismatch"))
  }

  test("escalation branch: a below-sidecar line bridging the eps gap takes the full-counts read; sidecar crossings never do") {
    // m=5, eps=2 → the sidecar holds sub-threshold lines with nd >= 3.
    // "ghost line" is planted at nd=2 — BELOW the sidecar at the build
    // refresh (nd <= minDocs - eps - 1) — and crosses within ONE fold
    // via ndb=3 >= eps+1 post-refresh occurrences: the exact
    // contrapositive path (pnd + ndb >= eps + 1 -> full counts read)
    // that the promo-line fixtures above never take, because their
    // crossing line already sits IN the sidecar.
    val m5 = 5L
    val tmp = java.nio.file.Files.createTempDirectory("boiler_esc")
    val store = s"$tmp/state"
    val b0 = docsDf(
      (1L, "ghost line\na one"), (2L, "ghost line\nb two"),
      (3L, "promo line\nc three"), (4L, "promo line\nd four"),
      (5L, "promo line\ne five"), (6L, "f six"))
    val e0 = Boilerplate.buildStore(b0, "doc_id", "text", m5, store, nB, 8,
        eps = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    // control: a crossing carried by a SIDECAR line (promo, snd=3)
    // must not escalate — detection stays sidecar + post-refresh slice
    val promoBatch = docsDf((7L, "promo line\np seven"),
      (8L, "promo line\np eight"))
    val aCtl = Boilerplate.computeFold(spark, store, promoBatch,
      "doc_id", "text", m5, nB, 8)
    assert(!aCtl.escalatedFull,
      "a sidecar-covered crossing must never read the full counts store")

    // the planted gap-bridge: ghost (snd null, pnd=0, ndb=3) escalates
    val ghostBatch = docsDf((7L, "ghost line\ng seven"),
      (8L, "ghost line\ng eight"), (9L, "ghost line\ng nine"))
    val aEsc = Boilerplate.computeFold(spark, store, ghostBatch,
      "doc_id", "text", m5, nB, 8)
    assert(aEsc.escalatedFull,
      "a below-sidecar line with pnd + ndb >= eps + 1 must escalate")

    // end-to-end through the public fold: the escalated crossing
    // re-emits its stored carriers and latest-wins equals the recompute
    val e1 = foldEmits(store, ghostBatch, 1L, m5)
    assert(e1.keySet === Set(1L, 2L, 7L, 8L, 9L))
    assert(e1(1L) === (("a one", 1L)) && e1(2L) === (("b two", 1L)),
      "stored carriers of the escalated crossing are re-emitted cleaned")
    val latest = e0 ++ e1
    val full = Boilerplate.removeCommonLines(
        b0.unionByName(ghostBatch), "doc_id", "text", m5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(latest === full)
  }

  test("escalation with pnd > 0: post-refresh deltas bridge the gap across folds") {
    // ghost at nd=1 at the build refresh (below the m=5/eps=2 sidecar).
    // Fold 1 adds one occurrence: pnd(0) + ndb(1) < eps+1 — no
    // escalation, no crossing. Fold 2 adds three: pnd(1) + ndb(3) >=
    // eps+1 escalates, full counts (1+1) + 3 = 5 crosses — the pnd
    // term doing real work.
    val m5 = 5L
    val tmp = java.nio.file.Files.createTempDirectory("boiler_esc2")
    val store = s"$tmp/state"
    val b0 = docsDf((1L, "ghost line\na one"), (2L, "b two"))
    val e0 = Boilerplate.buildStore(b0, "doc_id", "text", m5, store, nB, 8,
        eps = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val batch1 = docsDf((3L, "ghost line\nc three"))
    assert(!Boilerplate.computeFold(spark, store, batch1, "doc_id", "text",
        m5, nB, 8).escalatedFull,
      "pnd + ndb below the gap must not escalate")
    val e1 = foldEmits(store, batch1, 1L, m5)
    assert(e1.keySet === Set(3L), "no crossing at nd=2")
    val batch2 = docsDf((4L, "ghost line\nd four"),
      (5L, "ghost line\ne five"), (6L, "ghost line\nf six"))
    assert(Boilerplate.computeFold(spark, store, batch2, "doc_id", "text",
        m5, nB, 8).escalatedFull,
      "post-refresh deltas must count toward the escalation gap")
    val e2 = foldEmits(store, batch2, 2L, m5)
    assert(e2.keySet === Set(1L, 3L, 4L, 5L, 6L),
      "carriers from the build AND the earlier fold are re-emitted")
    val full = Boilerplate.removeCommonLines(
        b0.unionByName(batch1).unionByName(batch2), "doc_id", "text", m5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert((e0 ++ e1 ++ e2) === full)
  }

  test("detection's counts slice carries the pushed fseq predicate") {
    val tmp = java.nio.file.Files.createTempDirectory("boiler_slice")
    val store = s"$tmp/state"
    Boilerplate.buildStore(build, "doc_id", "text", m, store, nB, 8).count()
    val planStr = Boilerplate.postRefreshCounts(spark, store, 4L)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("PushedFilters") &&
      "GreaterThan\\(fseq,4\\)".r.findFirstIn(planStr).isDefined,
      s"the detection slice must push fseq > as_of into the scan:\n" +
        planStr.take(2000))
  }

  test("crash window between marker and sweep: the replay skips and sweeps; the changelog lands once") {
    import java.nio.file.{Files, Paths}
    val tmp = java.nio.file.Files.createTempDirectory("boiler_crash")
    val store = s"$tmp/state"
    val e0 = asMap(Boilerplate.buildStore(build, "doc_id", "text", m, store, nB, 8))
    // reproduce the exact window: staged + promoted + marker created,
    // but the staging never swept
    val staging = Paths.get(store, ".boiler_staging_1")
    val commit = Boilerplate.foldCommit(spark, store, s"$store-out", 1L)
    commit.stage(Boilerplate.foldWriters(spark, store, batch1, "doc_id",
      "text", m, nB, 8, seq = 1L))
    commit.promote()
    assert(Files.exists(staging.resolve("_SUCCESS")))
    Files.createFile(Paths.get(store, "_boiler_batch_1"))
    // the changelog was promoted with the store artifacts, so the
    // replay has nothing to deliver: it skips and sweeps
    assert(!fold(store, batch1, 1L), "a marked batch must be skipped")
    assert(!Files.exists(staging), "the replay sweeps the staging")
    assert(emitted(store, 1L).count() == 4L, "the changelog landed once")
    val e1 = asMap(emitted(store, 1L))
    assert(e1.keySet === Set(1L, 2L, 5L, 6L))
    assert(e1(5L) === (("zeta six", 1L)) && e1(1L) === (("alpha one", 1L)))
    // the store was promoted exactly once: a later fold stays exact
    val e2 = foldEmits(store, batch2, 2L)
    val full = asMap(Boilerplate.removeCommonLines(
        build.unionByName(batch1).unionByName(batch2), "doc_id", "text", m))
    assert((e0 ++ e1 ++ e2) === full)
  }

  test("vacuum sweeps completed-fold markers and refuses while a crashed staging survives") {
    import java.nio.file.{Files, Paths}
    val tmp = java.nio.file.Files.createTempDirectory("boiler_sweep")
    val store = s"$tmp/state"
    Boilerplate.buildStore(build, "doc_id", "text", m, store, nB, 8).count()
    fold(store, batch1, 1L)
    fold(store, batch2, 2L)
    assert(Files.exists(Paths.get(store, "_boiler_batch_1")))
    // a surviving fold staging = a crashed fold awaiting replay; the
    // vacuum's rewrites would collapse the delta files its replay
    // re-promotes — refuse loudly
    val pending = Paths.get(store, ".boiler_staging_99")
    Files.createDirectories(pending)
    val eV = intercept[IllegalArgumentException] {
      Boilerplate.vacuumStore(spark, store)
    }
    assert(eV.getMessage.contains("replay"))
    Files.delete(pending)
    Boilerplate.vacuumStore(spark, store)
    assert(new java.io.File(store).list().filter(_.startsWith("_boiler_batch_"))
      .toSet == Set("_boiler_batch_2"),
      "completed-fold markers but the newest are swept by the vacuum")
    // the newest batch still replays as a skip
    val before = spark.read.parquet(s"$store-out").count()
    assert(!fold(store, batch2, 2L), "the newest batch's replay skips")
    assert(spark.read.parquet(s"$store-out").count() == before)
    // a swept marker cannot enable a silent replay: the monotonic
    // guard still rejects it
    val eM = intercept[IllegalArgumentException] {
      fold(store, batch1, 1L)
    }
    assert(eM.getMessage.contains("monotonic"))
  }

  test("vacuum drops dead rows, collapses deltas; post-vacuum folds stay exact") {
    // promo crosses in batch A (dead rows for the vacuum to drop);
    // footer crosses in batch B AFTER the vacuum — collapsed counts
    // must still detect it and the surviving pairs must still name
    // its stored carriers (docs 3, 4) for re-emission
    val vb = docsDf(
      (1L, "promo line\na one"), (2L, "promo line\nb two"),
      (3L, "footer line\nc three"), (4L, "footer line\nd four"))
    val bA = docsDf((5L, "promo line\ne five"), (6L, "f six"))
    val bB = docsDf((7L, "footer line\ng seven"), (8L, "h eight"))
    def runTo(store: String, vacuum: Boolean) = {
      Boilerplate.buildStore(vb, "doc_id", "text", m, store, nB, 8).count()
      fold(store, bA, 1L)
      if (vacuum) Boilerplate.vacuumStore(spark, store)
      fold(store, bB, 2L)
      emitted(store, 2L)
    }
    val tmp = java.nio.file.Files.createTempDirectory("boiler_vac")
    val (sv, sp) = (s"$tmp/vac", s"$tmp/plain")
    val eVac = runTo(sv, vacuum = true)
    val ePlain = runTo(sp, vacuum = false)
    assert(eVac.exceptAll(ePlain).isEmpty && ePlain.exceptAll(eVac).isEmpty,
      "a fold over a vacuumed store must be bit-identical")
    assert(eVac.filter(col("doc_id").isin(3L, 4L)).count() == 2L,
      "the post-vacuum crossing must re-emit its stored carriers")
    // dead rows gone, live deltas collapsed to one row per line
    val counts = spark.read.parquet(s"$sv/counts")
    assert(counts.filter(col("line") === "promo line").count() == 0L &&
      spark.read.parquet(s"$sv/pairs")
        .filter(col("line") === "promo line").count() == 0L,
      "the crossed line's counts and pairs rows are dead and dropped")
    val maxRows = counts.groupBy(col("line")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxRows == 1L, "vacuum must collapse deltas to one row per line")
  }
}
