package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.operators.StoreCompaction

/** Store compaction: the small-files maintenance pass for the
  * persisted serving stores. Pins the three contracts: row identity
  * (compaction regroups files, never rows), real file-count
  * reduction, and crash-convergence of the per-partition atomic swap
  * (the repair protocol finishes or discards a half-done publish). */
class StoreCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def buildStore(nAppends: Int): String = {
    val root = Files.createTempDirectory("cstore").toString + "/store"
    (0 until nAppends).foreach { i =>
      (0L until 100L).map(j => (i * 100L + j, j % 4))
        .toDF("v", "bucket")
        .repartition(2) // several files per partition per append
        .write.mode("append").partitionBy("bucket").parquet(root)
    }
    root
  }

  private def rows(path: String): Set[(Long, Long)] =
    spark.read.parquet(path).select($"v", $"bucket".cast("long"))
      .as[(Long, Long)].collect().toSet

  test("compaction drops file counts, keeps every row, is idempotent") {
    val store = buildStore(4)
    val expect = rows(store)
    val before = StoreCompaction.partitionFileCounts(spark, store)
    assert(before.values.forall(_ >= 4), s"fixture too small: $before")
    val rep = StoreCompaction.compactStore(spark, store)
    assert(rep.partitionsCompacted == 4)
    assert(rep.filesAfter < rep.filesBefore)
    val after = StoreCompaction.partitionFileCounts(spark, store)
    assert(after.values.forall(_ == 1), s"expected 1 file/partition: $after")
    assert(rows(store) === expect, "compaction must not change rows")
    // idempotent: a second run finds nothing at threshold
    val rep2 = StoreCompaction.compactStore(spark, store)
    assert(rep2.partitionsCompacted == 0)
    assert(rows(store) === expect)
  }

  test("appends after compaction land and read normally") {
    val store = buildStore(3)
    StoreCompaction.compactStore(spark, store)
    val expect = rows(store) ++ (1000L until 1010L).map(v => (v, v % 4))
    (1000L until 1010L).map(v => (v, v % 4)).toDF("v", "bucket")
      .write.mode("append").partitionBy("bucket").parquet(store)
    assert(rows(store) === expect)
  }

  test("crash between the two renames converges via repair") {
    val store = buildStore(3)
    val expect = rows(store)
    // simulate: stage a committed compacted replacement for bucket=1,
    // then crash AFTER the partition was moved to trash but BEFORE
    // the staged dir was published — the worst window (partition
    // absent from the root)
    val part = Paths.get(store, "bucket=1")
    val staged = Paths.get(store, ".compact_stage", "bucket=1")
    Files.createDirectories(staged.getParent)
    spark.read.parquet(part.toString)
      .repartition(1).write.mode("overwrite").parquet(staged.toString)
    assert(Files.exists(staged.resolve("_SUCCESS")))
    val trash = Paths.get(store, ".compact_trash", "bucket=1")
    Files.createDirectories(trash.getParent)
    Files.move(part, trash, StandardCopyOption.ATOMIC_MOVE)
    assert(!Files.exists(part), "simulated crash: partition absent")
    // any maintenance entry converges the store (repair runs first)
    StoreCompaction.repairStore(spark, store)
    assert(Files.exists(part), "repair must publish the committed stage")
    assert(!Files.exists(Paths.get(store, ".compact_trash")),
      "superseded trash must be dropped")
    assert(rows(store) === expect, "no row lost or duplicated")
  }

  test("partition stranded in trash with no committed stage is restored") {
    val store = buildStore(3)
    val expect = rows(store)
    // crash window: the live partition was renamed into trash but the
    // staged replacement is UNCOMMITTED (no _SUCCESS) — the trashed
    // copy is the only live data. Repair must restore it, not delete.
    val part = Paths.get(store, "bucket=3")
    val staged = Paths.get(store, ".compact_stage", "bucket=3")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-junk.parquet"), Array[Byte](7, 7))
    val trash = Paths.get(store, ".compact_trash", "bucket=3")
    Files.createDirectories(trash.getParent)
    Files.move(part, trash, StandardCopyOption.ATOMIC_MOVE)
    assert(!Files.exists(part), "simulated crash: partition absent")
    StoreCompaction.repairStore(spark, store)
    assert(Files.exists(part), "repair must restore the trashed original")
    assert(!Files.exists(Paths.get(store, ".compact_trash")))
    assert(!Files.exists(Paths.get(store, ".compact_stage")))
    assert(rows(store) === expect, "no row lost or duplicated")
  }

  test("compaction refuses the swap when success markers are disabled") {
    val store = buildStore(3)
    val expect = rows(store)
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = hc.get(key)
    hc.set(key, "false")
    try {
      val e = intercept[IllegalArgumentException] {
        StoreCompaction.compactStore(spark, store)
      }
      assert(e.getMessage.contains("_SUCCESS"))
    } finally {
      if (prev == null) hc.unset(key) else hc.set(key, prev)
    }
    // the live store was never touched; repair converges the aborted
    // stage away and every row is still served
    StoreCompaction.repairStore(spark, store)
    assert(rows(store) === expect)
    assert(!Files.exists(Paths.get(store, ".compact_stage")))
  }

  test("uncommitted staging is discarded, intact partition kept") {
    val store = buildStore(3)
    val expect = rows(store)
    // crash mid-stage: staged dir WITHOUT _SUCCESS, partition intact
    val staged = Paths.get(store, ".compact_stage", "bucket=2")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-junk.parquet"), Array[Byte](9, 9))
    StoreCompaction.repairStore(spark, store)
    assert(!Files.exists(staged), "uncommitted stage must be discarded")
    assert(rows(store) === expect)
  }

  // ----- fused (one-job) rewrite -----------------------------------

  private def deltaStore(nFolds: Int): String = {
    val root = Files.createTempDirectory("dstore").toString + "/store"
    (0 until nFolds).foreach { i =>
      // bucket is a FUNCTION of k (j%10 → (j%10)%4) — the delta-store
      // invariant the fused (bucket, k) collapse relies on
      (0L until 40L).map(j => (s"k${j % 10}", 1L, (j % 10) % 4))
        .toDF("k", "cnt", "bucket")
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(root)
    }
    root
  }

  private def summed(path: String): Map[String, Long] =
    spark.read.parquet(path).groupBy($"k").agg(sum($"cnt").as("c"))
      .as[(String, Long)].collect().toMap

  test("fused rewrite collapses all partitions in one pass, summed reads invariant, idempotent") {
    val store = deltaStore(5)
    val expect = summed(store)
    val before = StoreCompaction.partitionFileCounts(spark, store)
    assert(before.values.forall(_ >= 5), s"fixture too small: $before")
    val rep = StoreCompaction.rewriteStore(spark, store,
      df => df.groupBy($"bucket", $"k")
        .agg(sum($"cnt").cast("bigint").as("cnt")))
    assert(rep.partitionsCompacted == 4 && rep.filesAfter < rep.filesBefore)
    val after = StoreCompaction.partitionFileCounts(spark, store)
    assert(after.values.forall(_ == 1), s"expected 1 file/partition: $after")
    assert(summed(store) === expect, "summed reads must be invariant")
    // one collapsed row per key
    assert(spark.read.parquet(store).groupBy($"k").count()
      .agg(max($"count")).head().getLong(0) == 1L)
    StoreCompaction.rewriteStore(spark, store,
      df => df.groupBy($"bucket", $"k")
        .agg(sum($"cnt").cast("bigint").as("cnt")))
    assert(summed(store) === expect)
    // appends after a fused rewrite land and read normally
    Seq(("k0", 5L, 0)).toDF("k", "cnt", "bucket")
      .write.mode("append").partitionBy("bucket").parquet(store)
    assert(summed(store)("k0") == expect("k0") + 5L)
  }

  test("fused rewrite retires a partition the transform empties entirely") {
    val store = deltaStore(3)
    val keep = summed(store).filter(_._1 != "k0") // k0 → bucket 0? no: j%10 / j%4
    // drop EVERY row of bucket=2 (dead-partition case)
    StoreCompaction.rewriteStore(spark, store,
      df => df.filter($"bucket" =!= 2))
    val counts = StoreCompaction.partitionFileCounts(spark, store)
    assert(counts("bucket=2") == 0,
      s"emptied partition must have its files retired: $counts")
    assert(spark.read.parquet(store)
      .filter($"bucket" === 2).count() == 0L)
    // untouched buckets still read (silence unused-val warning on keep)
    assert(keep.nonEmpty && spark.read.parquet(store).count() > 0L)
  }

  test("fused stage crash windows converge via the root _SUCCESS marker") {
    val store = deltaStore(3)
    val expect = summed(store)
    // stage a fused replacement (root-level _SUCCESS, no per-dir
    // markers) exactly as rewriteStore writes it
    val stage = Paths.get(store, ".compact_stage")
    spark.read.option("basePath", store).parquet(store)
      .groupBy($"bucket", $"k").agg(sum($"cnt").cast("bigint").as("cnt"))
      .repartition(1, $"bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(stage.toString)
    assert(Files.exists(stage.resolve("_SUCCESS")))
    assert(!Files.exists(stage.resolve("bucket=1").resolve("_SUCCESS")),
      "fixture must exercise the fused (root-marker-only) layout")
    // crash mid-swap: bucket=1 already moved to trash, not yet published
    val trash = Paths.get(store, ".compact_trash", "bucket=1")
    Files.createDirectories(trash.getParent)
    Files.move(Paths.get(store, "bucket=1"), trash,
      StandardCopyOption.ATOMIC_MOVE)
    StoreCompaction.repairStore(spark, store)
    assert(Files.exists(Paths.get(store, "bucket=1")),
      "repair must publish the root-committed staged partition")
    assert(!Files.exists(Paths.get(store, ".compact_stage")))
    assert(!Files.exists(Paths.get(store, ".compact_trash")))
    assert(summed(store) === expect, "no delta lost or double-counted")
  }

  test("fused rewrite routes a skewed partition through the sized path") {
    val store = deltaStore(3)
    // blow up bucket=1 with 20k DISTINCT keys (collapse-stable) so its
    // rewritten output stays far past the tiny targetBytes below
    (0 until 2).foreach { _ =>
      (0L until 20000L).map(j => (s"k1_$j", 1L, 1))
        .toDF("k", "cnt", "bucket")
        .repartition(2)
        .write.mode("append").partitionBy("bucket").parquet(store)
    }
    val expect = summed(store)
    val rep = StoreCompaction.rewrite(spark, store,
      df => df.groupBy($"bucket", $"k")
        .agg(sum($"cnt").cast("bigint").as("cnt")),
      minFiles = 1, targetBytes = 32 * 1024)
    assert(rep.partitionsCompacted == 4)
    assert(summed(store) === expect, "summed reads must be invariant")
    val counts = StoreCompaction.partitionFileCounts(spark, store)
    assert(counts("bucket=1") > 1,
      s"the skewed bucket must be SIZED into multiple files: $counts")
    assert(Seq("bucket=0", "bucket=2", "bucket=3")
        .forall(counts(_) == 1),
      s"small buckets must fuse to one file each: $counts")
    assert(spark.read.parquet(store).groupBy($"k").count()
      .agg(max($"count")).head().getLong(0) == 1L,
      "collapse must apply on BOTH the fused and sized paths")
  }

  test("maintenance triggers fire on file counts, listing-only") {
    val store = deltaStore(3) // 3 files per partition
    assert(StoreCompaction.needsMaintenance(spark, store, 3))
    assert(!StoreCompaction.needsMaintenance(spark, store, 4))
    assert(!StoreCompaction.needsMaintenance(spark, store + "/absent", 2))
    val flat = buildFlatStore(4) // 4 root data files
    assert(StoreCompaction.flatNeedsMaintenance(spark, flat, 4))
    assert(!StoreCompaction.flatNeedsMaintenance(spark, flat, 5))
  }

  // ----- flat (unpartitioned) store rewrite -----------------------

  private def buildFlatStore(nAppends: Int): String = {
    val root = Files.createTempDirectory("fstore").toString + "/store"
    (0 until nAppends).foreach { i =>
      (0L until 50L).map(j => (s"g${j % 3}", j % 10, 1L))
        .toDF("g", "cell", "cnt")
        .coalesce(1).write.mode("append").parquet(root)
    }
    root
  }

  private def flatTotals(path: String): Map[(String, Long), Long] =
    spark.read.parquet(path).groupBy($"g", $"cell")
      .agg(sum($"cnt").as("c"))
      .select($"g", $"cell".cast("long"), $"c").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap

  private def dataFiles(path: String): Seq[String] = {
    val l = Files.list(Paths.get(path))
    try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.toList.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_"))
    } finally l.close()
  }

  private val collapse: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.groupBy($"g", $"cell").agg(sum($"cnt").cast("bigint").as("cnt"))

  test("flat rewrite collapses deltas, shrinks files, keeps summed reads; idempotent") {
    val store = buildFlatStore(5)
    val expect = flatTotals(store)
    assert(dataFiles(store).size == 5)
    val rep = StoreCompaction.rewriteFlatStore(spark, store, collapse)
    assert(rep.filesBefore == 5 && dataFiles(store).size < 5)
    assert(flatTotals(store) === expect, "summed reads must be invariant")
    assert(spark.read.parquet(store).groupBy($"g", $"cell").count()
      .agg(max($"count")).head().getLong(0) == 1L,
      "deltas must collapse to one row per cell")
    StoreCompaction.rewriteFlatStore(spark, store, collapse)
    assert(flatTotals(store) === expect)
    // appends after a rewrite land and read normally
    Seq(("g0", 0, 7L)).toDF("g", "cell", "cnt")
      .coalesce(1).write.mode("append").parquet(store)
    assert(flatTotals(store)(("g0", 0L)) == expect(("g0", 0L)) + 7L)
  }

  test("flat rewrite crash windows converge via repairFlatStore") {
    // (a) committed stage, crash BEFORE any promote: repair finishes
    val s1 = buildFlatStore(4)
    val expect1 = flatTotals(s1)
    collapse(spark.read.parquet(s1)).coalesce(1)
      .write.parquet(Paths.get(s1, ".flat_stage").toString)
    StoreCompaction.repairFlatStore(spark, s1)
    assert(flatTotals(s1) === expect1, "repair must finish a committed swap")
    assert(!Files.exists(Paths.get(s1, ".flat_stage")) &&
      !Files.exists(Paths.get(s1, ".flat_trash")))
    assert(dataFiles(s1).forall(_.startsWith("flatc-")))

    // (b) committed stage, crash MID-promote (old files trashed,
    // staged copies not yet in place): repair finishes
    val s2 = buildFlatStore(4)
    val expect2 = flatTotals(s2)
    collapse(spark.read.parquet(s2)).coalesce(1)
      .write.parquet(Paths.get(s2, ".flat_stage").toString)
    val trash2 = Paths.get(s2, ".flat_trash")
    Files.createDirectories(trash2)
    dataFiles(s2).foreach { n =>
      Files.move(Paths.get(s2, n), trash2.resolve(n),
        StandardCopyOption.REPLACE_EXISTING)
    }
    StoreCompaction.repairFlatStore(spark, s2)
    assert(flatTotals(s2) === expect2,
      "repair must promote the staged copy after a mid-swap crash")

    // (c) uncommitted stage (no _SUCCESS): dropped, live store intact
    val s3 = buildFlatStore(3)
    val expect3 = flatTotals(s3)
    val stage3 = Paths.get(s3, ".flat_stage")
    Files.createDirectories(stage3)
    Files.write(stage3.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    StoreCompaction.repairFlatStore(spark, s3)
    assert(!Files.exists(stage3) && flatTotals(s3) === expect3)

    // (d) trash with no stage (crash after stage cleanup): dropped
    val s4 = buildFlatStore(3)
    val expect4 = flatTotals(s4)
    val trash4 = Paths.get(s4, ".flat_trash")
    Files.createDirectories(trash4)
    Files.write(trash4.resolve("stale.parquet"), Array[Byte](1))
    StoreCompaction.repairFlatStore(spark, s4)
    assert(!Files.exists(trash4) && flatTotals(s4) === expect4)
  }
}
