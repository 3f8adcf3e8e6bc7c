package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BloomSide, DedupSuite}

/** Bloom-sidecar bucket pruning for the incremental ExactSubstr store:
  * semantics unchanged under pruning, pruning actually bites for small
  * batches, maintenance keeps coverage, and every fallback is
  * conservative. */
class BloomSideSpec extends SparkSpec {
  import spark.implicits._

  private def substrFixture: DataFrame = {
    val run = "one two three four five six seven eight nine ten"
    (0L until 40L).map { i =>
      if (i % 4 == 0) (i, s"$run filler${i} more${i} yet${i}")
      else (i, s"unique${i} body${i} text${i} of${i} doc${i} number${i} fill${i} pad${i} tail${i}")
    }.toDF("doc_id", "text")
  }

  test("bloom-maintained store: fold == full recompute, sidecar maintained") {
    val docs = substrFixture
    val full = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", 8,
      hashKeys = true)
    val root = java.nio.file.Files.createTempDirectory("substr_bloom").toString
    val (store, out) = (s"$root/state", s"$root/out")
    val out1 = DedupSuite.exactSubstrBuildStore(
      docs.filter(col("doc_id") < 14), "doc_id", "text", 8, store,
      nBuckets = 16, hashKeys = true, bloomSide = true)
    assert(BloomSide.maintained(spark, store), "build must seed the sidecar")
    DedupSuite.exactSubstrFold(spark, store, out,
      docs.filter(col("doc_id") >= 14 && col("doc_id") < 27), 1L,
      "doc_id", "text", 8, nBuckets = 16, hashKeys = true)
    // the fold appended delta blooms: some bucket dir now has > 1 row
    val preVacRows = spark.read.parquet(s"$store/${BloomSide.DirName}")
      .count()
    assert(preVacRows > 0)
    DedupSuite.vacuumSubstrStore(spark, store)
    // vacuum collapses the sidecar to ≤ one row per bucket
    val perBucket = spark.read.parquet(s"$store/${BloomSide.DirName}")
      .groupBy(col("bucket")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(perBucket == 1L,
      "vacuum must rebuild the sidecar to one bloom row per bucket")
    DedupSuite.exactSubstrFold(spark, store, out,
      docs.filter(col("doc_id") >= 27), 2L, "doc_id", "text", 8,
      nBuckets = 16, hashKeys = true)
    val folded = out1.unionByName(spark.read.parquet(out)
      .select(col("doc_id"), col("clean_text"), col("n_removed")))
    assert(full.exceptAll(folded).isEmpty &&
      folded.exceptAll(full).isEmpty,
      "fold over a bloom-maintained store must reproduce the full recompute")
  }

  test("a singleton stored key still cuts a later copy under pruning") {
    // the bloom must HIT for the stored run's bucket or the fold would
    // skip the bucket and wrongly keep the batch copy
    val run = "s1 s2 s3 s4 s5 s6 s7 s8"
    val root = java.nio.file.Files
      .createTempDirectory("substr_bloom_single").toString
    val (store, out) = (s"$root/state", s"$root/out")
    DedupSuite.exactSubstrBuildStore(
      Seq((1L, s"$run alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", 8, store, bloomSide = true)
    DedupSuite.exactSubstrFold(spark, store, out,
      Seq((2L, s"pre0 pre1 $run post0")).toDF("doc_id", "text"), 1L,
      "doc_id", "text", 8)
    val out2 = spark.read.parquet(out).select("clean_text", "n_removed")
      .collect().map(r => (r.getString(0), r.getLong(1))).head
    assert(out2 == (("pre0 pre1 post0", 8L)), s"got $out2")
  }

  test("pruneBuckets bites on misses, keeps hits, conservative on holes") {
    val store = java.nio.file.Files
      .createTempDirectory("bloom_unit").toString + "/state"
    // store of 200 distinct single-token docs: keys spread over 16
    // buckets; build seeds the sidecar
    val docs = (0L until 200L)
      .map(i => (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"))
      .toDF("doc_id", "text")
    DedupSuite.exactSubstrBuildStore(docs, "doc_id", "text", 8, store,
      nBuckets = 16, hashKeys = true, bloomSide = true)
    val allBuckets = (0L until 16L).toSeq
    // hashes certainly absent from the store: random longs miss every
    // bloom with prob (1-fpp)^1 each — use many per bucket and assert
    // MOST buckets prune (not all: fpp makes "all" flaky)
    val rnd = new scala.util.Random(7)
    val absent = allBuckets.map(b =>
      b -> Array.fill(4)(rnd.nextLong())).toMap
    val kept = BloomSide.pruneBuckets(spark, store, allBuckets, absent)
    assert(kept.size < allBuckets.size,
      s"pruning never bit: kept $kept")
    // a hash PRESENT in the store keeps its bucket: recompute one
    // stored key's hash + bucket exactly as the store does
    val one = spark.read.parquet(store)
      .select(col("bucket").cast("long"), xxhash64(col("wkey")).as("h"))
      .head()
    val keptHit = BloomSide.pruneBuckets(spark, store,
      Seq(one.getLong(0)), Map(one.getLong(0) -> Array(one.getLong(1))))
    assert(keptHit == Seq(one.getLong(0)),
      "a stored key's bucket must survive pruning")
    // conservative fallbacks: no sidecar dir → untouched; byte cap
    // exceeded → untouched
    val bare = java.nio.file.Files
      .createTempDirectory("bloom_none").toString + "/state"
    DedupSuite.exactSubstrBuildStore(docs, "doc_id", "text", 8, bare,
      nBuckets = 16, hashKeys = true)
    assert(BloomSide.pruneBuckets(spark, bare, allBuckets, absent)
      == allBuckets)
    assert(BloomSide.pruneBuckets(spark, store, allBuckets, absent,
      maxBytes = 1L) == allBuckets)
  }

  test("one unreadable sidecar file makes its bucket unprunable") {
    // a bucket's coverage can be split across several sidecar files
    // (build row + fold deltas); if ONE fails to read, the readable
    // rows must not license a skip — the failed file may hold the
    // only coverage for some stored keys
    val store = java.nio.file.Files
      .createTempDirectory("bloom_partial").toString + "/state"
    val docs = (0L until 200L)
      .map(i => (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"))
      .toDF("doc_id", "text")
    DedupSuite.exactSubstrBuildStore(docs, "doc_id", "text", 8, store,
      nBuckets = 16, hashKeys = true, bloomSide = true)
    val allBuckets = (0L until 16L).toSeq
    val rnd = new scala.util.Random(11)
    val absent = allBuckets.map(b =>
      b -> Array.fill(4)(rnd.nextLong())).toMap
    // sanity: with clean sidecars these hashes prune most buckets
    val keptClean = BloomSide.pruneBuckets(spark, store, allBuckets, absent)
    assert(keptClean.size < allBuckets.size)
    // corrupt ONE file in one otherwise-clean bucket dir by planting
    // a garbage .parquet beside the real row
    val victim = allBuckets.filterNot(keptClean.contains).head
    val dir = java.nio.file.Paths.get(store, BloomSide.DirName,
      s"bucket=$victim")
    java.nio.file.Files.write(dir.resolve("part-corrupt.parquet"),
      Array.fill(64)(0x5a.toByte))
    val kept = BloomSide.pruneBuckets(spark, store, allBuckets, absent)
    assert(kept.contains(victim),
      s"bucket $victim with an unreadable sidecar file must be scanned")
    // and the failure must not be memo-cached as an empty read: a
    // second prune still keeps the bucket
    val kept2 = BloomSide.pruneBuckets(spark, store, allBuckets, absent)
    assert(kept2.contains(victim))
  }

  test("streaming substr ingest maintains sidecar coverage on a bloom store") {
    // the streamed fold stages bloom deltas with its store delta and
    // promotes both — after the batch applies, EVERY stored key must
    // be covered by some sidecar row in its bucket (the coverage
    // contract a later pruned fold relies on), and a follow-up batch
    // fold over the grown store must equal the full recompute
    val docs = substrFixture
    val store = java.nio.file.Files
      .createTempDirectory("bloom_stream").toString + "/state"
    val outDir = java.nio.file.Files
      .createTempDirectory("bloom_stream_out").toString
    val out1 = DedupSuite.exactSubstrBuildStore(
      docs.filter(col("doc_id") < 14), "doc_id", "text", 8, store,
      nBuckets = 16, hashKeys = true, bloomSide = true)
    val applied = DedupSuite.exactSubstrFold(spark, store, outDir,
      docs.filter(col("doc_id") >= 14 && col("doc_id") < 27), 0L,
      "doc_id", "text", 8, nBuckets = 16, hashKeys = true)
    assert(applied, "first application of the batch must fold")
    // coverage: every stored key's hash hits a bloom row in its bucket
    val stored = spark.read.parquet(store)
      .select(col("bucket").cast("long"), xxhash64(col("wkey")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byBucket = stored.groupBy(_._1)
      .map { case (b, rs) => b -> rs.map(_._2) }
    byBucket.foreach { case (b, hashes) =>
      val kept = BloomSide.pruneBuckets(spark, store, Seq(b),
        Map(b -> hashes))
      assert(kept == Seq(b),
        s"bucket $b lost coverage for a stored key after the streamed fold")
    }
    // and a replay of the same batch must be a no-op skip
    assert(!DedupSuite.exactSubstrFold(spark, store, outDir,
      docs.filter(col("doc_id") >= 14 && col("doc_id") < 27), 0L,
      "doc_id", "text", 8, nBuckets = 16, hashKeys = true))
    // end-to-end exactness over the grown store: a second fold on top
    // of the first still reproduces the full recompute
    DedupSuite.exactSubstrFold(spark, store, outDir,
      docs.filter(col("doc_id") >= 27), 1L, "doc_id", "text", 8,
      nBuckets = 16, hashKeys = true)
    val folds = spark.read.parquet(outDir)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))
    val full = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", 8,
      hashKeys = true)
    val folded = out1.unionByName(folds)
    assert(full.exceptAll(folded).isEmpty &&
      folded.exceptAll(full).isEmpty,
      "streamed + batch folds over a bloom store must equal the full recompute")
  }
}
