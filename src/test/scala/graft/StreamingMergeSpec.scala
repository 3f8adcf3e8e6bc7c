package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

class StreamingMergeSpec extends SparkSpec {
  import spark.implicits._

  test("streaming merge: arriving files upsert into versioned staging") {
    val root = Files.createTempDirectory("smerge").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val staging = s"$root/staging"; val ckpt = s"$root/ckpt"
    // write batch 1 directly into the source dir
    Seq((1L, 10L, "a"), (2L, 5L, "b")).toDF("id", "version", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    val q = StreamingJobs.streamingMerge(spark, s"$src/*", schema,
      staging, Seq("id"), "version", ckpt)
    try {
      q.processAllAvailable()
      val v1 = spark.read.parquet(s"$staging/v000001")
      assert(v1.count() == 2)
      // batch 2 arrives: stale row for id 1, newer for id 2, new id 3
      Seq((1L, 9L, "stale"), (2L, 6L, "newer"), (3L, 1L, "new"))
        .toDF("id", "version", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$src/b2")
      q.processAllAvailable()
      val latest = graft.pipeline.HnPipeline
        .latestFile(spark, s"$staging/v*").get
      val st = spark.read.parquet(latest)
        .select("id", "version", "payload").as[(Long, Long, String)]
        .collect().toSet
      assert(st == Set((1L, 10L, "a"), (2L, 6L, "newer"), (3L, 1L, "new")))
    } finally q.stop()
  }

  test("streaming incremental mart equals batch recompute across restarts") {
    val root = Files.createTempDirectory("smart").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val mart = s"$root/mart"; val ckpt = s"$root/ckpt"
    val ev = Tables.events(spark, sf) // normalized ts (timestamp)
    // source files carry raw long-nanos ts like the driver's parquet
    val raw = Tables.load(spark, sf, "events")
    raw.filter($"event_id" % 2 === 0).write.parquet(s"$src/b1")
    val schema = raw.schema
    val q1 = graft.streaming.StreamingJobs.streamingIncrementalMart(
      spark, s"$src/*", schema, mart, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    raw.filter($"event_id" % 2 =!= 0).write.parquet(s"$src/b2")
    val q2 = graft.streaming.StreamingJobs.streamingIncrementalMart(
      spark, s"$src/*", schema, mart, ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    val latest = graft.operators.VersionedStaging.latestComplete(spark, mart).get
    val got = graft.operators.Marts.finalizeDaily(spark.read.parquet(latest))
    val expected = graft.operators.Marts.finalizeDaily(
      graft.operators.Marts.dailyPartial(ev))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("maxFilesPerTrigger=1 publishes one combined version per file (s5 shape)") {
    val root = Files.createTempDirectory("smart3").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val mart = s"$root/mart"; val ckpt = s"$root/ckpt"
    val raw = Tables.load(spark, sf, "events")
    (0 to 2).foreach { i =>
      raw.filter($"event_id" % 3 === i).write.parquet(s"$src/b$i")
    }
    val q = graft.streaming.StreamingJobs.streamingIncrementalMart(
      spark, s"$src/*", raw.schema, mart, ckpt)
    try q.processAllAvailable() finally q.stop()
    // one versioned publish per micro-batch, at least one per source
    // file's worth of data (files may produce >1 part each)
    val versions = Files.list(Paths.get(mart)).toArray.map(_.toString)
      .filter(_.matches(".*/v\\d+$"))
    assert(versions.length >= 3, s"expected >=3 published versions, got ${versions.length}")
    val got = graft.operators.Marts.finalizeDaily(spark.read.parquet(
      graft.operators.VersionedStaging.latestComplete(spark, mart).get))
    val expected = graft.operators.Marts.finalizeDaily(
      graft.operators.Marts.dailyPartial(Tables.events(spark, sf)))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
