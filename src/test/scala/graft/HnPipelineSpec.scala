package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import graft.operators.VersionedStaging
import graft.pipeline.HnPipeline

class HnPipelineSpec extends SparkSpec {

  private def writeRaw(dir: String, name: String, json: String): Unit =
    Files.writeString(Paths.get(dir, name), json)

  // Two HN batches: id 1 updated in batch 2 (newer score), id 2 only in
  // batch 1, id 3 only in batch 2 with missing optional fields, dup id 1
  // inside batch 1 (keep-last), a null record, and a non-story type.
  private val batch1 =
    """[
      |  {"id": 1, "type": "story", "by": "alice", "time": 1704153600,
      |   "title": "first", "url": "https://Example.COM/a", "score": 10,
      |   "descendants": 2, "kids": [11, 12]},
      |  {"id": 1, "type": "story", "by": "alice", "time": 1704153600,
      |   "title": "first-v2", "url": "https://Example.COM/a", "score": 12,
      |   "descendants": 2, "kids": [11, 12]},
      |  null,
      |  {"id": 2, "type": "story", "by": "bob", "time": 1704240000,
      |   "title": "second", "score": 5},
      |  {"id": 9, "type": "job", "by": "hr", "time": 1704240000,
      |   "title": "hiring"}
      |]""".stripMargin

  private val batch2 =
    """[
      |  {"id": 1, "type": "story", "by": "alice", "time": 1704153600,
      |   "title": "first-v3", "url": "http://example.com/a", "score": 42,
      |   "descendants": 7, "kids": [11, 12, 13]},
      |  {"id": 3, "type": "story", "by": "carol", "time": 1704326400,
      |   "title": "third"}
      |]""".stripMargin

  test("full pipeline: two batches, merge counts, marts, checks, audit, idempotency") {
    val root = Files.createTempDirectory("hnpipe").toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
    val staging = s"$root/staging"; val audit = s"$root/audit"

    writeRaw(rawDir, "hn_raw_20240102_000000.json", batch1)
    val m1 = HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)

    // batch 1: dup id 1 keeps LAST (title first-v2, score 12); null dropped
    val st1 = spark.read.parquet(s"$staging/v000001")
    assert(st1.count() == 3) // ids 1, 2, 9
    assert(st1.filter(col("id") === 1).select("title").head().getString(0) == "first-v2")
    assert(st1.filter(col("id") === 2).select("score").head().getLong(0) == 5L)
    assert(st1.filter(col("id") === 2).select("kids_count").head().getLong(0) == 0L)
    // marts filter non-story
    assert(m1("daily_story_metrics").agg(sum("stories_count")).head().getLong(0) == 2L)

    writeRaw(rawDir, "hn_raw_20240103_000000.json", batch2)
    val m2 = HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)
    val st2 = spark.read.parquet(s"$staging/v000002")
    assert(st2.count() == 4) // + id 3
    // id 1 updated to newer batch's values
    assert(st2.filter(col("id") === 1).select("score").head().getLong(0) == 42L)
    assert(st2.filter(col("id") === 1).select("kids_count").head().getLong(0) == 3L)
    // domain mart: example.com bucketed regardless of scheme/case
    val domains = m2("top_domains_daily").select("domain").distinct()
      .collect().map(_.getString(0)).toSet
    assert(domains.contains("example.com") && domains.contains("(no_domain)"))

    // audit has two success rows with the right counts
    val audits = spark.read.parquet(audit).orderBy("source_file")
      .select("status", "rows_inserted", "rows_updated").collect()
    assert(audits.map(_.getString(0)).toSeq == Seq("success", "success"))
    assert(audits(0).getLong(1) == 3 && audits(0).getLong(2) == 0)
    assert(audits(1).getLong(1) == 1 && audits(1).getLong(2) == 1)

    // idempotency protocol (README.md:210-225): re-run same latest batch
    val m3 = HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)
    val audits3 = spark.read.parquet(audit)
      .orderBy(desc("finished_at")).limit(1)
      .select("rows_inserted", "rows_updated").head()
    assert(audits3.getLong(0) == 0 && audits3.getLong(1) == 0)
    assert(spark.read.parquet(s"$staging/v000003").count() == 4)
  }

  test("K5: an empty batch fails before any version or tmp dir is published") {
    Seq("[]", "[null, null]").foreach { empty =>
      val root = Files.createTempDirectory("hnpipe_empty").toString
      val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
      val staging = s"$root/staging"; val audit = s"$root/audit"
      def runEmpty(name: String): Unit = {
        val before = VersionedStaging.latestComplete(spark, staging)
        writeRaw(rawDir, name, empty)
        val ex = intercept[IllegalArgumentException] {
          HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)
        }
        assert(ex.getMessage.contains("empty transform result"), empty)
        val last = spark.read.parquet(audit).orderBy(desc("finished_at"))
          .select("status", "rows_inserted", "rows_updated").head()
        assert(last == Row("failed", 0L, 0L), empty)
        assert(VersionedStaging.latestComplete(spark, staging) == before, empty)
        val tmps = Option(new java.io.File(staging).list()).toSeq.flatten
          .filter(_.startsWith(".tmp-v"))
        assert(tmps.isEmpty, s"$empty left $tmps")
      }
      runEmpty("hn_raw_20240101_000000.json") // first batch: empty target
      writeRaw(rawDir, "hn_raw_20240102_000000.json", batch1)
      HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)
      runEmpty("hn_raw_20240103_000000.json")
    }
  }

  /** Spark jobs that `body` starts from this thread (tagged by a local
    * property, so other threads' jobs are not counted). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.jobsOf") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.jobsOf", tag)
    try body
    finally {
      sc.setLocalProperty("graft.jobsOf", null)
      GraftColumnBridge.drainListenerBus(spark)
      sc.removeSparkListener(l)
    }
    n.get
  }

  // Job budget of one non-first batch, measured in this suite's session:
  // 12 jobs. The merge counts and the K5 guard ride the merged write,
  // and neither the target nor the read-back infers a schema; with a
  // cached batch and mart base, a count guard and a counts join, it
  // was 21.
  test("one non-first batch runs at most 12 Spark jobs") {
    val root = Files.createTempDirectory("hnpipe_jobs").toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
    val staging = s"$root/staging"; val audit = s"$root/audit"
    writeRaw(rawDir, "hn_raw_20240102_000000.json", batch1)
    HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)
    writeRaw(rawDir, "hn_raw_20240103_000000.json", batch2)
    val jobs = jobsOf(HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit))
    assert(jobs <= 12, s"$jobs Spark jobs")
  }

  test("pipeline ingests a 10k-record JSON batch (moderate-scale smoke)") {
    val root = Files.createTempDirectory("hnbig").toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
    val items = (0 until 10000).map { i =>
      s"""{"id": $i, "type": "story", "by": "u${i % 97}", "time": ${1704153600L + i * 60},
         | "title": "t$i", "url": "https://site${i % 31}.example/p/$i",
         | "score": ${i % 500}, "kids": [${i % 7}]}""".stripMargin.replace("\n", "")
    }
    writeRaw(rawDir, "hn_raw_20240110_000000.json",
      items.mkString("[\n", ",\n", "\n]"))
    val t0 = System.nanoTime()
    val m = HnPipeline.run(spark, s"$rawDir/hn_raw_*.json",
      s"$root/staging", s"$root/audit")
    val secs = (System.nanoTime() - t0) / 1e9
    val staging = spark.read.parquet(s"$root/staging/v000001")
    assert(staging.count() == 10000)
    assert(m("top_domains_daily").select("domain").distinct().count() == 31)
    assert(m("user_activity_daily").select("author").distinct().count() == 97)
    assert(secs < 120, s"10k-record pipeline run took ${secs}s")
  }

  test("duplicate-key checks fail on a planted duplicate in staging or a mart") {
    val root = Files.createTempDirectory("hnpipe_dup").toString
    writeRaw(root, "hn_raw_20240102_000000.json", batch1)
    val staging = HnPipeline.transform(
      HnPipeline.readRaw(spark, s"$root/hn_raw_20240102_000000.json"),
      new java.sql.Timestamp(0))
    val marts = HnPipeline.marts(staging)
    HnPipeline.runChecks(staging, marts) // clean
    val dupStaging = intercept[IllegalArgumentException] {
      HnPipeline.runChecks(staging.unionByName(staging.filter(col("id") === 2)), marts)
    }
    assert(dupStaging.getMessage.contains("duplicate ids in staging"))
    val domains = marts("top_domains_daily")
    val dupMart = intercept[IllegalArgumentException] {
      HnPipeline.runChecks(staging,
        marts.updated("top_domains_daily", domains.unionByName(domains)))
    }
    assert(dupMart.getMessage.contains("duplicate PK in top_domains_daily"))
  }

  test("missing required column fails fast") {
    val root = Files.createTempDirectory("hnpipe_bad").toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
    writeRaw(rawDir, "hn_raw_20240101_000000.json",
      """[{"id": 1, "type": "story"}]""")
    // schema-on-read supplies all columns; drop one to simulate a
    // contract violation at the transform boundary
    val raw = HnPipeline.readRaw(spark, s"$rawDir/hn_raw_20240101_000000.json")
      .drop("title")
    val ex = intercept[IllegalArgumentException] {
      HnPipeline.transform(raw, new java.sql.Timestamp(0))
    }
    assert(ex.getMessage.contains("title"))
  }
}
