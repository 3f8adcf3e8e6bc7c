package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Enrich
import graft.operators.{Marts, Merge, VersionedStaging}
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
    * property, so other threads' jobs are not counted), and the shuffle
    * bytes their stages wrote. */
  private def jobsOf(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.jobsOf") == tag)) {
          n.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          Option(e.stageInfo.taskMetrics).foreach(m =>
            shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.jobsOf", tag)
    try body
    finally {
      sc.setLocalProperty("graft.jobsOf", null)
      GraftColumnBridge.drainListenerBus(spark)
      sc.removeSparkListener(l)
    }
    (n.get, shuffled.get)
  }

  /** Runs a first and then a second batch into a fresh root; returns the
    * root, the second run's Spark job count and the marts it returned. */
  private def secondBatch(prefix: String): (String, Int, Map[String, DataFrame]) = {
    val root = Files.createTempDirectory(prefix).toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
    val staging = s"$root/staging"; val audit = s"$root/audit"
    writeRaw(rawDir, "hn_raw_20240102_000000.json", batch1)
    HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit)
    writeRaw(rawDir, "hn_raw_20240103_000000.json", batch2)
    var marts = Map.empty[String, DataFrame]
    val (jobs, _) = jobsOf { marts = HnPipeline.run(spark, s"$rawDir/hn_raw_*.json", staging, audit) }
    (root, jobs, marts)
  }

  // The budget before the checks rode the run's own actions: 12 jobs.
  test("one non-first batch runs at most 12 Spark jobs") {
    val (_, jobs, _) = secondBatch("hnpipe_jobs")
    assert(jobs <= 12, s"$jobs Spark jobs")
  }

  // Job budget of one non-first batch, measured in this suite's session:
  // 6 jobs, three actions. The merged write (3 jobs) carries the merge
  // counts, the K5 guard and the staging check; the fused mart
  // aggregate (2 jobs) carries the three mart PK checks; the audit
  // append is 1. With each check an action of its own, it was 12. The
  // caller's three mart writes read the materialised aggregate: one job
  // each, no shuffle (with the marts as lazy aggregates, 6 jobs).
  test("one non-first batch runs at most 6 Spark jobs and its mart writes 3 with no shuffle") {
    val (root, jobs, marts) = secondBatch("hnpipe_jobs")
    assert(jobs <= 6, s"$jobs Spark jobs")
    val (writeJobs, writeShuffle) = jobsOf(marts.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$root/marts/$name")
    })
    assert(writeJobs <= 3, s"$writeJobs Spark jobs writing the marts")
    assert(writeShuffle == 0L, s"mart writes shuffled $writeShuffle bytes")
  }

  // the staging check and each mart's PK check ride an action the run
  // needs anyway; the checks' windows add no Exchange to either plan
  test("plan shape: the staging check adds no Exchange or Sort; the fused marts shuffle once") {
    def nodes(p: String, node: String) = p.linesIterator.count(_.contains(node))
    val batch = HnPipeline.transform(spark.read.schema(HnPipeline.rawSchema)
      .json(spark.createDataset(Seq(
        """{"id": 1, "type": "story", "by": "a", "time": 1704153600}"""))(
        org.apache.spark.sql.Encoders.STRING)), new java.sql.Timestamp(0))
    val (merged, _) = Merge.observedMerged(batch.limit(0), batch, Seq("id"), "extracted_at")
    val (checked, _) = VersionedStaging.checkStagingKeys(merged, Seq("id"), "staging")
    val before = merged.queryExecution.executedPlan.toString
    val after = checked.queryExecution.executedPlan.toString
    assert(nodes(after, "Window ") == nodes(before, "Window ") + 1, after)
    Seq("Exchange", "Sort ").foreach(node =>
      assert(nodes(after, node) == nodes(before, node), s"$node:\n$before\nvs\n$after"))
    // the marts read a published version, as `run` does
    val version = Files.createTempDirectory("hnpipe_plan").resolve("v000001").toString
    batch.write.parquet(version)
    val (fused, _) = HnPipeline.fusedMarts(spark.read.schema(batch.schema).parquet(version))
    val fusedPlan = fused.queryExecution.executedPlan.toString
    assert(nodes(fusedPlan, "Exchange") == 1, fusedPlan)
    assert(nodes(fusedPlan, "Window ") == 1, fusedPlan)
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
    def consume(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val root = Files.createTempDirectory("hnpipe_dup").toString
    writeRaw(root, "hn_raw_20240102_000000.json", batch1)
    val staging = HnPipeline.transform(
      HnPipeline.readRaw(spark, s"$root/hn_raw_20240102_000000.json"),
      new java.sql.Timestamp(0))
    val (clean, cleanCheck) = VersionedStaging.checkStagingKeys(staging, Seq("id"), root)
    consume(clean)
    cleanCheck.verify()
    val (dup, dupCheck) = VersionedStaging.checkStagingKeys(
      staging.unionByName(staging.filter(col("id") === 2)), Seq("id"), root)
    consume(dup)
    assert(dupCheck.duplicateRows == Seq(2L))
    val dupStaging = intercept[IllegalArgumentException](dupCheck.verify())
    assert(dupStaging.getMessage.contains("duplicate ids in staging"))

    // fused-aggregate rows: one planted duplicate domain key, and a
    // domain and an author that share (metric_date, key) across marts,
    // which is no duplicate
    import spark.implicits._
    val d = java.sql.Date.valueOf("2024-01-02")
    val fused = Seq(("daily_story_metrics", d, ""), ("top_domains_daily", d, "x.com"),
      ("top_domains_daily", d, "x.com"), ("top_domains_daily", d, "bob"),
      ("user_activity_daily", d, "bob")).toDF("mart", "metric_date", "key")
    val (marts, pk) = HnPipeline.checkMartKeys(fused)
    consume(marts)
    assert(pk.duplicateRows == Seq(0L, 2L, 0L))
    val dupMart = intercept[IllegalArgumentException](pk.verify())
    assert(dupMart.getMessage.contains("duplicate PK in top_domains_daily"))
  }

  /** The marts as three independent aggregates over one filtered base:
    * the formulation `HnPipeline.marts` fuses into one. */
  private def separateMarts(staging: DataFrame): Map[String, DataFrame] = {
    val base = staging
      .filter(col("type") === "story" && col("time_utc").isNotNull)
      .select(
        to_date(col("time_utc")).as("metric_date"),
        Enrich.domainOf(col("url")).as("domain"),
        coalesce(col("by"), lit("(unknown)")).as("author"),
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("descendants"), lit(0L)).as("comments"),
        col("extracted_at"))
    val daily = base.groupBy("metric_date").agg(
      count(lit(1)).cast("int").as("stories_count"),
      sum(col("score")).cast("bigint").as("total_score"),
      Marts.avgDec2(col("score")).as("avg_score"),
      sum(col("comments")).cast("bigint").as("total_comments"),
      Marts.avgDec2(col("comments")).as("avg_comments"),
      max(col("extracted_at")).as("last_batch_extracted_at"))
    def grouped(key: String) = base.groupBy(col("metric_date"), col(key)).agg(
      count(lit(1)).cast("int").as("stories_count"),
      Marts.avgDec2(col("score")).as("avg_score"),
      max(col("extracted_at")).as("last_batch_extracted_at"))
    Map("daily_story_metrics" -> daily, "top_domains_daily" -> grouped("domain"),
      "user_activity_daily" -> grouped("author"))
  }

  // Raw items over few days, domains and authors, so a domain or an
  // author spans several days; null url/by/score/descendants/time and
  // non-story rows in every case.
  private val itemGen = for {
    id <- Gen.chooseNum(1L, 40L)
    tpe <- Gen.frequency(6 -> "story", 1 -> "job", 1 -> "comment")
    by <- Gen.option(Gen.oneOf("alice", "bob", "carol"))
    day <- Gen.option(Gen.chooseNum(0L, 3L))
    url <- Gen.frequency(1 -> None, 1 -> Some(""),
      4 -> Gen.oneOf("https://a.example/x", "http://A.example/y", "https://b.example").map(Some(_)))
    score <- Gen.option(Gen.chooseNum(0L, 500L))
    descendants <- Gen.option(Gen.chooseNum(0L, 40L))
  } yield Row(id, tpe, by.orNull, day.map(d => 1704153600L + d * 86400 + id * 61).getOrElse(null),
    s"t$id", url.orNull, score.getOrElse(null), descendants.getOrElse(null), null, null)

  test("fused marts equal three separate aggregates (spec batches + 16 generated stagings)") {
    def staged(raw: DataFrame) = HnPipeline.transform(raw, new java.sql.Timestamp(0))
      // several extraction times, as a merged staging version holds
      .withColumn("extracted_at", timestamp_seconds(lit(1704153600L) + col("id") % 3 * 3600))
    val root = Files.createTempDirectory("hnpipe_fused").toString
    val specBatches = Seq(batch1, batch2).zipWithIndex.map { case (b, i) =>
      writeRaw(root, s"hn_raw_2024010${i}_000000.json", b)
      staged(HnPipeline.readRaw(spark, s"$root/hn_raw_2024010${i}_000000.json"))
    }
    val generated = (0 until 16).map { i =>
      val rows = Gen.listOfN(30, itemGen).apply(Gen.Parameters.default, Seed(900L + i)).get
      staged(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), HnPipeline.rawSchema))
    }
    val nullability = (specBatches ++ generated).zipWithIndex.flatMap { case (staging, i) =>
      val got = HnPipeline.marts(staging)
      val want = separateMarts(staging)
      assert(got.keys.toSeq == want.keys.toSeq, s"case $i")
      want.toSeq.flatMap { case (name, w) =>
        val g = got(name)
        assert(g.columns.toSeq == w.columns.toSeq, s"case $i $name columns")
        assert(g.schema.map(_.dataType) == w.schema.map(_.dataType), s"case $i $name types")
        def rows(df: DataFrame) = df.collect().map(_.toSeq.toString).sorted.toSeq
        assert(rows(g) == rows(w), s"case $i $name rows")
        g.schema.zip(w.schema).collect {
          case (gf, wf) if gf.nullable != wf.nullable => s"$name.${gf.name}: ${wf.nullable} -> ${gf.nullable}"
        }
      }
    }.distinct
    // the fused key is one column for both key marts, so its
    // nullability is the union of theirs: `author` (a coalesce with a
    // literal) turns nullable like `domain`; no other column changes
    assert(nullability == Seq("user_activity_daily.author: false -> true"), nullability)
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
