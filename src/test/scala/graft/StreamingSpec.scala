package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-source tumbling aggregation matches the batch twin") {
    val dir = Files.createTempDirectory("stream_src").toString
    val ev = Tables.events(spark, sf)
      .select($"ts", $"event_type", $"value")
    ev.write.mode("overwrite").parquet(dir)
    val streamed = StreamingJobs.tumblingCounts(
      spark, dir, ev.schema, "ts", "event_type", "1 hour")
    val q = streamed.writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("tumbling_out")
      .select(unix_micros($"window.start").as("w"), $"event_type", $"n", $"total")
    val expected = graft.operators.Windows.tumbling(
        ev, "ts", "1 hour", Seq("event_type"),
        Seq(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("decimal(18,2)").as("total")))
      .select($"win_start_us".as("w"), $"event_type", $"n", $"total")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("streaming session windows close after the watermark and match batch") {
    val dir = Files.createTempDirectory("sess_src").toString
    val ev = Tables.events(spark, sf).select($"ts", $"user_id")
    ev.write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(ev.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
    val q = streamed.writeStream
      .format("memory").queryName("sess_out").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_out")
      .select($"user_id", unix_micros($"session_window.start").as("start_us"),
        $"n_events")
    val batch = ev
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"session_window.start").as("start_us"),
        $"n_events")
    // append mode emits only watermark-closed sessions; every emitted
    // session must match the batch result, and all but the stream-tail
    // sessions (watermark still open at end-of-input) must have emitted
    assert(got.exceptAll(batch).isEmpty)
    val missing = batch.exceptAll(got).count()
    val maxTs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    val openTail = batch
      .join(ev.groupBy($"user_id").agg(max(unix_micros($"ts")).as("last_us")), "user_id")
      .filter($"last_us" >= maxTs - 5400L * 1000000) // gap + watermark window
      .count()
    assert(missing <= openTail, s"$missing unemitted sessions but only $openTail near the tail")
  }

  test("session-window state evicts at the watermark: exactly-once emit, late drop") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val src = input.toDS().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val agg = src.withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "5 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("evict_out")
      .outputMode("append").start()
    def out(): Set[(Long, Long, Long)] = spark.table("evict_out")
      .select($"user_id", unix_micros($"session_window.start").as("start_us"), $"n")
      .as[(Long, Long, Long)].collect().toSet
    val M = 60L * 1000000 // one minute in micros
    try {
      input.addData((1L, 0L), (1L, 2 * M), (2L, 1 * M))
      q.processAllAvailable()
      // watermark still at epoch: no session closed, nothing emitted
      assert(out().isEmpty)
      input.addData((3L, 60 * M)) // advances watermark to 50 min
      q.processAllAvailable()
      // sessions ending before the watermark emit EXACTLY once; the
      // 60-min event's own session stays open in state
      assert(out() == Set((1L, 0L, 2L), (2L, 1 * M, 1L)))
      input.addData((1L, 3 * M)) // late: 3 min << 50-min watermark
      q.processAllAvailable()
      // late row dropped by the watermark, closed sessions NOT re-emitted
      // (their state was evicted, so the late row cannot resurrect them)
      assert(out() == Set((1L, 0L, 2L), (2L, 1 * M, 1L)))
    } finally q.stop()
  }

  test("stateful sessions: in-batch splits emit immediately, timeouts on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val M = 60L * 1000000
    val withTime = input.toDS().toDF("key", "us")
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "10 minutes")
    val out = StreamingJobs.statefulSessions(withTime, gapMicros = 5 * M)
    val q = out.writeStream.format("memory").queryName("sess_state_out")
      .outputMode("append").start()
    def sessions(): Set[(Long, Long, Long, Long)] = spark.table("sess_state_out")
      .as[StreamingJobs.SessionOut].collect()
      .map(s => (s.key, s.start_us, s.end_us, s.n_events)).toSet
    // base off epoch: an event AT the initial zero watermark is dropped
    // as late before the state function ever sees it
    val B = 1000 * M
    try {
      // batch 1: user 1 has two events 3 min apart (one session), then a
      // 20-min jump — the split closes the first session IN BATCH
      input.addData((1L, B), (1L, B + 3 * M), (1L, B + 23 * M))
      q.processAllAvailable()
      assert(sessions() == Set((1L, B, B + 3 * M, 2L)))
      // batch 2: far-future event advances the watermark past the open
      // session's end + gap -> the timeout path emits it
      input.addData((2L, B + 120 * M))
      q.processAllAvailable()
      assert(sessions() == Set((1L, B, B + 3 * M, 2L),
        (1L, B + 23 * M, B + 23 * M, 1L)))
    } finally q.stop()
  }

  test("streaming dedup: watermark bounds state, cross-batch dups dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val M = 60L * 1000000
    val deduped = input.toDS().toDF("id", "us")
      .withColumn("ts", timestamp_micros($"us"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("id") // state holds ids only until the watermark passes
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def ids(): Seq[Long] = spark.table("dedup_out")
      .select($"id").as[Long].collect().toSeq
    try {
      input.addData((1L, 0L), (1L, 1 * M), (2L, 2 * M)) // dup of 1 in-batch
      q.processAllAvailable()
      assert(ids().sorted == Seq(1L, 2L))
      input.addData((1L, 3 * M), (3L, 4 * M)) // cross-batch dup of 1
      q.processAllAvailable()
      assert(ids().sorted == Seq(1L, 2L, 3L))
      assert(ids().count(_ == 1L) == 1, "cross-batch duplicate emitted twice")
    } finally q.stop()
  }

  test("dedupWithinWatermark: bounded state, in-horizon dups dropped, " +
       "keys recur after the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val M = 60L * 1000000 // one minute in micros
    val base = 3600L * 1000000 // keep event times well above watermark 0
    val deduped = StreamingJobs.dedupWithinWatermark(
      input.toDS().toDF("id", "us")
        .withColumn("ts", timestamp_micros($"us" + base)),
      "ts", Seq("id"), horizon = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("wmdedup_out")
      .outputMode("append").start()
    def ids(): Seq[Long] = spark.table("wmdedup_out")
      .select($"id").as[Long].collect().toSeq.sorted
    try {
      // batch 1: duplicate of key 1 inside one batch -> emitted once
      input.addData((1L, 0L), (1L, 1 * M), (2L, 2 * M))
      q.processAllAvailable()
      assert(ids() == Seq(1L, 2L))
      // batch 2: key 1 again WITHIN the horizon -> dropped; key 9 far
      // ahead advances the watermark past keys 1 and 2's expiry
      input.addData((1L, 3 * M), (9L, 60 * M))
      q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 9L))
      // batch 3: key 1 recurs AFTER the horizon -> state was evicted,
      // so it is re-emitted (the documented bounded-state trade)
      input.addData((1L, 61 * M))
      q.processAllAvailable()
      assert(ids() == Seq(1L, 1L, 2L, 9L))
      // state is bounded: only the keys inside the current horizon
      // remain (9 and the recurred 1); batch-1 keys were evicted
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 2, s"state not bounded: $stateRows rows retained")
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds micro-batch size without changing results") {
    val dir = Files.createTempDirectory("mfpt_src").toString
    val ev = Tables.events(spark, sf).select($"ts", $"event_type", $"value")
    // 4 files -> with maxFilesPerTrigger=1 the stream must take 4+ batches
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    var batches = 0
    @volatile var last: Map[String, Long] = Map.empty
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches += 1
        last = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 4, s"expected >= 4 micro-batches, got $batches")
    val expected = ev.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last == expected, "final complete-mode state diverged from batch")
  }

  test("stream-stream interval join matches the batch twin (q38 semantics)") {
    val dir = Files.createTempDirectory("ssj_src").toString
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"ts")
    ev.write.mode("overwrite").parquet(dir)
    def side(t: String) = spark.readStream.schema(ev.schema).parquet(dir)
      .filter($"event_type" === t)
    // both sides watermarked; the join range bounds state retention -
    // without it a stream-stream join buffers forever
    val signups = side("signup").withWatermark("ts", "2 hours")
      .select($"user_id", $"ts".as("s_ts"))
    val purchases = side("purchase").withWatermark("ts", "2 hours")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
    val joined = signups.join(purchases,
      $"user_id" === $"p_user" &&
        $"p_ts" > $"s_ts" && $"p_ts" <= $"s_ts" + expr("interval 1 hour"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssj_out")
      .groupBy($"user_id").agg(count(lit(1)).cast("long").as("n_pairs"))
    val batch = SparkEntry.queries("q38_interval_join")(spark, sf)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "stream-stream interval join diverged from the batch interval join")
  }

  test("lastWriteWins state: newer versions emit, stale and equal are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingJobs.Keyed]
    val out = StreamingJobs.lastWriteWins(input.toDS())
    val q = out.writeStream.format("memory").queryName("lww_out")
      .outputMode("append").start()
    try {
      input.addData(StreamingJobs.Keyed(1, 10, "a"), StreamingJobs.Keyed(2, 5, "b"))
      q.processAllAvailable()
      // batch 2: key 1 stale (v9), key 1 equal (v10), key 2 newer (v6), key 3 new
      input.addData(StreamingJobs.Keyed(1, 9, "stale"),
        StreamingJobs.Keyed(1, 10, "equal"),
        StreamingJobs.Keyed(2, 6, "newer"), StreamingJobs.Keyed(3, 1, "new"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("lww_out").as[StreamingJobs.Keyed].collect()
      .map(k => (k.id, k.version, k.payload)).toSet
    assert(rows == Set((1L, 10L, "a"), (2L, 5L, "b"), (2L, 6L, "newer"), (3L, 1L, "new")))
  }

  test("streaming MG sketch + exact recheck == batch twin at 1x and 8x parallelism") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // Planted counts around the strict threshold cnt·16 > n (n = 6000,
    // cutoff 375): 3 hot keys at 1200, "just" at 376 (in), "edge" at
    // exactly 375 (OUT — strict), 1649 cold rows churning 400 keys
    // through the 16 counters.
    val keys: Seq[String] =
      (0 until 1200).flatMap(_ => Seq("hot_0", "hot_1", "hot_2")) ++
        Seq.fill(376)("just") ++ Seq.fill(375)("edge") ++
        (0 until 1649).map(i => s"cold_${i % 400}")
    val df = keys.zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val dir = Files.createTempDirectory("hh_stream").toString
    // 5 part files -> 5 micro-batches with maxFilesPerTrigger=1; batch
    // MEMBERSHIP and ORDER are arbitrary here on purpose: the final
    // exact output must not depend on them
    df.select($"k").repartition(5).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(StructField("k", StringType)))
    val batchTwin = graft.operators.HeavyHitters
      .frequentItems(df, $"k", 16, "k")
      .as[(String, Long)].collect().toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val results = Seq("1", "8").map { par =>
        spark.conf.set("spark.sql.shuffle.partitions", par)
        val ck = Files.createTempDirectory(s"hh_ck_$par").toString
        val sink = s"hh_out_$par"
        val updates = StreamingJobs.streamingHeavyHitterSketch(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(dir)
            .select($"k").as[String],
          k = 16, nGroups = 4)
        val q = updates.writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ck).outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
        StreamingJobs.finalizeHeavyHitters(
          spark.table(sink), df.select($"k"), 16)
          .as[(String, Long)].collect().toSet
      }
      assert(results(0) == batchTwin && results(1) == batchTwin,
        s"stream=$results batch=$batchTwin")
      assert(batchTwin.map(_._1) ==
        Set("hot_0", "hot_1", "hot_2", "just"))
      assert(batchTwin.contains(("just", 376L)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("staged commit converges across every crash window with plain file writers") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    import graft.operators.StoreFiles.{Artifact, StagedCommit}
    def put(dir: Path, rel: String, body: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
    }
    // two promoted artifacts, one with top-level AND k=v files
    def commitAt(root: Path) = StagedCommit(
      graft.operators.StoreFiles.fs(spark, root.toString), root.toString, "_m_1", ".st_1",
      "b1", Seq(Artifact("delta", root.resolve("live").toString),
        Artifact("out", root.resolve("out").toString)))
    val writers: Map[String, String => Unit] = Map(
      "delta" -> { d =>
        put(Paths.get(d), "part-0.parquet", "d0")
        put(Paths.get(d), "k=1/part-1.parquet", "d1")
        put(Paths.get(d), "k=2/part-2.parquet", "d2")
        put(Paths.get(d), "k=2/_SUCCESS", "")
      },
      "out" -> (d => put(Paths.get(d), "part-0.parquet", "o0")))
    // the live tree (marker included, staging excluded): name -> bytes
    def live(root: Path): Map[String, Seq[Byte]] = {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")) // .crc sidecars
        .map(p => root.relativize(p).toString)
        .filterNot(_.startsWith("."))
        .map(n => n -> Files.readAllBytes(root.resolve(n)).toSeq).toMap
      finally w.close()
    }
    def fresh(): Path = {
      val r = Files.createTempDirectory("staged_commit")
      put(r, "live/seed.parquet", "seed")
      put(r, "out/seed.parquet", "seed")
      r
    }

    val clean = fresh()
    assert(commitAt(clean).applyIdempotent(writers))
    val want = live(clean)
    assert(want.keySet == Set("_m_1", "live/seed.parquet",
      "out/seed.parquet", "live/b1-part-0.parquet",
      "live/k=1/b1-part-1.parquet", "live/k=2/b1-part-2.parquet",
      "out/b1-part-0.parquet"))

    // marker present with a leaked staging: skip, sweep, live untouched
    commitAt(clean).stage(writers)
    assert(Files.exists(clean.resolve(".st_1/_SUCCESS")))
    assert(!commitAt(clean).applyIdempotent(writers))
    assert(!Files.exists(clean.resolve(".st_1")), "leaked staging is swept")
    assert(live(clean) == want)

    // crash mid-promote: one file copied, one torn; the replay reuses
    // the committed staging and converges to the clean run's names
    // and bytes
    val torn = fresh()
    commitAt(torn).stage(writers)
    Files.createDirectories(torn.resolve("live/k=1"))
    Files.copy(torn.resolve(".st_1/delta/k=1/part-1.parquet"),
      torn.resolve("live/k=1/b1-part-1.parquet"))
    Files.write(torn.resolve("live/b1-part-0.parquet"), "d".getBytes("UTF-8"))
    var restaged = 0
    assert(commitAt(torn).applyIdempotent { restaged += 1; writers })
    assert(restaged == 0, "a committed staging is reused, never restaged")
    assert(live(torn) == want)
    assert(!Files.exists(torn.resolve(".st_1")))

    // promote on a staging without _SUCCESS throws
    val bare = fresh()
    put(bare, ".st_1/delta/part-0.parquet", "half")
    intercept[IllegalArgumentException](commitAt(bare).promote())

    // a committed staging missing a declared artifact throws before
    // any file moves, and writes no marker
    val partial = fresh()
    val before = live(partial)
    put(partial, ".st_1/delta/part-0.parquet", "d0")
    put(partial, ".st_1/_SUCCESS", "")
    intercept[IllegalStateException](
      commitAt(partial).applyIdempotent(writers))
    assert(!Files.exists(partial.resolve("_m_1")))
    assert(live(partial) == before)
  }

  test("s13 IVF ingest batches are replay-idempotent and grow the index exactly once") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("ivf_replay").toString + "/index"
    val cent = Similarity.buildIvfIndex(emb, root, "vec_id", "embedding", 16)
    val base = spark.read.parquet(root).count()
    val batch = emb.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val bn = batch.count()
    // first delivery applies, replay of the SAME batch id is skipped
    assert(Similarity.foldIvfIndex(spark, root, batch, 7L, cent, "vec_id", "embedding"))
    assert(spark.read.parquet(root).count() == base + bn)
    assert(!Similarity.foldIvfIndex(spark, root, batch, 7L, cent, "vec_id", "embedding"),
      "replayed batch must be skipped")
    assert(spark.read.parquet(root).count() == base + bn,
      "replay must not double-append")
    // a NEW batch id still applies
    val batch2 = emb.filter($"vec_id" % 10 === 5)
      .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding")
    assert(Similarity.foldIvfIndex(spark, root, batch2, 8L, cent, "vec_id", "embedding"))
    assert(spark.read.parquet(root).count() == base + bn + batch2.count())

    // crash window (c): staging committed AND promoted, but the crash
    // hit before the marker was written — the exact window the bare
    // marker-after-append protocol double-appended in. The replay
    // must converge: same row count (re-promote overwrites the same
    // deterministic batch-stamped file names), marker created,
    // staging swept.
    val preCrash = spark.read.parquet(root).count()
    val batch3 = emb.filter($"vec_id" % 10 === 7)
      .select(($"vec_id" + 3000000L).as("vec_id"), $"embedding")
    val b3n = batch3.count()
    val commit9 = Similarity.ivfCommit(spark, root, 9L)
    commit9.stage(Similarity.ivfWriters(batch3, cent, "vec_id", "embedding"))
    commit9.promote()
    assert(Files.exists(
      java.nio.file.Paths.get(s"$root/.staging_batch_9", "_SUCCESS")))
    assert(spark.read.parquet(root).count() == preCrash + b3n,
      "the crashed attempt had already applied the batch")
    assert(Similarity.foldIvfIndex(spark, root, batch3, 9L, cent, "vec_id", "embedding"))
    assert(spark.read.parquet(root).count() == preCrash + b3n,
      "replay over the crashed apply must not duplicate rows")
    assert(Files.exists(java.nio.file.Paths.get(root, "_batch_9")))
    assert(!Files.exists(java.nio.file.Paths.get(root, ".staging_batch_9")),
      "staging must be swept after commit")

    // crash window (a): a half-written staging (no _SUCCESS) from a
    // crashed attempt is restaged cleanly, applied exactly once
    val staleDir = java.nio.file.Paths.get(root, ".staging_batch_10")
    Files.createDirectories(staleDir)
    Files.write(staleDir.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    val batch4 = emb.filter($"vec_id" % 10 === 3)
      .select(($"vec_id" + 4000000L).as("vec_id"), $"embedding")
    assert(Similarity.foldIvfIndex(spark, root, batch4, 10L, cent, "vec_id", "embedding"))
    assert(spark.read.parquet(root).count() == preCrash + b3n + batch4.count())
  }

  test("s14 substr-fold batches are replay-idempotent across every crash window") {
    import graft.operators.DedupSuite
    // 30 docs, ids 0-29; every 5th doc shares a 10-token boilerplate
    // suffix, so duplicate 8-windows cross the seed/batch boundary
    def mkDocs(ids: Seq[Long]) = ids.toDF("doc_id")
      .select($"doc_id", concat(
        lit("unique body token "), $"doc_id", lit(" filler words here"),
        when($"doc_id" % 5 === 0,
          lit(" common tail alpha beta gamma delta epsilon zeta eta theta"))
          .otherwise(lit(""))).as("text"))
    val all = mkDocs(0L until 30L)
    val root = Files.createTempDirectory("substr_replay")
    val store = s"$root/store"
    val out = s"$root/out"
    val seedOut = DedupSuite.exactSubstrBuildStore(
      mkDocs(0L until 10L), "doc_id", "text", 8, store,
      nBuckets = 8, hashKeys = true)
    seedOut.write.parquet(out)
    def storeRows = spark.read.parquet(store).count()
    def outRows = spark.read.parquet(out).count()
    def metaRows = spark.read.parquet(s"${store}_meta").count()

    // batch 0 applies once; replay of the same id is a no-op everywhere
    val b0 = mkDocs(10L until 20L)
    assert(DedupSuite.exactSubstrFold(
      spark, store, out, b0, 0L, "doc_id", "text", 8, 8, hashKeys = true))
    val (sr0, or0, mr0) = (storeRows, outRows, metaRows)
    assert(or0 == 20 && mr0 == 2)
    assert(!DedupSuite.exactSubstrFold(
      spark, store, out, b0, 0L, "doc_id", "text", 8, 8, hashKeys = true),
      "replayed batch must be skipped")
    assert((storeRows, outRows, metaRows) == ((sr0, or0, mr0)),
      "replay must not double-append store, output, or meta")

    // crash window (c): staged AND promoted, marker never written —
    // the replay must reuse the frozen staging (recomputing against
    // the half-promoted store would double-count), converge the same
    // file names, write the marker, and sweep
    val b1 = mkDocs(20L until 25L)
    val staging1 = java.nio.file.Paths.get(store, ".substr_staging_1")
    val commit1 = DedupSuite.substrCommit(spark, store, out, 1L)
    commit1.stage(DedupSuite.substrWriters(spark, store, b1, "doc_id", "text", 8, 8,
      hashKeys = true))
    commit1.promote()
    assert(Files.exists(staging1.resolve("_SUCCESS")))
    val (sr1, or1, mr1) = (storeRows, outRows, metaRows)
    assert(DedupSuite.exactSubstrFold(
      spark, store, out, b1, 1L, "doc_id", "text", 8, 8, hashKeys = true))
    assert((storeRows, outRows, metaRows) == ((sr1, or1, mr1)),
      "replay over the crashed promote must not duplicate rows")
    assert(Files.exists(java.nio.file.Paths.get(store, "_substr_batch_1")))
    assert(!Files.exists(staging1), "staging must be swept after commit")

    // crash window (a): half-written staging without _SUCCESS is
    // restaged cleanly and applied exactly once
    val staging2 = java.nio.file.Paths.get(store, ".substr_staging_2")
    Files.createDirectories(staging2)
    Files.write(staging2.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    assert(DedupSuite.exactSubstrFold(
      spark, store, out, mkDocs(25L until 30L), 2L, "doc_id", "text", 8, 8, hashKeys = true))
    assert(outRows == 30)

    // semantics: the accumulated streamed output equals the one-shot
    // batch recompute over the full corpus, bit-for-bit
    val got = spark.read.parquet(out)
      .select($"doc_id", $"clean_text", $"n_removed")
    val full = DedupSuite.exactSubstrDedup(all, "doc_id", "text", 8,
      hashKeys = true)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty,
      "accumulated stream output must equal the full recompute")
    assert(full.agg(sum($"n_removed")).head().getLong(0) > 0,
      "fixture must actually plant cross-boundary duplicate windows")
  }

  test("s18 hamming-fold batches are replay-idempotent across every crash window") {
    import graft.operators.{Dedup, DedupSuite}
    // planted 60-bit hash families straddling the corpus/batch split
    // (the DedupSuiteSpec fixture): variants at hamming 1/3/4 of each
    // base, so pairs cross the seed and both streamed batches
    val rnd = new scala.util.Random(11)
    val mask60 = (1L << 60) - 1
    def flip(h: Long, bit: Int): Long = h ^ (1L << bit)
    val bases = (0 until 10).map(_ => rnd.nextLong() & mask60)
    val all = bases.zipWithIndex.flatMap { case (h, i) =>
      Seq((i.toLong, h), (100L + i, flip(h, i % 60)),
        (201L + i, flip(flip(flip(h, i % 60), (i + 13) % 60), (i + 29) % 60)))
    }
    val df = all.toDF("doc_id", "ph")
    val index = df.filter($"doc_id" % 3 === 0)
    val root = Files.createTempDirectory("ham_replay")
    val store = s"$root/store"
    val out = s"$root/out"
    DedupSuite.hammingIndexBuild(index, "doc_id", "ph", store,
      bands = 4, nBuckets = 8)
    def storeRows = spark.read.parquet(store).count()
    def outRows = spark.read.parquet(out).count()

    // batch 0 applies once; replay of the same id is a no-op everywhere
    val b0 = df.filter($"doc_id" % 3 === 1)
    assert(DedupSuite.hammingIndexFold(
      spark, store, out, b0, 0L, "doc_id", "ph", maxHamming = 3))
    val (sr0, or0) = (storeRows, outRows)
    assert(!DedupSuite.hammingIndexFold(
      spark, store, out, b0, 0L, "doc_id", "ph", maxHamming = 3),
      "replayed batch must be skipped")
    assert((storeRows, outRows) == ((sr0, or0)),
      "replay must not double-append store or output")

    // crash window (c): staged AND promoted, marker never written —
    // the replay must reuse the frozen staging and converge the same
    // deterministic file names
    val b1 = df.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 0)
    val staging1 = java.nio.file.Paths.get(store, ".ham_staging_1")
    val commit1 = DedupSuite.hammingCommit(spark, store, out, 1L)
    commit1.stage(DedupSuite.hammingWriters(spark, store, b1,
      "doc_id", "ph", maxHamming = 3, maxBucket = 1000))
    commit1.promote()
    assert(Files.exists(staging1.resolve("_SUCCESS")))
    val (sr1, or1) = (storeRows, outRows)
    assert(DedupSuite.hammingIndexFold(
      spark, store, out, b1, 1L, "doc_id", "ph", maxHamming = 3))
    assert((storeRows, outRows) == ((sr1, or1)),
      "replay over the crashed promote must not duplicate rows")
    assert(Files.exists(java.nio.file.Paths.get(store, "_ham_batch_1")))
    assert(!Files.exists(staging1), "staging must be swept after commit")

    // crash window (a): half-written staging without _SUCCESS is
    // restaged cleanly and applied exactly once
    val staging2 = java.nio.file.Paths.get(store, ".ham_staging_2")
    Files.createDirectories(staging2)
    Files.write(staging2.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    val b2 = df.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 1)
    assert(DedupSuite.hammingIndexFold(
      spark, store, out, b2, 2L, "doc_id", "ph", maxHamming = 3))

    // semantics: accumulated pairs == the full banded run over ALL
    // hashes restricted to batch-touching pairs, and folding them
    // into the seed labels == the full CC recompute (the s18 gate's
    // materialize step)
    val batchIds = all.map(_._1).filter(_ % 3 != 0).toSet
    val wantPairs = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      if batchIds(ia) || batchIds(ib)
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (ia, ib)).toSet
    val gotPairs = spark.read.parquet(out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(gotPairs == wantPairs,
      s"accumulated pairs diverged: ${wantPairs.diff(gotPairs)} / ${gotPairs.diff(wantPairs)}")
    assert(wantPairs.exists { case (a, b) => batchIds(a) && batchIds(b) } &&
      wantPairs.exists { case (a, b) => batchIds(a) ^ batchIds(b) },
      "fixture must plant batch-internal AND cross pairs")
    val labels0 = Dedup.connectedComponents(
      DedupSuite.hammingPairs(index, "doc_id", "ph", 3, 4)
        .select($"id_a", $"id_b"))
    val folded = Dedup.foldComponents(labels0,
        spark.read.parquet(out).select($"id_a", $"id_b"))
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        DedupSuite.hammingPairs(df, "doc_id", "ph", 3, 4)
          .select($"id_a", $"id_b"))
      .as[(Long, Long)].collect().toMap
    assert(full.forall { case (id, c) => folded.getOrElse(id, id) == c },
      "streamed component fold must equal the full recompute")
  }

  test("s15 quantile-store folds are replay-idempotent and serve exactly") {
    import graft.operators.Quantiles
    import graft.operators.Quantiles.Quantile
    val rows = (0 until 3000).map { i =>
      (s"g${i % 3}", ((i * 2654435761L) % 70001L) - 35000L)
    }
    val all = rows.toDF("g", "x")
    val store = Files.createTempDirectory("qstore_stream").toString + "/store"
    Quantiles.buildQuantileStore(
      all.filter($"x" % 3 === 0), col("g"), col("x"), store, cellBits = 6)
    val (b1, b2) = (all.filter($"x" % 3 === 1), all.filter($"x" % 3 =!= 0 && $"x" % 3 =!= 1))
    def storeRows = spark.read.parquet(store).count()
    assert(Quantiles.foldQuantileStore(
      spark, store, b1, 0L, col("g"), col("x")))
    val sr0 = storeRows
    assert(!Quantiles.foldQuantileStore(
      spark, store, b1, 0L, col("g"), col("x")),
      "replayed batch must be skipped")
    assert(storeRows == sr0, "replay must not double-count")
    // crash window: staged + promoted, marker missing — replay
    // converges to the same deterministic file names
    val staging = java.nio.file.Paths.get(store, ".qstore_staging_1")
    val commit1 = Quantiles.quantileCommit(spark, store, 1L)
    commit1.stage(Quantiles.quantileWriters(spark, store, b2,
      col("g"), col("x")))
    commit1.promote()
    assert(Files.exists(staging.resolve("_SUCCESS")))
    val sr1 = storeRows
    assert(Quantiles.foldQuantileStore(
      spark, store, b2, 1L, col("g"), col("x")))
    assert(storeRows == sr1,
      "replay over the crashed promote must not duplicate rows")
    assert(!Files.exists(staging), "staging must be swept after commit")
    // serve == brute over the full multiset
    val qs15 = Seq(Quantile("p10", 10, 100), Quantile("p50", 1, 2),
      Quantile("p95", 95, 100))
    val got = Quantiles.quantilesFromStore(spark, store, all,
        col("g"), col("x"), qs15)
      .collect().map(r => r.getString(0) ->
        qs15.indices.map(i => r.getLong(i + 1))).toMap
    val exp = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      g -> qs15.map { q =>
        val r = ((BigInt(sorted.size - 1) * q.num) / q.den).toLong + 1
        sorted((r - 1).toInt)
      }
    }
    assert(got === exp)
  }

  test("s16 boilerplate-fold batches are replay-idempotent; latest-wins equals recompute") {
    import graft.operators.Boilerplate
    // 30 docs: "promo" on id%5==1 (crosses m=4 in batch 0 → re-emits
    // seed docs 1,6), "footer" on id%7==0 (crosses in batch 1 →
    // re-emits seed docs 0,7 AND batch-0 doc 14 — a streamed doc
    // later invalidated by a later stream batch)
    def mkDocs(ids: Seq[Long]) = ids.toDF("doc_id")
      .select($"doc_id", concat(
        when($"doc_id" % 5 === 1, lit("promo line\n")).otherwise(lit("")),
        lit("unique body "), $"doc_id",
        when($"doc_id" % 7 === 0, lit("\nfooter line")).otherwise(lit("")))
        .as("text"))
    val all = mkDocs(0L until 30L)
    val m = 4L
    val root = Files.createTempDirectory("boiler_stream")
    val store = s"$root/store"
    val out = s"$root/out"
    Boilerplate.buildStore(mkDocs(0L until 10L), "doc_id", "text", m,
        store, nBuckets = 8, nDocBuckets = 4)
      .withColumn("seq", lit(-1L)).write.parquet(out)
    def outRows = spark.read.parquet(out).count()
    def metaRows = spark.read.parquet(s"${store}_meta").count()

    // batch 0 applies once; promo crosses → re-emissions carry seq 0
    val b0 = mkDocs(10L until 20L)
    assert(Boilerplate.fold(
      spark, store, out, b0, 0L, "doc_id", "text", m, 8, 4))
    val (or0, mr0) = (outRows, metaRows)
    assert(or0 == 10 + 10 + 2 && mr0 == 2,
      "batch 0 must emit its 10 docs plus re-emissions of seed docs 1,6")
    val reemitted = spark.read.parquet(out)
      .filter($"seq" === 0 && $"doc_id" < 10)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(reemitted == Set(1L, 6L),
      "the promo crossing must re-emit exactly its stored carriers")
    assert(!Boilerplate.fold(
      spark, store, out, b0, 0L, "doc_id", "text", m, 8, 4), "replayed batch must be skipped")
    assert((outRows, metaRows) == ((or0, mr0)),
      "replay must not double-append output or meta")

    // crash window (c): staged AND promoted, marker never written —
    // the replay must reuse the frozen staging, not recompute against
    // the half-promoted store
    val b1 = mkDocs(20L until 25L)
    val staging1 = java.nio.file.Paths.get(store, ".boiler_staging_1")
    val commit1 = Boilerplate.foldCommit(spark, store, out, 1L)
    commit1.stage(Boilerplate.foldWriters(spark, store, b1, "doc_id",
      "text", m, 8, 4, seq = 1L))
    commit1.promote()
    assert(Files.exists(staging1.resolve("_SUCCESS")))
    val (or1, mr1) = (outRows, metaRows)
    assert(Boilerplate.fold(
      spark, store, out, b1, 1L, "doc_id", "text", m, 8, 4))
    assert((outRows, metaRows) == ((or1, mr1)),
      "replay over the crashed promote must not duplicate rows")
    assert(Files.exists(java.nio.file.Paths.get(store, "_boiler_batch_1")))
    assert(!Files.exists(staging1), "staging must be swept after commit")
    // footer crossed in batch 1: its stored carriers span seed AND
    // batch 0 — a streamed doc can itself be invalidated later
    val reemitted1 = spark.read.parquet(out)
      .filter($"seq" === 1 && $"doc_id" < 20)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(reemitted1 == Set(0L, 7L, 14L),
      "the footer crossing must re-emit seed and batch-0 carriers")

    // crash window (a): half-written staging without _SUCCESS is
    // restaged cleanly and applied exactly once
    val staging2 = java.nio.file.Paths.get(store, ".boiler_staging_2")
    Files.createDirectories(staging2)
    Files.write(staging2.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    assert(Boilerplate.fold(
      spark, store, out, mkDocs(25L until 30L), 2L, "doc_id", "text", m, 8, 4))

    // semantics: latest-seq-per-doc over the accumulated changelog
    // equals the one-shot recompute over the full corpus, bit-for-bit
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"seq".desc)
    val got = spark.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id", $"clean_text", $"n_removed")
    val full = Boilerplate.removeCommonLines(all, "doc_id", "text", m)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty,
      "latest-wins changelog must equal the full recompute")
    assert(full.agg(sum($"n_removed")).head().getLong(0) >= 10,
      "fixture must actually remove crossed lines")
  }

  test("s17 pack-fold batches are replay-idempotent; accumulated spans equal recompute") {
    import graft.operators.Pack
    // 30 docs; counts cycle 1..17 with one mega-doc so spans cross
    // many sequence boundaries and a batch boundary lands mid-sequence
    def mkCounts(ids: Seq[Long]) = ids.toDF("doc_id")
      .select($"doc_id",
        (when($"doc_id" === 12L, 500L).otherwise($"doc_id" % 17 + 1)).as("n"))
    val all = mkCounts(0L until 30L)
    val root = Files.createTempDirectory("pack_stream")
    val store = s"$root/store"
    val out = s"$root/out"
    Pack.buildSpanStore(mkCounts(0L until 10L), "doc_id", $"n", 64, store, 7)
      .write.parquet(out)
    def outRows = spark.read.parquet(out).count()
    def metaRows = spark.read.parquet(s"${store}_meta").count()

    val b0 = mkCounts(10L until 20L)
    assert(Pack.foldSpans(
      spark, store, out, b0, 0L, "doc_id", $"n", 64, 7))
    val (or0, mr0) = (outRows, metaRows)
    assert(mr0 == 2)
    assert(!Pack.foldSpans(
      spark, store, out, b0, 0L, "doc_id", $"n", 64, 7), "replayed batch must be skipped")
    assert((outRows, metaRows) == ((or0, mr0)),
      "replay must not double-append output or meta")

    // crash window (c): staged AND promoted, marker never written —
    // replay reuses the frozen staging (restaging against the
    // promoted meta would shift the stream and fail the guard)
    val b1 = mkCounts(20L until 25L)
    val staging1 = java.nio.file.Paths.get(store, ".pack_staging_1")
    val commit1 = Pack.packCommit(spark, store, out, 1L)
    commit1.stage(Pack.packWriters(spark, store, b1, "doc_id", $"n", 64, 7))
    commit1.promote()
    assert(Files.exists(staging1.resolve("_SUCCESS")))
    val (or1, mr1) = (outRows, metaRows)
    assert(Pack.foldSpans(
      spark, store, out, b1, 1L, "doc_id", $"n", 64, 7))
    assert((outRows, metaRows) == ((or1, mr1)),
      "replay over the crashed promote must not duplicate rows")
    assert(!Files.exists(staging1), "staging must be swept after commit")

    // crash window (a): garbage staging without _SUCCESS is restaged
    val staging2 = java.nio.file.Paths.get(store, ".pack_staging_2")
    Files.createDirectories(staging2)
    Files.write(staging2.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    assert(Pack.foldSpans(
      spark, store, out, mkCounts(25L until 30L), 2L, "doc_id", $"n", 64, 7))

    // accumulated segments == one-shot recompute, bit-for-bit
    val got = spark.read.parquet(out)
      .select($"seq_id", $"doc_id", $"tok_start", $"tok_end")
    val full = Pack.packSpans(all, "doc_id", $"n", 64, 7)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty,
      "accumulated stream output must equal the full recompute")
    // the mega-doc proves splitting: it spans many sequences
    assert(got.filter($"doc_id" === 12L).count() >= 500 / 64)
  }

  test("the shared pass records the phase keys the benchmark reads") {
    // runs the one pass for the fixture dir, or reuses it: suites share
    // the JVM, so DeterminismSpec may have run it already
    SparkEntry.queries("s1_stream_tumbling")(spark, sf).count()
    val keys = SparkEntry.streamSharedPassPhases.keySet.collect {
      case k if k.startsWith(s"$sf|") => k.stripPrefix(s"$sf|")
    }
    val memorySinks = Seq(1, 2, 3, 4, 6, 7, 8, 10).map(i => s"s${i}_stream_out")
    val seeded = (Seq(5, 9) ++ (11 to 18)).map(i => s"s$i")
    assert(keys == Set("start_mem", "drain", "materialize") ++
      seeded.map("seed_" + _) ++
      (memorySinks ++ seeded).map("drain_at_" + _))
  }
}
