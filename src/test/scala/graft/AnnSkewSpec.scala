package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Skew}

class AnnSkewSpec extends SparkSpec {
  import spark.implicits._

  test("IVF ANN recall@5 vs brute force is high on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 too low: $recall")
    // probing ALL centroids must recover brute force exactly
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 16)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact)
  }

  test("native hyperplane bucket is bit-identical to the composable form") {
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val native = emb.select($"vec_id",
      Similarity.hyperplaneBucket($"embedding", 8, 64).as("b"))
    val composed = emb.select($"vec_id",
      Similarity.hyperplaneBucketComposable($"embedding", 8, 64).as("b"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // degenerate inputs: wrong width / empty / NULL vector -> bucket 0,
    // like the composable's null-padded zip_with fold hitting the
    // otherwise(0) branch on every plane — for BOTH forms
    val weirdIn = Seq(Option(Seq(1.0f, 2.0f)), Option(Seq.empty[Float]), None)
      .toDF("embedding")
    for (form <- Seq(Similarity.hyperplaneBucket _,
                     Similarity.hyperplaneBucketComposable _)) {
      val got = weirdIn.select(form($"embedding", 8, 64).as("b"))
        .as[Long].collect().toSeq
      assert(got == Seq(0L, 0L, 0L))
    }
  }

  test("recallAtK is robust to duplicate rows in either input") {
    // ADVICE r4: duplicated (query, neighbor) rows used to fan out the
    // left join and report recall > 1
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 11L), (1L, 11L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(truth, approx, 2)
      .select($"n_hits", $"recall_at_2").as[(Long, Double)].head()
    assert(r == ((2L, 1.0)), s"expected (2, 1.0), got $r")
  }

  test("kmeans refinement: k stable, and refined-centroid IVF keeps recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 8)
    val refined = Similarity.kmeans(emb, "vec_id", "embedding",
      nCentroids = 16, iters = 3)
    assert(refined.count() == 16, "kmeans must preserve centroid count")
    assert(refined.filter(size($"centroid_vec") =!= 64).isEmpty,
      "centroid dimensionality must be preserved")
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4, centroids = Some(refined))
    val recall = Similarity.recallAtK(truth, approx, 5)
      .agg(avg($"recall_at_5")).as[Double].head()
    assert(recall >= 0.5, s"refined-centroid recall@5 too low: $recall")
  }

  test("partitioned IVF index: pruned probes, identical results to ivfTopK") {
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/index"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 8)
    val cent = Similarity.buildIvfIndex(emb, path, "vec_id", "embedding", 16)
    val served = Similarity.queryIvfIndex(spark, path, cent, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    val inline = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty)
    // The scan must prune partitions DYNAMICALLY from the broadcast
    // probe side (r7 verdict item 6) — no collected isin, no full scan:
    // the executed plan's FileScan carries a dynamicpruning partition
    // filter on centroid_id.
    val servedPlan = served.queryExecution.executedPlan.toString
    assert(servedPlan.toLowerCase.contains("dynamicpruning"),
      s"probe-side dynamic partition pruning did not fire:\n$servedPlan")
    // and a static isin probe still prunes at the partition level (the
    // layout contract buildIvfIndex promises)
    val probedIds = cent.limit(4).collect().map(_.getLong(0)) // any subset
    val prunedScan = spark.read.parquet(path)
      .filter($"centroid_id".isin(probedIds.toIndexedSeq: _*))
    val plan = prunedScan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"probe filter did not reach partition pruning:\n$plan")
  }

  test("k-means refinement keeps centroid shape and improves/preserves recall") {
    val emb = Tables.embeddings(spark, sf)
    val cent0 = emb.orderBy($"vec_id".asc).limit(16)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    val cent1 = Similarity.refineCentroids(emb, cent0, "vec_id", "embedding")
    val rows = cent1.collect()
    assert(rows.nonEmpty && rows.length <= 16)
    assert(rows.forall(_.getSeq[Float](1).length == 64))
    assert(rows.forall(_.getSeq[Float](1).forall(f => !f.isNaN && !f.isInfinite)))
  }

  test("salted aggregation equals plain aggregation") {
    val ev = Tables.events(spark, sf).withColumn("val",
      graft.operators.Marts.dec2($"value"))
    val salted = Skew.saltedAgg(ev, Seq("event_type"),
      scala.collection.immutable.ListMap(
        "n" -> Skew.AlgebraicAgg.countAll,
        "total" -> Skew.AlgebraicAgg.sumOf($"val")),
      saltBuckets = 8)
    val plain = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum($"val").as("total"))
    assert(salted.select($"event_type", $"n".cast("long"), $"total".cast("decimal(18,2)"))
      .exceptAll(plain.select($"event_type", $"n".cast("long"), $"total".cast("decimal(18,2)")))
      .isEmpty)
  }

  test("incremental IVF append equals a full rebuild over the union corpus") {
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val batch = emb.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val queries = emb.filter($"vec_id" < 8)
    // grown index: base build + frozen-centroid append
    val grown = java.nio.file.Files.createTempDirectory("ivf_inc").toString + "/index"
    val cent = Similarity.buildIvfIndex(emb, grown, "vec_id", "embedding", 16)
    assert(Similarity.foldIvfIndex(spark, grown, batch, 1L, cent,
      "vec_id", "embedding"))
    val served = Similarity.queryIvfIndex(spark, grown, cent, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    // rebuild: one index over corpus ∪ batch (same centroid seed —
    // batch ids are all higher, so lowest-16 is unchanged)
    val rebuilt = java.nio.file.Files.createTempDirectory("ivf_full").toString + "/index"
    val cent2 = Similarity.buildIvfIndex(emb.unionByName(batch), rebuilt,
      "vec_id", "embedding", 16)
    val full = Similarity.queryIvfIndex(spark, rebuilt, cent2, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty,
      "frozen-centroid append must be indistinguishable from a rebuild")
    // the appended rows landed INSIDE the centroid partitions (one
    // directory layout, not a second index generation)
    val dirs = new java.io.File(grown).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("centroid_id=")).toSet
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("centroid_id=")))
    val appended = spark.read.parquet(grown)
      .filter($"neighbor_id" >= 1000000L).count()
    assert(appended == batch.count(), "every batch row must be in the index")
  }

  test("IVF auto-compaction: appends self-schedule the squash at the trigger, serving unchanged") {
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .filter($"vec_id" < 200)
    val root = java.nio.file.Files.createTempDirectory("ivf_auto").toString + "/index"
    val cent = Similarity.buildIvfIndex(emb, root, "vec_id", "embedding", 8)
    // NO explicit compaction below: the appends must fire it at the
    // file-count trigger themselves
    (1 to 6).foreach { i =>
      val b = emb.filter($"vec_id" % 5 === i % 5)
        .select(($"vec_id" + i * 100000L).as("vec_id"), $"embedding")
      Similarity.foldIvfIndex(spark, root, b, i.toLong, cent, "vec_id",
        "embedding", autoCompactTrigger = 3)
    }
    val counts = graft.operators.StoreCompaction.partitionFileCounts(spark, root)
    assert(counts.values.max < 3,
      s"auto policy must keep partitions under the trigger: $counts")
    // rows survive maintenance exactly: base + all six batches
    val n = spark.read.parquet(root).count()
    assert(n == emb.count() + 6 * emb.filter($"vec_id" % 5 === 0).count(),
      s"compaction must never change rows, got $n")
  }

  test("persisted PQ index: served == inline for IVFPQ and IVFADC, probe prunes dynamically") {
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 8)
    for (residual <- Seq(false, true)) {
      val root = java.nio.file.Files.createTempDirectory(
        s"pq_idx_$residual").toString
      Similarity.buildIvfPqIndex(emb, root, "vec_id", "embedding",
        residual = residual)
      val served = Similarity.queryIvfPqIndex(spark, root, queries,
        "vec_id", "embedding", k = 5, residual = residual)
      val inline =
        if (residual)
          Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding", 5)
        else Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", 5)
      assert(served.exceptAll(inline).isEmpty &&
        inline.exceptAll(served).isEmpty,
        s"persisted-index serving (residual=$residual) must be " +
          "bit-identical to the inline pipeline")
      // the serving claim at scale: the code scan must carry a
      // dynamicpruning partition filter on centroid_id from the
      // broadcast query-table side — nProbe directories read, not all
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"code-scan DPP did not fire (residual=$residual):\n" +
          plan.take(4000))
      // corpus-sized state is codes only: no raw vectors in the store
      val codeCols = spark.read.parquet(s"$root/codes").columns.toSet
      assert(!codeCols.exists(c => c == "cv" || c == "sv" || c == "r"),
        s"code store must not carry raw vectors: $codeCols")
    }
  }

  test("salted join equals the plain join and executes as a sort-merge on (key, salt)") {
    val fact = Tables.events(spark, sf)
      .filter($"user_id".isNotNull)
      .select($"user_id".cast("long").as("c_custkey"), $"event_type",
        graft.operators.Marts.dec2($"value").as("val"))
    val dim = Tables.customer(spark, sf)
      .select($"c_custkey".cast("long").as("c_custkey"), $"c_mktsegment")
    val salted = Skew.saltedJoin(fact, dim, "c_custkey", saltBuckets = 8)
    // salting must be result-invisible: row-for-row equal to plain join
    val plain = fact.join(dim, "c_custkey")
    val cols = Seq($"c_custkey", $"event_type", $"val", $"c_mktsegment")
    assert(salted.select(cols: _*).exceptAll(plain.select(cols: _*)).isEmpty &&
      plain.select(cols: _*).exceptAll(salted.select(cols: _*)).isEmpty)
    // and the executed plan must be the salted SHAPE: a sort-merge
    // join whose keys include __salt (a silent broadcast would make
    // the salt dead weight — the scaladoc's warning)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("__salt"),
      s"expected sort-merge on (key, __salt):\n${plan.take(3000)}")
  }

  test("approx_percentile is within 10% of exact (100TB-scale quantile path)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val row = ev.agg(
      percentile($"value", lit(0.5)).as("exact"),
      percentile_approx($"value", lit(0.5), lit(1000)).as("approx")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact <= 0.10,
      s"approx median $approx too far from exact $exact")
  }

  test("approx_count_distinct is within 5% of exact (SURVEY §7.1)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val row = ev.agg(
      countDistinct($"user_id").as("exact"),
      approx_count_distinct($"user_id").as("approx")).head()
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.05)
  }
}
