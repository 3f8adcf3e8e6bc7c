package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.HeavyHitters

/** Misra–Gries heavy hitters (q76). The planted fixtures force
  * counter eviction (cold-key cardinality >> k), and every assertion
  * compares against the naive full groupBy + HAVING plan — any
  * sketch false NEGATIVE (a missed heavy hitter) breaks equality. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: full-shuffle GROUP BY + HAVING cnt·k > n. */
  private def naive(df: DataFrame, k: Int): Set[(String, Long)] = {
    val n = df.count()
    df.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > n)
      .as[(String, Long)].collect().toSet
  }

  private def run(df: DataFrame, k: Int): Set[(String, Long)] =
    HeavyHitters.frequentItems(df, col("k"), k, "k")
      .as[(String, Long)].collect().toSet

  test("planted zipf: hot keys exact, cold churn evicts without false negatives") {
    // 3 hot keys with 300/200/150 rows + 400 distinct cold keys with
    // 1-3 rows each — cold cardinality 400 >> k=16 forces constant
    // eviction. Deterministic interleaving (i * 131 mod shuffle).
    val rows = (
      (0 until 300).map(i => s"hot_a" -> i) ++
      (0 until 200).map(i => s"hot_b" -> i) ++
      (0 until 150).map(i => s"hot_c" -> i) ++
      (0 until 800).map(i => s"cold_${i % 400}" -> i)
    ).sortBy { case (_, i) => (i * 131) % 1450 }
    val df = rows.map(_._1).toDF("k").repartition(7)
    val expected = naive(df, 16)
    assert(expected.map(_._1) === Set("hot_a", "hot_b", "hot_c"))
    assert(run(df, 16) === expected)
  }

  test("result is invariant to partitioning (merge correctness)") {
    val rows = ((0 until 500).map(i => s"maj") ++
      (0 until 600).map(i => s"c${i % 300}")).toDF("k")
    val one = run(rows.repartition(1), 8)
    val many = run(rows.repartition(13), 8)
    assert(one === many)
    assert(one === naive(rows, 8))
  }

  test("threshold is strict: cnt*k == n is excluded") {
    // 4 keys x 25 rows each, k=4: every cnt*4 == 100 == n -> empty.
    val df = (0 until 100).map(i => s"k${i % 4}").toDF("k")
    assert(run(df, 4) === Set.empty)
    // One extra row pushes k0 strictly over n/k.
    val df2 = ("k0" +: (0 until 100).map(i => s"k${i % 4}")).toDF("k")
    assert(run(df2, 4) === Set(("k0", 26L)))
  }

  test("degenerate inputs: empty frame and all-unique keys") {
    assert(run(Seq.empty[String].toDF("k"), 8) === Set.empty)
    assert(run((0 until 500).map(i => s"u$i").toDF("k"), 8) === Set.empty)
  }

  test("null keys are excluded and do not count toward n") {
    // 30 'hot' rows + 60 nulls, k=4: with nulls excluded n=40 and
    // hot (30) passes 30*4 > 40; if nulls leaked into n (n=100) it
    // would fail 120 > 100 only barely — and a null key in the MG
    // map buffer would crash the aggregator outright.
    val df = ((0 until 30).map(_ => Some("hot")) ++
      (0 until 60).map(_ => None: Option[String]) ++
      (0 until 10).map(i => Some(s"c$i"))).toDF("k")
    assert(run(df, 4) === Set(("hot", 30L)))
    val grouped = df.withColumn("g", lit("G"))
    val got = HeavyHitters.frequentItemsByGroup(grouped, col("g"), col("k"),
      4, "grp", "key").as[(String, String, Long)].collect().toSet
    assert(got === Set(("G", "hot", 30L)))
  }

  test("folded summary: persisted-sketch ingest equals the naive plan over the union") {
    // corpus: one hot key (35%) + churny cold keys; batch shifts the
    // distribution — a SECOND key becomes hot only once the batch
    // lands, so the fold must surface a candidate the stored summary
    // alone would rank low
    val corpus = ((0 until 350).map(_ => "hot_a") ++
      (0 until 80).map(_ => "rising") ++
      (0 until 570).map(i => s"c${i % 300}")).toDF("k").repartition(7)
    val batch = ((0 until 40).map(_ => "hot_a") ++
      (0 until 260).map(_ => "rising") ++
      (0 until 100).map(i => s"b${i % 90}")).toDF("k").repartition(3)
    val stored = HeavyHitters.summarize(corpus, col("k"), 8)
    val union = corpus.unionByName(batch)
    val got = HeavyHitters.frequentItemsFolded(stored, batch, col("k"),
        union, col("k"), 8, "k")
      .as[(String, Long)].collect().toSet
    val naive = {
      val n = union.count()
      union.groupBy("k").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 8 > n)
        .as[(String, Long)].collect().toSet
    }
    assert(got === naive, "folded-summary result must equal the naive plan")
    assert(got.exists(_._1 == "rising"),
      "the batch-risen key must be found despite the stale corpus sketch")
    // the summary state round-trips parquet (the persistence contract)
    val tmp = java.nio.file.Files.createTempDirectory("mg_rt").toString
    stored.write.mode("overwrite").parquet(tmp)
    val rt = HeavyHitters.frequentItemsFolded(spark.read.parquet(tmp),
        batch, col("k"), union, col("k"), 8, "k")
      .as[(String, Long)].collect().toSet
    assert(rt === naive, "parquet-roundtripped summary must fold identically")
  }

  test("store-served fold: equals rescan fold, reads ONLY candidate buckets, append folds in") {
    val nBuckets = 16
    val corpus = ((0 until 350).map(_ => "hot_a") ++
      (0 until 80).map(_ => "rising") ++
      (0 until 570).map(i => s"c${i % 300}")).toDF("k").repartition(7)
    val batch = ((0 until 40).map(_ => "hot_a") ++
      (0 until 260).map(_ => "rising") ++
      (0 until 100).map(i => s"b${i % 90}")).toDF("k").repartition(3)
    val root = java.nio.file.Files.createTempDirectory("mg_store").toString
    HeavyHitters.summarize(corpus, col("k"), 8)
      .write.mode("overwrite").parquet(s"$root/summary")
    HeavyHitters.buildKeyStore(corpus, col("k"), s"$root/store", nBuckets)
    val got = HeavyHitters.frequentItemsFoldedFromStore(spark,
        spark.read.parquet(s"$root/summary"), s"$root/store",
        batch, col("k"), 8, nBuckets, "k")
      .as[(String, Long)].collect().toSet
    val union = corpus.unionByName(batch)
    val naiveU = {
      val n = union.count()
      union.groupBy("k").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 8 > n)
        .as[(String, Long)].collect().toSet
    }
    assert(got === naiveU, "store-served fold must equal the naive union plan")
    assert(got.exists(_._1 == "rising"))

    // file inventory: the pruned recheck read must touch ONLY the
    // buckets of candidate keys — unaffected bucket directories
    // never appear in the scan's selected partitions (the GraphSpec
    // unread-proof, applied to the read side)
    val candidates = Seq("hot_a", "rising")
    val pruned = HeavyHitters.candidateStoreRows(spark, s"$root/store",
      candidates, nBuckets)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [bucket"),
      s"recheck read must carry a static bucket partition filter:\n" +
        planStr.take(3000))
    val expectedBuckets = candidates
      .map(k => HeavyHitters.bucketOf(k, nBuckets)).toSet
    val scannedFiles = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString)
    }.flatten
    assert(scannedFiles.nonEmpty)
    assert(scannedFiles.forall(p =>
        expectedBuckets.exists(b => p.contains(s"bucket=$b/"))),
      s"scan must touch only candidate buckets $expectedBuckets, " +
        s"saw:\n${scannedFiles.mkString("\n")}")
    // and the store has MORE buckets than the candidate set touches
    val allBuckets = spark.read.parquet(s"$root/store")
      .select("bucket").distinct().count()
    assert(allBuckets > expectedBuckets.size,
      "fixture must leave unread buckets for the proof to bite")

    // append-only ingest: fold the batch into the store (no rewrite),
    // then a fresh summary over the union + empty batch folds to the
    // same answer served entirely from the appended store
    HeavyHitters.appendToKeyStore(batch, col("k"), s"$root/store", nBuckets)
    HeavyHitters.summarize(union, col("k"), 8)
      .write.mode("overwrite").parquet(s"$root/summary2")
    val emptyBatch = Seq.empty[String].toDF("k")
    val gotAppended = HeavyHitters.frequentItemsFoldedFromStore(spark,
        spark.read.parquet(s"$root/summary2"), s"$root/store",
        emptyBatch, col("k"), 8, nBuckets, "k")
      .as[(String, Long)].collect().toSet
    assert(gotAppended === naiveU,
      "append-folded store must serve the union's heavy hitters")

    // vacuum collapses each key's build+append deltas to one row and
    // the served answer is unchanged (readers sum; one row sums the same)
    HeavyHitters.vacuumKeyStore(spark, s"$root/store")
    val maxDeltaRows = spark.read.parquet(s"$root/store")
      .groupBy(col("k")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxDeltaRows == 1L, "vacuum must collapse deltas to one row per key")
    val gotVacuumed = HeavyHitters.frequentItemsFoldedFromStore(spark,
        spark.read.parquet(s"$root/summary2"), s"$root/store",
        emptyBatch, col("k"), 8, nBuckets, "k")
      .as[(String, Long)].collect().toSet
    assert(gotVacuumed === naiveU,
      "the vacuumed store must serve identical heavy hitters")

    // nBuckets defines where a key lives: a mismatched append would
    // write to the wrong buckets and a mismatched read would prune
    // the wrong ones, both silently — the store's _meta pins it
    val eA = intercept[IllegalArgumentException] {
      HeavyHitters.appendToKeyStore(batch, col("k"), s"$root/store", 8)
    }
    assert(eA.getMessage.contains("n_buckets"))
    val eR = intercept[IllegalArgumentException] {
      HeavyHitters.candidateStoreRows(spark, s"$root/store",
        candidates, 8).count()
    }
    assert(eR.getMessage.contains("n_buckets"))
  }

  test("auto-maintenance: folds self-schedule the vacuum at the file-count trigger") {
    val nBuckets = 4
    val root = java.nio.file.Files.createTempDirectory("mg_auto").toString
    val store = s"$root/store"
    val corpus = (0 until 200).map(i => s"k${i % 20}").toDF("k")
    HeavyHitters.buildKeyStore(corpus, col("k"), store, nBuckets)
    // NO explicit vacuum anywhere below: the fold itself must fire it
    // when a bucket reaches the trigger's delta-file count
    (1 to 6).foreach { i =>
      val batch = (0 until 100).map(j => s"k${(i + j) % 20}").toDF("k")
      HeavyHitters.appendToKeyStore(batch, col("k"), store, nBuckets,
        autoVacuumTrigger = 4)
    }
    val counts = graft.operators.StoreCompaction.partitionFileCounts(spark, store)
    assert(counts.values.max < 4,
      s"auto policy must keep every bucket under the trigger: $counts")
    // served reads equal the naive union aggregation — maintenance
    // changed file grouping and delta collapse, never totals
    val expect = (corpus +: (1 to 6).map(i =>
        (0 until 100).map(j => s"k${(i + j) % 20}").toDF("k")))
      .reduce(_ unionByName _)
      .groupBy("k").agg(count(lit(1)).cast("bigint").as("cnt"))
      .as[(String, Long)].collect().toMap
    val served = spark.read.parquet(store)
      .groupBy("k").agg(sum(col("cnt")).cast("bigint").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(served === expect, "auto-maintained store must serve exact totals")
    // trigger ≤ 0 disables: delta files accumulate untouched
    val store2 = s"$root/store2"
    HeavyHitters.buildKeyStore(corpus, col("k"), store2, nBuckets)
    (1 to 5).foreach { i =>
      val batch = (0 until 100).map(j => s"k${(i + j) % 20}").toDF("k")
      HeavyHitters.appendToKeyStore(batch, col("k"), store2, nBuckets,
        autoVacuumTrigger = 0)
    }
    val counts2 = graft.operators.StoreCompaction.partitionFileCounts(spark, store2)
    assert(counts2.values.max >= 5,
      s"disabled trigger must leave deltas untouched: $counts2")
  }

  test("stored summary built with a different k is rejected loudly") {
    val corpus = (0 until 100).map(i => s"k${i % 5}").toDF("k")
    val stored = HeavyHitters.summarize(corpus, col("k"), 8)
    val batch = (0 until 10).map(_ => "k0").toDF("k")
    val union = corpus.unionByName(batch)
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.frequentItemsFolded(stored, batch, col("k"),
        union, col("k"), 16, "k").collect()
    }
    assert(e.getMessage.contains("k=8"))
  }

  test("per-group: each group's hot keys exact, thresholds independent per group") {
    // Group A: hot key 'a_hot' (40%) + 150 cold; group B: two hot keys
    // (30%/20%) + 200 cold; group C: uniform (no heavy hitters).
    val rows =
      (0 until 200).map(_ => ("A", "a_hot")) ++
      (0 until 300).map(i => ("A", s"ac${i % 150}")) ++
      (0 until 150).map(_ => ("B", "b_hot1")) ++
      (0 until 100).map(_ => ("B", "b_hot2")) ++
      (0 until 250).map(i => ("B", s"bc${i % 200}")) ++
      (0 until 240).map(i => ("C", s"cc${i % 12}"))
    val df = rows.toDF("g", "k").repartition(9)
    val got = HeavyHitters.frequentItemsByGroup(df, col("g"), col("k"), 8,
      "grp", "key").as[(String, String, Long)].collect().toSet
    val naive = {
      val c = df.groupBy("g", "k").agg(count(lit(1)).as("cnt"))
      val t = df.groupBy("g").agg(count(lit(1)).as("n"))
      c.join(t, "g").filter(col("cnt") * 8 > col("n"))
        .select(col("g"), col("k"), col("cnt"))
        .as[(String, String, Long)].collect().toSet
    }
    assert(got === naive)
    assert(got === Set(("A", "a_hot", 200L), ("B", "b_hot1", 150L),
      ("B", "b_hot2", 100L)))
  }
}
