package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupSuite, HeavyHitters, Quantiles, StoreCompaction}

/** Auto-maintenance policy under sustained ingest: ≥50 folds into
  * each delta store with NO explicit vacuum call anywhere — the folds
  * must schedule their own maintenance off the listing-only
  * file-count trigger and keep fold cost flat.
  *
  * Three stores, three ingest shapes:
  *
  *  - ExactSubstr (d26): the fold READS matched store buckets, so an
  *    unmaintained store grows fold cost directly — every fold adds
  *    one delta row per hot key and one file set per bucket. 50
  *    folds × 2k docs over a 100k-doc corpus; closed form: exactly
  *    half of each batch carries the corpus boiler and loses exactly
  *    it. Flatness gate: median of the last 15 fold times ≤ 2× the
  *    median of folds 5–20 (the unmaintained control grows file
  *    count linearly — reported beside it).
  *  - Key store (q92): append-only folds; the policy's job is file
  *    bounds, not fold cost. 50 folds; bucket file count must stay
  *    under the trigger and totals must stay exact.
  *  - Quantile cell store (q96, flat layout): one delta file per
  *    fold; 60 folds; root file count bounded, per-cell totals exact.
  *
  * Deterministic: all data derives from ids — no RNG, no clock. */
object AutoMaintenanceSoak {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val base = java.nio.file.Files
      .createTempDirectory("auto_maint_soak").toString

    // ---- ExactSubstr: fold cost must stay flat over 50 folds ----
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    def doc(idCol: org.apache.spark.sql.Column) = concat_ws(" ",
      concat(lit("u"), idCol), concat(lit("v"), idCol),
      concat(lit("w"), idCol), concat(lit("x"), idCol),
      concat(lit("y"), idCol), concat(lit("z"), idCol),
      concat(lit("p"), idCol), concat(lit("q"), idCol),
      concat(lit("r"), idCol), concat(lit("s"), idCol),
      concat(lit("t"), idCol), concat(lit("o"), idCol))
    def docs(from: Long, n: Long) = spark.range(from, from + n)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0,
            concat(doc(col("id")), lit(" "), lit(boiler)))
          .otherwise(doc(col("id"))).as("text"))
    val nCorpus = 100000L
    val batchN = 2000L
    val nFolds = 50
    val trigger = 16
    val store = s"$base/substr_store"
    DedupSuite.exactSubstrBuildStore(docs(0L, nCorpus), "doc_id", "text",
      8, store, nBuckets = 16, hashKeys = true).count()
    val out = s"$base/substr_out"
    val foldSec = (0 until nFolds).map { i =>
      val from = nCorpus + i * batchN
      val (_, t) = time {
        DedupSuite.exactSubstrFold(spark, store, out, docs(from, batchN),
          i.toLong, "doc_id", "text", 8, nBuckets = 16, hashKeys = true,
          autoVacuumTrigger = trigger)
      }
      val cut = spark.read.parquet(out)
        .filter(col("doc_id") >= from && col("n_removed") > 0).count()
      require(cut == batchN / 2,
        s"fold $i: exactly the boiler-carrying half must be cut, got $cut")
      t
    }
    val fileCounts = StoreCompaction.partitionFileCounts(spark, store)
    require(fileCounts.values.max <= trigger + 1,
      s"auto policy must keep buckets at/under the trigger: $fileCounts")
    val early = median(foldSec.slice(5, 20))
    val late = median(foldSec.takeRight(15))
    require(late <= 2.0 * early,
      f"substr fold cost must stay flat under auto maintenance: " +
        f"early median $early%.2f s, late median $late%.2f s")

    // unmaintained control: same folds, trigger disabled — file
    // growth is the failure mode the policy exists to prevent
    val ctrl = s"$base/substr_ctrl"
    DedupSuite.exactSubstrBuildStore(docs(0L, nCorpus), "doc_id", "text",
      8, ctrl, nBuckets = 16, hashKeys = true).count()
    val ctrlSec = (0 until nFolds).map { i =>
      val batch = docs(nCorpus + i * batchN, batchN)
      time {
        DedupSuite.exactSubstrFold(spark, ctrl, s"$base/ctrl_out", batch,
          i.toLong, "doc_id", "text", 8, nBuckets = 16, hashKeys = true,
          autoVacuumTrigger = 0)
      }._2
    }
    val ctrlFiles = StoreCompaction.partitionFileCounts(spark, ctrl)
    require(ctrlFiles.values.max >= nFolds,
      s"control must show unbounded delta growth: $ctrlFiles")

    // ---- Key store: bounded files, exact totals, 50 folds ----
    val kStore = s"$base/key_store"
    val kCorpus = spark.range(200000L)
      .select(concat(lit("k"), pmod(col("id"), lit(5000L))).as("k"))
    HeavyHitters.buildKeyStore(kCorpus, col("k"), kStore, 16)
    val (_, tKeyFolds) = time {
      (1 to 50).foreach { i =>
        val b = spark.range(20000L).select(
          concat(lit("k"), pmod(col("id") + i, lit(5000L))).as("k"))
        HeavyHitters.appendToKeyStore(b, col("k"), kStore, 16,
          autoVacuumTrigger = 8)
      }
    }
    val kFiles = StoreCompaction.partitionFileCounts(spark, kStore)
    require(kFiles.values.max <= 9,
      s"key-store auto policy must bound bucket files: $kFiles")
    val kServed = spark.read.parquet(kStore)
      .groupBy("k").agg(sum(col("cnt")).cast("bigint").as("cnt"))
      .agg(sum(col("cnt"))).head().getLong(0)
    require(kServed == 200000L + 50L * 20000L,
      s"auto-maintained key store must serve exact totals, got $kServed")

    // ---- Quantile flat store: bounded root files, 60 folds ----
    val qStore = s"$base/q_store"
    Quantiles.buildQuantileStore(
      spark.range(100000L).select(lit("g").as("g"),
        col("id").cast("double").as("v")), col("g"), col("v"), qStore)
    (1 to 60).foreach { i =>
      Quantiles.foldQuantileStore(spark, qStore,
        spark.range(1000L).select(lit("g").as("g"),
          (col("id") + i * 1000L).cast("double").as("v")),
        i.toLong, col("g"), col("v"), autoVacuumTrigger = 12)
    }
    val qFiles = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(qStore))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.count { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }
      } finally l.close()
    }
    require(qFiles <= 13,
      s"quantile-store auto policy must bound root files: $qFiles")
    val qTotal = spark.read.parquet(qStore)
      .agg(sum(col("cnt"))).head().getLong(0)
    require(qTotal == 100000L + 60L * 1000L,
      s"auto-maintained quantile store must keep exact counts, got $qTotal")

    println(
      s"""{"substr_folds":$nFolds,"substr_batch":$batchN,
         |"substr_fold_median_early":${f"$early%.3f"},
         |"substr_fold_median_late":${f"$late%.3f"},
         |"substr_files_max":${fileCounts.values.max},
         |"ctrl_files_max":${ctrlFiles.values.max},
         |"ctrl_fold_median_late":${f"${median(ctrlSec.takeRight(15))}%.3f"},
         |"key_folds":50,"key_files_max":${kFiles.values.max},
         |"key_folds_sec":${f"$tKeyFolds%.1f"},
         |"q_folds":60,"q_files":$qFiles}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
