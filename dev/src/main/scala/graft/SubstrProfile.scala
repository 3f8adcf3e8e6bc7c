package graft

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.operators.DedupSuite

/** Dev profiling harness for the d26 ExactSubstr fold economics
  * (judge r15 item 1): reproduces the IncrementalSoak d26 shape
  * (1M-doc corpus, 10k-doc batch) and prints PER-JOB wall times for
  * the fold vs the full recompute, so the fold's cost can be
  * attributed to corpus-proportional vs batch-proportional vs
  * fixed-latency jobs. `sbt "dev/runMain graft.SubstrProfile [nDocs]"`.
  */
object SubstrProfile {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val nSub = if (args.nonEmpty) args(0).toLong else 1000000L
    val base = "target/soak/substr_profile"
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties.getProperty("spark.job.description"))
            .orElse(Option(js.properties.getProperty("callSite.short")))
            .getOrElse("?")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.get(je.jobId)
        if (st != null) done.synchronized {
          done += ((je.jobId, (je.time - st._1) / 1e3, st._2))
        }
      }
    })
    def drainJobs(tag: String): Unit = {
      Thread.sleep(300) // let the listener bus drain
      done.synchronized {
        done.sortBy(_._1).foreach { case (id, sec, name) =>
          println(f"  [$tag] job $id%3d  $sec%7.3f s  $name")
        }
        done.clear()
      }
    }

    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    def subDoc(idCol: org.apache.spark.sql.Column) = concat_ws(" ",
      concat(lit("u"), idCol), concat(lit("v"), idCol),
      concat(lit("w"), idCol), concat(lit("x"), idCol),
      concat(lit("y"), idCol), concat(lit("z"), idCol),
      concat(lit("p"), idCol), concat(lit("q"), idCol),
      concat(lit("r"), idCol), concat(lit("s"), idCol),
      concat(lit("t"), idCol), concat(lit("o"), idCol))
    val subPath = s"$base/substr_docs.parquet"
    spark.range(nSub).select(col("id").as("doc_id"),
        when(col("id") % 50 === 0, concat(subDoc(col("id")), lit(" "), lit(boiler)))
          .otherwise(subDoc(col("id"))).as("text"))
      .repartition(32).write.mode("overwrite").parquet(subPath)
    val subDocs = spark.read.parquet(subPath)
    val subStore = s"$base/substr_store"
    val subNB = 64
    val (_, tBuild) = time {
      val o = DedupSuite.exactSubstrBuildStore(subDocs, "doc_id", "text",
        8, subStore, nBuckets = subNB, hashKeys = true).persist()
      o.count(); o.unpersist(); ()
    }
    println(f"build: $tBuild%.2f s")
    drainJobs("build")

    val subBatch = spark.range(10000L).select(
      (col("id") + nSub).as("doc_id"),
      when(col("id") % 2 === 0,
          concat(subDoc(col("id") + nSub), lit(" "), lit(boiler)))
        .otherwise(subDoc(col("id") + nSub)).as("text"))
      .localCheckpoint()
    drainJobs("batchprep")

    // the fold adds to its output dir: start it empty
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$base/substr_out"))
    val (subCut, tFold) = time {
      DedupSuite.exactSubstrFold(spark, subStore, s"$base/substr_out",
        subBatch, 1L, "doc_id", "text", 8, nBuckets = subNB, hashKeys = true)
      val f = spark.read.parquet(s"$base/substr_out")
      spark.sparkContext.setJobDescription("caller: cut count")
      val c = f.filter(col("n_removed") > 0).count()
      spark.sparkContext.setJobDescription(null)
      c
    }
    println(f"fold: $tFold%.2f s (cut=$subCut)")
    drainJobs("fold")

    val (_, tFull) = time {
      val f = DedupSuite.exactSubstrDedup(
        subDocs.unionByName(subBatch), "doc_id", "text", 8, hashKeys = true)
        .filter(col("doc_id") >= nSub && col("n_removed") > 0)
      require(f.count() == 5000L, "full recompute closed form")
    }
    println(f"recompute: $tFull%.2f s")
    drainJobs("full")

    println(s"""{"substr_docs":$nSub,"sec":{"build":$tBuild,"fold":$tFold,"full":$tFull}}""")
    spark.stop()
  }
}
