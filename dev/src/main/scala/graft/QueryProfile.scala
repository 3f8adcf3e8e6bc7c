package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiling harness for ANY gated query: runs the named query
  * once warm and prints PER-JOB wall times with their job
  * descriptions / call sites, so a gate's cost decomposes into named
  * phases and fixed-latency tax.
  * `sbt "dev/runMain graft.QueryProfile <query> [sfDir]"`. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <queryName> [sfDir]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val callSite =
          Option(js.properties.getProperty("spark.job.callSite.short"))
            .orElse(Option(js.properties.getProperty("callSite.short")))
            .getOrElse("?")
        val group =
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(callSite)
        jobs.put(js.jobId, (js.time, group))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.get(je.jobId)
        if (st != null) done.synchronized {
          done += ((je.jobId, (je.time - st._1) / 1e3, st._2))
        }
      }
    })
    def runOnce(tag: String): Double = {
      done.synchronized(done.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // listener bus drain
      val snap = done.synchronized(done.toList)
      println(f"== $name $tag: ${sec}%.2f s wall, ${snap.size} jobs, " +
        f"${snap.map(_._2).sum}%.2f s summed job time ==")
      snap.groupBy(_._3).toSeq
        .map { case (d, js) => (d, js.size, js.map(_._2).sum) }
        .sortBy(-_._3)
        .foreach { case (d, n, s) =>
          println(f"  ${s}%6.2f s  $n%3d jobs  $d")
        }
      if (sys.env.contains("QUERY_PROFILE_JOBS"))
        snap.sortBy(_._1).foreach { case (id, s, d) =>
          println(f"    job $id%4d  ${s}%6.3f s  $d")
        }
      sec
    }
    runOnce("warmup")
    runOnce("measured")
    spark.stop()
  }
}
