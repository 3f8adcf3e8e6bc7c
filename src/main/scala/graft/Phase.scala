package graft

import org.apache.spark.sql.SparkSession

/** A named phase of a run: the Spark jobs that `body` starts on this
  * thread (and on threads it starts) carry `name` as their job
  * description, which is what dev's QueryProfile files jobs by. The
  * caller's own description is restored after, so a phase nests
  * inside an outer gate-level label instead of clobbering it. */
object Phase {
  def apply[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(prev)
  }
}
