package graft

import java.nio.file.{Files, Paths}

/** Dev tool for the optimization rounds: snapshot the FORMATTED
  * physical plan (`explain("formatted")` — operator list + details:
  * PushedFilters, ReadSchema, join strategy, Exchange placement) of
  * named queries into `plans/r<N>/<query>_<tag>.txt`, the
  * before/after evidence files the optimization deliverable asks for.
  * Streaming gates and store-fold gates execute eagerly inside their
  * query function; for those the snapshot is the plan of the RETURNED
  * frame (the gate's output side) — the eager phases are profiled with
  * QueryProfile instead.
  *
  * `sbt "dev/runMain graft.PlanSnap <tag> <q1,q2,...> [sfDir] [outDir]"`
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanSnap <tag> <q1,q2,..> [sfDir] [outDir]")
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 3) args(3) else "plans/r19"
    Files.createDirectories(Paths.get(outDir))
    val spark = Sessions.local(8)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        SparkEntry.benchOnlyQueries.toMap.apply(name))
      val df = fn(spark, dir)
      // same string explain("formatted") prints, captured instead
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(p, txt)
      println(s"wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
